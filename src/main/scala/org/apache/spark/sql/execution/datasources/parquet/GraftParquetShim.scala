package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge into `ParquetFileFormat`'s `private[parquet]` footer helpers —
  * the footer read and footer-to-schema conversion Spark's parquet schema
  * inference runs inside a job, here called on the driver. Same package
  * technique as `org.apache.spark.sql.graftshim.GraftSqlShim`.
  */
object GraftParquetShim {
  /** Spark schema of one parquet file, from its footer. */
  def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        spark.sparkContext.hadoopConfiguration, Seq(file),
        ignoreCorruptFiles = false),
      spark)
}
