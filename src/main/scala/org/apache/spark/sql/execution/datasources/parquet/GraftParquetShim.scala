package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils

/** Spark's parquet schema inference, run on the driver. A schema-less
  * `spark.read.parquet` lists its paths, picks one file, and reads that
  * file's footer inside a one-task Spark job. [[inferenceFooter]] lists
  * the paths the way the read does, picks the same file by the same rules,
  * reads its footer here and converts it exactly as the inference job
  * does; [[declaredFrame]] builds the read's frame over that same listing,
  * so the paths are listed once. The footer helpers are `private[parquet]`
  * to Spark, hence this package.
  * Same package technique as `org.apache.spark.sql.graftshim.GraftSqlShim`.
  */
object GraftParquetShim {

  /** What inference reads for one set of paths: the listing (and the
    * reader options it was built with), the footer picked from it, and the
    * Spark schema inference derives from it.
    */
  final case class InferenceFooter(index: InMemoryFileIndex, options: Map[String, String],
      footer: ParquetMetadata, schema: StructType)

  /** The footer Spark's inference reads for `paths` when it does not
    * merge schemas, with its Spark schema and the listing it came from.
    * The listing is the index a read builds (`InMemoryFileIndex` over the
    * qualified paths, through the session's file-status cache): hidden
    * `_`/`.` names are excluded, partition directories are walked, and a
    * listing wide enough for Spark to distribute is distributed. Of its
    * files, sorted by path, the pick is `_common_metadata`, then
    * `_metadata`, then the first data file — `ParquetUtils.splitFiles`'s
    * rule.
    *
    * None when there is no candidate, a path is a glob, or the path is a
    * streaming sink's output (the read then uses the sink's metadata log,
    * not a listing); listing, footer and conversion errors propagate.
    */
  def inferenceFooter(spark: SparkSession,
      paths: Seq[String]): Option[InferenceFooter] = readListing(spark, paths).flatMap {
    case (index, options) =>
      val conf = spark.sessionState.newHadoopConf()
      val leaves = index.allFiles().sortBy(_.getPath.toString)
      def named(name: String): Option[FileStatus] = leaves.find(_.getPath.getName == name)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(leaves.find { f =>
          val n = f.getPath.getName
          n != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
            n != ParquetFileWriter.PARQUET_METADATA_FILE
        })
        .map { f =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          InferenceFooter(index, options, footer, footerSchema(spark, footer))
        }
  }

  /** The listing a file-source read of `paths` builds, with the `path`
    * option the reader adds for a single path: an `InMemoryFileIndex`
    * over the qualified paths, through the session's file-status cache.
    * None when a path is a glob, or the path is a streaming sink's output
    * (the read then uses the sink's metadata log, not a listing).
    */
  def readListing(spark: SparkSession,
      paths: Seq[String]): Option[(InMemoryFileIndex, Map[String, String])] = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map(new Path(_))
    if (roots.exists(SparkHadoopUtil.get.isGlobPath) ||
        FileStreamSink.hasMetadata(paths, conf, spark.sessionState.conf)) None
    else {
      val options = if (paths.size == 1) Map("path" -> paths.head) else Map.empty[String, String]
      Some((new InMemoryFileIndex(spark,
        roots.map(p => p.getFileSystem(conf).makeQualified(p)), options, None,
        FileStatusCache.getOrCreate(spark)), options))
    }
  }

  /** The frame `spark.read.schema(f.schema).parquet(paths)` builds — the
    * relation `DataSource.resolveRelation` makes, with its schema checks —
    * over `f`'s listing instead of a second one. None where that frame
    * differs from the schema-less read's: when the session merges schemas,
    * and when a footer column shares its name with a partition column (a
    * declared schema types such a column, inference types it from the
    * directory names). Schema check errors propagate.
    */
  def declaredFrame(spark: SparkSession, f: InferenceFooter): Option[DataFrame] = {
    val sql = spark.sessionState.conf
    val partitionSchema = f.index.partitionSchema
    if (sql.isParquetSchemaMergingEnabled ||
        f.schema.exists(d => partitionSchema.exists(p => sql.resolver(d.name, p.name))))
      return None
    val relation = HadoopFsRelation(f.index, partitionSchema, f.schema.asNullable,
      None, new ParquetFileFormat, f.options)(spark)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, sql.resolver)
    SchemaUtils.checkSchemaColumnNameDuplication(relation.partitionSchema, sql.resolver)
    DataSourceUtils.verifySchema(relation.fileFormat, relation.dataSchema, false)
    Some(spark.baseRelationToDataFrame(relation))
  }

  /** The Spark schema of a footer, through the converter schema
    * inference builds from the session conf (`mergeSchemasInParallel`):
    * field-id and case-sensitivity settings stay at their defaults there,
    * so they do here. A footer carrying Spark's own schema string yields
    * that schema, field metadata included.
    */
  private def footerSchema(spark: SparkSession, footer: ParquetMetadata): StructType = {
    val sql = spark.sessionState.conf
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(null, footer),
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = sql.isParquetBinaryAsString,
        assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
        inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
        nanosAsLong = sql.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation))
  }
}
