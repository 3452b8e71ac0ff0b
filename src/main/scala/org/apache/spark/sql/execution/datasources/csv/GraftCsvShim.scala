package org.apache.spark.sql.execution.datasources.csv

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FilePartition,
  HadoopFileLinesReader, HadoopFsRelation, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.SchemaUtils

/** The head of a CSV read, taken on the driver. A schema-less header read
  * `spark.read.option("header", "true").csv(path)` runs a Spark job to
  * find the header line, and looking at the first lines or rows of the
  * result (`limit(n).collect()`) runs one more each. A [[CsvHead]] reads
  * the same lines here instead: it lists the path as the read does, splits
  * the files as the scan does and reads the splits in the scan's order —
  * sorted by length, largest first, which is the order in which a
  * `limit(n)` job sees them — with the scan's own line reader, tokenizer,
  * header rules and row parser. The reader classes are internal to
  * Spark's file sources, hence this package.
  * Same package technique as `GraftParquetShim`.
  */
object GraftCsvShim {

  /** The head of a read of `path`. None when the path does not exist, is
    * a glob, or is a streaming sink's output (the read then uses the sink's
    * metadata log), and when it has partition directories; the caller then
    * reads the path with Spark itself. Listing errors propagate.
    */
  def head(spark: SparkSession, path: String): Option[CsvHead] = {
    val p = new Path(path)
    if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) None
    else GraftParquetShim.readListing(spark, Seq(path)).collect {
      case (index, pathOption) if index.partitionSchema.isEmpty => new CsvHead(spark, index, pathOption)
    }
  }

  final class CsvHead private[GraftCsvShim] (spark: SparkSession, index: InMemoryFileIndex,
      pathOption: Map[String, String]) {
    private val conf = spark.sessionState.newHadoopConf()

    /** The scan's splits in the order its partitions read them. */
    private val splits: Seq[PartitionedFile] = {
      val partitions = index.listFiles(Nil, Nil)
      val maxSplitBytes = FilePartition.maxSplitBytes(spark, partitions)
      val format = new CSVFileFormat
      partitions.flatMap { p =>
        p.files.flatMap { f =>
          PartitionedFileUtil.splitFiles(f, f.getPath,
            format.isSplitable(spark, pathOption, f.getPath), maxSplitBytes, p.values)
        }
      }.sortBy(_.length)(Ordering[Long].reverse)
    }

    /** Up to `n` of the first lines, filtered by `keep` per split, with
      * the scan's line reader (split bounds, compression, CR/LF/CRLF).
      */
    private def firstLines[T](n: Int, lineSep: Option[Array[Byte]])(
        keep: (PartitionedFile, Iterator[String]) => Iterator[T]): Seq[T] = {
      val out = ArrayBuffer.empty[T]
      val it = splits.iterator
      while (out.size < n && it.hasNext) {
        val split = it.next()
        val reader = new HadoopFileLinesReader(split, lineSep, conf)
        try out ++= keep(split, reader.map(t =>
          new String(t.getBytes, 0, t.getLength, StandardCharsets.UTF_8))).take(n - out.size)
        finally reader.close()
      }
      out.toSeq
    }

    /** The first `n` lines `spark.read.textFile(path).limit(n)` returns. */
    def lines(n: Int): Seq[String] = firstLines(n, None)((_, ls) => ls)

    /** The frame `spark.read.options(readerOptions).csv(path)` builds
      * with a header, built over this listing with the schema its
      * inference declares (every column a string, named by the first
      * non-blank line through `CSVUtils.makeSafeHeader`; the inference
      * job is skipped, which needs `inferSchema` off), and the first
      * `n` rows it returns, as strings (null for NULL). Line-based reads
      * only (`multiLine` off). None when there is no header line.
      */
    def frame(readerOptions: Map[String, String],
        n: Int): Option[(DataFrame, Seq[IndexedSeq[String]])] = {
      val sql = spark.sessionState.conf
      val options = readerOptions ++ pathOption
      val csv = new CSVOptions(CaseInsensitiveMap(options), sql.csvColumnPruning,
        sql.sessionLocalTimeZone, sql.columnNameOfCorruptRecord)
      // the header is the first line inference's text scan keeps: its
      // filter trims with SQL `trim` (spaces only), where the row scan's
      // filter trims all whitespace
      firstLines(1, None)((_, ls) => ls.filter(l => l.exists(_ != ' ') &&
        !(csv.isCommentSet && l.startsWith(csv.comment.toString)))).headOption
        .flatMap(line => Option(new CsvParser(csv.asParserSettings).parseLine(line)))
        .map { tokens =>
          val schema = StructType(CSVUtils.makeSafeHeader(tokens, sql.caseSensitiveAnalysis, csv)
            .map(StructField(_, StringType)))
          val relation = HadoopFsRelation(index, index.partitionSchema, schema, None,
            new CSVFileFormat, options)(spark)
          SchemaUtils.checkSchemaColumnNameDuplication(relation.dataSchema, sql.resolver)
          DataSourceUtils.verifySchema(relation.fileFormat, relation.dataSchema, false)
          val parser = new UnivocityParser(schema, schema, csv)
          val rows = firstLines(n, csv.lineSeparatorInRead) { (split, ls) =>
            val header = new CSVHeaderChecker(schema, csv, s"CSV file: ${split.urlEncodedPath}",
              isStartOfFile = split.start == 0)
            UnivocityParser.parseIterator(ls, parser, header, schema).map(r =>
              schema.indices.map(i => if (r.isNullAt(i)) null else r.getUTF8String(i).toString))
          }
          (spark.baseRelationToDataFrame(relation), rows)
        }
    }
  }
}
