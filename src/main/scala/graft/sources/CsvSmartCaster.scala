package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.csv.GraftCsvShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.types._
import graft.plans.SmartCast

/** The reference's flagship CSV loader re-expressed Spark-side
  * (reference: src/features/csv.rs — delimiter detection 41-90, sampling
  * 168-205, value classification 319-447, majority vote 340-391, cast
  * projection 755-823; SURVEY §1.2).
  *
  * Pipeline: detect the delimiter on the first 10 lines → read every
  * column as a string → sample the first 100 rows → per-column majority
  * vote (>80 % over ≤50 non-null samples) into {Integer, Float, Boolean,
  * Date, String} → one [[graft.plans.SmartCast]] per column, a codegen'd
  * kernel that casts each value in one pass (no regex, no UDF). The head
  * lines and sample rows are read on the driver by
  * `GraftCsvShim.CsvHead`, in the scan's order and no further than the
  * sample needs, so building the frame starts no Spark job; the reference
  * collects the whole file to sample, an anti-optimization SURVEY §4.1
  * flags.
  */
object CsvSmartCaster {

  sealed trait VClass
  case object VInteger extends VClass
  case object VFloat extends VClass
  case object VBoolean extends VClass
  case object VDate extends VClass
  case object VString extends VClass
  case object VNull extends VClass

  /** Null sentinels (csv.rs:35-37). */
  val NullSentinels: Set[String] = Set("", "NULL", "null", "N/A", "n/a", "-")

  private val IntRe = """^[+-]?\d+$""".r
  // US 1,234.56 / EU 1.234,56 / plain 12.34 or 12,34 / currency / percent
  private val FloatRe =
    ("""^[+-]?[$€£¥₹]?\s?(""" +
      """\d{1,3}(,\d{3})+(\.\d+)?""" + "|" + // US thousands
      """\d{1,3}(\.\d{3})+(,\d+)""" + "|" +  // EU thousands (decimal comma
                                             // REQUIRED — '999.999.999' is
                                             // String, csv.rs:868-917)
      """\d+[.,]\d+""" + "|" +               // plain decimal (either mark)
      """\d+""" +                            // int-with-symbol
      """)%?$""").r
  private val BoolRe = """^(?i)(true|false|yes|no|da|ne)$""".r
  private val DateRes = Seq(
    """^\d{4}-\d{2}-\d{2}$""".r,           // ISO
    """^\d{1,2}\.\d{1,2}\.\d{4}\.?$""".r,  // EU dotted
    """^\d{1,2}/\d{1,2}/\d{4}$""".r,       // US slash
    """^\d{1,2}:\d{2}(:\d{2})?$""".r)      // time

  /** Classify one raw string value (csv.rs:319-447). */
  def classify(v: String): VClass = {
    val t = v.trim
    if (NullSentinels.contains(t)) VNull
    else if (BoolRe.matches(t)) VBoolean
    else if (IntRe.matches(t)) VInteger
    else if (DateRes.exists(_.matches(t))) VDate
    else if (FloatRe.matches(t) && t.exists(c => c == '.' || c == ',' || c == '%' || "$€£¥₹".contains(c)))
      VFloat
    else VString
  }

  /** >80 % majority over ≤50 non-null samples → column class
    * (csv.rs:340-391); defaults to String.
    */
  def vote(samples: Seq[String]): VClass = {
    val classes = samples.iterator.map(classify).filter(_ != VNull).take(50).toSeq
    if (classes.isEmpty) VString
    else {
      val (winner, n) = classes.groupBy(identity).view.mapValues(_.size).maxBy(_._2)
      // Integer values inside a float column are fine: merge if mixed int/float
      val effective =
        if (winner == VInteger && classes.contains(VFloat)) VFloat
        else if (winner == VFloat && classes.forall(c => c == VFloat || c == VInteger)) VFloat
        else winner
      val nEff =
        if (effective == VFloat) classes.count(c => c == VFloat || c == VInteger)
        else n
      if (nEff.toDouble / classes.size > 0.8) effective else VString
    }
  }

  /** Delimiter auto-detect over `,;\t|` by count-consistency on 10 lines
    * (csv.rs:41-90).
    */
  def detectDelimiter(lines: Seq[String]): String = {
    val candidates = Seq(",", ";", "\t", "|")
    val scored = candidates.map { d =>
      val counts = lines.filter(_.nonEmpty).map(_.count(_ == d.charAt(0)))
      val consistent = counts.nonEmpty && counts.distinct.size == 1 && counts.head > 0
      (d, if (consistent) counts.head else 0)
    }
    val best = scored.maxBy(_._2)
    if (best._2 > 0) best._1 else ","
  }

  /** The smart-cast expression per column class
    * (create_casting_expression, csv.rs:755-823): Integer→BIGINT,
    * Float→DOUBLE (currency and whitespace stripped, % → /100, EU
    * separators fixed), Boolean→BOOLEAN (true/yes/da → true), Date stays
    * STRING (csv.rs:818-821). Null sentinels, and values the class's cast
    * rejects, become NULL, as the reference's CASE WHEN regex THEN CAST
    * does. See [[graft.plans.NativeOps.smartDouble]] for the exact rules.
    */
  def castExpr(c: Column, cls: VClass): Column = cls match {
    case VNull => lit(null).cast(StringType)
    case _ => GraftSqlShim.column(SmartCast(GraftSqlShim.expression(c), cls))
  }

  private val SampleRows = 100

  /** Full smart load (csv.rs:41-317 composed). */
  def load(spark: SparkSession, path: String): DataFrame = {
    def options(delim: String) = Map("header" -> "true", "inferSchema" -> "false",
      "sep" -> delim, "quote" -> "\"", "escape" -> "\"")
    val probed =
      try GraftCsvShim.head(spark, path).flatMap(h =>
        h.frame(options(detectDelimiter(h.lines(10))), SampleRows))
      catch { case NonFatal(e) =>
        System.err.println(s"[graft] WARN csv head probe failed for $path: ${e.getMessage}")
        None
      }
    // a missing path, a glob, a streaming sink's output, partition
    // directories, no header line: Spark's own jobs read the head
    val (raw, sample) = probed.getOrElse {
      val headLines = spark.read.textFile(path).limit(10).collect().toSeq
      val df = spark.read.options(options(detectDelimiter(headLines))).csv(path)
      (df, df.limit(SampleRows).collect().toSeq.map(r => (0 until r.length).map(r.getString)))
    }
    val normNames = graft.normalize.Normalize.sanitizeHeaders(raw.columns.toSeq)
    val classes = normNames.indices.map(i => vote(sample.flatMap(r => Option(r(i)))))
    raw.toDF(normNames: _*).select(normNames.zip(classes).map { case (n, cls) =>
      castExpr(col(n), cls).as(n)
    }: _*)
  }
}
