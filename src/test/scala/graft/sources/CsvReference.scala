package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The smart-cast load as the reference formulates it, kept as the parity
  * reference for [[CsvSmartCaster]]: one CASE WHEN/regex/CAST chain per
  * column class, with `try_cast` where the chain casts (the reference
  * yields NULL for a value its regex rejects), and the head read by Spark
  * jobs — the first 10 lines, the header inference and the first 100 rows.
  */
object CsvReference {
  import CsvSmartCaster._

  private def nullGuard(c: Column): Column =
    c.isNull || trim(c).isin(NullSentinels.toSeq: _*)

  def castExpr(c: Column, cls: VClass): Column = cls match {
    case VInteger =>
      when(nullGuard(c), lit(null).cast(LongType))
        .otherwise(trim(c).try_cast(LongType))
    case VFloat =>
      val t = trim(regexp_replace(trim(c), """[$€£¥₹\s]""", ""))
      val isPct = t.endsWith(lit("%"))
      val noPct = regexp_replace(t, "%$", "")
      val isEu = noPct.rlike("""^[+-]?(\d{1,3}(\.\d{3})+(,\d+)|\d+,\d+)$""")
      val normalized = when(isEu,
        regexp_replace(regexp_replace(noPct, """\.""", ""), ",", "."))
        .otherwise(regexp_replace(noPct, ",", ""))
      val asNum = normalized.try_cast(DoubleType)
      when(nullGuard(c), lit(null).cast(DoubleType))
        .otherwise(when(isPct, asNum / 100.0).otherwise(asNum))
    case VBoolean =>
      when(nullGuard(c), lit(null).cast(BooleanType))
        .otherwise(lower(trim(c)).isin("true", "yes", "da"))
    case VDate | VString =>
      when(nullGuard(c), lit(null).cast(StringType)).otherwise(c)
    case VNull => lit(null).cast(StringType)
  }

  def load(spark: SparkSession, path: String): DataFrame = {
    val headLines = spark.read.textFile(path).limit(10).collect().toSeq
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .option("sep", detectDelimiter(headLines))
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(path)
    val normNames = graft.normalize.Normalize.sanitizeHeaders(raw.columns.toSeq)
    val named = raw.toDF(normNames: _*)
    val sample = named.limit(100).collect()
    val classes = normNames.zipWithIndex.map { case (n, i) =>
      n -> vote(sample.toSeq.flatMap(r => Option(r.getString(i))))
    }.toMap
    named.select(normNames.map(n => castExpr(col(n), classes(n)).as(n)): _*)
  }
}
