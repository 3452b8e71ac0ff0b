package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Counts the characters of every SQL statement the session parses: the
  * text `GraftFrame` builds and hands to Spark (`frame.sql_chars`).
  */
final class CountingParser(delegate: ParserInterface) extends ParserInterface {
  private def count(sql: String): Unit = CountingParser.chars.addAndGet(sql.length)
  override def parsePlan(sqlText: String): LogicalPlan = {
    count(sqlText); delegate.parsePlan(sqlText)
  }
  override def parsePlanWithParameters(sqlText: String,
      p: ParameterContext): LogicalPlan = {
    count(sqlText); delegate.parsePlanWithParameters(sqlText, p)
  }
  override def parseQuery(sqlText: String): LogicalPlan = {
    count(sqlText); delegate.parseQuery(sqlText)
  }
  override def parseExpression(s: String): Expression = delegate.parseExpression(s)
  override def parseTableIdentifier(s: String): TableIdentifier =
    delegate.parseTableIdentifier(s)
  override def parseFunctionIdentifier(s: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(s)
  override def parseMultipartIdentifier(s: String): Seq[String] =
    delegate.parseMultipartIdentifier(s)
  override def parseRoutineParam(s: String): StructType = delegate.parseRoutineParam(s)
  override def parseTableSchema(s: String): StructType = delegate.parseTableSchema(s)
  override def parseDataType(s: String): DataType = delegate.parseDataType(s)
}

object CountingParser {
  val chars = new AtomicLong(0)
}

object Session {
  /** One local session per run: `cpus` slots in one process, shuffle
    * partitions = slots, adaptive execution on, UTC; every scratch
    * directory inside the run directory.
    */
  def create(runDir: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$runDir/hadoop-tmp")
      // a pass cycles through more generated-code shapes than the default
      // 100-entry cache holds; at the default every pass recompiled them
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .withExtensions(_.injectParser((_, d) => new CountingParser(d)))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
