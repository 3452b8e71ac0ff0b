package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.sources.{DeltaLog, Loaders, Writers}

/** The independent formulation an op's output is checked against: DuckDB
  * SQL over the input tables, or the DuckDB model of the Delta table after
  * `at` commits, read at `version` (time travel) with `predicate`.
  */
sealed trait Oracle
final case class SqlOracle(sql: String) extends Oracle
final case class DeltaOracle(at: Long, version: Option[Long], predicate: Option[String]) extends Oracle
case object NoOracle extends Oracle

/** One call the benchmark times. A read yields a frame, which the runner
  * forces by digesting it inside the timed interval; `snapshotFiles`
  * counts, untimed and only when tracing, the files a Delta read could
  * have scanned. A write runs `body`; `outcome` then digests, untimed,
  * what it left behind, and `published` is the frame it wrote, read back
  * for the correctness check.
  */
sealed trait Op { def id: String; def kind: String; def layer: String }
final case class Read(id: String, kind: String, layer: String,
    frame: () => DataFrame, oracle: Oracle,
    snapshotFiles: Option[() => Long] = None) extends Op
final case class Write(id: String, kind: String, layer: String,
    body: () => Any, outcome: () => String,
    published: Option[(() => DataFrame, Oracle)] = None) extends Op
/** A read whose result is metadata, not a frame: `body` returns its digest. */
final case class Probe(id: String, kind: String, layer: String, body: () => String) extends Op

/** What a pass left on disk. Nothing is deleted within a pass, so `bytes`
  * is both the bytes written and the bytes on disk; `live` counts the files
  * the result consists of.
  */
final case class Storage(bytes: Long, live: Long, liveFiles: Long,
    filesWritten: Long, logFiles: Long, logBytes: Long)

/** A workload: the fixed op sequence of one pass over inputs that
  * `perfbench/gen.py` wrote from the seed.
  */
trait Workload {
  /** Loads what every pass shares, once, before the first pass. */
  def prepare(spark: SparkSession, in: String): Unit = ()
  /** The op sequence of one pass, writing under `out`. */
  def ops(spark: SparkSession, in: String, out: String): Seq[Op]
  /** Bytes of the rows one pass writes, as one plain parquet file. */
  def userBytes(spark: SparkSession, in: String): Long
  def storage(spark: SparkSession, out: String): Storage
  /** Whether the ops of a pass may run in any order (and at once). */
  def independentOps: Boolean
}

object Workload {
  val names = Seq("dsl_tpch", "delta_ingest")

  def apply(name: String): Workload = name match {
    case "dsl_tpch" => new DslTpch
    case "delta_ingest" => new DeltaIngest
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def files(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists) Nil
    else if (d.isFile) Seq(d)
    else Option(d.listFiles).toSeq.flatten.flatMap(f => files(f.getPath))
  }
  def bytes(dir: String): Long = files(dir).map(_.length).sum
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
  def dataFiles(dir: String): Seq[File] =
    files(dir).filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_delta_log"))

  /** Storage of a plain parquet publish directory. */
  def parquetStorage(dir: String): Storage = {
    val data = dataFiles(dir)
    Storage(bytes(dir), data.map(_.length).sum, data.size, data.size, 0, 0)
  }

  /** `df` written once as a single plain parquet file: its size is the
    * user-data base of `write_amp`.
    */
  def plainBytes(df: DataFrame, dir: String): Long = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dataFiles(dir).map(_.length).sum
  }

  def sqlOracle(q: String): Oracle = SparkEntry.oracleSql.get(q).map(SqlOracle(_)).getOrElse(NoOracle)
}

/** Star schema through the DSL: `SparkEntry` relational shapes, one
  * smart-cast CSV load and one partitioned parquet publish, plus one
  * `graft.operators` call (k-means over the embeddings).
  */
final class DslTpch extends Workload {
  val independentOps = true
  val queries = Seq("q_join_3way", "q_join_semi", "q_window_rank", "q_string_fns",
    "q_multistage")
  val operators = Seq("q_kmeans")

  private def publishFrame(spark: SparkSession, in: String): DataFrame =
    Loaders.loadParquet(spark, s"$in/lineitem.parquet", "lineitem")
      .join(Loaders.loadParquet(spark, s"$in/orders.parquet", "orders"),
        "lineitem.l_orderkey = orders.o_orderkey", "INNER")
      .select("lineitem.l_orderkey", "lineitem.l_linenumber", "lineitem.l_quantity",
        "lineitem.l_extendedprice", "orders.o_custkey", "orders.o_orderpriority")
      .toDF

  def userBytes(spark: SparkSession, in: String): Long =
    Workload.plainBytes(publishFrame(spark, in), s"$in/publish_plain")

  def ops(spark: SparkSession, in: String, out: String): Seq[Op] = {
    val qs = SparkEntry.queries
    queries.map(q => Read(q, q, "frame", () => qs(q)(spark, in), Workload.sqlOracle(q))) ++
    operators.map(q => Read(q, q, "operators", () => qs(q)(spark, in), Workload.sqlOracle(q))) ++ Seq(
      Read("load_csv", "load_csv", "sources",
        () => Loaders.loadCsv(spark, s"$in/orders_csv", "orders_csv").toDF,
        SqlOracle("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
          "CAST(o_custkey % 100 AS DOUBLE) / 100.0 AS o_share, " +
          "o_orderpriority = '1-URGENT' AS o_urgent FROM orders")),
      Write("publish", "publish", "sources",
        () => Writers.writeParquetDir(publishFrame(spark, in), "overwrite",
          s"$out/publish", Seq("o_orderpriority")),
        () => Digest.of(spark.read.parquet(s"$out/publish"))._2,
        Some((() => spark.read.parquet(s"$out/publish"),
          SqlOracle("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, " +
            "o_custkey, o_orderpriority FROM lineitem JOIN orders ON l_orderkey = o_orderkey")))))
  }

  def storage(spark: SparkSession, out: String): Storage = Workload.parquetStorage(s"$out/publish")
}

/** One Delta table built from empty by the commit sequence of
  * `plan.json` (see `delta_plan` in `perfbench/gen.py`), with reads
  * between the commits. Each commit ingests its batch from a parquet file.
  */
final class DeltaIngest extends Workload {
  val independentOps = false
  val optimizeTargetBytes: Long = 4L * 1024 * 1024

  private var steps: Seq[java.util.Map[String, Any]] = Nil

  override def prepare(spark: SparkSession, in: String): Unit = {
    val plan = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(new File(s"$in/plan.json"), classOf[java.util.List[java.util.Map[String, Any]]])
    steps = plan.asScala.toSeq
  }

  private def batch(spark: SparkSession, in: String, s: java.util.Map[String, Any]): DataFrame =
    spark.read.parquet(s"$in/${s.get("batch")}")

  def userBytes(spark: SparkSession, in: String): Long =
    Workload.plainBytes(steps.filter(_.containsKey("batch")).map(batch(spark, in, _))
      .reduce(_ unionByName _), s"$in/user_plain")

  private def layout(table: String): String = {
    val data = Workload.dataFiles(table).size
    val log = Option(new File(s"$table/_delta_log").list).map(_.count(_.endsWith(".json"))).getOrElse(0)
    s"$data:$log"
  }

  def ops(spark: SparkSession, in: String, out: String): Seq[Op] = {
    val t = s"$out/table"
    def opt(s: java.util.Map[String, Any], k: String): Option[String] = Option(s.get(k)).map(_.toString)
    steps.map { s =>
      val kind = s.get("kind").toString
      s.get("op") match {
        case "append" =>
          Write(s"v${s.get("version")}", kind, "delta",
            () => DeltaLog.write(batch(spark, in, s), "append", t), () => layout(t))
        case "upsert" =>
          Write(s"v${s.get("version")}", kind, "delta",
            () => DeltaLog.upsert(batch(spark, in, s), Seq(s.get("key").toString), t),
            () => layout(t))
        case "delete" =>
          Write(s"v${s.get("version")}", kind, "delta",
            () => DeltaLog.deleteWhere(spark, t, s.get("predicate").toString), () => layout(t))
        case "optimize" =>
          Write(s"v${s.get("version")}", kind, "delta",
            () => DeltaLog.optimize(spark, t, targetBytes = optimizeTargetBytes), () => layout(t))
        case "snapshot" =>
          Probe(s"snapshot@v${s.get("at")}", kind, "delta",
            () => DeltaLog.activeFiles(spark, t).size.toString)
        case "read" =>
          val version = opt(s, "version").map(_.toLong)
          val predicate = opt(s, "predicate")
          Read(s"$kind@v${s.get("at")}", kind, "delta",
            () => predicate match {
              case Some(p) => DeltaLog.readWhere(spark, t, p, versionAsOf = version)
              case None => DeltaLog.read(spark, t, versionAsOf = version)
            },
            DeltaOracle(s.get("at").toString.toLong, version, predicate),
            Some(() => DeltaLog.activeFilesAsOf(spark, t, version).size.toLong))
      }
    }
  }

  def storage(spark: SparkSession, out: String): Storage = {
    val t = s"$out/table"
    val live = DeltaLog.activeFiles(spark, t)
      .map(p => new File(new org.apache.hadoop.fs.Path(p).toUri.getPath))
    val log = s"$t/_delta_log"
    Storage(Workload.bytes(t), live.map(_.length).sum, live.size, Workload.dataFiles(t).size,
      Option(new File(log).list).map(_.length.toLong).getOrElse(0L), Workload.bytes(log))
  }
}
