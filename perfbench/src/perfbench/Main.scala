package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload in a fresh session over the inputs in `--inputs`
  * and writes what it measured to `<run-dir>/raw.json` (and the traced
  * spans to `spans.json`). The arithmetic over these samples, the oracle
  * check and the printed result are in `perfbench/run.py`.
  *
  * A run is: session start; the warm-up (a check pass whose digests every
  * later pass must reproduce, and one more untimed pass); then a fixed
  * number of timed passes. With tracing, untraced and traced timed passes
  * alternate, so the overhead is measured inside one process.
  */
object Main {
  final case class Args(workload: String, seconds: Int, trace: Boolean,
      inputs: String, runDir: String, cpus: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toInt, m("trace") == "1", m("inputs"),
      m("run-dir"), m.getOrElse("cpus", "4").toInt)
  }

  private def nanos: Long = System.nanoTime()

  /** Timed passes per run: fixed by `--seconds`, never by how long
    * anything took.
    */
  def timedPasses(seconds: Int): Int = math.max(2, seconds / 5)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.workload == "train") return train(a)
    val processStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Counters.loadavg1
    val spark = Session.create(a.runDir, a.cpus)
    val wl = Workload(a.workload)
    val in = a.inputs
    wl.prepare(spark, in)

    val runner = new Runner(spark, a.runDir, a.cpus)
    val warmT = nanos
    runner.warmUp(wl, in)
    val warmS = (nanos - warmT) / 1e9

    val timed = timedPasses(a.seconds)
    val firstTimedMs = System.currentTimeMillis()
    val (gc0, jit0, cpu0, cg0, steal0) =
      (Counters.gcMs, Counters.jitMs, Counters.cpuNs, Counters.codegenCompiles, Counters.stealMs)
    // traced runs: untraced and traced passes in ABBA order, so a trend
    // over the run weighs on both sides alike
    val plan = if (a.trace) (0 until 2 * timed).map(i => i % 4 == 1 || i % 4 == 2)
      else Seq.fill(timed)(false)
    plan.zipWithIndex.foreach { case (traced, i) =>
      runner.pass(wl, in, s"p$i", traced)
    }
    val jvm = Map(
      "gc_ms" -> (Counters.gcMs - gc0), "jit_ms" -> (Counters.jitMs - jit0),
      "cpu_s" -> (Counters.cpuNs - cpu0) / 1e9,
      "codegen_compiles" -> (Counters.codegenCompiles - cg0))
    val stealMs = Counters.stealMs - steal0
    val heapMb = Counters.heapUsedMb
    // after the measurements: the user-data base of write_amp
    val userBytes = wl.userBytes(spark, in)

    val raw = Map(
      "workload" -> a.workload, "trace" -> a.trace, "cpus" -> a.cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "user_bytes" -> userBytes,
      "setup" -> Map("process_start_ms" -> processStartMs, "first_timed_ms" -> firstTimedMs,
        "warm_up_s" -> warmS),
      "timed_passes" -> timed,
      "passes" -> runner.passes.toSeq, "ops" -> runner.opRecords.toSeq,
      "checks" -> runner.checks.toSeq, "warm_failures" -> runner.warmFailures.toSeq,
      "retained_heap_mb" -> heapMb, "jvm" -> jvm,
      "host" -> Map("steal_ms" -> stealMs, "loadavg_start" -> loadStart))
    Files.writeString(Paths.get(s"${a.runDir}/raw.json"), Json(raw))
    Files.writeString(Paths.get(s"${a.runDir}/spans.json"), Json(runner.tracer.spans.toSeq.map(s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    spark.stop()
  }

  /** The warm-up of every workload over small inputs in
    * `<inputs>/<workload>`: the build runs this once to record which
    * classes a run loads (the JVM's class-data-sharing archive).
    */
  private def train(a: Args): Unit = {
    val spark = Session.create(a.runDir, a.cpus)
    Workload.names.foreach { w =>
      val wl = Workload(w)
      wl.prepare(spark, s"${a.inputs}/$w")
      new Runner(spark, s"${a.runDir}/$w", a.cpus).warmUp(wl, s"${a.inputs}/$w")
    }
    spark.stop()
  }
}

/** Runs passes and keeps one record per op and per pass. */
final class Runner(spark: SparkSession, runDir: String, cpus: Int) {
  val tracer = new Tracer(spark)
  val passes = ArrayBuffer.empty[Map[String, Any]]
  val opRecords = ArrayBuffer.empty[Map[String, Any]]
  val checks = ArrayBuffer.empty[Map[String, Any]]
  /** Digest of every op id in the check pass. */
  private val expected = scala.collection.mutable.Map.empty[String, String]
  private val sc = spark.sparkContext

  private def oracleJson(o: Oracle): Any = o match {
    case SqlOracle(sql) => Map("sql" -> sql)
    case DeltaOracle(at, v, p) => Map("delta" -> Map("at" -> at, "version" -> v, "predicate" -> p))
    case NoOracle => null
  }

  private def describe(e: Exception): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)

  /** A write's digest: what `body` returned, then (untimed) what it left
    * behind.
    */
  private def writeDigest(w: Write, result: Any): String = s"$result|${w.outcome()}"

  /** The warm-up, untimed, at the measured input size: the check pass and
    * one more pass. In the check pass every op's digest becomes the one
    * every later pass must reproduce, and its output (a publish read back)
    * is saved as parquet for the DuckDB oracle. Independent ops run `cpus`
    * at a time; a workload whose ops must run in order runs its second
    * pass beside the check pass, on its own output.
    */
  def warmUp(wl: Workload, in: String): Unit = {
    val checkOps = wl.ops(spark, in, s"$runDir/out/check")
    val warmOps = wl.ops(spark, in, s"$runDir/out/warm")
    def check() = runAll(wl, checkOps)(op =>
      untimed(op, Some(s"$runDir/check/${op.id.replaceAll("[^A-Za-z0-9_.@-]", "_")}")))
    def warm() = runAll(wl, warmOps)(untimed(_, None)._1)
    val (checked, warmed) =
      if (wl.independentOps) { val c = check(); (c, warm()) }
      else {
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        try { val w = pool.submit(() => warm()); (check(), w.get) }
        finally pool.shutdown()
      }
    checkOps.zip(checked).foreach { case (op, (digest, saved)) =>
      if (digest != null) expected(op.id) = digest
      val oracle = op match {
        case r: Read => r.oracle
        case Write(_, _, _, _, _, Some((_, o))) => o
        case _ => NoOracle
      }
      if (oracle != NoOracle)
        checks += Map("id" -> op.id, "kind" -> op.kind, "path" -> saved.orNull,
          "digest" -> digest, "oracle" -> oracleJson(oracle))
    }
    warmFailures ++= warmOps.zip(warmed).collect {
      case (op, d) if !expected.get(op.id).contains(d) => op.id
    }
    Workload.delete(new File(s"$runDir/out/warm"))
  }

  /** Op ids whose warm-up pass did not reproduce the check digest. */
  val warmFailures = ArrayBuffer.empty[String]

  /** Runs `f` on every op, `cpus` at a time if the ops are independent. */
  private def runAll[T](wl: Workload, ops: Seq[Op])(f: Op => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      if (wl.independentOps) cpus else 1)
    try ops.map(op => pool.submit(() => f(op))).map(_.get)
    finally pool.shutdown()
  }

  /** Runs one op untimed: its digest (null if it threw), and its output
    * saved as parquet to `target`, if given.
    */
  private def untimed(op: Op, target: Option[String]): (String, Option[String]) = {
    def save(df: org.apache.spark.sql.DataFrame): Option[String] = target.flatMap { t =>
      try { df.coalesce(1).write.mode("overwrite").parquet(t); Some(t) }
      catch { case _: Exception => None }
    }
    try op match {
      case r: Read if target.isEmpty => (Digest.of(r.frame())._2, None)
      case r: Read =>
        val df = r.frame().persist()
        try (Digest.of(df)._2, save(df)) finally df.unpersist()
      case w: Write =>
        (writeDigest(w, w.body()), w.published.flatMap { case (f, _) => save(f()) })
      case p: Probe => (p.body(), None)
    } catch { case _: Exception => (null, None) }
  }

  /** One timed pass of the workload's op sequence. */
  def pass(wl: Workload, in: String, name: String, traced: Boolean): Unit = {
    val out = s"$runDir/out/$name"
    val ops = wl.ops(spark, in, out)
    if (traced) tracer.install()
    val passStart = System.currentTimeMillis()
    var wallS = 0.0
    ops.foreach { op =>
      val key = s"$name/${op.id}"
      if (traced) {
        sc.setLocalProperty(Tracer.OpProperty, key)
        tracer.currentOp = key
      }
      val chars0 = CountingParser.chars.get
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var builtNs = 0L
      var buildAnalysisMs = 0L
      var outRows = -1L
      var error: String = null
      val result: Any = try op match {
        case r: Read =>
          val df = r.frame()
          builtNs = System.nanoTime() - t0
          buildAnalysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(_.durationMs).getOrElse(0L)
          val (n, d) = Digest.of(df)
          outRows = n
          d
        case w: Write => w.body()
        case p: Probe => p.body()
      } catch { case e: Exception => error = describe(e); null }
      val wallNs = System.nanoTime() - t0
      val t1ms = System.currentTimeMillis()
      val chars = CountingParser.chars.get - chars0
      if (traced) {
        org.apache.spark.PerfbenchBus.drain(sc)
        tracer.currentOp = null
        sc.setLocalProperty(Tracer.OpProperty, null)
      }
      val digest = (op, error) match {
        case (w: Write, null) =>
          try writeDigest(w, result) catch { case e: Exception => error = describe(e); null }
        case _ => String.valueOf(result)
      }
      wallS += wallNs / 1e9
      val base = Map[String, Any](
        "pass" -> name, "traced" -> traced, "id" -> op.id,
        "kind" -> op.kind, "layer" -> op.layer, "type" -> (op match {
          case _: Read => "read"
          case _: Write => "write"
          case _: Probe => "probe"
        }),
        "start_ms" -> t0ms, "end_ms" -> t1ms, "wall_ms" -> wallNs / 1e6,
        "build_ms" -> builtNs / 1e6, "build_analysis_ms" -> buildAnalysisMs,
        "out_rows" -> outRows, "sql_chars" -> chars,
        "ok" -> (error == null && expected.get(op.id).contains(digest)), "error" -> error)
      val traceRec: Map[String, Any] = if (!traced) Map.empty else {
        tracer.span(Span(key, s"${op.layer}.${op.kind}", name, t0ms, t1ms))
        if (builtNs > 0)
          tracer.span(Span(s"$key/build", "frame.build", key, t0ms, t0ms + builtNs / 1000000))
        val s = Option(tracer.stats.get(key)).getOrElse(new OpStats)
        Map("jobs" -> s.jobs.toSeq.map { case (a, b) => Seq(a, b) }, "stages" -> s.stages,
          "tasks" -> s.tasks, "task_ms" -> s.taskMs, "max_task_ms" -> s.maxTaskMs,
          "shuffle_read_bytes" -> s.shuffleRead, "shuffle_write_bytes" -> s.shuffleWrite,
          "spill_bytes" -> s.spill, "analysis_ms" -> s.analysisMs,
          "optimization_ms" -> s.optimizationMs, "planning_ms" -> s.planningMs,
          "plan_nodes" -> s.planNodes, "exchanges" -> s.exchanges, "scans" -> s.scans,
          "cached_scans" -> s.cachedScans, "files_read" -> s.filesRead,
          "files_total" -> (op match {
            case Read(_, _, _, _, _, Some(files)) => files()
            case _ => 0L
          }))
      }
      opRecords += base ++ traceRec
    }
    if (traced) {
      tracer.uninstall()
      tracer.span(Span(name, "pass", "run", passStart, System.currentTimeMillis()))
    }
    val st = wl.storage(spark, out)
    passes += Map("name" -> name, "traced" -> traced,
      "wall_s" -> wallS, "bytes" -> st.bytes, "live_bytes" -> st.live,
      "live_files" -> st.liveFiles, "files_written" -> st.filesWritten,
      "log_files" -> st.logFiles, "log_bytes" -> st.logBytes)
    Workload.delete(new File(out))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans,
  * options and null.
  */
object Json {
  def apply(v: Any): String = {
    val sb = new StringBuilder
    write(v, sb)
    sb.toString
  }
  private def str(s: String, sb: StringBuilder): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
  private def write(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb.append(b)
    case d: Double => if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Number => sb.append(n.toString)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb.append(',')
        str(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      s.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb.append(','); write(x, sb) }
      sb.append(']')
    case other => str(other.toString, sb)
  }
}
