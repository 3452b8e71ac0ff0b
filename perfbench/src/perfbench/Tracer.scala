package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: an op, a layer call inside it, a job or a planning
  * phase. `parent` is the id of the span that caused it.
  */
final case class Span(id: String, name: String, parent: String, startMs: Long, endMs: Long)

/** What the scheduler and the planner did for one op. */
final class OpStats {
  val jobs = ArrayBuffer.empty[(Long, Long)]
  var stages, tasks = 0
  var taskMs, maxTaskMs, shuffleRead, shuffleWrite, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var planNodes, exchanges, scans, cachedScans = 0
  var filesRead = 0L
}

/** Listener for the traced passes. Jobs are tied to the op that launched
  * them by the `perfbench.op` local property (Spark copies local
  * properties to the threads that launch broadcast and subquery jobs);
  * tasks by their stage. Executed queries are tied to the op that is
  * current when the listener sees them: the runner drains the bus before
  * it moves to the next op.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val stats = new ConcurrentHashMap[String, OpStats]()
  val spans = ArrayBuffer.empty[Span]
  @volatile var currentOp: String = null
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()

  private def of(op: String): OpStats = stats.computeIfAbsent(op, _ => new OpStats)

  def span(s: Span): Unit = spans.synchronized { spans += s }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(Tracer.OpProperty)).orNull
    if (op != null) {
      e.stageIds.foreach(stageOp.put(_, op))
      jobStart.put(e.jobId, (op, e.time))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, t0) =>
      val s = of(op)
      s.synchronized { s.jobs += ((t0, e.time)) }
      span(Span(s"$op/job${e.jobId}", "exec.job", op, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val s = of(op)
      s.synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val m = e.taskMetrics
      val s = of(op)
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val op = currentOp
    if (op == null) return
    val s = of(op)
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    phases.foreach { case (name, p) =>
      span(Span(s"$op/${name}@${p.startTimeMs}", s"catalyst.$name", op, p.startTimeMs, p.endTimeMs))
    }
    val shape = Tracer.shape(qe.executedPlan)
    s.synchronized {
      s.analysisMs += ms("analysis")
      s.optimizationMs += ms("optimization")
      s.planningMs += ms("planning")
      s.planNodes += shape(0).toInt
      s.exchanges += shape(1).toInt
      s.scans += shape(2).toInt
      s.cachedScans += shape(3).toInt
      s.filesRead += shape(4)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val OpProperty = "perfbench.op"

  /** (nodes, exchanges, file scans, in-memory scans, data files read) of
    * an executed plan, looking through adaptive plans, query stages and
    * subqueries.
    */
  def shape(plan: SparkPlan): Array[Long] = {
    val acc = Array(0L, 0L, 0L, 0L, 0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        acc(0) += 1
        p match {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => acc(1) += 1
          case f: FileSourceScanExec =>
            acc(2) += 1
            // data files only: Delta log and checkpoint reads are scans too
            if (!f.relation.location.rootPaths.exists(_.toString.contains("_delta_log")))
              acc(4) += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          case _: BatchScanExec => acc(2) += 1
          case _: InMemoryTableScanExec => acc(3) += 1
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    acc
  }
}

/** Process and machine counters read at the edges of the timed window. */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def read(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def cpuNs: Long = os.getProcessCpuTime
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  /** Steal time of all CPUs, in ms (USER_HZ = 100). */
  def stealMs: Long = try {
    val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+")
    if (cpu.length > 8) cpu(8).toLong * 10 else 0L
  } catch { case _: Exception => 0L }
  def loadavg1: Double = try {
    read("/proc/loadavg").trim.split("\\s+")(0).toDouble
  } catch { case _: Exception => -1.0 }
  /** Heap in use after full GCs; between them Spark's cleaner thread gets
    * time to drop the blocks of frames the GC found unreachable. The
    * lowest of three readings.
    */
  def heapUsedMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      mem.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}
