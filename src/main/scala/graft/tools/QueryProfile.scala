package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import graft.sources.Loaders

/** Dev instrumentation (optimization guide §1): run selected graded
  * queries in Bench's session ([[Loaders.session]]) and report, per
  * query, the wall time plus the scheduler-level shape the Spark UI
  * would show — job/stage/task counts, total task time, the single
  * longest task, and shuffle read/write bytes. A stage whose task count
  * is 1 while its time dominates the query is the "heavy work on an
  * under-parallel scan" signature; large shuffle bytes flag an exchange
  * that should not exist. Usage:
  *   QueryProfile q_a q_b ...        (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench)
  */
object QueryProfile {

  final class Acc {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0)
    val maxTaskMs = new AtomicLong(0)
    val shufReadB = new AtomicLong(0)
    val shufWriteB = new AtomicLong(0)
    // stageId -> (numTasks, stage task-time ms, max task ms)
    val stageTasks = new ConcurrentHashMap[Int, (Int, Long, Long)]()
    // stageId -> callsite (stage name is "op at File.scala:line")
    val stageNames = new ConcurrentHashMap[Int, String]()
  }

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else Seq("q_knn_outliers")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Loaders.session()
    spark.sparkContext.setLogLevel("ERROR")

    // marker-job handshake replaces the old fixed Thread.sleep(300): the
    // listener bus is async FIFO, so once the listener has OBSERVED the
    // end of a sentinel job submitted after the query, every event of the
    // query itself has drained too — no lost late events on a loaded box,
    // and no previous query's stragglers bleeding into the next Acc
    @volatile var acc = new Acc
    @volatile var markerSeen: String = ""
    val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .map(_.getProperty("spark.job.description", "")).getOrElse("")
        if (desc.startsWith("graft-profile-marker:")) {
          j.stageIds.foreach(markerStages.add(_))
          markerSeen = desc
        } else acc.jobs.incrementAndGet()
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        if (!markerStages.contains(s.stageInfo.stageId)) {
          acc.stages.incrementAndGet()
          acc.stageNames.put(s.stageInfo.stageId, s.stageInfo.name)
        }
        ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (markerStages.contains(t.stageId)) return
        acc.tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          val ms = m.executorRunTime
          acc.taskTimeMs.addAndGet(ms)
          acc.maxTaskMs.updateAndGet(x => math.max(x, ms))
          acc.shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          acc.shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          acc.stageTasks.merge(t.stageId, (1, ms, ms),
            (a, b) => (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3)))
        }
      }
    })
    // run a tiny sentinel job and wait until the listener reports it —
    // all earlier events are then drained (FIFO bus); the sentinel's own
    // job/stage/task events are excluded from the Acc via the marker
    // description (jobs) and its stage-id set (stages/tasks)
    def drain(tag: String): Unit = {
      val marker = s"graft-profile-marker:$tag"
      spark.sparkContext.setJobDescription(marker)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (markerSeen != marker && System.nanoTime() < deadline)
        Thread.sleep(10)
    }

    // one warm pass (codegen/JIT) at the smallest SF, mirroring Bench
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").foreach(_ => ())
      catch { case NonFatal(e) =>
        System.err.println(s"[profile] warm-up $n failed: ${e.getMessage}")
      }
    }

    // drain warm-up events so they never land in the first query's Acc
    drain("warmup")
    names.foreach { n =>
      acc = new Acc
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      drain(n)
      val singles = {
        import scala.jdk.CollectionConverters._
        acc.stageTasks.asScala.toSeq.sortBy(-_._2._2).take(8)
          .map { case (sid, (nt, ms, mx)) =>
            val nm = acc.stageNames.getOrDefault(sid, "?")
            f"stage$sid:$nt%dt/${ms}ms(max ${mx}) [$nm]" }
          .mkString("\n      ")
      }
      println(f"$n%-28s wall ${wall}%7.2fs jobs ${acc.jobs.get}%3d stages ${acc.stages.get}%3d " +
        f"tasks ${acc.tasks.get}%5d taskTime ${acc.taskTimeMs.get}%7dms maxTask ${acc.maxTaskMs.get}%6dms " +
        f"shufR ${acc.shufReadB.get / 1024}%8dKB shufW ${acc.shufWriteB.get / 1024}%8dKB")
      println(s"    top stages by task-time: $singles")
    }
    spark.stop()
  }
}
