package graft.sources

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.jdk.CollectionConverters._

/** Spark jobs that Delta log bookkeeping runs on a small log — the
  * deterministic shape signal a timing run cannot give: a checkpoint
  * write is one job, a snapshot through a checkpoint one collect, and
  * no checkpoint read pays a schema-inference job.
  */
class DeltaJobCountSpec extends SparkSpec {

  /** Jobs `body` launches (tagged with a job group, so jobs of other
    * threads never count), once the listener bus has drained.
    */
  private def jobsOf(body: => Any): Seq[SparkListenerJobStart] = {
    val sc = spark.sparkContext
    val group = s"graft-job-count-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group) jobs.add(j)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq
  }

  private def describe(jobs: Seq[SparkListenerJobStart]): String =
    jobs.map(j => j.stageInfos.map(_.name).mkString("[", ", ", "]") +
      (if (inSql(j)) " (sql)" else "")).mkString("; ")

  private def inSql(j: SparkListenerJobStart): Boolean =
    j.properties.getProperty("spark.sql.execution.id") != null

  /** A schema-inference job: `spark.read.parquet/json` without a schema
    * runs it while the frame is built, outside any SQL execution.
    */
  private def isInference(j: SparkListenerJobStart): Boolean =
    !inSql(j) && j.stageInfos.exists(s =>
      s.name.startsWith("parquet at ") || s.name.startsWith("json at "))

  test("small log: one job per checkpoint write and snapshot, no checkpoint schema inference") {
    val sp = spark; import sp.implicits._
    val p = "target/tmp/delta_job_count"
    val pp = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(pp))
      java.nio.file.Files.walk(pp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    (0 until 10).foreach { i =>                                   // v0..v9
      DeltaLog.write(Seq((i.toLong, s"r$i")).toDF("id", "s"),
        if (i == 0) "overwrite" else "append", p, checkpointInterval = 0)
    }
    val checkpoint = jobsOf(DeltaLog.writeCheckpoint(spark, p, 9L))
    val checkpointJobs = checkpoint.size
    assert(checkpointJobs == 1, s"writeCheckpoint: ${describe(checkpoint)}")
    val snapshot = jobsOf(assert(DeltaLog.activeFiles(spark, p).size == 10))
    val snapshotJobs = snapshot.size
    assert(snapshotJobs == 1, s"activeFiles: ${describe(snapshot)}")
    // with the commits gone, read's schema, configuration and protocol
    // all come from the checkpoint
    DeltaLog.cleanupLog(spark, p)
    val inference = jobsOf(assert(DeltaLog.read(spark, p).count() == 10L))
      .filter(isInference)
    val inferenceJobs = inference.size
    assert(inferenceJobs == 0, s"read: ${describe(inference)}")
  }
}
