package graft.sources

import graft.JobCounts.{describe, isInference, jobsOf}
import graft.SparkSpec

/** Spark jobs that Delta log bookkeeping runs on a small log — the
  * deterministic shape signal a timing run cannot give: a checkpoint
  * write is one job, a snapshot through a checkpoint one collect, and
  * no checkpoint read pays a schema-inference job.
  */
class DeltaJobCountSpec extends SparkSpec {

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
    val checkpoint = jobsOf(spark)(DeltaLog.writeCheckpoint(spark, p, 9L))
    val checkpointJobs = checkpoint.size
    assert(checkpointJobs == 1, s"writeCheckpoint: ${describe(checkpoint)}")
    val snapshot = jobsOf(spark)(assert(DeltaLog.activeFiles(spark, p).size == 10))
    val snapshotJobs = snapshot.size
    assert(snapshotJobs == 1, s"activeFiles: ${describe(snapshot)}")
    // with the commits gone, read's schema, configuration and protocol
    // all come from the checkpoint
    DeltaLog.cleanupLog(spark, p)
    val inference = jobsOf(spark)(assert(DeltaLog.read(spark, p).count() == 10L))
      .filter(isInference)
    val inferenceJobs = inference.size
    assert(inferenceJobs == 0, s"read: ${describe(inference)}")
  }
}
