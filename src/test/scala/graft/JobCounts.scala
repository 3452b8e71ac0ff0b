package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Spark jobs a block of code launches — the deterministic shape signal
  * a timing run cannot give, shared by the specs that count jobs.
  */
object JobCounts {

  /** Jobs `body` launches (tagged with a job group, so jobs of other
    * threads never count), once the listener bus has drained.
    */
  def jobsOf(spark: SparkSession)(body: => Any): Seq[SparkListenerJobStart] = {
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

  def describe(jobs: Seq[SparkListenerJobStart]): String =
    jobs.map(j => j.stageInfos.map(_.name).mkString("[", ", ", "]") +
      (if (inSql(j)) " (sql)" else "") +
      (if (isListing(j)) " (listing)" else "")).mkString("; ")

  private def inSql(j: SparkListenerJobStart): Boolean =
    j.properties.getProperty("spark.sql.execution.id") != null

  /** A schema-inference job: `spark.read.parquet/json` without a schema
    * runs it while the frame is built, outside any SQL execution. A
    * distributed listing job carries the same call site, so it is told
    * apart by its description.
    */
  def isInference(j: SparkListenerJobStart): Boolean =
    !inSql(j) && !isListing(j) && j.stageInfos.exists(s =>
      s.name.startsWith("parquet at ") || s.name.startsWith("json at "))

  /** A file-listing job: Spark distributes a listing wider than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` paths.
    */
  def isListing(j: SparkListenerJobStart): Boolean =
    Option(j.properties.getProperty("spark.job.description"))
      .exists(_.startsWith("Listing leaf files and directories"))
}
