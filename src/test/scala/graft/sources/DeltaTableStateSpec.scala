package graft.sources

import graft.{JobCounts, SparkSpec}
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame

/** The table state (newest metaData and protocol, txn watermarks, live
  * domains) folds from two routes: the complete commit log, or the
  * newest checkpoint plus the commits after it once [[DeltaLog.cleanupLog]]
  * removed the early commits. On one history both routes must agree on
  * every field, at the latest version and as of earlier ones.
  */
class DeltaTableStateSpec extends SparkSpec {

  private def wipe(name: String): String = {
    val p = s"target/tmp/table_state/$name"
    val pp = Paths.get(p)
    if (Files.exists(pp))
      Files.walk(pp).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    p
  }

  private def rows(range: Seq[Long]): DataFrame = {
    val sp = spark; import sp.implicits._
    range.map(i => (i, s"v$i", s"g${i % 2}")).toDF("id", "s", "part")
  }

  private def rawCommit(p: String, v: Long, actions: String*): Unit =
    Files.writeString(Paths.get(p, "_delta_log", f"$v%020d.json"),
      actions.mkString("", "\n", "\n"))

  /** Folds the state of `p` as of each of `asOfs` on the complete log,
    * checkpoints version `cp`, cleans the log and folds again: both
    * routes must agree. Returns the states by as-of version.
    */
  private def bothRoutes(p: String, cp: Long, asOfs: Seq[Option[Long]])
      : Map[Option[Long], DeltaLog.TableState] = {
    val tbl = new HPath(p)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fold(asOf: Option[Long]) = DeltaLog.foldTableState(spark, fs, tbl, asOf)
    val completeJobs = JobCounts.jobsOf(spark)(fold(None))
    assert(completeJobs.isEmpty,
      s"complete-log fold ran jobs: ${JobCounts.describe(completeJobs)}")
    val complete = asOfs.map(v => v -> fold(v)).toMap
    DeltaLog.writeCheckpoint(spark, p, cp)
    assert(DeltaLog.cleanupLog(spark, p).nonEmpty)
    assert(!Files.exists(Paths.get(p, "_delta_log", "0" * 20 + ".json")))
    val cleanedJobs = JobCounts.jobsOf(spark)(fold(None))
    assert(cleanedJobs.size <= 1,
      s"cleaned-log fold ran ${cleanedJobs.size} jobs: " +
        JobCounts.describe(cleanedJobs))
    asOfs.foreach { v =>
      assert(fold(v) == complete(v), s"as of $v the routes disagree")
    }
    assert(DeltaLog.tableState(spark, fs, tbl) == complete(None))
    complete
  }

  test("partition change, row tracking, txn and a v2 checkpoint: both routes agree") {
    val p = wipe("features")
    DeltaLog.write(rows(1L to 4L), "overwrite", p, checkpointInterval = 0,
      txn = Some(("app-a", 1L)),
      tableProperties = Map("delta.enableRowTracking" -> "true",
        "delta.checkpointPolicy" -> "v2"))                             // v0
    DeltaLog.write(rows(5L to 6L), "append", p, checkpointInterval = 0,
      txn = Some(("app-a", 2L)))                                       // v1
    DeltaLog.write(rows(7L to 8L), "append", p, checkpointInterval = 0,
      txn = Some(("app-b", 9L)))                                       // v2
    DeltaLog.write(rows(1L to 6L), "overwrite", p, checkpointInterval = 0,
      partitionBy = Seq("part"))                                       // v3
    DeltaLog.write(rows(10L to 11L), "append", p, checkpointInterval = 0,
      partitionBy = Seq("part"), txn = Some(("app-a", 3L)))            // v4
    assert(DeltaLog.deleteWhere(spark, p, "id = 2") == 1)              // v5
    val st = bothRoutes(p, 2L, Seq(None, Some(2L), Some(3L), Some(4L)))
    assert(st(Some(2L)).partitionColumns.contains(Nil))
    assert(st(Some(3L)).partitionColumns.contains(Seq("part")))
    assert(st(None).partitionColumns.contains(Seq("part")))
    assert(st(Some(2L)).txns == Map("app-a" -> 2L, "app-b" -> 9L))
    assert(st(None).txns == Map("app-a" -> 3L, "app-b" -> 9L))
    assert(Seq("rowTracking", "v2Checkpoint").forall(st(None).protocol._4.contains))
    assert(st(None).rowIdHighWaterMark > st(Some(2L)).rowIdHighWaterMark)
    assert(st(None).metaDataId.nonEmpty &&
      st(None).metaDataId == st(Some(2L)).metaDataId)
    assert(st(None).configuration.get("delta.enableRowTracking").contains("true"))
    assert(DeltaLog.readWhere(spark, p, "part = 'g0'").count() ==
      DeltaLog.read(spark, p).where("part = 'g0'").count())
  }

  test("name then id column mapping: both routes agree") {
    val sp = spark; import sp.implicits._
    val p = wipe("mapping")
    def ids(r: Seq[Long]) = r.map(i => (i, s"v$i")).toDF("id", "s")
    DeltaLog.write(ids(1L to 2L), "overwrite", p, checkpointInterval = 0,
      columnMapping = Some("name"))                                    // v0
    DeltaLog.write(ids(3L to 4L), "append", p, checkpointInterval = 0) // v1
    DeltaLog.write(ids(5L to 6L), "append", p, checkpointInterval = 0) // v2
    DeltaLog.write(ids(1L to 3L), "overwrite", p, checkpointInterval = 0,
      columnMapping = Some("id"))                                      // v3
    DeltaLog.write(ids(7L to 8L), "append", p, checkpointInterval = 0) // v4
    val st = bothRoutes(p, 2L, Seq(None, Some(2L), Some(3L)))
    assert(st(Some(2L)).mappingMode == "name")
    assert(st(None).mappingMode == "id")
    assert(st(None).schema.exists(_.fieldNames.toSeq == Seq("id", "s")))
    assert(DeltaLog.read(spark, p).as[(Long, String)].collect().map(_._1)
      .sorted.toSeq == Seq(1L, 2L, 3L, 7L, 8L))
  }

  test("clustering and a removed domain: both routes agree") {
    val sp = spark; import sp.implicits._
    val p = wipe("clustering")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
      .write.mode("overwrite").parquet(p)
    val dataFile = Files.list(Paths.get(p)).toArray
      .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
    val size = Files.size(Paths.get(p, dataFile))
    Files.createDirectories(Paths.get(p, "_delta_log"))
    val schema = """{\"type\":\"struct\",\"fields\":[""" +
      """{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
      """{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    def domain(name: String, removed: Boolean) =
      s"""{"domainMetadata":{"domain":"$name","configuration":"{}","removed":$removed}}"""
    rawCommit(p, 0L,
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,"writerFeatures":["clustering","domainMetadata"]}}""",
      s"""{"metaData":{"id":"clustered-x","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{}}}""",
      """{"domainMetadata":{"domain":"delta.clustering","configuration":"{\"clusteringColumns\":[[\"id\"]]}","removed":false}}""",
      s"""{"add":{"path":"$dataFile","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true}}""")
    DeltaLog.write(Seq((3L, "c")).toDF("id", "s"), "append", p,
      checkpointInterval = 0)                                          // v1
    rawCommit(p, 2L, domain("graft.test", removed = false))             // v2
    rawCommit(p, 3L, domain("graft.test", removed = true))              // v3
    DeltaLog.write(Seq((4L, "d")).toDF("id", "s"), "append", p,
      checkpointInterval = 0)                                          // v4
    val st = bothRoutes(p, 2L, Seq(None, Some(2L), Some(3L)))
    assert(st(Some(2L)).domains.keySet == Set("delta.clustering", "graft.test"))
    assert(st(None).domains.keySet == Set("delta.clustering"))
    assert(st(None).domainConfig("delta.clustering").exists(
      _.get("clusteringColumns").get(0).get(0).asText == "id"))
    assert(st(None).protocol == ((1, 7, Nil, Seq("clustering", "domainMetadata"))))
  }
}
