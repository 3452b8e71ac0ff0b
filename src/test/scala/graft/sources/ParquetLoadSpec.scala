package graft.sources

import graft.JobCounts.{describe, isInference, isListing, jobsOf}
import graft.SparkSpec
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{MetadataBuilder, TimestampNTZType}

/** `Loaders.loadParquet` takes its schema from one footer read on the
  * driver: the load runs no Spark job, and schema (nullability and field
  * metadata included) and rows equal those of a schema-less
  * `spark.read.parquet` after the same timestamp normalizers.
  */
class ParquetLoadSpec extends SparkSpec {

  private def fresh(name: String): String = {
    val p = Paths.get("target/tmp/parquet_load", name)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** The one data file Spark wrote for a single-partition frame. */
  private def partFile(dir: String): Path =
    Files.list(Paths.get(dir)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()

  private def writeOne(df: DataFrame, dir: String): Path = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    partFile(dir)
  }

  /** What a frame's file relation is built from: root paths, listed
    * files, schemas, format and options.
    */
  private def relationOf(df: DataFrame): Seq[Any] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val r = df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get
    Seq(r.location.getClass, r.location.rootPaths, r.location.inputFiles.sorted.toSeq,
      r.partitionSchema, r.dataSchema, r.bucketSpec, r.fileFormat.getClass, r.options)
  }

  /** Load `path` and compare with the schema-less read: StructType
    * equality covers nullability and field metadata; the file relations
    * and the rows must match too.
    */
  private def assertSameFrame(path: String, nanoCols: Set[String] = Set.empty): DataFrame = {
    assert(relationOf(Loaders.readParquet(spark, path)) == relationOf(spark.read.parquet(path)))
    val got = Loaders.loadParquet(spark, path, "t").df
    val want = Loaders.normalizeNtzTimestamps(
      Loaders.normalizeNanoTimestamps(spark.read.parquet(path), nanoCols))
    assert(got.schema == want.schema,
      s"\n got ${got.schema.json}\nwant ${want.schema.json}")
    assert(got.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
    got
  }

  /** [[assertSameFrame]], then count the load's jobs: none, unless the
    * load falls back to Spark's inference.
    */
  private def assertParity(path: String, nanoCols: Set[String] = Set.empty,
      inferenceJobs: Int = 0): DataFrame = {
    val got = assertSameFrame(path, nanoCols)
    val jobs = jobsOf(spark)(Loaders.loadParquet(spark, path, "t"))
    val (loadJobs, allInference) = (jobs.size, jobs.forall(isInference))
    assert(loadJobs == inferenceJobs && allInference,
      s"load of $path ran jobs: ${describe(jobs)}")
    got
  }

  test("single file") {
    val sp = spark; import sp.implicits._
    val f = writeOne(Seq((1L, "a", Option(2.5)), (2L, "b", None)).toDF("id", "s", "x"),
      fresh("single"))
    assertParity(f.toString)
  }

  test("multi-file directory with different footers: Spark's file defines the schema") {
    val sp = spark; import sp.implicits._
    val dir = Paths.get(fresh("multi"))
    Files.createDirectories(dir)
    // written first, but second in path order
    val b = writeOne(Seq((1L, "x1")).toDF("id", "x"), fresh("multi_b"))
    Files.copy(b, dir.resolve("part-b.parquet"))
    val a = writeOne(Seq((2L, 7)).toDF("id", "y"), fresh("multi_a"))
    Files.copy(a, dir.resolve("part-a.parquet"))
    val got = assertParity(dir.toString)
    assert(got.columns.toSeq == Seq("id", "y"))
    // the same files as two paths, as a multi-part checkpoint read passes them
    val files = Seq("part-b.parquet", "part-a.parquet").map(n => dir.resolve(n).toString)
    val twoPaths = Loaders.readParquet(spark, files: _*)
    assert(relationOf(twoPaths) == relationOf(spark.read.parquet(files: _*)))
    assert(twoPaths.columns.toSeq == Seq("id", "y"))
  }

  test("Hive-partitioned directory with a __HIVE_DEFAULT_PARTITION__ value") {
    val sp = spark; import sp.implicits._
    val dir = fresh("partitioned")
    Seq((1L, Option(10)), (2L, Option(20)), (3L, None)).toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
    assert(Files.exists(Paths.get(dir, "p=__HIVE_DEFAULT_PARTITION__")))
    val got = assertParity(dir)
    assert(got.columns.toSeq == Seq("id", "p"))
    assert(got.where(col("p").isNull).count() == 1L)
  }

  test("a listing Spark distributes runs once: only the inference job goes") {
    val sp = spark; import sp.implicits._
    val dir = fresh("wide")
    (1 to 4).map(i => (i.toLong, i)).toDF("id", "p").write.partitionBy("p").parquet(dir)
    val confs = Seq("spark.sql.sources.parallelPartitionDiscovery.threshold" -> "2",
      "spark.sql.sources.parallelPartitionDiscovery.parallelism" -> "2")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      assertSameFrame(dir)
      val inferred = jobsOf(spark)(spark.read.parquet(dir))
      val declared = jobsOf(spark)(Loaders.readParquet(spark, dir))
      val listings = inferred.count(isListing)
      assert(listings >= 1 && inferred.size == listings + 1 &&
        inferred.count(isInference) == 1, describe(inferred))
      assert(declared.size == listings && declared.forall(isListing),
        s"schema-less: ${describe(inferred)}\nfooter: ${describe(declared)}")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("a streaming sink's output is read through its metadata log") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark; import sp.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = fresh("sink")
    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    val q = mem.toDF().writeStream.format("parquet")
      .option("checkpointLocation", fresh("sink_checkpoint")).start(out)
    try q.processAllAvailable() finally q.stop()
    // a file the log never committed, first in path order: a listing
    // would read it (and take its footer), the sink's log does not
    Files.copy(writeOne(Seq((9L, 9, 9.0)).toDF("x", "y", "z"), fresh("sink_stray")),
      Paths.get(out, "a-stray.parquet"))
    val got = assertParity(out, inferenceJobs = 1)
    assert(got.columns.toSeq == Seq("_1", "_2") && got.count() == 2L)
  }

  test("summary files: _common_metadata, then _metadata, define the schema") {
    val sp = spark; import sp.implicits._
    val dir = Paths.get(fresh("summary"))
    Files.createDirectories(dir)
    val data = writeOne(Seq((1L, "a")).toDF("id", "s"), fresh("summary_data"))
    Files.copy(data, dir.resolve("part-0.parquet"))
    val meta = writeOne(Seq.empty[(Long, String, Int)].toDF("id", "s", "m"),
      fresh("summary_meta"))
    Files.copy(meta, dir.resolve("_metadata"))
    assert(assertParity(dir.toString).columns.toSeq == Seq("id", "s", "m"))
    val common = writeOne(Seq.empty[(Long, String, Double)].toDF("id", "s", "c"),
      fresh("summary_common"))
    Files.copy(common, dir.resolve("_common_metadata"))
    assert(assertParity(dir.toString).columns.toSeq == Seq("id", "s", "c"))
  }

  test("NTZ file") {
    val sp = spark; import sp.implicits._
    val f = writeOne(Seq("2024-03-10 12:34:56.123456").toDF("s")
      .select(col("s").cast(TimestampNTZType).as("ts"), lit(1L).as("id")), fresh("ntz"))
    val got = assertParity(f.toString)
    assert(got.schema("ts").dataType.typeName == "timestamp")
  }

  test("nanos file") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val f = fresh("nanos.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int64 n; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(
        Paths.get(f).toAbsolutePath.toString))
      .withType(schema).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("ts", 1700000000123456789L).append("n", 42L))
    } finally w.close()
    val got = assertParity(f, nanoCols = Set("ts"))
    assert(got.schema("ts").dataType.typeName == "timestamp")
    assert(got.schema("n").dataType.typeName == "long")
  }

  test("Spark-written row metadata: field metadata and nullability survive") {
    val sp = spark; import sp.implicits._
    val md = new MetadataBuilder().putString("comment", "the key").putLong("k", 7L).build()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .select(col("id").as("id", md), col("s"))
    val f = writeOne(spark.createDataFrame(df.rdd,
      df.schema.copy(fields = df.schema.fields.map(_.copy(nullable = false)))), fresh("rowmeta"))
    val got = assertParity(f.toString)
    assert(got.schema("id").metadata == md)
  }

  test("mergeSchema falls back to Spark's inference: exactly one inference job") {
    val sp = spark; import sp.implicits._
    val dir = Paths.get(fresh("merge"))
    Files.createDirectories(dir)
    Files.copy(writeOne(Seq((1L, "x")).toDF("id", "x"), fresh("merge_b")),
      dir.resolve("part-b.parquet"))
    Files.copy(writeOne(Seq((2L, 3)).toDF("id", "y"), fresh("merge_a")),
      dir.resolve("part-a.parquet"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val jobs = jobsOf(spark)(
        assert(Loaders.loadParquet(spark, dir.toString, "m").df.columns.toSet ==
          Set("id", "x", "y")))
      val (loadJobs, allInference) = (jobs.size, jobs.forall(isInference))
      assert(loadJobs == 1 && allInference, describe(jobs))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("missing path and empty directory fail as Spark's own read does") {
    val missing = fresh("missing")
    val empty = Paths.get(fresh("empty"))
    Files.createDirectories(empty)
    for (p <- Seq(missing, empty.toString)) {
      val want = intercept[Throwable](spark.read.parquet(p))
      val got = intercept[Throwable](Loaders.loadParquet(spark, p, "e"))
      assert(got.getClass == want.getClass)
      assert(got.getMessage == want.getMessage)
    }
  }

  test("a footer column named like a partition column falls back to Spark's typing") {
    val sp = spark; import sp.implicits._
    // the data file itself carries `p` (as string); the directory says p=1
    val dir = Paths.get(fresh("overlap"))
    Files.createDirectories(dir.resolve("p=1"))
    Files.copy(writeOne(Seq((1L, "one")).toDF("id", "p"), fresh("overlap_data")),
      dir.resolve("p=1").resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assertParity(dir.toString, inferenceJobs = 1)
  }
}
