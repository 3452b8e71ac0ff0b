package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** Randomized (seeded, deterministic) sequences of delta mutations, each
  * followed by checkpoint + cleanupLog: the snapshot read THROUGH the
  * checkpoint alone must equal the snapshot read from the raw log just
  * before it. This pins the version-ordered fold (newest add per path,
  * remove-then-re-add revival) against op interleavings a hand-written
  * test wouldn't enumerate — RESTORE after upsert after delete is
  * exactly where the old global adds-minus-removes fold lost files.
  */
class DeltaCheckpointFoldSpec extends SparkSpec {

  private def tmp(name: String) = s"target/tmp/cpfold/$name"

  test("checkpoint+cleanup preserves the snapshot across random op sequences") {
    // the same seeded sequences on both writeCheckpoint routes: the
    // driver fold (default threshold) and the distributed plan (0L)
    val driver = randomFoldSequences(DeltaLog.SnapshotDriverMaxBytes)
    val distributed = randomFoldSequences(0L)
    driver.zip(distributed).zipWithIndex.foreach { case ((d, x), i) =>
      assert(d == x, s"sequence ${i + 1}: the checkpoint routes disagree" +
        s"\ndriver=$d\ndistributed=$x")
    }
  }

  /** _last_checkpoint's (size, parts) of table `p`. */
  private def lastCheckpoint(p: String): (Long, Option[Long]) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(java.nio.file.Paths.get(p, "_delta_log", "_last_checkpoint")))
    (node.get("size").asLong, Option(node.get("parts")).map(_.asLong))
  }

  /** Five seeded random op sequences, each ending in writeCheckpoint on
    * `route` + cleanupLog; per sequence, the rows read through the final
    * checkpoint and its _last_checkpoint (size, parts).
    */
  private def randomFoldSequences(route: Long)
      : Seq[(Seq[(Long, String, Double)], (Long, Option[Long]))] = {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(20260815L)
    (1 to 5).map { seqIdx =>
      val p = wipe(s"seq_${route}_$seqIdx")
      var nextId = 100L
      def batch(n: Int) = {
        val rows = (0 until n).map { _ =>
          nextId += 1; (nextId, s"r$nextId", rng.nextInt(100).toDouble)
        }
        rows.toDF("id", "name", "v")
      }
      DeltaLog.write(batch(4), "overwrite", p, checkpointInterval = 0)
      var version = 0L
      var cleanedBelow = 0L // restore targets must still have commit files
      val nOps = 4 + rng.nextInt(4)
      (1 to nOps).foreach { opIdx =>
        // mid-sequence checkpoint+cleanup on some sequences: the FINAL
        // checkpoint then folds FROM a previous checkpoint (recency -1
        // seeding), the other half fold from raw commits only
        if (opIdx == 3 && seqIdx % 2 == 0) {
          DeltaLog.writeCheckpoint(spark, p, version,
            snapshotDriverMaxBytes = route)
          DeltaLog.cleanupLog(spark, p)
          cleanedBelow = version + 1
        }
        rng.nextInt(5) match {
          case 0 | 1 => // append (the common op)
            DeltaLog.write(batch(1 + rng.nextInt(3)), "append", p,
              checkpointInterval = 0)
            version += 1
          case 2 => // copy-on-write upsert of a random existing id
            // (sorted: the pick must not depend on the read's file order,
            // which a checkpoint route may change)
            val ids = DeltaLog.read(spark, p).select("id")
              .collect().map(_.getLong(0)).sorted
            if (ids.nonEmpty) {
              val target = ids(rng.nextInt(ids.length))
              DeltaLog.upsert(Seq((target, s"upd$target", -1.0))
                .toDF("id", "name", "v"), Seq("id"), p)
              version += 1
            }
          case 3 => // copy-on-write delete (may be a no-commit no-op)
            val cut = rng.nextInt(100)
            if (DeltaLog.deleteWhere(spark, p, s"v < $cut") > 0) version += 1
          case 4 => // restore to a random past STILL-VISIBLE version
            // (a cleaned-up version has no commit file — fails typed by
            // the time-travel visibility rule, so don't target those;
            // right after a mid-sequence cleanup nothing is restorable)
            val span = version - cleanedBelow + 1
            if (span > 0) {
              DeltaLog.restore(spark, p, cleanedBelow + rng.nextLong(span))
              version += 1
            }
        }
      }
      val before = DeltaLog.read(spark, p).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sorted.toSeq
      DeltaLog.writeCheckpoint(spark, p, version,
        snapshotDriverMaxBytes = route)
      DeltaLog.cleanupLog(spark, p)
      val after = DeltaLog.read(spark, p).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sorted.toSeq
      assert(after == before,
        s"sequence $seqIdx (route $route): checkpoint fold changed the " +
          s"snapshot at version $version\nbefore=$before\nafter=$after")
      val checkpoint = lastCheckpoint(p)
      // and the table stays writable after the full cleanup
      DeltaLog.write(batch(1), "append", p, checkpointInterval = 0)
      assert(DeltaLog.read(spark, p).count() == before.size + 1L)
      (after, checkpoint)
    }
  }

  test("multi-part checkpoint: delta part naming, reads/cleanup/metadata work") {
    val sp = spark
    import sp.implicits._
    val p = tmp("multipart")
    val pp = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(pp)) {
      java.nio.file.Files.walk(pp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    // 9 files → rowsPerPart=2 forces the multi-part layout (a 10⁶-file
    // snapshot must not serialize through one coalesce(1) task)
    DeltaLog.write(sp.range(9).select(col("id"), (col("id") * 2).as("v"))
      .repartition(9), "overwrite", p, checkpointInterval = 0)
    DeltaLog.write(Seq((100L, 0L)).toDF("id", "v"), "append", p,
      checkpointInterval = 0)
    DeltaLog.writeCheckpoint(spark, p, 1L, rowsPerPart = 2)
    val logDir = java.nio.file.Paths.get(p, "_delta_log")
    val cpFiles = java.nio.file.Files.list(logDir).toArray.map(_.toString)
      .map(_.split("/").last)
      .filter(n => n.contains("checkpoint") && n.endsWith(".parquet") &&
        !n.startsWith(".")) // Hadoop .crc sidecars are not checkpoint files
      .sorted
    assert(cpFiles.length > 1, s"expected multi-part, got ${cpFiles.toSeq}")
    assert(cpFiles.forall(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet")),
      cpFiles.toSeq.toString)
    // _last_checkpoint declares the part count
    val lc = Files.readString(logDir.resolve("_last_checkpoint"))
    assert(lc.contains("\"parts\":"), lc)
    // replay through the multi-part checkpoint alone
    DeltaLog.cleanupLog(spark, p)
    assert(DeltaLog.read(spark, p).count() == 10L)
    // metadata fallbacks (schema / partition cols / txn / conf) read the
    // multi-part layout too: append after full cleanup still works and
    // lands AFTER the checkpoint version
    DeltaLog.write(Seq((101L, 1L)).toDF("id", "v"), "append", p,
      checkpointInterval = 0)
    assert(DeltaLog.read(spark, p).count() == 11L)
    assert(Files.exists(logDir.resolve("0" * 19 + "2.json")))
    // a LATER single-file checkpoint supersedes; cleanup sweeps the old
    // multi-part files
    DeltaLog.writeCheckpoint(spark, p, 2L)
    val dropped = DeltaLog.cleanupLog(spark, p)
    assert(dropped.count(_.contains("checkpoint")) == cpFiles.length,
      s"stale multi-part files not swept: $dropped")
    assert(DeltaLog.read(spark, p).count() == 11L)
  }

  test("partitioned table: partitionValues survive the checkpoint fold") {
    val sp = spark
    import sp.implicits._
    val p = tmp("partitioned")
    val pp = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(pp)) {
      java.nio.file.Files.walk(pp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    def b(ids: Seq[Long]) =
      ids.map(i => (i, s"g${i % 3}", i * 1.0)).toDF("id", "part", "v")
    DeltaLog.write(b(1L to 9L), "overwrite", p, partitionBy = Seq("part"),
      checkpointInterval = 0)
    DeltaLog.write(b(10L to 12L), "append", p, partitionBy = Seq("part"),
      checkpointInterval = 0)
    DeltaLog.deleteWhere(spark, p, "id = 2")
    // partition columns read back LAST — select explicitly
    val before = DeltaLog.read(spark, p).select("id", "part").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    DeltaLog.writeCheckpoint(spark, p, 2L)
    DeltaLog.cleanupLog(spark, p)
    val after = DeltaLog.read(spark, p).select("id", "part")
    assert(after.collect().map(r => (r.getLong(0), r.getString(1)))
      .sorted.toSeq == before)
    // partition pruning still works off the checkpointed adds
    assert(DeltaLog.readWhere(spark, p, "part = 'g1'").count() ==
      before.count(_._2 == "g1"))
  }

  test("checkpoint parquet stores the protocol's CANONICAL action types") {
    import org.apache.spark.sql.types._
    val sp = spark
    import sp.implicits._
    val p = tmp("canonical")
    val pp = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(pp)) {
      java.nio.file.Files.walk(pp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    // partitioned + properties + txn + row tracking: every action kind
    // lands in the checkpoint
    DeltaLog.write(
      (1L to 6L).map(i => (i, s"g${i % 2}", i * 1.0)).toDF("id", "part", "v"),
      "overwrite", p, partitionBy = Seq("part"),
      tableProperties = Map("delta.enableRowTracking" -> "true"),
      txn = Some(("app-x", 1L)), checkpointInterval = 0)
    DeltaLog.writeCheckpoint(spark, p, 0L)
    // foreign engines read checkpoints with a FIXED schema:
    // partitionValues/configuration/options as MAP<string,string>,
    // feature lists as ARRAY<string> — json-inferred structs would
    // make the checkpoint unreadable to them
    val cpFile = java.nio.file.Files.list(
      java.nio.file.Paths.get(p, "_delta_log")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.endsWith(".checkpoint.parquet")).get
    val raw = spark.read.parquet(cpFile.toString)
    def fieldType(c: String, f: String): DataType =
      raw.schema(c).dataType.asInstanceOf[StructType](f).dataType
    assert(fieldType("add", "partitionValues").isInstanceOf[MapType],
      s"add.partitionValues must be a MAP: ${fieldType("add", "partitionValues")}")
    assert(fieldType("metaData", "configuration").isInstanceOf[MapType])
    assert(fieldType("metaData", "partitionColumns").isInstanceOf[ArrayType])
    assert(fieldType("protocol", "writerFeatures").isInstanceOf[ArrayType])
    assert(fieldType("protocol", "minWriterVersion") == IntegerType)
    assert(fieldType("txn", "appId") == StringType)
    assert(fieldType("domainMetadata", "configuration") == StringType)
    assert(fieldType("add", "baseRowId") == LongType)
    // and our own fold consumes the canonical shapes: cleanup + read
    DeltaLog.write(
      Seq((10L, "g0", 1.0)).toDF("id", "part", "v"), "append", p,
      partitionBy = Seq("part"), checkpointInterval = 0)
    DeltaLog.cleanupLog(spark, p)
    assert(DeltaLog.read(spark, p).count() == 7L)
    assert(DeltaLog.readWhere(spark, p, "part = 'g0'").count() == 4L)
    assert(DeltaLog.readWithRowIds(spark, p)
      .select("_row_id").collect().map(_.getLong(0)).distinct.length == 7)
  }

  private def wipe(name: String): String = {
    val p = tmp(name)
    val pp = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(pp)) {
      java.nio.file.Files.walk(pp)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    }
    p
  }

  test("checkpoints retain unexpired remove tombstones; expired and re-added drop") {
    val sp = spark; import sp.implicits._
    val p = wipe("tombstones")
    DeltaLog.write((1L to 6L).map(i => (i, s"v$i")).toDF("id", "s"),
      "overwrite", p, checkpointInterval = 0)                      // v0
    DeltaLog.deleteWhere(spark, p, "id <= 2")                      // v1: removes
    DeltaLog.writeCheckpoint(spark, p, 1L)
    // a foreign-style reader of the checkpoint parquet sees the
    // tombstones (delta requires them within the retention window —
    // its VACUUM bookkeeping and concurrent-reader grace read them)
    def cpRemoves(v: Long): Seq[String] = {
      val cp = java.nio.file.Paths.get(p, "_delta_log",
        f"$v%020d.checkpoint.parquet")
      val df = spark.read.parquet(cp.toString)
      if (!df.columns.contains("remove")) Nil
      else df.where(col("remove").isNotNull)
        .select(col("remove.path"), col("remove.deletionTimestamp"))
        .collect().map(r => { assert(!r.isNullAt(1),
          "tombstones must carry deletionTimestamp"); r.getString(0) }).toSeq
    }
    val t1 = cpRemoves(1L)
    assert(t1.nonEmpty, "the delete's removed file must survive the fold")
    // the snapshot read THROUGH the tombstone-bearing checkpoint is
    // unchanged, both fold routes
    DeltaLog.cleanupLog(spark, p)
    assert(DeltaLog.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq ==
      (3L to 6L))
    // vacuum behavior unchanged: within retention nothing sweeps, past
    // retention the tombstoned file goes
    assert(DeltaLog.vacuum(spark, p).isEmpty)
    // tombstones CARRY FORWARD through the next fold (prev-checkpoint
    // seeding) while unexpired…
    DeltaLog.write(Seq((9L, "z")).toDF("id", "s"), "append", p,
      checkpointInterval = 0)                                      // v2
    DeltaLog.writeCheckpoint(spark, p, 2L)
    assert(cpRemoves(2L).toSet == t1.toSet,
      "unexpired tombstones must survive re-checkpointing")
    // …and DROP once expired (retention 0 expires everything)
    DeltaLog.writeCheckpoint(spark, p, 2L, removeRetentionMs = 0L)
    assert(cpRemoves(2L).isEmpty, "expired tombstones must drop")
    // a removed-then-RE-ADDED path reconciles to the add: restore brings
    // the deleted rows back, and the next checkpoint holds no tombstone
    // for the resurrected files
    val pr = wipe("tombstones_restore")
    DeltaLog.write((1L to 4L).map(i => (i, s"v$i")).toDF("id", "s"),
      "overwrite", pr, checkpointInterval = 0)                     // v0
    DeltaLog.deleteWhere(spark, pr, "id <= 2")                     // v1
    DeltaLog.restore(spark, pr, 0L)                                // v2: re-add
    DeltaLog.writeCheckpoint(spark, pr, 2L)
    val cpR = spark.read.parquet(java.nio.file.Paths.get(pr, "_delta_log",
      "0" * 19 + "2.checkpoint.parquet").toString)
    val addPaths = cpR.where(col("add").isNotNull)
      .select(col("add.path")).collect().map(_.getString(0)).toSet
    val remPaths = if (!cpR.columns.contains("remove")) Set.empty[String]
      else cpR.where(col("remove").isNotNull)
        .select(col("remove.path")).collect().map(_.getString(0)).toSet
    assert(remPaths.intersect(addPaths).isEmpty,
      s"re-added paths must not carry tombstones: ${remPaths.intersect(addPaths)}")
    DeltaLog.cleanupLog(spark, pr)
    assert(DeltaLog.read(spark, pr).count() == 4L)
  }

  test("tombstone expiry honors the table's own deletedFileRetentionDuration") {
    val sp = spark; import sp.implicits._
    val p = wipe("tombstones_prop")
    // table configured with LONG retention: the property must win over
    // the (shorter) parameter — dropping its tombstones early would
    // weaken the concurrent-reader/foreign-vacuum protection the
    // protocol's retention rule provides
    DeltaLog.write((1L to 4L).map(i => (i, s"v$i")).toDF("id", "s"),
      "overwrite", p, checkpointInterval = 0,
      tableProperties =
        Map("delta.deletedFileRetentionDuration" -> "interval 30 days"))
    DeltaLog.deleteWhere(spark, p, "id <= 2")                      // v1
    DeltaLog.writeCheckpoint(spark, p, 1L, removeRetentionMs = 0L)
    def cpRemoveCount(path: String): Long = {
      val cp = java.nio.file.Paths.get(path, "_delta_log",
        "0" * 19 + "1.checkpoint.parquet")
      val df = spark.read.parquet(cp.toString)
      if (!df.columns.contains("remove")) 0L
      else df.where(col("remove").isNotNull).count()
    }
    assert(cpRemoveCount(p) > 0L,
      "a 30-day table retention must keep fresh tombstones even when " +
        "the caller's parameter says 0")
    // and a SHORT table retention expires them ahead of the 7-day default
    val ps = wipe("tombstones_prop_short")
    DeltaLog.write((1L to 4L).map(i => (i, s"v$i")).toDF("id", "s"),
      "overwrite", ps, checkpointInterval = 0,
      tableProperties =
        Map("delta.deletedFileRetentionDuration" -> "interval 1 millisecond"))
    DeltaLog.deleteWhere(spark, ps, "id <= 2")
    Thread.sleep(10)
    DeltaLog.writeCheckpoint(spark, ps, 1L) // parameter default: 7 days
    assert(cpRemoveCount(ps) == 0L,
      "a 1 ms table retention must expire tombstones ahead of the default")
    // parser sanity
    assert(DeltaLog.parseDeltaInterval("interval 1 week").contains(
      7L * 24 * 3600 * 1000))
    assert(DeltaLog.parseDeltaInterval("INTERVAL 2 HOURS").contains(
      2L * 3600 * 1000))
    assert(DeltaLog.parseDeltaInterval("3 days").contains(
      3L * 24 * 3600 * 1000))
    assert(DeltaLog.parseDeltaInterval("interval 1 fortnight").isEmpty)
    assert(DeltaLog.parseDeltaInterval("garbage").isEmpty)
  }

  test("v2 checkpoints carry tombstones in their sidecars") {
    val sp = spark; import sp.implicits._
    val p = wipe("tombstones_v2")
    DeltaLog.write((1L to 6L).map(i => (i, s"v$i")).toDF("id", "s"),
      "overwrite", p,
      tableProperties = Map("delta.checkpointPolicy" -> "v2"),
      checkpointInterval = 0)                                      // v0
    DeltaLog.deleteWhere(spark, p, "id <= 2")                      // v1
    DeltaLog.writeCheckpoint(spark, p, 1L)
    val sidecarDir = java.nio.file.Paths.get(p, "_delta_log", "_sidecars")
    val sidecars = java.nio.file.Files.list(sidecarDir).toArray
      .map(_.toString).filter(_.endsWith(".parquet"))
    val sc = spark.read.parquet(sidecars: _*)
    assert(sc.columns.contains("remove"), "sidecars must carry tombstones")
    assert(sc.where(col("remove").isNotNull).count() >= 1L)
    // the manifest itself holds NO file actions
    val manifest = java.nio.file.Files.list(
      java.nio.file.Paths.get(p, "_delta_log")).toArray
      .map(_.asInstanceOf[java.nio.file.Path].toString)
      .find(_.matches(".*0{19}1\\.checkpoint\\.[0-9a-f-]{36}\\.parquet")).get
    val m = spark.read.parquet(manifest)
    Seq("add", "remove").foreach { c =>
      if (m.columns.contains(c))
        assert(m.where(col(c).isNotNull).count() == 0L,
          s"manifest must hold no $c actions")
    }
    // fold through the tombstone-bearing v2 checkpoint is unchanged
    DeltaLog.cleanupLog(spark, p)
    assert(DeltaLog.read(spark, p).collect().map(_.getLong(0)).sorted.toSeq ==
      (3L to 6L))
  }

  /** One table history per checkpoint route — the driver fold (default
    * threshold) and the distributed plan (0L): `history(path, route)`
    * builds the table and returns the version to checkpoint. After
    * writeCheckpoint + cleanupLog both routes must read the same rows,
    * write the same _last_checkpoint size/parts and agree on `probe`.
    * Returns the probe's value.
    */
  private def bothRoutes[T](name: String, rowsPerPart: Int = 1000000)(
      probe: String => T)(history: (String, Long) => Long): T = {
    val results = Seq(DeltaLog.SnapshotDriverMaxBytes, 0L).map { route =>
      val p = wipe(s"routes_${name}_$route")
      val v = history(p, route)
      DeltaLog.writeCheckpoint(spark, p, v, rowsPerPart = rowsPerPart,
        snapshotDriverMaxBytes = route)
      DeltaLog.cleanupLog(spark, p)
      (DeltaLog.read(spark, p).collect().map(_.mkString("|")).sorted.toSeq,
        lastCheckpoint(p), probe(p))
    }
    assert(results.head == results.last,
      s"$name: the checkpoint routes disagree\ndriver=${results.head}\n" +
        s"distributed=${results.last}")
    results.head._3
  }

  test("both checkpoint routes write the same checkpoint") {
    val sp = spark; import sp.implicits._
    def ids(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "s")
    def rowStrings(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.mkString("|")).sorted.toSeq
    def cpRemoves(p: String, v: Long): Long = {
      val df = spark.read.parquet(java.nio.file.Paths.get(p, "_delta_log",
        f"$v%020d.checkpoint.parquet").toString)
      if (!df.columns.contains("remove")) 0L
      else df.where(col("remove").isNotNull).count()
    }
    // a remove tombstone inside the retention window
    val tombstones = bothRoutes("tombstone")(cpRemoves(_, 1L)) { (p, _) =>
      DeltaLog.write(ids(1 to 6).repartition(3), "overwrite", p,
        checkpointInterval = 0)
      DeltaLog.deleteWhere(spark, p, "id <= 2")
      1L
    }
    assert(tombstones > 0L)
    // txn watermarks: the highest version per appId survives the fold
    val txns = bothRoutes("txn")(p => Seq("app-x", "app-y").map(app =>
      DeltaLog.tableState(spark,
        new org.apache.hadoop.fs.Path(p).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(p)).txns.get(app))) { (p, _) =>
      DeltaLog.write(ids(1 to 2), "overwrite", p, txn = Some(("app-x", 1L)),
        checkpointInterval = 0)
      DeltaLog.write(ids(3 to 4), "append", p, txn = Some(("app-x", 2L)),
        checkpointInterval = 0)
      DeltaLog.write(ids(5 to 6), "append", p, txn = Some(("app-y", 5L)),
        checkpointInterval = 0)
      2L
    }
    assert(txns == Seq(Some(2L), Some(5L)))
    // row tracking: baseRowIds and the domainMetadata high-water mark
    bothRoutes("rowtracking")(p =>
        rowStrings(DeltaLog.readWithRowIds(spark, p))) { (p, _) =>
      DeltaLog.write(ids(1 to 4), "overwrite", p,
        tableProperties = Map("delta.enableRowTracking" -> "true"),
        checkpointInterval = 0)
      DeltaLog.write(ids(5 to 6), "append", p, checkpointInterval = 0)
      DeltaLog.upsert(Seq((2L, "u2")).toDF("id", "s"), Seq("id"), p)
      2L
    }
    // a null partition value, as the protocol writes it (JSON null)
    val nullPart = bothRoutes("nullpart")(p =>
        rowStrings(DeltaLog.readWhere(spark, p, "part IS NULL"))) { (p, _) =>
      DeltaLog.write(Seq((1L, "a"), (2L, null), (3L, "b")).toDF("id", "part"),
        "overwrite", p, partitionBy = Seq("part"), checkpointInterval = 0)
      val commit = java.nio.file.Paths.get(p, "_delta_log", "0" * 20 + ".json")
      val hiveNull = "\"part\":\"__HIVE_DEFAULT_PARTITION__\""
      assert(Files.readString(commit).contains(hiveNull))
      Files.writeString(commit,
        Files.readString(commit).replace(hiveNull, "\"part\":null"))
      Files.deleteIfExists(commit.resolveSibling("." + "0" * 20 + ".json.crc"))
      DeltaLog.write(Seq((4L, "a")).toDF("id", "part"), "append", p,
        partitionBy = Seq("part"), checkpointInterval = 0)
      1L
    }
    assert(nullPart == Seq("2|null"))
    // seeding from a previous checkpoint (commits before it cleaned up)
    bothRoutes("seeded")(_ => ()) { (p, route) =>
      DeltaLog.write(ids(1 to 4).repartition(2), "overwrite", p,
        checkpointInterval = 0)
      DeltaLog.write(ids(5 to 6), "append", p, checkpointInterval = 0)
      DeltaLog.writeCheckpoint(spark, p, 1L, snapshotDriverMaxBytes = route)
      DeltaLog.cleanupLog(spark, p)
      DeltaLog.write(ids(7 to 8), "append", p, checkpointInterval = 0)
      DeltaLog.deleteWhere(spark, p, "id = 5")
      3L
    }
    // multi-part layout
    bothRoutes("multipart", rowsPerPart = 2)(_ => ()) { (p, _) =>
      DeltaLog.write(ids(1 to 9).repartition(9), "overwrite", p,
        checkpointInterval = 0)
      DeltaLog.write(ids(10 to 10), "append", p, checkpointInterval = 0)
      1L
    }
    // a v2Checkpoint table (sidecars + manifest)
    bothRoutes("v2")(_ => ()) { (p, _) =>
      DeltaLog.write(ids(1 to 6).repartition(2), "overwrite", p,
        tableProperties = Map("delta.checkpointPolicy" -> "v2"),
        checkpointInterval = 0)
      DeltaLog.deleteWhere(spark, p, "id <= 2")
      1L
    }
  }
}
