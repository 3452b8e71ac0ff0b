package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.expressions.Window

/** Structured-Streaming extension (SURVEY §2.13 note + §7.2 M5): the
  * reference has only pull-based result iteration, no event-time
  * semantics; the driver's `events` table motivates true streaming.
  * Each transform takes a DataFrame so it runs identically on
  * `spark.readStream` (incremental, watermarked) and on a batch read —
  * the batch path is what the DuckDB oracle verifies.
  */
object EventStreams {

  /** Tumbling event-time window aggregate. On a stream add
    * `.withWatermark(tsCol, watermark)` upstream; in batch it's a plain
    * time-bucketed groupBy (same results once the stream closes).
    */
  def tumblingCounts(events: DataFrame, tsCol: String, windowLen: String,
      watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark(tsCol, w))
    src.groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Sliding window aggregate (length, slide). */
  def slidingCounts(events: DataFrame, tsCol: String, windowLen: String,
      slide: String, watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark(tsCol, w))
    src.groupBy(window(col(tsCol), windowLen, slide))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))
  }

  /** Session windows per user: gap-based sessionization. Streaming uses
    * the native session_window (state store managed); batch uses the
    * classic lag/cumsum rewrite — both produce identical closed sessions.
    */
  def sessionize(events: DataFrame, tsCol: String, userCol: String,
      gap: String, tieBreak: Seq[String] = Nil): DataFrame = {
    if (events.isStreaming) {
      events.withWatermark(tsCol, gap)
        .groupBy(session_window(col(tsCol), gap), col(userCol))
        .agg(count(lit(1)).as("n_events"))
        .select(col(userCol), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))
    } else {
      val gapSec = parseDurationSeconds(gap)
      val orderCols = (tsCol +: tieBreak).map(col)
      val w = Window.partitionBy(col(userCol)).orderBy(orderCols: _*)
      // cast-to-double = epoch seconds with fractional part (micros kept)
      events
        .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col(tsCol).cast("double") - col("prev_ts").cast("double") > gapSec, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("new_session")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(userCol), col("session_id"))
        .agg(min(col(tsCol)).as("session_start"),
          max(col(tsCol)).as("session_end"),
          count(lit(1)).as("n_events"))
        .drop("session_id")
    }
  }

  /** Exact dedup on an event stream — the streaming-ingest dedup shape a
    * training pipeline needs in front of its corpus. Streaming path:
    * `dropDuplicatesWithinWatermark` (state-store-backed suppression whose
    * state is BOUNDED by the watermark horizon — a plain dropDuplicates
    * on a stream retains every key forever and OOMs at 100 TB/day).
    * Batch path: deterministic first-occurrence keep (earliest by
    * `tsCol`, then `tieBreak`) — the form the DuckDB oracle verifies.
    *
    * Survivor contract differs between the paths, by design: both keep
    * exactly one row per key, but the stream keeps the FIRST-ARRIVING
    * duplicate (processing order; `tieBreak` has no effect) while batch
    * keeps the earliest by EVENT time — with out-of-order arrivals inside
    * the watermark, replaying the same data in batch can pick a different
    * surviving row for a key. Key SETS always agree.
    */
  def dedupEvents(events: DataFrame, tsCol: String, idCols: Seq[String],
      watermark: String = "10 minutes", tieBreak: Seq[String] = Nil): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
    else {
      val w = Window.partitionBy(idCols.map(col): _*)
        .orderBy((tsCol +: tieBreak).map(col): _*)
      events.withColumn("graft_rn", row_number().over(w))
        .where(col("graft_rn") === 1).drop("graft_rn")
    }

  private[streaming] def parseDurationSeconds(s: String): Long = {
    val m = """(\d+)\s*(second|minute|hour|day)s?""".r.findFirstMatchIn(s.toLowerCase)
      .getOrElse(throw new IllegalArgumentException(s"bad duration '$s'"))
    val n = m.group(1).toLong
    m.group(2) match {
      case "second" => n
      case "minute" => n * 60
      case "hour" => n * 3600
      case "day" => n * 86400
    }
  }

  /** Custom stateful op — running per-user event count + last value via
    * mapGroupsWithState (the reference has no stateful streaming at all;
    * this is the extension pattern for bespoke state).
    */
  def runningUserStats(events: Dataset[Row], userCol: String)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    case class UserState(n: Long, lastValue: Double)
    val grouped = events
      .selectExpr(s"$userCol as user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
    grouped.mapGroupsWithState[(Long, Double), (Long, Long, Double)](
      GroupStateTimeout.NoTimeout) {
      case (user, rows, state: GroupState[(Long, Double)]) =>
        val (pn, _) = state.getOption.getOrElse((0L, 0.0))
        var n = pn; var lastV = 0.0
        rows.foreach { r => n += 1; lastV = r._2 }
        state.update((n, lastV))
        (user, n, lastV)
    }.toDF("user_id", "n_events", "last_value")
  }

  /** [[runningUserStats]] on Spark 4's transformWithState — the current
    * arbitrary-state API (typed ValueState handles, per-state TTL,
    * timers, RocksDB-backed at scale) that supersedes
    * mapGroupsWithState. Functionally identical output so the two are
    * cross-checked in the spec; new stateful operators should start
    * here. Requires the RocksDB state store
    * (`spark.sql.streaming.stateStore.providerClass =
    * ...state.RocksDBStateStoreProvider`) — the default HDFS-backed
    * store has no multi-column-family support.
    */
  def runningUserStatsTws(events: Dataset[Row], userCol: String)(
      implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}
    // resolve the state encoder HERE, not inside the processor: an
    // implicitly[...] in init would route through spark.implicits and make
    // the processor capture the SparkSession — which stops serializing the
    // moment anything initializes the session's (non-serializable, lazily
    // created) ObservationManager, e.g. any Dataset.observe() in the same
    // JVM. The ExpressionEncoder itself is serializable.
    val stateEnc = implicitly[org.apache.spark.sql.Encoder[(Long, Double)]]
    class Proc extends StatefulProcessor[Long, (Long, Double), (Long, Long, Double)] {
      @transient private var st: ValueState[(Long, Double)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        st = getHandle.getValueState[(Long, Double)]("stats", stateEnc, TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
          timers: TimerValues): Iterator[(Long, Long, Double)] = {
        var (n, last) = if (st.exists()) st.get() else (0L, 0.0)
        rows.foreach { r => n += 1; last = r._2 }
        st.update((n, last))
        Iterator.single((key, n, last))
      }
    }
    events.selectExpr(s"$userCol as user_id", "value")
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new Proc, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "last_value")
  }

  /** Batch twin of [[runningUserStats]]/[[runningUserStatsTws]]: the
    * cumulative per-user state AFTER each event, on a static frame — row
    * i of user u carries n_events = count of u's events up to and
    * including i in (tsCol, idCol) order and last_value = row i's value.
    * The final row per user is exactly the stateful op's end-of-stream
    * state when events arrive in event order, so this is the form the
    * DuckDB CORRECTNESS gate grades (the RocksDB streaming spec covers
    * the state-store machinery; this pins the state-transition
    * semantics). One user-keyed shuffle for the window.
    */
  def runningUserStatsBatch(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    // a null event time cannot exist in the streaming twin (watermarks
    // require it) and would order nulls-FIRST here vs nulls-last in SQL
    // engines — drop it so the batch numbering is engine-pinned
    events.where(col(tsCol).isNotNull)
      .select(col(userCol).as("user_id"), col(idCol).as("event_id"),
      row_number().over(w).cast("bigint").as("n_events"),
      col(valueCol).as("last_value"))
  }

  /** First-order event-transition matrix: for consecutive events per key
    * (event-time order, `tieBreak` disambiguating equal timestamps),
    * counts and conditional probabilities P(to | from) — the Markov-chain
    * view of user behavior. One key shuffle for the lead window, one
    * (from, to) rollup; the per-from normalizer is a window over the tiny
    * (types × types) count frame, not the events.
    */
  def transitionMatrix(events: DataFrame, tsCol: String, keyCol: String,
      typeCol: String, tieBreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy((tsCol +: tieBreak).map(col): _*)
    val counts = events
      .withColumn("graft_next", lead(col(typeCol), 1).over(w))
      .where(col("graft_next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("graft_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy(col("from_type"))
    counts.withColumn("p",
      round(col("n").cast("double") / sum(col("n")).over(totals), 6))
  }

  /** Cohort retention: keys grouped by the period of their FIRST event
    * (the cohort), counted distinct in every later period they were
    * active — the week-over-week retention matrix. Period indices are
    * integer epoch-micros `div` period (Spark's `/` on longs is true
    * division; `div` keeps the arithmetic exact and engine-identical).
    *
    * Scale shape: one groupBy for first events, one key-equi join back
    * (AQE broadcasts the firsts side when small), one (cohort, offset)
    * count-distinct — all map-side combined; no window, no explosion.
    */
  def retention(events: DataFrame, tsCol: String, keyCol: String,
      periodSeconds: Long = 7L * 86400L): DataFrame = {
    val periodUs = periodSeconds * 1000000L
    val firsts = events.groupBy(col(keyCol))
      .agg(min(col(tsCol)).as("graft_first"))
      .withColumn("cohort", expr(s"unix_micros(graft_first) div $periodUs"))
    events.join(firsts, Seq(keyCol))
      .withColumn("period_offset",
        expr(s"unix_micros(`$tsCol`) div $periodUs") - col("cohort"))
      .groupBy(col("cohort"), col("period_offset"))
      .agg(countDistinct(col(keyCol)).as("n_active"))
  }

  /** Ordered funnel analysis: for each key, the earliest chain of `steps`
    * event types where each step happens STRICTLY after the previous one
    * (the product-analytics "view → click → purchase" question). Output:
    * one row per key that reached step 1, with `t1..tn` step timestamps
    * (null from the first missed step on — nullity is monotone),
    * `steps_completed`, and `converted` = all steps within
    * `withinSeconds` of t1.
    *
    * Built by FOLDING [[graft.operators.TemporalJoins.asofJoin]] forward
    * strict over the steps: step i+1's timestamp is the least candidate
    * timestamp > tᵢ per key — each fold step is one by-key shuffle of
    * (keys ∪ step-i+1 events), never a per-key event blowup. Earliest-
    * chain greediness is sound for reachability: taking the earliest
    * valid step never forecloses a later completion.
    */
  def funnel(events: DataFrame, tsCol: String, keyCol: String,
      typeCol: String, steps: Seq[String], withinSeconds: Long): DataFrame = {
    require(steps.size >= 2, "funnel: need at least two steps")
    val first = events.where(col(typeCol) === steps.head)
      .groupBy(col(keyCol)).agg(min(col(tsCol)).as("t1"))
    val chained = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"t${i + 1}"; val cur = s"t${i + 2}"
        val cand = events.where(col(typeCol) === step)
          .select(col(keyCol), col(tsCol).as("graft_step_ts"))
        graft.operators.TemporalJoins.asofJoin(acc, cand, prev,
            "graft_step_ts", Seq(keyCol), "forward",
            allowExactMatches = false, rightPrefix = s"${cur}_")
          .withColumnRenamed(s"${cur}_graft_step_ts", cur)
          // a null tᵢ means the chain already broke: mask whatever the
          // as-of matched for the null-ordered row (nullity stays monotone)
          .withColumn(cur,
            when(col(prev).isNull, lit(null).cast("timestamp"))
              .otherwise(col(cur)))
    }
    val tCols = (1 to steps.size).map(i => col(s"t$i"))
    val completed = tCols.map(c => c.isNotNull.cast("long")).reduce(_ + _)
    val last = tCols.last
    chained
      .withColumn("steps_completed", completed)
      .withColumn("converted", last.isNotNull &&
        unix_micros(last) - unix_micros(col("t1")) <= withinSeconds * 1000000L)
  }

  /** Trailing event-time features per key — the feature-store shape: for
    * every event, aggregates over that key's events in the preceding
    * `seconds` (inclusive of the boundary and of same-timestamp peers —
    * RANGE frame semantics, identical across engines). Emits, per named
    * window, `n_<name>` (count) and `sum_<name>` (sum of `valueCol`).
    *
    * Scale shape: ONE hash shuffle on the key + a partition-local sort
    * shared by every requested window frame (same partitioning + ordering
    * ⇒ one Window operator evaluates all the frames in one pass). The
    * RANGE frame is over integer epoch-MICROS, so frame membership is
    * exact integer arithmetic — no float time comparisons.
    */
  def rollingFeatures(events: DataFrame, tsCol: String, keyCol: String,
      valueCol: String, windows: Seq[(String, Long)]): DataFrame = {
    require(windows.nonEmpty, "rollingFeatures: need at least one window")
    val ord = Window.partitionBy(col(keyCol)).orderBy(unix_micros(col(tsCol)))
    windows.foldLeft(events) { case (df, (name, seconds)) =>
      val w = ord.rangeBetween(-seconds * 1000000L, 0L)
      df.withColumn(s"n_$name", count(lit(1)).over(w))
        .withColumn(s"sum_$name", sum(col(valueCol)).over(w))
    }
  }

  /** Streaming ingest dedup AGAINST A PERSISTED CORPUS: rows of the stream
    * whose `textCol` does not already occur in the corpus, as a
    * stream-static LEFT ANTI join on the 128-bit text key
    * ([[graft.operators.Dedup.corpusKeys128]] — write those keys once per
    * corpus snapshot and point every ingest stream at them).
    *
    * Scale shape: the static side is 16 bytes/distinct-doc and re-read per
    * micro-batch, so persist it small (parquet) or broadcast-sized; the
    * stream side carries NO state at all — unlike
    * [[dedupEvents]]'s watermark-bounded state store, the anti join is
    * stateless per batch because the corpus is fixed. Compose the two for
    * the full ingest contract: dedupEvents (within-stream dups) →
    * dedupAgainstCorpus (already-ingested dups). Works identically on a
    * batch frame — that form is what the driver's oracle grades
    * (`q_events_new_docs`).
    */
  def dedupAgainstCorpus(stream: DataFrame, textCol: String,
      corpusKeys: DataFrame): DataFrame =
    stream.join(corpusKeys,
      graft.operators.Dedup.key128(col(textCol)) === col("graft_ck"),
      "left_anti")

  /** Watermarked stream-stream INNER join: left and right events with equal
    * `keyCols` whose right timestamp lies within `[lTs - beforeSeconds,
    * lTs + afterSeconds]`. On streams both sides get `watermark` and the
    * time-range predicate is exactly what lets Structured Streaming BOUND
    * the join state: a buffered row is droppable once the other side's
    * watermark passes its timestamp + the range width — without the range
    * conjunct, stream-stream join state grows forever. On batch frames the
    * same expression is a plain equi-join + range filter (the oracle
    * path). Output carries every left column plus the right's non-key
    * columns as `rightPrefix + name`.
    */
  def joinWithin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      lTs: String, rTs: String, beforeSeconds: Long, afterSeconds: Long,
      watermark: String = "10 minutes", rightPrefix: String = "r_"): DataFrame = {
    require(lTs != rTs,
      "joinWithin: left and right timestamp columns must have distinct names")
    val l = if (left.isStreaming) left.withWatermark(lTs, watermark) else left
    val rightPayload = right.columns.filterNot(keyCols.contains).toSeq
    val r0 = right.select(
      keyCols.map(c => col(c).as(s"graft_rk_$c")) ++
        rightPayload.map(c => col(c).as(rightPrefix + c)): _*)
    // watermark AFTER the rename so the event-time attribute the join's
    // state cleanup tracks is the one that appears in the range predicate
    val r = if (right.isStreaming) r0.withWatermark(rightPrefix + rTs, watermark)
            else r0
    val keyEq = keyCols.map(c => col(c) === col(s"graft_rk_$c")).reduce(_ && _)
    val rTsOut = col(rightPrefix + rTs)
    val inRange =
      rTsOut >= col(lTs) - expr(s"INTERVAL $beforeSeconds SECONDS") &&
        rTsOut <= col(lTs) + expr(s"INTERVAL $afterSeconds SECONDS")
    l.join(r, keyEq && inRange)
      .drop(keyCols.map(c => s"graft_rk_$c"): _*)
  }

  /** Throughput drill for the REAL streaming path (the batch twins grade
    * state-transition semantics; this times the machinery itself): shard
    * `events` into `numShards` parquet files, replay them as a
    * file-source stream at one file per micro-batch, run
    * [[runningUserStatsTws]] on the RocksDB state store, and drain into a
    * counting foreachBatch sink. Returns (inputRows, outputRows,
    * seconds) — rows/s through transformWithState + RocksDB, checkpoint
    * I/O and micro-batch scheduling included, which is the number a
    * capacity plan for a 100 TB event stream actually needs.
    */
  def streamThroughput(spark: SparkSession, events: DataFrame,
      workDir: String, numShards: Int = 8,
      statePartitions: Int = -1): (Long, Long, Double) = {
    val root = new org.apache.hadoop.fs.Path(workDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(root, true)
    val src = s"$workDir/src"
    events.select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .repartition(numShards).write.mode("overwrite").parquet(src)
    val written = graft.sources.Loaders.readParquet(spark, src)
    val inputRows = written.count()
    val schema = written.schema
    // statePartitions > 0: size the state-store partition count for the
    // drill (a REAL production dial — the stream's shuffle-partition
    // setting at FIRST checkpoint fixes how many RocksDB instances every
    // micro-batch must open/commit; 32 one-core instances at local bench
    // scale is mostly fixed cost). Separately-named drill in Bench — the
    // default-sized drill keeps its methodology.
    //
    // changelog checkpointing (Spark 3.4+): commit uploads the batch's
    // changelog instead of a full RocksDB snapshot — the standard
    // production setting for exactly the per-micro-batch fixed cost this
    // drill measures (optimization guide §1.2: fix the algorithmic cost,
    // here per-commit I/O, before configs). State semantics identical;
    // snapshots still happen in the background at the maintenance
    // interval.
    val confs = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true"
    ) ++ (if (statePartitions > 0)
      Seq("spark.sql.shuffle.partitions" -> statePartitions.toString) else Nil)
    val outRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val t0 = System.nanoTime()
    graft.sources.Loaders.withConf(spark, confs: _*) {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = runningUserStatsTws(stream, "user_id")(spark)
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$workDir/ckpt")
        .foreachBatch { (df: Dataset[Row], _: Long) =>
          outRows.addAndGet(df.count()); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    (inputRows, outRows.get(), (System.nanoTime() - t0) / 1e9)
  }

  /** writeStream convenience: parquet sink with checkpointing. */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String,
      triggerMs: Long = 1000): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append())
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .start()

  /** Streaming delta sink: each micro-batch becomes one numbered APPEND
    * commit in the table's `_delta_log` (foreachBatch → [[graft.sources.
    * DeltaLog.write]]), so a batch reader — or [[graft.sources.DeltaLog.
    * readWhere]]'s stats pruning — sees every ingested batch atomically,
    * with per-file stats, checkpoints bounding replay, and OPTIMIZE
    * available for the small-files the micro-batches pile up.
    *
    * Exactly-once: each micro-batch commit carries the delta protocol's
    * SetTransaction action keyed (appId derived from the checkpoint
    * location, batchId) — when Structured Streaming replays an
    * unacknowledged batch after a crash, [[graft.sources.DeltaLog.write]]
    * sees the txn watermark already committed and skips, so the table
    * never double-appends. The watermark survives log cleanup (it is
    * folded into checkpoints). `graft_batch_id` additionally rides in
    * the data for lineage. Empty batches commit nothing.
    */
  def toDeltaSink(df: DataFrame, path: String, checkpoint: String,
      partitionBy: Seq[String] = Nil,
      triggerMs: Long = 1000): org.apache.spark.sql.streaming.StreamingQuery = {
    // stable across restarts of the SAME query: the checkpoint location
    // IS the query's durable identity
    val appId = "graft-sink-" + java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    df.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.sources.DeltaLog.write(
            batch.withColumn("graft_batch_id", lit(batchId)),
            mode = "append", path = path, partitionBy = partitionBy,
            txn = Some((appId, batchId)))
      }
      .start()
  }

  /** Streaming NEAR-dup ingest filter: each micro-batch is checked against
    * the PERSISTED MinHash band index (built once per corpus by
    * [[graft.operators.Dedup.minhashBandIndex]]) and only documents with
    * NO near-duplicate in the corpus are appended to `sinkPath` — the
    * crawl-ingest shape where tonight's pages must not re-enter a corpus
    * that already holds a near-copy.
    *
    * Per batch this costs sketch(batch) + a band join of the (small,
    * broadcast) batch bands against the index + exact Jaccard verification
    * pruned to candidate ids ([[graft.operators.Dedup.incrementalNearDupPairs]]'s
    * contract) — the corpus is never re-sketched. foreachBatch rather than
    * a stream transform because the verify stage re-reads corpus text for
    * candidate ids, which a stateful streaming operator cannot express.
    */
  def nearDedupSink(stream: DataFrame, textCol: String, idCol: String,
      corpus: DataFrame, corpusIndex: DataFrame, sinkPath: String,
      checkpoint: String, numHashes: Int = 64, bands: Int = 16,
      shingleWords: Int = 3, jaccardThreshold: Double = 0.5,
      triggerMs: Long = 1000): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        if (!batch.isEmpty) {
          val dupIds = graft.operators.Dedup.incrementalNearDupPairs(
              batch.toDF(), corpus, textCol, idCol, numHashes, bands,
              shingleWords, jaccardThreshold, corpusIndex = Some(corpusIndex))
            .select(col("batch_id").as(idCol)).distinct()
          batch.join(dupIds, Seq(idCol), "left_anti")
            .write.mode("append").parquet(sinkPath)
        }
      }
      .start()
}
