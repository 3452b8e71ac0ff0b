package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.GraftFrame
import graft.normalize.Normalize

/** Loading surface — extension-dispatch `load` plus per-format loaders
  * (reference: src/elusion.rs:282-318, 6716-6760 dispatch; §2.1 of SURVEY).
  * All loads are lazy Spark reads — the reference collects every load into
  * driver memory (src/elusion.rs:6415-6431), which we deliberately do not.
  */
object Loaders {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private lazy val defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder: `local[cpus]` with one shuffle partition
    * per core. Only the confs that differ from Spark's defaults are set
    * (adaptive execution and partition coalescing are on by default).
    */
  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS), which Spark rejects
      // unless it reads as a long (loadParquet turns it back)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // id-mode column-mapped delta tables resolve columns BY parquet
      // field id; the conf is session-wide (Spark has no per-read form)
      // and a NO-OP for any read whose schema carries no parquet.field.id
      // metadata, so it is set at session build — never mid-read, where
      // a conf flip would race concurrent queries mid-plan
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` with the session confs `kvs` set, then puts each key
    * back as it was — its prior value, or unset — also when `body`
    * throws.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val prior = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Extension dispatch (reference src/elusion.rs:6716-6760): delta dir
    * check first, then csv/json/parquet. Column names lowercased on load.
    */
  def load(spark: SparkSession, path: String, alias: String): GraftFrame = {
    val lower = path.toLowerCase
    // Directory/delta checks via Hadoop FS so dispatch works on HDFS/S3
    // paths, not just local disk.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val isDir = fs.exists(hPath) && fs.getFileStatus(hPath).isDirectory
    if (isDir && fs.exists(new org.apache.hadoop.fs.Path(hPath, "_delta_log")))
      loadDelta(spark, path, alias)
    else if (lower.endsWith(".csv")) loadCsv(spark, path, alias)
    else if (lower.endsWith(".json")) loadJson(spark, path, alias)
    else if (lower.endsWith(".xml")) XmlLoader.load(spark, path, alias)
    else if (lower.endsWith(".xlsx") || lower.endsWith(".xls"))
      ExcelLoader.load(spark, path, alias)
    else if (lower.endsWith(".parquet")) loadParquet(spark, path, alias)
    else if (lower.endsWith(".orc")) loadOrc(spark, path, alias)
    else if (isDir) loadParquet(spark, path, alias)
    else throw graft.GraftError.InvalidOperation("load",
      s"unsupported file type for $path")
  }

  /** Lazy parquet load; starts no Spark job (a listing wide enough for
    * Spark to distribute still runs its listing job, as every read does).
    * The schema is the one a schema-less `spark.read.parquet(path)`
    * infers, taken from the same file's footer read on the driver instead
    * of inside Spark's one-task inference job: `_common_metadata`, else
    * `_metadata`, else the first data file in path order of Spark's
    * listing (see [[readParquet]]). Partition columns are discovered from
    * the directory names as before.
    */
  def loadParquet(spark: SparkSession, path: String, alias: String): GraftFrame = {
    val (df, nanoCols) = parquetFrame(spark, Seq(path))
    GraftFrame(normalizeNtzTimestamps(normalizeNanoTimestamps(df, nanoCols)), alias)
  }

  /** `spark.read.parquet(paths: _*)` without the schema-inference job:
    * the schema inference would derive comes from one footer read on the
    * driver, and the frame is built over the listing that picked the
    * footer, so the paths are listed once, as by the schema-less read.
    * Falls back to the schema-less read — so errors stay Spark's own
    * (missing path, empty directory, corrupt footer) — when the session
    * merges schemas, when the footer cannot be read or converted, and when
    * a footer column shares its name with a partition column (a declared
    * schema types such a column, inference types it from the directory
    * names).
    */
  private[graft] def readParquet(spark: SparkSession, paths: String*): DataFrame =
    parquetFrame(spark, paths)._1

  /** [[readParquet]]'s frame plus the top-level columns the same footer
    * annotates as TIMESTAMP(NANOS) (see [[normalizeNanoTimestamps]]).
    */
  private def parquetFrame(spark: SparkSession,
      paths: Seq[String]): (DataFrame, Set[String]) = {
    import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
    val probe =
      try Right(GraftParquetShim.inferenceFooter(spark, paths)
        .map(f => (f.footer, GraftParquetShim.declaredFrame(spark, f))))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val footer = probe.toOption.flatten
    val df = footer.flatMap(_._2).getOrElse(spark.read.parquet(paths: _*))
    // the read succeeded where the footer read failed: a missed nano
    // column must be visible, not indistinguishable from "none" — on a
    // transient FS error the conversion silently varying between retries
    // would be nondeterministic corruption
    probe.left.foreach(e => System.err.println(
      s"[graft] WARN parquet footer read failed for ${paths.mkString(", ")}: ${e.getMessage}"))
    (df, footer.fold(Set.empty[String])(f => nanoTsColumns(f._1)))
  }

  /** Parquet `timestamp` columns written WITHOUT `isAdjustedToUTC` arrive
    * as TIMESTAMP_NTZ in Spark 4. The engine's temporal operators
    * (as-of/range joins, funnels, sessionization, watermarked streams)
    * standardize on TIMESTAMP — `unix_micros`, watermarks, and interval
    * arithmetic all require it — so NTZ columns are cast on load. The
    * naive wall-clock is always interpreted as UTC — matching how a
    * naive-timestamp engine (DuckDB, the reference's DataFusion core)
    * reads the same file. Under the engine's fixed UTC session
    * ([[session]]) that is a plain cast; under a caller-built non-UTC
    * session the naive value is first shifted with `convert_timezone`
    * (per-value, DST-correct) so the cast still lands on the as-if-UTC
    * instant instead of silently drifting by the session offset.
    * Top-level columns only — the temporal operator surface keys on
    * top-level event-time columns. Applied on EVERY parquet-backed load
    * path (plain, delta snapshot, delta predicate-pruned, delta-less
    * fallback, append re-read) so event-time typing never differs by
    * load path.
    */
  private[graft] def normalizeNtzTimestamps(df: DataFrame): DataFrame = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else {
      val sessionTz = df.sparkSession.conf
        .get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID)
      df.withColumns(ntz.map { f =>
        // backtick-escape: a top-level name containing a dot is valid in
        // parquet and must not parse as a struct access (see the nano
        // normalizer below, which escapes for the same reason)
        val c = col(s"`${f.name.replace("`", "``")}`")
        val cast =
          if (sessionTz == "UTC") c.cast(TimestampType)
          else convert_timezone(lit("UTC"), lit(sessionTz), c).cast(TimestampType)
        f.name -> cast
      }.toMap)
    }
  }

  /** Spark 4 rejects parquet TIMESTAMP(NANOS); sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so such columns arrive as
    * LongType nanos — convert them back to microsecond timestamps
    * (integer `div`, no double round-trip: nanos exceed 2^53).
    *
    * Which long columns were nano-timestamps is decided by the parquet
    * FOOTER's logical-type annotation, not a column-name heuristic (a
    * round-2 name test silently corrupted legitimate long columns named
    * `*_ts`) — the footer [[parquetFrame]] reads for the schema.
    */
  private def nanoTsColumns(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata): Set[String] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    val schema = footer.getFileMetaData.getSchema
    (0 until schema.getFieldCount).flatMap { i =>
      val t = schema.getType(i)
      if (t.isPrimitive) t.getLogicalTypeAnnotation match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
            if ts.getUnit == TimeUnit.NANOS => Some(t.getName)
        case _ => None
      } else None
    }.toSet
  }

  private[sources] def normalizeNanoTimestamps(df: DataFrame,
      nanoCols: Set[String]): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == LongType && nanoCols.contains(f.name))
        d.withColumn(f.name, expr(s"timestamp_micros(`${f.name}` div 1000)"))
      else d
    }

  /** Delta read: replay the `_delta_log` snapshot (adds − removes) and
    * read exactly the active files — see [[DeltaLog.read]]. Unlike the
    * reference, which reads delta parquet with pruning disabled
    * (src/elusion.rs:6656-6660, an anti-optimization SURVEY §4.1 flags),
    * we keep pruning on. Falls back to a plain parquet read when the
    * directory has no log (pre-delta layouts).
    */
  def loadDelta(spark: SparkSession, path: String, alias: String,
      versionAsOf: Option[Long] = None): GraftFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(hPath, "_delta_log")))
      GraftFrame(normalizeNtzTimestamps(DeltaLog.read(spark, path, versionAsOf)), alias)
    else if (versionAsOf.nonEmpty)
      throw graft.GraftError.InvalidOperation("load_delta",
        s"versionAsOf requires a _delta_log; $path has none")
    else GraftFrame(normalizeNtzTimestamps(readParquet(spark, path)), alias)
  }

  /** Time travel by TIMESTAMP (delta's `timestampAsOf`): the newest
    * commit at or before `tsMillis` — see [[DeltaLog.readAsOfTimestamp]].
    */
  def loadDeltaAsOfTimestamp(spark: SparkSession, path: String,
      alias: String, tsMillis: Long): GraftFrame =
    GraftFrame(normalizeNtzTimestamps(
      DeltaLog.readAsOfTimestamp(spark, path, tsMillis)), alias)

  /** Predicate-pruned delta read: only files whose add-action stats may
    * satisfy `predicate` are opened — see [[DeltaLog.readWhere]]. The full
    * predicate is re-applied, so results equal `loadDelta(...).filter`.
    */
  /** Change-feed load — [[DeltaLog.readChanges]] wrapped as a frame:
    * rows changed in the version window (from, to], tagged
    * `_change_type` / `_commit_version`, NTZ-normalized like every other
    * parquet-backed path.
    */
  def loadDeltaChanges(spark: SparkSession, path: String, alias: String,
      fromVersion: Long, toVersion: Long): GraftFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(hPath, "_delta_log")))
      throw graft.GraftError.InvalidOperation("load_delta_changes",
        s"change feed requires a _delta_log; $path has none")
    GraftFrame(normalizeNtzTimestamps(
      DeltaLog.readChanges(spark, path, fromVersion, toVersion)), alias)
  }

  /** Timestamp-bounded change-feed load — delta-spark's
    * startingTimestamp/endingTimestamp CDF reads, resolved via the
    * monotonized-mtime rule; see [[DeltaLog.readChangesByTimestamp]].
    */
  def loadDeltaChangesByTimestamp(spark: SparkSession, path: String,
      alias: String, startTsMillis: Long,
      endTsMillis: Option[Long] = None): GraftFrame =
    GraftFrame(normalizeNtzTimestamps(
      DeltaLog.readChangesByTimestamp(spark, path, startTsMillis,
        endTsMillis)), alias)

  /** Row-tracked snapshot load: the table plus `_row_id` /
    * `_row_commit_version` resolved per the protocol's rule — see
    * [[DeltaLog.readWithRowIds]].
    */
  def loadDeltaWithRowIds(spark: SparkSession, path: String,
      alias: String): GraftFrame =
    GraftFrame(normalizeNtzTimestamps(
      DeltaLog.readWithRowIds(spark, path)), alias)

  def loadDeltaWhere(spark: SparkSession, path: String, alias: String,
      predicate: String, versionAsOf: Option[Long] = None): GraftFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(hPath, "_delta_log")))
      throw graft.GraftError.InvalidOperation("load_delta",
        s"predicate-pruned read requires a _delta_log; $path has none")
    GraftFrame(normalizeNtzTimestamps(
      DeltaLog.readWhere(spark, path, predicate, versionAsOf)), alias)
  }

  /** JSON load matching the reference's inference semantics
    * (src/helper_funcs/infer_schema_json.rs:4-68): numbers stay numbers,
    * booleans and everything non-numeric become strings, nested
    * arrays/objects are serialized back to JSON strings.
    */
  def loadJson(spark: SparkSession, path: String, alias: String): GraftFrame = {
    // array files ([...]) need multiLine; JSONL must NOT use it. Sniff the
    // first non-whitespace byte through the Hadoop FS API so the check
    // works on HDFS/S3 paths, not just local disk.
    val isArray = {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(hPath), java.nio.charset.StandardCharsets.UTF_8))
      try {
        var c = in.read()
        while (c != -1 && Character.isWhitespace(c)) c = in.read()
        c == '['
      } finally in.close()
    }
    val raw = spark.read.option("multiLine", isArray.toString).json(path)
    val flat = raw.schema.fields.map { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType => to_json(col(f.name)).as(f.name)
        case BooleanType => col(f.name).cast(StringType).as(f.name)
        case _: NumericType => col(f.name)
        case _ => col(f.name).cast(StringType).as(f.name)
      }
    }
    GraftFrame(raw.select(flat.toIndexedSeq: _*), alias)
  }

  /** CSV with the reference's smart-cast inference (SURVEY §1.2;
    * src/features/csv.rs): delimiter auto-detect, all-string read, 100-row
    * sample majority vote, one native cast per column. See
    * [[CsvSmartCaster]].
    */
  def loadCsv(spark: SparkSession, path: String, alias: String): GraftFrame =
    GraftFrame(CsvSmartCaster.load(spark, path), alias)

  /** CSV with no inference — all columns string (header normalized). */
  def loadCsvRaw(spark: SparkSession, path: String, alias: String,
      delimiter: String = ","): GraftFrame = {
    val df = spark.read
      .option("header", "true").option("inferSchema", "false")
      .option("sep", delimiter).csv(path)
    GraftFrame(df, alias)
  }

  /** User-declared schema load (reference src/features/with_schema.rs):
    * type names int8/…/uint…/float…/string/bool/date/timestamp/binary.
    */
  def loadWithSchema(spark: SparkSession, path: String, alias: String,
      schema: Seq[(String, String)]): GraftFrame =
    loadWithSchemaStruct(spark, path, alias,
      StructType(schema.map { case (n, t) => StructField(n, SchemaSpec.sparkType(t)) }))

  /** JSON-spec document form (reference with_schema.rs:338-392):
    * `{"fields":[{"name":"id","type":"i64","nullable":false}, …]}`.
    */
  def loadWithSchemaJson(spark: SparkSession, path: String, alias: String,
      jsonSpec: String): GraftFrame =
    loadWithSchemaStruct(spark, path, alias, SchemaSpec.fromJsonSpec(jsonSpec))

  private def loadWithSchemaStruct(spark: SparkSession, path: String,
      alias: String, st: StructType): GraftFrame = {
    val lower = path.toLowerCase
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df =
      if (lower.endsWith(".csv"))
        spark.read.option("header", "true").schema(st).csv(path)
      else if (lower.endsWith(".json"))
        spark.read.option("multiLine", "true").schema(st).json(path)
      else if (fs.exists(new org.apache.hadoop.fs.Path(hPath, "_delta_log")))
        // delta-with-schema (reference load_delta_with_schema,
        // with_schema.rs:299-335): declared schema over the log's
        // active-file snapshot; the path list folds distributedly above
        // the log-size threshold (driver holds only the paths)
        spark.read.schema(st).option("basePath", path)
          .parquet(DeltaLog.activeFilePathsScalable(spark, path): _*)
      else spark.read.schema(st).parquet(path)
    GraftFrame(df, alias)
  }

  /** Lazy ORC load over Spark's built-in ORC source (no reference
    * analogue; the columnar-format peer of [[loadParquet]] for Hive-era
    * lakes whose at-rest format is ORC). Predicate pushdown and column
    * pruning reach the ORC reader exactly as they do for parquet — the
    * scan shows PushedFilters/ReadSchema in `.explain` — so the 100 TB
    * behavior matches the parquet path. ORC files written by engines that
    * store local (zone-less) timestamps arrive as TIMESTAMP_NTZ under
    * Spark 4's reader the same way parquet-without-isAdjustedToUTC does,
    * so the load runs the same [[normalizeNtzTimestamps]] pass and the
    * temporal operator surface sees one timestamp type regardless of the
    * at-rest format.
    */
  def loadOrc(spark: SparkSession, path: String, alias: String): GraftFrame =
    GraftFrame(normalizeNtzTimestamps(spark.read.orc(path)), alias)

  /** Folder of OPAQUE files (images / audio / video / arbitrary blobs) as
    * a binary DataFrame — the ingest edge of the multimodal pipeline
    * (SURVEY: "treat image/audio/video as opaque binary columns with typed
    * metadata"). Spark's `binaryFile` source lists and reads DISTRIBUTED
    * (one task per file group, lazy content read, `pathGlobFilter` pruning
    * happens at listing time), so a 100 TB image lake ingests without any
    * driver-side byte handling. Output schema: `file_name` (basename),
    * `path` (fully-qualified URI), `length` (bytes, from the filesystem
    * status — no content read needed for size-only queries), `content`
    * (the raw bytes) — feed `content` straight into
    * [[graft.operators.Multimodal.decodeMedia]] / `decodePixelStats`.
    * `modificationTime` is dropped: it is nondeterministic fixture state
    * (re-planting files changes it), and ingest pipelines key on
    * name/path, not mtime.
    */
  def loadBinaryFolder(spark: SparkSession, dir: String, alias: String,
      glob: String = "*"): GraftFrame = {
    val df = spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir)
      .select(
        element_at(split(col("path"), "/"), -1).as("file_name"),
        col("path"), col("length"), col("content"))
    GraftFrame(df, alias)
  }

  /** Raw text corpus, one row per LINE — the at-rest shape of most
    * published LLM corpora (one document or one JSON record per line,
    * usually gzip'd). Spark's text source reads directories, globs, and
    * compressed files (`.gz`/`.bz2`/…) transparently and in parallel
    * (gzip is splittable only at file granularity — a million modest .gz
    * shards parallelizes perfectly, one giant .gz does not; that is a
    * property of gzip, not the loader). Schema: (file_name, line).
    */
  def loadTextLines(spark: SparkSession, path: String, alias: String): GraftFrame =
    GraftFrame(spark.read.textFile(path).toDF("line")
      .select(element_at(split(input_file_name(), "/"), -1).as("file_name"),
        col("line")), alias)

  /** Raw text corpus, one row per FILE (`wholetext`) — the "folder of
    * .txt documents" ingest shape. Content arrives byte-exact (UTF-8
    * decoded, no line splitting), so the text operators (shingles, LM
    * scoring, dedup) see precisely the bytes at rest. One row per file —
    * suited to document-sized files; line-sharded corpora want
    * [[loadTextLines]]. Schema: (file_name, text).
    */
  def loadTextDocs(spark: SparkSession, dir: String, alias: String,
      glob: String = "*"): GraftFrame =
    GraftFrame(spark.read.option("wholetext", "true")
      .option("pathGlobFilter", glob).text(dir)
      .select(element_at(split(input_file_name(), "/"), -1).as("file_name"),
        col("value").as("text")), alias)

  /** Load every supported file in a folder and UNION ALL by name
    * (reference src/elusion.rs:6765-7265: compat check + reorder to first
    * file's column order = unionByName).
    */
  def loadFolder(spark: SparkSession, dir: String, alias: String): GraftFrame =
    loadFolderImpl(spark, dir, alias, withFilename = false)

  /** Same, prepending a `filename_added` column
    * (src/elusion.rs:7269-7775).
    */
  def loadFolderWithFilenameColumn(spark: SparkSession, dir: String,
      alias: String): GraftFrame =
    loadFolderImpl(spark, dir, alias, withFilename = true)

  private def loadFolderImpl(spark: SparkSession, dir: String, alias: String,
      withFilename: Boolean): GraftFrame = {
    // List via the Hadoop FileSystem API, not java.io.File: the folder may
    // live on HDFS/S3/… in a real deployment — local-FS listing breaks the
    // 100 TB story (only the listing is driver-side; reads stay lazy).
    val hPath = new org.apache.hadoop.fs.Path(dir)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every dispatchable format, matching the reference's folder loader
    // (src/elusion.rs:6765-7265 handles csv/json/parquet/xml/xlsx alike)
    val files = fs.listStatus(hPath)
      .filter(s => s.isFile &&
        s.getPath.getName.toLowerCase.matches(".*\\.(csv|json|parquet|orc|xml|xlsx|xls)$"))
      .sortBy(_.getPath.getName)
    if (files.isEmpty)
      throw graft.GraftError.InvalidOperation("load_folder",
        s"no supported files (csv/json/parquet/orc/xml/xlsx) in $dir")
    val frames = files.map { f =>
      // full qualified path (scheme + authority kept): on s3a://bucket/dir
      // or hdfs://nn/dir the per-file load must re-open the SAME
      // filesystem — .toUri.getPath would strip bucket/authority and
      // resolve against the default FS
      val g = load(spark, f.getPath.toString, alias).df
      if (withFilename) g.select(lit(f.getPath.getName).as("filename_added") +: g.columns.map(col).toSeq: _*)
      else g
    }
    val first = frames.head
    val unioned = frames.tail.foldLeft(first)((a, b) => a.unionByName(b))
    GraftFrame(unioned, alias)
  }

  /** Raw-SQL entry point (reference `sql!` macro,
    * src/features/raw_sql.rs:4-88): register each frame under its own
    * alias, run arbitrary Spark SQL, wrap the result.
    */
  def sql(spark: SparkSession, query: String, alias: String,
      frames: GraftFrame*): GraftFrame = {
    frames.foreach(f => f.df.createOrReplaceTempView(f.alias))
    val out = spark.sql(query)
    out.createOrReplaceTempView(alias)
    GraftFrame(out, alias)
  }

  // ───────────────────────── calendar tables ─────────────────────────────

  /** Calendar dimension, one row per day (reference
    * src/features/calendar.rs:376-593): date, year, month, day, quarter,
    * week_num, day_of_week (Monday=1), day_of_week_name, day_of_year,
    * week_start (Monday), month_start, quarter_start, year_start,
    * is_weekend. Built distributed via spark.range — no driver loop.
    */
  def dateRangeTable(spark: SparkSession, start: String, end: String,
      alias: String): GraftFrame = {
    val startD = java.time.LocalDate.parse(start)
    val endD = java.time.LocalDate.parse(end)
    val days = java.time.temporal.ChronoUnit.DAYS.between(startD, endD) + 1
    require(days > 0, s"dateRangeTable: end before start")
    val base = spark.range(days)
      .select(date_add(lit(java.sql.Date.valueOf(startD)), col("id").cast(IntegerType)).as("date"))
    val out = base.select(
      col("date"),
      year(col("date")).as("year"),
      month(col("date")).as("month"),
      dayofmonth(col("date")).as("day"),
      quarter(col("date")).as("quarter"),
      weekofyear(col("date")).as("week_num"),
      weekday(col("date")).plus(1).as("day_of_week"), // Monday=1 … Sunday=7
      date_format(col("date"), "EEEE").as("day_of_week_name"),
      dayofyear(col("date")).as("day_of_year"),
      date_trunc("week", col("date")).cast(DateType).as("week_start"),
      trunc(col("date"), "month").as("month_start"),
      trunc(col("date"), "quarter").as("quarter_start"),
      trunc(col("date"), "year").as("year_start"),
      weekday(col("date")).geq(5).as("is_weekend"))
    GraftFrame(out, alias)
  }

  /** Named date formats of the formatted calendar variant (reference
    * DateFormat enum, src/features/calendar.rs:3-41) → Spark patterns.
    */
  val DateFormats: Map[String, String] = Map(
    "iso_date" -> "yyyy-MM-dd",
    "iso_date_time" -> "yyyy-MM-dd HH:mm:ss",
    "us_date" -> "MM/dd/yyyy",
    "us_date_time" -> "MM/dd/yyyy HH:mm:ss",
    "eu_date" -> "dd.MM.yyyy",
    "eu_date_time" -> "dd.MM.yyyy HH:mm:ss",
    "uk_date" -> "dd/MM/yyyy",
    "day_month_year" -> "dd MMM yyyy",
    "month_day_year" -> "MMM dd, yyyy",
    "full_date" -> "EEEE, MMMM d, yyyy",
    "year_month" -> "yyyy-MM",
    "month_year" -> "MM-yyyy",
    "month_name_year" -> "MMMM yyyy",
    "week_day" -> "EEEE",
    "compact_date" -> "yyyyMMdd")

  /** Calendar with named-format string columns
    * (src/features/calendar.rs:44-373).
    */
  def formattedDateRangeTable(spark: SparkSession, start: String, end: String,
      alias: String, formats: Seq[String]): GraftFrame = {
    val base = dateRangeTable(spark, start, end, alias).df
    val out = formats.foldLeft(base) { (d, fmt) =>
      val pattern = DateFormats.getOrElse(fmt.toLowerCase,
        throw new IllegalArgumentException(s"unknown date format '$fmt'"))
      d.withColumn(s"date_$fmt", date_format(col("date"), pattern))
    }
    GraftFrame(out, alias)
  }

  /** JDBC source (reference from_postgres / from_mysql,
    * src/features/postgres.rs, mysql.rs → spark.read.jdbc). Driver jars are
    * environment-provided; this is the documented mapping.
    */
  def fromJdbc(spark: SparkSession, url: String, query: String, alias: String,
      props: java.util.Properties = new java.util.Properties()): GraftFrame =
    GraftFrame(spark.read.jdbc(url, s"($query) AS graft_sub", props), alias)

  /** Partitioned JDBC ingest — the scale path for database sources: the
    * table is read as `numPartitions` parallel range-sliced queries on
    * `partitionColumn` (Spark pushes `col >= lo AND col < hi` into each
    * slice's WHERE), so a 1000-executor cluster drains the database with
    * 1000 concurrent cursors instead of one. Filters and projections
    * still push into each slice like [[fromJdbc]] (asserted in JdbcSpec).
    * Bounds are the caller's (one cheap MIN/MAX round-trip if unknown) —
    * Spark clamps rows outside them into the edge partitions, so the
    * result is exact regardless.
    */
  def fromJdbcPartitioned(spark: SparkSession, url: String, query: String,
      alias: String, partitionColumn: String, lowerBound: Long,
      upperBound: Long, numPartitions: Int,
      props: java.util.Properties = new java.util.Properties()): GraftFrame =
    GraftFrame(
      spark.read.jdbc(url, s"($query) AS graft_sub", partitionColumn,
        lowerBound, upperBound, numPartitions, props),
      alias)
}

/** User-declared FileSchema types (reference
  * src/features/with_schema.rs:367-386).
  */
object SchemaSpec {
  def sparkType(name: String): DataType = name.trim.toLowerCase match {
    case "int8" | "i8" => ByteType
    case "int16" | "i16" => ShortType
    case "int32" | "i32" | "int" | "integer" => IntegerType
    case "int64" | "i64" | "bigint" | "long" => LongType
    case "uint8" | "u8" | "uint16" | "u16" => IntegerType // Spark has no unsigned; widen
    case "uint32" | "u32" | "uint64" | "u64" => LongType
    case "float32" | "f32" | "float" => FloatType
    case "float64" | "f64" | "double" => DoubleType
    case "string" | "text" | "varchar" | "utf8" => StringType
    case "bool" | "boolean" => BooleanType
    case "date" | "date32" => DateType
    case "timestamp" => TimestampType
    case "binary" => BinaryType
    case other => throw graft.GraftError.SchemaError(s"Unsupported data type: '$other'")
  }

  /** Parse the JSON schema-spec document (reference schema_from_json,
    * with_schema.rs:338-392): `fields` array of {name, type, nullable?},
    * nullable defaulting true, reference-matching error strings.
    */
  def fromJsonSpec(spec: String): StructType = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val root =
      try new ObjectMapper().readTree(spec)
      catch { case e: Exception =>
        throw graft.GraftError.SchemaError(
          s"Invalid JSON schema specification: ${e.getMessage}")
      }
    val fields = if (root == null) null else root.get("fields")
    if (fields == null || !fields.isArray)
      throw graft.GraftError.SchemaError("Schema must contain 'fields' array")
    val out = scala.collection.mutable.ArrayBuffer.empty[StructField]
    fields.forEach { f =>
      val name = Option(f.get("name")).filter(_.isTextual).map(_.asText)
        .getOrElse(throw graft.GraftError.SchemaError("Field must have 'name'"))
      val tpe = Option(f.get("type")).filter(_.isTextual).map(_.asText)
        .getOrElse(throw graft.GraftError.SchemaError("Field must have 'type'"))
      val nullable = Option(f.get("nullable")).map(_.asBoolean(true)).getOrElse(true)
      out += StructField(name, sparkType(tpe), nullable)
    }
    StructType(out.toSeq)
  }
}
