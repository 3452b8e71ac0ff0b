package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_join, coalesce, col, expr, input_file_name, lit, slice, split}
import org.apache.spark.sql.types.{StructField, StructType}

import scala.collection.mutable.ListBuffer

/** Minimal Delta-protocol transaction log, dependency-free.
  *
  * The reference writes real delta tables (protocol + metaData commit
  * actions, then add actions per data file; append = next numbered
  * version — src/features/delta.rs:196-420 via delta-rs). The runtime here
  * ships no delta jar, so this implements the same on-disk contract
  * directly: `_delta_log/%020d.json` commits of newline-delimited actions
  * over Spark-written parquet data files. Readers replay adds − removes.
  *
  * Concurrency: appends use optimistic concurrency — each commit carries
  * a commitInfo txn id and must win its numbered slot atomically. On the
  * local FS the slot is claimed with link(2) (atomic create-exclusive —
  * rename would silently replace, and even a read-back verify leaves a
  * replace-after-verify window); on HDFS-like stores tmp+rename is used
  * (their rename refuses an existing destination) with a read-back
  * verify as a belt for lax-rename stores. A loser rebases to the next
  * version and retries: append/merge add-file sets are disjoint, so the
  * rebase is always safe. Two concurrent OVERWRITES are inherently
  * destructive and fail typed instead of retrying. An overwrite stages
  * its data OUTSIDE the table directory (a competitor's recursive table
  * delete must not be able to destroy an in-flight staging job mid-write)
  * and runs its wipe→move→commit swap in a short metadata-speed critical
  * section serialized per table within the JVM — same-driver overwrites
  * serialize deterministically (last writer's whole table wins); a
  * cross-process overwrite race remains destructive by design, with
  * interference surfaced as a typed WriteError rather than an arbitrary
  * filesystem/Spark exception.
  *
  * Scope (documented, not hidden): overwrite wipes the table directory
  * like the reference does (`fs::remove_dir_all`, delta.rs:231). Data
  * file paths are stored relative with no percent-encoding (Spark
  * part-file names and `col=val` partition segments need none).
  */
object DeltaLog {

  // per-table JVM lock for the overwrite swap phase (wipe→move→commit);
  // keyed by the qualified table URI so relative/absolute spellings of
  // one path share a lock
  private val overwriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def overwriteLock(key: String): Object =
    overwriteLocks.computeIfAbsent(key, _ => new Object)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def logDir(tbl: HPath) = new HPath(tbl, "_delta_log")

  private def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toString("UTF-8")
    } finally in.close()
  }

  private def commitName(version: Long) = f"$version%020d.json"

  /** Recursive data-file listing (relative path → status), excluding the
    * log directory and committer markers.
    */
  private def dataFiles(fs: FileSystem, tbl: HPath): Map[String, FileStatus] = {
    // qualify so relative table paths strip cleanly against the absolute
    // paths listStatus returns
    val base = fs.makeQualified(tbl).toUri.getPath.stripSuffix("/")
    val out = Map.newBuilder[String, FileStatus]
    def walk(dir: HPath): Unit = fs.listStatus(dir).foreach { s =>
      val name = s.getPath.getName
      // match Spark's own listing visibility: '.'/'_' prefixed entries
      // (committer markers, _delta_log, in-flight .graft_stage_* dirs)
      // are never table data — a crashed write's staging debris must not
      // be absorbed by a fresh bootstrap listing
      if (name.startsWith(".") || name.startsWith("_")) ()
      else if (s.isDirectory) walk(s.getPath)
      else if (name.endsWith(".parquet"))
        out += s.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/") -> s
    }
    if (fs.exists(tbl)) walk(tbl)
    out.result()
  }

  /** `col=val` partition segments of a relative file path → partitionValues. */
  private def partitionValues(relPath: String): Seq[(String, String)] =
    relPath.split('/').dropRight(1).toSeq.collect {
      case seg if seg.contains('=') =>
        val Array(k, v) = seg.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
    }

  private def addAction(relPath: String, s: FileStatus,
      stats: Option[String] = None, dataChange: Boolean = true,
      rowIds: Option[(Long, Long)] = None): String = {
    val pv = partitionValues(relPath)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
    val statsField = stats.map(j => s""","stats":"${esc(j)}"""").getOrElse("")
    // row tracking: (baseRowId, defaultRowCommitVersion) — every add on
    // a row-tracked table must carry both (delta PROTOCOL.md)
    val rowField = rowIds.map { case (base, ver) =>
      s""","baseRowId":$base,"defaultRowCommitVersion":$ver""" }.getOrElse("")
    s"""{"add":{"path":"${esc(relPath)}","partitionValues":{$pv},""" +
      s""""size":${s.getLen},"modificationTime":${s.getModificationTime},""" +
      s""""dataChange":$dataChange$statsField$rowField}}"""
  }

  /** Footer-harvested stats for a data file of the table (see
    * [[DeltaStats.harvest]]) — O(1) metadata read per NEW file at commit
    * time, never a data scan.
    */
  private def statsFor(fs: FileSystem, tbl: HPath, relPath: String): Option[String] =
    DeltaStats.harvest(fs.getConf, new HPath(tbl, relPath))

  /** Stats for a whole commit's new files. Small commits read footers on
    * the driver; past 32 files the reads fan out as one executor job
    * (broadcast Hadoop conf) — a 100k-file bootstrap commit must not
    * serialize 100k metadata round-trips through the driver.
    */
  private def statsForAll(spark: SparkSession, fs: FileSystem, tbl: HPath,
      rels: Seq[String]): Map[String, Option[String]] =
    if (rels.size <= 32) rels.map(r => r -> statsFor(fs, tbl, r)).toMap
    else {
      // Hadoop Configuration is not serializable (and Spark's wrapper is
      // spark-private): ship the entry list and rebuild per partition
      val entries: Array[(String, String)] = {
        val buf = Array.newBuilder[(String, String)]
        fs.getConf.iterator().forEachRemaining(e => buf += e.getKey -> e.getValue)
        buf.result()
      }
      val tblStr = fs.makeQualified(tbl).toString
      spark.sparkContext.parallelize(rels, math.min(rels.size, 64))
        .mapPartitions { it =>
          val conf = new org.apache.hadoop.conf.Configuration(false)
          entries.foreach { case (k, v) => conf.set(k, v) }
          it.map(rel => rel -> DeltaStats.harvest(conf, new HPath(tblStr, rel)))
        }
        .collect().toMap
    }

  /** Column-mapped tables need the columnMapping reader/writer
    * capability (protocol 2/5, the shape delta-spark declares); a table
    * created with CHECK constraints declares minWriterVersion 3 (the
    * checkConstraints writer feature — a foreign writer below it would
    * append unvalidated rows); plain tables stay at the floor every
    * replaying reader accepts. Writer versions are cumulative, so the
    * mapped 5 already covers constraints.
    */
  private def protocolAction(mapped: Boolean, constrained: Boolean,
      v4Feature: Boolean = false, rowTracking: Boolean = false,
      identity: Boolean = false, dv: Boolean = false,
      v2cp: Boolean = false, ict: Boolean = false,
      typeWiden: Boolean = false, variant: Boolean = false): String =
    if (rowTracking || identity || dv || v2cp || ict || typeWiden ||
        variant) {
      // rowTracking/identityColumns/deletionVectors/v2Checkpoint exist
      // only as v7 table features; list exactly the features this table
      // uses (over-declaring would make other writers refuse
      // needlessly). rowTracking requires domainMetadata (the
      // high-water mark rides a domainMetadata action); deletionVectors
      // and v2Checkpoint are READER features too, bumping
      // minReaderVersion to 3 — without the declaration a compliant
      // reader would misread the table.
      val feats =
        (if (rowTracking) Seq("rowTracking", "domainMetadata") else Nil) ++
        (if (identity) Seq("identityColumns") else Nil) ++
        (if (dv) Seq("deletionVectors") else Nil) ++
        (if (v2cp) Seq("v2Checkpoint") else Nil) ++
        (if (ict) Seq("inCommitTimestamp") else Nil) ++
        (if (typeWiden) Seq("typeWidening") else Nil) ++
        (if (variant) Seq("variantType") else Nil) ++
        (if (constrained) Seq("invariants", "checkConstraints") else Nil) ++
        (if (v4Feature) Seq("generatedColumns", "changeDataFeed") else Nil) ++
        (if (mapped) Seq("columnMapping") else Nil)
      // typeWidening is a READER feature too: narrow-physical files
      // under a widened declared schema need the scan-time upcast;
      // variantType likewise (the parquet variant encoding)
      val readerV = if (dv || v2cp || typeWiden || variant) 3
        else if (mapped) 2 else 1
      val readerFeats =
        if (dv || v2cp || typeWiden || variant) s""""readerFeatures":[${
          ((if (dv) Seq("deletionVectors") else Nil) ++
            (if (v2cp) Seq("v2Checkpoint") else Nil) ++
            (if (typeWiden) Seq("typeWidening") else Nil) ++
            (if (variant) Seq("variantType") else Nil) ++
            (if (mapped) Seq("columnMapping") else Nil))
            .map(f => s""""$f"""").mkString(",")}],"""
        else ""
      s"""{"protocol":{"minReaderVersion":$readerV,"minWriterVersion":7,""" +
        readerFeats +
        s""""writerFeatures":[${feats.map(f => s""""$f"""").mkString(",")}]}}"""
    }
    else if (mapped) """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    else if (v4Feature) // generated columns / change data feed
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}"""
    else if (constrained)
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}"""
    else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  /** Whether `dt` carries a Spark VariantType anywhere — the signal a
    * fresh table must declare the variantType reader+writer feature.
    */
  private def hasVariantType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: VariantType => true
      case st: StructType => st.fields.exists(f => hasVariantType(f.dataType))
      case at: ArrayType => hasVariantType(at.elementType)
      case mt: MapType =>
        hasVariantType(mt.keyType) || hasVariantType(mt.valueType)
      case _ => false
    }
  }

  private def metaDataAction(schemaJson: String, partitionBy: Seq[String],
      configuration: Map[String, String] = Map.empty,
      tableId: Option[String] = None): String = {
    val parts = partitionBy.map(p => s""""${esc(p)}"""").mkString(",")
    val conf = configuration.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":"${esc(Option(v).getOrElse(""))}"""" }
      .mkString(",")
    // metaData.id is the table's STABLE unique identifier (the protocol
    // creates it once; streaming sources and CDF readers checkpoint
    // against it) — refreshes of an existing table must echo it, only
    // a table CREATION mints a fresh one
    s"""{"metaData":{"id":"${esc(tableId.getOrElse(
      java.util.UUID.randomUUID().toString))}",""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(schemaJson)}",""" +
      s""""partitionColumns":[$parts],"configuration":{$conf},""" +
      s""""createdTime":${System.currentTimeMillis()}}}"""
  }

  /** The table's stable metaData.id from the newest metaData action —
    * post-checkpoint commits newest→oldest, checkpoint fallback.
    */
  private def tableMetaDataId(spark: SparkSession, fs: FileSystem,
      tbl: HPath): Option[String] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def idOf(json: String): Option[String] = {
      val node = try mapper.readTree(json) catch { case _: Exception => null }
      val m = if (node == null) null
        else if (node.has("metaData")) node.get("metaData") else node
      if (m == null || !m.isObject) None
      else Option(m.get("id")).filterNot(_.isNull).map(_.asText)
    }
    val log = logDir(tbl)
    val cpFloor = lastCheckpointVersion(fs, log)
    existingVersions(fs, log).filter(v => cpFloor.forall(v > _))
      .reverse.iterator.flatMap { v =>
        readString(fs, new HPath(log, commitName(v))).linesIterator
          .filter(_.contains("\"metaData\"")).flatMap(idOf).toSeq.lastOption
      }.nextOption()
      .orElse(cpFloor.flatMap(v => readCheckpoint(spark, fs, log, v))
        .flatMap { cp =>
          if (!cp.columns.contains("metaData")) None
          else cp.where(col("metaData").isNotNull)
            .select(org.apache.spark.sql.functions.to_json(col("metaData")))
            .collect().headOption.flatMap(r => idOf(r.getString(0)))
        })
  }

  /** Newest committed SetTransaction version for `appId` — commits
    * newest-first (driver-side Jackson over the tiny files), falling back
    * to the checkpoint parquet when older commits were cleaned up.
    * Returns None when the log doesn't exist or carries no txn for the
    * app.
    */
  private[sources] def latestTxnVersion(spark: SparkSession, fs: FileSystem,
      log: HPath, appId: String): Option[Long] = {
    if (!fs.exists(log)) return None
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val fromCommits = existingVersions(fs, log).reverse.iterator.flatMap { v =>
      readString(fs, new HPath(log, commitName(v))).linesIterator.flatMap { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        val t = if (node == null) null else node.get("txn")
        if (t != null && t.get("appId") != null &&
            t.get("appId").asText == appId && t.get("version") != null)
          Some(t.get("version").asLong)
        else None
      }
    }.maxOption
    fromCommits.orElse(lastCheckpointVersion(fs, log).flatMap { v =>
      readCheckpoint(spark, fs, log, v).flatMap { df =>
        if (!df.columns.contains("txn")) None
        else df.where(col("txn").isNotNull && col("txn.appId") === appId)
          .agg(org.apache.spark.sql.functions.max(col("txn.version")))
          .collect().headOption.flatMap(r =>
            if (r.isNullAt(0)) None else Some(r.getLong(0)))
      }
    })
  }

  /** Partition columns of the latest metaData action in the log (newest
    * commit wins — merge commits refresh metaData). Driver-side Jackson
    * parse of the tiny commit files.
    */
  private def latestPartitionColumns(fs: FileSystem, log: HPath,
      asOf: Option[Long] = None): Option[Seq[String]] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    existingVersions(fs, log).filter(v => asOf.forall(v <= _))
      .reverse.iterator.flatMap { v =>
      val text = readString(fs, new HPath(log, commitName(v)))
      text.linesIterator.flatMap { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        val md = if (node == null) null else node.get("metaData")
        val pc = if (md == null) null else md.get("partitionColumns")
        if (pc != null && pc.isArray) {
          val cols = scala.collection.mutable.ArrayBuffer.empty[String]
          pc.forEach(c => cols += c.asText)
          Some(cols.toSeq)
        } else None
      }.toSeq.lastOption // last metaData within the newest commit that has one
    }.nextOption()
  }

  /** Table partition columns from the newest metaData — commits first,
    * checkpoint fallback when older commits were cleaned up. `asOf`
    * bounds the search like [[tableSchemaJson]]: a time-travel read
    * resolves against the metaData AS OF that version (an overwrite may
    * re-partition a table; its layout must not leak backwards).
    */
  private def tablePartitionColumns(spark: SparkSession, fs: FileSystem,
      tbl: HPath, asOf: Option[Long] = None): Option[Seq[String]] = {
    val cacheKey = (logIdentity(fs, tbl), asOf.getOrElse(-1L))
    val hit = partColsCache.get(cacheKey)
    if (hit != null) return hit
    val result = latestPartitionColumns(fs, logDir(tbl), asOf)
      .orElse(lastCheckpointVersion(fs, logDir(tbl))
        .filter(v => asOf.forall(v <= _)).flatMap { v =>
        readCheckpoint(spark, fs, logDir(tbl), v).flatMap { cp =>
        if (cp.columns.contains("metaData")) {
          val rows = cp.where(col("metaData").isNotNull)
            .select(col("metaData.partitionColumns")).collect()
          rows.headOption.map(_.getSeq[String](0))
        } else None
      }})
    if (partColsCache.size > 256) partColsCache.clear() // bound, not LRU
    partColsCache.put(cacheKey, result)
    result
  }

  /** Table schema JSON (metaData.schemaString) — newest commit first,
    * checkpoint fallback. Same visibility rule as partition columns.
    * `asOf` bounds the search to commits ≤ that version (the schema a
    * time-travel read must resolve against — metaData time-travels with
    * the data, so a post-asOf schema evolution must not leak backwards).
    */
  private def tableSchemaJson(spark: SparkSession, fs: FileSystem,
      tbl: HPath, asOf: Option[Long] = None): Option[String] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val cacheKey = (logIdentity(fs, tbl), asOf.getOrElse(-1L))
    val hit = schemaCache.get(cacheKey)
    if (hit != null) return hit
    val mapper = new ObjectMapper()
    val log = logDir(tbl)
    val versions = existingVersions(fs, log)
      .filter(v => asOf.forall(v <= _))
    val fromCommits = versions.reverse.iterator.flatMap { v =>
      readString(fs, new HPath(log, commitName(v))).linesIterator.flatMap { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        val md = if (node == null) null else node.get("metaData")
        val ss = if (md == null) null else md.get("schemaString")
        if (ss != null && ss.isTextual) Some(ss.asText) else None
      }.toSeq.lastOption
    }.nextOption()
    val result = fromCommits.orElse(lastCheckpointVersion(fs, log)
      .filter(v => asOf.forall(v <= _)).flatMap { v =>
      readCheckpoint(spark, fs, log, v).flatMap { cp =>
        if (cp.columns.contains("metaData")) {
          val rows = cp.where(col("metaData").isNotNull)
            .select(col("metaData.schemaString")).collect()
          rows.headOption.map(_.getString(0))
        } else None
      }
    })
    if (schemaCache.size > 256) schemaCache.clear() // bound, not LRU
    schemaCache.put(cacheKey, result)
    result
  }

  /** [[tableSchemaJson]] parsed to a StructType — None when the log has no
    * schemaString or it doesn't parse (foreign/v0 writers), which is
    * exactly when a reader must fall back to file footers.
    */
  private def parsedTableSchema(spark: SparkSession, fs: FileSystem,
      tbl: HPath, asOf: Option[Long] = None): Option[StructType] =
    tableSchemaJson(spark, fs, tbl, asOf).flatMap { js =>
      try Some(org.apache.spark.sql.types.DataType.fromJson(js)
        .asInstanceOf[StructType])
      catch { case _: Exception => None }
    }

  /** The protocol's legal LOSSLESS scalar widenings (typeWidening table
    * feature): the integral chain, float→double, integrals→double,
    * date→timestampNtz, and decimal growth whose integer-digit capacity
    * never shrinks (precision grows at least as much as scale). Spark
    * 4's vectorized parquet reader upcasts all of these at scan, so
    * files written before the widening stay readable in place.
    */
  private[sources] def isLosslessWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (DateType, TimestampNTZType) => true
      case (a: DecimalType, b: DecimalType) =>
        (b.precision > a.precision || b.scale > a.scale) &&
          b.scale >= a.scale &&
          (b.precision - a.precision) >= (b.scale - a.scale)
      case _ => false
    }
  }

  /** Append a `delta.typeChanges` entry (PROTOCOL.md's typeWidening
    * writer obligation) onto a field's metadata, preserving any prior
    * widenings of the same field.
    */
  private def withTypeChange(meta: org.apache.spark.sql.types.Metadata,
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.Metadata = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    val entry = new MetadataBuilder()
      .putString("fromType", from.typeName)
      .putString("toType", to.typeName).build()
    val prior: Array[Metadata] =
      if (meta.contains("delta.typeChanges"))
        try meta.getMetadataArray("delta.typeChanges")
        catch { case _: Exception => Array.empty }
      else Array.empty
    new MetadataBuilder().withMetadata(meta)
      .putMetadataArray("delta.typeChanges", prior :+ entry).build()
  }

  /** Type conflicts an APPEND's frame has against the declared schema
    * (exact-name fields; nested structs recurse; array/map elements
    * compare structurally). A frame field NARROWER than the declared
    * type is fine — its file upcasts at scan, like a pre-widening file.
    * A WIDER frame field is fine only when `widen` (the table enables
    * typeWidening — the commit refreshes metaData), except inside
    * array/map elements where the protocol's typeChanges bookkeeping
    * isn't carried here. Anything else would commit files the declared
    * schema cannot read back — refuse typed instead.
    */
  private def appendTypeConflicts(table: StructType, frame: StructType,
      widen: Boolean): Seq[String] = {
    import org.apache.spark.sql.types._
    def conf(x: DataType, y: DataType, at: String,
        inElement: Boolean): Seq[String] = (x, y) match {
      case (x, y) if x == y => Nil
      // collation-only differences are byte-identical on disk — a plain
      // string stages fine into a collated column (and vice versa)
      case (_: StringType, _: StringType) => Nil
      case (x: StructType, y: StructType) => walk(x, y, at, inElement)
      case (x: ArrayType, y: ArrayType) =>
        conf(x.elementType, y.elementType, s"$at[]", inElement = true)
      case (x: MapType, y: MapType) =>
        conf(x.keyType, y.keyType, s"$at<key>", inElement = true) ++
          conf(x.valueType, y.valueType, s"$at<value>", inElement = true)
      case (x, y) if isLosslessWidening(y, x) => Nil // narrower write
      case (x, y) if widen && !inElement && isLosslessWidening(x, y) => Nil
      case (x, y) => Seq(s"'$at' is $x in the table but $y in the frame" +
        (if (isLosslessWidening(x, y))
          (if (inElement)
            " (array/map element widening is not supported)"
          else " (enable delta.enableTypeWidening to widen it in place)")
        else ""))
    }
    def walk(a: StructType, b: StructType, at: String,
        inElement: Boolean): Seq[String] = {
      val byName = a.fields.map(f => f.name -> f).toMap
      b.fields.toSeq.flatMap { bf =>
        byName.get(bf.name).toSeq.flatMap { f =>
          conf(f.dataType, bf.dataType,
            if (at.isEmpty) f.name else s"$at.${f.name}", inElement)
        }
      }
    }
    walk(table, frame, "", inElement = false)
  }

  /** True when widening-aware merging of `frame` into `table` would
    * change at least one field's type — the signal an append needs a
    * metaData refresh even though it adds no columns.
    */
  private def wouldWiden(table: StructType, frame: StructType): Boolean = {
    import org.apache.spark.sql.types._
    def structWidens(a: StructType, b: StructType): Boolean = {
      val byName = b.fields.map(f => f.name -> f).toMap
      a.fields.exists(f => byName.get(f.name).exists(bf =>
        typeWidens(f.dataType, bf.dataType)))
    }
    def typeWidens(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x: StructType, y: StructType) => structWidens(x, y)
      case (x, y) => isLosslessWidening(x, y)
    }
    structWidens(table, frame)
  }

  /** Parquet-mergeSchema-shaped union of the table's declared schema and
    * an incoming frame's: table fields keep their position and type (an
    * incompatible same-name type refuses typed — exactly where the old
    * footer-merging read would have failed, but without opening a single
    * file), new frame fields append in frame order, nested structs merge
    * recursively, everything nullable (a merged table has rows missing
    * either side's new fields). With `widen` (the table enables
    * `delta.enableTypeWidening`), a frame field whose type is a LEGAL
    * LOSSLESS widening of the table's ([[isLosslessWidening]]) widens
    * the declared type instead of refusing, recording the protocol's
    * `delta.typeChanges` metadata on the field — old narrow-physical
    * files stay readable through the declared-schema scan's upcast.
    * Widening is supported on struct fields at any nesting depth;
    * array/map ELEMENT widening (which needs fieldPath-style typeChanges
    * entries) still refuses typed.
    */
  private[sources] def mergeSchemas(table: StructType,
      frame: StructType, path: String, widen: Boolean = false): StructType = {
    import org.apache.spark.sql.types._
    def mergeType(a: DataType, b: DataType, at: String): DataType = (a, b) match {
      case (x, y) if x == y => x
      // collation-only differences: the TABLE's (possibly collated)
      // declaration wins — storage is identical bytes either way
      case (x: StringType, _: StringType) => x
      case (x: StructType, y: StructType) => mergeStruct(x, y, at)
      case (x: ArrayType, y: ArrayType) =>
        ArrayType(mergeType(x.elementType, y.elementType, s"$at[]"),
          containsNull = true)
      case (x: MapType, y: MapType) =>
        MapType(mergeType(x.keyType, y.keyType, s"$at<key>"),
          mergeType(x.valueType, y.valueType, s"$at<value>"),
          valueContainsNull = true)
      case (x, y) =>
        throw graft.GraftError.InvalidOperation("write_delta",
          s"merge into $path: column '$at' is $x in the table but $y in " +
            "the frame — incompatible types cannot merge" +
            (if (isLosslessWidening(x, y))
              " (enable delta.enableTypeWidening to widen it in place)"
            else ""))
    }
    def mergeStruct(a: StructType, b: StructType, at: String): StructType = {
      val byName = b.fields.map(f => f.name -> f).toMap
      val merged = a.fields.map { f =>
        byName.get(f.name) match {
          case Some(bf) if widen &&
              isLosslessWidening(f.dataType, bf.dataType) =>
            StructField(f.name, bf.dataType, nullable = true,
              withTypeChange(f.metadata, f.dataType, bf.dataType))
          case Some(bf) => StructField(f.name,
            mergeType(f.dataType, bf.dataType,
              if (at.isEmpty) f.name else s"$at.${f.name}"),
            nullable = true, f.metadata)
          case None => f.copy(nullable = true)
        }
      }
      val aNames = a.fieldNames.toSet
      val added = b.fields.filterNot(f => aNames(f.name))
        .map(_.copy(nullable = true))
      StructType(merged ++ added)
    }
    mergeStruct(table, frame, "")
  }

  private def existingVersions(fs: FileSystem, log: HPath): Seq[Long] =
    if (!fs.exists(log)) Nil
    else fs.listStatus(log).toSeq
      .map(_.getPath.getName).filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).sorted

  /** The next free commit version, or None when the directory has no
    * delta log at all. MUST consult the checkpoint as well as the commit
    * files: after [[cleanupLog]] folds every commit into a checkpoint the
    * log dir holds no .json at all, and a writer that restarted at the
    * commit-file max (or worse, at version 0) would land BEHIND the
    * checkpoint — invisible to replay, silent data loss.
    */
  private def nextVersion(fs: FileSystem, log: HPath): Option[Long] = {
    val fromCommits = existingVersions(fs, log).lastOption
    val fromCp = lastCheckpointVersion(fs, log)
    (fromCommits.toSeq ++ fromCp.toSeq).maxOption.map(_ + 1)
  }

  /** Write `df` as a delta table: parquet data files + a numbered commit.
    * mode: overwrite (an EXISTING table gets one version-preserving
    * commit that removes every active file and adds the new data —
    * delta-spark semantics, history/time-travel/CDF survive; a fresh
    * directory creates version 0), append (next version, add actions
    * for the new files only), merge (append + refreshed metaData
    * carrying the merged schema). Every `checkpointInterval` commits the
    * reconciled snapshot is checkpointed (see [[writeCheckpoint]]) so log
    * replay stays O(interval) commits instead of O(history).
    *
    * `acceptCdfOverwrite` is a retired compatibility alias: overwrite no
    * longer restarts the log, so CDF tables overwrite without any opt-in
    * (the commit's whole-file removes/adds serve the feed exactly).
    */
  def write(df: DataFrame, mode: String, path: String,
      partitionBy: Seq[String] = Nil, checkpointInterval: Int = 10,
      txn: Option[(String, Long)] = None,
      tableProperties: Map[String, String] = Map.empty,
      columnMapping: Option[String] = None,
      acceptCdfOverwrite: Boolean = false,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Unit = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(conf)
    val m = mode.toLowerCase
    require(Set("overwrite", "append", "merge").contains(m),
      s"writeDeltaTable: bad mode '$mode'")
    // Idempotent-writer dance (the delta protocol's SetTransaction
    // action): a commit tagged (appId, version) is skipped when the log
    // already carries that appId at >= version — exactly the replay a
    // Structured Streaming foreachBatch sink issues after a crash. The
    // txn watermark survives log cleanup because [[writeCheckpoint]]
    // folds the newest txn per appId into the checkpoint.
    if (txn.exists { case (appId, v) =>
        latestTxnVersion(spark, fs, logDir(tbl), appId).exists(_ >= v) })
      return
    // "fresh" = this commit starts a new log (version 0): any mode when
    // the log doesn't exist yet. An append/merge bootstrap ADOPTS any
    // parquet already in the directory into the version-0 snapshot,
    // never wipes it — an append must not destroy a pre-delta table.
    // OVERWRITE of an EXISTING table is VERSION-PRESERVING (delta-spark
    // semantics): one commit at the next version that removes every
    // active file and adds the new data — metaData.id, configuration and
    // history all survive, so time travel to pre-overwrite versions and
    // CDF across the boundary keep working (old files stay on disk until
    // vacuum's retention expires them).
    val hasLog = nextVersion(fs, logDir(tbl)).isDefined
    // delta.appendOnly forbids OVERWRITE too (delta-spark's
    // assertRemovable): it removes every live row
    if (m == "overwrite" && hasLog)
      requireNotAppendOnly(spark, fs, tbl, "write_delta")
    // writer-protocol fidelity: refuse to mutate a table whose declared
    // writer features we would silently break (CDF deletes without cdc
    // actions, row tracking, generated/identity columns, unknown v7
    // features). Overwrite both removes every live row and restages.
    // CDF + overwrite needs no cdc files: the commit removes WHOLE files
    // and adds pure new data, which CDF readers serve exactly from the
    // add/remove actions (delta-spark's overwrite emits no cdc either).
    if (hasLog)
      requireWriterCapability(spark, fs, tbl, "write_delta",
        adds = true, removes = m == "overwrite", rewrites = m == "overwrite",
        removesWholeFiles = m == "overwrite",
        // append/merge/overwrite all mint fresh base row ids stepping
        // past the recorded hwm — a log-side assignment, independent of
        // column mapping (fresh rows take the positional default)
        rowIdsHandled = true)
    // table properties only take effect on the commit that CREATES the
    // log (version 0); silently ignoring them on an append/merge into an
    // existing table would let a caller believe they set appendOnly (or
    // any other property) when nothing changed — refuse typed instead
    if (tableProperties.nonEmpty && hasLog && m != "overwrite")
      throw graft.GraftError.InvalidOperation("write_delta",
        s"$tbl already exists — tableProperties are applied only when a " +
          "table is created (version 0); altering properties of an " +
          "existing table is not supported (write with mode=overwrite, " +
          "whose version-preserving metaData refresh applies them)")
    val fresh = !hasLog
    // Column-mapped tables: APPEND is supported by renaming the incoming
    // frame's logical columns to the table's physical names (from the
    // metaData annotations) before staging — what a streaming ingest
    // into a modern mapped table needs. ID-mode tables additionally stage
    // with `parquet.field.id` metadata (Spark's native field-id write),
    // so the table's own by-id reader resolves the new files. Mapped
    // PARTITIONED appends stage under PHYSICAL-named partition dirs
    // (see stagePartitionBy). OVERWRITE of a mapped table PRESERVES its
    // mode: the new schema re-mints under the same mode with ids
    // continuing past the old maxColumnId (delta never reuses an id) —
    // silently demoting to mode=none would strip the resolution
    // annotations a by-name/by-id reader relies on. `columnMapping`
    // forces a mode at creation/overwrite instead (`Some("none")` is the
    // explicit demotion escape hatch).
    // APPEND and MERGE into a DV-bearing table are safe: both only ADD
    // files (never touch the DV'd ones), merge's metaData refresh is
    // pure metadata since r14 (declared schema ⊕ frame, no raw read),
    // and checkpoints carry DV descriptors through the fold.
    columnMapping.foreach { cm =>
      if (!Set("none", "name", "id").contains(cm))
        throw graft.GraftError.InvalidOperation("write_delta",
          s"unknown columnMapping '$cm' — use none, name or id")
      if (m != "overwrite") {
        if (hasLog) {
          val tableMode = columnMappingMode(spark, fs, tbl)
          if (cm != tableMode)
            throw graft.GraftError.InvalidOperation("write_delta",
              s"$m declares columnMapping=$cm but $tbl uses mode " +
                s"'$tableMode' — appends inherit the table's mode")
        } else if (cm != "none")
          throw graft.GraftError.InvalidOperation("write_delta",
            s"columnMapping=$cm needs mode=overwrite — a mapped table is " +
              "created by an overwrite, never bootstrapped by append/merge")
      }
    }
    val priorConf: Map[String, String] =
      if (hasLog) tableConfiguration(spark, fs, tbl) else Map.empty
    val freshMappedMode: String =
      if (m != "overwrite") "none"
      else columnMapping.getOrElse(
        priorConf.getOrElse("delta.columnMapping.mode", "none"))
    // row tracking + column mapping compose: the materialized row-id
    // columns are PHYSICAL-only identifiers (named in the table
    // configuration, absent from the logical schema), so they need no
    // mapping annotations — scans read them by name, rewrites restage
    // them verbatim alongside the renamed data columns
    val freshMinted: Option[(String, StructType)] =
      if (m == "overwrite" && freshMappedMode != "none") {
        if (freshMappedMode != "name" && freshMappedMode != "id")
          throw graft.GraftError.InvalidOperation("write_delta",
            s"$tbl uses unknown column mapping mode '$freshMappedMode'; " +
              "overwrite can preserve only name and id modes")
        val startId = priorConf.get("delta.columnMapping.maxColumnId")
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        Some(freshMappedMode ->
          mintMappingSchema(df.schema, startId, freshMappedMode, tbl))
      } else None
    val mappedInfo: Option[(String, StructType)] =
      if (hasLog && m != "overwrite") {
        val mode = columnMappingMode(spark, fs, tbl)
        if (mode != "none" && mode != "name" && mode != "id")
          throw graft.GraftError.InvalidOperation("write_delta",
            s"$tbl uses unknown column mapping mode '$mode'; only " +
              "name- and id-mode tables can be appended to")
        val mapped = logicalSchemaIfMapped(spark, fs, tbl)
        mapped.foreach { case (mo, logical) =>
          // merge IS supported on mapped tables when schema-stable: the
          // column checks below (no missing, no extra vs the logical
          // schema) are exactly that gate, and the commit PRESERVES the
          // table's metaData instead of re-minting it (see actionsFor) —
          // a refreshed metaData would clobber the mapping annotations
          if (mo == "id") requireIdWritable(logical, tbl, "write_delta")
        }
        mapped
      } else freshMinted
    val mappedSchema: Option[StructType] = mappedInfo.map(_._2)
    val idMapped = mappedInfo.exists(_._1 == "id")
    // mapped PARTITIONED writes stage under PHYSICAL partition directory
    // names (the delta colmap layout); the caller speaks logical
    val stagePartitionBy: Seq[String] = mappedSchema match {
      case Some(logical) if partitionBy.nonEmpty =>
        partitionBy.map { pc =>
          logical.fields.find(_.name == pc).map { f =>
            if (f.metadata.contains(PhysicalNameKey))
              f.metadata.getString(PhysicalNameKey)
            else f.name
          }.getOrElse(throw graft.GraftError.InvalidOperation("write_delta",
            s"$tbl: partition column '$pc' not in the mapped table schema"))
        }
      case _ => partitionBy
    }
    if (hasLog && m != "overwrite") {
      // appends must match the table's declared partitioning — silently
      // mixing layouts would corrupt partition inference on read. Falls
      // back to the checkpoint's metaData when older commits were cleaned.
      val tableCols = tablePartitionColumns(spark, fs, tbl)
      tableCols.foreach { cols =>
        // mapped tables: metaData.partitionColumns may be spelled
        // logically (delta-spark) or physically (other writers) — the
        // caller always speaks logical, so accept either image
        if (cols != partitionBy && cols != stagePartitionBy)
          throw graft.GraftError.PartitionError(
            s"append declares partitioning (${partitionBy.mkString(", ")}) " +
              s"but the table was written with (${cols.mkString(", ")})",
            cols)
      }
    }
    if (!hasLog && m != "overwrite" && partitionBy.nonEmpty &&
        dataFiles(fs, tbl).nonEmpty)
      throw graft.GraftError.PartitionError(
        "cannot bootstrap a partitioned delta table by appending to an " +
          "existing non-delta directory (layouts would mix); overwrite instead",
        partitionBy)
    // Stage-and-move: write the new files into a staging dir and rename
    // them into the table, so the commit's add set is known from the
    // (small) staging listing — an append never needs to list the whole
    // table, whose file count is unbounded at scale. Bootstrap version-0
    // commits list the table once to pick up everything present,
    // including bootstrapped pre-delta files. OVERWRITE stages OUTSIDE
    // the table directory: a competing overwrite wipes the table
    // recursively, and a multi-second staging job must not be
    // destroyable mid-write (it would surface as an arbitrary parquet
    // error instead of the typed concurrent-overwrite failure).
    val stageId = java.util.UUID.randomUUID()
    val stage =
      if (m == "overwrite" && tbl.getParent != null)
        new HPath(tbl.getParent, s".graft_stage_${tbl.getName}_$stageId")
      else new HPath(tbl, s".graft_stage_$stageId")
    // CHECK constraints + NOT NULL invariants this commit must enforce:
    // the configuration the committed table WILL declare (an existing
    // table's on append/merge; preserved-properties ∪ caller properties
    // on create/overwrite — delta-spark overwrite keeps configuration,
    // so a table's constraints survive an overwrite and gate its new
    // rows too). NOT NULL comes from the DECLARED schema on appends;
    // a fresh write's schema is the frame's own, trivially satisfied.
    // Enforcement rides the staging scan itself via Dataset.observe —
    // a single pass, no second read of an arbitrarily expensive input —
    // and a violation aborts BEFORE the log commit: the staged files
    // are swept by the finally below and the table never saw them
    // (visibility comes only from the commit slot), so the abort is
    // exactly as transactional as delta-spark's mid-job task failure.
    val enforceConf: Map[String, String] =
      if (hasLog && m != "overwrite") priorConf
      else (if (m == "overwrite") priorConf
            else Map.empty[String, String]) ++ tableProperties
    // a version-0 BOOTSTRAP append adopts pre-existing parquet whose rows
    // this write never sees — declaring CHECK constraints over them would
    // commit an invariant that may never have held (every later
    // reader/writer trusts version 0 validated it). Refuse typed; the
    // caller's route is validate-then-overwrite.
    if (!hasLog && m != "overwrite" &&
        enforceConf.keys.exists(_.startsWith("delta.constraints.")) &&
        dataFiles(fs, tbl).nonEmpty)
      throw graft.GraftError.InvalidOperation("write_delta",
        s"$tbl: cannot declare CHECK constraints while bootstrapping a " +
          "delta log over pre-existing parquet — the adopted files' rows " +
          "were never validated; load and overwrite instead")
    val enforceSchema: Option[StructType] =
      if (hasLog && m != "overwrite") parsedTableSchema(spark, fs, tbl)
      else None
    // generated columns: absent ones are COMPUTED from their expressions
    // (dfIn carries them into staging), caller-supplied ones validate
    // value<=>expression through the same observe pass as the constraints.
    // A FRESH create/overwrite takes the generation metadata from the
    // frame's own schema — the table it creates declares it, so garbage
    // initial values would violate the invariant every later writer
    // (ours and delta-spark's) assumes held from version 0
    val genCols = generatedColumns(enforceSchema.orElse(Some(df.schema)))
    val dfGen = materializeGenerated(df, genCols, enforceSchema)
    // identity columns: rows OMITTING the column get gapless values
    // stepping past the recorded high-water mark (metaData refreshes
    // with the new mark in this same commit); explicit values need
    // delta.identity.allowExplicitInsert=true and advance the mark past
    // their extreme
    // identity + mapping compose too: identity is a LOGICAL schema
    // concern (metadata on the declared field, values assigned before
    // staging), and the logical→physical rename below carries the
    // assigned column like any other
    val idColsW = identityCols(enforceSchema.orElse(Some(df.schema)))
    // identity hwm updates rebase on the schema the commit will DECLARE:
    // the table's own on appends, the freshly MINTED mapped schema on a
    // mapped create/overwrite (starting from the raw frame schema would
    // record a schemaString without the mapping annotations — every
    // later read would resolve the logical names to nothing)
    var identitySchemaBase: StructType =
      enforceSchema.orElse(freshMinted.map(_._2)).getOrElse(df.schema)
    var identityEvolved = false
    val dfIn = idColsW.foldLeft(dfGen) { (cur, ic) =>
      val supplied = cur.columns.exists(_.equalsIgnoreCase(ic.name))
      if (supplied && !ic.allowExplicit)
        throw graft.GraftError.InvalidOperation("write_delta",
          s"$tbl: column ${ic.name} is GENERATED ALWAYS AS IDENTITY — " +
            "explicit values are not allowed (omit the column, or " +
            "declare delta.identity.allowExplicitInsert=true)")
      else if (supplied) {
        import org.apache.spark.sql.functions.{max => smax, min => smin}
        val agg = if (ic.step >= 0) smax(col(s"`${ic.name}`"))
          else smin(col(s"`${ic.name}`"))
        val row = cur.agg(agg.cast("long")).first()
        val extreme = if (row.isNullAt(0)) None else Some(row.getLong(0))
        val newHwm = (ic.hwm.toSeq ++ extreme.toSeq) match {
          case Nil => None
          case vs => Some(if (ic.step >= 0) vs.max else vs.min)
        }
        if (newHwm != ic.hwm || enforceSchema.isEmpty) {
          newHwm.foreach { h =>
            identitySchemaBase = withIdentityHwm(identitySchemaBase,
              ic.name, h)
            identityEvolved = true
          }
        }
        cur
      } else {
        val (withCol, newHwm) = assignIdentityValues(cur, ic)
        identitySchemaBase = withIdentityHwm(identitySchemaBase,
          ic.name, newHwm)
        identityEvolved = true
        withCol
      }
    }
    val identityUpdatedSchema: Option[StructType] =
      if (identityEvolved) Some(identitySchemaBase) else None
    val enforceChecks = enforcementChecks(spark, enforceConf, enforceSchema,
      dfIn.schema, tbl, "write_delta") ++
      generatedChecks(genCols, df.columns.toSeq)
    val enforceObs =
      if (enforceChecks.isEmpty) None
      else Some(new org.apache.spark.sql.Observation(s"graft_enforce_$stageId"))
    val dfSrc = enforceObs.map { o =>
      import org.apache.spark.sql.functions.{sum, when}
      val metrics = enforceChecks.zipWithIndex.map { case ((_, p), i) =>
        sum(when(p, 1L).otherwise(0L)).cast("long").as(s"c$i") }
      dfIn.observe(o, metrics.head, metrics.tail: _*)
    }.getOrElse(dfIn)
    // mapped append: stage under the table's PHYSICAL column names —
    // logical→physical is the same positional struct-cast rename the
    // read path applies in reverse
    // schema-EVOLVING append/merge on a name-mapped table: new frame
    // columns get MINTED mapping annotations — a fresh
    // delta.columnMapping.id above the table's maxColumnId and a
    // deterministic uuid-style physicalName — and the commit refreshes
    // metaData with the widened schema and the bumped maxColumnId.
    // Old files lack the new physical columns, so existing rows read
    // back null for them; old readers still resolve every pre-existing
    // column through its unchanged annotations. Nested-struct evolution
    // stays refused (mergeSchemas would need per-subfield minting).
    val mappedEvolved: Option[StructType] = mappedSchema.flatMap { logical =>
      import org.apache.spark.sql.types._
      val extra = df.columns.filterNot(logical.fieldNames.contains)
      if (extra.isEmpty) None
      else {
        val confMax = tableConfiguration(spark, fs, tbl)
          .get("delta.columnMapping.maxColumnId")
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L)
        // nested annotations count too (a foreign writer may annotate
        // below the top level) — never re-mint a used id
        val base = math.max(confMax, maxMappingId(logical))
        // per the protocol, column mapping annotates EVERY nested struct
        // field with its own physicalName + id — a new nested column
        // mints recursively (parent id first, then subfields), and
        // maxColumnId bumps past the deepest mint (see actionsFor).
        // Id-mode tables mint nested columns too: staging emits parquet
        // field ids at every nesting level (physicalFieldIdType).
        var mintId = base
        def nextId(): Long = { mintId += 1; mintId }
        def mintType(dt: DataType, pathKey: String): DataType = dt match {
          case st: StructType => StructType(st.fields.map(f =>
            mintField(f.name, s"$pathKey.${f.name}", f.dataType, f.metadata)))
          case at: ArrayType =>
            at.copy(elementType = mintType(at.elementType, s"$pathKey.element"))
          case mt: MapType =>
            mt.copy(keyType = mintType(mt.keyType, s"$pathKey.key"),
              valueType = mintType(mt.valueType, s"$pathKey.value"))
          case other => other
        }
        def mintField(name: String, pathKey: String, dt: DataType,
            meta: Metadata): StructField = {
          val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
            (pathKey + "#graft-cm-evolve").getBytes("UTF-8")).toString
          val id = nextId()
          StructField(name, mintType(dt, pathKey), nullable = true,
            new MetadataBuilder().withMetadata(meta)
              .putLong(MappingIdKey, id)
              .putString(PhysicalNameKey, phys).build())
        }
        val newFields = extra.map { name =>
          val src = df.schema(name)
          mintField(name, name, src.dataType, src.metadata)
        }
        Some(StructType(logical.fields ++ newFields))
      }
    }
    val dfToStage = mappedSchema match {
      case Some(logical0) =>
        val missing = logical0.fields.map(_.name).filterNot(dfIn.columns.contains)
        if (missing.nonEmpty)
          throw graft.GraftError.InvalidOperation("write_delta",
            s"append to mapped table $tbl: frame lacks table columns " +
              missing.mkString(", "))
        val logical = mappedEvolved.getOrElse(logical0)
        val physical = physicalType(logical).asInstanceOf[StructType]
        dfSrc.select(logical.fields.zip(physical.fields).map { case (lf, pf) =>
          // id-mode files resolve BY parquet field id: the cast target
          // carries parquet.field.id metadata at EVERY nesting level
          // (physicalFieldIdType) so the field-id write emits nested ids
          // too; the top-level id rides on the alias
          if (idMapped)
            col(s"`${lf.name}`").cast(physicalFieldIdType(lf.dataType, tbl))
              .as(pf.name, new org.apache.spark.sql.types.MetadataBuilder()
                .putLong(ParquetFieldIdKey, lf.metadata.getLong(MappingIdKey))
                .build())
          else col(s"`${lf.name}`").cast(stripMeta(pf.dataType)).as(pf.name)
        }: _*)
      case None => dfSrc
    }
    val w = dfToStage.write.mode("overwrite")
    try {
    withFieldIdWriteIf(spark, idMapped) {
      (if (stagePartitionBy.nonEmpty) w.partitionBy(stagePartitionBy: _*)
       else w).parquet(stage.toString)
    }
    // observed violation counts from the staging scan — abort pre-commit
    // (the finally sweeps the staged files; nothing was made visible)
    enforceObs.foreach { o =>
      val got = o.get
      val violated = enforceChecks.zipWithIndex.flatMap { case ((label, _), i) =>
        got.get(s"c$i").collect { case n: java.lang.Long if n > 0L =>
          label -> n.longValue }
      }
      if (violated.nonEmpty)
        throw graft.GraftError.ConstraintViolation(path, s"write_delta($m)",
          violated)
    }

    def swapAndCommit(): Unit = {
    // version-preserving overwrite: the files to REMOVE are the active
    // set of the pre-commit snapshot, captured HERE — inside the
    // overwrite lock, after any same-driver predecessor committed —
    // so back-to-back overwrites each remove their predecessor's adds
    // (a stale capture would leave them alive and turn the overwrite
    // into a union). Their DV descriptors echo on the removes so a
    // foreign vacuum can associate orphaned bin files, like PURGE does.
    // The capture records the log version it reflects: a cross-process
    // commit landing between this capture and the commit-slot grab would
    // otherwise bump nextVersion and let the overwrite win a LATER slot
    // with a remove set missing the interloper's files (silent union) —
    // the pre-acquire recheck below recaptures on any version movement.
    var overwriteRemoveBase: Long = -1L
    var overwriteRemoves: Seq[(String, Long, Option[String])] = Nil
    def captureOverwriteRemoves(): Unit =
      if (m == "overwrite" && hasLog) {
        val (base, pairs) =
          overwriteRemoveSet(spark, path, snapshotDriverMaxBytes)
        overwriteRemoveBase = base
        overwriteRemoves = pairs
      }
    captureOverwriteRemoves()
    // overwrite of a NON-delta directory wipes it only now, with the
    // replacement fully staged — the dir is never missing while the
    // heavy job runs. An existing TABLE is never wiped: its old files
    // back time travel until vacuum retention expires them.
    if (m == "overwrite" && !hasLog && fs.exists(tbl)) fs.delete(tbl, true)
    val staged = dataFiles(fs, stage)
    staged.foreach { case (rel, _) =>
      val target = new HPath(tbl, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(new HPath(stage, rel), target))
        throw new IllegalStateException(s"delta data move failed: $target")
    }
    fs.delete(stage, true)
    val newFiles: Seq[(String, FileStatus)] =
      if (fresh && m != "overwrite")
        dataFiles(fs, tbl).toSeq.sortBy(_._1) // incl. bootstrapped files
      else staged.keys.toSeq.sorted
        .map(rel => rel -> fs.getFileStatus(new HPath(tbl, rel)))

    val txnId = java.util.UUID.randomUUID().toString
    // once per write, not per retry: retries rebase the version number,
    // never the file set
    val statsByRel = statsForAll(spark, fs, tbl, newFiles.map(_._1))
    // version-0 bootstrap over pre-delta parquet: the commit adopts files
    // this write didn't stage, whose columns the frame can't know
    val bootstrapped = fresh && m != "overwrite" &&
      newFiles.map(_._1).toSet != staged.keys.toSet
    // a non-mapped APPEND whose frame carries columns beyond the declared
    // schema refreshes metaData with the merged schema, like merge does:
    // reads resolve against the log's schemaString — never file footers —
    // so the log must record the widened schema or the new columns would
    // be invisible. A log with no parseable schemaString stays untouched
    // (its readers fall back to footer merging anyway).
    // widening appends: a table that enables delta.enableTypeWidening
    // accepts a frame whose field types are LEGAL LOSSLESS widenings of
    // the declared ones — the commit widens the declared schema in place
    // and records delta.typeChanges (the protocol's writer obligation);
    // files written before the widening keep their narrow physical type
    // and upcast at scan (the reader side this engine already carries)
    val typeWidenEnabled = !fresh &&
      confEnabled(tableConfiguration(spark, fs, tbl),
        "delta.enableTypeWidening")
    val evolvedAppendSchema: Option[StructType] =
      if (fresh || m != "append" || mappedSchema.nonEmpty) None
      else parsedTableSchema(spark, fs, tbl).flatMap { t =>
        // case-INSENSITIVE like Spark resolution: a frame spelling a
        // declared column differently is the SAME column (reads resolve
        // it against the declared name), not a schema evolution — the
        // merged schema would carry both spellings and every later read
        // would fail with a duplicate-column error
        val noNewCols = df.schema.fields.forall(f =>
          t.fieldNames.exists(_.equalsIgnoreCase(f.name)))
        if (noNewCols && !(typeWidenEnabled && wouldWiden(t, df.schema)))
          None
        else Some(mergeSchemas(t, df.schema, path,
          widen = typeWidenEnabled))
      }
    // same-name-different-type appends that are NOT legal (narrower
    // writes upcast at scan and pass; widenings pass only with the
    // property, via the metaData refresh above): staging such files
    // would break every later declared-schema read — refuse typed
    if (m == "append" && !fresh && mappedSchema.isEmpty &&
        evolvedAppendSchema.isEmpty)
      parsedTableSchema(spark, fs, tbl).foreach { t =>
        val conflicts = appendTypeConflicts(t, df.schema, typeWidenEnabled)
        if (conflicts.nonEmpty)
          throw graft.GraftError.InvalidOperation("write_delta",
            s"append into $path: ${conflicts.mkString("; ")}")
      }
    def actionsFor(version: Long): String = {
      val actions = ListBuffer.empty[String]
      // in-commit timestamp: evaluated per slot attempt (a rebase retry
      // follows a winner whose ICT this commit must exceed); the value
      // is shared with the enablement-property stamp below
      val ictVal = ictFor(fs, tbl, enforceConf)
      actions += (ictVal match {
        case Some(ict) =>
          s"""{"commitInfo":{"inCommitTimestamp":$ict,"operation":"${m.toUpperCase}","txnId":"$txnId"}}"""
        case None =>
          s"""{"commitInfo":{"operation":"${m.toUpperCase}","txnId":"$txnId"}}"""
      })
      txn.foreach { case (appId, v) =>
        actions += s"""{"txn":{"appId":"${esc(appId)}","version":$v,""" +
          s""""lastUpdated":${System.currentTimeMillis()}}}"""
      }
      val requiredProtocol = protocolAction(freshMinted.nonEmpty,
        enforceConf.keys.exists(_.startsWith("delta.constraints.")),
        df.schema.fields.exists(
          _.metadata.contains("delta.generationExpression")) ||
          confEnabled(enforceConf, "delta.enableChangeDataFeed"),
        rowTracking = rowTrackingEnabled(enforceConf),
        identity = idColsW.nonEmpty,
        dv = confEnabled(enforceConf, "delta.enableDeletionVectors"),
        // delta.checkpointPolicy=v2 (delta-spark's opt-in property):
        // declares the v2Checkpoint feature, so writeCheckpoint emits
        // the sidecar layout on this table from the start
        v2cp = enforceConf.get("delta.checkpointPolicy")
          .exists(_.trim.equalsIgnoreCase("v2")),
        ict = confEnabled(enforceConf, "delta.enableInCommitTimestamps"),
        typeWiden = confEnabled(enforceConf, "delta.enableTypeWidening"),
        variant = hasVariantType(df.schema))
      if (version == 0L) actions += requiredProtocol
      else if (m == "overwrite")
        // version-preserving overwrite: the existing protocol stays
        // unless the new content NEEDS more (preserved configuration
        // means features never shrink, so only upgrades ever emit)
        protocolUpgradeFor(tableFullProtocol(spark, fs, tbl),
          requiredProtocol).foreach(actions += _)
      // merge commits refresh metaData with the post-write merged schema —
      // EXCEPT on a mapped table, where the gate above already proved the
      // merge schema-stable and the existing metaData (the mapping
      // annotations) must be preserved, not re-minted from the raw frame
      if (version == 0L || m == "overwrite" ||
          (m == "merge" && mappedSchema.isEmpty) ||
          evolvedAppendSchema.nonEmpty || mappedEvolved.nonEmpty ||
          identityUpdatedSchema.nonEmpty) {
        // identity high-water marks ride the field metadata of whatever
        // schema this commit records — applied LAST so merge/evolution
        // branches carry the fresh mark too
        def withHwms(s: StructType): StructType =
          identityUpdatedSchema.map { upd =>
            identityCols(Some(upd)).foldLeft(s)((acc, ic) =>
              ic.hwm.map(h => withIdentityHwm(acc, ic.name, h))
                .getOrElse(acc))
          }.getOrElse(s)
        val schema = withHwms(
          if (mappedEvolved.nonEmpty) mappedEvolved.get
          else if (m == "overwrite")
            // overwrite's schema is the frame's own (re-minted under the
            // preserved mapping mode when the table is mapped) — at ANY
            // version: the version>0 branches below are append/merge
            // evolutions of a DECLARED schema the overwrite replaces
            identityUpdatedSchema.orElse(freshMinted.map(_._2))
              .getOrElse(df.schema)
          else if (m == "merge" && version > 0L)
            // merged schema = declared table schema ⊕ the frame's — pure
            // metadata. The old raw mergeSchema read opened EVERY parquet
            // footer in the table per merge commit (a full-footer scan at
            // 100 TB) and tripped over non-parquet DV bin files. A log
            // with no parseable schemaString (foreign writers) falls back
            // to the footer read.
            parsedTableSchema(spark, fs, tbl)
              .map(t => mergeSchemas(t, df.schema, path,
                widen = typeWidenEnabled)).getOrElse(
              spark.read.option("mergeSchema", "true").parquet(path).schema)
          else if (version > 0L && evolvedAppendSchema.nonEmpty)
            evolvedAppendSchema.get
          else if (version > 0L) identityUpdatedSchema.get
          else if (m == "merge" || bootstrapped)
            // version-0 bootstrap: the dir's pre-delta content is unknown
            // — the one case that warrants reading file footers
            spark.read.option("mergeSchema", "true").parquet(path).schema
          else identityUpdatedSchema.orElse(freshMinted.map(_._2))
            .getOrElse(df.schema))
        // a metaData refresh of an EXISTING table must not re-derive
        // partitionColumns from the caller (who may pass none on an
        // already-partitioned table) nor wipe the table's configuration
        // (delta.enableDeletionVectors, columnMapping.*): preserve both,
        // bumping maxColumnId when mapping annotations were minted
        val metaParts =
          // overwrite's partitioning is the CALLER's, even when empty
          // (an overwrite may de-partition a table — the new layout
          // replaces the old, exactly like the schema does)
          if (version > 0L && partitionBy.isEmpty && m != "overwrite")
            tablePartitionColumns(spark, fs, tbl).getOrElse(partitionBy)
          else partitionBy
        val metaConf =
          if (version == 0L || m == "overwrite") {
            // overwrite preserves the table's configuration (delta-spark
            // save(overwrite) semantics: enableDeletionVectors & co stay)
            // under the caller's tableProperties; column-mapping keys are
            // managed here — re-minted when the mode is preserved/forced,
            // dropped on an explicit columnMapping=Some("none") demotion
            val preserved = (if (m == "overwrite") priorConf else
              Map.empty[String, String]) -
              "delta.columnMapping.mode" - "delta.columnMapping.maxColumnId"
            val cmConf = freshMinted match {
              case Some((mo, minted)) => Map(
                "delta.columnMapping.mode" -> mo,
                "delta.columnMapping.maxColumnId" ->
                  maxMappingId(minted).toString)
              case None => Map.empty[String, String]
            }
            val base0 = preserved ++ cmConf ++ tableProperties
            // ICT enabled MID-LIFE (an overwrite's tableProperties on an
            // existing table): the protocol requires recording WHERE the
            // in-log clock starts — readers resolve pre-enablement
            // versions by mtime, post-enablement by ICT
            val base =
              if (version > 0L &&
                  confEnabled(base0, "delta.enableInCommitTimestamps") &&
                  !confEnabled(priorConf, "delta.enableInCommitTimestamps"))
                base0 +
                  ("delta.inCommitTimestampEnablementVersion" ->
                    version.toString) +
                  ("delta.inCommitTimestampEnablementTimestamp" ->
                    ictVal.getOrElse(System.currentTimeMillis()).toString)
              else base0
            // row tracking mints the hidden materialized-column names at
            // creation (the delta-spark shape) — rewrites store each
            // surviving row's id/commit-version under them
            if (rowTrackingEnabled(base) && !base.contains(MatRowIdKey))
              base +
                (MatRowIdKey -> s"_row-id-col-${java.util.UUID.randomUUID()}") +
                (MatRowVerKey -> s"_row-commit-col-${java.util.UUID.randomUUID()}")
            else base
          }
          else {
            val base = tableConfiguration(spark, fs, tbl)
            mappedEvolved match {
              case Some(ev) =>
                // nested mints allocate ids below the top level too —
                // maxColumnId must clear the deepest annotation
                base + ("delta.columnMapping.maxColumnId" ->
                  maxMappingId(ev).toString)
              case None => base
            }
          }
        actions += metaDataAction(schema.json, metaParts, metaConf,
          tableId = if (version == 0L) None
            else tableMetaDataId(spark, fs, tbl))
      }
      // version-preserving overwrite: remove every file of the
      // pre-commit active set (dataChange=true — rows disappear), the
      // adds below stage the replacement in the SAME commit
      if (overwriteRemoves.nonEmpty) {
        val now = System.currentTimeMillis()
        overwriteRemoves.foreach { case (rel, size, dv) =>
          val dvJson = dv.map(j => s""","deletionVector":$j""").getOrElse("")
          actions += s"""{"remove":{"path":"${esc(rel)}",""" +
            s""""deletionTimestamp":$now,"dataChange":true,"size":$size$dvJson}}"""
        }
      }
      // row tracking: assign fresh base-row-id ranges to this commit's
      // files and advance the high-water mark in the same commit (the
      // hwm re-reads per attempt — a rebase retry may follow a
      // concurrent writer who advanced it)
      val rowIdsByRel: Map[String, Long] =
        if (!rowTrackingEnabled(enforceConf)) Map.empty
        else {
          val hwm = if (version == 0L) -1L
            else rowIdHighWaterMark(spark, fs, tbl)
          val (byRel, newHwm) = assignBaseRowIds(fs, tbl,
            newFiles.map(_._1), statsByRel, hwm)
          actions += domainMetadataAction(newHwm)
          byRel
        }
      newFiles.foreach { case (rel, st) =>
        actions += addAction(rel, st, statsByRel.getOrElse(rel, None),
          rowIds = rowIdsByRel.get(rel).map(b => (b, version))) }
      actions.mkString("\n") + "\n"
    }

    // Optimistic commit: stage the content, acquire the numbered slot only
    // if it's free ([[acquireCommitSlot]]). Append/merge losers rebase:
    // their add set is new files no other writer knows about, so
    // re-committing at the next version is safe.
    fs.mkdirs(logDir(tbl))
    var version = if (fresh) 0L
      else nextVersion(fs, logDir(tbl)).getOrElse(0L)
    var committed = false
    var attempts = 0
    val maxAttempts = 20
    while (!committed && attempts < maxAttempts) {
      attempts += 1
      // overwrite: the remove set was captured at a specific log version;
      // file renames + the stats job ran since. If ANY commit landed in
      // that window (nextVersion moved), the capture is stale — recapture
      // so the remove set covers the interloper's files too. A commit
      // racing AFTER this recheck loses nothing: the slot grab below is
      // atomic, and a lost overwrite slot throws typed.
      if (m == "overwrite" && hasLog) {
        val freshBase = nextVersion(fs, logDir(tbl)).getOrElse(0L)
        if (freshBase != overwriteRemoveBase) {
          captureOverwriteRemoves()
          version = math.max(version, freshBase)
        }
      }
      val won = acquireCommitSlot(fs, logDir(tbl), version, txnId, actionsFor(version))
      if (won) committed = true
      else {
        if (m == "overwrite")
          throw graft.GraftError.WriteError(path, "overwrite",
            s"version-$version commit lost to a concurrent writer — an " +
              "overwrite's remove set was computed from the pre-commit " +
              "snapshot, which the winner has superseded; re-run the " +
              "overwrite against the fresh table")
        // the slot winner may be our own replayed twin (same txn) —
        // stop rather than double-commit; the just-moved files stay
        // unreferenced orphans for vacuum
        if (txn.exists { case (appId, v) =>
            latestTxnVersion(spark, fs, logDir(tbl), appId).exists(_ >= v) })
          committed = true
        else {
          // identity appends assigned their sequence values from the
          // high-water mark read at ENTRY — a winner that refreshed the
          // table metadata (another identity append bumping the mark, a
          // schema change) invalidates them; rebasing would commit
          // duplicate "unique" values and clobber the winner's mark.
          // Winners WITHOUT a metaData/protocol action left the mark
          // untouched, so the plain rebase stays safe.
          if (identityUpdatedSchema.nonEmpty) {
            // parse, don't substring-match: a foreign winner whose
            // commitInfo merely EMBEDS "metaData"/"protocol" text (e.g.
            // in operationParameters) is not a metadata change — match
            // requireNoLogicalConflict's JSON top-level check
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            existingVersions(fs, logDir(tbl)).filter(_ >= version)
              .foreach { w =>
                readString(fs, new HPath(logDir(tbl), commitName(w)))
                  .linesIterator.foreach { line =>
                  val node = try mapper.readTree(line)
                    catch { case _: Exception => null }
                  if (node != null &&
                      (node.has("metaData") || node.has("protocol")))
                    throw graft.GraftError.ConcurrentModification(path, m,
                      s"version $w changed the table metadata while this " +
                        "write held stale identity-sequence values; " +
                        "re-run the write against the fresh snapshot")
                }
              }
          }
          version = math.max(version + 1,
            nextVersion(fs, logDir(tbl)).getOrElse(0L))
        }
      }
    }
    if (!committed)
      throw graft.GraftError.WriteError(path, m,
        s"gave up after $maxAttempts optimistic-commit attempts (heavy concurrent writer load?)")
    if (checkpointInterval > 0 && version > 0 && version % checkpointInterval == 0)
      writeCheckpoint(spark, path, version)
    }

    if (m == "overwrite") {
      // same-driver overwrites serialize on the cheap swap phase (the
      // heavy staging job above runs unlocked), so each captures its
      // predecessor's committed snapshot as its remove set; cross-process
      // races fail TYPED (lost commit slot), never as a raw FS error
      overwriteLock(fs.makeQualified(tbl).toString).synchronized {
        try swapAndCommit()
        catch {
          case e: graft.GraftError => throw e
          case scala.util.control.NonFatal(e) =>
            throw graft.GraftError.WriteError(path, m,
              "overwrite swap interfered with by a concurrent writer: " +
                s"$e")
        }
      }
    } else swapAndCommit()
    } finally {
      // crash hygiene: the success path deletes the stage mid-swap; on
      // any failure the staging dir must not leak (vacuum additionally
      // sweeps stale stages left by hard-killed processes)
      try { if (fs.exists(stage)) fs.delete(stage, true) }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Atomically acquire commit slot `version`: stage `content` to a tmp
    * file, then take the slot create-exclusively. Returns true iff THIS
    * writer's bytes own the slot; a lost slot is never clobbered.
    *
    * Local FS: rename(2) silently REPLACES the destination, so even a
    * read-back verify has a window (A renames+verifies, B replaces — both
    * believe they won). link(2) is a true atomic create-exclusive: the
    * slot either acquires our fully-written bytes or the call fails.
    * HDFS-like stores keep the rename path, whose rename refuses an
    * existing destination; the read-back verify stays as a belt for
    * stores with lax rename semantics.
    */
  private[sources] def acquireCommitSlot(fs: FileSystem, log: HPath,
      version: Long, txnId: String, content: String): Boolean = {
    val commit = new HPath(log, commitName(version))
    val tmp = new HPath(log, s".${commitName(version)}.$txnId.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
    val won =
      if ("file" == fs.getUri.getScheme) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(commit.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else {
        val renamed = !fs.exists(commit) && fs.rename(tmp, commit)
        renamed && readString(fs, commit).contains(txnId)
      }
    fs.delete(tmp, false)
    if (won) writeVersionChecksum(fs, log, version, txnId, content)
    won
  }

  private[sources] def crcName(v: Long): String = f"$v%020d.crc"

  /** Per-version checksum files (delta-spark's VersionChecksum shape):
    * every won commit slot writes `<version>.crc` with the POST-commit
    * snapshot's `numFiles` and `tableSizeBytes`, computed INCREMENTALLY
    * from the predecessor's crc plus this commit's add/remove actions —
    * O(commit actions), never a snapshot fold, so the cost holds at a
    * 10⁶-file table. The chain seeds at version 0; when the predecessor
    * crc is missing (foreign writers, crafted logs, a pre-crc history)
    * or a remove action carries no size, the file is SKIPPED — a wrong
    * checksum would poison readers ([[read]] refuses typed on mismatch),
    * a missing one merely skips validation. Best-effort by construction:
    * any I/O failure here must never fail the already-won commit.
    */
  private def writeVersionChecksum(fs: FileSystem, log: HPath,
      version: Long, txnId: String, content: String): Unit = {
    try {
      import com.fasterxml.jackson.databind.ObjectMapper
      val mapper = new ObjectMapper()
      var files = 0L; var bytes = 0L; var sizesOk = true
      content.linesIterator.foreach { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        if (node != null) {
          val add = node.get("add"); val rem = node.get("remove")
          if (add != null && add.get("path") != null) {
            files += 1
            bytes += Option(add.get("size")).filterNot(_.isNull)
              .map(_.asLong(0L)).getOrElse(0L)
          }
          if (rem != null && rem.get("path") != null) {
            files -= 1
            Option(rem.get("size")).filterNot(_.isNull) match {
              case Some(s) => bytes -= s.asLong(0L)
              case None => sizesOk = false
            }
          }
        }
      }
      val base: Option[(Long, Long)] =
        if (version == 0L) Some((0L, 0L))
        else {
          val prev = new HPath(log, crcName(version - 1))
          if (!fs.exists(prev)) None
          else {
            val n = try mapper.readTree(readString(fs, prev))
              catch { case _: Exception => null }
            if (n == null) None
            else (Option(n.get("numFiles")).filterNot(_.isNull),
                Option(n.get("tableSizeBytes")).filterNot(_.isNull)) match {
              case (Some(a), Some(b)) => Some((a.asLong(), b.asLong()))
              case _ => None
            }
          }
        }
      base match {
        case Some((pf, pb)) if sizesOk =>
          val body =
            s"""{"tableSizeBytes":${pb + bytes},"numFiles":${pf + files},""" +
              s""""numMetadata":1,"numProtocol":1,"txnId":"$txnId"}"""
          val out = fs.create(new HPath(log, crcName(version)), true)
          try out.write(body.getBytes("UTF-8")) finally out.close()
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The (numFiles, tableSizeBytes) a `<version>.crc` declares, when one
    * exists and parses. */
  private def versionChecksumOf(fs: FileSystem, log: HPath,
      version: Long): Option[(Long, Long)] = {
    val p = new HPath(log, crcName(version))
    if (!fs.exists(p)) return None
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(readString(fs, p))
      (Option(n.get("numFiles")).filterNot(_.isNull),
        Option(n.get("tableSizeBytes")).filterNot(_.isNull)) match {
        case (Some(a), Some(b)) => Some((a.asLong(), b.asLong()))
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  /** Validate a snapshot's folded (numFiles, tableSizeBytes) against the
    * version's `.crc` when present — delta-spark's VersionChecksum
    * verification. A mismatch means the log replay and the writer's own
    * bookkeeping disagree (corruption, a torn log) — refuse typed rather
    * than serve rows from a snapshot that provably lost or gained files.
    *
    * The caller must gate this to PURE-COMMIT-REPLAY folds: a checkpoint
    * is authoritative over commit granularity (a foreign checkpoint may
    * legally fold state whose commits were cleaned away, or even
    * redefine the active set), so a checkpoint-seeded fold and a
    * commit-incremental checksum chain are not comparable.
    */
  private def validateVersionChecksum(fs: FileSystem, log: HPath,
      version: Long, numFiles: => Long, sizeBytes: => Long,
      path: String): Unit = {
    versionChecksumOf(fs, log, version).foreach { case (cf, cb) =>
      val nf = numFiles
      if (nf != cf)
        throw graft.GraftError.InvalidOperation("load_delta",
          s"$path: version-$version checksum declares $cf active files " +
            s"but the log replay finds $nf — the table's log is " +
            "corrupted (version checksum mismatch)")
      val sb = sizeBytes
      if (sb != cb)
        throw graft.GraftError.InvalidOperation("load_delta",
          s"$path: version-$version checksum declares $cb table bytes " +
            s"but the log replay finds $sb — the table's log is " +
            "corrupted (version checksum mismatch)")
    }
  }

  /** Copy-on-write UPSERT (MERGE keyed on `keys`): update rows replace
    * snapshot rows with matching keys, unmatched update rows insert. Only
    * the files that CONTAIN a matched key are rewritten — untouched files
    * stay referenced, so the write cost scales with the touched-file
    * footprint, not the table. The commit pairs `remove` actions for the
    * touched files with `add` actions for their replacements, the same
    * actions real delta MERGE emits, so any replaying reader (ours or
    * delta-rs) sees the swap atomically.
    *
    * Concurrency: a lost commit slot REBASES when every commit that
    * landed since is logically disjoint (no metadata change, no overlap
    * with our removes, no added file whose stats may hold our keys —
    * [[requireNoLogicalConflict]], the delta-spark ConflictChecker
    * contract); a genuinely conflicting winner raises the typed
    * ConcurrentModification and the caller re-runs against the fresh
    * snapshot. `updates` must be key-unique (two update rows with the same
    * key would both land — classic MERGE cardinality contract).
    *
    * On a deletion-vector-bearing snapshot the same MERGE semantics hold,
    * but the survivors frame comes from the LIVE rows (descriptors applied
    * through the executor-side bitmap anti-join the snapshot read uses),
    * so a rewrite can never resurrect DV-deleted rows; each touched file's
    * remove echoes its superseded descriptor (protocol shape — vacuum
    * associates the orphaned bin) and the replacement files carry no DV.
    * Untouched files keep their descriptors.
    *
    * Scan shape at scale: DISCOVERY reads only the files whose footer
    * stats may contain the update keys (numeric key bounds through the
    * same conservative skipping kernel [[readWhere]] uses), and the
    * SURVIVORS scan reads only the TOUCHED files — a selective MERGE
    * into a 100 TB table reads neither phase over the whole table.
    */
  def upsert(updates: DataFrame, keys: Seq[String], path: String,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Unit = {
    require(keys.nonEmpty, "upsert: need at least one key column")
    val spark = updates.sparkSession
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCollatedColumns(spark, fs, tbl, "upsert_delta",
      keys.mkString(","))
    if (!fs.exists(logDir(tbl))) {
      // not a delta table: keep the legacy discovery so commitRewrite
      // raises its typed "not a delta table" failure unchanged
      val base = fs.makeQualified(tbl).toUri.getPath.stripSuffix("/")
      val snap = read(spark, path).withColumn("graft_file", input_file_name())
      val updKeys = updates.select(keys.map(col): _*).distinct()
      val touchedUris = snap.join(updKeys, keys, "left_semi")
        .select("graft_file").distinct().collect().map(_.getString(0)).toSeq
      val survivors = snap
        .where(col("graft_file").isInCollection(touchedUris))
        .join(updKeys, keys, "left_anti")
        .drop("graft_file")
      commitRewrite(spark, path, "UPSERT",
        touchedUris.map(uriToRel(base, _)).sorted,
        survivors.unionByName(updates.select(survivors.columns.map(col): _*)))
      return
    }
    requireNotAppendOnly(spark, fs, tbl, "upsert_delta")
    // change-data-feed tables get exact MERGE change rows
    // (update_preimage / update_postimage / insert) as _change_data +
    // cdc actions; on MAPPED tables commitRewrite stages the cdc files
    // under physical column names like data files
    val rtConf = tableConfiguration(spark, fs, tbl)
    val cdfEmit = confEnabled(rtConf, "delta.enableChangeDataFeed")
    // row tracking: survivors keep their ids (materialized through the
    // hidden columns), updated rows inherit the matched row's id, and
    // inserts take the new file's fresh positional defaults
    val (rowTrack, matCols, rtExtraCols) =
      rowTrackingRewriteInfo(spark, fs, tbl, "upsert_delta")
    requireWriterCapability(spark, fs, tbl, "upsert_delta",
      adds = true, removes = true, rewrites = true, emitsCdc = cdfEmit,
      rowIdsHandled = rowTrack)
    // generated columns: compute the ones absent from the changeset,
    // validate caller-supplied values; then constraints + invariants
    // gate the CHANGESET (survivors were already live rows) in one
    // aggregate pass over `updates`, bounded by the changeset size,
    // never the table
    val declared = parsedTableSchema(spark, fs, tbl)
    val genCols = generatedColumns(declared)
    val upd = materializeGenerated(updates, genCols, declared)
    // identity columns resolve AFTER touched-file discovery (matched
    // rows inherit their snapshot identity, inserts draw fresh values);
    // constraint enforcement runs on the FINAL changeset below. Only
    // the explicit-insert gate runs up front.
    val idColsU = identityCols(declared)
    idColsU.foreach { ic =>
      if (upd.columns.exists(_.equalsIgnoreCase(ic.name)) &&
          !ic.allowExplicit)
        throw graft.GraftError.InvalidOperation("upsert_delta",
          s"$tbl: column ${ic.name} is GENERATED ALWAYS AS IDENTITY — " +
            "explicit values are not allowed (omit the column, or " +
            "declare delta.identity.allowExplicitInsert=true)")
    }
    val updKeys = upd.select(keys.map(col): _*).distinct()
    // snapshot fold + key-bounds pruning run distributedly above the
    // log-size threshold — the driver materializes only the CANDIDATE
    // entries (the whole snapshot only when the keys admit no bounds
    // predicate, i.e. when discovery must scan every file anyway)
    val keyBounds = keyBoundsPredicate(upd, keys)
    val kept = activeAddsWhere(spark, path, keyBounds,
      snapshotDriverMaxBytes = snapshotDriverMaxBytes)
    // key depth over the candidates: discovery scans only kept files,
    // so touched keys both originate from and resolve within them
    val keyDepth = if (kept.isEmpty) 1 else dvKeyDepth(path, kept.map(_.rel))
    val touched: Seq[DeltaStats.AddEntry] =
      if (kept.isEmpty) Nil
      else {
        val discovery = applyDeletionVectors(spark, path, kept,
          readDataFiles(spark, path,
            kept.map(a => new HPath(tbl, a.rel).toString),
            withRowMeta = true, keyDepth = keyDepth),
          keepMeta = true, keyDepth = keyDepth)
        val names = discovery.join(updKeys, keys, "left_semi")
          .select(DvFileCol).distinct().collect().map(_.getString(0)).toSet
        kept.filter(a => names(relKey(path, a.rel, keyDepth)))
      }
    // ONE scan of the touched files feeds survivors, the row-tracking
    // id lookup AND identity inheritance — with the hidden materialized
    // columns read alongside when row tracking is on. With multiple
    // consumers (row tracking's matched-id lookup, identity
    // inheritance) the frame is PINNED, or each consumer would re-scan
    // the touched files and re-run the DV anti-join (the same
    // multi-consumer re-run the r10 plan audit hunted down); the plain
    // single-consumer upsert keeps the lazy plan.
    val touchedScan: Option[DataFrame] =
      if (touched.isEmpty) None
      else {
        val base = applyDeletionVectors(spark, path, touched,
          readDataFiles(spark, path,
            touched.map(a => new HPath(tbl, a.rel).toString),
            withRowMeta = true, keyDepth = keyDepth,
            extraCols = rtExtraCols),
          keepMeta = true, keyDepth = keyDepth)
        val withIds = matCols.map { case (mid, mver) =>
          withMaterializedRowIds(spark, path, touched, base,
            mid, mver, keyDepth) }.getOrElse(base)
        Some(if (matCols.nonEmpty || idColsU.nonEmpty)
          withIds.localCheckpoint(true) else withIds)
      }
    val survivors =
      if (touched.isEmpty) {
        // pure insert: an empty frame with the table's logical columns —
        // built from the log's schema so no data file is even PLANNED
        // (the full-snapshot scan would open every file's path)
        val base = parsedTableSchema(spark, fs, tbl) match {
          case Some(s) => spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            stripMeta(s).asInstanceOf[StructType])
          case None => read(spark, path).limit(0)
        }
        matCols.map { case (mid, mver) =>
          base.withColumn(mid, lit(null).cast("long"))
            .withColumn(mver, lit(null).cast("long")) }.getOrElse(base)
      }
      else touchedScan.get
        .join(updKeys, keys, "left_anti")
        .drop(DvFileCol, DvRowCol)
    // identity columns: matched rows INHERIT the snapshot row's value,
    // inserts draw fresh gapless values past the high-water mark; the
    // refreshed mark rides a metaData action in this same commit.
    // Supplied identity values (allowExplicit, gated above) advance the
    // mark past their extreme.
    var identityMetaSchema: Option[StructType] = None
    val updFinal: DataFrame = idColsU.foldLeft(upd) { (cur, ic) =>
      val supplied = cur.columns.exists(_.equalsIgnoreCase(ic.name))
      if (supplied) {
        import org.apache.spark.sql.functions.{max => smax, min => smin}
        val agg = if (ic.step >= 0) smax(col(s"`${ic.name}`"))
          else smin(col(s"`${ic.name}`"))
        val row = cur.agg(agg.cast("long")).first()
        if (!row.isNullAt(0)) {
          val ext = row.getLong(0)
          val newHwm = ic.hwm.map(h =>
            if (ic.step >= 0) math.max(h, ext) else math.min(h, ext))
            .getOrElse(ext)
          if (!ic.hwm.contains(newHwm))
            identityMetaSchema = Some(withIdentityHwm(
              identityMetaSchema.orElse(declared).get, ic.name, newHwm))
        }
        cur
      } else {
        val withPrev = touchedScan match {
          case Some(ts) =>
            val matched = ts.join(updKeys, keys, "left_semi")
              .groupBy(keys.map(col): _*)
              .agg(org.apache.spark.sql.functions.min(col(s"`${ic.name}`"))
                .as("graft_prev_idv"))
            cur.join(matched, keys, "left")
          case None =>
            cur.withColumn("graft_prev_idv", lit(null).cast("long"))
        }
        val haveId = withPrev.where(col("graft_prev_idv").isNotNull)
          .withColumn(ic.name, col("graft_prev_idv"))
          .drop("graft_prev_idv")
        val needId = withPrev.where(col("graft_prev_idv").isNull)
          .drop("graft_prev_idv")
        val (assigned, newHwm) = assignIdentityValues(needId, ic)
        if (!ic.hwm.contains(newHwm))
          identityMetaSchema = Some(withIdentityHwm(
            identityMetaSchema.orElse(declared).get, ic.name, newHwm))
        haveId.unionByName(assigned)
      }
    }
    // constraints / invariants / generated checks gate the FINAL
    // changeset (identity values resolved) in one aggregate pass,
    // bounded by the changeset size, never the table
    enforceEager(updFinal, enforcementChecks(spark, rtConf, declared,
      updFinal.schema, tbl, "upsert_delta") ++
      generatedChecks(genCols, updates.columns.toSeq), path, "upsert_delta")
    // CDF: exact MERGE change rows. Matched rows emit their pre- and
    // post-image; unmatched update rows emit as inserts. The preimage
    // scan is one extra read bounded by the TOUCHED files; pure inserts
    // (no touched file) skip it entirely.
    val cdcDf =
      if (!cdfEmit) None
      else {
        // cdc rows carry the LOGICAL columns only — the materialized
        // row-id columns are physical table internals, not change data
        val cols = survivors.columns.toSeq
          .filterNot(c => matCols.exists(m => m._1 == c || m._2 == c))
        val ct = (f: DataFrame, t: String) =>
          f.select(cols.map(col): _*).withColumn("_change_type", lit(t))
        if (touched.isEmpty) Some(ct(updFinal, "insert"))
        else {
          val touchedLive = applyDeletionVectors(spark, path, touched,
            readDataFiles(spark, path,
              touched.map(a => new HPath(tbl, a.rel).toString),
              withRowMeta = true, keyDepth = keyDepth),
            keepMeta = true, keyDepth = keyDepth)
            .drop(DvFileCol, DvRowCol)
          // pin the matched preimage rows (bounded by the touched files'
          // matched subset): three consumers — matchedKeys, the
          // post/ins joins' key side, and the cdc stage write — would
          // otherwise each re-scan the touched files (the same
          // multi-consumer re-run the r10 plan audit hunted down)
          val pre = touchedLive.join(updKeys, keys, "left_semi")
            .localCheckpoint(true)
          val matchedKeys = pre.select(keys.map(col): _*).distinct()
          val post = updFinal.join(matchedKeys, keys, "left_semi")
          val ins = updFinal.join(matchedKeys, keys, "left_anti")
          Some(ct(pre, "update_preimage")
            .unionByName(ct(post, "update_postimage"))
            .unionByName(ct(ins, "insert")))
        }
      }
    // row tracking: an updated row KEEPS the matched snapshot row's id
    // (row lineage — delta-spark's rule) and takes the new commit
    // version via the fresh file's positional default (matVer NULL);
    // a genuinely new row leaves both NULL and gets fresh defaults
    val updFrame = matCols match {
      case Some((mid, mver)) =>
        val withPrev = touchedScan match {
          case Some(sc) =>
            val matched = sc.join(updKeys, keys, "left_semi")
              .groupBy(keys.map(col): _*)
              .agg(org.apache.spark.sql.functions.min(col(s"`$mid`"))
                .as("graft_prev_rid"))
            updFinal.join(matched, keys, "left")
          case None =>
            updFinal.withColumn("graft_prev_rid", lit(null).cast("long"))
        }
        withPrev.withColumn(mid, col("graft_prev_rid"))
          .withColumn(mver, lit(null).cast("long"))
          .drop("graft_prev_rid")
      case None => updFinal
    }
    commitRewrite(spark, path, "UPSERT", touched.map(_.rel).sorted,
      survivors.unionByName(updFrame.select(survivors.columns.map(col): _*)),
      removeDvJson = touched.flatMap(a =>
        a.dv.map(d => a.rel -> dvDescriptorJson(d))).toMap,
      removeSize = touched.map(a => a.rel -> a.size).toMap,
      cdcDf = cdcDf,
      extraMetaData = identityMetaSchema.map(s =>
        metaDataAction(s.json,
          tablePartitionColumns(spark, fs, tbl).getOrElse(Nil), rtConf,
          tableId = tableMetaDataId(spark, fs, tbl))),
      // a lost slot rebases when the winners are key-disjoint (the
      // bounds predicate mirrors the discovery scan's read set);
      // non-integral keys admit no bounds ⇒ any winner add conflicts
      readPredicate = keyBounds)
  }

  /** Copy-on-write DELETE of the rows matching `predicate` (SQL text over
    * the snapshot's columns). Same touched-file shape, same
    * rebase-when-disjoint concurrency contract, and same DV handling as
    * [[upsert]] (survivors from live rows, removes echo superseded
    * descriptors). DISCOVERY scans only the files whose stats may match
    * the predicate (the [[readWhere]] skipping kernel); survivors scan
    * only the touched files. Returns the number of rewritten files (0 =
    * nothing matched, no commit written). Contrast [[deleteWhereViaDv]],
    * which deletes WITHOUT rewriting by attaching fresh descriptors.
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: String,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Int = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCollatedColumns(spark, fs, tbl, "delete_delta", predicate)
    if (!fs.exists(logDir(tbl))) {
      // not a delta table: legacy shape (commitRewrite raises typed)
      val base = fs.makeQualified(tbl).toUri.getPath.stripSuffix("/")
      val snap = read(spark, path).withColumn("graft_file", input_file_name())
      val touchedUris = snap.where(expr(predicate))
        .select("graft_file").distinct().collect().map(_.getString(0)).toSeq
      if (touchedUris.isEmpty) return 0
      val survivors = snap
        .where(col("graft_file").isInCollection(touchedUris))
        // DELETE removes only rows where the predicate is TRUE; a row
        // where it evaluates NULL (nullable columns) must SURVIVE — a
        // bare !expr would filter NULL rows out, silently deleting them
        .where(!coalesce(expr(predicate), lit(false)))
        .drop("graft_file")
      commitRewrite(spark, path, "DELETE",
        touchedUris.map(uriToRel(base, _)).sorted, survivors)
      return touchedUris.length
    }
    requireNotAppendOnly(spark, fs, tbl, "delete_delta")
    // change-data-feed tables get their deleted rows as _change_data +
    // cdc actions in the same commit (exact row-level feed); on MAPPED
    // tables commitRewrite stages the cdc files under physical column
    // names like data files
    val rtConf = tableConfiguration(spark, fs, tbl)
    val cdfEmit = confEnabled(rtConf, "delta.enableChangeDataFeed")
    // row tracking: surviving rows keep their ids via the materialized
    // columns (same mechanism as upsert)
    val (rowTrack, matCols, rtExtraCols) =
      rowTrackingRewriteInfo(spark, fs, tbl, "delete_delta")
    requireWriterCapability(spark, fs, tbl, "delete_delta",
      adds = false, removes = true, rewrites = true, emitsCdc = cdfEmit,
      rowIdsHandled = rowTrack)
    // snapshot fold + stats pruning run distributedly above the log-size
    // threshold — the driver materializes only the CANDIDATE entries
    val kept = activeAddsWhere(spark, path, Some(predicate),
      snapshotDriverMaxBytes = snapshotDriverMaxBytes)
    if (kept.isEmpty) return 0
    // key depth over the candidates: the discovery scan reads only kept
    // files, so touched keys both originate from and resolve within them
    val keyDepth = dvKeyDepth(path, kept.map(_.rel))
    val discovery = applyDeletionVectors(spark, path, kept,
      readDataFiles(spark, path,
        kept.map(a => new HPath(tbl, a.rel).toString),
        withRowMeta = true, keyDepth = keyDepth),
      keepMeta = true, keyDepth = keyDepth)
    val touchedNames = discovery.where(expr(predicate))
      .select(DvFileCol).distinct().collect().map(_.getString(0)).toSet
    if (touchedNames.isEmpty) return 0
    val touched = kept.filter(a => touchedNames(relKey(path, a.rel, keyDepth)))
    val survivorScan = applyDeletionVectors(spark, path, touched,
      readDataFiles(spark, path,
        touched.map(a => new HPath(tbl, a.rel).toString),
        withRowMeta = true, keyDepth = keyDepth,
        extraCols = rtExtraCols),
      keepMeta = true, keyDepth = keyDepth)
    val survivors = matCols.map { case (mid, mver) =>
        withMaterializedRowIds(spark, path, touched, survivorScan,
          mid, mver, keyDepth) }.getOrElse(survivorScan)
      // NULL-condition rows survive (SQL DELETE semantics): only rows
      // where the predicate is provably TRUE are removed
      .where(!coalesce(expr(predicate), lit(false)))
      .drop(DvFileCol, DvRowCol)
    // CDF: the deleted rows (predicate provably TRUE over the touched
    // files' live rows) — one extra scan bounded by the touched set
    val cdcDf = if (!cdfEmit) None else Some(
      applyDeletionVectors(spark, path, touched,
        readDataFiles(spark, path,
          touched.map(a => new HPath(tbl, a.rel).toString),
          withRowMeta = true, keyDepth = keyDepth),
        keepMeta = true, keyDepth = keyDepth)
        .where(coalesce(expr(predicate), lit(false)))
        .drop(DvFileCol, DvRowCol)
        .withColumn("_change_type", lit("delete")))
    commitRewrite(spark, path, "DELETE", touched.map(_.rel).sorted,
      survivors, removeDvJson = touched.flatMap(a =>
        a.dv.map(d => a.rel -> dvDescriptorJson(d))).toMap,
      removeSize = touched.map(a => a.rel -> a.size).toMap,
      cdcDf = cdcDf,
      // a lost slot rebases when the winners' adds provably cannot
      // match this DELETE's predicate
      readPredicate = Some(predicate))
    touched.size
  }

  /** Real delta's `delta.appendOnly=true` contract: any mutation that
    * would remove live rows refuses typed — upsert, deleteWhere,
    * deleteWhereViaDv, restore, and OVERWRITE (delta-spark's
    * assertRemovable gates it too: a log restart removes every row).
    * APPEND/MERGE (adds only) and OPTIMIZE (dataChange=false restages)
    * stay allowed.
    */
  /** Boolean table property, parsed the way delta-spark does (Scala
    * `toBoolean` — case-insensitive): a foreign writer's "True" must
    * activate the feature, or its contract is silently broken.
    */
  private def confEnabled(conf: Map[String, String], key: String): Boolean =
    conf.get(key).exists(v => v != null && v.trim.equalsIgnoreCase("true"))

  private def requireNotAppendOnly(spark: SparkSession, fs: FileSystem,
      tbl: HPath, op: String): Unit =
    if (confEnabled(tableConfiguration(spark, fs, tbl), "delta.appendOnly"))
      throw graft.GraftError.InvalidOperation(op,
        s"$tbl declares delta.appendOnly=true — row-removing mutations " +
          "are forbidden on append-only tables (append, merge and " +
          "optimize remain available)")

  /** Memo for [[tableWriterProtocol]] keyed by [[logIdentity]] — the
    * protocol action usually lives only in the version-0 commit, so an
    * uncached lookup walks the log newest→oldest on every mutation.
    */
  private val writerProtoCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long, Long, Long), (Int, Seq[String])]()

  /** Newest protocol action's writer half: (minWriterVersion,
    * writerFeatures). Only POST-CHECKPOINT commits are walked (newest →
    * oldest) — the checkpoint fold already carries the newest protocol
    * from everything at-or-below it, so the walk is bounded by the
    * checkpoint interval, never O(history) per mutation on a
    * long-lived log. A log with no protocol action anywhere (not a
    * delta table / legacy) reports the floor (1, Nil).
    */
  private def tableWriterProtocol(spark: SparkSession, fs: FileSystem,
      tbl: HPath): (Int, Seq[String]) = {
    val cacheKey = logIdentity(fs, tbl)
    val hit = writerProtoCache.get(cacheKey)
    if (hit != null) return hit
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def parse(p: com.fasterxml.jackson.databind.JsonNode): (Int, Seq[String]) = {
      val v = Option(p.get("minWriterVersion")).map(_.asInt(1)).getOrElse(1)
      val feats = scala.collection.mutable.ArrayBuffer.empty[String]
      Option(p.get("writerFeatures")).filter(_.isArray)
        .foreach(_.forEach(f => feats += f.asText))
      (v, feats.toSeq)
    }
    val log = logDir(tbl)
    val cpFloor = lastCheckpointVersion(fs, log)
    val fromCommits = existingVersions(fs, log)
      .filter(v => cpFloor.forall(v > _))
      .reverse.iterator.flatMap { v =>
      readString(fs, new HPath(log, commitName(v))).linesIterator.flatMap { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        val p = if (node == null) null else node.get("protocol")
        if (p != null && p.isObject) Some(parse(p)) else None
      }.toSeq.lastOption
    }.nextOption()
    val result = fromCommits.orElse(lastCheckpointVersion(fs, log)
        .flatMap(v => readCheckpoint(spark, fs, log, v)).flatMap { cp =>
      if (!cp.columns.contains("protocol")) None
      else cp.where(col("protocol").isNotNull)
        .select(org.apache.spark.sql.functions.to_json(col("protocol")))
        .collect().headOption.flatMap { r =>
          val node = try mapper.readTree(r.getString(0)) catch { case _: Exception => null }
          if (node != null && node.isObject) Some(parse(node)) else None
        }
    }).getOrElse((1, Nil))
    if (writerProtoCache.size > 256) writerProtoCache.clear() // bound, not LRU
    writerProtoCache.put(cacheKey, result)
    result
  }

  // ─────────────── protocol cover/union (overwrite upgrades) ───────────────

  /** (minReader, minWriter, readerFeatures, writerFeatures) parsed from a
    * `{"protocol":{...}}` action line. */
  private def parseProtocolJson(json: String): (Int, Int, Seq[String], Seq[String]) = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val p = if (node.has("protocol")) node.get("protocol") else node
    def feats(k: String): Seq[String] = {
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      Option(p.get(k)).filter(_.isArray).foreach(_.forEach(f => b += f.asText))
      b.toSeq
    }
    (Option(p.get("minReaderVersion")).map(_.asInt(1)).getOrElse(1),
      Option(p.get("minWriterVersion")).map(_.asInt(1)).getOrElse(1),
      feats("readerFeatures"), feats("writerFeatures"))
  }

  /** Writer features a LEGACY minWriterVersion implies (PROTOCOL.md's
    * version→feature table) — the translation an upgrade-to-v7 must list.
    */
  private def impliedWriterFeatures(v: Int): Seq[String] =
    Seq(2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect { case (mv, f) if v >= mv => f }

  private def impliedReaderFeatures(v: Int): Seq[String] =
    if (v >= 2) Seq("columnMapping") else Nil

  /** The protocol action a version-preserving OVERWRITE must emit, if
    * any: None when the table's CURRENT protocol already covers what the
    * new content `required` needs (versions not exceeded, feature lists
    * subsumed — the common case, no action owed); otherwise the UNION of
    * the two (preserved configuration means features never shrink, so an
    * overwrite only ever upgrades). Legacy versions translate to their
    * implied feature lists when either side is table-features (v7/r3).
    */
  private def protocolUpgradeFor(current: (Int, Int, Seq[String], Seq[String]),
      requiredJson: String): Option[String] = {
    val (cr, cw, crf, cwf) = current
    val (nr, nw, nrf, nwf) = parseProtocolJson(requiredJson)
    def wFeats(v: Int, f: Seq[String]): Set[String] =
      (if (v >= 7) f else impliedWriterFeatures(v)).toSet
    def rFeats(v: Int, f: Seq[String]): Set[String] =
      (if (v >= 3) f else impliedReaderFeatures(v)).toSet
    val writerCovered =
      if (cw >= 7) wFeats(nw, nwf).subsetOf(cwf.toSet)
      else nw <= cw || (nw >= 7 && nwf.toSet.subsetOf(impliedWriterFeatures(cw).toSet))
    val readerCovered =
      if (cr >= 3) rFeats(nr, nrf).subsetOf(crf.toSet)
      else nr <= cr || (nr >= 3 && nrf.toSet.subsetOf(impliedReaderFeatures(cr).toSet))
    if (writerCovered && readerCovered) return None
    val wIsFeat = cw >= 7 || nw >= 7
    val rIsFeat = cr >= 3 || nr >= 3
    val uw = if (wIsFeat) 7 else math.max(cw, nw)
    val ur = if (rIsFeat) 3 else math.max(cr, nr)
    val uwf = if (wIsFeat)
      (wFeats(cw, cwf) ++ wFeats(nw, nwf)).toSeq.sorted else Nil
    val urf = if (rIsFeat)
      (rFeats(cr, crf) ++ rFeats(nr, nrf)).toSeq.sorted else Nil
    val fields = Seq(
      Some(s""""minReaderVersion":$ur"""),
      Some(s""""minWriterVersion":$uw"""),
      if (rIsFeat) Some(s""""readerFeatures":[${
        urf.map(f => s""""$f"""").mkString(",")}]""") else None,
      if (wIsFeat) Some(s""""writerFeatures":[${
        uwf.map(f => s""""$f"""").mkString(",")}]""") else None).flatten
    Some(s"""{"protocol":{${fields.mkString(",")}}}""")
  }

  /** Full newest protocol of an existing table — reader AND writer
    * halves, same post-checkpoint walk as [[tableWriterProtocol]].
    * Floor (1, 1, Nil, Nil) when no protocol action exists.
    */
  private def tableFullProtocol(spark: SparkSession, fs: FileSystem,
      tbl: HPath): (Int, Int, Seq[String], Seq[String]) = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val log = logDir(tbl)
    val cpFloor = lastCheckpointVersion(fs, log)
    val fromCommits = existingVersions(fs, log)
      .filter(v => cpFloor.forall(v > _))
      .reverse.iterator.flatMap { v =>
        readString(fs, new HPath(log, commitName(v))).linesIterator.flatMap { line =>
          val node = try mapper.readTree(line) catch { case _: Exception => null }
          if (node != null && node.has("protocol"))
            Some(parseProtocolJson(line)) else None
        }.toSeq.lastOption
      }.nextOption()
    fromCommits.orElse(cpFloor
        .flatMap(v => readCheckpoint(spark, fs, log, v)).flatMap { cp =>
      if (!cp.columns.contains("protocol")) None
      else cp.where(col("protocol").isNotNull)
        .select(org.apache.spark.sql.functions.to_json(col("protocol")))
        .collect().headOption.map(r => parseProtocolJson(r.getString(0)))
    }).getOrElse((1, 1, Nil, Nil))
  }

  // ───────────────────────── row tracking ─────────────────────────
  //
  // Delta's rowTracking writer feature (PROTOCOL.md "Row Tracking"):
  // every add action carries `baseRowId` (fresh row ids default to
  // baseRowId + physical row index) and `defaultRowCommitVersion`; the
  // assigned-id high water mark rides a `domainMetadata` action with
  // domain delta.rowTracking; and REWRITES preserve each surviving
  // row's id by materializing it into the hidden physical column named
  // by delta.rowTracking.materializedRowIdColumnName (declared-schema
  // reads never surface it). Fresh rows leave the materialized column
  // NULL and inherit the positional default.

  private val RowTrackingDomain = "delta.rowTracking"
  private[sources] val MatRowIdKey =
    "delta.rowTracking.materializedRowIdColumnName"
  private[sources] val MatRowVerKey =
    "delta.rowTracking.materializedRowCommitVersionColumnName"

  private def rowTrackingEnabled(conf: Map[String, String]): Boolean =
    confEnabled(conf, "delta.enableRowTracking")

  /** Newest `rowIdHighWaterMark` from the delta.rowTracking
    * domainMetadata — post-checkpoint commits newest→oldest, checkpoint
    * fallback (the fold carries domainMetadata rows); -1 when the table
    * has never assigned a row id.
    */
  private def rowIdHighWaterMark(spark: SparkSession, fs: FileSystem,
      tbl: HPath): Long = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def hwmOf(json: String): Option[Long] = {
      val node = try mapper.readTree(json) catch { case _: Exception => null }
      if (node == null) return None
      val dm = if (node.has("domainMetadata")) node.get("domainMetadata")
        else node
      if (dm == null || dm.get("domain") == null ||
          dm.get("domain").asText != RowTrackingDomain ||
          (dm.get("removed") != null && dm.get("removed").asBoolean(false)))
        None
      else Option(dm.get("configuration")).map(_.asText).flatMap { cs =>
        val cn = try mapper.readTree(cs) catch { case _: Exception => null }
        Option(cn).flatMap(c =>
          Option(c.get("rowIdHighWaterMark")).map(_.asLong))
      }
    }
    val log = logDir(tbl)
    val cpFloor = lastCheckpointVersion(fs, log)
    val fromCommits = existingVersions(fs, log)
      .filter(v => cpFloor.forall(v > _))
      .reverse.iterator.flatMap { v =>
        readString(fs, new HPath(log, commitName(v))).linesIterator
          .filter(_.contains("\"domainMetadata\""))
          .flatMap(hwmOf).toSeq.lastOption
      }.nextOption()
    fromCommits.orElse(
      cpFloor.flatMap(v => readCheckpoint(spark, fs, log, v)).flatMap { cp =>
        if (!cp.columns.contains("domainMetadata")) None
        else cp.where(col("domainMetadata").isNotNull)
          .select(org.apache.spark.sql.functions.to_json(col("domainMetadata")))
          .collect().toSeq.flatMap(r => hwmOf(r.getString(0))).maxOption
      }).getOrElse(-1L)
  }

  private def domainMetadataAction(hwm: Long): String =
    s"""{"domainMetadata":{"domain":"$RowTrackingDomain",""" +
      s""""configuration":"{\\"rowIdHighWaterMark\\":$hwm}",""" +
      s""""removed":false}}"""

  /** LOGICAL clustering columns of a liquid-clustered table — the newest
    * live `delta.clustering` domainMetadata's clusteringColumns, each a
    * name PATH (delta-spark stores physical names on mapped tables; they
    * map back through the annotations). Nil when the table isn't
    * clustered, the domain is removed, a path is nested (our z-order
    * kernel takes top-level columns), or a name doesn't resolve —
    * clustering is best-effort, so Nil just means "plain bin-packing".
    */
  private def clusteringColumns(spark: SparkSession, fs: FileSystem,
      tbl: HPath): Seq[String] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def colsOf(json: String): Option[Seq[Seq[String]]] = {
      val node = try mapper.readTree(json) catch { case _: Exception => null }
      if (node == null) return None
      val dm = if (node.has("domainMetadata")) node.get("domainMetadata")
        else node
      if (dm == null || dm.get("domain") == null ||
          dm.get("domain").asText != "delta.clustering")
        None
      else if (dm.get("removed") != null && dm.get("removed").asBoolean(false))
        Some(Nil) // removed domain: clustering explicitly dropped
      else Option(dm.get("configuration")).map(_.asText).flatMap { cs =>
        val cn = try mapper.readTree(cs) catch { case _: Exception => null }
        Option(cn).flatMap(c => Option(c.get("clusteringColumns")))
          .filter(_.isArray).map { arr =>
            val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
            arr.forEach { pathNode =>
              val parts = scala.collection.mutable.ArrayBuffer.empty[String]
              if (pathNode.isArray) pathNode.forEach(p => parts += p.asText)
              else parts += pathNode.asText
              out += parts.toSeq
            }
            out.toSeq
          }
      }
    }
    val log = logDir(tbl)
    if (!fs.exists(log)) return Nil
    val cpFloor = lastCheckpointVersion(fs, log)
    val newest: Option[Seq[Seq[String]]] = existingVersions(fs, log)
      .filter(v => cpFloor.forall(v > _))
      .reverse.iterator.flatMap { v =>
        readString(fs, new HPath(log, commitName(v))).linesIterator
          .filter(_.contains("\"domainMetadata\""))
          .flatMap(colsOf).toSeq.lastOption
      }.nextOption()
      .orElse(cpFloor.flatMap(v => readCheckpoint(spark, fs, log, v))
        .flatMap { cp =>
          if (!cp.columns.contains("domainMetadata")) None
          else cp.where(col("domainMetadata").isNotNull)
            .select(org.apache.spark.sql.functions.to_json(
              col("domainMetadata")))
            .collect().toSeq.flatMap(r => colsOf(r.getString(0))).headOption
        })
    val paths = newest.getOrElse(Nil)
    if (paths.isEmpty || paths.exists(_.length != 1)) return Nil
    val names = paths.map(_.head)
    logicalSchemaIfMapped(spark, fs, tbl) match {
      case Some((_, logical)) =>
        val m = physToLogMap(logical)
        val mapped = names.map(n => m.getOrElse(n,
          if (logical.fieldNames.contains(n)) n else null))
        if (mapped.contains(null)) Nil else mapped
      case None =>
        val declared = parsedTableSchema(spark, fs, tbl)
        if (declared.exists(s => names.forall(s.fieldNames.contains)))
          names
        else Nil
    }
  }

  /** numRecords of a staged file — from its harvested stats JSON, with
    * an O(1) footer read as the fallback; row-id range assignment needs
    * an exact per-file count.
    */
  private def numRecordsOf(fs: FileSystem, tbl: HPath, rel: String,
      stats: Option[String]): Long = {
    val fromStats = stats.flatMap { js =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = try mapper.readTree(js) catch { case _: Exception => null }
      Option(node).flatMap(n =>
        Option(n.get("numRecords")).filterNot(_.isNull).map(_.asLong))
    }
    fromStats.getOrElse(
      DeltaStats.rowCount(fs.getConf, new HPath(tbl, rel)))
  }

  /** Base-row-id assignment for one commit's new files: cumulative
    * ranges starting past the current high water mark, in `rels` order.
    * Returns (rel → baseRowId) plus the new high water mark to commit
    * in the same domainMetadata action.
    */
  private def assignBaseRowIds(fs: FileSystem, tbl: HPath,
      rels: Seq[String], statsByRel: Map[String, Option[String]],
      hwm: Long): (Map[String, Long], Long) = {
    var next = hwm + 1
    val out = Map.newBuilder[String, Long]
    rels.foreach { rel =>
      out += rel -> next
      next += math.max(1L,
        numRecordsOf(fs, tbl, rel, statsByRel.getOrElse(rel, None)))
    }
    (out.result(), next - 1)
  }

  /** Materialized-column names of a row-tracked table, refusing typed
    * when absent (a foreign enablement this writer cannot preserve ids
    * through — our own tables mint the names at creation).
    */
  private def matColNames(conf: Map[String, String], tbl: HPath,
      op: String): (String, String) =
    (conf.get(MatRowIdKey), conf.get(MatRowVerKey)) match {
      case (Some(id), Some(ver)) => (id, ver)
      case _ => throw graft.GraftError.InvalidOperation(op,
        s"$tbl enables row tracking but declares no materialized row-id " +
          s"column names ($MatRowIdKey / $MatRowVerKey) — this writer " +
          "preserves ids only through materialized columns")
    }

  /** Row-tracking rewrite bundle for a mutation path: (active-and-
    * handled, materialized column names, hidden LongType read columns).
    * Column-mapped tables are handled too: the materialized names are
    * PHYSICAL-only identifiers the scan reads and the rewrite restages
    * verbatim, orthogonal to the logical↔physical rename. Missing
    * materialized names refuse typed inside [[matColNames]].
    */
  private def rowTrackingRewriteInfo(spark: SparkSession, fs: FileSystem,
      tbl: HPath, op: String)
      : (Boolean, Option[(String, String)], Seq[StructField]) = {
    val conf = tableConfiguration(spark, fs, tbl)
    val rt = rowTrackingEnabled(conf)
    val mc = if (rt) Some(matColNames(conf, tbl, op)) else None
    (rt, mc, mc.toSeq.flatMap { case (i, v) => Seq(
      StructField(i, org.apache.spark.sql.types.LongType),
      StructField(v, org.apache.spark.sql.types.LongType)) })
  }

  /** Overwrite `matId`/`matVer` on a scanned frame (which carries
    * [[DvFileCol]]/[[DvRowCol]] plus the materialized extra columns)
    * with each row's CURRENT row id / commit version: the materialized
    * value when present, else the positional default baseRowId +
    * row_index (the protocol's rule). The per-file map is tiny
    * (touched files) and broadcast.
    */
  private def withMaterializedRowIds(spark: SparkSession, path: String,
      adds: Seq[DeltaStats.AddEntry], df: DataFrame,
      matId: String, matVer: String, keyDepth: Int): DataFrame =
    withMaterializedRowIdTriples(spark,
      adds.map(a => (relKey(path, a.rel, keyDepth),
        a.baseRowId.getOrElse(-1L),
        a.defaultRowCommitVersion.getOrElse(-1L))),
      df, matId, matVer)

  /** Same row-id attach from bare (fileKey, baseRowId, defaultVer)
    * triples — what the large-log read collects from the distributed
    * fold (3 small fields per file, the same O(paths) floor as the
    * scan's file list) instead of full AddEntries.
    */
  private def withMaterializedRowIdTriples(spark: SparkSession,
      triples: Seq[(String, Long, Long)], df: DataFrame,
      matId: String, matVer: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, when}
    val sess = spark
    import sess.implicits._
    val baseMap = triples.toDF(DvFileCol, "graft_base_rid", "graft_def_ver")
    df.join(broadcast(baseMap), Seq(DvFileCol), "left")
      .withColumn(matId, coalesce(col(s"`$matId`"),
        when(col("graft_base_rid") >= 0,
          col("graft_base_rid") + col(DvRowCol))))
      .withColumn(matVer, coalesce(col(s"`$matVer`"),
        when(col("graft_def_ver") >= 0, col("graft_def_ver"))))
      .drop("graft_base_rid", "graft_def_ver")
  }

  /** Writer features this engine actually maintains across its mutation
    * surface. Anything a table declares beyond these makes our commits
    * CORRUPTING, not just incomplete — e.g. rewriting files on a
    * row-tracking table without preserving materialized row ids, or
    * removing rows on a change-data-feed table without emitting cdc
    * actions — so mutations refuse typed, exactly like the read path's
    * reader-capability guard ([[activeAddsAsOf]]).
    */
  private val SupportedWriterFeatures = Set(
    "appendOnly", "invariants", "checkConstraints", "columnMapping",
    "deletionVectors", "timestampNtz",
    // v2Checkpoint permits classic (single-file) checkpoints alongside
    // v2 ones and only FORBIDS multi-part — [[writeCheckpoint]] forces
    // the single classic file on such tables, so our commits and
    // checkpoints both stay protocol-legal
    "v2Checkpoint",
    // domainMetadata: [[writeCheckpoint]] folds the newest live action
    // per domain, so domain state (row tracking's high-water mark)
    // survives checkpoint + log cleanup
    "domainMetadata",
    // inCommitTimestamp: every commit-producing path stamps
    // commitInfo.inCommitTimestamp monotonically when the table enables
    // delta.enableInCommitTimestamps (see [[commitInfoJson]]), and
    // timestamp time travel / CDF-by-timestamp resolve via ICT instead
    // of file mtimes ([[monotonizedCommitTimes]])
    "inCommitTimestamp",
    // clustering (liquid clustering — delta-spark's current default
    // recommendation): the protocol says clustering is BEST-EFFORT —
    // writers may add unclustered files, they must only preserve the
    // `delta.clustering` domainMetadata, which the checkpoint fold's
    // newest-per-domain rule already does; [[optimize]] without explicit
    // columns re-clusters on the declared clustering columns
    "clustering",
    // vacuumProtocolCheck: obliges vacuum to check the protocol before
    // deleting — [[vacuum]] gates through requireWriterCapability, which
    // IS that check
    "vacuumProtocolCheck",
    // typeWidening's WRITER obligation is recording delta.typeChanges
    // metadata when the writer CHANGES a column's type — which
    // [[mergeSchemas]] does for every widening it performs (appends on
    // delta.enableTypeWidening tables widen in place); non-widening
    // mutations restage at the declared type and owe nothing.
    "typeWidening", "typeWidening-preview",
    // checkpointProtection (delta 4.x): obliges log cleanup to never
    // sweep or rewrite checkpoints below
    // delta.requireCheckpointProtectionBeforeVersion — [[cleanupLog]]
    // keeps every commit/checkpoint below the boundary and
    // [[writeCheckpoint]] refuses to rewrite a protected checkpoint
    "checkpointProtection",
    // collations: collation annotations (__COLLATIONS field metadata)
    // ride the schemaString, which appends/rewrites preserve verbatim
    // (metaData is only re-minted by overwrite, whose schema is the
    // frame's own by contract); operations whose SEMANTICS depend on a
    // non-default collation (predicates/merge keys over a collated
    // column evaluated under binary collation) refuse typed instead of
    // returning wrong rows ([[refuseOnCollatedColumns]])
    "collations", "collations-preview",
    // variantType: Spark 4 carries VariantType natively — staging,
    // declared-schema scans and stats harvesting all treat it as an
    // opaque (metadata, value) pair, so reads and appends round-trip
    "variantType", "variantType-preview",
    // icebergCompatV1/V2 constrain WHAT may be written (no deletion
    // vectors; V2 pins column mapping): the DV-creating path refuses on
    // such tables ([[requireNoIcebergCompatDv]]), everything else this
    // writer emits is already inside the compat envelope
    "icebergCompatV1", "icebergCompatV2")

  /** Reader features the replay-based read path honors end-to-end:
    * column mapping (name + id modes resolved at read), deletion
    * vectors (parsed onto add entries, applied as a row filter at
    * scan), and timestampNtz (TIMESTAMP_NTZ columns — [[Loaders]]
    * normalizes NTZ on load, so the type poses no replay hazard;
    * matching the WRITER whitelist, which already carried it), and
    * v2Checkpoint (UUID-named manifests + sidecar parquets, folded by
    * [[readCheckpoint]] into the same frame classic checkpoints feed).
    * Anything else refuses typed: plain add/remove replay under an
    * unknown reader feature returns wrong rows.
    */
  private val SupportedReaderFeatures: Set[String] =
    // vacuumProtocolCheck only obliges VACUUM implementations to check
    // the table protocol before deleting files — which [[vacuum]]'s
    // requireWriterCapability gate already does; plain reads are
    // unaffected by the feature.
    // typeWidening (delta 4.x, + its preview spelling): files written
    // before a widening carry the NARROWER physical type — the
    // declared-schema scan upcasts them, which Spark 4's vectorized
    // parquet reader supports natively for the protocol's legal
    // widenings (int→long, float→double, decimal scale/precision
    // growth, date→timestampNtz); DeltaTypeWideningSpec pins it.
    // collations: storage is collation-agnostic (strings round-trip
    // verbatim); plain snapshot reads return the same rows regardless
    // of collation, and predicate evaluation is gated writer-side.
    // variantType: Spark 4's native VariantType reads the parquet
    // (metadata, value) encoding directly through the declared schema.
    Set("columnMapping", "deletionVectors", "timestampNtz", "v2Checkpoint",
      "vacuumProtocolCheck", "typeWidening", "typeWidening-preview",
      "collations", "collations-preview",
      "variantType", "variantType-preview")

  /** Writer-protocol fidelity gate, run before any mutation of an
    * EXISTING delta table. `adds`/`removes` describe the commit this
    * operation would write (new rows / removed-or-superseded live rows);
    * `rewrites` marks dataChange=false restages (optimize, DV purge),
    * which carry no row delta but still replace physical files.
    *
    * Versioned gates: minWriterVersion > 7 is refused outright (unknown
    * future semantics); version 7 requires writerFeatures ⊆ supported,
    * where the conditional features (changeDataFeed, generatedColumns,
    * identityColumns, rowTracking) are tolerated in the LIST and gated
    * on being ACTIVE instead — a listed-but-disabled feature imposes no
    * writer obligation (delta-spark's own rule). Active-feature gates
    * run at every version, because versions 4-6 imply them without a
    * feature list:
    *  - `delta.enableChangeDataFeed=true` + a row-removing commit →
    *    refused (we emit no cdc actions; CDF readers would silently
    *    miss the deletes — appends stay allowed, CDF derives them from
    *    add actions alone).
    *  - `delta.enableRowTracking=true` + anything that adds, removes or
    *    restages files → refused (row ids are neither minted nor
    *    carried through rewrites).
    *  - identity columns in the schema + a row-adding commit → refused
    *    (identity sequences need cross-writer high-water coordination
    *    this log does not implement).
    *
    * Generated columns (`delta.generationExpression`) are NOT refused:
    * [[write]]/[[upsert]] COMPUTE absent generated columns from their
    * expressions and VALIDATE caller-supplied values against them
    * (delta-spark's write contract) — see [[generatedColumns]].
    */
  private def requireWriterCapability(spark: SparkSession, fs: FileSystem,
      tbl: HPath, op: String, adds: Boolean, removes: Boolean,
      rewrites: Boolean, emitsCdc: Boolean = false,
      removesWholeFiles: Boolean = false,
      rowIdsHandled: Boolean = false): Unit = {
    def refuse(what: String): Nothing =
      throw graft.GraftError.InvalidOperation(op,
        s"$tbl requires an unsupported writer capability ($what); " +
          "mutating it without honoring that feature would corrupt the " +
          "table for its other readers and writers")
    val (v, feats) = tableWriterProtocol(spark, fs, tbl)
    if (v > 7) refuse(s"protocol minWriterVersion $v")
    if (v == 7) {
      val conditional = Set("changeDataFeed", "generatedColumns",
        "identityColumns", "rowTracking")
      val unsupported = feats.filterNot(f =>
        SupportedWriterFeatures(f) || conditional(f))
      if (unsupported.nonEmpty)
        refuse(s"writerFeatures ${unsupported.mkString("[", ", ", "]")}")
    }
    val conf = tableConfiguration(spark, fs, tbl)
    // emitsCdc: the caller writes _change_data files + cdc actions for
    // this commit (deleteWhere/upsert on plain tables), so the CDF
    // contract is honored, not broken.
    // removesWholeFiles: every removed file disappears ENTIRELY and
    // every add is pure new data (the version-preserving overwrite
    // shape) — the protocol lets CDF readers serve such commits exactly
    // from the add/remove actions themselves (removes → deletes, adds →
    // inserts; delta-spark's overwrite emits no cdc either), so no cdc
    // files are owed
    if (removes && !emitsCdc && !removesWholeFiles &&
        confEnabled(conf, "delta.enableChangeDataFeed"))
      refuse("change data feed on a row-removing commit — no " +
        "_change_data/cdc actions are emitted, so CDF readers would " +
        "miss these deletes")
    // rowIdsHandled: the caller mints base row ids on its adds and/or
    // preserves surviving rows' ids (materialized column or baseRowId
    // echo) — the write/upsert/deleteWhere/optimize/DV-delete paths all
    // do; anything else touching files on a row-tracked table refuses
    if ((adds || removes || rewrites) && !rowIdsHandled &&
        confEnabled(conf, "delta.enableRowTracking"))
      refuse("row tracking — this operation neither mints nor preserves " +
        "row ids")
    // the protocol makes rowTracking DEPEND on domainMetadata (the
    // high-water mark rides a domainMetadata action, which writers may
    // only emit when the feature is declared) — a v7 table declaring
    // rowTracking without it is malformed, and our hwm emission on its
    // adds would be protocol-violating for other engines
    if ((adds || removes || rewrites) &&
        confEnabled(conf, "delta.enableRowTracking") &&
        v == 7 && feats.contains("rowTracking") &&
        !feats.contains("domainMetadata"))
      refuse("row tracking without the domainMetadata writer feature — " +
        "the high-water mark cannot be legally committed on this table")
    // identity columns impose no gate here: [[write]] and [[upsert]]
    // assign omitted values and maintain delta.identity.highWaterMark,
    // restaging/echo paths carry the column's stored values unchanged
  }

  // ───────────────────────── identity columns ─────────────────────────
  //
  // Delta's identityColumns writer feature (PROTOCOL.md "Identity
  // Columns"): a field carrying delta.identity.start/step metadata is a
  // sequence the WRITER maintains — rows that omit the column get
  // values stepping past delta.identity.highWaterMark (recorded back
  // into the field metadata via a metaData action in the same commit);
  // explicit values are legal only when
  // delta.identity.allowExplicitInsert=true (GENERATED BY DEFAULT),
  // and then the high-water mark advances past them.

  private case class IdentityCol(name: String, start: Long, step: Long,
      hwm: Option[Long], allowExplicit: Boolean)

  private def identityCols(schema: Option[StructType]): Seq[IdentityCol] =
    schema.toSeq.flatMap(_.fields).filter(f =>
      f.metadata.contains("delta.identity.start") ||
        f.metadata.contains("delta.identity.step")).map { f =>
      val m = f.metadata
      // foreign writers may store the numbers as longs, doubles or
      // strings — accept all three (a misparse would corrupt the
      // sequence)
      def lng(k: String, d: Long): Long =
        if (!m.contains(k)) d
        else try m.getLong(k) catch { case _: Exception =>
          try m.getDouble(k).toLong catch { case _: Exception =>
            try m.getString(k).trim.toLong catch { case _: Exception => d }
          }
        }
      IdentityCol(f.name, lng("delta.identity.start", 1L),
        lng("delta.identity.step", 1L),
        if (m.contains("delta.identity.highWaterMark"))
          Some(lng("delta.identity.highWaterMark", 0L)) else None,
        m.contains("delta.identity.allowExplicitInsert") &&
          (try m.getBoolean("delta.identity.allowExplicitInsert")
           catch { case _: Exception =>
             try m.getString("delta.identity.allowExplicitInsert")
               .trim.equalsIgnoreCase("true")
             catch { case _: Exception => false } }))
    }

  /** `schema` with the identity column's high-water mark replaced. */
  private def withIdentityHwm(schema: StructType, name: String,
      hwm: Long): StructType =
    StructType(schema.fields.map { f =>
      if (!f.name.equalsIgnoreCase(name)) f
      else f.copy(metadata =
        new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("delta.identity.highWaterMark", hwm).build())
    })

  /** Append gapless identity values (hwm+step, hwm+2·step, … — `start`
    * when no mark exists yet) to every row: per-partition counts →
    * offsets → a locally-seeded counter, the scalable zipWithIndex
    * shape (no global sort, no single-partition collapse). Returns the
    * frame plus the new high-water mark.
    */
  private def assignIdentityValues(df: DataFrame,
      ic: IdentityCol): (DataFrame, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val first = ic.hwm.map(_ + ic.step).getOrElse(ic.start)
    val rdd0 = df.rdd
    val counts = rdd0.mapPartitionsWithIndex((pid, it) =>
      Iterator.single((pid, it.size.toLong))).collect().toMap
    val maxPid = if (counts.isEmpty) -1 else counts.keys.max
    val offsets = new Array[Long](math.max(maxPid + 2, 1))
    for (p <- 0 to maxPid)
      offsets(p + 1) = offsets(p) + counts.getOrElse(p, 0L)
    val total = if (maxPid < 0) 0L else offsets(maxPid + 1)
    val step = ic.step
    val schema = StructType(df.schema.fields :+
      StructField(ic.name, LongType, nullable = true))
    val out = df.sparkSession.createDataFrame(
      rdd0.mapPartitionsWithIndex { (pid, it) =>
        var k = offsets(math.min(pid, offsets.length - 1))
        it.map { r => val v = first + step * k; k += 1
          Row.fromSeq(r.toSeq :+ v) }
      }, schema)
    val newHwm =
      if (total == 0) ic.hwm.getOrElse(ic.start - ic.step)
      else first + step * (total - 1)
    (out, newHwm)
  }

  /** Generated columns declared by a schema: (name, generation SQL) for
    * every field carrying `delta.generationExpression` metadata (the key
    * delta-spark's GENERATED ALWAYS AS writes).
    */
  private def generatedColumns(schema: Option[StructType]): Seq[(String, String)] =
    schema.toSeq.flatMap(_.fields)
      .filter(_.metadata.contains("delta.generationExpression"))
      .map(f => f.name -> f.metadata.getString("delta.generationExpression"))

  /** Materialize generated columns ABSENT from the frame by evaluating
    * their expressions (delta-spark computes them on write); columns the
    * caller supplied are left as-is and validated value-equals-expression
    * by [[generatedChecks]] instead. Computed values CAST to the
    * declared column type — the expression's natural type may be
    * narrower (`length(s) + 1` is int, the column long) and a staged
    * file with the narrower physical type would fail the declared-schema
    * read.
    */
  private def materializeGenerated(df: DataFrame,
      gen: Seq[(String, String)],
      declared: Option[StructType]): DataFrame =
    gen.foldLeft(df) { case (acc, (name, sql)) =>
      // presence is case-insensitive like Spark resolution: a frame
      // spelling the generated column differently SUPPLIED it (and gets
      // validated), it must not be silently overwritten by the compute
      if (acc.columns.exists(_.equalsIgnoreCase(name))) acc
      else {
        val target = declared.flatMap(_.fields.find(_.name == name))
          .map(f => stripMeta(f.dataType))
        acc.withColumn(name,
          target.map(expr(sql).cast(_)).getOrElse(expr(sql)))
      }
    }

  /** Violation predicates for caller-SUPPLIED generated-column values:
    * every row must satisfy value <=> expression (null-safe equality —
    * delta-spark enforces the same as a write invariant).
    */
  private def generatedChecks(gen: Seq[(String, String)],
      originalColumns: Seq[String]): Seq[(String, org.apache.spark.sql.Column)] =
    gen.filter { case (name, _) =>
        originalColumns.exists(_.equalsIgnoreCase(name)) }
      .map { case (name, sql) =>
        (s"GENERATED column $name AS ($sql)",
          !(col(s"`$name`") <=> expr(sql)))
      }

  /** CHECK constraints (`delta.constraints.<name>` in the table
    * configuration — the key delta-spark's ALTER TABLE ADD CONSTRAINT
    * writes) plus NOT NULL invariants (non-nullable fields of the
    * declared schema), compiled to VIOLATION predicates over an incoming
    * frame. Delta CHECK semantics (delta-spark's CheckDeltaInvariant,
    * stricter than SQL): a row violates unless the expression evaluates
    * to TRUE — a NULL result rejects, because the protocol requires the
    * expression to hold for every written row and compliant engines
    * refuse what we would otherwise commit. A declared NOT NULL column
    * missing from the frame entirely refuses typed here (its rows would
    * read back NULL through the declared schema). NOT NULL invariants
    * recurse into nested structs: a non-nullable field of a (non-nullable
    * path of) struct column is enforced at its dotted path, matching
    * delta-spark's invariants feature. A CHECK expression
    * referencing a column absent from the frame ALSO refuses typed:
    * staged files carry only the frame's columns, the absent ones read
    * back NULL, and NULL legs can flip a compound predicate to FALSE on
    * read (`qty > 0 AND name IS NOT NULL` with `name` absent) — rows
    * this write validated would violate the constraint for every later
    * reader. The caller's fix is explicit NULL columns, which then
    * validate honestly.
    */
  private def enforcementChecks(spark: SparkSession,
      configuration: Map[String, String],
      declaredSchema: Option[StructType], frameSchema: StructType,
      tbl: HPath, op: String): Seq[(String, org.apache.spark.sql.Column)] = {
    val frameLower = frameSchema.fieldNames.map(_.toLowerCase).toSet
    val checks = configuration.toSeq
      .filter { case (k, _) => k.startsWith("delta.constraints.") }
      .sortBy(_._1)
      .map { case (k, sql) =>
        val name = k.stripPrefix("delta.constraints.")
        val refs =
          // the TOP-LEVEL column is nameParts.head — `addr.zip` references
          // frame column `addr` (nested CHECK constraints are legal);
          // .last would demand a nonexistent top-level `zip` and refuse
          // every write on such a table
          try spark.sessionState.sqlParser.parseExpression(sql).collect {
            case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              a.nameParts.head
          }.distinct
          catch {
            case _: Exception =>
              throw graft.GraftError.InvalidOperation(op,
                s"$tbl declares CHECK constraint $name whose expression " +
                  s"does not parse: $sql")
          }
        val absent = refs.filterNot(r => frameLower(r.toLowerCase))
        if (absent.nonEmpty)
          throw graft.GraftError.InvalidOperation(op,
            s"$tbl declares CHECK constraint $name ($sql) referencing " +
              s"column(s) ${absent.mkString(", ")} absent from the " +
              "incoming frame — the rows would read back NULL there and " +
              "could violate the constraint for later readers; include " +
              "the column(s) (explicit NULLs validate honestly)")
        (s"CHECK constraint $name ($sql)",
          // delta-spark parity, NOT generic SQL CHECK: CheckDeltaInvariant
          // rejects a NULL result (result == null || result == false) and
          // the delta protocol requires the expression to evaluate TRUE
          // for every written row — so the violation predicate is
          // NOT (expr IS TRUE), catching both FALSE and NULL
          !(expr(sql).cast("boolean") <=> lit(true)))
      }
    val notNull = declaredSchema.toSeq.flatMap(s => notNullFieldPaths(s))
    // presence is CASE-INSENSITIVE like Spark's own resolution — a frame
    // spelling a declared `id` as `ID` stores and resolves fine; nested
    // paths resolve segment-by-segment through the frame's struct types.
    // A path is a REFUSABLE absence only when the FIELD ITSELF is
    // missing from a parent the frame carries (rows would read back NULL
    // under a possibly non-null parent); a path whose nullable ANCESTOR
    // is wholly absent is legal — every row reads that ancestor as NULL,
    // so the nested invariant has no value to violate (a non-nullable
    // absent ancestor is its own path's refusal).
    val missing = notNull.filter(p =>
      failDepth(frameSchema, p) == p.length - 1)
    if (missing.nonEmpty)
      throw graft.GraftError.InvalidOperation(op,
        s"$tbl declares NOT NULL column(s) " +
          missing.map(_.mkString(".")).mkString(", ") +
          " but the incoming frame lacks them — appended rows would read " +
          "back NULL through the declared schema")
    // violation predicates only for paths the frame can RESOLVE — an
    // absent nullable ancestor makes the nested reference unevaluable
    // (and unviolable) rather than wrong
    checks ++ notNull.filter(p => failDepth(frameSchema, p) < 0).map { p =>
      val dotted = p.map(s => s"`$s`").mkString(".")
      // a nested field under a NULL (nullable) parent has no value to
      // violate — guard on the parent chain, matching delta-spark; a
      // non-nullable parent's own NULL is its own entry's violation
      val parentsNotNull = (1 until p.length).map(i =>
        col(p.take(i).map(s => s"`$s`").mkString(".")).isNotNull)
      (s"NOT NULL invariant on ${p.mkString(".")}",
        parentsNotNull.foldLeft(col(dotted).isNull)((acc, c) => acc && c))
    }
  }

  /** Segment index at which `path` stops resolving through nested struct
    * types of `st` (case-insensitive), or -1 when fully resolvable.
    * Descending into a non-struct counts as failing at that child.
    */
  private def failDepth(st: StructType, path: Seq[String]): Int = {
    var cur: org.apache.spark.sql.types.DataType = st
    var i = 0
    while (i < path.length) {
      cur match {
        case s: StructType =>
          s.fields.find(_.name.equalsIgnoreCase(path(i))) match {
            case Some(f) => cur = f.dataType; i += 1
            case None => return i
          }
        case _ => return i
      }
    }
    -1
  }

  /** Every non-nullable field path of `schema`, recursing into struct
    * children (delta-spark's invariants feature enforces nested struct
    * fields too; array/map elements are not descended, same as
    * delta-spark). Paths are segment lists, top-level fields included.
    */
  private def notNullFieldPaths(st: StructType,
      prefix: Seq[String] = Nil): Seq[Seq[String]] =
    st.fields.toSeq.flatMap { f =>
      val path = prefix :+ f.name
      val own: Seq[Seq[String]] = if (f.nullable) Nil else Seq(path)
      val nested = f.dataType match {
        case s: StructType => notNullFieldPaths(s, path)
        case _ => Nil
      }
      own ++ nested
    }

  /** Eager single-scan enforcement (used where the frame is an incoming
    * CHANGESET — upsert's updates — whose one extra aggregate pass is
    * bounded by the changeset, never the table; the append path instead
    * rides the checks on the staging scan itself via
    * `Dataset.observe`, see [[write]]).
    */
  private def enforceEager(df: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)],
      path: String, op: String): Unit = {
    if (checks.isEmpty) return
    import org.apache.spark.sql.functions.{sum, when}
    val row = df.select(checks.zipWithIndex.map { case ((_, p), i) =>
      sum(when(p, 1L).otherwise(0L)).cast("long").as(s"c$i") }: _*).first()
    val violated = checks.zipWithIndex.flatMap { case ((label, _), i) =>
      if (!row.isNullAt(i) && row.getLong(i) > 0) Some(label -> row.getLong(i))
      else None }
    if (violated.nonEmpty)
      throw graft.GraftError.ConstraintViolation(path, op, violated)
  }

  /** Time travel by TIMESTAMP (delta's `timestampAsOf`): resolves the
    * NEWEST commit whose commit-file modification time is <= `tsMillis`
    * (delta-spark's resolution rule) and reads that version. Commits
    * folded into a cleaned checkpoint are no longer individually
    * visible — same floor as version time travel. A timestamp before the
    * earliest visible commit refuses typed, and so does one AFTER the
    * newest commit (delta-spark's timestampGreaterThanLatestCommit — a
    * future ask silently clamped to "latest" would pin nothing: the
    * snapshot it returns changes under the caller's feet on the next
    * append). Commit mtimes are MONOTONIZED first (running max in
    * version order, DeltaHistoryManager's adjustment): filesystem mtimes
    * carry no ordering guarantee, and an out-of-order stamp would
    * otherwise resolve version N while version N-1 "happened later".
    */
  def readAsOfTimestamp(spark: SparkSession, path: String,
      tsMillis: Long): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    if (!fs.exists(log))
      throw graft.GraftError.InvalidOperation("load_delta",
        s"$path is not a delta table (no _delta_log)")
    val stamped = monotonizedCommitTimes(fs, log)
    stamped.lastOption.filter(_._2 < tsMillis).foreach { case (v, ts) =>
      throw graft.GraftError.InvalidOperation("load_delta",
        s"$path has no commit as late as timestamp $tsMillis (the newest " +
          s"commit, version $v, is at $ts) — use versionAsOf $v, or a " +
          "timestamp at or before the newest commit")
    }
    val chosen = stamped.filter(_._2 <= tsMillis).map(_._1).maxOption
      .getOrElse(throw graft.GraftError.InvalidOperation("load_delta",
        s"$path has no commit at or before timestamp $tsMillis" +
          stamped.headOption.map(s =>
            s" (earliest visible commit is at ${s._2})").getOrElse(
            " (no visible commits — log fully folded into a checkpoint)")))
    read(spark, path, Some(chosen))
  }

  /** `commitInfo.inCommitTimestamp` of commit `v`, if stamped — the
    * protocol's in-log clock (inCommitTimestamp writer feature), the
    * source of truth for timestamp resolution on tables that enable it
    * (file mtimes lie on exactly such tables: copies, restores and
    * object-store rewrites all reset them).
    */
  private def commitIct(fs: FileSystem, log: HPath, v: Long): Option[Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    readString(fs, new HPath(log, commitName(v))).linesIterator
      .flatMap { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        val ci = if (node == null) null else node.get("commitInfo")
        if (ci != null && ci.has("inCommitTimestamp") &&
            !ci.get("inCommitTimestamp").isNull)
          Some(ci.get("inCommitTimestamp").asLong) else None
      }.nextOption()
  }

  /** The commitInfo line every commit-producing path emits FIRST: when
    * the table declares `delta.enableInCommitTimestamps`, it carries the
    * protocol's `inCommitTimestamp` — wall clock, forced STRICTLY past
    * the previous commit's ICT (the protocol requires monotonicity even
    * across clock skew between writers).
    */
  private def commitInfoJson(op: String, txnId: String, fs: FileSystem,
      tbl: HPath, conf: Map[String, String]): String =
    ictFor(fs, tbl, conf) match {
      case Some(ict) =>
        s"""{"commitInfo":{"inCommitTimestamp":$ict,"operation":"$op","txnId":"$txnId"}}"""
      case None =>
        s"""{"commitInfo":{"operation":"$op","txnId":"$txnId"}}"""
    }

  /** The ICT value the next commit must carry, or None when the table
    * doesn't enable the feature. Re-evaluate per slot attempt — a rebase
    * retry follows a winner whose ICT this one must exceed.
    */
  private def ictFor(fs: FileSystem, tbl: HPath,
      conf: Map[String, String]): Option[Long] = {
    if (!confEnabled(conf, "delta.enableInCommitTimestamps")) return None
    val log = logDir(tbl)
    val prev = (if (fs.exists(log)) existingVersions(fs, log) else Nil)
      .lastOption.flatMap(v => commitIct(fs, log, v)).getOrElse(0L)
    Some(math.max(System.currentTimeMillis(), prev + 1))
  }

  /** Commit timestamps MONOTONIZED in version order (running max —
    * DeltaHistoryManager's adjustment). Per commit, the in-commit
    * timestamp wins when stamped (ICT tables carry their clock IN the
    * log); otherwise the file mtime, which carries no ordering
    * guarantee — an out-of-order stamp would otherwise resolve version
    * N while version N-1 "happened later". Mixed logs (ICT enabled
    * mid-life) monotonize across the boundary too. Shared by timestamp
    * time travel and the timestamp-bounded change feed.
    */
  private def monotonizedCommitTimes(fs: FileSystem,
      log: HPath): Seq[(Long, Long)] = {
    val raw = existingVersions(fs, log).sorted.map(v =>
      v -> commitIct(fs, log, v).getOrElse(
        fs.getFileStatus(new HPath(log, commitName(v))).getModificationTime))
    var runningMax = Long.MinValue
    raw.map { case (v, ts) =>
      runningMax = math.max(runningMax, ts); v -> runningMax
    }
  }

  /** Change feed bounded by TIMESTAMPS (delta-spark's
    * startingTimestamp/endingTimestamp CDF reads), resolved via the same
    * monotonized-mtime rule as [[readAsOfTimestamp]]: the window starts
    * at the EARLIEST commit stamped at-or-after `startTsMillis` and ends
    * at the NEWEST commit stamped at-or-before `endTsMillis` (the newest
    * commit when None). Refusals match delta-spark's: a start past the
    * newest commit refuses typed (silently serving an empty feed would
    * hide a caller's clock bug), as does a window no commit falls into.
    * A start timestamp resolving to version 0 SERVES version 0's adds as
    * inserts (the pre-commit state of a creation is empty, so the commit
    * IS fully describable — delta-spark's startingTimestamp CDF serves
    * the initial commit too); an end resolving to version 0 ONLY still
    * refuses typed, because a one-commit window pinned at creation needs
    * the same pre-commit state every other single-version window does
    * and is almost always a caller clock bug.
    */
  def readChangesByTimestamp(spark: SparkSession, path: String,
      startTsMillis: Long, endTsMillis: Option[Long] = None): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    if (!fs.exists(log))
      throw graft.GraftError.InvalidOperation("read_changes",
        s"$path is not a delta table (no _delta_log)")
    endTsMillis.filter(_ < startTsMillis).foreach { e =>
      throw graft.GraftError.InvalidOperation("read_changes",
        s"endingTimestamp $e precedes startingTimestamp $startTsMillis")
    }
    val stamped = monotonizedCommitTimes(fs, log)
    val startV = stamped.filter(_._2 >= startTsMillis).map(_._1).minOption
      .getOrElse(throw graft.GraftError.InvalidOperation("read_changes",
        s"$path has no commit at or after timestamp $startTsMillis" +
          stamped.lastOption.map(s =>
            s" (newest commit, version ${s._1}, is at ${s._2})")
            .getOrElse(" (no visible commits)")))
    val endV = endTsMillis match {
      case Some(e) => stamped.filter(_._2 <= e).map(_._1).maxOption
        .getOrElse(throw graft.GraftError.InvalidOperation("read_changes",
          s"$path has no commit at or before timestamp $e" +
            stamped.headOption.map(s =>
              s" (earliest visible commit is at ${s._2})").getOrElse("")))
      case None => stamped.last._1
    }
    if (startV > endV)
      throw graft.GraftError.InvalidOperation("read_changes",
        s"no commit of $path falls inside [$startTsMillis, " +
          s"${endTsMillis.getOrElse("latest")}] — the window resolves to " +
          s"versions ($startV, $endV)")
    if (endV == 0L)
      throw graft.GraftError.InvalidOperation("read_changes",
        s"the window resolves to version 0 only, which the change feed " +
          "cannot serve (a change needs the pre-commit state) — widen " +
          "the ending timestamp past the next commit")
    // startV == 0 → fromVersion = -1: readChanges' (from, to] window
    // then INCLUDES version 0, whose adds serve as inserts — the old
    // max(startV-1, 0) silently dropped the initial commit's rows even
    // though the caller's window covered it
    readChanges(spark, path, startV - 1, endV)
  }

  /** Stats-surviving subset of `adds` for `predicate` — the conservative
    * skipping kernel [[readWhere]] applies, reused by the copy-on-write
    * DISCOVERY scans. Returns the ORIGINAL entries (mapped tables remap
    * stats/partition keys only for the decision); a missing schema keeps
    * everything.
    */
  private def pruneAddsFor(spark: SparkSession, path: String,
      predicate: String,
      adds: Seq[DeltaStats.AddEntry]): Seq[DeltaStats.AddEntry] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    parsedTableSchema(spark, fs, tbl) match {
      case Some(schema) =>
        val mapped = logicalSchemaIfMapped(spark, fs, tbl).map(_._2)
        val logicalAdds = mapped match {
          case Some(logical) => remapAddsToLogical(adds, logical)
          case None => adds
        }
        val pcols0 = tablePartitionColumns(spark, fs, tbl).getOrElse(Nil)
        val pcols = mapped match {
          case Some(logical) =>
            val m = physToLogMap(logical)
            pcols0.map(c => m.getOrElse(c, c))
          case None => pcols0
        }
        val keptRels = DeltaStats.prune(spark, predicate, schema, pcols,
          logicalAdds).map(_.rel).toSet
        adds.filter(a => keptRels(a.rel))
      case None => adds
    }
  }

  /** Conservative discovery predicate for a MERGE's update keys: per-key
    * `BETWEEN min AND max` bounds, ANDed — files whose stats fall outside
    * every key's range provably contain no matched row. Emitted only when
    * EVERY key is integral (exact SQL literal rendering; a wrong literal
    * here would silently skip matches, so anything else yields None and
    * the discovery stays a full scan).
    */
  private def keyBoundsPredicate(updates: DataFrame,
      keys: Seq[String]): Option[String] = {
    import org.apache.spark.sql.types._
    val fields = keys.flatMap(k => updates.schema.fields.find(_.name == k))
    val integral = fields.length == keys.length && fields.forall(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
    if (!integral) return None
    val aggs = keys.flatMap(k => Seq(
      org.apache.spark.sql.functions.min(col(s"`$k`")).cast("long"),
      org.apache.spark.sql.functions.max(col(s"`$k`")).cast("long")))
    val row = updates.agg(aggs.head, aggs.tail: _*).head()
    val parts = keys.indices.map { i =>
      if (row.isNullAt(2 * i) || row.isNullAt(2 * i + 1)) return None
      s"`${keys(i)}` >= ${row.getLong(2 * i)} AND " +
        s"`${keys(i)}` <= ${row.getLong(2 * i + 1)}"
    }
    Some(parts.mkString(" AND "))
  }

  private def uriToRel(qualifiedBase: String, uri: String): String =
    new java.net.URI(uri).getPath.stripPrefix(qualifiedBase).stripPrefix("/")

  /** Stage `addDf` into the table and commit one version with `remove`
    * actions for `removesRel` plus `add` actions for the staged files.
    * A lost commit slot throws (see [[upsert]] — rewrites cannot rebase).
    *
    * `cdcDf` (change-data-feed tables): a frame of the EXACT row-level
    * changes (table columns + `_change_type`), staged under
    * `_change_data/` and committed as `cdc` actions alongside the
    * remove/add pair — the protocol shape that lets CDF readers serve
    * precise deletes/updates instead of file-granularity diffs. Readers
    * that honor cdc actions ([[readChanges]], delta-spark) use them
    * INSTEAD of this commit's add/remove actions.
    */
  /** Logical conflict check of OUR pending rewrite against commit `w`,
    * which won a slot we wanted (delta-spark's ConflictChecker rules,
    * distilled to this writer's rewrite shape). Throws typed
    * [[graft.GraftError.ConcurrentModification]] when:
    *  - `w` carries a protocol or metaData action (the table was
    *    redefined mid-flight — including a concurrent identity/hwm
    *    bump, whose metaData our rebase would clobber);
    *  - `w` REMOVES a file our rewrite also removes (our survivors
    *    were computed from rows the winner already superseded);
    *  - for dataChange rewrites (DELETE/MERGE), `w` ADDS files whose
    *    stats may satisfy our read predicate — rows this operation
    *    should have read (an absent/unparseable predicate treats every
    *    add as conflicting, the conservative floor).
    * dataChange=false restages (OPTIMIZE/PURGE) read no rows
    * semantically, so winner adds never conflict with them.
    */
  private def requireNoLogicalConflict(spark: SparkSession, fs: FileSystem,
      tbl: HPath, path: String, op: String, w: Long,
      ourRemoves: Set[String], dataChange: Boolean,
      readPredicate: Option[String]): Unit = {
    def conflict(detail: String): Nothing =
      throw graft.GraftError.ConcurrentModification(path, op.toLowerCase,
        s"version $w $detail")
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val schemaOpt = parsedTableSchema(spark, fs, tbl)
    val pcols = tablePartitionColumns(spark, fs, tbl).getOrElse(Nil)
    val conj = readPredicate.flatMap(p =>
      schemaOpt.flatMap(_ => DeltaStats.parseConjuncts(spark, p)))
    readString(fs, new HPath(logDir(tbl), commitName(w)))
      .linesIterator.foreach { line =>
      val node = try mapper.readTree(line) catch { case _: Exception => null }
      if (node != null) {
        if (node.has("protocol")) conflict("changes the table protocol")
        if (node.has("metaData")) conflict("changes the table metadata")
        val rem = node.get("remove")
        if (rem != null && rem.get("path") != null &&
            ourRemoves(rem.get("path").asText))
          conflict(s"already removed ${rem.get("path").asText}, which " +
            "this rewrite also supersedes")
        val add = node.get("add")
        if (add != null && add.get("path") != null && dataChange) {
          val mayRead = (schemaOpt, conj) match {
            case (Some(schema), Some(conjuncts)) =>
              parseAddEntry(add).forall(e =>
                DeltaStats.entryMayMatch(conjuncts, schema, pcols, e,
                  mapper))
            case _ => true
          }
          if (mayRead)
            conflict(s"added ${add.get("path").asText} whose rows may " +
              "match this operation's read predicate")
        }
      }
    }
  }

  /** Test-only interception point, invoked with (op, targetVersion)
    * right before a rewrite's first slot acquisition — lets the
    * concurrency specs deterministically steal the slot (a foreign
    * commit written here makes the acquire LOSE, exercising the
    * conflict-check/rebase path without sleep-based races). Always None
    * in production.
    */
  private[sources] var commitSlotTestHook: Option[(String, Long) => Unit] =
    None

  private def commitRewrite(spark: SparkSession, path: String, op: String,
      removesRel: Seq[String], addDf: DataFrame,
      checkpointInterval: Int = 10, dataChange: Boolean = true,
      numFiles: Option[Int] = None, logicalFrame: Boolean = true,
      removeDvJson: Map[String, String] = Map.empty,
      removeSize: Map[String, Long] = Map.empty,
      cdcDf: Option[DataFrame] = None,
      extraMetaData: Option[String] = None,
      readPredicate: Option[String] = None): Unit = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    val version = nextVersion(fs, log).getOrElse(
      throw graft.GraftError.InvalidOperation(op.toLowerCase,
        s"$path is not a delta table (no _delta_log)"))
    val partitionBy = latestPartitionColumns(fs, log).getOrElse(Nil)
    // mapped tables: the rewrite stages under PHYSICAL column names (the
    // same logical->physical rename the append path applies) — and, for
    // id-mode tables, with parquet.field.id metadata so Spark's field-id
    // write emits the ids the table's by-id reader resolves. Partitioned
    // mapped rewrites restage under PHYSICAL-named partition dirs (the
    // stagePartitionBy route below), graded by q_delta_colmap_part and
    // pinned by WritersSpec's partitioned name-mapped
    // append/upsert/delete/optimize test.
    // logicalFrame = false: the caller (optimize) already holds the
    // file-native PHYSICAL columns and restages them unchanged
    val mappedInfo: Option[(String, StructType)] =
      if (logicalFrame) logicalSchemaIfMapped(spark, fs, tbl) else None
    val idMapped = mappedInfo.exists(_._1 == "id")
    val renamed = mappedInfo match {
      case Some((mode, logical)) =>
        if (mode == "id") requireIdWritable(logical, tbl, op.toLowerCase)
        require(logical.fieldNames.forall(addDf.columns.contains),
          s"$op rewrite frame columns ${addDf.columns.mkString(",")} lack " +
            s"mapped table schema ${logical.fieldNames.mkString(",")}")
        // columns BEYOND the logical schema are physical-only internals
        // (row tracking's materialized id/commit-version) — restaged
        // verbatim under their own names, no mapping annotation applies
        val extras = addDf.columns.filterNot(logical.fieldNames.contains)
        val physical = physicalType(logical).asInstanceOf[StructType]
        addDf.select(logical.fields.zip(physical.fields).map { case (lf, pf) =>
          // id mode: nested field ids ride on the cast target's metadata
          // (physicalFieldIdType), the top-level id on the alias
          if (mode == "id")
            col(s"`${lf.name}`").cast(physicalFieldIdType(lf.dataType, tbl))
              .as(pf.name, new org.apache.spark.sql.types.MetadataBuilder()
                .putLong(ParquetFieldIdKey, lf.metadata.getLong(MappingIdKey))
                .build())
          else col(s"`${lf.name}`").cast(stripMeta(pf.dataType)).as(pf.name)
        } ++ extras.map(e => col(s"`$e`")): _*)
      case None => addDf
    }
    // mapped tables stage under PHYSICAL partition dir names; the log's
    // metaData.partitionColumns may be spelled logically (delta-spark)
    // or physically (other writers) — accept both and emit physical
    val stagePartitionBy: Seq[String] = mappedInfo match {
      case Some((_, logical)) if partitionBy.nonEmpty =>
        partitionBy.map { pc =>
          logical.fields.find(f => f.name == pc ||
            (f.metadata.contains(PhysicalNameKey) &&
              f.metadata.getString(PhysicalNameKey) == pc))
            .map { f =>
              if (f.metadata.contains(PhysicalNameKey))
                f.metadata.getString(PhysicalNameKey)
              else f.name
            }
            .getOrElse(throw graft.GraftError.InvalidOperation(op.toLowerCase,
              s"$tbl: partition column '$pc' not in the mapped table schema"))
        }
      case _ => partitionBy
    }
    val stage = new HPath(tbl, s".graft_stage_${java.util.UUID.randomUUID()}")
    val toWrite = numFiles.map(renamed.coalesce).getOrElse(renamed)
    withFieldIdWriteIf(spark, idMapped) {
      val w = toWrite.write.mode("overwrite")
      (if (stagePartitionBy.nonEmpty) w.partitionBy(stagePartitionBy: _*)
       else w).parquet(stage.toString)
    }
    val staged = dataFiles(fs, stage)
    staged.foreach { case (rel, _) =>
      val target = new HPath(tbl, rel)
      fs.mkdirs(target.getParent)
      if (!fs.rename(new HPath(stage, rel), target))
        throw new IllegalStateException(s"delta data move failed: $target")
    }
    fs.delete(stage, true)
    // change-data files: staged like data files — PARTITIONED by the
    // table's partition columns (the AddCDCFile contract carries
    // partitionValues like add actions, and delta-spark's CDF reader
    // resolves partition columns from the action/dir layout; an
    // unpartitioned cdc file on a partitioned table would read back
    // NULL partition values in every change row) — then moved under
    // _change_data/<col>=<val>/ (invisible to table listings, the '_'
    // prefix) and referenced by cdc actions in this same commit
    val cdcRels: Seq[(String, Long)] = cdcDf.toSeq.flatMap { cdf0 =>
      // mapped tables: cdc files carry PHYSICAL column names exactly like
      // data files (delta-spark's shape — its CDF reader renames through
      // the mapping annotations, and so does [[readChanges]]); the
      // _change_type metadata column stays literal. Id-mode cdc files
      // stage with parquet field ids like data files do.
      val cdf = mappedInfo match {
        case Some((mode, logical)) =>
          val physical = physicalType(logical).asInstanceOf[StructType]
          val dataCols = logical.fields.zip(physical.fields)
            .filter { case (lf, _) => cdf0.columns.contains(lf.name) }
            .map { case (lf, pf) =>
              if (mode == "id")
                col(s"`${lf.name}`").cast(physicalFieldIdType(lf.dataType, tbl))
                  .as(pf.name, new org.apache.spark.sql.types.MetadataBuilder()
                    .putLong(ParquetFieldIdKey,
                      lf.metadata.getLong(MappingIdKey)).build())
              else col(s"`${lf.name}`").cast(stripMeta(pf.dataType)).as(pf.name)
            }
          cdf0.select(dataCols :+ col("_change_type"): _*)
        case None => cdf0
      }
      val cdcStage = new HPath(tbl, s".graft_stage_cdc_${java.util.UUID.randomUUID()}")
      withFieldIdWriteIf(spark, idMapped) {
        val w = cdf.write.mode("overwrite")
        (if (stagePartitionBy.nonEmpty) w.partitionBy(stagePartitionBy: _*)
         else w).parquet(cdcStage.toString)
      }
      val parts = dataFiles(fs, cdcStage).toSeq.sortBy(_._1)
      val dir = new HPath(tbl, "_change_data")
      fs.mkdirs(dir)
      val moved = parts.zipWithIndex.map { case ((rel, _), i) =>
        val partDirs = rel.split('/').dropRight(1)
        val name = s"cdc-${java.util.UUID.randomUUID()}-$i.parquet"
        val relOut = ("_change_data" +: partDirs :+ name).mkString("/")
        val target = new HPath(tbl, relOut)
        fs.mkdirs(target.getParent)
        if (!fs.rename(new HPath(cdcStage, rel), target))
          throw new IllegalStateException(s"cdc data move failed: $target")
        relOut -> fs.getFileStatus(target).getLen
      }
      fs.delete(cdcStage, true)
      moved
    }
    val txnId = java.util.UUID.randomUUID().toString
    val stagedRels = staged.keys.toSeq.sorted
    val statsByRel = statsForAll(spark, fs, tbl, stagedRels)
    def actionsFor(v: Long): String = {
      val actions = ListBuffer.empty[String]
      actions += commitInfoJson(op, txnId, fs, tbl,
        tableConfiguration(spark, fs, tbl))
      // metaData refresh riding a rewrite commit (identity high-water
      // mark bumps) — the caller supplies the full action
      extraMetaData.foreach(actions += _)
      val now = System.currentTimeMillis()
      cdcRels.foreach { case (rel, size) =>
        // partitionValues from the col=val segments under _change_data/,
        // exactly as addAction derives them for data files
        val pv = partitionValues(rel.stripPrefix("_change_data/"))
          .map { case (k, vv) => s""""${esc(k)}":"${esc(vv)}"""" }.mkString(",")
        actions +=
          s"""{"cdc":{"path":"${esc(rel)}","partitionValues":{$pv},"size":$size,"dataChange":false}}"""
      }
      removesRel.foreach { r =>
        // PURGE removes echo the superseded DV descriptor (protocol shape —
        // lets an external vacuum associate the orphaned bin file); the
        // size rides along so the incremental version checksum can
        // subtract it without a snapshot fold
        val dvJson = removeDvJson.get(r)
          .map(d => s""","deletionVector":$d""").getOrElse("")
        val sizeJson = removeSize.get(r).map(s => s""","size":$s""").getOrElse("")
        actions +=
          s"""{"remove":{"path":"${esc(r)}","deletionTimestamp":$now,"dataChange":$dataChange$sizeJson$dvJson}}"""
      }
      // row tracking: restaged files get fresh base-row-id ranges (the
      // positional DEFAULT for any row whose materialized id is NULL —
      // the caller materialized every SURVIVING row's original id into
      // the hidden column, so fresh ranges only ever bind new rows).
      // Re-read per attempt: a rebase may follow a concurrent writer
      // who advanced the mark.
      val rowIdsByRel: Map[String, Long] =
        if (!rowTrackingEnabled(tableConfiguration(spark, fs, tbl))) Map.empty
        else {
          val (byRel, newHwm) = assignBaseRowIds(fs, tbl, stagedRels,
            statsByRel, rowIdHighWaterMark(spark, fs, tbl))
          actions += domainMetadataAction(newHwm)
          byRel
        }
      stagedRels.foreach { rel =>
        actions += addAction(rel, fs.getFileStatus(new HPath(tbl, rel)),
          statsByRel.getOrElse(rel, None), dataChange = dataChange,
          rowIds = rowIdsByRel.get(rel).map(b => (b, v)))
      }
      actions.mkString("\n") + "\n"
    }
    // Optimistic commit with LOGICAL conflict detection: a lost slot
    // rebases when every commit that landed since is disjoint from this
    // rewrite (requireNoLogicalConflict), else refuses typed — the
    // delta-spark ConflictChecker contract, replacing the old
    // always-throw.
    commitSlotTestHook.foreach(_(op, version))
    var v = version
    var committed = false
    var attempts = 0
    val maxAttempts = 20
    while (!committed && attempts < maxAttempts) {
      attempts += 1
      if (acquireCommitSlot(fs, log, v, txnId, actionsFor(v))) committed = true
      else {
        existingVersions(fs, log).filter(_ >= v).foreach(w =>
          requireNoLogicalConflict(spark, fs, tbl, path, op, w,
            removesRel.toSet, dataChange, readPredicate))
        v = math.max(v + 1, nextVersion(fs, log).getOrElse(0L))
      }
    }
    if (!committed)
      throw graft.GraftError.WriteError(path, op.toLowerCase,
        s"gave up after $maxAttempts optimistic-commit attempts (heavy " +
          "concurrent writer load?)")
    if (checkpointInterval > 0 && v % checkpointInterval == 0)
      writeCheckpoint(spark, path, v)
  }

  /** Checkpoint version `v`: the RECONCILED snapshot (active add rows +
    * latest metaData + protocol) written as
    * `_delta_log/%020d.checkpoint.parquet` plus the `_last_checkpoint`
    * pointer. Readers then replay from the checkpoint and only the
    * commits after it — and commits ≤ v become garbage-collectable, which
    * is what keeps a long-lived 100 TB table's log replay bounded.
    *
    * The active set comes from the same VERSION-ORDERED replay the
    * readers use ([[activeAddsAsOf]]): a path removed and later RE-ADDED
    * (RESTORE; a DV delete's remove+re-add of the same file) must end
    * active, and per path the NEWEST add row wins — which is also what
    * carries a deletion-vector descriptor through the fold, so DV-bearing
    * tables (exactly the long-lived, delete-heavy tables DVs exist for)
    * can bound their log replay too instead of refusing to checkpoint.
    */
  // ─────────────── canonical checkpoint action schemas ───────────────
  //
  // Checkpoint parquet must store actions under the delta PROTOCOL.md
  // checkpoint schema — partitionValues/configuration/options/tags as
  // MAP<string,string>, feature lists as ARRAY<string> — or foreign
  // engines, which read checkpoints with that FIXED schema, cannot
  // consume them. The log fold assembles rows via spark.read.json,
  // whose inference yields STRUCTs with one field per key, so every
  // action column round-trips through from_json(to_json(...), canonical
  // type) before a checkpoint writes. Our own readers are agnostic
  // (they re-serialize through to_json, which renders maps and structs
  // identically).

  private val MapSS = org.apache.spark.sql.types.MapType(
    org.apache.spark.sql.types.StringType,
    org.apache.spark.sql.types.StringType)

  private val DvStruct: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
  }

  private val CanonicalActionTypes: Map[String, StructType] = {
    import org.apache.spark.sql.types._
    Map(
      "add" -> StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapSS),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("tags", MapSS),
        StructField("deletionVector", DvStruct),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType),
        StructField("stats", StringType))),
      "remove" -> StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("extendedFileMetadata", BooleanType),
        StructField("partitionValues", MapSS),
        StructField("size", LongType),
        StructField("deletionVector", DvStruct),
        StructField("baseRowId", LongType),
        StructField("defaultRowCommitVersion", LongType))),
      "metaData" -> StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapSS)))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("createdTime", LongType),
        StructField("configuration", MapSS))),
      "protocol" -> StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))),
      "txn" -> StructType(Seq(
        StructField("appId", StringType),
        StructField("version", LongType),
        StructField("lastUpdated", LongType))),
      "domainMetadata" -> StructType(Seq(
        StructField("domain", StringType),
        StructField("configuration", StringType),
        StructField("removed", BooleanType))))
  }

  /** `col(name)` re-typed to the protocol's canonical checkpoint shape
    * (NULL rows stay NULL — to_json of null is null).
    */
  private def canonicalAction(name: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{from_json, to_json}
    from_json(to_json(col(name)), CanonicalActionTypes(name)).as(name)
  }

  /** Action kinds a checkpoint carries, in its column order. */
  private val CheckpointActionKinds =
    Seq("add", "remove", "metaData", "protocol", "txn", "domainMetadata")

  /** Checkpoint row shape of the driver fold: one canonical column per
    * action kind.
    */
  private val CheckpointSchema: StructType =
    StructType(CheckpointActionKinds.map(k => StructField(k, CanonicalActionTypes(k))))

  def writeCheckpoint(spark: SparkSession, path: String, version: Long,
      rowsPerPart: Int = 1000000,
      removeRetentionMs: Long = DefaultVacuumRetentionMs,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Unit = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the fold carries add/remove/metaData/protocol/txn AND
    // domainMetadata (newest per domain — row tracking's high-water mark
    // survives), so row-tracked tables checkpoint fine (rowIdsHandled);
    // an unknown v7 feature hanging state off other action kinds still
    // refuses.
    requireWriterCapability(spark, fs, tbl, "write_checkpoint",
      adds = false, removes = false, rewrites = true,
      rowIdsHandled = true)
    val log = logDir(tbl)
    // checkpointProtection: REWRITING a checkpoint below the boundary is
    // forbidden (it may have been produced by a history-compaction this
    // replay cannot reproduce); fresh checkpoints at/above it are fine
    if (version < checkpointProtectionVersion(spark, fs, tbl) &&
        (checkpointPaths(fs, log, version).nonEmpty ||
          v2ManifestPath(fs, log, version).isDefined))
      throw graft.GraftError.InvalidOperation("write_checkpoint",
        s"$tbl protects checkpoints below version " +
          s"${checkpointProtectionVersion(spark, fs, tbl)} " +
          "(delta.requireCheckpointProtectionBeforeVersion) — the " +
          s"version-$version checkpoint cannot be rewritten")
    // sources: the previous checkpoint (older commits may be gone) plus
    // the commits after it, up to `version`. `<=` matters: RE-writing
    // the checkpoint of the version _last_checkpoint already points at
    // (tombstone-expiry rewrites, racing checkpointers) must seed from
    // that checkpoint itself — its folded commits may be cleaned up, so
    // a `<` filter would silently fold from the surviving tail only and
    // drop every older add
    val prevCp = lastCheckpointVersion(fs, log).filter(_ <= version)
    val commits = existingVersions(fs, log)
      .filter(v => v <= version && prevCp.forall(v > _))
    // remove TOMBSTONES within the retention window (protocol: "a
    // checkpoint must contain remove actions whose deletionTimestamp is
    // newer than the retention boundary" — foreign vacuum bookkeeping
    // and concurrent-reader protection read them). Newest remove per
    // path; paths active again (re-added later — RESTORE) reconcile to
    // the ADD, so their tombstones drop; expired tombstones drop (the
    // protocol allows, and keeping them forever would grow checkpoints
    // unboundedly on rewrite-heavy tables). A NULL deletionTimestamp
    // keeps conservatively.
    // the table's own delta.deletedFileRetentionDuration wins over the
    // parameter default: a table configured with LONGER retention must
    // keep its tombstones in the checkpoint that long (the protocol's
    // concurrent-reader / foreign-vacuum protection), and a shorter one
    // may trim them sooner
    val effectiveRetentionMs =
      tableConfiguration(spark, fs, tbl)
        .get("delta.deletedFileRetentionDuration")
        .flatMap(parseDeltaInterval)
        .getOrElse(removeRetentionMs)
    val removeCutoff = System.currentTimeMillis() - effectiveRetentionMs
    // route: a log under snapshotDriverMaxBytes folds on the driver (one
    // collect of the previous checkpoint, Jackson over the commits — the
    // write below is then the only job); a larger log folds as a
    // distributed plan, so the driver never holds the add set (a
    // 10⁷-file table's path list alone is ~GBs)
    val fold =
      if (snapshotLogBytes(fs, log, Some(version)) <= snapshotDriverMaxBytes)
        driverCheckpointFold(spark, fs, log, path, prevCp, commits, removeCutoff)
      else distributedCheckpointFold(spark, fs, log, path, version, prevCp,
        commits, removeCutoff)
    val snapshot = fold.snapshot
    val activeCount = fold.adds
    // small snapshots → the classic single file; past rowsPerPart active
    // files → the multi-part `%020d.checkpoint.%010d.%010d.parquet`
    // layout real delta uses, because coalesce(1) would serialize
    // O(active files) add rows through ONE task (the checkpoint write
    // itself must scale with the table)
    // v2Checkpoint tables FORBID multi-part checkpoints — there the
    // scale path is the V2 LAYOUT ITSELF: file actions fan out across
    // sidecar parquets (written distributed, nParts ways) while a tiny
    // UUID-named manifest carries the non-file actions + sidecar refs.
    // Plain tables keep the classic single/multi-part layout.
    val v2Table = tableWriterProtocol(spark, fs, tbl)._2
      .contains("v2Checkpoint")
    val nParts = math.max(1,
      math.ceil(activeCount.toDouble / math.max(1, rowsPerPart)).toInt)
    val tmpDir = new HPath(log, s".cp_tmp_$version")
    var classicParts = 0 // actual part-file count of the classic layout
    val size: Long =
    if (v2Table) {
      // sidecars: the add rows only (the protocol's file-action files),
      // repartitioned so a 10⁷-file snapshot never serializes through
      // one task
      // a re-checkpointed version must not leave stale CLASSIC files
      // behind — readCheckpoint prefers them over the fresh manifest
      checkpointPaths(fs, log, version)
        .foreach(p => fs.delete(new HPath(p), false))
      // FILE actions — adds AND remove tombstones — are what sidecars
      // carry per the protocol; non-file actions stay in the manifest
      val fileCols = Seq("add", "remove").filter(snapshot.columns.contains)
      val addRows =
        if (fileCols.isEmpty) snapshot.limit(0).select(lit(null).as("add"))
        else snapshot
          .where(fileCols.map(c => col(c).isNotNull).reduce(_ || _))
          .select(fileCols.map(col): _*)
      (if (nParts == 1) addRows.coalesce(1)
       else addRows.repartition(nParts))
        .write.mode("overwrite").parquet(tmpDir.toString)
      val parts = fs.listStatus(tmpDir).toSeq
        .filter(s => s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      val sidecarDir = new HPath(log, "_sidecars")
      fs.mkdirs(sidecarDir)
      val sidecars = parts.map { st =>
        val name = s"${java.util.UUID.randomUUID()}.parquet"
        val target = new HPath(sidecarDir, name)
        if (!fs.rename(st.getPath, target))
          throw new IllegalStateException(s"sidecar rename failed: $target")
        val t = fs.getFileStatus(target)
        (name, t.getLen, t.getModificationTime)
      }
      fs.delete(tmpDir, true)
      // manifest: checkpointMetadata + the tiny non-file action rows
      // (metaData/protocol/txn/domainMetadata — a handful regardless of
      // table size, collected as JSON) + the sidecar actions
      def jsonRows(c: String): Seq[String] =
        if (!snapshot.columns.contains(c)) Nil
        else snapshot.where(col(c).isNotNull)
          .select(org.apache.spark.sql.functions.to_json(col(c)))
          .collect().toSeq.map(r => s"""{"$c":${r.getString(0)}}""")
      val manifestLines =
        Seq(s"""{"checkpointMetadata":{"version":$version}}""") ++
          jsonRows("protocol") ++ jsonRows("metaData") ++
          jsonRows("txn") ++ jsonRows("domainMetadata") ++
          sidecars.map { case (n, sz, mt) =>
            s"""{"sidecar":{"path":"$n","sizeInBytes":$sz,"modificationTime":$mt}}""" }
      val sess = spark
      import sess.implicits._
      val mTmp = new HPath(log, s".cp_manifest_tmp_$version")
      // explicit canonical schema — JSON inference would store the map
      // fields as structs, which foreign fixed-schema readers reject
      val manifestSchema = {
        import org.apache.spark.sql.types._
        StructType(Seq(
          StructField("checkpointMetadata", StructType(Seq(
            StructField("version", LongType),
            StructField("tags", MapSS)))),
          StructField("protocol", CanonicalActionTypes("protocol")),
          StructField("metaData", CanonicalActionTypes("metaData")),
          StructField("txn", CanonicalActionTypes("txn")),
          StructField("domainMetadata",
            CanonicalActionTypes("domainMetadata")),
          StructField("sidecar", StructType(Seq(
            StructField("path", StringType),
            StructField("sizeInBytes", LongType),
            StructField("modificationTime", LongType),
            StructField("tags", MapSS))))))
      }
      spark.read.schema(manifestSchema).json(manifestLines.toDS())
        .coalesce(1)
        .write.mode("overwrite").parquet(mTmp.toString)
      val mPart = fs.listStatus(mTmp).toSeq
        .find(s => s.getPath.getName.startsWith("part-") &&
          s.getPath.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          "v2 manifest write produced no part file")).getPath
      val manifest = new HPath(log,
        f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")
      if (!fs.rename(mPart, manifest))
        throw new IllegalStateException(s"manifest rename failed: $manifest")
      fs.delete(mTmp, true)
      // size = file actions (adds + retained tombstones) + the manifest's
      // non-file action lines (checkpointMetadata/sidecar rows excluded)
      fold.rows.getOrElse(activeCount + fold.tombstones() +
        manifestLines.length - sidecars.length - 1)
    } else {
    fold.inParts(nParts).write.mode("overwrite").parquet(tmpDir.toString)
    val written = fs.listStatus(tmpDir).toSeq
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    if (written.isEmpty)
      throw new IllegalStateException("checkpoint write produced no part file")
    classicParts = written.size
    // clear any stale files of a re-checkpointed version (either layout)
    checkpointPaths(fs, log, version).foreach(p => fs.delete(new HPath(p), false))
    if (written.size == 1 && nParts == 1) {
      val cpFile = new HPath(log, f"$version%020d.checkpoint.parquet")
      if (!fs.rename(written.head.getPath, cpFile))
        throw new IllegalStateException(s"checkpoint rename failed: $cpFile")
    } else {
      val n = written.size
      written.zipWithIndex.foreach { case (st, i) =>
        val cpFile = new HPath(log,
          f"$version%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")
        if (!fs.rename(st.getPath, cpFile))
          throw new IllegalStateException(s"checkpoint rename failed: $cpFile")
      }
    }
    fs.delete(tmpDir, true)
    // size from the fold, else from the just-written files — not a
    // second full log replay
    fold.rows.getOrElse(readCheckpoint(spark, fs, log, version)
      .map(_.count()).getOrElse(0L))
    }
    // "parts" must equal the ACTUAL file count the multi-part names
    // carry (written.size can differ from nParts when a repartition
    // slice comes up empty) — foreign readers enumerate files from it
    val partsField =
      if (!v2Table && (classicParts > 1 || nParts > 1))
        s""","parts":$classicParts""" else ""
    val lc = fs.create(new HPath(log, "_last_checkpoint"), true)
    try lc.write(
      s"""{"version":$version,"size":$size$partsField}""".getBytes("UTF-8"))
    finally lc.close()
  }

  /** A folded checkpoint snapshot: its action rows as one frame, the
    * same rows in `n` partitions (one part file each), the live-add
    * count (sizes the part layout), the retained-tombstone count (lazy —
    * only a v2 checkpoint's `size` needs it) and, when the fold knows
    * it, the row count (`_last_checkpoint`'s `size`).
    */
  private final case class CheckpointFold(snapshot: DataFrame,
      inParts: Int => DataFrame, adds: Long, tombstones: () => Long,
      rows: Option[Long])

  /** [[writeCheckpoint]]'s fold on the driver, for logs under
    * `snapshotDriverMaxBytes`: the previous checkpoint's rows, then the
    * commit lines after it, replay in order ([[replayActions]]) under
    * the rules of [[distributedCheckpointFold]] — the newest add per live
    * path; the newest remove per dead path, kept inside the retention
    * window; the newest metaData and protocol; the highest-version txn
    * per appId; the newest domainMetadata per domain unless removed. The
    * action lines become a frame through a declared-schema JSON read of
    * local data, so no job runs before the checkpoint write; `n` parts
    * are `n` contiguous, non-empty slices of the lines (n ≤ adds).
    */
  private def driverCheckpointFold(spark: SparkSession, fs: FileSystem,
      log: HPath, path: String, prevCp: Option[Long], commits: Seq[Long],
      removeCutoff: Long): CheckpointFold = {
    import com.fasterxml.jackson.databind.JsonNode
    import scala.collection.mutable.LinkedHashMap
    val adds = LinkedHashMap.empty[String, JsonNode]
    val removes = LinkedHashMap.empty[String, JsonNode]
    val txns = LinkedHashMap.empty[Option[String], JsonNode]
    val domains = LinkedHashMap.empty[Option[String], JsonNode]
    var metaData, protocol = Option.empty[JsonNode]
    def field(a: JsonNode, f: String): Option[JsonNode] =
      Option(a.get(f)).filterNot(_.isNull)
    def txnVersion(t: JsonNode): Long =
      field(t, "version").fold(Long.MinValue)(_.asLong)
    replayActions(spark, fs, log, path, prevCp, commits,
        CheckpointActionKinds, CheckpointActionKinds) {
      case ("add", a) => field(a, "path").foreach(p => adds(p.asText) = a)
      case ("remove", r) => field(r, "path").foreach { p =>
        adds -= p.asText
        removes(p.asText) = r
      }
      case ("metaData", m) => metaData = Some(m)
      case ("protocol", p) => protocol = Some(p)
      case ("txn", t) =>
        val app = field(t, "appId").map(_.asText)
        if (txns.get(app).forall(o => txnVersion(t) >= txnVersion(o)))
          txns(app) = t
      case ("domainMetadata", d) => domains(field(d, "domain").map(_.asText)) = d
      case _ =>
    }
    val tombstones = removes.collect { case (p, r) if !adds.contains(p) &&
      field(r, "deletionTimestamp").forall(_.asLong >= removeCutoff) => r }
    def lines(kind: String, actions: Iterable[JsonNode]): Iterable[String] =
      actions.map(a => s"""{"$kind":$a}""")
    val all = (lines("add", adds.values) ++ lines("remove", tombstones) ++
      lines("metaData", metaData) ++ lines("protocol", protocol) ++
      lines("txn", txns.values) ++ lines("domainMetadata", domains.values
        .filterNot(d => field(d, "removed").exists(_.asBoolean)))).toSeq
    val sess = spark
    import sess.implicits._
    def inParts(n: Int): DataFrame = spark.read.schema(CheckpointSchema)
      .json(spark.sparkContext.parallelize(all, n).toDS())
    CheckpointFold(inParts(1), inParts, adds.size.toLong,
      () => tombstones.size.toLong, Some(all.size.toLong))
  }

  /** [[writeCheckpoint]]'s fold as a Spark plan over the previous
    * checkpoint ∪ the commit JSONs after it, for logs past
    * `snapshotDriverMaxBytes`: the driver holds counts and a handful of
    * non-file rows, never the add set.
    */
  private def distributedCheckpointFold(spark: SparkSession, fs: FileSystem,
      log: HPath, path: String, version: Long, prevCp: Option[Long],
      commits: Seq[Long], removeCutoff: Long): CheckpointFold = {
    val prev = prevCp.flatMap(v => readCheckpoint(spark, fs, log, v))
    val commitFiles = commits.map(v => new HPath(log, commitName(v)).toString)
    // a same-version REWRITE folds from the checkpoint alone — zero
    // post-checkpoint commits, and spark.read.json of an empty path list
    // cannot infer a schema
    val logF =
      if (commitFiles.nonEmpty) spark.read.json(commitFiles: _*)
        .withColumn("graft_f", org.apache.spark.sql.functions.input_file_name())
      else spark.range(0)
        .select(lit(null).cast("string").as("graft_f"))
    def part(df: DataFrame, c: String): Option[DataFrame] =
      if (df.columns.contains(c)) Some(df.where(col(c).isNotNull).select(col(c)))
      else None
    // survivor set: the fold runs DISTRIBUTEDLY and the semi/anti-joins
    // below consume its DataFrame — the driver holds ONE count, never a
    // LocalRelation of the add set
    val sess = spark
    import sess.implicits._
    val activeDf = activeAddsDfAsOf(spark, path, Some(version))
      .map(_.select(col("graft_path").as("graft_active_path"))
        .localCheckpoint(true)) // consumed 3× (semi, anti, count)
      .getOrElse(Seq.empty[String].toDF("graft_active_path"))
    // recency: previous-checkpoint rows are older than every replayed
    // commit; commit rows rank by their version (from the file name)
    // both sides canonicalize BEFORE the union: a previous checkpoint
    // stores canonical types (maps) while commit JSONs infer structs —
    // a raw union of the two shapes would not resolve
    val prevAdds = prev.flatMap(p =>
      if (!p.columns.contains("add")) None
      else Some(p.where(col("add").isNotNull)
        .select(canonicalAction("add"), lit(-1L).as("graft_rec"))))
    val commitAdds =
      if (!logF.columns.contains("add")) None
      else Some(logF.where(col("add").isNotNull).select(canonicalAction("add"),
        org.apache.spark.sql.functions.regexp_extract(col("graft_f"),
          "(\\d{20})\\.json", 1).cast("long").as("graft_rec")))
    val adds = (prevAdds.toSeq ++ commitAdds.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { u =>
        val alive = u.join(activeDf,
          u("add.path") === activeDf("graft_active_path"), "left_semi")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("add.path")).orderBy(col("graft_rec").desc)
        alive.withColumn("graft_rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .where(col("graft_rn") === 1).select(col("add"))
      }
    val prevRemoves = prev.flatMap(p =>
      if (!p.columns.contains("remove")) None
      else Some(p.where(col("remove").isNotNull)
        .select(canonicalAction("remove"), lit(-1L).as("graft_rec"))))
    val commitRemoves =
      if (!logF.columns.contains("remove")) None
      else Some(logF.where(col("remove").isNotNull)
        .select(canonicalAction("remove"),
          org.apache.spark.sql.functions.regexp_extract(col("graft_f"),
            "(\\d{20})\\.json", 1).cast("long").as("graft_rec")))
    val removes = (prevRemoves.toSeq ++ commitRemoves.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { u =>
        val dead = u.join(activeDf,
          u("remove.path") === activeDf("graft_active_path"), "left_anti")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("remove.path")).orderBy(col("graft_rec").desc)
        dead.withColumn("graft_rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .where(col("graft_rn") === 1 &&
            (col("remove.deletionTimestamp").isNull ||
              col("remove.deletionTimestamp") >= lit(removeCutoff)))
          .select(col("remove"))
      }
    // newest metaData/protocol: commits win over the previous checkpoint
    def newest(c: String): Option[DataFrame] =
      part(logF.orderBy(col("graft_f").desc), c).map(_.limit(1))
        .filter(!_.isEmpty) // probe runs on the 1-row plan, not the full log
        .orElse(prev.flatMap(part(_, c)).map(_.limit(1)))
        .map(_.select(canonicalAction(c)))
    // SetTransaction watermarks must survive log cleanup (the delta spec
    // retains them in checkpoints): fold to the newest version per appId
    val txns = (prev.flatMap(part(_, "txn")).toSeq ++ part(logF, "txn").toSeq)
      .map(_.select(canonicalAction("txn")))
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { df =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("txn.appId"))
          .orderBy(col("txn.version").desc)
        df.withColumn("graft_rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .where(col("graft_rn") === 1).drop("graft_rn")
      }
    // domainMetadata state (row tracking's high-water mark and any
    // foreign domain) must survive the fold like txn watermarks do —
    // newest action per domain wins (commit rows rank by version,
    // previous-checkpoint rows are older), a removed=true tombstone
    // drops the domain from the checkpoint
    val prevDomains = prev.flatMap(p =>
      if (!p.columns.contains("domainMetadata")) None
      else Some(p.where(col("domainMetadata").isNotNull)
        .select(canonicalAction("domainMetadata"), lit(-1L).as("graft_rec"))))
    val commitDomains =
      if (!logF.columns.contains("domainMetadata")) None
      else Some(logF.where(col("domainMetadata").isNotNull)
        .select(canonicalAction("domainMetadata"),
          org.apache.spark.sql.functions.regexp_extract(col("graft_f"),
            "(\\d{20})\\.json", 1).cast("long").as("graft_rec")))
    val domains = (prevDomains.toSeq ++ commitDomains.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { df =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("domainMetadata.domain"))
          .orderBy(col("graft_rec").desc)
        df.withColumn("graft_rn",
            org.apache.spark.sql.functions.row_number().over(w))
          .where(col("graft_rn") === 1 &&
            !coalesce(col("domainMetadata.removed"), lit(false)))
          .select(col("domainMetadata"))
      }
    val parts = adds.toSeq ++ removes.toSeq ++ newest("metaData").toSeq ++
      newest("protocol").toSeq ++ txns.toSeq ++ domains.toSeq
    val snapshot = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    CheckpointFold(snapshot,
      n => if (n == 1) snapshot.coalesce(1) else snapshot.repartition(n),
      activeDf.count(), () => removes.map(_.count()).getOrElse(0L), None)
  }

  /** Parquet path(s) of checkpoint `v`: the classic single
    * `%020d.checkpoint.parquet` or the multi-part
    * `%020d.checkpoint.%010d.%010d.parquet` layout (what real delta
    * writes for big snapshots — and what we write past
    * [[CheckpointRowsPerPart]] active files, because a single-file
    * checkpoint serializes O(active files) rows through ONE task).
    * Empty when the version has no checkpoint files.
    */
  private def checkpointPaths(fs: FileSystem, log: HPath,
      v: Long): Seq[String] = {
    val single = new HPath(log, f"$v%020d.checkpoint.parquet")
    if (fs.exists(single)) Seq(single.toString)
    else if (!fs.exists(log)) Nil
    else {
      val prefix = f"$v%020d.checkpoint."
      fs.listStatus(log).toSeq.map(_.getPath)
        .filter { p =>
          // multi-part segments are NUMERIC (`.o.p.parquet`) — a v2
          // manifest's UUID segment must NOT be misread as a classic
          // part (its file actions live in sidecars, not in it)
          p.getName.startsWith(prefix) && p.getName.endsWith(".parquet") &&
            p.getName.stripPrefix(prefix).stripSuffix(".parquet")
              .split('.').forall(s => s.nonEmpty && s.forall(_.isDigit))
        }
        .sortBy(_.getName).map(_.toString)
    }
  }

  /** V2 (UUID-named) checkpoint manifest of version `v`, if any:
    * `%020d.checkpoint.<uuid>.{parquet|json}` — the delta protocol's
    * v2Checkpoint naming scheme. Several manifests of one version (two
    * writers raced the checkpoint) describe the same snapshot; the
    * name-sorted first is picked deterministically.
    */
  private def v2ManifestPath(fs: FileSystem, log: HPath,
      v: Long): Option[HPath] = {
    if (!fs.exists(log)) return None
    val prefix = f"$v%020d.checkpoint."
    fs.listStatus(log).toSeq.map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith(prefix) &&
          (n.endsWith(".parquet") || n.endsWith(".json")) && {
            val stem = n.stripPrefix(prefix)
              .stripSuffix(".parquet").stripSuffix(".json")
            // the protocol names v2 manifests <v>.checkpoint.<uuid>.<ext>
            // — require the UUID shape, or the classic single-file name
            // <v>.checkpoint.parquet (stem "parquet": non-empty, dot-free,
            // non-numeric) would be misread as a manifest and fold zero
            // file actions
            stem.matches("[0-9a-fA-F-]{32,36}") && !stem.forall(_.isDigit)
          }
      }
      .sortBy(_.getName).headOption
  }

  /** Sidecar files a v2 manifest references, resolved against
    * `_delta_log/_sidecars/` (the protocol's location for relative
    * sidecar names; absolute paths pass through). A referenced-but-
    * missing sidecar refuses typed — silently folding a partial file
    * set would drop live rows.
    */
  private def v2SidecarPaths(fs: FileSystem, log: HPath,
      manifest: DataFrame): Seq[String] = {
    if (!manifest.columns.contains("sidecar")) return Nil
    val names = manifest.where(col("sidecar").isNotNull)
      .select(col("sidecar.path")).collect().map(_.getString(0)).toSeq
    val resolved = names.map { sp =>
      if (sp.contains("/")) sp
      else new HPath(new HPath(log, "_sidecars"), sp).toString
    }
    val missing = resolved.filterNot(p => fs.exists(new HPath(p)))
    if (missing.nonEmpty)
      throw graft.GraftError.InvalidOperation("load_delta",
        s"v2 checkpoint manifest references ${missing.size} missing " +
          s"sidecar file(s) (e.g. ${missing.head}) — the checkpoint " +
          "cannot be folded without them")
    resolved
  }

  /** The checkpoint-`v` snapshot frame: the classic single/multi-part
    * parquet layout when present, else a V2 (UUID-named) checkpoint —
    * manifest actions (protocol/metaData/txn/checkpointMetadata)
    * unioned with the file actions of its sidecar parquets, so every
    * fold consumer sees one frame regardless of layout. None when the
    * version has no checkpoint files.
    *
    * Parquet reads go through [[Loaders.readParquet]]: the schema Spark's
    * inference job would derive, from one footer read on the driver.
    */
  private def readCheckpoint(spark: SparkSession, fs: FileSystem,
      log: HPath, v: Long): Option[DataFrame] = {
    val paths = checkpointPaths(fs, log, v)
    if (paths.nonEmpty) return Some(Loaders.readParquet(spark, paths: _*))
    v2ManifestPath(fs, log, v).map { m =>
      val manifest =
        if (m.getName.endsWith(".json")) spark.read.json(m.toString)
        else Loaders.readParquet(spark, m.toString)
      val sidecars = v2SidecarPaths(fs, log, manifest)
      if (sidecars.isEmpty) manifest
      else manifest.drop("sidecar").unionByName(
        Loaders.readParquet(spark, sidecars: _*), allowMissingColumns = true)
    }
  }

  /** Version of the newest checkpoint per `_last_checkpoint`, if any. */
  private def lastCheckpointVersion(fs: FileSystem, log: HPath): Option[Long] = {
    val p = new HPath(log, "_last_checkpoint")
    if (!fs.exists(p)) return None
    val text = readString(fs, p)
    try {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
      Option(node.get("version")).map(_.asLong)
    } catch { case _: Exception => None }
  }

  /** Table dir has a delta log → snapshot = adds − removes, replayed from
    * the newest checkpoint (if any) plus only the commits after it — old
    * commits may have been cleaned up. Commit lines parse on the driver
    * (Jackson, no Spark job); a checkpoint costs one Spark job, the
    * collect of its action rows ([[replayActions]]).
    */
  def activeFiles(spark: SparkSession, path: String): Seq[String] =
    activeFilesAsOf(spark, path, None)

  /** Active files of the snapshot at `versionAsOf` (None = latest).
    * Time travel replays only commits ≤ the requested version; the
    * checkpoint is used only when it doesn't overshoot the target
    * (checkpoints fold earlier commits, so a checkpoint NEWER than the
    * requested version can't seed the replay).
    */
  def activeFilesAsOf(spark: SparkSession, path: String,
      versionAsOf: Option[Long]): Seq[String] =
    activeAddsAsOf(spark, path, versionAsOf)
      .map(a => new HPath(new HPath(path), a.rel).toString)

  /** Active data-file paths (qualified against `path`), with the
    * snapshot folded DISTRIBUTEDLY above the log-size threshold: the
    * driver collects only the path list — the irreducible input to a
    * file scan — never every add's stats/partitionValues metadata
    * ([[activeAddsAsOf]]'s driver shape, GBs at ~10⁶ files). The
    * declared-schema delta load (Loaders) lists through this.
    */
  def activeFilePathsScalable(spark: SparkSession, path: String,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Seq[String] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(logDir(tbl)) &&
        snapshotLogBytes(fs, logDir(tbl), None) > snapshotDriverMaxBytes)
      activeAddsDfAsOf(spark, path, None).map(
        _.select("graft_path").collect().toSeq
          .map(r => new HPath(tbl, r.getString(0)).toString))
        .getOrElse(Nil)
    else activeFiles(spark, path)
  }

  /** One `add` action's JSON node parsed to the typed entry the reader
    * and maintenance paths consume.
    */
  private def parseAddEntry(
      node: com.fasterxml.jackson.databind.JsonNode): Option[DeltaStats.AddEntry] = {
    val p = node.get("path")
    if (p == null) return None
    val pv = Map.newBuilder[String, String]
    Option(node.get("partitionValues")).foreach(_.fields().forEachRemaining { e =>
      pv += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
    })
    val dv = Option(node.get("deletionVector")).filterNot(_.isNull).map { d =>
      DeltaStats.DvDescriptor(
        Option(d.get("storageType")).map(_.asText).getOrElse(""),
        Option(d.get("pathOrInlineDv")).map(_.asText).getOrElse(""),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asLong),
        Option(d.get("sizeInBytes")).map(_.asInt(0)).getOrElse(0),
        Option(d.get("cardinality")).map(_.asLong(0L)).getOrElse(0L))
    }
    Some(DeltaStats.AddEntry(p.asText, pv.result(),
      Option(node.get("stats")).filter(_.isTextual).map(_.asText),
      Option(node.get("size")).map(_.asLong(0L)).getOrElse(0L), dv,
      Option(node.get("baseRowId")).filterNot(_.isNull).map(_.asLong),
      Option(node.get("defaultRowCommitVersion")).filterNot(_.isNull)
        .map(_.asLong)))
  }

  /** Full `add` metadata (partition values, stats, size) of the active
    * snapshot — the input to stats-based file skipping
    * ([[DeltaStats.prune]]) and to [[optimize]]'s bin packing.
    */
  def activeAddsAsOf(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): Seq[DeltaStats.AddEntry] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    versionAsOf.foreach { v =>
      if (!fs.exists(new HPath(log, commitName(v))))
        throw graft.GraftError.InvalidOperation("load_delta",
          s"version $v does not exist in $path (versions: " +
            s"${existingVersions(fs, log).mkString(", ")})")
    }
    val cpVersion = lastCheckpointVersion(fs, log)
      .filter(cp => versionAsOf.forall(cp <= _))
    val commits = existingVersions(fs, log)
      .filter(v => cpVersion.forall(v > _) && versionAsOf.forall(v <= _))
    if (commits.isEmpty && cpVersion.isEmpty) return Nil
    // Protocol-fidelity guards: a table written under a newer reader
    // protocol would be silently MISREAD by plain adds-minus-removes
    // replay — physical column names returned raw (id-mode column
    // mapping), unknown features' semantics ignored. Refusing typed is
    // the correct behavior on an unsupported capability (what
    // delta-spark/delta-rs do). Supported here: minReaderVersion 1;
    // minReaderVersion 2 (column mapping — NAME mode handled at read
    // time via the metaData rename, id mode refused below); and
    // minReaderVersion 3 when readerFeatures ⊆ [[SupportedReaderFeatures]]
    // (DV descriptors are parsed onto the add entries
    // and applied as a row filter at scan — see applyDeletionVectors;
    // write/maintenance paths refuse on DV-bearing snapshots).
    def guard(cond: Boolean, what: => String): Unit =
      if (cond) throw graft.GraftError.InvalidOperation("load_delta",
        s"$path requires an unsupported reader capability ($what); " +
          "reading it with plain add/remove replay would return wrong rows")
    def guardProtocol(node: com.fasterxml.jackson.databind.JsonNode): Unit = {
      val v = Option(node.get("minReaderVersion")).map(_.asInt(1)).getOrElse(1)
      if (v >= 3) {
        val feats = scala.collection.mutable.ArrayBuffer.empty[String]
        Option(node.get("readerFeatures")).filter(_.isArray)
          .foreach(_.forEach(f => feats += f.asText))
        val unsupported =
          feats.filterNot(SupportedReaderFeatures)
        guard(v > 3 || unsupported.nonEmpty,
          s"protocol minReaderVersion $v, readerFeatures " +
            feats.mkString("[", ", ", "]"))
      }
    }
    val cmMode = columnMappingMode(spark, fs, tbl)
    guard(cmMode != "none" && cmMode != "name" && cmMode != "id",
      s"column mapping mode '$cmMode'")
    // Fold in VERSION ORDER — a path removed at v2 and re-added at v5
    // (RESTORE does exactly this) must end active; a global
    // adds-minus-removes set would keep it dead forever
    val active = scala.collection.mutable.LinkedHashMap.empty[String, DeltaStats.AddEntry]
    replayActions(spark, fs, log, path, cpVersion, commits,
        kinds = Seq("add", "remove", "protocol", "metaData"),
        checkpointKinds = Seq("add", "protocol")) {
      case ("add", add) => parseAddEntry(add).foreach(a => active(a.rel) = a)
      case ("remove", rem) =>
        if (rem.get("path") != null) active -= rem.get("path").asText
      case ("protocol", proto) => guardProtocol(proto)
      case ("metaData", meta) =>
        if (meta.get("configuration") != null) {
          val cm = meta.get("configuration").get("delta.columnMapping.mode")
          guard(cm != null && cm.asText("none") != "none" &&
            cm.asText("none") != "name" && cm.asText("none") != "id",
            s"column mapping mode '${Option(cm).map(_.asText).getOrElse("")}'")
        }
      case _ =>
    }
    active.values.toSeq
  }

  /** Driver-side replay of a log: the action rows of checkpoint `cp`
    * (ONE collect, each action column to_json'ed so checkpoint rows parse
    * exactly like commit lines — stats stays the JSON string the writer
    * recorded), then the lines of `commits` in version order (Jackson —
    * commit files are tiny, and checkpoints bound how many replay).
    * `visit(kind, action)` sees each action of `checkpointKinds` in the
    * checkpoint, then each of `kinds` in the commits, oldest first — so
    * a later visit is always the newer action. Unparseable lines are
    * skipped.
    */
  private def replayActions(spark: SparkSession, fs: FileSystem, log: HPath,
      path: String, cp: Option[Long], commits: Seq[Long], kinds: Seq[String],
      checkpointKinds: Seq[String])(
      visit: (String, com.fasterxml.jackson.databind.JsonNode) => Unit): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(json: String) =
      try Option(mapper.readTree(json)) catch { case _: Exception => None }
    cp.foreach { v =>
      val df = readCheckpoint(spark, fs, log, v).getOrElse(
        throw graft.GraftError.InvalidOperation("load_delta",
          s"$path: _last_checkpoint names version $v but no checkpoint " +
            "parquet files exist"))
      val present = checkpointKinds.filter(df.columns.contains)
      if (present.nonEmpty)
        df.where(present.map(col(_).isNotNull).reduce(_ || _))
          .select(present.map(c =>
            org.apache.spark.sql.functions.to_json(col(c))): _*)
          .collect().foreach { r =>
            present.indices.foreach { i =>
              if (!r.isNullAt(i))
                parse(r.getString(i)).foreach(visit(present(i), _))
            }
          }
    }
    commits.foreach { v =>
      readString(fs, new HPath(log, commitName(v))).linesIterator.foreach { line =>
        parse(line).foreach { node =>
          kinds.foreach { k =>
            val a = node.get(k)
            if (a != null && !a.isNull) visit(k, a)
          }
        }
      }
    }
  }

  /** Bytes of log state a snapshot fold must consume: the checkpoint
    * parquet part files plus the post-checkpoint commit JSONs (listing
    * lengths only — no content reads). The routing signal for
    * [[read]]'s driver-vs-distributed snapshot reconstruction.
    */
  private def snapshotLogBytes(fs: FileSystem, log: HPath,
      versionAsOf: Option[Long]): Long = {
    val cpVersion = lastCheckpointVersion(fs, log)
      .filter(cp => versionAsOf.forall(cp <= _))
    val cpBytes = cpVersion.toSeq.flatMap { v =>
      val classic = checkpointPaths(fs, log, v)
        .map(p => fs.getFileStatus(new HPath(p)).getLen)
      if (classic.nonEmpty) classic
      else v2ManifestPath(fs, log, v).toSeq.flatMap { m =>
        // v2: manifest + the _sidecars listing (over-counts sidecars
        // shared with older checkpoints — the conservative direction:
        // big sidecar sets route to the DISTRIBUTED fold, and the
        // listing stays metadata-only, no manifest read here)
        val sidecarsDir = new HPath(log, "_sidecars")
        fs.getFileStatus(m).getLen +:
          (if (fs.exists(sidecarsDir))
            fs.listStatus(sidecarsDir).toSeq.map(_.getLen)
          else Nil)
      }
    }.sum
    val commitBytes = existingVersions(fs, log)
      .filter(v => cpVersion.forall(v > _) && versionAsOf.forall(v <= _))
      .map(v => fs.getFileStatus(new HPath(log, commitName(v))).getLen).sum
    cpBytes + commitBytes
  }

  /** Past this many bytes of log state, [[read]] reconstructs the
    * snapshot DISTRIBUTEDLY ([[activeAddsDfAsOf]]) instead of the
    * driver-side fold: at 10⁷ active files the full add metadata (stats
    * JSON, partition maps) is gigabytes of driver heap per snapshot,
    * while the distributed route keeps the driver to the bare file-path
    * list (the irreducible input to Spark's parquet scan) plus the
    * DV-bearing entries. 64 MB of raw log ≈ a few 10⁵ add actions —
    * small logs stay on the driver fold, which runs no Spark job over
    * commit JSON and one collect per checkpoint read; [[writeCheckpoint]]
    * folds such logs on the driver too, leaving one write job.
    */
  private[sources] val SnapshotDriverMaxBytes: Long = 64L << 20

  /** Distributed snapshot fold — the same newest-per-path,
    * version-ordered semantics as [[activeAddsAsOf]] (remove-then-re-add
    * revival included) expressed as a DataFrame plan over the checkpoint
    * parquet ∪ post-checkpoint commit JSONs, so reconstructing a 10⁷-file
    * snapshot never materializes add metadata on the driver. Columns:
    * `graft_path` (the add's relative path) and `graft_add` (the full
    * add action as a JSON string). Protocol/column-mapping guards run
    * on the tiny protocol/metaData action subsets (driver-collected —
    * a handful of rows regardless of table size). Returns None when the
    * log has no state at the requested version.
    */
  private[sources] def activeAddsDfAsOf(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{input_file_name, regexp_extract, row_number, to_json}
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    versionAsOf.foreach { v =>
      if (!fs.exists(new HPath(log, commitName(v))))
        throw graft.GraftError.InvalidOperation("load_delta",
          s"version $v does not exist in $path (versions: " +
            s"${existingVersions(fs, log).mkString(", ")})")
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def guardJson(json: String, kind: String): Unit = {
      val node = try mapper.readTree(json) catch { case _: Exception => null }
      if (node == null) ()
      else if (kind == "protocol") {
        val v = Option(node.get("minReaderVersion")).map(_.asInt(1)).getOrElse(1)
        if (v >= 3) {
          val feats = scala.collection.mutable.ArrayBuffer.empty[String]
          Option(node.get("readerFeatures")).filter(_.isArray)
            .foreach(_.forEach(f => feats += f.asText))
          val unsupported = feats.filterNot(SupportedReaderFeatures)
          if (v > 3 || unsupported.nonEmpty)
            throw graft.GraftError.InvalidOperation("load_delta",
              s"$path requires an unsupported reader capability (protocol " +
                s"minReaderVersion $v, readerFeatures " +
                feats.mkString("[", ", ", "]") + "); reading it with plain " +
                "add/remove replay would return wrong rows")
        }
      } else { // metaData: column-mapping mode gate
        val cm = Option(node.get("configuration"))
          .flatMap(c => Option(c.get("delta.columnMapping.mode")))
          .map(_.asText("none")).getOrElse("none")
        if (cm != "none" && cm != "name" && cm != "id")
          throw graft.GraftError.InvalidOperation("load_delta",
            s"$path requires an unsupported reader capability (column " +
              s"mapping mode '$cm'); reading it with plain add/remove " +
              "replay would return wrong rows")
      }
    }
    val cpVersion = lastCheckpointVersion(fs, log)
      .filter(cp => versionAsOf.forall(cp <= _))
    val commits = existingVersions(fs, log)
      .filter(v => cpVersion.forall(v > _) && versionAsOf.forall(v <= _))
    val cp = cpVersion.flatMap(v => readCheckpoint(spark, fs, log, v))
    val logF =
      if (commits.isEmpty) None
      else Some(spark.read.json(
          commits.map(v => new HPath(log, commitName(v)).toString): _*)
        .withColumn("graft_rec", regexp_extract(input_file_name(),
          "(\\d{20})\\.json", 1).cast("long")))
    if (cp.isEmpty && logF.isEmpty) return None
    def subset(df: DataFrame, c: String): Option[DataFrame] =
      if (df.columns.contains(c)) Some(df.where(col(c).isNotNull)) else None
    // guards: protocol rows and metaData configuration — a handful of
    // rows per log, collected from the distributed read, never O(files)
    (cp.toSeq.flatMap(subset(_, "protocol")) ++
        logF.toSeq.flatMap(subset(_, "protocol"))).foreach { df =>
      df.select(to_json(col("protocol"))).collect()
        .foreach(r => guardJson(r.getString(0), "protocol"))
    }
    (cp.toSeq.flatMap(subset(_, "metaData")) ++
        logF.toSeq.flatMap(subset(_, "metaData"))).foreach { df =>
      df.select(to_json(col("metaData"))).collect()
        .foreach(r => guardJson(r.getString(0), "metaData"))
    }
    // fold rows: (path, recency, isAdd, add-json). Checkpoint rows are
    // older than every replayed commit (rec = -1); within one commit a
    // remove+re-add of the same path resolves to the add (isAdd desc),
    // matching the line-ordered driver fold on our writer's layout
    // (removes precede adds within a commit).
    val cpAddRows = cp.flatMap(subset(_, "add")).map(_.select(
      col("add.path").as("graft_path"), to_json(col("add")).as("graft_add"),
      lit(-1L).as("graft_rec"), lit(1).as("graft_isadd")))
    val commitAddRows = logF.flatMap(subset(_, "add")).map(_.select(
      col("add.path").as("graft_path"), to_json(col("add")).as("graft_add"),
      col("graft_rec"), lit(1).as("graft_isadd")))
    val commitRemoveRows = logF.flatMap(subset(_, "remove")).map(_.select(
      col("remove.path").as("graft_path"),
      lit(null: String).as("graft_add"),
      col("graft_rec"), lit(0).as("graft_isadd")))
    val rows = (cpAddRows.toSeq ++ commitAddRows.toSeq ++ commitRemoveRows.toSeq)
      .reduceOption(_.unionByName(_))
    rows.map { u =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("graft_path"))
        .orderBy(col("graft_rec").desc, col("graft_isadd").desc)
      u.withColumn("graft_rn", row_number().over(w))
        .where(col("graft_rn") === 1 && col("graft_isadd") === 1)
        .select(col("graft_path"), col("graft_add"))
    }
  }

  /** Distributed-survivor kernel shared by every mutation/maintenance
    * path: Some(dataset of the add-JSON lines that survive `predicate`
    * stats pruning and the pure `keep` filter) when the log outgrows
    * `snapshotDriverMaxBytes`, None when the driver fold is cheaper.
    * Both filters run IN EXECUTORS — [[DeltaStats.entryMayMatch]] is
    * session-free, the mapped-table stats-key remap
    * ([[remapAddToLogical]]) is pure given the name map, and `keep` is
    * required pure — so the driver never sees a pruned file's metadata.
    */
  private def keptAddJsonsDf(spark: SparkSession, path: String,
      predicate: Option[String], keep: Option[DeltaStats.AddEntry => Boolean],
      versionAsOf: Option[Long],
      snapshotDriverMaxBytes: Long): Option[org.apache.spark.sql.Dataset[String]] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir(tbl)) ||
        snapshotLogBytes(fs, logDir(tbl), versionAsOf) <= snapshotDriverMaxBytes)
      return None
    val snap = activeAddsDfAsOf(spark, path, versionAsOf).getOrElse(
      throw new IllegalArgumentException(
        s"loadDelta: empty or missing _delta_log in $path"))
    val schemaOpt = parsedTableSchema(spark, fs, tbl, versionAsOf)
    val physToLog: Option[Map[String, String]] =
      logicalSchemaIfMapped(spark, fs, tbl).map(m => physToLogMap(m._2))
    val pcols0 = tablePartitionColumns(spark, fs, tbl).getOrElse(Nil)
    val pcols = physToLog match {
      case Some(m) => pcols0.map(c => m.getOrElse(c, c))
      case None => pcols0
    }
    val conjOpt = predicate.flatMap(p =>
      schemaOpt.flatMap(_ => DeltaStats.parseConjuncts(spark, p)))
    val sess = spark
    import sess.implicits._
    val entries = snap.select("graft_add").as[String]
    Some(entries.mapPartitions { it =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      it.filter { addJson =>
        val node = try mapper.readTree(addJson) catch { case _: Exception => null }
        // unparseable add ⇒ keep (conservative, like the driver path)
        Option(node).flatMap(parseAddEntry).forall { e0 =>
          val statsKeep = (schemaOpt, conjOpt) match {
            case (Some(schema), Some(conjuncts)) =>
              val e = physToLog match {
                case Some(m) => remapAddToLogical(e0, m, mapper)
                case None => e0
              }
              DeltaStats.entryMayMatch(conjuncts, schema, pcols, e, mapper)
            case _ => true
          }
          statsKeep && keep.forall(_(e0))
        }
      }
    })
  }

  /** Active AddEntries as of `versionAsOf` that survive `predicate`
    * stats pruning (all of them when None/unparseable) and the pure
    * `keep` filter — with the log fold AND both filters run
    * DISTRIBUTEDLY once the log outgrows `snapshotDriverMaxBytes`
    * ([[keptAddJsonsDf]]). The driver materializes ONLY the surviving
    * entries: the contract the copy-on-write mutations (upsert,
    * deleteWhere, deleteWhereViaDv) and maintenance ops (optimize,
    * purge, restore) need — their commits echo the touched/surviving
    * files' metadata, which is O(candidates), never O(active files).
    * Below the threshold the existing driver fold is cheaper and its
    * behavior is unchanged.
    */
  private[graft] def activeAddsWhere(spark: SparkSession, path: String,
      predicate: Option[String] = None,
      keep: Option[DeltaStats.AddEntry => Boolean] = None,
      versionAsOf: Option[Long] = None,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Seq[DeltaStats.AddEntry] =
    keptAddJsonsDf(spark, path, predicate, keep, versionAsOf,
        snapshotDriverMaxBytes) match {
      case Some(keptDs) =>
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        keptDs.collect().toSeq.flatMap { s =>
          val node = try mapper.readTree(s) catch { case _: Exception => null }
          Option(node).flatMap(parseAddEntry)
        }
      case None =>
        val adds0 = activeAddsAsOf(spark, path, versionAsOf)
        val pruned = predicate.map(p => pruneAddsFor(spark, path, p, adds0))
          .getOrElse(adds0)
        keep.map(f => pruned.filter(f)).getOrElse(pruned)
    }

  /** An overwrite's remove set: every active file's (path, raw
    * deletionVector json) plus the log version the capture reflects
    * (nextVersion at capture — the caller re-verifies it before taking
    * the commit slot). Above `snapshotDriverMaxBytes` of log state the
    * snapshot folds DISTRIBUTEDLY and the driver collects ONLY these
    * two strings per file — the same O(paths) floor as the remove
    * actions the overwrite's commit JSON must spell out anyway — never
    * the full stats/partitionValues metadata ([[activeAddsAsOf]]'s
    * driver shape, GBs at a 100 TB table's ~10⁶ files).
    */
  private def overwriteRemoveSet(spark: SparkSession, path: String,
      snapshotDriverMaxBytes: Long): (Long, Seq[(String, Long, Option[String])]) = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = nextVersion(fs, logDir(tbl)).getOrElse(0L)
    val pairs: Seq[(String, Long, Option[String])] =
      if (fs.exists(logDir(tbl)) &&
          snapshotLogBytes(fs, logDir(tbl), None) > snapshotDriverMaxBytes)
        activeAddsDfAsOf(spark, path, None).map { snap =>
          snap.select(col("graft_path"),
              org.apache.spark.sql.functions.get_json_object(
                col("graft_add"), "$.size").cast("long"),
              org.apache.spark.sql.functions.get_json_object(
                col("graft_add"), "$.deletionVector"))
            .collect().toSeq
            .map(r => (r.getString(0),
              if (r.isNullAt(1)) 0L else r.getLong(1),
              Option(r.getString(2))))
        }.getOrElse(Nil)
      else activeAddsAsOf(spark, path, None).map(a =>
        (a.rel, a.size, a.dv.map(dvDescriptorJson)))
    (base, pairs)
  }

  /** `delta.requireCheckpointProtectionBeforeVersion` (the
    * checkpointProtection feature's boundary) — 0 when unset/unparseable,
    * i.e. nothing is protected.
    */
  private def checkpointProtectionVersion(spark: SparkSession,
      fs: FileSystem, tbl: HPath): Long =
    tableConfiguration(spark, fs, tbl)
      .get("delta.requireCheckpointProtectionBeforeVersion")
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse(0L)

  /** Column names (top level) carrying a NON-DEFAULT collation:
    * Spark's DataType.fromJson consumes the delta collations feature's
    * `__COLLATIONS` field metadata into collated StringTypes, so the
    * signal is the parsed TYPE (the raw metadata key is kept as a belt
    * for shapes Spark doesn't recognize). Predicate evaluation over
    * them under this engine's binary collation would return wrong rows
    * (and stats-skipping would prune unsoundly), so predicate-bearing
    * operations refuse.
    */
  private def collatedColumns(spark: SparkSession, fs: FileSystem,
      tbl: HPath): Set[String] = {
    import org.apache.spark.sql.types._
    def collated(dt: DataType): Boolean = dt match {
      case s: StringType => s != StringType
      case st: StructType => st.fields.exists(f => collated(f.dataType))
      case at: ArrayType => collated(at.elementType)
      case mt: MapType => collated(mt.keyType) || collated(mt.valueType)
      case _ => false
    }
    parsedTableSchema(spark, fs, tbl).toSeq.flatMap(_.fields)
      .filter(f => collated(f.dataType) ||
        f.metadata.contains("__COLLATIONS")).map(_.name).toSet
  }

  /** Refuse typed when `predicateOrKeys` references a collated column —
    * conservative word-boundary match, the same stance stats-skipping
    * takes on unparseable predicates (here the safe direction is
    * refusal: binary evaluation over an ICU-collated column silently
    * returns wrong rows, delta-spark without collation support refuses
    * too).
    */
  private def refuseOnCollatedColumns(spark: SparkSession, fs: FileSystem,
      tbl: HPath, op: String, predicateOrKeys: String): Unit = {
    val collated = collatedColumns(spark, fs, tbl)
    if (collated.isEmpty) return
    val hit = collated.find(c =>
      ("(?i)(^|[^A-Za-z0-9_`])" + java.util.regex.Pattern.quote(c) +
        "($|[^A-Za-z0-9_`])").r.findFirstIn(predicateOrKeys).isDefined ||
        predicateOrKeys.contains(s"`$c`"))
    hit.foreach(c => throw graft.GraftError.InvalidOperation(op,
      s"$tbl: column '$c' carries a non-default collation " +
        "(__COLLATIONS annotation) — evaluating a predicate or merge " +
        "key over it under this engine's binary collation would return " +
        "wrong rows; rewrite the operation to avoid the collated column"))
  }

  /** icebergCompatV1/V2 forbid deletion vectors in the table — refuse
    * the DV-creating path typed on such tables.
    */
  private def requireNoIcebergCompatDv(spark: SparkSession, fs: FileSystem,
      tbl: HPath, op: String): Unit = {
    val conf = tableConfiguration(spark, fs, tbl)
    if (confEnabled(conf, "delta.enableIcebergCompatV1") ||
        confEnabled(conf, "delta.enableIcebergCompatV2"))
      throw graft.GraftError.InvalidOperation(op,
        s"$tbl enables icebergCompat, which forbids deletion vectors — " +
          "use the copy-on-write delete instead")
  }

  /** The table's `delta.columnMapping.mode` from the newest metaData —
    * commits first, checkpoint fallback; "none" when unset.
    */
  private def columnMappingMode(spark: SparkSession, fs: FileSystem,
      tbl: HPath, asOf: Option[Long] = None): String =
    tableConfiguration(spark, fs, tbl, asOf)
      .getOrElse("delta.columnMapping.mode", "none")

  /** Cache identity of a table's log: path + newest commit version +
    * that commit file's length and modification time + a CRC of its
    * bytes. Keying on the version alone is WRONG when a table is
    * recreated at the same path (overwrite / fixture rebuild): the new
    * log can end at the same version number and a stale cache would
    * serve the old table's configuration — silent wrong columns on a
    * remapped table. (len, modTime) alone is still spoofable by an
    * equal-length rebuild inside the filesystem's mtime granularity (1 s
    * on some object stores), so the content CRC closes that window; the
    * newest commit is a tiny file, one read per cache consultation vs
    * the O(versions) walk the caches exist to avoid.
    */
  private def logIdentity(fs: FileSystem, tbl: HPath): (String, Long, Long, Long, Long) = {
    val log = logDir(tbl)
    val newest =
      if (!fs.exists(log)) None
      else fs.listStatus(log).toSeq
        .filter(_.getPath.getName.matches("\\d{20}\\.json"))
        .sortBy(_.getPath.getName).lastOption
    newest match {
      case Some(st) =>
        // CRC of the FIRST 64 KB only: combined with (version, len,
        // modTime) that pins any realistic same-length rebuild, while a
        // bootstrap commit with 10⁵ add actions (tens of MB) doesn't get
        // fully re-read on every cache consultation
        val crc = new java.util.zip.CRC32()
        val in = fs.open(st.getPath)
        try {
          // fill to 64 KB or EOF — a single read() may return short
          // (HDFS), and a partial-read CRC would make the key
          // nondeterministic across consultations
          val buf = new Array[Byte](65536)
          var off = 0
          var n = 0
          while (off < buf.length && n >= 0) {
            n = in.read(buf, off, buf.length - off)
            if (n > 0) off += n
          }
          crc.update(buf, 0, off)
        } finally in.close()
        (tbl.toString,
          st.getPath.getName.stripSuffix(".json").toLong, st.getLen,
          st.getModificationTime, crc.getValue)
      case None => (tbl.toString, -1L, -1L, -1L, -1L)
    }
  }

  /** Memo for [[tableConfiguration]] keyed by [[logIdentity]]: a snapshot
    * read consults the configuration 2-3 times (mapping-mode gate, read
    * rename, write path) and each uncached call walks commits
    * newest→oldest until it finds a metaData — typically all the way to
    * version 0, so a long-history table paid O(versions) I/O per
    * consultation. Any new or rewritten commit changes the key, so this
    * is pure memoization (the function always resolves the NEWEST
    * metaData).
    */
  private val confCache =
    new java.util.concurrent.ConcurrentHashMap[((String, Long, Long, Long, Long), Long), Map[String, String]]()

  /** Memo for [[tableSchemaJson]] under the same log identity (+ as-of
    * version — older versions are immutable, so identity alone pins
    * them): every declared-schema read consults the schema, and without
    * the memo each consultation re-reads commit JSONs newest-first until
    * a metaData line appears.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[((String, Long, Long, Long, Long), Long), Option[String]]()

  /** Memo for [[tablePartitionColumns]] — same shape as [[schemaCache]]. */
  private val partColsCache =
    new java.util.concurrent.ConcurrentHashMap[((String, Long, Long, Long, Long), Long), Option[Seq[String]]]()

  /** Table configuration map from the newest metaData (same visibility
    * rule as [[tableSchemaJson]]; `asOf` bounds the search to commits ≤
    * that version — configuration time-travels with the data).
    */
  private def tableConfiguration(spark: SparkSession, fs: FileSystem,
      tbl: HPath, asOf: Option[Long] = None): Map[String, String] = {
    val cacheKey = (logIdentity(fs, tbl), asOf.getOrElse(-1L))
    val hit = confCache.get(cacheKey)
    if (hit != null) return hit
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    def parse(conf: com.fasterxml.jackson.databind.JsonNode): Map[String, String] = {
      val b = Map.newBuilder[String, String]
      conf.fields().forEachRemaining { e =>
        b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText)
      }
      b.result()
    }
    val log = logDir(tbl)
    val fromCommits = existingVersions(fs, log)
      .filter(v => asOf.forall(v <= _)).reverse.iterator.flatMap { v =>
      readString(fs, new HPath(log, commitName(v))).linesIterator.flatMap { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        val md = if (node == null) null else node.get("metaData")
        val cf = if (md == null) null else md.get("configuration")
        if (cf != null && cf.isObject) Some(parse(cf)) else None
      }.toSeq.lastOption
    }.nextOption()
    val result = fromCommits.orElse(lastCheckpointVersion(fs, log)
        .filter(v => asOf.forall(v <= _))
        .flatMap(v => readCheckpoint(spark, fs, log, v)).flatMap { cp =>
      val hasConf = cp.schema.fields.find(_.name == "metaData").exists(
        _.dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.contains("configuration")
          case _ => false
        })
      if (hasConf) {
        cp.where(col("metaData").isNotNull)
          .select(org.apache.spark.sql.functions.to_json(col("metaData.configuration")))
          .collect().headOption.flatMap { r =>
            if (r.isNullAt(0)) None
            else {
              val node = try mapper.readTree(r.getString(0)) catch { case _: Exception => null }
              if (node != null && node.isObject) Some(parse(node)) else None
            }
          }
      } else None
    }).getOrElse(Map.empty)
    if (confCache.size > 256) confCache.clear() // bound, not LRU — refill is cheap
    confCache.put(cacheKey, result)
    result
  }

  /** Change feed between two versions — the incremental-consumption read
    * a training pipeline runs to process ONLY what changed since its last
    * sync instead of re-scanning a 100 TB table: every row carries
    * `_change_type` ('insert' for rows in files added by a commit,
    * 'delete' for rows in files it removed) and `_commit_version`.
    *
    * Commits carrying `cdc` actions (the protocol's change-data-feed
    * shape — this writer emits them for deleteWhere/upsert on
    * CDF-enabled tables, and foreign delta-spark writers do the same)
    * are served FROM their `_change_data` files: exact row-level
    * changes, including `update_preimage`/`update_postimage` pairs, and
    * never a double-count of rewritten-but-unchanged rows. Commits
    * without cdc actions fall back to file granularity (the add/remove
    * actions): append-only flows still get EXACT row-level inserts; a
    * plain copy-on-write rewrite surfaces as delete(old rows) +
    * insert(new rows), so unchanged copied rows appear on both sides.
    * `dataChange=false` actions (OPTIMIZE compaction) are excluded —
    * layout changes are not data changes. Rows of files vacuumed away
    * are unreadable, like real delta CDF past its retention — surfaced
    * as a typed error, never silence.
    */
  def readChanges(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    val versions = existingVersions(fs, log)
      .filter(v => v > fromVersion && v <= toVersion)
    def dvOf(n: com.fasterxml.jackson.databind.JsonNode): Option[DeltaStats.DvDescriptor] =
      Option(n.get("deletionVector")).filterNot(_.isNull).map { d =>
        DeltaStats.DvDescriptor(
          Option(d.get("storageType")).map(_.asText).getOrElse(""),
          Option(d.get("pathOrInlineDv")).map(_.asText).getOrElse(""),
          Option(d.get("offset")).filterNot(_.isNull).map(_.asLong),
          Option(d.get("sizeInBytes")).map(_.asInt(0)).getOrElse(0),
          Option(d.get("cardinality")).map(_.asLong(0L)).getOrElse(0L))
      }
    // per version: rel → DV descriptor option, adds and removes apart,
    // dataChange=true actions only (OPTIMIZE restages are not changes),
    // plus any cdc actions — a commit that carries them is served FROM
    // them (the protocol's CDF contract: cdc fully describes that
    // commit's row-level changes, add/remove would double-count the
    // rewritten-but-unchanged rows)
    val acts: Seq[(Long, Map[String, Option[DeltaStats.DvDescriptor]],
        Map[String, Option[DeltaStats.DvDescriptor]], Seq[String])] = versions.map { v =>
      val adds = scala.collection.mutable.LinkedHashMap
        .empty[String, Option[DeltaStats.DvDescriptor]]
      val removes = scala.collection.mutable.LinkedHashMap
        .empty[String, Option[DeltaStats.DvDescriptor]]
      val cdc = scala.collection.mutable.ArrayBuffer.empty[String]
      readString(fs, new HPath(log, commitName(v))).linesIterator.foreach { line =>
        val node = try mapper.readTree(line) catch { case _: Exception => null }
        if (node != null) {
          val add = node.get("add"); val rem = node.get("remove")
          val cd = node.get("cdc")
          def dataChange(n: com.fasterxml.jackson.databind.JsonNode): Boolean =
            n.get("dataChange") == null || n.get("dataChange").asBoolean(true)
          if (add != null && add.get("path") != null && dataChange(add))
            adds(add.get("path").asText) = dvOf(add)
          if (rem != null && rem.get("path") != null && dataChange(rem))
            removes(rem.get("path").asText) = dvOf(rem)
          if (cd != null && cd.get("path") != null)
            cdc += cd.get("path").asText
        }
      }
      (v, adds.toMap, removes.toMap, cdc.toSeq)
    }.filter(a => a._2.nonEmpty || a._3.nonEmpty || a._4.nonEmpty)
    // vacuumed-away data files AND DV bin files both make the window
    // unreadable — surface the typed past-retention error, never a raw
    // executor FileNotFoundException mid-bitmap-decode
    def binPath(dv: DeltaStats.DvDescriptor): Option[HPath] = dv.storageType match {
      case "u" => Some(dvFilePath(tbl, dv.pathOrInlineDv))
      case "p" => Some(new HPath(dv.pathOrInlineDv))
      case _ => None
    }
    val missing = (acts.flatMap(a =>
        (if (a._4.nonEmpty) a._4 else (a._2.keys ++ a._3.keys).toSeq)).distinct
        .map(rel => new HPath(tbl, rel)) ++
      acts.filter(_._4.isEmpty)
        .flatMap(a => (a._2.values ++ a._3.values).flatten)
        .flatMap(binPath).distinct)
      .filterNot(fs.exists)
    if (missing.nonEmpty)
      throw graft.GraftError.InvalidOperation("readChanges",
        s"($fromVersion, $toVersion]: ${missing.size} changed " +
          s"file(s) vacuumed away (e.g. ${missing.head.getName}) — the " +
          "change window is past the table's vacuum retention")
    // readDataFiles: the change feed of a name-mode column-mapped table
    // must surface LOGICAL column names like the snapshot read does
    def rowsOf(v: Long, rels: Seq[String], withMeta: Boolean,
        keyDepth: Int = 1): DataFrame =
      readDataFiles(spark, path,
        rels.map(r => new HPath(tbl, r).toString),
        withRowMeta = withMeta, versionAsOf = Some(v), keyDepth = keyDepth)
    def dvEntry(rel: String, dv: Option[DeltaStats.DvDescriptor]) =
      DeltaStats.AddEntry(rel, Map.empty, None, 0L, dv)
    // `schemaV`: the version whose metaData the files resolve against.
    // Adds read under their own commit's schema; REMOVES read under the
    // PRE-commit schema (v-1) — a version-preserving overwrite may change
    // the schema (or re-mint a mapped table's physical names) in the very
    // commit that removes the old files, and reading them under the
    // post-commit metaData would null or mistype the delete-leg rows
    def liveRows(v: Long, schemaV: Long,
        rels: Map[String, Option[DeltaStats.DvDescriptor]],
        ct: String): Option[DataFrame] =
      if (rels.isEmpty) None
      else {
        val withMeta = rels.values.exists(_.isDefined)
        val keyDepth = if (withMeta) dvKeyDepth(path, rels.keys.toSeq) else 1
        Some(applyDeletionVectors(spark, path,
          rels.map { case (r, dv) => dvEntry(r, dv) }.toSeq,
          rowsOf(schemaV, rels.keys.toSeq, withMeta = withMeta,
            keyDepth = keyDepth), keyDepth = keyDepth)
          .withColumn("_change_type", lit(ct))
          .withColumn("_commit_version", lit(v)))
      }
    val frames = acts.flatMap { case (v, adds, removes, cdc) =>
      if (cdc.nonEmpty) {
        // cdc actions supersede this commit's add/remove pair (the CDF
        // contract): the _change_data files carry the EXACT change rows
        // + _change_type, so serving add/remove too would double-count
        // the rewritten-but-unchanged rows. basePath recovers partition
        // columns from foreign partitioned layouts
        // (_change_data/<pcol>=<val>/...); name/id-mapped tables carry
        // PHYSICAL column names in cdc files like in data files — rename
        // to logical through the table's annotations so the feed matches
        // the snapshot read's columns
        val raw = spark.read
          .option("basePath", new HPath(tbl, "_change_data").toString)
          .parquet(cdc.map(r => new HPath(tbl, r).toString): _*)
        // mapping resolved AS-OF the cdc files' own commit: a later
        // overwrite may have re-minted the physical names
        val logicalized = logicalSchemaIfMapped(spark, fs, tbl, Some(v)) match {
          case Some((_, logical)) =>
            val m = physToLogMap(logical)
            raw.select(raw.columns.map(c =>
              m.get(c).map(l => col(s"`$c`").as(l))
                .getOrElse(col(s"`$c`"))): _*)
          case None => raw
        }
        Seq(logicalized.withColumn("_commit_version", lit(v)))
      } else {
      // same-path remove+re-add in ONE commit = a deletion-vector
      // generation swap (DV-native delete, DV restore): the ROW-LEVEL
      // change is the bitmap difference — rows in the new DV but not the
      // old were deleted at v; rows only in the old were restored at v.
      // Pure adds emit their LIVE rows as inserts (an add born with a DV
      // inserts only the rows its own bitmap keeps); pure removes emit
      // the rows live at removal (old DV applied) as deletes.
      val regen = adds.keySet.intersect(removes.keySet)
      val regenFrames: Seq[DataFrame] =
        if (regen.isEmpty) Nil
        else {
          val regenDepth = dvKeyDepth(path, regen.toSeq)
          val rows = rowsOf(v, regen.toSeq, withMeta = true,
              keyDepth = regenDepth)
            .localCheckpoint(false)
          def bitmap(side: Map[String, Option[DeltaStats.DvDescriptor]]) = {
            val withDv = regen.toSeq.flatMap(r =>
              side(r).filter(_.cardinality > 0).map(d => dvEntry(r, Some(d))))
            if (withDv.isEmpty) None
            else Some(dvDeletedRows(spark, path, withDv, regenDepth))
          }
          val session = spark
          val emptySet = session.emptyDataFrame
            .withColumn(DvFileCol, lit(null).cast("string"))
            .withColumn(DvRowCol, lit(null).cast("long"))
          val oldSet = bitmap(removes.filter(kv => regen(kv._1))).getOrElse(emptySet)
          val newSet = bitmap(adds.filter(kv => regen(kv._1))).getOrElse(emptySet)
          val deletedNow = newSet.join(oldSet, Seq(DvFileCol, DvRowCol), "left_anti")
          val restoredNow = oldSet.join(newSet, Seq(DvFileCol, DvRowCol), "left_anti")
          def pick(keys: DataFrame, ct: String) =
            rows.join(keys, Seq(DvFileCol, DvRowCol), "left_semi")
              .drop(DvFileCol, DvRowCol)
              .withColumn("_change_type", lit(ct))
              .withColumn("_commit_version", lit(v))
          Seq(pick(deletedNow, "delete"), pick(restoredNow, "insert"))
        }
      liveRows(v, v, adds.filter(kv => !regen(kv._1)), "insert").toSeq ++
        liveRows(v, math.max(0L, v - 1),
          removes.filter(kv => !regen(kv._1)), "delete").toSeq ++
        regenFrames
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse {
        // no changes in range: an empty frame with the table's schema +
        // the two change columns, so downstream code is shape-stable
        read(spark, path).limit(0)
          .withColumn("_change_type", lit(null).cast("string"))
          .withColumn("_commit_version", lit(null).cast("bigint"))
      }
  }

  /** Cursor-driven incremental consumption over [[readChanges]] — the
    * sync loop a downstream pipeline (incremental dedup, training-export
    * refresh) runs on a schedule: reads the changes committed since the
    * cursor file's recorded version, and advances the cursor only via
    * the caller's `commit()` callback AFTER the caller has durably
    * processed the batch — crash before commit ⇒ the next call replays
    * the same window (at-least-once for the consumer; pair with an
    * idempotent sink, e.g. a SetTransaction-tagged delta write, for
    * end-to-end exactly-once). Single-consumer per cursor file by
    * design, like a streaming checkpoint dir.
    *
    * Returns None when there is nothing new.
    */
  def readChangesSince(spark: SparkSession, path: String,
      cursorPath: String): Option[(DataFrame, Long, () => Unit)] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cursor = new HPath(cursorPath)
    val last: Long =
      if (!fs.exists(cursor)) -1L
      else try readString(fs, cursor).trim.toLong
      catch { case _: Exception =>
        throw graft.GraftError.InvalidOperation("read_changes_since",
          s"cursor file $cursorPath is not a version number")
      }
    val newest = existingVersions(fs, logDir(tbl)).lastOption.getOrElse(-1L)
    if (newest <= last) None
    else {
      val df = readChanges(spark, path, last, newest)
      val commit = () => {
        // atomic advance: a crash mid-write must never leave a corrupt
        // cursor (tmp + rename, like the log's own slot staging)
        val tmp = new HPath(cursor.getParent,
          s".${cursor.getName}.${java.util.UUID.randomUUID()}.tmp")
        val out = fs.create(tmp, true)
        try out.write(newest.toString.getBytes("UTF-8"))
        finally out.close()
        fs.delete(cursor, false)
        if (!fs.rename(tmp, cursor))
          throw graft.GraftError.WriteError(cursorPath, "cursor",
            "cursor advance rename failed")
      }
      Some((df, newest, commit))
    }
  }

  /** Snapshot read: the log's active files, partition columns re-inferred
    * from `col=val` paths via basePath, schema merged across files.
    * `versionAsOf` time-travels to an earlier snapshot. Tables using
    * NAME-mode column mapping (the modern delta-spark writer default)
    * read back with LOGICAL column names: the parquet files are scanned
    * under the physical schema derived from the metaData's
    * `delta.columnMapping.physicalName` annotations, then renamed — a
    * pure metadata operation, zero extra I/O. Deletion vectors apply as
    * an executor-side bitmap anti-join; only id-mode WRITES refuse typed
    * (see [[activeAddsAsOf]]).
    */
  def read(spark: SparkSession, path: String,
      versionAsOf: Option[Long] = None,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(logDir(tbl)) &&
        snapshotLogBytes(fs, logDir(tbl), versionAsOf) > snapshotDriverMaxBytes) {
      // large log: fold the snapshot distributedly; the driver keeps
      // only the path list the parquet scan needs plus the DV-bearing
      // entries (bounded by the DV'd-file count), never every file's
      // stats/partition metadata
      val snap = activeAddsDfAsOf(spark, path, versionAsOf).getOrElse(
        throw new IllegalArgumentException(
          s"loadDelta: empty or missing _delta_log in $path"))
        .localCheckpoint(true) // consumed 2-3×; never refold the log
      // version-checksum verification (delta-spark VersionChecksum):
      // when the snapshot version carries a .crc, the fold must agree —
      // one extra aggregate over the already-checkpointed fold, never
      // per-file driver state
      val effVDist = versionAsOf
        .orElse(nextVersion(fs, logDir(tbl)).map(_ - 1)).getOrElse(-1L)
      if (effVDist >= 0 &&
          lastCheckpointVersion(fs, logDir(tbl))
            .filter(cp => versionAsOf.forall(cp <= _)).isEmpty &&
          versionChecksumOf(fs, logDir(tbl), effVDist).isDefined) {
        val row = snap.agg(
          org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.get_json_object(
              col("graft_add"), "$.size").cast("long"))).head()
        validateVersionChecksum(fs, logDir(tbl), effVDist,
          row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1), path)
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val dvAdds: Seq[DeltaStats.AddEntry] = snap
        .where(col("graft_add").contains("\"deletionVector\""))
        .select("graft_add").collect().toSeq
        .flatMap { r =>
          val node = try mapper.readTree(r.getString(0)) catch { case _: Exception => null }
          Option(node).flatMap(parseAddEntry)
        }.filter(_.dv.isDefined)
      val rels = snap.select("graft_path").collect()
        .map(r => r.getString(0)).toSeq
      require(rels.nonEmpty, s"loadDelta: empty or missing _delta_log in $path")
      val files = rels.map(r => new HPath(tbl, r).toString)
      // the DV row filter keys on trailing path segments; the depth must
      // be unique across the WHOLE scanned snapshot (a collision between
      // a DV'd file and any other scanned file would anti-join away
      // innocent rows) — computed here from the already-collected path
      // list, the one per-file datum this read keeps on the driver
      val keyDepth = if (dvAdds.nonEmpty) dvKeyDepth(path, rels) else 1
      return applyDeletionVectors(spark, path, dvAdds,
        readDataFiles(spark, path, files, withRowMeta = dvAdds.nonEmpty,
          versionAsOf = versionAsOf, keyDepth = keyDepth),
        keyDepth = keyDepth)
    }
    val adds = activeAddsAsOf(spark, path, versionAsOf)
    require(adds.nonEmpty, s"loadDelta: empty or missing _delta_log in $path")
    val effV = versionAsOf
      .orElse(nextVersion(fs, logDir(tbl)).map(_ - 1)).getOrElse(-1L)
    if (effV >= 0 && lastCheckpointVersion(fs, logDir(tbl))
        .filter(cp => versionAsOf.forall(cp <= _)).isEmpty)
      validateVersionChecksum(fs, logDir(tbl), effV,
        adds.length.toLong, adds.map(_.size).sum, path)
    val files = adds.map(a => new HPath(new HPath(path), a.rel).toString)
    val withMeta = adds.exists(_.dv.isDefined)
    val keyDepth = if (withMeta) dvKeyDepth(path, adds.map(_.rel)) else 1
    applyDeletionVectors(spark, path, adds,
      readDataFiles(spark, path, files, withRowMeta = withMeta,
        versionAsOf = versionAsOf, keyDepth = keyDepth),
      keyDepth = keyDepth)
  }

  /** Snapshot read PLUS the row-tracking columns `_row_id` and
    * `_row_commit_version`, resolved per the protocol's rule: the
    * materialized column value when present, else the positional
    * default baseRowId + row_index (and defaultRowCommitVersion).
    * DV-deleted rows are filtered first, so surviving ids are exactly
    * the live rows'. Refuses typed when the table does not enable row
    * tracking (the columns would be meaningless).
    */
  def readWithRowIds(spark: SparkSession, path: String,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = tableConfiguration(spark, fs, tbl)
    if (!rowTrackingEnabled(conf))
      throw graft.GraftError.InvalidOperation("load_delta",
        s"$path does not enable row tracking — _row_id has no meaning " +
          "on this table")
    // large log: fold the snapshot distributedly and collect per file
    // only (path, baseRowId, defaultRowCommitVersion) — 3 small fields,
    // the same O(paths) floor as the scan's file list — plus the
    // DV-bearing entries; never every file's stats/partition metadata
    // (the [[read]] large-branch contract, row-id flavored)
    val large = fs.exists(logDir(tbl)) &&
      snapshotLogBytes(fs, logDir(tbl), None) > snapshotDriverMaxBytes
    val (adds, ridTriples): (Seq[DeltaStats.AddEntry],
        Option[Seq[(String, Long, Long)]]) =
      if (!large) (activeAddsAsOf(spark, path), None)
      else {
        val snap = activeAddsDfAsOf(spark, path, None).getOrElse(
          throw new IllegalArgumentException(
            s"loadDelta: empty or missing _delta_log in $path"))
          .localCheckpoint(true) // consumed 2× (rid triples + DV subset)
        import org.apache.spark.sql.functions.get_json_object
        val trips = snap.select(col("graft_path"),
            get_json_object(col("graft_add"), "$.baseRowId").cast("long"),
            get_json_object(col("graft_add"), "$.defaultRowCommitVersion")
              .cast("long"))
          .collect().toSeq
          .map(r => (r.getString(0),
            if (r.isNullAt(1)) -1L else r.getLong(1),
            if (r.isNullAt(2)) -1L else r.getLong(2)))
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val dvAdds = snap.where(col("graft_add").contains("\"deletionVector\""))
          .select("graft_add").collect().toSeq
          .flatMap { r =>
            val node = try mapper.readTree(r.getString(0)) catch { case _: Exception => null }
            Option(node).flatMap(parseAddEntry)
          }.filter(_.dv.isDefined)
        // `adds` carries only the DV subset downstream (applyDeletionVectors
        // consumes just the DV'd entries); the scan file list and the
        // row-id attach come from the triples
        (dvAdds, Some(trips))
      }
    val rels = ridTriples.map(_.map(_._1)).getOrElse(adds.map(_.rel))
    require(rels.nonEmpty, s"loadDelta: empty or missing _delta_log in $path")
    val keyDepth = dvKeyDepth(path, rels)
    val files = rels.map(r => new HPath(tbl, r).toString)
    val names = (conf.get(MatRowIdKey), conf.get(MatRowVerKey)) match {
      case (Some(i), Some(v)) => Some((i, v))
      case _ => None // foreign enablement without materialization:
                     // every id is the positional default
    }
    val extraCols = names.toSeq.flatMap { case (i, v) => Seq(
      StructField(i, org.apache.spark.sql.types.LongType),
      StructField(v, org.apache.spark.sql.types.LongType)) }
    val filtered = applyDeletionVectors(spark, path, adds,
      readDataFiles(spark, path, files, withRowMeta = true,
        keyDepth = keyDepth, extraCols = extraCols),
      keepMeta = true, keyDepth = keyDepth)
    val (idCol, verCol, scanned) = names match {
      case Some((i, v)) => (i, v, filtered)
      case None => ("graft_mat_rid", "graft_mat_ver",
        filtered.withColumn("graft_mat_rid", lit(null).cast("long"))
          .withColumn("graft_mat_ver", lit(null).cast("long")))
    }
    (ridTriples match {
      case Some(trips) => withMaterializedRowIdTriples(spark,
        trips.map { case (rel, rid, ver) =>
          (relKey(path, rel, keyDepth), rid, ver) },
        scanned, idCol, verCol)
      case None => withMaterializedRowIds(spark, path, adds, scanned,
        idCol, verCol, keyDepth)
    })
      .withColumnRenamed(idCol, "_row_id")
      .withColumnRenamed(verCol, "_row_commit_version")
      .drop(DvFileCol, DvRowCol)
  }

  /** Scan `files` of the table at `path`, column-mapping-aware. With
    * `withRowMeta` the frame also carries each row's source file name and
    * physical row index (`_metadata` columns) — what the deletion-vector
    * anti-join keys on.
    */
  private def readDataFiles(spark: SparkSession, path: String,
      files: Seq[String], withRowMeta: Boolean = false,
      versionAsOf: Option[Long] = None, keyDepth: Int = 1,
      extraCols: Seq[StructField] = Nil): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def meta: Seq[org.apache.spark.sql.Column] =
      if (!withRowMeta) Nil
      else Seq(dvKeyExpr(keyDepth).as(DvFileCol),
        col("_metadata.row_index").as(DvRowCol))
    // extraCols: HIDDEN physical columns (row tracking's materialized
    // id/commit-version) appended to the read schema — files written
    // before materialization fill them with NULL. The materialized
    // names are PHYSICAL-only identifiers (they live in the table
    // configuration, not the logical schema), so on mapped tables they
    // append to the physical read schema and pass through the rename
    // untouched.
    logicalSchemaIfMapped(spark, fs, tbl, versionAsOf) match {
      case Some(("name", logical)) =>
        val physical = physicalType(logical).asInstanceOf[StructType]
        val df = spark.read
          .option("basePath", path)
          .schema(StructType(physical.fields ++ extraCols))
          .parquet(files: _*)
        // physical → logical is a positional struct rename: same types,
        // so the casts are name rewrites Catalyst folds into the scan
        df.select(logical.fields.zip(physical.fields).map { case (lf, pf) =>
          // cast target is fully nullable: parquet always reads back
          // nullable, and a NOT NULL nested field in the logical schema
          // would otherwise make the rename cast unresolvable
          col(s"`${pf.name}`").cast(stripMeta(lf.dataType)).as(lf.name)
        } ++ extraCols.map(f => col(s"`${f.name}`")) ++ meta: _*)
      case Some(("id", logical)) =>
        // id-mode: columns resolve against the files BY parquet field id
        // (the reader contract delta-spark implements) — Spark's native
        // field-id matching does exactly that once the read schema
        // carries parquet.field.id annotations, and since that schema is
        // logical-named the scan needs no rename. PARTITION columns live
        // in directory names, not files, so they resolve by NAME against
        // the physical-named `col=val` segments — mapped back to logical
        // through the schema's physicalName annotations.
        val pcols = tablePartitionColumns(spark, fs, tbl, versionAsOf)
          .getOrElse(Nil)
        // metaData.partitionColumns may spell a partition column either
        // logically (delta-spark) or physically (other writers) — match
        // both against the annotated schema
        val partFields: Seq[(org.apache.spark.sql.types.StructField, String)] =
          pcols.map { pc =>
            val f = logical.fields.find(f => f.name == pc ||
              (f.metadata.contains(PhysicalNameKey) &&
                f.metadata.getString(PhysicalNameKey) == pc))
              .getOrElse(throw graft.GraftError.InvalidOperation("load_delta",
                s"$tbl: partition column '$pc' not found in the mapped schema"))
            val phys =
              if (f.metadata.contains(PhysicalNameKey))
                f.metadata.getString(PhysicalNameKey)
              else f.name
            (f, phys)
          }
        val partLogicalNames = partFields.map(_._1.name).toSet
        val dataLogical = StructType(
          logical.fields.filterNot(f => partLogicalNames(f.name)))
        // spark.sql.parquet.fieldId.read.enabled is set at SESSION BUILD
        // (Loaders.session and every main/spec builder) — a no-op for
        // schemas without field-id metadata, and setting it mid-read
        // would race concurrent queries mid-plan. Guarded here so a
        // foreign session that skipped the builder fails typed instead
        // of returning all-null columns (by-name resolution of physical
        // uuid names matches nothing).
        if (!spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false")
            .toBoolean)
          throw graft.GraftError.InvalidOperation("load_delta",
            s"$tbl uses id-mode column mapping, which needs " +
              "spark.sql.parquet.fieldId.read.enabled=true at session " +
              "build (Loaders.session sets it); without it every data " +
              "column would read back null")
        val readSchema = StructType(
          fieldIdReadType(dataLogical, tbl).asInstanceOf[StructType].fields ++
            partFields.map { case (f, phys) =>
              org.apache.spark.sql.types.StructField(phys,
                stripMeta(f.dataType), nullable = true) } ++
            // extraCols carry no field-id metadata, so Spark's field-id
            // reader falls back to BY-NAME resolution for exactly them —
            // the materialized columns are written by name on id-mode
            // tables too
            extraCols)
        val df = spark.read
          .option("basePath", path)
          .schema(readSchema)
          .parquet(files: _*)
        // strip the field-id/mapping metadata so it doesn't leak into
        // downstream schemas; partition columns rename physical→logical
        val physByLogical = partFields.map { case (f, phys) => f.name -> phys }.toMap
        df.select(logical.fields.map { lf =>
          val src = physByLogical.getOrElse(lf.name, lf.name)
          col(s"`$src`").cast(stripMeta(lf.dataType)).as(lf.name)
        } ++ extraCols.map(f => col(s"`${f.name}`")) ++ meta: _*)
      case _ =>
        // declared-schema scan: the log's metaData.schemaString IS the
        // table schema (delta PROTOCOL.md — readers resolve columns
        // against it, not against file footers), so a parseable log reads
        // with .schema(declared): zero footer I/O, files written before a
        // schema evolution fill missing columns with null, and a foreign
        // file carrying EXTRA columns does not surface them. The old
        // mergeSchema read launched a distributed footer-merge job over
        // ALL active files on EVERY read — O(files) wasted I/O that sf0.1
        // hides and 100 TB (10⁷ footers per query) would not. Footer
        // merging survives only as the fallback for logs with no
        // parseable schemaString (foreign/v0 writers).
        val reader = spark.read.option("basePath", path)
        val df = parsedTableSchema(spark, fs, tbl, versionAsOf) match {
          case Some(declared) =>
            reader.schema(StructType(
              stripMeta(declared).asInstanceOf[StructType].fields ++
                extraCols)).parquet(files: _*)
          case None =>
            reader.option("mergeSchema", "true").parquet(files: _*)
        }
        if (!withRowMeta) df
        else df.select(col("*") +: meta: _*)
    }
  }

  // ───────────────────────── deletion vectors (read) ──────────────────────
  //
  // Protocol shapes per delta PROTOCOL.md "Deletion Vectors" (reference
  // reader: /root/reference/src/elusion.rs:6607+ does NOT implement them —
  // delta-rs 0.23 raw reads would resurrect deleted rows; refusing writes
  // and filtering reads is the correct floor).

  private val DvFileCol = "graft_dv_file"
  private val DvRowCol = "graft_dv_ri"

  /** Trailing `depth` path segments of a data file's full path (table
    * base + relative path) — the DV row-filter join key. Depth 1 is the
    * bare basename (the historical key, free on the scan side via
    * `_metadata.file_name`); deeper keys are needed on PARTITIONED
    * tables, where dynamic-partition committers (delta-spark included)
    * emit IDENTICAL basenames across partition directories
    * (part-00000-<jobUUID>.c000.parquet in every dir) — a basename key
    * would merge row indices of distinct files, attaching one merged
    * bitmap to an arbitrary file. Keys are computed over the
    * base-PREFIXED path so that a shallow rel (fewer segments than
    * `depth`) still produces the same trailing segments the scan side
    * sees: URI qualification only prepends scheme/authority/leading
    * dirs, never changes trailing segments.
    */
  private[sources] def relKey(base: String, rel: String, depth: Int): String = {
    val segs = (base.stripSuffix("/") + "/" + rel)
      .split('/').filter(_.nonEmpty)
    segs.takeRight(math.min(depth, segs.length)).mkString("/")
  }

  /** Minimal trailing-segment depth at which every rel in `rels` keys
    * uniquely under [[relKey]]. 1 (basename) for every unpartitioned
    * layout; grows only when basenames genuinely collide. Relative
    * paths are unique by construction (the snapshot fold keys on them),
    * so some depth always disambiguates.
    */
  private[sources] def dvKeyDepth(base: String, rels: Seq[String]): Int = {
    val maxDepth = rels.iterator
      .map(r => (base.stripSuffix("/") + "/" + r)
        .split('/').count(_.nonEmpty))
      .maxOption.getOrElse(1)
    val depth = (1 to maxDepth).find { k =>
      val keys = rels.map(relKey(base, _, k))
      keys.distinct.length == keys.length
    }.getOrElse(maxDepth)
    // depth > 1 compares dir segments against `_metadata.file_path`,
    // which is URI-ENCODED: a segment character the encoder would escape
    // (space, '%', non-ASCII…) breaks driver/scan key agreement. Refuse
    // typed rather than silently resurrect or mis-delete rows — plain
    // `col=val` partition layouts (every Spark/delta-spark default) pass.
    if (depth > 1) {
      val safe = "^[A-Za-z0-9._,=+@()\\-]*$".r
      val unsafe = rels.flatMap(_.split('/')).filter(_.nonEmpty)
        .filterNot(s => safe.matches(s))
      if (unsafe.nonEmpty)
        throw graft.GraftError.InvalidOperation("load_delta",
          s"deletion vectors on a partitioned table whose file paths " +
            s"need URI escaping (e.g. '${unsafe.head}') are not " +
            "supported — the DV row filter keys on path segments")
    }
    depth
  }

  /** Scan-side expression producing [[relKey]] of each row's source file
    * at `depth` — `_metadata.file_name` at depth 1 (plain metadata
    * column), the trailing segments of `_metadata.file_path` otherwise.
    * Both evaluate inside whole-stage codegen; no UDF, no URI parsing.
    */
  private def dvKeyExpr(depth: Int): org.apache.spark.sql.Column =
    if (depth <= 1) col("_metadata.file_name")
    else array_join(
      slice(split(col("_metadata.file_path"), "/"), -depth, depth), "/")
  private val DvMagic = 1681511377

  private val Z85Chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      ".-:+=^!/*?&<>()[]{}@%$#"
  private lazy val Z85Decode: Array[Int] = {
    val d = Array.fill(128)(-1)
    Z85Chars.zipWithIndex.foreach { case (c, i) => d(c.toInt) = i }
    d
  }

  /** Z85 (ZeroMQ base85) decode — the encoding delta uses for DV file
    * UUIDs (20 chars → 16 bytes) and inline DV payloads. Input length
    * must be a multiple of 5 (4 output bytes per group).
    */
  private[sources] def z85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"z85: length ${s.length} not a multiple of 5")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length / 5) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i * 5 + j).toInt
        val digit = if (c < 128) Z85Decode(c) else -1
        require(digit >= 0, s"z85: bad character '${s.charAt(i * 5 + j)}'")
        v = v * 85 + digit
        j += 1
      }
      out(i * 4) = ((v >> 24) & 0xff).toByte
      out(i * 4 + 1) = ((v >> 16) & 0xff).toByte
      out(i * 4 + 2) = ((v >> 8) & 0xff).toByte
      out(i * 4 + 3) = (v & 0xff).toByte
      i += 1
    }
    out
  }

  private[sources] def z85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0, "z85: length not a multiple of 4")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length / 4) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (bytes(i * 4 + j) & 0xffL); j += 1 }
      val digits = new Array[Char](5)
      var k = 4
      while (k >= 0) { digits(k) = Z85Chars(((v % 85)).toInt); v /= 85; k -= 1 }
      sb.appendAll(digits)
      i += 1
    }
    sb.toString
  }

  /** The DV's serialized-bitmap payload (magic + RoaringBitmapArray):
    * inline payloads decode from z85; u/p storage seeks to the
    * descriptor's offset inside the DV file, whose layout is
    * [version: 1 byte = 1] then per DV
    * [dataSize: int32 BE][data: dataSize bytes][crc32(data): int32 BE].
    */
  private def loadDvPayload(fs: FileSystem, tbl: HPath,
      dv: DeltaStats.DvDescriptor): Array[Byte] = dv.storageType match {
    case "i" =>
      // z85 groups are 4 bytes; the payload was zero-padded up to the
      // group boundary and sizeInBytes records the true length
      val raw = z85Decode(dv.pathOrInlineDv)
      if (dv.sizeInBytes > 0 && dv.sizeInBytes <= raw.length)
        raw.take(dv.sizeInBytes)
      else raw
    case "u" | "p" =>
      val file =
        if (dv.storageType == "p") new HPath(dv.pathOrInlineDv)
        else dvFilePath(tbl, dv.pathOrInlineDv)
      readDvRecord(fs, file, dv.offset.getOrElse(1L), dv.sizeInBytes)
    case other =>
      throw graft.GraftError.InvalidOperation("load_delta",
        s"unsupported deletion-vector storageType '$other'")
  }

  /** Deleted row indexes from a DV payload: [magic: int32 LE = 1681511377]
    * then the RoaringBitmapArray portable format — [nBitmaps: int64 LE]
    * followed by that many standard 32-bit roaring bitmaps back to back
    * (bitmap i holds the low 32 bits of indexes in [i·2³², (i+1)·2³²)).
    * Per-bitmap bytes parse through org.roaringbitmap (the format's
    * reference implementation, shipped with Spark).
    */
  private[sources] def decodeDvPayload(data: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == DvMagic, s"DV payload magic $magic != $DvMagic")
    val n = bb.getLong
    require(n >= 0 && n < Int.MaxValue, s"DV bitmap count $n out of range")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0L
    while (i < n) {
      val im = new org.roaringbitmap.buffer.ImmutableRoaringBitmap(bb)
      val it = im.getIntIterator
      while (it.hasNext) out += (i << 32) | (it.next().toLong & 0xffffffffL)
      bb.position(bb.position() + im.serializedSizeInBytes())
      i += 1
    }
    out.toArray
  }

  /** Serialize sorted deleted row positions as a DV payload (the exact
    * inverse of [[decodeDvPayload]]): magic + RoaringBitmapArray
    * portable, one 32-bit bitmap per 2³² index block.
    */
  private[sources] def dvPayload(idxs: Array[Long]): Array[Byte] = {
    require(idxs.nonEmpty, "dvPayload: empty delete set")
    val maxHigh = (idxs.last >> 32).toInt
    val bitmaps = (0 to maxHigh).map { h =>
      val rb = new org.roaringbitmap.RoaringBitmap()
      idxs.foreach { i =>
        if ((i >> 32).toInt == h) rb.add((i & 0xffffffffL).toInt) }
      rb.runOptimize()
      rb
    }
    val bb = java.nio.ByteBuffer.allocate(
      4 + 8 + bitmaps.map(_.serializedSizeInBytes()).sum)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(DvMagic)
    bb.putLong(bitmaps.length.toLong)
    bitmaps.foreach(_.serialize(bb))
    bb.array()
  }

  /** Inline ("i") DV descriptor JSON for the given row indexes — the
    * synthesis helper foreign-fixture specs and graded fixtures use
    * (z85 padded to the 4-byte group boundary, sizeInBytes recording
    * the true payload length, per the protocol's inline storage).
    */
  private[graft] def inlineDvJson(idxs: Array[Long]): String = {
    val payload = dvPayload(idxs.distinct.sorted)
    val padded = payload ++
      Array.fill[Byte]((4 - payload.length % 4) % 4)(0)
    s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(padded)}",""" +
      s""""sizeInBytes":${payload.length},""" +
      s""""cardinality":${idxs.distinct.length}}"""
  }

  /** Anti-join the scan against each DV'd file's deleted row positions.
    * Driver work is bounded by the DESCRIPTORS (path/offset/size triples);
    * the bin-file payload LOADS and the bitmap decodes both run in
    * EXECUTORS — the driver never aggregates payload bytes, so a snapshot
    * with millions of DV'd files costs the driver O(descriptors), and a
    * large delete never materializes on the driver either. The anti-join
    * distributes on the same keys: the trailing `keyDepth` path segments
    * ([[relKey]]) — basename at depth 1 (the common unpartitioned case;
    * name keys sidestep URI-normalization mismatches that absolute-path
    * keys invite), deeper on partitioned layouts where dynamic-partition
    * committers reuse basenames across partition dirs. `keyDepth` MUST
    * be the depth the scan `df` was built with ([[readDataFiles]]) —
    * callers compute it once via [[dvKeyDepth]] over every scanned rel.
    */
  private def applyDeletionVectors(spark: SparkSession, path: String,
      adds: Seq[DeltaStats.AddEntry], df: DataFrame,
      keepMeta: Boolean = false, keyDepth: Int = 1): DataFrame = {
    val withDv = adds.filter(a => a.dv.exists(_.cardinality > 0))
    if (withDv.isEmpty)
      return if (!keepMeta && df.columns.contains(DvFileCol))
        df.drop(DvFileCol, DvRowCol) else df
    val keys = adds.map(a => relKey(path, a.rel, keyDepth))
    require(keys.distinct.length == keys.length,
      s"loadDelta: duplicate data-file keys at depth $keyDepth in $path " +
        "— the deletion-vector row filter would merge distinct files")
    val deleted = dvDeletedRows(spark, path, withDv, keyDepth)
    val filtered = df.join(deleted, Seq(DvFileCol, DvRowCol), "left_anti")
    if (keepMeta) filtered else filtered.drop(DvFileCol, DvRowCol)
  }

  /** The (file key, row index) set the DV descriptors of `withDv`
    * delete — what the snapshot read anti-joins away and a row-level
    * change feed differences across DV generations. Bitmap decode runs
    * in executors; the driver only resolves descriptor paths. The file
    * key is [[relKey]] at `keyDepth` — matching the scan side.
    */
  private def dvDeletedRows(spark: SparkSession, path: String,
      withDv: Seq[DeltaStats.AddEntry], keyDepth: Int = 1): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // resolve each descriptor to (dataFileKey, binFileUri, offset, size)
    // on the driver (cheap string work); inline payloads ship their z85
    // text in the uri slot with offset -1. Hadoop Configuration is not
    // serializable — ship its entries and rebuild per executor partition.
    val qualified = fs.makeQualified(tbl)
    val descriptors: Seq[(String, String, Long, Int)] = withDv.map { a =>
      val name = relKey(path, a.rel, keyDepth)
      val d = a.dv.get
      d.storageType match {
        case "i" => (name, d.pathOrInlineDv, -1L, d.sizeInBytes)
        case "u" | "p" =>
          val file =
            if (d.storageType == "p") new HPath(d.pathOrInlineDv)
            else dvFilePath(qualified, d.pathOrInlineDv)
          (name, fs.makeQualified(file).toString,
            d.offset.getOrElse(1L), d.sizeInBytes)
        case other =>
          throw graft.GraftError.InvalidOperation("load_delta",
            s"unsupported deletion-vector storageType '$other'")
      }
    }
    val confEntries: Array[(String, String)] = {
      val it = spark.sparkContext.hadoopConfiguration.iterator()
      val b = Array.newBuilder[(String, String)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
      b.result()
    }
    val sess = spark
    import sess.implicits._
    val deleted = spark.createDataset(descriptors)
      .repartition(math.min(descriptors.size,
        spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        lazy val conf = {
          val c = new org.apache.hadoop.conf.Configuration(false)
          confEntries.foreach { case (k, v) => c.set(k, v) }
          c
        }
        it.flatMap { case (name, uriOrInline, offset, size) =>
          val bytes =
            if (offset < 0L) { // inline: z85 payload, zero-padded to 4
              val raw = z85Decode(uriOrInline)
              if (size > 0 && size <= raw.length) raw.take(size) else raw
            } else {
              val p = new HPath(uriOrInline)
              readDvRecord(p.getFileSystem(conf), p, offset, size)
            }
          decodeDvPayload(bytes).map(ri => (name, ri))
        }
      }
      .toDF(DvFileCol, DvRowCol)
    deleted
  }

  /** `deletion_vector_<uuid>.bin` path from a "u"-storage descriptor's
    * `<optional prefix dirs><20-char z85 uuid>` encoding, rooted at `tbl`.
    */
  private[sources] def dvFilePath(tbl: HPath, enc: String): HPath = {
    require(enc.length >= 20, s"DV uuid payload too short: '$enc'")
    val (prefix, uuidPart) = enc.splitAt(enc.length - 20)
    val raw = z85Decode(uuidPart)
    val bb = java.nio.ByteBuffer.wrap(raw)
    val uuid = new java.util.UUID(bb.getLong, bb.getLong)
    val dir = if (prefix.isEmpty) tbl else new HPath(tbl, prefix)
    new HPath(dir, s"deletion_vector_$uuid.bin")
  }

  /** One DV record ([size:int32 BE][data][crc32:int32 BE]) at `offset` of
    * `file`, CRC-verified against the descriptor's `sizeInBytes`.
    */
  private[sources] def readDvRecord(fs: FileSystem, file: HPath,
      offset: Long, sizeInBytes: Int): Array[Byte] = {
    val in = fs.open(file)
    try {
      in.seek(offset)
      val size = in.readInt() // big-endian via DataInput
      require(size == sizeInBytes,
        s"DV record size $size != descriptor sizeInBytes $sizeInBytes in $file")
      val data = new Array[Byte](size)
      in.readFully(data)
      val crc = in.readInt()
      val c = new java.util.zip.CRC32()
      c.update(data)
      require(crc == c.getValue.toInt,
        s"DV checksum mismatch in $file at offset $offset")
      data
    } finally in.close()
  }

  /** DELETE WITHOUT REWRITING DATA FILES on a DV-enabled table: rows
    * matching `predicate` (SQL over the snapshot's columns) are removed
    * by attaching per-file roaring-bitmap deletion vectors — the modern
    * writer's fast-delete path. Contrast the copy-on-write [[deleteWhere]],
    * which rewrites touched files (applying any existing DVs so deleted
    * rows never resurrect); this path instead avoids the rewrite entirely
    * — the right trade for small deletes against huge files. That
    * smallness contract is ENFORCED: a predicate touching more than
    * `maxTouchedFiles` files refuses typed before any payload is
    * collected (see [[DvDeleteMaxTouchedFiles]]).
    * Existing DVs are unioned in; per the protocol the
    * commit removes and re-adds each touched file with its new
    * descriptor. Gated on the table already declaring
    * `delta.enableDeletionVectors=true` — this writer never upgrades a
    * table's protocol silently. A lost commit slot rebases when the
    * winners are logically disjoint ([[requireNoLogicalConflict]]),
    * else throws typed; re-run against the fresh snapshot.
    *
    * Scale note: the bitmaps are BUILT IN EXECUTORS (one group per
    * touched file: new matches ∪ that file's existing deleted rows,
    * packed into the serialized multi-bitmap payload there); the driver
    * collects only the compressed payload bytes per touched file to lay
    * them into one bin file — memory bounded by the compressed DV
    * footprint, never the raw deleted-row count. Returns the number of
    * newly deleted rows.
    */
  def deleteWhereViaDv(spark: SparkSession, path: String,
      predicate: String, checkpointInterval: Int = 10,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes,
      maxTouchedFiles: Int = DvDeleteMaxTouchedFiles): Long = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCollatedColumns(spark, fs, tbl, "delete_delta_dv", predicate)
    requireNoIcebergCompatDv(spark, fs, tbl, "delete_delta_dv")
    if (tableConfiguration(spark, fs, tbl)
        .getOrElse("delta.enableDeletionVectors", "false") != "true")
      throw graft.GraftError.InvalidOperation("delete_delta_dv",
        s"$path does not declare delta.enableDeletionVectors=true; DV " +
          "deletes are only written to tables already carrying the " +
          "feature (no silent protocol upgrade) — use the copy-on-write " +
          "deleteWhere")
    requireNotAppendOnly(spark, fs, tbl, "delete_delta_dv")
    // emitsCdc here means "the CDF contract is satisfied WITHOUT cdc
    // files": a DV delete's remove+re-add descriptor swap is
    // self-describing — CDF readers (readChanges' row-level bitmap
    // difference, delta-spark's CDCReader) derive the exact deleted
    // rows from the descriptors themselves
    // rowIdsHandled: a DV delete never rewrites the file — the re-add
    // echoes the original baseRowId/defaultRowCommitVersion, so every
    // surviving row keeps its positional id
    requireWriterCapability(spark, fs, tbl, "delete_delta_dv",
      adds = false, removes = true, rewrites = false, emitsCdc = true,
      rowIdsHandled = true)
    // DISCOVERY scans only the stats-surviving files for the predicate
    // (same conservative kernel as deleteWhere/readWhere — a DV delete
    // of one key in a 100 TB table reads O(candidate files)); fold and
    // pruning run distributedly above the log-size threshold, so the
    // driver materializes only the CANDIDATE entries
    val kept = activeAddsWhere(spark, path, Some(predicate),
      snapshotDriverMaxBytes = snapshotDriverMaxBytes)
    if (kept.isEmpty) return 0L
    // key depth over the candidates: matched scan rows resolve back to
    // AddEntries below, and both sides draw from kept files only — on a
    // PARTITIONED table (delta-spark's dynamic-partition writer reuses
    // one basename across every partition dir) a bare-basename key
    // would merge row indices of DISTINCT files into one bitmap
    // attached to an arbitrary add: wrong rows deleted, matches left live
    val keyDepth = dvKeyDepth(path, kept.map(_.rel))
    val files = kept.map(a => new HPath(tbl, a.rel).toString)
    // matching LIVE rows (existing DVs applied) with their physical
    // positions — rows a previous DV already deleted must not re-count
    val live = applyDeletionVectors(spark, path, kept,
      readDataFiles(spark, path, files, withRowMeta = true,
        keyDepth = keyDepth), keepMeta = true, keyDepth = keyDepth)
    val newDf = live.where(expr(predicate))
      .select(col(DvFileCol).as("f"), col(DvRowCol).as("ri"),
        lit(1).as("graft_new"))
    // smallness contract, ENFORCED rather than documented: the driver
    // collects one compressed bitmap payload per touched file below —
    // fine for the intended regime (small deletes against huge files),
    // but a predicate touching 10⁶ files would pull GBs of payload.
    // Count the touched files first (one bounded job over the
    // stats-surviving candidates) and refuse typed above the budget;
    // the copy-on-write deleteWhere is the route for large deletes.
    val touchedCount = newDf.select("f").distinct().count()
    if (touchedCount == 0L) return 0L
    if (touchedCount > maxTouchedFiles)
      throw graft.GraftError.InvalidOperation("delete_delta_dv",
        s"$path: predicate touches $touchedCount files, over the DV-delete " +
          s"budget of $maxTouchedFiles — the driver would collect one " +
          "bitmap payload per touched file; use the copy-on-write " +
          "deleteWhere for deletes of this breadth (or raise " +
          "maxTouchedFiles deliberately)")
    // existing deleted rows of the TOUCHED files union into the fresh
    // payloads (a descriptor replaces, never stacks); untouched DV'd
    // files keep their current descriptors. Candidates suffice here: a
    // file outside `kept` provably holds no matching row, so it is never
    // touched and its descriptor never rewrites.
    val withDv = kept.filter(a => a.dv.exists(_.cardinality > 0))
    val mergedRows =
      if (withDv.isEmpty) newDf
      else newDf.unionByName(
        dvDeletedRows(spark, path, withDv, keyDepth)
          .withColumnRenamed(DvFileCol, "f").withColumnRenamed(DvRowCol, "ri")
          .withColumn("graft_new", lit(0))
          .join(newDf.select("f").distinct(), Seq("f"), "left_semi"))
    val sess = spark
    import sess.implicits._
    // per-file payload build runs where the rows are; only (file,
    // compressed bytes, cardinality, new-count) come back
    val packed: Array[(String, Array[Byte], Long, Long)] =
      mergedRows.as[(String, Long, Int)]
        .groupByKey(_._1)
        .mapGroups { (f, it) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
          var newCnt = 0L
          it.foreach { case (_, ri, n) => buf += ri; newCnt += n }
          val uniq = buf.toArray.distinct.sorted
          (f, dvPayload(uniq), uniq.length.toLong, newCnt)
        }
        .collect()
    if (packed.isEmpty) return 0L
    // unique within the candidates by construction of keyDepth; matched
    // rows can only come from kept files (the only ones scanned)
    val byKey: Map[String, DeltaStats.AddEntry] =
      kept.map(a => relKey(path, a.rel, keyDepth) -> a).toMap
    val mergedSets: Seq[(DeltaStats.AddEntry, Array[Byte], Long)] =
      packed.sortBy(_._1).map { case (key, data, card, _) =>
        val add = byKey.getOrElse(key, throw new IllegalStateException(
          s"deleteWhereViaDv: matched rows in unknown file $key"))
        (add, data, card)
      }
    // one fresh DV bin file for this commit's descriptors
    val uuid = java.util.UUID.randomUUID()
    val uuidZ85 = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(uuid.getMostSignificantBits)
      bb.putLong(uuid.getLeastSignificantBits)
      z85Encode(bb.array())
    }
    val dvFile = new HPath(tbl, s"deletion_vector_$uuid.bin")
    val descriptors = scala.collection.mutable.Map.empty[String, String]
    val out = fs.create(dvFile, true)
    try {
      out.write(1)
      var pos = 1L
      mergedSets.foreach { case (add, data, card) =>
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        out.writeInt(data.length)
        out.write(data)
        out.writeInt(crc.getValue.toInt)
        descriptors(add.rel) =
          s"""{"storageType":"u","pathOrInlineDv":"$uuidZ85",""" +
            s""""offset":$pos,"sizeInBytes":${data.length},""" +
            s""""cardinality":$card}"""
        pos += 4L + data.length + 4L
      }
    } finally out.close()
    // the protocol shape of a DV update: remove + re-add the same path
    // with the new descriptor, one commit, dataChange on both
    val log = logDir(tbl)
    val version = nextVersion(fs, log).getOrElse(
      throw graft.GraftError.InvalidOperation("delete_delta_dv",
        s"$path is not a delta table (no _delta_log)"))
    val txnId = java.util.UUID.randomUUID().toString
    val now = System.currentTimeMillis()
    val actions = ListBuffer.empty[String]
    actions += commitInfoJson("DELETE", txnId, fs, tbl,
      tableConfiguration(spark, fs, tbl))
    mergedSets.foreach { case (add, _, _) =>
      val pvJson = add.partitionValues.map { case (k, v) =>
        s""""${esc(k)}":${if (v == null) "null" else "\"" + esc(v) + "\""}"""
      }.mkString("{", ",", "}")
      val stats = add.stats.map(js => s""","stats":"${esc(js)}"""").getOrElse("")
      // protocol shape: the remove echoes the superseded add's DV
      // descriptor (when it carried one) so an external vacuum can
      // associate the old deletion_vector_*.bin with the removed entry
      val removedDv = add.dv.map(d =>
        s""","deletionVector":${dvDescriptorJson(d)}""").getOrElse("")
      actions += s"""{"remove":{"path":"${esc(add.rel)}","deletionTimestamp":$now,"dataChange":true,"size":${add.size}$removedDv}}"""
      // row tracking: the re-add is the SAME physical file — echo its
      // baseRowId/defaultRowCommitVersion so positional ids survive
      val rowField = (add.baseRowId, add.defaultRowCommitVersion) match {
        case (Some(b), Some(v)) =>
          s""","baseRowId":$b,"defaultRowCommitVersion":$v"""
        case _ => ""
      }
      actions += s"""{"add":{"path":"${esc(add.rel)}","partitionValues":$pvJson,""" +
        s""""size":${add.size},"modificationTime":$now,"dataChange":true""" +
        s"""$stats$rowField,"deletionVector":${descriptors(add.rel)}}}"""
    }
    // lost slots rebase when the winners are logically disjoint (same
    // ConflictChecker rules as commitRewrite): the descriptor swap's
    // removes are the touched files, its read set the delete predicate
    commitSlotTestHook.foreach(_("DELETE_DV", version))
    var v = version
    var committed = false
    var attempts = 0
    while (!committed && attempts < 20) {
      attempts += 1
      // re-stamp the commitInfo per attempt: a rebase follows a winner
      // whose in-commit timestamp (ICT tables) this commit must exceed —
      // replaying the pre-built line would break ICT monotonicity
      actions(0) = commitInfoJson("DELETE", txnId, fs, tbl,
        tableConfiguration(spark, fs, tbl))
      if (acquireCommitSlot(fs, log, v, txnId,
          actions.mkString("\n") + "\n")) committed = true
      else {
        try existingVersions(fs, log).filter(_ >= v).foreach(w =>
          requireNoLogicalConflict(spark, fs, tbl, path, "delete_delta_dv",
            w, mergedSets.map(_._1.rel).toSet, dataChange = true,
            readPredicate = Some(predicate)))
        catch { case e: Throwable => fs.delete(dvFile, false); throw e }
        v = math.max(v + 1, nextVersion(fs, log).getOrElse(0L))
      }
    }
    if (!committed) {
      fs.delete(dvFile, false)
      throw graft.GraftError.WriteError(path, "delete_delta_dv",
        "gave up after 20 optimistic-commit attempts (heavy concurrent " +
          "writer load?)")
    }
    // checkpoints fold DV descriptors (newest add per path wins), so the
    // delete-heavy tables DVs target keep their log replay bounded too
    if (checkpointInterval > 0 && v % checkpointInterval == 0)
      writeCheckpoint(spark, path, v)
    packed.map(_._4).sum
  }

  /** REORG-PURGE (delta's `REORG TABLE … APPLY (PURGE)` shape): rewrite
    * ONLY the files carrying deletion vectors, materializing their row
    * filters — each victim's LIVE rows restage as plain files, the commit
    * removes the DV'd entries (echoing their descriptors) and adds the
    * replacements with no DV. After a purge the snapshot carries no DVs —
    * subsequent reads skip the bitmap anti-join and copy-on-write
    * mutations take their plain fast path — and [[vacuum]] sweeps the
    * now-orphaned bin files. Cost scales with the DV'd-file footprint,
    * never the table — the same touched-files-only contract as upsert.
    * Returns the number of files purged (0 = no DVs, nothing committed).
    */
  def purgeDeletionVectors(spark: SparkSession, path: String,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Int = {
    val (rowTrack, matCols, rtExtraCols) = locally {
      val tbl = new HPath(path)
      val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // row tracking: the purge rewrite drops DV'd rows, shifting the
      // survivors' positions — ids are materialized like the other
      // copy-on-write restages
      val info = rowTrackingRewriteInfo(spark, fs, tbl,
        "purge_deletion_vectors")
      requireWriterCapability(spark, fs, tbl, "purge_deletion_vectors",
        adds = false, removes = false, rewrites = true,
        rowIdsHandled = info._1)
      info
    }
    // fold + DV filter run distributedly above the log-size threshold:
    // the driver materializes only the DV-BEARING entries — the files a
    // purge rewrites — never the plain bulk of the snapshot
    val victims = activeAddsWhere(spark, path,
      keep = Some((a: DeltaStats.AddEntry) =>
        a.dv.exists(_.cardinality > 0)),
      snapshotDriverMaxBytes = snapshotDriverMaxBytes)
    if (victims.isEmpty) return 0
    val tbl = new HPath(path)
    val files = victims.map(a => new HPath(tbl, a.rel).toString)
    // live rows of JUST the DV'd files: scan with row metadata, apply
    // their descriptors, drop the bookkeeping columns. Key depth over
    // the victims — the only files this scan and anti-join ever see
    val keyDepth = dvKeyDepth(path, victims.map(_.rel))
    val live0 = applyDeletionVectors(spark, path, victims,
      readDataFiles(spark, path, files, withRowMeta = true,
        keyDepth = keyDepth, extraCols = rtExtraCols),
      keepMeta = rowTrack, keyDepth = keyDepth)
    val live = matCols.map { case (mid, mver) =>
        withMaterializedRowIds(spark, path, victims, live0,
          mid, mver, keyDepth).drop(DvFileCol, DvRowCol) }
      .getOrElse(live0)
    val dvJson = victims.map(a => a.rel -> dvDescriptorJson(a.dv.get)).toMap
    // keep the victims' file granularity: without the hint the restage
    // inherits the anti-join's shuffle partitioning (spark.sql.shuffle
    // .partitions files regardless of victim count)
    commitRewrite(spark, path, "PURGE", victims.map(_.rel).sorted, live,
      removeDvJson = dvJson, numFiles = Some(victims.size),
      removeSize = victims.map(a => a.rel -> a.size).toMap)
    victims.size
  }

  /** Protocol JSON of a DV descriptor (the shape the add/remove actions
    * carry; offset omitted when absent — inline DVs have none).
    */
  private def dvDescriptorJson(d: DeltaStats.DvDescriptor): String = {
    val off = d.offset.map(o => s""""offset":$o,""").getOrElse("")
    s"""{"storageType":"${esc(d.storageType)}",""" +
      s""""pathOrInlineDv":"${esc(d.pathOrInlineDv)}",$off""" +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
  }

  /** Write `df` as a delta table WITH deletion vectors: data files land
    * untouched, and rows matching `deletePredicate` are deleted purely
    * through per-file roaring-bitmap DV descriptors — the layout a modern
    * DV-enabled writer (delta-spark ≥2.4 default-on tables) produces.
    * Protocol: minReaderVersion 3 / minWriterVersion 7 with the
    * deletionVectors feature. One `deletion_vector_<uuid>.bin` holds all
    * file DVs ([version byte][per DV: int32-BE size, payload, int32-BE
    * crc32]); `inlineFirst` stores the first file's DV inline (z85) for
    * storage-type coverage. This is the fixture/compat surface proving
    * [[read]]'s DV filtering against protocol-shaped bytes; [[write]]
    * itself never emits DVs.
    */
  def writeWithDeletionVectors(df: DataFrame, path: String,
      deletePredicate: String, inlineFirst: Boolean = false): Unit = {
    val spark = df.sparkSession
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tbl, true)
    df.write.mode("overwrite").parquet(path)
    val rels = fs.listStatus(tbl).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).sorted
    // per-file deleted PHYSICAL row positions under the predicate
    val delByFile: Seq[(String, Array[Long])] = rels.map { rel =>
      val f = new HPath(tbl, rel).toString
      rel -> spark.read.parquet(f)
        .select(col("_metadata.row_index").as("graft_ri"))
        .where(expr(deletePredicate))
        .collect().map(_.getLong(0)).sorted
    }
    val uuid = java.util.UUID.nameUUIDFromBytes((path + "#dv").getBytes("UTF-8"))
    val uuidZ85 = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(uuid.getMostSignificantBits)
      bb.putLong(uuid.getLeastSignificantBits)
      z85Encode(bb.array())
    }
    // lay the non-inline DV records into one bin file, recording offsets
    val dvFile = new HPath(tbl, s"deletion_vector_$uuid.bin")
    val descriptors = scala.collection.mutable.Map.empty[String, String]
    val out = fs.create(dvFile, true)
    try {
      out.write(1) // format version byte
      var pos = 1L
      delByFile.foreach { case (rel, idxs) =>
        if (idxs.nonEmpty) {
          val data = dvPayload(idxs)
          val inline = inlineFirst && rel == delByFile.find(_._2.nonEmpty).get._1
          if (inline) {
            val padded = data ++ new Array[Byte]((4 - data.length % 4) % 4)
            descriptors(rel) =
              s"""{"storageType":"i","pathOrInlineDv":"${z85Encode(padded)}",""" +
                s""""sizeInBytes":${data.length},"cardinality":${idxs.length}}"""
          } else {
            val crc = new java.util.zip.CRC32()
            crc.update(data)
            out.writeInt(data.length) // big-endian via DataOutput
            out.write(data)
            out.writeInt(crc.getValue.toInt)
            descriptors(rel) =
              s"""{"storageType":"u","pathOrInlineDv":"$uuidZ85",""" +
                s""""offset":$pos,"sizeInBytes":${data.length},""" +
                s""""cardinality":${idxs.length}}"""
            pos += 4L + data.length + 4L
          }
        }
      }
    } finally out.close()
    if (!descriptors.values.exists(_.contains("\"u\"")))
      fs.delete(dvFile, false) // every DV inlined (or none): no bin file
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def esc(s: String): String = {
      val n = mapper.writeValueAsString(s)
      n.substring(1, n.length - 1)
    }
    val now = System.currentTimeMillis()
    val actions = ListBuffer.empty[String]
    actions += """{"commitInfo":{"operation":"WRITE","txnId":"""" +
      java.util.UUID.randomUUID().toString + """"}}"""
    actions += """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
      """"readerFeatures":["deletionVectors"],""" +
      """"writerFeatures":["deletionVectors"]}}"""
    actions += s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8"))}",""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(df.schema.json)}","partitionColumns":[],""" +
      s""""configuration":{"delta.enableDeletionVectors":"true"},""" +
      s""""createdTime":$now}}"""
    rels.foreach { rel =>
      val st = fs.getFileStatus(new HPath(tbl, rel))
      val stats = DeltaStats.harvest(
        spark.sparkContext.hadoopConfiguration, new HPath(tbl, rel))
        .map(js => s""","stats":"${esc(js)}"""").getOrElse("")
      val dvJson = descriptors.get(rel)
        .map(d => s""","deletionVector":$d""").getOrElse("")
      actions += s"""{"add":{"path":"${esc(rel)}","partitionValues":{},""" +
        s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
        s""""dataChange":true$stats$dvJson}}"""
    }
    val log = logDir(tbl)
    fs.mkdirs(log)
    val cOut = fs.create(new HPath(log, commitName(0L)), true)
    try cOut.write((actions.mkString("\n") + "\n").getBytes("UTF-8"))
    finally cOut.close()
  }

  /** Write `df` as a NAME-mode column-mapped delta table: data files
    * carry deterministic physical column names (uuid-style, derived from
    * the logical name so round-trip fixtures are stable), the metaData's
    * schemaString annotates every field with `delta.columnMapping.id` /
    * `physicalName`, and the protocol declares minReaderVersion 2 /
    * minWriterVersion 5 — the shape delta-spark ≥2.x and delta-rs ≥0.17
    * writers emit by default. This is primarily the fixture/compat
    * surface proving [[read]]'s mapped-read path against the same bytes a
    * modern writer would produce; [[write]] remains mode=none.
    */
  def writeNameMapped(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tbl, true)
    val logical = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
      val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
        (f.name + "#graft-cm").getBytes("UTF-8")).toString
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong("delta.columnMapping.id", i + 1L)
        .putString(PhysicalNameKey, phys).build())
    })
    require(partitionBy.forall(c => df.columns.contains(c)),
      s"writeNameMapped: partition columns ${partitionBy.mkString(",")} " +
        s"not all in frame columns ${df.columns.mkString(",")}")
    val physByLogical = logical.fields
      .map(f => f.name -> f.metadata.getString(PhysicalNameKey)).toMap
    val physical = physicalType(logical).asInstanceOf[StructType]
    val physDf = df.select(logical.fields.zip(physical.fields).map {
      case (lf, pf) => col(s"`${lf.name}`").cast(pf.dataType).as(pf.name)
    }: _*)
    val w0 = physDf.write.mode("overwrite")
    // directories carry PHYSICAL names (the delta colmap layout)
    (if (partitionBy.nonEmpty) w0.partitionBy(partitionBy.map(physByLogical): _*)
     else w0).parquet(path)
    val rels = dataFiles(fs, tbl).keys.toSeq.sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def esc(s: String): String = {
      val n = mapper.writeValueAsString(s)
      n.substring(1, n.length - 1)
    }
    val now = System.currentTimeMillis()
    val actions = ListBuffer.empty[String]
    actions += """{"commitInfo":{"operation":"WRITE","txnId":"""" +
      java.util.UUID.randomUUID().toString + """"}}"""
    actions += """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    actions += s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8"))}",""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(logical.json)}","partitionColumns":[${
        partitionBy.map(c => s""""${esc(c)}"""").mkString(",")}],""" +
      s""""configuration":{"delta.columnMapping.mode":"name",""" +
      s""""delta.columnMapping.maxColumnId":"${logical.fields.length}"},""" +
      s""""createdTime":$now}}"""
    rels.foreach { rel =>
      val st = fs.getFileStatus(new HPath(tbl, rel))
      // partitionValues keys are the PHYSICAL partition dir names —
      // exactly what the protocol records on mapped tables
      val pv = partitionValues(rel)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString(",")
      actions += s"""{"add":{"path":"${esc(rel)}","partitionValues":{$pv},""" +
        s""""size":${st.getLen},"modificationTime":${st.getModificationTime},""" +
        s""""dataChange":true}}"""
    }
    val log = logDir(tbl)
    fs.mkdirs(log)
    val out = fs.create(new HPath(log, commitName(0L)), true)
    try out.write((actions.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Write `df` as an ID-mode column-mapped delta table: data files
    * carry uuid-style physical column names AND parquet field ids (the
    * resolution key id mode reads by — written via Spark's native
    * field-id support), the metaData annotates every field with both
    * `delta.columnMapping.id` and `physicalName`, and the configuration
    * declares mode=id. The fixture/compat surface proving [[read]]'s
    * field-id resolution path; iceberg-converted tables ship this shape.
    */
  def writeIdMapped(df: DataFrame, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tbl, true)
    val logical = StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
      val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
        (f.name + "#graft-cm-id").getBytes("UTF-8")).toString
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(MappingIdKey, i + 1L)
        .putString(PhysicalNameKey, phys).build())
    })
    require(partitionBy.forall(c => df.columns.contains(c)),
      s"writeIdMapped: partition columns ${partitionBy.mkString(",")} " +
        s"not all in frame columns ${df.columns.mkString(",")}")
    val physByLogical = logical.fields
      .map(f => f.name -> f.metadata.getString(PhysicalNameKey)).toMap
    // physical-named write schema with parquet.field.id so the files
    // carry the ids (fieldId.write.enabled honors the metadata)
    val physDf = df.select(logical.fields.zipWithIndex.map { case (lf, i) =>
      col(s"`${df.schema.fields(i).name}`")
        .as(lf.metadata.getString(PhysicalNameKey),
          new MetadataBuilder()
            .putLong(ParquetFieldIdKey, lf.metadata.getLong(MappingIdKey))
            .build())
    }: _*)
    // unlike the read-side conf (left on by documented necessity — see
    // readDataFiles), the write has no concurrent-plan race: restore the
    // prior value so unrelated parquet writes whose schemas happen to
    // carry parquet.field.id metadata keep their session's behavior
    val prevFieldIdWrite =
      spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    try {
      val w = physDf.write.mode("overwrite")
      // directories carry PHYSICAL names (the delta colmap layout)
      (if (partitionBy.nonEmpty)
         w.partitionBy(partitionBy.map(physByLogical): _*)
       else w).parquet(path)
    } finally prevFieldIdWrite match {
      case Some(v) => spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None => spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
    val rels = dataFiles(fs, tbl).keys.toSeq.sorted
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def esc(x: String): String = {
      val n = mapper.writeValueAsString(x)
      n.substring(1, n.length - 1)
    }
    val now = System.currentTimeMillis()
    // partitionColumns carry LOGICAL names (delta-spark's convention);
    // the reader also accepts physical spellings from other writers
    val pcolsJson = partitionBy.map(c => s""""${esc(c)}"""").mkString(",")
    val actions = ListBuffer.empty[String]
    actions += """{"commitInfo":{"operation":"WRITE","txnId":"""" +
      java.util.UUID.randomUUID().toString + """"}}"""
    actions += """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
    actions += s"""{"metaData":{"id":"${java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8"))}",""" +
      s""""format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"${esc(logical.json)}","partitionColumns":[$pcolsJson],""" +
      s""""configuration":{"delta.columnMapping.mode":"id",""" +
      s""""delta.columnMapping.maxColumnId":"${logical.fields.length}"},""" +
      s""""createdTime":$now}}"""
    rels.foreach { rel =>
      actions += addAction(rel, fs.getFileStatus(new HPath(tbl, rel)))
    }
    val log = logDir(tbl)
    fs.mkdirs(log)
    val out = fs.create(new HPath(log, commitName(0L)), true)
    try out.write((actions.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Logical schema when the table uses ANY column mapping, tagged with
    * the mode ("name" | "id"). A mapped table whose schemaString is
    * missing/unparseable must refuse, not fall back to raw physical
    * names.
    */
  /** `asOf` resolves the mapping FROM THE METADATA OF THAT VERSION — a
    * version-preserving overwrite of a mapped table re-mints physical
    * column names, so a time-travel read resolving against the LATEST
    * mapping would read pre-overwrite files under post-overwrite
    * physical names and silently null every data column.
    */
  private def logicalSchemaIfMapped(spark: SparkSession, fs: FileSystem,
      tbl: HPath, asOf: Option[Long] = None): Option[(String, StructType)] = {
    val mode = columnMappingMode(spark, fs, tbl, asOf)
    if (mode != "name" && mode != "id") None
    else {
      val schema = parsedTableSchema(spark, fs, tbl, asOf)
      Some(mode -> schema.getOrElse(throw graft.GraftError.InvalidOperation(
        "load_delta", s"$tbl uses $mode-mode column mapping but its " +
          "metaData.schemaString is missing or unparseable — cannot " +
          "derive the physical-to-logical mapping")))
    }
  }

  private def logicalSchemaIfNameMapped(spark: SparkSession, fs: FileSystem,
      tbl: HPath): Option[StructType] =
    logicalSchemaIfMapped(spark, fs, tbl).collect { case ("name", s) => s }

  private val PhysicalNameKey = "delta.columnMapping.physicalName"
  private val MappingIdKey = "delta.columnMapping.id"
  private val ParquetFieldIdKey = "parquet.field.id"

  /** Mint column-mapping annotations for a FRESH write's schema: every
    * field (nested struct subfields included, per the protocol) gets a
    * fresh `delta.columnMapping.id` above `startId` (parent before
    * subfields — delta's allocation order) and a deterministic
    * uuid-style physicalName salted by the id window, so successive
    * overwrite generations never alias each other's physical columns.
    * Id-mode minting annotates nested fields the same way — staging
    * emits parquet field ids at every nesting level
    * ([[physicalFieldIdType]]), so a by-id reader resolves them.
    */
  private def mintMappingSchema(schema: StructType, startId: Long,
      mode: String, tbl: HPath): StructType = {
    import org.apache.spark.sql.types._
    var mintId = startId
    def nextId(): Long = { mintId += 1; mintId }
    val salt = s"#graft-cm-fresh-$startId"
    def mintType(dt: DataType, pathKey: String): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        mintField(f.name, s"$pathKey.${f.name}", f.dataType, f.metadata)))
      case at: ArrayType =>
        at.copy(elementType = mintType(at.elementType, s"$pathKey.element"))
      case mt: MapType =>
        mt.copy(keyType = mintType(mt.keyType, s"$pathKey.key"),
          valueType = mintType(mt.valueType, s"$pathKey.value"))
      case other => other
    }
    def mintField(name: String, pathKey: String, dt: DataType,
        meta: Metadata): StructField = {
      val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
        (pathKey + salt).getBytes("UTF-8")).toString
      val id = nextId()
      StructField(name, mintType(dt, pathKey), nullable = true,
        new MetadataBuilder().withMetadata(meta)
          .putLong(MappingIdKey, id)
          .putString(PhysicalNameKey, phys).build())
    }
    StructType(schema.fields.map(f =>
      mintField(f.name, f.name, f.dataType, f.metadata)))
  }

  /** Largest `delta.columnMapping.id` annotated anywhere in `dt`,
    * including nested struct fields (0 when none) — what maxColumnId
    * must clear after a schema evolution's recursive mint.
    */
  private def maxMappingId(dt: org.apache.spark.sql.types.DataType): Long = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => st.fields.foldLeft(0L) { (acc, f) =>
        val own =
          if (f.metadata.contains(MappingIdKey)) f.metadata.getLong(MappingIdKey)
          else 0L
        math.max(acc, math.max(own, maxMappingId(f.dataType)))
      }
      case at: ArrayType => maxMappingId(at.elementType)
      case mt: MapType =>
        math.max(maxMappingId(mt.keyType), maxMappingId(mt.valueType))
      case _ => 0L
    }
  }

  /** Gate for writes into an id-mode table: every field must carry its
    * `delta.columnMapping.id` annotation (that id becomes the staged
    * file's parquet field id), and nested columns refuse typed — nested
    * fields need their OWN parquet field ids, which this writer only
    * emits for top-level columns.
    */
  private def requireIdWritable(logical: StructType, tbl: HPath,
      op: String): Unit = {
    import org.apache.spark.sql.types._
    // every field — nested struct subfields included — needs an id
    // annotation: staging emits parquet field ids at every level
    // (physicalFieldIdType), and a by-id reader cannot resolve a field
    // that has none
    def check(dt: DataType, prefix: String): Unit = dt match {
      case st: StructType => st.fields.foreach { f =>
        if (!f.metadata.contains(MappingIdKey))
          throw graft.GraftError.InvalidOperation(op,
            s"$tbl uses id-mode column mapping but field " +
              s"'$prefix${f.name}' has no delta.columnMapping.id " +
              "annotation — cannot stage files the table's by-id " +
              "reader would resolve")
        check(f.dataType, s"$prefix${f.name}.")
      }
      case at: ArrayType => check(at.elementType, prefix)
      case mt: MapType =>
        check(mt.keyType, prefix); check(mt.valueType, prefix)
      case _ => ()
    }
    check(logical, "")
  }

  /** Run `body` with Spark's parquet field-id WRITE support forced on
    * (when `enable`), restoring the session's prior setting — staged
    * id-mode files must carry the ids their table resolves by. Unlike
    * the read-side conf (left on by documented necessity, see
    * [[readDataFiles]]), the write has no concurrent-plan race.
    */
  private def withFieldIdWriteIf[T](spark: SparkSession, enable: Boolean)
      (body: => T): T =
    if (!enable) body
    else {
      val prev =
        spark.conf.getOption("spark.sql.parquet.fieldId.write.enabled")
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
      try body finally prev match {
        case Some(v) =>
          spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
      }
    }

  /** Logical-named read schema carrying parquet field ids: with
    * `spark.sql.parquet.fieldId.read.enabled` Spark resolves each column
    * against the physical files BY ID — exactly the id-mode column
    * mapping contract (the files' physical names are ignored, so the
    * scan comes back under logical names with no rename step). Refuses
    * if any field lacks an id annotation (a valid id-mode table
    * annotates every field).
    */
  private def fieldIdReadType(dt: org.apache.spark.sql.types.DataType,
      tbl: HPath): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map { f =>
        if (!f.metadata.contains(MappingIdKey))
          throw graft.GraftError.InvalidOperation("load_delta",
            s"$tbl uses id-mode column mapping but field '${f.name}' " +
              "has no delta.columnMapping.id annotation")
        StructField(f.name, fieldIdReadType(f.dataType, tbl), nullable = true,
          new MetadataBuilder()
            .putLong(ParquetFieldIdKey, f.metadata.getLong(MappingIdKey))
            .build())
      })
      case at: ArrayType => at.copy(elementType = fieldIdReadType(at.elementType, tbl))
      case mt: MapType => mt.copy(keyType = fieldIdReadType(mt.keyType, tbl),
        valueType = fieldIdReadType(mt.valueType, tbl))
      case other => other
    }
  }

  /** Physical (on-file) type for ID-mode staging: every struct field
    * renamed to its physicalName annotation AND annotated with
    * `parquet.field.id` from its `delta.columnMapping.id` — at EVERY
    * nesting level, so Spark's field-id write emits ids the by-id
    * reader resolves for nested fields too (the read side,
    * [[fieldIdReadType]], already matches nested ids). A field lacking
    * the id annotation refuses typed: a by-id reader could never
    * resolve it.
    */
  private def physicalFieldIdType(dt: org.apache.spark.sql.types.DataType,
      tbl: HPath): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map { f =>
        if (!f.metadata.contains(MappingIdKey))
          throw graft.GraftError.InvalidOperation("write_delta",
            s"$tbl uses id-mode column mapping but nested field " +
              s"'${f.name}' has no delta.columnMapping.id annotation — " +
              "cannot stage files the by-id reader would resolve")
        val phys =
          if (f.metadata.contains(PhysicalNameKey))
            f.metadata.getString(PhysicalNameKey)
          else f.name
        StructField(phys, physicalFieldIdType(f.dataType, tbl),
          nullable = true, new MetadataBuilder()
            .putLong(ParquetFieldIdKey, f.metadata.getLong(MappingIdKey))
            .build())
      })
      case at: ArrayType =>
        at.copy(elementType = physicalFieldIdType(at.elementType, tbl))
      case mt: MapType =>
        mt.copy(keyType = physicalFieldIdType(mt.keyType, tbl),
          valueType = physicalFieldIdType(mt.valueType, tbl))
      case other => other
    }
  }

  /** Recursively rewrite a logical delta type to its physical (on-file)
    * shape: every struct field named by its `physicalName` annotation.
    */
  private def physicalType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map { f =>
        val phys =
          if (f.metadata.contains(PhysicalNameKey))
            f.metadata.getString(PhysicalNameKey)
          else f.name
        StructField(phys, physicalType(f.dataType), f.nullable)
      })
      case at: ArrayType => at.copy(elementType = physicalType(at.elementType))
      case mt: MapType => mt.copy(keyType = physicalType(mt.keyType),
        valueType = physicalType(mt.valueType))
      case other => other
    }
  }

  /** Logical type with the columnMapping annotations stripped and every
    * level made nullable (the cast target for the physical → logical
    * rename — parquet always reads back nullable, and a NOT NULL nested
    * field would make the rename cast unresolvable).
    */
  private def stripMeta(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, stripMeta(f.dataType), nullable = true)))
      case at: ArrayType => ArrayType(stripMeta(at.elementType), containsNull = true)
      case mt: MapType => MapType(stripMeta(mt.keyType),
        stripMeta(mt.valueType), valueContainsNull = true)
      // collated strings (the delta collations feature — Spark's
      // DataType.fromJson consumes __COLLATIONS annotations into
      // collated StringTypes): this engine serves the BYTES verbatim
      // under the default binary collation, so reads stay deterministic
      // and joins against uncollated frames never hit indeterminate-
      // collation errors; predicate operations over collated columns
      // refuse typed instead ([[refuseOnCollatedColumns]])
      case s: StringType if s != StringType => StringType
      case other => other
    }
  }

  /** Predicate-pruned snapshot read: replay the log, skip every file whose
    * add-action stats (and partition values) prove the predicate can match
    * no row ([[DeltaStats.prune]]), read only the survivors, re-apply the
    * full predicate. At 100 TB this is the difference between opening a
    * handful of files and scanning the table: the pruning cost is a
    * driver-side pass over add metadata, zero data I/O. Conservative by
    * construction — unknown stats keep the file, and the re-applied
    * predicate makes pruning invisible to results.
    */
  def readWhere(spark: SparkSession, path: String, predicate0: String,
      versionAsOf: Option[Long] = None,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): DataFrame = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    refuseOnCollatedColumns(spark, fs, tbl, "load_delta", predicate0)
    // equality predicates on a generated partition column's SOURCE prune
    // through the generation expression (implied conjuncts; sound for
    // deterministic expressions) — both the file-skipping kernel below
    // and the scan's own partition-dir pushdown see the augmented form
    val predicate = augmentThroughGenerated(spark,
      parsedTableSchema(spark, fs, tbl, versionAsOf),
      tablePartitionColumns(spark, fs, tbl).getOrElse(Nil), predicate0)
    // large log: snapshot fold AND stats pruning both run DISTRIBUTEDLY —
    // DeltaStats.entryMayMatch is session-free, so the parsed conjuncts
    // ship to executors and the driver sees only the SURVIVING file paths
    // (plus their DV entries), never every add's stats JSON. On mapped
    // tables the per-entry physical→logical stats-key remap ships too
    // (remapAddToLogical is pure given the name map), so skipping keeps
    // pruning there as well.
    if (fs.exists(logDir(tbl)) &&
        snapshotLogBytes(fs, logDir(tbl), versionAsOf) > snapshotDriverMaxBytes) {
      val snap = activeAddsDfAsOf(spark, path, versionAsOf).getOrElse(
        throw new IllegalArgumentException(
          s"loadDelta: empty or missing _delta_log in $path"))
      val schemaOpt = parsedTableSchema(spark, fs, tbl, versionAsOf)
      val physToLog: Option[Map[String, String]] =
        logicalSchemaIfMapped(spark, fs, tbl).map(m => physToLogMap(m._2))
      val pcols0 = tablePartitionColumns(spark, fs, tbl).getOrElse(Nil)
      val pcols = physToLog match {
        case Some(m) => pcols0.map(c => m.getOrElse(c, c))
        case None => pcols0
      }
      val conjOpt = schemaOpt.flatMap(_ =>
        DeltaStats.parseConjuncts(spark, predicate))
      val sess = spark
      import sess.implicits._
      val entries = snap.select("graft_add").as[String]
      val keptEntries = (schemaOpt, conjOpt) match {
        case (Some(schema), Some(conjuncts)) =>
          entries.mapPartitions { it =>
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            it.filter { addJson =>
              val node = try mapper.readTree(addJson) catch { case _: Exception => null }
              // unparseable add ⇒ keep (conservative, like the driver path)
              Option(node).flatMap(parseAddEntry).forall { e0 =>
                val e = physToLog match {
                  case Some(m) => remapAddToLogical(e0, m, mapper)
                  case None => e0
                }
                DeltaStats.entryMayMatch(conjuncts, schema, pcols, e, mapper)
              }
            }
          }
        case _ => entries
      }
      val keptRows = keptEntries.localCheckpoint(true) // consumed twice
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val dvAdds = keptRows
        .filter(_.contains("\"deletionVector\"")).collect().toSeq
        .flatMap { s =>
          val node = try mapper.readTree(s) catch { case _: Exception => null }
          Option(node).flatMap(parseAddEntry)
        }.filter(_.dv.isDefined)
      // survivors come back as bare path strings — stats stay in executors
      val keptRels = keptRows.mapPartitions { it =>
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        it.flatMap { s =>
          val node = try m.readTree(s) catch { case _: Exception => null }
          Option(node).flatMap(n => Option(n.get("path")).map(_.asText))
        }
      }.collect().toSeq
      // DV keys need only be unique across the SCANNED (kept) files —
      // the anti-join never sees a pruned file's rows
      val keyDepth = if (dvAdds.nonEmpty) dvKeyDepth(path, keptRels) else 1
      if (keptRels.isEmpty) {
        val schema = schemaOpt.map(s => stripMeta(s).asInstanceOf[StructType])
          .getOrElse(read(spark, path, versionAsOf).schema)
        return spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
          .where(expr(predicate))
      }
      return applyDeletionVectors(spark, path, dvAdds,
        readDataFiles(spark, path,
          keptRels.map(r => new HPath(tbl, r).toString),
          withRowMeta = dvAdds.nonEmpty, versionAsOf = versionAsOf,
          keyDepth = keyDepth),
        keyDepth = keyDepth)
        .where(expr(predicate))
    }
    val adds0 = activeAddsAsOf(spark, path, versionAsOf)
    require(adds0.nonEmpty, s"loadDelta: empty or missing _delta_log in $path")
    val schemaOpt = parsedTableSchema(spark, fs, tbl, versionAsOf)
    // name-mode column mapping: add-action stats and partitionValues are
    // keyed by PHYSICAL names while the predicate (and table schema) use
    // logical ones — remap the metadata keys so skipping keeps working on
    // mapped tables instead of degrading to keep-everything
    val nameMapped = logicalSchemaIfMapped(spark, fs, tbl).map(_._2)
    val adds = nameMapped match {
      case Some(logical) => remapAddsToLogical(adds0, logical)
      case None => adds0
    }
    val pcols0 = tablePartitionColumns(spark, fs, tbl).getOrElse(Nil)
    // metaData.partitionColumns carries physical names on mapped tables
    val pcols = nameMapped match {
      case Some(logical) =>
        val physToLog = logical.fields.map(f =>
          (if (f.metadata.contains(PhysicalNameKey))
            f.metadata.getString(PhysicalNameKey) else f.name) -> f.name).toMap
        pcols0.map(c => physToLog.getOrElse(c, c))
      case None => pcols0
    }
    val kept = schemaOpt match {
      case Some(schema) => DeltaStats.prune(spark, predicate, schema, pcols, adds)
      case None => adds
    }
    if (kept.isEmpty) {
      // provably-empty result: an empty relation with the table schema —
      // no file is opened at all
      val schema = schemaOpt.map(s => stripMeta(s).asInstanceOf[StructType])
        .getOrElse(read(spark, path, versionAsOf).schema)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .where(expr(predicate))
    } else {
      // DV filtering composes with file skipping: stats were recorded
      // before the deletes, so min/max/nullCount pruning stays SOUND
      // (deletions only shrink a file's true row set — a pruned file
      // still provably holds no matching row; a kept file's deleted rows
      // are removed by the anti-join before the predicate applies)
      val hasDv = kept.exists(_.dv.isDefined)
      val keyDepth = if (hasDv) dvKeyDepth(path, kept.map(_.rel)) else 1
      applyDeletionVectors(spark, path, kept,
        readDataFiles(spark, path,
          kept.map(a => new HPath(tbl, a.rel).toString), withRowMeta = hasDv,
          versionAsOf = versionAsOf, keyDepth = keyDepth),
        keyDepth = keyDepth)
        .where(expr(predicate))
    }
  }

  /** Rewrite physical-keyed add metadata (top-level stats objects and
    * partitionValues) to logical names so [[DeltaStats.prune]] sees the
    * same vocabulary as the predicate. Unknown keys pass through —
    * pruning stays conservative.
    */
  private def physToLogMap(logical: StructType): Map[String, String] =
    logical.fields.map(f =>
      (if (f.metadata.contains(PhysicalNameKey))
        f.metadata.getString(PhysicalNameKey) else f.name) -> f.name).toMap

  /** Single-entry kernel of [[remapAddsToLogical]]: pure given the
    * physical→logical name map, so the distributed prune can ship it to
    * executors alongside [[DeltaStats.entryMayMatch]].
    */
  private[sources] def remapAddToLogical(a: DeltaStats.AddEntry,
      physToLog: Map[String, String],
      mapper: com.fasterxml.jackson.databind.ObjectMapper): DeltaStats.AddEntry = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    def renameKeys(o: ObjectNode): ObjectNode = {
      val out = mapper.createObjectNode()
      o.fields().forEachRemaining { e =>
        out.set(physToLog.getOrElse(e.getKey, e.getKey), e.getValue): Unit
      }
      out
    }
    val pv = a.partitionValues.map { case (k, v) =>
      physToLog.getOrElse(k, k) -> v }
    val stats = a.stats.flatMap { js =>
      try {
        val node = mapper.readTree(js)
        Seq("minValues", "maxValues", "nullCount").foreach { sect =>
          node.get(sect) match {
            case o: ObjectNode =>
              node.asInstanceOf[ObjectNode].set(sect, renameKeys(o)): Unit
            case _ => ()
          }
        }
        Some(mapper.writeValueAsString(node))
      } catch { case _: Exception => Some(js) }
    }
    a.copy(partitionValues = pv, stats = stats)
  }

  private def remapAddsToLogical(adds: Seq[DeltaStats.AddEntry],
      logical: StructType): Seq[DeltaStats.AddEntry] = {
    val physToLog = physToLogMap(logical)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    adds.map(remapAddToLogical(_, physToLog, mapper))
  }

  /** How many files [[readWhere]] would open for `predicate` vs the
    * snapshot total — the observable skipping ratio (spec-asserted; also a
    * planning aid: ~(kept/total) of the table gets scanned).
    */
  /** Augment `predicate` with partition-pruning conjuncts derived
    * THROUGH generated partition columns (delta-spark's
    * OptimizeGeneratedColumn idea, restricted to the sound equality
    * case): for each top-level `src = <literal>` conjunct and each
    * PARTITION column whose `delta.generationExpression` references
    * only `src`, the expression is evaluated AT the literal and
    * `part = <value>` is appended — a deterministic expression maps
    * equal inputs to equal outputs, so the conjunct is implied. Range
    * predicates are left alone (they would need per-expression
    * monotonicity analysis). Returns the predicate unchanged when
    * nothing applies.
    */
  private def augmentThroughGenerated(spark: SparkSession,
      schemaOpt: Option[StructType], pcols: Seq[String],
      predicate: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo => CEq, Literal => CLit}
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val genParts = generatedColumns(schemaOpt)
      .filter { case (name, _) => pcols.exists(_.equalsIgnoreCase(name)) }
    if (genParts.isEmpty) return predicate
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(predicate)
      catch { case _: Exception => return predicate }
    def conjuncts(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      e match {
        case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
    // the literal's type must match the source column's declared type,
    // or widen to it LOSSLESSLY within the integral family: Spark's
    // equality may otherwise coerce the COLUMN (many-to-one — e.g.
    // string src = int literal casts src to int, so '05' satisfies
    // src = 5), and evaluating the generation expression at the raw
    // literal would then prune files holding rows the coerced
    // comparison keeps
    def typeMatches(src: String, l: CLit): Boolean = {
      import org.apache.spark.sql.types._
      val rank = Map[org.apache.spark.sql.types.DataType, Int](
        ByteType -> 1, ShortType -> 2, IntegerType -> 3, LongType -> 4)
      schemaOpt.exists(_.fields.exists(f =>
        f.name.equalsIgnoreCase(src) && (f.dataType == l.dataType ||
          (rank.contains(l.dataType) && rank.contains(f.dataType) &&
            rank(l.dataType) <= rank(f.dataType)))))
    }
    val equalities: Seq[(String, CLit)] = conjuncts(parsed).collect {
      case CEq(a: UnresolvedAttribute, l: CLit)
          if a.nameParts.length == 1 && typeMatches(a.nameParts.head, l) =>
        (a.nameParts.head, l)
      case CEq(l: CLit, a: UnresolvedAttribute)
          if a.nameParts.length == 1 && typeMatches(a.nameParts.head, l) =>
        (a.nameParts.head, l)
    }
    if (equalities.isEmpty) return predicate
    val extra = genParts.flatMap { case (pname, genSql) =>
      val refs =
        try spark.sessionState.sqlParser.parseExpression(genSql).collect {
          case a: UnresolvedAttribute => a.nameParts.head
        }.distinct
        catch { case _: Exception => Nil }
      refs match {
        case Seq(src) =>
          equalities.find(_._1.equalsIgnoreCase(src)).flatMap {
            case (_, lit) =>
              try {
                // evaluate the generation expression at the literal CAST
                // TO THE DECLARED SOURCE TYPE — typeMatches admits
                // lossless integral widening (int literal, long column),
                // but type-SENSITIVE expressions (hash(src) % 16) yield
                // different values per input type, and a probe at the raw
                // literal's type would imply a wrong partition conjunct
                // that both prunes the matching files and re-filters the
                // surviving rows to empty
                val srcType = schemaOpt.flatMap(_.fields.find(
                  _.name.equalsIgnoreCase(src))).map(_.dataType)
                  .getOrElse(lit.dataType)
                val row = spark.sql(
                  s"SELECT ($genSql) AS g FROM (SELECT " +
                    s"CAST(${lit.sql} AS ${srcType.sql}) AS `$src`)")
                  .first()
                if (row.isNullAt(0)) Some(s"`$pname` IS NULL")
                else {
                  val out = CLit.create(row.get(0),
                    row.schema.fields(0).dataType)
                  Some(s"`$pname` = ${out.sql}")
                }
              } catch { case _: Exception => None }
          }
        case _ => None
      }
    }
    if (extra.isEmpty) predicate
    else s"($predicate) AND ${extra.mkString(" AND ")}"
  }

  def skippingStats(spark: SparkSession, path: String, predicate0: String,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): (Int, Int) = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val predicate = augmentThroughGenerated(spark,
      parsedTableSchema(spark, fs, tbl),
      tablePartitionColumns(spark, fs, tbl).getOrElse(Nil), predicate0)
    // above the log-size threshold both counts come from distributed
    // aggregates — the driver holds two ints, never the add metadata
    keptAddJsonsDf(spark, path, Some(predicate), None, None,
        snapshotDriverMaxBytes) match {
      case Some(keptDs) =>
        val total = activeAddsDfAsOf(spark, path, None)
          .map(_.count().toInt).getOrElse(0)
        (keptDs.count().toInt, total)
      case None =>
        val adds = activeAddsAsOf(spark, path, None)
        val schemaOpt = parsedTableSchema(spark, fs, tbl)
        val pcols = tablePartitionColumns(spark, fs, tbl).getOrElse(Nil)
        val kept = schemaOpt
          .map(s => DeltaStats.prune(spark, predicate, s, pcols, adds))
          .getOrElse(adds)
        (kept.size, adds.size)
    }
  }

  /** OPTIMIZE: bin-pack the snapshot's small files (< `targetBytes`) into
    * ~targetBytes outputs — remove+add with `dataChange=false`, so
    * downstream incremental readers know no rows changed. With `zorderBy`,
    * ALL files are rewritten clustered on the interleaved-bit z-order of
    * the given columns, which concentrates each column's value ranges into
    * few files and multiplies [[readWhere]] skipping on every z-ordered
    * column (not just a lexicographic leading one).
    *
    * Scale shape: bucket boundaries come from one distributed
    * `approxQuantile` pass per z-column (driver holds 256 doubles each);
    * the z-key is a codegen'd column expression; the rewrite shuffles once
    * (`repartitionByRange` on the z-key). No windows, no driver data.
    * Returns the number of files compacted (0 = nothing to do).
    */
  def optimize(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Int = {
    val tbl0 = new HPath(path)
    val fs0 = tbl0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // liquid-clustered tables (delta.clustering domainMetadata): OPTIMIZE
    // without explicit columns clusters on the TABLE's declared
    // clustering columns, like delta-spark's — z-order is our clustering
    // kernel, and its interleaved-bit layout serves the same
    // skip-on-any-clustered-column contract. Explicit zorderBy wins.
    val zCols =
      if (zorderBy.nonEmpty) zorderBy
      else clusteringColumns(spark, fs0, tbl0)
    // row tracking: compaction reorders rows across files, so positional
    // id defaults break — every restaged row's id/commit-version is
    // materialized into the hidden columns before the rewrite
    val (rowTrack, matCols, rtExtraCols) =
      rowTrackingRewriteInfo(spark, fs0, tbl0, "optimize")
    requireWriterCapability(spark, fs0, tbl0, "optimize",
      adds = false, removes = false, rewrites = true,
      rowIdsHandled = rowTrack)
    // fold + small-file filter run distributedly above the log-size
    // threshold: the driver materializes only the VICTIM entries (a
    // z-order rewrite is inherently O(table) — every file restages and
    // must be listed in the commit's remove set)
    val bytesCap = targetBytes
    val victims =
      if (zCols.nonEmpty)
        activeAddsWhere(spark, path,
          snapshotDriverMaxBytes = snapshotDriverMaxBytes)
      else activeAddsWhere(spark, path,
        keep = Some((a: DeltaStats.AddEntry) => a.size < bytesCap),
        snapshotDriverMaxBytes = snapshotDriverMaxBytes)
    if (victims.size <= 1 && zCols.isEmpty) return 0
    if (victims.isEmpty) return 0
    val tbl = new HPath(path)
    val files = victims.map(a => new HPath(tbl, a.rel).toString)
    val totalBytes = math.max(1L, victims.map(_.size).sum)
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val dvVictims = victims.filter(_.dv.isDefined)
    if (dvVictims.nonEmpty || columnMappingMode(spark, fs0, tbl0) != "none") {
      // DV'd victims materialize their row filters in the restage: live
      // rows only (the same executor-side bitmap anti-join the snapshot
      // read uses), removes echo the superseded descriptors, replacements
      // carry no DV — still dataChange=false, since compaction plus DV
      // materialization changes no LIVE row. Untouched (non-victim) files
      // keep their descriptors. The logical read + logicalFrame restage
      // round-trips physical names on mapped tables — and, for id-mode
      // tables, re-emits the parquet field ids (the by-id read comes back
      // logical-named; commitRewrite's id staging annotates the rewrite).
      val keyDepth = dvKeyDepth(path, victims.map(_.rel))
      val live0 = applyDeletionVectors(spark, path, victims,
        readDataFiles(spark, path, files, withRowMeta = true,
          keyDepth = keyDepth, extraCols = rtExtraCols),
        keepMeta = rowTrack, keyDepth = keyDepth)
      val live = matCols.map { case (mid, mver) =>
          withMaterializedRowIds(spark, path, victims, live0,
            mid, mver, keyDepth).drop(DvFileCol, DvRowCol) }
        .getOrElse(live0)
      val (toWrite, packed) =
        if (zCols.isEmpty) (live, Some(nOut))
        else (zorderCluster(live, zCols, nOut), None)
      commitRewrite(spark, path, "OPTIMIZE", victims.map(_.rel).sorted, toWrite,
        dataChange = false, numFiles = packed, logicalFrame = true,
        removeDvJson = dvVictims.map(a =>
          a.rel -> dvDescriptorJson(a.dv.get)).toMap,
        removeSize = victims.map(a => a.rel -> a.size).toMap)
      return victims.size
    }
    // plain (mode=none) tables restage under the log-declared schema;
    // footer merge only when the log has no parseable schemaString.
    // Mapped tables never reach here — they take the logical-read route
    // above, which re-emits physical names (and field ids) on restage.
    val df = matCols match {
      case Some((mid, mver)) =>
        // row-tracked compaction: scan with row meta + the hidden
        // columns, attach every row's current id, drop the meta
        val keyDepth = dvKeyDepth(path, victims.map(_.rel))
        withMaterializedRowIds(spark, path, victims,
          readDataFiles(spark, path, files, withRowMeta = true,
            keyDepth = keyDepth, extraCols = rtExtraCols),
          mid, mver, keyDepth).drop(DvFileCol, DvRowCol)
      case None =>
        val restageSchema = parsedTableSchema(spark, fs0, tbl0)
          .map(declared => stripMeta(declared).asInstanceOf[StructType])
        val reader0 = spark.read.option("basePath", path)
        restageSchema match {
          case Some(s) => reader0.schema(s).parquet(files: _*)
          case None =>
            reader0.option("mergeSchema", "true").parquet(files: _*)
        }
    }
    val (toWrite, packed) =
      if (zCols.isEmpty) (df, Some(nOut))
      else (zorderCluster(df, zCols, nOut), None)
    commitRewrite(spark, path, "OPTIMIZE", victims.map(_.rel).sorted, toWrite,
      dataChange = false, numFiles = packed, logicalFrame = false,
      removeSize = victims.map(a => a.rel -> a.size).toMap)
    victims.size
  }

  /** Cluster `df` into `nOut` range partitions of the z-order key of
    * `cols`: per column, a 256-bucket quantile id (boundaries via one
    * `approxQuantile` pass, bucket = codegen'd count-of-boundaries-≤-value
    * over the 255-literal array), then the bucket ids' bits interleaved so
    * proximity in EVERY column maps to proximity in the key.
    */
  private def zorderCluster(df: DataFrame, cols: Seq[String], nOut: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "zorder: need at least one column")
    val bits = 8 // 256 buckets per column
    val n = cols.length
    val bucketCols = cols.zipWithIndex.map { case (c, i) =>
      // quantile boundaries (255 cut points between 256 buckets); constant
      // column or all-null → single bucket 0
      val probs = (1 until (1 << bits)).map(_.toDouble / (1 << bits)).toArray
      val bounds = df.stat.approxQuantile(c, probs, 0.001)
      if (bounds.isEmpty) lit(0L)
      else {
        val arr = array(bounds.toSeq.map(lit): _*)
        // bucket id = #boundaries ≤ value (codegen'd fold, no UDF); nulls
        // land in bucket 0
        val v = col(c).cast("double")
        aggregate(arr, lit(0L),
          (acc, b) => acc + when(v.isNotNull && v >= b, 1L).otherwise(0L))
      }
    }
    // interleave: bit j of bucket i → z-bit j*n + i
    val zkey = (0 until bits).foldLeft(lit(0L)) { (acc, j) =>
      cols.indices.foldLeft(acc) { (a, i) =>
        a + shiftleft(shiftright(bucketCols(i), j) % 2, j * n + i)
      }
    }
    df.withColumn("graft_zkey", zkey)
      .repartitionByRange(nOut, col("graft_zkey"))
      .sortWithinPartitions("graft_zkey")
      .drop("graft_zkey")
  }

  /** Commit history, newest first: (version, operation, txnId) from each
    * commit's commitInfo. Versions folded into a cleaned-up checkpoint no
    * longer have commit files and are not listed — same visibility rule as
    * time travel.
    */
  def history(spark: SparkSession, path: String): Seq[(Long, String, String)] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    val mapper = new ObjectMapper()
    existingVersions(fs, log).reverse.map { v =>
      val info = readString(fs, new HPath(log, commitName(v))).linesIterator
        .flatMap { line =>
          val node = try mapper.readTree(line) catch { case _: Exception => null }
          Option(if (node == null) null else node.get("commitInfo"))
        }.nextOption()
      (v,
        info.flatMap(i => Option(i.get("operation"))).map(_.asText).getOrElse(""),
        info.flatMap(i => Option(i.get("txnId"))).map(_.asText).getOrElse(""))
    }
  }

  /** RESTORE to `version`: commit a new version whose remove set is the
    * files active NOW but not at the target, and whose add set is the
    * files active at the target but not now — the table's latest snapshot
    * becomes byte-identical to the historical one while history (and time
    * travel to the interim versions) is preserved. Fails if the target's
    * files were vacuumed away.
    */
  def restore(spark: SparkSession, path: String, version: Long,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Unit = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNotAppendOnly(spark, fs, tbl, "restore")
    // rowIdsHandled: restore re-references ORIGINAL files, echoing their
    // baseRowId/defaultRowCommitVersion — ids come back exactly as they
    // were at the target version
    requireWriterCapability(spark, fs, tbl, "restore",
      adds = true, removes = true, rewrites = true,
      rowIdsHandled = true)
    // DV-aware: snapshots compare as (path, DV descriptor) pairs — a file
    // live at both endpoints but with a DIFFERENT deletion vector is
    // remove+re-added with the TARGET's descriptor (the protocol shape of
    // a DV update), so restoring across DV deletes resurrects exactly the
    // target version's row set.
    def dvKey(a: DeltaStats.AddEntry): String =
      a.dv.map(dvDescriptorJson).getOrElse("")
    val logP = logDir(tbl)
    val large = fs.exists(logP) &&
      snapshotLogBytes(fs, logP, None) > snapshotDriverMaxBytes
    // the two snapshots DIFF to (removeEntries, addEntries) — O(changed
    // files), exactly the commit being authored. Above the log-size
    // threshold both folds, the diff join, the DV comparison and the
    // vacuumed-file existence checks all run in EXECUTORS; the driver
    // collects only the diff
    val (removeEntries, addEntries): (Seq[DeltaStats.AddEntry], Seq[DeltaStats.AddEntry]) =
      if (!large) {
        val targetAdds = activeAddsAsOf(spark, path, Some(version))
        val currentAdds = activeAddsAsOf(spark, path, None)
        val targetByRel = targetAdds.map(a => a.rel -> a).toMap
        val currentByRel = currentAdds.map(a => a.rel -> a).toMap
        targetAdds.foreach { a =>
          if (!fs.exists(new HPath(tbl, a.rel)))
            throw graft.GraftError.InvalidOperation("restore",
              s"file ${a.rel} of version $version was vacuumed — cannot restore")
          // the target's DV payload must still exist too (an old bin a
          // later vacuum swept away cannot be re-referenced)
          a.dv.foreach { d =>
            val bin = d.storageType match {
              case "u" => Some(dvFilePath(tbl, d.pathOrInlineDv))
              case "p" => Some(new HPath(d.pathOrInlineDv))
              case _ => None // inline payloads live in the log itself
            }
            bin.foreach { b =>
              if (!fs.exists(b)) throw graft.GraftError.InvalidOperation("restore",
                s"deletion-vector file ${b.getName} of version $version was " +
                  "vacuumed — cannot restore")
            }
          }
        }
        val removes = currentAdds
          .filter(a => !targetByRel.contains(a.rel))
        val adds = targetAdds.filter { a =>
          currentByRel.get(a.rel).forall(c => dvKey(c) != dvKey(a)) }
        // a path present at both endpoints with a changed DV re-adds under
        // the target descriptor; the protocol pairs that with a remove of
        // the superseded entry (echoing ITS descriptor)
        val dvSwaps = adds.filter(a => currentByRel.contains(a.rel))
        ((removes ++ dvSwaps.flatMap(a => currentByRel.get(a.rel)))
          .sortBy(_.rel), adds.sortBy(_.rel))
      } else {
        val tDf = activeAddsDfAsOf(spark, path, Some(version)).getOrElse(
          throw new IllegalArgumentException(
            s"restore: empty or missing _delta_log in $path"))
          .select(col("graft_path").as("graft_p"),
            col("graft_add").as("graft_t"))
          .localCheckpoint(true) // diff join + existence check
        val cDf = activeAddsDfAsOf(spark, path, None).getOrElse(
          throw new IllegalArgumentException(
            s"restore: empty or missing _delta_log in $path"))
          .select(col("graft_path").as("graft_p2"),
            col("graft_add").as("graft_c"))
        val sess = spark
        import sess.implicits._
        // vacuumed-file check over the TARGET snapshot, in executors:
        // only the missing names come back
        val confEntries: Array[(String, String)] = {
          val it = spark.sparkContext.hadoopConfiguration.iterator()
          val b = Array.newBuilder[(String, String)]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue }
          b.result()
        }
        val tblStr = path
        val missing: Array[String] = tDf.select("graft_t").as[String]
          .mapPartitions { it =>
            lazy val conf = {
              val c = new org.apache.hadoop.conf.Configuration(false)
              confEntries.foreach { case (k, v) => c.set(k, v) }
              c
            }
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            it.flatMap { s =>
              val node = try mapper.readTree(s) catch { case _: Exception => null }
              Option(node).flatMap(parseAddEntry).toSeq.flatMap { e =>
                val base = new HPath(tblStr)
                val f = new HPath(base, e.rel)
                val ffs = f.getFileSystem(conf)
                val dataMissing =
                  if (!ffs.exists(f)) Seq(s"file ${e.rel}") else Nil
                val binMissing = e.dv.toSeq.flatMap { d =>
                  val bin = d.storageType match {
                    case "u" => Some(dvFilePath(base, d.pathOrInlineDv))
                    case "p" => Some(new HPath(d.pathOrInlineDv))
                    case _ => None
                  }
                  bin.filterNot(ffs.exists)
                    .map(b => s"deletion-vector file ${b.getName}")
                }
                dataMissing ++ binMissing
              }
            }
          }.collect()
        if (missing.nonEmpty)
          throw graft.GraftError.InvalidOperation("restore",
            s"${missing.head} of version $version was vacuumed — cannot restore")
        val joined = tDf.join(cDf, tDf("graft_p") === cDf("graft_p2"),
            "full_outer")
          .select(col("graft_t"), col("graft_c"))
        val tagged: Array[(String, String)] = joined.as[(String, String)]
          .mapPartitions { it =>
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            def dvOf(s: String): String = {
              val node = try mapper.readTree(s) catch { case _: Exception => null }
              Option(node).flatMap(parseAddEntry).flatMap(_.dv)
                .map(dvDescriptorJson).getOrElse("")
            }
            it.flatMap { case (t, c) =>
              if (t == null) Seq(("remove", c))
              else if (c == null) Seq(("add", t))
              // DV generation swap: re-add under the target descriptor,
              // remove the superseded entry (echoing ITS descriptor)
              else if (dvOf(t) != dvOf(c)) Seq(("remove", c), ("add", t))
              else Nil
            }
          }.collect()
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        def parse(s: String): Option[DeltaStats.AddEntry] = {
          val node = try mapper.readTree(s) catch { case _: Exception => null }
          Option(node).flatMap(parseAddEntry)
        }
        (tagged.collect { case ("remove", s) => s }.toSeq
          .flatMap(parse(_)).sortBy(_.rel),
          tagged.collect { case ("add", s) => s }.toSeq
            .flatMap(parse(_)).sortBy(_.rel))
      }
    val log = logDir(tbl)
    val next = nextVersion(fs, log).getOrElse(0L)
    val txnId = java.util.UUID.randomUUID().toString
    val actions = ListBuffer.empty[String]
    actions += commitInfoJson("RESTORE", txnId, fs, tbl,
      tableConfiguration(spark, fs, tbl))
    val now = System.currentTimeMillis()
    removeEntries.foreach { a =>
      val removedDv = a.dv.map(d =>
        s""","deletionVector":${dvDescriptorJson(d)}""").getOrElse("")
      actions += s"""{"remove":{"path":"${esc(a.rel)}",""" +
        s""""deletionTimestamp":$now,"dataChange":true,"size":${a.size}$removedDv}}"""
    }
    addEntries.foreach { a =>
      val pvJson = a.partitionValues.map { case (k, v) =>
        s""""${esc(k)}":${if (v == null) "null" else "\"" + esc(v) + "\""}"""
      }.mkString("{", ",", "}")
      val stats = a.stats.map(js => s""","stats":"${esc(js)}"""").getOrElse("")
      val dvJson = a.dv.map(d =>
        s""","deletionVector":${dvDescriptorJson(d)}""").getOrElse("")
      // row tracking: restore re-references the ORIGINAL unmodified
      // files — echoing their baseRowId/defaultRowCommitVersion keeps
      // every positional id exactly what it was at the target version
      val rowField = (a.baseRowId, a.defaultRowCommitVersion) match {
        case (Some(b), Some(v)) =>
          s""","baseRowId":$b,"defaultRowCommitVersion":$v"""
        case _ => ""
      }
      actions += s"""{"add":{"path":"${esc(a.rel)}","partitionValues":$pvJson,""" +
        s""""size":${a.size},"modificationTime":$now,"dataChange":true""" +
        s"""$stats$dvJson$rowField}}"""
    }
    if (!acquireCommitSlot(fs, log, next, txnId, actions.mkString("\n") + "\n"))
      throw graft.GraftError.WriteError(path, "restore",
        s"version-$next commit lost to a concurrent writer — re-run restore")
  }

  /** Delete commit files already folded into the newest checkpoint — the
    * log-retention companion of [[vacuum]]: checkpoints bound REPLAY cost,
    * this bounds the `_delta_log` LISTING itself, which is what grows
    * unbounded on a high-frequency writer (a streaming sink committing
    * every few seconds writes ~10⁶ commits/month). Readers are unaffected:
    * snapshot replay, schema and partition-column resolution all fall back
    * to the checkpoint; time travel to a cleaned version fails typed (its
    * commit is gone — same visibility rule as real delta's log retention).
    * Returns the deleted commit file names.
    */
  def cleanupLog(spark: SparkSession, path: String,
      sidecarGraceMs: Long = 3600000L): Seq[String] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = logDir(tbl)
    // deleting folded commits destroys any action kinds the checkpoint
    // fold didn't carry — gate like writeCheckpoint (domainMetadata
    // folds, so row-tracked tables clean up fine)
    requireWriterCapability(spark, fs, tbl, "cleanup_log",
      adds = false, removes = false, rewrites = true,
      rowIdsHandled = true)
    val cp = lastCheckpointVersion(fs, log).getOrElse(return Nil)
    // checkpointProtection (delta 4.x): NOTHING below
    // delta.requireCheckpointProtectionBeforeVersion may be swept or
    // rewritten — a protected checkpoint backs readers that cannot
    // replay the (possibly foreign-compacted) history beneath it. The
    // conservative stance the protocol allows: skip cleanup below the
    // boundary entirely.
    val protV = checkpointProtectionVersion(spark, fs, tbl)
    val victims = existingVersions(fs, log)
      .filter(v => v <= cp && v >= protV).map(commitName)
    victims.foreach(n => fs.delete(new HPath(log, n), false))
    // version checksums of the cleaned commits go too — EXCEPT the
    // newest one (≤ cp): the next commit's incremental crc seeds from
    // its predecessor, and sweeping the seed would end the chain
    val crcVictims = fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(n => n.matches("\\d{20}\\.crc") && n.take(20).toLong <= cp &&
        n.take(20).toLong >= protV)
      .sorted.dropRight(1)
    crcVictims.foreach(n => fs.delete(new HPath(log, n), false))
    // checkpoints OLDER than the newest are superseded (replay always
    // seeds from the newest) — without this sweep a long-lived table
    // accumulates one checkpoint's worth of parquet per interval forever
    val staleCps = fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(n => n.matches("\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet") &&
        n.take(20).toLong < cp && n.take(20).toLong >= protV)
      .sorted
    staleCps.foreach(n => fs.delete(new HPath(log, n), false))
    // superseded V2 manifests (UUID-named, version < the newest
    // checkpoint) sweep like stale classic checkpoints do
    val v2Name = "^(\\d{20})\\.checkpoint\\.([^.]+)\\.(parquet|json)$".r
    def isV2Manifest(n: String): Boolean = n match {
      case v2Name(_, mid, _) => !mid.forall(_.isDigit)
      case _ => false
    }
    val v2Stale = fs.listStatus(log).toSeq.map(_.getPath.getName)
      .filter(n => isV2Manifest(n) && n.take(20).toLong < cp &&
        n.take(20).toLong >= protV)
      .sorted
    v2Stale.foreach(n => fs.delete(new HPath(log, n), false))
    // sidecar files referenced by NO remaining manifest are orphans
    // (sidecars may be SHARED across manifests, so the reference set is
    // the union over every manifest that survives)
    val sidecarDir = new HPath(log, "_sidecars")
    val sweptSidecars: Seq[String] =
      if (!fs.exists(sidecarDir)) Nil
      else {
        val remaining = fs.listStatus(log).toSeq.map(_.getPath.getName)
          .filter(isV2Manifest)
        val referenced: Set[String] = remaining.flatMap { n =>
          val p = new HPath(log, n)
          val df = if (n.endsWith(".json")) spark.read.json(p.toString)
            else spark.read.parquet(p.toString)
          if (!df.columns.contains("sidecar")) Nil
          else df.where(col("sidecar").isNotNull)
            .select(col("sidecar.path")).collect()
            .map(_.getString(0)).toSeq
        }.map(sp =>
          if (sp.contains("/")) new HPath(sp).getName else sp).toSet
        // grace window: a concurrent writeCheckpoint renames sidecars
        // into place BEFORE its manifest lands, so an unreferenced-but-
        // fresh sidecar may belong to a checkpoint mid-write — sweeping
        // it would leave the about-to-land manifest referencing missing
        // files and every later load refusing. Only sidecars older than
        // `sidecarGraceMs` are treated as true orphans (same stance as
        // vacuum's stage retention).
        val now = System.currentTimeMillis()
        fs.listStatus(sidecarDir).toSeq
          .filter(s => now - s.getModificationTime > sidecarGraceMs)
          .map(_.getPath.getName)
          .filterNot(referenced).sorted
      }
    sweptSidecars.foreach(n => fs.delete(new HPath(sidecarDir, n), false))
    victims ++ staleCps ++ v2Stale ++ sweptSidecars.map(n => s"_sidecars/$n")
  }

  /** Delete data files not referenced by the CURRENT snapshot — the
    * cleanup that bounds a long-lived table's directory growth (overwrite
    * wipes, but failed writes and replaced-by-checkpoint history leave
    * orphans). Time travel to versions whose files are vacuumed away
    * stops working, like real delta VACUUM; the log itself is kept.
    * DV-aware: deletion_vector_*.bin files are swept through their OWN
    * reference set (the active adds' descriptors), never the data-file
    * listing — a superseded DV generation is an orphan exactly like a
    * rewritten parquet file. Returns the deleted relative paths.
    */
  /** Default data-file retention window: a file stays on disk for 7 days
    * after the commit that removed it from the snapshot, matching real
    * delta's `deletedFileRetentionDuration` floor — a concurrent reader
    * mid-query on the previous version, or any time-travel read inside
    * the window, must not race the sweep.
    */
  /** Default touched-file budget for [[deleteWhereViaDv]]: above this
    * many touched files the per-file payload collect stops being "a few
    * MB on the driver" and the copy-on-write route wins anyway (most of
    * every file is being rewritten as bitmap instead of data).
    */
  val DvDeleteMaxTouchedFiles: Int = 10000

  val DefaultVacuumRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** Delta's retention-property syntax — `interval N unit(s)` (the
    * CalendarInterval subset table properties use, e.g. "interval 1
    * week", "interval 30 days") — parsed to milliseconds. None on
    * anything unparseable: the caller falls back to its default rather
    * than guessing.
    */
  private[sources] def parseDeltaInterval(s: String): Option[Long] = {
    val m = "(?i)^\\s*(?:interval\\s+)?(\\d+)\\s*(millisecond|second|minute|hour|day|week)s?\\s*$"
      .r.findFirstMatchIn(s)
    m.flatMap { g =>
      val n = scala.util.Try(g.group(1).toLong).toOption
      val unit = g.group(2).toLowerCase match {
        case "millisecond" => 1L
        case "second" => 1000L
        case "minute" => 60L * 1000
        case "hour" => 3600L * 1000
        case "day" => 24L * 3600 * 1000
        case "week" => 7L * 24 * 3600 * 1000
      }
      n.map(_ * unit)
    }
  }

  def vacuum(spark: SparkSession, path: String,
      stageRetentionMs: Long = 3600000L,
      retentionMs: Long = DefaultVacuumRetentionMs,
      snapshotDriverMaxBytes: Long = SnapshotDriverMaxBytes): Seq[String] = {
    val tbl = new HPath(path)
    val fs = tbl.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // version/feature floor only: vacuum deletes UNREFERENCED files, so
    // no row delta and no restage — but an unknown v7 writer feature may
    // reference files through actions this replay doesn't parse
    if (fs.exists(logDir(tbl)))
      requireWriterCapability(spark, fs, tbl, "vacuum",
        adds = false, removes = false, rewrites = false)
    val base = fs.makeQualified(tbl).toUri.getPath.stripSuffix("/")
    // active reference sets: RELATIVE PATH STRINGS of the live data
    // files and of the bins their DV descriptors reference. Above the
    // log-size threshold both come from the distributed fold — the
    // driver keeps two path-string sets (what the listing diff needs
    // anyway), never the snapshot's add metadata
    val large = fs.exists(logDir(tbl)) &&
      snapshotLogBytes(fs, logDir(tbl), None) > snapshotDriverMaxBytes
    val (active: Set[String], referencedBins: Set[String]) =
      if (large) {
        val snap = activeAddsDfAsOf(spark, path, None).getOrElse(
          throw new IllegalArgumentException(
            s"vacuum: empty or missing _delta_log in $path"))
          .localCheckpoint(true) // rels + bins
        val sess = spark
        import sess.implicits._
        val qualifiedTbl = fs.makeQualified(tbl).toString
        val baseStr = base
        val rels = snap.select("graft_path").as[String].collect()
          .map(r => new HPath(new HPath(qualifiedTbl), r).toUri.getPath
            .stripPrefix(baseStr).stripPrefix("/")).toSet
        val bins = snap.select("graft_add").as[String]
          .mapPartitions { it =>
            val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
            it.flatMap { s =>
              val node = try mapper.readTree(s) catch { case _: Exception => null }
              Option(node).flatMap(parseAddEntry).flatMap(_.dv).flatMap { d =>
                d.storageType match {
                  case "u" => Some(dvFilePath(new HPath(qualifiedTbl),
                    d.pathOrInlineDv).toUri.getPath
                    .stripPrefix(baseStr).stripPrefix("/"))
                  case "p" => Some(new HPath(d.pathOrInlineDv).toUri.getPath
                    .stripPrefix(baseStr).stripPrefix("/"))
                  case _ => None // inline payloads live in the log itself
                }
              }
            }
          }.collect().toSet
        (rels, bins)
      } else {
        val activeAdds = activeAddsAsOf(spark, path, None)
        // qualify each active path the same way as `base` — add rels
        // resolve against the caller's (possibly relative) table path,
        // and an unqualified string would never strip to a relative key
        (activeAdds
          .map(a => fs.makeQualified(new HPath(tbl, a.rel)).toUri.getPath
            .stripPrefix(base).stripPrefix("/"))
          .toSet,
          activeAdds.flatMap(_.dv).flatMap { d =>
            d.storageType match {
              case "u" => Some(fs.makeQualified(dvFilePath(tbl, d.pathOrInlineDv))
                .toUri.getPath.stripPrefix(base).stripPrefix("/"))
              case "p" => Some(fs.makeQualified(new HPath(d.pathOrInlineDv))
                .toUri.getPath.stripPrefix(base).stripPrefix("/"))
              case _ => None // inline payloads live in the log itself
            }
          }.toSet)
      }
    // removal timestamps from the retained commits' remove actions —
    // rel → newest deletionTimestamp, and the same for DV bin files via
    // the descriptors the removes echo. An orphan whose remove was
    // cleaned up with its commit is at least as old as the checkpoint
    // that replaced those commits (cleanupLog deletes only ≤-checkpoint
    // versions), so the checkpoint file's own mtime bounds it; untracked
    // debris (a writer that crashed between its stage-move and commit)
    // falls back to the file's mtime — young debris survives, so a
    // vacuum never destroys an in-flight cross-process write.
    val cutoff =
      if (retentionMs <= 0L) Long.MaxValue
      else System.currentTimeMillis() - retentionMs
    val (removedAtByRel, binRemovedAt): (Map[String, Long], Map[String, Long]) =
      if (retentionMs <= 0L) (Map.empty, Map.empty)
      else {
        import com.fasterxml.jackson.databind.ObjectMapper
        val mapper = new ObjectMapper()
        val rels = scala.collection.mutable.Map.empty[String, Long]
        val bins = scala.collection.mutable.Map.empty[String, Long]
        val log = logDir(tbl)
        existingVersions(fs, log).foreach { v =>
          readString(fs, new HPath(log, commitName(v))).linesIterator.foreach { line =>
            val node = try mapper.readTree(line) catch { case _: Exception => null }
            val rem = if (node == null) null else node.get("remove")
            if (rem != null && rem.get("path") != null) {
              val ts =
                if (rem.get("deletionTimestamp") != null)
                  rem.get("deletionTimestamp").asLong(0L)
                else 0L
              val rel = rem.get("path").asText
              rels(rel) = math.max(rels.getOrElse(rel, 0L), ts)
              val dv = rem.get("deletionVector")
              if (dv != null && !dv.isNull && dv.get("storageType") != null) {
                val st = dv.get("storageType").asText
                val por = if (dv.get("pathOrInlineDv") == null) ""
                  else dv.get("pathOrInlineDv").asText
                val binRel = st match {
                  case "u" => Some(fs.makeQualified(dvFilePath(tbl, por))
                    .toUri.getPath.stripPrefix(base).stripPrefix("/"))
                  case "p" => Some(fs.makeQualified(new HPath(por))
                    .toUri.getPath.stripPrefix(base).stripPrefix("/"))
                  case _ => None
                }
                binRel.foreach(b => bins(b) = math.max(bins.getOrElse(b, 0L), ts))
              }
            }
          }
        }
        (rels.toMap, bins.toMap)
      }
    val checkpointMtime: Option[Long] =
      lastCheckpointVersion(fs, logDir(tbl)).flatMap { v =>
        val cp = new HPath(logDir(tbl), f"$v%020d.checkpoint.parquet")
        if (fs.exists(cp)) Some(fs.getFileStatus(cp).getModificationTime)
        else {
          // multi-part checkpoints: <v>.checkpoint.<i>.<n>.parquet
          val parts = fs.listStatus(logDir(tbl)).filter(_.getPath.getName
            .startsWith(f"$v%020d.checkpoint."))
          if (parts.isEmpty) None
          else Some(parts.map(_.getModificationTime).max)
        }
      }
    def removedAt(rel: String, recorded: Map[String, Long]): Long =
      recorded.get(rel)
        .orElse(checkpointMtime.map { cpTs =>
          // remove cleaned with its commit ⇒ it predates the checkpoint;
          // still floor at the file's own mtime for untracked debris
          val f = new HPath(tbl, rel)
          if (fs.exists(f)) math.max(cpTs, fs.getFileStatus(f).getModificationTime)
          else cpTs
        })
        .getOrElse {
          val f = new HPath(tbl, rel)
          if (fs.exists(f)) fs.getFileStatus(f).getModificationTime
          else 0L
        }
    val orphans = dataFiles(fs, tbl).keys.filterNot(active).toSeq.sorted
      .filter(rel => removedAt(rel, removedAtByRel) < cutoff)
    orphans.foreach(rel => fs.delete(new HPath(tbl, rel), false))
    // change-data files (cdc actions; the '_' prefix hides them from
    // dataFiles): one file belongs to exactly one commit, so a file is
    // sweepable once no EXISTING commit references it (its commit was
    // folded away by cleanupLog) and it has aged past retention — the
    // same window delta-spark vacuums CDF under
    val cdcDir = new HPath(tbl, "_change_data")
    val cdcOrphans: Seq[String] =
      if (!fs.exists(cdcDir)) Nil
      else {
        val referenced: Set[String] = {
          import com.fasterxml.jackson.databind.ObjectMapper
          val mapper = new ObjectMapper()
          val log = logDir(tbl)
          existingVersions(fs, log).flatMap { v =>
            readString(fs, new HPath(log, commitName(v))).linesIterator.flatMap { line =>
              val node = try mapper.readTree(line) catch { case _: Exception => null }
              val cd = if (node == null) null else node.get("cdc")
              if (cd != null && cd.get("path") != null)
                Some(cd.get("path").asText) else None
            }.toSeq
          }.toSet
        }
        // walk RECURSIVELY: foreign writers (delta-spark) lay cdc files
        // of partitioned tables under _change_data/<pcol>=<val>/ dirs
        val files = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
        def walk(dir: HPath): Unit = fs.listStatus(dir).foreach { s =>
          if (s.isDirectory) walk(s.getPath)
          else if (s.getPath.getName.endsWith(".parquet")) files += s
        }
        walk(cdcDir)
        val qualifiedTblBase = fs.makeQualified(tbl).toUri.getPath.stripSuffix("/")
        files.toSeq
          .map(s => s.getPath.toUri.getPath
            .stripPrefix(qualifiedTblBase).stripPrefix("/") -> s)
          .filter { case (rel, s) =>
            !referenced(rel) && s.getModificationTime < cutoff }
          .map(_._1)
      }
    cdcOrphans.foreach(rel => fs.delete(new HPath(tbl, rel), false))
    // DV bin sweep: bins referenced by ACTIVE descriptors survive
    // (`referencedBins`, built above alongside the active set);
    // superseded generations (a later delete re-wrote every descriptor
    // into a fresh bin) are deleted. Time travel to pre-sweep DV
    // versions stops working, same rule as data files.
    val binOrphans = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(dir: HPath): Unit = fs.listStatus(dir).foreach { s =>
        val name = s.getPath.getName
        if (name.startsWith("_") || name.startsWith(".graft_stage_")) ()
        else if (s.isDirectory) walk(s.getPath)
        else if (name.startsWith("deletion_vector_") && name.endsWith(".bin"))
          out += s.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      }
      if (fs.exists(tbl)) walk(tbl)
      out.toSeq.filterNot(referencedBins).sorted
        // same retention floor as data files: a superseded DV generation
        // is still needed by readers inside the window (the remove that
        // superseded it echoes its descriptor — that deletionTimestamp
        // is the bin's removal time)
        .filter(rel => removedAt(rel, binRemovedAt) < cutoff)
    }
    binOrphans.foreach(rel => fs.delete(new HPath(tbl, rel), false))
    // crashed-write staging debris: a hard-killed writer leaves its
    // staging dir behind (in-table for append/merge, sibling for
    // overwrite — see [[write]]). Only stages older than the retention
    // are swept, so a LIVE cross-process writer's staging survives a
    // concurrent vacuum — the same retention-window reasoning real delta
    // VACUUM applies to data files.
    val stageCutoff = System.currentTimeMillis() - stageRetentionMs
    def staleStages(dir: HPath, prefix: String): Seq[HPath] =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(prefix) &&
        st.getModificationTime < stageCutoff).map(_.getPath)
    val stages = staleStages(tbl, ".graft_stage_") ++
      (if (tbl.getParent == null) Nil
       else staleStages(tbl.getParent, s".graft_stage_${tbl.getName}_"))
    stages.foreach(st => fs.delete(st, true))
    orphans ++ cdcOrphans ++ binOrphans ++ stages.map(_.getName).sorted
  }
}
