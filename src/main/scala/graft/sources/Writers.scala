package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Sink surface (reference SURVEY §2.2). The reference writes exactly ONE
  * file per sink and implements append as read-existing + column-set check
  * + UNION ALL + atomic rewrite (src/elusion.rs:5182-5722); `writeXxxSingle`
  * reproduces that contract (driver-coalesced — correct at any input size
  * because the coalesce(1) only serializes the final write, upstream stays
  * parallel). For cluster-scale output use the `Dir` variants, which keep
  * one file per partition.
  */
object Writers {

  private def findPart(dir: Path, ext: String): Path = {
    val found = Files.list(dir).filter(p =>
      p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(ext)).findFirst()
    if (found.isPresent) found.get
    else throw new IllegalStateException(s"no part file in $dir")
  }

  private def writeSingle(df: DataFrame, path: String, ext: String)(
      write: (DataFrame, String) => Unit): Unit = {
    val target = Paths.get(path)
    val tmp = Paths.get(path + "_graft_tmp")
    deleteRecursive(tmp)
    write(df.coalesce(1), tmp.toString)
    Files.createDirectories(target.toAbsolutePath.getParent)
    Files.move(findPart(tmp, ext), target, StandardCopyOption.REPLACE_EXISTING)
    deleteRecursive(tmp)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }

  /** CSV writer options (reference src/csvwrite/csvwriteops.rs:4-86). */
  case class CsvOptions(delimiter: String = ",", quote: String = "\"",
      escape: String = "\"", nullValue: String = "", header: Boolean = true)

  /** Single-file CSV with overwrite/append; append validates the existing
    * file has the same column set then rewrites (src/elusion.rs:5377-5722).
    */
  def writeCsvSingle(df: DataFrame, mode: String, path: String,
      opts: CsvOptions = CsvOptions()): Unit = {
    val m = mode.toLowerCase
    val out = m match {
      case "overwrite" => df
      case "append" if Files.exists(Paths.get(path)) =>
        val spark = df.sparkSession
        val existing = spark.read
          .option("header", opts.header.toString).option("sep", opts.delimiter)
          .csv(path)
        if (!existing.columns.sorted.sameElements(df.columns.sorted))
          throw graft.GraftError.WriteError(path, "write_to_csv append",
            s"column mismatch (${existing.columns.mkString(",")} vs ${df.columns.mkString(",")})")
        // align types: existing (all-string) columns cast to df's schema
        val aligned = existing.select(df.schema.fields.map(f =>
          org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        aligned.unionByName(df)
      case "append" => df
      case other => throw graft.GraftError.WriteError(path, "write_to_csv",
        s"bad mode '$other'")
    }
    writeSingle(out, path, ".csv") { (d, p) =>
      d.write.mode(SaveMode.Overwrite)
        .option("header", opts.header.toString)
        .option("sep", opts.delimiter)
        .option("quote", opts.quote)
        .option("escape", opts.escape)
        .option("nullValue", opts.nullValue)
        .csv(p)
    }
  }

  /** Single-file parquet with overwrite/append-rewrite
    * (src/elusion.rs:5182-5374).
    */
  def writeParquetSingle(df: DataFrame, mode: String, path: String): Unit = {
    val m = mode.toLowerCase
    val out = m match {
      case "overwrite" => df
      case "append" if Files.exists(Paths.get(path)) =>
        // NTZ-normalize the re-read so appending a TIMESTAMP frame onto a
        // file whose footer lacks isAdjustedToUTC doesn't union TS with NTZ
        val existing = Loaders.normalizeNtzTimestamps(
          Loaders.readParquet(df.sparkSession, path))
        if (!existing.columns.sorted.sameElements(df.columns.sorted))
          throw graft.GraftError.WriteError(path, "write_to_parquet append",
            s"column mismatch (${existing.columns.mkString(",")} vs ${df.columns.mkString(",")})")
        existing.unionByName(df)
      case "append" => df
      case other => throw graft.GraftError.WriteError(path, "write_to_parquet",
        s"bad mode '$other'")
    }
    writeSingle(out, path, ".parquet")((d, p) =>
      d.write.mode(SaveMode.Overwrite).parquet(p))
  }

  /** Single-file ORC with overwrite/append-rewrite — the same contract as
    * [[writeParquetSingle]] over Spark's built-in ORC source (no reference
    * analogue; rounds out the columnar-format matrix for warehouses whose
    * at-rest format is ORC, e.g. Hive-era lakes). Append re-reads the
    * existing file, checks the column set, and rewrites — ORC timestamps
    * round-trip as TIMESTAMP under the engine's UTC session, so no NTZ
    * normalization is needed on the re-read (ORC's TIMESTAMP_INSTANT /
    * local distinction is normalized by [[Loaders.loadOrc]] on load).
    */
  def writeOrcSingle(df: DataFrame, mode: String, path: String): Unit = {
    val m = mode.toLowerCase
    val out = m match {
      case "overwrite" => df
      case "append" if Files.exists(Paths.get(path)) =>
        val existing = Loaders.normalizeNtzTimestamps(
          df.sparkSession.read.orc(path))
        if (!existing.columns.sorted.sameElements(df.columns.sorted))
          throw graft.GraftError.WriteError(path, "write_to_orc append",
            s"column mismatch (${existing.columns.mkString(",")} vs ${df.columns.mkString(",")})")
        existing.unionByName(df)
      case "append" => df
      case other => throw graft.GraftError.WriteError(path, "write_to_orc",
        s"bad mode '$other'")
    }
    writeSingle(out, path, ".orc")((d, p) =>
      d.write.mode(SaveMode.Overwrite).orc(p))
  }

  /** JSON array file, one object per row (src/elusion.rs:5013-5178
    * hand-rolls the same shape): `[` … `]` with comma-separated objects,
    * each on its own line; `pretty = true` indents the objects. Spark
    * writes JSON-lines to a temp dir, then the single-file move streams the
    * part lines into the array wrapper (driver-bound like every `*Single`
    * writer — the upstream compute stays parallel; use writeJsonDir-style
    * paths for cluster-scale output).
    */
  def writeJsonSingle(df: DataFrame, path: String, pretty: Boolean = false): Unit = {
    val target = Paths.get(path)
    val tmp = Paths.get(path + "_graft_tmp")
    deleteRecursive(tmp)
    df.coalesce(1).write.mode(SaveMode.Overwrite).json(tmp.toString)
    val part = findPart(tmp, ".json")
    if (target.toAbsolutePath.getParent != null)
      Files.createDirectories(target.toAbsolutePath.getParent)
    val out = Files.newBufferedWriter(target)
    try {
      out.write("[")
      val lines = Files.lines(part)
      try {
        var first = true
        lines.forEach { line =>
          if (line.nonEmpty) {
            if (!first) out.write(",")
            out.write("\n")
            if (pretty) out.write("  ")
            out.write(line)
            first = false
          }
        }
      } finally lines.close()
      out.write("\n]\n")
    } finally out.close()
    deleteRecursive(tmp)
  }

  /** Directory writers — the cluster-scale path (one file per partition,
    * optional partitioning columns; Spark-native modes).
    */
  def writeCsvDir(df: DataFrame, mode: String, path: String,
      opts: CsvOptions = CsvOptions()): Unit =
    df.write.mode(mode)
      .option("header", opts.header.toString).option("sep", opts.delimiter)
      .csv(path)

  def writeParquetDir(df: DataFrame, mode: String, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeOrcDir(df: DataFrame, mode: String, path: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Sharded JSON-lines output — the training-consumption format (one
    * JSON record per line, N compressed shards): the write side of
    * [[Loaders.loadTextLines]]/`loadJson`'s JSONL shape. `numShards > 0`
    * repartitions round-robin so shards come out size-balanced regardless
    * of upstream partitioning (a corpus fresh off a groupBy is usually
    * skewed); 0 keeps the upstream layout (no extra shuffle). Compression
    * codec is any Spark-supported name (`gzip`, `snappy`, `zstd`, `none`)
    * — gzip'd shards are what most published corpora distribute, and they
    * re-ingest in parallel at one file per task.
    */
  def writeJsonlDir(df: DataFrame, mode: String, path: String,
      numShards: Int = 0, compression: String = "gzip"): Unit = {
    val out = if (numShards > 0) df.repartition(numShards) else df
    out.write.mode(mode).option("compression", compression).json(path)
  }

  /** Sharded plain-text output of ONE string column (one value per line)
    * — raw-text corpus export. Same shard/compression contract as
    * [[writeJsonlDir]].
    */
  def writeTextDir(df: DataFrame, column: String, mode: String, path: String,
      numShards: Int = 0, compression: String = "none"): Unit = {
    val one = df.select(org.apache.spark.sql.functions.col(column))
    val out = if (numShards > 0) one.repartition(numShards) else one
    out.write.mode(mode).option("compression", compression).text(path)
  }

  /** Bucketed managed table — the co-located-join path for repeated big
    * joins on the same key (SURVEY scale note: "bucketing for co-located
    * joins"). Two tables bucketed the same way join with ZERO exchanges:
    * Catalyst sees the matching output partitioning and skips the shuffle
    * entirely. At 100 TB this converts every repeated fact-to-fact join
    * from a full shuffle into a local zip of bucket files.
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Delta-table writer (reference src/features/delta.rs:196-420:
    * overwrite/append/merge-schema + partition columns). Writes a REAL
    * `_delta_log` (protocol + metaData + add commit actions, numbered
    * versions) over Spark-written parquet — see [[DeltaLog]] for the
    * protocol subset. Overwrite of an existing table is
    * VERSION-PRESERVING (delta-spark semantics): one remove-all+add
    * commit, history/time-travel/CDF intact. `acceptCdfOverwrite` is a
    * retired no-op compatibility alias from the log-restarting era.
    */
  def writeDeltaTable(df: DataFrame, mode: String, path: String,
      partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      tableProperties: Map[String, String] = Map.empty,
      columnMapping: Option[String] = None,
      acceptCdfOverwrite: Boolean = false): Unit =
    DeltaLog.write(df, mode, path, partitionBy, txn = txn,
      tableProperties = tableProperties, columnMapping = columnMapping,
      acceptCdfOverwrite = acceptCdfOverwrite)

  /** Copy-on-write MERGE/UPSERT into a delta table — see [[DeltaLog.upsert]]. */
  def upsertDeltaTable(updates: DataFrame, keys: Seq[String], path: String): Unit =
    DeltaLog.upsert(updates, keys, path)

  /** Copy-on-write DELETE from a delta table — see [[DeltaLog.deleteWhere]]. */
  def deleteFromDeltaTable(spark: org.apache.spark.sql.SparkSession,
      path: String, predicate: String): Int =
    DeltaLog.deleteWhere(spark, path, predicate)

  /** OPTIMIZE a delta table: bin-pack small files (optionally z-order
    * clustered on `zorderBy`) — see [[DeltaLog.optimize]].
    */
  def optimizeDeltaTable(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024, zorderBy: Seq[String] = Nil): Int =
    DeltaLog.optimize(spark, path, targetBytes, zorderBy)
}
