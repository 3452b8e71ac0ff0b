package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1.0 scale validation for the dedup/ANN/graph headline (round-10
  * verdict item 5): the 100 TB claims rest on plan shape — this tool
  * validates them empirically at 10× the bench corpus by generating an
  * sf1.0-sized documents/embeddings pair, timing the scale-path queries
  * at both sizes, and reporting the wall-clock ratio per query. A query
  * whose plan is linear in the corpus should scale ≲ 10× (plus constant
  * overheads it amortizes); a quadratic plan shows 100×.
  *
  * Generation is deterministic (hash-seeded, no RNG state) and keeps the
  * sf0.1 marginals without planting near-dup structure: each extra copy
  * of a document carries the SAME unigram distribution but hash-shuffled
  * word ORDER, so 3-word shingles are effectively fresh and the organic
  * pair densities (the thing that bounds candidate counts) stay flat —
  * scaling the INPUT, not the answer. Extra embeddings are fresh unit
  * vectors from md5 bits, matching the near-random fixture geometry.
  * Output parquet lands under target/ (never /root/testdata, which is
  * read-only).
  */
object ScaleCheck {

  /** Queries whose inputs are only documents/embeddings and whose plans
    * claim linear-in-corpus scaling (excludes the deliberately-quadratic
    * brute-force baselines q_knn_pagerank/q_knn_outliers/q_sim_topk and
    * the fixed-size-query-set probes).
    */
  val scalePath: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash",
    "q_dedup_containment", "q_dedup_containment_capped",
    "q_dedup_containment_bounded",
    "q_dedup_clusters", "q_dedup_best",
    "q_dedup_embedding", "q_dedup_semantic", "q_dedup_cross_source",
    "q_dedup_degree", "q_dedup_paragraph", "q_dedup_incremental",
    "q_sim_lsh", "q_sim_ivf_indexed", "q_sim_ivf_twolevel",
    "q_sim_pq_indexed", "q_sim_ivfpq",
    "q_knn_pagerank_indexed", "q_graph_pagerank",
    "q_winnow", "q_winnow_pairs", "q_tfidf", "q_kmeans",
    // pruning-regime embedding near-dup (bits=16: candidates collapse to
    // truly-near pairs; the coarse-bits q_dedup_embedding is excluded on
    // purpose — at threshold 0.2 over random vectors the ANSWER is
    // near-quadratic, so wall-clock tracks output size, not plan quality),
    // plus the classification and retrieval surfaces
    "q_dedup_embedding_tight", "q_classify_nb", "q_dsir_select",
    "q_bm25_search", "q_hybrid_search")

  /** Temporal/event-analytics queries whose only input is `events` and
    * whose plans are user-keyed (sessionize, funnels, cohorts, as-of and
    * range joins, trailing windows) — scaling USERS 10× with identical
    * per-user behavior replicates per-key work linearly, so a linear
    * plan shows ~10× wall-clock minus amortized overheads and a plan
    * with a hidden global (non-user-keyed) blow-up shows worse.
    */
  val eventScalePath: Seq[String] = Seq(
    "q_events_session", "q_events_funnel", "q_events_cohort",
    "q_funnel", "q_retention", "q_event_transitions",
    "q_asof_join", "q_asof_fwd", "q_asof_nearest", "q_range_join",
    "q_rolling_features", "q_events_tumbling", "q_events_sliding")

  private[tools] def hashShuffleText(spark: SparkSession, docs: DataFrame,
      copies: Int, idStep: Long): DataFrame = {
    val shuffleWords = udf((text: String, seed: Long) => {
      val words = text.split("\\s+")
      // deterministic per-(doc,copy) permutation: sort by hash of
      // (word, POSITION) mixed with the seed — same unigrams, fresh
      // shingles. Hashing the word alone (a stable sort key) clustered
      // repeated words into runs ("the the the"), planting identical hot
      // shingles across every shuffled copy — which inflated shingle doc
      // frequencies corpus-wide and made the Σdf² inverted-index joins
      // look quadratic when the INPUT, not the plan, was degenerate.
      words.zipWithIndex.sortBy { case (w, i) =>
        scala.util.hashing.MurmurHash3.stringHash(s"$w#$i", seed.toInt)
      }.map(_._1).mkString(" ")
    })
    (0 until copies).map { c =>
      if (c == 0) docs
      else docs.select(
        (col("doc_id") + lit(c * idStep)).as("doc_id"),
        shuffleWords(col("text"),
          col("doc_id") * lit(copies.toLong) + lit(c.toLong)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  private[tools] def freshEmbeddings(spark: SparkSession, emb: DataFrame,
      copies: Int, idStep: Long, dim: Int): DataFrame = {
    val mkVec = udf((id: Long) => {
      val v = Array.tabulate(dim) { j =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val d = md.digest(s"scale_${id}_$j".getBytes("UTF-8"))
        var h = 0L; var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
        (h.toDouble / Long.MaxValue.toDouble).toFloat // ~U(-1, 1)
      }
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(x => if (n == 0f) 0f else x / n)
    })
    (0 until copies).map { c =>
      if (c == 0) emb
      else emb.select(
        (col("vec_id") + lit(c * idStep)).as("vec_id"),
        mkVec(col("vec_id") + lit(c * idStep)).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** 10× events: copies shift user_id/event_id into fresh ranges and keep
    * timestamps — ten times the users, each behaving exactly like an
    * sf0.1 user, so user-keyed operator work scales linearly by
    * construction and any superlinear wall-clock is the plan's fault.
    * Loaded through Loaders.loadParquet so the TIMESTAMP(NANOS) column
    * lands as a real TimestampType and writes back as micros.
    */
  private[tools] def scaledEvents(spark: SparkSession, srcDir: String,
      copies: Int): DataFrame = {
    val ev = graft.sources.Loaders.loadParquet(
      spark, s"$srcDir/events.parquet", "ev").df
    (0 until copies).map { c =>
      if (c == 0) ev
      else ev.select(
        (col("event_id") + lit(c * 1000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(c * 100000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
  }

  /** args: srcDir outDir copies [timeBaseDir] [queryCsv]
    *
    * srcDir seeds the deterministic generation (outDir = copies × srcDir);
    * timings compare timeBaseDir (default srcDir) against outDir, so a
    * second decade can be generated from sf0.1 (copies=30) but timed
    * against the existing sf1.0 — e.g. the r12 sf3 sweep:
    *   ScaleCheck /root/testdata/sf0.1 target/sf3.0 30 target/sf1.0 \
    *     q_dedup_containment,q_dedup_simhash,...
    * with SPARK_GRAFT_SF1_OUT=BENCH_SF3_r12.json and scale = copies ×
    * (sf(srcDir)/sf(timeBaseDir)) reported from the measured row counts.
    */
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/root/repo/target/sf1.0"
    val copies = if (args.length > 2) args(2).toInt else 10
    val timeBaseDir = if (args.length > 3) args(3) else srcDir
    val queryFilter: Option[Set[String]] =
      if (args.length > 4) Some(args(4).split(",").toSet) else None
    val spark = graft.sources.Loaders.session(cpus = 32)
    spark.sparkContext.setLogLevel("ERROR")

    val docsOut = s"$outDir/documents.parquet"
    if (!new java.io.File(docsOut).exists()) {
      val docs = spark.read.parquet(s"$srcDir/documents.parquet")
      hashShuffleText(spark, docs, copies, idStep = 1000000L)
        .repartition(32).write.mode("overwrite").parquet(docsOut)
      val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      freshEmbeddings(spark, emb, copies, idStep = 1000000L, dim)
        .repartition(32).write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    }
    val allQ = (scalePath ++ eventScalePath)
      .filter(q => queryFilter.forall(_.contains(q)))
    val needEvents = allQ.exists(eventScalePath.contains)
    val evOut = s"$outDir/events.parquet"
    if (needEvents && !new java.io.File(evOut).exists())
      scaledEvents(spark, srcDir, copies)
        .repartition(32).write.mode("overwrite").parquet(evOut)
    val baseDocs = spark.read.parquet(s"$timeBaseDir/documents.parquet").count()
    val outDocs = spark.read.parquet(docsOut).count()
    val scale = outDocs.toDouble / math.max(1L, baseDocs)
    println(s"[scale] documents: $outDocs rows ($scale x the timing base)" +
      (if (needEvents) s", events: ${spark.read.parquet(evOut).count()} rows" else ""))

    def timeQ(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try { graft.SparkEntry.queries(name)(spark, dir).foreach(_ => ()); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] $name@$dir failed: ${e.getMessage}"); -1.0 }
    }
    // SPARK_GRAFT_SCALE_ROWS=1 also records output row counts, so a
    // wall-clock ratio that merely tracks ANSWER growth (e.g. planted
    // near-dup cliques growing quadratically in the copy count) is
    // attributable from the artifact itself
    val countRows = sys.env.get("SPARK_GRAFT_SCALE_ROWS").contains("1")
    def rowsQ(name: String, dir: String): Long =
      if (!countRows) -1L
      else try graft.SparkEntry.queries(name)(spark, dir).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] $name@$dir count failed: ${e.getMessage}"); -1L }
    // warm code paths once at the small sf, then best-of-2 per (query, sf)
    allQ.foreach(q => timeQ(q, timeBaseDir))
    val rows = allQ.map { q =>
      val t01 = Seq(timeQ(q, timeBaseDir), timeQ(q, timeBaseDir)).min
      val t10 = Seq(timeQ(q, outDir), timeQ(q, outDir)).min
      val ratio = if (t01 > 0 && t10 > 0) t10 / t01 else -1.0
      val (r01, r10) = (rowsQ(q, timeBaseDir), rowsQ(q, outDir))
      println(f"[scale] $q%-26s base $t01%6.2f s   scaled $t10%6.2f s   ratio ${ratio}%5.1f" +
        (if (countRows) s"   rows $r01 -> $r10" else ""))
      (q, t01, t10, ratio, r01, r10)
    }
    val json = rows.map { case (q, a, b, r, r01, r10) =>
      f"""\"$q\":{\"base\":$a%.3f,\"scaled\":$b%.3f,\"ratio\":$r%.2f""" +
        (if (countRows) s""","rows_base":$r01,"rows_scaled":$r10}""" else "}")
    }.mkString(f"""{\"scale\":$scale%.2f,\"base_dir\":\"$timeBaseDir\",\"scaled_dir\":\"$outDir\",\"queries\":{""", ",", "}}")
    println(json)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_SF1_OUT", "BENCH_SF1_latest.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
