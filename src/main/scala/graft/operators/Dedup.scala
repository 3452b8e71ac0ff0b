package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.plans.HashExpressions

/** Deduplication suite for training-data pipelines — beyond-reference
  * extensions (SURVEY §7.2 M5). Every variant is shuffle-shaped for scale:
  * exact dedup is a hash groupBy (one shuffle on the hash key); near-dup
  * variants go shingle → sketch → band/bucket → bucket-local pair
  * verification, so candidate generation never does an O(n²) cross join —
  * pairs only form inside LSH buckets, and bucket keys are high-cardinality
  * by construction (b×r tunes recall vs bucket size; skewed buckets are
  * AQE-splittable since the join key is the bucket id).
  */
object Dedup {

  /** 128-bit dedup key: two independently-seeded xxhash64 words (seed goes
    * in as a prefix column, the same trick as [[graft.plans.SimHashMd5Wide]]
    * widening). A single 64-bit key silently FALSE-MERGES distinct
    * documents at corpus scale — birthday expectation n²/2⁶⁵ ≈ 0.03
    * collisions at 10⁹ docs but ~27 at 3×10¹⁰, i.e. real data loss in
    * exactly the regime this suite targets. Two words push that to n²/2¹²⁹
    * ≈ 1.3×10⁻¹⁸ at 3×10¹⁰ docs. Shuffle rows grow 8 B (16 B key + id vs
    * 8 B + id) — still never the document body.
    */
  private[graft] def key128(c: Column): Column =
    struct(xxhash64(lit(1L), c).as("h1"), xxhash64(lit(2L), c).as("h2"))

  /** Exact dedup on raw text: one row per distinct text, smallest id
    * survives. A single hash-partition shuffle on a 128-bit key of the
    * text (see [[key128]]) — at 100 TB group on the hash, not the full
    * text, so shuffle rows carry 16 bytes + id instead of the document
    * body.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), key128(col(textCol)).as("graft_h"))
      .groupBy(col("graft_h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .drop("graft_h")

  /** Exact dedup after text normalization (lowercase, strip punctuation,
    * collapse whitespace) — catches trivially-reformatted duplicates.
    * Groups on the 128-bit key of the normalized text, not the text
    * itself, for the same shuffle-width reason as [[exact]].
    */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), key128(T.normalizeText(col(textCol))).as("graft_h"))
      .groupBy(col("graft_h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .drop("graft_h")

  /** Survivor set of exact dedup: rows whose id is the keeper. */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(key128(col(textCol))).orderBy(col(idCol))
    df.withColumn("graft_rn", row_number().over(w))
      .where(col("graft_rn") === 1).drop("graft_rn")
  }

  /** MinHash + LSH banding near-dup candidate pairs.
    *
    * shingle(n words) → MinHash sketch (k mins, single-pass custom
    * expression) → b bands of r values, band hash = xxhash64(band) →
    * self-join per (band index, band hash) bucket → verified Jaccard over
    * exact shingle sets ≥ threshold.
    *
    * Scale shape: the only shuffles are (1) explode b band rows per doc and
    * hash-partition on bucket key, (2) the bucket-local self-join. No
    * cross join ever materializes; Jaccard verification happens only on
    * collided pairs.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleWords: Int = 3,
      jaccardThreshold: Double = 0.5, maxBandFreq: Long = 1000L): DataFrame = {
    // r = numHashes/bands tunes collision selectivity: P(candidate) =
    // 1-(1-j^r)^b. r=4/b=16 → j=0.7 collides at 0.99, j=0.05 at ~1e-4.
    // Smaller r floods verification with spurious pairs (measured 35 s vs
    // 4 s at sf0.1 on r=2 vs r=4 over a shared-vocabulary corpus).
    // Verification contract: the pair set is COMPLETE only for thresholds
    // above the S-curve knee (P(miss) ≈ (1-t^r)^b; e.g. < 1e-10 at t=0.85,
    // r=4, b=32) — below the knee, expect a recall floor, not equality
    // with an exact method (ngramJaccardPairs is the exact alternative).
    //
    // `maxBandFreq` is the hot-bucket guard (the banding analogue of
    // ngramJaccardPairs/winnowPairs' maxDocFreq): the bucket self-join is
    // Σ bucket² pairs, and exact-duplicate clusters (callers that skip
    // exact() first) or low-entropy short docs concentrate whole clusters
    // into ONE band value — a 10^5-row bucket is a 10^10-pair explosion.
    // Band values with > maxBandFreq member docs are dropped before the
    // join, bounding any bucket's fan-out at maxBandFreq²/2. Recall
    // trade: a pair whose EVERY collided band is over-cap is missed —
    // with defaults that takes a ≥ 1000-member duplicate cluster, which
    // is exact-dedup's job to collapse first; pairs colliding in any
    // sub-cap band still appear. 0 disables.
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val banded = capBandBuckets(
      minhashBandIndex(df, textCol, idCol, numHashes, bands, shingleWords),
      maxBandFreq)
    val cand = banded.alias("a").join(banded.alias("b"),
      col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // candidate pairs are consumed twice below (verify join + the
      // verify prune) — eager localCheckpoint (the connectedComponents
      // policy) runs the band self-join ONCE and holds only the
      // (id_a, id_b) sliver, instead of recomputing sketch+join per use
      .dropDuplicates("id_a", "id_b").localCheckpoint(true)
    // verify only re-reads (and re-shingles) CANDIDATE docs: at corpus
    // scale the candidate set is a sliver of the corpus, and without the
    // semi-join prune the verify join would shuffle every document's
    // shingle array — the same prune incrementalNearDupPairs applies to
    // its corpus side (AQE turns the small-id-set prune into a broadcast
    // semi-join, so the corpus is never shuffled for verification).
    val candIds = cand.select(col("id_a").as("sid"))
      .union(cand.select(col("id_b").as("sid"))).distinct()
    val shingleFrame = df.join(candIds, col(idCol) === col("sid"), "left_semi")
      .select(col(idCol).as("sid"),
        array_distinct(T.wordShingles(col(textCol), shingleWords)).as("sh"))
    cand
      .join(shingleFrame, col("id_a") === col("sid"))
      .select(col("id_a"), col("id_b"), col("sh").as("sh_a"))
      .join(shingleFrame, col("id_b") === col("sid"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh"))).cast("double") /
          size(array_union(col("sh_a"), col("sh"))))
      .where(col("jaccard") >= jaccardThreshold)
      // raw double, no SQL rounding: both engines divide the same two ints,
      // so the doubles are bit-identical and round() boundary skew is moot
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs with GUARANTEED recall at `maxHamming`:
    * `bits`-wide MD5-token SimHash (cross-engine reproducible — see
    * [[graft.plans.SimHashMd5Wide]]; fingerprint = ceil(bits/60) 60-bit
    * words), banded into `maxHamming + 1` blocks. By pigeonhole, a pair
    * differing in ≤ maxHamming bits leaves at least one of the
    * maxHamming+1 blocks identical, so every qualifying pair collides in
    * some block — no recall hole. Verify is exact Σ bit_count(xor) ≤
    * maxHamming on collided pairs.
    *
    * Scale shape: blocks× explode of (id, block, chunk, fingerprint)
    * rows (~48 B), bucket self-join per (block, chunk-value). Bucket-local
    * join cost is Σ bucket², so chunk CARDINALITY is the scale dial: the
    * default 120-bit fingerprint gives 7 blocks × 17-18 bits = 131k-262k
    * bucket values per block — the round-2 60-bit default (≤ 512 values
    * per block) went quadratic past ~10^5 docs and is kept only for
    * explicit bits ≤ 60 callers.
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 6, bits: Int = 120): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits,
      "simhashPairs: need 0 <= maxHamming < bits")
    val words = (bits + 59) / 60
    val blocks = maxHamming + 1
    val base = bits / blocks
    val extra = bits % blocks
    val widths = Seq.tabulate(blocks)(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val hashed = Par.fanOut(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"),
        HashExpressions.simhashMd5Wide(
          split(T.normalizeText(col(textCol)), " "), bits).as("sh"))
    // chunk i covers fingerprint bits [offset, offset+width) — may straddle
    // the 60-bit word boundary, in which case low bits come from word w and
    // high bits from word w+1
    def word(side: String, w: Int): Column = element_at(col(s"$side.sh"), w + 1)
    def chunkVal(o: Int, wdt: Int): Column = {
      val mask = lit((1L << wdt) - 1)
      val w0 = o / 60; val off = o % 60
      val base = shiftrightunsigned(element_at(col("sh"), w0 + 1), off)
      val full =
        if (off + wdt <= 60) base
        else base.bitwiseOR(shiftleft(element_at(col("sh"), w0 + 2), 60 - off))
      full.bitwiseAND(mask)
    }
    val chunked = hashed.select(col("id"), col("sh"),
      explode(array((0 until blocks).map(i => struct(lit(i).as("chunk"),
        chunkVal(offsets(i), widths(i)).as("ck"))): _*)).as("c"))
      .select(col("id"), col("sh"), col("c.chunk").as("chunk"), col("c.ck").as("ck"))
    val a = chunked.alias("a"); val b = chunked.alias("b")
    val hamming = (0 until words)
      .map(w => bit_count(word("a", w).bitwiseXOR(word("b", w))))
      .reduce(_ + _)
    a.join(b, col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming.cast("bigint").as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .where(col("hamming") <= maxHamming)
  }

  /** EXACT n-gram Jaccard pairs ≥ threshold via a PREFIX-FILTERED
    * inverted shingle index (Bayardo et al. "Scaling Up All Pairs
    * Similarity Search", WWW'07; Xiao et al. PPJoin): under a global
    * canonical shingle order (ascending doc frequency, shingle text as
    * total-order tiebreak), a pair with Jaccard ≥ t has overlap
    * o ≥ ⌈t·n⌉ on BOTH sides, so its first common shingle sits within
    * each side's first n − ⌈t·n⌉ + 1 shingles — joining only those
    * PREFIXES finds every qualifying pair (no recall bias), and exact
    * verification over the full distinct-shingle sets computes the true
    * Jaccard for each candidate. Results are identical to the naive
    * full posting self-join at every threshold.
    *
    * Scale shape: the naive self-join costs Σ df(g)² over ALL postings;
    * the prefix join costs Σ pdf(g)² over prefix postings only — and the
    * rarest-first canonical order concentrates prefixes on LOW-df
    * shingles, so hot boilerplate shingles (the quadratic term) rarely
    * enter the candidate join at all. High thresholds prune hardest
    * (prefix ≈ (1−t)·n + 1). Verification touches only candidate docs
    * (semi-join prune, the minhashLshPairs pattern).
    *
    * `maxDocFreq`: 0 (default) = the exact contract above. > 0, or
    * [[AdaptiveDocFreq]] for the corpus-derived [[autoMaxDocFreq]], caps
    * hot shingles out of the index entirely — scores are then computed
    * over sub-cap shingles (denominators keep full set sizes) and pairs
    * whose shared shingles are all over-cap are LOST. Measured honestly
    * (COVERAGE.md "containment scale note"): on a df-saturated clone
    * corpus the cap trades essentially all clone-group recall for speed,
    * so the DEFAULT stays exact and the cap is the explicit opt-in for
    * boilerplate-dominated corpora.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      shingleWords: Int = 3, threshold: Double = 0.5,
      maxDocFreq: Long = 0L): DataFrame = {
    require(threshold > 0.0, "ngramJaccardPairs: threshold must be > 0")
    val (cand, sizes, shingleSets) =
      prefixCandidates(df, textCol, idCol, shingleWords, threshold,
        resolveDocFreqCap(maxDocFreq, df), containment = false)
    cand
      .join(shingleSets.select(col("sid").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingleSets.select(col("sid").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** ASYMMETRIC containment pairs: |A∩B| / min(|A|,|B|) ≥ threshold over
    * distinct word shingles — catches the wrap/quote/boilerplate pattern
    * Jaccard structurally misses: a short document pasted inside a much
    * longer one has tiny Jaccard (union is dominated by the long side)
    * but containment ≈ 1. Output tags which side is the contained one
    * (`contained_id` = the smaller shingle set on ties the lower id).
    *
    * Same prefix-filtered exact shape as [[ngramJaccardPairs]], with the
    * containment-specific asymmetry: o ≥ ⌈t·min(na,nb)⌉ bounds only the
    * SMALLER side's prefix, so candidates join the smaller side's prefix
    * against the larger side's full posting ((n, id)-lexicographic side
    * choice). Same `maxDocFreq` dial and documented trade.
    *
    * SCALE DIALS — the default full-posting join is exact and fastest at
    * bench scales but carries a quadratic tail on hot (high-df) shingles
    * (df of a boilerplate trigram grows ∝ N, short docs carry it in
    * prefixes; measured 5.2× wall-clock at 3× the sf1.0 corpus with a
    * flat answer). Two documented ways out, both graded
    * (BENCH_SF3_r12.json, sf1.0 → 3× trio; ranges over repeated runs):
    *   - `maxDocFreq = AdaptiveDocFreq`: cap hot postings out of the
    *     index (recall trade documented at [[autoMaxDocFreq]]) — ~3-4 s
    *     base, 2.2-3.5× at 3× data: the production scale path;
    *   - `boundedHotJoin = true`: keep EXACT results, route hot shingles
    *     through size-class-bucketed big-side prefixes (see
    *     `prefixCandidates`) — best asymptote of the three (1.6-2.5× at
    *     3× data) with a corpus-density-dependent constant: on the
    *     vocabulary-dense bench fixture 99.7 % of posting rows are hot
    *     (every trigram recurs at 50k docs) so the constant is ~3× the
    *     default; on a Zipfian real-text corpus the hot sliver is small
    *     and the constant approaches the default's. Pick it when
    *     exactness at scale is non-negotiable.
    * On vocabulary-dense corpora where most pairs genuinely share many
    * shingles, NO exact candidate filter can be sub-quadratic — the
    * shared-shingle mass is real signal, and the cap (drop boilerplate
    * evidence) is the semantic answer, not a concession.
    */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleWords: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Long = 0L, boundedHotJoin: Boolean = false): DataFrame = {
    require(threshold > 0.0, "containmentPairs: threshold must be > 0")
    val (cand, sizes, shingleSets) =
      prefixCandidates(df, textCol, idCol, shingleWords, threshold,
        resolveDocFreqCap(maxDocFreq, df), containment = true,
        boundedHotJoin = boundedHotJoin)
    cand
      .join(shingleSets.select(col("sid").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingleSets.select(col("sid").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("bigint"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
      .withColumn("containment",
        col("i").cast("double") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        when(col("na") < col("nb"), col("id_a"))
          .when(col("nb") < col("na"), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))).as("contained_id"),
        col("containment"))
  }

  /** Shared candidate stage of [[ngramJaccardPairs]]/[[containmentPairs]]:
    * returns (candidate id pairs, full per-doc set sizes, per-candidate-doc
    * distinct shingle sets for exact verification). `cap > 0` removes
    * over-cap shingles from the index AND the verify sets (scores over
    * sub-cap shingles); sizes always count the full posting.
    *
    * Correctness of the prefix bound (both measures): a pair meeting the
    * threshold has overlap o ≥ ⌈t·n⌉ per side for Jaccard (j ≥ t ⟹
    * o ≥ t·max(na,nb)) and o ≥ ⌈t·min(na,nb)⌉ for containment. The j-th
    * smallest common shingle in canonical order has, on a side with n
    * entries, at most n − o + j − 1 entries before it, i.e. rank ≤
    * n − o + j ≤ n − ⌈t·n⌉ + j — so with prefixes extended to
    * n − ⌈t·n⌉ + k, a qualifying pair is guaranteed min(o, k) collision
    * rows inside the prefix region, and requiring
    * hits ≥ min(k, ⌈t·n_small⌉) prunes without losing any pair (PPJoin's
    * position idea in count form; k = [[PrefixSlack]]). The count filter
    * is what makes verification affordable: at 10× bench scale it cuts
    * 22.5M single-collision candidates to 22.5k while the true pair set
    * is provably intact. The ceil is computed as ceil(t·n − 1e-9): an FP
    * error can only LENGTHEN a prefix (extra candidates), never shorten
    * it (lost pairs).
    */
  private def prefixCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleWords: Int, threshold: Double, cap: Long,
      containment: Boolean,
      boundedHotJoin: Boolean = false): (DataFrame, DataFrame, DataFrame) = {
    // pin the exploded posting ONCE: it feeds sizes, doc frequencies,
    // the ranked prefix, and (under a cap) the verify sets — the same
    // materialize-once trade every inverted-index engine makes
    val posting0 = df.select(col(idCol).as("id"),
        explode(array_distinct(T.wordShingles(col(textCol), shingleWords))).as("g"))
      .localCheckpoint(true)
    val sizes = posting0.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val freqAll = posting0.groupBy("g").agg(count(lit(1)).as("df"))
    val (posting, freq) =
      if (cap > 0L) {
        val keep = freqAll.where(col("df") <= cap)
        (posting0.join(keep.select("g"), Seq("g")), keep)
      } else (posting0, freqAll)
    // canonical order = (df asc, shingle text asc): a TOTAL order shared
    // by every document, rarest-first so prefixes dodge hot postings
    val byId = Window.partitionBy(col("id"))
    val ranked = posting.join(freq, Seq("g"))
      .withColumn("rk", row_number().over(byId.orderBy(col("df"), col("g"))))
      .withColumn("nc", count(lit(1)).over(byId))
      .withColumn("plen",
        col("nc") - ceil(lit(threshold) * col("nc") - lit(1e-9)) + lit(PrefixSlack))
    val cand =
      if (!containment) {
        val pref = ranked.where(col("rk") <= col("plen")).select("id", "g", "nc")
        pref.alias("a").join(pref.alias("b"),
            col("a.g") === col("b.g") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("hits"),
            least(lit(PrefixSlack.toLong),
              ceil(lit(threshold) * least(max(col("a.nc")), max(col("b.nc"))) - lit(1e-9)))
              .as("req"))
          .where(col("hits") >= col("req"))
          .select("id_a", "id_b")
      } else {
        // the o ≥ ⌈t·min⌉ bound constrains the smaller side's prefix (by
        // FULL size, matching the verify normalizer; id tiebreak makes
        // the side choice total) — its prefix joins the other side's
        // posting. The big side is split by shingle doc frequency:
        //
        // COLD shingles (df ≤ hotDf ≈ 4·log2 N) join the full posting as
        // plain AllPairs — their Σ df_pref·df is linear by the df bound,
        // and they are ~all posting rows, so no replication cost.
        //
        // HOT shingles are where the full-posting join grows a quadratic
        // tail (df ∝ N for boilerplate trigrams, and short docs carry
        // them in prefixes — measured 5.05× wall-clock at 3× data with a
        // FLAT answer). They instead join CLASS-BUCKETED big-side
        // prefixes: for a pair with n_small ∈ [2^c, 2^{c+1}),
        // o ≥ ⌈t·n_small⌉ ≥ ⌈t·2^c⌉, so the j-th smallest common
        // shingle has big-side rank ≤ nc_big − o + j ≤ nc_big − ⌈t·2^c⌉
        // + j — per class c the big side indexes only rows with
        // rk ≤ nc − ⌈t·2^c⌉ + k. A hot shingle sits LAST in canonical
        // (rarest-first) order, so it only survives into the tiniest
        // classes (t·2^c ≤ k) — the quadratic term collapses to
        // tiny-doc×hot pairs the answer semantics genuinely require.
        // The ~log2(n/t)-way class explode prices only the hot sliver
        // of the posting. Exactness: every common shingle routes
        // through exactly ONE branch (by its df), the branches union
        // before the hits count, the class-membership test uses the
        // inclusive bound t·2^c ≤ nc + k − rk, and over-inclusion only
        // lengthens a prefix (extra candidates) — completeness is the
        // same min(o, k)-collisions argument, spec-checked against the
        // naive join. Hybrid measured at 3× data: full-posting 5.05×,
        // all-classed 3.2× but +66% base, hybrid keeps the base AND the
        // bounded asymptote.
        lazy val hotDf = autoMaxDocFreq(sizes.count())
        // opt-in (boundedHotJoin): the split machinery costs ~2× the
        // bench-scale constant, so the default stays the fast single
        // join; a df cap at or under the hot bound has already removed
        // every hot shingle from the index, making the split an empty
        // branch — skip it then too
        val splitHot = boundedHotJoin && !(cap > 0L && cap <= hotDf)
        // under the split the ranked posting feeds THREE consumers (the
        // small-side prefix, the cold posting, the hot classed explode) —
        // pin it so the per-id window sort runs once; the single-join
        // path keeps the two-consumer plan Spark already shares
        val withN0 = ranked.join(sizes, Seq("id"))
        val withN = if (splitHot) withN0.localCheckpoint(true) else withN0
        val pref = withN.where(col("rk") <= col("plen"))
          .select(col("id").as("pid"), col("g"), col("n").as("pn"),
            col("nc").as("pnc"), floor(log2(col("n"))).cast("int").as("cls"))
        val coldFull = withN.where(if (splitHot) col("df") <= hotDf else lit(true))
          .select(col("id").as("fid"), col("g"), col("n").as("fn"))
        val coldHits = pref.join(coldFull, Seq("g"))
          .select(col("pid"), col("pn"), col("pnc"), col("fid"), col("fn"))
        val hits = if (!splitHot) coldHits else {
          val maxN = sizes.agg(org.apache.spark.sql.functions.max(col("n")))
            .collect().headOption.map(_.getLong(0)).getOrElse(1L)
          val maxClass = (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, maxN))).toInt
          val hotClassed = withN.where(col("df") > hotDf)
            // +1e-9 inside the floor: matches the file-wide convention
            // that FP error may only OVER-include (a longer prefix / an
            // extra class adds candidates, never loses a true pair).
            // Without it, integer slack makes non-dyadic thresholds safe
            // but dyadic ones (t = 2^-j exact in FP) rest on log2
            // rounding behavior instead of an explicit guard.
            .withColumn("cmax", least(lit(maxClass),
              floor(log2((col("nc") + lit(PrefixSlack.toLong) - col("rk"))
                .cast("double") / lit(threshold)) + lit(1e-9)).cast("int")))
            .where(col("cmax") >= 0)
            .select(col("id").as("fid"), col("g"), col("n").as("fn"),
              explode(sequence(lit(0), col("cmax"))).as("cls"))
          // hot shingles are FEW distinct values (df > hotDf each) —
          // broadcast-prefilter the prefix side so the hot join shuffles
          // only prefix rows that can match, not the whole prefix index
          val hotGs = broadcast(freq.where(col("df") > hotDf).select(col("g")))
          val hotHits = pref.join(hotGs, Seq("g"))
            .join(hotClassed, Seq("g", "cls"))
            .select(col("pid"), col("pn"), col("pnc"), col("fid"), col("fn"))
          coldHits.unionAll(hotHits)
        }
        hits
          .where(col("pn") < col("fn") ||
            (col("pn") === col("fn") && col("pid") =!= col("fid")))
          .groupBy(least(col("pid"), col("fid")).as("id_a"),
            greatest(col("pid"), col("fid")).as("id_b"))
          .agg(count(lit(1)).as("hits"),
            least(lit(PrefixSlack.toLong),
              ceil(lit(threshold) * max(col("pnc")) - lit(1e-9))).as("req"))
          .where(col("hits") >= col("req"))
          .select("id_a", "id_b")
      }
    val pinned = cand.localCheckpoint(true)
    // verification only ever re-reads CANDIDATE docs (semi-join prune —
    // the minhashLshPairs pattern): at corpus scale the candidate set is
    // a sliver of the corpus
    val candIds = pinned.select(col("id_a").as("sid"))
      .union(pinned.select(col("id_b").as("sid"))).distinct()
    // verify sets come from the PINNED posting in both regimes — the
    // uncapped branch used to re-scan the source table and re-shingle
    // the candidate docs (one extra `Scan parquet` of documents per
    // query); posting0 already holds exactly each doc's distinct
    // shingles in memory, and the verifier only consumes the
    // intersection SIZE, so collect_list order is immaterial
    val shingleSets = {
      val side = if (cap > 0L) posting else posting0
      side.join(candIds, col("id") === col("sid"), "left_semi")
        .groupBy(col("id")).agg(collect_list(col("g")).as("sh"))
        .select(col("id").as("sid"), col("sh"))
    }
    (pinned, sizes, shingleSets)
  }

  /** The (id, band, bh) MinHash band rows of a corpus — the persistable
    * NEAR-dup index. Banded rows carry ONLY (id, band, bh) — never the
    * shingle arrays. Exploding b band rows per doc multiplies shuffle
    * volume by b, so the payload must stay at ~24 bytes/row; shingles
    * re-join by id afterwards for candidates only. Write this once per
    * corpus (parquet/delta) and hand it to [[incrementalNearDupPairs]] so
    * nightly batches never re-sketch the corpus.
    */
  /** Band-hash scheme tag carried as FIELD METADATA on `bh` (parquet
    * persists Spark field metadata in its footer, so the tag survives a
    * write/read round-trip): the hash changed from
    * xxhash64(concat_ws(stringified slice)) to the native array-slice
    * xxhash64, which changes every bh value — a pre-change persisted
    * index joined against post-change batch sketches would silently
    * report ZERO near-dups. Consumers reject untagged/mismatched indexes
    * with a typed error instead.
    */
  private[graft] val BandHashScheme = "xxhash64-array-slice-v2"
  private val bhSchemeMeta = new org.apache.spark.sql.types.MetadataBuilder()
    .putString("graft.bh.scheme", BandHashScheme).build()

  private[graft] def requireBandScheme(index: DataFrame): Unit = {
    val ok = index.schema.find(_.name == "bh").exists(f =>
      f.metadata.contains("graft.bh.scheme") &&
        f.metadata.getString("graft.bh.scheme") == BandHashScheme)
    if (!ok) throw new IllegalStateException(
      "persisted minhash band index carries no (or a different) band-hash " +
        s"scheme tag; this build sketches with '$BandHashScheme'. An index " +
        "persisted under another scheme joins to ZERO matches (silent " +
        "false negatives) — rebuild it with minhashBandIndex")
  }

  /** Drop (band, bh) buckets whose membership exceeds the cap — the
    * hot-bucket guard of [[minhashLshPairs]] / [[incrementalNearDupPairs]]
    * (same idiom as Corpus.capPostings). A window count rather than a
    * groupBy+semi-join: one pass over the banded frame (the sketch pass
    * is the expensive input and must not be recomputed for a keep-set),
    * and the window's hash-partitioning on (band, bh) is the partitioning
    * the bucket self-join wants anyway. 0 disables.
    */
  private def capBandBuckets(banded: DataFrame, maxBandFreq: Long): DataFrame =
    if (maxBandFreq <= 0L) banded
    else banded
      .withColumn("graft_bf",
        count(lit(1)).over(Window.partitionBy(col("band"), col("bh"))))
      .where(col("graft_bf") <= maxBandFreq)
      .drop("graft_bf")

  def minhashBandIndex(df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleWords: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // shingling + numHashes mins per doc run map-side on the scan's
    // partitioning — fan an under-parallel scan out first (guide §2.5)
    Par.fanOut(df.select(col(idCol), col(textCol))).select(
      col(idCol).as("id"),
      HashExpressions.minhashSketch(
        T.wordShingles(col(textCol), shingleWords), numHashes).as("sketch"))
      .select(col("id"),
        // xxhash64 hashes the long-array slice natively (codegen'd element
        // fold) — the previous cast-to-string + concat_ws build allocated
        // b×r strings per doc and measurably dominated the sketch pass
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sketch"), b * r + 1, lit(r))).as("bh"))))
          .as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bh").as("bh", bhSchemeMeta))
  }

  /** Incremental NEAR-dup: batch documents matched against an existing
    * corpus via MinHash banding — "is tonight's crawl a near-copy of
    * anything already ingested", the cross-corpus companion of
    * [[incrementalSurvivors]] (which is exact-match only). Returns
    * (batch_id, corpus_id, jaccard) pairs ≥ threshold, verified exactly.
    *
    * Scale shape: the corpus side is `corpusIndex` — the persisted
    * [[minhashBandIndex]], built ONCE — so a nightly batch costs
    * sketch(batch) + one join of the corpus index against the (small,
    * broadcast) batch bands; corpus text is re-read only for the
    * candidate ids (semi-join-pruned) during exact verification. The same
    * completeness contract as [[minhashLshPairs]] applies: equality with
    * brute force holds above the banding S-curve knee.
    */
  def incrementalNearDupPairs(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, numHashes: Int = 64, bands: Int = 16,
      shingleWords: Int = 3, jaccardThreshold: Double = 0.5,
      corpusIndex: Option[DataFrame] = None,
      broadcastBatch: Boolean = true, maxBandFreq: Long = 1000L): DataFrame = {
    corpusIndex.foreach(requireBandScheme) // pre-change indexes join to zero
    // hot-bucket guard on the CORPUS side (where a boilerplate band value
    // matches every batch doc against thousands of corpus docs) — same
    // cap and recall trade as minhashLshPairs, measured on the at-rest
    // index like incrementalWinnowPairs' maxDocFreq
    val idx = capBandBuckets(corpusIndex.getOrElse(
        minhashBandIndex(corpus, textCol, idCol, numHashes, bands, shingleWords)),
        maxBandFreq)
      .select(col("id").as("corpus_id"), col("band"), col("bh"))
    val batchBands0 = minhashBandIndex(batch, textCol, idCol, numHashes,
      bands, shingleWords).select(col("id").as("batch_id"), col("band"), col("bh"))
    val batchBands = if (broadcastBatch) broadcast(batchBands0) else batchBands0
    val cand = idx.join(batchBands, Seq("band", "bh"))
      .where(col("corpus_id") =!= col("batch_id"))
      .select("batch_id", "corpus_id")
      .dropDuplicates("batch_id", "corpus_id")
    def shingles(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      array_distinct(T.wordShingles(col(textCol), shingleWords)).as(s"sh_$as"))
    val corpusPruned = corpus.join(
      cand.select(col("corpus_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    cand
      .join(shingles(batch, "batch_id"), Seq("batch_id"))
      .join(shingles(corpusPruned, "corpus_id"), Seq("corpus_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_batch_id"), col("sh_corpus_id"))).cast("double") /
          size(array_union(col("sh_batch_id"), col("sh_corpus_id"))))
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("batch_id"), col("corpus_id"), col("jaccard"))
  }

  /** Incremental dedup: rows of `batch` whose text does NOT already occur
    * in `corpus` — the "dedup tonight's crawl against everything ingested
    * so far" path, where re-shuffling the full corpus per batch would
    * dominate the pipeline.
    *
    * Scale shape: a Bloom filter over the corpus's 64-bit text hashes
    * (built once, broadcast) prefilters the batch — `mightContain = false`
    * rows are PROVABLY new and skip the join entirely, so only
    * (dup-rate + fpp) of the batch shuffles into the exact check. The
    * check itself is a 128-bit-key anti-join against the corpus keys, so
    * Bloom false positives are corrected, never silently dropped: the
    * result is EXACT regardless of `fpp`. The corpus side still scans once
    * per call — persist `corpusKeys128` (or bucket the corpus by the key)
    * when running many batches against the same corpus.
    *
    * The Bloom build is an eager Spark action (treeAggregate; bitset OR is
    * order-independent, so the filter — and everything downstream — stays
    * deterministic). The probe is Spark's own codegen'd
    * `BloomFilterMightContain` expression (via [[graft.plans.SketchProbe]])
    * — no UDF on the hot row path; the exactness contract never depends
    * on it either way.
    */
  def incrementalSurvivors(batch: DataFrame, corpus: DataFrame,
      textCol: String, idCol: String, expectedCorpusDocs: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val bloomHash = xxhash64(lit(3L), col(textCol))
    val bf = corpus.select(bloomHash.as("graft_bh"))
      .stat.bloomFilter("graft_bh", math.max(expectedCorpusDocs, 1L), fpp)
    val mightContain = graft.plans.SketchProbe.bloomMightContain(bf, bloomHash)
    val definitelyNew = batch.where(!mightContain)
    val maybeDup = batch.where(mightContain)
    val corpusKeys = corpusKeys128(corpus, textCol)
    val confirmedNew = maybeDup.join(corpusKeys,
      key128(col(textCol)) === col("graft_ck"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** Distinct 128-bit corpus keys for reuse across repeated
    * [[incrementalSurvivors]] batches — persist or write this once instead
    * of re-deriving it from the corpus text every batch.
    */
  def corpusKeys128(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(key128(col(textCol)).as("graft_ck")).distinct()

  /** Connected components over an undirected near-dup pair set — turns the
    * PAIRS the LSH/inverted-index variants emit into the CLUSTERS a dedup
    * actually deletes by: every doc in a component shares its component's
    * minimum id as `cluster_id`.
    *
    * Algorithm: distributed min-label propagation with POINTER JUMPING —
    * each round every vertex takes the minimum label over itself and its
    * neighbors (one id-keyed join + one groupBy-min on (id, label) rows
    * only), then follows its label's own label (one self-join of the small
    * label frame). The jump step composes reaches (r → 2r+2 per round), so
    * rounds grow with log(diameter), not diameter — a 10⁶-hop chain
    * converges in ~20 rounds where plain propagation needs 10⁶.
    * `localCheckpoint` truncates lineage each round so the plan does not
    * grow with the iteration count, and the pairs input is persisted once
    * so an expensive upstream (an LSH or inverted-index join) is never
    * recomputed per round. Throws if `maxIter` rounds fail to converge (an
    * unconverged labeling would silently SPLIT components — data loss in
    * reverse); the default 30 covers any diameter a physical graph can
    * reach (2³⁰ hops).
    *
    * `canonicalPairs = true` declares the input DISTINCT with idA < idB
    * (the contract every pair generator in this package honors) and
    * skips the symmetrize-dedup exchange — a full 2·|E| shuffle that is
    * pure waste on canonical input. Correctness never depends on the
    * flag (min-label aggregation absorbs duplicates); it is purely the
    * fan-out guard for arbitrary caller input.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 30,
      canonicalPairs: Boolean = false): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val p = pairs.select(col(idA).as("src"), col(idB).as("dst")).persist(mem)
    p.count() // materialize ONCE before the two union branches scan it
    // `canonicalPairs = true` asserts the input is DISTINCT with
    // idA < idB (what every pair generator in this package emits): the
    // symmetrized edge list is then duplicate-free by construction and
    // the dedup below is a wasted full shuffle of 2|E| rows — at corpus
    // scale the single largest avoidable exchange in this operator.
    // Duplicates are never a CORRECTNESS risk either way (min-label
    // aggregation is idempotent); with the flag set they would only
    // inflate the per-round join fan-out, so the guard stays the default
    // for arbitrary caller input.
    val sym = p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
    val edges = (if (canonicalPairs) sym else sym.dropDuplicates("src", "dst"))
      .persist(mem)
    // seed labels with min(id, neighbors) — the exact state the old
    // identity-init reached after its first propagate step, at the same
    // shuffle cost as the distinct() it replaces (one groupBy over the
    // edge list), so convergence arrives one full round (2 jobs) earlier
    var labels = edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("label"))
      .select(col("src").as("id"), col("label")).localCheckpoint(true)
    var iter = 0
    var converged = false
    // convergence check: labels only ever DECREASE, so the label sum is
    // strictly monotone until the fixpoint. The sum rides the checkpoint
    // job itself as an OBSERVED metric (CollectMetrics) — one Spark job
    // per round total, not checkpoint + a separate agg scan. DECIMAL(38,0)
    // sum: exact and overflow-free at any corpus size (a long sum
    // overflows at ~10⁹ rows of 2⁶³-ish ids).
    var prevSum: Option[java.math.BigDecimal] = None
    while (!converged && iter < maxIter) {
      // fresh aliases on every derived column: labels/prop/stepped would
      // otherwise share attribute ids across the self-referencing unions
      // and joins, which trips Catalyst's union constraint rewriting
      val prop = edges.join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("label").as("label"))
      // NOT checkpointed: the jump self-join below references `stepped`
      // twice, but both sides are the identical subplan, so the second
      // reference resolves to a ReusedExchange — one eager checkpoint per
      // round (on `next`) bounds plan growth at a third fewer Spark jobs
      // per round than checkpointing both stages
      val stepped = labels.select(col("id").as("id"), col("label").as("label"))
        .unionAll(prop)
        .groupBy("id").agg(min("label").as("label"))
      // pointer jump: label(v) ← min(label(v), label(label(v))). Labels are
      // always vertex ids, so the lookup side is the same frame.
      // EAGER checkpoint, measured: the lazy variant (agg materializes the
      // checkpoint as a side effect, one job/round instead of two) ran 2×
      // SLOWER at sf0.1 — the eager path stores the AQE-optimized final
      // partitioning, the lazy one pins the pre-coalesce shape and every
      // later round pays for it
      val obs = new org.apache.spark.sql.Observation(s"graft_cc_$iter")
      val next = stepped.alias("x").join(
          stepped.select(col("id").as("jid"), col("label").as("jlabel")).alias("j"),
          col("x.label") === col("j.jid"), "left")
        .select(col("x.id").as("id"),
          least(col("x.label"), coalesce(col("jlabel"), col("x.label"))).as("label"))
        .observe(obs, sum(col("label")
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("label_sum"))
        .localCheckpoint(true)
      val curSum = obs.get("label_sum").asInstanceOf[java.math.BigDecimal]
      labels = next
      converged = prevSum.exists(_.compareTo(curSum) == 0)
      prevSum = Some(curSum)
      iter += 1
    }
    edges.unpersist()
    p.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          s"component diameter exceeds ~2^$maxIter hops; raise maxIter")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Cluster assignment for EVERY document: components of `pairs` get their
    * component-min id, docs in no pair are their own singleton cluster.
    * Output: (idCol, cluster_id).
    */
  def dedupClusters(df: DataFrame, idCol: String, pairs: DataFrame,
      canonicalPairs: Boolean = false): DataFrame =
    df.select(col(idCol)).distinct()
      .join(connectedComponents(pairs, canonicalPairs = canonicalPairs)
          .withColumnRenamed("id", idCol),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))

  /** Survivor rows after cluster dedup: one representative (the
    * component-min id) per cluster, full original row retained via an
    * id-keyed semi join — the frame that continues down the pipeline.
    */
  def clusterSurvivors(df: DataFrame, idCol: String, pairs: DataFrame,
      canonicalPairs: Boolean = false): DataFrame =
    df.join(
      dedupClusters(df, idCol, pairs, canonicalPairs)
        .where(col(idCol) === col("cluster_id")).select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Survivor rows after cluster dedup keeping the BEST row per cluster
    * (max `score`, ties on min id) instead of [[clusterSurvivors]]'s
    * min-id — the curation-grade variant: when near-dups differ (one copy
    * truncated, one boilerplate-wrapped), the kept representative should
    * be the highest-quality one, not the accident of id order. The
    * per-cluster window is safe at scale: near-dup components are small
    * by construction (a giant component means the threshold is wrong, and
    * [[connectedComponents]] already bounds that pathology's cost).
    */
  def clusterSurvivorsBy(df: DataFrame, idCol: String, score: Column,
      pairs: DataFrame, canonicalPairs: Boolean = false): DataFrame = {
    val clustered = dedupClusters(df, idCol, pairs, canonicalPairs)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("graft_score").desc, col(idCol).asc)
    df.withColumn("graft_score", score)
      .join(clustered, Seq(idCol))
      .withColumn("graft_rn", row_number().over(w))
      .where(col("graft_rn") === 1)
      .drop("graft_rn", "graft_score", "cluster_id")
  }

  /** Fuzzy (edit-distance) near-dup pairs with COMPLETE recall at
    * `maxDist`: all (id_a, id_b, dist) with levenshtein ≤ maxDist —
    * entity-resolution over names/titles where token methods miss
    * single-character typos.
    *
    * Candidate generation is q-gram PREFIX FILTERING (Gravano et al. 2001
    * / PPJoin family): a string of g q-grams within edit distance k of
    * another shares ≥ g − k·q of its q-grams (each edit destroys ≤ q),
    * so under ANY global total order on grams, the two strings' first
    * k·q + 1 grams must intersect — index ONLY those. Ordering by global
    * document frequency ascending makes the indexed grams the RAREST
    * ones, collapsing posting lists exactly where the corpus is dense
    * (shared prefixes/boilerplate land at the tail, never indexed).
    * Occurrence-tagging (`gram#n`) turns the multiset bound into plain
    * set joins. A length filter (|len_a − len_b| ≤ k) prunes before the
    * exact levenshtein verify.
    *
    * Scale shape: explode ~len grams/row, ONE df groupBy, per-row window
    * to keep k·q+1 prefix rows, posting-list self-join on the rare grams,
    * verify on collided pairs only. Σ df² runs over RARE grams — the
    * dial is q (bigger q = more selective grams, recall bound unchanged).
    *
    * Density caveat: when the TRUE pair set is itself near-quadratic
    * (serial-number-style keys where most strings are within maxDist of
    * hundreds of others), no complete-recall method beats the output
    * size — candidates are lower-bounded by the answer. That corpus
    * wants clustering on a projection (drop the serial digits), not a
    * pairwise join.
    */
  def editDistancePairs(df: DataFrame, textCol: String, idCol: String,
      maxDist: Int = 1, q: Int = 2, maxShortPool: Long = 10000L): DataFrame = {
    require(maxDist >= 1 && q >= 1, "editDistancePairs: need maxDist, q >= 1")
    val prefixLen = maxDist * q + 1
    // occurrence-tagged positional q-grams; strings shorter than q get one
    // whole-string gram so they still index
    val grams = df.select(col(idCol).as("id"), col(textCol).as("s"))
      .withColumn("g0", when(length(col("s")) < q, array(col("s")))
        .otherwise(expr(s"transform(sequence(1, length(s) - $q + 1), " +
          s"i -> substring(s, i, $q))")))
      .select(col("id"), col("s"), posexplode(col("g0")).as(Seq("gpos", "g")))
      .withColumn("occ", row_number().over(
        Window.partitionBy(col("id"), col("g")).orderBy(col("gpos"))))
      .select(col("id"), col("s"), concat_ws("#", col("g"), col("occ")).as("tg"))
    val dfreq = grams.groupBy(col("tg")).agg(count(lit(1)).as("graft_df"))
    // eager pin: the prefix index is ≤ prefixLen rows per string, but its
    // lineage holds the whole two-window q-gram chain (occurrence tags,
    // doc-frequency join, prefix rank) and BOTH sides of the candidate
    // self-join consume it — without the pin the chain runs twice
    val prefix = grams.join(dfreq, Seq("tg"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("graft_df").asc, col("tg").asc)))
      .where(col("rn") <= prefixLen)
      .select(col("id"), col("s"), col("tg"))
      .localCheckpoint(true)
    val cand = prefix.alias("a").join(prefix.alias("b"),
        col("a.tg") === col("b.tg") && col("a.id") < col("b.id"))
      .where(abs(length(col("a.s")) - length(col("b.s"))) <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"))
    // strings with ≤ k·q grams have a VACUOUS count bound (g − k·q ≤ 0):
    // a qualifying pair can share zero grams, so the prefix index may miss
    // it. Such strings are short (len ≤ k·q + q − 1), and a partner within
    // edit distance k is at most k longer — all-pairs the short pool
    // (bounded population by construction) and union it in.
    val shortThr = maxDist * q + q - 1 + maxDist
    // pinned: bounded at maxShortPool rows by the gate below, and
    // consumed three times (the count gate + both all-pairs sides)
    val shortPool = df.select(col(idCol).as("id"), col(textCol).as("s"))
      .where(length(col("s")) <= shortThr)
      .localCheckpoint(true)
    // the pool's all-pairs join is bounded BY CONSTRUCTION for name/title
    // corpora, but a corpus of millions of very short strings would go
    // quadratic silently — count it and raise, mirroring rangeJoin's
    // corrupt-interval raise, so the contract is self-enforcing
    val nShort = shortPool.count()
    if (nShort > maxShortPool)
      throw graft.GraftError.LimitExceeded(
        s"editDistancePairs: $nShort strings of length <= $shortThr form an " +
          s"all-pairs verification pool past maxShortPool=$maxShortPool " +
          s"(~${nShort * nShort / 2} pairs); cluster on a projection or " +
          "raise maxShortPool explicitly")
    val shortCand = shortPool.alias("a").join(shortPool.alias("b"),
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.s").as("sa"), col("b.s").as("sb"))
    cand.unionAll(shortCand)
      .dropDuplicates("id_a", "id_b")
      // threshold form bounds the DP to an O(maxDist·n) band and bails
      // with -1 past it — the verify stage's cost per candidate drops
      // from len² to len·k
      .withColumn("dist", levenshtein(col("sa"), col("sb"), maxDist))
      .where(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist").cast("bigint").as("dist"))
  }

  /** Distinct candidate id pairs from multi-table sign-LSH bucketing of an
    * `(id, v)` frame — the pruning stage of [[embeddingCosinePairs]],
    * exposed so specs can measure the candidate ratio (candidates /
    * all-pairs) a parameterization actually achieves.
    */
  /** lshBits for a LINEAR-scaling near-dup candidate pass: size the
    * signature so the 2^bits bucket space grows with the corpus and
    * expected bucket occupancy stays ~`targetBucketSize` — fixed bits
    * leave a constant bucket count, occupancy ∝ N, and the bucket
    * self-join quadratic (the same fixed-capacity disease as a fixed IVF
    * nlist — see Similarity.autoNlist). Finer buckets trade recall on
    * WEAKLY-similar pairs (those need the coarse-bits regime, where
    * near-quadratic candidates are the semantics, not a plan bug);
    * hamming-near vectors at near-dup thresholds (≥ 0.9) still collide,
    * and `lshTables` buys the recall back.
    */
  def autoLshBits(corpusSize: Long, targetBucketSize: Int = 32,
      minBits: Int = 4, maxBits: Int = 30): Int = {
    require(targetBucketSize >= 1, "autoLshBits: targetBucketSize must be >= 1")
    val buckets = math.max(1.0, corpusSize.toDouble / targetBucketSize)
    math.min(maxBits, math.max(minBits,
      math.ceil(math.log(buckets) / math.log(2.0)).toInt))
  }

  /** Sentinel `maxDocFreq` value: derive the posting-list doc-frequency
    * cap from corpus size via [[autoMaxDocFreq]].
    */
  val AdaptiveDocFreq: Long = -1L

  /** Prefix extension k of the AllPairs candidate stage (see
    * `prefixCandidates`): prefixes run k−1 entries past the minimal
    * ⌈t·n⌉ bound and candidates must collide ≥ min(k, ⌈t·n_small⌉)
    * times — each unit of k buys one more required collision (a
    * multiplicative candidate cut on weakly-overlapping pairs) for one
    * more indexed posting row per document (an additive cost). k=3
    * measured 22.5M → 22.5k candidates at 10× bench scale.
    */
  val PrefixSlack: Int = 3

  /** Corpus-adaptive posting-list doc-frequency cap for the
    * inverted-index pair joins ([[ngramJaccardPairs]],
    * [[containmentPairs]], `Corpus.winnowPairs`):
    * `max(32, ceil(4·log2(N)))`. Rationale: self-join cost is Σ df(g)²,
    * and capping at c bounds it by c·|posting| — LINEAR in corpus per
    * unit of cap — so the cap must grow (at most) slowly for the plan to
    * survive 100×; log growth gives legitimately-popular content
    * headroom in bigger corpora while a shingle shared by more than
    * ~4·log2(N) documents is boilerplate, not evidence of a specific
    * near-dup pair (the same saturation argument as a Zipf stop-word
    * cut). At 10¹⁰ docs the cap is 133 — shingles in >133 of 10 billion
    * docs carry no pair information. Recall trade (documented at the
    * call sites): only pairs whose EVERY shared shingle exceeds the cap
    * are lost.
    */
  def autoMaxDocFreq(corpusSize: Long): Long = {
    val n = math.max(2L, corpusSize).toDouble
    math.max(32L, math.ceil(4.0 * math.log(n) / math.log(2.0)).toLong)
  }

  /** Resolve a `maxDocFreq` argument: [[AdaptiveDocFreq]] → derive from
    * the corpus row count (a metadata-only job on parquet sources), 0 →
    * uncapped exact, > 0 → pinned.
    */
  private[graft] def resolveDocFreqCap(maxDocFreq: Long, corpus: DataFrame): Long =
    if (maxDocFreq == AdaptiveDocFreq) autoMaxDocFreq(corpus.count()) else maxDocFreq

  def signLshCandidates(base: DataFrame, lshBits: Int, dim: Int,
      lshTables: Int): DataFrame = {
    // pinned: lshTables flat rows per vector (ids + two ints), consumed
    // by BOTH self-join sides — exchange reuse cannot be relied on here
    // because AQE may plan one side as a broadcast (different exchange
    // type, no ReusedExchange), and each side would then re-run the
    // hyperplane signature over the full corpus
    val bucketed = base.select(col("id"),
      explode(array((0 until lshTables).map(l =>
        struct(lit(l).as("tbl"),
          V.signLshBucket(col("v"), lshBits, dim, seed = 42L + l).as("bkt"))): _*))
        .as("tb"))
      .select(col("id"), col("tb.tbl"), col("tb.bkt"))
      .localCheckpoint(true)
    bucketed.alias("a").join(bucketed.alias("b"),
      col("a.tbl") === col("b.tbl") && col("a.bkt") === col("b.bkt") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Embedding cosine near-dup pairs. `lshBits = 0` → exact all-pairs
    * comparison (verification scale only); lshBits > 0 → multi-table
    * sign-LSH candidate generation, the 100 TB path: candidates are id
    * pairs from any of `lshTables` seeded hyperplane signatures (explode
    * carries ids only), vectors re-join for the exact cosine filter.
    *
    * REGIME BOUNDARY — pick bits from these numbers, not by feel. For an
    * UNRELATED pair each sign bit agrees with p ≈ 1/2, so one table
    * collides with ≈ 2^-bits and T tables admit a candidate fraction
    * f ≈ T·2^-bits of all N²/2 pairs; for a TRUE pair at cosine t each
    * bit agrees with p = 1 − arccos(t)/π, per-table collision p^bits,
    * recall ≈ 1 − (1 − p^bits)^T. Concretely at T = 8 tables:
    *
    *   bits   f = T·2^-bits   candidates @N=20k   @N=2M      recall t=0.9 / 0.97
    *   4      50 %            100 M               10^12      1.00 / 1.00
    *   10     0.8 %           1.6 M               1.6·10^10  0.87 / 0.998
    *   16     0.012 %         24 k                2.4·10^8   0.50 / 0.92
    *   autoLshBits(N)  ≈ T·targetBucketSize·N/2 — LINEAR in N at any size
    *
    * The boundary rule: thresholds ≥ ~0.9 (near-dup) take
    * [[autoLshBits]] (or pinned 12-16 bits at bench scales) — buckets
    * fine enough that f collapses while hamming-near vectors still
    * collide. Thresholds < ~0.8 over generic vectors NEED coarse bits
    * (4-6) for recall, and there the near-quadratic candidate set IS the
    * answer's size, not a plan bug — budget f·N²/2 rows or raise the
    * threshold. Fixed bits at growing N is the one wrong choice:
    * occupancy ∝ N turns the bucket self-join quadratic, which is why
    * `autoLshBits` scales the bucket space with the corpus
    * (spec-asserted: candidate count stays ≤ T·targetBucketSize·N across
    * a 10× corpus jump).
    */
  def embeddingCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, lshBits: Int = 0, dim: Int = 64,
      lshTables: Int = 8): DataFrame = {
    val base0 = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    if (lshBits == 0) {
      // exact path: the nested-loop cosines run map-side on this frame's
      // partitioning — fan an under-parallel scan out first
      val base = Par.fanOut(base0)
      return base.alias("a").join(base.alias("b"), col("a.id") < col("b.id"))
        .withColumn("cos", V.cosine(col("a.v"), col("b.v")))
        .where(col("cos") >= threshold)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          round(col("cos"), 6).as("cosine"))
    }
    // Fan out ONLY the signature arm: the hyperplane-signature explode
    // (bits × dim dot products per table per row) is the heavy map work
    // fused into the scan. The verify joins below do their cosine AFTER
    // a join (post-shuffle or on the pinned candidate partitioning), so
    // their map-side work is a bare projection — fanning that arm buys
    // no parallelism and costs an exchange per side (measured r20:
    // q_dedup_embedding_tight paid 1.13–1.49× for it while its sibling
    // won 0.52; r21 re-gates the fan-out to the signature arm only).
    // No pin on `base0`: the verify joins shuffle it by id on both sides
    // with identical subplans, so ReusedExchange already shares the scan
    // (measured: an eager checkpoint adds a materialization pass and
    // saves nothing)
    signLshCandidates(Par.fanOut(base0), lshBits, dim, lshTables)
      .join(base0.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(base0.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos", V.cosine(col("va"), col("vb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cosine"))
  }

  /** SemDeDup-style cluster-scoped semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embeddings (the deterministic
    * Lloyd machinery IVF already uses — [[Similarity.seedAndRefine]]),
    * then compare pairs ONLY within a cluster and drop every row
    * dominated by a lower-id row at cosine ≥ `threshold`. Returns the
    * surviving rows of `df`.
    *
    * Scale shape: the within-cluster self-join shuffles each vector once
    * on `list_id`, and the quadratic is bounded per cluster at
    * ~(corpus/nlist)² — `nlist` is the dial that trades recall (near-dups
    * split across cluster boundaries are missed, the SemDeDup
    * approximation) against cost; the paper runs ~100k clusters at
    * web scale. First-occurrence-wins is the same survivor contract as
    * [[exactSurvivors]]: a row is dropped iff SOME lower-id row in its
    * cluster clears the threshold (chains do not revive — if a<b<c with
    * only a~b and b~c, c still drops because b dominates it, matching the
    * paper's drop-all-but-one-per-similar-group intent deterministically).
    */
  def semanticSurvivors(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double, nlist: Int = 16, refineIterations: Int = 1): DataFrame = {
    val c = df.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val centroids = Similarity.seedAndRefine(c, nlist, refineIterations)
    // the assignment feeds BOTH sides of the within-cluster self-join —
    // eager localCheckpoint materializes the corpus scan once instead of
    // per side
    val asg = Similarity.assignToLists(c, centroids).localCheckpoint(true)
    val a = asg.select(col("list_id"), col("corpus_id").as("a_id"), col("cv").as("av"))
    val b = asg.select(col("list_id"), col("corpus_id").as("b_id"), col("cv").as("bv"))
    val dropped = a.join(b, Seq("list_id"))
      .where(col("a_id") < col("b_id"))
      .where(V.cosine(col("av"), col("bv")) >= threshold)
      .select(col("b_id").as("graft_drop_id")).distinct()
    df.join(dropped, col(idCol) === col("graft_drop_id"), "left_anti")
  }
}
