package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.normalize.Normalize

/** One pending join edge (reference: src/elusion.rs:149-154 `Join`). */
case class JoinClause(frame: GraftFrame, conditions: Seq[String], joinType: String)

/** Deferred post-query rewrites — the reference wraps the final SELECT in
  * CTEs for these (src/elusion.rs:2352-2366, 3613-3616); we apply them as
  * DataFrame transforms on the query result at `.elusion()` time, which is
  * the same observable semantics without a string round-trip.
  */
sealed trait DeferredOp
case class FillNullOp(cols: Seq[String], value: String) extends DeferredOp
case class DropNullOp(cols: Seq[String]) extends DeferredOp
case class FillDownOp(cols: Seq[String], orderCols: Seq[String]) extends DeferredOp
case class SkipRowsOp(n: Long, orderCols: Seq[String]) extends DeferredOp

/** Pending-clause state mirroring the reference's `CustomDataFrame` struct
  * (src/elusion.rs:157-188): normalized SQL text fragments per clause plus
  * raw copies for alias resolution.
  */
case class QueryState(
    selects: Vector[String] = Vector.empty,
    rawSelects: Vector[String] = Vector.empty,
    aggs: Vector[String] = Vector.empty,
    groupBy: Vector[String] = Vector.empty,
    where: Vector[String] = Vector.empty,
    having: Vector[String] = Vector.empty,
    orderBy: Vector[String] = Vector.empty,
    limitN: Option[Long] = None,
    joins: Vector[JoinClause] = Vector.empty,
    windows: Vector[String] = Vector.empty,
    deferred: Vector[DeferredOp] = Vector.empty,
    groupByAll: Boolean = false,
    groupMode: String = "PLAIN", // PLAIN | CUBE | ROLLUP | SETS
    groupingSets: Vector[Vector[String]] = Vector.empty,
    ctes: Vector[String] = Vector.empty) {
  def isEmpty: Boolean =
    selects.isEmpty && aggs.isEmpty && groupBy.isEmpty && where.isEmpty &&
      having.isEmpty && orderBy.isEmpty && limitN.isEmpty && joins.isEmpty &&
      windows.isEmpty && deferred.isEmpty && groupingSets.isEmpty && ctes.isEmpty
}

object GraftFrame {
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] def freshView(alias: String): String =
    s"graft_${alias}_${viewCounter.incrementAndGet()}"

  /** Wrap an existing DataFrame under an alias (reference
    * `AliasedDataFrame`, src/elusion.rs:274-277). Column names are
    * lowercase-normalized like every reference load.
    */
  def apply(df: DataFrame, alias: String): GraftFrame = {
    val cols = df.columns.map(Normalize.normalizeColumnName)
    val normed = if (cols.sameElements(df.columns)) df else df.toDF(cols.toIndexedSeq: _*)
    new GraftFrame(normed, alias, QueryState())
  }

  /** `SELECT 1 AS dummy` single-row frame (src/elusion.rs:322-367). */
  def empty(spark: SparkSession): GraftFrame =
    apply(spark.range(1).select(lit(1).as("dummy")), "empty")
}

/** A Spark-first re-expression of the reference's `CustomDataFrame`
  * (reference: src/elusion.rs:157-188): a lazy `DataFrame` plus a typed
  * clause state. Builder calls normalize their string arguments and append
  * to the state; the terminal `.elusion(alias)` constructs ONE Spark SQL
  * statement over per-call-unique temp views and lets Catalyst/AQE plan and
  * execute it (the reference hands the analogous string to DataFusion,
  * src/elusion.rs:3568-3619, 3702).
  *
  * Scale notes vs the reference: nothing is ever collected to the driver —
  * the reference eagerly materializes every load and every `.elusion()`
  * into in-memory Arrow batches (src/elusion.rs:3844-3911), which caps it
  * at single-node RAM. Here results stay lazy/distributed; use
  * `.elusionCached` to pin a pipeline stage (persist MEMORY_AND_DISK).
  */
class GraftFrame(val df: DataFrame, val alias: String, val state: QueryState) {
  import Normalize._

  def spark: SparkSession = df.sparkSession
  private def withState(s: QueryState) = new GraftFrame(df, alias, s)

  // ───────────────────────── projection / filtering ──────────────────────

  /** `select` with string expressions, `AS` aliases, `*` / `alias.*`
    * star-expansion with first-wins base-name dedup and `::` cast rewrite
    * (reference src/elusion.rs:2972-3147, dedup 3073-3095).
    */
  def select(exprs: String*): GraftFrame = {
    val expanded = exprs.flatMap(expandStar)
    withState(state.copy(
      selects = state.selects ++ expanded.map(normalizeExpression),
      rawSelects = state.rawSelects ++ expanded))
  }

  private def allSources: Seq[(String, DataFrame)] =
    (alias -> df) +: state.joins.map(j => j.frame.alias -> j.frame.df)

  /** Expand `*` and `tbl.*` from known schemas, deduping by base column
    * name, first occurrence wins (src/elusion.rs:3073-3095).
    */
  private def expandStar(e: String): Seq[String] = e.trim match {
    case "*" =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      allSources.flatMap { case (a, d) =>
        d.columns.toSeq.collect { case c if seen.add(c.toLowerCase) => s"$a.$c" }
      }
    case s if s.endsWith(".*") =>
      val a = s.dropRight(2).toLowerCase
      allSources.find(_._1.toLowerCase == a) match {
        case Some((_, d)) => d.columns.toSeq.map(c => s"$a.$c")
        case None => Seq(s)
      }
    case other => Seq(other)
  }

  /** WHERE condition, ANDed with previous (src/elusion.rs:1050-1073). */
  def filter(condition: String): GraftFrame =
    withState(state.copy(where = state.where :+ normalizeCondition(condition)))

  /** Raw CTEs prepended to the generated statement (reference
    * `with_ctes`/`with_cte_single`, src/elusion.rs:1169-1183): each string
    * is a full `name AS (SELECT …)` fragment, kept verbatim — later CTEs
    * may reference earlier ones, and the main query's filters/selects may
    * use them in subqueries. CTE bodies see this frame (and its joined
    * frames) under their plain aliases, the same visibility the reference
    * gives registered tables.
    */
  def withCtes(ctes: String*): GraftFrame =
    withState(state.copy(ctes = state.ctes ++ ctes))

  def withCteSingle(cte: String): GraftFrame = withCtes(cte)

  def filterMany(conditions: String*): GraftFrame =
    conditions.foldLeft(this)(_ filter _)

  /** Computed string-function columns appended to the SELECT list; when a
    * GROUP BY is active the bare expression joins the grouping list
    * (src/elusion.rs:1192-1225).
    */
  def stringFunctions(exprs: String*): GraftFrame = appendComputed(exprs)

  /** Same contract for datetime expressions (src/elusion.rs:1192-1225). */
  def datetimeFunctions(exprs: String*): GraftFrame = appendComputed(exprs)

  private def appendComputed(exprs: Seq[String]): GraftFrame = {
    val normed = exprs.map(normalizeExpression)
    val addToGroup =
      if (state.groupBy.nonEmpty || state.groupByAll)
        normed.map(e => splitAlias(e)._1).filter(isGroupable)
      else Vector.empty
    withState(state.copy(
      selects = state.selects ++ normed,
      rawSelects = state.rawSelects ++ exprs,
      groupBy = state.groupBy ++ addToGroup))
  }

  /** Scalar JSON key extraction from a JSON-string column:
    * `json("props.'$Key' AS k")` (reference does string hacking with
    * POSITION/SUBSTRING, src/elusion.rs:3150-3221; `get_json_object` is the
    * Spark-native equivalent with identical results).
    */
  def json(exprs: String*): GraftFrame = {
    val converted = exprs.map { e =>
      val (body, aliasOpt) = splitAlias(e)
      val m = """^([A-Za-z_][A-Za-z0-9_.]*)\.'\$([^']+)'$""".r.findFirstMatchIn(body.trim)
      m match {
        case Some(g) =>
          val col = g.group(1).toLowerCase
          val key = g.group(2)
          val a = aliasOpt.getOrElse(key.toLowerCase)
          s"get_json_object($col, '$$.$key') AS $a"
        case None => e
      }
    }
    select(converted: _*)
  }

  /** JSON-array extraction `col.'$Value:Id=X' AS a` — find the object in a
    * JSON array whose Id equals X and pull Value
    * (src/elusion.rs:3224-3323). Implemented with from_json + filter over
    * the parsed array instead of regex hacking.
    */
  def jsonArray(exprs: String*): GraftFrame = {
    val converted = exprs.map { e =>
      val (body, aliasOpt) = splitAlias(e)
      val m = """^([A-Za-z_][A-Za-z0-9_.]*)\.'\$([A-Za-z0-9_]+):([A-Za-z0-9_]+)=([^']+)'$""".r
        .findFirstMatchIn(body.trim)
      m match {
        case Some(g) =>
          val (col, valueKey, idKey, idVal) =
            (g.group(1).toLowerCase, g.group(2), g.group(3), g.group(4))
          val a = aliasOpt.getOrElse(valueKey.toLowerCase)
          s"""filter(from_json($col, 'array<map<string,string>>'), x -> x['$idKey'] = '$idVal')[0]['$valueKey'] AS $a"""
        case None => e
      }
    }
    select(converted: _*)
  }

  // ───────────────────────────── aggregation ─────────────────────────────

  /** `.agg()` — only expressions passing the aggregate-head gate are kept,
    * silently dropped otherwise (reference src/elusion.rs:1229-1251,
    * normalize.rs:930-939).
    */
  def agg(exprs: String*): GraftFrame = {
    val kept = exprs.filter(passesAggregateGate)
    withState(state.copy(aggs = state.aggs ++ kept.map(normalizeExpression)))
  }

  /** GROUP BY columns / expressions; aliases resolve back to their original
    * select expression (src/elusion.rs:963-996).
    */
  def groupBy(cols: String*): GraftFrame = {
    val resolved = cols.map(c => resolveAliasToOriginal(normalizeExpression(c)))
    withState(state.copy(groupBy = state.groupBy ++ resolved))
  }

  /** GROUP BY every groupable selected column (non-aggregate, non-window),
    * alias-aware (src/elusion.rs:999-1046).
    */
  def groupByAll(): GraftFrame = withState(state.copy(groupByAll = true))

  /** GROUP BY CUBE — every subset of the grouping columns in one pass
    * (SURVEY §2.5 marked cube/rollup as surface Spark provides for free;
    * the reference only passes GROUPING() through, normalize.rs:46).
    * Spark plans this as a single Expand + hash aggregate, so the input is
    * scanned once no matter how many grouping combinations it emits.
    */
  def groupByCube(cols: String*): GraftFrame = groupedMode("CUBE", cols)

  /** GROUP BY ROLLUP — hierarchical prefixes of the grouping columns
    * (n+1 grouping sets), same single-scan Expand plan as [[groupByCube]].
    */
  def groupByRollup(cols: String*): GraftFrame = groupedMode("ROLLUP", cols)

  /** GROUP BY GROUPING SETS — explicit grouping combinations; each set is
    * one Seq of columns, `Seq()` is the grand total.
    */
  def groupByGroupingSets(sets: Seq[String]*): GraftFrame = {
    val resolved = sets.map(_.map(c =>
      resolveAliasToOriginal(normalizeExpression(c))).toVector).toVector
    withState(state.copy(groupingSets = resolved, groupMode = "SETS"))
  }

  private def groupedMode(mode: String, cols: Seq[String]): GraftFrame = {
    val resolved = cols.map(c => resolveAliasToOriginal(normalizeExpression(c)))
    withState(state.copy(groupBy = state.groupBy ++ resolved, groupMode = mode))
  }

  /** HAVING, may reference aggregate aliases (src/elusion.rs:1077-1101). */
  def having(condition: String): GraftFrame =
    withState(state.copy(having = state.having :+ normalizeCondition(condition)))

  def havingMany(conditions: String*): GraftFrame =
    conditions.foldLeft(this)(_ having _)

  private def resolveAliasToOriginal(c: String): String = {
    val target = c.trim.toLowerCase
    state.selects.iterator
      .map(splitAlias)
      .collectFirst { case (expr, Some(a)) if a == target => expr }
      .getOrElse(c)
  }

  // ─────────────────────────────── windows ───────────────────────────────

  /** One raw SQL window expression per call, appended to the SELECT list
    * (reference src/elusion.rs:1161-1165; surface per README.md:2759-2804:
    * aggregates/ranking/analytic functions over PARTITION BY / ORDER BY /
    * ROWS BETWEEN frames — all Catalyst built-ins).
    */
  def window(expr: String): GraftFrame =
    withState(state.copy(windows = state.windows :+ normalizeWindowExpression(expr)))

  // ─────────────────────────────── joins ─────────────────────────────────

  /** Join with string conditions ANDed; types INNER, LEFT, RIGHT, FULL,
    * LEFT SEMI, LEFT ANTI, RIGHT SEMI, RIGHT ANTI, LEFT MARK
    * (src/elusion.rs:905-960; README.md:2752-2758). RIGHT SEMI/ANTI are
    * realized by swapping sides at SQL construction; LEFT MARK via a
    * distinct-key left join + flag (SURVEY §4.3 rewrite).
    */
  def join(other: GraftFrame, condition: String, joinType: String = "INNER"): GraftFrame =
    joinOn(other, Seq(condition), joinType)

  def joinOn(other: GraftFrame, conditions: Seq[String], joinType: String): GraftFrame = {
    val jt = joinType.trim.toUpperCase.replace('_', ' ')
    // LEFT MARK has no SQL surface form — the mark flag needs the
    // distinct-key rewrite, so route callers to markJoin() instead of
    // silently emitting a row-duplicating LEFT join.
    if (jt == "LEFT MARK")
      throw GraftError.JoinError(
        "LEFT MARK is not expressible in the SQL builder path — use " +
          "markJoin(other, leftKey, rightKey, markColumn)")
    // RIGHT SEMI/ANTI are realized by swapping sides at SQL construction,
    // which is only well-defined for a sole join — fail fast instead of
    // emitting SQL Spark's parser rejects.
    val isRightSided = jt == "RIGHT SEMI" || jt == "RIGHT ANTI"
    if ((isRightSided && state.joins.nonEmpty) ||
        state.joins.exists(j => j.joinType == "RIGHT SEMI" || j.joinType == "RIGHT ANTI"))
      throw GraftError.JoinError(
        "RIGHT SEMI/ANTI joins are supported only as the sole join of a query")
    // complexity hint (reference src/elusion.rs:925-929): >3 joins →
    // suggest materializing an intermediate stage
    if (state.joins.length >= 3)
      System.err.println("[graft] hint: >3 joins in one query — consider " +
        "materializing an intermediate result with .elusionCached(alias)")
    withState(state.copy(joins = state.joins :+
      JoinClause(other, conditions.map(normalizeCondition), jt)))
  }

  def joinMany(edges: (GraftFrame, String, String)*): GraftFrame =
    edges.foldLeft(this) { case (f, (o, c, t)) => f.join(o, c, t) }

  /** AS-OF join on the builder: evaluates both sides' pending clauses and
    * delegates to [[graft.operators.TemporalJoins.asofJoin]] (union-window
    * form, one by-key shuffle). Result is a fresh frame under
    * `resultAlias` — an as-of match has no SQL surface form, so like
    * `markJoin` it cannot stack inside the clause builder.
    */
  def asofJoin(other: GraftFrame, leftTs: String, rightTs: String,
      by: Seq[String], resultAlias: String, direction: String = "backward",
      allowExactMatches: Boolean = true,
      toleranceSeconds: Option[Double] = None,
      rightPrefix: String = "r_"): GraftFrame = {
    val out = graft.operators.TemporalJoins.asofJoin(execute(), other.execute(),
      leftTs, rightTs, by, direction, allowExactMatches, toleranceSeconds,
      rightPrefix)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** RANGE (interval containment) join on the builder — see
    * [[graft.operators.TemporalJoins.rangeJoin]].
    */
  def rangeJoin(other: GraftFrame, leftTs: String, startCol: String,
      endCol: String, by: Seq[String], resultAlias: String,
      bucketWidthSeconds: Long = 3600L, inclusiveEnd: Boolean = false,
      rightPrefix: String = "r_"): GraftFrame = {
    val out = graft.operators.TemporalJoins.rangeJoin(execute(), leftTs,
      other.execute(), startCol, endCol, by, bucketWidthSeconds, inclusiveEnd,
      rightPrefix)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Exact-dedup survivors on the builder: one row per distinct `textCol`
    * (min `idCol` wins) — see [[graft.operators.Dedup.exactSurvivors]].
    */
  def dedupExact(textCol: String, idCol: String, resultAlias: String): GraftFrame = {
    val out = graft.operators.Dedup.exactSurvivors(execute(), textCol, idCol)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** MinHash-LSH near-dup pairs on the builder — see
    * [[graft.operators.Dedup.minhashLshPairs]] for the banding contract.
    */
  def nearDupPairs(textCol: String, idCol: String, resultAlias: String,
      numHashes: Int = 64, bands: Int = 16, shingleWords: Int = 3,
      jaccardThreshold: Double = 0.5): GraftFrame = {
    val out = graft.operators.Dedup.minhashLshPairs(execute(), textCol, idCol,
      numHashes, bands, shingleWords, jaccardThreshold)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Asymmetric containment pairs on the builder — see
    * [[graft.operators.Dedup.containmentPairs]] (short-inside-long wraps
    * Jaccard's union normalizer hides).
    */
  def containmentPairs(textCol: String, idCol: String, resultAlias: String,
      shingleWords: Int = 3, threshold: Double = 0.8): GraftFrame = {
    val out = graft.operators.Dedup.containmentPairs(execute(), textCol,
      idCol, shingleWords, threshold)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Naive Bayes class prediction on the builder, trained on `train` —
    * see [[graft.operators.Classify.nbPredict]].
    */
  def classifyNb(train: GraftFrame, textCol: String, idCol: String,
      labelCol: String, resultAlias: String): GraftFrame = {
    val out = graft.operators.Classify.nbPredict(execute(), train.execute(),
      textCol, idCol, labelCol)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** DSIR importance-weighted top-k selection against a target corpus on
    * the builder — see [[graft.operators.Classify.importanceSelect]].
    */
  def selectByImportance(target: GraftFrame, textCol: String, idCol: String,
      k: Int, resultAlias: String, buckets: Int = 8192): GraftFrame = {
    val out = graft.operators.Classify.importanceSelect(execute(),
      target.execute(), textCol, idCol, k, buckets)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** PageRank over a pair frame (id_a, id_b) on the builder — see
    * [[graft.operators.GraphOps.pageRank]].
    */
  def pageRank(resultAlias: String, idA: String = "id_a",
      idB: String = "id_b", iterations: Int = 3,
      damping: Double = 0.85): GraftFrame = {
    val out = graft.operators.GraphOps.pageRank(execute(), idA, idB,
      iterations, damping)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Winnow-fingerprint copy pairs on the builder — see
    * [[graft.operators.Corpus.winnowPairs]] (incl. the `maxDocFreq`
    * hot-boilerplate posting cap).
    */
  def winnowPairs(textCol: String, idCol: String, resultAlias: String,
      k: Int = 5, windowSize: Int = 4, minShared: Long = 1L,
      maxDocFreq: Long = graft.operators.Dedup.AdaptiveDocFreq): GraftFrame = {
    val out = graft.operators.Corpus.winnowPairs(execute(), textCol, idCol,
      k, windowSize, minShared, maxDocFreq)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Image-header decode on the builder — see
    * [[graft.operators.Multimodal.decodeMedia]]: (media_id, payload) →
    * (format, width, height, channels), map-side, null-preserving.
    */
  def decodeMedia(resultAlias: String): GraftFrame = {
    val out = graft.operators.Multimodal.decodeMedia(execute())
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** ANN-backed kNN graph edges on the builder — see
    * [[graft.operators.Similarity.ivfKnnEdges]]: every row of this frame
    * probes the persisted IVF index at `indexPath`; pair the result with
    * [[pageRank]] for the indexed centrality pipeline.
    */
  def knnEdgesIndexed(indexPath: String, vecCol: String, idCol: String,
      resultAlias: String, k: Int, nprobe: Int = 4): GraftFrame = {
    val out = graft.operators.Similarity.ivfKnnEdges(indexPath, execute(),
      vecCol, idCol, k, nprobe)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Group-pair shingle overlap matrix on the builder — see
    * [[graft.operators.Corpus.groupOverlap]].
    */
  def groupOverlap(textCol: String, groupCol: String, resultAlias: String,
      shingleWords: Int = 3): GraftFrame = {
    val out = graft.operators.Corpus.groupOverlap(execute(), textCol,
      groupCol, shingleWords)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Per-doc novelty against a reference frame on the builder — see
    * [[graft.operators.Corpus.noveltyScore]].
    */
  def noveltyAgainst(reference: GraftFrame, textCol: String, idCol: String,
      resultAlias: String, shingleWords: Int = 3): GraftFrame = {
    val out = graft.operators.Corpus.noveltyScore(execute(),
      reference.execute(), textCol, idCol, shingleWords)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Curriculum quality tiers on the builder — see
    * [[graft.operators.Corpus.curriculumBins]].
    */
  def curriculumBins(textCol: String, idCol: String, k: Int,
      resultAlias: String): GraftFrame = {
    val out = graft.operators.Corpus.curriculumBins(execute(), textCol,
      idCol, k)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Token-budget source mixture on the builder — see
    * [[graft.operators.Corpus.tokenBudgetMixture]].
    */
  def mixByTokenBudget(textCol: String, sourceCol: String, idCol: String,
      budgets: Seq[(String, Long)], resultAlias: String,
      salt: String = "graft"): GraftFrame = {
    val out = graft.operators.Corpus.tokenBudgetMixture(execute(), textCol,
      sourceCol, idCol, budgets, salt)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Deterministic per-group row cap on the builder — see
    * [[graft.operators.Corpus.sampleKPerGroup]].
    */
  def capPerGroup(groupCol: String, idCol: String, k: Int,
      resultAlias: String, salt: String = "graft-cap"): GraftFrame = {
    val out = graft.operators.Corpus.sampleKPerGroup(execute(), groupCol,
      idCol, k, salt)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Bloom-prefiltered LEFT SEMI join on the builder — see
    * [[graft.operators.RuntimeFilters.bloomSemiJoin]] (exact at any fpp).
    */
  def semiJoinBloom(other: GraftFrame, key: String, otherKey: String,
      resultAlias: String, expectedKeys: Long = 1000000L,
      fpp: Double = 0.01): GraftFrame = {
    val out = graft.operators.RuntimeFilters.bloomSemiJoin(execute(),
      other.execute(), key, otherKey, expectedKeys, fpp)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Bloom-prefiltered LEFT ANTI join on the builder — see
    * [[graft.operators.RuntimeFilters.bloomAntiJoin]] (exact at any fpp).
    */
  def antiJoinBloom(other: GraftFrame, key: String, otherKey: String,
      resultAlias: String, expectedKeys: Long = 1000000L,
      fpp: Double = 0.01): GraftFrame = {
    val out = graft.operators.RuntimeFilters.bloomAntiJoin(execute(),
      other.execute(), key, otherKey, expectedKeys, fpp)
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** LEFT MARK join rewrite (SURVEY §4.3): exists-with-flag via a left
    * join against the distinct right keys — `mark` is true iff a match
    * exists. The right side reduces to distinct keys first, so the join
    * never duplicates left rows and the distinct side is broadcast-able.
    */
  def markJoin(other: GraftFrame, leftKey: String, rightKey: String,
      mark: String): GraftFrame = {
    val rk = "graft_mark_key" // unique name avoids ambiguity when keys match
    val rightDistinct = other.toDF.select(col(rightKey).as(rk)).distinct()
      .withColumn(mark, lit(true))
    val out = toDF.join(rightDistinct, col(leftKey) === col(rk), "left")
      .withColumn(mark, coalesce(col(mark), lit(false)))
      .drop(rk)
    GraftFrame(out, alias)
  }

  // ───────────────────────── sort / limit / slices ───────────────────────

  /** ASC/DESC per column; invalid direction is an error
    * (src/elusion.rs:1103-1152).
    */
  def orderBy(cols: Seq[String], dirs: Seq[String]): GraftFrame = {
    if (cols.length != dirs.length)
      throw GraftError.OrderByError("cols and dirs length mismatch", cols)
    val entries = cols.zip(dirs).map { case (c, d) =>
      val dir = d.trim.toUpperCase
      if (dir != "ASC" && dir != "DESC")
        throw GraftError.OrderByError(s"bad direction '$d'", cols)
      s"${normalizeExpression(c)} $dir"
    }
    withState(state.copy(orderBy = state.orderBy ++ entries))
  }

  def orderByMany(pairs: (String, String)*): GraftFrame =
    orderBy(pairs.map(_._1), pairs.map(_._2))

  def limit(n: Long): GraftFrame = {
    if (n <= 0) throw GraftError.LimitError(n, "limit() requires a positive row count")
    withState(state.copy(limitN = Some(n)))
  }

  // ──────────────────────── null handling (deferred) ─────────────────────

  /** Sentinel-aware null fill: NULL, '', '-', '?', 'NaN', 'NULL', 'NA',
    * 'N/A', 'NONE' (case-insens.) all count as null for string columns
    * (src/elusion.rs:2539-2640).
    */
  def fillNull(cols: Seq[String], value: String): GraftFrame =
    withState(state.copy(deferred = state.deferred :+ FillNullOp(cols.map(_.toLowerCase), value)))

  /** Drop rows where any given column is null / a null sentinel
    * (src/elusion.rs:2674-2708).
    */
  def dropNull(cols: Seq[String]): GraftFrame =
    withState(state.copy(deferred = state.deferred :+ DropNullOp(cols.map(_.toLowerCase))))

  /** Carry last non-null value downward. The reference assumes file order
    * (src/elusion.rs:2369-2470); partitioned execution has no file order,
    * so an explicit `orderCols` total order is required here — the
    * documented ordering contract from SURVEY §7.4.3.
    */
  def fillDown(cols: Seq[String], orderCols: Seq[String]): GraftFrame =
    withState(state.copy(deferred = state.deferred :+ FillDownOp(cols.map(_.toLowerCase), orderCols)))

  /** Eager fillDown (reference fill_down_now, src/elusion.rs:2198-2349):
    * same semantics, applied immediately and materialized under an alias.
    */
  def fillDownNow(cols: Seq[String], orderCols: Seq[String],
      resultAlias: String): GraftFrame =
    fillDown(cols, orderCols).elusionCached(resultAlias)

  /** Skip first n rows under an explicit total order
    * (src/elusion.rs:2473-2510 — same ROW_NUMBER rewrite, order pinned).
    */
  def skipRows(n: Long, orderCols: Seq[String]): GraftFrame =
    withState(state.copy(deferred = state.deferred :+ SkipRowsOp(n, orderCols)))

  // ───────────────────────────── execution ───────────────────────────────

  /** Canonical SQL text (stable view names) — display and cache key. The
    * reference's query cache hashes exact SQL text
    * (src/features/cashandview.rs:36-100); per-call unique view names
    * would defeat it, so the canonical form names views `graft_<alias>`.
    * Same caveat as the reference: two different frames sharing an alias
    * and clause state produce the same key.
    */
  def sqlText: String = buildSql(canonical = true)._1

  private def buildSql(canonical: Boolean = false): (String, Seq[(String, DataFrame)]) = {
    // RIGHT SEMI / RIGHT ANTI: swap sides (Spark SQL has only LEFT forms).
    state.joins.find(j => j.joinType == "RIGHT SEMI" || j.joinType == "RIGHT ANTI") match {
      case Some(j) if state.joins.length == 1 =>
        val swappedType = if (j.joinType == "RIGHT SEMI") "LEFT SEMI" else "LEFT ANTI"
        val swapped = new GraftFrame(j.frame.df, j.frame.alias,
          state.copy(joins = Vector(JoinClause(this.dropState, j.conditions, swappedType))))
        return swapped.buildSql(canonical)
      case _ => ()
    }

    def viewName(a: String): String =
      if (canonical) s"graft_$a" else GraftFrame.freshView(a)
    val registrations = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    val baseView = viewName(alias)
    registrations += baseView -> df

    val selectParts0 = (state.aggs ++ state.selects ++ state.windows).distinct
    val selectParts = if (selectParts0.isEmpty) Seq("*") else selectParts0

    val groupCols: Seq[String] =
      if (state.groupByAll)
        (state.selects.map(splitAlias(_)._1).filter(isGroupable) ++ state.groupBy).distinct
      else state.groupBy.distinct

    val joinsSql = state.joins.map { j =>
      val v = viewName(j.frame.alias)
      registrations += v -> j.frame.df
      val jt = j.joinType // LEFT MARK is rejected at joinOn() time
      s"$jt JOIN $v AS ${j.frame.alias} ON ${j.conditions.mkString(" AND ")}"
    }

    val sb = new StringBuilder
    if (state.ctes.nonEmpty) {
      // CTE bodies reference tables by their PLAIN aliases (the reference
      // registers frames under their aliases) — register those too
      registrations += alias -> df
      state.joins.foreach(j => registrations += j.frame.alias -> j.frame.df)
      sb.append("WITH ").append(state.ctes.mkString(", ")).append(" ")
    }
    sb.append("SELECT ").append(selectParts.mkString(", "))
    sb.append(s" FROM $baseView AS $alias")
    joinsSql.foreach(j => sb.append(" ").append(j))
    if (state.where.nonEmpty) sb.append(" WHERE ").append(state.where.mkString(" AND "))
    state.groupMode match {
      case "SETS" =>
        sb.append(" GROUP BY GROUPING SETS (")
          .append(state.groupingSets.map(s => s"(${s.mkString(", ")})").mkString(", "))
          .append(")")
      case m @ ("CUBE" | "ROLLUP") if groupCols.nonEmpty =>
        sb.append(s" GROUP BY $m (").append(groupCols.mkString(", ")).append(")")
      case _ =>
        if (groupCols.nonEmpty) sb.append(" GROUP BY ").append(groupCols.mkString(", "))
    }
    if (state.having.nonEmpty) sb.append(" HAVING ").append(state.having.mkString(" AND "))
    if (state.orderBy.nonEmpty) sb.append(" ORDER BY ").append(state.orderBy.mkString(", "))
    state.limitN.foreach(n => sb.append(s" LIMIT $n"))
    (sb.toString, registrations.toSeq)
  }

  private def dropState: GraftFrame = new GraftFrame(df, alias, QueryState())

  /** Run the pending query, return a fresh frame registered under
    * `resultAlias` (reference `.elusion(alias)`, src/elusion.rs:3662-3943 —
    * minus the collect-to-driver, which would cap scale at driver RAM).
    */
  def elusion(resultAlias: String): GraftFrame = {
    val out = execute()
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Like `elusion` but persists (MEMORY_AND_DISK) and forces the result —
    * the scale-safe analogue of the reference's eager MemTable
    * materialization; use between pipeline stages that re-read the result.
    */
  def elusionCached(resultAlias: String): GraftFrame = {
    val out = execute().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count() // pin, matching reference pinned-at-elusion semantics
    out.createOrReplaceTempView(resultAlias)
    GraftFrame(out, resultAlias)
  }

  /** Evaluate the clause state to a plain DataFrame (no view registered). */
  def toDF: DataFrame = execute()

  /** Pre-execution dependency validation for group_by_all() (reference
    * validate_group_by_all_compatibility + create_group_by_all_error,
    * src/elusion.rs:3947-4297): GROUP BY ALL can only group SELECTED
    * columns, so a window or aggregate expression referencing a column
    * outside the select surface (selected expressions, their aliases,
    * manual group_by additions, aggregate aliases) is a guaranteed
    * analysis failure — fail fast with the taxonomy's targeted variants
    * instead of surfacing a raw AnalysisException.
    */
  private def validateGroupByAll(): Unit = {
    val surface: Set[String] = {
      val sel = state.selects.flatMap { s =>
        val (e, a) = splitAlias(s)
        val el = e.trim.toLowerCase
        val lastSeg =
          if (el.matches("[a-z_][a-z0-9_]*(\\.[a-z_][a-z0-9_]*)*"))
            Seq(el.split('.').last)
          else Nil
        Seq(el) ++ a ++ lastSeg
      }
      val aggAliases = state.aggs.flatMap(a => splitAlias(a)._2)
      (sel ++ state.groupBy.map(_.trim.toLowerCase) ++ aggAliases).toSet
    }
    def missing(deps: Seq[String]): Seq[String] = deps.filterNot(d =>
      surface.contains(d) || surface.contains(d.split('.').last))
    val windowMissing: Seq[(String, String)] = state.windows.flatMap { w =>
      missing(Normalize.columnDependencies(splitAlias(w)._1)).map(d => (w, d))
    }
    val aggMissing: Seq[String] = state.aggs.flatMap { a =>
      missing(Normalize.columnDependencies(splitAlias(a)._1))
    }.distinct.filterNot(windowMissing.map(_._2).contains)
    val all = (windowMissing.map(_._2) ++ aggMissing).distinct
    if (all.size > 1)
      throw GraftError.GroupByAllCompatibilityError(all, windowMissing)
    windowMissing.headOption.foreach { case (w, d) =>
      throw GraftError.GroupByAllWindowError(d, s"window expression: $w")
    }
    aggMissing.headOption.foreach { d =>
      throw GraftError.GroupByAllDependencyError(d,
        "referenced by an aggregate expression outside its aggregate call")
    }
  }

  private def execute(): DataFrame = {
    if (state.groupByAll && state.groupMode != "PLAIN")
      throw GraftError.GroupByError(
        "group_by_all cannot combine with cube/rollup/grouping sets — " +
          "the ALL expansion and the multi-set expansion are ambiguous together")
    if (state.groupByAll) validateGroupByAll()
    val base =
      if (state.isEmpty) df
      else {
        val (sql, regs) = buildSql()
        regs.foreach { case (v, d) => d.createOrReplaceTempView(v) }
        try spark.sql(sql)
        catch {
          case scala.util.control.NonFatal(e) =>
            throw GraftError.translate(e, sql,
              allSources.flatMap(_._2.columns).distinct)
        }
      }
    state.deferred.foldLeft(base)(applyDeferred)
  }

  // ─────────────── result streaming (reference §2.13) ────────────────
  // The reference's "streaming" is a pull-based result iterator over the
  // finished query (src/elusion.rs:8173-8206) — NOT event-time streaming
  // (that's graft.streaming.EventStreams). toLocalIterator fetches one
  // partition at a time, so the driver never holds the whole result.

  /** Pull-based row iterator over the pending query's result. */
  def stream(): Iterator[Row] = toDF.toLocalIterator().asScala

  /** Per-partition callback on executors (reference stream_process). */
  def streamProcess(f: Iterator[Row] => Unit): Unit =
    toDF.foreachPartition(f)

  /** Iterate result partitions, printing progress + a first sample, never
    * materializing (reference elusion_streaming, src/elusion.rs:8041-8136).
    */
  def elusionStreaming(resultAlias: String, sampleRows: Int = 5): Long = {
    var n = 0L
    var shown = false
    stream().foreach { r =>
      if (!shown) { println(s"[$resultAlias] first row: $r"); shown = true }
      n += 1
      if (n % 100000 == 0) println(s"[$resultAlias] $n rows...")
    }
    println(s"[$resultAlias] done: $n rows")
    n
  }

  private implicit class JIterOps[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext = it.hasNext
      def next() = it.next()
    }
  }

  /** Null sentinels for string columns (src/elusion.rs:2558-2568). */
  private def sentinelNull(c: org.apache.spark.sql.Column) =
    c.isNull || trim(c).isin("", "-", "?") ||
      upper(trim(c)).isin("NULL", "NA", "N/A", "NONE", "NAN")

  private def applyDeferred(d: DataFrame, op: DeferredOp): DataFrame = op match {
    case FillNullOp(cols, value) =>
      cols.foldLeft(d) { (cur, cName) =>
        val f = cur.schema(cName)
        val c = col(cName)
        f.dataType match {
          case StringType =>
            cur.withColumn(cName, when(sentinelNull(c), lit(value)).otherwise(c))
          case dt =>
            cur.withColumn(cName, coalesce(c, lit(value).cast(dt)))
        }
      }
    case DropNullOp(cols) =>
      cols.foldLeft(d) { (cur, cName) =>
        val c = col(cName)
        cur.schema(cName).dataType match {
          case StringType => cur.where(!sentinelNull(c))
          case _ => cur.where(c.isNotNull)
        }
      }
    case FillDownOp(cols, orderCols) =>
      // Reference semantics (LAST_VALUE IGNORE NULLS over unbounded-
      // preceding frame, src/elusion.rs:2441-2448) executed distributed:
      // string sentinels become real nulls first, then the two-phase
      // range-partitioned fill (see FillDownScalable — no global
      // single-partition window).
      val cleaned = cols.foldLeft(d) { (cur, cName) =>
        cur.schema(cName).dataType match {
          case StringType =>
            val c = col(cName)
            cur.withColumn(cName, when(sentinelNull(c), lit(null)).otherwise(c))
          case _ => cur
        }
      }
      graft.operators.FillDownScalable.fillDown(cleaned, cols, orderCols)
    case SkipRowsOp(n, orderCols) =>
      // distributed global row-number (no single-partition window)
      graft.operators.GlobalOrder.skipRows(d, n, orderCols)
  }

  // ──────────────────────── set operations (eager) ───────────────────────
  // The reference defers these into UNION SQL text (src/elusion.rs:1427-
  // 1880); Spark's own set operators have identical semantics, so we apply
  // them directly — still lazy plans, no materialization.

  private def translating[A](f: => A): A =
    try f catch {
      case scala.util.control.NonFatal(e) =>
        throw GraftError.translate(e, "", df.columns.toSeq)
    }

  /** Positional UNION with dedup (src/elusion.rs:1427-1581). */
  def union(other: GraftFrame): GraftFrame =
    GraftFrame(translating(toDF.union(other.toDF).distinct()), alias)

  def unionMany(others: GraftFrame*): GraftFrame =
    GraftFrame(others.foldLeft(toDF)(_ union _.toDF).distinct(), alias)

  /** Positional UNION ALL (src/elusion.rs:1584-1737). */
  def unionAll(other: GraftFrame): GraftFrame =
    GraftFrame(toDF.union(other.toDF), alias)

  def unionAllMany(others: GraftFrame*): GraftFrame =
    GraftFrame(others.foldLeft(toDF)(_ union _.toDF), alias)

  /** Physical concatenation — same thing as unionAll in Spark
    * (src/elusion.rs:1254-1425).
    */
  def append(other: GraftFrame): GraftFrame = unionAll(other)
  def appendMany(others: GraftFrame*): GraftFrame = unionAllMany(others: _*)

  /** EXCEPT distinct (src/elusion.rs:1739-1808). */
  def except(other: GraftFrame): GraftFrame =
    GraftFrame(translating(toDF.except(other.toDF)), alias)

  /** INTERSECT distinct (src/elusion.rs:1811-1880). */
  def intersect(other: GraftFrame): GraftFrame =
    GraftFrame(translating(toDF.intersect(other.toDF)), alias)

  // ─────────────────────────── reshaping (eager) ─────────────────────────

  /** Pivot: reference does a driver-side DISTINCT scan then per-value
    * COALESCE(agg(CASE...),0) columns (src/elusion.rs:1883-2065). Spark's
    * native pivot performs the same distinct scan inside the engine; we
    * match the COALESCE(...,0) default via na.fill on the new columns.
    */
  def pivot(rowKeys: Seq[String], pivotCol: String, valueCol: String,
      aggFn: String): GraftFrame = {
    val d = toDF
    val gb = d.groupBy(rowKeys.map(col): _*).pivot(pivotCol)
    val piv = aggFn.toLowerCase match {
      case "sum" => gb.sum(valueCol)
      case "avg" | "mean" => gb.avg(valueCol)
      case "min" => gb.min(valueCol)
      case "max" => gb.max(valueCol)
      case "count" => gb.count()
      case other => throw GraftError.InvalidOperation("pivot", s"unsupported agg '$other'")
    }
    val newCols = piv.columns.filterNot(rowKeys.contains)
    GraftFrame(piv.na.fill(0, newCols.toIndexedSeq), alias)
  }

  /** Unpivot / melt (reference emits UNION ALL per value column,
    * src/elusion.rs:2068-2166; Spark's stack() is one pass).
    */
  def unpivot(idCols: Seq[String], valueCols: Seq[String],
      nameCol: String, valueCol: String): GraftFrame = {
    val d = toDF
    val stackExpr = valueCols.map(c => s"'$c', cast(`$c` as double)").mkString(", ")
    val out = d.selectExpr(
      idCols.map(c => s"`$c`") :+
        s"stack(${valueCols.length}, $stackExpr) as (`$nameCol`, `$valueCol`)": _*)
    GraftFrame(out, alias)
  }

  // ───────────────────────────── dedup (eager) ───────────────────────────

  /** Keep one row per key. The reference's ROW_NUMBER ... WHERE rn=1 picks
    * an arbitrary first (src/elusion.rs:3348-3563); `orderCols` pins the
    * survivor deterministically (required for a reproducible oracle).
    */
  def dropDuplicatesByColumn(cols: Seq[String], orderCols: Seq[String] = Nil): GraftFrame = {
    val d = toDF
    val out =
      if (orderCols.isEmpty) d.dropDuplicates(cols)
      else {
        val w = Window.partitionBy(cols.map(col): _*).orderBy(orderCols.map(col): _*)
        d.withColumn("graft_rn", row_number().over(w))
          .where(col("graft_rn") === 1).drop("graft_rn")
      }
    GraftFrame(out, alias)
  }

  def dropDuplicates(): GraftFrame = GraftFrame(toDF.distinct(), alias)

  // ─────────────────────── slices / introspection ────────────────────────

  def head(n: Int): GraftFrame = {
    // reference head()/limit(0) guard (src/elusion.rs:2711-2719)
    if (n <= 0) throw GraftError.LimitError(n, "head() limit cannot be zero")
    GraftFrame(toDF.limit(n), alias)
  }

  /** Order-undefined tail, like the reference's LIMIT n OFFSET total-n
    * (src/elusion.rs:2711-2969).
    */
  def tail(n: Int): GraftFrame = {
    val d = toDF
    val rows = d.tail(n)
    GraftFrame(spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), d.schema), alias)
  }

  def peek(n: Int = 5): Unit = { toDF.show(n, truncate = false) }
  def display(): Unit = toDF.show(15, truncate = false)
  def dfSchema(): Unit = df.printSchema()

  /** Print the generated SQL (src/elusion.rs:4567-4595). */
  def displayQuery(): Unit = println(sqlText)

  /** SQL + complexity grade (src/elusion.rs:4598-4667). */
  def displayQueryWithInfo(): Unit = {
    val sql = sqlText
    val joins = state.joins.length
    val fns = """[a-z_]+\(""".r.findAllIn(sql.toLowerCase).length
    val grade =
      if (joins > 3 || fns > 20) "complex"
      else if (joins > 1 || fns > 8) "moderate" else "simple"
    println(s"$sql\n-- joins=$joins functions=$fns complexity=$grade")
  }

  // ───────────────────────────── statistics ──────────────────────────────

  /** Per-column count/count-nonnull/avg/min/max/stddev
    * (src/elusion.rs:4682-4759). ONE Spark job for all columns — 5×cols+1
    * aggregates in a single select (the same single-pass shape as
    * correlationMatrix), not one full scan per column.
    */
  def stats(cols: Seq[String]): DataFrame = {
    val d = toDF
    val aggExprs = count(lit(1)).as("graft_total") +: cols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__nn"),
        avg(col(c).cast(DoubleType)).as(s"${c}__avg"),
        min(col(c).cast(DoubleType)).as(s"${c}__min"),
        max(col(c).cast(DoubleType)).as(s"${c}__max"),
        stddev_samp(col(c).cast(DoubleType)).as(s"${c}__sd"))
    }
    val r = d.select(aggExprs: _*).first()
    def num(i: Int): Double =
      Option(r.get(i)).map(_.toString.toDouble).getOrElse(Double.NaN)
    val total = r.getLong(0)
    val rows = cols.zipWithIndex.map { case (c, i) =>
      val base = 1 + i * 5
      (c, total, r.getLong(base), num(base + 1), num(base + 2), num(base + 3), num(base + 4))
    }
    val sp = spark; import sp.implicits._
    rows.toDF("column", "total_count", "non_null_count", "mean", "min", "max", "std_dev")
  }

  def displayStats(cols: Seq[String]): Unit = stats(cols).show(truncate = false)

  /** Deterministic per-group mode: the most frequent value of `valueCol`
    * in each group, ties broken on the value's binary order (DuckDB's
    * own `mode()` is first-seen/nondeterministic — this one is
    * engine-reproducible). One (group, value) count with map-side
    * combine, then a min-struct argmax per group — no window over the
    * value stream.
    */
  def modeBy(byCols: Seq[String], valueCol: String): DataFrame = {
    require(byCols.nonEmpty, "modeBy: byCols must be non-empty")
    val reserved = Set("graft_cnt", "graft_top", "mode_value", "mode_count")
    val clash = (byCols :+ valueCol).filter(reserved)
    require(clash.isEmpty,
      s"modeBy: column name(s) ${clash.mkString(", ")} collide with the " +
        "operator's internal/output names — rename before calling")
    toDF.where(col(valueCol).isNotNull)
      .groupBy((byCols :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("graft_cnt"))
      .groupBy(byCols.map(col): _*)
      .agg(min(struct((-col("graft_cnt")).as("nc"),
        col(valueCol).as("v"))).as("graft_top"))
      .select(byCols.map(col) ++ Seq(
        col("graft_top.v").as("mode_value"),
        (-col("graft_top.nc")).as("mode_count")): _*)
  }

  /** Equi-width histogram of a numeric column: `buckets` bins spanning
    * [min, max], EVERY bin reported (zero counts included) with its
    * 6-dp-rounded edges. Bin pick is `least(floor((x − lo)·B / (hi −
    * lo)), B−1)` — the identical expression both engines evaluate, and
    * the clamp puts x = max into the last bin. A constant column
    * collapses into bin 0.
    *
    * Scale shape: one 2-value bounds aggregate broadcast to a map-side
    * bin pick, one groupBy over ≤ B bins, and a `spark.range(B)` spine
    * left-join for the zero bins — no driver data beyond the 2 bounds.
    */
  def histogram(c: String, buckets: Int): DataFrame = {
    require(buckets >= 1, "histogram: buckets must be >= 1")
    val d = toDF
    val bounds = d.agg(min(col(c).cast(DoubleType)).as("graft_lo"),
      max(col(c).cast(DoubleType)).as("graft_hi"))
    val width = (col("graft_hi") - col("graft_lo")) / buckets
    val counts = d.select(col(c).cast(DoubleType).as("graft_x"))
      .where(col("graft_x").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(when(col("graft_hi") === col("graft_lo"), lit(0L))
        .otherwise(least(
          floor((col("graft_x") - col("graft_lo")) * buckets /
            (col("graft_hi") - col("graft_lo"))),
          lit((buckets - 1).toDouble)).cast("long")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    spark.range(buckets).select(col("id").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .crossJoin(broadcast(bounds))
      .select(col("bucket"),
        round(col("graft_lo") + col("bucket") * width, 6).as("bucket_lo"),
        round(col("graft_lo") + (col("bucket") + 1) * width, 6).as("bucket_hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-GROUP exact interpolated percentiles, long format: one row per
    * (group, column, p). Unlike [[percentiles]] (a driver-collected
    * 1-row profile), this is fully distributed — one map-side-combined
    * groupBy computes every cols × ps cell, and the melt to long format
    * is an in-row explode of a literal struct array. Same ANSI
    * PERCENTILE_CONT interpolation as [[percentiles]].
    */
  def percentilesBy(byCols: Seq[String], cols: Seq[String],
      ps: Seq[Double]): DataFrame = {
    require(byCols.nonEmpty, "percentilesBy: byCols must be non-empty")
    require(cols.nonEmpty, "percentilesBy: cols must be non-empty")
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentilesBy: every p must be in [0, 1]")
    val d = toDF
    // ONE percentile aggregate per column with the whole p-grid as an
    // array: the exact aggregate buffers and sorts each column's values
    // once and reads every quantile off that sort, instead of buffering
    // and sorting per (column, p) — same values, |ps|× less agg work
    val psArray = ps.map(p => s"${p}d").mkString("array(", ", ", ")")
    val aggExprs = cols.zipWithIndex.map { case (c, i) =>
      expr(s"percentile($c, $psArray)").as(s"graft_p_$i")
    }
    val entries = array(cols.zipWithIndex.flatMap { case (c, i) =>
      ps.indices.map(j =>
        struct(lit(c).as("col_name"), lit(ps(j)).as("p"),
          col(s"graft_p_$i").getItem(j).as("v")))
    }: _*)
    d.groupBy(byCols.map(col): _*)
      .agg(aggExprs.head, aggExprs.tail: _*)
      .select(byCols.map(col) :+ explode(entries).as("graft_e"): _*)
      .select(byCols.map(col) ++ Seq(col("graft_e.col_name").as("col_name"),
        col("graft_e.p").as("p"),
        round(col("graft_e.v"), 6).as("value")): _*)
  }

  /** Exact interpolated percentiles over the cols × ps grid — ONE Spark job
    * (the same single-pass shape as [[stats]]). Uses Catalyst's exact
    * `percentile` aggregate, which shares the ANSI PERCENTILE_CONT linear
    * interpolation definition (rank p·(n−1), value = lo + frac·(hi−lo)),
    * so profiles are reproducible across engines. Prefer
    * `percentile_approx` only when the sort-based exact aggregate's
    * per-group memory at extreme cardinalities outweighs exactness.
    */
  def percentiles(cols: Seq[String], ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      "percentiles: every p must be in [0, 1]")
    val d = toDF
    // one array-of-ps percentile per column (see percentilesBy): each
    // column's values buffer and sort once for the whole p-grid
    val psArray = ps.map(p => s"${p}d").mkString("array(", ", ", ")")
    val exprs = cols.map(c => expr(s"percentile($c, $psArray)").as(s"${c}__ps"))
    val r = d.select(exprs: _*).first()
    val sp = spark; import sp.implicits._
    cols.zipWithIndex.flatMap { case (c, i) =>
      val vs = Option(r.get(i)).map(_.asInstanceOf[scala.collection.Seq[Any]])
        .getOrElse(scala.collection.Seq.empty[Any])
      ps.zipWithIndex.map { case (p, j) =>
        (c, p, if (j < vs.length && vs(j) != null) vs(j).toString.toDouble
               else Double.NaN)
      }
    }.toDF("col_name", "p", "value")
  }

  /** Null count + percentage per column (src/elusion.rs:4762-4839). */
  def nullAnalysis(cols: Seq[String] = Nil): DataFrame = {
    val d = toDF
    val use = if (cols.isEmpty) d.columns.toSeq else cols
    val exprs = use.flatMap { c =>
      Seq((count(lit(1)) - count(col(c))).cast(LongType).as(s"${c}__nulls"),
        count(lit(1)).cast(LongType).as(s"${c}__total"))
    }
    val r = d.select(exprs: _*).first()
    val sp = spark; import sp.implicits._
    use.zipWithIndex.map { case (c, i) =>
      val nulls = r.getLong(2 * i); val total = r.getLong(2 * i + 1)
      (c, nulls, total, if (total == 0) 0.0 else nulls.toDouble * 100.0 / total)
    }.toDF("column", "null_count", "total_count", "null_percentage")
  }

  def displayNullAnalysis(cols: Seq[String] = Nil): Unit =
    nullAnalysis(cols).show(truncate = false)

  /** Pairwise Pearson correlation — ONE pass with corr aggregates instead
    * of the reference's O(n²) separate queries (src/elusion.rs:4842-4893;
    * SURVEY §4.1 anti-optimization note).
    */
  def correlationMatrix(cols: Seq[String]): DataFrame = {
    val d = toDF
    val pairs = for (a <- cols; b <- cols) yield
      corr(col(a).cast(DoubleType), col(b).cast(DoubleType)).as(s"${a}__${b}")
    val r = d.select(pairs: _*).first()
    val sp = spark; import sp.implicits._
    cols.zipWithIndex.flatMap { case (a, i) =>
      cols.zipWithIndex.map { case (b, j) =>
        (a, b, Option(r.get(i * cols.length + j)).map(_.toString.toDouble).getOrElse(Double.NaN))
      }
    }.toDF("col_a", "col_b", "correlation")
  }

  def displayCorrelationMatrix(cols: Seq[String]): Unit =
    correlationMatrix(cols).show(truncate = false)

  /** Single cell as string (reference extract_value_from_df). */
  def extractValue(colName: String): String = {
    val r = toDF.select(colName).first()
    Option(r.get(0)).map(_.toString).getOrElse("null")
  }

  /** First row as name→string map (reference extract_row_from_df). */
  def extractRow(): Map[String, String] = {
    val d = toDF
    val r = d.first()
    d.columns.zipWithIndex.map { case (c, i) =>
      c -> Option(r.get(i)).map(_.toString).getOrElse("null")
    }.toMap
  }
}
