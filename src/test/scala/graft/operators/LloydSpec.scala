package graft.operators

import graft.{JobCounts, SparkSpec}
import graft.functions.{VectorFunctions => V}
import graft.plans.{LloydExpressions, NearestCentroid}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lloyd training on driver-held centroids: the nearest-centroid
  * projection against the broadcast argmin it replaces, the centroids
  * against the posexplode/decimal Lloyd step bit for bit, the job shape
  * of the k-means entry points, and the training pin's lifecycle.
  */
class LloydSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val c = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("cv"))

  private def bits(v: Seq[Any]): Seq[Any] = v.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  test("nearest_centroid equals min(struct(l2, cent_id)): ties, NaN, null and ragged vectors") {
    val rnd = new scala.util.Random(7)
    val dim = 5
    val base = Array.fill(6)(Array.fill(dim)(rnd.nextInt(5) - 2.0))
    // centroid 40 duplicates centroid 10: every point ties between them
    val mat = base :+ base(1).clone()
    val ids = Array(3L, 10L, 11L, 12L, 20L, 30L, 40L)
    val cents = spark.createDataFrame(java.util.Arrays.asList(
      ids.indices.map(i => Row(ids(i), mat(i).toSeq)): _*),
      StructType(Seq(StructField("cent_id", LongType),
        StructField("centv", ArrayType(DoubleType)))))
    val pts: Seq[Row] = (0 until 300).map { i =>
      val v: Seq[Any] = i % 10 match {
        case 0 => null                                            // null vector
        case 1 => Seq(Double.NaN) ++ Seq.fill(dim - 1)(0.0)       // NaN distance
        case 2 => Seq.fill(rnd.nextInt(dim))(rnd.nextInt(5) - 2.0) // ragged short
        case 3 => mat(rnd.nextInt(mat.length)).toSeq            // exactly on a centroid
        case 4 => Seq.fill(dim + 2)(rnd.nextGaussian())           // ragged long
        case 5 => Seq(1.0, null, 0.0, 2.0, -1.0)                   // null element
        case _ => Seq.fill(dim)((rnd.nextInt(9) - 4) / 2.0)       // grid: many ties
      }
      Row(i.toLong, v)
    }
    val points = spark.createDataFrame(java.util.Arrays.asList(pts: _*),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = true))))).repartition(3)
    val ref = points.join(broadcast(cents))
      .withColumn("d", V.l2Distance(col("v"), col("centv")))
      .groupBy(col("id"))
      .agg(min(struct(col("d"), col("cent_id"))).as("p"))
      .select(col("id"), col("p.cent_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val picked = points.select(col("id"),
      LloydExpressions.nearestCentroid(col("v"), ids, mat).as("nc"))
    val got = picked.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ref)
    // the interpreted path agrees with the generated one
    val expr = NearestCentroid(BoundReference(0, ArrayType(DoubleType, containsNull = true),
      nullable = true), ids, mat)
    pts.foreach { r =>
      val in = if (r.isNullAt(1)) null else new GenericArrayData(r.getSeq[Any](1).map {
        case null => null; case d: Double => java.lang.Double.valueOf(d) }.toArray[Any])
      assert(expr.eval(InternalRow(in)) == ref(r.getLong(0)), s"point ${r.getLong(0)}")
    }
    // the matrix stays out of the plan text
    val plan = picked.queryExecution.executedPlan.toString
    assert(plan.contains("nearest_centroid(") && plan.contains("7x5"), plan)
    assert(!plan.contains(mat(4).mkString(", ")), plan)
    // a null centroid has a null distance to every point: it takes them all
    val withNull = NearestCentroid(expr.child, ids, mat.updated(2, null))
    assert(withNull.eval(InternalRow(null)) == 3L &&
      withNull.pick(new GenericArrayData(Array[Any](0.0, 0.0))) == 11L)
  }

  /** The Lloyd step the driver-held route replaced: broadcast argmin,
    * posexplode, decimal sum per (list, position), re-assembled. */
  private def referenceLloyd(c: DataFrame, nlist: Int, iterations: Int): Map[Any, Seq[Any]] = {
    val seeds = c.orderBy(col("corpus_id")).limit(nlist)
      .select(col("corpus_id").as("cent_id"), col("cv").as("centv"))
    (0 until iterations).foldLeft(seeds) { (cents, _) =>
      c.join(broadcast(cents))
        .withColumn("d", V.l2Distance(col("cv"), col("centv")))
        .groupBy(col("corpus_id"))
        .agg(min(struct(col("d"), col("cent_id"))).as("p"),
          min_by(col("cv"), col("cent_id")).as("cv"))
        .select(col("p.cent_id").as("list_id"), posexplode(col("cv")).as(Seq("pos", "val")))
        .groupBy(col("list_id"), col("pos"))
        .agg((sum(col("val").cast(DecimalType(38, 18))).cast(DoubleType) /
          count(lit(1))).as("m"))
        .groupBy(col("list_id"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m")).as("centv"))
        .select(col("list_id").as("cent_id"), col("centv"))
        .localCheckpoint(true)
    }.collect().map(r => r.get(0) -> bits(r.getSeq[Any](1))).toMap
  }

  test("driver-held seedAndRefine centroids equal the posexplode Lloyd step bit for bit") {
    for ((nlist, it) <- Seq((16, 1), (8, 2), (5, 0))) {
      val got = Similarity.seedAndRefine(c, nlist, it).collect()
        .map(r => r.get(0) -> bits(r.getSeq[Any](1))).toMap
      assert(got == referenceLloyd(c, nlist, it), s"nlist=$nlist iterations=$it")
    }
  }

  test("job shape: kmeansAssign ≤ 5 jobs, seedAndRefine 1 + 2 per pass, clusterProfile ≤ 6") {
    val jobs = JobCounts.jobsOf(spark) {
      Similarity.kmeansAssign(emb, "embedding", "vec_id", k = 4).collect()
    }
    info(s"kmeansAssign(k = 4) + collect: ${jobs.size} jobs")
    assert(jobs.size <= 5, JobCounts.describe(jobs))
    for (it <- Seq(1, 2)) {
      val lloyd = JobCounts.jobsOf(spark) { Similarity.seedAndRefine(c, 16, it) }
      info(s"seedAndRefine(nlist = 16, iterations = $it): ${lloyd.size} jobs")
      assert(lloyd.size <= 1 + 2 * it, s"iterations=$it: ${JobCounts.describe(lloyd)}")
    }
    // training (1 + 2), the broadcast of the k centroids, the k-row rollup (2)
    val profile = JobCounts.jobsOf(spark) {
      Similarity.clusterProfile(emb, "embedding", "vec_id", k = 4).collect()
    }
    info(s"clusterProfile(k = 4) + collect: ${profile.size} jobs")
    assert(profile.size <= 6, JobCounts.describe(profile))
  }

  test("training unpins its vectors however it ends: empty sample, failing pass, PQ") {
    val sp = spark; import sp.implicits._
    def pinned = spark.sparkContext.getPersistentRDDs.keySet
    val before = pinned
    val vecs = (1000L until 1040L).map(i =>
      (i, Array((i % 7).toFloat, (i % 3).toFloat, 1f, 0f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.kmeansAssign(vecs, "embedding", "vec_id", k = 4,
        trainFraction = 1e-6).collect()
    }
    assert(pinned == before, "the empty-sample raise left its training set pinned")
    // a value outside DECIMAL(38,18) fails the Lloyd pass under ANSI
    val huge = (1L to 10L).map(i => (i, Array(1e25, i.toDouble))).toDF("vec_id", "embedding")
    intercept[Exception] {
      Similarity.kmeansAssign(huge, "embedding", "vec_id", k = 2).collect()
    }
    assert(pinned == before, "a failing Lloyd pass left its training set pinned")
    // a PQ pass that fails mid-training unpins its subvector rows
    val bad = vecs.select(col("vec_id"), when(col("vec_id") === 1007L,
      raise_error(lit("boom"))).otherwise(col("embedding")).as("embedding"))
    intercept[Exception] {
      Similarity.pqTrain(bad, "embedding", "vec_id", m = 2, ksub = 2, dim = 4)
    }
    assert(pinned == before, "a failing PQ pass left its training set pinned")
  }
}
