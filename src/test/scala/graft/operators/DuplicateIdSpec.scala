package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The id contract of the similarity entry points: ids are keys, and a
  * frame that repeats one is not rejected (the check would cost a job).
  * What each route then returns is pinned here, so a change to it shows.
  * Corpus: 40 vectors on a circle, plus a second row for id 5 carrying
  * vector 20's direction; id 21 sits next to both.
  */
class DuplicateIdSpec extends SparkSpec {

  private def vec(i: Long) =
    Array(math.cos(i * 0.3).toFloat, math.sin(i * 0.3).toFloat, 1f, 0f)

  private lazy val corpus: DataFrame = {
    val sp = spark; import sp.implicits._
    ((0L until 40L).map(i => (i, vec(i), (i % 3).toInt)) :+ ((5L, vec(20L), 1)))
      .toDF("vec_id", "embedding", "label")
  }

  private def hits(df: DataFrame, query: Long): Seq[Long] =
    df.where(col("query_id") === query).orderBy(col("rank"))
      .collect().map(_.getAs[Long]("corpus_id")).toSeq

  test("kmeansAssign and clusterProfile: one output row per input row") {
    val asg = Similarity.kmeansAssign(corpus, "embedding", "vec_id", k = 4).collect()
    assert(asg.length == 41)
    val fives = asg.filter(_.getLong(0) == 5L).map(_.getAs[Int]("cluster"))
    val of20 = asg.find(_.getLong(0) == 20L).get.getAs[Int]("cluster")
    // the second row of id 5 carries vector 20: it lands in 20's cluster
    assert(fives.length == 2 && fives.contains(of20), s"id 5: ${fives.toSeq}, id 20: $of20")
    val sizes = Similarity.clusterProfile(corpus, "embedding", "vec_id", k = 4)
      .collect().map(_.getAs[Long]("n_vecs"))
    assert(sizes.sum == 41)
  }

  test("ivfTopK flat route: every corpus row is a candidate; a repeated query id ranks as one query") {
    val queries = corpus.where(col("vec_id").isin(5L, 21L))
    val out = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", k = 41,
      nlist = 4, nprobe = 4)
    // both rows of id 5 are candidates of query 21
    assert(hits(out, 21L).count(_ == 5L) == 2, hits(out, 21L))
    // the two query rows of id 5 share one top-k (ranks 1..k once)
    val ranks5 = out.where(col("query_id") === 5L).collect().map(_.getAs[Int]("rank"))
    assert(ranks5.sorted.toSeq == (1 to ranks5.length), ranks5.toSeq)
  }

  test("ivfTopK two-level route: repeated ids merge into one row") {
    val queries = corpus.where(col("vec_id") === 21L)
    val out = Similarity.ivfTopK(corpus, queries, "embedding", "vec_id", k = 41,
      nlist = 300, nprobe = 300)
    assert(hits(out, 21L).count(_ == 5L) <= 1, hits(out, 21L))
  }

  test("ivfTopKIndexed: the index keeps every row; probes rank them like ivfTopK") {
    val idx = "target/tmp/ivf_index_dup_ids"
    Similarity.buildIvfIndex(corpus, "embedding", "vec_id", idx, nlist = 4)
    assert(spark.read.parquet(idx).count() == 41)
    val out = Similarity.ivfTopKIndexed(idx, corpus.where(col("vec_id") === 21L),
      "embedding", "vec_id", k = 41, nprobe = 4)
    assert(hits(out, 21L).count(_ == 5L) == 2, hits(out, 21L))
  }

  test("hardNegatives: every corpus row is a candidate; a repeated anchor id ranks as one") {
    val out = Similarity.hardNegatives(corpus, "embedding", "vec_id", "label",
      k = 41, nlist = 4, nprobe = 4)
    assert(hits(out, 21L).count(_ == 5L) == 2, hits(out, 21L))
    val ranks5 = out.where(col("query_id") === 5L).collect().map(_.getAs[Int]("rank"))
    assert(ranks5.sorted.toSeq == (1 to ranks5.length), ranks5.toSeq)
  }
}
