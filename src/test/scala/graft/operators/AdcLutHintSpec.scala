package graft.operators

import graft.JobCounts.{describe, jobsOf}
import graft.SparkSpec

/** The PQ ADC lookup table's `ksubHint` is checked, not trusted: a hint
  * below the codebook's max(cent_id) + 1 fails inside the LUT job, an
  * exact hint gives the derived LUT bit for bit, and a hint still saves
  * the driver `max` job.
  */
class AdcLutHintSpec extends SparkSpec {

  private def fixture() = {
    val sp = spark; import sp.implicits._
    // m = 2 subspaces over dim = 4; cent_ids 0, 1, 3 (2 was dropped), so
    // the true ksub is 4
    val cb = Seq(
      (0, 0, Seq(0.0, 0.0)), (0, 1, Seq(1.0, 0.0)), (0, 3, Seq(0.0, 1.0)),
      (1, 0, Seq(0.0, 0.0)), (1, 1, Seq(1.0, 0.0)), (1, 3, Seq(0.25, 1.0))
    ).toDF("subspace", "cent_id", "centv")
    val queries = Seq(
      (1L, Array(0.5f, 0.1f, 0.3f, 0.9f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    (cb, queries)
  }

  private def lut(hint: Int) = {
    val (cb, queries) = fixture()
    Similarity.adcLutFlat(queries, cb, "embedding", "vec_id", m = 2, dim = 4, hint)
  }

  private def bits(hint: Int): Map[Long, Seq[Long]] =
    lut(hint).collect().map(r => r.getLong(0) ->
      r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap

  test("a hint below max(cent_id) + 1 fails with a clear message") {
    val e = intercept[Exception](lut(3).collect())
    assert(e.getMessage.contains("PQ ksub hint 3 is too small"), e.getMessage)
    for (bad <- Seq(0, -2))
      intercept[IllegalArgumentException](lut(bad))
  }

  test("an exact hint gives the derived LUT bit for bit") {
    val derived = bits(-1)
    assert(derived.values.forall(_.size == 2 * 4))
    assert(bits(4) == derived)
  }

  test("a hint still skips the driver max job") {
    val hinted = jobsOf(spark)(lut(4))
    val hintedJobs = hinted.size
    assert(hintedJobs == 0, describe(hinted))
    // the derived path's max(cent_id) runs before the LUT frame exists
    assert(jobsOf(spark)(lut(-1)).nonEmpty)
  }
}
