package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-table sf-scale generator for the sf1 correctness sweep: every
  * table of a driver sf dir replicated `copies`× into fresh key ranges
  * with referential integrity preserved (orders keep pointing at their
  * copy's customers, lineitem at its copy's orders/parts/suppliers),
  * dimensions (region/nation) unscaled, and documents/embeddings/events
  * through [[ScaleCheck]]'s deterministic generators (word-order
  * permuted copies / fresh md5 unit vectors / fresh user-id ranges).
  * Key offsets are multiples of 10 so the graded fixtures' `% 10`
  * slicing behaves identically per copy — scaling the INPUT, never the
  * answer shape. Output under target/ (never the read-only testdata).
  *
  * args: srcDir outDir copies
  */
object FullScaleGen {

  private val CustStep = 1000000L
  private val OrdStep = 10000000L
  private val PartStep = 1000000L
  private val SuppStep = 1000000L

  private def copiesOf(df: DataFrame, copies: Int)(
      shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until copies).map(c => if (c == 0) df else shift(df, c))
      .reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "/root/repo/target/sf1full"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.sources.Loaders.session(cpus = 32)
    spark.sparkContext.setLogLevel("ERROR")

    def write(df: DataFrame, name: String, parts: Int = 32): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    def src(name: String): DataFrame =
      spark.read.parquet(s"$srcDir/$name.parquet")

    // dimensions: unscaled (every copy's rows join against the same set)
    write(src("region"), "region", parts = 1)
    write(src("nation"), "nation", parts = 1)

    // fresh-copy names carry a 4-char DOUBLED-letter tag ("bbbb-", …):
    // any two copies' names differ by ≥ 4 edits AND ≥ 4 q-grams, so the
    // edit-distance dedup surface (q_dedup_fuzzy, maxDist=1, q=2) prunes
    // cross-copy pairs at the CANDIDATE count filter, not just at
    // verification — scaling the INPUT, never planting cross-copy
    // near-duplicate answers or borderline candidates (plain name
    // duplication made the answer quadratic in copies; a 2-char suffix
    // kept distance-2 pairs INSIDE the q-gram count threshold and a
    // single verification task ran for the better part of an hour)
    def nameTag(c: Int): String = { val l = ('a' + c).toChar; s"$l$l$l$l-" }
    write(copiesOf(src("customer"), copies) { (df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(c * CustStep))
        .withColumn("c_name", concat(lit(nameTag(c)), col("c_name")))
    }, "customer")
    write(copiesOf(src("supplier"), copies) { (df, c) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(c * SuppStep))
        .withColumn("s_name", concat(lit(nameTag(c)), col("s_name")))
    }, "supplier", parts = 4)
    write(copiesOf(src("part"), copies) { (df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(c * PartStep))
    }, "part")
    write(copiesOf(src("orders"), copies) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * OrdStep))
        .withColumn("o_custkey", col("o_custkey") + lit(c * CustStep))
    }, "orders")
    write(copiesOf(src("lineitem"), copies) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * OrdStep))
        .withColumn("l_partkey", col("l_partkey") + lit(c * PartStep))
        .withColumn("l_suppkey", col("l_suppkey") + lit(c * SuppStep))
    }, "lineitem")

    // documents / embeddings / events: ScaleCheck's generators (fresh
    // shingles / fresh vectors / fresh user ranges)
    val docs = src("documents")
    write(ScaleCheck.hashShuffleText(spark, docs, copies,
      idStep = 1000000L), "documents")
    val emb = src("embeddings")
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    write(ScaleCheck.freshEmbeddings(spark, emb, copies,
      idStep = 1000000L, dim), "embeddings")
    write(ScaleCheck.scaledEvents(spark, srcDir, copies), "events")

    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings", "events").foreach { t =>
      println(s"[fullscale] $t: " +
        spark.read.parquet(s"$outDir/$t.parquet").count() + " rows")
    }
    spark.stop()
  }
}
