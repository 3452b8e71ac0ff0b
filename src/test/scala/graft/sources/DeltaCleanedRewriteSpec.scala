package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Rewrites of a partitioned table whose early commits were cleaned:
  * after writeCheckpoint + cleanupLog the table's metaData lives only in
  * the checkpoint, and a DELETE, UPSERT or OPTIMIZE must still restage
  * under the table's partition columns. A rewrite staged unpartitioned
  * writes adds with empty partitionValues at the table root, and the
  * read then loses its rows.
  */
class DeltaCleanedRewriteSpec extends SparkSpec {

  private def wipe(name: String): String = {
    val p = s"target/tmp/cleaned_rewrite/$name"
    val pp = Paths.get(p)
    if (Files.exists(pp))
      Files.walk(pp).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    p
  }

  private def ids(range: Seq[Long]): DataFrame = {
    val sp = spark; import sp.implicits._
    range.map(i => (i, s"v$i", s"g${i % 3}")).toDF("id", "s", "part")
      .repartition(col("part")) // one file per partition per commit
  }

  /** Partitioned table, v0 ids 1–9 and v1 ids 10–12, checkpointed at v1
    * and cleaned, then v2 appends ids 13–15.
    */
  private def cleanedTable(name: String): String = {
    val p = wipe(name)
    DeltaLog.write(ids(1L to 9L), "overwrite", p, partitionBy = Seq("part"),
      checkpointInterval = 0)
    DeltaLog.write(ids(10L to 12L), "append", p, partitionBy = Seq("part"),
      checkpointInterval = 0)
    DeltaLog.writeCheckpoint(spark, p, 1L)
    assert(DeltaLog.cleanupLog(spark, p).nonEmpty)
    DeltaLog.write(ids(13L to 15L), "append", p, partitionBy = Seq("part"),
      checkpointInterval = 0)
    p
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "s", "part").collect().map(_.mkString("|")).sorted.toSeq

  /** The add actions of the newest commit of `p`. */
  private def newestAdds(p: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val log = Paths.get(p, "_delta_log")
    val newest = Files.list(log).toArray.map(_.toString)
      .filter(_.matches(".*\\d{20}\\.json")).max
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.readAllLines(Paths.get(newest)).toArray.map(_.toString).toSeq
      .map(mapper.readTree).flatMap(n => Option(n.get("add")))
  }

  private def checkRewrite(op: String)(mutate: String => Unit)(
      expected: Seq[String] => Seq[String]): Unit = {
    val p = cleanedTable(op)
    val before = rows(DeltaLog.read(spark, p))
    assert(before.length == 15)
    mutate(p)
    val adds = newestAdds(p)
    assert(adds.nonEmpty, s"$op: the rewrite commit adds no file")
    adds.foreach { a =>
      val pv = a.get("partitionValues")
      assert(pv != null && pv.has("part"),
        s"$op: a rewrite add lacks its partition value: $a")
      assert(a.get("path").asText.startsWith("part="),
        s"$op: a rewrite add sits outside the part= directories: $a")
    }
    assert(rows(DeltaLog.read(spark, p)) == expected(before), op)
    assert(rows(DeltaLog.readWhere(spark, p, "part = 'g2'")) ==
      rows(DeltaLog.read(spark, p).where("part = 'g2'")), op)
  }

  test("DELETE after cleanupLog restages under the partition columns") {
    checkRewrite("delete")(p =>
      assert(DeltaLog.deleteWhere(spark, p, "id = 2") == 1))(
      _.filterNot(_.startsWith("2|")))
  }

  test("UPSERT after cleanupLog restages under the partition columns") {
    val sp = spark; import sp.implicits._
    checkRewrite("upsert")(p => DeltaLog.upsert(
      Seq((5L, "new5", "g2"), (16L, "v16", "g1")).toDF("id", "s", "part"),
      Seq("id"), p))(
      rs => (rs.filterNot(_.startsWith("5|")) :+ "5|new5|g2" :+ "16|v16|g1").sorted)
  }

  test("OPTIMIZE after cleanupLog restages under the partition columns") {
    checkRewrite("optimize")(p => assert(DeltaLog.optimize(spark, p) > 0))(
      identity)
  }
}
