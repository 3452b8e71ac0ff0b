package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Id-mapped writes need Spark's parquet field-id write, which is on by
  * default. They read the session conf and never change it: with the
  * conf off they refuse typed before staging any file.
  */
class DeltaFieldIdWriteSpec extends SparkSpec {
  private val key = "spark.sql.parquet.fieldId.write.enabled"

  private def wipe(name: String): String = {
    val p = s"target/tmp/field_id_write/$name"
    val pp = Paths.get(p)
    if (Files.exists(pp))
      Files.walk(pp).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    p
  }

  test("id-mapped writes leave the session conf alone and refuse typed when it is off") {
    val sp = spark; import sp.implicits._
    def ids(r: Seq[Long]) = r.map(i => (i, s"v$i")).toDF("id", "s")
    val mapped = wipe("mapped")
    val unchanged = spark.conf.getAll
    DeltaLog.write(ids(1L to 3L), "overwrite", mapped, columnMapping = Some("id"))
    DeltaLog.write(ids(4L to 5L), "append", mapped)
    assert(spark.conf.getAll == unchanged)
    Loaders.withConf(spark, key -> "false") {
      val before = spark.conf.getAll
      def refused(body: => Any): Unit = {
        val e = intercept[graft.GraftError.InvalidOperation](body)
        assert(e.getMessage.contains(key), e.getMessage)
      }
      refused(DeltaLog.writeIdMapped(ids(1L to 2L), wipe("fresh_helper")))
      refused(DeltaLog.write(ids(1L to 2L), "overwrite", wipe("fresh"),
        columnMapping = Some("id")))
      refused(DeltaLog.write(ids(6L to 7L), "append", mapped))
      refused(DeltaLog.deleteWhere(spark, mapped, "id = 1"))
      assert(spark.conf.getAll == before)
      assert(spark.conf.get(key) == "false")
    }
    assert(spark.conf.getAll == unchanged)
    assert(DeltaLog.read(spark, mapped).as[(Long, String)].collect().map(_._1)
      .sorted.toSeq == (1L to 5L))
  }
}
