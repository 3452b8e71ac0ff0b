package graft.sources

import graft.SparkSpec

/** `Loaders.withConf` puts every key back as it was — its prior value,
  * or unset — after the body returns and after it throws.
  */
class WithConfSpec extends SparkSpec {
  private val setKey = "spark.sql.shuffle.partitions"
  private val unsetKey = "spark.sql.parquet.fieldId.write.enabled"

  private def scoped[T](body: => T): T = {
    spark.conf.unset(unsetKey)
    assert(spark.conf.getAll.contains(setKey))
    assert(!spark.conf.getAll.contains(unsetKey))
    body
  }

  test("the body sees the confs; they are restored after it returns") {
    scoped {
      val before = spark.conf.getAll
      val seen = Loaders.withConf(spark, setKey -> "7", unsetKey -> "false") {
        (spark.conf.get(setKey), spark.conf.get(unsetKey))
      }
      assert(seen == ("7", "false"))
      assert(spark.conf.getAll == before)
    }
  }

  test("a throwing body leaves spark.conf.getAll unchanged") {
    scoped {
      val before = spark.conf.getAll
      val e = intercept[IllegalStateException] {
        Loaders.withConf(spark, setKey -> "7", unsetKey -> "false") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage == "boom")
      assert(spark.conf.getAll == before)
      assert(spark.conf.get(setKey) == before(setKey))
      assert(!spark.conf.getAll.contains(unsetKey))
    }
  }
}
