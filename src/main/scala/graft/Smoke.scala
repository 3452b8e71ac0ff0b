package graft

import graft.sources.Loaders

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry and
  * asserts rows > 0.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Loaders.session(cpus = 8)
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    df.show(truncate = false)
    println(s"SMOKE ${if (rows.nonEmpty) "PASS" else "FAIL"}: ${rows.length} rows")
    spark.stop()
  }
}
