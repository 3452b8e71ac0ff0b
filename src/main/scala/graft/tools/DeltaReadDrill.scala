package graft.tools

import org.apache.spark.sql.functions._
import graft.sources.{DeltaLog, Loaders}

/** Measures the per-read cost of delta snapshot PLANNING at two file
  * counts — the surface the r16 declared-schema read fixed: before it,
  * every non-mapped `DeltaLog.read` launched a `mergeSchema` footer job
  * over ALL active files (O(files) I/O per read, before a single data
  * row moved); after it the scan schema comes from the log's
  * metaData.schemaString (zero footer I/O). Run the SAME drill binary
  * against the same on-disk tables from two checkouts and compare
  * `planMs` — `countMs` additionally pays the real data scan, identical
  * on both. One JSON line on stdout, mirrored to
  * target/delta_read_drill_latest.json.
  *
  *   DeltaReadDrill [files ...]   (default: 64 256)
  */
object DeltaReadDrill {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(64, 256)
    val spark = Loaders.session(cpus = 32)
    spark.sparkContext.setLogLevel("ERROR")

    def minMs(reps: Int)(body: => Unit): Double =
      (1 to reps).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
      }.min

    val rows = sizes.map { n =>
      val path = s"target/tmp/read_drill/lineitem_$n"
      if (!new java.io.File(s"$path/_delta_log").isDirectory) {
        val li = spark.read
          .parquet("/root/testdata/sf0.1/lineitem.parquet")
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"), col("l_shipdate"))
          .repartition(n)
        DeltaLog.write(li, "overwrite", path, checkpointInterval = 0)
      }
      // warm-up: JIT + FS metadata cache, off the clock for both binaries
      DeltaLog.read(spark, path).count()
      // planning only — the old binary's footer-merge job fires HERE
      val planMs = minMs(5)(DeltaLog.read(spark, path))
      val countMs = minMs(3)(DeltaLog.read(spark, path).count())
      f"""{"files":$n,"plan_ms":$planMs%.1f,"count_ms":$countMs%.1f}"""
    }
    val line = rows.mkString("""{"metric":"delta_read_drill","rows":[""", ",", "]}")
    println(line)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/delta_read_drill_latest.json"),
      (line + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
