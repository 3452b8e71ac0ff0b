package graft.sources

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import graft.{JobCounts, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{RLike, RegExpReplace}
import org.apache.spark.sql.execution.datasources.csv.GraftCsvShim

/** The smart-cast load reads its head on the driver and casts with the
  * native kernel: it starts no Spark job while the frame is built, its
  * plan holds no regex, and it loads what the reference formulation
  * ([[CsvReference.load]]: three head jobs, the regex chain) loads —
  * names, types and rows — on every smart-caster fixture and on the
  * shapes where the head's line order matters.
  */
class CsvHeadProbeSpec extends SparkSpec {
  import CsvSmartCasterSpec.{fixtures, write}

  private def gzip(name: String, content: String): String = {
    val p = CsvSmartCasterSpec.dir.resolve(name)
    val out = new GZIPOutputStream(new FileOutputStream(p.toFile))
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    p.toString
  }

  /** A directory of two files: the larger holds 60 data rows whose `v` is
    * an integer, the smaller 50 rows of text. The first 50 sampled values
    * come from the larger file only when the head reads it first.
    */
  private def twoFileDir(): String = {
    val dir = CsvSmartCasterSpec.dir.resolve("two_files").toFile
    Option(dir.listFiles).foreach(_.foreach(_.delete()))
    write("two_files/a_small.csv", "k,v\n" + (1 to 50).map(i => s"$i,x$i\n").mkString)
    write("two_files/b_large.csv",
      "k,v\n" + (1 to 60).map(i => s"${1000 + i},${100000 + i}\n").mkString)
    dir.toString
  }

  private lazy val shapes: Seq[String] = fixtures.keys.toSeq.sorted.map(n => write(n, fixtures(n))) ++ Seq(
    twoFileDir(),
    gzip("gz.csv.gz", "id,amount,flag\n" + (1 to 120).map(i => s"$i,$$${i}.50,${i % 2 == 0}\n").mkString),
    write("blank_lines.csv", "\n  \na,b\n\n1,2.5\n   \n\t\n3,4.5\n\n"),
    // header inference keeps a tab-only line (SQL `trim` strips spaces
    // only); the row scan's header check skips it
    write("tab_line_first.csv", "\t\na,b\n1,2\n"),
    write("dup_empty_header.csv", "a,a,,b,A\n1,2,3,4,5\n6,7,8,9,10\n"),
    write("semicolon.csv", "a;b;c\n1;\"2,5\";x\n3;\"4,5\";y\n"),
    write("tab.csv", "a\tb\n1\ttrue\n2\tno\n"))

  private def signature(df: DataFrame): (Seq[(String, String)], Map[Seq[Any], Int]) =
    (df.schema.map(f => f.name -> f.dataType.simpleString),
      df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap)

  test("the load matches the reference formulation on every fixture and head shape") {
    for (path <- shapes)
      assert(signature(CsvSmartCaster.load(spark, path)) == signature(CsvReference.load(spark, path)),
        path)
  }

  test("the head follows the scan's split order: the larger file's rows are sampled first") {
    val df = CsvSmartCaster.load(spark, twoFileDir())
    assert(df.schema("v").dataType.simpleString == "bigint")
    assert(df.where("v IS NULL").count() == 50)
  }

  test("building the frame starts no Spark job (the reference starts three)") {
    for (path <- shapes) {
      val jobs = JobCounts.jobsOf(spark)(CsvSmartCaster.load(spark, path))
      assert(jobs.isEmpty, s"$path: ${JobCounts.describe(jobs)}")
    }
    assert(JobCounts.jobsOf(spark)(CsvReference.load(spark, shapes.head)).size == 3)
  }

  test("the executed plan casts with SmartCast and holds no regex") {
    val df = CsvSmartCaster.load(spark, write("mixed.csv", fixtures("mixed.csv")))
    df.collect()
    val exprs = df.queryExecution.executedPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })
    assert(exprs.exists(_.isInstanceOf[graft.plans.SmartCast]))
    assert(!exprs.exists(e => e.isInstanceOf[RLike] || e.isInstanceOf[RegExpReplace]))
  }

  test("a glob path falls back to Spark's head jobs and matches the reference") {
    val glob = twoFileDir() + "/*.csv"
    assert(GraftCsvShim.head(spark, glob).isEmpty)
    assert(signature(CsvSmartCaster.load(spark, glob)) == signature(CsvReference.load(spark, glob)))
  }
}
