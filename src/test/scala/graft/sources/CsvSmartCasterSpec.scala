package graft.sources

import graft.SparkSpec
import java.nio.file.{Files, Path, Paths}

/** Smart-caster spec — value-classification table and end-to-end loads from
  * the reference's inline tests (reference src/features/csv.rs:830-1974;
  * FIXTURES.md §A1-A4).
  */
class CsvSmartCasterSpec extends SparkSpec {
  import CsvSmartCaster._
  import CsvSmartCasterSpec._

  test("value classification (csv.rs:868-917 table)") {
    for (v <- Seq("123", "-456", "+789", "1", "0"))
      assert(classify(v) == VInteger, s"'$v' should be Integer")
    for (v <- Seq("12.34", "12,34", "1,234.56", "15%", "$123.45", "1.234,56"))
      assert(classify(v) == VFloat, s"'$v' should be Float")
    for (v <- Seq("true", "FALSE", "da", "ne", "yes", "no"))
      assert(classify(v) == VBoolean, s"'$v' should be Boolean")
    for (v <- Seq("2024-12-31", "31.12.2024", "12/31/2024", "14:30", "09:15:30"))
      assert(classify(v) == VDate, s"'$v' should be Date")
    for (v <- Seq("Jul", "Hello World", "999.999.999", "Not-a-date"))
      assert(classify(v) == VString, s"'$v' should be String")
    for (v <- Seq("", "NULL", "null", "N/A", "n/a", "-"))
      assert(classify(v) == VNull, s"'$v' should be null sentinel")
  }

  test("majority vote: >80% threshold, int/float merge, default string") {
    assert(vote(Seq("1", "2", "3", "4", "5")) == VInteger)
    assert(vote(Seq("1", "2", "3.5", "4", "5")) == VFloat) // merged numeric
    assert(vote(Seq("1", "2", "x", "y", "z")) == VString)
    assert(vote(Seq("", "NULL", "-")) == VString) // only sentinels
  }

  test("delimiter detection over , ; tab |") {
    assert(detectDelimiter(Seq("a,b,c", "1,2,3")) == ",")
    assert(detectDelimiter(Seq("a;b;c", "1;2;3")) == ";")
    assert(detectDelimiter(Seq("a\tb", "1\t2")) == "\t")
    assert(detectDelimiter(Seq("a|b|c", "1|2|3")) == "|")
  }

  private def writeTemp(name: String): String = write(name, fixtures(name))

  test("basic.csv end-to-end: bigint/double/boolean inference (A1)") {
    val path = writeTemp("basic.csv")
    val df = CsvSmartCaster.load(spark, path)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types == Map("name" -> "string", "age" -> "long",
      "salary" -> "double", "active" -> "boolean"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.contains(("John", 25L, 50000.50, true)))
  }

  test("mixed_types.csv: percent and currency become doubles, dates stay strings (A2)") {
    val path = writeTemp("mixed.csv")
    val df = CsvSmartCaster.load(spark, path)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("id") == "long")
    assert(types("score") == "double")
    assert(types("date") == "string") // Date class stays string (csv.rs:818-821)
    assert(types("percentage") == "double")
    assert(types("currency") == "double")
    assert(types("active") == "boolean")
    val r = df.where("id = 1").first()
    assert(math.abs(r.getAs[Double]("percentage") - 0.85) < 1e-9) // 85% -> 0.85
    assert(math.abs(r.getAs[Double]("currency") - 50000.0) < 1e-9) // $ stripped
  }

  test("quoted.csv: embedded delimiters survive (A3)") {
    val path = writeTemp("quoted.csv")
    val df = CsvSmartCaster.load(spark, path)
    assert(df.count() == 2)
    assert(df.where("name = 'John Doe'").first()
      .getAs[String]("description") == "Software Engineer, Senior")
  }

  test("null sentinels become real nulls in typed columns (A5)") {
    val path = writeTemp("nulls.csv")
    val df = CsvSmartCaster.load(spark, path)
    assert(df.where("city IS NULL").count() == 4)
    assert(df.where("city IS NOT NULL").count() == 2)
  }

  test("CRLF line endings and UTF-8 BOM load cleanly (csv.rs:1723-1830)") {
    val path = writeTemp("crlf_bom.csv")
    val df = CsvSmartCaster.load(spark, path)
    assert(df.columns.toSeq == Seq("name", "age"))
    assert(df.schema("age").dataType.typeName == "long")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("John", 25L), ("Jane", 30L)))
  }

  test("EU-formatted numbers: 1.234,56 parses as 1234.56") {
    val path = writeTemp("eu.csv")
    val df = CsvSmartCaster.load(spark, path)
    val vals = df.collect().map(_.getDouble(0)).sorted
    assert(vals.sameElements(Array(7.5, 1234.56, 2345.67)))
  }

  test("plain decimals with 3 fractional digits are NOT EU thousands (0.123 stays 0.123)") {
    // regression: the EU branch once made the decimal comma optional, so
    // '0.123' matched, dots were stripped, and values inflated 1000×
    val path = writeTemp("plain3.csv")
    val df = CsvSmartCaster.load(spark, path)
    val vals = df.collect().map(_.getDouble(0)).sorted
    assert(vals.sameElements(Array(0.123, 1.5, 12.345, 999.999)))
  }

  test("EU thousands still require the decimal comma in the cast path") {
    // mixed column: true EU values and plain decimals coexist — each row
    // is normalized by its own shape
    val path = writeTemp("eu_mixed.csv")
    val df = CsvSmartCaster.load(spark, path)
    val vals = df.collect().map(_.getDouble(0)).sorted
    assert(vals.sameElements(Array(0.123, 1234.5, 12345678.99)))
  }

  test("a minority value the voted class rejects loads as NULL, the column keeps its type") {
    // the reference's CASE WHEN regex THEN CAST yields NULL for it; an
    // ANSI cast (Spark 4's default) would fail the whole load
    val path = write("minority.csv", "i,f\n" +
      (1 to 9).map(k => s"$k,$k.25\n").mkString + "abc,xyz\n")
    val df = CsvSmartCaster.load(spark, path)
    assert(df.schema.map(f => f.name -> f.dataType.typeName) ==
      Seq("i" -> "long", "f" -> "double"))
    val rows = df.collect()
    assert(rows.count(r => r.isNullAt(0)) == 1 && rows.count(r => r.isNullAt(1)) == 1)
    assert(rows.filter(_.isNullAt(0)).forall(_.isNullAt(1)))
    assert(rows.filterNot(_.isNullAt(0)).map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      (1 to 9).map(k => (k.toLong, k + 0.25)).toSet)
  }
}

object CsvSmartCasterSpec {
  val dir: Path = Paths.get("target/tmp/csvspec")

  /** The reference's end-to-end fixtures (FIXTURES.md §A1-A5), by file name. */
  val fixtures: Map[String, String] = Map(
    "basic.csv" -> (
      "name,age,salary,active\nJohn,25,50000.50,true\nJane,30,75000.00,false\nBob,35,60000.25,true\n"),
    "mixed.csv" -> (
      "id,name,score,date,percentage,currency,active\n" +
      "1,Alice,95.5,2024-01-15,85%,$50000,true\n" +
      "2,Bob,87.2,2024-02-20,92%,$55000,false\n" +
      "3,Carol,91.8,2024-03-10,78%,$48000,true\n"),
    "quoted.csv" -> (
      "name,description,price\n" +
      "\"John Doe\",\"Software Engineer, Senior\",75000\n" +
      "\"Jane Smith\",\"Data Scientist, Lead\",85000\n"),
    "nulls.csv" -> (
      "grp,city,value\na,Berlin,10\na,,20\na,null,30\nb,N/A,40\nb,Paris,50\nb,-,60\n"),
    "crlf_bom.csv" -> (
      "\uFEFF" + "name,age\r\nJohn,25\r\nJane,30\r\n"),
    "eu.csv" -> (
      "v\n\"1.234,56\"\n\"2.345,67\"\n\"7,5\"\n"),
    "plain3.csv" -> (
      "v\n0.123\n12.345\n999.999\n1.5\n"),
    "eu_mixed.csv" -> (
      "v\n\"1.234,5\"\n0.123\n\"12.345.678,99\"\n"))

  def write(name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
    p.toString
  }
}
