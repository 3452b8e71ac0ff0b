package graft.sources

import graft.TestSession
import graft.plans.SmartCast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Parity of the [[SmartCast]] kernels with the reference's CASE WHEN /
  * regex / CAST chain ([[CsvReference.castExpr]]), value by value, for
  * every column class: through Spark (generated code, after a shuffle so
  * the projection is not folded into a local relation) and through the
  * interpreted `eval`. Doubles are compared by their raw bits.
  */
object SmartCastProps extends Properties("SmartCast") {
  import CsvSmartCaster._

  private lazy val spark = TestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private val classes = Seq(VInteger, VFloat, VBoolean, VString)

  private val space: Gen[String] =
    Gen.frequency(6 -> "", 2 -> " ", 1 -> "  ", 1 -> "\t", 1 -> "\u00a0", 1 -> " \t ")
  private val sign: Gen[String] = Gen.frequency(4 -> "", 1 -> "+", 2 -> "-")
  private val currency: Gen[String] = Gen.frequency(
    5 -> "", 1 -> "$", 1 -> "€", 1 -> "£", 1 -> "¥", 1 -> "₹", 1 -> "$ ", 1 -> "€ ")
  private val digits: Gen[String] =
    Gen.chooseNum(1, 24).flatMap(n => Gen.listOfN(n, Gen.numChar)).map(_.mkString)
  private val grouped: Gen[(String, String)] = for {
    lead <- Gen.chooseNum(1, 999)
    groups <- Gen.listOfN(3, Gen.chooseNum(0, 999)).flatMap(g => Gen.choose(1, 3).map(g.take))
    frac <- Gen.frequency(1 -> "", 3 -> digits.map(_.take(4)))
  } yield {
    val rest = groups.map(g => f"$g%03d")
    (lead.toString + rest.map("," + _).mkString + (if (frac.isEmpty) "" else "." + frac),
      lead.toString + rest.map("." + _).mkString + (if (frac.isEmpty) "" else "," + frac))
  }
  private val number: Gen[String] = Gen.oneOf(
    digits,                                                    // plain, leading zeros
    Gen.zip(digits, digits).map { case (a, b) => s"$a.$b" },   // plain decimal
    Gen.zip(digits, digits).map { case (a, b) => s"$a,$b" },   // decimal comma
    grouped.map(_._1),                                         // US thousands
    grouped.map(_._2),                                         // EU thousands
    digits.map("." + _),                                       // no integer part
    Gen.zip(digits, Gen.chooseNum(-330, 330)).map { case (a, e) => s"${a.take(6)}e$e" },
    Gen.zip(digits, Gen.chooseNum(-30, 30)).map { case (a, e) => s"1.${a.take(3)}E$e" },
    Gen.oneOf(Long.MaxValue, Long.MinValue, Long.MaxValue - 1).map(_.toString),
    Gen.oneOf("9223372036854775808", "-9223372036854775809", "99999999999999999999"),
    Gen.oneOf("Infinity", "-Infinity", "NaN", "inf", "+INF", "-inf", "nan", "infinity"),
    Gen.oneOf("1.5d", "12f", "0x1p3", "1e", "1..2", "1.2.3", "--1", "+-1", ".", "5.", "1_000"))
  private val numeric: Gen[String] = for {
    a <- space; c1 <- currency; s <- sign; c2 <- currency; n <- number
    pct <- Gen.frequency(4 -> "", 1 -> "%", 1 -> " %", 1 -> "%%"); b <- space
  } yield a + c1 + s + c2 + n + pct + b
  private val sentinel: Gen[String] = for {
    a <- space; s <- Gen.oneOf(NullSentinels.toSeq); b <- space
  } yield a + s + b
  private val boolean: Gen[String] = for {
    a <- space
    w <- Gen.oneOf("true", "false", "yes", "no", "da", "ne", "truee", "ye s")
    upper <- Gen.listOfN(w.length, Gen.prob(0.4))
    b <- space
  } yield a + w.zip(upper).map { case (ch, u) => if (u) ch.toUpper else ch }.mkString + b
  private val junk: Gen[String] = Gen.oneOf(
    Gen.alphaStr, Gen.asciiStr, Gen.asciiPrintableStr, Gen.identifier,
    Gen.stringOf(Gen.oneOf('1', '2', '.', ',', '%', '-', '+', ' ', ' ', '\u0001',
      '\u007f', 'e', '$', '€', 'İ', 'K')),
    Gen.stringOf(Gen.choose(Char.MinValue, Char.MaxValue).suchThat(c => !c.isSurrogate)))
  private val value: Gen[String] =
    Gen.frequency(8 -> numeric, 2 -> sentinel, 2 -> boolean, 2 -> junk)

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    case _ => a == b
  }

  property("SmartCast equals the reference chain for every class") =
    forAll(Gen.listOfN(400, value)) { vs =>
      val sp = spark; import sp.implicits._
      val df = vs.toDF("v").repartition(2)
      val rows = df.select(col("v") +: classes.flatMap(cls =>
        Seq(CsvReference.castExpr(col("v"), cls), castExpr(col("v"), cls))): _*).collect()
      val input = BoundReference(0, StringType, nullable = true)
      Prop.all(rows.toSeq.flatMap { r =>
        val v = r.getString(0)
        classes.zipWithIndex.map { case (cls, k) =>
          val ref = r.get(1 + 2 * k)
          val interpreted = SmartCast(input, cls).eval(InternalRow(UTF8String.fromString(v))) match {
            case u: UTF8String => u.toString
            case other => other
          }
          (same(ref, r.get(2 + 2 * k)) && same(ref, interpreted)) :|
            s"$cls of '${v.flatMap(c => if (c < ' ' || c > '~') f"\\u$c%04x" else c.toString)}': " +
              s"reference $ref, generated ${r.get(2 + 2 * k)}, interpreted $interpreted"
        }
      }: _*)
    }
}
