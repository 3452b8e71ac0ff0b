package graft.plans

import graft.TestSession
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** [[VecMeanAgg]] against the posexplode form it replaced —
  * `posexplode → groupBy(g, pos) → sum(cast(val AS DECIMAL(38,18))).cast(double)
  * / count(1) → groupBy(g) → collect_list/array_sort` — over float and
  * double vectors with null elements, null arrays, ragged lengths,
  * negative values, HALF_UP ties at the 18th decimal, NaN/Infinity and
  * large magnitudes. Doubles are compared by their raw bits.
  */
object VecMeanAggProps extends Properties("VecMeanAgg") {

  private lazy val spark = TestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  /** a double whose shortest decimal string (≤ 15 digits, so it round
    * trips) ends in a 5 at the 19th decimal: HALF_UP and HALF_EVEN round
    * it to different DECIMAL(38,18) values */
  private val tie: Gen[Double] = for {
    prefix <- Gen.chooseNum(0L, 99999999999999L); neg <- Gen.prob(0.3)
  } yield { val t = java.lang.Double.parseDouble(s"${prefix}5e-19"); if (neg) -t else t }
  private val element: Gen[Any] = Gen.frequency(
    10 -> Gen.chooseNum(-1.0, 1.0),
    3 -> tie,
    2 -> Gen.chooseNum(-1e6, 1e6),
    1 -> Gen.chooseNum(-9e18, 9e18), // large: ten of them stay inside DECIMAL(38,18)
    1 -> Gen.oneOf(0.0, -0.0, Double.MinPositiveValue, 1e-300, Double.NaN,
      Double.PositiveInfinity, Double.NegativeInfinity),
    2 -> Gen.const(null))
  /** only ties and nulls: sums small enough that a rounding change shows
    * in the double */
  private val tiny: Gen[Any] = Gen.frequency(8 -> tie, 1 -> Gen.const(null))
  private def vector(n: Int, el: Gen[Any]): Gen[Any] = Gen.frequency(
    8 -> Gen.listOfN(n, el).map(_.toArray[Any]),
    1 -> Gen.const(null))
  private val rows: Gen[Seq[(Int, Any)]] = for {
    dim <- Gen.chooseNum(1, 6)
    n <- Gen.chooseNum(1, 40)
    el <- Gen.frequency(3 -> element, 1 -> tiny)
    rs <- Gen.listOfN(n, for {
      g <- Gen.chooseNum(0, 4)
      len <- Gen.frequency(6 -> Gen.const(dim), 2 -> Gen.chooseNum(0, dim + 2))
      v <- vector(len, el)
    } yield (g, v))
  } yield rs

  private def frame(rs: Seq[(Int, Any)], elem: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("v", ArrayType(elem, containsNull = true))))
    val data = rs.map { case (g, v) =>
      val arr = if (v == null) null else v.asInstanceOf[Array[Any]].toSeq.map {
        case null => null
        case d: Double => if (elem == FloatType) (d.toFloat: Any) else (d: Any)
      }
      Row(g, arr)
    }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema).repartition(3)
  }

  /** g -> mean vector, by the reference (posexplode) form */
  def reference(df: DataFrame): Map[Int, Seq[Any]] =
    df.select(col("g"), posexplode(col("v")).as(Seq("pos", "val")))
      .groupBy(col("g"), col("pos"))
      .agg((sum(col("val").cast(DecimalType(38, 18))).cast(DoubleType) /
        count(lit(1))).as("m"))
      .groupBy(col("g"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m")).as("mean"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Any](1)).toMap

  def native(df: DataFrame): Map[Int, Seq[Any]] =
    df.groupBy(col("g")).agg(LloydExpressions.vecMean(col("v")).as("mean"))
      .where(col("mean").isNotNull)
      .collect().map(r => r.getInt(0) -> r.getSeq[Any](1)).toMap

  private def bits(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case other => other
  }

  private def same(a: Map[Int, Seq[Any]], b: Map[Int, Seq[Any]]): Boolean =
    a.keySet == b.keySet && a.forall { case (g, v) => v.map(bits) == b(g).map(bits) }

  for (elem <- Seq(FloatType, DoubleType))
    property(s"vec_mean equals the posexplode/decimal mean bit for bit over $elem") =
      forAll(rows) { rs =>
        val df = frame(rs, elem)
        val (ref, got) = (reference(df), native(df))
        same(ref, got) :| s"reference $ref\nvec_mean  $got"
      }

  property("serialize/deserialize keeps the buffer: merged round-tripped partials equal one pass") =
    forAll(rows) { rs =>
      val agg = VecMeanAgg(BoundReference(0, ArrayType(DoubleType, containsNull = true),
        nullable = true), failOnError = false)
      def row(v: Any) = InternalRow(if (v == null) null
        else new GenericArrayData(v.asInstanceOf[Array[Any]].map {
          case null => null
          case d: Double => java.lang.Double.valueOf(d)
        }))
      val whole = rs.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, row(r._2)))
      val (left, right) = rs.splitAt(rs.size / 2)
      def part(xs: Seq[(Int, Any)]) = agg.deserialize(agg.serialize(
        xs.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, row(r._2)))))
      val merged = agg.merge(part(left), part(right))
      val roundTrip = agg.deserialize(agg.serialize(whole))
      def out(b: VecMeanBuf) = Option(agg.eval(b)).map(_.asInstanceOf[GenericArrayData]
        .array.toSeq.map(bits))
      (out(merged) == out(whole) && out(roundTrip) == out(whole)) :|
        s"whole ${out(whole)} merged ${out(merged)} round trip ${out(roundTrip)}"
    }

  property("an overflowing sum fails under ANSI as the decimal sum does") = {
    val big = (0 until 12).map(i => (0, Array[Any](9e18 + i, 1.0)))
    val df = frame(big, DoubleType)
    def fails(f: => Any): Boolean = try { f; false } catch {
      case e: Exception => Option(e.getMessage).exists(_.contains("ARITHMETIC_OVERFLOW")) ||
        Option(e.getCause).flatMap(c => Option(c.getMessage)).exists(_.contains("ARITHMETIC_OVERFLOW"))
    }
    Prop(fails(reference(df)) && fails(native(df)))
  }
}
