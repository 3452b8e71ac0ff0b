package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigInteger, RoundingMode, BigDecimal => JBigDecimal}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftSqlShim
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Per-position DECIMAL(38,18) sums and counts of [[VecMeanAgg]]. A sum
  * is an unscaled integer at scale 18, kept as a long (`lo`) plus, once
  * the long would overflow, a BigInteger part (`hi`): exact, so the
  * mean never depends on the order rows arrive or partials merge.
  */
final class VecMeanBuf {
  var n = 0
  var counts = new Array[Long](0)
  var lo = new Array[Long](0)
  var hi = new Array[BigInteger](0)
  /** some non-null value was summed at the position (a SQL sum of only
    * nulls is null) */
  var summed = new Array[Boolean](0)
  /** the running sum left DECIMAL(38,18) (non-ANSI: the sum is null) */
  var overflowed = new Array[Boolean](0)

  def grow(len: Int): Unit = if (len > n) {
    if (len > counts.length) {
      val cap = math.max(len, counts.length * 2)
      counts = java.util.Arrays.copyOf(counts, cap)
      lo = java.util.Arrays.copyOf(lo, cap)
      hi = java.util.Arrays.copyOf(hi, cap)
      summed = java.util.Arrays.copyOf(summed, cap)
      overflowed = java.util.Arrays.copyOf(overflowed, cap)
    }
    n = len
  }

  /** Add an unscaled scale-18 value at position i; true when the running
    * sum is still inside DECIMAL(38,18). */
  def addUnscaled(i: Int, u: Long): Boolean = {
    summed(i) = true
    val a = lo(i)
    val r = a + u
    if (((a ^ r) & (u ^ r)) < 0L) { // long overflow: fold the old part into hi
      hi(i) = bigOr0(i).add(BigInteger.valueOf(a))
      lo(i) = u
      inRange(i)
    } else { lo(i) = r; true }
  }

  def addBig(i: Int, u: BigInteger): Boolean = {
    summed(i) = true
    hi(i) = bigOr0(i).add(u)
    inRange(i)
  }

  private def bigOr0(i: Int): BigInteger = if (hi(i) == null) BigInteger.ZERO else hi(i)

  def total(i: Int): BigInteger =
    if (hi(i) == null) BigInteger.valueOf(lo(i)) else hi(i).add(BigInteger.valueOf(lo(i)))

  def inRange(i: Int): Boolean = hi(i) == null || total(i).abs.compareTo(VecMeanBuf.Limit) < 0

  /** The mean at position i as `double(sum) / count`, or null. */
  def mean(i: Int): Any =
    if (!summed(i) || overflowed(i)) null
    else {
      val sum = if (hi(i) == null) JBigDecimal.valueOf(lo(i), VecMeanBuf.Scale)
        else new JBigDecimal(total(i), VecMeanBuf.Scale)
      sum.doubleValue / counts(i).toDouble
    }
}

object VecMeanBuf {
  val Precision = 38
  val Scale = 18
  /** 10^38: the smallest unscaled magnitude DECIMAL(38,18) cannot hold */
  val Limit: BigInteger = BigInteger.TEN.pow(Precision)
}

/** Element-wise mean of `array<float|double>` vectors as ONE
  * map-side-combinable aggregate — the Lloyd step's centroid update.
  * Position i of the result is `double(sum_i) / count_i`, bit for bit the
  * value of
  * `posexplode → groupBy(key, pos) → sum(cast(val AS DECIMAL(38,18))).cast(double) / count(1)`:
  *  - each element converts as Spark's cast does (float → double →
  *    shortest decimal string → scale 18, HALF_UP); NaN and ±Infinity
  *    cast to null;
  *  - a null element (or one the cast nulls) adds nothing but counts;
  *  - a null array contributes nothing (posexplode yields no row for it);
  *  - ragged arrays keep per-position counts;
  *  - a value or running sum outside DECIMAL(38,18) fails under ANSI, as
  *    the cast and the sum do, and is null otherwise.
  * A group whose arrays were all null or empty yields null (posexplode
  * would have produced no row for it). The exchange carries one buffer
  * per (group, mapper) instead of dim rows per vector.
  */
case class VecMeanAgg(child: Expression,
    failOnError: Boolean = SQLConf.get.ansiEnabled,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMeanBuf] with UnaryLike[Expression] {

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"vec_mean expects array<float|double>, got $other")
  }

  override def prettyName: String = "vec_mean"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def createAggregationBuffer(): VecMeanBuf = new VecMeanBuf

  override def update(buf: VecMeanBuf, input: InternalRow): VecMeanBuf = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      val len = a.numElements()
      buf.grow(len)
      var i = 0
      while (i < len) {
        buf.counts(i) += 1
        if (!a.isNullAt(i)) add(buf, i, if (isFloat) a.getFloat(i).toDouble else a.getDouble(i))
        i += 1
      }
    }
    buf
  }

  /** One element: Spark's float/double → DECIMAL(38,18) cast (the
    * shortest decimal string of the double, then HALF_UP to scale 18),
    * added to the running sum. */
  private def add(buf: VecMeanBuf, i: Int, x: Double): Unit = {
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) return
    val d = new JBigDecimal(java.lang.Double.toString(x))
      .setScale(VecMeanBuf.Scale, RoundingMode.HALF_UP)
    if (d.precision > VecMeanBuf.Precision) {
      if (failOnError) throw GraftSqlShim.castOverflow(x, VecMeanBuf.Precision, VecMeanBuf.Scale)
      return
    }
    val u = d.unscaledValue
    val ok = if (u.bitLength < 64) buf.addUnscaled(i, u.longValue) else buf.addBig(i, u)
    if (!ok) overflow(buf, i)
  }

  private def overflow(buf: VecMeanBuf, i: Int): Unit = {
    if (failOnError) throw GraftSqlShim.sumOverflow()
    buf.overflowed(i) = true
  }

  override def merge(buf: VecMeanBuf, other: VecMeanBuf): VecMeanBuf = {
    buf.grow(other.n)
    var i = 0
    while (i < other.n) {
      buf.counts(i) += other.counts(i)
      buf.overflowed(i) |= other.overflowed(i)
      if (other.summed(i)) {
        val ok = buf.addUnscaled(i, other.lo(i)) &&
          (other.hi(i) == null || buf.addBig(i, other.hi(i)))
        if (!ok) overflow(buf, i)
      }
      i += 1
    }
    buf
  }

  override def eval(buf: VecMeanBuf): Any =
    if (buf.n == 0) null
    else new GenericArrayData(Array.tabulate[Any](buf.n)(buf.mean))

  override def serialize(buf: VecMeanBuf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.n)
    var i = 0
    while (i < buf.n) {
      out.writeLong(buf.counts(i))
      out.writeByte((if (buf.summed(i)) 1 else 0) | (if (buf.overflowed(i)) 2 else 0))
      out.writeLong(buf.lo(i))
      if (buf.hi(i) == null) out.writeInt(0)
      else { val b = buf.hi(i).toByteArray; out.writeInt(b.length); out.write(b) }
      i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMeanBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new VecMeanBuf
    buf.grow(in.readInt())
    var i = 0
    while (i < buf.n) {
      buf.counts(i) = in.readLong()
      val flags = in.readByte()
      buf.summed(i) = (flags & 1) != 0
      buf.overflowed(i) = (flags & 2) != 0
      buf.lo(i) = in.readLong()
      val len = in.readInt()
      if (len > 0) { val b = new Array[Byte](len); in.readFully(b); buf.hi(i) = new BigInteger(b) }
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMeanAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMeanAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecMeanAgg =
    copy(child = newChild)
}

/** The nearest of k driver-held centroids as a projection: the argmin
  * of [[NativeOps.l2]] under (distance asc, id asc) in Spark's ordering —
  * NaN is the greatest distance and a null distance sorts first — the
  * pick `min(struct(l2(v, centv), cent_id))` makes over a broadcast
  * join, without the join or the grouping. So a null vector takes the
  * smallest id, and a null centroid (null distance to everything) takes
  * every vector. `ids` ascend; the matrix rides the expression to the
  * executors (k ≤ 256 centroids: the data the broadcast carried) and
  * stays out of plan strings, which print `nearest_centroid(v, kxdim)`.
  */
case class NearestCentroid(child: Expression, ids: Array[Long],
    centroids: Array[Array[Double]]) extends UnaryExpression {

  require(ids.nonEmpty && ids.length == centroids.length,
    "nearest_centroid: one id per centroid, at least one centroid")
  require(ids.indices.tail.forall(i => ids(i - 1) <= ids(i)),
    "nearest_centroid: ids must ascend")

  private lazy val isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"nearest_centroid expects array<float|double>, got $other")
  }

  @transient private lazy val cents: Array[ArrayData] =
    centroids.map(c => if (c == null) null else UnsafeArrayData.fromPrimitiveArray(c))

  /** the first null centroid: its null distance sorts before any other */
  private val firstNull: Int = centroids.indexWhere(_ == null)

  def firstId: Long = ids(0)

  def pick(v: ArrayData): Long = {
    if (firstNull >= 0) return ids(firstNull)
    var best = 0
    var bestD = NativeOps.l2(v, cents(0), isFloat, false)
    var j = 1
    while (j < cents.length) {
      val d = NativeOps.l2(v, cents(j), isFloat, false)
      // Spark's double order: -0.0 == 0.0, NaN == NaN and above all else;
      // equal distances keep the earlier (smaller) id
      if (d != bestD && java.lang.Double.compare(d, bestD) < 0) { best = j; bestD = d }
      j += 1
    }
    ids(best)
  }

  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) firstId else pick(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nearestCentroid", this)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      long ${ev.value} = ${c.isNull} ? $self.firstId() : $self.pick(${c.value});""",
      isNull = FalseLiteral)
  }

  private def shape: String =
    s"${centroids.length}x${centroids.find(_ != null).map(_.length).getOrElse(0)}"
  override def prettyName: String = "nearest_centroid"
  override def toString: String = s"$prettyName($child, $shape)"
  override def sql: String = s"$prettyName(${child.sql}, $shape)"
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object LloydExpressions {
  /** `vec_mean(v)`: the element-wise DECIMAL-exact mean ([[VecMeanAgg]]). */
  def vecMean(v: Column): Column =
    GraftSqlShim.column(VecMeanAgg(GraftSqlShim.expression(v)).toAggregateExpression())

  /** The id of `v`'s nearest centroid ([[NearestCentroid]]), as a long. */
  def nearestCentroid(v: Column, ids: Array[Long],
      centroids: Array[Array[Double]]): Column =
    GraftSqlShim.column(NearestCentroid(GraftSqlShim.expression(v), ids, centroids))
}
