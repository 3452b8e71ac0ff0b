package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a frame, computed by Spark: the row count
  * and two sums over a 64-bit hash of each row (low and high 32 bits, so
  * the sums cannot overflow). Doubles are rounded to 6 places first so
  * that summation order inside an aggregate cannot change the digest.
  */
object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6))
    case _ => c
  }

  /** Runs the frame once and returns (rows, digest). */
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).map(f =>
      canon(col(s"`${f.name.replace("`", "``")}`"), f.dataType))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftright(col("h"), 32)))
      .collect()(0)
    val n = r.getLong(0)
    (n, if (n == 0) "0" else s"$n:${r.getLong(1)}:${r.getLong(2)}")
  }
}
