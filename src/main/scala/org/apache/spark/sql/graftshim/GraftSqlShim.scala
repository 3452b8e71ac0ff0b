package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ExpressionUtils}
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.Decimal

/** Bridge into Spark 4's `private[sql]` Column↔Expression conversions.
  * Spark 4 moved the classic Column constructor behind
  * `org.apache.spark.sql.classic.ExpressionUtils`; custom Catalyst
  * expressions (graft.plans) need exactly these two conversions, so this
  * shim lives in an `org.apache.spark.sql` subpackage — the standard
  * technique for Catalyst-extension libraries.
  */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def functionRegistry(spark: SparkSession): FunctionRegistry =
    ClassicConversions.castToImpl(spark).sessionState.functionRegistry

  /** Parse-only check against the session's SQL parser. */
  def parses(spark: SparkSession, sql: String): Boolean =
    ClassicConversions.castToImpl(spark).sessionState.sqlParser.parsePlan(sql) != null

  /** The error Spark's ANSI cast raises for a double outside
    * DECIMAL(precision, scale). */
  def castOverflow(x: Double, precision: Int, scale: Int): ArithmeticException =
    QueryExecutionErrors.cannotChangeDecimalPrecisionError(Decimal(x), precision, scale, null)

  /** The error Spark's ANSI `sum` raises when a decimal sum overflows. */
  def sumOverflow(): ArithmeticException =
    QueryExecutionErrors.overflowInSumOfDecimalError(null, "try_sum")
}
