package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.CsvSmartCaster._

/** The smart-cast projection of one raw CSV column of class `cls` (see
  * [[graft.sources.CsvSmartCaster.castExpr]]): Integer → BIGINT, Float →
  * DOUBLE, Boolean → BOOLEAN, Date and String stay STRING; null sentinels
  * and values the class's cast rejects become NULL. Its generated code is
  * one static call into a [[NativeOps]] kernel per value.
  */
case class SmartCast(child: Expression, cls: VClass) extends UnaryExpression {
  require(cls != VNull, "a column voted no class casts to a NULL literal")

  override def dataType: DataType = cls match {
    case VInteger => LongType
    case VFloat => DoubleType
    case VBoolean => BooleanType
    case _ => StringType
  }

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"smart_cast expects string, got $other")
  }

  /** The kernel, its boxed result type and the unboxing suffix. */
  private def kernel: (String, String, String) = cls match {
    case VInteger => ("smartLong", "java.lang.Long", ".longValue()")
    case VFloat => ("smartDouble", "java.lang.Double", ".doubleValue()")
    case VBoolean => ("smartBoolean", "java.lang.Boolean", ".booleanValue()")
    case _ => ("smartString", classOf[UTF8String].getName, "")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    cls match {
      case VInteger => NativeOps.smartLong(s)
      case VFloat => NativeOps.smartDouble(s)
      case VBoolean => NativeOps.smartBoolean(s)
      case _ => NativeOps.smartString(s)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (fn, boxed, unbox) = kernel
    val r = ctx.freshName("cast")
    nullSafeCodeGen(ctx, ev, c =>
      s"""$boxed $r = graft.plans.NativeOps.$fn($c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r$unbox; }
         |""".stripMargin)
  }

  override def prettyName: String = "smart_cast"
  override protected def withNewChildInternal(newChild: Expression): SmartCast =
    copy(child = newChild)
}
