package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd dot product of two `array<double>` columns.
  *
  * Why a custom Catalyst expression: the declarative form
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` is a higher-order
  * function, which Spark evaluates as CodegenFallback — one boxed
  * lambda invocation per element. At sf0.1 that made the all-pairs
  * cosine scan (2M pairs × 64 dims) take ~20 s; this expression
  * generates a primitive `double` loop inside whole-stage codegen
  * (SURVEY.md §4.3: start built-in, promote to custom on benchmark
  * evidence — this is that promotion).
  *
  * Summation is the same left-to-right fold as the declarative form and
  * as DuckDB's `list_reduce`, so results stay bitwise identical to the
  * oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        |double $acc = 0.0;
        |for (int $i = 0; $i < $n; $i++) {
        |  $acc += $a.getDouble($i) * $b.getDouble($i);
        |}
        |${ev.value} = $acc;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  /** `dot(a, b)` over `array<double>` columns. */
  def dot(a: Column, b: Column): Column =
    column(DotProduct(expressionOf(a), expressionOf(b)))
}
