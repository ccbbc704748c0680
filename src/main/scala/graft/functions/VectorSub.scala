package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd element-wise difference of two `array<double>` columns —
  * the residual `x − centroid` that residual-encoded IVF+PQ
  * ([[graft.operators.Similarity.simIvfPqResidual]]) quantizes.
  *
  * Why a custom Catalyst expression instead of `zip_with(a, b, _-_)`:
  * higher-order functions are CodegenFallback (one boxed lambda call
  * per element — the repo's PlanLint policy bans them from hot
  * Projects), while this generates a primitive `double[]` loop inside
  * whole-stage codegen. Same promotion rationale as [[DotProduct]].
  *
  * Subtraction is exact per element (no fold), so parity with the
  * oracle's `list_transform(range(...), i -> a[i] - b[i])` is
  * bitwise by IEEE-754, independent of partitioning.
  *
  * Length mismatch is a loud runtime ERROR, not a truncation: the
  * oracle twin iterates `range(1, Dim+1)` and would emit NULL
  * elements where a silently-truncating Spark side emits a shorter
  * array — a latent hash-mismatch seam if the fixed-Dim embedding
  * invariant ever broke. Divergence must surface as a failure.
  */
case class VectorSub(left: Expression, right: Expression)
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

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_vsub"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array length mismatch " +
          s"(${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val arr = ctx.freshName("arr")
      s"""
        |if ($a.numElements() != $b.numElements()) {
        |  throw new IllegalArgumentException(
        |    "graft_vsub: array length mismatch (" + $a.numElements() +
        |    " vs " + $b.numElements() + ")");
        |}
        |int $n = $a.numElements();
        |double[] $arr = new double[$n];
        |for (int $i = 0; $i < $n; $i++) {
        |  $arr[$i] = $a.getDouble($i) - $b.getDouble($i);
        |}
        |${ev.value} =
        |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        |    .fromPrimitiveArray($arr);
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorSub =
    copy(left = newLeft, right = newRight)
}

object VectorSub {

  /** `a − b` element-wise over `array<double>`. */
  def sub(a: Column, b: Column): Column =
    column(VectorSub(expressionOf(a), expressionOf(b)))
}
