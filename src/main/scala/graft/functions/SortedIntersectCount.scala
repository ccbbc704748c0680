package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Codegen'd set-intersection COUNT of two ascending-sorted
  * `array<bigint>` columns (a merge scan — O(|a|+|b|) primitive long
  * comparisons, no allocation).
  *
  * Why: `size(array_intersect(a, b))` routes through Spark's generic
  * `ArrayIntersect`, which builds a boxed `OpenHashSet[Any]` per row —
  * at sf0.1 the blocked n-gram-Jaccard join evaluates ~760k pairs × ~450
  * grams and spent ~37 s there, ~25× the cost of the join itself. This
  * expression does the same count in a primitive loop inside
  * whole-stage codegen (SURVEY.md §4.3 promotion-on-evidence, same as
  * [[DotProduct]]).
  *
  * Contract: both inputs sorted ascending. Duplicates are skipped on
  * both sides (set semantics), so inputs need not be distinct, but the
  * callers here always pass distinct arrays.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<bigint> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_intersect_sorted"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv < yv) i += 1
      else if (xv > yv) j += 1
      else {
        c += 1
        val m = xv
        while (i < nx && x.getLong(i) == m) i += 1
        while (j < ny && y.getLong(j) == m) j += 1
      }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv"); val m = ctx.freshName("m")
      s"""
        |int $nx = $a.numElements(); int $ny = $b.numElements();
        |int $i = 0; int $j = 0; int $c = 0;
        |while ($i < $nx && $j < $ny) {
        |  long $xv = $a.getLong($i);
        |  long $yv = $b.getLong($j);
        |  if ($xv < $yv) { $i++; }
        |  else if ($xv > $yv) { $j++; }
        |  else {
        |    $c++;
        |    long $m = $xv;
        |    while ($i < $nx && $a.getLong($i) == $m) $i++;
        |    while ($j < $ny && $b.getLong($j) == $m) $j++;
        |  }
        |}
        |${ev.value} = $c;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {

  /** Intersection count of two sorted `array<bigint>` columns. */
  def intersectCount(a: Column, b: Column): Column =
    column(SortedIntersectCount(expressionOf(a), expressionOf(b)))
}
