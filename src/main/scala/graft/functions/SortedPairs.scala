package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All ascending (a < b) element pairs of an ascending-sorted
  * `array<bigint>` set, as `array<struct<a, b>>` — the map-side pair
  * generator that replaces a key-equi SELF-JOIN over a grouped
  * relation (guide §2.4/§3): `groupBy(key) → collect_set →
  * explode(graft_sorted_pairs(...))` produces exactly the rows of
  * `rel a JOIN rel b ON a.key = b.key AND a.x < b.x` from ONE
  * exchange of the base relation instead of two join-side exchanges,
  * and the grouped relation is scanned once instead of twice.
  *
  * Bounded by contract: callers only apply it where the per-key group
  * is small by construction (basket sizes — lines-per-order ≈ 4, the
  * wh_basket shape), so the emitted array is |group|²/2 of a small
  * |group|. It is NOT for corpus-sized groups — the same rule as the
  * LSH bucket caps.
  *
  * Input must be duplicate-free and ascending (sort_array over a
  * collect_set) so the (i < j) enumeration IS the `a < b` join
  * predicate, pair for pair.
  */
case class SortedPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", LongType, nullable = false),
    StructField("b", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "graft_sorted_pairs"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(
          Array[Any](a, arr.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("n"); val out = ctx.freshName("out")
      val k = ctx.freshName("k"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val a = ctx.freshName("a")
      val gir = classOf[GenericInternalRow].getName
      s"""
        |int $n = $c.numElements();
        |Object[] $out = new Object[$n * ($n - 1) / 2];
        |int $k = 0;
        |for (int $i = 0; $i < $n; $i++) {
        |  long $a = $c.getLong($i);
        |  for (int $j = $i + 1; $j < $n; $j++) {
        |    $out[$k++] = new $gir(new Object[] {
        |      java.lang.Long.valueOf($a),
        |      java.lang.Long.valueOf($c.getLong($j)) });
        |  }
        |}
        |${ev.value} = new ${classOf[GenericArrayData].getName}($out);
      """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SortedPairs = copy(child = newChild)
}

object SortedPairs {

  /** Ascending (a, b) pairs of a sorted `array<bigint>`. */
  def pairs(arr: Column): Column = column(SortedPairs(expressionOf(arr)))
}
