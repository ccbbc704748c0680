package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Row-local nearest-centroid argmin over an `array<struct<id:bigint,
  * cv:array<double>, cn:double>>` centroid table: returns the 0-based
  * INDEX of the winning centroid, or NULL when the table is empty.
  *
  * Why a custom Catalyst expression (the [[DotProduct]] promotion
  * rule): the declarative assignment pass is
  * `crossJoin(broadcast(cents)) → groupBy(vec_id) →
  * min(struct(dist, cent_id))` — correct, but it pays one corpus-keyed
  * Exchange per assignment (the partial-agg rows still shuffle, and
  * each row carries the FULL vector for the `first(v)` carry-along).
  * Folding the argmin into one codegen'd loop over a collected ≤k-row
  * centroid array makes every assignment pass map-side: at 100 TB that
  * removes one full-width corpus shuffle per Lloyd round per training
  * chain (guide §2.4). FLOPs are unchanged — the same k dot products
  * per vector run inside the loop instead of across k joined rows.
  *
  * Value parity with the declarative form (DedupSpec pins it):
  *  - metric 0 (k-means): dist = nrm − 2·dot(v,cv) + cn, evaluated in
  *    exactly that association; winner = min (dist, id) lexicographic.
  *  - metric 1 (IVF cosine): cs = dot(v,cv) / sqrt(nrm·cn); winner =
  *    max cs, ties to the LOWEST id (the `max(struct(cs, -cent_id))`
  *    convention).
  *  - dot products are the same left-to-right fold as [[DotProduct]];
  *    float comparisons mirror Spark's SQLOrderingUtil (== first — so
  *    −0.0 ties 0.0 — then Double.compare, so NaN sorts greatest),
  *    making the result independent of centroid array order.
  */
case class KmArgmin(first: Expression, second: Expression,
    third: Expression, metric: Int) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsShapeOk = third.dataType match {
      case ArrayType(StructType(fields), _) if fields.length == 3 =>
        fields(0).dataType == LongType &&
          fields(1).dataType.isInstanceOf[ArrayType] &&
          fields(1).dataType.asInstanceOf[ArrayType]
            .elementType == DoubleType &&
          fields(2).dataType == DoubleType
      case _ => false
    }
    if (first.dataType != ArrayType(DoubleType, true) &&
        first.dataType != ArrayType(DoubleType, false))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double> v, got " +
          first.dataType.simpleString)
    else if (second.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects double nrm, got " +
          second.dataType.simpleString)
    else if (!centsShapeOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<struct<bigint, array<double>, " +
          s"double>> centroids, got ${third.dataType.simpleString}")
    else if (metric != 0 && metric != 1)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName metric must be 0 (euclid min) or 1 (cosine max)")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_km_argmin"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nrm = b.asInstanceOf[Double]
    val cents = c.asInstanceOf[ArrayData]
    val n = cents.numElements()
    var best = -1
    var bs = 0.0
    var bid = 0L
    var i = 0
    while (i < n) {
      if (!cents.isNullAt(i)) {
        val row = cents.getStruct(i, 3)
        val id = row.getLong(0)
        val cv = row.getArray(1)
        val cn = row.getDouble(2)
        val m = math.min(v.numElements(), cv.numElements())
        var acc = 0.0
        var j = 0
        while (j < m) { acc += v.getDouble(j) * cv.getDouble(j); j += 1 }
        val s =
          if (metric == 0) nrm - 2.0 * acc + cn
          else acc / math.sqrt(nrm * cn)
        val better =
          if (best < 0) true
          else if (s == bs) id < bid
          else if (metric == 0) java.lang.Double.compare(s, bs) < 0
          else java.lang.Double.compare(s, bs) > 0
        if (better) { best = i; bs = s; bid = id }
      }
      i += 1
    }
    if (best < 0) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val j = ctx.freshName("j"); val m = ctx.freshName("m")
      val row = ctx.freshName("row"); val id = ctx.freshName("id")
      val cv = ctx.freshName("cv"); val cn = ctx.freshName("cn")
      val acc = ctx.freshName("acc"); val s = ctx.freshName("s")
      val best = ctx.freshName("best"); val bs = ctx.freshName("bs")
      val bid = ctx.freshName("bid"); val better = ctx.freshName("better")
      val score =
        if (metric == 0) s"$b - 2.0 * $acc + $cn"
        else s"$acc / java.lang.Math.sqrt($b * $cn)"
      val cmp =
        if (metric == 0) s"java.lang.Double.compare($s, $bs) < 0"
        else s"java.lang.Double.compare($s, $bs) > 0"
      s"""
        |int $n = $c.numElements();
        |int $best = -1;
        |double $bs = 0.0;
        |long $bid = 0L;
        |for (int $i = 0; $i < $n; $i++) {
        |  if ($c.isNullAt($i)) continue;
        |  InternalRow $row = $c.getStruct($i, 3);
        |  long $id = $row.getLong(0);
        |  ArrayData $cv = $row.getArray(1);
        |  double $cn = $row.getDouble(2);
        |  int $m = java.lang.Math.min($a.numElements(), $cv.numElements());
        |  double $acc = 0.0;
        |  for (int $j = 0; $j < $m; $j++) {
        |    $acc += $a.getDouble($j) * $cv.getDouble($j);
        |  }
        |  double $s = $score;
        |  boolean $better;
        |  if ($best < 0) { $better = true; }
        |  else if ($s == $bs) { $better = $id < $bid; }
        |  else { $better = $cmp; }
        |  if ($better) { $best = $i; $bs = $s; $bid = $id; }
        |}
        |${ev.isNull} = $best < 0;
        |${ev.value} = $best;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): KmArgmin =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object KmArgmin {

  /** 0-based index of the argmin/argmax centroid in `cents`
    * (array<struct<id, cv, cn>>), NULL on an empty table;
    * metric 0 = squared-euclid min, 1 = cosine max.
    */
  def argminIdx(v: Column, nrm: Column, cents: Column,
      metric: Int): Column =
    column(KmArgmin(expressionOf(v), expressionOf(nrm), expressionOf(cents),
      metric))
}
