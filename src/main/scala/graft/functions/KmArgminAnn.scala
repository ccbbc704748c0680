package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Row-local TWO-LEVEL (coarse-quantized) nearest-centroid argmin —
  * [[KmArgmin]]'s sibling for the ANN assignment pass: score the
  * `anchors` array (struct<anchor_id, av, an>), keep the `probe`
  * nearest coarse groups by (dist, anchor_id), then run the exact
  * argmin only over the `grouped` centroids
  * (struct<grp, cent_id, cv, cn>) whose `grp` was kept. Returns the
  * 0-based index of the winner in `grouped`, or NULL when no kept
  * group has a member (the declarative form's inner join drops such
  * vectors — callers filter on NULL to match).
  *
  * Why: the declarative two-level pass pays TWO corpus-keyed
  * Exchanges per assignment (top-probe `collect_list` groupBy +
  * post-explode argmin groupBy), both carrying the full vector.
  * Fusing both levels into one codegen'd loop over the ≤k-row
  * broadcast arrays makes the whole pass map-side — at 100 TB that
  * removes two full-width corpus shuffles per assignment (guide
  * §2.4); per-vector dot-product count is unchanged
  * (nCoarse + probe·(k/nCoarse)).
  *
  * Value parity with the declarative form (DedupSpec pins it): anchor
  * distances and centroid distances use the exact
  * `nrm − 2·dot + cn` association and [[DotProduct]]'s left-to-right
  * fold; the top-probe cut mirrors
  * `slice(array_sort(collect_list(struct(ad, anchor_id))), 1, probe)`
  * (lexicographic, == then Double.compare — so the kept-group SET is
  * order-independent); the final argmin is the same
  * `min(struct(dist, cent_id))` lexicographic fold.
  */
case class KmArgminAnn(first: Expression, second: Expression,
    third: Expression, fourth: Expression, probe: Int)
    extends QuaternaryExpression {

  private def structShapeOk(dt: DataType,
      fieldTypes: Seq[DataType]): Boolean = dt match {
    case ArrayType(StructType(fields), _)
        if fields.length == fieldTypes.length =>
      fields.map(_.dataType).zip(fieldTypes).forall {
        case (ArrayType(e, _), ArrayType(we, _)) => e == we
        case (a, b) => a == b
      }
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vOk = first.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (!vOk)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double> v, got " +
          first.dataType.simpleString)
    else if (second.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects double nrm, got " +
          second.dataType.simpleString)
    else if (!structShapeOk(third.dataType,
        Seq(LongType, ArrayType(DoubleType), DoubleType)))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<struct<bigint, array<double>, " +
          s"double>> anchors, got ${third.dataType.simpleString}")
    else if (!structShapeOk(fourth.dataType,
        Seq(LongType, LongType, ArrayType(DoubleType), DoubleType)))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<struct<bigint, bigint, " +
          s"array<double>, double>> grouped centroids, got " +
          fourth.dataType.simpleString)
    else if (probe < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName probe must be >= 1")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_km_argmin_ann"

  override protected def nullSafeEval(a: Any, b: Any, c: Any,
      d: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val nrm = b.asInstanceOf[Double]
    val anchors = c.asInstanceOf[ArrayData]
    val grouped = d.asInstanceOf[ArrayData]
    val na = anchors.numElements()
    val ad = new Array[Double](na)
    val aid = new Array[Long](na)
    var j = 0
    while (j < na) {
      val row = anchors.getStruct(j, 3)
      aid(j) = row.getLong(0)
      val av = row.getArray(1)
      val an = row.getDouble(2)
      val m = math.min(v.numElements(), av.numElements())
      var acc = 0.0
      var i = 0
      while (i < m) { acc += v.getDouble(i) * av.getDouble(i); i += 1 }
      ad(j) = nrm - 2.0 * acc + an
      j += 1
    }
    val np = math.min(probe, na)
    val taken = new Array[Boolean](na)
    val sel = new Array[Long](np)
    var s = 0
    while (s < np) {
      var bi = -1
      var k = 0
      while (k < na) {
        if (!taken(k)) {
          val better =
            if (bi < 0) true
            else if (ad(k) == ad(bi)) aid(k) < aid(bi)
            else java.lang.Double.compare(ad(k), ad(bi)) < 0
          if (better) bi = k
        }
        k += 1
      }
      taken(bi) = true
      sel(s) = aid(bi)
      s += 1
    }
    val ng = grouped.numElements()
    var best = -1
    var bd = 0.0
    var bid = 0L
    var g = 0
    while (g < ng) {
      if (!grouped.isNullAt(g)) {
        val row = grouped.getStruct(g, 4)
        val grp = row.getLong(0)
        var in = false
        var t = 0
        while (t < np && !in) { if (sel(t) == grp) in = true; t += 1 }
        if (in) {
          val cid = row.getLong(1)
          val cv = row.getArray(2)
          val cn = row.getDouble(3)
          val m = math.min(v.numElements(), cv.numElements())
          var acc = 0.0
          var i = 0
          while (i < m) { acc += v.getDouble(i) * cv.getDouble(i); i += 1 }
          val dist = nrm - 2.0 * acc + cn
          val better =
            if (best < 0) true
            else if (dist == bd) cid < bid
            else java.lang.Double.compare(dist, bd) < 0
          if (better) { best = g; bd = dist; bid = cid }
        }
      }
      g += 1
    }
    if (best < 0) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val na = ctx.freshName("na"); val ad = ctx.freshName("ad")
      val aid = ctx.freshName("aid"); val row = ctx.freshName("row")
      val av = ctx.freshName("av"); val an = ctx.freshName("an")
      val m = ctx.freshName("m"); val acc = ctx.freshName("acc")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val np = ctx.freshName("np"); val taken = ctx.freshName("taken")
      val sel = ctx.freshName("sel"); val s = ctx.freshName("s")
      val bi = ctx.freshName("bi"); val k = ctx.freshName("k")
      val better = ctx.freshName("better"); val ng = ctx.freshName("ng")
      val best = ctx.freshName("best"); val bd = ctx.freshName("bd")
      val bid = ctx.freshName("bid"); val g = ctx.freshName("g")
      val grp = ctx.freshName("grp"); val in = ctx.freshName("in")
      val t = ctx.freshName("t"); val cid = ctx.freshName("cid")
      val cv = ctx.freshName("cv"); val cn = ctx.freshName("cn")
      val dist = ctx.freshName("dist"); val b2 = ctx.freshName("b2")
      s"""
        |int $na = $c.numElements();
        |double[] $ad = new double[$na];
        |long[] $aid = new long[$na];
        |for (int $j = 0; $j < $na; $j++) {
        |  InternalRow $row = $c.getStruct($j, 3);
        |  $aid[$j] = $row.getLong(0);
        |  ArrayData $av = $row.getArray(1);
        |  double $an = $row.getDouble(2);
        |  int $m = java.lang.Math.min($a.numElements(), $av.numElements());
        |  double $acc = 0.0;
        |  for (int $i = 0; $i < $m; $i++) {
        |    $acc += $a.getDouble($i) * $av.getDouble($i);
        |  }
        |  $ad[$j] = $b - 2.0 * $acc + $an;
        |}
        |int $np = java.lang.Math.min($probe, $na);
        |boolean[] $taken = new boolean[$na];
        |long[] $sel = new long[$np];
        |for (int $s = 0; $s < $np; $s++) {
        |  int $bi = -1;
        |  for (int $k = 0; $k < $na; $k++) {
        |    if ($taken[$k]) continue;
        |    boolean $better;
        |    if ($bi < 0) { $better = true; }
        |    else if ($ad[$k] == $ad[$bi]) { $better = $aid[$k] < $aid[$bi]; }
        |    else { $better = java.lang.Double.compare($ad[$k], $ad[$bi]) < 0; }
        |    if ($better) $bi = $k;
        |  }
        |  $taken[$bi] = true;
        |  $sel[$s] = $aid[$bi];
        |}
        |int $ng = $d.numElements();
        |int $best = -1;
        |double $bd = 0.0;
        |long $bid = 0L;
        |for (int $g = 0; $g < $ng; $g++) {
        |  if ($d.isNullAt($g)) continue;
        |  InternalRow $row = $d.getStruct($g, 4);
        |  long $grp = $row.getLong(0);
        |  boolean $in = false;
        |  for (int $t = 0; $t < $np; $t++) {
        |    if ($sel[$t] == $grp) { $in = true; break; }
        |  }
        |  if (!$in) continue;
        |  long $cid = $row.getLong(1);
        |  ArrayData $cv = $row.getArray(2);
        |  double $cn = $row.getDouble(3);
        |  int $m = java.lang.Math.min($a.numElements(), $cv.numElements());
        |  double $acc = 0.0;
        |  for (int $i = 0; $i < $m; $i++) {
        |    $acc += $a.getDouble($i) * $cv.getDouble($i);
        |  }
        |  double $dist = $b - 2.0 * $acc + $cn;
        |  boolean $b2;
        |  if ($best < 0) { $b2 = true; }
        |  else if ($dist == $bd) { $b2 = $cid < $bid; }
        |  else { $b2 = java.lang.Double.compare($dist, $bd) < 0; }
        |  if ($b2) { $best = $g; $bd = $dist; $bid = $cid; }
        |}
        |${ev.isNull} = $best < 0;
        |${ev.value} = $best;
      """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): KmArgminAnn =
    copy(first = newFirst, second = newSecond, third = newThird,
      fourth = newFourth)
}

object KmArgminAnn {

  /** 0-based index of the two-level argmin winner in `grouped`, NULL
    * when no probed group has a member.
    */
  def argminIdx(v: Column, nrm: Column, anchors: Column,
      grouped: Column, probe: Int): Column =
    column(KmArgminAnn(expressionOf(v), expressionOf(nrm),
      expressionOf(anchors), expressionOf(grouped), probe))
}
