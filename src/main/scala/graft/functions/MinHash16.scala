package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** The 16 MinHash values `min((a_i·h + b_i) mod P)` of a hash-set
  * column — bitwise identical to the 16 `min(...)` aggregates of the
  * declarative explode+groupBy signature (DedupSpec pins it), with the
  * (a, b) rows fixed by Dedup's published coefficients.
  *
  * Why an expression: the declarative signature explodes one row per
  * (doc, shingle) and shuffles that stream into a 16-aggregate
  * groupBy — per-document-local folds paying a full exchange, the
  * same anti-shape [[SimHash60]] removed (dd_minhash 0.98 s → 0.60 s,
  * dd_minhash_lsh 1.48 s → 0.68 s, and dd_clusters — built on the LSH
  * pairs — 2.86 s → 1.70 s at sf0.1; zero exchanges in the signature). Empty input returns an empty array — callers filter,
  * matching the groupBy form that emits no row for shingle-less docs.
  */
case class MinHash16(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<bigint>, got ${t.simpleString}")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash16"

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData].toLongArray()
    if (hs.isEmpty) return ArrayData.toArrayData(Array.emptyLongArray)
    val k = MinHash16.AsArr.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      // contract: inputs reduced mod P (WordShingleHashSet's output) —
      // a full 60-bit hash would overflow h*a past Long.MaxValue and
      // silently emit negative signatures
      if (h < 0 || h >= CrossHash.P)
        throw new IllegalArgumentException(
          s"$prettyName: input hash $h outside [0, P) — pass mod-P hashes" +
            " (e.g. graft_shingle_hashes), not full 60-bit values")
      var j = 0
      while (j < k) {
        val v = (h * MinHash16.AsArr(j) + MinHash16.BsArr(j)) % CrossHash.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    ArrayData.toArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHash16 =
    copy(child = newChild)
}

object MinHash16 {

  // the published MinHash coefficients — sourced from the single
  // CrossHash definition (immutable), copied once to primitive arrays
  // for the eval loop
  private[functions] val AsArr: Array[Long] = CrossHash.MinHashAs.toArray
  private[functions] val BsArr: Array[Long] = CrossHash.MinHashBs.toArray

  /** 16 MinHash values of a sorted-or-not hash-set column. */
  def mins(c: Column): Column = column(MinHash16(expressionOf(c)))
}
