package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Misra–Gries heavy-hitters sketch over a `bigint` key column — the
  * engine's first custom [[TypedImperativeAggregate]] (the sketch
  * class Spark itself uses for HLL++/percentile_approx, here for the
  * frequent-items problem those don't cover at bounded memory).
  *
  * State is at most `cap` (key → counter) pairs per partial aggregate.
  * The classic guarantees, which the spec pins against exact counts:
  *
  *  - **No false negatives above the threshold**: every key with true
  *    frequency > n/(cap+1) is present in the final sketch (n = rows
  *    aggregated). The decrement step removes cap+1 distinct keys'
  *    worth of count at a time, so a > n/(cap+1) key cannot be wiped.
  *  - **Bounded undercount**: each reported counter c satisfies
  *    `true − n/(cap+1) ≤ c ≤ true`. Counters are LOWER bounds.
  *
  * Merge (the distributed step) sums counters pairwise, then restores
  * the size bound by subtracting the (cap+1)-th largest counter from
  * every entry and dropping the non-positive ones — Agarwal et al.'s
  * mergeable-summaries rule, which preserves both guarantees with the
  * error bounds ADDING across merged partials (still ≤ n/(cap+1)
  * total because the decrement mass argument is global).
  *
  * The element SELECTION (and the exact counter values) depend on
  * partition boundaries and merge order, so a query built on this is
  * rows-only for the oracle gate BY NATURE (like the HLL twins); what
  * is partition-independent — and spec-pinned — is the guarantee
  * pair above.
  */
case class MisraGries(child: Expression, capExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[Long, Long]] {

  override def children: Seq[Expression] = Seq(child, capExpr)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a bigint key column")
    else if (capExpr.dataType != IntegerType || !capExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects a literal int capacity")
    else TypeCheckResult.TypeCheckSuccess
  }

  private lazy val cap: Int = {
    val c = capExpr.eval(null).asInstanceOf[Int]
    require(c >= 1, s"$prettyName capacity must be >= 1, got $c")
    c
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("count", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def prettyName: String = "graft_misra_gries"

  override def createAggregationBuffer(): mutable.HashMap[Long, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[Long, Long],
      input: InternalRow): mutable.HashMap[Long, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[Long]
      buf.get(k) match {
        case Some(c) => buf.update(k, c + 1)
        case None if buf.size < cap => buf.update(k, 1L)
        case None =>
          // decrement step: cap+1 distinct keys (the cap tracked ones
          // plus the arriving one) each give up one count
          val dead = buf.iterator.collect {
            case (key, c) if c == 1L => key }.toList
          buf.mapValuesInPlace((_, c) => c - 1)
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[Long, Long],
      other: mutable.HashMap[Long, Long]): mutable.HashMap[Long, Long] = {
    other.foreach { case (k, c) =>
      buf.update(k, buf.getOrElse(k, 0L) + c) }
    if (buf.size > cap) {
      // subtract the (cap+1)-th largest counter, drop non-positives
      val d = buf.valuesIterator.toArray.sortBy(-_).apply(cap)
      val dead = buf.iterator.collect {
        case (key, c) if c <= d => key }.toList
      buf.mapValuesInPlace((_, c) => c - d)
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[Long, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (k, c) => (-c, k) }
    new GenericArrayData(sorted.map { case (k, c) =>
      InternalRow(k, c) }.toArray[Any])
  }

  override def serialize(buf: mutable.HashMap[Long, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) => out.writeLong(k); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Long, Long] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[Long, Long]
    var i = 0
    while (i < n) { buf.update(in.readLong(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGries =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): MisraGries =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren(0), capExpr = newChildren(1))
}

object MisraGries {

  /** Heavy-hitters sketch aggregate: `array<struct<key, count>>`
    * sorted count-desc, key-asc.
    */
  def sketch(c: Column, cap: Int): Column =
    column(MisraGries(expressionOf(c), Literal(cap)).toAggregateExpression())
}
