package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.IntegerType

/** Rank semantics of [[TopKPerGroup]] — the three SQL window-rank
  * functions, each with its bounded buffer:
  *  - [[RowNumberMode]]: `row_number()` over a caller-supplied TOTAL
  *    order (include a tiebreak) — max-heap of exactly k rows;
  *  - [[RankMode]]: SQL `rank()` — ties share a rank with gaps, ALL
  *    rows tied at the k-th rank are kept;
  *  - [[DenseRankMode]]: SQL `dense_rank()` — rows from the top k
  *    DISTINCT order-key values, ranks 1..k with no gaps.
  */
sealed trait TopKMode extends Serializable
case object RowNumberMode extends TopKMode
case object RankMode extends TopKMode
case object DenseRankMode extends TopKMode

/** Whole-operator custom planning (the SURVEY §2 preference ladder's
  * rung (c)): top-k rows per group as two bounded-memory passes:
  *
  *   partial: per input partition, one k-buffer per group (no
  *            distribution requirement, runs map-side) → emits the
  *            per-partition survivors. Task memory is bounded TWICE:
  *            each buffer holds ≤ k rows (+ boundary ties in rank
  *            mode) by construction, and the buffer MAP is flushed to
  *            output whenever it exceeds
  *            `spark.graft.topk.partialFlushGroups` (default 65536)
  *            live groups — so a high-cardinality group key degrades
  *            to a pass-through instead of an OOM. Flushing is safe
  *            because the final phase recomputes ranks from scratch:
  *            a row is only ever dropped when ≥ k strictly-better
  *            rows from the SAME buffer instance are themselves kept,
  *            so the emitted superset always contains the true top-k.
  *   final:   requires ClusteredDistribution(g) (EnsureRequirements
  *            inserts the Exchange) AND group-sorted input
  *            (EnsureRequirements inserts a spillable SortExec over
  *            the k-bounded CANDIDATE set, not the stream) — then
  *            streams one contiguous group at a time through a single
  *            k-buffer, emitting rank 1..k per group. Memory is O(k)
  *            regardless of group cardinality.
  *
  * Honest baseline (plan-pinned in TopKSpec): Spark 4's inferred
  * partial WindowGroupLimit already k-bounds the declarative
  * `row_number() <= k` shuffle — but only by FULLY SORTING every
  * input partition first, then sorting again and running the Window
  * rank machinery after the exchange. This operator's win is CPU and
  * memory, not shuffle volume: O(n log k) heap pushes replace the
  * map-side sort of the full stream, no Window runs at all, and the
  * only sort left is over the already-k-bounded candidates.
  *
  * Rank semantics come from [[TopKMode]] (row_number / rank /
  * dense_rank — see the trait); `TopKSpec` pins each mode's equality
  * with its declarative window form, including under forced partial
  * flush. The rank()-keeps-ties behavior is the reference's own
  * groupwise-max idiom (analysis.sql:69-76, 172-183).
  *
  * Group-run detection (final phase) and the buffer map (partial) key
  * on UnsafeRow BYTE equality, like Spark's own hash aggregation —
  * engine callers group on string/date/integral keys. (Float group
  * keys would need a NormalizeFloatingNumbers pass; none of the
  * shipped callers has one.)
  */
case class TopKPerGroup(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    mode: TopKMode,
    child: LogicalPlan) extends UnaryNode {

  require(k >= 1, s"k must be >= 1, got $k") // k=0 would underflow heaps

  override def output: Seq[Attribute] = child.output :+ rankAttr

  // rankAttr is PRODUCED here, not consumed — without this override it
  // lands in `references` and CheckAnalysis reports it missing from
  // the child (the Generate.generatorOutput pattern)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet = org.apache.spark.sql.catalyst.expressions
    .AttributeSet(rankAttr :: Nil)

  override protected def withNewChildInternal(newChild: LogicalPlan)
      : TopKPerGroup = copy(child = newChild)
}

/** Planner strategy: logical [[TopKPerGroup]] → partial + final
  * [[TopKPerGroupExec]]. Injected per-session by [[TopK.setup]]
  * (idempotent, the `experimental.extraStrategies` route that needs
  * no session-construction hook) and by `GraftExtensions` for
  * sessions built with `spark.sql.extensions`.
  */
object TopKStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(group, order, k, rankAttr, mode, child) =>
      val partialExec = TopKPerGroupExec(group, order, k, rankAttr, mode,
        partial = true, planLater(child))
      TopKPerGroupExec(group, order, k, rankAttr, mode,
        partial = false, partialExec) :: Nil
    case _ => Nil
  }
}

/** One group's bounded candidate set. `insert` materializes (copies)
  * a row only when it is actually kept; both drains hand the buffer's
  * rows back exactly once.
  */
private[plans] sealed trait GroupTopKBuffer {
  def insert(row: InternalRow, materialize: InternalRow => UnsafeRow): Unit
  /** Partial phase: surviving rows, order irrelevant (final re-ranks). */
  def drainUnranked(): Iterator[UnsafeRow]
  /** Final phase: (row, rank) pairs, ranks 1..k per the semantics. */
  def drainRanked(): Iterator[(UnsafeRow, Int)]
}

/** `row_number` semantics: a max-heap on the caller's total order —
  * the head is the WORST kept row, so a better incoming row evicts it
  * in O(log k). Memory: exactly ≤ k rows.
  */
private[plans] final class RowNumberHeap(
    ord: Ordering[InternalRow], heapOrd: Ordering[UnsafeRow], k: Int)
    extends GroupTopKBuffer {
  private val heap = mutable.PriorityQueue.empty[UnsafeRow](heapOrd)
  override def insert(row: InternalRow,
      materialize: InternalRow => UnsafeRow): Unit = {
    if (heap.size < k) heap.enqueue(materialize(row))
    else if (ord.compare(row, heap.head) < 0) {
      heap.dequeue()
      heap.enqueue(materialize(row))
    }
  }
  override def drainUnranked(): Iterator[UnsafeRow] = {
    val rows: Seq[UnsafeRow] = heap.dequeueAll
    rows.iterator
  }
  override def drainRanked(): Iterator[(UnsafeRow, Int)] = {
    val n = heap.size
    // dequeueAll pops worst-first: element i has rank n - i
    val rows: Seq[UnsafeRow] = heap.dequeueAll
    rows.iterator.zipWithIndex.map { case (row, i) => (row, n - i) }
  }
}

/** SQL `rank()` semantics: a sorted multimap of order-key → tied rows.
  * A tail key-group is evicted as soon as ≥ k rows sort strictly
  * before it (its rank can never be ≤ k); rows tied AT the k-th rank
  * are all kept. Memory: ≤ k rows + the boundary tie group (the
  * irreducible cost of tie-retaining semantics).
  */
private[plans] final class RankTieBuffer(
    ord: Ordering[InternalRow], keyOrd: Ordering[UnsafeRow], k: Int)
    extends GroupTopKBuffer {
  private val groups =
    mutable.TreeMap.empty[UnsafeRow, mutable.ArrayBuffer[UnsafeRow]](keyOrd)
  private var total = 0
  override def insert(row: InternalRow,
      materialize: InternalRow => UnsafeRow): Unit = {
    // cheap reject without copying: strictly worse than the current
    // tail key while already holding ≥ k rows ⇒ rank > k, guaranteed
    if (total >= k && groups.nonEmpty &&
      ord.compare(row, groups.lastKey) > 0) return
    val r = materialize(row)
    groups.get(r) match {
      case Some(ties) => ties += r
      case None => groups.put(r, mutable.ArrayBuffer(r))
    }
    total += 1
    var pruning = true
    while (pruning && groups.nonEmpty) {
      val (lastKey, lastTies) = groups.last
      if (total - lastTies.size >= k) { // tail group's rank would be > k
        groups.remove(lastKey)
        total -= lastTies.size
      } else pruning = false
    }
  }
  override def drainUnranked(): Iterator[UnsafeRow] =
    groups.valuesIterator.flatMap(_.iterator)
  override def drainRanked(): Iterator[(UnsafeRow, Int)] = {
    var before = 0
    groups.iterator.flatMap { case (_, ties) =>
      val rank = before + 1
      before += ties.size
      ties.iterator.map(row => (row, rank))
    }
  }
}

/** SQL `dense_rank()` semantics: a sorted multimap of order-key →
  * tied rows, pruned to the k best DISTINCT keys. A new key evicts
  * the worst key group once k+1 distinct keys are held; a row whose
  * key is strictly worse than the k-th distinct key while k are held
  * is rejected without copying. Memory: k key groups × their tie
  * sizes (the irreducible cost of value-tier semantics).
  */
private[plans] final class DenseRankBuffer(
    ord: Ordering[InternalRow], keyOrd: Ordering[UnsafeRow], k: Int)
    extends GroupTopKBuffer {
  private val groups =
    mutable.TreeMap.empty[UnsafeRow, mutable.ArrayBuffer[UnsafeRow]](keyOrd)
  override def insert(row: InternalRow,
      materialize: InternalRow => UnsafeRow): Unit = {
    // cheap reject without copying: k distinct keys held and this key
    // sorts strictly after the worst ⇒ its dense rank would be > k
    if (groups.size >= k && ord.compare(row, groups.lastKey) > 0) return
    val r = materialize(row)
    groups.get(r) match {
      case Some(ties) => ties += r
      case None =>
        groups.put(r, mutable.ArrayBuffer(r))
        if (groups.size > k) groups.remove(groups.lastKey)
    }
  }
  override def drainUnranked(): Iterator[UnsafeRow] =
    groups.valuesIterator.flatMap(_.iterator)
  override def drainRanked(): Iterator[(UnsafeRow, Int)] =
    groups.iterator.zipWithIndex.flatMap { case ((_, ties), i) =>
      ties.iterator.map(row => (row, i + 1))
    }
}

/** The bounded-memory physical operator (both phases — `partial` flags
  * the map-side pass, whose output order is irrelevant because the
  * final pass re-ranks after the exchange).
  */
case class TopKPerGroupExec(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rankAttr: Attribute,
    mode: TopKMode,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rankAttr

  // rankAttr is a constructor expression in BOTH phases (the partial
  // phase just doesn't emit it) — keep it out of `references` or the
  // plan prints with a bogus missing-input marker
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions
    .AttributeSet = org.apache.spark.sql.catalyst.expressions
    .AttributeSet(rankAttr :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(group) :: Nil

  // final phase streams contiguous group runs — EnsureRequirements
  // inserts a SortExec (spillable) over the k-bounded candidates
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(group.map(SortOrder(_, Ascending)))

  // group runs stay contiguous and ascending in the output
  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else group.map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val sortOrders = order
    val limit = k
    val childOutput = child.output
    val isPartial = partial
    val outAttrs = output
    val m = mode
    val flushGroups = TopK.partialFlushGroups(conf)
    require(flushGroups >= 1, "partialFlushGroups must be >= 1")
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      // normalize input rows to UnsafeRow before copying into buffers
      val rowProj = UnsafeProjection.create(childOutput.map(_.dataType).toArray)
      // total order from the caller's SortOrders, codegen'd once per task
      val ord = GenerateOrdering.generate(sortOrders, childOutput)
      val keyOrd: Ordering[UnsafeRow] = ord.on(r => r: InternalRow)
      def newBuffer(): GroupTopKBuffer = m match {
        case RowNumberMode => new RowNumberHeap(ord, keyOrd, limit)
        case RankMode => new RankTieBuffer(ord, keyOrd, limit)
        case DenseRankMode => new DenseRankBuffer(ord, keyOrd, limit)
      }
      val materialize: InternalRow => UnsafeRow = r => rowProj(r).copy()

      if (isPartial) {
        val buffers = mutable.LinkedHashMap.empty[UnsafeRow, GroupTopKBuffer]
        val flushes = it.flatMap { row =>
          val key = keyProj(row) // transient — copied only on first sight
          val buf = buffers.get(key) match {
            case Some(b) => b
            case None =>
              val b = newBuffer()
              buffers.put(key.copy(), b)
              b
          }
          buf.insert(row, materialize)
          if (buffers.size >= flushGroups) {
            // the memory bound: hand every kept row downstream and
            // start over — the final phase re-ranks, so emitting a
            // superset costs shuffle bytes, never correctness
            val batch = buffers.valuesIterator.flatMap(_.drainUnranked())
              .toVector
            buffers.clear()
            batch.iterator
          } else Iterator.empty
        }
        flushes ++ buffers.valuesIterator.flatMap(_.drainUnranked())
      } else {
        val toUnsafe = UnsafeProjection.create(outAttrs.map(_.dataType).toArray)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        new Iterator[InternalRow] {
          private var pending: Iterator[InternalRow] = Iterator.empty
          private var lookRow: UnsafeRow = _ // next unconsumed row (copied)
          private var lookKey: UnsafeRow = _ // its group key (copied)
          private def pull(): Unit =
            if (it.hasNext) {
              val r = it.next()
              lookKey = keyProj(r).copy()
              lookRow = rowProj(r).copy()
            } else { lookRow = null; lookKey = null }
          pull()
          override def hasNext: Boolean = {
            while (!pending.hasNext && lookRow != null) {
              // one contiguous group run → one live buffer: O(k) memory
              val buf = newBuffer()
              val groupKey = lookKey
              while (lookRow != null && lookKey.equals(groupKey)) {
                val owned = lookRow // already a private copy
                buf.insert(owned, _ => owned)
                pull()
              }
              pending = buf.drainRanked().map { case (row, rank) =>
                rankRow.update(0, rank)
                toUnsafe(joined(row, rankRow))
              }
            }
            pending.hasNext
          }
          override def next(): InternalRow = {
            if (!hasNext) throw new NoSuchElementException("empty iterator")
            pending.next()
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan)
      : TopKPerGroupExec = copy(child = newChild)
}

/** Column-API entry point. */
object TopK {

  /** Live groups a partial pass buffers before it flushes
    * (`spark.graft.topk.partialFlushGroups`); [[RankFilterToTopK]]'s
    * cost gate reads the same bound.
    */
  private[plans] def partialFlushGroups(conf: SQLConf): Int =
    conf.getConfString("spark.graft.topk.partialFlushGroups", "65536").toInt

  /** Idempotently add [[TopKStrategy]] to the session (the public
    * `experimental.extraStrategies` seam — works on any session, no
    * extensions config needed).
    */
  def setup(spark: SparkSession): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(TopKStrategy))
      s.experimental.extraStrategies =
        TopKStrategy +: s.experimental.extraStrategies
  }

  /** Also enable the [[RankFilterToTopK]] optimizer rewrite, so
    * declarative `row_number() <= k` / `rank() <= k` filters plan as
    * TopKPerGroup without code changes. Idempotent; [[disableRewrite]]
    * undoes it.
    */
  def enableRewrite(spark: SparkSession): Unit = {
    setup(spark)
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraOptimizations.contains(RankFilterToTopK))
      s.experimental.extraOptimizations =
        RankFilterToTopK +: s.experimental.extraOptimizations
  }

  def disableRewrite(spark: SparkSession): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations.filterNot(_ == RankFilterToTopK)
  }

  /** Top-k rows per group as a DataFrame, `row_number` rank semantics.
    * `orderSpecs` are (columnName, descending) pairs and must form a
    * TOTAL order (include a tiebreak) — computed sort keys are
    * pre-materialized as named columns by the caller (which also keeps
    * them visible in the output, the engine-wide auditability
    * posture). Appends an integer `rank` column (1 = best).
    */
  def perGroup(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
      orderSpecs: Seq[(String, Boolean)], k: Int)
      : org.apache.spark.sql.DataFrame =
    build(df, groupCols, orderSpecs, k, RowNumberMode)

  /** Top-k rows per group with SQL `rank()` semantics: rows equal
    * under `orderSpecs` share a rank and ALL rows tied at the k-th
    * rank are kept (so groups may return more than k rows). `k = 1`
    * is the tie-keeping groupwise-max idiom (analysis.sql:69-76).
    */
  def perGroupRank(df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], orderSpecs: Seq[(String, Boolean)], k: Int)
      : org.apache.spark.sql.DataFrame =
    build(df, groupCols, orderSpecs, k, RankMode)

  /** Top-k rows per group with SQL `dense_rank()` semantics: every row
    * whose order-key value is among the group's k best DISTINCT
    * values, ranks 1..k with no gaps (value tiers — "the top k price
    * points and everything at them").
    */
  def perGroupDenseRank(df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], orderSpecs: Seq[(String, Boolean)], k: Int)
      : org.apache.spark.sql.DataFrame =
    build(df, groupCols, orderSpecs, k, DenseRankMode)

  private def build(df: org.apache.spark.sql.DataFrame,
      groupCols: Seq[String], orderSpecs: Seq[(String, Boolean)], k: Int,
      mode: TopKMode): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    setup(spark)
    val analyzed = df.queryExecution.analyzed
    val resolve = (n: String) => analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val orders = orderSpecs.map { case (n, desc) =>
      SortOrder(resolve(n),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    val rankAttr = AttributeReference("rank", IntegerType, nullable = false)()
    org.apache.spark.sql.GraftPlanApi.ofRows(spark,
      TopKPerGroup(groupCols.map(resolve), orders, k, rankAttr, mode,
        analyzed))
  }
}
