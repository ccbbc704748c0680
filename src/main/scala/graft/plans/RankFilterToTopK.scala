package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, DenseRank, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, NamedExpression, Rank, RowNumber, SortOrder, SpecifiedWindowFrame, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.{CurrentRow, RowFrame, UnboundedPreceding}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** The `Rule[LogicalPlan]` rung of the custom-planning ladder: rewrite
  * the declarative top-k idiom
  *
  * {{{ df.withColumn("rank", row_number().over(w)).filter($"rank" <= k) }}}
  *
  * into the [[TopKPerGroup]] logical node, so EXISTING window-rank
  * queries get the bounded-heap physical plan (no sorts, no Window —
  * measured 2.2× over the WindowGroupLimit path at sf0.1) without any
  * API change. Registered via `TopK.enableRewrite(spark)`
  * (`experimental.extraOptimizations`, the public optimizer seam) or
  * `GraftExtensions`' `injectOptimizerRule`.
  *
  * Deliberately conservative — it fires ONLY on the exact shapes whose
  * semantics the operator reproduces:
  *  - a Window with EXACTLY ONE window expression: a `row_number()`
  *    over its default ROWS UNBOUNDED PRECEDING..CURRENT ROW frame, or
  *    a `rank()` over the same running frame (tie-aware mode:
  *    rows tied at the k-th rank are all kept — SQL rank semantics),
  *    each with a non-empty ORDER BY;
  *  - directly (or through one Project) under a Filter whose
  *    condition bounds that rank by an integer literal (`rank <= k`,
  *    `rank < k`, `rank = 1`, or flipped; other conjuncts are kept as
  *    a residual Filter);
  *  - an optimizer-inserted `WindowGroupLimit` below the Window (the
  *    built-in partial pruning this rewrite supersedes) is stripped.
  *
  * The rewrite preserves the rank ATTRIBUTE (same exprId), so
  * everything above the Filter — projections, sorts, more filters —
  * resolves unchanged. Rank ties: `row_number` over a non-total order
  * is nondeterministic in the window form too; the rewrite never
  * changes the determinism class, and engine-internal callers always
  * pass total orders (the CLAUDE.md rule).
  */
object RankFilterToTopK extends Rule[LogicalPlan] {

  /** window child minus any optimizer-inserted WindowGroupLimit. */
  private def stripGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case WindowGroupLimit(_, _, _, _, inner) => inner
    case other => other
  }

  /** Match a Window that computes exactly `row_number() AS rank`,
    * `rank() AS rank` (the reference's own view idiom,
    * analysis.sql:182) or `dense_rank() AS rank` — all over
    * AggregateWindowFunction's ROWS running frame. The last tuple
    * element is the [[TopKMode]].
    */
  private object RankWindow {
    def unapply(p: LogicalPlan): Option[
        (Alias, Seq[Expression], Seq[SortOrder], LogicalPlan, TopKMode)] =
      p match {
        case Window(Seq(a @ Alias(WindowExpression(fn,
              WindowSpecDefinition(part, order,
                SpecifiedWindowFrame(RowFrame, UnboundedPreceding,
                  CurrentRow))), _)), _, _, child, _)
            if order.nonEmpty =>
          // all three carry AggregateWindowFunction's ROWS running frame
          fn match {
            case RowNumber() =>
              Some((a, part, order, stripGroupLimit(child), RowNumberMode))
            case _: DenseRank =>
              Some((a, part, order, stripGroupLimit(child), DenseRankMode))
            case _: Rank =>
              Some((a, part, order, stripGroupLimit(child), RankMode))
            case _ => None
          }
        case _ => None
      }
  }

  /** Extract an integer rank bound on `rank` from one conjunct. */
  private def bound(rank: Attribute, c: Expression): Option[Int] = c match {
    case LessThanOrEqual(r: Attribute, IntegerLiteral(k))
      if r.semanticEquals(rank) => Some(k)
    case LessThan(r: Attribute, IntegerLiteral(k))
      if r.semanticEquals(rank) => Some(k - 1)
    case EqualTo(r: Attribute, IntegerLiteral(k))
      if r.semanticEquals(rank) && k == 1 => Some(1)
    case EqualTo(IntegerLiteral(k), r: Attribute)
      if r.semanticEquals(rank) && k == 1 => Some(1)
    case GreaterThanOrEqual(IntegerLiteral(k), r: Attribute)
      if r.semanticEquals(rank) => Some(k)
    case GreaterThan(IntegerLiteral(k), r: Attribute)
      if r.semanticEquals(rank) => Some(k - 1)
    case _ => None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Split `cond` into (first rank bound, remaining conjuncts). */
  private def extract(rank: Attribute, cond: Expression)
      : Option[(Int, Seq[Expression])] = {
    val cs = splitConjuncts(cond)
    cs.iterator.map(c => (bound(rank, c), c)).collectFirst {
      case (Some(k), c) => (k, cs.filterNot(_ eq c))
    }
  }

  private def rewrite(rank: Alias, part: Seq[Expression],
      order: Seq[SortOrder], inner: LogicalPlan, k: Int,
      mode: TopKMode): LogicalPlan =
    TopKPerGroup(part, order, k, rank.toAttribute, mode, inner)

  /** Cost sanity gate: decline the rewrite when available statistics
    * estimate MORE groups than [[CostGateFactor]] times what the
    * partial phase can hold — past that point the partial heaps flush
    * pass-through on every batch and the
    * WindowGroupLimit plan this rule strips does strictly less work,
    * so keeping the built-in plan is the right call. The estimate is
    * the product of the partition attributes' distinct counts
    * (capped by the row count), which exists only when column stats
    * do (CBO/ANALYZE); without evidence the rewrite proceeds as
    * before — the flush bound keeps it memory-safe regardless.
    */
  private def estimatedGroups(part: Seq[Expression],
      inner: LogicalPlan): Option[BigInt] = {
    if (part.isEmpty) return Some(BigInt(1))
    val stats = inner.stats
    val attrs = part.map {
      case a: Attribute => Some(a)
      case Alias(a: Attribute, _) => Some(a)
      case _ => None
    }
    if (attrs.contains(None)) return None // non-attribute key: no evidence
    val counts = attrs.flatten
      .map(a => stats.attributeStats.get(a).flatMap(_.distinctCount))
    if (counts.contains(None)) None
    else {
      val product = counts.flatten.product.max(BigInt(1))
      Some(stats.rowCount.fold(product)(product.min)) // groups <= rows
    }
  }

  private val CostGateFactor = 8

  private def withinCostGate(part: Seq[Expression],
      inner: LogicalPlan): Boolean = {
    estimatedGroups(part, inner)
      .forall(_ <= BigInt(TopK.partialFlushGroups(conf)) * CostGateFactor)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Filter directly over the Window
    case Filter(cond, RankWindow(rank, part, order, inner, tie))
        if extract(rank.toAttribute, cond).isDefined && k(rank, cond) > 0 &&
          withinCostGate(part, inner) =>
      val (kk, rest) = extract(rank.toAttribute, cond).get
      val topk = rewrite(rank, part, order, inner, kk, tie)
      rest.reduceOption(And).map(Filter(_, topk)).getOrElse(topk)
    // Filter over a Project over the Window (the withColumn shape)
    case Filter(cond,
        proj @ Project(_, RankWindow(rank, part, order, inner, tie)))
        if proj.projectList.exists(_.exprId == rank.exprId) &&
          extract(rank.toAttribute, cond).isDefined && k(rank, cond) > 0 &&
          withinCostGate(part, inner) =>
      val (kk, rest) = extract(rank.toAttribute, cond).get
      val topk = rewrite(rank, part, order, inner, kk, tie)
      val projected = proj.copy(child = topk)
      rest.reduceOption(And).map(Filter(_, projected)).getOrElse(projected)
  }

  private def k(rank: Alias, cond: Expression): Int =
    extract(rank.toAttribute, cond).map(_._1).getOrElse(0)
}
