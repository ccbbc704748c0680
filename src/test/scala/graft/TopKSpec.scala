package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.{TopK, TopKPerGroupExec}

/** The custom whole-operator plan: logical TopKPerGroup → partial +
  * final bounded-heap execs via the injected strategy.
  */
class TopKSpec extends SparkSpec {

  private def events = graft.streaming.StreamingStats
    .events(spark, sf("sf0.01"))
    .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
      col("event_id"), col("user_id"),
      round(col("value") * 100).cast("long").as("cents"))

  test("TopK.perGroup equals the declarative window-rank form") {
    val got = TopK.perGroup(events, Seq("event_type", "day"),
      Seq("cents" -> true, "event_id" -> false), k = 5)
      .collect().map(_.toSeq).toSet
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("cents").desc, col("event_id"))
    val wdf = events.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
    val want = wdf.collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == want)
    // honest baseline (pinned so SCALE.md's comparison stays true):
    // Spark 4 already k-bounds this shuffle via an inferred partial
    // WindowGroupLimit — but only after FULLY SORTING each input
    // partition, and it sorts again + runs Window after the exchange.
    // The custom operator's win is replacing those sorts with
    // O(n log k) heaps, not the shuffle volume.
    val ws = wdf.queryExecution.executedPlan.toString
    assert(ws.contains("WindowGroupLimit") && ws.contains("Sort")
      && ws.contains("Window"), s"baseline shape changed:\n$ws")
  }

  test("TopK plans partial+final heap execs and k-bounds the exchange") {
    val df = TopK.perGroup(events, Seq("event_type", "day"),
      Seq("cents" -> true, "event_id" -> false), k = 5)
    df.collect() // materialize so AQE finalizes and metrics fill
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // AQE wraps stages in leaf QueryStageExec nodes — flatten through
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(plan)
    val execs = nodes.collect { case e: TopKPerGroupExec => e }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected partial+final pair:\n$plan")
    // the final phase sits above the exchange, the partial below it —
    // so the shuffle moves only per-partition survivors
    val s = plan.toString
    val finalIdx = s.indexOf("TopKPerGroup")
    val exIdx = s.indexOf("Exchange", finalIdx)
    assert(finalIdx >= 0 && exIdx > finalIdx &&
      s.indexOf("TopKPerGroup", exIdx) > exIdx,
      s"expected final above Exchange above partial:\n$s")
    // no Window anywhere, and the ONLY Sort is the group-run sort of
    // the k-bounded candidates between the exchange and the final
    // phase (the O(k)-memory streaming merge); the full input stream
    // below the exchange is never sorted — that's the operator's win
    assert(!s.contains("Window"), s"rank must not plan a Window:\n$s")
    val sortIdx = s.indexOf("Sort ")
    assert(sortIdx > finalIdx && sortIdx < exIdx,
      s"expected the candidate sort between final and Exchange:\n$s")
    assert(s.indexOf("Sort ", exIdx) < 0,
      s"map side must not sort the stream:\n$s")
    // map-side k-bounding, measured: the shuffle carries the partial
    // survivors (<= inputPartitions * groups * k), never the stream
    val exchange = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.head
    val shuffled = exchange.metrics("shuffleRecordsWritten").value
    val groups = events.select(col("event_type"), col("day"))
      .distinct().count()
    val inputParts = events.rdd.getNumPartitions
    val total = events.count()
    assert(shuffled <= inputParts * groups * 5,
      s"shuffled $shuffled of $total rows")
    assert(shuffled < total, "map-side pass must shrink the shuffle")
  }

  test("RankFilterToTopK rewrites declarative rank filters to the custom plan") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("cents").desc, col("event_id"))
    def declarative() = events
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    // baseline results with the rule OFF
    val want = declarative().collect().map(_.toSeq).toSet
    TopK.enableRewrite(spark)
    try {
      val df = declarative()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerGroup") &&
        !optimized.contains("Window"),
        s"rewrite must replace the Window:\n$optimized")
      assert(df.collect().map(_.toSeq).toSet == want)
      // residual conjuncts survive as a Filter above the rewrite
      val mixed = events
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3 && col("user_id") =!= 0L)
      val mixedPlan = mixed.queryExecution.optimizedPlan.toString
      assert(mixedPlan.contains("TopKPerGroup") &&
        mixedPlan.contains("Filter"), s"residual filter lost:\n$mixedPlan")
      val wantMixed = want.filter(r =>
        r(5).asInstanceOf[Int] <= 3 && r(3).asInstanceOf[Long] != 0L)
      assert(mixed.collect().map(_.toSeq).toSet == wantMixed)
      // rank = 1 (the groupwise-max idiom) rewrites too
      val argmax = events
        .withColumn("rank", row_number().over(w)).filter(col("rank") === 1)
      assert(argmax.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"))
      assert(argmax.collect().map(_.toSeq).toSet ==
        want.filter(_(5).asInstanceOf[Int] == 1))
      // a rank bound on a COLUMN (not a literal) must NOT rewrite
      val dynamic = events
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= col("user_id"))
      assert(!dynamic.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"))
    } finally TopK.disableRewrite(spark)
  }

  test("partial flush bounds task memory without changing results") {
    // threshold 2 → the partial map flushes constantly on a
    // high-cardinality key (user_id): the memory bound the
    // RankFilterToTopK rewrite needs to be OOM-safe on arbitrary keys
    spark.conf.set("spark.graft.topk.partialFlushGroups", "2")
    try {
      val got = TopK.perGroup(events, Seq("user_id"),
        Seq("cents" -> true, "event_id" -> false), k = 3)
        .collect().map(_.toSeq).toSet
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("cents").desc, col("event_id"))
      val want = events.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3).collect().map(_.toSeq).toSet
      assert(got.nonEmpty && got == want)
      // tie-aware mode flushes safely too
      val gotTies = TopK.perGroupRank(events, Seq("user_id"),
        Seq("cents" -> true), k = 3).collect().map(_.toSeq).toSet
      val wantTies = events.withColumn("rank",
          rank().over(Window.partitionBy(col("user_id"))
            .orderBy(col("cents").desc)))
        .filter(col("rank") <= 3).collect().map(_.toSeq).toSet
      assert(gotTies.nonEmpty && gotTies == wantTies)
    } finally spark.conf.unset("spark.graft.topk.partialFlushGroups")
  }

  test("perGroupRank keeps all rows tied at the k-th rank") {
    import spark.implicits._
    val df = Seq(
      ("a", 10L, 1L), ("a", 10L, 2L), ("a", 5L, 3L), ("a", 5L, 4L),
      ("a", 1L, 5L), ("b", 7L, 6L), ("b", 7L, 7L), ("b", 7L, 8L),
      ("c", 2L, 9L)).toDF("g", "v", "id")
    val got = TopK.perGroupRank(df, Seq("g"), Seq("v" -> true), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    // a: both v=10 rows rank 1; v=5 rows rank 3 (gap) → excluded.
    // b: THREE rows tied at rank 1 — more than k, all kept.
    val want = Set(("a", 10L, 1L, 1), ("a", 10L, 2L, 1),
      ("b", 7L, 6L, 1), ("b", 7L, 7L, 1), ("b", 7L, 8L, 1),
      ("c", 2L, 9L, 1))
    assert(got == want)
    // and it agrees with the declarative rank() form on real data
    val gotEv = TopK.perGroupRank(events, Seq("event_type", "day"),
      Seq("cents" -> true), k = 5).collect().map(_.toSeq).toSet
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("cents").desc)
    val wantEv = events.withColumn("rank", rank().over(w))
      .filter(col("rank") <= 5).collect().map(_.toSeq).toSet
    assert(gotEv.nonEmpty && gotEv == wantEv)
  }

  test("RankFilterToTopK rewrites rank() filters tie-aware (q15 shape)") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").desc) // ties real: rank() is deterministic
    def declarative() = events
      .withColumn("rank", rank().over(w)).filter(col("rank") <= 4)
    val want = declarative().collect().map(_.toSeq).toSet
    TopK.enableRewrite(spark)
    try {
      val df = declarative()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerGroup") &&
        !optimized.contains("Window"),
        s"rank() rewrite must replace the Window:\n$optimized")
      assert(df.collect().map(_.toSeq).toSet == want)
      // rank() = 1 keeps ALL argmax ties (the analysis.sql:69-76 idiom)
      val argmax = events
        .withColumn("rank", rank().over(w)).filter(col("rank") === 1)
      val wantArgmax = want.filter(_(5).asInstanceOf[Int] == 1)
      assert(argmax.queryExecution.optimizedPlan.toString
        .contains("TopKPerGroup"))
      assert(argmax.collect().map(_.toSeq).toSet == wantArgmax)
      // dense_rank now rewrites too — in its own mode, never tie-aware
      val dense = events
        .withColumn("rank", dense_rank().over(w)).filter(col("rank") <= 2)
      assert(dense.queryExecution.optimizedPlan.toString
        .contains("DenseRankMode"))
    } finally TopK.disableRewrite(spark)
  }

  test("TopK ranks are 1..k per group under the total order") {
    val rows = TopK.perGroup(events, Seq("event_type", "day"),
      Seq("cents" -> true, "event_id" -> false), k = 3)
      .select(col("event_type"), col("day"), col("rank"), col("cents"))
      .collect()
    rows.groupBy(r => (r.getString(0), r.getString(1))).foreach {
      case (g, rs) =>
        val byRank = rs.sortBy(_.getAs[Int]("rank"))
        assert(byRank.map(_.getAs[Int]("rank")).toSeq ==
          (1 to byRank.length).toSeq, s"ranks at $g")
        // rank order must agree with the declared sort order
        val cents = byRank.map(_.getAs[Long]("cents")).toSeq
        assert(cents == cents.sorted(Ordering[Long].reverse), s"order at $g")
    }
  }
  test("perGroupDenseRank keeps the top-k DISTINCT values, no gaps") {
    import spark.implicits._
    val df = Seq(
      ("a", 10L, 1L), ("a", 10L, 2L), ("a", 5L, 3L), ("a", 5L, 4L),
      ("a", 1L, 5L), ("b", 7L, 6L), ("b", 7L, 7L), ("b", 7L, 8L),
      ("c", 2L, 9L)).toDF("g", "v", "id")
    val got = TopK.perGroupDenseRank(df, Seq("g"), Seq("v" -> true), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    // a: tiers v=10 (rank 1) and v=5 (rank 2) — BOTH 5s kept, unlike
    // rank(), whose gap excludes them; the 1 is tier 3 → dropped.
    // b: one tier, all three rows rank 1. c: one row.
    val want = Set(("a", 10L, 1L, 1), ("a", 10L, 2L, 1),
      ("a", 5L, 3L, 2), ("a", 5L, 4L, 2),
      ("b", 7L, 6L, 1), ("b", 7L, 7L, 1), ("b", 7L, 8L, 1),
      ("c", 2L, 9L, 1))
    assert(got == want)
    // agrees with the declarative dense_rank() form on real data
    val gotEv = TopK.perGroupDenseRank(events, Seq("event_type", "day"),
      Seq("cents" -> true), k = 3).collect().map(_.toSeq).toSet
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("cents").desc)
    val wantEv = events.withColumn("rank", dense_rank().over(w))
      .filter(col("rank") <= 3).collect().map(_.toSeq).toSet
    assert(gotEv.nonEmpty && gotEv == wantEv)
  }

  test("RankFilterToTopK rewrites dense_rank() filters to dense mode") {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").desc)
    def declarative() = events
      .withColumn("rank", dense_rank().over(w)).filter(col("rank") <= 2)
    val want = declarative().collect().map(_.toSeq).toSet
    TopK.enableRewrite(spark)
    try {
      val df = declarative()
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerGroup") &&
        !optimized.contains("Window"),
        s"dense_rank rewrite must replace the Window:\n$optimized")
      assert(df.collect().map(_.toSeq).toSet == want)
    } finally TopK.disableRewrite(spark)
  }

  test("cost gate declines the rewrite on a high group-cardinality estimate") {
    import org.apache.spark.sql.catalyst.dsl.expressions._
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, AttributeReference, CurrentRow, Literal, RowFrame, RowNumber,
      SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression,
      WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.expressions.{
      Descending, LessThanOrEqual}
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter, LeafNode, LogicalPlan, Statistics, Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.AttributeMap
    import org.apache.spark.sql.catalyst.plans.logical.ColumnStat
    import org.apache.spark.sql.types.LongType
    import graft.plans.RankFilterToTopK

    // a leaf that reports exactly the statistics we choose — the shape
    // CBO/ANALYZE produces on a real table
    case class StatsLeaf(output: Seq[AttributeReference], rows: Long,
        distinct: Map[AttributeReference, Long]) extends LeafNode {
      override def computeStats(): Statistics = Statistics(
        sizeInBytes = BigInt(rows) * 32,
        rowCount = Some(BigInt(rows)),
        attributeStats = AttributeMap(distinct.toSeq.map { case (a, d) =>
          (a: org.apache.spark.sql.catalyst.expressions.Attribute,
            ColumnStat(distinctCount = Some(BigInt(d))))
        }))
    }
    val g = AttributeReference("g", LongType)()
    val v = AttributeReference("v", LongType)()
    def plan(distinctGroups: Long): LogicalPlan = {
      val leaf = StatsLeaf(Seq(g, v), rows = distinctGroups * 10,
        Map(g -> distinctGroups))
      val spec = WindowSpecDefinition(Seq(g),
        Seq(SortOrder(v, Descending)),
        SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
      val rank = Alias(WindowExpression(RowNumber(), spec), "rank")()
      val win = LWindow(Seq(rank), Seq(g),
        Seq(SortOrder(v, Descending)), leaf)
      Filter(LessThanOrEqual(rank.toAttribute, Literal(10)), win)
    }
    spark.conf.set("spark.graft.topk.partialFlushGroups", "1000")
    try {
      // 1e9 estimated groups >> 8 * 1000: the pass-through partial
      // phase would do strictly more work than WindowGroupLimit — keep
      // the built-in plan
      val declined = RankFilterToTopK(plan(1000000000L))
      assert(declined.collectFirst {
        case t: graft.plans.TopKPerGroup => t }.isEmpty &&
        declined.collectFirst { case w: LWindow => w }.isDefined,
        s"high-cardinality estimate must decline:\n$declined")
      // comfortably under the gate: rewrite fires
      val accepted = RankFilterToTopK(plan(500L))
      assert(accepted.collectFirst {
        case t: graft.plans.TopKPerGroup => t }.isDefined,
        s"low-cardinality estimate must rewrite:\n$accepted")
    } finally {
      spark.conf.unset("spark.graft.topk.partialFlushGroups")
    }
  }

  test("cost gate is evidence-only: stats-free plans still rewrite") {
    // fixture-derived frames carry no column stats (CBO off, no
    // ANALYZE) — the gate must not regress the existing rewrites
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("cents").desc, col("event_id"))
    TopK.enableRewrite(spark)
    try {
      val df = events.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("TopKPerGroup"),
        s"no-stats plan must still rewrite:\n$optimized")
    } finally TopK.disableRewrite(spark)
  }
}
