package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.Determinism.{dblSql, r6, r6Sql}
import graft.schema.Tables
import graft.streaming.StreamingStats

/** Relational/warehouse analytics the reference's SQLite layer never
  * needed but any production deployment of this engine does:
  * semi-structured extraction, multi-level rollups, slowly-changing
  * dimension history, and dataset profiling.
  */
object Analytics {

  // ------------------------------------------------------------------
  // ev_json — semi-structured property extraction + aggregation
  // ------------------------------------------------------------------

  /** Parse the `props` JSON payload (schema-on-read: `from_json` with
    * an explicit schema, the Spark-idiomatic path — malformed rows
    * become NULL, never a crash) and aggregate the extracted `k` by
    * event type and decile bucket.
    *
    * Scale shape: parse + bucket are map-side; one partial-agg'd
    * shuffle of (type, bucket) rows. At 100 TB the JSON parse is the
    * dominant CPU cost and it's codegen'd `JsonToStructs` per row — no
    * UDF, no second pass.
    */
  def evJson(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    StreamingStats.events(spark, sfDir)
      .select(col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .groupBy(col("event_type"),
        expr("CAST(k div 10 AS INTEGER)").as("k_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("k")).as("n_distinct_k"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .withColumn("avg_k",
        r6(col("sum_k").cast("double") / col("n_events")))
      .orderBy(col("event_type"), col("k_bucket"))
  }

  lazy val evJsonSql: String = s"""
WITH e AS (
  -- json_valid guard: from_json is NULL on malformed input while a
  -- bare json_extract ERRORS — the guard keeps the twins aligned on
  -- exactly the rows the operator exists to tolerate
  SELECT event_type,
    CASE WHEN json_valid(props)
      THEN CAST(json_extract(props, '$$.k') AS INTEGER) END AS k
  FROM events
)
SELECT event_type, CAST(k // 10 AS INTEGER) AS k_bucket,
  COUNT(*) AS n_events,
  COUNT(DISTINCT k) AS n_distinct_k,
  CAST(SUM(k) AS BIGINT) AS sum_k,
  MIN(k) AS min_k, MAX(k) AS max_k,
  ${r6Sql("(CAST(SUM(k) AS DOUBLE) / COUNT(*))")} AS avg_k
FROM e GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------------------
  // ev_cube — multi-level rollup (the dashboard subtotal query)
  // ------------------------------------------------------------------

  /** Event volume and exact cent value at three grouping levels in ONE
    * pass — `ROLLUP(event_type, day)`: detail rows, per-type
    * subtotals, grand total. Spark's rollup plans a single Expand +
    * hash aggregate (3 projections of each row, partial-agg combined)
    * instead of three scans; subtotal keys surface as `'ALL'` labels
    * (the fixture has no NULL keys, so the COALESCE is unambiguous).
    * Cents (`round(value*100)` in int64) keep the sums exact and
    * parallelism-stable at any volume — the [[StreamingStats]]
    * posture.
    */
  def evCube(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = StreamingStats.events(spark, sfDir)
      .select(col("event_type"), to_date(col("ts")).cast("string").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    ev.rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day"), lit("ALL")).as("day"),
        col("n_events"),
        r6(col("cents").cast("double") / 100.0).as("value_sum"))
      .orderBy(col("event_type"), col("day"))
  }

  lazy val evCubeSql: String = s"""
WITH e AS (
  SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
)
SELECT COALESCE(event_type, 'ALL') AS event_type,
  COALESCE(day, 'ALL') AS day,
  COUNT(*) AS n_events,
  ${r6Sql("(CAST(SUM(cents) AS DOUBLE) / 100.0)")} AS value_sum
FROM e GROUP BY ROLLUP (event_type, day)
ORDER BY 1, 2"""

  // ------------------------------------------------------------------
  // wh_scd2 — slowly-changing-dimension (type 2) history build
  // ------------------------------------------------------------------

  /** Rebuild a type-2 dimension from an order event log: each
    * customer's `o_orderstatus` over time collapses into versioned
    * validity intervals `[valid_from, valid_to)` with an `is_current`
    * flag — the standard warehouse history table.
    *
    * Shape: ONE shuffle on custkey serves everything — change
    * detection (lag), segment numbering (running sum), the
    * per-segment collapse (groupBy on the same key), and the
    * valid_to stitch (lead) all share the customer partitioning, so
    * Catalyst plans a single Exchange followed by sorts. Ties on
    * (date) break by order key — deterministic on both engines.
    */
  def whScd2(spark: SparkSession, sfDir: String): DataFrame =
    scd2From(scd2Orders(spark, sfDir))

  /** The SCD2 input shape: one (custkey, status, od, okey) row per
    * order event.
    */
  private def scd2Orders(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "orders")
      .select(col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").cast("timestamp").as("od"),
        col("o_orderkey").as("okey"))

  /** History build over any [[scd2Orders]]-shaped relation — shared by
    * the full rebuild and the incremental-apply twin's history side.
    */
  private def scd2From(orders: DataFrame): DataFrame = {
    val byCust = Window.partitionBy(col("custkey"))
      .orderBy(col("od"), col("okey"))
    val o = orders
      .withColumn("prev", lag(col("status"), 1).over(byCust))
      .withColumn("seg", sum(
        when(col("prev").isNull || col("prev") =!= col("status"), 1)
          .otherwise(0))
        .over(byCust.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    val segs = o.groupBy(col("custkey"), col("seg"))
      .agg(min(col("status")).as("status"),
        min(col("od")).as("valid_from_ts"),
        count(lit(1)).as("n_orders"))
    val bySeg = Window.partitionBy(col("custkey")).orderBy(col("seg"))
    segs
      .withColumn("next_from", lead(col("valid_from_ts"), 1).over(bySeg))
      .select(
        col("custkey"),
        col("seg").cast("long").as("version"),
        col("status"),
        col("valid_from_ts").cast("date").cast("string").as("valid_from"),
        col("next_from").cast("date").cast("string").as("valid_to"),
        col("next_from").isNull.as("is_current"),
        col("n_orders"))
      .orderBy(col("custkey"), col("version"))
  }

  /** ORDER BY-free history query — composed by both [[whScd2Sql]] and
    * [[whSnapshotSql]] (one copy, no textual surgery).
    */
  private val whScd2Body: String = """
WITH o AS (
  SELECT o_custkey AS custkey, o_orderstatus AS status,
    o_orderdate AS od, o_orderkey AS okey
  FROM orders
), lagged AS (
  SELECT *, LAG(status) OVER (PARTITION BY custkey ORDER BY od, okey)
    AS prev
  FROM o
), seg AS (
  SELECT *, SUM(CASE WHEN prev IS NULL OR prev <> status THEN 1 ELSE 0 END)
    OVER (PARTITION BY custkey ORDER BY od, okey ROWS UNBOUNDED PRECEDING)
    AS version
  FROM lagged
), g AS (
  SELECT custkey, version, MIN(status) AS status,
    MIN(od) AS valid_from_ts, COUNT(*) AS n_orders
  FROM seg GROUP BY custkey, version
)
SELECT custkey, CAST(version AS BIGINT) AS version, status,
  CAST(CAST(valid_from_ts AS DATE) AS VARCHAR) AS valid_from,
  CAST(CAST(LEAD(valid_from_ts) OVER (PARTITION BY custkey ORDER BY version)
    AS DATE) AS VARCHAR) AS valid_to,
  (LEAD(valid_from_ts) OVER (PARTITION BY custkey ORDER BY version) IS NULL)
    AS is_current,
  n_orders
FROM g"""

  lazy val whScd2Sql: String = whScd2Body + "\nORDER BY custkey, version"

  // ------------------------------------------------------------------
  // wh_snapshot — as-of dimension reconstruction from SCD2 history
  // ------------------------------------------------------------------

  /** The snapshot date (mid-fixture; parameterized in a deployment —
    * pinned here so the oracle is reproducible, the [[RefQueries]]
    * as-of-date convention).
    */
  val SnapshotDate = "1998-01-01"

  /** Point-in-time dimension state — the query SCD2 history exists to
    * answer: which interval was current for each customer on
    * [[SnapshotDate]]. Built ON the [[whScd2]] relation (one
    * definition of the history; ISO date strings compare
    * lexicographically so the interval test needs no reparse), the
    * half-open containment `valid_from ≤ D < valid_to` picks exactly
    * one row per customer existing by D. Same one-shuffle cost as the
    * history build; at rest the history table is partitionable by
    * valid_from range for snapshot pruning.
    */
  def whSnapshot(spark: SparkSession, sfDir: String): DataFrame =
    whScd2(spark, sfDir)
      .filter(col("valid_from") <= SnapshotDate &&
        (col("valid_to").isNull || col("valid_to") > SnapshotDate))
      .select(col("custkey"), col("version"), col("status"),
        col("valid_from"), col("is_current").as("still_current"))
      .orderBy(col("custkey"))

  lazy val whSnapshotSql: String = s"""
WITH scd AS (
  $whScd2Body
)
SELECT custkey, version, status, valid_from,
  is_current AS still_current
FROM scd
WHERE valid_from <= '$SnapshotDate'
  AND (valid_to IS NULL OR valid_to > '$SnapshotDate')
ORDER BY custkey"""

  // ------------------------------------------------------------------
  // wh_churn — snapshot-to-snapshot transition matrix
  // ------------------------------------------------------------------

  /** Churn window: state at [[ChurnFromDate]] vs [[ChurnToDate]]. */
  val ChurnFromDate = "1997-01-01"
  val ChurnToDate = "1998-01-01"

  /** Dimension-churn readout between two as-of snapshots of the SCD2
    * history: for every (status_from → status_to) transition, how many
    * customers moved — plus `NEW` rows for customers born in the
    * window (SCD2 never deletes, so the TO snapshot dominates). The
    * "what changed since last month" question the history table
    * exists to answer, reduced to a |statuses|² matrix.
    *
    * Scale: ONE history build serves both snapshots (cached — a
    * deployment reads the stored table twice with different
    * partition-pruned valid_from ranges); the join is per-customer on
    * the already-partitioned key, and the output is status² rows.
    */
  def whChurn(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = whScd2(spark, sfDir)
      .select(col("custkey"), col("status"), col("valid_from"),
        col("valid_to")).cache()
    def snap(d: String) = hist
      .filter(col("valid_from") <= d &&
        (col("valid_to").isNull || col("valid_to") > d))
      .select(col("custkey"), col("status"))
    snap(ChurnToDate).withColumnRenamed("status", "status_to")
      .join(snap(ChurnFromDate).withColumnRenamed("status", "status_from"),
        Seq("custkey"), "left")
      .groupBy(coalesce(col("status_from"), lit("NEW")).as("status_from"),
        col("status_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("status_from"), col("status_to"))
  }

  lazy val whChurnSql: String = s"""
WITH scd AS (
  $whScd2Body
), s1 AS (
  SELECT custkey, status FROM scd
  WHERE valid_from <= '$ChurnFromDate'
    AND (valid_to IS NULL OR valid_to > '$ChurnFromDate')
), s2 AS (
  SELECT custkey, status FROM scd
  WHERE valid_from <= '$ChurnToDate'
    AND (valid_to IS NULL OR valid_to > '$ChurnToDate')
)
SELECT COALESCE(s1.status, 'NEW') AS status_from,
  s2.status AS status_to,
  COUNT(*) AS n_customers
FROM s2 LEFT JOIN s1 USING (custkey)
GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------------------
  // wh_scd2_apply — incremental SCD2 merge of a new order batch
  // ------------------------------------------------------------------

  /** Where the incremental run splits history from the new batch —
    * mid-fixture so both sides are non-trivial.
    */
  val ApplyCutoff = "1999-01-01"

  /** Incremental SCD2 apply — the nightly-load form of [[whScd2]]:
    * the pre-cutoff history is taken as already built, and only the
    * new batch re-segments; the batch's first segment either extends
    * the customer's open interval (same status → version and
    * valid_from survive, order count accumulates) or closes it and
    * opens the next version. New customers start at version 1.
    *
    * The contract IS the oracle: apply(history(<T), batch(≥T)) must
    * equal rebuild(all) row-for-row — this query shares [[whScd2Sql]],
    * so the driver hash-verifies incremental == full every round.
    *
    * Scale: this is the shape that makes SCD2 viable at 100 TB — the
    * rebuild's window scans ALL history every load, while apply
    * windows only the batch (days, not years, of orders) plus an
    * equi-join against the history's open slice; closed intervals
    * stream through untouched (and would stay partition-pruned at
    * rest). The final valid_to stitch is a lead over (custkey,
    * version) — the same single partitioning the batch windows
    * already use.
    */
  def whScd2Apply(spark: SparkSession, sfDir: String): DataFrame = {
    val all = scd2Orders(spark, sfDir)
    val cut = lit(ApplyCutoff).cast("timestamp")
    // hist feeds three branches (open slice twice, closed rows) and
    // bsegs two (segments + first-segment slice) — cache both rather
    // than re-run the window chains per consumer (measured: 6 order
    // scans → 2); in a deployment hist is a READ of the stored
    // history table, not a rebuild, so the cache models that read
    val hist = scd2From(all.filter(col("od") < cut)).cache()
    val byCust = Window.partitionBy(col("custkey"))
      .orderBy(col("od"), col("okey"))
    val bsegs = all.filter(col("od") >= cut)
      .withColumn("prev", lag(col("status"), 1).over(byCust))
      .withColumn("bseg", sum(
        when(col("prev").isNull || col("prev") =!= col("status"), 1)
          .otherwise(0))
        .over(byCust.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col("custkey"), col("bseg"))
      .agg(min(col("status")).as("status"),
        min(col("od")).as("valid_from_ts"),
        count(lit(1)).as("n_orders"))
      .cache()
    val open = hist.filter(col("is_current"))
      .select(col("custkey"), col("version").as("open_ver"),
        col("status").as("open_status"), col("valid_from").as("open_from"),
        col("n_orders").as("open_n"))
    val firstSeg = bsegs.filter(col("bseg") === 1)
      .select(col("custkey"), col("status").as("first_status"),
        col("n_orders").as("first_n"))
    // merged ⇔ the batch's first segment continues the open interval's
    // status (null-safe false for customers missing either side)
    val merged = coalesce(col("first_status") === col("open_status"),
      lit(false))
    val openRows = open.join(firstSeg, Seq("custkey"), "left")
      .select(col("custkey"), col("open_ver").as("version"),
        col("open_status").as("status"), col("open_from").as("valid_from"),
        (col("open_n") + when(merged, col("first_n")).otherwise(0L))
          .as("n_orders"))
    val closedRows = hist.filter(!col("is_current"))
      .select(col("custkey"), col("version"), col("status"),
        col("valid_from"), col("n_orders"))
    val batchRows = bsegs
      .join(open.select(col("custkey"), col("open_ver"), col("open_status")),
        Seq("custkey"), "left")
      .join(firstSeg.select(col("custkey"), col("first_status")),
        Seq("custkey"), "left")
      .filter(!(merged && col("bseg") === 1)) // absorbed by the open row
      .select(col("custkey"),
        (coalesce(col("open_ver"), lit(0L)) + col("bseg") -
          when(merged, 1L).otherwise(0L)).cast("long").as("version"),
        col("status"),
        col("valid_from_ts").cast("date").cast("string").as("valid_from"),
        col("n_orders"))
    val bySeg = Window.partitionBy(col("custkey")).orderBy(col("version"))
    closedRows.unionByName(openRows).unionByName(batchRows)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(bySeg))
      .select(col("custkey"), col("version"), col("status"),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_orders"))
      .orderBy(col("custkey"), col("version"))
  }

  /** Incremental == rebuild is the contract; ONE oracle definition. */
  lazy val whScd2ApplySql: String = whScd2Sql

  // ------------------------------------------------------------------
  // prof_summary — dataset profiling (nulls + exact distincts)
  // ------------------------------------------------------------------

  /** Profiled lineitem columns — ONE list shared by the Spark plan and
    * the oracle SQL so the two can never drift.
    */
  val ProfiledCols: Seq[String] = Seq(
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate")

  /** Per-column profile of the biggest fact table: row count, null
    * count, EXACT distinct count — the first query run against any new
    * dataset drop.
    *
    * Shape: one branch per column, unioned. Each branch's parquet scan
    * prunes to EXACTLY its one column (total bytes read across all
    * branches == one full-width scan), its single-distinct aggregate
    * plans as a two-level groupBy with NO Expand, and its shuffle rows
    * are 1-column keys. The all-distincts-in-one-aggregate
    * alternative is a 12-projection Expand whose shuffle carries
    * N×rows 12-column keys — measured 3.3 s vs 1.x s at sf0.1, and
    * at 100 TB the Expand's shuffle is ×N corpus width while the
    * union's is the corpus re-keyed once per column at one column
    * width. The scale relief remains `approx_count_distinct` (one
    * pass, no distinct shuffle, ±2%) — not oracle-matchable, so the
    * exact form ships.
    */
  def profSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
    require(ProfiledCols.forall(li.columns.contains),
      s"lineitem is missing one of $ProfiledCols")
    ProfiledCols.map { c =>
      li.select(col(c))
        .agg(count(lit(1)).as("n_rows"), count(col(c)).as("n_notnull"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("column_name"), col("n_rows"),
          (col("n_rows") - col("n_notnull")).as("n_nulls"),
          col("n_distinct"))
    }.reduce(_.unionByName(_))
      .orderBy(col("column_name"))
  }

  lazy val profSummarySql: String = ProfiledCols.map(c =>
    s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
  COUNT(*) - COUNT($c) AS n_nulls,
  COUNT(DISTINCT $c) AS n_distinct FROM lineitem""")
    .mkString("\nUNION ALL\n") + "\nORDER BY column_name"

  /** The 100 TB relief for [[profSummary]]: `approx_count_distinct`
    * is a mergeable HyperLogLog++ sketch (rsd 0.02; deterministic —
    * the hash is fixed), so each column's profile is a map-side
    * partial agg plus a tiny merge: no per-column DISTINCT shuffle,
    * ever. rsd 0.02 is the measured knee: 0.01's 16K-register buffers
    * fall off the aggregate fast path (12.2 s vs 2.1 s at sf0.1 — see
    * SCALE.md).
    *
    * Round 19: one BRANCH per column (the [[profSummary]] union
    * shape) instead of one 23-buffer aggregate — the all-in-one agg's
    * UnsafeRow buffer is ~7.5k long slots (11 × 683-word HLL
    * registers) and its generated update/merge path measured 3.3 s at
    * sf0.1 vs 1.3 s for the EXACT union twin; per-branch the buffer
    * is one column's 683 words. Each branch's scan prunes to exactly
    * its one column, so total bytes read across branches equal the
    * old single scan's (columnar format), and there is still no
    * distinct shuffle and no Expand. Per-column values are IDENTICAL
    * (same sketch on the same input). Not oracle-hashable (DuckDB's
    * HLL differs), so `AnalyticsSpec` pins it instead: n_rows/n_nulls
    * EXACTLY equal the exact twin's, each approx distinct within 2%,
    * one pruned scan per column, and no Expand.
    */
  def profSummaryApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
    require(ProfiledCols.forall(li.columns.contains),
      s"lineitem is missing one of $ProfiledCols")
    ProfiledCols.map { c =>
      li.select(col(c))
        .agg(count(lit(1)).as("n_rows"), count(col(c)).as("n_notnull"),
          approx_count_distinct(col(c), 0.02).as("ad"))
        .select(lit(c).as("column_name"), col("n_rows"),
          (col("n_rows") - col("n_notnull")).as("n_nulls"),
          col("ad").as("n_distinct_approx"))
    }.reduce(_.unionByName(_))
      .orderBy(col("column_name"))
  }

  // ------------------------------------------------------------------
  // prof_corr — exact-moment correlation matrix over the fact table
  // ------------------------------------------------------------------

  /** Numeric columns correlated pairwise. All four are 2-decimal
    * valued, so ×100 + round recovers exact integer cents/centi-units
    * — the [[StreamingStats]] cents posture applied to statistics.
    */
  val CorrCols: Seq[String] =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** The (i < j) pair enumeration — ONE copy; the Spark plan's column
    * names and the oracle's must line up pair-for-pair.
    */
  val CorrPairs: Seq[(String, String)] = for {
    i <- CorrCols.indices; j <- CorrCols.indices if i < j
  } yield (CorrCols(i), CorrCols(j))

  private val M38 = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Pairwise Pearson correlation of the fact table's numeric columns
    * in ONE scan: every sum, square-sum and cross-sum accumulates as
    * exact decimal(38,0) over integer centi-units (cast BEFORE
    * multiplying — the ev_anomaly overflow lesson), so the 6
    * correlations are bitwise parallelism-stable; floats appear only
    * in the final division. Plain sums — no Expand, no second pass;
    * partial aggregation reduces each partition to one moment row.
    * (Spark's `corr()` aggregate is a running double accumulation —
    * merge-order-dependent, unusable under a hash gate; this is the
    * q12 exact-moment posture generalized to a matrix.)
    */
  def profCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
    val cents = CorrCols.map(c =>
      round(col(c) * 100).cast("long").cast(M38).as(s"v_$c"))
    val pairs = CorrPairs
    val moments =
      count(lit(1)).cast(M38).as("n") +:
        (CorrCols.map(c => sum(col(s"v_$c")).as(s"s_$c")) ++
          CorrCols.map(c => sum(col(s"v_$c") * col(s"v_$c")).as(s"ss_$c")) ++
          pairs.map { case (a, b) =>
            sum(col(s"v_$a") * col(s"v_$b")).as(s"sp_${a}_$b") })
    def corrOf(a: String, b: String) = {
      val num = col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b")
      val d1 = col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a")
      val d2 = col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")
      when(d1 > 0 && d2 > 0, r6(num.cast("double") /
        sqrt(d1.cast("double") * d2.cast("double"))))
    }
    li.select(cents: _*)
      .agg(moments.head, moments.tail: _*)
      .select(pairs.map { case (a, b) => corrOf(a, b).as(s"c_${a}_$b") }: _*)
      .select(expr(s"stack(${pairs.size}, " +
        pairs.map { case (a, b) => s"'$a~$b', c_${a}_$b" }.mkString(", ") +
        ") AS (pair, corr)"))
      .orderBy(col("pair"))
  }

  // ------------------------------------------------------------------
  // prof_hist — equi-width value histograms (the profile's third leg)
  // ------------------------------------------------------------------

  /** Centi-unit bin width per profiled column (5 units, $10k, 1¢,
    * 1¢) — fixed constants so the bins are reproducible across runs
    * and engines. ONE definition drives the Spark plan and the
    * oracle.
    */
  val HistCols: Seq[(String, Long)] = Seq(
    "l_quantity" -> 500L, "l_extendedprice" -> 1000000L,
    "l_discount" -> 1L, "l_tax" -> 1L)

  /** Value-distribution histograms for the numeric profile: each
    * column's exact centi-units bin by a fixed width, all four
    * columns in ONE scan — the `stack` generator unpivots each row
    * into its 4 (column, bin) votes map-side, and the single shuffle
    * carries (column, bin) keys (hundreds of rows after partial agg,
    * at any corpus size). Integer-only until the bin label.
    */
  def profHist(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
    val cents = HistCols.map { case (c, _) =>
      round(col(c) * 100).cast("long").as(s"v_$c") }
    // both engines TRUNCATE toward zero (Spark `div` ≡ DuckDB `//` —
    // measured: -7 // 2 = -3 in DuckDB, C-style, NOT floor), so plain
    // div is the parity-correct bin rule for any sign
    val stacked = HistCols.map { case (c, w) =>
      s"'$c', (v_$c div $w)" }.mkString(", ")
    li.select(cents: _*)
      .select(expr(
        s"stack(${HistCols.size}, $stacked) AS (column_name, bin)"))
      .groupBy(col("column_name"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", r6(col("bin").cast("double") *
        expr("CASE " + HistCols.map { case (c, w) =>
          s"WHEN column_name = '$c' THEN ${w}L" }.mkString(" ") +
          " END") / 100.0))
      .select(col("column_name"), col("bin"), col("bin_lo"), col("n"))
      .orderBy(col("column_name"), col("bin"))
  }

  lazy val profHistSql: String = HistCols.map { case (c, w) =>
    s"""SELECT '$c' AS column_name,
  CAST(round($c * 100) AS BIGINT) // $w AS bin,
  ${graft.functions.Determinism.r6Sql(
      s"(CAST(CAST(round($c * 100) AS BIGINT) // $w * $w AS DOUBLE) / 100.0)")}
    AS bin_lo,
  COUNT(*) AS n
FROM lineitem GROUP BY 1, 2, 3""" }
    .mkString("\nUNION ALL\n") + "\nORDER BY column_name, bin"

  lazy val profCorrSql: String = {
    val pairs = CorrPairs
    def v(c: String) = s"CAST(CAST(round($c * 100) AS BIGINT) AS HUGEINT)"
    val momentCols =
      "CAST(COUNT(*) AS HUGEINT) AS n" +:
        (CorrCols.map(c => s"SUM(${v(c)}) AS s_$c") ++
          CorrCols.map(c => s"SUM(${v(c)} * ${v(c)}) AS ss_$c") ++
          pairs.map { case (a, b) => s"SUM(${v(a)} * ${v(b)}) AS sp_${a}_$b" })
    val arms = pairs.map { case (a, b) =>
      val num = s"(n * sp_${a}_$b - s_$a * s_$b)"
      val d1 = s"(n * ss_$a - s_$a * s_$a)"
      val d2 = s"(n * ss_$b - s_$b * s_$b)"
      s"""SELECT '$a~$b' AS pair,
  CASE WHEN $d1 > 0 AND $d2 > 0 THEN
    ${graft.functions.Determinism.r6Sql(
        s"(${dblSql(num)} / sqrt(${dblSql(d1)} * ${dblSql(d2)}))")}
  END AS corr FROM m"""
    }
    s"""WITH m AS (
  SELECT ${momentCols.mkString(",\n    ")}
  FROM lineitem
)
${arms.mkString("\nUNION ALL\n")}
ORDER BY pair"""
  }

  // ------------------------------------------------------------------
  // prof_topk — frequent-values profile (top-k values per column)
  // ------------------------------------------------------------------

  /** Columns profiled for frequent values — int/string only: a double's
    * text rendering differs between engines, so float columns stay out
    * of the string-typed `value` channel.
    */
  val TopValCols: Seq[String] =
    Seq("l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey")

  val TopValK = 5

  /** Most frequent values per column — the "what's actually in this
    * column" half of profiling ([[profSummary]] is the "how many"
    * half). Each branch prunes its scan to one column and partial-aggs
    * to (value, count); the per-column top-k then runs on the CUSTOM
    * [[graft.plans.TopKPerGroup]] operator over the aggregated counts
    * — for a high-cardinality column that input is one row per
    * distinct value, and the heap pass replaces the per-column sort a
    * window rank would do (the second production consumer of the
    * custom plan, after ev_topk). Ties break on the value string —
    * deterministic on both engines; fixture columns are null-free (the
    * null-ordering convention difference stays out of play).
    */
  def profTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
    require(TopValCols.forall(li.columns.contains),
      s"lineitem is missing one of $TopValCols")
    val counts = TopValCols.map { c =>
      li.select(col(c).cast("string").as("value"))
        .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
        .select(lit(c).as("column_name"), col("value"), col("cnt"))
    }.reduce(_.unionByName(_))
    graft.plans.TopK.perGroup(counts, Seq("column_name"),
        Seq("cnt" -> true, "value" -> false), TopValK)
      .select(col("column_name"), col("rank"), col("value"), col("cnt"))
      .orderBy(col("column_name"), col("rank"))
  }

  lazy val profTopkSql: String = {
    val branches = TopValCols.map(c =>
      s"""SELECT '$c' AS column_name, CAST($c AS VARCHAR) AS value,
  COUNT(*) AS cnt FROM lineitem GROUP BY 2""").mkString("\nUNION ALL\n")
    s"""WITH counts AS (
$branches
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY column_name ORDER BY cnt DESC, value) AS rank
  FROM counts
)
SELECT column_name, CAST(rank AS INTEGER) AS rank, value, cnt
FROM r WHERE rank <= $TopValK ORDER BY column_name, rank"""
  }

  // ------------------------------------------------------------------
  // wh_dq — referential-integrity / reconciliation audit
  // ------------------------------------------------------------------

  /** The data-quality audit a warehouse runs after every load: row
    * counts, key-uniqueness, and referential integrity between the
    * fact (lineitem), its parent (orders), and the dimension
    * (customer) — one audit row of exact integers.
    *
    * Shape: each check is one scan + partial-agg'd count (the
    * anti-joins shuffle on the join key and reduce map-side); the
    * 1-row results cross-join at the end — no driver-side counts, the
    * whole audit is one job. At 100 TB each check is the cheapest
    * possible full-table pass and they parallelize as independent
    * stages.
    */
  def whDq(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"))
    val c = Tables.read(spark, sfDir, "customer")
      .select(col("c_custkey"))
    val nOrders = o.agg(count(lit(1)).as("n_orders"),
      countDistinct(col("o_orderkey")).as("n_distinct_orderkeys"))
    val nLi = li.agg(count(lit(1)).as("n_lineitems"))
    val childless = o.join(li, col("o_orderkey") === col("l_orderkey"),
      "left_anti").agg(count(lit(1)).as("n_childless_orders"))
    val orphans = li.join(o, col("l_orderkey") === col("o_orderkey"),
      "left_anti").agg(count(lit(1)).as("n_orphan_lineitems"))
    val unknownCust = o.join(c, col("o_custkey") === col("c_custkey"),
      "left_anti").agg(count(lit(1)).as("n_orders_unknown_customer"))
    val maxLines = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"))
      .agg(max(col("cnt")).as("max_lines_per_order"))
    nOrders.crossJoin(nLi).crossJoin(childless).crossJoin(orphans)
      .crossJoin(unknownCust).crossJoin(maxLines)
  }

  // ------------------------------------------------------------------
  // prof_drift — PSI dataset drift between time halves
  // ------------------------------------------------------------------

  /** Value bins and PSI smoothing: cents fall into [[DriftBins]]
    * equal-width buckets; Laplace +1 on every (period, bin) count so
    * empty bins never divide by zero — the standard PSI recipe.
    */
  val DriftBins = 10
  val DriftBinWidth = 5000L

  /** Population-stability-index drift monitor: per event type, does
    * the `value` distribution shift between the first and second half
    * of the observed time range? The post-load check a training-data
    * pipeline runs before trusting a new ingest batch.
    *
    * Determinism posture: every count is an integer (Laplace +1
    * smoothed over a COMPLETE type × bin × period scaffold, so empty
    * bins exist on both engines); each bin's PSI term
    * `(pa−pb)·ln(pa/pb)` is one fixed-arity float expression (no
    * accumulation); the per-type total folds the terms IN BIN ORDER
    * via `aggregate(array_sort(...))` — the [[graft.functions
    * .CrossHash]] left-to-right rule — so the float sum is bitwise
    * identical on both engines. The array HOF runs on a
    * types × bins post-aggregate table, never per event (the
    * CLAUDE.md hot-loop rule).
    *
    * Scale shape: one partial-agg'd shuffle of (type, period, bin)
    * rows (≤ types·2·bins after combine), a 2-row bounds aggregate
    * broadcast-joined; everything after the count aggregation is
    * bounded by types × bins.
    */
  def profDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StreamingStats.events(spark, sfDir)
      .select(col("event_type"),
        unix_date(to_date(col("ts"))).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val bounds = e.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    // `div`, not `/`: Column./ on integers is DOUBLE division in Spark
    val binned = e.crossJoin(broadcast(bounds))
      .select(col("event_type"),
        when(col("day") - col("mn") < expr("(mx - mn + 1) div 2"), "a")
          .otherwise("b").as("period"),
        least(greatest(expr(s"cents div $DriftBinWidth"), lit(0L)),
          lit(DriftBins - 1L)).cast("int").as("bin"))
    val counts = binned.groupBy(col("event_type"), col("period"), col("bin"))
      .agg(count(lit(1)).as("c"))
    // complete scaffold: every (type, period, bin) exists, count 0
    val scaffold = binned.select(col("event_type")).distinct()
      .crossJoin(spark.range(DriftBins).select(col("id").cast("int").as("bin")))
      .crossJoin(spark.range(2).select(
        when(col("id") === 0, "a").otherwise("b").as("period")))
    val full = scaffold.join(counts, Seq("event_type", "period", "bin"), "left")
      .select(col("event_type"), col("period"), col("bin"),
        (coalesce(col("c"), lit(0L)) + 1).as("c")) // Laplace +1
    val totals = full.groupBy(col("event_type"), col("period"))
      .agg(sum(col("c")).as("n"))
    val probs = full.join(totals, Seq("event_type", "period"))
      .select(col("event_type"), col("period"), col("bin"),
        col("c"), (col("c").cast("double") / col("n")).as("p"))
    val a = probs.filter(col("period") === "a")
      .select(col("event_type"), col("bin"), col("c").as("c_a"),
        col("p").as("p_a"))
    val b = probs.filter(col("period") === "b")
      .select(col("event_type"), col("bin"), col("c").as("c_b"),
        col("p").as("p_b"))
    val terms = a.join(b, Seq("event_type", "bin"))
      .select(col("event_type"), col("bin"), col("c_a"), col("c_b"),
        ((col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")))
          .as("term"))
    terms.groupBy(col("event_type"))
      .agg(sum(col("c_a")).as("n_a_smoothed"),
        sum(col("c_b")).as("n_b_smoothed"),
        aggregate(array_sort(collect_list(struct(col("bin"), col("term")))),
          lit(0.0), (acc, x) => acc + x.getField("term")).as("psi_raw"))
      .select(col("event_type"), col("n_a_smoothed"), col("n_b_smoothed"),
        graft.functions.Determinism.r6(col("psi_raw")).as("psi"))
      .orderBy(col("event_type"))
  }

  lazy val profDriftSql: String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH e AS (
  SELECT event_type,
    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS day,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), bounds AS (
  SELECT MIN(day) AS mn, MAX(day) AS mx FROM e
), binned AS (
  SELECT event_type,
    CASE WHEN day - mn < (mx - mn + 1) // 2 THEN 'a' ELSE 'b' END AS period,
    CAST(least(greatest(cents // $DriftBinWidth, 0), ${DriftBins - 1})
      AS INTEGER) AS bin
  FROM e CROSS JOIN bounds
), counts AS (
  SELECT event_type, period, bin, COUNT(*) AS c
  FROM binned GROUP BY 1, 2, 3
), scaffold AS (
  SELECT t.event_type, p.period, CAST(b.range AS INTEGER) AS bin
  FROM (SELECT DISTINCT event_type FROM binned) t
  CROSS JOIN range($DriftBins) b
  CROSS JOIN (SELECT 'a' AS period UNION ALL SELECT 'b') p
), full_counts AS (
  SELECT s.event_type, s.period, s.bin,
    COALESCE(c.c, 0) + 1 AS c
  FROM scaffold s LEFT JOIN counts c
    ON c.event_type = s.event_type AND c.period = s.period
      AND c.bin = s.bin
), totals AS (
  SELECT event_type, period, CAST(SUM(c) AS BIGINT) AS n
  FROM full_counts GROUP BY 1, 2
), probs AS (
  SELECT f.event_type, f.period, f.bin, f.c,
    CAST(f.c AS DOUBLE) / t.n AS p
  FROM full_counts f JOIN totals t
    ON t.event_type = f.event_type AND t.period = f.period
), terms AS (
  SELECT a.event_type, a.bin, a.c AS c_a, b.c AS c_b,
    (a.p - b.p) * ln(a.p / b.p) AS term
  FROM probs a JOIN probs b
    ON b.event_type = a.event_type AND b.bin = a.bin AND b.period = 'b'
  WHERE a.period = 'a'
)
SELECT event_type,
  CAST(SUM(c_a) AS BIGINT) AS n_a_smoothed,
  CAST(SUM(c_b) AS BIGINT) AS n_b_smoothed,
  ${r6Sql("""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list(term ORDER BY bin)), (acc, x) -> acc + x)""")} AS psi
FROM terms GROUP BY event_type ORDER BY event_type"""
  }

  // ------------------------------------------------------------------
  // ev_abtest — hash-split two-sample comparison (Welch t statistic)
  // ------------------------------------------------------------------

  /** Hash-split A/B comparison of event value per event_type: users
    * land deterministically in cohort A or B via the salted md5 split
    * (the `cp_split` assignment pattern — reproducible, versionable),
    * and each type gets a Welch t statistic for the value difference —
    * the pipeline primitive behind "did the experiment move the
    * metric".
    *
    * Exactness: ONE aggregate computes both cohorts' moments as
    * conditional sums over decimal(38,0) cents (the `prof_corr` q12
    * posture — order-independent, hash-gate-stable); the variance
    * numerator `n·ss − s²` stays exact decimal (it exceeds 2^53 even
    * at gate SF) and converts to double through the correctly-rounded
    * path on both engines. Scale: map-side split + one partial-agg'd
    * shuffle of (type) moment rows; nothing downstream scales with
    * input.
    */
  def evAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StreamingStats.events(spark, sfDir)
      .select(col("event_type"),
        (graft.functions.CrossHash.md5Long(
          concat(lit("ab-v1:"), col("user_id").cast("string"))) % 2)
          .as("cohort"),
        round(col("value") * 100).cast("long").cast(M38).as("v"))
    def arm(c: Int, e2: org.apache.spark.sql.Column) =
      sum(when(col("cohort") === c, e2).otherwise(lit(0).cast(M38)))
    val m = e.groupBy(col("event_type")).agg(
      count(when(col("cohort") === 0, 1)).as("n_a"),
      count(when(col("cohort") === 1, 1)).as("n_b"),
      arm(0, col("v")).as("s_a"), arm(1, col("v")).as("s_b"),
      arm(0, col("v") * col("v")).as("ss_a"),
      arm(1, col("v") * col("v")).as("ss_b"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n) / 100.0
    // sample variance from exact moments: (n·ss − s²) / (n·(n−1))
    def va(n: String, s: String, ss: String) =
      (col(n).cast(M38) * col(ss) - col(s) * col(s)).cast("double") /
        (col(n).cast("double") * (col(n) - 1).cast("double"))
    val t = (mean("s_a", "n_a") - mean("s_b", "n_b")) /
      (sqrt(va("n_a", "s_a", "ss_a") / col("n_a") +
        va("n_b", "s_b", "ss_b") / col("n_b")) / 100.0)
    m.select(col("event_type"), col("n_a"), col("n_b"),
        r6(mean("s_a", "n_a")).as("mean_a"),
        r6(mean("s_b", "n_b")).as("mean_b"),
        when(col("n_a") > 1 && col("n_b") > 1, r6(t)).as("t_stat"))
      .orderBy(col("event_type"))
  }

  lazy val evAbtestSql: String = {
    val h = graft.functions.CrossHash
      .md5LongSql("('ab-v1:' || CAST(user_id AS VARCHAR))")
    def arm(c: Int, e: String) =
      s"SUM(CASE WHEN cohort = $c THEN $e ELSE CAST(0 AS HUGEINT) END)"
    def mean(s: String, n: String) = s"(${dblSql(s)} / $n / 100.0)"
    def va(n: String, s: String, ss: String) =
      s"(${dblSql(s"(CAST($n AS HUGEINT) * $ss - $s * $s)")} / " +
        s"(CAST($n AS DOUBLE) * ($n - 1)))"
    val t = s"((${mean("s_a", "n_a")} - ${mean("s_b", "n_b")}) / " +
      s"(sqrt(${va("n_a", "s_a", "ss_a")} / n_a + " +
      s"${va("n_b", "s_b", "ss_b")} / n_b) / 100.0))"
    s"""
WITH e AS (
  SELECT event_type, ($h % 2) AS cohort,
    CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS v
  FROM events
), m AS (
  SELECT event_type,
    COUNT(CASE WHEN cohort = 0 THEN 1 END) AS n_a,
    COUNT(CASE WHEN cohort = 1 THEN 1 END) AS n_b,
    ${arm(0, "v")} AS s_a, ${arm(1, "v")} AS s_b,
    ${arm(0, "v * v")} AS ss_a, ${arm(1, "v * v")} AS ss_b
  FROM e GROUP BY event_type
)
SELECT event_type, n_a, n_b,
  ${graft.functions.Determinism.r6Sql(mean("s_a", "n_a"))} AS mean_a,
  ${graft.functions.Determinism.r6Sql(mean("s_b", "n_b"))} AS mean_b,
  CASE WHEN n_a > 1 AND n_b > 1 THEN
    ${graft.functions.Determinism.r6Sql(t)} END AS t_stat
FROM m ORDER BY event_type"""
  }

  // ------------------------------------------------------------------
  // ev_seasonality — weekday-uniformity chi-square per event type
  // ------------------------------------------------------------------

  /** Weekday seasonality readout per event_type: the 7 day-of-week
    * counts (Monday=0, the T5 convention), the peak day, and the
    * chi-square statistic against the uniform null — the quick answer
    * to "is this event type day-of-week shaped" before trusting any
    * daily aggregate as stationary.
    *
    * Exactness: with e = n/7, `χ² = Σ(o−e)²/e` algebraically reduces
    * to `(7·Σo² − n²)/n` — the numerator is an exact BIGINT of exact
    * counts, so the ONLY float is one final division through [[r6]]
    * (no per-bin float folds to order-pin). Scale: one partial-agg'd
    * shuffle of (type, dow) rows, then a types-sized reduce.
    */
  def evSeasonality(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StreamingStats.events(spark, sfDir)
      .select(col("event_type"), weekday(col("ts")).as("dow"))
    val counts = e.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("c"))
    // peak day as ONE integer key: count·8 + (7−dow) — max takes the
    // highest count, ties the SMALLEST dow, identically on both
    // engines, with no struct/arg_max ordering semantics to trust
    val byType = counts.groupBy(col("event_type")).agg(
      sum(col("c")).as("n"),
      sum(col("c") * col("c")).as("ssq"),
      max(col("c") * 8 + (lit(7) - col("dow"))).as("pk"))
    byType.select(col("event_type"), col("n"),
        (lit(7) - col("pk") % 8).cast("int").as("peak_dow"),
        // `div`, not `/`: Column./ on integers is DOUBLE division
        expr("pk div 8").cast("long").as("peak_count"),
        r6((lit(7) * col("ssq") - col("n") * col("n")).cast("double") /
          col("n")).as("chi2"))
      .orderBy(col("event_type"))
  }

  lazy val evSeasonalitySql: String = s"""
WITH e AS (
  SELECT event_type, CAST(isodow(ts) - 1 AS INTEGER) AS dow FROM events
), counts AS (
  SELECT event_type, dow, COUNT(*) AS c FROM e GROUP BY 1, 2
), t AS (
  SELECT event_type,
    CAST(SUM(c) AS BIGINT) AS n,
    CAST(SUM(c * c) AS BIGINT) AS ssq,
    MAX(c * 8 + (7 - dow)) AS pk
  FROM counts GROUP BY event_type
)
SELECT event_type, n,
  CAST(7 - (pk % 8) AS INTEGER) AS peak_dow,
  CAST(pk // 8 AS BIGINT) AS peak_count,
  ${graft.functions.Determinism.r6Sql(
    "(CAST(7 * ssq - n * n AS DOUBLE) / n)")} AS chi2
FROM t ORDER BY event_type"""

  /** Micro-nat quantum for [[profMi]]'s PMI cells (the `ta_ngram_lm` /
    * `ta_colloc` integer-log posture).
    */
  val MiScale = 1000000L

  /** Mutual-information decomposition between two categorical columns
    * (documents.lang × source) — the profiling question "does source
    * predict language?" that drives mixture design and leakage checks
    * in a training-data pipeline. Emits the full cell table: joint and
    * marginal counts (exact BIGINT), pointwise mutual information in
    * integer micro-nats, and each cell's exact-integer contribution
    * `n_xy · pmi_micro` — so MI itself is the reader's exact SUM over
    * an already-verified column, and every float in the output went
    * through one vocab-sized `ln` (never per row).
    *
    * Scale shape: ONE partial-agg'd shuffle of (x, y) cells; marginals
    * reduce the cell table (≤ |X|·|Y| rows); both marginals and the
    * total broadcast back. The corpus is scanned once.
    */
  def profMi(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.read(spark, sfDir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_xy"))
    val nx = cells.groupBy(col("lang")).agg(sum(col("n_xy")).as("n_x"))
    val ny = cells.groupBy(col("source")).agg(sum(col("n_xy")).as("n_y"))
    val n = cells.agg(sum(col("n_xy")).as("n"))
    cells
      .join(broadcast(nx), Seq("lang"))
      .join(broadcast(ny), Seq("source"))
      .crossJoin(broadcast(n))
      .withColumn("pmi_micro",
        round(log(col("n_xy").cast("double") * col("n") /
          (col("n_x").cast("double") * col("n_y"))) * MiScale)
          .cast("long"))
      .select(col("lang"), col("source"), col("n_xy"), col("n_x"),
        col("n_y"), col("pmi_micro"),
        (col("n_xy") * col("pmi_micro")).as("mi_contrib_micro"))
      .orderBy(col("lang"), col("source"))
  }

  lazy val profMiSql: String = s"""
WITH cells AS (
  SELECT lang, source, COUNT(*) AS n_xy FROM documents GROUP BY 1, 2
), nx AS (
  SELECT lang, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1
), ny AS (
  SELECT source, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1
), n AS (
  SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cells
)
SELECT c.lang, c.source, c.n_xy, nx.n_x, ny.n_y,
  CAST(round(ln(CAST(c.n_xy AS DOUBLE) * n.n /
    (CAST(nx.n_x AS DOUBLE) * ny.n_y)) * $MiScale) AS BIGINT)
    AS pmi_micro,
  c.n_xy * CAST(round(ln(CAST(c.n_xy AS DOUBLE) * n.n /
    (CAST(nx.n_x AS DOUBLE) * ny.n_y)) * $MiScale) AS BIGINT)
    AS mi_contrib_micro
FROM cells c
JOIN nx USING (lang) JOIN ny USING (source) CROSS JOIN n
ORDER BY c.lang, c.source"""

  /** The functional-dependency / candidate-key audit surface: for each
    * declared (table, determinant, dependent) pair, exact distinct
    * counts decide whether det → dep holds (`n_pairs == n_det`) and
    * whether det is a key (`n_det == n_rows`) — the discovery pass a
    * warehouse runs before trusting joins or MERGE keys.
    */
  val FdPairs: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_nationkey", "c_mktsegment"))

  /** FD audit over [[FdPairs]]. Each pair is one aggregate whose
    * shuffle carries distinct values (partial-agg'd), never rows; the
    * declared pair list bounds the number of scans, and at rest the
    * scans prune to exactly the two audited columns (`ReadSchema`
    * shows 2 columns of 6). Violations are exact:
    * `n_pairs - n_det` = the number of extra dependent values beyond
    * one-per-determinant. All-integer output — hash-exact by
    * construction.
    */
  def profFd(spark: SparkSession, sfDir: String): DataFrame = {
    val audits = FdPairs.map { case (table, det, dep) =>
      Tables.read(spark, sfDir, table).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col(det)).as("n_det"),
        countDistinct(col(det), col(dep)).as("n_pairs"))
        .select(lit(table).as("tab"), lit(det).as("det"),
          lit(dep).as("dep"), col("n_rows"), col("n_det"), col("n_pairs"),
          (col("n_pairs") - col("n_det")).as("violations"),
          when(col("n_pairs") === col("n_det"), 1).otherwise(0)
            .as("fd_holds"),
          when(col("n_det") === col("n_rows"), 1).otherwise(0)
            .as("det_is_key"))
    }
    audits.reduce(_ unionByName _).orderBy(col("tab"), col("det"),
      col("dep"))
  }

  lazy val profFdSql: String = FdPairs.map { case (table, det, dep) =>
    s"""SELECT '$table' AS tab, '$det' AS det, '$dep' AS dep,
  COUNT(*) AS n_rows,
  COUNT(DISTINCT $det) AS n_det,
  COUNT(DISTINCT ($det, $dep)) AS n_pairs,
  COUNT(DISTINCT ($det, $dep)) - COUNT(DISTINCT $det) AS violations,
  CAST(CASE WHEN COUNT(DISTINCT ($det, $dep)) = COUNT(DISTINCT $det)
    THEN 1 ELSE 0 END AS INTEGER) AS fd_holds,
  CAST(CASE WHEN COUNT(DISTINCT $det) = COUNT(*)
    THEN 1 ELSE 0 END AS INTEGER) AS det_is_key
FROM $table"""
  }.mkString("", "\nUNION ALL\n", "\nORDER BY tab, det, dep")

  lazy val whDqSql: String = """
SELECT
  (SELECT COUNT(*) FROM orders) AS n_orders,
  (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS n_distinct_orderkeys,
  (SELECT COUNT(*) FROM lineitem) AS n_lineitems,
  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey))
    AS n_childless_orders,
  (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    AS n_orphan_lineitems,
  (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    AS n_orders_unknown_customer,
  (SELECT MAX(cnt) FROM
    (SELECT COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey))
    AS max_lines_per_order"""

  // ------------------------------------------------------------------
  // prof_moments — exact-moment skewness / excess kurtosis
  // ------------------------------------------------------------------

  /** Columns for the shape profile — the [[CorrCols]] numeric set. */
  val MomentCols: Seq[String] = CorrCols

  /** Distribution-shape profile (skewness + excess kurtosis) per
    * numeric column in ONE scan: S1..S4 power sums accumulate as exact
    * decimal(38,0) over integer centi-units (cast-before-multiply, the
    * [[profCorr]] posture), so the moments are parallelism-stable at
    * any partition count; each sum then converts ONCE to a
    * correctly-rounded double and the skew/kurt formulas run in float
    * with the identical operation order on both engines. Spark's own
    * `skewness()`/`kurtosis()` are running double accumulations —
    * merge-order-dependent, unusable under a hash gate.
    *
    * Bound: |cents| ≤ 1e7 (fixture prices) ⇒ S4 ≤ 1e28·rows — inside
    * decimal(38,0) to ~1e9 rows per column; past that, drop to
    * per-column dec(38) d⁴ sums over mean-shifted units (smaller
    * magnitudes), same shape.
    */
  def profMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
    val cents = MomentCols.map(c =>
      round(col(c) * 100).cast("long").cast(M38).as(s"v_$c"))
    val sums = count(lit(1)).cast(M38).as("n") +:
      MomentCols.flatMap { c =>
        val v = col(s"v_$c")
        Seq(sum(v).as(s"s1_$c"), sum(v * v).as(s"s2_$c"),
          sum(v * v * v).as(s"s3_$c"), sum(v * v * v * v).as(s"s4_$c"))
      }
    // all-double from here; the oracle twin mirrors this expression
    // tree node-for-node (same literals, same association) so the two
    // engines run the identical IEEE op sequence
    def shape(c: String) = {
      val n = col("n").cast("double")
      val r1 = col(s"s1_$c").cast("double") / n
      val r2 = col(s"s2_$c").cast("double") / n
      val r3 = col(s"s3_$c").cast("double") / n
      val r4 = col(s"s4_$c").cast("double") / n
      val m2 = r2 - r1 * r1
      val m3 = r3 - lit(3.0) * r1 * r2 + lit(2.0) * r1 * r1 * r1
      val m4 = r4 - lit(4.0) * r1 * r3 + lit(6.0) * r1 * r1 * r2 -
        lit(3.0) * r1 * r1 * r1 * r1
      (r6(r1 / lit(100.0)).as(s"mean_$c"),
        when(m2 > 0, r6(m3 / (m2 * sqrt(m2)))).as(s"skew_$c"),
        when(m2 > 0, r6(m4 / (m2 * m2) - lit(3.0))).as(s"kurt_$c"))
    }
    val shaped = MomentCols.map(shape)
    li.select(cents: _*)
      .agg(sums.head, sums.tail: _*)
      .select(col("n").cast("long").as("n_rows") +:
        shaped.flatMap(t => Seq(t._1, t._2, t._3)): _*)
      .select(expr(s"stack(${MomentCols.size}, " +
        MomentCols.map(c => s"'$c', n_rows, mean_$c, skew_$c, kurt_$c")
          .mkString(", ") +
        ") AS (column_name, n_rows, mean, skewness, kurtosis_excess)"))
      .orderBy(col("column_name"))
  }

  lazy val profMomentsSql: String = {
    def v(c: String) = s"CAST(CAST(round($c * 100) AS BIGINT) AS HUGEINT)"
    val momentCols = "CAST(COUNT(*) AS HUGEINT) AS n" +:
      MomentCols.flatMap { c =>
        Seq(s"SUM(${v(c)}) AS s1_$c", s"SUM(${v(c)} * ${v(c)}) AS s2_$c",
          s"SUM(${v(c)} * ${v(c)} * ${v(c)}) AS s3_$c",
          s"SUM(${v(c)} * ${v(c)} * ${v(c)} * ${v(c)}) AS s4_$c")
      }
    val arms = MomentCols.map { c =>
      val n = dblSql("n")
      val r1 = s"(${dblSql(s"s1_$c")} / $n)"
      val r2 = s"(${dblSql(s"s2_$c")} / $n)"
      val r3 = s"(${dblSql(s"s3_$c")} / $n)"
      val r4 = s"(${dblSql(s"s4_$c")} / $n)"
      val m2 = s"($r2 - $r1 * $r1)"
      val m3 = s"($r3 - 3.0 * $r1 * $r2 + 2.0 * $r1 * $r1 * $r1)"
      val m4 = s"($r4 - 4.0 * $r1 * $r3 + 6.0 * $r1 * $r1 * $r2 - " +
        s"3.0 * $r1 * $r1 * $r1 * $r1)"
      s"""SELECT '$c' AS column_name, CAST(n AS BIGINT) AS n_rows,
  ${r6Sql(s"($r1 / 100.0)")} AS mean,
  CASE WHEN $m2 > 0 THEN ${r6Sql(s"($m3 / ($m2 * sqrt($m2)))")}
    END AS skewness,
  CASE WHEN $m2 > 0 THEN ${r6Sql(s"($m4 / ($m2 * $m2) - 3.0)")}
    END AS kurtosis_excess
  FROM m"""
    }
    s"""WITH m AS (
  SELECT ${momentCols.mkString(",\n    ")}
  FROM lineitem
)
${arms.mkString("\nUNION ALL\n")}
ORDER BY column_name"""
  }

  // ------------------------------------------------------------------
  // prof_col_entropy — categorical-column entropy profile
  // ------------------------------------------------------------------

  /** Categorical columns profiled for entropy — the "is this column
    * informative or near-constant" screen.
    */
  val EntropyCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_returnflag"), ("lineitem", "l_linestatus"),
    ("orders", "o_orderstatus"), ("orders", "o_orderpriority"),
    ("events", "event_type"), ("documents", "lang"),
    ("documents", "source"))

  /** Shannon entropy per declared categorical column — near-zero flags
    * a useless (near-constant) column, near ln(n_values) a uniform
    * one. The [[graft.operators.TextAnalysis.taEntropy]] integer
    * posture at column grain: `c·ln c` evaluates once per DISTINCT
    * value, quantized to micro-nats, so the reduction is an exact
    * BIGINT sum and the final `H = ln(n) − clnc/1e6/n` runs the
    * identical float op sequence on both engines.
    *
    * Scale: per column one pruned scan + a distinct-values shuffle
    * (partial-agg'd); the entropy fold reduces the value relation.
    */
  def profColEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val scale = graft.operators.TextAnalysis.LmScale
    EntropyCols.map { case (tab, c) =>
      val g = Tables.read(spark, sfDir, tab)
        .select(col(c).cast("string").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
      val ent = log(col("n").cast("double")) -
        col("clnc_micro").cast("double") / lit(scale.toDouble) / col("n")
      g.agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("n_values"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")) *
          scale).cast("long")).as("clnc_micro"))
        .select(lit(tab).as("tab"), lit(c).as("column_name"), col("n"),
          col("n_values"), col("clnc_micro"), r6(ent).as("entropy"))
    }.reduce(_.unionByName(_)).orderBy(col("tab"), col("column_name"))
  }

  lazy val profColEntropySql: String = {
    val scale = graft.operators.TextAnalysis.LmScale
    val ent =
      s"(ln(CAST(n AS DOUBLE)) - CAST(clnc_micro AS DOUBLE) / $scale.0 / n)"
    EntropyCols.map { case (tab, c) =>
      s"""SELECT '$tab' AS tab, '$c' AS column_name, n, n_values,
  clnc_micro, ${r6Sql(ent)} AS entropy
FROM (
  SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS n_values,
    CAST(SUM(CAST(round(c * ln(CAST(c AS DOUBLE)) * $scale) AS BIGINT))
      AS BIGINT) AS clnc_micro
  FROM (SELECT CAST($c AS VARCHAR) AS v, COUNT(*) AS c
        FROM $tab GROUP BY 1)
)"""
    }.mkString("\nUNION ALL\n") + "\nORDER BY tab, column_name"
  }

  // ------------------------------------------------------------------
  // prof_benford — first-digit-law conformance audit
  // ------------------------------------------------------------------

  /** Audited (table, column) pairs: organically-generated magnitudes
    * where first-digit drift signals synthetic or truncated data.
    */
  val BenfordCols: Seq[(String, String)] = Seq(
    ("lineitem", "l_extendedprice"), ("orders", "o_totalprice"),
    ("events", "value"))

  /** Benford expected proportions log10(1 + 1/d), d = 1..9 — computed
    * ONCE here and embedded as shortest-repr double literals in the
    * oracle SQL, so both engines consume the identical 64-bit
    * constants (no cross-libm log10 at query time).
    */
  val BenfordP: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1 + 1.0 / d))

  /** First-significant-digit distribution per audited column vs
    * Benford's law — the classic synthetic-data / truncation tripwire
    * a corpus audit runs over value-bearing columns. The digit is
    * extracted from integer cents (exact on both engines; a ×100
    * decimal shift never changes the leading digit for values ≥ 0.005,
    * the declared domain); each (column, digit) cell carries exact
    * counts plus its chi-square contribution — floats enter only in
    * that per-cell statistic, from exact integers and the embedded
    * [[BenfordP]] constants.
    *
    * Scale: per column one partial-agg'd shuffle of ≤9 digit rows; the
    * 9-row scaffold join and the 1-row total are broadcasts. Map-only
    * against the scan otherwise.
    */
  def profBenford(spark: SparkSession, sfDir: String): DataFrame = {
    val digits = spark.range(1L, 10L)
      .select(col("id").cast("int").as("digit"))
    val expectedP = BenfordP.zipWithIndex.foldLeft(lit(Double.NaN)) {
      case (acc, (p, i)) => when(col("digit") === (i + 1), p).otherwise(acc)
    }
    // per-column total as a window over the 9-row scaffold join — a
    // separate aggregate branch would scan the table twice
    val wAll = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    BenfordCols.map { case (tab, c) =>
      val counts = Tables.read(spark, sfDir, tab)
        .select(round(col(c) * 100).cast("long").as("cents"))
        .filter(col("cents") > 0)
        .select(substring(col("cents").cast("string"), 1, 1)
          .cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
      digits.join(counts, Seq("digit"), "left")
        .withColumn("n", sum(coalesce(col("cnt"), lit(0L))).over(wAll)
          .cast("long"))
        .select(lit(tab).as("tab"), lit(c).as("column_name"), col("digit"),
          coalesce(col("cnt"), lit(0L)).as("n_d"), col("n"),
          expectedP.as("p"))
    }.reduce(_.unionByName(_))
      .select(col("tab"), col("column_name"), col("digit"), col("n_d"),
        col("n"),
        when(col("n") > 0, r6(
          (col("n_d").cast("double") - col("n").cast("double") * col("p")) *
            (col("n_d").cast("double") - col("n").cast("double") * col("p")) /
            (col("n").cast("double") * col("p")))).as("chi2_contrib"))
      .orderBy(col("tab"), col("column_name"), col("digit"))
  }

  // ------------------------------------------------------------------
  // prof_outliers — exact-quartile Tukey-fence audit
  // ------------------------------------------------------------------

  /** Columns audited for outliers — value-bearing doubles, quantized
    * to integer cents for exact rank arithmetic.
    */
  val OutlierCols: Seq[(String, String)] = BenfordCols

  /** Tukey-fence outlier audit per declared column with EXACT
    * quartiles: Q1/Q3 are the cent values at ranks ceil(n/4) and
    * ceil(3n/4) — integer rank selection, no interpolation, so the
    * fences and the outlier counts are integer-exact on both engines
    * (a `percentile`-interpolated fence would put float rounding in a
    * threshold comparison — the parity failure mode
    * [[graft.functions.SortedJaccardGE]] exists to avoid). The fence
    * test runs in doubled-cent space (`2v < 5·Q1 − 3·Q3` ⇔
    * `v < Q1 − 1.5·IQR`), keeping ±1.5 exact in integers.
    *
    * Scale: each column reduces to a (value, count) relation first —
    * the cumulative-rank window then runs over DISTINCT cents, bounded
    * by the value DOMAIN (≤ ~1e7 rows for any price-like column), not
    * the corpus; counts against the fences reuse the same relation.
    * For a genuinely unbounded domain, swap the window for the
    * range-sharded two-pass rank ([[graft.operators.Corpus.cpShuffle]]
    * machinery).
    */
  def profOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    OutlierCols.map { case (tab, c) =>
      // the (value, count) relation feeds the quartile pass AND the
      // fence-count pass — cache it rather than scan the table per
      // branch (measured: 3 scans → 1); n rides the rank window
      val g = Tables.read(spark, sfDir, tab)
        .select(round(col(c) * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
        .cache()
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cw = g.withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
      val q = cw.agg(
        min(col("n")).as("n"),
        ExactRank.valueAt(1, 4, "n", col("v")).as("q1c"),
        ExactRank.valueAt(3, 4, "n", col("v")).as("q3c"))
      // the fence-count pass needs only (v, cnt) + q's scalars — read
      // the cached relation, not the window chain
      g.crossJoin(broadcast(q)).agg(
        min(col("n")).as("n"), min(col("q1c")).as("q1c"),
        min(col("q3c")).as("q3c"),
        sum(when(lit(2) * col("v") < lit(5) * col("q1c") - lit(3) * col("q3c"),
          col("cnt")).otherwise(0L)).as("n_below"),
        sum(when(lit(2) * col("v") > lit(5) * col("q3c") - lit(3) * col("q1c"),
          col("cnt")).otherwise(0L)).as("n_above"))
        .select(lit(tab).as("tab"), lit(c).as("column_name"), col("n"),
          r6(col("q1c").cast("double") / 100.0).as("q1"),
          r6(col("q3c").cast("double") / 100.0).as("q3"),
          r6((col("q3c") - col("q1c")).cast("double") / 100.0).as("iqr"),
          col("n_below").cast("long").as("n_below"),
          col("n_above").cast("long").as("n_above"))
    }.reduce(_.unionByName(_)).orderBy(col("tab"), col("column_name"))
  }

  lazy val profOutliersSql: String = {
    val ctes = OutlierCols.zipWithIndex.map { case ((tab, c), i) =>
      s"""g_$i AS (
  SELECT v, COUNT(*) AS cnt
  FROM (SELECT CAST(round($c * 100) AS BIGINT) AS v FROM $tab)
  GROUP BY v
), cw_$i AS (
  SELECT v, cnt, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
  FROM g_$i
), t_$i AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g_$i
), q_$i AS (
  SELECT MIN(n) AS n,
    ${ExactRank.valueAtSql(1, 4, "n", "v")} AS q1c,
    ${ExactRank.valueAtSql(3, 4, "n", "v")} AS q3c
  FROM cw_$i, t_$i
), r_$i AS (
  SELECT '$tab' AS tab, '$c' AS column_name, MIN(n) AS n,
    MIN(q1c) AS q1c, MIN(q3c) AS q3c,
    CAST(SUM(CASE WHEN 2 * v < 5 * q1c - 3 * q3c THEN cnt ELSE 0 END)
      AS BIGINT) AS n_below,
    CAST(SUM(CASE WHEN 2 * v > 5 * q3c - 3 * q1c THEN cnt ELSE 0 END)
      AS BIGINT) AS n_above
  FROM cw_$i, q_$i
)"""
    }
    val arms = OutlierCols.indices.map { i =>
      s"""SELECT tab, column_name, n,
  ${r6Sql("(CAST(q1c AS DOUBLE) / 100.0)")} AS q1,
  ${r6Sql("(CAST(q3c AS DOUBLE) / 100.0)")} AS q3,
  ${r6Sql("(CAST(q3c - q1c AS DOUBLE) / 100.0)")} AS iqr,
  n_below, n_above
FROM r_$i"""
    }
    s"""WITH ${ctes.mkString(", ")}
${arms.mkString("\nUNION ALL\n")}
ORDER BY tab, column_name"""
  }

  lazy val profBenfordSql: String = {
    val pCase = "CASE d.digit " + BenfordP.zipWithIndex.map {
      case (p, i) => s"WHEN ${i + 1} THEN CAST($p AS DOUBLE)"
    }.mkString(" ") + " END"
    BenfordCols.map { case (tab, c) =>
      s"""SELECT '$tab' AS tab, '$c' AS column_name, d.digit,
  COALESCE(cnt.n_d, 0) AS n_d, t.n,
  CASE WHEN t.n > 0 THEN ${r6Sql(
        s"""((CAST(COALESCE(cnt.n_d, 0) AS DOUBLE) -
      CAST(t.n AS DOUBLE) * ($pCase)) *
    (CAST(COALESCE(cnt.n_d, 0) AS DOUBLE) -
      CAST(t.n AS DOUBLE) * ($pCase)) /
    (CAST(t.n AS DOUBLE) * ($pCase)))""")} END AS chi2_contrib
FROM (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS digit) d
LEFT JOIN (
  SELECT CAST(substr(CAST(CAST(round($c * 100) AS BIGINT) AS VARCHAR),
      1, 1) AS INTEGER) AS digit,
    COUNT(*) AS n_d
  FROM $tab WHERE CAST(round($c * 100) AS BIGINT) > 0 GROUP BY 1
) cnt ON cnt.digit = d.digit
CROSS JOIN (
  SELECT CAST(COALESCE(SUM(1), 0) AS BIGINT) AS n
  FROM $tab WHERE CAST(round($c * 100) AS BIGINT) > 0
) t"""
    }.mkString("\nUNION ALL\n") + "\nORDER BY tab, column_name, digit"
  }

  // ------------------------------------------------------------------
  // wh_aging — order-age distribution per status (the backlog readout)
  // ------------------------------------------------------------------

  /** How old is the backlog? Per order status: order count and the
    * exact min/p50/p90/max age in days, measured against the table's
    * own max order date (data-derived anchor — reproducible, unlike
    * now()). An open-status p90 that grows load over load is the
    * backlog alarm.
    *
    * The [[ev_gaps]] shape: ages are integer day arithmetic against a
    * 1-row broadcast anchor (no full-table window), quantiles are
    * rank-ceil [[ExactRank]] selections over the per-status (age,
    * count) relation — bounded by the day domain — with totals on the
    * SAME per-status window pass.
    */
  def whAging(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_orderstatus").as("status"),
        unix_date(to_date(col("o_orderdate"))).as("day"))
    val anchor = o.agg(max(col("day")).as("anchor"))
    val g = o.crossJoin(broadcast(anchor))
      .select(col("status"), (col("anchor") - col("day")).cast("long")
        .as("age_days"))
      .groupBy(col("status"), col("age_days"))
      .agg(count(lit(1)).as("cnt"))
    val byStatus = Window.partitionBy(col("status"))
    val cum = byStatus.orderBy(col("age_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = byStatus
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(full))
      .withColumn("mn", min(col("age_days")).over(full))
      .withColumn("mx", max(col("age_days")).over(full))
      .groupBy(col("status"))
      .agg(
        min(col("n")).as("n_orders"),
        min(col("mn")).as("min_age_days"),
        ExactRank.valueAt(1, 2, "n", col("age_days")).as("p50_age_days"),
        ExactRank.valueAt(9, 10, "n", col("age_days")).as("p90_age_days"),
        min(col("mx")).as("max_age_days"))
      .orderBy(col("status"))
  }

  lazy val whAgingSql: String = s"""
WITH o AS (
  SELECT o_orderstatus AS status,
    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INTEGER) AS day
  FROM orders
), anchor AS (
  SELECT MAX(day) AS anchor FROM o
), g AS (
  SELECT status, CAST(a.anchor - day AS BIGINT) AS age_days,
    COUNT(*) AS cnt
  FROM o CROSS JOIN anchor a GROUP BY status, a.anchor - day
), cw AS (
  SELECT status, age_days, cnt,
    SUM(cnt) OVER (PARTITION BY status ORDER BY age_days
      ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cnt) OVER (PARTITION BY status) AS n,
    MIN(age_days) OVER (PARTITION BY status) AS mn,
    MAX(age_days) OVER (PARTITION BY status) AS mx
  FROM g
)
SELECT status,
  CAST(MIN(n) AS BIGINT) AS n_orders,
  MIN(mn) AS min_age_days,
  ${ExactRank.valueAtSql(1, 2, "n", "age_days")} AS p50_age_days,
  ${ExactRank.valueAtSql(9, 10, "n", "age_days")} AS p90_age_days,
  MIN(mx) AS max_age_days
FROM cw GROUP BY status ORDER BY status"""

  // ------------------------------------------------------------------
  // wh_basket — market-basket part-pair affinity (support + lift)
  // ------------------------------------------------------------------

  /** Pairs reported (by co-occurrence count, part-pair tiebreak). */
  val BasketTopK = 20

  /** Association mining's first query: which part pairs co-occur in
    * the same order beyond what their individual popularity predicts.
    * Per top pair: co-occurrence count, each part's order frequency,
    * and lift = n_ab·N / (n_a·n_b) (>1 = genuine affinity, the
    * cross-sell signal; ≈1 = coincidence of two popular parts).
    *
    * Scale shape: the pair generator is a self-join of the DISTINCT
    * (order, part) relation on the order key — pairs per order are
    * bounded by lines-per-order² (TPC-H ≈ 4², never corpus-quadratic),
    * and the join shuffles on the key the table already joins on.
    * Lift arithmetic is exact integers until one double division;
    * part marginals broadcast back onto the top pairs.
    */
  def whBasket(spark: SparkSession, sfDir: String): DataFrame = {
    // Round-19 restructure (guide §2.4/§3, verdict item 6): the pair
    // generator was a SELF-JOIN of the distinct (order, part) relation
    // on the order key — the distinct's exchange plus two join-side
    // exchanges, the cached relation scanned twice. One groupBy(order)
    // + collect_set now builds each order's sorted basket (the same
    // dedup the distinct did, ONE exchange), and the codegen'd
    // graft_sorted_pairs emits the (a < b) pairs map-side — baskets
    // are lines-per-order small by construction (TPC-H ≈ 4 parts,
    // sf0.1 max 17), so the per-order pair array is bounded. The pair
    // stream, the marginals and the order total all read the one
    // cached basket relation.
    val baskets = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy(col("o"))
      .agg(sort_array(collect_set(col("p"))).as("parts"))
      .cache()
    val marg = baskets
      .select(explode(col("parts")).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    // 1-row scalar via broadcast cross join — no driver-side count
    val orders = baskets.agg(count(lit(1)).as("n_orders"))
    val pairs = baskets
      .select(explode(graft.functions.SortedPairs.pairs(col("parts")))
        .as("pr"))
      .select(col("pr.a").as("part_a"), col("pr.b").as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_ab"))
    // top-k cut BEFORE the rank (round 19 — the cp_vocab/ev_paths
    // idiom): orderBy+limit plans as a TakeOrdered, so the global
    // rank window runs over ≤BasketTopK rows instead of moving the
    // whole pair census to one partition
    val w = Window.orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
    pairs
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
      .limit(BasketTopK)
      .withColumn("rank", row_number().over(w))
      .join(broadcast(marg.select(col("p").as("part_a"),
        col("n").as("n_a"))), "part_a")
      .join(broadcast(marg.select(col("p").as("part_b"),
        col("n").as("n_b"))), "part_b")
      .crossJoin(broadcast(orders))
      .select(col("rank"), col("part_a"), col("part_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        r6((col("n_ab") * col("n_orders")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("rank"))
  }

  lazy val whBasketSql: String = s"""
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), marg AS (
  SELECT p, COUNT(*) AS n FROM op GROUP BY p
), orders AS (
  SELECT COUNT(DISTINCT o) AS n_orders FROM op
), pairs AS (
  SELECT a.p AS part_a, b.p AS part_b, COUNT(*) AS n_ab
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p
), ranked AS (
  SELECT *, row_number() OVER (
    ORDER BY n_ab DESC, part_a, part_b) AS rank
  FROM pairs
)
SELECT CAST(r.rank AS INTEGER) AS rank, r.part_a, r.part_b, r.n_ab,
  ma.n AS n_a, mb.n AS n_b,
  ${r6Sql("(CAST(r.n_ab * o.n_orders AS DOUBLE) / " +
      "CAST(ma.n * mb.n AS DOUBLE))")} AS lift
FROM ranked r
JOIN marg ma ON ma.p = r.part_a
JOIN marg mb ON mb.p = r.part_b
CROSS JOIN orders o
WHERE r.rank <= $BasketTopK
ORDER BY r.rank"""

  // ------------------------------------------------------------------
  // prof_autocorr — lag-1 autocorrelation of daily counts per type
  // ------------------------------------------------------------------

  /** Is daily traffic trending or noise? Pearson autocorrelation of
    * consecutive daily event counts per type (lag-1 over the observed
    * day sequence): near +1 = momentum/trend, near 0 = independent
    * days, negative = oscillation — the sanity number read before
    * fitting any forecast ([[graft.operators.TimeSeries.evForecast]]'s
    * regression assumes trend; this says whether one exists.
    *
    * Exact decimal(38,0) moments over the (type, day, count) relation
    * (bounded by types × days at any event volume) through the same
    * num/sqrt(d1·d2) formula as prof_corr/q12 — the established
    * cross-engine CORR parity shape; degenerate series (zero variance
    * on either side) yield NULL, not NaN.
    */
  def profAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("day_num"))
    val daily = StreamingStats.events(spark, sfDir)
      .groupBy(col("event_type"),
        unix_date(to_date(col("ts"))).as("day_num"))
      .agg(count(lit(1)).as("x"))
    daily
      .withColumn("y", lead(col("x"), 1).over(byType))
      .filter(col("y").isNotNull)
      .select(col("event_type"), col("x").cast(M38).as("x"),
        col("y").cast(M38).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(M38).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("event_type"), col("n").cast("long").as("n_pairs"), {
        val num = col("n") * col("sxy") - col("sx") * col("sy")
        val d1 = col("n") * col("sxx") - col("sx") * col("sx")
        val d2 = col("n") * col("syy") - col("sy") * col("sy")
        when(d1 > 0 && d2 > 0, r6(num.cast("double") /
          sqrt(d1.cast("double") * d2.cast("double"))))
          .as("autocorr_lag1")
      })
      .orderBy(col("event_type"))
  }

  lazy val profAutocorrSql: String = s"""
WITH daily AS (
  SELECT event_type,
    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS day_num,
    COUNT(*) AS x
  FROM events GROUP BY 1, 2
), p AS (
  SELECT event_type, x,
    lead(x) OVER (PARTITION BY event_type ORDER BY day_num) AS y
  FROM daily
), g AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(x) AS sx, SUM(y) AS sy,
    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM p WHERE y IS NOT NULL GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
    ${r6Sql("(CAST(n * sxy - sx * sy AS DOUBLE) / " +
      "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * " +
      "CAST(n * syy - sy * sy AS DOUBLE)))")} END AS autocorr_lag1
FROM g ORDER BY event_type"""

  // ------------------------------------------------------------------
  // wh_ltv — customer-cohort revenue / retention curve
  // ------------------------------------------------------------------

  /** Cohort LTV triangle over orders: customers grouped by their FIRST
    * order month; per (cohort, month offset) the active customers,
    * exact integer-cent revenue, running cumulative revenue, and the
    * retention share — the lifetime-value readout warehouse teams
    * build first. Month ordinal is `year·12 + month − 1` (pure integer
    * calendar math, no interval arithmetic to disagree on).
    *
    * Shape: one per-customer window for the cohort tag, one
    * partial-agg'd (cohort, offset) groupBy; cumulative and
    * cohort-size ride the SAME per-cohort window partitioning over the
    * months²-bounded triangle — orders are scanned once.
    */
  def whLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .as("m"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val byCust = Window.partitionBy(col("o_custkey"))
    val byCoh = Window.partitionBy(col("cohort_m"))
    val cum = byCoh.orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = byCoh
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    o.withColumn("cohort_m", min(col("m")).over(byCust))
      .groupBy(col("cohort_m"), (col("m") - col("cohort_m"))
        .as("month_offset"))
      .agg(countDistinct(col("o_custkey")).as("active_customers"),
        sum(col("cents")).as("cents"))
      .withColumn("cum_cents", sum(col("cents")).over(cum))
      .withColumn("cohort_size",
        sum(when(col("month_offset") === 0, col("active_customers"))
          .otherwise(0L)).over(full))
      .select(
        concat(expr("cohort_m div 12").cast("string"), lit("-"),
          lpad((col("cohort_m") % 12 + 1).cast("string"), 2, "0"))
          .as("cohort_month"),
        col("month_offset"), col("cohort_size"), col("active_customers"),
        col("cents"), col("cum_cents"),
        r6(col("active_customers").cast("double") / col("cohort_size"))
          .as("retention"))
      .orderBy(col("cohort_month"), col("month_offset"))
  }

  lazy val whLtvSql: String = s"""
WITH o AS (
  SELECT o_custkey,
    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS m,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), tagged AS (
  SELECT *, MIN(m) OVER (PARTITION BY o_custkey) AS cohort_m FROM o
), g AS (
  SELECT cohort_m, CAST(m - cohort_m AS INTEGER) AS month_offset,
    COUNT(DISTINCT o_custkey) AS active_customers,
    CAST(SUM(cents) AS BIGINT) AS cents
  FROM tagged GROUP BY cohort_m, m - cohort_m
), w AS (
  SELECT *,
    CAST(SUM(cents) OVER (PARTITION BY cohort_m ORDER BY month_offset
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cents,
    CAST(SUM(CASE WHEN month_offset = 0 THEN active_customers ELSE 0 END)
      OVER (PARTITION BY cohort_m) AS BIGINT) AS cohort_size
  FROM g
)
SELECT
  CAST(cohort_m // 12 AS VARCHAR) || '-' ||
    lpad(CAST(cohort_m % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
  month_offset, cohort_size, active_customers, cents, cum_cents,
  ${r6Sql("(CAST(active_customers AS DOUBLE) / cohort_size)")} AS retention
FROM w ORDER BY cohort_month, month_offset"""

  // ------------------------------------------------------------------
  // wh_pareto — revenue-concentration deciles (the 80/20 readout)
  // ------------------------------------------------------------------

  /** Revenue Pareto curve: customers ranked by lifetime order cents
    * into deciles (1 = top earners), with each decile's customer
    * count, exact cents, revenue share, and the cumulative share — how
    * concentrated the business is. Deciles are EXACT-rank value cuts
    * on the (cents, count) relation; a tie block (customers with equal
    * revenue) is assigned whole to its first member's decile, so
    * sizes deviate from n/10 only by tie mass — deterministic on both
    * engines, and the rank never forces a window over the raw
    * customer set.
    *
    * Shape: one per-customer agg, then everything runs on the
    * distinct-revenue relation (bounded by the value domain —
    * prof_outliers' posture); cents moments sum in decimal(38,0).
    */
  def whPareto(spark: SparkSession, sfDir: String): DataFrame = {
    val per = Tables.read(spark, sfDir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val g = per.groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
    val cum = Window.orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byDecile = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(full))
      .withColumn("total_cents",
        sum((col("cents") * col("cnt")).cast("decimal(38,0)")).over(full))
      .withColumn("decile", expr("((cum - cnt + 1) * 10 + n - 1) div n"))
      .groupBy(col("decile"))
      .agg(
        sum(col("cnt")).as("n_customers"),
        sum((col("cents") * col("cnt")).cast("decimal(38,0)"))
          .as("dec_cents"),
        min(col("total_cents")).as("total_cents"))
      .withColumn("cum_cents", sum(col("dec_cents")).over(byDecile))
      .select(col("decile"), col("n_customers"),
        col("dec_cents").cast("long").as("cents"),
        r6(col("dec_cents").cast("double") /
          col("total_cents").cast("double")).as("share"),
        r6(col("cum_cents").cast("double") /
          col("total_cents").cast("double")).as("cum_share"))
      .orderBy(col("decile"))
  }

  lazy val whParetoSql: String = s"""
WITH per AS (
  SELECT o_custkey,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
), g AS (
  SELECT cents, COUNT(*) AS cnt FROM per GROUP BY cents
), cw AS (
  SELECT cents, cnt,
    SUM(cnt) OVER (ORDER BY cents DESC ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cnt) OVER () AS n,
    SUM(cents * cnt) OVER () AS total_cents
  FROM g
), d AS (
  SELECT CAST(((cum - cnt + 1) * 10 + n - 1) // n AS BIGINT) AS decile,
    cnt, cents, total_cents
  FROM cw
), a AS (
  SELECT decile,
    CAST(SUM(cnt) AS BIGINT) AS n_customers,
    CAST(SUM(cents * cnt) AS BIGINT) AS dec_cents,
    MIN(total_cents) AS total_cents
  FROM d GROUP BY decile
)
SELECT decile, n_customers,
  dec_cents AS cents,
  ${r6Sql("(CAST(dec_cents AS DOUBLE) / CAST(total_cents AS DOUBLE))")}
    AS share,
  ${r6Sql("(CAST(SUM(dec_cents) OVER (ORDER BY decile" +
      " ROWS UNBOUNDED PRECEDING) AS DOUBLE)" +
      " / CAST(total_cents AS DOUBLE))")} AS cum_share
FROM a ORDER BY decile"""

  // ------------------------------------------------------------------
  // prof_skew — join/partition-key skew profile
  // ------------------------------------------------------------------

  /** The (table, key) pairs audited for skew — the keys the engine's
    * own joins and windows partition by.
    */
  val SkewKeys: Seq[(String, String)] = Seq(
    "lineitem" -> "l_orderkey",
    "orders" -> "o_custkey",
    "events" -> "user_id")

  /** Hot-key skew profile for the declared join/partition keys: group
    * count, row count, the heaviest key's row count, and the skew
    * ratio max/mean — the number that decides salting and
    * AQE-skew-join thresholds BEFORE a 100 TB shuffle discovers it the
    * hard way. skew_ratio near 1 is uniform; a ratio of k means the
    * hottest partition runs k× the average task.
    *
    * Shape per entity: one partial-agg'd groupBy on the key, then a
    * constant-size roll-up; branches union to rows bounded by the
    * audit list. The group-count relation is the SAME one a shuffle
    * would build — nothing here exceeds the cost of the join being
    * audited.
    */
  def profSkew(spark: SparkSession, sfDir: String): DataFrame =
    SkewKeys.map { case (table, key) =>
      Tables.read(spark, sfDir, table).groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_groups"), sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_rows"))
        .select(lit(s"$table.$key").as("entity"), col("n_groups"),
          col("n_rows"), col("max_rows"))
    }.reduce(_.unionByName(_))
      .select(col("entity"), col("n_groups"), col("n_rows"),
        col("max_rows"),
        r6(col("n_rows").cast("double") / col("n_groups")).as("mean_rows"),
        r6(col("max_rows").cast("double") * col("n_groups") / col("n_rows"))
          .as("skew_ratio"))
      .orderBy(col("entity"))

  lazy val profSkewSql: String = SkewKeys.map { case (table, key) =>
    s"""SELECT '$table.$key' AS entity,
  COUNT(*) AS n_groups,
  CAST(SUM(cnt) AS BIGINT) AS n_rows,
  MAX(cnt) AS max_rows,
  ${r6Sql("(CAST(SUM(cnt) AS DOUBLE) / COUNT(*))")} AS mean_rows,
  ${r6Sql("(CAST(MAX(cnt) AS DOUBLE) * COUNT(*) / SUM(cnt))")}
    AS skew_ratio
FROM (SELECT $key, COUNT(*) AS cnt FROM $table GROUP BY $key)"""
  }.mkString("\nUNION ALL\n") + "\nORDER BY entity"

  // ------------------------------------------------------------------
  // prof_ks — exact two-sample Kolmogorov–Smirnov split-drift audit
  // ------------------------------------------------------------------

  /** Exact two-sample Kolmogorov–Smirnov statistic between the train
    * and val splits ([[Corpus.splitLabelExpr]] — the SAME hash split
    * `cp_split` publishes) over `n_chars`, per language: did the
    * hash split accidentally skew the length distribution a model
    * would train vs validate on? The distribution-level companion to
    * `cp_split_leakage`'s instance-level audit; PSI (`prof_drift`)
    * needs binning, KS does not.
    *
    * Determinism posture: D = max_v |F_train(v) − F_val(v)| is
    * computed on the INTEGER lattice — max_v |cum_t·n_val −
    * cum_v·n_train| — so the statistic is exact until one final
    * division, r6'd. Languages with an empty side are dropped (a
    * 0-denominator KS is undefined; both engines drop identically).
    *
    * Scale shape: one partial-agg'd shuffle of (lang, value, split)
    * counts — bounded by langs × distinct lengths, NOT by docs — then
    * windows over that bounded relation sharing one per-lang
    * partitioning (cumulative + full-frame totals, the ev_gaps rule).
    * No sort of the raw corpus, no sampling: the exact statistic at
    * any corpus size.
    */
  def profKs(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = Corpus.splitBucketExpr(col("doc_id"))
    val d = graft.operators.TextAnalysis.docs(spark, sfDir)
      .select(col("lang"), col("n_chars"),
        Corpus.splitLabelExpr(bucket).as("split"))
      .filter(col("split").isin("train", "val"))
    val c = d.groupBy(col("lang"), col("n_chars"))
      .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_t"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("c_v"))
    val byLang = Window.partitionBy(col("lang"))
    val cum = byLang.orderBy(col("n_chars"))
    val w = c.select(col("lang"),
      sum(col("c_t")).over(cum).as("cum_t"),
      sum(col("c_v")).over(cum).as("cum_v"),
      sum(col("c_t")).over(byLang).as("n_train"),
      sum(col("c_v")).over(byLang).as("n_val"))
    w.select(col("lang"), col("n_train"), col("n_val"),
        abs(col("cum_t") * col("n_val") - col("cum_v") * col("n_train"))
          .as("dn"))
      .groupBy(col("lang"))
      .agg(max(col("n_train")).as("n_train"), max(col("n_val")).as("n_val"),
        max(col("dn")).as("d_num"))
      .filter(col("n_train") > 0 && col("n_val") > 0)
      .select(col("lang"), col("n_train"), col("n_val"), col("d_num"),
        r6(col("d_num").cast("double") / (col("n_train") * col("n_val")))
          .as("ks"))
      .orderBy(col("lang"))
  }

  lazy val profKsSql: String = s"""
WITH d AS (
  SELECT lang, n_chars, ${Corpus.splitLabelSql} AS split FROM documents
), c AS (
  SELECT lang, n_chars,
    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS c_t,
    SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS c_v
  FROM d WHERE split IN ('train', 'val') GROUP BY lang, n_chars
), w AS (
  SELECT lang,
    SUM(c_t) OVER (PARTITION BY lang ORDER BY n_chars) AS cum_t,
    SUM(c_v) OVER (PARTITION BY lang ORDER BY n_chars) AS cum_v,
    SUM(c_t) OVER (PARTITION BY lang) AS n_train,
    SUM(c_v) OVER (PARTITION BY lang) AS n_val
  FROM c
), dn AS (
  SELECT lang, n_train, n_val,
    ABS(cum_t * n_val - cum_v * n_train) AS dn
  FROM w
)
SELECT lang, CAST(MAX(n_train) AS BIGINT) AS n_train,
  CAST(MAX(n_val) AS BIGINT) AS n_val,
  CAST(MAX(dn) AS BIGINT) AS d_num,
  ${r6Sql("(CAST(MAX(dn) AS DOUBLE) / (MAX(n_train) * MAX(n_val)))")} AS ks
FROM dn GROUP BY lang
HAVING MAX(n_train) > 0 AND MAX(n_val) > 0
ORDER BY lang"""

  // ------------------------------------------------------------------
  // wh_pricing — pricing summary rollup (the TPC-H Q1 shape)
  // ------------------------------------------------------------------

  /** Lines shipped at or before max(shipdate) − this many days are in
    * scope (the classic pricing-report cutoff, anchored to the data
    * instead of a wall clock). */
  val PricingCutoffDays = 90

  /** The canonical warehouse pricing summary (TPC-H Q1's shape): per
    * (returnflag, linestatus) over lines shipped before the cutoff —
    * quantities, base price, discounted price, discounted+tax charge,
    * and the per-line averages. The engine-wide money discipline makes
    * it hash-exact: dollars→cents, discount/tax→integer percent, so
    * `disc_price` sums in exact cents·pct (e4) and `charge` in
    * cents·pct² (e6) units — decimal(38,0) folds, no float
    * accumulation anywhere; the published dollar columns are single
    * final divisions, r6'd.
    *
    * Scale shape: filter + canonicalize are map-side; ONE partial-agg
    * shuffle of (flag, status) groups — the textbook
    * full-scan-one-reduce query whole-stage codegen exists for.
    */
  def whPricing(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"),
        unix_date(to_date(col("l_shipdate"))).as("sday"),
        round(col("l_quantity")).cast("long").as("qty"),
        round(col("l_extendedprice") * 100).cast("long").as("ext_c"),
        round(col("l_discount") * 100).cast("long").as("disc_p"),
        round(col("l_tax") * 100).cast("long").as("tax_p"))
    val anchor = li.agg(max(col("sday")).as("mx"))
    li.crossJoin(broadcast(anchor))
      .filter(col("sday") <= col("mx") - PricingCutoffDays)
      .select(col("l_returnflag"), col("l_linestatus"), col("qty"),
        col("ext_c").cast(M38).as("ext_c"),
        col("disc_p"),
        (col("ext_c").cast(M38) * (lit(100) - col("disc_p")))
          .as("disc_e4"),
        (col("ext_c").cast(M38) * (lit(100) - col("disc_p")) *
          (lit(100) + col("tax_p"))).as("charge_e6"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("qty")).as("sum_qty"),
        sum(col("ext_c")).cast("long").as("sum_base_cents"),
        sum(col("disc_e4")).cast("long").as("sum_disc_e4"),
        sum(col("charge_e6")).cast("long").as("sum_charge_e6"),
        sum(col("disc_p")).as("sum_disc_p"))
      .select(col("l_returnflag"), col("l_linestatus"), col("n_lines"),
        col("sum_qty"), col("sum_base_cents"), col("sum_disc_e4"),
        col("sum_charge_e6"),
        r6(col("sum_qty").cast("double") / col("n_lines")).as("avg_qty"),
        r6(col("sum_base_cents").cast("double") / col("n_lines") /
          lit(100.0)).as("avg_price"),
        r6(col("sum_disc_p").cast("double") / col("n_lines") /
          lit(100.0)).as("avg_disc"),
        r6(col("sum_disc_e4").cast("double") / lit(10000.0))
          .as("disc_price_total"),
        r6(col("sum_charge_e6").cast("double") / lit(1000000.0))
          .as("charge_total"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  lazy val whPricingSql: String = s"""
WITH li AS (
  SELECT l_returnflag, l_linestatus,
    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS INTEGER)
      AS sday,
    CAST(round(l_quantity) AS BIGINT) AS qty,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS ext_c,
    CAST(round(l_discount * 100) AS BIGINT) AS disc_p,
    CAST(round(l_tax * 100) AS BIGINT) AS tax_p
  FROM lineitem
), anchor AS (
  SELECT MAX(sday) AS mx FROM li
), f AS (
  SELECT l_returnflag, l_linestatus, qty, ext_c, disc_p,
    ext_c * (100 - disc_p) AS disc_e4,
    ext_c * (100 - disc_p) * (100 + tax_p) AS charge_e6
  FROM li CROSS JOIN anchor
  WHERE sday <= mx - $PricingCutoffDays
), g AS (
  SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
    CAST(SUM(qty) AS BIGINT) AS sum_qty,
    CAST(SUM(ext_c) AS BIGINT) AS sum_base_cents,
    CAST(SUM(disc_e4) AS BIGINT) AS sum_disc_e4,
    CAST(SUM(charge_e6) AS BIGINT) AS sum_charge_e6,
    CAST(SUM(disc_p) AS BIGINT) AS sum_disc_p
  FROM f GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, CAST(n_lines AS BIGINT) AS n_lines,
  sum_qty, sum_base_cents, sum_disc_e4, sum_charge_e6,
  ${r6Sql("(CAST(sum_qty AS DOUBLE) / n_lines)")} AS avg_qty,
  ${r6Sql("(CAST(sum_base_cents AS DOUBLE) / n_lines / " +
      "CAST(100.0 AS DOUBLE))")} AS avg_price,
  ${r6Sql("(CAST(sum_disc_p AS DOUBLE) / n_lines / " +
      "CAST(100.0 AS DOUBLE))")} AS avg_disc,
  ${r6Sql("(CAST(sum_disc_e4 AS DOUBLE) / CAST(10000.0 AS DOUBLE))")}
    AS disc_price_total,
  ${r6Sql("(CAST(sum_charge_e6 AS DOUBLE) / CAST(1000000.0 AS DOUBLE))")}
    AS charge_total
FROM g ORDER BY l_returnflag, l_linestatus"""

  // ------------------------------------------------------------------
  // wh_ship_lag — order-to-ship latency distribution per month
  // ------------------------------------------------------------------

  /** Fulfillment latency: per order month, the distribution of
    * order-date → ship-date lag across line items — min/p50/p90/max by
    * the engine's exact rank-ceil rule ([[ExactRank]], the
    * wh_aging/ev_gaps discipline) plus the exact integer-moment mean.
    * The supply-chain twin of `ev_funnel_time`: same latency question,
    * warehouse grain.
    *
    * Scale shape: the orders⋈lineitem equi-join is the engine's
    * standard big join (bucketed co-location applies when
    * materialized); after it, everything lives on (month, distinct
    * lag) rows — the quantile relation is bounded by the lag domain,
    * not by line items.
    */
  def whShipLag(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        unix_date(to_date(col("l_shipdate"))).as("sday"))
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey"),
        unix_date(to_date(col("o_orderdate"))).as("oday"),
        date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"))
    val g = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("month"), (col("sday") - col("oday")).cast("long")
        .as("lag_days"))
      .groupBy(col("month"), col("lag_days"))
      .agg(count(lit(1)).as("cnt"))
    val byMonth = Window.partitionBy(col("month"))
    val cum = byMonth.orderBy(col("lag_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = byMonth
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    g.withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(full))
      .withColumn("mn", min(col("lag_days")).over(full))
      .withColumn("mx", max(col("lag_days")).over(full))
      .groupBy(col("month"))
      .agg(
        min(col("n")).as("n_lines"),
        min(col("mn")).as("min_lag_days"),
        ExactRank.valueAt(1, 2, "n", col("lag_days")).as("p50_lag_days"),
        ExactRank.valueAt(9, 10, "n", col("lag_days")).as("p90_lag_days"),
        min(col("mx")).as("max_lag_days"),
        sum(col("lag_days") * col("cnt")).as("sum_lag"))
      .select(col("month"), col("n_lines"), col("min_lag_days"),
        col("p50_lag_days"), col("p90_lag_days"), col("max_lag_days"),
        r6(col("sum_lag").cast("double") / col("n_lines"))
          .as("mean_lag_days"))
      .orderBy(col("month"))
  }

  lazy val whShipLagSql: String = s"""
WITH j AS (
  SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m') AS month,
    CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
      AS BIGINT) AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
), g AS (
  SELECT month, lag_days, COUNT(*) AS cnt FROM j GROUP BY 1, 2
), cw AS (
  SELECT month, lag_days, cnt,
    SUM(cnt) OVER (PARTITION BY month ORDER BY lag_days
      ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cnt) OVER (PARTITION BY month) AS n,
    MIN(lag_days) OVER (PARTITION BY month) AS mn,
    MAX(lag_days) OVER (PARTITION BY month) AS mx
  FROM g
)
SELECT month,
  CAST(MIN(n) AS BIGINT) AS n_lines,
  MIN(mn) AS min_lag_days,
  ${ExactRank.valueAtSql(1, 2, "n", "lag_days")} AS p50_lag_days,
  ${ExactRank.valueAtSql(9, 10, "n", "lag_days")} AS p90_lag_days,
  MIN(mx) AS max_lag_days,
  ${r6Sql("(CAST(SUM(lag_days * cnt) AS DOUBLE) / MIN(n))")}
    AS mean_lag_days
FROM cw GROUP BY month ORDER BY month"""

  // ------------------------------------------------------------------
  // wh_regional — local-supply revenue star join (the TPC-H Q5 shape)
  // ------------------------------------------------------------------

  /** Local-supply revenue by region / nation / order year: lineitem ⋈
    * orders ⋈ customer ⋈ supplier with the Q5 "local supplier"
    * constraint (customer and supplier in the SAME nation), rolled up
    * through the nation → region dimension chain — the engine's
    * canonical multi-table star join, exercising the full snowflake in
    * one query where the rest of the wh_ family joins at most two
    * fact-side tables.
    *
    * Exactness: revenue folds as `ext_c · (100 − disc_p)` in
    * decimal(38,0) e4 units (the `wh_pricing` money discipline); the
    * ONLY float is one final r6'd division. The distinct-order count
    * is exact.
    *
    * Scale shape: the two fact-side joins (lineitem⋈orders on the
    * order key; the result ⋈ customer / ⋈ supplier on their keys) are
    * the standard shuffle equi-joins — bucketed co-location applies to
    * the first when materialized. nation and region are
    * CONSTANT-size dimensions (25 / 5 rows) and broadcast; the
    * nationkey equality is a post-join filter that Catalyst pushes
    * into the join condition. Everything after the joins is one
    * partial-agg'd shuffle of (region, nation, year) rows — a
    * few-hundred-row relation at any SF.
    */
  def whRegional(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long").cast(M38) *
          (lit(100) - round(col("l_discount") * 100).cast("long")))
          .as("rev_e4"))
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("year"))
    val c = Tables.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.read(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.read(spark, sfDir, "nation")
    val r = Tables.read(spark, sfDir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .join(s, col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
      .join(broadcast(r), col("r_regionkey") === col("n_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"),
        col("year"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_lines"),
        sum(col("rev_e4")).cast("long").as("rev_e4"))
      .select(col("region"), col("nation"), col("year"), col("n_orders"),
        col("n_lines"),
        r6(col("rev_e4").cast("double") / 10000.0).as("revenue"))
      .orderBy(col("region"), col("nation"), col("year"))
  }

  lazy val whRegionalSql: String = s"""
WITH f AS (
  SELECT r.r_name AS region, n.n_name AS nation,
    CAST(strftime(CAST(o.o_orderdate AS DATE), '%Y') AS INTEGER)
      AS year,
    o.o_orderkey,
    CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE c.c_nationkey = s.s_nationkey
)
SELECT region, nation, year,
  COUNT(DISTINCT o_orderkey) AS n_orders,
  COUNT(*) AS n_lines,
  ${r6Sql("(CAST(SUM(rev_e4) AS DOUBLE) / 10000.0)")} AS revenue
FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ------------------------------------------------------------------
  // wh_hhi — supplier-concentration census (Herfindahl index)
  // ------------------------------------------------------------------

  /** Supplier concentration per part type: the Herfindahl–Hirschman
    * index of supplier revenue shares, the effective supplier count
    * (1/HHI), and the top supplier's share — the single-source-risk
    * readout a procurement review starts from.
    *
    * Exactness: per-supplier revenue folds in decimal(38,0) e4 cents
    * (exact under any partitioning); HHI = Σr² / (Σr)² would overflow
    * decimal(38,0) in the DENOMINATOR square at extreme volume
    * (Σr ~ 1e19 e4-units at the 100 TB target), so both engines
    * convert the exact Σr² and Σr once through the correctly-rounded
    * decimal→double path (DuckDB via the VARCHAR round-trip, the
    * `prof_corr` idiom) and form the ratio as the SAME fixed-arity
    * float expression — deterministic, and exact to the 6 rounded
    * decimals the gate hashes. `eff_suppliers` is (Σr)²/Σr² (NOT
    * 1/hhi — one agreed float shape per statistic).
    *
    * Scale shape: lineitem ⋈ part on the part key is a plain shuffle
    * equi-join (part scales with SF — no broadcast assumption); then
    * one partial-agg'd shuffle to (type, supplier) rows and a
    * types-bounded final reduce. Nothing downstream scales with line
    * items.
    */
  def whHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"),
        (round(col("l_extendedprice") * 100).cast("long").cast(M38) *
          (lit(100) - round(col("l_discount") * 100).cast("long")))
          .as("rev_e4"))
    val p = Tables.read(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_type"))
    val perSupp = li.join(p, col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(col("rev_e4")).as("rev"))
    val g = perSupp.groupBy(col("p_type")).agg(
      count(lit(1)).as("n_suppliers"),
      sum(col("rev")).as("s"),
      sum(col("rev") * col("rev")).as("ssq"),
      max(col("rev")).as("mx"))
    val sD = col("s").cast("double")
    val ssqD = col("ssq").cast("double")
    g.select(col("p_type"), col("n_suppliers"),
        r6(sD / 10000.0).as("revenue"),
        r6(ssqD / (sD * sD)).as("hhi"),
        r6((sD * sD) / ssqD).as("eff_suppliers"),
        r6(col("mx").cast("double") / sD).as("top_share"))
      .orderBy(col("p_type"))
  }

  lazy val whHhiSql: String = {
    s"""
WITH li AS (
  SELECT l_partkey, l_suppkey,
    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT)
      AS rev_e4
  FROM lineitem
), per_supp AS (
  SELECT p.p_type, li.l_suppkey, SUM(li.rev_e4) AS rev
  FROM li JOIN part p ON p.p_partkey = li.l_partkey
  GROUP BY 1, 2
), g AS (
  SELECT p_type, COUNT(*) AS n_suppliers,
    SUM(rev) AS s, SUM(rev * rev) AS ssq, MAX(rev) AS mx
  FROM per_supp GROUP BY 1
)
SELECT p_type, n_suppliers,
  ${r6Sql(s"(${dblSql("s")} / 10000.0)")} AS revenue,
  ${r6Sql(s"(${dblSql("ssq")} / (${dblSql("s")} * ${dblSql("s")}))")} AS hhi,
  ${r6Sql(s"((${dblSql("s")} * ${dblSql("s")}) / ${dblSql("ssq")})")}
    AS eff_suppliers,
  ${r6Sql(s"(${dblSql("mx")} / ${dblSql("s")})")} AS top_share
FROM g ORDER BY p_type"""
  }

  // ------------------------------------------------------------------
  // wh_returns — supplier return-rate scorecard
  // ------------------------------------------------------------------

  /** Per-supplier quality scorecard: line volume, returned-line share
    * (`l_returnflag = 'R'`), and how much revenue the returns put at
    * risk — the supplier-review readout beside `wh_hhi`'s
    * concentration view (one asks "who do we depend on", this asks
    * "who burns us").
    *
    * Exactness: counts and e4-cent revenue fold exactly
    * (decimal(38,0)); rates are single r6'd divisions of exact
    * integers. Scale shape: ONE lineitem shuffle on the supplier key
    * with full partial aggregation (the per-supplier moments combine
    * map-side), then a supplier-bounded join to the dimension row and
    * a broadcast nation lookup. Nothing scales past the supplier
    * count downstream.
    */
  def whReturns(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_suppkey"),
        (col("l_returnflag") === "R").cast("int").as("ret"),
        (round(col("l_extendedprice") * 100).cast("long").cast(M38) *
          (lit(100) - round(col("l_discount") * 100).cast("long")))
          .as("rev_e4"))
    val g = li.groupBy(col("l_suppkey")).agg(
      count(lit(1)).as("n_lines"),
      sum(col("ret")).cast("long").as("n_returned"),
      sum(col("rev_e4")).as("rev"),
      sum(when(col("ret") === 1, col("rev_e4"))
        .otherwise(lit(0L).cast(M38))).as("ret_rev"))
    val s = Tables.read(spark, sfDir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
    val n = Tables.read(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    g.join(s, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(n), col("n_nationkey") === col("s_nationkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("supplier"),
        col("n_name").as("nation"), col("n_lines"), col("n_returned"),
        r6(col("n_returned").cast("double") / col("n_lines"))
          .as("return_rate"),
        r6(col("rev").cast("double") / 10000.0).as("revenue"),
        r6(col("ret_rev").cast("double") / 10000.0).as("returned_revenue"),
        r6(col("ret_rev").cast("double") / col("rev").cast("double"))
          .as("returned_rev_share"))
      .orderBy(col("suppkey"))
  }

  lazy val whReturnsSql: String = {
    s"""
WITH li AS (
  SELECT l_suppkey,
    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
    CAST(CAST(round(l_extendedprice * 100) AS BIGINT) *
      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS HUGEINT)
      AS rev_e4
  FROM lineitem
), g AS (
  SELECT l_suppkey, COUNT(*) AS n_lines,
    CAST(SUM(ret) AS BIGINT) AS n_returned,
    SUM(rev_e4) AS rev,
    SUM(CASE WHEN ret = 1 THEN rev_e4 ELSE CAST(0 AS HUGEINT) END)
      AS ret_rev
  FROM li GROUP BY l_suppkey
)
SELECT g.l_suppkey AS suppkey, s.s_name AS supplier, n.n_name AS nation,
  g.n_lines, g.n_returned,
  ${r6Sql("(CAST(g.n_returned AS DOUBLE) / g.n_lines)")} AS return_rate,
  ${r6Sql(s"(${dblSql("g.rev")} / 10000.0)")} AS revenue,
  ${r6Sql(s"(${dblSql("g.ret_rev")} / 10000.0)")} AS returned_revenue,
  ${r6Sql(s"(${dblSql("g.ret_rev")} / ${dblSql("g.rev")})")}
    AS returned_rev_share
FROM g
JOIN supplier s ON s.s_suppkey = g.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
ORDER BY suppkey"""
  }

  // ------------------------------------------------------------------
  // prof_gini — exact inequality (Gini) profile of the money columns
  // ------------------------------------------------------------------

  /** (table, column) pairs profiled by [[profGini]]. */
  val GiniCols: Seq[(String, String)] = Seq(
    ("orders", "o_totalprice"), ("lineitem", "l_extendedprice"),
    ("events", "value"))

  /** Exact Gini coefficient per money column — the
    * concentration-inequality profile behind sampling and mixing
    * decisions (wh_pareto answers "how much do the top 10% hold";
    * this is the single-number version with a closed integer form).
    *
    * Exactness: with values in cents, `G = (2T − (n+1)·S) / (n·S)`
    * where `T = Σ rank·x` over the ascending sort with consecutive
    * ranks for ties. The DOUBLED sum folds on the (value, count)
    * relation as `2T = Σ v·c·(2·cumBefore + c + 1)` — no triangular
    * division, every fold a plain decimal(38,0) product,
    * order-independent and tie-stable. Numerator and denominator
    * convert once through the correctly-rounded path and divide in
    * one agreed float shape (the wh_hhi posture). Envelope: both
    * stay within decimal(38,0) through ~10^15 cent-scale rows —
    * beyond that the engines would widen identically.
    *
    * Scale shape: per column, one partial-agg'd shuffle to (value,
    * count) rows — the relation is bounded by the cent-value domain,
    * not the row count — then a single-partition cumulative window
    * over those values and a 1-row reduce. The scan dominates; the
    * window input never scales with data volume.
    */
  def profGini(spark: SparkSession, sfDir: String): DataFrame = {
    val perCol = GiniCols.map { case (table, c) =>
      val vals = Tables.read(spark, sfDir, table).select(round(col(c) * 100).cast("long").as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("c"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // 2T = Σ v·c·(2·cumBefore + c + 1): the doubled rank-weighted
      // sum needs no triangular division, so every fold is a plain
      // decimal product
      vals
        .withColumn("cum", sum(col("c")).over(w))
        .select(col("v").cast(M38).as("v"), col("c").cast(M38).as("c"),
          (col("cum") - col("c")).cast(M38).as("cb"))
        .select(
          (col("v") * col("c") *
            (lit(2).cast(M38) * col("cb") + col("c") + lit(1).cast(M38)))
            .as("t2"),
          col("c").as("n"), (col("v") * col("c")).as("s"))
        .agg(sum(col("t2")).as("t2"), sum(col("n")).as("n"),
          sum(col("s")).as("s"))
        .select(lit(s"$table.$c").as("column"),
          col("n").cast("long").as("n"),
          r6(col("s").cast("double") / col("n").cast("double") / 100.0)
            .as("mean"),
          r6((col("t2") - (col("n") + lit(1).cast(M38)) * col("s"))
              .cast("double") /
            (col("n") * col("s")).cast("double")).as("gini"))
    }
    perCol.reduce(_ unionAll _)
  }

  lazy val profGiniSql: String = {
    GiniCols.map { case (table, c) =>
      s"""
SELECT '$table.$c' AS "column", CAST(n AS BIGINT) AS n,
  ${r6Sql(s"(${dblSql("s")} / ${dblSql("n")} / 100.0)")} AS mean,
  ${r6Sql(s"(${dblSql("(t2 - (n + 1) * s)")} / ${dblSql("(n * s)")})")}
    AS gini
FROM (
  SELECT SUM(v * c * (2 * cb + c + 1)) AS t2,
    SUM(c) AS n, SUM(v * c) AS s
  FROM (
    SELECT v, c, (SUM(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING))
      - c AS cb
    FROM (
      SELECT CAST(CAST(round($c * 100) AS BIGINT) AS HUGEINT) AS v,
        CAST(COUNT(*) AS HUGEINT) AS c
      FROM $table GROUP BY 1
    )
  )
)"""
    }.mkString("\nUNION ALL\n")
  }

  // ------------------------------------------------------------------
  // ev_dq — event-stream ingest quality audit
  // ------------------------------------------------------------------

  /** One-row ingest-quality audit of the event stream — `wh_dq`'s
    * question at stream grain: duplicate event ids (at-least-once
    * delivery leaking through), malformed or missing JSON payloads,
    * negative values, the day span and silent-day count. The gate a
    * stream consumer checks before trusting ANY downstream metric;
    * every violation counter here is a pager threshold in deployment.
    *
    * Determinism: all counters are exact integers from one aggregate
    * (the three COUNT DISTINCTs share one Expand); "malformed" means
    * `try_parse_json` yields NULL on a non-NULL payload, mirrored by
    * DuckDB's `NOT json_valid` (PERMISSIVE `from_json` would return a
    * null-FIELDED row, not NULL, on malformed input — the spec's
    * dirty-feed case caught exactly that).
    * Scale: ONE scan, one partial-agg'd reduce; the Expand triples
    * the aggregate input, which is the documented exact-distinct
    * cost (`prof_summary_approx` is the sketch path when this runs
    * in a profiling loop).
    */
  /** Malformed-payload predicate — ONE copy shared by the batch audit
    * and the live monitor ([[graft.streaming.StreamingStats.dqStream]]):
    * a non-NULL payload that `try_parse_json` cannot parse. The column
    * must be named (an attribute), as the SQL fragment resolves by
    * name.
    */
  private[graft] def dqMalformed(
      props: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    props.isNotNull && expr("try_parse_json(props)").isNull

  def evDq(spark: SparkSession, sfDir: String): DataFrame = {
    StreamingStats.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"), col("props"),
        unix_date(to_date(col("ts"))).as("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_id")).as("n_distinct_ids"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("day")).as("n_days_present"),
        sum(when(col("props").isNull, 1L).otherwise(0L))
          .as("n_null_props"),
        sum(when(dqMalformed(col("props")), 1L).otherwise(0L))
          .as("n_malformed_props"),
        sum(when(col("value") < 0, 1L).otherwise(0L))
          .as("n_negative_values"),
        min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("n_events"), col("n_distinct_ids"),
        (col("n_events") - col("n_distinct_ids")).as("n_dup_ids"),
        col("n_users"), col("n_null_props"), col("n_malformed_props"),
        col("n_negative_values"),
        date_from_unix_date(col("mn")).cast("string").as("first_day"),
        date_from_unix_date(col("mx")).cast("string").as("last_day"),
        col("n_days_present"),
        (col("mx") - col("mn") + 1 - col("n_days_present")).cast("long")
          .as("n_days_missing"))
  }

  lazy val evDqSql: String = """
WITH e AS (
  SELECT event_id, user_id, value, props,
    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER) AS day
  FROM events
), g AS (
  SELECT COUNT(*) AS n_events,
    COUNT(DISTINCT event_id) AS n_distinct_ids,
    COUNT(DISTINCT user_id) AS n_users,
    COUNT(DISTINCT day) AS n_days_present,
    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_null_props,
    CAST(SUM(CASE WHEN props IS NOT NULL AND NOT json_valid(props)
      THEN 1 ELSE 0 END) AS BIGINT) AS n_malformed_props,
    CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_negative_values,
    MIN(day) AS mn, MAX(day) AS mx
  FROM e
)
SELECT n_events, n_distinct_ids,
  CAST(n_events - n_distinct_ids AS BIGINT) AS n_dup_ids,
  n_users, n_null_props, n_malformed_props, n_negative_values,
  CAST(DATE '1970-01-01' + mn AS VARCHAR) AS first_day,
  CAST(DATE '1970-01-01' + mx AS VARCHAR) AS last_day,
  n_days_present,
  CAST(mx - mn + 1 - n_days_present AS BIGINT) AS n_days_missing
FROM g"""

  // ------------------------------------------------------------------
  // ev_srm — sample-ratio-mismatch guard for the hash split
  // ------------------------------------------------------------------

  /** χ² threshold at α = 0.05, df = 1 — the standard SRM alarm line. */
  val SrmChi2 = 3.841459

  /** Sample-ratio-mismatch check on `ev_abtest`'s hash split: per
    * event type, the USER counts each cohort received, the χ²
    * statistic against the designed 50/50, and the alarm flag — the
    * validity gate an experiment readout must pass BEFORE its t-test
    * means anything (an SRM means the assignment itself is broken and
    * every downstream metric is biased). Completes the experiment
    * family: `ev_power` (before), `ev_abtest` (after), this (is the
    * experiment even valid).
    *
    * Exactness: cohort assignment is the SAME salted md5 split as
    * ev_abtest (one [[graft.functions.CrossHash]] definition); for a
    * 50/50 design `χ² = (n_a − n_b)²/(n_a + n_b)` — an exact integer
    * numerator over an exact integer denominator, ONE r6'd float,
    * and the alarm compares the UNROUNDED ratio on both engines via
    * the same literal. Counts are of distinct users (assignment
    * grain), not events.
    *
    * Scale shape: map-side split, one distinct (type, user) partial
    * agg, then a types-bounded reduce. Nothing scales past the type
    * vocabulary downstream.
    */
  /** The χ² tail over a (event_type, n_a, n_b) relation — ONE copy
    * shared by [[evSrm]] and the live monitor
    * ([[graft.streaming.StreamingStats.srmStream]]), so the batch
    * verdict and the pager can never drift.
    *
    * diff² in decimal(38,0): at the 100 TB user count a broken
    * split's squared difference overflows int64.
    */
  private[graft] def srmTail(g: DataFrame): DataFrame = {
    val chi2 = ((col("n_a") - col("n_b")).cast(M38) *
      (col("n_a") - col("n_b")).cast(M38)).cast("double")
    g.select(col("event_type"), col("n_a"), col("n_b"),
      r6(chi2 / (col("n_a") + col("n_b"))).as("srm_chi2"),
      (chi2 / (col("n_a") + col("n_b")) > SrmChi2).as("is_srm"))
  }

  /** The salted md5 cohort assignment — ONE copy (ev_abtest's). */
  private[graft] def srmCohort: org.apache.spark.sql.Column =
    graft.functions.CrossHash.md5Long(
      concat(lit("ab-v1:"), col("user_id").cast("string"))) % 2

  def evSrm(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StreamingStats.events(spark, sfDir)
      .select(col("event_type"), srmCohort.as("cohort"), col("user_id"))
      .distinct()
    srmTail(e.groupBy(col("event_type")).agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b")))
      .orderBy(col("event_type"))
  }

  lazy val evSrmSql: String = {
    val h = graft.functions.CrossHash
      .md5LongSql("('ab-v1:' || CAST(user_id AS VARCHAR))")
    s"""
WITH e AS (
  SELECT DISTINCT event_type, ($h % 2) AS cohort, user_id FROM events
), g AS (
  SELECT event_type,
    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM e GROUP BY event_type
)
SELECT event_type, n_a, n_b,
  ${r6Sql("(CAST(CAST(CAST(n_a - n_b AS HUGEINT) * " +
      "CAST(n_a - n_b AS HUGEINT) AS VARCHAR) AS DOUBLE) / (n_a + n_b))")}
    AS srm_chi2,
  (CAST(CAST(CAST(n_a - n_b AS HUGEINT) *
     CAST(n_a - n_b AS HUGEINT) AS VARCHAR) AS DOUBLE) / (n_a + n_b))
    > $SrmChi2 AS is_srm
FROM g ORDER BY event_type"""
  }

  // ------------------------------------------------------------------
  // wh_yoy — year-over-year revenue growth per nation
  // ------------------------------------------------------------------

  /** Year-over-year order revenue per customer nation: totals, the
    * prior year's totals via a per-nation lag, and the YoY growth
    * percentage — the board-slide query every warehouse serves
    * weekly, here with the cents discipline so the growth number is
    * bit-stable.
    *
    * Exactness: revenue folds in integer cents; the lag is over the
    * (nation, year) relation (years-bounded); growth is one r6'd
    * fixed-arity float from two exact cent totals, NULL for a
    * nation's first year (no prior) and for a zero prior. A
    * consecutive-year guard keeps the comparison honest: a nation
    * absent for a year compares against NULL, not against its last
    * active year.
    *
    * Scale shape: orders⋈customer is the standard shuffle equi-join,
    * nation broadcast; ONE partial-agg'd shuffle to (nation, year)
    * rows; the window runs on the years-bounded relation.
    */
  def whYoy(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("year"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val c = Tables.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val n = Tables.read(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val g = o.join(c, col("c_custkey") === col("o_custkey"))
      .join(broadcast(n), col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name").as("nation"), col("year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).cast("long").as("cents"))
    val w = Window.partitionBy(col("nation")).orderBy(col("year"))
    g.withColumn("prev_year", lag(col("year"), 1).over(w))
      .withColumn("prev_cents",
        when(col("prev_year") === col("year") - 1,
          lag(col("cents"), 1).over(w)))
      .select(col("nation"), col("year"), col("n_orders"),
        r6(col("cents").cast("double") / 100.0).as("revenue"),
        r6(col("prev_cents").cast("double") / 100.0).as("prev_revenue"),
        when(col("prev_cents") > 0,
          r6((col("cents") - col("prev_cents")).cast("double") * 100.0 /
            col("prev_cents").cast("double"))).as("yoy_pct"))
      .orderBy(col("nation"), col("year"))
  }

  lazy val whYoySql: String = s"""
WITH o AS (
  SELECT o_custkey,
    CAST(strftime(CAST(o_orderdate AS DATE), '%Y') AS INTEGER) AS year,
    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), g AS (
  SELECT n.n_name AS nation, o.year,
    COUNT(*) AS n_orders, CAST(SUM(o.cents) AS BIGINT) AS cents
  FROM o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
), lagged AS (
  SELECT nation, year, n_orders, cents,
    CASE WHEN lag(year) OVER (PARTITION BY nation ORDER BY year)
      = year - 1 THEN
      lag(cents) OVER (PARTITION BY nation ORDER BY year) END
      AS prev_cents
  FROM g
)
SELECT nation, year, n_orders,
  ${r6Sql("(CAST(cents AS DOUBLE) / 100.0)")} AS revenue,
  ${r6Sql("(CAST(prev_cents AS DOUBLE) / 100.0)")} AS prev_revenue,
  CASE WHEN prev_cents > 0 THEN
    ${r6Sql("(CAST(cents - prev_cents AS DOUBLE) * " +
      "CAST(100.0 AS DOUBLE) / CAST(prev_cents AS DOUBLE))")}
  END AS yoy_pct
FROM lagged ORDER BY nation, year"""

  // ------------------------------------------------------------------
  // prof_heavy_hitters — Misra–Gries frequent-keys sketch
  // ------------------------------------------------------------------

  /** Sketch capacity (tracked keys per partial). */
  val HhCap = 32

  /** Bounded-memory frequent-keys profile of the fact table's part
    * key: ONE pass with the custom [[graft.functions.MisraGries]]
    * aggregate (at most [[HhCap]] counters per partial, mergeable),
    * reporting each surfaced key's lower-bound count beside the
    * n/(cap+1) guarantee threshold — the skew-profiling primitive for
    * columns whose exact top-k ([[profTopk]]) would need a full
    * (key, count) shuffle. At 100 TB: partials are 32 counters per
    * task regardless of key cardinality; the shuffle carries sketches,
    * never keys.
    *
    * Rows-only for the oracle gate BY NATURE (element selection
    * depends on partition boundaries, like the HLL twins); the
    * sketch's two guarantees — no false negatives above threshold,
    * counters undercount by ≤ n/(cap+1) — are pinned against exact
    * counts in AnalyticsSpec, including under a repartition.
    */
  def profHeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.read(spark, sfDir, "lineitem")
      .select(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        graft.functions.MisraGries.sketch(col("l_partkey"), HhCap)
          .as("sk"))
      .select(col("n"), posexplode(col("sk")).as(Seq("idx", "e")))
      .select((col("idx") + 1).as("rank"),
        col("e.key").as("partkey"),
        col("e.count").as("est_count"),
        col("n").as("n_rows"),
        r6(col("n").cast("double") / (HhCap + 1))
          .as("guarantee_threshold"))
      .orderBy(col("rank"))
  }

  // ------------------------------------------------------------------
  // wh_small_orders — small-quantity order revenue (TPC-H Q17 shape)
  // ------------------------------------------------------------------

  /** Per brand: line count and revenue of small-quantity lineitems —
    * quantity under 20% of the PART's own average — and the
    * classical averaged-over-7-years readout. The TPC-H Q17 shape:
    * a correlated scalar subquery (per-part average) decorrelated
    * into a grouped moment relation re-joined to the fact table —
    * the one decision-support shape the warehouse family didn't yet
    * exercise under the oracle hash.
    *
    * Exactness: the threshold compare never leaves int64 —
    * `q < 0.2·avg(q)` is cross-multiplied to `5·q100·n < Σq100` on
    * centiquantities (no integrality assumption, no float); headroom
    * holds to ~10^11 lines per part. Revenue is the usual exact cent
    * sum; the single float chain is the r6'd `/100/7` readout.
    *
    * Scale shape: two passes over lineitem — the per-part moment agg
    * and the re-join — BOTH partial-agg'd equi-shuffles on the same
    * key (one exchange reusable under AQE). The part dim is NOT
    * force-broadcast: part grows linearly with SF (~20M rows at
    * SF100, past any sane broadcast threshold), so the join is left
    * to AQE — it auto-broadcasts below the threshold and falls back
    * to a shuffle join above it. Nothing correlates per-row; the
    * decorrelation IS the plan.
    */
  def whSmallOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_quantity") * 100).cast("long").as("q100"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
    val pq = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"), sum(col("q100")).cast("long").as("sum_q"))
    val p = Tables.read(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_brand"))
    li.join(pq, "l_partkey")
      .filter(col("q100") * col("n") * 5 < col("sum_q"))
      .join(p, col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small_lines"),
        sum(col("cents")).cast("long").as("c"))
      .select(col("p_brand"), col("n_small_lines"),
        r6(col("c").cast("double") / 100.0).as("small_revenue"),
        r6(col("c").cast("double") / 100.0 / 7.0).as("avg_yearly_revenue"))
      .orderBy(col("p_brand"))
  }

  lazy val whSmallOrdersSql: String = s"""
WITH li AS (
  SELECT l_partkey,
    CAST(round(l_quantity * 100) AS BIGINT) AS q100,
    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
), pq AS (
  SELECT l_partkey, COUNT(*) AS n, CAST(SUM(q100) AS BIGINT) AS sum_q
  FROM li GROUP BY l_partkey
), g AS (
  SELECT p.p_brand, COUNT(*) AS n_small_lines,
    CAST(SUM(li.cents) AS BIGINT) AS c
  FROM li
  JOIN pq ON pq.l_partkey = li.l_partkey
  JOIN part p ON p.p_partkey = li.l_partkey
  WHERE li.q100 * pq.n * 5 < pq.sum_q
  GROUP BY p.p_brand
)
SELECT p_brand, n_small_lines,
  ${r6Sql("(CAST(c AS DOUBLE) / 100.0)")} AS small_revenue,
  ${r6Sql("(CAST(c AS DOUBLE) / 100.0 / 7.0)")} AS avg_yearly_revenue
FROM g ORDER BY p_brand"""

  // ------------------------------------------------------------------
  // wh_idle_customers — recency anti-join census (TPC-H Q22 shape)
  // ------------------------------------------------------------------

  /** A customer with no order in this many trailing days is idle. */
  val IdleDays = 90

  /** Per market segment: positive-balance customers with NO order in
    * the trailing [[IdleDays]] window of the data span, and the
    * account balance parked with them — the re-engagement /
    * churn-risk money readout (TPC-H Q22's question with a recency
    * window instead of never-ordered, which this fixture's saturated
    * customer base would render vacuous). The shape this adds to the
    * oracle-hashed set is the LEFT ANTI join — the semi-join family's
    * other half (`q02` hashes the IN-subquery semi side; loads use
    * anti joins but only under spec cover).
    *
    * Exactness: date arithmetic is exact (max-date anchor minus an
    * int literal, date compares both engines); balances are exact
    * cent sums with the one r6'd float readout.
    *
    * Scale shape: the recency anchor is a 1-row broadcast (the
    * wh_pricing pattern — no driver collect); recent buyers reduce
    * to a distinct custkey relation BEFORE the anti join (partial-
    * agg'd, bounded by active customers); the anti join is an
    * equi-join on custkey that broadcasts when recent-buyers is
    * small and shuffles by key when it isn't — either way no row
    * explodes, a non-match just passes through.
    */
  def whIdleCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
    val mx = o.agg(max(col("od")).as("mxd"))
    val recent = o.crossJoin(broadcast(mx))
      .filter(col("od") > date_sub(col("mxd"), IdleDays))
      .select(col("o_custkey")).distinct()
    Tables.read(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      .filter(col("bal_cents") > 0)
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_idle"),
        sum(col("bal_cents")).cast("long").as("c"))
      .select(col("c_mktsegment"), col("n_idle"),
        r6(col("c").cast("double") / 100.0).as("idle_balance"))
      .orderBy(col("c_mktsegment"))
  }

  lazy val whIdleCustomersSql: String = s"""
WITH o AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS od FROM orders
), mx AS (
  SELECT max(od) AS mxd FROM o
), recent AS (
  SELECT DISTINCT o.o_custkey FROM o, mx
  WHERE o.od > mx.mxd - $IdleDays
), g AS (
  SELECT c.c_mktsegment, COUNT(*) AS n_idle,
    CAST(SUM(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS c
  FROM customer c
  WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) > 0
    AND NOT EXISTS (
      SELECT 1 FROM recent r WHERE r.o_custkey = c.c_custkey)
  GROUP BY c.c_mktsegment
)
SELECT c_mktsegment, n_idle,
  ${r6Sql("(CAST(c AS DOUBLE) / 100.0)")} AS idle_balance
FROM g ORDER BY c_mktsegment"""

  // ------------------------------------------------------------------
  // wh_priority_sla — late-fulfillment rate per order priority (Q4 shape)
  // ------------------------------------------------------------------

  /** An order is SLA-late when any of its line items ships this many
    * days after the order date.
    */
  val SlaDays = 90

  /** Per order priority: orders, SLA-late orders (ANY line item past
    * [[SlaDays]]), the late rate, and the worst lag — TPC-H Q4's
    * question (does priority actually buy fulfillment speed?) on the
    * one orders dimension the warehouse family hadn't consumed.
    * "Any line item" is the EXISTS semantics, expressed as a
    * conditional DISTINCT over the join (one aggregate computes both
    * the order universe and its late subset — no second scan, no
    * semi-join branch to keep consistent with the universe count).
    *
    * Negative lags exist in this synthetic fixture (ship and order
    * dates are independently generated); the query reports them
    * through min/max honestly rather than filtering — an SLA readout
    * that silently dropped impossible rows would hide the very feed
    * defect `ev_dq`/`wh_dq` exist to surface.
    *
    * Scale shape: the standard orders⋈lineitem equi-join (bucketed
    * co-location applies when materialized), then ONE
    * partial-agg'd reduce to the 5-row priority relation. The two
    * DISTINCTs share one orderkey-grain Expand — bounded by orders,
    * not line items, after partial aggregation.
    */
  def whPrioritySla(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        unix_date(to_date(col("o_orderdate"))).as("oday"))
    val li = Tables.read(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        unix_date(to_date(col("l_shipdate"))).as("sday"))
    o.join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"), col("o_orderkey"),
        (col("sday") - col("oday")).cast("long").as("lag"))
      .groupBy(col("priority"))
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        countDistinct(when(col("lag") > SlaDays, col("o_orderkey")))
          .as("n_late_orders"),
        min(col("lag")).as("min_lag_days"),
        max(col("lag")).as("max_lag_days"))
      .select(col("priority"), col("n_orders"), col("n_late_orders"),
        r6(col("n_late_orders").cast("double") / col("n_orders"))
          .as("late_rate"),
        col("min_lag_days"), col("max_lag_days"))
      .orderBy(col("priority"))
  }

  lazy val whPrioritySlaSql: String = s"""
WITH j AS (
  SELECT o.o_orderpriority AS priority, o.o_orderkey,
    CAST(CAST(li.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
      AS BIGINT) AS lag
  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
), g AS (
  SELECT priority,
    COUNT(DISTINCT o_orderkey) AS n_orders,
    COUNT(DISTINCT CASE WHEN lag > $SlaDays THEN o_orderkey END)
      AS n_late_orders,
    MIN(lag) AS min_lag_days,
    MAX(lag) AS max_lag_days
  FROM j GROUP BY priority
)
SELECT priority, n_orders, n_late_orders,
  ${r6Sql("(CAST(n_late_orders AS DOUBLE) / n_orders)")} AS late_rate,
  min_lag_days, max_lag_days
FROM g ORDER BY priority"""

  // ------------------------------------------------------------------
  // prof_heavy_hitters_exact — the sketch in its exact regime
  // ------------------------------------------------------------------

  /** Capacity for the exact-regime run: with cap ≥ the column's
    * distinct-key count the Misra–Gries decrement step and the merge
    * subtraction NEVER fire (a partial's buffer only grows while
    * `size < cap`), so every counter is the true frequency and the
    * sketch degenerates to exact counting — the classical property
    * the spec pins locally, here taken to its limit so no domain
    * assumption is needed at any SF. Buffer memory is bounded by the
    * DISTINCT keys actually seen, not by the cap, so the huge literal
    * costs nothing.
    */
  val HhExactCap = Int.MaxValue

  /** [[profHeavyHitters]]'s hash-verifiable twin: the SAME custom
    * [[graft.functions.MisraGries]] TypedImperativeAggregate run end
    * to end — update, serialize, merge, eval — at [[HhExactCap]],
    * where its output is provably the exact (key, count) table sorted
    * count-desc, key-asc. This gives the custom aggregate a driver
    * hash row against a plain GROUP BY oracle every round (the
    * shipped sketch entry is rows-only BY NATURE), completing the
    * calibration-baseline pattern the banded dedup families use:
    * ship the bounded-memory form AND the exact form it must agree
    * with in the regime where they coincide.
    *
    * At 100 TB this entry is the exact-counting cost the [[HhCap]]
    * sketch exists to avoid (state = the full distinct-key map) —
    * a calibration baseline, not the production path.
    */
  def profHeavyHittersExact(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.read(spark, sfDir, "lineitem")
      .select(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        graft.functions.MisraGries.sketch(col("l_partkey"), HhExactCap)
          .as("sk"))
      .select(col("n"), posexplode(col("sk")).as(Seq("idx", "e")))
      .select((col("idx") + 1).cast("long").as("rank"),
        col("e.key").as("partkey"),
        col("e.count").as("cnt"),
        col("n").as("n_rows"))
      .orderBy(col("rank"))
  }

  /** Oracle: plain exact counts with the sketch's eval-time ordering
    * (count desc, key asc) — agreeing with it end-to-end is the
    * degenerate-regime contract.
    */
  lazy val profHeavyHittersExactSql: String = """
WITH c AS (
  SELECT l_partkey AS partkey, COUNT(*) AS cnt
  FROM lineitem GROUP BY l_partkey
), t AS (
  SELECT COUNT(*) AS n_rows FROM lineitem
)
SELECT CAST(row_number() OVER (ORDER BY c.cnt DESC, c.partkey) AS BIGINT)
    AS rank,
  c.partkey, c.cnt, t.n_rows
FROM c, t ORDER BY rank"""

  // ------------------------------------------------------------------
  // ev_power — experiment power / minimal-detectable-effect readout
  // ------------------------------------------------------------------

  /** z_{α/2} for α = 0.05 plus z_β for power 0.8 — the standard
    * two-sided 5% / 80% design constants, summed once here so both
    * engines consume ONE literal.
    */
  val PowerZSum = 1.959964 + 0.841621

  /** Pre-experiment power readout per event type: from the metric's
    * own exact moments, the minimal detectable effect an equal-split
    * A/B test over the CURRENT population could resolve (α=0.05
    * two-sided, power 0.8), and the per-arm sample size a 1% relative
    * lift would need — the "is this experiment even worth running"
    * gate that belongs in front of `ev_abtest`'s post-hoc verdict.
    *
    * Exactness: the same decimal(38,0) cent-moment fold as
    * `ev_abtest`/`prof_moments`; each moment converts ONCE through
    * the correctly-rounded decimal→double path and the derived
    * statistics are fixed-arity float expressions shared verbatim
    * between the engines (sqrt is IEEE correctly-rounded on both).
    * `mde_abs = z·sd·sqrt(4/n)` is the equal-arm (m = n/2) standard
    * error shape; `n_per_arm_1pct = 2·z²·var/δ²` with δ = mean/100.
    *
    * Scale shape: ONE partial-agg'd shuffle of per-type moment rows;
    * nothing downstream scales with events.
    */
  def evPower(spark: SparkSession, sfDir: String): DataFrame = {
    val e = StreamingStats.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").cast(M38).as("v"))
    val m = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("s"),
      sum(col("v") * col("v")).as("ss"))
    val nD = col("n").cast("double")
    val meanC = col("s").cast("double") / nD
    // sample variance in cents² from exact moments
    val varC = (col("n").cast(M38) * col("ss") - col("s") * col("s"))
      .cast("double") / (nD * (col("n") - 1).cast("double"))
    val sd = sqrt(varC) / 100.0
    val mdeAbs = lit(PowerZSum) * sd * sqrt(lit(4.0) / nD)
    val delta = meanC / 100.0
    val nPerArm = (lit(2.0 * PowerZSum * PowerZSum) * varC) /
      (delta * delta)
    m.select(col("event_type"), col("n"),
        r6(meanC / 100.0).as("mean_value"),
        when(col("n") > 1, r6(sd)).as("sd_value"),
        when(col("n") > 1, r6(mdeAbs)).as("mde_abs"),
        when(col("n") > 1 && col("s") > 0,
          r6(mdeAbs / (meanC / 100.0))).as("mde_rel"),
        when(col("n") > 1 && col("s") > 0, r6(nPerArm))
          .as("n_per_arm_1pct"))
      .orderBy(col("event_type"))
  }

  lazy val evPowerSql: String = {
    val meanC = s"(${dblSql("s")} / n)"
    val varC = s"(${dblSql(s"(CAST(n AS HUGEINT) * ss - s * s)")} / " +
      s"(CAST(n AS DOUBLE) * (n - 1)))"
    val sd = s"(sqrt($varC) / 100.0)"
    val mdeAbs = s"($PowerZSum * $sd * sqrt(4.0 / CAST(n AS DOUBLE)))"
    val delta = s"($meanC / 100.0)"
    val nPerArm = s"((${2.0 * PowerZSum * PowerZSum} * $varC) / " +
      s"($delta * $delta))"
    s"""
WITH e AS (
  SELECT event_type,
    CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS v
  FROM events
), m AS (
  SELECT event_type, COUNT(*) AS n,
    SUM(v) AS s, SUM(v * v) AS ss
  FROM e GROUP BY event_type
)
SELECT event_type, n,
  ${r6Sql(s"($meanC / 100.0)")} AS mean_value,
  CASE WHEN n > 1 THEN ${r6Sql(sd)} END AS sd_value,
  CASE WHEN n > 1 THEN ${r6Sql(mdeAbs)} END AS mde_abs,
  CASE WHEN n > 1 AND s > 0 THEN
    ${r6Sql(s"($mdeAbs / ($meanC / 100.0))")} END AS mde_rel,
  CASE WHEN n > 1 AND s > 0 THEN ${r6Sql(nPerArm)} END
    AS n_per_arm_1pct
FROM m ORDER BY event_type"""
  }

  // ------------------------------------------------------------------
  // wh_zorder — space-filling-curve layout vs single-dim sorts,
  // measured by min/max file pruning
  // ------------------------------------------------------------------

  /** File count per candidate layout. */
  val ZorderFiles = 64

  /** Bits per dimension in the interleave (256 value buckets). */
  val ZorderBits = 8

  /** Z-ORDER LAYOUT EVALUATION — the data-layout decision that governs
    * 100 TB scan cost. Parquet prunes row groups by min/max footers;
    * which predicates prune depends entirely on how rows were
    * ORGANIZED into files. This query lays `orders` out three ways —
    * z-order on (custkey, order day), time-sorted, key-sorted — and
    * measures, against a deterministic 24-query workload grid (16
    * two-dim range queries + 4 per single dim), the fraction of files
    * each layout lets a min/max-pruning scanner skip. The readout a
    * table owner acts on: single-dim sorts win their own axis and
    * prune NOTHING on the other; z-order pays a little on each axis to
    * prune on both.
    *
    * Mechanics (all-integer; one definition of the bit interleave
    * rendered per engine via [[zInterleaveWith]], the ExactRank
    * div-`//` twin): each dim buckets to [[ZorderBits]] bits by
    * `((x−mn)·256) div span`; the z-value interleaves custkey bits
    * into odd, day bits into even positions; files are equal-width
    * ranges of each layout key (`(key·F) div keyspace`) — MAP-SIDE
    * assignment, no global sort anywhere (a production writer range-
    * partitions to balance file sizes; equal-width ranges measure the
    * same pruning geometry without the shuffle). Per (layout, file):
    * min/max of both dims — exactly what a parquet footer stores.
    * The stats×workload check is a constant-size BNLJ (3·64 files ×
    * 24 queries, PlanLint-allowlisted).
    */
  def whZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.read(spark, sfDir, "orders")
      .select(col("o_custkey").as("c"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).cast("long")
          .as("d"))
    val anchor = base.agg(
      min(col("c")).as("mnc"), max(col("c")).as("mxc"),
      min(col("d")).as("mnd"), max(col("d")).as("mxd"))
    val spanC = "(mxc - mnc + 1)"
    val spanD = "(mxd - mnd + 1)"
    val bc = s"(((c - mnc) * ${1 << ZorderBits}) div $spanC)"
    val bd = s"(((d - mnd) * ${1 << ZorderBits}) div $spanD)"
    val z = zInterleave(bc, bd)
    val files = base.crossJoin(broadcast(anchor)) // 1-row anchor
      .select(col("c"), col("d"),
        expr(s"((($z) * $ZorderFiles) div ${1 << (2 * ZorderBits)})")
          .as("fz"),
        expr(s"(((d - mnd) * $ZorderFiles) div $spanD)").as("ft"),
        expr(s"(((c - mnc) * $ZorderFiles) div $spanC)").as("fk"))
      .select(col("c"), col("d"), expr(
        "stack(3, 'zorder', fz, 'time_sorted', ft, 'key_sorted', fk)" +
          " AS (layout, f)"))
    val stats = files.groupBy(col("layout"), col("f"))
      .agg(min(col("c")).as("fmnc"), max(col("c")).as("fmxc"),
        min(col("d")).as("fmnd"), max(col("d")).as("fmxd"))
    import spark.implicits._
    val combos =
      (for (i <- 0 until 4; j <- 0 until 4) yield ("both", i, j)) ++
        (0 until 4).map(i => ("cust", i, -1)) ++
        (0 until 4).map(j => ("date", -1, j))
    val qgrid = combos.toDF("workload", "qi", "qj")
      .crossJoin(broadcast(anchor))
      .select(col("workload"), col("qi"), col("qj"),
        expr(s"mnc + ($spanC * qi) div 4").as("clo"),
        expr(s"mnc + ($spanC * (qi + 1)) div 4 - 1").as("chi"),
        expr(s"mnd + ($spanD * qj) div 4").as("dlo"),
        expr(s"mnd + ($spanD * (qj + 1)) div 4 - 1").as("dhi"))
    stats.crossJoin(qgrid) // constant-size: 3·64 files × 24 queries
      .withColumn("scanned",
        (col("workload") === "date" ||
          (col("fmxc") >= col("clo") && col("fmnc") <= col("chi"))) &&
          (col("workload") === "cust" ||
            (col("fmxd") >= col("dlo") && col("fmnd") <= col("dhi"))))
      .groupBy(col("layout"), col("workload"))
      .agg(
        countDistinct(col("f")).as("n_files"),
        countDistinct(col("qi"), col("qj")).as("n_queries"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("files_scanned"))
      .select(col("layout"), col("workload"), col("n_files"),
        col("n_queries"), col("files_scanned"),
        r6(col("files_scanned").cast("double") /
          (col("n_files") * col("n_queries"))).as("scan_fraction"))
      .orderBy(col("layout"), col("workload"))
  }

  /** Bit interleave of two [[ZorderBits]]-bit values as pure integer
    * arithmetic (no dialect bit operators): bit i of `a` lands at
    * position 2i+1, of `b` at 2i. ONE generator; the two renderings
    * differ only in the integer-division spelling (Spark `div`,
    * DuckDB `//` — identical on non-negatives, the ExactRank twin).
    */
  private def zInterleaveWith(a: String, b: String,
      idiv: (String, String) => String): String =
    (0 until ZorderBits).map { i =>
      val (pa, pb) = (1L << (2 * i + 1), 1L << (2 * i))
      s"((${idiv(a, (1L << i).toString)} % 2) * $pa" +
        s" + (${idiv(b, (1L << i).toString)} % 2) * $pb)"
    }.mkString("(", " + ", ")")

  private def zInterleave(a: String, b: String): String =
    zInterleaveWith(a, b, (x, y) => s"(($x) div $y)")

  private def zInterleaveSql(a: String, b: String): String =
    zInterleaveWith(a, b, (x, y) => s"(($x) // $y)")

  lazy val whZorderSql: String = {
    val spanC = "(mxc - mnc + 1)"
    val spanD = "(mxd - mnd + 1)"
    val bc = s"(((c - mnc) * ${1 << ZorderBits}) // $spanC)"
    val bd = s"(((d - mnd) * ${1 << ZorderBits}) // $spanD)"
    val z = zInterleaveSql(bc, bd)
    s"""
WITH base AS (
  SELECT o_custkey AS c,
    CAST(date_diff('day', DATE '1995-01-01',
      CAST(o_orderdate AS DATE)) AS BIGINT) AS d
  FROM orders
), anchor AS (
  SELECT MIN(c) AS mnc, MAX(c) AS mxc, MIN(d) AS mnd, MAX(d) AS mxd
  FROM base
), keyed AS (
  SELECT c, d,
    ((($z) * $ZorderFiles) // ${1 << (2 * ZorderBits)}) AS fz,
    (((d - mnd) * $ZorderFiles) // $spanD) AS ft,
    (((c - mnc) * $ZorderFiles) // $spanC) AS fk
  FROM base CROSS JOIN anchor
), files AS (
  SELECT 'zorder' AS layout, fz AS f, c, d FROM keyed
  UNION ALL SELECT 'time_sorted', ft, c, d FROM keyed
  UNION ALL SELECT 'key_sorted', fk, c, d FROM keyed
), stats AS (
  SELECT layout, f, MIN(c) AS fmnc, MAX(c) AS fmxc,
    MIN(d) AS fmnd, MAX(d) AS fmxd
  FROM files GROUP BY layout, f
), qgrid AS (
  SELECT 'both' AS workload, i.range AS qi, j.range AS qj
  FROM range(0, 4) i CROSS JOIN range(0, 4) j
  UNION ALL SELECT 'cust', i.range, -1 FROM range(0, 4) i
  UNION ALL SELECT 'date', -1, j.range FROM range(0, 4) j
), queries AS (
  SELECT workload, qi, qj,
    mnc + ($spanC * qi) // 4 AS clo,
    mnc + ($spanC * (qi + 1)) // 4 - 1 AS chi,
    mnd + ($spanD * qj) // 4 AS dlo,
    mnd + ($spanD * (qj + 1)) // 4 - 1 AS dhi
  FROM qgrid CROSS JOIN anchor
), checked AS (
  SELECT s.layout, q.workload, s.f, q.qi, q.qj,
    CASE WHEN (q.workload = 'date'
        OR (s.fmxc >= q.clo AND s.fmnc <= q.chi))
      AND (q.workload = 'cust'
        OR (s.fmxd >= q.dlo AND s.fmnd <= q.dhi))
    THEN 1 ELSE 0 END AS scanned
  FROM stats s CROSS JOIN queries q
)
SELECT layout, workload,
  COUNT(DISTINCT f) AS n_files,
  COUNT(DISTINCT (qi, qj)) AS n_queries,
  CAST(SUM(scanned) AS BIGINT) AS files_scanned,
  ${r6Sql("""(CAST(SUM(scanned) AS DOUBLE)
    / (COUNT(DISTINCT f) * COUNT(DISTINCT (qi, qj))))""")} AS scan_fraction
FROM checked
GROUP BY layout, workload
ORDER BY layout, workload"""
  }

  // ------------------------------------------------------------------
  // wh_compaction — small-file bin-packing plan (the nightly table job)
  // ------------------------------------------------------------------

  /** Target rows per compacted output file. */
  val CompactTargetRows = 4096L

  /** SMALL-FILE COMPACTION PLAN — the other half of the layout tier
    * (wh_zorder decides HOW rows sort inside files; this decides which
    * small files to COALESCE — the nightly bin-pack job every
    * Iceberg/Delta table service runs, because a day-partitioned fact
    * table accretes one under-sized file per partition per load and
    * scan cost degrades with file COUNT, not bytes): the manifest —
    * one entry per ship-day with its row count (rows are the size
    * proxy the fixture affords; bytes plug into the same plan) — is
    * packed IN TIME ORDER into bins of [[CompactTargetRows]]: bin =
    * running-rows-before div target, the linear packing that
    * PRESERVES temporal clustering (a size-sorted first-fit would
    * interleave eras and undo partition pruning — the documented
    * trade; Spark's own FilePartition packer makes the same
    * linearity-for-locality choice). Per bin: input-file count, rows,
    * covered day span, and fill ratio — the readout a table owner
    * checks before firing the rewrite.
    *
    * Scale shape: the corpus-sized work is ONE partial-agg'd groupBy
    * to the day-grain manifest; the cumulative pack runs on the
    * MANIFEST (≤ days rows, never the fact table) — the ev_gaps
    * census-then-window discipline, so the single-partition window is
    * bounded by the calendar, not the data.
    */
  def whCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val files = Tables.read(spark, sfDir, "lineitem")
      .select(to_date(col("l_shipdate")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("rows"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before",
        coalesce(sum(col("rows")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $CompactTargetRows"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("rows")).as("rows"),
        min(col("day")).cast("string").as("first_day"),
        max(col("day")).cast("string").as("last_day"))
      .select(col("bin"), col("n_files"), col("rows"),
        col("first_day"), col("last_day"),
        r6(col("rows").cast("double") / CompactTargetRows.toDouble)
          .as("fill"))
      .orderBy(col("bin"))
  }

  lazy val whCompactionSql: String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH files AS (
  SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS rows
  FROM lineitem GROUP BY day
), packed AS (
  SELECT day, rows,
    CAST(COALESCE(SUM(rows) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      // $CompactTargetRows AS bin
  FROM files
)
SELECT bin, COUNT(*) AS n_files, CAST(SUM(rows) AS BIGINT) AS rows,
  CAST(MIN(day) AS VARCHAR) AS first_day,
  CAST(MAX(day) AS VARCHAR) AS last_day,
  ${r6Sql(s"(CAST(SUM(rows) AS DOUBLE) / $CompactTargetRows.0)")}
    AS fill
FROM packed
GROUP BY bin
ORDER BY bin"""
  }
}
