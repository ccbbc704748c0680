package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.RedditModel

/** The reference's full analytical query surface (analysis.sql:1-184,
  * 15 queries + 1 view) plus the pipeline's own daily-stats aggregation
  * (script.py:259-286), re-expressed as Catalyst logical plans via the
  * DataFrame API. One function per query; each has a matching DuckDB
  * oracle in [[RefOracle]].
  *
  * Determinism rules shared with the oracle:
  *  - every ORDER BY is a total order (unique tie-break key appended);
  *  - every floating aggregate is rounded to 6 decimals ON BOTH SIDES;
  *  - integer means are computed as sum/count (exact, partition-order
  *    independent) rather than a floating accumulation;
  *  - timestamps in outputs are emitted as epoch millis (BIGINT).
  */
object RefQueries {

  /** See [[graft.functions.Determinism.r6]] — rounds to 6 decimals and
    * normalizes IEEE -0.0; applied to EVERY float output on both sides.
    */
  private[queries] def r6(c: Column): Column = graft.functions.Determinism.r6(c)

  /** Exact mean of an integral column: sum is a Long (deterministic),
    * single division at the end. Matches oracle `CAST(SUM(x) AS
    * DOUBLE)/COUNT(x)`.
    */
  private def avgI(c: Column): Column =
    r6(sum(c).cast("double") / count(c))

  /** Mean of a double column (rounded; tiny partial-agg reorder noise is
    * far below 1e-6 for these magnitudes).
    */
  private def avgF(c: Column): Column = r6(avg(c))

  /** Epoch millis of a (NTZ) timestamp. The fixtures' parquet timestamps
    * are timezone-naive (Spark reads them as TIMESTAMP_NTZ); the session
    * TZ is pinned UTC, so the NTZ→LTZ cast interprets them as UTC —
    * exactly what DuckDB's `epoch_ms` does with its naive TIMESTAMP.
    */
  private def epochMs(c: Column): Column = unix_millis(c.cast("timestamp"))

  /** NTZ timestamp literal (matches the fixtures' column type). */
  private def tsNtz(s: String): Column = lit(s).cast("timestamp_ntz")

  private def posts(spark: SparkSession, sfDir: String): DataFrame =
    RedditModel.posts(spark, sfDir)

  private def comments(spark: SparkSession, sfDir: String): DataFrame =
    RedditModel.comments(spark, sfDir)

  /** Q1 — per-subreddit overview (analysis.sql:5-15): multi-agg groupBy. */
  def q01Overview(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"subreddit")
      .agg(
        count(lit(1)).as("total_posts"),
        avgI($"score").as("avg_score"),
        avgI($"num_comments").as("avg_comments"),
        max($"score").as("highest_score"),
        min($"score").as("lowest_score"))
      .orderBy($"total_posts".desc, $"subreddit")

  /** Q2 — top post(s) per subreddit (analysis.sql:17-32): the correlated
    * `score IN (SELECT MAX(score) ...)` groupwise-max, kept as a join
    * against the per-group max so ties are preserved exactly like the
    * IN-form. The 5-row max side is auto-broadcast.
    */
  def q02TopPosts(spark: SparkSession, sfDir: String): DataFrame = {
    val p = posts(spark, sfDir)
    val mx = p.groupBy($"subreddit".as("mx_subreddit"))
      .agg(max($"score").as("max_score"))
    p.join(broadcast(mx),
        p("subreddit") === mx("mx_subreddit") && p("score") === mx("max_score"))
      .select(p("subreddit"), p("title"), p("author"), p("score"),
        p("num_comments"), p("upvote_ratio"),
        epochMs(p("created_utc")).as("created_ms"), p("id"))
      .orderBy($"score".desc, $"id")
  }

  /** Q3 — posting patterns by hour (analysis.sql:34-42). */
  def q03ByHour(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"hour_posted")
      .agg(
        count(lit(1)).as("post_count"),
        avgI($"score").as("avg_score"),
        avgI($"num_comments").as("avg_comments"))
      .orderBy($"hour_posted")

  /** Q4 — patterns by weekday, Monday=0 (analysis.sql:44-60); simple CASE
    * with no ELSE → NULL off-range (F4).
    */
  def q04ByWeekday(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"day_of_week")
      .agg(
        count(lit(1)).as("post_count"),
        avgI($"score").as("avg_score"))
      .withColumn("day_name",
        when($"day_of_week" === 0, "Monday")
          .when($"day_of_week" === 1, "Tuesday")
          .when($"day_of_week" === 2, "Wednesday")
          .when($"day_of_week" === 3, "Thursday")
          .when($"day_of_week" === 4, "Friday")
          .when($"day_of_week" === 5, "Saturday")
          .when($"day_of_week" === 6, "Sunday"))
      .select($"day_of_week", $"day_name", $"post_count", $"avg_score")
      .orderBy($"day_of_week")

  /** Q5 — most active authors (analysis.sql:62-73, the commented-out
    * query, with its syntax fixed): filter + groupBy + HAVING + top-k.
    */
  def q05ActiveAuthors(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .filter($"author" =!= "[deleted]")
      .groupBy($"author")
      .agg(
        count(lit(1)).as("post_count"),
        avgI($"score").as("avg_score"),
        sum($"num_comments").as("total_comments_received"))
      .filter($"post_count" > 1)
      .orderBy($"post_count".desc, $"avg_score".desc, $"author")
      .limit(20)

  /** Q6 — content type analysis (analysis.sql:75-84): conditional sums. */
  def q06ContentTypes(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"subreddit")
      .agg(
        sum(when($"is_video", 1).otherwise(0)).as("video_posts"),
        sum(when($"has_selftext", 1).otherwise(0)).as("text_posts"),
        sum(when($"is_original_content", 1).otherwise(0)).as("oc_posts"),
        sum(when($"over_18", 1).otherwise(0)).as("nsfw_posts"),
        count(lit(1)).as("total_posts"))
      .orderBy($"subreddit")

  /** Q7 — engagement by score category (analysis.sql:86-95); the
    * category string sorts lexically, matching SQLite TEXT order.
    * upvote_ratio is exact 2-decimal → averaged via an integer-cents
    * sum (order-free); engagement_rate is a true rational and keeps the
    * double avg (its ~1-magnitude values leave ~1e-13 partial-agg
    * noise against the 1e-6 rounding grid).
    */
  def q07Engagement(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"subreddit", $"score_category")
      .agg(
        count(lit(1)).as("post_count"),
        avgF($"engagement_rate").as("avg_engagement_rate"),
        r6(sum(round($"upvote_ratio" * 100).cast("long")).cast("double")
          / 100.0 / count($"upvote_ratio")).as("avg_upvote_ratio"))
      .orderBy($"subreddit", $"score_category")

  /** Q8 — comment coverage (analysis.sql:97-105): LEFT JOIN keeps
    * zero-comment subreddits with COUNT=0 / AVG=NULL (§7.4.7).
    */
  def q08CommentCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val p = posts(spark, sfDir).select($"id", $"subreddit")
    val c = comments(spark, sfDir)
      .select($"id".as("c_id"), $"post_id", $"score".as("c_score"),
        $"author".as("c_author"))
    p.join(c, p("id") === c("post_id"), "left")
      .groupBy($"subreddit")
      .agg(
        count($"c_id").as("total_comments"),
        r6(sum($"c_score").cast("double") / count($"c_score"))
          .as("avg_comment_score"),
        countDistinct($"c_author").as("unique_commenters"))
      .orderBy($"subreddit")
  }

  /** Q9 — top commenters per subreddit (analysis.sql:107-118): the golden
    * query (example.csv): inner join + 2-key group + HAVING >= 3.
    */
  def q09TopCommenters(spark: SparkSession, sfDir: String): DataFrame = {
    val p = posts(spark, sfDir).select($"id", $"subreddit")
    val c = comments(spark, sfDir)
      .filter($"author" =!= "[deleted]")
      .select($"id".as("c_id"), $"post_id", $"score".as("c_score"),
        $"author")
    p.join(c, p("id") === c("post_id"))
      .groupBy($"subreddit", $"author")
      .agg(
        count($"c_id").as("comment_count"),
        avgI($"c_score").as("avg_comment_score"))
      .filter($"comment_count" >= 3)
      .orderBy($"subreddit", $"comment_count".desc, $"author")
  }

  /** Q10 — daily trends (analysis.sql:120-129): 2-key group on a
    * date-truncated timestamp.
    */
  def q10DailyTrends(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy(to_date($"created_utc").cast("string").as("date"), $"subreddit")
      .agg(
        count(lit(1)).as("daily_posts"),
        avgI($"score").as("avg_daily_score"),
        max($"score").as("max_daily_score"))
      .orderBy($"date".desc, $"subreddit")

  /** Q11 — title text insights (analysis.sql:131-138). Runs on the STORED
    * (regex-cleaned) title exactly like the reference — the clean strips
    * '?', so question_rate is structurally 0; faithful by design.
    */
  def q11TitleText(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"subreddit")
      .agg(
        avgI($"title_length").as("avg_title_length"),
        r6(sum(when($"title".like("%?%"), 1).otherwise(0)).cast("double")
          / count(lit(1))).as("question_rate"),
        r6(sum(when(upper($"title") === $"title", 1).otherwise(0))
          .cast("double") / count(lit(1))).as("all_caps_rate"))
      .orderBy($"subreddit")

  /** Pearson correlation of two integer columns from EXACT integer
    * moments: n·Σxy − Σx·Σy over the sqrt of the variance products.
    * Unlike the built-in `corr` (a parallelism-order-sensitive merge of
    * double partials that must coincidentally agree with DuckDB's
    * implementation), every sum here is exact long arithmetic, so the
    * result is bitwise-identical across engines and partitionings.
    * Null x (e.g. selftext_length) excludes the PAIR, matching
    * SQL corr semantics.
    */
  /** Moment sums run in decimal(38,0): long arithmetic would silently
    * wrap n·Σx² once per-group n reaches the billions (score² ~1.4e7 ×
    * 1e12 rows ≈ 1e19 > 2^63) while the DuckDB oracle promotes SUM to
    * HUGEINT — decimal(38,0) gives the same ~1e38 headroom, and at any
    * SF where the long math was exact the doubles (hence hashes) are
    * unchanged. Per-ELEMENT products stay long: |x·y| < 2^63 holds by
    * column domain (scores/lengths/hours).
    */
  private val M = org.apache.spark.sql.types.DecimalType(38, 0)

  private def corrI(x: Column, y: Column): Column = {
    val xl = x.cast("long")
    val yl = when(x.isNotNull, y).cast("long") // pairwise deletion
    val n = count(yl).cast(M)
    def s(c: Column) = sum(c.cast(M))
    val num = (n * s(xl * yl) - s(xl) * s(yl)).cast("double")
    val den = sqrt((n * s(xl * xl) - s(xl) * s(xl)).cast("double") *
      (n * s(yl * yl) - s(yl) * s(yl)).cast("double"))
    r6(num / den)
  }

  /** Q12 — characteristic↔performance correlation (analysis.sql:140-148):
    * Pearson corr ×3 (the reference SQL is aspirational — stock SQLite
    * has no CORR — semantics documented as Pearson, SURVEY A10).
    */
  def q12Correlation(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .filter($"score" > 0)
      .groupBy($"subreddit")
      .agg(
        corrI($"title_length", $"score").as("title_length_score_corr"),
        corrI($"selftext_length", $"score").as("selftext_length_score_corr"),
        corrI($"hour_posted", $"score").as("hour_score_corr"))
      .orderBy($"subreddit")

  /** The reproducible as-of date replacing the reference's wall-clock
    * `DATE('now')` (§7.4.4); 28 days keeps every group ≥2 rows at sf0.01
    * so sample-stddev never hits the n=1 NULL/NaN divergence.
    */
  val weeklyAsOf = "1995-06-01 00:00:00"
  val weeklyFrom = "1995-05-04 00:00:00"

  /** Q13 — weekly performance summary (analysis.sql:150-161): relative
    * date-range filter + stddev + countDistinct.
    */
  def q13Weekly(spark: SparkSession, sfDir: String): DataFrame = {
    // sample stddev from exact integer moments (same rationale as
    // corrI: order-free, engine-algorithm-free, decimal(38,0) sums so
    // n·Σx² can't wrap at large per-group n):
    // sqrt((n·Σx² − (Σx)²) / (n·(n−1)))
    val sl = $"score".cast("long")
    val n = count($"score")
    val nM = n.cast(M)
    val stddevExact = sqrt((nM * sum((sl * sl).cast(M)) -
      sum(sl.cast(M)) * sum(sl.cast(M)))
      .cast("double") / (nM * (nM - 1)).cast("double"))
    posts(spark, sfDir)
      .filter($"created_utc" >= tsNtz(weeklyFrom) &&
        $"created_utc" < tsNtz(weeklyAsOf))
      .groupBy($"subreddit")
      .agg(
        count(lit(1)).as("posts_this_week"),
        avgI($"score").as("avg_score"),
        when(count(lit(1)) >= 2, r6(stddevExact)).as("score_std_dev"),
        avgI($"num_comments").as("avg_comments"),
        countDistinct($"author").as("unique_authors"))
      .orderBy($"avg_score".desc, $"subreddit")
  }

  /** Q14 — content quality indicators (analysis.sql:163-170): conditional
    * AVG with implicit ELSE NULL (A7) and boolean-sum percentage (F5/F6).
    */
  def q14Quality(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .groupBy($"subreddit")
      .agg(
        r6(sum(when($"is_original_content", $"score")).cast("double")
          / count(when($"is_original_content", $"score")))
          .as("avg_oc_score"),
        r6(sum(when(!$"is_original_content", $"score")).cast("double")
          / count(when(!$"is_original_content", $"score")))
          .as("avg_non_oc_score"),
        r6(sum($"is_original_content".cast("int")).cast("double")
          * 100.0 / count(lit(1))).as("oc_percentage"))
      .orderBy($"subreddit")

  /** Q15 — the `post_performance` view (analysis.sql:172-183), built
    * and registered as a temp view by the K4 sink
    * ([[graft.sink.Load.createPerformanceView]]).
    */
  def q15PerformanceView(spark: SparkSession, sfDir: String): DataFrame =
    graft.sink.Load.createPerformanceView(spark, posts(spark, sfDir))
      .orderBy($"subreddit", $"rank_in_subreddit", $"id")

  /** Climb cap — generous over any real thread (Reddit's own UI nests
    * ~10 levels); a cycle in a corrupted feed terminates here instead
    * of looping forever.
    */
  val ThreadDepthCap = 32

  /** Q16 — comment-THREAD tree analytics: the one reference-schema
    * capability its own 15 queries never exercise. The reference
    * stores `comments.parent_id` (script.py's comment projection;
    * `analysis.sql` never reads it) — the field that makes comments a
    * TREE (a Reddit parent_id is the post for top-level comments, a
    * comment id for replies). This query consumes it: per post, the
    * reply-tree rollup a thread view needs — comment count, deepest
    * nesting level, leaf count, and the id of the deepest comment.
    *
    * The fixture's derived comments model parents every comment
    * directly to its post, so the tree edge is derived here from
    * comments columns alone: per post, comments order by (id, score)
    * into positions 1..n; position 1 is the thread root and position
    * p > 1 replies to position `pmod(score+20, p−1) + 1` — a
    * deterministic, DATA-dependent parent in [1, p−1] (acyclic by
    * construction, no orphans: the POSITIVE modulus keeps the parent
    * in range for ANY score, where a sign-of-dividend `%` would
    * orphan nodes with score < −20 — both engines spell the pmod
    * explicitly since DuckDB's `%` follows the dividend's sign),
    * giving varied tree shapes whose
    * depths a closed form cannot predict — the climb is genuinely
    * exercised. Both engines derive the identical edge set. Nodes are
    * keyed (post_id, pos), never id: fixture comment ids COLLIDE
    * (duplicate lineitem (orderkey, linenumber) rows), and an
    * id-keyed climb would hand nodes several parents and multiply the
    * frontier per path.
    *
    * Depth assignment exploits the locality: every parent is a LOWER
    * position in the SAME post, so the rollup is computed by the
    * custom [[graft.functions.ThreadRollup]] aggregate in one
    * aggregation shuffle — no per-level joins, no iteration. Two
    * distributed-graph formulations were implemented and measured
    * first (the per-level frontier walk, kept spec-pinned as
    * [[q16ThreadDepthFrontier]], and pointer doubling — 4.6 s and
    * 5.4 s at sf0.1 vs ~1 s for the aggregate); they remain the
    * documented shapes for trees that cross group boundaries. Oracle:
    * recursive CTE over the same edges. All outputs integer — no
    * float anywhere.
    */
  def q16ThreadDepth(spark: SparkSession, sfDir: String): DataFrame = {
    // The thread tree is PER-POST (every parent is a lower position in
    // the same post), so the whole rollup is ONE aggregation: the
    // custom ThreadRollup aggregate collects a post's (id, score)
    // pairs and computes count/depth/leaves/deepest in a single local
    // pass — one shuffle total, no per-level jobs. The frontier-walk
    // twin below is spec-pinned equal and remains the shape for
    // genuinely cross-group graphs.
    comments(spark, sfDir)
      .select($"post_id", $"id", $"score")
      .groupBy($"post_id")
      .agg(graft.functions.ThreadRollup.rollup($"id", $"score").as("r"))
      .select($"post_id", $"r.n_comments".as("n_comments"),
        $"r.max_depth".as("max_depth"), $"r.n_leaves".as("n_leaves"),
        $"r.deepest_id".as("deepest_id"))
      .orderBy($"post_id")
  }

  /** The iterative frontier-walk formulation [[q16ThreadDepth]]'s
    * aggregate is pinned against (QueriesSpec) — kept because its
    * shape is the one that generalizes to graphs that CROSS group
    * boundaries (the dd_clusters_star discipline); for this per-post
    * tree it pays depth-many full-edge joins where the aggregate pays
    * one shuffle (measured 4.6 s vs ~1 s at sf0.1).
    */
  private[graft] def q16ThreadDepthFrontier(spark: SparkSession,
      sfDir: String): DataFrame = {
    // NODE KEY IS (post_id, pos), NOT id: the fixture's lineitem has
    // duplicate (orderkey, linenumber) rows, so comment ids COLLIDE —
    // an id-keyed climb gives nodes multiple parents and the frontier
    // multiplies per path (exponential rounds). row_number makes pos
    // unique by construction; the (id, score) tie-break makes every
    // column downstream consumes engine-independent (rows still tied
    // on both are interchangeable in every output).
    val posW = Window.partitionBy($"post_id").orderBy($"id", $"score")
    val surv = comments(spark, sfDir)
      .select($"id", $"post_id", $"score")
      .withColumn("pos", row_number().over(posW))
      .localCheckpoint(true)
    val edges = surv.filter($"pos" > 1)
      .select($"post_id", $"pos".as("child_pos"),
        (pmod($"score" + 20, $"pos" - 1) + 1).as("parent_pos"))
      .localCheckpoint(true)
    // depth by per-level frontier walk. The pointer-doubling
    // alternative (log(depth) self-joins of the FULL n-row state) was
    // implemented and MEASURED SLOWER here — 5.4 s vs 4.8 s at sf0.1 —
    // because real thread depth is small and the frontier SHRINKS per
    // level (most of the ≤cap rounds join a near-empty frontier),
    // while doubling pays 5 full-corpus self-joins regardless. The
    // walk is the right shape until depth, not volume, dominates.
    // ONE Spark job per round: the LAZY localCheckpoint materializes
    // under the count() that also serves as the emptiness test (the
    // eager-checkpoint + isEmpty pair was 2 jobs/round of pure
    // overhead on a near-empty frontier). And because the count IS
    // the frontier's exact size, the per-round join strategy is
    // size-adaptive for free: a checkpointed frontier has no stats
    // (Catalyst defaults to a full sort-merge shuffle of the cached
    // edge set EVERY round), so small frontiers — every round past
    // the first couple, since real trees narrow fast — broadcast
    // explicitly and the round becomes one map-side pass over the
    // cached edges. Large early-round frontiers (the 100 TB posture)
    // keep the equi-shuffle. Measured at sf0.1: 4.6 s → ~1.9 s
    // (bench conditions) for the identical values.
    val bcastMax = 300000L
    var frontier = surv.filter($"pos" === 1)
      .select($"post_id", $"pos", lit(1).as("depth")).localCheckpoint(false)
    var depths = frontier
    var round = 0
    var n = frontier.count()
    while (round < ThreadDepthCap && n > 0) {
      val f = frontier.alias("f")
      frontier = edges.alias("e")
        .join(if (n <= bcastMax) broadcast(f) else f,
          col("e.post_id") === col("f.post_id") &&
            col("e.parent_pos") === col("f.pos"))
        .select(col("e.post_id").as("post_id"), col("e.child_pos").as("pos"),
          (col("f.depth") + 1).as("depth"))
        .localCheckpoint(false)
      n = frontier.count()
      if (n > 0) depths = depths.unionByName(frontier)
      round += 1
    }
    // the oracle's recursive CTE is unbounded — a cap hit must be a
    // LOUD error, never a silently truncated (and hash-divergent) tree
    require(n == 0, s"q16_thread_depth: thread depth exceeds " +
      s"ThreadDepthCap=$ThreadDepthCap — refusing to truncate")
    // pinned: three rollups below consume wd (counts, deepest, leaves)
    // and an unpinned plan re-runs the surv⋈depths join per consumer
    val wd = surv.join(depths, Seq("post_id", "pos")).localCheckpoint(true)
    val agg1 = wd.groupBy($"post_id").agg(
      count(lit(1)).as("n_comments"), max($"depth").as("max_depth"))
    val deepest = wd
      .join(agg1.select($"post_id".as("p2"), $"max_depth".as("md")),
        $"post_id" === $"p2" && $"depth" === $"md")
      .groupBy($"post_id").agg(min($"id").as("deepest_id"))
    val leaves = wd
      .join(edges.select($"post_id", $"parent_pos".as("pos")).distinct(),
        Seq("post_id", "pos"), "left_anti")
      .groupBy($"post_id").agg(count(lit(1)).as("n_leaves"))
    agg1.join(deepest, "post_id").join(leaves, "post_id")
      .select($"post_id", $"n_comments", $"max_depth", $"n_leaves",
        $"deepest_id")
      .orderBy($"post_id")
  }

  /** Bounds replacing `DATE('now')` in the stats query (script.py:274). */
  val statsFrom = "1995-01-01 00:00:00"
  val statsTo = "1996-01-01 00:00:00"

  /** The pipeline's flagship aggregation (script.py:264-276): filter +
    * 2-key groupBy + the four aggregates of
    * [[graft.pipeline.Pipeline.dailyAggregates]]; feeds the upsert sink
    * (K3).
    */
  def statsDaily(spark: SparkSession, sfDir: String): DataFrame = {
    val aggs = graft.pipeline.Pipeline.dailyAggregates
    posts(spark, sfDir)
      .filter($"created_utc" >= tsNtz(statsFrom) &&
        $"created_utc" < tsNtz(statsTo))
      .groupBy($"subreddit", to_date($"created_utc").cast("string").as("date"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy($"subreddit", $"date")
  }

  /** The full derived-column surface (T1..T11) exposed directly so the
    * oracle hash-checks every transform formula row-by-row.
    */
  def transformPosts(spark: SparkSession, sfDir: String): DataFrame =
    posts(spark, sfDir)
      .select($"id", $"title", $"selftext", $"author", $"subreddit",
        $"score", $"num_comments", $"title_length", $"selftext_length",
        $"has_selftext", $"hour_posted", $"day_of_week",
        r6($"engagement_rate").as("engagement_rate"),
        $"score_category", r6($"upvote_ratio").as("upvote_ratio"),
        epochMs($"created_utc").as("created_ms"),
        $"is_video", $"is_original_content", $"over_18", $"stickied",
        $"locked")
      .orderBy($"id")

  // Scala 2.13 + Spark: $"..." interpolator needs an implicits import per
  // SparkSession; use a top-level shim instead so query bodies stay terse.
  private implicit class ColInterp(val sc: StringContext) {
    def $(args: Any*): Column = col(sc.s(args: _*))
  }
}
