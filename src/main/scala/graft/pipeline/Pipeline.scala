package graft.pipeline

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Par
import graft.functions.Determinism.{r6, sparkAscending}
import graft.sink.Load
import graft.source.RedditSource
import graft.transform.Enrich

/** The orchestration layer: the reference's `run_pipeline` contract
  * (reference script.py:288-326) with its fail-soft semantics
  * (SURVEY.md §2.14) — each stage guards empty input, each subreddit is
  * isolated (one failure logs and continues, reference script.py:351-353).
  *
  * Stage graph per subreddit. Extract (source fetch) → transform
  * (Enrich) is collected once, at most `limit` rows, and stamped with
  * `extracted_at` on the driver; the batch keeps the first row of each
  * id ([[Load.Batch]]). After the guard on its row count, three
  * branches run side by side ([[graft.Par]]), each stage starting as
  * soon as its input exists:
  *   - K1: load posts, staged and committed at once
  *     ([[Load.appendPosts]]);
  *   - comment read → K2 stage: the comment read takes the top-10 ids
  *     from the batch on the driver ([[Pipeline.topIds]]) and asks the
  *     source for all their comments in one call, collected on the
  *     driver; K2 writes the new ones to `comments._staging`
  *     ([[Load.stageComments]]);
  *   - K3 stage: the daily stats agg merged into the stats table and
  *     written to `subreddit_stats._staging` ([[Load.stageStats]]).
  * Each write is one single-task job that writes one file. K2 and K3
  * commit (a rename) only after every branch ended and K1 committed,
  * so the comments and stats of posts that failed to load are never
  * written.
  *
  * Failures, per stage:
  *   - extract or enrich (the one collect): the subreddit fails
  *     (`Failure`), nothing is written;
  *   - K1: the subreddit fails once every branch ended. The staged K2
  *     and K3 outputs are deleted before `runPipeline` returns, so the
  *     comments and stats tables are unchanged;
  *   - the comment read or K2 (stage or commit): logged and skipped
  *     (fail-soft, below); posts and stats still load;
  *   - K3 (stage or commit): the subreddit fails (`Failure`) after K2
  *     committed, so the comments K2 loads stay loaded.
  * No Spark job of the subreddit is left running when `runPipeline`
  * returns.
  *
  * Each stage that runs logs one JSON record ([[log]]):
  * `{"sub","stage","rows","ms","outcome","start_ms"}` for `extract`,
  * `K1`, `comment_read`, `K2_stage`, `K2_commit`, `K3_stage` and
  * `K3_commit`. `rows` counts the driver-held rows the stage produced or
  * wrote (for K3, the posts the stats aggregate), 0 when it failed;
  * `outcome` is `ok`, `failed` or, for a K2 or K3 commit after a K1
  * failure, `discarded`; `start_ms` is the stage's start since the
  * subreddit's, so overlapping stages show.
  *
  * The comment stage asks the source for every top post's comments at
  * once ([[RedditSource.fetchCommentsOf]]) and collects that one frame
  * inside one fail-soft guard. What a failure skips depends on the
  * binding. The file-backed sources serve the list with one read of
  * their comment table, so the read is the unit of isolation: a failed
  * scan skips this subreddit's comments, and its posts and stats still
  * load. The API binding keeps the reference's per-post calls
  * (reference script.py:310-317), each guarded on its own, so a failed
  * post skips only that post. The rows are tiny — at most
  * `topPosts × commentLimit` per subreddit — and load in one K2 write:
  * a K2 load costs a fixed two Spark jobs (existing-id scan, anti-join
  * and write) whatever its size. This deviates from the
  * reference, which loads after every post (script.py:316): a crash
  * mid-stage loads none of that subreddit's comments, and K2's keyed,
  * idempotent append makes a re-run exact.
  */
class Pipeline(spark: SparkSession, source: RedditSource, warehouse: String) {

  /** Reproducible replacement for the reference's wall-clock
    * `DATE('now')` filter in the stats stage (SURVEY.md §7.4.4).
    */
  var statsDateRange: Option[(String, String)] = None

  def log(msg: String): Unit =
    Console.err.println(s"[pipeline] $msg")

  /** The extract and its enrichment as one frame: the listing, then the
    * enriched columns. It plans as one top-K ([[Enrich.enrichPosts]] is
    * one projection), so collecting it is one Spark job that returns at
    * most `limit` rows.
    */
  def extracted(subreddit: String, limit: Int, sort: String): DataFrame =
    Enrich.enrichPosts(source.fetchPosts(spark, subreddit, limit, sort))

  /** Runs one stage and logs its record (see the class doc): `rows` of
    * its result and the outcome `ok`, or 0 rows and `failed` when it
    * throws.
    */
  private def stage[A](sub: String, name: String, t0: Long,
      ok: String = "ok")(body: => A)(rows: A => Long): A = {
    val start = System.nanoTime()
    val result = Try(body)
    val rec = new java.util.LinkedHashMap[String, Any]()
    rec.put("sub", sub); rec.put("stage", name)
    rec.put("rows", result.map(rows).getOrElse(0L))
    rec.put("ms", (System.nanoTime() - start) / 1000000)
    rec.put("outcome", if (result.isSuccess) ok else "failed")
    rec.put("start_ms", (start - t0) / 1000000)
    log(Pipeline.json.writeValueAsString(rec))
    result.get
  }

  /** One subreddit end-to-end; returns the number of posts loaded. */
  def runPipeline(subreddit: String, limit: Int = 50, sort: String = "hot",
      extractComments: Boolean = false, commentLimit: Int = 20,
      topPosts: Int = 10): Try[Long] = Try {
    val t0 = System.nanoTime()
    // E — extract (reference script.py:294), T — transform (reference
    // script.py:301): collected once, so every stage below (load, top-k,
    // stats) sees ONE extract with one `extracted_at` — a live source
    // would otherwise be re-fetched per action with different results
    val posts = stage(subreddit, "extract", t0) {
      val extract = extracted(subreddit, limit, sort)
      val (schema, rows) =
        Enrich.withExtractedAt(extract.schema, extract.collect().toSeq)
      Load.Batch(schema, rows)
    }(_.rows.size)
    if (posts.rows.isEmpty) { // P10 guard (reference script.py:296-298)
      log(s"$subreddit: no posts extracted"); 0L
    } else {
      val n = posts.rows.size.toLong
      val loadPosts = () => Try(stage(subreddit, "K1", t0)(
          Load.appendPosts(posts, spark, warehouse))(_ => n))
        .map(_ => Option.empty[(Load.Staged, Long)])
      val stageComments = () => Try(Option.when(extractComments)(
          readThenStageComments(posts, subreddit, t0, topPosts,
            commentLimit)).flatten)
      // the stats merge (reference script.py:320 → §2.9, K3)
      val stageStats = () => Try(Some(stage(subreddit, "K3_stage", t0)(
          Load.stageStats(dailyStats(posts.frame(spark), subreddit), spark,
            warehouse))(_ => n) -> n))
      val Seq(loaded, comments, stats) =
        Par.run(Seq(loadPosts, stageComments, stageStats))
      loaded.failed.foreach { e => // K1 failed: K2 and K3 must not commit
        Seq("K2_commit" -> comments, "K3_commit" -> stats).foreach {
          case (name, Success(s)) => s.foreach { case (pending, _) =>
            Try(stage(subreddit, name, t0, "discarded")(pending.discard())(
              _ => 0L)).failed.foreach(e.addSuppressed)
          }
          case (_, Failure(failed)) => e.addSuppressed(failed)
        }
        throw e
      }
      comments.get.foreach { case (pending, rows) =>
        Try(stage(subreddit, "K2_commit", t0)(pending.commit())(_ => rows))
          .failed.foreach(e => log(s"$subreddit: comment load failed: $e"))
      }
      stats.get.foreach { case (pending, rows) =>
        stage(subreddit, "K3_commit", t0)(pending.commit())(_ => rows)
      }
      n
    }
  } match {
    case s @ Success(_) => s
    case f @ Failure(e) => // per-subreddit isolation
      log(s"$subreddit: pipeline failed: $e"); f
  }

  /** The comment branch of the stage graph: the comment read, then K2's
    * stage step. Fail-soft: a failure of either is logged and skipped,
    * and the branch returns None, as it does when the read found
    * nothing. Otherwise it returns the staged write and its row count.
    */
  private def readThenStageComments(posts: Load.Batch, subreddit: String,
      t0: Long, topPosts: Int,
      commentLimit: Int): Option[(Load.Staged, Long)] = {
    def orSkip[A](what: String)(body: => Option[A]): Option[A] =
      Try(body).recover { case e =>
        log(s"$subreddit: $what failed: $e"); None
      }.get
    orSkip("comment fetch")(stage(subreddit, "comment_read", t0)(
        topComments(posts, topPosts, commentLimit))(_.fold(0L)(_.rows.size)))
      .flatMap(c => orSkip("comment load")(Some(
        stage(subreddit, "K2_stage", t0)(
          Load.stageComments(c, spark, warehouse))(_ => c.rows.size) ->
          c.rows.size.toLong)))
  }

  /** The comment stage (reference script.py:310-317): the top
    * `topPosts` ids by score, taken from the batch on the driver
    * ([[Pipeline.topIds]]), go to the source, which serves all their
    * comments in one frame, collected here. The collect is the stage's
    * action, so a read that fails, eagerly or at the action, throws here
    * and the caller's guard skips this subreddit's comments. Returns the
    * rows stamped with `extracted_at`, or None when the read found
    * nothing (the reference's `if comments:` guard).
    */
  private def topComments(posts: Load.Batch, topPosts: Int,
      commentLimit: Int): Option[Load.Batch] = {
    val top = Pipeline.topIds(posts.schema, posts.rows, topPosts)
      .map(_.toString)
    val c = source.fetchCommentsOf(spark, top, commentLimit)
    val rows = c.collect().toSeq
    Option.when(rows.nonEmpty) {
      val (schema, stamped) = Enrich.withExtractedAt(c.schema, rows)
      Load.Batch(schema, stamped)
    }
  }

  /** The §2.9 aggregation over one freshly-extracted batch
    * (reference script.py:264-276).
    */
  def dailyStats(posts: DataFrame, subreddit: String): DataFrame = {
    val inRange = statsDateRange match {
      case Some((from, to)) =>
        posts.filter(col("created_utc") >= lit(from).cast("timestamp") &&
          col("created_utc") < lit(to).cast("timestamp"))
      case None => posts
    }
    val aggs = Pipeline.dailyAggregates
    inRange.filter(col("subreddit") === subreddit)
      .groupBy(col("subreddit"), to_date(col("created_utc")).as("date"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The reference's `main()` driver loop (reference script.py:328-356). */
  def runAll(subreddits: Seq[String], limit: Int = 50,
      extractComments: Boolean = true): Map[String, Try[Long]] =
    subreddits.map { sub =>
      sub -> runPipeline(sub, limit, extractComments = extractComments)
    }.toMap
}

object Pipeline {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The `id`s of the `k` first rows in the order of Spark's
    * `orderBy(col("score").desc, col("id"))`: score descending, nulls
    * last, then id ascending, nulls first. The top-K of a batch already
    * on the driver, without a Spark job.
    */
  private[graft] def topIds(schema: StructType, rows: Seq[Row],
      k: Int): Seq[Any] = {
    val (score, id) = (schema.fieldIndex("score"), schema.fieldIndex("id"))
    val order = Ordering.Tuple2(Ordering.Option(sparkAscending).reverse,
      Ordering.Option(sparkAscending))
    rows.sortBy(r => (Option(r.get(score)), Option(r.get(id))))(order)
      .take(k).map(_.get(id))
  }

  /** The four §2.9 daily aggregates (reference script.py:264-276), shared
    * by [[Pipeline.dailyStats]] and the `stats_daily` query. The means
    * are exact: a Long sum divided once, matching the oracle's
    * `CAST(SUM(x) AS DOUBLE)/COUNT(x)`.
    */
  def dailyAggregates: Seq[Column] = {
    def mean(c: String) = r6(sum(col(c)).cast("double") / count(col(c)))
    Seq(count(lit(1)).as("total_posts"),
      mean("score").as("avg_score"),
      mean("num_comments").as("avg_comments"),
      max(col("score")).as("top_post_score"))
  }
}
