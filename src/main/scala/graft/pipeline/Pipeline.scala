package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Par
import graft.functions.Determinism.r6
import graft.sink.Load
import graft.source.RedditSource
import graft.transform.Enrich

/** The orchestration layer: the reference's `run_pipeline` contract
  * (reference script.py:288-326) with its fail-soft semantics
  * (SURVEY.md §2.14) — each stage guards empty input, each subreddit is
  * isolated (one failure logs and continues, reference script.py:351-353).
  *
  * Stage shape per subreddit:
  *   extract (source fetch) → transform (Enrich), collected once, at
  *   most `limit` rows, as a local relation: duplicate ids keep their
  *   first row in listing order → guard on the row count, then two
  *   phases ([[graft.Par]], each waiting for all of its stages):
  *    1. load posts (K1) ‖ top-10 by score → one comment fetch for
  *       those posts (one call, one collect on the driver);
  *    2. one K2 load of those comments ‖ daily stats agg → upsert (K3).
  *   Only K1 has to commit before K2 and K3; the comment read does not
  *   depend on K1, and K2 and K3 write different tables.
  *
  * Failures, per stage:
  *   - extract or enrich (the one collect): the subreddit fails
  *     (`Failure`), nothing is written;
  *   - K1: the subreddit fails once phase 1 ends, before K2 or K3 write
  *     anything. The one deviation from the sequential order: the
  *     comment read may already have run, and its rows are dropped;
  *   - the comment read or K2: logged and skipped (fail-soft, below);
  *     posts and stats still load;
  *   - K3: the subreddit fails (`Failure`) after phase 2 ends, so the
  *     comments K2 loads beside it stay loaded, and no Spark job of the
  *     subreddit is left running.
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
  * a K2 load costs a fixed handful of Spark jobs (existing-id scan,
  * anti-join, write) whatever its size. This deviates from the
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

  /** The extract and its enrichment as one frame: the listing, the
    * enriched columns, then `extracted_at`. It plans as one top-K
    * ([[Enrich.enrichPosts]] is one projection), so collecting it is one
    * Spark job that returns at most `limit` rows.
    */
  def extracted(subreddit: String, limit: Int, sort: String): DataFrame =
    Enrich.enrichPosts(source.fetchPosts(spark, subreddit, limit, sort))
      .withColumn("extracted_at", Enrich.extractedAt())

  /** One subreddit end-to-end; returns the number of posts loaded. */
  def runPipeline(subreddit: String, limit: Int = 50, sort: String = "hot",
      extractComments: Boolean = false, commentLimit: Int = 20,
      topPosts: Int = 10): Try[Long] = Try {
    // E — extract (reference script.py:294), T — transform (reference
    // script.py:301): collected once, so every stage below (load, top-k,
    // stats) sees ONE extract with one `extracted_at` — a live source
    // would otherwise be re-fetched per action with different results
    val extract = extracted(subreddit, limit, sort)
    val rows = extract.collect().distinctBy(_.getAs[Any]("id"))
    if (rows.isEmpty) { // P10 guard (reference script.py:296-298)
      log(s"$subreddit: no posts extracted"); 0L
    } else {
      val posts = spark.createDataFrame(rows.toSeq.asJava, extract.schema)
      val n = rows.length.toLong
      // phase 1: load posts (K1, reference script.py:308) while the
      // comment stage reads; a K1 failure fails the subreddit here,
      // before K2 or K3 writes, and the rows read are dropped
      val loadPosts = () => {
        Load.appendPosts(posts, warehouse); Option.empty[DataFrame]
      }
      val fetched = Par.run(loadPosts +: Option.when(extractComments)(
          () => topComments(posts, subreddit, topPosts, commentLimit))
        .toSeq).flatten.headOption
      log(s"$subreddit: loaded $n posts")
      // phase 2: the comment load (K2, fail-soft) beside the stats
      // upsert (reference script.py:320 → §2.9, K3)
      val loadComments = fetched.map(c => () =>
        Try(Load.appendComments(c, warehouse)).failed.foreach(e =>
          log(s"$subreddit: comment load failed: $e")))
      Par.run(loadComments.toSeq :+ (() =>
        Load.upsertStats(dailyStats(posts, subreddit), spark, warehouse)))
      n
    }
  } match {
    case s @ Success(_) => s
    case f @ Failure(e) => // per-subreddit isolation
      log(s"$subreddit: pipeline failed: $e"); f
  }

  /** The comment stage (reference script.py:310-317): the top
    * `topPosts` ids by score go to the driver, and the source serves
    * all their comments in one frame, collected here. The collect is
    * the stage's action, inside its guard: a read that fails, eagerly
    * or at the action, skips this subreddit's comments. Returns the
    * rows as a local frame stamped with `extracted_at`, or None when
    * the read failed or found nothing (the reference's `if comments:`
    * guard).
    */
  private def topComments(posts: DataFrame, subreddit: String,
      topPosts: Int, commentLimit: Int): Option[DataFrame] = {
    val top = posts.orderBy(col("score").desc, col("id"))
      .limit(topPosts).select(col("id")).collect()
      .map(_.get(0).toString).toSeq
    Try {
      val c = source.fetchCommentsOf(spark, top, commentLimit)
      (c.schema, c.collect())
    } match {
      case Failure(e) =>
        log(s"$subreddit: comment fetch failed: $e"); None
      case Success((schema, rows)) =>
        Option.when(rows.nonEmpty)(
          spark.createDataFrame(rows.toSeq.asJava, schema)
            .withColumn("extracted_at", Enrich.extractedAt()))
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
