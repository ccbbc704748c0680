package graft.schema

import org.apache.spark.sql.types._

/** Declared schemas for the engine's relational core.
  *
  * The reference stores three SQLite tables created by DDL at startup
  * (reference script.py:40-110). SQLite types are affinities, not
  * enforced; here the schema is a real contract (`StructType`), which is
  * a strictness upgrade, not a semantic change (SURVEY.md §1.1).
  */
object Schemas {

  /** `posts` — reference script.py:47-73 (15 extracted + 7 derived + 1
    * load-time column).
    */
  val posts: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("title", StringType),
    StructField("author", StringType),
    StructField("subreddit", StringType),
    StructField("score", IntegerType),
    StructField("upvote_ratio", DoubleType),
    StructField("num_comments", IntegerType),
    StructField("created_utc", TimestampType),
    StructField("selftext", StringType),
    StructField("url", StringType),
    StructField("is_video", BooleanType),
    StructField("is_original_content", BooleanType),
    StructField("over_18", BooleanType),
    StructField("stickied", BooleanType),
    StructField("locked", BooleanType),
    // derived (reference script.py:198-216, re-expressed in Enrich)
    StructField("title_length", IntegerType),
    StructField("selftext_length", IntegerType),
    StructField("has_selftext", BooleanType),
    StructField("hour_posted", IntegerType),
    StructField("day_of_week", IntegerType), // Monday=0 (pandas convention)
    StructField("engagement_rate", DoubleType),
    StructField("score_category", StringType),
    // load-time (reference script.py:71)
    StructField("extracted_at", TimestampType)
  ))

  /** The 15 raw extracted post fields — the wire schema every source
    * binding (JSON dump, DSv2 connector, HTTP API) shares. ONE
    * definition: the raw/derived split must not drift between sources.
    */
  val rawPosts: StructType = StructType(posts.fields.take(15))

  /** `comments` — reference script.py:76-89. */
  val comments: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("post_id", StringType),
    StructField("author", StringType),
    StructField("body", StringType),
    StructField("score", IntegerType),
    StructField("created_utc", TimestampType),
    StructField("parent_id", StringType),
    StructField("is_submitter", BooleanType),
    StructField("extracted_at", TimestampType)
  ))

  /** `subreddit_stats` — reference script.py:92-102; PK (subreddit, date)
    * becomes the upsert key of [[graft.sink.Load.upsertStats]].
    */
  val subredditStats: StructType = StructType(Seq(
    StructField("subreddit", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("total_posts", LongType),
    StructField("avg_score", DoubleType),
    StructField("avg_comments", DoubleType),
    StructField("top_post_score", IntegerType)
  ))
}
