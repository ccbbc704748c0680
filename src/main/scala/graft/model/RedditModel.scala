package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Tables
import graft.transform.Enrich

/** Deterministic Reddit-shaped relational model derived from the driver's
  * TPC-H-ish fixtures (TESTDATA.md). `orders` → `posts` and
  * `lineitem` → `comments`, using only integer arithmetic, string
  * concatenation and interval addition so that the DuckDB oracle can
  * reproduce the exact same rows bit-for-bit (see
  * [[graft.queries.RefOracle.modelCte]] — the two derivations MUST stay
  * in lock-step).
  *
  * Why derive at all: the reference's data is Reddit API output
  * (reference script.py:112-157); the fixtures are the only shared data
  * both engines can see, so the model plays the role of the extract
  * stage with a deterministic "API".
  *
  * Natural properties used:
  *  - `l_orderkey → o_orderkey` is TPC-H's FK, giving a real
  *    posts↔comments join key (reference comments.post_id FK,
  *    script.py:87).
  *  - `o_orderpriority` has 5 values → subreddits.
  *  - dropping `l_partkey % 4 == 0` lineitems leaves some posts with
  *    zero comments, exercising the reference's LEFT JOIN NULL semantics
  *    (analysis.sql:98-105).
  */
object RedditModel {

  /** Raw (pre-transform) posts: the 15 extracted fields of
    * reference script.py:131-147.
    */
  def rawPosts(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.read(spark, sfDir, "orders")
    val k = col("o_orderkey")
    val kStr = k.cast("string")
    o.select(
      k.as("id"),
      when(k % 4 === 0, concat(lit("Breaking: order "), kStr, lit(" just dropped!!!")))
        .when(k % 4 === 1, concat(lit("Is order "), kStr, lit(" worth it?")))
        .when(k % 4 === 2, concat(lit("ORDER "), kStr, lit(" MEGATHREAD")))
        .otherwise(concat(lit("quiet little update #"), kStr))
        .as("title"),
      when(col("o_custkey") % 13 === 0, lit("[deleted]"))
        .otherwise(concat(lit("user_"), (col("o_custkey") % 101).cast("string")))
        .as("author"),
      col("o_orderpriority").as("subreddit"),
      ((k % 2000) * 2 - 200).cast("int").as("score"),
      (lit(0.5) + (k % 50) / lit(100.0)).as("upvote_ratio"),
      (k % 45).cast("int").as("num_comments"),
      expr("timestampadd(HOUR, cast(o_orderkey % 24 as int), o_orderdate)")
        .as("created_utc"),
      when(k % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("self text body for order "), kStr,
          lit(" priority "), col("o_orderpriority")))
        .as("selftext"),
      concat(lit("https://example.com/o/"), kStr).as("url"),
      (k % 7 === 0).as("is_video"),
      (k % 5 === 0).as("is_original_content"),
      (k % 11 === 0).as("over_18"),
      (k % 17 === 0).as("stickied"),
      (k % 19 === 0).as("locked")
    )
  }

  /** Enriched posts = raw + T1..T11 (the stored shape of the reference's
    * `posts` table, minus the nondeterministic `extracted_at`).
    */
  def posts(spark: SparkSession, sfDir: String): DataFrame =
    Enrich.enrichPosts(rawPosts(spark, sfDir))

  /** Comments (reference script.py:169-178 projection shape). */
  def comments(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.read(spark, sfDir, "lineitem")
    l.filter(col("l_partkey") % 4 =!= 0)
      .select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        col("l_orderkey").as("post_id"),
        when(col("l_suppkey") % 13 === 0, lit("[deleted]"))
          .otherwise(concat(lit("c_user_"), (col("l_suppkey") % 211).cast("string")))
          .as("author"),
        concat(lit("reply about part "), col("l_partkey").cast("string"),
          when(col("l_linenumber") % 2 === 0, lit(" (nice!)")).otherwise(lit("")))
          .as("body"),
        ((col("l_suppkey") % 120) - 20).cast("int").as("score"),
        col("l_shipdate").as("created_utc"),
        col("l_orderkey").as("parent_id"),
        (col("l_linenumber") === 1).as("is_submitter")
      )
  }
}
