package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed warehouse layout: the physical design that removes the
  * join shuffle SCALE.md calls out for the posts↔comments workload.
  *
  * Both tables are bucketed on the join key (posts.id / comments
  * .post_id) into the same bucket count, so q08/q09-shaped joins read
  * co-located buckets and Catalyst plans a SortMergeJoin with NO
  * Exchange on either side (asserted by `WarehouseSpec`). At 100 TB
  * bucket counts are sized so a bucket fits an executor's memory
  * (e.g. 8192 buckets for ~12 GB each of a 100 TB table).
  */
object Warehouse {

  /** Materialize posts/comments as bucketed managed tables. */
  def materializeBucketed(spark: SparkSession, posts: DataFrame,
      comments: DataFrame, buckets: Int = 8): Unit = {
    // a crashed prior run can leave the managed location behind after
    // the catalog entry is gone — clear both
    Seq("posts_bucketed", "comments_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    posts.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable("posts_bucketed")
    comments.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, "post_id").sortBy("post_id")
      .format("parquet").saveAsTable("comments_bucketed")
  }

  /** q08-shaped comment coverage over the bucketed layout — joins
    * without a shuffle on either input. The merge hint pins the
    * at-scale join choice (at test SF the tables are broadcast-sized,
    * which would hide the bucket co-location being demonstrated).
    */
  def commentCoverageBucketed(spark: SparkSession): DataFrame = {
    val p = spark.table("posts_bucketed").select(col("id"), col("subreddit"))
    val c = spark.table("comments_bucketed")
      .select(col("id").as("c_id"), col("post_id"))
    p.join(c.hint("merge"), p("id") === c("post_id"), "left")
      .groupBy(col("subreddit"))
      .agg(count(col("c_id")).as("total_comments"))
      .orderBy(col("subreddit"))
  }

  /** Z-ORDERED PRODUCTION WRITE PATH — wh_zorder's layout decision,
    * promoted from evaluation to sink (the round-14 verdict's "close
    * the loop"): lay `df` out as `files` parquet files z-ordered on
    * two integral dimensions, so range predicates on EITHER dim prune
    * by min/max footers (wh_zorder quantifies the trade; measured
    * through Spark's real scanner, the z layout read 11.6% of rows on
    * the two-dim workload vs 26.2% for either single-dim sort —
    * SCALE.md "Round-14 (cont.): the graph tier and the layout tier").
    *
    * Mechanics — the balanced-file form of wh_zorder's equal-width
    * model, identical geometry: both dims bucket to
    * [[graft.operators.Analytics.ZorderBits]] bits against the frame's
    * min/max (one 1-row broadcast anchor), the interleave is the ONE
    * [[graft.operators.Analytics.zInterleave]] integer generator the
    * oracle-hashed query renders per dialect, and files come from
    * `repartitionByRange` on the z key + `sortWithinPartitions` — a
    * production writer range-partitions to BALANCE file sizes (the
    * range exchange samples the key distribution) where the evaluator
    * models equal-width ranges; both expose the same min/max geometry
    * to footers. One shuffle, no global sort. Dims must be integral
    * (cast dates to day offsets first — the wh_zorder convention).
    *
    * WarehouseSpec pins the loop closed with the REAL reader: on the
    * wh_zorder workload grid, the z layout written by this method
    * reads strictly fewer parquet rows than either single-dim sort
    * written the same way.
    */
  def writeZordered(df: DataFrame, dimA: String, dimB: String,
      path: String, files: Int = graft.operators.Analytics.ZorderFiles)
      : Unit = {
    import graft.operators.Analytics.{zInterleave, ZorderBits}
    val anchor = df.agg(
      min(col(dimA)).as("_zmna"), max(col(dimA)).as("_zmxa"),
      min(col(dimB)).as("_zmnb"), max(col(dimB)).as("_zmxb"))
    val spanA = "(_zmxa - _zmna + 1)"
    val spanB = "(_zmxb - _zmnb + 1)"
    val ba = s"((($dimA - _zmna) * ${1 << ZorderBits}) div $spanA)"
    val bb = s"((($dimB - _zmnb) * ${1 << ZorderBits}) div $spanB)"
    df.crossJoin(broadcast(anchor)) // 1-row anchor
      .withColumn("_zkey", expr(zInterleave(ba, bb)))
      .repartitionByRange(files, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey", "_zmna", "_zmxa", "_zmnb", "_zmxb")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** q09-shaped top commenters over the bucketed layout — the inner
    * join consumes co-located buckets (the comment-side filter is
    * partitioning-preserving, so bucket co-location survives it).
    * Together with [[commentCoverageBucketed]] this covers both join
    * surfaces SCALE.md names (analysis.sql:98-118).
    */
  def topCommentersBucketed(spark: SparkSession): DataFrame = {
    val p = spark.table("posts_bucketed").select(col("id"), col("subreddit"))
    val c = spark.table("comments_bucketed")
      .filter(col("author") =!= "[deleted]")
      .select(col("id").as("c_id"), col("post_id"), col("author"))
    p.join(c.hint("merge"), p("id") === c("post_id"))
      .groupBy(col("subreddit"), col("author"))
      .agg(count(col("c_id")).as("comment_count"))
      .filter(col("comment_count") >= 3)
      .orderBy(col("subreddit"), col("comment_count").desc, col("author"))
  }
}

/** Skew mitigation: two-stage salted aggregation. AQE's skew handling
  * covers joins; for a groupBy where one key dominates (one subreddit
  * with 10⁹ rows), pre-splitting the hot key across salts bounds any
  * single task:
  *
  *   stage 1: group by (key, salt) — partial counts spread over
  *            `salts` tasks per key
  *   stage 2: group by key — combines `salts` small rows
  *
  * Associative aggregates only (count/sum/min/max); the spec pins
  * salted == unsalted.
  */
object Skew {

  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame =
    // content-derived salt: pmod(hash(all columns), salts) is stable
    // across runs AND repartitionings (spark_partition_id/
    // monotonically_increasing_id are not), so the helper is
    // deterministic-by-construction, not just for associative aggs.
    // Identical rows share a salt — harmless for count/sum/min/max.
    df.withColumn("_salt", pmod(hash(df.columns.map(col): _*), lit(salts)))
      .groupBy(col(key), col("_salt"))
      .agg(count(lit(1)).as("_partial"))
      .groupBy(col(key))
      .agg(sum(col("_partial")).as("cnt"))
}
