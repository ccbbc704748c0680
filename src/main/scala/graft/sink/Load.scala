package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The L of the ETL: the reference's three load paths re-expressed as
  * Spark write-path algorithms (SURVEY.md §2.2).
  *
  * Warehouse layout: one parquet directory per table under a base dir.
  * At 100 TB the same code runs against a table format (Delta/Iceberg)
  * where [[upsertStats]] becomes a `MERGE INTO`; on plain parquet the
  * upsert is implemented as union + latest-wins window, which is the
  * same algorithm a MERGE executes without a transaction log.
  */
object Load {

  /** True iff the table directory exists (vs. any transient read
    * error, which must NOT be treated as "table absent" — that would
    * silently drop or duplicate data).
    */
  private def tableExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** K1 — append posts (reference script.py:226-239). The reference's
    * SQLite PRIMARY KEY rejects duplicate ids table-wide; here the
    * invariant is enforced explicitly: within-batch dedup plus an
    * anti-join against already-loaded ids, so re-running a batch (the
    * retry path) cannot double-load. At scale the anti-join broadcasts
    * the batch's ids against the table, or the table is a key-enforcing
    * format (Delta with a merge) — either way the contract is the same.
    */
  def appendPosts(df: DataFrame, warehouse: String): Unit =
    appendKeyed(df, df.sparkSession, s"$warehouse/posts")

  /** K2 — append comments (reference script.py:241-257). */
  def appendComments(df: DataFrame, warehouse: String): Unit =
    appendKeyed(df, df.sparkSession, s"$warehouse/comments")

  private def appendKeyed(df: DataFrame, spark: SparkSession,
      path: String): Unit = {
    val batch = df.dropDuplicates("id")
    val fresh =
      if (!tableExists(spark, path)) batch
      else batch.join(spark.read.parquet(path).select(col("id")),
        Seq("id"), "left_anti")
    fresh.write.mode(SaveMode.Append).parquet(path)
  }

  /** K3 — upsert daily stats on PK (subreddit, date), the parquet
    * equivalent of the reference's `INSERT OR REPLACE`
    * (reference script.py:264-280): union the incoming batch with the
    * current table, keep the newest row per key (incoming rows carry a
    * later `loaded_at`), rewrite. Latest-wins makes re-running the same
    * day idempotent — the reference's observable PK-replace semantics.
    *
    * Scale note: rewriting the whole table is correct but O(table); at
    * scale the same window runs per (subreddit, date) partition with
    * dynamic partition overwrite, touching only dirty partitions.
    */
  /** Monotonic batch sequence: wall-clock micros, bumped if two batches
    * land in the same microsecond (nanoTime has no cross-JVM meaning).
    */
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def nextSeq(): Long = {
    val now = System.currentTimeMillis() * 1000L
    seq.updateAndGet(prev => math.max(prev + 1, now))
  }

  /** Newest row per (subreddit, date); stored rows merge at seq 0 —
    * by definition older than any incoming batch.
    */
  private def latestWins(existing: DataFrame, stamped: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("subreddit"), col("date"))
      .orderBy(col("loaded_at").desc)
    existing.withColumn("loaded_at", lit(0L))
      .unionByName(stamped)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Parquet has no transactional overwrite-while-reading, and a
    * cached plan is NOT durable (evicted partitions would recompute
    * from the deleted files mid-overwrite): stage the merged result to
    * a sibling directory, rewrite the table from the durable staging
    * copy via `write`, then clean up. A table format (Delta/Iceberg)
    * makes this atomic.
    */
  private def stageThenRewrite(merged: DataFrame, spark: SparkSession,
      path: String)(write: DataFrame => Unit): Unit = {
    val staging = s"$path._staging"
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    // the staging files were just written from `merged`: declare its
    // schema rather than infer it again
    write(spark.read.schema(merged.schema).parquet(staging))
    val sp = new org.apache.hadoop.fs.Path(staging)
    sp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(sp, true)
  }

  def upsertStats(batch: DataFrame, spark: SparkSession, warehouse: String): Unit = {
    val path = s"$warehouse/subreddit_stats"
    val stamped = batch.withColumn("loaded_at", lit(nextSeq()))
    val merged =
      if (!tableExists(spark, path)) stamped
      else latestWins(spark.read.parquet(path), stamped)
    stageThenRewrite(merged.drop("loaded_at"), spark, path)(
      _.write.mode(SaveMode.Overwrite).parquet(path))
  }

  /** The 100 TB layout of [[upsertStats]]: the stats table partitioned
    * by `date`, upserted with dynamic partition overwrite, so a batch
    * rewrites ONLY its own date partitions instead of O(table):
    *
    *  1. the batch's distinct dates are collected (a batch covers a
    *     handful of days — driver traffic is ids, not data) and pushed
    *     as an `isin` filter, so the existing-rows scan statically
    *     prunes to dirty partitions;
    *  2. latest-wins merge (same window as [[upsertStats]]) over dirty
    *     partitions only;
    *  3. staged to a sibling dir (parquet cannot overwrite a path being
    *     read), then written with `partitionOverwriteMode=dynamic` —
    *     partitions absent from the batch are never touched, their
    *     files stay byte-identical (pinned by LoadPipelineSpec).
    */
  def upsertStatsPartitioned(batch: DataFrame, spark: SparkSession,
      warehouse: String): Unit = {
    val path = s"$warehouse/subreddit_stats_by_date"
    val stamped = batch.withColumn("loaded_at", lit(nextSeq()))
    val merged =
      if (!tableExists(spark, path)) stamped
      else {
        val dates = batch.select(col("date")).distinct().collect()
          .map(_.get(0)).toSeq
        // normalize read-back types: partition-column discovery may
        // infer a different type than the batch carries
        val existing = spark.read.parquet(path)
          .filter(col("date").isin(dates: _*))
          .select(batch.schema.fields
            .map(f => col(f.name).cast(f.dataType)): _*)
        latestWins(existing, stamped)
      }
    stageThenRewrite(merged.drop("loaded_at"), spark, path)(
      _.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(path))
  }

  /** General MERGE over a `partitionCol`-partitioned parquet table —
    * the library-API form of `MERGE INTO target USING source ON key`
    * (the SQL form needs a transactional table format, which this env
    * can't ship; the partition-scoped rewrite below is the same
    * execution shape Delta/Iceberg plan for partition-aligned merges):
    *
    *  - source rows whose `opCol` equals "delete" remove matching
    *    target rows (WHEN MATCHED AND op='delete' THEN DELETE);
    *  - every other source row updates its match or inserts
    *    (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT);
    *  - ONLY partitions named by the source rewrite: the target scan
    *    statically prunes to the source's distinct partition values
    *    (driver traffic is partition ids, never data), survivors come
    *    from a key anti-join (keys are non-null by the PK contract) on `keyCols`, and the staged result
    *    writes back with dynamic partition overwrite — untouched
    *    partitions stay byte-identical (spec-pinned);
    *  - a partition whose rows are ALL deleted vanishes: dynamic
    *    overwrite cannot rewrite an empty partition, so emptied dirty
    *    partition directories are removed explicitly (the classic
    *    dynamic-overwrite delete pitfall, handled not documented).
    *
    * Source must not contain duplicate keys (the upsert contract);
    * `source` carries the full target schema for upserts.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      opCol: Option[String] = None): Unit = {
    val upserts = opCol.map(c => source.filter(col(c) =!= "delete").drop(c))
      .getOrElse(source)
    val allKeys = opCol.map(c => source.drop(c)).getOrElse(source)
      .select(keyCols.map(col): _*)
    if (!tableExists(spark, path)) {
      upserts.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(path)
      return
    }
    val dirtyVals = source.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    // isin never matches NULL (three-valued logic): the null partition
    // needs its own isNull branch or its survivors are silently lost
    val (nullDirty, valDirty) = dirtyVals.partition(_ == null)
    val dirtyPred = {
      val vals = if (valDirty.nonEmpty) col(partitionCol).isin(valDirty: _*)
        else lit(false)
      if (nullDirty.nonEmpty) vals || col(partitionCol).isNull else vals
    }
    val existing = spark.read.parquet(path)
      .filter(dirtyPred)
      .select(upserts.schema.fields
        .map(f => col(f.name).cast(f.dataType)): _*)
    val survivors = existing.join(allKeys, keyCols, "left_anti")
    val merged = survivors.unionByName(upserts)
    // partitions all of whose rows were deleted won't appear in the
    // dynamic overwrite output — collect them for explicit removal
    val liveDirty = merged.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    val emptied = dirtyVals.filterNot(liveDirty)
    stageThenRewrite(merged, spark, path)(
      _.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(path))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    emptied.foreach { v =>
      // a NULL partition value lives under the Hive default-partition
      // directory name, not "null"
      val dirName =
        if (v == null) org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(String.valueOf(v))
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/$partitionCol=$dirName"), true)
    }
  }

  /** K4 — the `post_performance` view (reference analysis.sql:173-183). */
  def createPerformanceView(spark: SparkSession, posts: DataFrame): Unit = {
    val w = Window.partitionBy(col("subreddit")).orderBy(col("score").desc)
    posts.select(col("id"), col("subreddit"), col("score"),
        when(col("score") >= 1000, "Viral")
          .when(col("score") >= 100, "Popular")
          .when(col("score") >= 10, "Good")
          .otherwise("Low").as("performance_tier"),
        rank().over(w).as("rank_in_subreddit"))
      .createOrReplaceTempView("post_performance")
  }
}
