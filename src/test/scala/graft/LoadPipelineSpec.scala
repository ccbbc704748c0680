package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.model.RedditModel
import graft.pipeline.Pipeline
import graft.sink.Load
import graft.source.{FixtureSource, JsonDumpSource, RedditSource}
import graft.transform.Enrich

/** Sink semantics (K1–K3) and pipeline orchestration (§2.14). */
class LoadPipelineSpec extends SparkSpec {

  test("K3 upsert replaces on (subreddit, date) and re-runs idempotently") {
    import spark.implicits._
    val wh = tmpDir()
    val b1 = Seq(("r/a", "2025-01-01", 10L), ("r/b", "2025-01-01", 5L))
      .toDF("subreddit", "date", "total_posts")
    Load.upsertStats(b1, spark, wh)
    // replace r/a with new value, add r/c
    val b2 = Seq(("r/a", "2025-01-01", 99L), ("r/c", "2025-01-02", 1L))
      .toDF("subreddit", "date", "total_posts")
    Load.upsertStats(b2, spark, wh)
    val out = spark.read.parquet(s"$wh/subreddit_stats")
    assert(out.count() == 3) // keys: a@01, b@01, c@02 — no duplicates
    val a = out.filter(col("subreddit") === "r/a").collect().head
    assert(a.getAs[Long]("total_posts") == 99L) // latest wins
    // idempotency: re-upsert the identical batch changes nothing
    Load.upsertStats(b2, spark, wh)
    val again = spark.read.parquet(s"$wh/subreddit_stats")
    assert(again.count() == 3)
    assert(again.filter(col("subreddit") === "r/a").collect().head
      .getAs[Long]("total_posts") == 99L)
  }

  test("K3 upsert replaces a NULL-date row instead of duplicating it") {
    import spark.implicits._
    val wh = tmpDir()
    Load.upsertStats(Seq(("r/a", Option.empty[String], 1L),
        ("r/a", Option("2025-01-01"), 2L))
      .toDF("subreddit", "date", "total_posts"), spark, wh)
    Load.upsertStats(Seq(("r/a", Option.empty[String], 7L))
      .toDF("subreddit", "date", "total_posts"), spark, wh)
    val out = spark.read.parquet(s"$wh/subreddit_stats")
    assert(out.count() == 2)
    assert(out.filter(col("date").isNull).collect()
      .map(_.getAs[Long]("total_posts")).toSeq == Seq(7L))
  }

  test("K3 upsert keeps a batch's own loaded_at column") {
    import spark.implicits._
    val wh = tmpDir()
    def batch(total: Long, loadedAt: Long) =
      Seq(("r/a", "2025-01-01", total, loadedAt))
        .toDF("subreddit", "date", "total_posts", "loaded_at")
    def stored() = spark.read.parquet(s"$wh/subreddit_stats").collect()
      .map(r => (r.getAs[Long]("total_posts"), r.getAs[Long]("loaded_at")))
      .toSeq
    Load.upsertStats(batch(5L, 42L), spark, wh)
    assert(stored() == Seq((5L, 42L)))
    Load.upsertStats(batch(6L, 43L), spark, wh)
    assert(stored() == Seq((6L, 43L)))
  }

  test("K3 upserts and mergeInto succeed after a failed first write") {
    import spark.implicits._
    val good = Seq(("r/a", "2025-01-01", 1L))
      .toDF("subreddit", "date", "total_posts")
    // same schema, but the action fails in its tasks
    val bad = spark.range(3).select(lit("r/a").as("subreddit"),
      lit("2025-01-01").as("date"),
      raise_error(lit("stats batch failed")).cast("long").as("total_posts"))
    def stored(table: String) = spark.read.parquet(table)
      .select("subreddit", "total_posts").as[(String, Long)].collect().toSeq
    val wh = tmpDir()
    intercept[Exception](Load.upsertStats(bad, spark, wh))
    // the failed write is the stage step's: its directory stays behind
    assert(new java.io.File(s"$wh/subreddit_stats._staging").isDirectory)
    Load.upsertStats(good, spark, wh)
    assert(stored(s"$wh/subreddit_stats") == Seq(("r/a", 1L)))
    intercept[Exception](Load.upsertStatsPartitioned(bad, spark, wh))
    Load.upsertStatsPartitioned(good, spark, wh)
    assert(stored(s"$wh/subreddit_stats_by_date") == Seq(("r/a", 1L)))
    val table = s"$wh/items"
    intercept[Exception](Load.mergeInto(spark, table, bad,
      Seq("subreddit", "date"), "date"))
    Load.mergeInto(spark, table, good, Seq("subreddit", "date"), "date")
    assert(stored(table) == Seq(("r/a", 1L)))
  }

  /** The stats table's rows as (subreddit, date, total_posts), sorted,
    * after checking that no swap sibling is left beside it.
    */
  private def storedStats(wh: String): Seq[(String, String, Long)] = {
    import spark.implicits._
    val table = s"$wh/subreddit_stats"
    Seq("._staging", "._old").foreach(s =>
      assert(!Files.exists(java.nio.file.Paths.get(table + s)), s))
    spark.read.parquet(table).select("subreddit", "date", "total_posts")
      .as[(String, String, Long)].collect().toSeq.sorted
  }

  private def stats(rows: (String, String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("subreddit", "date", "total_posts")
  }

  // the state an in-place rewrite leaves when it fails after clearing
  // the table: the merged rows sit complete in ._staging
  test("K3 upsert after a crash that cleared the table keeps every earlier row") {
    val wh = tmpDir()
    val table = s"$wh/subreddit_stats"
    Load.upsertStats(stats(("r/a", "2025-01-01", 1L), ("r/b", "2025-01-01", 2L)),
      spark, wh)
    stats(("r/a", "2025-01-01", 1L), ("r/b", "2025-01-01", 2L),
      ("r/c", "2025-01-02", 3L)).write.parquet(s"$table._staging")
    FileUtils.cleanDirectory(new java.io.File(table))
    Load.upsertStats(stats(("r/d", "2025-01-03", 4L)), spark, wh)
    assert(storedStats(wh) == Seq(("r/a", "2025-01-01", 1L),
      ("r/b", "2025-01-01", 2L), ("r/c", "2025-01-02", 3L),
      ("r/d", "2025-01-03", 4L)))
  }

  // the state a swap leaves when it fails between its renames, here
  // with a staging write that never completed (no _SUCCESS)
  test("K3 upsert after a crash that moved the table to ._old keeps every earlier row") {
    val wh = tmpDir()
    val table = s"$wh/subreddit_stats"
    Load.upsertStats(stats(("r/a", "2025-01-01", 1L), ("r/b", "2025-01-01", 2L)),
      spark, wh)
    Files.move(java.nio.file.Paths.get(table),
      java.nio.file.Paths.get(s"$table._old"))
    Files.createDirectories(java.nio.file.Paths.get(s"$table._staging/_temporary"))
    Load.upsertStats(stats(("r/a", "2025-01-01", 5L), ("r/c", "2025-01-02", 3L)),
      spark, wh)
    assert(storedStats(wh) == Seq(("r/a", "2025-01-01", 5L),
      ("r/b", "2025-01-01", 2L), ("r/c", "2025-01-02", 3L)))
  }

  test("K3 upsert fails on a stored table whose columns differ, and keeps it") {
    import spark.implicits._
    val wh = tmpDir()
    Load.upsertStats(stats(("r/a", "2025-01-01", 1L)), spark, wh)
    intercept[Exception](Load.upsertStats(
      Seq(("r/a", "2025-01-02", 2.0)).toDF("subreddit", "date", "avg_score"),
      spark, wh))
    assert(storedStats(wh) == Seq(("r/a", "2025-01-01", 1L)))
  }

  test("K3-partitioned upsert rewrites only dirty date partitions") {
    import spark.implicits._
    val wh = tmpDir()
    val b1 = Seq(("r/a", "2025-01-01", 10L), ("r/b", "2025-01-01", 5L),
      ("r/a", "2025-01-02", 7L))
      .toDF("subreddit", "date", "total_posts")
    Load.upsertStatsPartitioned(b1, spark, wh)
    val table = s"$wh/subreddit_stats_by_date"

    def partFiles(date: String): Map[String, (Long, Long)] = {
      val dir = new java.io.File(s"$table/date=$date")
      dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val d1Before = partFiles("2025-01-01")
    assert(d1Before.nonEmpty)

    // batch touching ONLY 2025-01-02
    val b2 = Seq(("r/a", "2025-01-02", 99L), ("r/c", "2025-01-02", 1L))
      .toDF("subreddit", "date", "total_posts")
    Load.upsertStatsPartitioned(b2, spark, wh)

    // untouched partition: same files, same bytes, same mtimes
    assert(partFiles("2025-01-01") == d1Before)
    // dirty partition merged latest-wins
    val out = spark.read.parquet(table)
    assert(out.count() == 4) // a@01, b@01, a@02(updated), c@02
    assert(out.filter(col("subreddit") === "r/a" &&
        col("date") === "2025-01-02").collect().head
      .getAs[Long]("total_posts") == 99L)
    assert(out.filter(col("date") === "2025-01-01").count() == 2)
    // idempotent re-run
    Load.upsertStatsPartitioned(b2, spark, wh)
    assert(spark.read.parquet(table).count() == 4)
  }

  test("mergeInto: update/insert/delete, partition-scoped, emptied dirs removed") {
    import spark.implicits._
    val table = s"${tmpDir()}/items"
    val seed = Seq(
      (1L, "2025-01-01", "one"), (2L, "2025-01-01", "two"),
      (3L, "2025-01-02", "three"),
      (4L, "2025-01-03", "four"))
      .toDF("id", "date", "payload")
    Load.mergeInto(spark, table, seed, Seq("id"), "date")
    def partFiles(date: String): Map[String, (Long, Long)] = {
      val dir = new java.io.File(s"$table/date=$date")
      if (dir.listFiles() == null) Map.empty
      else dir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val d1Before = partFiles("2025-01-01")
    assert(d1Before.nonEmpty)
    // MERGE: update id=3, insert id=5 (both on 01-02), delete ALL of
    // 01-03; 01-01 untouched
    val batch = Seq(
      (3L, "2025-01-02", "THREE", "upsert"),
      (5L, "2025-01-02", "five", "upsert"),
      (4L, "2025-01-03", "", "delete"))
      .toDF("id", "date", "payload", "op")
    Load.mergeInto(spark, table, batch, Seq("id"), "date", Some("op"))
    val out = spark.read.parquet(table)
    assert(out.count() == 4) // 1, 2, 3(updated), 5
    assert(out.filter(col("id") === 3L).collect().head
      .getAs[String]("payload") == "THREE") // matched → update
    assert(out.filter(col("id") === 5L).count() == 1) // not matched → insert
    assert(out.filter(col("id") === 4L).count() == 0) // matched → delete
    // untouched partition byte-identical; emptied partition dir gone
    assert(partFiles("2025-01-01") == d1Before)
    assert(!new java.io.File(s"$table/date=2025-01-03").exists())
    // idempotent re-merge
    Load.mergeInto(spark, table, batch, Seq("id"), "date", Some("op"))
    assert(spark.read.parquet(table).count() == 4)
  }

  test("mergeInto: NULL partition keeps survivors and cleans the Hive default dir") {
    import spark.implicits._
    val table = s"${tmpDir()}/nullpart"
    val seed = Seq(
      (1L, Option.empty[String], "n1"), (2L, Option.empty[String], "n2"),
      (3L, Option("2025-01-01"), "d1"))
      .toDF("id", "date", "payload")
    Load.mergeInto(spark, table, seed, Seq("id"), "date")
    val nullDir = new java.io.File(s"$table/date=__HIVE_DEFAULT_PARTITION__")
    assert(nullDir.exists())
    // upsert into the null partition: its OTHER row must survive
    // (isin(null-containing vals) alone would drop id=1 silently)
    val up = Seq((2L, Option.empty[String], "N2", "upsert"))
      .toDF("id", "date", "payload", "op")
    Load.mergeInto(spark, table, up, Seq("id"), "date", Some("op"))
    val out = spark.read.parquet(table)
    assert(out.count() == 3)
    assert(out.filter(col("id") === 1L).count() == 1) // null-part survivor
    assert(out.filter(col("id") === 2L).collect().head
      .getAs[String]("payload") == "N2")
    // delete every null-partition row: the default-partition dir must
    // be removed by name (not a literal "date=null" path)
    val del = Seq((1L, Option.empty[String], "", "delete"),
      (2L, Option.empty[String], "", "delete"))
      .toDF("id", "date", "payload", "op")
    Load.mergeInto(spark, table, del, Seq("id"), "date", Some("op"))
    assert(!nullDir.exists())
    val rest = spark.read.parquet(table)
    assert(rest.count() == 1 &&
      rest.collect().head.getAs[Long]("id") == 3L)
  }

  test("mergeInto keeps a zero-padded partition value in its own directory") {
    import spark.implicits._
    val table = s"${tmpDir()}/padded"
    Load.mergeInto(spark, table,
      Seq((1L, "01", "a"), (2L, "01", "b")).toDF("id", "p", "v"), Seq("id"), "p")
    Load.mergeInto(spark, table, Seq((1L, "01", "A")).toDF("id", "p", "v"),
      Seq("id"), "p")
    assert(new java.io.File(table).list()
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq == Seq("p=01"))
    assert(spark.read.schema("id BIGINT, v STRING, p STRING").parquet(table)
      .as[(Long, String, String)].collect().toSeq.sorted ==
      Seq((1L, "A", "01"), (2L, "b", "01")))
  }

  /** A frame's rows collected to the driver, as a K1/K2 batch. */
  private def batchOf(df: DataFrame): Load.Batch =
    Load.Batch(df.schema, df.collect().toSeq)

  test("K1 append dedups the batch on id before write") {
    import spark.implicits._
    val wh = tmpDir()
    val batch = batchOf(Seq(("p1", 5), ("p1", 6), ("p2", 7)).toDF("id", "score"))
    Load.appendPosts(batch, spark, wh)
    // the first row of an id is the one kept
    assert(spark.read.parquet(s"$wh/posts").as[(String, Int)].collect()
      .toSeq.sorted == Seq(("p1", 5), ("p2", 7)))
  }

  test("K1 append is idempotent across batches (table-wide PK contract)") {
    import spark.implicits._
    val wh = tmpDir()
    val batch = batchOf(Seq(("p1", 5), ("p2", 7)).toDF("id", "score"))
    Load.appendPosts(batch, spark, wh)
    Load.appendPosts(batch, spark, wh) // retry/re-run must not double-load
    assert(spark.read.parquet(s"$wh/posts").count() == 2)
    // the re-run's batch had no new id: it commits no file
    assert(new java.io.File(s"$wh/posts").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // a later batch with one new and one known id loads only the new row
    Load.appendPosts(batchOf(Seq(("p2", 9), ("p3", 1)).toDF("id", "score")),
      spark, wh)
    val out = spark.read.parquet(s"$wh/posts")
    assert(out.count() == 3)
  }

  test("K1 append of an empty first batch commits no file") {
    import spark.implicits._
    val wh = tmpDir()
    Load.appendPosts(batchOf(Seq.empty[(String, Int)].toDF("id", "score")),
      spark, wh)
    assert(new java.io.File(s"$wh/posts").list().isEmpty)
    // a table without a data file is absent: the next append creates it
    Load.appendPosts(batchOf(Seq(("p1", 5)).toDF("id", "score")), spark, wh)
    assert(spark.read.parquet(s"$wh/posts").as[(String, Int)].collect()
      .toSeq == Seq(("p1", 5)))
  }

  // the state a writer that died inside its job commit leaves: task
  // files committed under _temporary/0, which a read does not see
  test("K1 append after a crashed append stores each id once") {
    import spark.implicits._
    val wh = tmpDir()
    val table = s"$wh/posts"
    val rows = Seq(("p1", 5), ("p2", 7), ("p3", 1))
    Load.appendPosts(batchOf(Seq(("p0", 3)).toDF("id", "score")), spark, wh)
    val planted = s"${tmpDir()}/planted"
    rows.toDF("id", "score").coalesce(1).write.parquet(planted)
    val task = java.nio.file.Paths.get(
      s"$table/_temporary/0/task_202601010000_0001_m_000000")
    Files.createDirectories(task)
    new java.io.File(planted).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, task.resolve(f.getName)))
    Load.appendPosts(batchOf(rows.toDF("id", "score")), spark, wh)
    assert(spark.read.parquet(table).select("id").as[String].collect()
      .toSeq.sorted == Seq("p0", "p1", "p2", "p3"))
    assert(!Files.exists(java.nio.file.Paths.get(s"$table/_temporary")))
  }

  // the state a K1 or K2 writer that died between its stage step and its
  // commit leaves: a complete one-file write in <table>._staging
  test("K1/K2 append after a dead writer's complete staging never commits it") {
    import spark.implicits._
    val wh = tmpDir()
    def batch(rows: (String, Int)*) = batchOf(rows.toDF("id", "score"))
    def ids(table: String) = spark.read.parquet(s"$wh/$table").select("id")
      .as[String].collect().toSeq.sorted
    Load.appendPosts(batch("p0" -> 3), spark, wh)
    Load.appendComments(batch("p0" -> 3), spark, wh)
    // a dead K1: its one file staged, never renamed in
    Seq(("p1", 5), ("p9", 9)).toDF("id", "score").coalesce(1).write
      .parquet(s"$wh/posts._staging")
    // a dead K2: its stage step ran, its commit did not
    Load.stageComments(batch("p1" -> 5, "p9" -> 9), spark, wh)
    assert(ids("posts") == Seq("p0") && ids("comments") == Seq("p0"))
    // the re-run
    Load.appendPosts(batch("p1" -> 5, "p2" -> 7), spark, wh)
    Load.appendComments(batch("p1" -> 5, "p2" -> 7), spark, wh)
    Seq("posts", "comments").foreach { t =>
      assert(ids(t) == Seq("p0", "p1", "p2"), t)
      assert(!Files.exists(java.nio.file.Paths.get(s"$wh/$t._staging")), t)
    }
  }

  test("K2 append succeeds after a failed write left the table without data files") {
    val wh = tmpDir()
    val good = RedditModel.comments(spark, sf()).orderBy(col("id")).limit(20)
      .withColumn("extracted_at", current_timestamp())
    // same schema, but the write fails on the first row
    val bad = good.withColumn("body",
      raise_error(lit("comment page failed")).cast(good.schema("body").dataType))
    intercept[Exception](bad.write.mode("append").parquet(s"$wh/comments"))
    val dir = new java.io.File(s"$wh/comments")
    assert(dir.isDirectory)
    assert(!dir.listFiles().exists(_.getName.endsWith(".parquet")))
    Load.appendComments(batchOf(good.union(good)), spark, wh)
    def ids(df: DataFrame) =
      df.select("id").distinct().collect().map(_.getLong(0)).toSeq.sorted
    val stored = spark.read.parquet(s"$wh/comments")
    assert(stored.count() == ids(good).size)
    assert(ids(stored) == ids(good))
  }

  test("K1 append fails loudly on a stored id of another type") {
    import spark.implicits._
    val wh = tmpDir()
    Load.appendPosts(batchOf(Seq((1L, 5)).toDF("id", "score")), spark, wh)
    intercept[Exception](Load.appendPosts(
      batchOf(Seq(("2", 7)).toDF("id", "score")), spark, wh))
    assert(spark.read.parquet(s"$wh/posts").count() == 1)
  }

  test("pipeline runs end-to-end on the fixture source") {
    val wh = tmpDir()
    val p = new Pipeline(spark, new FixtureSource(sf()), wh)
    val n = p.runPipeline("1-URGENT", limit = 40, extractComments = true,
      topPosts = 3, commentLimit = 5).get
    assert(n == 40)
    assert(spark.read.parquet(s"$wh/posts").count() == 40)
    val stats = spark.read.parquet(s"$wh/subreddit_stats")
    assert(stats.count() > 0)
    assert(stats.columns.contains("avg_score"))
    // comments fetched for the top posts (some may legitimately be empty)
    val comments = spark.read.parquet(s"$wh/comments")
    assert(comments.count() > 0)
    assert(comments.select("extracted_at").collect().forall(!_.isNullAt(0)))
  }

  /** Delegating source around the fixture that records the post ids its
    * comments were asked for, in call order, and lets a test rewrite each
    * post's frame. It keeps the per-post `fetchCommentsOf` default.
    */
  private class RecordingSource(
      rewrite: (Int, DataFrame) => DataFrame = (_, c) => c)
      extends RedditSource {
    private val inner = new FixtureSource(sf())
    val asked = ArrayBuffer.empty[String]
    override def fetchPosts(spark: SparkSession, subreddit: String,
        limit: Int, sort: String): DataFrame =
      inner.fetchPosts(spark, subreddit, limit, sort)
    override def fetchComments(spark: SparkSession, postId: String,
        limit: Int): DataFrame = {
      asked += postId
      rewrite(asked.size - 1, inner.fetchComments(spark, postId, limit))
    }
  }

  /** K2's contract for the comments of posts `ids`: the stored ids are
    * exactly the distinct ids that `fetchComments` returns for them (the
    * fixture repeats some comment ids, and the keyed append keeps one
    * row per id), and every stored row is one of those posts' fixture
    * comments.
    */
  private def assertStoredComments(wh: String, ids: Seq[String],
      limit: Int): Unit = {
    val src = new FixtureSource(sf())
    val fetched = ids.flatMap(id => src.fetchComments(spark, id, limit)
      .select("id").collect().map(_.get(0).toString)).distinct.sorted
    assert(fetched.nonEmpty)
    val stored = spark.read.parquet(s"$wh/comments").drop("extracted_at")
    assert(stored.select("id").collect().map(_.get(0).toString)
      .toSeq.sorted == fetched)
    val fixture = RedditModel.comments(spark, sf())
      .filter(col("post_id").cast("string").isin(ids: _*))
      .select(stored.columns.map(col): _*)
    assert(stored.except(fixture).isEmpty)
  }

  test("pipeline skips a post whose comment fetch fails, eagerly or at the action") {
    val wh = tmpDir()
    // call 0 throws before returning a frame; call 1 returns a frame of
    // the same schema whose action fails
    val src = new RecordingSource({
      case (0, _) => throw new RuntimeException("comment api down")
      case (1, c) => c.withColumn("body",
          raise_error(lit("comment page failed")).cast(c.schema("body").dataType))
      case (_, c) => c
    })
    val p = new Pipeline(spark, src, wh)
    assert(p.runPipeline("1-URGENT", limit = 40, extractComments = true,
      topPosts = 6, commentLimit = 5).isSuccess)
    assert(src.asked.size == 6)
    // the failure fires only on a row: the second post must have one
    assert(!new FixtureSource(sf()).fetchComments(spark, src.asked(1), 5).isEmpty)
    assertStoredComments(wh, src.asked.drop(2).toSeq, 5)
    assert(spark.read.parquet(s"$wh/subreddit_stats").count() > 0)
  }

  test("pipeline loads the top posts' comments in one keyed write") {
    val wh = tmpDir()
    val writes = ArrayBuffer.empty[String]
    val commentsWritten, statsWritten = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = qe.analyzed.foreach {
        case i: InsertIntoHadoopFsRelationCommand =>
          val path = i.outputPath.toUri.getPath
          writes.synchronized(writes += path)
          if (path == s"$wh/comments._staging") commentsWritten.countDown()
          if (path == s"$wh/subreddit_stats._staging") statsWritten.countDown()
        case _ =>
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    val src = new RecordingSource()
    spark.listenerManager.register(listener)
    try {
      new Pipeline(spark, src, wh).runPipeline("1-URGENT", limit = 40,
        extractComments = true, topPosts = 3, commentLimit = 5).get
      // the comment and stats stages run side by side and are the last
      // writes (each commit is a rename): wait for both
      assert(commentsWritten.await(60, TimeUnit.SECONDS),
        "comments write not seen")
      assert(statsWritten.await(60, TimeUnit.SECONDS), "stats write not seen")
    } finally spark.listenerManager.unregister(listener)
    assert(src.asked.size == 3)
    assertStoredComments(wh, src.asked.toSeq, 5)
    assert(writes.synchronized(writes.count(_ == s"$wh/comments._staging")) == 1)
  }

  test("pipeline writes no comments table when every comment frame is empty") {
    val wh = tmpDir()
    val src = new RecordingSource((_, c) => c.limit(0))
    new Pipeline(spark, src, wh).runPipeline("1-URGENT", limit = 40,
      extractComments = true, topPosts = 3, commentLimit = 5).get
    assert(src.asked.size == 3)
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/comments")))
    assert(spark.read.parquet(s"$wh/subreddit_stats").count() > 0)
  }

  test("pipeline's comment stage starts as many jobs for one top post as for ten") {
    def jobs(topPosts: Int): Int = {
      val wh = tmpDir()
      val n = jobsStarted {
        new Pipeline(spark, new FixtureSource(sf()), wh).runPipeline(
          "1-URGENT", limit = 40, extractComments = true,
          topPosts = topPosts, commentLimit = 5).get
      }
      assert(spark.read.parquet(s"$wh/comments").count() > 0)
      n
    }
    assert(jobs(1) == jobs(10))
  }

  test("pipeline skips a subreddit's comments when the batched read fails at the action") {
    val wh = tmpDir()
    val src = new FixtureSource(sf()) {
      override def fetchCommentsOf(spark: SparkSession, postIds: Seq[String],
          limit: Int): DataFrame = {
        val c = super.fetchCommentsOf(spark, postIds, limit)
        c.withColumn("body",
          raise_error(lit("comment scan failed")).cast(c.schema("body").dataType))
      }
    }
    val logged = ArrayBuffer.empty[String]
    val p = new Pipeline(spark, src, wh) {
      override def log(msg: String): Unit = logged += msg
    }
    assert(p.runPipeline("1-URGENT", limit = 40, extractComments = true,
      topPosts = 3, commentLimit = 5).get == 40)
    assert(logged.exists(m => m.startsWith("1-URGENT: comment fetch failed") &&
      m.contains("comment scan failed")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/comments")))
    assert(spark.read.parquet(s"$wh/posts").count() == 40)
    assert(spark.read.parquet(s"$wh/subreddit_stats").count() > 0)
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  test("the extract is one top-K job on the fixture and the JSON-dump sources") {
    val dump = tmpDir()
    RedditModel.rawPosts(spark, sf()).withColumn("id", col("id").cast("string"))
      .write.json(s"$dump/posts")
    Seq(new FixtureSource(sf()),
        new JsonDumpSource(s"$dump/posts", s"$dump/comments")).foreach { src =>
      val extract = new Pipeline(spark, src, tmpDir())
        .extracted("1-URGENT", 40, "hot")
      var rows = 0
      assert(jobsStarted { rows = extract.collect().length } == 1, src)
      assert(rows == 40, src)
      val plan = extract.queryExecution.executedPlan
      assert(Aqe.collect(plan) { case t: TakeOrderedAndProjectExec => t }
        .size == 1, plan)
      assert(Aqe.collect(plan) { case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[RangePartitioning] => e }
        .isEmpty, plan)
    }
  }

  test("pipeline keeps the first row of a listed id and leaves no cache behind") {
    val marked = "a repeated listing row"
    val listing = new FixtureSource(sf()) {
      override def fetchPosts(spark: SparkSession, subreddit: String,
          limit: Int, sort: String): DataFrame = {
        val l = super.fetchPosts(spark, subreddit, limit, sort)
        l.union(l.limit(5).withColumn("title", lit(marked)))
      }
    }
    val wh = tmpDir()
    val p = new Pipeline(spark, listing, wh)
    val cachedBefore = spark.sharedState.cacheManager.isEmpty
    assert(p.runPipeline("1-URGENT", limit = 40).get == 40)
    assert(spark.sharedState.cacheManager.isEmpty == cachedBefore)
    val distinct = Enrich.enrichPosts(
      new FixtureSource(sf()).fetchPosts(spark, "1-URGENT", 40, "hot"))
    val stored = spark.read.parquet(s"$wh/posts").drop("extracted_at")
    def sorted(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(stored.count() == 40)
    assert(sorted(stored) == sorted(distinct.select(stored.columns.map(col): _*)))
    assert(sorted(spark.read.parquet(s"$wh/subreddit_stats")) ==
      sorted(p.dailyStats(distinct, "1-URGENT")))
  }

  test("pipeline evaluates the extracted frame once per subreddit") {
    val extracted = spark.sparkContext.longAccumulator("extracted rows")
    val bump = udf(() => { extracted.add(1); true }).asNondeterministic()
    val src = new FixtureSource(sf()) {
      override def fetchPosts(spark: SparkSession, subreddit: String,
          limit: Int, sort: String): DataFrame =
        super.fetchPosts(spark, subreddit, limit, sort).filter(bump())
    }
    assert(new Pipeline(spark, src, tmpDir()).runPipeline("1-URGENT",
      limit = 40, extractComments = true, topPosts = 3, commentLimit = 5)
      .get == 40)
    assert(extracted.value == 40)
  }

  test("pipeline fails a subreddit whose posts load fails, before any comment or stats write") {
    import spark.implicits._
    val wh = tmpDir()
    // a stored post id of another type fails K1's read of the stored ids
    Seq(("p1", 5)).toDF("id", "score").write.parquet(s"$wh/posts")
    val res = new Pipeline(spark, new FixtureSource(sf()), wh).runPipeline(
      "1-URGENT", limit = 40, extractComments = true, topPosts = 3,
      commentLimit = 5)
    assert(res.isFailure)
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/comments")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/subreddit_stats")))
  }

  test("pipeline loads the comments when the stats upsert fails, and returns after both") {
    import spark.implicits._
    val wh = tmpDir()
    // a stored stats table whose columns differ fails K3's merge
    Seq(("r/a", 1)).toDF("subreddit", "other").write
      .parquet(s"$wh/subreddit_stats")
    val src = new RecordingSource()
    var res: scala.util.Try[Long] = null
    val (started, running) = jobsRun {
      res = new Pipeline(spark, src, wh).runPipeline("1-URGENT", limit = 40,
        extractComments = true, topPosts = 3, commentLimit = 5)
    }
    assert(res.isFailure)
    assert(started > 0 && running == 0, (started, running))
    assert(src.asked.size == 3)
    assertStoredComments(wh, src.asked.toSeq, 5)
    assert(spark.read.parquet(s"$wh/posts").count() == 40)
  }

  test("pipeline isolates per-subreddit failures (fail-soft, §2.14)") {
    val wh = tmpDir()
    val failing = new FixtureSource(sf()) {
      override def fetchPosts(spark: org.apache.spark.sql.SparkSession,
          subreddit: String, limit: Int, sort: String) =
        if (subreddit == "boom") throw new RuntimeException("api down")
        else super.fetchPosts(spark, subreddit, limit, sort)
    }
    val p = new Pipeline(spark, failing, wh)
    val results = p.runAll(Seq("1-URGENT", "boom", "5-LOW"), limit = 10,
      extractComments = false)
    assert(results("boom").isFailure)
    assert(results("1-URGENT").isSuccess && results("5-LOW").isSuccess)
    // the healthy subreddits still loaded
    assert(spark.read.parquet(s"$wh/posts").count() == 20)
  }

  test("empty extract short-circuits without writing (P10 guard)") {
    val wh = tmpDir()
    val p = new Pipeline(spark, new FixtureSource(sf()), wh)
    assert(p.runPipeline("no-such-subreddit").get == 0L)
    assert(!Files.exists(java.nio.file.Paths.get(s"$wh/posts")))
  }

  test("driver top-K orders like Spark's orderBy(score desc, id)") {
    import spark.implicits._
    // U+FF21 sorts after U+1F600 in UTF-16 and before it in UTF-8
    val (fullA, smiley) = ("\uFF21", "\uD83D\uDE00")
    assert(fullA.compareTo(smiley) > 0)
    val frames = Seq(
      Seq((5L, Option(10)), (3L, None), (4L, Some(10)), (1L, Some(7)),
        (2L, Some(10)), (6L, None), (7L, Some(-1))).toDF("id", "score"),
      Seq((fullA, Option(3)), ("b", Some(3)), (smiley, Some(3)),
        ("a", None), ("B", Some(3)), ("\u00e9", Some(5)), ("", Some(3)),
        ("z", None)).toDF("id", "score"))
    frames.foreach { df =>
      val rows = df.collect().toSeq
      (0 to rows.size + 1).foreach { k =>
        val expected = df.orderBy(col("score").desc, col("id")).limit(k)
          .select("id").collect().map(_.get(0)).toSeq
        assert(Pipeline.topIds(df.schema, rows, k) == expected, (df.schema, k))
      }
    }
  }

  /** Runs `body` and returns the executed plans of its writes to the
    * `paths`, waiting for one per path.
    */
  private def writePlans(paths: Set[String])(body: => Unit): Map[String, SparkPlan] = {
    val plans = scala.collection.concurrent.TrieMap.empty[String, SparkPlan]
    val seen = new CountDownLatch(paths.size)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = qe.analyzed.foreach {
        case i: InsertIntoHadoopFsRelationCommand
            if paths(i.outputPath.toUri.getPath) =>
          if (plans.put(i.outputPath.toUri.getPath, qe.executedPlan).isEmpty)
            seen.countDown()
        case _ =>
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      assert(seen.await(60, TimeUnit.SECONDS), s"writes seen: ${plans.keys}")
    } finally spark.listenerManager.unregister(listener)
    plans.toMap
  }

  test("pipeline writes posts and comments without a shuffle over an existing warehouse") {
    val wh = tmpDir()
    val p = new Pipeline(spark, new FixtureSource(sf()), wh)
    def run(sub: String) = p.runPipeline(sub, limit = 40,
      extractComments = true, topPosts = 3, commentLimit = 5).get
    run("1-URGENT")
    val plans = writePlans(Set(s"$wh/posts._staging",
      s"$wh/comments._staging"))(run("3-MEDIUM"))
    plans.foreach { case (path, plan) =>
      // the anti-join against the stored ids is there, the dedup is not
      assert(Aqe.collect(plan) { case j: BroadcastHashJoinExec => j }.size == 1,
        s"$path: $plan")
      assert(Aqe.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"$path: $plan")
    }
  }

  test("each pipeline run of a subreddit adds one data file per table") {
    val wh = tmpDir()
    val p = new Pipeline(spark, new FixtureSource(sf()), wh)
    def dataFiles(table: String) = new java.io.File(s"$wh/$table").listFiles()
      .count(_.getName.endsWith(".parquet"))
    Seq("1-URGENT", "3-MEDIUM").zipWithIndex.foreach { case (sub, i) =>
      p.runPipeline(sub, limit = 40, extractComments = true, topPosts = 3,
        commentLimit = 5).get
      assert(Seq("posts", "comments", "subreddit_stats").map(dataFiles) ==
        Seq(i + 1, i + 1, 1), sub)
      assert(!new java.io.File(wh).list().exists(_.contains("._")), sub)
    }
  }

  test("re-running a subreddit over the same warehouse adds no data file") {
    val wh = tmpDir()
    val p = new Pipeline(spark, new FixtureSource(sf()), wh)
    def stored() = Seq("posts", "comments").map { t =>
      (new java.io.File(s"$wh/$t").listFiles()
        .count(_.getName.endsWith(".parquet")),
        spark.read.parquet(s"$wh/$t").count())
    }
    def run() = p.runPipeline("3-MEDIUM", limit = 40, extractComments = true,
      topPosts = 3, commentLimit = 5).get
    run()
    val first = stored()
    assert(first.forall { case (files, rows) => files == 1 && rows > 0 })
    run()
    assert(stored() == first)
    assert(!new java.io.File(wh).list().exists(_.contains("._")))
  }

  test("the stats aggregate over a driver-held batch plans no shuffle") {
    val p = new Pipeline(spark, new FixtureSource(sf()), tmpDir())
    val extract = p.extracted("1-URGENT", 40, "hot")
    val stats = p.dailyStats(batchOf(extract).frame(spark), "1-URGENT")
    assert(stats.collect().nonEmpty)
    val plan = stats.queryExecution.executedPlan
    assert(Aqe.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
  }

  test("pipeline runs a subreddit over an existing warehouse in at most 8 jobs") {
    val wh = tmpDir()
    val p = new Pipeline(spark, new FixtureSource(sf()), wh)
    def run(sub: String) = p.runPipeline(sub, limit = 40,
      extractComments = true, topPosts = 10, commentLimit = 5).get
    run("1-URGENT")
    val (started, running) = jobsRun(run("3-MEDIUM"))
    assert(started <= 8 && running == 0, (started, running))
  }

  /** Every file under `dir` with its bytes and modification time. */
  private def snapshot(dir: String): Map[String, (Seq[Byte], Long)] =
    FileUtils.listFiles(new java.io.File(dir), null, true).asScala
      .map(f => f.getPath -> (Files.readAllBytes(f.toPath).toSeq,
        f.lastModified())).toMap

  /** A pipeline whose log lines are kept, in order. */
  private class LoggedPipeline(wh: String) extends Pipeline(spark,
      new FixtureSource(sf()), wh) {
    val logged = ArrayBuffer.empty[String]
    override def log(msg: String): Unit = logged.synchronized(logged += msg)
    def records: Seq[Map[String, Any]] = logged.synchronized(logged.toSeq)
      .filter(_.startsWith("{")).map(l =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(l, classOf[java.util.Map[String, Any]]).asScala.toMap)
  }

  test("pipeline's K1 failure leaves the stats table unchanged and nothing staged") {
    import spark.implicits._
    val wh = tmpDir()
    val p = new LoggedPipeline(wh)
    p.runPipeline("1-URGENT", limit = 40).get
    val stats = s"$wh/subreddit_stats"
    val before = snapshot(stats)
    // a stored post id of another type fails K1's read of the stored ids
    FileUtils.deleteDirectory(new java.io.File(s"$wh/posts"))
    Seq(("p1", 5)).toDF("id", "score").write.parquet(s"$wh/posts")
    assert(p.runPipeline("3-MEDIUM", limit = 40, extractComments = true,
      topPosts = 3, commentLimit = 5).isFailure)
    assert(snapshot(stats) == before)
    Seq(s"$stats._staging", s"$wh/comments", s"$wh/comments._staging")
      .foreach(d => assert(!Files.exists(java.nio.file.Paths.get(d)), d))
    // the comments and the merge had been staged: their commits are the
    // discards
    val last = p.records.filter(_("sub") == "3-MEDIUM")
    Seq("K2", "K3").foreach { k =>
      assert(last.exists(r => r("stage") == s"${k}_stage" &&
        r("outcome") == "ok"), k)
      assert(last.exists(r => r("stage") == s"${k}_commit" &&
        r("outcome") == "discarded"), k)
    }
    assert(last.exists(r => r("stage") == "K1" && r("outcome") == "failed"))
  }

  test("pipeline logs one JSON record per stage, in dependency order") {
    val p = new LoggedPipeline(tmpDir())
    p.runPipeline("1-URGENT", limit = 40, extractComments = true,
      topPosts = 3, commentLimit = 5).get
    val recs = p.records.map(r => r("stage") -> r).toMap
    assert(p.records.size == 7 && recs.keySet == Set("extract", "K1",
      "comment_read", "K2_stage", "K2_commit", "K3_stage", "K3_commit"),
      p.records)
    assert(p.records.forall(r => r("sub") == "1-URGENT" && r("outcome") == "ok"))
    Seq("extract", "K1", "K3_stage", "K3_commit").foreach(s =>
      assert(recs(s)("rows") == 40, recs(s)))
    assert(recs("K2_stage")("rows") == recs("K2_commit")("rows"))
    def long(s: String, f: String) = recs(s)(f).toString.toLong
    def end(s: String) = long(s, "start_ms") + long(s, "ms")
    Seq("extract" -> "K1", "extract" -> "comment_read",
        "extract" -> "K3_stage", "comment_read" -> "K2_stage",
        "K2_stage" -> "K2_commit", "K1" -> "K2_commit",
        "K3_stage" -> "K3_commit", "K1" -> "K3_commit").foreach {
      case (a, b) => assert(end(a) <= long(b, "start_ms"), (a, b, p.records))
    }
  }

  test("pipeline compiles no new code when it re-runs a subreddit") {
    def run() = new Pipeline(spark, new FixtureSource(sf()), tmpDir())
      .runPipeline("1-URGENT", limit = 40, extractComments = true,
        topPosts = 3, commentLimit = 5).get
    run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }
}
