package graft

import org.apache.spark.sql.functions._
import graft.model.RedditModel
import graft.sink.{Skew, Warehouse}

/** Physical-layout evidence: bucketed co-located joins really drop the
  * shuffle, and salted aggregation preserves results.
  */
class WarehouseSpec extends SparkSpec {

  test("bucketed posts/comments join plans with no input Exchange") {
    Warehouse.materializeBucketed(spark,
      RedditModel.posts(spark, sf()),
      RedditModel.comments(spark, sf()), buckets = 4)
    val q = Warehouse.commentCoverageBucketed(spark)
    val plan = q.queryExecution.executedPlan.toString
    // the join must consume bucket-partitioned scans directly: the only
    // allowed exchanges are the aggregation/order ones ABOVE the join
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a SortMergeJoin:\n$plan")
    val belowJoin = plan.substring(joinIdx)
    assert(!belowJoin.contains("Exchange"),
      s"join inputs must not shuffle:\n$plan")
    // and the result matches the unbucketed computation
    val expect = RedditModel.posts(spark, sf())
      .select(col("id"), col("subreddit"))
      .join(RedditModel.comments(spark, sf())
        .select(col("id").as("c_id"), col("post_id")),
        col("id") === col("post_id"), "left")
      .groupBy(col("subreddit"))
      .agg(count(col("c_id")).as("total_comments"))
      .orderBy(col("subreddit")).collect()
    assert(q.collect().toSeq == expect.toSeq)
  }

  test("bucketed q09-shaped inner join plans with no input Exchange") {
    Warehouse.materializeBucketed(spark,
      RedditModel.posts(spark, sf()),
      RedditModel.comments(spark, sf()), buckets = 4)
    val q = Warehouse.topCommentersBucketed(spark)
    val plan = q.queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"expected a SortMergeJoin:\n$plan")
    assert(!plan.substring(joinIdx).contains("Exchange"),
      s"join inputs must not shuffle:\n$plan")
    // result matches the same computation over the unbucketed reads
    val expect = RedditModel.posts(spark, sf())
      .select(col("id"), col("subreddit"))
      .join(RedditModel.comments(spark, sf())
        .filter(col("author") =!= "[deleted]")
        .select(col("id").as("c_id"), col("post_id"), col("author")),
        col("id") === col("post_id"))
      .groupBy(col("subreddit"), col("author"))
      .agg(count(col("c_id")).as("comment_count"))
      .filter(col("comment_count") >= 3)
      .orderBy(col("subreddit"), col("comment_count").desc, col("author"))
      .collect()
    assert(q.collect().toSeq == expect.toSeq)
  }

  test("writeZordered: the real parquet reader scans fewer rows than " +
    "either single-dim sort on the two-dim workload grid") {
    import org.apache.spark.sql.Row
    // the wh_zorder table and workload grid, through the PRODUCTION
    // write path: pruning is measured off FileSourceScan's
    // numOutputRows — what the scanner actually read, not a model
    val base = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey").as("c"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01"))
          .cast("long").as("d"))
    val total = base.count()
    val root = "/tmp/graft_wh_zorder_spec"
    Warehouse.writeZordered(base, "c", "d", s"$root/z", files = 16)
    // single-dim comparators written through the same range machinery
    base.repartitionByRange(16, col("d")).sortWithinPartitions(col("d"))
      .write.mode("overwrite").parquet(s"$root/t")
    base.repartitionByRange(16, col("c")).sortWithinPartitions(col("c"))
      .write.mode("overwrite").parquet(s"$root/k")
    // the write path must not drop or duplicate rows or columns
    val z = spark.read.parquet(s"$root/z")
    assert(z.count() == total)
    assert(z.columns.sorted.toSeq == base.columns.sorted.toSeq)
    val Row(mnc: Long, mxc: Long, mnd: Long, mxd: Long) =
      base.agg(min(col("c")), max(col("c")), min(col("d")), max(col("d")))
        .head()
    val (spanC, spanD) = (mxc - mnc + 1, mxd - mnd + 1)
    def rowsRead(dir: String): Long = {
      val read = spark.read.parquet(dir)
      read.count() // warm footers so metrics reflect pruning
      (for (i <- 0 until 4; j <- 0 until 4) yield {
        val (cl, ch) = (mnc + spanC * i / 4, mnc + spanC * (i + 1) / 4 - 1)
        val (dl, dh) = (mnd + spanD * j / 4, mnd + spanD * (j + 1) / 4 - 1)
        val q = read
          .filter(col("c") >= cl && col("c") <= ch &&
            col("d") >= dl && col("d") <= dh)
          .select(col("o_orderkey"))
        q.queryExecution.toRdd.count()
        q.queryExecution.executedPlan.collectLeaves()
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      }).sum
    }
    val (rz, rt, rk) = (rowsRead(s"$root/z"), rowsRead(s"$root/t"),
      rowsRead(s"$root/k"))
    // 11.6% vs ~26% was measured at sf0.1/64 files (SCALE.md "Round-14
    // (cont.): the graph tier and the layout tier"); the pin here is
    // the ordering, which must hold at any granularity
    assert(rz < rt && rz < rk,
      s"z-order read $rz rows vs time $rt / key $rk on the 2-dim grid")
  }

  test("salted aggregation equals direct groupBy count") {
    val posts = RedditModel.posts(spark, sf())
    val direct = posts.groupBy(col("subreddit"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("subreddit")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = Skew.saltedCount(posts, "subreddit", salts = 7)
      .orderBy(col("subreddit")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == direct)
  }

  test("salt assignment is deterministic across repartitionings") {
    val posts = RedditModel.posts(spark, sf())
    // the content-derived salt must give the SAME per-(key, salt)
    // partials no matter how the input is physically partitioned —
    // the old partition-id salt failed exactly this
    def partials(df: org.apache.spark.sql.DataFrame) =
      Skew.saltedCount(df, "subreddit", salts = 7)
        .orderBy(col("subreddit")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    val saltDist = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("_salt",
          pmod(hash(df.columns.map(col): _*), lit(7)))
        .groupBy(col("subreddit"), col("_salt")).count()
        .orderBy(col("subreddit"), col("_salt")).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(partials(posts) == partials(posts.repartition(13)))
    assert(saltDist(posts) == saltDist(posts.repartition(3)))
  }

  test("materialized posts: q13-style created_utc bound reaches the parquet scan") {
    // SCALE.md's known non-pushdown: over the FIXTURE model,
    // created_utc is derived in the plan, so a range filter cannot
    // reach parquet. Against a materialized posts table the same
    // predicate must push down — this pins that claim.
    val dir = tmpDir("graft_pushdown_")
    RedditModel.posts(spark, sf()).write.mode("overwrite").parquet(dir)
    val mat = spark.read.parquet(dir)
    // a cutoff strictly inside the fixture's date range, so the
    // filtered set is non-empty AND a strict subset
    val Array(lo, hi) = RedditModel.posts(spark, sf())
      .agg(min(col("created_utc")), max(col("created_utc")))
      .head().toSeq.map(_.asInstanceOf[java.time.LocalDateTime]).toArray
    val cut = lo.plusSeconds(
      java.time.Duration.between(lo, hi).getSeconds / 2)
    val q13Shaped = mat
      .filter(col("created_utc") >= lit(cut))
      .select(col("subreddit"), col("score"), col("created_utc"))
    val scan = q13Shaped.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("expected a parquet FileSourceScanExec"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(created_utc"),
      s"created_utc bound must reach the scan, got: $pushed")
    // column pruning rides along: the scan reads only the 3 columns
    val readSchema = scan.metadata("ReadSchema")
    assert(Seq("subreddit", "score", "created_utc")
        .forall(readSchema.contains) && !readSchema.contains("title"),
      s"scan must prune to the projected columns, got: $readSchema")
    // and the materialized path computes the same rows as the fixture
    val want = RedditModel.posts(spark, sf())
      .filter(col("created_utc") >= lit(cut))
      .select(col("subreddit"), col("score"), col("created_utc"))
      .collect().map(_.toSeq).toSet
    assert(q13Shaped.collect().map(_.toSeq).toSet == want && want.nonEmpty)
    assert(want.size < mat.count(), "cutoff must be a strict subset")
  }
}
