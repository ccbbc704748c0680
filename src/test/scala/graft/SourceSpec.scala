package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener
import graft.model.RedditModel
import graft.source.{FixtureSource, HttpApiSource, JsonDumpSource, RedditSource}

/** The JSON-dump source binding: schema enforcement + sort/limit
  * semantics of the extract contract (S1/S2).
  */
class SourceSpec extends SparkSpec {

  private def writeDump(): (String, String) = {
    val dir = Paths.get(tmpDir("graft_dump_"))
    val posts = Seq(
      """{"id":"p1","title":"hot one","author":"a","subreddit":"r/x","score":50,"upvote_ratio":0.9,"num_comments":10,"created_utc":"2025-01-01T10:00:00.000Z","selftext":"body","url":"u","is_video":false,"is_original_content":true,"over_18":false,"stickied":false,"locked":false}""",
      """{"id":"p2","title":"top one","author":"b","subreddit":"r/x","score":99,"upvote_ratio":0.8,"num_comments":2,"created_utc":"2025-01-02T10:00:00.000Z","selftext":null,"url":"u","is_video":false,"is_original_content":false,"over_18":false,"stickied":false,"locked":false}""",
      """{"id":"p3","title":"other sub","author":"c","subreddit":"r/y","score":5,"upvote_ratio":0.5,"num_comments":1,"created_utc":"2025-01-03T10:00:00.000Z","selftext":"s","url":"u","is_video":true,"is_original_content":false,"over_18":false,"stickied":false,"locked":false}""")
    val comments = Seq(
      """{"id":"c1","post_id":"p1","author":"z","body":"hi","score":3,"created_utc":"2025-01-01T11:00:00.000Z","parent_id":"p1","is_submitter":false}""",
      """{"id":"c2","post_id":"p1","author":"z","body":null,"score":1,"created_utc":"2025-01-01T12:00:00.000Z","parent_id":"p1","is_submitter":false}""",
      """{"id":"c3","post_id":"p2","author":"y","body":null,"score":0,"created_utc":"2025-01-02T11:00:00.000Z","parent_id":"p2","is_submitter":false}""",
      """{"id":"c4","post_id":"p2","author":"y","body":"a","score":2,"created_utc":"2025-01-02T12:00:00.000Z","parent_id":"p2","is_submitter":false}""",
      """{"id":"c5","post_id":"p2","author":"x","body":"b","score":4,"created_utc":"2025-01-02T13:00:00.000Z","parent_id":"c4","is_submitter":true}""",
      """{"id":"c6","post_id":"p2","author":"x","body":"c","score":1,"created_utc":"2025-01-02T14:00:00.000Z","parent_id":"c5","is_submitter":true}""")
    val pPath = dir.resolve("posts.json")
    val cPath = dir.resolve("comments.json")
    Files.write(pPath, posts.mkString("\n").getBytes("UTF-8"))
    Files.write(cPath, comments.mkString("\n").getBytes("UTF-8"))
    (pPath.toString, cPath.toString)
  }

  test("fetchPosts filters subreddit, sorts, limits, keeps declared schema") {
    val (p, c) = writeDump()
    val src = new JsonDumpSource(p, c)
    val top = src.fetchPosts(spark, "r/x", 1, "top").collect()
    assert(top.length == 1 && top.head.getAs[String]("id") == "p2")
    val hot = src.fetchPosts(spark, "r/x", 10, "hot").collect()
    assert(hot.map(_.getAs[String]("id")).toSeq == Seq("p1", "p2"))
    // declared types enforced at read
    val df = src.fetchPosts(spark, "r/x", 10, "new")
    assert(df.schema("score").dataType.typeName == "integer")
    assert(df.schema("created_utc").dataType.typeName == "timestamp")
  }

  test("fetchPosts orders every sort by its key, descending, then id") {
    val (p, c) = writeDump()
    assert(new JsonDumpSource(p, c).fetchPosts(spark, "r/x", 10, "new")
      .collect().map(_.getAs[String]("id")).toSeq == Seq("p2", "p1"))
    // the fixture source lists through the same order
    val fixture = new FixtureSource(sf())
    Seq("new" -> "created_utc", "top" -> "score", "hot" -> "num_comments")
      .foreach { case (sort, key) =>
        val rows = fixture.fetchPosts(spark, "1-URGENT", 15, sort).collect()
        assert(rows.length == 15)
        val keys = rows.map(r =>
          (r.getAs[Comparable[Any]](key), r.getAs[Any]("id").toString.toLong))
        keys.sliding(2).foreach { case Array((k1, i1), (k2, i2)) =>
          val cmp = k1.compareTo(k2)
          assert(cmp > 0 || (cmp == 0 && i1 < i2), s"$sort: $k1/$i1 before $k2/$i2")
        }
      }
  }

  test("fetchComments drops body-less rows (P9 guard) and limits") {
    val (p, c) = writeDump()
    val src = new JsonDumpSource(p, c)
    val out = src.fetchComments(spark, "p1", 10).collect()
    assert(out.length == 1 && out.head.getAs[String]("id") == "c1")
  }

  /** Distinct comment ids per post, from one `fetchCommentsOf` read and
    * from one `fetchComments` per post. The fixture repeats some comment
    * ids, so both sides compare distinct ids.
    */
  private def idsPerPost(src: RedditSource, posts: Seq[String],
      limit: Int): (Map[String, Seq[String]], Map[String, Seq[String]]) = {
    def distinct(ids: Seq[Any]) = ids.map(_.toString).distinct.sorted
    val batched = src.fetchCommentsOf(spark, posts, limit)
      .select("post_id", "id").collect().toSeq
      .groupBy(_.get(0).toString).map { case (p, rs) => p -> distinct(rs.map(_.get(1))) }
    val perPost = posts.map(p => p -> distinct(src.fetchComments(spark, p, limit)
      .select("id").collect().toSeq.map(_.get(0)))).filter(_._2.nonEmpty).toMap
    (batched, perPost)
  }

  test("fetchCommentsOf on a dump cuts each post like its own fetchComments") {
    val (p, c) = writeDump()
    // p1: one comment plus a body-less one; p2: a body-less comment, then
    // three that the limit cuts to two; p3: none
    val (batched, perPost) =
      idsPerPost(new JsonDumpSource(p, c), Seq("p1", "p2", "p3"), 2)
    assert(batched == Map("p1" -> Seq("c1"), "p2" -> Seq("c4", "c5")))
    assert(batched == perPost)
  }

  test("fetchCommentsOf on the fixture cuts each post like its own fetchComments") {
    val src = new FixtureSource(sf())
    val posts = src.fetchPosts(spark, "1-URGENT", 20, "top")
      .select("id").collect().map(_.get(0).toString).toSeq
    val limit = 3
    val (batched, perPost) = idsPerPost(src, posts, limit)
    assert(batched == perPost)
    // the limit cuts at least one post
    assert(posts.exists(p =>
      src.fetchComments(spark, p, 100).select("id").distinct().count() > limit))
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  /** The executed plan of the first query `body` runs that scans a
    * file.
    */
  private def scanPlan(body: => Unit): SparkPlan = {
    val plan = new AtomicReference[SparkPlan]
    val seen = new CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (Aqe.find(qe.executedPlan)(_.isInstanceOf[FileSourceScanExec])
            .isDefined && plan.compareAndSet(null, qe.executedPlan))
          seen.countDown()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      assert(seen.await(60, TimeUnit.SECONDS), "no scan seen")
    } finally spark.listenerManager.unregister(listener)
    plan.get
  }

  test("fetchCommentsOf on the fixture compares ids in post_id's type, at the scan") {
    val src = new FixtureSource(sf())
    val Seq(a, b) = src.fetchPosts(spark, "1-URGENT", 2, "top")
      .select("id").collect().map(_.get(0).toString).toSeq
    // two canonical ids, then ids whose string no bigint renders as
    val ids = Seq(a, b, s"0$a", s"+$b", s" $a", "abc")
    var rows = Seq.empty[String]
    val plan = scanPlan {
      rows = src.fetchCommentsOf(spark, ids, 1000).collect().map(_.toString)
        .toSeq.sorted
    }
    val pushed = Aqe.collect(plan) { case s: FileSourceScanExec =>
      s.metadata.getOrElse("PushedFilters", "") }
    assert(pushed.exists(_.contains("In(")), plan)
    assert(Aqe.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan)
    // the rows of the string compare
    val byString = RedditModel.comments(spark, sf())
      .filter(col("post_id").cast("string").isin(ids: _*) &&
        col("body").isNotNull)
      .collect().map(_.toString).toSeq.sorted
    assert(rows.nonEmpty && rows == byString)
  }

  // ---- HttpApiSource: the live-connector seam, driven by a fake ----

  private def post(id: String, score: Int): String =
    s"""{"kind":"t3","data":{"id":"$id","title":"t-$id","author":"a","subreddit":"python","score":$score,"upvote_ratio":0.9,"num_comments":3,"created_utc":1735725600,"selftext":null,"url":"u","is_video":false,"is_original_content":false,"over_18":false,"stickied":false,"locked":false}}"""

  test("HttpApiSource paginates via the after cursor and honors limit") {
    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(String, Map[String, String])]
    val fake = (url: String, params: Map[String, String]) => {
      calls += ((url, params))
      params.get("after") match {
        case None => // page 1 of 2
          s"""{"kind":"Listing","data":{"after":"t3_p2","children":[${post("p1", 10)},${post("p2", 8)}]}}"""
        case Some("t3_p2") => // final page
          s"""{"kind":"Listing","data":{"after":null,"children":[${post("p3", 5)},${post("p4", 1)}]}}"""
        case other => fail(s"unexpected cursor $other")
      }
    }
    val src = new HttpApiSource(fake)
    val df = src.fetchPosts(spark, "python", 3, "top")
    assert(df.schema.fieldNames.length == 15)
    assert(df.schema("created_utc").dataType.typeName == "timestamp")
    assert(df.collect().map(_.getAs[String]("id")).toSeq ==
      Seq("p1", "p2", "p3")) // limit 3 stops mid-page-2
    assert(calls.length == 2)
    assert(calls.head._1.endsWith("/r/python/top.json"))
    assert(calls.head._2.get("t").contains("day")) // top => top(day)
    assert(calls(1)._2.get("after").contains("t3_p2"))
    // the seam contract: the same downstream transform stage composes
    val enriched = graft.transform.Enrich.enrichPosts(df)
    assert(enriched.collect().head.getAs[Int]("title_length") == 4)
  }

  test("HttpApiSource comments parse the two-listing envelope with P9 guard") {
    val fake = (url: String, _: Map[String, String]) => {
      assert(url.endsWith("/comments/p1.json"))
      """[{"kind":"Listing","data":{"children":[]}},
         {"kind":"Listing","data":{"children":[
           {"kind":"t1","data":{"id":"c1","author":"a","body":"hi","score":2,"created_utc":1735725601,"parent_id":"t3_p1","is_submitter":false}},
           {"kind":"t1","data":{"id":"c2","author":"b","body":null,"score":0,"created_utc":1735725602,"parent_id":"t3_p1","is_submitter":false}}
         ]}}]"""
    }
    val out = new HttpApiSource(fake).fetchComments(spark, "p1", 10).collect()
    assert(out.length == 1 && out.head.getAs[String]("id") == "c1")
    assert(out.head.getAs[String]("post_id") == "p1")
  }
}
