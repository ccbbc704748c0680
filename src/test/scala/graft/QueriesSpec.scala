package graft

import org.apache.spark.sql.functions._
import graft.queries.RefQueries

/** Query-shape tests against the sf0.001 fixture (golden semantics from
  * the reference — SURVEY.md §5.2).
  */
class QueriesSpec extends SparkSpec {

  test("q09 matches the reference golden shape (example.csv:1-18)") {
    val df = RefQueries.q09TopCommenters(spark, sf())
    assert(df.columns.toSeq ==
      Seq("subreddit", "author", "comment_count", "avg_comment_score"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    // HAVING >= 3 cutoff holds everywhere
    assert(rows.forall(_.getAs[Long]("comment_count") >= 3))
    // ordered by subreddit asc then comment_count desc
    val bySub = rows.groupBy(_.getAs[String]("subreddit"))
    bySub.values.foreach { g =>
      val counts = g.map(_.getAs[Long]("comment_count")).toSeq
      assert(counts == counts.sortBy(-_))
    }
  }

  test("q02 groupwise-max keeps ties (IN-subquery semantics, J3)") {
    val df = RefQueries.q02TopPosts(spark, sf())
    val perSub = df.groupBy("subreddit").agg(
      countDistinct(col("score")).as("distinct_scores"))
    // every subreddit's rows all share that subreddit's max score
    assert(perSub.collect().forall(_.getAs[Long]("distinct_scores") == 1L))
  }

  test("q15 RANK has ties-share-rank-with-gaps semantics (W1)") {
    val rows = RefQueries.q15PerformanceView(spark, sf())
      .filter(col("subreddit") === "1-URGENT")
      .orderBy(col("rank_in_subreddit"), col("id")).collect()
    val ranks = rows.map(_.getAs[Int]("rank_in_subreddit"))
    assert(ranks.head == 1)
    // rank of row i is i+1 unless tied with predecessor (gap rule)
    rows.sliding(2).foreach {
      case Array(a, b) =>
        if (a.getAs[Int]("score") == b.getAs[Int]("score"))
          assert(a.getAs[Int]("rank_in_subreddit") == b.getAs[Int]("rank_in_subreddit"))
      case _ =>
    }
    // gaps: max rank equals row count only if no ties before it
    assert(ranks.zipWithIndex.forall { case (r, i) => r <= i + 1 })
  }

  test("q08 LEFT JOIN keeps zero-comment groups with count 0 (trap 7.4.7)") {
    val df = RefQueries.q08CommentCoverage(spark, sf())
    assert(df.columns.contains("total_comments"))
    assert(df.count() == 5) // all 5 subreddits present regardless of comments
  }

  test("q04 day_name CASE has no ELSE: all 7 days decode, none null") {
    val rows = RefQueries.q04ByWeekday(spark, sf()).collect()
    assert(rows.length == 7)
    assert(rows.forall(!_.isNullAt(1)))
    assert(rows.map(_.getAs[String]("day_name")).toSeq ==
      Seq("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
        "Saturday", "Sunday"))
  }

  test("q16 thread rollup equals a local recursive recompute") {
    // independent local implementation: same edge derivation, depth by
    // actual recursion over the parent map (not a frontier loop)
    val com = graft.model.RedditModel.comments(spark, sf())
      .select(col("id"), col("post_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expect = com.groupBy(_._2).toSeq.map { case (post, cs) =>
      // nodes are 0-based indices in (id, score) order — ids collide
      // in the fixture, so identity is positional (matching the query)
      val ordered = cs.sortBy(c => (c._1, c._3))
      // positive modulus (Scala % follows the dividend's sign): a
      // score < -20 must still map to a parent in [0, i), matching the
      // query's pmod — never an orphan
      val parentOf: Map[Int, Int] = ordered.zipWithIndex.collect {
        case ((_, _, score), i) if i > 0 => i -> ((((score + 20) % i) + i) % i)
      }.toMap
      def depth(i: Int): Int = parentOf.get(i).fold(1)(p => depth(p) + 1)
      val depths = ordered.indices.map(i => i -> depth(i))
      val maxD = depths.map(_._2).max
      val parents = parentOf.values.toSet
      (post, ordered.length.toLong, maxD,
        ordered.indices.count(i => !parents.contains(i)).toLong,
        depths.filter(_._2 == maxD).map { case (i, _) => ordered(i)._1 }.min)
    }.sortBy(_._1)
    val got = RefQueries.q16ThreadDepth(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got.nonEmpty && got == expect)
    // vacuity: the derived trees must not all be chains or all flat
    assert(got.exists(_._3 >= 3) && got.exists(t => t._3 < t._2),
      "tree shapes must vary")
  }

  test("ThreadRollup property: random trees incl. scores < -20 and id collisions") {
    import spark.implicits._
    // the regime the fixture never produces: sub--20 scores exercise
    // the positive-modulus parent (a sign-of-dividend % would orphan),
    // duplicate ids exercise the (id, score) tie contract
    val rnd = new scala.util.Random(20260815)
    val rows = (1 to 600).map { _ =>
      (rnd.nextInt(40).toLong + 1, rnd.nextInt(30).toLong,
        rnd.nextInt(241) - 120)
    }
    assert(rows.exists(_._3 < -20), "must exercise the sub--20 branch")
    val got = rows.toDF("post_id", "id", "score")
      .repartition(8) // partial buffers must merge across partitions
      .groupBy(col("post_id"))
      .agg(graft.functions.ThreadRollup.rollup(col("id"), col("score"))
        .as("r"))
      .select(col("post_id"), col("r.n_comments"), col("r.max_depth"),
        col("r.n_leaves"), col("r.deepest_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4))).sortBy(_._1).toSeq
    val expect = rows.groupBy(_._1).toSeq.map { case (post, cs) =>
      val ordered = cs.map(c => (c._2, c._3)).sortBy(identity)
      val parentOf = ordered.indices.collect { case i if i > 0 =>
        i -> ((((ordered(i)._2 + 20) % i) + i) % i)
      }.toMap
      def depth(i: Int): Int = parentOf.get(i).fold(1)(p => depth(p) + 1)
      val ds = ordered.indices.map(depth)
      val maxD = ds.max
      val parents = parentOf.values.toSet
      (post, ordered.length.toLong, maxD,
        ordered.indices.count(i => !parents.contains(i)).toLong,
        ordered.indices.filter(ds(_) == maxD).map(ordered(_)._1).min)
    }.sortBy(_._1)
    assert(got == expect)
  }

  test("ThreadRollup fails loudly on null inputs (no silent drop)") {
    import spark.implicits._
    // the positional oracle gives a null-score row a row_number
    // position (an orphaned child, not a removed one) — so the
    // aggregate must refuse nulls rather than silently diverge
    val df = Seq((1L, Some(10L), Some(5)), (1L, Some(11L), None))
      .toDF("post_id", "id", "score")
    val ex = intercept[Exception] {
      df.groupBy(col("post_id"))
        .agg(graft.functions.ThreadRollup.rollup(
          col("id"), col("score")).as("r"))
        .collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(_.getMessage != null) &&
      chain(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("non-null (id, score)")))
  }

  test("q16 aggregate equals the frontier-walk twin") {
    // the shipped ThreadRollup aggregate vs the distributed per-level
    // frontier walk — two independent mechanisms, one contract
    val agg = RefQueries.q16ThreadDepth(spark, sf()).collect().toSeq
    val walk = RefQueries.q16ThreadDepthFrontier(spark, sf()).collect().toSeq
    assert(agg.nonEmpty && agg.map(_.toSeq) == walk.map(_.toSeq))
  }

  test("entry smoke: flagship daily-stats returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries twin") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o -- q}")
  }

  // the documented rows-only checks: dumped by Verify, no oracle
  test("the queries without an oracle are exactly the five rows-only ones") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(rowsOnly == Set("prof_summary_approx", "cp_stats_approx",
      "cp_sample_approx", "cp_dataset_card_approx", "prof_heavy_hitters"))
  }
}
