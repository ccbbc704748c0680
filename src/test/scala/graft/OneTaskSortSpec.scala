package graft

import org.apache.spark.sql.functions.col
import graft.plans.OneTaskSort

/** The final-sort rewrite: a query whose final global sort reads at
  * most the broadcast bound sorts in one task, with the same rows in
  * the same order, and every other query comes back as built.
  */
class OneTaskSortSpec extends SparkSpec {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private val reference = Seq("q01_overview", "q02_top_posts",
    "q03_by_hour", "q04_by_weekday", "q05_active_authors",
    "q06_content_types", "q07_engagement", "q08_comment_coverage",
    "q09_top_commenters", "q10_daily_trends", "q11_title_text",
    "q12_correlation", "q13_weekly", "q14_quality", "q15_performance_view",
    "q16_thread_depth", "stats_daily", "transform_posts")

  /** One query per extension family whose final sort is rewritten. */
  private val families = Seq("cp_stats", "dd_minhash", "ev_daily_stats",
    "gr_degree", "mm_features", "prof_hist", "qf_pii_census",
    "sim_dim_stats", "ta_tokens", "wh_aging")

  private def raw(name: String) = SparkEntry.rawQueries(name)(spark, sf())

  private def rangeExchanges(name: String): Int =
    PlanLint.summary(SparkEntry.queries(name)(spark, sf())).toMap.apply("range")

  test("rewritten queries return the unrewritten rows in order, conf unchanged") {
    val names = reference ++ families
    assert(names.forall(SparkEntry.rawQueries.contains), names)
    val conf = spark.conf.getAll
    val rewritten = names.filter { name =>
      val before = raw(name)
      val after = OneTaskSort(before)
      assert(after.collect().toSeq == before.collect().toSeq, name)
      spark.catalog.clearCache()
      !(after eq before)
    }
    assert(spark.conf.getAll == conf)
    // every family pick and most reference queries take the rewrite
    assert(families.forall(rewritten.contains), rewritten)
    assert(rewritten.size >= 20, rewritten)
  }

  test("an input of many partitions comes back in one total order") {
    val df = spark.range(0, 1000, 1, 8).toDF().orderBy(col("id").desc)
    val sorted = OneTaskSort(df)
    assert(!(sorted eq df))
    assert(sorted.collect().toSeq.map(_.getLong(0)) == (999L to 0L by -1L))
  }

  test("the sorts of q01_overview's result are one task's: two jobs fewer") {
    val (before, _) = jobsRun(raw("q01_overview").collect())
    val (after, _) =
      jobsRun(SparkEntry.queries("q01_overview")(spark, sf()).collect())
    assert(before - after == 2, s"$before -> $after")
    assert(rangeExchanges("q01_overview") == 0)
  }

  test("a bound of -1 keeps q01_overview's range sort") {
    val saved = spark.conf.getAll.get(Threshold)
    spark.conf.set(Threshold, "-1")
    try assert(rangeExchanges("q01_overview") == 1)
    finally saved.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
    assert(rangeExchanges("q01_overview") == 0)
  }

  test("a Limit over a sort, and a query with no final sort, come back as built") {
    Seq("q05_active_authors", "prof_gini").foreach { name =>
      val df = raw(name)
      assert(OneTaskSort(df) eq df, name)
    }
  }
}
