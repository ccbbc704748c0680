package graft

import org.apache.spark.sql.SparkSession

/** The SQL-text surface: catalog views + extension-registered custom
  * functions, exercised the way a reference user would (raw SQL).
  */
class SqlSurfaceSpec extends SparkSpec {

  /** One session built `.withExtensions(new GraftExtensions)` on the
    * suite's running context: the custom functions' SQL-text names
    * exist only there. With the active and default sessions cleared
    * the builder makes a new session (a cold start, as a fresh
    * application's would be); both are restored afterwards.
    */
  private lazy val ext: SparkSession = {
    val (active, default) = (SparkSession.getActiveSession,
      SparkSession.getDefaultSession)
    spark // the suite's session owns the SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      active.foreach(SparkSession.setActiveSession)
      default.foreach(SparkSession.setDefaultSession)
    }
  }

  test("catalog views answer reference-style SQL (analysis.sql shapes)") {
    Catalog.registerAll(spark, sf())
    val overview = spark.sql(
      """SELECT subreddit, COUNT(*) AS total_posts, AVG(score) AS avg_score
        |FROM posts GROUP BY subreddit ORDER BY total_posts DESC""".stripMargin)
    assert(overview.count() == 5)
    val joined = spark.sql(
      """SELECT p.subreddit, COUNT(c.id) AS n
        |FROM posts p LEFT JOIN comments c ON p.id = c.post_id
        |GROUP BY p.subreddit""".stripMargin)
    assert(joined.count() == 5)
    val view = spark.sql(
      "SELECT * FROM post_performance WHERE rank_in_subreddit = 1")
    assert(view.count() >= 5) // ties may add rows
  }

  test("custom expressions are callable from SQL text") {
    val r = ext.sql(
      """SELECT graft_dot(CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>),
        |                 CAST(array(3.0, 4.0) AS ARRAY<DOUBLE>)) AS d,
        |  graft_intersect_sorted(CAST(array(1, 2, 3) AS ARRAY<BIGINT>),
        |                         CAST(array(2, 3, 9) AS ARRAY<BIGINT>)) AS i,
        |  size(graft_gram_hashes('abcdefg')) AS g""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(1) == 2)
    assert(r.getInt(2) == 3) // 7 chars → 3 distinct 5-grams
  }

  test("round-4 expressions are callable and guarded from SQL text") {
    val r = ext.sql(
      """SELECT graft_rolling_fp('a b c') AS fp,
        |  graft_simhash('a b c') AS sh,
        |  size(graft_shingle_hashes('a b c d')) AS ns,
        |  size(graft_minhash16(graft_shingle_hashes('a b c d'))) AS nm,
        |  size(graft_word_gram_hashes('a b c d', 2, true)) AS ng""".stripMargin)
      .collect().head
    assert(r.getLong(0) >= 0L && r.getLong(1) >= 0L)
    assert(r.getInt(2) == 2) // 4 tokens → 2 shingles
    assert(r.getInt(3) == 16)
    assert(r.getInt(4) == 3) // 4 tokens → 3 bigrams
    // guards: bad arity / non-mod-P minhash input fail loudly
    intercept[Exception](
      ext.sql("SELECT graft_word_gram_hashes('x')").collect())
    intercept[Exception](
      ext.sql("SELECT graft_minhash16(" +
        "graft_word_gram_hashes('a b c d', 2, false))").collect())
  }

  test("graft_rep_stats is callable and guarded from SQL text") {
    val r = ext.sql("SELECT graft_rep_stats('a b a') AS st")
      .collect().head.getSeq[Int](0)
    // 3 tokens, 'a' twice; bigrams 'a b','b a' both unique; 1 trigram
    assert(r == Seq(3, 2, 2, 2, 1, 1))
    intercept[Exception](
      ext.sql("SELECT graft_rep_stats('x', 'y')").collect())
    intercept[Exception](
      ext.sql("SELECT graft_rep_stats(1)").collect())
  }

  test("graft_word_gram_hashes dedup arg is callable and guarded") {
    val r = ext.sql(
      "SELECT size(graft_word_gram_hashes('a b a b', 2, false, false)) AS all," +
        " size(graft_word_gram_hashes('a b a b', 2, false, true)) AS ded")
      .collect().head
    assert(r.getInt(0) == 3) // a b, b a, a b — positions kept
    assert(r.getInt(1) == 2) // first-occurrence distinct
    intercept[Exception](ext.sql(
      "SELECT graft_word_gram_hashes('x', 2, false, 'nope')").collect())
  }

  test("GraftExtensions injects all functions at session build time") {
    val names = GraftExtensions.SqlFunctions.map(_._1)
    assert(names.size == 11 && names.distinct == names)
    names.foreach { n =>
      assert(ext.catalog.functionExists(n), n)
      assert(!spark.catalog.functionExists(n), s"$n leaked into the shared session")
    }
    val r = ext.sql("SELECT graft_dot(CAST(array(2.0) AS ARRAY<DOUBLE>), " +
      "CAST(array(3.0) AS ARRAY<DOUBLE>)) AS d, " +
      "graft_jaccard_ge(CAST(array(1, 2, 3) AS ARRAY<BIGINT>), " +
      "CAST(array(2, 3, 4) AS ARRAY<BIGINT>), 0.4D) AS j, " +
      "graft_nfc('e\u0301') AS n").collect().head
    assert(r.getDouble(0) == 6.0)
    assert(r.getDouble(1) == 0.5) // |{2,3}| / |{1,2,3,4}|
    assert(r.getString(2) == "\u00e9")
    // fixed-arity builders reject a wrong argument count
    intercept[Exception](ext.sql("SELECT graft_dot(array(1.0D))").collect())
  }
}
