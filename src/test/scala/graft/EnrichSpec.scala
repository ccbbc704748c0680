package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import graft.schema.Schemas
import graft.transform.Enrich

/** T1–T12 formula tests (SURVEY.md §2.4, traps §7.4). */
class EnrichSpec extends SparkSpec {

  private def postRow(title: String = "t", selftext: String = "s",
      author: String = "a", score: Int = 1, numComments: Int = 0,
      createdUtc: String = "2025-01-06 12:34:56") = {
    import spark.implicits._
    Seq((title, selftext, author, score, numComments,
      Timestamp.valueOf(createdUtc)))
      .toDF("title", "selftext", "author", "score", "num_comments",
        "created_utc")
  }

  private def enriched(df: org.apache.spark.sql.DataFrame) =
    Enrich.enrichPosts(df).collect().head

  /** A scan of the 15 raw columns as declared: a leaf relation with no
    * Project of its own.
    */
  private def rawScan() =
    spark.read.schema(Schemas.rawPosts).json(tmpDir("graft_raw_"))

  test("enrichPosts yields the stored posts columns minus extracted_at, in order") {
    def shape(fields: Seq[org.apache.spark.sql.types.StructField]) =
      fields.map(f => (f.name, f.dataType))
    assert(shape(Enrich.enrichPosts(rawScan()).schema.fields.toSeq) ==
      shape(Schemas.posts.fields.toSeq.filterNot(_.name == "extracted_at")))
  }

  test("enrichPosts adds exactly one Project over its input") {
    val raw = rawScan()
    Enrich.enrichPosts(raw).queryExecution.optimizedPlan match {
      case Project(_, child) =>
        assert(child.sameResult(raw.queryExecution.optimizedPlan), child)
      case other => fail(s"not one Project over the input:\n$other")
    }
  }

  test("T5 weekday is Monday=0 (pandas convention, not Spark dayofweek)") {
    // 2025-01-06 is a Monday, 2025-01-12 a Sunday
    val mon = Enrich.enrichPosts(postRow(createdUtc = "2025-01-06 00:00:00"))
      .select("day_of_week").collect().head.getInt(0)
    val sun = Enrich.enrichPosts(postRow(createdUtc = "2025-01-12 23:59:59"))
      .select("day_of_week").collect().head.getInt(0)
    assert(mon == 0 && sun == 6)
  }

  test("T7 pd.cut right-closed bin edges (boundary scores)") {
    import spark.implicits._
    val cats = Seq(-5, 0, 1, 10, 11, 100, 101, 1000, 1001).toDF("score")
      .select(Enrich.scoreCategory(col("score")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(cats == Seq("Negative", "Negative", "Low", "Low", "Medium",
      "Medium", "High", "High", "Viral"))
  }

  test("T8 title clean strips unicode punctuation, keeps unicode letters") {
    val r = enriched(postRow(title = "¿Qué pasa, mundo? 世界! (test)"))
    assert(r.getAs[String]("title") == "Qué pasa mundo 世界 test")
  }

  test("T8 oracle seam: fixture titles are ASCII, where (?U)\\w and " +
    "RE2's ASCII \\w agree") {
    // The DuckDB oracle cleans titles with RE2's ASCII-only \w while
    // the Spark side uses the Unicode-correct (?U)\w. The twins agree
    // iff titles stay ASCII — this pins the invariant so a fixture
    // change surfacing non-ASCII fails HERE, not as a silent oracle
    // hash mismatch (Enrich.cleanTitle ORACLE SEAM note).
    val nonAscii = graft.model.RedditModel.rawPosts(spark, sf())
      .filter(not(col("title").rlike("^\\p{ASCII}*$")))
      .count()
    assert(nonAscii == 0,
      s"$nonAscii fixture titles contain non-ASCII chars; the DuckDB " +
        "oracle's ASCII \\w would diverge from (?U)\\w on them")
  }

  test("T1 before T8: title_length measures the RAW title") {
    val r = enriched(postRow(title = "abc!!!"))
    assert(r.getAs[Int]("title_length") == 6) // raw, punctuated length
    assert(r.getAs[String]("title") == "abc") // stored title is cleaned
  }

  test("T2/T3/T9 null selftext: length null, has_selftext false, filled ''") {
    val df = postRow().withColumn("selftext", lit(null).cast("string"))
    val r = enriched(df)
    assert(r.isNullAt(r.fieldIndex("selftext_length")))
    assert(!r.getAs[Boolean]("has_selftext"))
    assert(r.getAs[String]("selftext") == "")
  }

  test("T6 engagement rate guards score=-1..0 without div-by-zero") {
    val r0 = enriched(postRow(score = 0, numComments = 7))
    assert(r0.getAs[Double]("engagement_rate") == 7.0)
    val rNeg = enriched(postRow(score = -3, numComments = 4))
    assert(rNeg.getAs[Double]("engagement_rate") == 4.0 / -2.0)
  }

  test("T10 null author becomes [deleted]") {
    import spark.implicits._
    val out = Seq((null: String), "alice").toDF("author")
      .select(Enrich.authorOrDeleted(col("author")).as("a"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("[deleted]", "alice"))
  }

  test("T4/T11 epoch to timestamp to hour, UTC pinned") {
    import spark.implicits._
    // 2020-01-01 13:00:00 UTC = epoch 1577883600
    val h = Seq(1577883600L).toDF("e")
      .select(Enrich.hourPosted(Enrich.epochToTs(col("e"))).as("h"))
      .collect().head.getInt(0)
    assert(h == 13)
  }
}
