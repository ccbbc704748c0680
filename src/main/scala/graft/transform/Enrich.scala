package graft.transform

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** The T of the ETL: every derived-column formula of the reference's
  * `transform_data` (reference script.py:187-224), re-expressed as
  * codegen'd Catalyst expressions (`org.apache.spark.sql.functions`).
  * No UDFs anywhere — every transform stays inside whole-stage codegen.
  *
  * Semantics notes (SURVEY.md §2.4, §7.4):
  *  - `title_length` measures the RAW title; the stored title is the
  *    regex-cleaned one (script.py:198 vs :216). Order preserved here.
  *  - `day_of_week` uses the pandas convention Monday=0..Sunday=6
  *    (script.py:204, confirmed by analysis.sql:47-55); Spark's
  *    `weekday()` matches it directly.
  *  - `score_category` reproduces `pd.cut`'s right-closed bins
  *    (-inf,0] (0,10] (10,100] (100,1000] (1000,inf) (script.py:209-213).
  *  - `has_selftext`: pandas `NaN > 0` is False, so a NULL selftext
  *    yields false, not NULL (script.py:200).
  */
object Enrich {

  /** T1/T2 — string length (script.py:198-199). */
  def strLength(c: Column): Column = length(c)

  /** T3 — has_selftext; NULL-safe false like pandas NaN>0 (script.py:200). */
  def hasText(lenCol: Column): Column = coalesce(lenCol > 0, lit(false))

  /** T4 — hour of day (script.py:203). */
  def hourPosted(ts: Column): Column = hour(ts)

  /** T5 — weekday, Monday=0 (script.py:204). Spark `weekday` is already
    * Monday=0..Sunday=6 — do NOT use `dayofweek` (Sunday=1).
    */
  def dayOfWeekMon0(ts: Column): Column = weekday(ts)

  /** T6 — engagement rate with +1 guard (script.py:207). */
  def engagementRate(numComments: Column, score: Column): Column =
    numComments / (score + lit(1.0))

  /** T7 — pd.cut right-closed score bins (script.py:209-213). */
  def scoreCategory(score: Column): Column =
    when(score <= 0, "Negative")
      .when(score <= 10, "Low")
      .when(score <= 100, "Medium")
      .when(score <= 1000, "High")
      .otherwise("Viral")

  /** T8 — strip non-word/non-space chars, then trim (script.py:216).
    * `(?U)` makes Java's `\w` Unicode-aware like Python's re (§7.4.3).
    * ORACLE SEAM: DuckDB's RE2 `\w` is ASCII-only, so the oracle twin
    * (RefOracle posts CTE) agrees with this column only on ASCII
    * titles. The fixture synthesizes ASCII-only titles by construction
    * (RedditModel.rawPosts / RefOracle's posts_raw share the literal
    * templates); EnrichSpec pins that invariant so a fixture change
    * that introduces non-ASCII fails a spec instead of silently
    * hash-mismatching — this Unicode-aware side is the CORRECT
    * (Python-parity) one, pinned by the T8 non-ASCII test.
    */
  def cleanTitle(title: Column): Column =
    trim(regexp_replace(title, "(?U)[^\\w\\s]", ""))

  /** T9 — null selftext → empty string (script.py:217). */
  def fillSelftext(selftext: Column): Column = coalesce(selftext, lit(""))

  /** T10 — null author → '[deleted]' (script.py:134, :172). */
  def authorOrDeleted(author: Column): Column =
    coalesce(author, lit("[deleted]"))

  /** T11 — epoch seconds → timestamp (script.py:139, :175). Session TZ is
    * pinned UTC (deliberate divergence from the reference's local time).
    */
  def epochToTs(epoch: Column): Column = timestamp_seconds(epoch)

  /** T12 — load-time timestamp (script.py:71, :86), stamped on rows
    * already collected to the driver: one instant per call, appended as
    * `extracted_at`. Stamped inside a query instead,
    * `current_timestamp()` folds into a literal that whole-stage codegen
    * inlines, so every extract compiled new code.
    */
  def withExtractedAt(schema: StructType,
      rows: Seq[Row]): (StructType, Seq[Row]) = {
    val now = Timestamp.from(Instant.now())
    (schema.add("extracted_at", TimestampType),
      rows.map(r => Row.fromSeq(r.toSeq :+ now)))
  }

  /** Full post enrichment (script.py:196-217), one projection: the
    * input's columns in place, `title` and `selftext` cleaned, then the
    * 7 derived columns, each computed from the RAW inputs (so T1/T2
    * measure the uncleaned text). Input: the 15 raw extracted columns.
    *
    * One Project keeps a listing's `Limit(Sort)` plannable as a single
    * top-K (`TakeOrderedAndProjectExec`): a `withColumn` chain leaves
    * Projects that `CollapseProject` will not merge, and the planner then
    * falls back to a range-partitioned global sort.
    */
  def enrichPosts(raw: DataFrame): DataFrame = {
    val cleaned = raw.columns.toSeq.map {
      case "title" => cleanTitle(col("title")).as("title")
      case "selftext" => fillSelftext(col("selftext")).as("selftext")
      case c => col(c)
    }
    val selftextLength = strLength(col("selftext"))
    raw.select(cleaned ++ Seq(
      strLength(col("title")).as("title_length"),
      selftextLength.as("selftext_length"),
      hasText(selftextLength).as("has_selftext"),
      hourPosted(col("created_utc")).as("hour_posted"),
      dayOfWeekMon0(col("created_utc")).as("day_of_week"),
      engagementRate(col("num_comments"), col("score")).as("engagement_rate"),
      scoreCategory(col("score")).as("score_category")): _*)
  }
}
