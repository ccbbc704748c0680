package graft

import org.apache.spark.sql.functions._
import graft.model.RedditModel

/** Physical-layout evidence: a materialized posts table takes the
  * predicate pushdown the fixture model cannot.
  */
class WarehouseSpec extends SparkSpec {

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
