package graft

import graft.pipeline.Pipeline
import graft.schema.Schemas
import graft.source.FixtureSource

/** Runnable ETL entry point — the reference's `main()` driver loop
  * (reference script.py:328-356) over the fixture source:
  *
  * {{{
  * sbt "runMain graft.Main /root/testdata/sf0.001 /tmp/graft_wh"
  * }}}
  *
  * Extracts, enriches, and loads three subreddits (posts + top-post
  * comments), upserts daily stats, then prints the per-subreddit
  * outcome and the resulting stats table. Swap [[FixtureSource]] for
  * [[graft.source.JsonDumpSource]] (or a live HTTP binding) without
  * touching the pipeline.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val warehouse = args.lift(1).getOrElse("/tmp/graft_warehouse")
    val spark = Sessions.local()

    // the reference's three-subreddit run (script.py:336) mapped onto
    // the fixture's subreddit domain
    val subreddits = Seq("1-URGENT", "3-MEDIUM", "5-LOW")
    val pipe = new Pipeline(spark, new FixtureSource(sfDir), warehouse)
    val results = pipe.runAll(subreddits, limit = 50, extractComments = true)

    results.foreach { case (sub, r) =>
      println(s"$sub -> ${r.fold(e => s"FAILED: $e", n => s"$n posts")}")
    }
    println("subreddit_stats:")
    spark.read.schema(Schemas.subredditStats)
      .parquet(s"$warehouse/subreddit_stats")
      .orderBy("subreddit", "date")
      .show(20, truncate = false)
    spark.stop()
  }
}
