package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import scala.util.control.NonFatal

/** Dev tool: sweep EVERY SparkEntry query's physical plan for
  * scale-killer shapes and print one line per finding. The shapes the
  * per-round plan audits look for by hand, mechanized:
  *
  *   - `cartesian`: CartesianProductExec — an unpartitioned all-pairs
  *     join; never acceptable in a shipped query.
  *   - `bnlj`: BroadcastNestedLoopJoinExec — acceptable ONLY when the
  *     broadcast side is constant-size by construction (a 1-row scalar
  *     anchor or a fixed-size eval set); each instance must be
  *     allowlisted with its reason in PlanLintSpec.
  *   - `udf`: ScalaUDF anywhere — the engine's no-UDF rule.
  *   - `fallback`: a CodegenFallback expression inside a Project or
  *     Filter (the per-row hot path); interpreted + boxed evaluation.
  *     Aggregate-buffer internals are exempt — Spark's own sketch
  *     aggregates (HLL++) are ImperativeAggregates by design.
  *   - `global_window`: a WindowExec (or WindowGroupLimitExec) with NO
  *     partition spec — every input row moves to ONE partition.
  *     Acceptable ONLY when the window's input is bounded by
  *     construction (a value census, a sources/day-grain relation) or
  *     is a documented bit-parity baseline with a sharded 100 TB twin;
  *     each instance must be allowlisted with its reason in
  *     PlanLintSpec (the round-18 verdict's item 3, mechanized).
  *
  * The same node walk also backs two read-only modes: `summary`
  * prints per-query node counts ([[summary]]), and `dump` writes
  * `.explain("formatted")` per query to `<outDir>/<query>_<tag>.txt`,
  * the before/after plan evidence committed under `plans/rNN/`.
  *
  * Usage: sbt "runMain graft.PlanLint lint|summary <sfDir> [namesCsv|all]"
  *        sbt "runMain graft.PlanLint dump <sfDir> <namesCsv|all> <outDir> <tag>"
  * PlanLintSpec pins the lint findings and q01_overview's summary; the
  * tool exists for interactive triage when the spec fails.
  */
object PlanLint {

  /** (kind, detail) findings for one physical plan. */
  def findings(plan: SparkPlan): Seq[(String, String)] = {
    val nodes = plan.collect { case p => p }
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    nodes.foreach { n =>
      n.nodeName match {
        case "CartesianProduct" =>
          out += (("cartesian", n.simpleStringWithNodeId()))
        case "BroadcastNestedLoopJoin" =>
          out += (("bnlj", n.simpleStringWithNodeId()))
        case _ => ()
      }
      n match {
        case w: WindowExec if w.partitionSpec.isEmpty =>
          out += (("global_window", n.simpleStringWithNodeId()))
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
          out += (("global_window", n.simpleStringWithNodeId()))
        case _ => ()
      }
    }
    def exprTrees(e: Expression): Seq[Expression] = e.collect { case x => x }
    nodes.foreach { n =>
      val hot = n.nodeName == "Project" || n.nodeName == "Filter"
      n.expressions.flatMap(exprTrees).foreach {
        case u if u.nodeName == "ScalaUDF" =>
          out += (("udf", s"${n.nodeName}: ${u.sql}"))
        case f: CodegenFallback if hot =>
          out += (("fallback", s"${n.nodeName}: ${f.prettyName}"))
        case _ => ()
      }
    }
    out.toSeq.distinct
  }

  /** Node counts of `df`'s static executed plan, over the same node
    * walk as [[findings]]: file scans, shuffle + broadcast exchanges,
    * the range-partitioned shuffles among them (a global sort's),
    * reused exchanges, windows, sorts and whole-stage codegen stages.
    * Like [[findings]] it does not enter a cached relation's plan
    * (run once, when the cache fills) or a subquery's.
    * AQE is off while the plan is prepared (an unexecuted adaptive
    * plan has no codegen stages or exchange reuse yet), then restored.
    */
  def summary(df: DataFrame): Seq[(String, Int)] = {
    val conf = df.sparkSession.conf
    val aqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    val nodes =
      try df.queryExecution.executedPlan.collect { case p => p }
      finally conf.set("spark.sql.adaptive.enabled", aqe)
    Seq("scans" -> nodes.count(_.isInstanceOf[FileSourceScanExec]),
      "exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "range" -> nodes.count {
        case e: ShuffleExchangeExec =>
          e.outputPartitioning.isInstanceOf[RangePartitioning]
        case _ => false
      },
      "reused" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      "windows" -> nodes.count(_.isInstanceOf[WindowExec]),
      "sorts" -> nodes.count(_.isInstanceOf[SortExec]),
      "wholestage" -> nodes.count(_.isInstanceOf[WholeStageCodegenExec]))
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir) = args.take(2)
    val names = args.lift(2).filter(_ != "all")
      .fold(SparkEntry.queries.keys.toSeq)(_.split(",").toSeq).sorted
    val spark = Sessions.local()
    def query(n: String) = SparkEntry.queries(n)(spark, sfDir)
    mode match {
      case "lint" =>
        var flagged = 0
        names.foreach { name =>
          val fs =
            try findings(query(name).queryExecution.sparkPlan)
            catch { case NonFatal(e) =>
              Seq(("error", e.getClass.getSimpleName + ": " + e.getMessage))
            }
          fs.foreach { case (kind, detail) =>
            flagged += 1
            println(s"[planlint] $name $kind $detail")
          }
        }
        println(s"[planlint] total findings: $flagged")
      case "summary" => names.foreach { name =>
        println(s"[planlint] $name " +
          summary(query(name)).map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
      case "dump" =>
        val Array(outDir, tag) = args.slice(3, 5)
        Files.createDirectories(Paths.get(outDir))
        names.foreach { name =>
          try {
            Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
              query(name).queryExecution
                .explainString(ExplainMode.fromString("formatted")))
            println(s"[planlint] wrote ${name}_$tag.txt")
          } catch { case NonFatal(e) =>
            System.err.println(s"[planlint] $name failed: $e")
          }
          spark.catalog.clearCache()
        }
      case other => sys.error(s"mode must be lint, summary or dump, not $other")
    }
    spark.stop()
  }
}
