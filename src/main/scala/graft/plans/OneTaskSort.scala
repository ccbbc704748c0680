package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanApi, classic}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort}

/** Sorts a small query result in one task. A final global `Sort` plans
  * a range exchange: a sampling job for the `RangePartitioner`'s bounds
  * and a map job for the shuffle, before the result job. When the
  * sort's input fits `spark.sql.autoBroadcastJoinThreshold` (Spark's own
  * bound for a relation one task may hold; `-1` disables the rewrite),
  * the sort becomes `Sort(order, global = false, coalesce(1))`: one
  * partition sorted is the same total order, so no range exchange is
  * planned and the sort, with the aggregate below it, runs in the
  * result task.
  *
  * The size is the analyzed plan's estimate, so the check runs no
  * optimizer pass. Only a global `Sort` at the top of the plan, under
  * `Project`s at most, over a non-streaming input is rewritten; every
  * other plan comes back unchanged (a `Limit` over a `Sort` already
  * plans one `TakeOrderedAndProjectExec`). `SparkEntry.queries` maps
  * every entry through it, its one wiring point.
  */
object OneTaskSort {

  def apply(df: DataFrame): DataFrame = {
    val bound = df.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
    def local(p: LogicalPlan): Option[LogicalPlan] = p match {
      case proj: Project => local(proj.child).map(c => proj.copy(child = c))
      case s @ Sort(_, true, child, _)
          if !child.isStreaming && child.stats.sizeInBytes <= bound =>
        Some(s.copy(global = false,
          child = Repartition(1, shuffle = false, child)))
      case _ => None
    }
    local(df.queryExecution.analyzed)
      .fold(df)(GraftPlanApi.ofRows(df.sparkSession, _))
  }
}
