package org.apache.spark.sql

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Access point for building a DataFrame from a custom LogicalPlan
  * and a Column from a custom Expression — the established public
  * pattern for third-party plan nodes (used by Qbeast's DatasetFactory
  * and Pathling's ColumnDataset, see SNIPPETS.md [1]/[3]): a small
  * object placed in `org.apache.spark.sql` so the `private[sql]`
  * Dataset factory and Column converters are reachable, keeping
  * everything else of the engine outside Spark's namespace.
  */
object GraftPlanApi {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → Catalyst Expression (Spark 4 keeps `Column` engine-
    * agnostic; the classic converter is `private[sql]`).
    */
  def expressionOf(c: Column): catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Catalyst Expression → Column: how a custom expression's handle
    * reaches the Column API without a function-registry entry.
    */
  def column(e: catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The schema `spark.read.parquet` infers from one parquet footer:
    * Spark's own footer reader, which is `private[sql]`.
    */
  def parquetSchema(spark: SparkSession, footer: Footer): StructType = {
    import execution.datasources.parquet._
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[classic.SparkSession].sessionState.conf))
  }
}
