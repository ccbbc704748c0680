package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** DataFrame access to Spark's own bloom-filter runtime-filter pair
  * (`BloomFilterAggregate` builds the bitmap, the codegen'd
  * `BloomFilterMightContain` probes it — the expressions the
  * `InjectRuntimeFilter` optimizer rule plants). Neither has a PUBLIC
  * SQL name (`bloom_filter_agg` lives only in the internal registry),
  * so this wraps both as Columns, letting declarative plans build explicit
  * semi-join pre-filters: aggregate the small side's join keys into a
  * bloom bitmap (constant-size, broadcastable), probe it map-side on
  * the big side, and let the exact join that FOLLOWS remove the false
  * positives. No false negatives ⇒ the final result is bit-identical
  * to the unfiltered plan; the bitmap only cuts rows entering the
  * shuffle/join.
  */
object BloomMightContain {

  /** Bloom bitmap of a long column (constant-size, mergeable). */
  def bloomAgg(v: Column, items: Long, bits: Long): Column =
    column(new BloomFilterAggregate(expressionOf(v), Literal(items),
      Literal(bits)).toAggregateExpression())

  /** Probe `bloom` (a [[bloomAgg]] binary) for long `v`. */
  def mightContain(bloom: Column, v: Column): Column =
    column(BloomFilterMightContain(expressionOf(bloom), expressionOf(v)))
}
