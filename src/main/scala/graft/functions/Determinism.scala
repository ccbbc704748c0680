package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Output canonicalization shared by every oracle-checked query. */
object Determinism {

  /** Round to 6 decimals AND normalize IEEE signed zero: DuckDB's round
    * keeps -0.0 while Spark's BigDecimal-based round emits +0.0 —
    * numerically equal but distinct under a value hash. `x + 0.0` maps
    * -0.0 → +0.0 in round-to-nearest; oracle SQL mirrors with
    * `(round(x, 6) + 0.0)`.
    */
  def r6(c: Column): Column = round(c, 6) + lit(0.0)

  /** Oracle-side (DuckDB) twin of [[r6]]. */
  def r6Sql(e: String): String = s"(round($e, 6) + 0.0)"

  /** Oracle-side (DuckDB) HUGEINT→DOUBLE cast through VARCHAR. DuckDB's
    * direct cast is NOT correctly rounded (measured: 172/20000 random
    * 60–100-bit values off by 1 ulp); the VARCHAR round-trip parses
    * correctly rounded (0/20000), matching Spark's BigDecimal→double.
    * The moment sums it wraps pass 2^53 even at gate SF.
    */
  def dblSql(e: String): String = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"

  /** Driver/JVM twin of [[r6]] for stateful streaming outputs that
    * must row-compare equal to an r6'd batch column: Spark's `Round`
    * on DOUBLE goes through `BigDecimal.valueOf(x).setScale(6,
    * HALF_UP)` — mirror that exactly, then the same signed-zero
    * normalization.
    */
  def r6Jvm(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  /** Driver twin of Spark's ascending order of two non-null atomic
    * values: strings by their UTF-8 bytes (`UTF8String.compareTo`, which
    * differs from `String.compareTo` once a character lies outside the
    * BMP), anything else by its own `compareTo`. Wrap it in
    * `Ordering.Option` for Spark's nulls-first ascending order.
    */
  val sparkAscending: Ordering[Any] = {
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }
}
