package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Symmetric int8 quantization statistics of an `array<double>` vector
  * in ONE primitive pass per row:
  *
  *   `struct(scale double, q_checksum bigint, recon_mse double)`
  *
  * with scale = max|x_i|, q_i = floor(x_i·127/s + 0.5), checksum =
  * Σ q_i·(i+1) and mse = Σ (q_i·s/127 − x_i)² / n — bit-identical to
  * the declarative `aggregate`/`zip_with`/`transform` chain it
  * replaces (same fold order, same IEEE op sequence per element; the
  * empty vector yields (0.0, 0, NULL) exactly like the declarative
  * divide-by-zero, and a non-empty ALL-ZERO vector yields
  * (0.0, NULL, NULL) — scale 0 makes the quantization step x·127/0
  * undefined, and BOTH declarative engines agree it is NULL there:
  * Spark's non-ANSI Divide and DuckDB's double division each return
  * NULL on a zero divisor, so the fused expression must not invent a
  * NaN-collapsed 0 checksum where the twins propagate NULL). The
  * declarative twin is six CodegenFallback
  * higher-order evaluations per row, each boxing every element; this
  * is one JVM call per ROW with primitive loops inside — the same
  * per-row-once trade as [[CharGramHashSet]], pinned to the twin by
  * SimilaritySpec.
  */
case class QuantizeStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName expects array<double>, got ${other.simpleString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    // nullable: the all-zero-vector row carries the declarative
    // divide-by-zero NULL (see class doc)
    StructField("q_checksum", LongType, nullable = true),
    StructField("recon_mse", DoubleType, nullable = true)))

  override def prettyName: String = "graft_quantize_stats"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return InternalRow(0.0, 0L, null)
    // scale: greatest(acc, abs(x)) left-to-right from 0.0
    var s = 0.0
    var i = 0
    while (i < n) {
      s = math.max(s, math.abs(arr.getDouble(i)))
      i += 1
    }
    // all-zero vector: the declarative twin's x·127/0 divide is NULL
    // in both engines (non-ANSI Spark Divide, DuckDB double division),
    // so checksum and mse propagate NULL — not the NaN→0 collapse the
    // JVM division would produce below
    if (s == 0.0) return InternalRow(0.0, null, null)
    // codes, checksum, squared error — one pass, declarative op order
    var checksum = 0L
    var sq = 0.0
    i = 0
    while (i < n) {
      val x = arr.getDouble(i)
      val qd = math.floor(x * 127.0 / s + 0.5)
      val q = qd.toLong
      checksum += q * (i + 1L)
      val r = q.toDouble * s / 127.0 - x
      sq += r * r
      i += 1
    }
    InternalRow(s, checksum, sq / n)
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeStats =
    copy(child = newChild)
}

object QuantizeStats {

  /** `struct(scale, q_checksum, recon_mse)` of an array<double>. */
  def stats(c: Column): Column = column(QuantizeStats(expressionOf(c)))
}
