package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}

/** Within-document repetition counters over the whitespace tokens of a
  * (caller-lowercased) string, in ONE tokenization pass per row:
  *
  *   `[n_tokens, top_count, n_2grams, distinct_2grams,
  *     n_3grams, distinct_3grams]`
  *
  * where `top_count` is the occurrence count of the most frequent
  * token. The declarative twin (one `array_distinct`+`filter` lambda
  * per distinct token, plus two gram `transform`s) is O(tokens²) of
  * interpreted CodegenFallback lambdas per row — the published
  * Gopher-style repetition signals (arXiv:2112.11446 §A1.1) are
  * exactly these counters, so the whole bundle is one linear JVM pass
  * (HashMap for token counts, HashSet for gram identity; gram identity
  * is by STRING, not by hash, so a hash collision can never diverge
  * from the oracle's `list_distinct` semantics).
  *
  * Tokenization is [[TokenRollingHash.splitTokens]] — the shared exact
  * mirror of `split(trim(s), "\\s+")` / DuckDB
  * `regexp_split_to_array(trim(s), '\s+')`.
  */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_rep_stats"

  private def gramCounts(toks: Array[String], n: Int): (Int, Int) = {
    val m = toks.length - (n - 1)
    if (m <= 0) return (0, 0)
    val seen = new java.util.HashSet[String](m * 2)
    val sb = new java.lang.StringBuilder
    var distinct = 0
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      if (seen.add(sb.toString)) distinct += 1
      i += 1
    }
    (m, distinct)
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = TokenRollingHash.splitTokens(input.toString)
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var top = 0
    var i = 0
    while (i < toks.length) {
      val c = counts.merge(toks(i), 1, Integer.sum)
      if (c > top) top = c
      i += 1
    }
    val (n2, d2) = gramCounts(toks, 2)
    val (n3, d3) = gramCounts(toks, 3)
    ArrayData.toArrayData(Array(toks.length, top, n2, d2, n3, d3))
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {

  /** `[n_tokens, top_count, n2, d2, n3, d3]` of a string column. */
  def stats(c: Column): Column = column(RepetitionStats(expressionOf(c)))
}
