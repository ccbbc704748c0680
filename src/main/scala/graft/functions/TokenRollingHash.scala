package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Polynomial rolling hash of a string's whitespace token stream:
  * `fold(0, (acc, h) => (acc·31 + h) mod P)` with `h` = 60-bit md5 of
  * each token mod [[CrossHash.P]] — bitwise identical to the
  * declarative `aggregate(transform(split(trim(s)), md5Mod), …)`
  * pipeline and its DuckDB `list_reduce` twin (ta_fingerprint's
  * formula; TextAnalysisSpec pins the equivalence).
  *
  * Why an expression: the declarative form pays interpreted
  * per-ELEMENT cost twice over — `transform`'s lambda is
  * CodegenFallback, and each element materializes an md5 hex string
  * that `conv()` re-parses. Here the whole fold runs in one eval per
  * row with a reused MessageDigest and no intermediate hex strings
  * (measured 1.03 s → 0.52 s for ta_fingerprint at sf0.1; the
  * remainder is the query's other columns and scan). Same
  * playbook as [[CharGramHashSet]]: one boxed call per row is noise,
  * per-element interpretation is not.
  *
  * Tokenization matches `split(trim(s), "\\s+")`: a blank input
  * yields the single empty token, whose hash is folded like any
  * other.
  */
case class TokenRollingHash(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_rolling_fp"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = TokenRollingHash.splitTokens(input.toString)
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    var i = 0
    while (i < toks.length) {
      acc = (acc * 31L + CharGramHashSet.hash(md, toks(i))) % CrossHash.P
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(newChild: Expression): TokenRollingHash =
    copy(child = newChild)
}

object TokenRollingHash {

  /** Same regex Spark's `split` compiles (0 flags ⇒ ASCII `\s`). */
  private[functions] val SplitRe = java.util.regex.Pattern.compile("\\s+")

  /** JVM-side twin of the engine's `tokens()` = `split(trim(s), "\\s+")`:
    * space-only trim (Spark's `trim`, unlike `String.trim`, leaves tabs),
    * then Java-regex split with limit −1 (trailing empties kept, ASCII
    * `\s`). Shared by every tokenizing custom expression so the
    * tokenization contract exists once on the JVM side.
    */
  private[functions] def splitTokens(raw: String): Array[String] = {
    var b = 0
    var e = raw.length
    while (b < e && raw.charAt(b) == ' ') b += 1
    while (e > b && raw.charAt(e - 1) == ' ') e -= 1
    SplitRe.split(raw.substring(b, e), -1)
  }

  /** Rolling token-stream fingerprint of a string column. */
  def fp(c: Column): Column = column(TokenRollingHash(expressionOf(c)))
}
