package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Hashes of a string's DISTINCT word-n-grams, in first-occurrence
  * order — the values of
  * `transform(gramStrings(toks, n), md5Long | md5Mod)` without the
  * interpreted per-gram lambda (each gram otherwise pays a lambda
  * call, a concat'd string, an md5 hex string, and a conv() parse).
  * Unlike [[WordShingleHashSet]] there is NO sort and NO hash-level
  * dedup: consumers explode and aggregate, and the declarative twin
  * keeps hash duplicates when two distinct grams collide — so must we
  * (DedupSpec pins the equivalence).
  *
  * `modded` selects md5Mod (mod-P, for arithmetic consumers) vs the
  * full 60-bit md5Long (identity hashing — dd_spans' collision rule).
  * Measured: cp_decontam 1.54 s → 0.77 s, dd_spans 1.37 s → 0.83 s at
  * sf0.1.
  */
case class WordGramHashes(child: Expression, n: Int, modded: Boolean,
    dedup: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType) TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")
    else if (n < 1) TypeCheckResult.TypeCheckFailure(
      s"$prettyName: n must be >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_word_gram_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = TokenRollingHash.splitTokens(input.toString)
    val m = toks.length - (n - 1)
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    // dedup=false keeps EVERY gram in position order (index i ⇒ the
    // gram starting at token i) — the positional consumers' contract
    // (cp_scrub_spans); dedup=true is first-occurrence-distinct
    val seen = if (dedup) new java.util.HashSet[String](m * 2) else null
    val md = MessageDigest.getInstance("MD5")
    val sb = new java.lang.StringBuilder
    val out = new Array[Long](m)
    var w = 0
    var i = 0
    while (i < m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks(i + k))
        k += 1
      }
      val gram = sb.toString
      if (seen == null || seen.add(gram)) {
        val h = CharGramHashSet.hash60(md, gram)
        out(w) = if (modded) h % CrossHash.P else h
        w += 1
      }
      i += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(newChild: Expression): WordGramHashes =
    copy(child = newChild)
}

object WordGramHashes {

  private val FnName = "graft_word_gram_hashes"

  /** SQL-text builder (`GraftExtensions`' entry): 3 or 4 args, n a
    * foldable integer literal, modded/dedup foldable booleans.
    */
  def build(args: Seq[Expression]): WordGramHashes = {
    require(args.length == 3 || args.length == 4,
      s"$FnName expects (text, n, modded[, dedup])")
    require(args.drop(1).forall(_.foldable),
      s"$FnName: n, modded and dedup must be literals")
    val n = args(1).eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case other => throw new IllegalArgumentException(
        s"$FnName: n must be an integer literal, got $other")
    }
    def bool(e: Expression, what: String): Boolean = e.eval() match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$FnName: $what must be a boolean literal, got $other")
    }
    val modded = bool(args(2), "modded")
    val dedup = if (args.length == 4) bool(args(3), "dedup") else true
    WordGramHashes(args.head, n, modded, dedup)
  }

  /** Distinct word-n-gram hashes of a string column. */
  def grams(c: Column, n: Int, modded: Boolean): Column =
    column(WordGramHashes(expressionOf(c), n, modded))

  /** EVERY word-n-gram hash in position order (index ⇒ start token). */
  def gramsAll(c: Column, n: Int, modded: Boolean): Column =
    column(WordGramHashes(expressionOf(c), n, modded, dedup = false))
}
