package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Sorted distinct md5Mod hash set of a string's word-3-gram shingles —
  * the same values as the declarative
  * `sort_array(array_distinct(transform(shingles(toks), md5Mod)))`
  * pipeline over `Dedup.shingles` (DedupSpec pins the equivalence;
  * [[CharGramHashSet]] is the char-5-gram sibling).
  *
  * One eval per row with a reused MessageDigest replaces ~tokens
  * interpreted lambda calls, each materializing a shingle string, an
  * md5 hex string, and a conv() parse. Consumed by both MinHash
  * signature building ([[MinHash16]]) and the LSH verify side's
  * sorted-set Jaccard.
  */
case class WordShingleHashSet(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val toks = TokenRollingHash.splitTokens(input.toString)
    val m = toks.length - (WordShingleHashSet.N - 1)
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    // distinct SHINGLE STRINGS first (mirrors array_distinct inside
    // shingles()), then hash — a hash-level dedup alone would differ
    // if two distinct shingles collide mod P
    val seen = new java.util.HashSet[String](m * 2)
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Long](m)
    var w = 0
    var i = 0
    while (i < m) {
      val sh = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
      if (seen.add(sh)) {
        out(w) = CharGramHashSet.hash(md, sh)
        w += 1
      }
      i += 1
    }
    val trimmed = java.util.Arrays.copyOf(out, w)
    java.util.Arrays.sort(trimmed)
    // distinct over the sorted hashes (= the outer array_distinct)
    var r = 1
    var ww = 1
    while (r < trimmed.length) {
      if (trimmed(r) != trimmed(ww - 1)) { trimmed(ww) = trimmed(r); ww += 1 }
      r += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(trimmed, ww))
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashSet =
    copy(child = newChild)
}

object WordShingleHashSet {

  /** Shingle width (word 3-grams — Dedup's MinHash contract). */
  val N = 3

  /** Sorted distinct word-3-gram hash set of a string column. */
  def hs(c: Column): Column = column(WordShingleHashSet(expressionOf(c)))
}
