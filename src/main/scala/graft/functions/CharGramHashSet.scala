package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Sorted distinct md5-derived hash set of a string's character n-grams
  * (n = 5), each hash `(first-60-bits-of-md5) mod P` — the same value
  * as the declarative `md5 → conv(hex) → % P` pipeline and DuckDB's
  * `CAST('0x'||substr(md5(g),1,15) AS BIGINT) % P` (see [[CrossHash]]).
  *
  * Why an expression instead of
  * `sort_array(array_distinct(transform(sequence(...), i -> ...)))`:
  * higher-order functions are CodegenFallback — each of the ~450 grams
  * per document pays interpreted-eval overhead plus a fresh UTF8String
  * slice, an md5 hex string, and a conv() parse (~10 s of the sf0.1
  * n-gram dedup bench). Here the whole set is built in one eval per row
  * with a reused MessageDigest and primitive arrays. A single boxed
  * call per ROW (CodegenFallback) is noise; per-ELEMENT interpretation
  * is not.
  *
  * Grams are indexed by Unicode code point, matching Spark's
  * `substr`/DuckDB's `substr` character semantics.
  */
case class CharGramHashSet(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_gram_hashes"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.toString
    // code-point start offsets (UTF-16 indices); BMP-only text gets the
    // identity mapping at near-zero cost
    val cps = new Array[Int](s.length + 1)
    var nCp = 0
    var off = 0
    while (off < s.length) {
      cps(nCp) = off
      nCp += 1
      off += Character.charCount(s.codePointAt(off))
    }
    cps(nCp) = s.length
    val m = nCp - CharGramHashSet.N + 1
    if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val gram = s.substring(cps(i), cps(i + CharGramHashSet.N))
      out(i) = CharGramHashSet.hash(md, gram)
      i += 1
    }
    java.util.Arrays.sort(out)
    // in-place distinct over the sorted array
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    ArrayData.toArrayData(java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(newChild: Expression): CharGramHashSet =
    copy(child = newChild)
}

object CharGramHashSet {

  val N = 5

  /** First 60 bits of md5 (== first 15 hex chars) — [[CrossHash.md5Long]]'s
    * value without the hex round-trip.
    */
  def hash60(md: MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    // drop the low nibble (16th hex char), keeping hex chars 1..15
    v >>> 4
  }

  /** [[hash60]] mod [[CrossHash.P]] (== [[CrossHash.md5Mod]]). */
  def hash(md: MessageDigest, s: String): Long =
    hash60(md, s) % CrossHash.P

  /** Sorted distinct 5-gram hash set of a string column. */
  def gramHashes(c: Column): Column = column(CharGramHashSet(expressionOf(c)))
}
