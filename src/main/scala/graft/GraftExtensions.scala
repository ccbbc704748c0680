package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CharGramHashSet, DotProduct, MinHash16, NfcNormalize,
  RepetitionStats, SimHash60, SortedIntersectCount, SortedJaccardGE,
  TokenRollingHash, WordGramHashes, WordShingleHashSet}

/** Spark extensions entry point: gives the engine's custom Catalyst
  * expressions SQL-text names in ANY session created with
  *
  * {{{
  * spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * (or `.withExtensions(new GraftExtensions)`), so `SELECT graft_dot(a,
  * b)` works from SQL text. The Column API needs no session setup:
  * each function object's handle builds its expression directly, so
  * building a query never writes to the function registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.SqlFunctions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name,
          usage, "", "", "", "", "", "", "built-in"),
        build))
    }

    // whole-operator planning: logical TopKPerGroup → partial+final
    // bounded-heap execs (plans/TopKPerGroup.scala). Sessions built
    // without extensions get the same strategy via TopK.setup.
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // ...and the Rule[LogicalPlan] rung: declarative row_number()<=k /
    // rank()<=k (tie-aware) filters rewrite to the custom node
    // (plans/RankFilterToTopK.scala)
    ext.injectOptimizerRule(_ => graft.plans.RankFilterToTopK)
  }
}

object GraftExtensions {

  /** The one list of SQL-text names: (name, usage, builder). */
  val SqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    fixed("graft_dot", 2,
      "graft_dot(a, b) - dot product of two array<double>")(
      a => DotProduct(a(0), a(1))),
    fixed("graft_intersect_sorted", 2,
      "graft_intersect_sorted(a, b) - set-intersection count of sorted array<bigint>")(
      a => SortedIntersectCount(a(0), a(1))),
    fixed("graft_gram_hashes", 1,
      "graft_gram_hashes(s) - sorted distinct md5-derived 5-gram hash set")(
      a => CharGramHashSet(a(0))),
    fixed("graft_jaccard_ge", 3,
      "graft_jaccard_ge(a, b, min) - Jaccard of sorted array<bigint> sets, NULL below min")(
      a => SortedJaccardGE(a(0), a(1), a(2))),
    fixed("graft_nfc", 1, "graft_nfc(s) - Unicode NFC normalization")(
      a => NfcNormalize(a(0))),
    fixed("graft_rolling_fp", 1,
      "graft_rolling_fp(s) - rolling md5-token fingerprint mod P")(
      a => TokenRollingHash(a(0))),
    fixed("graft_simhash", 1, "graft_simhash(s) - 60-bit token SimHash")(
      a => SimHash60(a(0))),
    fixed("graft_shingle_hashes", 1,
      "graft_shingle_hashes(s) - sorted distinct word-3-gram hash set")(
      a => WordShingleHashSet(a(0))),
    fixed("graft_minhash16", 1,
      "graft_minhash16(hs) - 16 MinHash values of a mod-P hash set " +
        "(e.g. graft_shingle_hashes output; full 60-bit hashes rejected)")(
      a => MinHash16(a(0))),
    ("graft_word_gram_hashes",
      "graft_word_gram_hashes(s, n, modded[, dedup]) - word-n-gram " +
        "hashes; dedup=false keeps every gram in position order",
      WordGramHashes.build),
    fixed("graft_rep_stats", 1,
      "graft_rep_stats(s) - [n_tokens, top_count, n_2grams, " +
        "distinct_2grams, n_3grams, distinct_3grams] of a string")(
      a => RepetitionStats(a(0))))

  /** An entry whose builder takes exactly `arity` arguments. */
  private def fixed(name: String, arity: Int, usage: String)(
      f: Seq[Expression] => Expression) =
    (name, usage, { args: Seq[Expression] =>
      require(args.length == arity,
        s"$name expects $arity argument(s), got ${args.length}")
      f(args)
    })
}
