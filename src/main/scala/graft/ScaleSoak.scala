package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.Tables

/** Measured scaling exponents for the top-cost query tier — the
  * fixture derivation of SCALE.md's exact-vs-sketch crossover ("The
  * crossover, measured") generalized to every table: the local[32] bench can time queries at one SF, but cannot by
  * itself say whether a plan's cost grows like m or like m² when the
  * data does — this main measures it.
  *
  * Fixture derivation (`/tmp/graft_soak/x{m}`): m offset copies of each
  * base table, keys shifted by i·10⁹ per copy so CARDINALITIES actually
  * grow (join fan-outs, distinct counts, group counts — not just row
  * counts), and content DECORRELATED per copy so pair-stream queries
  * don't see a pathological m-clique of exact twins that no real corpus
  * growth would produce:
  *   - documents: Caesar-shift of the letters by (i mod 26) plus an
  *     i-tagged suffix token (distinguishes the shift-colliding copies
  *     i and i+26; only those few pairs stay near-dups — O(n) noise,
  *     not the O(n·m) clique of raw copies); n_chars recomputed.
  *   - embeddings: cyclic element shift by (i mod dim), negated on odd
  *     cycles — cosine between a vector and its shifted/flipped copy is
  *     noise-level, so ANN/cluster structure grows instead of
  *     degenerating into m-fold repeated points.
  *   - facts/dims: consistent key offsets (custkey/orderkey/partkey/
  *     suppkey/user_id/event_id shifted identically across tables so
  *     every join still matches within a copy), values untouched.
  *
  * Per (query, multiplier): min of `iters` wall-clock runs of the full
  * plan through Bench's timing primitive ([[Bench.timeRun]]). A
  * query whose last measured time exceeds `cutoffSec` skips larger
  * multipliers WITH AN EXPLICIT skip line (no silent caps) — the
  * superlinear finding is already made by then.
  *
  * Output: one JSON line per measurement:
  *   {"metric":"scale_soak","query":q,"mult":m,"sec":t}
  * plus per-query fitted exponents over consecutive multipliers
  * (alpha = ln(t_b/t_a)/ln(b/a)) — the SCALE.md table rows.
  */
object ScaleSoak {

  /** The soak list: every query the round-11 plan audit called out as
    * top-cost, plus the per-family production twins so exact-vs-banded
    * exponents land side by side.
    */
  val SoakQueries: Seq[String] = Seq(
    "dd_ngram_jaccard", "dd_ngram_jaccard_lsh", "dd_clusters_star",
    "mm_clusters", "mm_dedup_impact",
    "sim_pq_adc", "sim_semantic_clusters", "sim_semantic_clusters_ann",
    "sim_hybrid_rrf", "sim_hybrid_rrf_ann",
    "wh_scd2_apply", "wh_basket", "wh_ltv",
    "prof_summary_approx", "prof_drift", "ta_kl_source",
    "cp_bpe_train", "q16_thread_depth")

  /** GRANULARITY-ADAPTIVE soak entries — the round-12 fixed-cell soak
    * measured super-linear exponents for the cluster families AT
    * PINNED index granularity and argued the production rule (cells ≈
    * √corpus, longer band keys as the corpus grows) as the
    * mitigation; these entries RUN that rule so the exponent drop is
    * measured, not argued. Each takes the multiplier m and picks its
    * granularity from it; the `_fixed`/shipped twins at the same probe
    * dial are the comparators. Timing-only: the recall side of each
    * dial is measured by dd_lsh_tuning and SCALE.md's cluster-grain
    * probe dial ("Round-11 additions") — the
    * shipped pinned queries remain the oracle-hashed exactness proof.
    */
  val AdaptiveQueries: Map[String, (SparkSession, String, Int) => DataFrame] =
    Map(
      // cells = 16·√m (≈ √corpus scaling from the 1× baseline), probe
      // COUNT fixed at 8 ≪ cells: per-vector candidate work ~ probe·n/cells
      "sim_clusters_ann_sqrtcells" -> ((s, dir, m) =>
        graft.operators.Similarity.simSemanticClustersAnnCfg(s, dir,
          cells = math.max(16, Math.toIntExact(
            Math.round(16 * math.sqrt(m.toDouble)))), probe = 8)),
      // the fixed-granularity comparator at the SAME probe dial —
      // isolates the cells-growth effect from the probe choice
      "sim_clusters_ann_fixedcells" -> ((s, dir, m) =>
        graft.operators.Similarity.simSemanticClustersAnnCfg(s, dir,
          cells = 16, probe = 8)),
      // the linear-regime dial: cells ∝ corpus at fixed probe —
      // per-vector candidates constant, total work ∝ n (the regime a
      // deployment past the √-rule's n^1.5 grows into)
      "sim_clusters_ann_lincells" -> ((s, dir, m) =>
        graft.operators.Similarity.simSemanticClustersAnnCfg(s, dir,
          cells = 16 * m, probe = 8)),
      // band-KEY length grows with the corpus at fixed K=16 minhashes:
      // 4×4 under 10×, 2×8 at/above — longer keys collide on true
      // similarity, not corpus density (comparator: the shipped
      // dd_clusters_star at pinned 4×4)
      "dd_clusters_star_adaptive" -> ((s, dir, m) =>
        graft.operators.Dedup.ddClustersCfg(s, dir,
          nBands = if (m >= 10) 2 else 4, nRows = if (m >= 10) 8 else 4)),
      // pinned-banding comparator measured in the SAME session so the
      // adaptive-vs-fixed delta is never a cross-run box artifact
      "dd_clusters_star_fixedbands" -> ((s, dir, _) =>
        graft.operators.Dedup.ddClustersCfg(s, dir,
          nBands = 4, nRows = 4)),
      // the char-gram banding dial on the CAPPED stream (the round-14
      // watch item: dd_ngram_jaccard_lsh_capped's 30→100× tail rode
      // candidate growth among sub-cap buckets): longer band keys over
      // the same K=16 signature collide on true similarity instead of
      // char-gram corpus density — 4×4 and 2×8 measured against the
      // shipped 8×2 (run dd_ngram_jaccard_lsh_capped in the same
      // session as the comparator)
      "dd_ngram_lsh_capped_b4" -> ((s, dir, _) =>
        graft.operators.Dedup.ddNgramJaccardLshCfg(s, dir,
          Some(graft.operators.Dedup.LshMaxBucket), nBands = 4, nRows = 4)),
      "dd_ngram_lsh_capped_b2w" -> ((s, dir, _) =>
        graft.operators.Dedup.ddNgramJaccardLshCfg(s, dir,
          Some(graft.operators.Dedup.LshMaxBucket), nBands = 2, nRows = 8)),
      // graph tier: the soak fixture shifts doc_ids by 10⁹ per copy,
      // which breaks gr_*'s dense-id mod-n target contract — densify
      // first ((copy · n₀) + offset-within-copy), then run the SAME
      // shipped shapes via the *From seams. Measures the per-round
      // edges⋈ranks join (pagerank, K=6) and the wedge join
      // (triangles) as |V|,|E| grow ∝ m.
      "gr_pagerank_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grPagerankFrom(soakDenseDocs(s, dir))),
      "gr_triangles_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grTrianglesFrom(soakDenseDocs(s, dir))),
      // BSP frontier expansion: candidate volume n·deg³ with per-hop
      // distinct — the α readout says whether the dedup keeps it linear
      "gr_reach_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grReachFrom(soakDenseDocs(s, dir))),
      "gr_components_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grComponentsFrom(soakDenseDocs(s, dir))),
      // k-core peel: 16 bounded rounds of (sym ⋈ alive ⋈ alive) +
      // degree groupBy + anti-join; per-round cost is the surviving
      // subgraph, so the α readout says whether the peel stays ∝ |E|
      "gr_kcore_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grKcoreFrom(soakDenseDocs(s, dir))),
      // 12 renormalized half-rounds (2 joins + 2 groupBys + 2 1-row
      // anchors each) — must track gr_pagerank's α, it is the same
      // co-partitionable shape twice per round
      "gr_hits_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grHitsFrom(soakDenseDocs(s, dir))),
      // K corpus scans, each a projection + TakeOrdered top-1 — the
      // α readout says the sweep stays ∝ K·|corpus|
      "sim_kcenter_dense" -> ((s, dir, _) =>
        graft.operators.Similarity.simKcenter(s, dir)),
      // the SemDeDup k-dial, measured: fixed k lets cells grow ∝ n/k
      // (pair stream rides Σ cell² → quadratic tail), k ∝ corpus
      // holds cell size constant — the published recipe's posture
      "dd_semdedup_kfixed" -> ((s, dir, _) =>
        graft.operators.Dedup.ddSemDedupCfg(s, dir,
          graft.operators.Similarity.IvfCells)),
      "dd_semdedup_kdial" -> ((s, dir, m) =>
        graft.operators.Dedup.ddSemDedupCfg(s, dir,
          graft.operators.Similarity.IvfCells * m)),
      // the balanced posture: k ∝ √corpus equalizes the n·k
      // assignment pass and the Σ cell² pair pass at n^1.5 — the
      // same 16√m rule the IVF probe dial measured
      "dd_semdedup_ksqrt" -> ((s, dir, m) =>
        graft.operators.Dedup.ddSemDedupCfg(s, dir,
          math.max(graft.operators.Similarity.IvfCells,
            Math.toIntExact(Math.round(
              graft.operators.Similarity.IvfCells *
                math.sqrt(m.toDouble)))))),
      // web-scale SemDeDup: k ∝ corpus (cell SIZE constant — pair pass
      // ∝ n) made affordable by the two-level ANN assignment
      // (kmAssignAnn: nCoarse = √k anchors, probe 4 — per-vector
      // ~2√k dots where the exact dial pays k). Comparators measured
      // in the same session: dd_semdedup_kdial (k ∝ n EXACT — the
      // 120 s negative) and dd_semdedup_ksqrt (the exact winner).
      "dd_semdedup_ann_klin" -> ((s, dir, m) => {
        val k = graft.operators.Similarity.IvfCells * m
        val nCoarse = math.max(graft.operators.Dedup.SemDedupCoarse,
          Math.toIntExact(Math.round(math.sqrt(k.toDouble))))
        graft.operators.Dedup.ddSemDedupCfg(s, dir, cells = k,
          assign = graft.operators.Similarity.kmAssignAnn(_, _, nCoarse, 4))
      }),
      // the composed IVF+PQ serving index: candidates ∝ probe/cells of
      // the CODE table (never the vectors) — the α readout says the
      // equi-join-on-cell + broadcast-LUT plan stays ∝ corpus
      "sim_ivfpq_ann" -> ((s, dir, _) =>
        graft.operators.Similarity.simIvfPqAnn(s, dir)),
      // LPA communities: 4 rounds of edges⋈labels + two partial-agg'd
      // groupBys — must track gr_pagerank's α (same shape per round)
      "gr_lpa_dense" -> ((s, dir, _) =>
        graft.operators.Graph.grLpaFrom(soakDenseDocs(s, dir))))

  /** Re-densify the soak fixture's shifted doc_ids (copy i holds ids
    * i·10⁹ + [0, n₀)): id ↦ (id div 10⁹)·n₀ + id mod 10⁹ — a bijection
    * onto [0, m·n₀), so the gr_* mod-n edge targets resolve again.
    */
  private def soakDenseDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.read(s, dir, "documents")
    val n0 = d.where(col("doc_id") < 1000000000L).count()
    d.select(
      expr(s"(doc_id div 1000000000) * $n0 + doc_id % 1000000000")
        .as("doc_id"),
      col("text"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mults = (if (args.length > 1) args(1) else "1,3,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val iters = if (args.length > 2) args(2).toInt else 2
    val queries = if (args.length > 3) args(3).split(",").map(_.trim).toSeq
      else SoakQueries
    val cutoffSec = 150.0
    val spark = Sessions.local(extra = Seq("spark.driver.maxResultSize" -> "4g"))

    val caesarFrom = ('a' to 'z').mkString + ('A' to 'Z').mkString
    def rot(s: String, k: Int): String = {
      val n = s.length
      (s.drop(k % n) + s.take(k % n))
    }

    def derive(m: Int): String = {
      val dir = s"/tmp/graft_soak/x$m"
      val done = new java.io.File(s"$dir/_SOAK_DONE")
      if (done.exists()) return dir
      def copies(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
        val base = Tables.read(spark, sfDir, table)
        (0 until m).map(i => f(base, i)).reduce(_.unionByName(_))
          .write.mode("overwrite").parquet(s"$dir/$table.parquet")
      }
      val off = 1000000000L
      copies("documents") { (d, i) =>
        val shifted =
          translate(col("text"), caesarFrom,
            rot(('a' to 'z').mkString, i % 26) +
              rot(('A' to 'Z').mkString, i % 26))
        val text = if (i == 0) col("text")
          else concat(shifted, lit(s" q${i}z"))
        d.withColumn("doc_id", col("doc_id") + i * off)
          .withColumn("text", text)
          .withColumn("n_chars", length(text).cast("long"))
      }
      val dim = Tables.read(spark, sfDir, "embeddings")
        .select(size(col("embedding"))).head().getInt(0)
      copies("embeddings") { (d, i) =>
        val s = i % dim
        val shifted = if (s == 0) col("embedding")
          else concat(slice(col("embedding"), s + 1, dim - s),
            slice(col("embedding"), 1, s))
        val emb = if (i == 0) col("embedding")
          else if ((i / dim) % 2 == 1)
            transform(shifted, x => -x)
          else shifted
        d.withColumn("vec_id", col("vec_id") + i * off)
          .withColumn("embedding", emb)
      }
      copies("events") { (d, i) =>
        d.withColumn("event_id", col("event_id") + i * off)
          .withColumn("user_id", col("user_id") + i * off)
      }
      copies("orders") { (d, i) =>
        d.withColumn("o_orderkey", col("o_orderkey") + i * off)
          .withColumn("o_custkey", col("o_custkey") + i * off)
      }
      copies("lineitem") { (d, i) =>
        d.withColumn("l_orderkey", col("l_orderkey") + i * off)
          .withColumn("l_partkey", col("l_partkey") + i * off)
          .withColumn("l_suppkey", col("l_suppkey") + i * off)
      }
      copies("customer") { (d, i) =>
        d.withColumn("c_custkey", col("c_custkey") + i * off)
      }
      copies("part") { (d, i) =>
        d.withColumn("p_partkey", col("p_partkey") + i * off)
      }
      copies("supplier") { (d, i) =>
        d.withColumn("s_suppkey", col("s_suppkey") + i * off)
      }
      Seq("region", "nation").foreach { t =>
        Tables.read(spark, sfDir, t)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
      done.createNewFile()
      dir
    }

    // a failed run is excluded, so a crash cannot pass for a fast run;
    // its class goes into the JSON stream and its cause to stderr
    def run(q: String, at: String)(fn: => DataFrame): Option[Double] =
      Bench.timeRun(spark)(fn) match {
        case Right(t) => Some(t)
        case Left(e) =>
          println(s"""{"metric":"scale_soak","query":"$q",$at,""" +
            s""""err":"${e.getClass.getName}"}""")
          System.err.println(s"[soak] $q failed: $e")
          None
      }

    def resolve(q: String, dir: String, m: Int): DataFrame =
      SparkEntry.queries.get(q).map(_(spark, dir))
        .getOrElse(AdaptiveQueries(q)(spark, dir, m))

    val results = scala.collection.mutable.Map
      .empty[String, List[(Int, Double)]].withDefaultValue(Nil)
    // absorb session/codegen warm-up before the first timed run: one
    // untimed pass of every soaked query at the base SF
    queries.foreach(q => run(q, "\"warmup\":true")(resolve(q, sfDir, 1)))
    mults.sorted.foreach { m =>
      val dir = derive(m)
      queries.foreach { q =>
        val last = results(q).headOption
        if (last.exists(_._2 > cutoffSec)) {
          println(s"""{"metric":"scale_soak","query":"$q","mult":$m,""" +
            s""""skipped":true,"reason":"t(${last.get._1}x)=""" +
            f"${last.get._2}%.1f" + "s > cutoff\"}")
        } else {
          (1 to iters).flatMap(_ =>
            run(q, s""""mult":$m""")(resolve(q, dir, m))).minOption.foreach { t =>
            results(q) = (m, t) :: results(q)
            println(s"""{"metric":"scale_soak","query":"$q","mult":$m,""" +
              f""""sec":$t%.3f}""")
          }
        }
      }
    }
    // fitted exponents over consecutive measured multipliers
    results.toSeq.sortBy(_._1).foreach { case (q, ts) =>
      val sorted = ts.sortBy(_._1)
      val alphas = sorted.sliding(2).collect {
        case List((ma, ta), (mb, tb)) =>
          f""""${ma}x->${mb}x":${math.log(tb / ta) / math.log(mb.toDouble / ma)}%.2f"""
      }.mkString(",")
      val overall =
        if (sorted.size >= 2) {
          val (m0, t0) = sorted.head
          val (m1, t1) = sorted.last
          f"${math.log(t1 / t0) / math.log(m1.toDouble / m0)}%.2f"
        } else "null"
      println(s"""{"metric":"scale_alpha","query":"$q",""" +
        s""""alpha":$overall,"pairwise":{$alphas}}""")
    }
    spark.stop()
  }
}
