package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.CrossHash
import graft.functions.CrossHash.{md5ModSql, P}
import graft.functions.Determinism.{dblSql, r6, r6Sql}
import graft.operators.TextAnalysis.docs

/** Link-graph analytics over the document corpus — the curation tier
  * web-scale pipelines run BEFORE content filters: rank sources/pages
  * by link structure (Common Crawl-era corpora weight domains by
  * PageRank/harmonic centrality — RefinedWeb, FineWeb), audit the
  * degree distribution (bot farms and SEO link rings show up as degree
  * anomalies), and measure clustering (triangle density separates
  * organic neighborhoods from spam stars).
  *
  * The fixture stores no hyperlinks, so the graph is DERIVED
  * deterministically from stored columns — the q16_thread_depth
  * contract (SURVEY §2.15 X192): each document "cites"
  * [[GraphOutDeg]] target documents computed from its content hash
  * through the published MinHash affine family, `dst_i =
  * ((h·a_i + b_i) mod P) mod n` — data-dependent edges no closed form
  * predicts, identical on both engines. doc_ids are dense 0-based
  * (GraphSpec pins the fixture contract), so every target resolves by
  * construction and the derivation needs NO global row-numbering —
  * at 100 TB the edge pass is one map-side projection.
  *
  * Scale shape of the family: |E| ≤ 3·|docs|; every round/census is
  * equi-join + partial-agg'd groupBy on node keys. Nothing here is
  * all-pairs and nothing broadcasts the corpus.
  */
object Graph {

  /** Citation out-degree before self-loop/duplicate drops. */
  val GraphOutDeg = 3

  /** PageRank total mass in integer micro-units (10¹²) — ranks are
    * BIGINT end to end, so partial-aggregation fold order can never
    * move a value (the decimal(38,0)-moments discipline applied to an
    * iterative fixpoint). The damping split 85/100 and the teleport
    * share (15·S/100)/n are integer divisions on both engines
    * (Spark `div` ≡ DuckDB `//` on non-negatives, the ExactRank twin).
    */
  val PrScale = 1000000000000L

  /** PageRank damping numerator (d = 85/100). */
  val PrDampNum = 85L

  /** Fixed PageRank rounds — the oracle unrolls them as chained CTEs
    * (the bpeRoundsSql / kmeans-rounds contract), so the iteration
    * count is a published constant, not a convergence test.
    */
  val PrIters = 6

  // ------------------------------------------------------------------
  // shared edge derivation — ONE definition per engine
  // ------------------------------------------------------------------

  /** The derived directed edge set `(src, dst)` with per-src out_deg:
    * distinct targets, self-loops dropped. One md5 per doc; the three
    * affine transforms reuse [[CrossHash.MinHashAs]]/Bs so the
    * arithmetic family has a single source of truth.
    */
  private[graft] def grEdges(spark: SparkSession, sfDir: String): DataFrame =
    grEdgesFrom(docs(spark, sfDir))

  /** [[grEdges]] over ANY (doc_id, text) frame with dense 0-based ids —
    * the seam ScaleSoak uses (its derived fixtures shift doc_ids by
    * 10⁹ per copy and must re-densify before the mod-n rule applies),
    * and the seam a production corpus with a REAL link column would
    * replace wholesale: everything downstream consumes only
    * (src, dst, out_deg).
    */
  private[graft] def grEdgesFrom(d: DataFrame): DataFrame = {
    val n = d.agg(count(lit(1)).as("n"))
    // Round-18 (guide §2.4 — remove shuffles outright): the union →
    // DISTINCT → count-over-window form paid two corpus-keyed
    // exchanges (pair dedup, then out_deg by src) for facts that are
    // all LOCAL to one input row — every target derives from the same
    // per-doc hash, so a duplicate (src, dst) can only be a collision
    // among the GraphOutDeg affine transforms of that one row, and
    // out_deg is the kept-target count. Both are literal pairwise
    // comparisons inside whole-stage codegen (GraphOutDeg is a
    // compile-time constant; no higher-order functions): the edge set
    // now derives map-side in a single scan with ZERO exchanges.
    // Values are unchanged — same pairs, same out_deg (GraphSpec pins
    // equality with the distinct+window form on the fixture).
    val ts = (0 until GraphOutDeg).map { i =>
      val (a, b) = (CrossHash.MinHashAs(i), CrossHash.MinHashBs(i))
      expr(s"((h * $a + $b) % $P) % n").as(s"t$i")
    }
    val targets = d
      .select(col("doc_id").as("src"), CrossHash.md5Mod(col("text")).as("h"))
      .crossJoin(broadcast(n)) // 1-row anchor (PlanLint allowlisted)
      .select(col("src") +: ts: _*)
    // keep t_i unless it self-loops or repeats an earlier transform
    val keeps = (0 until GraphOutDeg).map { i =>
      (0 until i).foldLeft(col(s"t$i") =!= col("src")) { (acc, j) =>
        acc && col(s"t$i") =!= col(s"t$j")
      }
    }
    val outDeg = keeps.map(_.cast("long"))
      .reduce(_ + _).as("out_deg")
    targets
      .select(col("src"),
        explode(array(keeps.zipWithIndex.map { case (k, i) =>
          when(k, col(s"t$i"))
        }: _*)).as("dst"),
        outDeg)
      .filter(col("dst").isNotNull)
      .select(col("src"), col("dst"), col("out_deg"))
  }

  /** Oracle twin of [[grEdges]]: CTEs `ganchor` (n), `gedges`
    * (src, dst, out_deg). Embedded verbatim by every gr_* oracle.
    */
  private[graft] lazy val grEdgesSql: String = {
    // UNION ALL rather than unnest-of-list: DuckDB 1.0.0 hits an
    // internal binder error pushing the self-loop filter into an
    // unnest projection; the union form also mirrors the Spark side
    // shape exactly.
    val targets = (0 until GraphOutDeg).map { i =>
      val (a, b) = (CrossHash.MinHashAs(i), CrossHash.MinHashBs(i))
      s"SELECT src, (((h * $a + $b) % $P) % n) AS dst" +
        " FROM ghashes CROSS JOIN ganchor"
    }.mkString("\n  UNION ALL ")
    s"""ganchor AS (
  SELECT COUNT(*) AS n FROM documents
), ghashes AS (
  SELECT doc_id AS src, ${md5ModSql("text")} AS h
  FROM documents
), glinks AS (
  $targets
), gdedges AS (
  SELECT DISTINCT src, dst FROM glinks WHERE dst <> src
), gedges AS (
  SELECT src, dst, COUNT(*) OVER (PARTITION BY src) AS out_deg
  FROM gdedges
)"""
  }

  // ------------------------------------------------------------------
  // gr_degree — degree-distribution census
  // ------------------------------------------------------------------

  /** In/out degree distribution of the citation graph: for each degree
    * value, how many documents hold it (degree-0 nodes included via
    * the left join — a census that silently drops isolated nodes
    * misreads the graph). The spam-audit readout: organic link graphs
    * are heavy-tailed; a link ring shows as a spike at one in-degree.
    *
    * Shape: two corpus-keyed groupBys + one vocabulary-sized census
    * groupBy per side; output rows bounded by max degree.
    */
  def grDegree(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir).select(col("doc_id"))
    val e = grEdges(spark, sfDir)
    def side(tag: String, key: String): DataFrame = {
      val deg = e.groupBy(col(key).as("doc_id"))
        .agg(count(lit(1)).as("deg"))
      d.join(deg, Seq("doc_id"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("deg"))
        .groupBy(col("deg"))
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(tag).as("side"), col("deg"), col("n_nodes"))
    }
    side("in", "dst").unionAll(side("out", "src"))
      .orderBy(col("side"), col("deg"))
  }

  lazy val grDegreeSql: String = {
    def side(tag: String, key: String): String =
      s"""SELECT '$tag' AS side, deg, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM (
  SELECT COALESCE(g.deg, CAST(0 AS BIGINT)) AS deg
  FROM documents d
  LEFT JOIN (SELECT $key AS doc_id, COUNT(*) AS deg
             FROM gedges GROUP BY $key) g
    ON g.doc_id = d.doc_id
)
GROUP BY deg"""
    s"""
WITH $grEdgesSql
${side("in", "dst")}
UNION ALL
${side("out", "src")}
ORDER BY side, deg"""
  }

  // ------------------------------------------------------------------
  // gr_pagerank — integer-mass damped PageRank, fixed rounds
  // ------------------------------------------------------------------

  /** Damped PageRank over the citation graph, [[PrIters]] rounds, all
    * arithmetic in BIGINT micro-units of [[PrScale]]:
    *
    *   r₀(v)   = S div n
    *   rₖ(v)   = (15·S div 100) div n
    *             + (85 · Σ_{(u,v)∈E} (rₖ₋₁(u) div out_deg(u))) div 100
    *
    * Integer division makes every value exactly reproducible under any
    * aggregation fold order — the property float PageRank lacks and
    * the reason this oracle can hash-match. The division remainders
    * (dangling mass included — a node whose three targets all
    * collide to itself has no out-edges) EVAPORATE rather than
    * redistribute: a documented contract choice that keeps each round
    * one join + one groupBy; uniform redistribution would add a 1-row
    * global sum per round for cosmetics the relative ranking doesn't
    * need.
    *
    * Scale shape: per round, one equi-join of edges against ranks on
    * src (both corpus-keyed, partial-agg'd sum on dst) — O(K·|E|)
    * total, the textbook distributed PageRank plan. Lineage is pinned
    * per round with eager localCheckpoint (the dd_clusters_star /
    * bpeTrainLoop discipline).
    */
  def grPagerank(spark: SparkSession, sfDir: String): DataFrame =
    grPagerankFrom(docs(spark, sfDir))

  /** [[grPagerank]] over any dense-id (doc_id, text) frame — the
    * ScaleSoak seam (see [[grEdgesFrom]]).
    */
  private[graft] def grPagerankFrom(d0: DataFrame): DataFrame =
    grPagerankFromEdges(d0, grEdgesFrom(d0))

  /** [[grPagerank]] over an EXPLICIT edge set — the production seam
    * the derivation claim rests on: a real corpus with a stored link
    * column enters here with `(src, dst, out_deg)` and the fixpoint
    * never knows the edges weren't derived. `nodes0` supplies the node
    * universe (`doc_id`) — rank mass is injected per NODE, so isolated
    * documents still hold teleport mass. GraphSpec runs this over a
    * hand-built edge fixture; the hub graphs of SCALE.md's "Round-15:
    * the graph tier under degree skew" entered here, a degree
    * distribution the text derivation cannot produce.
    */
  private[graft] def grPagerankFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val d = nodes0.select(col("doc_id"))
    val e = e0.select(col("src"), col("dst"), col("out_deg"))
      .localCheckpoint(true)
    val n = d.agg(count(lit(1)).as("n"))
    val nodes = d.crossJoin(broadcast(n)) // 1-row anchor (allowlisted)
      .select(col("doc_id"),
        expr(s"$PrScale div n").as("r0"),
        expr(s"${PrScale * 15L / 100L} div n").as("base"))
    val ranks = prLoop(nodes, e)
    val outDeg = e.groupBy(col("src")).agg(min(col("out_deg")).as("out_deg"))
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
    ranks.select(col("doc_id"), col("r"))
      .join(outDeg, ranks("doc_id") === outDeg("src"), "left")
      .join(inDeg, ranks("doc_id") === inDeg("dst"), "left")
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        col("r").as("rank_u"))
      .orderBy(col("doc_id"))
  }

  /** The shared damped-propagation fixpoint: `nodes` carries per-node
    * BIGINT columns `r0` (initial mass) and `base` (per-round teleport
    * share); each round is one edges⋈ranks equi-join + one
    * partial-agg'd groupBy, lineage pinned by eager localCheckpoint.
    * ONE loop serves both the uniform-teleport [[grPagerank]] and the
    * seed-teleport [[grTrustrank]] — the teleport vector is the only
    * difference between the two algorithms, so it is the only
    * parameter.
    */
  private def prLoop(nodes0: DataFrame, e: DataFrame): DataFrame = {
    // Round-18: `nodes` is consumed once per round (the teleport join)
    // — unpinned, every round re-derived it from the documents scan
    // (PrIters redundant corpus scans per query at 100 TB); ONE eager
    // pin pays the scan once. The per-round `ranks` checkpoint is
    // GONE: each round's frame has exactly one consumer (the next
    // round's propagate join), so the whole PrIters-round fixpoint is
    // one linear plan evaluated in a single action — same number of
    // exchanges, PrIters fewer driver-synchronized jobs, and shuffle
    // files already give each stage a materialized retry boundary.
    // (Contrast kcore/star-CC, whose per-round frames have ≥2
    // consumers and MUST pin — see grKcoreFromEdgesCfg.)
    val nodes = nodes0.localCheckpoint(true)
    var ranks = nodes.select(col("doc_id"), col("r0").as("r"))
    for (_ <- 1 to PrIters) {
      val in = e.join(ranks.select(col("doc_id"), col("r")),
          e("src") === col("doc_id"))
        .select(col("dst"), expr("r div out_deg").as("m"))
        .groupBy(col("dst")).agg(sum(col("m")).as("s"))
      ranks = nodes.join(in, nodes("doc_id") === in("dst"), "left")
        .select(nodes("doc_id"),
          expr(s"base + ($PrDampNum * coalesce(s, CAST(0 AS BIGINT)))" +
            " div 100").as("r"))
    }
    ranks
  }

  /** Oracle twin of [[prLoop]]: CTEs `panchor` (caller-supplied body),
    * `gr0` … `gr{PrIters}`; `r0`/`base` are expressions over documents
    * row `d` and anchor row `a`. ONE builder for both teleport
    * vectors.
    */
  private def prRoundsSql(anchorBody: String, r0: String,
      base: String): String = {
    val rounds = (1 to PrIters).map { k =>
      s"""gr$k AS (
  SELECT d.doc_id, $base
    + ($PrDampNum * COALESCE(s.m, CAST(0 AS BIGINT))) // 100 AS r
  FROM documents d CROSS JOIN panchor a
  LEFT JOIN (
    SELECT e.dst, CAST(SUM(p.r // e.out_deg) AS BIGINT) AS m
    FROM gedges e JOIN gr${k - 1} p ON p.doc_id = e.src
    GROUP BY e.dst
  ) s ON s.dst = d.doc_id
)"""
    }.mkString(", ")
    s"""panchor AS (
  $anchorBody
), gr0 AS (
  SELECT d.doc_id, $r0 AS r
  FROM documents d CROSS JOIN panchor a
), $rounds"""
  }

  lazy val grPagerankSql: String = {
    val loop = prRoundsSql("SELECT COUNT(*) AS n FROM documents",
      s"($PrScale // a.n)", s"(${PrScale * 15L / 100L} // a.n)")
    s"""
WITH $grEdgesSql, $loop
SELECT d.doc_id,
  COALESCE(od.out_deg, CAST(0 AS BIGINT)) AS out_deg,
  COALESCE(id.in_deg, CAST(0 AS BIGINT)) AS in_deg,
  p.r AS rank_u
FROM documents d
JOIN gr$PrIters p ON p.doc_id = d.doc_id
LEFT JOIN (SELECT src, CAST(MIN(out_deg) AS BIGINT) AS out_deg
           FROM gedges GROUP BY src) od ON od.src = d.doc_id
LEFT JOIN (SELECT dst, COUNT(*) AS in_deg
           FROM gedges GROUP BY dst) id ON id.dst = d.doc_id
ORDER BY d.doc_id"""
  }

  // ------------------------------------------------------------------
  // gr_components — weakly-connected components of the citation graph
  // ------------------------------------------------------------------

  /** Weakly-connected components — the graph-tier form of the engine's
    * CC capability (dedup and media clustering already run it over
    * similarity pair streams; this runs it over citation edges, where
    * a component is a topic/mirror neighborhood): the one CC operator
    * ([[Dedup.clusters]], shared by every pair source) over the
    * symmetrized edge set, with the same output contract as
    * dd_clusters (rep = min id, size, is_survivor). Oracle composes
    * the SAME recursive-CTE closure
    * fragment ([[Dedup.ddClustersClosureSql]]) over the shared
    * gedges CTEs — the fixpoint semantics literally cannot drift from
    * the dedup family's.
    */
  def grComponents(spark: SparkSession, sfDir: String): DataFrame =
    grComponentsFrom(docs(spark, sfDir))

  /** [[grComponents]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grComponentsFrom(d0: DataFrame): DataFrame =
    grComponentsFromEdges(d0, grEdgesFrom(d0))

  /** [[grComponents]] over an explicit `(src, dst)` edge set — the
    * real-link seam (see [[grPagerankFromEdges]]).
    */
  private[graft] def grComponentsFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val pairs = e0
      .select(least(col("src"), col("dst")).as("doc_a"),
        greatest(col("src"), col("dst")).as("doc_b"))
      .distinct()
      .localCheckpoint(true)
    Dedup.clusters(nodes0.select(col("doc_id")), pairs)
  }

  lazy val grComponentsSql: String = Dedup.ddClustersClosureSql(
    "  SELECT LEAST(src, dst) AS doc_a, GREATEST(src, dst) AS doc_b\n" +
      "  FROM gedges GROUP BY 1, 2",
    prefixCtes = grEdgesSql + ", ")

  // ------------------------------------------------------------------
  // gr_trustrank — seed-teleport PageRank (trust propagation)
  // ------------------------------------------------------------------

  /** TrustRank: the seeded variant real curation pipelines run AFTER
    * uniform PageRank — teleport mass lands ONLY on a trusted seed set
    * (here: every document of the lexicographically-first source, a
    * deterministic stand-in for "the editorially vetted feed"), so
    * rank measures proximity-to-trust through citations rather than
    * raw popularity; a node no trust reaches scores exactly 0 (the
    * spam-demotion readout). Identical integer-mass machinery as
    * [[grPagerank]] — the SAME [[prLoop]] and the SAME oracle round
    * builder, with the teleport vector as the only difference:
    *
    *   r₀(v) = base(v) = seed(v) ? S-share div n_seeds : 0
    *
    * (r₀ = base·S/(0.15·S) up to the published split — both divisions
    * integer, both engines.)
    */
  def grTrustrank(spark: SparkSession, sfDir: String): DataFrame =
    grTrustrankFrom(docs(spark, sfDir))

  /** [[grTrustrank]] over any dense-id (doc_id, text, source) frame. */
  private[graft] def grTrustrankFrom(d0: DataFrame): DataFrame =
    grTrustrankFromEdges(d0, grEdgesFrom(d0))

  /** [[grTrustrank]] over an explicit edge set; `nodes0` carries
    * `(doc_id, source)` — the real-link seam.
    */
  private[graft] def grTrustrankFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val d = nodes0.select(col("doc_id"), col("source"))
    val e = e0.select(col("src"), col("dst"), col("out_deg"))
      .localCheckpoint(true)
    val ssrc = d.agg(min(col("source")).as("ssrc"))
    val withSeed = d.crossJoin(broadcast(ssrc)) // 1-row anchor
      .select(col("doc_id"), (col("source") === col("ssrc")).as("is_seed"))
    val ns = withSeed.filter(col("is_seed"))
      .agg(count(lit(1)).as("ns"))
    val nodes = withSeed.crossJoin(broadcast(ns)) // 1-row anchor
      .select(col("doc_id"), col("is_seed"),
        expr(s"CASE WHEN is_seed THEN $PrScale div ns" +
          " ELSE CAST(0 AS BIGINT) END").as("r0"),
        expr(s"CASE WHEN is_seed THEN ${PrScale * 15L / 100L} div ns" +
          " ELSE CAST(0 AS BIGINT) END").as("base"))
    val ranks = prLoop(nodes, e)
    nodes.select(col("doc_id"), col("is_seed"))
      .join(ranks.select(col("doc_id").as("rid"), col("r")),
        col("doc_id") === col("rid"))
      .select(col("doc_id"), col("is_seed"), col("r").as("rank_u"))
      .orderBy(col("doc_id"))
  }

  /** The seeded-fixpoint WITH-chain shared verbatim by the doc-grain
    * [[grTrustrankSql]] and the source-grain [[grSourceTrustSql]] —
    * one teleport definition, two readout grains.
    */
  private lazy val grTrustChainSql: String = {
    val share = s"($PrScale // a.ns)"
    val baseShare = s"(${PrScale * 15L / 100L} // a.ns)"
    val seed = "d.source = a.ssrc"
    val loop = prRoundsSql(
      """SELECT (SELECT MIN(source) FROM documents) AS ssrc,
    COUNT(*) FILTER (WHERE source =
      (SELECT MIN(source) FROM documents)) AS ns
  FROM documents""",
      s"(CASE WHEN $seed THEN $share ELSE CAST(0 AS BIGINT) END)",
      s"(CASE WHEN $seed THEN $baseShare ELSE CAST(0 AS BIGINT) END)")
    s"""
WITH $grEdgesSql, $loop"""
  }

  lazy val grTrustrankSql: String =
    s"""$grTrustChainSql
SELECT d.doc_id, (d.source = a.ssrc) AS is_seed, p.r AS rank_u
FROM documents d CROSS JOIN panchor a
JOIN gr$PrIters p ON p.doc_id = d.doc_id
ORDER BY d.doc_id"""

  // ------------------------------------------------------------------
  // gr_source_trust — the per-feed trust rollup
  // ------------------------------------------------------------------

  /** [[grTrustrank]] aggregated to the grain the decision is made at:
    * per SOURCE, docs, seeds, total trust mass (BIGINT micro-units —
    * integer-exact under any fold order) and mean trust per doc — the
    * feed-scoring table a curation pipeline turns into sampling
    * weights (a feed whose docs hold near-zero trust mass is the one
    * the mixer downweights first). Pure composition: the rank loop is
    * [[prLoop]] with the trustrank teleport (ONE fixpoint definition;
    * the oracle embeds the same [[prRoundsSql]] rounds), plus one
    * source-grain census groupBy.
    */
  def grSourceTrust(spark: SparkSession, sfDir: String): DataFrame =
    grSourceTrustFrom(docs(spark, sfDir))

  private[graft] def grSourceTrustFrom(d0: DataFrame): DataFrame = {
    val ranked = grTrustrankFrom(d0)
    ranked.join(d0.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_seed"), 1L).otherwise(0L)).as("n_seed"),
        sum(col("rank_u")).as("trust_u"),
        r6(sum(col("rank_u")).cast("double") / count(lit(1)))
          .as("mean_trust_u"))
      .orderBy(col("source"))
  }

  lazy val grSourceTrustSql: String =
    s"""$grTrustChainSql
SELECT d.source,
  COUNT(*) AS n_docs,
  CAST(SUM(CASE WHEN d.source = a.ssrc THEN 1 ELSE 0 END) AS BIGINT)
    AS n_seed,
  CAST(SUM(p.r) AS BIGINT) AS trust_u,
  ${r6Sql("(CAST(SUM(p.r) AS DOUBLE) / COUNT(*))")} AS mean_trust_u
FROM documents d CROSS JOIN panchor a
JOIN gr$PrIters p ON p.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source"""

  // ------------------------------------------------------------------
  // gr_reach — bounded-radius reachability / truncated harmonic
  // centrality
  // ------------------------------------------------------------------

  /** BFS radius for [[grReach]] (3 hops — the truncation real
    * centrality pipelines use: Common Crawl's harmonic-centrality
    * ranking is approximated by bounded-radius sweeps because the full
    * closure is quadratic).
    */
  val ReachHops = 3

  /** Micro-unit harmonic weights 1/d at 10⁶ scale, floor-quantized —
    * integers end to end, so the centrality is hash-exact on both
    * engines (the micro-nat discipline applied to 1/d).
    */
  val ReachMicro: IndexedSeq[Long] =
    (1 to ReachHops).map(d => 1000000L / d)

  /** Per-document bounded-radius influence: how many documents sit at
    * shortest out-distance exactly 1, 2, 3, and the truncated harmonic
    * centrality Σ 1/dist in micro-units — the link-based quality
    * weight curation pipelines attach to a domain. Distances are
    * MIN-dist (a node reachable at hop 1 and again at hop 3 counts
    * once, at distance 1).
    *
    * Scale shape: classic BSP frontier expansion — hop k is ONE
    * equi-join of the hop-(k−1) pair set against edges on the frontier
    * node + a distinct (pair-keyed shuffle); candidate volume is
    * bounded by n·out_deg^k with dedup applied per hop, and nothing is
    * quadratic in the corpus. At a 1000-executor scale each hop is a
    * co-partitioned join on the expanding key — the standard
    * Pregel-in-SQL plan.
    */
  def grReach(spark: SparkSession, sfDir: String): DataFrame =
    grReachFrom(docs(spark, sfDir))

  /** [[grReach]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grReachFrom(d0: DataFrame): DataFrame =
    grReachFromEdges(d0, grEdgesFrom(d0))

  /** [[grReach]] over an explicit edge set — the real-link seam. */
  private[graft] def grReachFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val d = nodes0.select(col("doc_id"))
    val e = e0.select(col("src"), col("dst"))
      .localCheckpoint(true)
    // hop tables: pairs (v, u) with u reachable in ≤k hops, deduped
    // per hop; self excluded throughout. Round-18: hop 1 IS the edge
    // set — (src, dst) is pair-distinct by construction — so its old
    // distinct+pin paid an exchange and a driver job for a projection
    // of the already-pinned e; and the LAST hop has exactly one
    // consumer (the union), so its dedup exchange now runs inside the
    // final job instead of a separate driver-synchronized one. Only
    // interior hops (two consumers: the union and the next hop's
    // frontier join) keep the eager pin. Hop 1 is a LAZY checkpoint —
    // no driver job, but fresh attribute ids so the frontier
    // self-join and the hop union stay unambiguous.
    var hops = Vector(e.select(col("src").as("v"), col("dst").as("u"))
      .localCheckpoint(false))
    for (h <- 2 to ReachHops) {
      val prev = hops.last
      val next0 = prev.join(e, prev("u") === e("src"))
        .select(prev("v"), e("dst").as("u"))
        .filter(col("v") =!= col("u"))
        .distinct()
      // interior hops pin eagerly (two consumers); the last hop
      // checkpoints LAZILY — no driver job, it materializes inside
      // the final action. (Direct column refs, no SubqueryAlias: an
      // aliased frontier join here poisons the hop union's constraint
      // rewrite with out-of-scope attributes — found the hard way on
      // gr_scc's spec.)
      val next = next0.localCheckpoint(h < ReachHops)
      hops = hops :+ next
    }
    val withDist = hops.zipWithIndex.map { case (h, i) =>
      h.select(col("v"), col("u"), lit(i + 1L).as("d"))
    }.reduce(_ unionAll _)
    val minDist = withDist.groupBy(col("v"), col("u"))
      .agg(min(col("d")).as("d"))
    val microExpr = (1 to ReachHops)
      .map(k => s"WHEN d = $k THEN ${ReachMicro(k - 1)}L")
      .mkString("CASE ", " ", " END")
    val per = minDist.groupBy(col("v")).agg(
      sum(when(col("d") === 1, 1L).otherwise(0L)).as("n_d1"),
      sum(when(col("d") === 2, 1L).otherwise(0L)).as("n_d2"),
      sum(when(col("d") === 3, 1L).otherwise(0L)).as("n_d3"),
      sum(expr(microExpr)).as("harmonic_u"))
    d.join(per, d("doc_id") === per("v"), "left")
      .select(col("doc_id"),
        coalesce(col("n_d1"), lit(0L)).as("n_d1"),
        coalesce(col("n_d2"), lit(0L)).as("n_d2"),
        coalesce(col("n_d3"), lit(0L)).as("n_d3"),
        coalesce(col("harmonic_u"), lit(0L)).as("harmonic_u"))
      .orderBy(col("doc_id"))
  }

  lazy val grReachSql: String = {
    val micro = (1 to ReachHops)
      .map(k => s"WHEN d = $k THEN ${ReachMicro(k - 1)}")
      .mkString("CASE ", " ", " END")
    s"""
WITH $grEdgesSql, h1 AS (
  SELECT DISTINCT src AS v, dst AS u FROM gedges
), h2 AS (
  SELECT DISTINCT h.v, e.dst AS u
  FROM h1 h JOIN gedges e ON e.src = h.u
  WHERE e.dst <> h.v
), h3 AS (
  SELECT DISTINCT h.v, e.dst AS u
  FROM h2 h JOIN gedges e ON e.src = h.u
  WHERE e.dst <> h.v
), mind AS (
  SELECT v, u, MIN(d) AS d FROM (
    SELECT v, u, 1 AS d FROM h1
    UNION ALL SELECT v, u, 2 FROM h2
    UNION ALL SELECT v, u, 3 FROM h3
  ) GROUP BY v, u
), per AS (
  SELECT v,
    CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
    CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
    CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3,
    CAST(SUM($micro) AS BIGINT) AS harmonic_u
  FROM mind GROUP BY v
)
SELECT d.doc_id,
  COALESCE(p.n_d1, CAST(0 AS BIGINT)) AS n_d1,
  COALESCE(p.n_d2, CAST(0 AS BIGINT)) AS n_d2,
  COALESCE(p.n_d3, CAST(0 AS BIGINT)) AS n_d3,
  COALESCE(p.harmonic_u, CAST(0 AS BIGINT)) AS harmonic_u
FROM documents d LEFT JOIN per p ON p.v = d.doc_id
ORDER BY d.doc_id"""
  }

  // ------------------------------------------------------------------
  // gr_triangles — ordered-wedge triangle census
  // ------------------------------------------------------------------

  /** Global clustering census of the UNDIRECTED citation graph:
    * triangle count via the ordered-wedge plan (each undirected edge
    * stored once as a < b; wedges a<b<c from e(a,b)⋈e(b,c); the
    * closing join checks e(a,c)) — every triangle counted exactly
    * once, no orientation bookkeeping. Wedge volume is Σ deg² — the
    * quantity the degree census above audits; at 100 TB the standard
    * mitigation (degree-ordered orientation already bounds wedge
    * fan-out by the SMALLER endpoint's degree) is built into the
    * a<b<c plan shape.
    *
    * Output: one row — nodes, undirected edges, wedges (Σ d(d−1)/2),
    * triangles, and the global clustering coefficient 3·Δ/wedges.
    */
  def grTriangles(spark: SparkSession, sfDir: String): DataFrame =
    grTrianglesFrom(docs(spark, sfDir))

  /** [[grTriangles]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grTrianglesFrom(d0: DataFrame): DataFrame =
    grTrianglesFromEdges(d0, grEdgesFrom(d0))

  /** [[grTriangles]] over an explicit edge set — the real-link seam
    * and the entry for graphs whose degree distribution the text
    * derivation cannot produce (SCALE.md "Round-15: the graph tier
    * under degree skew").
    */
  private[graft] def grTrianglesFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val e = undEdges(e0)
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    triCensusRow(nodes0, e, tri)
  }

  /** The undirected a<b edge set shared by both triangle plans. */
  private def undEdges(e0: DataFrame): DataFrame = e0
    .select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b"))
    .distinct()
    .localCheckpoint(true)

  /** Assembles the one-row census from the undirected edge set and a
    * 1-row triangle count — shared by the id-ordered and the
    * degree-oriented plan so the READOUT literally cannot differ.
    */
  private def triCensusRow(nodes0: DataFrame, e: DataFrame,
      tri: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val wedges = deg.agg(
      count(lit(1)).as("n_linked_nodes"),
      coalesce(sum(expr("(dg * (dg - 1)) div 2")), lit(0L)).as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nNodes = nodes0.agg(count(lit(1)).as("n_nodes"))
    // four 1-row anchors assembled into the census row (allowlisted)
    broadcast(nNodes).crossJoin(broadcast(nEdges))
      .crossJoin(broadcast(wedges)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"),
        col("n_linked_nodes"), col("n_wedges"), col("n_triangles"),
        r6(when(col("n_wedges") === 0, lit(0.0))
          .otherwise(lit(3.0) * col("n_triangles") / col("n_wedges")))
          .as("global_cc"))
  }

  lazy val grTrianglesSql: String =
    s"""
WITH $grEdgesSql, und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM gedges
), deg AS (
  SELECT v, COUNT(*) AS dg
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
), wj AS (
  SELECT COUNT(*) AS n_linked_nodes,
    COALESCE(CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT),
      CAST(0 AS BIGINT)) AS n_wedges
  FROM deg
), ne AS (
  SELECT COUNT(*) AS n_edges FROM und
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
), nn AS (
  SELECT COUNT(*) AS n_nodes FROM documents
)
SELECT nn.n_nodes, ne.n_edges, wj.n_linked_nodes, wj.n_wedges,
  tri.n_triangles,
  ${r6Sql("""(CASE WHEN wj.n_wedges = 0 THEN 0.0
    ELSE 3.0 * tri.n_triangles / wj.n_wedges END)""")} AS global_cc
FROM nn CROSS JOIN ne CROSS JOIN wj CROSS JOIN tri"""

  // ------------------------------------------------------------------
  // gr_triangles_deg — the census under DEGREE-ORIENTED wedges, the
  // skew-robust plan for power-law link graphs
  // ------------------------------------------------------------------

  /** [[grTriangles]] with the wedge join DEGREE-ORIENTED: each
    * undirected edge is directed from its lower-(degree, id) endpoint
    * to the higher, and wedges form only at a node's OUT-edges — so a
    * hub of degree D centers ZERO wedges (every hub edge points INTO
    * it) instead of ~D²/2. The id-ordered a<b<c plan's wedge fan-out
    * at a node is governed by where its ID happens to fall relative to
    * its neighbors'; on a power-law graph with hubs at high ids that
    * is Σ deg² at a single join key — SCALE.md "Round-15: the graph
    * tier under degree skew" measured the id-ordered plan riding the
    * hub's D² while this plan stays flat
    * (the classic Σ out-deg² ≤ O(m^{3/2}) bound of degree-ordered
    * triangle counting). Identical one-row output BY THEOREM — a total
    * order on nodes gives every triangle exactly one node with two
    * out-edges — so the oracle is [[grTrianglesSql]] verbatim (the
    * dd_ngram_jaccard_lsh contract: one oracle, two plans) and
    * GraphSpec pins plan-equality on both the fixture and a hand-built
    * hub graph where the orientations genuinely differ.
    */
  def grTrianglesDeg(spark: SparkSession, sfDir: String): DataFrame =
    grTrianglesDegFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grTrianglesDeg]] over an explicit edge set (real-link seam;
    * the measured side of SCALE.md "Round-15: the graph tier under
    * degree skew").
    */
  private[graft] def grTrianglesDegFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val e = undEdges(e0)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    // orient: u = the (deg, id)-smaller endpoint (a < b breaks ties)
    val ori = e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("w"))
      .localCheckpoint(true)
    // wedge at u over its OUT-neighbors (w1 < w2 by id dedups the
    // unordered pair); the closing edge is checked UNDIRECTED — the
    // third side's orientation is irrelevant once the wedge center is
    // the triangle's unique two-out-edge node
    val tri = ori.as("o1")
      .join(ori.as("o2"),
        col("o1.u") === col("o2.u") && col("o1.w") < col("o2.w"))
      .join(e.as("e3"),
        col("e3.a") === col("o1.w") && col("e3.b") === col("o2.w"))
      .agg(count(lit(1)).as("n_triangles"))
    triCensusRow(nodes0, e, tri)
  }

  /** Degree-oriented == id-ordered is a theorem; ONE oracle. */
  lazy val grTrianglesDegSql: String = grTrianglesSql

  // ------------------------------------------------------------------
  // gr_clustering — per-NODE triangle participation and local
  // clustering coefficient (the node-grain spam-star detector)
  // ------------------------------------------------------------------

  /** Local clustering census: per document, its undirected degree, the
    * number of triangles it participates in, and the local clustering
    * coefficient 2Δ(v)/(d(d−1)) — the NODE-grain form of
    * [[grTriangles]]' global readout, and the grain the curation
    * decision actually uses: a spam star is a high-degree node whose
    * neighbors never interlink (cc ≈ 0), an organic community member
    * has cc bounded away from 0; the global coefficient averages the
    * two apart. Degree-0/1 nodes report cc = 0 (no wedge exists).
    *
    * Plan: the DEGREE-ORIENTED wedge join (the [[grTrianglesDeg]]
    * plan — mandatory here, not optional: a per-node census must
    * survive exactly the hub-heavy graphs it exists to flag, and
    * the id-ordered plan rides the hub's F² while this one stays flat,
    * SCALE.md "Round-15: the graph tier under degree skew"), each
    * found triangle (u, v, w)
    * exploded to its three members, one corpus-keyed groupBy. The
    * oracle mirrors the orientation verbatim — same (deg, id) order,
    * same three-way explode — so the per-node counts are
    * driver-hash-pinned.
    */
  def grClustering(spark: SparkSession, sfDir: String): DataFrame =
    grClusteringFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grClustering]] over an explicit edge set (real-link seam). */
  private[graft] def grClusteringFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val e = undEdges(e0)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    val ori = e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("u"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("w"))
      .localCheckpoint(true)
    val tris = ori.as("o1")
      .join(ori.as("o2"),
        col("o1.u") === col("o2.u") && col("o1.w") < col("o2.w"))
      .join(e.as("e3"),
        col("e3.a") === col("o1.w") && col("e3.b") === col("o2.w"))
      .select(col("o1.u").as("x"), col("o1.w").as("y"), col("o2.w").as("z"))
    // ONE consumption of the wedge join: each found triangle explodes
    // to its three members in the same pass (a 3-way unionAll would
    // replay the join per branch — measured shutting down the JVM on
    // the zipf s=1.5 soak graph; the oracle's UNION ALL over a CTE is
    // the same single-evaluation semantics)
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    nodes0.select(col("doc_id"))
      .join(deg, nodes0("doc_id") === deg("v"), "left")
      .join(perNode, nodes0("doc_id") === perNode("v"), "left")
      .select(col("doc_id"),
        coalesce(col("dg"), lit(0L)).as("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        r6(when(coalesce(col("dg"), lit(0L)) < 2, lit(0.0))
          .otherwise(lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
            (col("dg") * (col("dg") - 1))))
          .as("local_cc"))
      .orderBy(col("doc_id"))
  }

  lazy val grClusteringSql: String =
    s"""
WITH $grEdgesSql, und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM gedges
), deg AS (
  SELECT v, COUNT(*) AS dg
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
), ori AS (
  SELECT
    CASE WHEN da.dg <= db.dg THEN e.a ELSE e.b END AS u,
    CASE WHEN da.dg <= db.dg THEN e.b ELSE e.a END AS w
  FROM und e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b
), tris AS (
  SELECT o1.u AS x, o1.w AS y, o2.w AS z
  FROM ori o1
  JOIN ori o2 ON o2.u = o1.u AND o1.w < o2.w
  JOIN und e3 ON e3.a = o1.w AND e3.b = o2.w
), pernode AS (
  SELECT v, COUNT(*) AS n_tri
  FROM (SELECT x AS v FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris)
  GROUP BY v
)
SELECT d.doc_id,
  COALESCE(g.dg, CAST(0 AS BIGINT)) AS deg,
  COALESCE(p.n_tri, CAST(0 AS BIGINT)) AS n_triangles,
  ${r6Sql("""(CASE WHEN COALESCE(g.dg, CAST(0 AS BIGINT)) < 2 THEN 0.0
    ELSE 2.0 * COALESCE(p.n_tri, CAST(0 AS BIGINT))
      / (g.dg * (g.dg - 1)) END)""")} AS local_cc
FROM documents d
LEFT JOIN deg g ON g.v = d.doc_id
LEFT JOIN pernode p ON p.v = d.doc_id
ORDER BY d.doc_id"""

  // ------------------------------------------------------------------
  // gr_reciprocity — mutual-citation share of the directed graph
  // ------------------------------------------------------------------

  /** RECIPROCITY — the directed-graph shape number assortativity's
    * undirected view cannot see: the share of directed edges whose
    * reverse edge also exists. Organic citation is mostly one-way
    * (old pages don't cite new ones back); a reciprocity spike is the
    * citation-SWAP ring (A cites B, B cites A — the bilateral form of
    * the link ring the in-degree census catches only when it's
    * many-to-one). Per source: directed edges out, mutual edges, and
    * the reciprocity share — source grain because the ACTION is
    * per-feed (the swap ring lives inside one or two feeds; a global
    * number averages it away — the qf_source_census argument).
    *
    * Shape: ONE self-equi-join of the edge list on the reversed key
    * (co-partitionable: both sides shuffle on (src,dst) vs (dst,src)
    * node pairs), then a source-grain census off the doc→source map.
    */
  def grReciprocity(spark: SparkSession, sfDir: String): DataFrame =
    grReciprocityFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grReciprocity]] over an explicit edge set (real-link seam). */
  private[graft] def grReciprocityFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val e = e0.select(col("src"), col("dst")).localCheckpoint(true)
    val mutual = e.as("f")
      .join(e.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .select(col("f.src").as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("n_mutual"))
    val out = e.groupBy(col("src")).agg(count(lit(1)).as("n_out"))
    nodes0.select(col("doc_id"), col("source"))
      .join(out, nodes0("doc_id") === out("src"), "left")
      .join(mutual, nodes0("doc_id") === mutual("src"), "left")
      .groupBy(col("source"))
      .agg(sum(coalesce(col("n_out"), lit(0L))).as("n_edges"),
        sum(coalesce(col("n_mutual"), lit(0L))).as("n_mutual"))
      .select(col("source"), col("n_edges"), col("n_mutual"),
        r6(when(col("n_edges") === 0, lit(0.0))
          .otherwise(col("n_mutual").cast("double") / col("n_edges")))
          .as("reciprocity"))
      .orderBy(col("source"))
  }

  lazy val grReciprocitySql: String =
    s"""
WITH $grEdgesSql, mut AS (
  SELECT f.src, COUNT(*) AS n_mutual
  FROM gedges f JOIN gedges r ON r.dst = f.src AND r.src = f.dst
  GROUP BY f.src
), outd AS (
  SELECT src, COUNT(*) AS n_out FROM gedges GROUP BY src
)
SELECT d.source,
  CAST(COALESCE(SUM(o.n_out), 0) AS BIGINT) AS n_edges,
  CAST(COALESCE(SUM(m.n_mutual), 0) AS BIGINT) AS n_mutual,
  ${r6Sql("""(CASE WHEN COALESCE(SUM(o.n_out), 0) = 0 THEN 0.0
    ELSE CAST(COALESCE(SUM(m.n_mutual), 0) AS DOUBLE)
      / COALESCE(SUM(o.n_out), 0) END)""")} AS reciprocity
FROM documents d
LEFT JOIN outd o ON o.src = d.doc_id
LEFT JOIN mut m ON m.src = d.doc_id
GROUP BY d.source
ORDER BY d.source"""

  // ------------------------------------------------------------------
  // gr_assortativity — degree correlation of the citation graph
  // ------------------------------------------------------------------

  /** DEGREE ASSORTATIVITY — the one-number graph-shape readout
    * (Newman's r: Pearson correlation of endpoint degrees over the
    * edge stubs): social/organic graphs are assortative (hubs link
    * hubs, r > 0), the web and engineered link structures are
    * DISassortative (hubs link leaves, r < 0) — so a feed whose
    * citation graph flips sign between crawls changed its linking
    * regime, worth a look before the mixer trusts its PageRank.
    *
    * Exact-moment discipline ([[Analytics.profCorr]]'s shape applied
    * to a graph): each undirected edge contributes BOTH ordered stubs
    * in one pass (a 2-row stack over ONE und⋈deg⋈deg join — by stub
    * symmetry Σx=Σy and Σx²=Σy², so one moment set suffices); moments
    * fold in DECIMAL(38,0) (HUGEINT in the oracle, VARCHAR-round-trip
    * to double — the measured correctly-rounded path), floats only in
    * the final 1-row projection.
    */
  def grAssortativity(spark: SparkSession, sfDir: String): DataFrame =
    grAssortativityFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grAssortativity]] over an explicit edge set (real-link seam). */
  private[graft] def grAssortativityFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val m38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val e = undEdges(e0)
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    val stubs = e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(expr("stack(2, da, db, db, da) AS (x, y)"))
      .select(col("x").cast(m38).as("x"), col("y").cast(m38).as("y"))
    val m = stubs.agg(
      count(lit(1)).cast(m38).as("n"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    broadcast(nEdges).crossJoin(broadcast(m))
      .select(col("n_edges"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sx")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(col("n_edges"), col("n").cast("long").as("n_stubs"),
        when(col("den") > 0, r6(col("num").cast("double") /
          col("den").cast("double"))).as("assortativity"))
  }

  lazy val grAssortativitySql: String = {
    def h(x: String) = s"CAST($x AS HUGEINT)"
    s"""
WITH $grEdgesSql, und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM gedges
), deg AS (
  SELECT v, COUNT(*) AS dg
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
), jj AS (
  SELECT da.dg AS da, db.dg AS db
  FROM und e
  JOIN deg da ON da.v = e.a
  JOIN deg db ON db.v = e.b
), stubs AS (
  SELECT ${h("da")} AS x, ${h("db")} AS y FROM jj
  UNION ALL SELECT ${h("db")} AS x, ${h("da")} AS y FROM jj
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
    SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM stubs
), ne AS (
  SELECT COUNT(*) AS n_edges FROM und
), f AS (
  SELECT ne.n_edges, m.n,
    (m.n * m.sxy - m.sx * m.sx) AS num,
    (m.n * m.sxx - m.sx * m.sx) AS den
  FROM ne CROSS JOIN m
)
SELECT n_edges, CAST(n AS BIGINT) AS n_stubs,
  CASE WHEN den > 0 THEN
    ${r6Sql(s"(${dblSql("num")} / ${dblSql("den")})")}
  END AS assortativity
FROM f"""
  }

  // ------------------------------------------------------------------
  // gr_hits — hubs & authorities with exact integer renormalization
  // ------------------------------------------------------------------

  /** HITS total mass per side, micro-units (PrScale's discipline). */
  val HitsScale = PrScale

  /** Fixed HITS rounds, unrolled in the oracle (the prLoop contract). */
  val HitsIters = 6

  /** HITS (hubs & authorities) — the OTHER link-analysis readout
    * curation needs besides PageRank: an AUTHORITY is a page good
    * sources cite (keep, upweight); a HUB is a page that exists to
    * cite (directories, link lists — the shape a mixer downweights
    * even when its PageRank is respectable, since hubs aggregate rank
    * without carrying content). Mutual recursion a = Aᵀh, h = A·a
    * with per-half-round renormalization.
    *
    * The float algorithm L2-normalizes — unverifiable across engines.
    * Here each half-round FLOOR-renormalizes in exact integer
    * arithmetic: x ↦ (x·[[HitsScale]]) div Σx, the multiply widened
    * through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — verified
    * bit-identical `div`/`//` semantics — so the fixpoint is BIGINT
    * end to end and partition-order-free (the [[PrScale]] discipline
    * extended to a TWO-sided fixpoint). The published semantic is
    * thus "floor-renormalized HITS": deterministic, scale-invariant
    * per round, spec-pinned against a local recompute.
    *
    * Per round: TWO equi-joins (src-side, then dst-side) + two
    * partial-agg'd groupBys + two 1-row total anchors — the same
    * co-partitionable shape as [[prLoop]], twice. Sinks/isolated
    * nodes decay to exact 0 on the side they lack edges for.
    */
  def grHits(spark: SparkSession, sfDir: String): DataFrame =
    grHitsFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grHits]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grHitsFrom(d0: DataFrame): DataFrame =
    grHitsFromEdges(d0, grEdgesFrom(d0))

  /** [[grHits]] over an explicit edge set (real-link seam). */
  private[graft] def grHitsFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val d = nodes0.select(col("doc_id"))
    val e = e0.select(col("src"), col("dst"), col("out_deg"))
      .localCheckpoint(true)
    val n = d.agg(count(lit(1)).as("n"))
    val nodes = d.localCheckpoint(true)
    // One side's propagate + floor-renormalize step. Round-18: `raw`
    // is referenced twice (the renormalize join and the 1-row total
    // its broadcast divides by) — a LAZY checkpoint guarantees the
    // edges⋈ranks propagate evaluates once per half-round regardless
    // of exchange-reuse luck: the broadcast build materializes it,
    // the probe side reads the stored blocks. Driver job count is
    // unchanged (the eager output pin per half-round stays — an A/B
    // that moved the eager pin onto `raw` instead read 2.47 → 2.94 s,
    // the extra normalize-join latency per round costing more than
    // the pin saved).
    def halfRound(prev: DataFrame, joinKey: String,
        outKey: String): DataFrame = {
      val raw = e.join(prev.select(col("doc_id"), col("r")),
          e(joinKey) === col("doc_id"))
        .groupBy(e(outKey).as("g")).agg(sum(col("r")).as("s"))
        .localCheckpoint(false)
      val tot = raw.agg(sum(col("s")).as("t"))
      nodes.join(raw, nodes("doc_id") === raw("g"), "left")
        .crossJoin(broadcast(tot))
        .select(nodes("doc_id"),
          coalesce(
            expr(s"CAST((CAST(s AS DECIMAL(38,0)) * $HitsScale)" +
              " div t AS BIGINT)"), lit(0L)).as("r"))
        .localCheckpoint(true)
    }
    var h = d.crossJoin(broadcast(n))
      .select(col("doc_id"), expr(s"$HitsScale div n").as("r"))
      .localCheckpoint(true)
    var a = h // replaced in round 1
    for (_ <- 1 to HitsIters) {
      a = halfRound(h, "src", "dst") // authorities pull from hubs
      h = halfRound(a, "dst", "src") // hubs pull from authorities
    }
    val outDeg = e.groupBy(col("src")).agg(min(col("out_deg")).as("od"))
    val inDeg = e.groupBy(col("dst")).agg(count(lit(1)).as("id_"))
    d.join(h.select(col("doc_id"), col("r").as("hub_u")), Seq("doc_id"))
      .join(a.select(col("doc_id"), col("r").as("auth_u")), Seq("doc_id"))
      .join(outDeg, d("doc_id") === outDeg("src"), "left")
      .join(inDeg, d("doc_id") === inDeg("dst"), "left")
      .select(d("doc_id"),
        coalesce(col("od"), lit(0L)).as("out_deg"),
        coalesce(col("id_"), lit(0L)).as("in_deg"),
        col("hub_u"), col("auth_u"))
      .orderBy(col("doc_id"))
  }

  lazy val grHitsSql: String = {
    def half(prev: String, out: String, joinKey: String,
        outKey: String): String = {
      s"""${out}_raw AS (
  SELECT e.$outKey AS g, CAST(SUM(p.r) AS BIGINT) AS s
  FROM gedges e JOIN $prev p ON p.doc_id = e.$joinKey
  GROUP BY e.$outKey
), ${out}_tot AS (
  SELECT CAST(SUM(s) AS BIGINT) AS t FROM ${out}_raw
), $out AS MATERIALIZED (
  SELECT d.doc_id,
    COALESCE(CAST((CAST(r.s AS HUGEINT) * $HitsScale) // a.t AS BIGINT),
      CAST(0 AS BIGINT)) AS r
  FROM documents d
  LEFT JOIN ${out}_raw r ON r.g = d.doc_id
  CROSS JOIN ${out}_tot a
)"""
    }
    val rounds = (1 to HitsIters).map { t =>
      half(s"hh${t - 1}", s"aa$t", "src", "dst") + ", " +
        half(s"aa$t", s"hh$t", "dst", "src")
    }.mkString(", ")
    s"""
WITH $grEdgesSql, hanchor AS (
  SELECT COUNT(*) AS n FROM documents
), hh0 AS MATERIALIZED (
  SELECT d.doc_id, ($HitsScale // a.n) AS r
  FROM documents d CROSS JOIN hanchor a
), $rounds
SELECT d.doc_id,
  COALESCE(od.od, CAST(0 AS BIGINT)) AS out_deg,
  COALESCE(id_.id_, CAST(0 AS BIGINT)) AS in_deg,
  h.r AS hub_u, a.r AS auth_u
FROM documents d
JOIN hh$HitsIters h ON h.doc_id = d.doc_id
JOIN aa$HitsIters a ON a.doc_id = d.doc_id
LEFT JOIN (SELECT src, CAST(MIN(out_deg) AS BIGINT) AS od
           FROM gedges GROUP BY src) od ON od.src = d.doc_id
LEFT JOIN (SELECT dst, COUNT(*) AS id_
           FROM gedges GROUP BY dst) id_ ON id_.dst = d.doc_id
ORDER BY d.doc_id"""
  }

  // ------------------------------------------------------------------
  // gr_kcore — bounded-round k-core peeling (onion-layer census)
  // ------------------------------------------------------------------

  /** Core thresholds swept. The derived graph's mean undirected degree
    * is ~6, so k=4 leaves a large partial core and k=5 peels the graph
    * to EMPTY — both verdicts exercised on the fixture.
    */
  val KCoreKs: Seq[Int] = Seq(4, 5)

  /** Published peel-round bound. The fixture reaches the fixpoint in
    * ≤ 7 rounds at both gate SFs (GraphSpec asserts the last round
    * peels nothing, i.e. the bound is not a truncation here); the
    * bounded unroll is the hash-verifiable form (the [[grReach]]
    * argument applied to peeling), and the production drops==0
    * convergence check is a SHIPPED SEAM —
    * [[grKcoreFromEdgesCfg]](converge = true), spec-pinned
    * output-equal to this unroll — so the swap is a constructor
    * argument, not an edit.
    */
  val KCoreRounds = 8

  /** K-CORE DECOMPOSITION — the density-tier curation signal
    * (link-farm detection 101: a k-core is a subgraph where EVERY
    * member keeps ≥ k neighbors inside it; organic pages live in
    * shallow cores, mutual-citation rings survive deep ones): per doc
    * × k, the PEEL ROUND — the onion layer at which iterated
    * remove-degree-<k deletes the doc (round 1 = periphery, isolated
    * docs included) — and 0 = the doc survives all [[KCoreRounds]]
    * rounds, i.e. sits in the k-core.
    *
    * Spark shape: the textbook distributed peel — per round ONE
    * (sym ⋈ alive ⋈ alive) edge filter + a partial-agg'd degree
    * groupBy + an anti-join; per-round cost is the SURVIVING subgraph,
    * never the original (work shrinks monotonically — the soak
    * measures k=5 rounds cheapening as layers fall away). Nothing is
    * all-pairs; the symmetrized edge set is built once and
    * checkpointed.
    */
  def grKcore(spark: SparkSession, sfDir: String): DataFrame =
    grKcoreFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grKcore]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grKcoreFrom(d0: DataFrame): DataFrame =
    grKcoreFromEdges(d0, grEdgesFrom(d0))

  /** [[grKcore]] over an explicit edge set (real-link seam). */
  private[graft] def grKcoreFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame =
    grKcoreFromEdgesCfg(nodes0, e0, KCoreRounds)

  /** [[grKcore]] with the peel bound as a PARAMETER plus the
    * production convergence form — the grReach/ddSemDedupCfg seam
    * discipline, so "swap the constant for a drops==0 check" is a
    * constructor argument rather than an edit:
    *
    *   - `converge = false` (the shipped dial): exactly `rounds`
    *     unrolled peel rounds — the hash-verifiable form (both
    *     engines unroll the same plan).
    *   - `converge = true`: peel until a round drops NOTHING, bounded
    *     by `rounds` as a runaway stop. The per-round `drop.isEmpty`
    *     is one extra count job against an already-checkpointed
    *     ≤survivors-sized frame — the standard price of a fixpoint
    *     check, paid only by deployments whose graphs need it.
    *     Output is IDENTICAL to any bounded unroll that reaches the
    *     fixpoint (post-fixpoint layers are empty by definition) —
    *     GraphSpec pins the equality on the fixture.
    */
  private[graft] def grKcoreFromEdgesCfg(nodes0: DataFrame,
      e0: DataFrame, rounds: Int,
      converge: Boolean = false): DataFrame = {
    val und = undEdges(e0)
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val nodes = nodes0.select(col("doc_id")).localCheckpoint(true)
    // Round-18, two changes (values unchanged, GraphSpec re-pins):
    //  - the per-round `drop` frame is now a LAZY checkpoint: its
    //    first evaluation — inside the same driver-synchronized job
    //    that pins the round's `alive` — materializes it, and the
    //    final layer union reads the stored blocks instead of
    //    re-running the round's degree join (2 eager jobs/round → 1
    //    with zero recompute; the star-CC loop already uses exactly
    //    this trick for its edge frames);
    //  - the [[KCoreKs]] peel chains never interact, so they
    //    materialize CONCURRENTLY ([[graft.Par]]): one chain's
    //    shuffle tail back-fills with the other's tasks instead of
    //    idling the executor.
    val perK = graft.Par.run(KCoreKs.map { k => () =>
      var alive = nodes
      var layers = Seq.empty[DataFrame]
      var r = 1
      var done = false
      while (r <= rounds && !done) {
        val deg = sym
          .join(alive.as("x"), col("u") === col("x.doc_id"))
          .join(alive.as("y"), col("v") === col("y.doc_id"))
          .groupBy(col("u")).agg(count(lit(1)).as("dg"))
        val drop = alive.join(deg, alive("doc_id") === deg("u"), "left")
          .filter(coalesce(col("dg"), lit(0L)) < k)
          .select(alive("doc_id")).localCheckpoint(false)
        if (converge && drop.isEmpty) {
          done = true // fixpoint: every later layer is empty too
        } else {
          layers :+= drop.select(col("doc_id"), lit(k).as("k"),
            lit(r).as("peel_round"))
          alive = alive.join(drop, Seq("doc_id"), "left_anti")
            .localCheckpoint(true)
        }
        r += 1
      }
      // append-then-reduce so a graph whose round 1 already drops
      // nothing (converge mode, whole graph in-core) still unions
      (layers :+ alive.select(col("doc_id"), lit(k).as("k"),
        lit(0).as("peel_round"))).reduce(_ unionAll _)
    })
    perK.reduce(_ unionAll _)
      .select(col("doc_id"), col("k"), col("peel_round"),
        (col("peel_round") === 0).as("in_core"))
      .orderBy(col("k"), col("doc_id"))
  }

  lazy val grKcoreSql: String = {
    // alive CTEs are referenced 3× per round (degree needs both edge
    // endpoints alive, the peel needs the set itself) — MATERIALIZED
    // stops DuckDB's inliner from expanding the chain exponentially
    // (4^rounds scans of documents = fd exhaustion); the Spark side's
    // localCheckpoint is the same decision in the other engine
    val ks = KCoreKs.map { k =>
      val rounds = (1 to KCoreRounds).map { r =>
        s"""deg${k}_$r AS (
  SELECT s.u, COUNT(*) AS dg
  FROM sym s
  JOIN alive${k}_${r - 1} x ON x.doc_id = s.u
  JOIN alive${k}_${r - 1} y ON y.doc_id = s.v
  GROUP BY s.u
), peel${k}_$r AS MATERIALIZED (
  SELECT a.doc_id
  FROM alive${k}_${r - 1} a LEFT JOIN deg${k}_$r d ON d.u = a.doc_id
  WHERE COALESCE(d.dg, 0) < $k
), alive${k}_$r AS MATERIALIZED (
  SELECT a.doc_id FROM alive${k}_${r - 1} a
  LEFT JOIN peel${k}_$r x ON x.doc_id = a.doc_id
  WHERE x.doc_id IS NULL
)"""
      }.mkString(", ")
      s"""alive${k}_0 AS MATERIALIZED (
  SELECT doc_id FROM documents
), $rounds"""
    }.mkString(", ")
    val unions = KCoreKs.flatMap { k =>
      (1 to KCoreRounds).map { r =>
        s"SELECT doc_id, $k AS k, $r AS peel_round FROM peel${k}_$r"
      } :+ (s"SELECT doc_id, $k AS k, 0 AS peel_round" +
        s" FROM alive${k}_$KCoreRounds")
    }.mkString("\n  UNION ALL ")
    s"""
WITH $grEdgesSql, und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM gedges
), sym AS (
  SELECT a AS u, b AS v FROM und
  UNION ALL SELECT b AS u, a AS v FROM und
), $ks
SELECT doc_id, k, peel_round, peel_round = 0 AS in_core
FROM ($unions)
ORDER BY k, doc_id"""
  }

  // ------------------------------------------------------------------
  // gr_lpa — label-propagation communities (bounded synchronous rounds)
  // ------------------------------------------------------------------

  /** Published synchronous LPA round count. Deterministic whatever the
    * graph does (the output is "labels after exactly R rounds", not a
    * fixpoint claim — synchronous LPA can oscillate on bipartite
    * structure, which is why the self-vote below is part of the
    * published rule: a node's own label counts once, damping 2-cycles
    * the same way the weighted-LPA literature does).
    */
  val LpaRounds = 4

  /** LABEL-PROPAGATION COMMUNITIES — the cheap community detector a
    * link-curation pass runs when connected components are too coarse
    * (CC merges everything touching; LPA's majority vote splits a
    * component along its dense cores — content farms and topic
    * clusters surface as communities long before they dominate a
    * whole component): every node starts as its own label; each
    * synchronous round a node adopts the most common label among its
    * neighbors PLUS ITSELF (one self-vote — the damping rule), ties
    * to the smallest label; after [[LpaRounds]] rounds the census
    * reports each doc's community and the community size.
    *
    * Purely integer — counts and min-label tie-breaks, no floats
    * anywhere, so cross-engine parity is structural. Spark shape per
    * round: one co-partitionable edge⋈labels join + a partial-agg'd
    * (node, label) count + a partial-agg'd argmax
    * (`max(struct(cnt, -lbl))` — the kmAssign fold, no per-node
    * window); the label frame is checkpointed per round
    * ([[grKcoreFromEdgesCfg]]'s lineage discipline). At 100 TB each
    * round is pagerank's cost shape exactly.
    */
  def grLpa(spark: SparkSession, sfDir: String): DataFrame =
    grLpaFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grLpa]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grLpaFrom(d0: DataFrame): DataFrame =
    grLpaFromEdges(d0, grEdgesFrom(d0))

  /** [[grLpa]] over an explicit edge set (real-link seam). */
  private[graft] def grLpaFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val labels = lpaLabelsOf(nodes0, undEdges(e0))
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy(col("doc_id"))
  }

  /** The final LPA label frame (doc_id, lbl) off an undirected edge
    * set — ONE copy of the propagation, consumed by the community
    * census ([[grLpaFromEdges]]) and the partition-quality readout
    * ([[grModularityFromEdges]]).
    */
  private def lpaLabelsOf(nodes0: DataFrame, und: DataFrame): DataFrame = {
    // Round-17 experiment (the round-16 verdict's LPA watch item),
    // honest negative: pre-partitioning sym by u before the checkpoint
    // — hoping each round's join would reshuffle only the label side —
    // does NOT pay. GraphSpec proves why: under AQE (production
    // default) the checkpointed LogicalRDD comes back WITHOUT its
    // hashpartitioning, so the round joins plan the edge-side exchange
    // regardless; clean same-day A/Bs read it as a wash with crossing
    // signs (SCALE.md, which also re-attributes r16's 22.67 s
    // 100×-point to box contention — today's zero-change baseline
    // reads 8.11 s).
    val sym = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    var labels = nodes0.select(col("doc_id"), col("doc_id").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to LpaRounds) {
      val votes = sym
        .join(labels.select(col("doc_id").as("u"), col("lbl")), Seq("u"))
        .select(col("v").as("doc_id"), col("lbl"))
        .unionAll(labels)
      labels = votes.groupBy(col("doc_id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("doc_id"), (-col("m.nl")).as("lbl"))
        .localCheckpoint(true)
    }
    labels
  }

  /** Oracle CTE chain ending with the final label relation
    * `lab_{LpaRounds}` — ONE copy for the community census and the
    * modularity readout.
    */
  private lazy val lpaCtesSql: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""votes_$r AS (
  SELECT s.v AS doc_id, l.lbl
  FROM sym s JOIN lab_${r - 1} l ON l.doc_id = s.u
  UNION ALL SELECT doc_id, lbl FROM lab_${r - 1}
), cnt_$r AS (
  SELECT doc_id, lbl, COUNT(*) AS c FROM votes_$r GROUP BY doc_id, lbl
), lab_$r AS MATERIALIZED (
  SELECT doc_id, lbl FROM (
    SELECT doc_id, lbl, row_number() OVER (PARTITION BY doc_id
      ORDER BY c DESC, lbl) AS rn
    FROM cnt_$r) WHERE rn = 1
)"""
    }.mkString(", ")
    s"""$grEdgesSql, und AS (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM gedges
), sym AS (
  SELECT a AS u, b AS v FROM und
  UNION ALL SELECT b AS u, a AS v FROM und
), lab_0 AS MATERIALIZED (
  SELECT doc_id, doc_id AS lbl FROM documents
), $rounds"""
  }

  lazy val grLpaSql: String = s"""
WITH $lpaCtesSql, sizes AS (
  SELECT lbl, COUNT(*) AS community_size FROM lab_$LpaRounds GROUP BY lbl
)
SELECT l.doc_id, l.lbl AS community, s.community_size
FROM lab_$LpaRounds l JOIN sizes s ON s.lbl = l.lbl
ORDER BY l.doc_id"""

  // ------------------------------------------------------------------
  // gr_modularity — Newman's Q per LPA community (partition quality)
  // ------------------------------------------------------------------

  /** MODULARITY READOUT — the number a community detection is judged
    * by (Newman's Q: how much denser inside-community linking is than
    * the degree-preserving random expectation — Q near 0 means LPA
    * found nothing a random rewiring wouldn't; strongly positive
    * communities are real structure, and a community whose OWN
    * contribution is large and positive is the dense block a link
    * curator inspects): per community, node count, internal edge
    * count, degree sum, and the exact contribution
    * e_c/m − (d_c/2m)², evaluated as the integer rational
    * (4m·e_c − d_c²) / (4m²) in DECIMAL(38,0)/HUGEINT so the moments
    * survive web-scale degree sums (the gr_assortativity discipline,
    * including the oracle's VARCHAR round-trip to double — DuckDB's
    * direct HUGEINT→DOUBLE cast is not correctly rounded); the
    * partition IS the shipped gr_lpa labeling (ONE [[lpaLabelsOf]]
    * chain on both engines).
    *
    * Scale shape: the label chain is gr_lpa's; the readout adds one
    * degree census, one labels⋈labels edge filter (co-partitionable),
    * two community-grain groupBys and a 1-row edge-count anchor.
    */
  def grModularity(spark: SparkSession, sfDir: String): DataFrame =
    grModularityFromEdges(docs(spark, sfDir), grEdges(spark, sfDir))

  /** [[grModularity]] over an explicit edge set (real-link seam). */
  private[graft] def grModularityFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val m38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = undEdges(e0)
    val labels = lpaLabelsOf(nodes0, und)
    val deg = und.select(col("a").as("v"))
      .unionAll(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("dg"))
    val ncom = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"))
    val dsum = labels.join(deg, labels("doc_id") === deg("v"), "left")
      .groupBy(col("lbl"))
      .agg(sum(coalesce(col("dg"), lit(0L))).as("d_c"))
    val internal = und
      .join(labels.select(col("doc_id").as("a"), col("lbl").as("la")),
        Seq("a"))
      .join(labels.select(col("doc_id").as("b"), col("lbl").as("lb")),
        Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
    val mrow = und.agg(count(lit(1)).as("m")) // 1-row anchor
    val num = lit(4).cast(m38) * col("m").cast(m38) *
      col("e_c").cast(m38) - col("d_c").cast(m38) * col("d_c").cast(m38)
    val den = lit(4).cast(m38) * col("m").cast(m38) * col("m").cast(m38)
    ncom.join(dsum, Seq("lbl"))
      .join(internal, Seq("lbl"), "left")
      .crossJoin(broadcast(mrow))
      .select(col("lbl"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("e_c"), col("d_c"), col("m"))
      .select(col("lbl").as("community"), col("n_nodes"),
        col("e_c").as("internal_edges"), col("d_c").as("degree_sum"),
        when(col("m") > 0,
          r6(num.cast("double") / den.cast("double")))
          .as("contribution"))
      .orderBy(col("community"))
  }

  lazy val grModularitySql: String = {
    def h(x: String) = s"CAST($x AS HUGEINT)"
    s"""
WITH $lpaCtesSql, deg AS (
  SELECT v, COUNT(*) AS dg
  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
  GROUP BY v
), ncom AS (
  SELECT lbl, COUNT(*) AS n_nodes FROM lab_$LpaRounds GROUP BY lbl
), dsum AS (
  SELECT l.lbl, CAST(COALESCE(SUM(d.dg), 0) AS BIGINT) AS d_c
  FROM lab_$LpaRounds l LEFT JOIN deg d ON d.v = l.doc_id
  GROUP BY l.lbl
), internal AS (
  SELECT la.lbl, COUNT(*) AS e_c
  FROM und e
  JOIN lab_$LpaRounds la ON la.doc_id = e.a
  JOIN lab_$LpaRounds lb ON lb.doc_id = e.b
  WHERE la.lbl = lb.lbl
  GROUP BY la.lbl
), mm AS (
  SELECT COUNT(*) AS m FROM und
)
SELECT n.lbl AS community, n.n_nodes,
  CAST(COALESCE(i.e_c, 0) AS BIGINT) AS internal_edges,
  d.d_c AS degree_sum,
  CASE WHEN mm.m > 0 THEN ${r6Sql(
      s"(${dblSql(s"(4 * ${h("mm.m")} * ${h("COALESCE(i.e_c, 0)")}" +
        s" - ${h("d.d_c")} * ${h("d.d_c")})")}" +
      s" / ${dblSql(s"(4 * ${h("mm.m")} * ${h("mm.m")})")})")}
  END AS contribution
FROM ncom n
JOIN dsum d ON d.lbl = n.lbl
LEFT JOIN internal i ON i.lbl = n.lbl
CROSS JOIN mm
ORDER BY community"""
  }

  // ------------------------------------------------------------------
  // gr_scc — strongly connected components (bounded-witness)
  // ------------------------------------------------------------------

  /** Witness radius for [[grScc]]'s mutual-reachability closure — the
    * [[ReachHops]] truncation applied to the DIRECTED question. */
  val SccHops: Int = ReachHops

  /** Strongly-connected components of the DIRECTED citation graph —
    * the link-ring detector the undirected views miss: gr_components
    * merges everything TOUCHING (a spam ring pointing at a victim page
    * lands in the victim's component), while a directed cycle is
    * evidence of coordination — A cites B cites C cites A doesn't
    * happen by accident at ring scale, and PageRank famously inflates
    * inside exactly these cycles (the "link farm" structure).
    *
    * Bounded-witness contract (the [[grReach]] truncation applied to
    * SCCs): node u joins v's component when BOTH directed paths v→u
    * and u→v exist within [[SccHops]] hops. SOUNDNESS is a theorem —
    * if v and w each mutually reach the group's min-id anchor m, then
    * v→m→w and w→m→v are real paths, so every reported group is a
    * subset of one TRUE SCC (never a merge error); COMPLETENESS is
    * bounded — a true SCC whose mutual witnesses need > SccHops hops
    * reports as a refinement (split along the witness radius), the
    * same honest truncation real centrality pipelines ship.
    *
    * Output: per document its scc_id (min doc_id over the
    * mutual-witness set, self included — singletons are their own
    * component) and the component size at that id.
    *
    * Scale shape: ONE forward bounded-hop closure (the [[grReach]]
    * BSP frontier plan — hop k is an equi-join on the frontier key
    * plus a distinct, volume bounded by n·out_deg^k, lineage pinned
    * per hop), then mutuality as a SELF-equi-join of the pair set on
    * the swapped key (co-partitionable, linear in the closure), one
    * min-groupBy, one size-groupBy. Unlike [[grReach]] the closure
    * KEEPS self-pairs — a cycle through v must record (v, v) or
    * longer paths could not extend through a revisit.
    */
  def grScc(spark: SparkSession, sfDir: String): DataFrame =
    grSccFrom(docs(spark, sfDir))

  /** [[grScc]] over any dense-id frame (ScaleSoak seam). */
  private[graft] def grSccFrom(d0: DataFrame): DataFrame =
    grSccFromEdges(d0, grEdgesFrom(d0))

  /** [[grScc]] over an explicit edge set — the real-link seam. */
  private[graft] def grSccFromEdges(nodes0: DataFrame,
      e0: DataFrame): DataFrame = {
    val d = nodes0.select(col("doc_id"))
    val e = e0.select(col("src"), col("dst"))
      .localCheckpoint(true)
    // hop 1 is the pair-distinct edge set (no dedup exchange; lazy
    // checkpoint for fresh attribute ids, no driver job); the last
    // hop's dedup folds into the fwd-closure job (single consumer) —
    // the grReach round-18 note applies verbatim
    var hops = Vector(e.select(col("src").as("v"), col("dst").as("u"))
      .localCheckpoint(false))
    for (h <- 2 to SccHops) {
      val prev = hops.last
      val next0 = prev.join(e, prev("u") === e("src"))
        .select(prev("v"), e("dst").as("u"))
        .distinct()
      // last hop lazy (materializes inside the fwd-closure job, no
      // separate driver round-trip), interior hops eager
      val next = next0.localCheckpoint(h < SccHops)
      hops = hops :+ next
    }
    val fwd = hops.reduce(_ unionAll _).distinct()
      .localCheckpoint(true)
    // mutuality = existence of the swapped pair: LEFT SEMI, not inner
    // (guide §3) — fwd is a distinct set, so semi ≡ inner here but the
    // probe side never materializes into the output (and the join's
    // constraint set stays on fwd's own columns)
    val rev = fwd.select(col("u").as("v"), col("v").as("u"))
    val mutual = fwd.join(rev, Seq("v", "u"), "left_semi")
    // self-closure without the union: min over (mutual ∪ self-pairs)
    // per v ≡ least(min_mutual(v), v), with nodes absent from the
    // mutual set defaulting to themselves — one less unionAll branch
    // through the groupBy shuffle (n self-rows never shuffle at all)
    val mins = mutual.groupBy(col("v")).agg(min(col("u")).as("mn"))
    val sid = d.select(col("doc_id").as("v"))
      .join(mins, Seq("v"), "left")
      .select(col("v"),
        least(coalesce(col("mn"), col("v")), col("v")).as("scc_id"))
    val sz = sid.groupBy(col("scc_id"))
      .agg(count(lit(1)).as("scc_size"))
    sid.join(sz, Seq("scc_id"))
      .select(col("v").as("doc_id"), col("scc_id"), col("scc_size"))
      .orderBy(col("doc_id"))
  }

  lazy val grSccSql: String = {
    val hopCtes = (2 to SccHops).map { k =>
      s"""s$k AS (
  SELECT DISTINCT h.v, e.dst AS u
  FROM s${k - 1} h JOIN gedges e ON e.src = h.u
)"""
    }.mkString(", ")
    val hopUnion = (1 to SccHops)
      .map(k => s"SELECT v, u FROM s$k").mkString("\n    UNION ALL ")
    s"""
WITH $grEdgesSql, s1 AS (
  SELECT DISTINCT src AS v, dst AS u FROM gedges
), $hopCtes, fwd AS MATERIALIZED (
  SELECT DISTINCT v, u FROM (
    $hopUnion)
), mutual AS (
  SELECT f.v, f.u FROM fwd f JOIN fwd g ON g.v = f.u AND g.u = f.v
), closed AS (
  SELECT doc_id AS v, doc_id AS u FROM documents
  UNION ALL SELECT v, u FROM mutual
), sid AS (
  SELECT v, MIN(u) AS scc_id FROM closed GROUP BY v
), sz AS (
  SELECT scc_id, COUNT(*) AS scc_size FROM sid GROUP BY scc_id
)
SELECT s.v AS doc_id, s.scc_id, CAST(z.scc_size AS BIGINT) AS scc_size
FROM sid s JOIN sz z ON z.scc_id = s.scc_id
ORDER BY doc_id"""
  }
}
