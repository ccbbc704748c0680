package graft

/** Mechanized plan audit over EVERY shipped query — the per-round
  * hand-audit (SCALE.md's plan notes) as a regression net. Uses
  * [[PlanLint.findings]] on the pre-AQE physical plan at smoke scale:
  * planning only, nothing executes.
  *
  * Policy:
  *  - CartesianProduct: never. An unpartitioned all-pairs join cannot
  *    ship.
  *  - ScalaUDF: never (the engine's no-UDF rule — custom Catalyst
  *    expressions or nothing).
  *  - BroadcastNestedLoopJoin: only where the broadcast side is
  *    constant-size BY CONSTRUCTION, per-query allowlisted below.
  *  - CodegenFallback expressions inside Project/Filter (the per-row
  *    hot path): only the engine's own `graft_*` per-row-once
  *    expressions (each file documents the one-JVM-call-per-row
  *    trade) plus per-query allowlisted built-ins at bounded grain.
  */
class PlanLintSpec extends SparkSpec {

  /** Queries whose BNLJ side is constant-size by construction:
    *  - 1-row broadcast scalar anchors/totals (the "no driver count"
    *    pattern): cp_curriculum, ev_session_stats, prof_drift,
    *    prof_mi, prof_outliers, qf_composite, qf_lm_filter,
    *    ta_burstiness, ta_colloc, ta_keywords, ta_kl_source,
    *    ta_ngram_lm, wh_aging, wh_basket, wh_dq, dd_lsh_tuning,
    *    dd_family_overlap (three 1-row census aggregates) and its
    *    capped twin (same three anchors; only the pair CTE differs),
    *    ev_survival (1-row user-total anchor), ev_lag_corr (1-row
    *    day-bounds anchor for the zero-fill scaffold), ev_growth_accounting
    *    (1-row day-bounds anchor for churn clipping + scaffold), ta_bm25
    *    (1-row corpus-stats anchor), wh_pricing (1-row ship-date anchor),
    *    cp_dataset_card + its approx twin (1-row global agg × 1-row lang argmax),
    *    cp_dedup_impact (1-row corpus-totals anchor per family census)
    *    and its capped twin (same anchor; only the minhash CTE differs),
    *    qf_ingest_gate (two 1-row stream-health anchors — the ev_dq
    *    audit row and the bot-count reduce — broadcast onto the
    *    sources-bounded census), wh_idle_customers (1-row max-date
    *    recency anchor — no driver collect), cp_bpe_train and
    *    cp_bpe_tokenize (per training round: the 1-row elected-merge
    *    anchor replayed onto the corpus and the 1-row vocab-stats
    *    readout — both limit-1/global-agg by construction; tokenize
    *    embeds the same loop).
    *  - fixed NQueries-row query sets / ≤k-row centroid-or-threshold
    *    tables: sim_hard_negatives and sim_mrl (the NQueries-row
    *    anchor side against the corpus — the scored-pass shape of
    *    sim_bruteforce_topk), sim_bruteforce_topk, sim_ivf_ann, sim_ivf_tuning,
    *    sim_ivf_trained (≤k-row trained centroids per Lloyd round +
    *    the 1-row live-cell-count anchor),
    *    sim_kmeans, sim_label_knn_ann, sim_mips, sim_pq, sim_recall,
    *    sim_hybrid_rrf (1-row corpus-stats anchor on the lexical arm +
    *    the NQueries-row semantic query side) and its ANN twin (same
    *    anchor; the semantic side is the broadcast centroid table).
    *  - the constant-size eval side (the one documented BNLJ-is-right
    *    case): cp_decontam_embed.
    *  - gr_degree / gr_triangles / gr_triangles_deg (the 1-row
    *    corpus-count anchor that
    *    makes mod-n citation targets driver-collect-free; both triangle
    *    plans additionally assemble their census row from four 1-row
    *    aggregates), gr_trustrank and its source-grain rollup
    *    gr_source_trust (the 1-row trusted-source anchor + the 1-row
    *    seed-count anchor feeding the teleport vector),
    *    wh_zorder (the 1-row min/max bounds anchor plus
    *    the 3·64-file-stats × 24-query workload check — both sides
    *    layout constants by construction, the documented
    *    footer-pruning BNLJ).
    */
  private val bnljOk: Set[String] = Set(
    "cp_bpe_train", "cp_bpe_tokenize",
    "cp_curriculum", "cp_dataset_card", "cp_dataset_card_approx",
    "cp_decontam_embed", "cp_dedup_impact", "cp_dedup_impact_capped",
    // cp_dsir: 1-row target-source / corpus-total / quartile anchors
    "cp_dsir",
    // cp_dsir_sample: the same 1-row anchors plus the 1-row target
    // total (ttot) the acceptance rational cross-joins
    "cp_dsir_sample",
    "dd_family_overlap", "dd_family_overlap_capped", "dd_lsh_tuning",
    "ev_growth_accounting", "ev_lag_corr", "ev_session_stats",
    "ev_survival", "gr_degree", "gr_triangles", "gr_triangles_deg",
    // gr_assortativity: two 1-row census anchors assembled crosswise
    "gr_assortativity",
    "gr_clustering", "gr_trustrank",
    // gr_modularity: the 1-row undirected-edge-count anchor
    "gr_modularity",
    "gr_source_trust", "wh_zorder",
    "prof_drift",
    "prof_mi",
    "prof_outliers",
    // qf_k_anon: class census × the 3-row k-threshold frame — the
    // broadcast side is a compile-time constant
    "qf_k_anon",
    "qf_composite", "qf_ingest_gate", "qf_lm_filter",
    "sim_bruteforce_topk", "sim_ivf_ann",
    "sim_hybrid_rrf", "sim_hybrid_rrf_ann",
    "sim_ivf_trained",
    "sim_ivf_tuning", "sim_kmeans", "sim_label_knn_ann", "sim_mips",
    "sim_pq", "sim_recall",
    // sim_ivfpq_ann / _rerank: per-block LUTs cross-join the 8-row
    // trained codebooks (constant by construction, the sim_pq shape)
    "sim_ivfpq_ann", "sim_ivfpq_rerank",
    // sim_ivfpq_residual: the same 8-row codebook LUT cross-joins plus
    // the queries × ≤IvfCells coarse-term table (both constant)
    "sim_ivfpq_residual",
    // sim_rerank_tuning: the ivfpq LUT cross-joins + per-arm 1-row
    // raw-reads aggregates crossed into the census rows
    "sim_rerank_tuning",
    // sim_residual_rerank: sim_ivfpq_residual's codebook/coarse-table
    // cross-joins feeding the shared rerank tail
    "sim_residual_rerank",
    // sim_residual_gain: the NQueries-row query side against the code
    // tables (the sim_pq_adc audit shape) + 1-row hit/err aggregates
    // crossed into the census row
    "sim_residual_gain",
    // sim_opq_gain: the identical audit shape over the ROTATED code
    // tables (NQueries-row query side + 8-row codebook LUTs + 1-row
    // hit/err aggregates)
    "sim_opq_gain",
    "sim_hard_negatives", "sim_mrl",
    // sim_kcenter: each round's carry joins ONE 1-row broadcast center;
    // the census joins the 8-row center table
    "sim_kcenter",
    "ta_bm25", "ta_burstiness", "ta_colloc", "ta_keywords",
    "ta_kl_source", "ta_ngram_lm", "wh_aging", "wh_basket", "wh_dq",
    "wh_idle_customers", "wh_pricing")

  /** Built-in CodegenFallback expressions allowed per query, each at a
    * bounded (non-corpus) grain: ev_json's from_json has no codegen in
    * Spark at all; ev_mad's array ops run over trailing windows at
    * (type, day) grain; sim_kmeans' checksum/rebuild HOFs run over the
    * ≤k-row centroid table.
    */
  private val fallbackOk: Map[String, Set[String]] = Map(
    "ev_json" -> Set("from_json"),
    "ev_mad" -> Set("array_sort", "transform", "lambdafunction",
      "namedlambdavariable"),
    "sim_kmeans" -> Set("aggregate", "zip_with", "lambdafunction",
      "namedlambdavariable"))

  /** Queries permitted an UNPARTITIONED WindowExec (round-18 verdict
    * item 3, mechanized): every entry's window input is bounded by
    * construction — a value/census grain that does not scale with
    * corpus rows, a constant scaffold, a TakeOrdered top-k cut — or
    * is the documented bit-parity baseline with a sharded 100 TB
    * twin. A NEW query that plans a global window must either justify
    * its bounded input here or change shape.
    */
  private val globalWindowOk: Map[String, String] = Map(
    "cp_pack" -> ("bit-parity baseline for the oracle's global " +
      "running total; the 100 TB shape is cpPackSharded (site doc)"),
    "cp_shuffle" -> "shard-offset cumsum over the shard-count census",
    "cp_frag" -> "pack-plan shard/boundary census grain",
    "cp_vocab" -> "rank over the <=VocabTopN TakeOrdered cut",
    "cp_bpe_pairs" -> "rank over the adjacent-char-pair census",
    "cp_curriculum" -> "cut over the (score_micro, count) value census",
    "cp_dsir" -> "ExactRank quartiles over the (imp_u, count) census",
    "cp_epoch_plan" -> "full-frame anchor over the sources relation",
    "cp_waterfill" -> "fill-level windows over the sources relation",
    "prof_benford" -> "9-row digit scaffold total",
    "prof_gini" -> "cumsum over the (cent-value, count) census",
    "prof_outliers" -> "fence quartiles over the (value, count) census",
    "ev_funnel_time" -> "percentiles over the (delay, count) census",
    "ev_session_stats" -> "percentiles over the (duration, count) census",
    "ev_paths" -> "rank over the <=PathTopK TakeOrdered cut",
    "ev_rfm" -> ("full-frame anchor over the per-user census " +
      "(chosen over a second corpus scan — site doc)"),
    "ev_survival" -> "KM cumsum over the (t_obs, count) census",
    "ev_stickiness" -> "day-scaffold cumsum (day grain)",
    "ta_colloc" -> "rank over the bigram-collocation census",
    "ta_burstiness" -> "burstiness stats over a day/vocab census",
    "wh_basket" -> "rank over the <=BasketTopK TakeOrdered cut",
    "wh_compaction" -> "cumsum over the (ship-day, count) census",
    "wh_pareto" -> "decile cut over the (cents, count) value census")

  private lazy val findings: Map[String, Seq[(String, String)]] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> PlanLint.findings(fn(spark, sf()).queryExecution.sparkPlan)
    }

  test("no shipped query plans a cartesian product or a Scala UDF") {
    val bad = findings.toSeq.flatMap { case (n, fs) =>
      fs.collect { case (k, d) if k == "cartesian" || k == "udf" =>
        s"$n $k $d" }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("broadcast nested-loop joins only where constant-size by construction") {
    val bad = findings.toSeq.flatMap { case (n, fs) =>
      fs.collect { case ("bnlj", d) if !bnljOk(n) => s"$n $d" }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    // hygiene: no stale allowlist entries
    val stale = bnljOk.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"allowlisted but not shipped: $stale")
  }

  test("global (unpartitioned) windows only over bounded-by-construction inputs") {
    val bad = findings.toSeq.flatMap { case (n, fs) =>
      fs.collect { case ("global_window", d)
          if !globalWindowOk.contains(n) => s"$n $d" }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    val flagged = findings.collect {
      case (n, fs) if fs.exists(_._1 == "global_window") => n
    }.toSet
    val stale = globalWindowOk.keySet.filterNot(flagged.contains)
    assert(stale.isEmpty,
      s"allowlisted but no global window planned (stale): $stale")
  }

  test("summary counts q01_overview's static plan and restores AQE") {
    // one scan → partial/final hash aggregate (one shuffle) → the
    // presentation sort (one range exchange), in three codegen stages
    val got = PlanLint.summary(SparkEntry.queries("q01_overview")(spark, sf()))
    assert(got == Seq("scans" -> 1, "exchanges" -> 2, "reused" -> 0,
      "windows" -> 0, "sorts" -> 1, "wholestage" -> 3))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("hot-path interpreted expressions are the designed per-row customs") {
    val bad = findings.toSeq.flatMap { case (n, fs) =>
      fs.collect {
        case ("fallback", d)
            if !d.substring(d.indexOf(": ") + 2).startsWith("graft_") &&
              !fallbackOk.getOrElse(n, Set.empty)
                .contains(d.substring(d.indexOf(": ") + 2)) =>
          s"$n $d"
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    val stale = fallbackOk.keySet.filterNot(SparkEntry.queries.contains)
    assert(stale.isEmpty, s"allowlisted but not shipped: $stale")
  }
}
