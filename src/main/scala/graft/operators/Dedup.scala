package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CrossHash
import org.apache.spark.sql.expressions.Window
import graft.functions.CrossHash.{md5LongSql, md5ModSql, P}
import graft.functions.Determinism.{r6, r6Sql}
import graft.model.RedditModel
import graft.operators.TextAnalysis.{docs, tokens}
import graft.queries.RefOracle
import graft.schema.Tables

/** Deduplication operator family for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, char-n-gram Jaccard, embedding-cosine.
  * Extension tier beyond the reference (whose only dedup is the PK
  * constraint on load, reference script.py:49,78).
  *
  * Scale posture (the design constraint for each operator):
  *  - exact: hash-groupBy with map-side partial aggregation — the only
  *    shuffle carries one row per distinct key.
  *  - MinHash signatures: map-only custom expressions
  *    ([[graft.functions.WordShingleHashSet]] + [[graft.functions
  *    .MinHash16]]), ZERO shuffle; LSH banding turns the O(n²) pair
  *    space into an equi-join on band keys (shuffle ∝ corpus size, not
  *    pairs); only candidates pay the exact Jaccard verification.
  *  - SimHash: map-only [[graft.functions.SimHash60]] expression, ZERO
  *    shuffle for signatures. Pairing uses 15-bit chunk banding
  *    (pigeonhole: hamming ≤ 3 ⇒ some chunk equal).
  *  - n-gram Jaccard: length-bucket blocking with neighbor-bucket
  *    explode — an equi-join, not a theta join, so it shuffles instead
  *    of falling into a nested-loop cross product.
  *  - embedding cosine: norms precomputed once per vector; the all-pairs
  *    form is the exactness baseline (the LSH-bucketed scale path is
  *    [[Similarity.simLshAnn]]).
  *
  * Every hash is md5-derived so the DuckDB oracle reproduces results
  * bit-for-bit (see [[graft.functions.CrossHash]]).
  */
object Dedup {

  // ---- MinHash parameters (16 = 4 bands × 4 rows); coefficients live
  // in CrossHash (shared with the MinHash16 expression — one copy) ----
  val K: Int = CrossHash.MinHashK
  val Bands = 4
  val R = 4
  val As: Seq[Long] = CrossHash.MinHashAs.toSeq
  val Bs: Seq[Long] = CrossHash.MinHashBs.toSeq
  val MinhashJaccardMin = 0.5
  val NgramJaccardMin = 0.6
  val CosineMin = 0.45
  val SimhashBits = 60 // md5Long yields 60 bits
  val HammingMax = 3

  // ------------------------------------------------------------------
  // dd_exact — exact dedup by content hash (comments table)
  // ------------------------------------------------------------------

  /** Classic exact dedup: group by content hash, keep the smallest id as
    * the deterministic survivor. One shuffle, partial-agg combined.
    */
  def ddExact(spark: SparkSession, sfDir: String): DataFrame =
    RedditModel.comments(spark, sfDir)
      .groupBy(md5(col("body")).as("body_key"))
      .agg(
        count(lit(1)).as("cnt"),
        min(col("id")).as("survivor_id"))
      .orderBy(col("body_key"))

  lazy val ddExactSql: String = RefOracle.modelCte + """
SELECT md5(body) AS body_key, COUNT(*) AS cnt, MIN(id) AS survivor_id
FROM comments GROUP BY md5(body) ORDER BY body_key"""

  // ------------------------------------------------------------------
  // dd_minhash — per-doc MinHash signature (word-3-gram shingles)
  // ------------------------------------------------------------------

  /** Distinct word-3-gram shingles of a lowercased token array.
    *
    * PERF: `toks` MUST be a materialized attribute (a named column from
    * a lower Project), never an inline expression — the lambda body
    * references it 3× per shingle, and a non-attribute Column embeds a
    * copy of its whole tree at each reference, turning shingling into
    * O(tokens²) re-splits per document (measured 10× slowdown at sf0.1).
    */
  def shingles(toks: Column): Column =
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1),
          element_at(toks, i + 2)))))
      .otherwise(array().cast("array<string>"))

  /** One row per (doc, distinct shingle hash). The md5 is computed ONCE
    * per shingle here; a pure array-lambda formulation would let
    * Catalyst's CollapseProject inline the hash array into each of the
    * 16 minhash expressions and recompute md5 16× (measured 18 s at
    * sf0.1 → ~2 s in this shape).
    */
  private def shingleRows(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"))).as("sh"))
      .select(col("doc_id"), CrossHash.md5Mod(col("sh")).as("h"))

  /** Map-only MinHash signature via the custom expressions: shingle
    * hash set + 16 mins in two evals per row, ZERO shuffle — the
    * groupBy twin below shuffles the exploded shingle stream
    * (measured: dd_minhash 0.98 s → 0.60 s, dd_minhash_lsh 1.48 s →
    * 0.68 s, dd_clusters 2.86 s → 1.70 s at sf0.1; at 100 TB the
    * saving is the signature's entire exchange). The empty-set filter
    * reproduces the groupBy form's no-row-for-shingle-less-docs
    * behavior; DedupSpec pins signature equality and coefficient
    * agreement.
    */
  private def signature(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir)
      // shingle-less docs (< 3 tokens) drop BEFORE the expensive
      // expression, on a cheap split-only predicate: a post-hoc
      // `size(hs) > 0` filter gets alias-substituted below the Project
      // by PushPredicateThroughNonJoin and re-evaluates the whole
      // hash-set expression per row (code-review catch; ≥3 tokens ⇔
      // ≥1 shingle, so the two filters are equivalent)
      .filter(size(tokens(lower(col("text")))) >=
        graft.functions.WordShingleHashSet.N)
      .select(col("doc_id"),
        graft.functions.WordShingleHashSet.hs(lower(col("text"))).as("hs"))
      .select(col("doc_id"),
        graft.functions.MinHash16.mins(col("hs")).as("mh"))
      .select(col("doc_id") +:
        (0 until K).map(i => element_at(col("mh"), i + 1).as(s"mh_$i")): _*)
  }

  /** The groupBy formulation [[signature]]'s expressions are pinned
    * against (spec-only — the shape the oracle SQL evaluates).
    */
  private[graft] def signatureDeclarative(spark: SparkSession,
      sfDir: String): DataFrame =
    shingleRows(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(
        min((col("h") * lit(As(0)) + lit(Bs(0))) % lit(P)).as("mh_0"),
        (1 until K).map(i =>
          min((col("h") * lit(As(i)) + lit(Bs(i))) % lit(P)).as(s"mh_$i")): _*)

  def ddMinhash(spark: SparkSession, sfDir: String): DataFrame =
    signature(spark, sfDir).orderBy(col("doc_id"))

  /** Oracle CTE: doc_id, shingle list `s`, shingle-hash list `hs`. */
  private lazy val shingleCteSql: String = s"""WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(list_transform(range(1, len(t) - 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
  FROM toks
), hashed AS (
  SELECT doc_id, s, list_transform(s, x -> ${md5ModSql("x")}) AS hs FROM sh
)"""

  private def minhashColsSql: Seq[String] = minhashColsSqlOf("hs")

  /** The K min-hash formulas over ANY hash-list column — ONE copy of
    * the (h·a + b) mod P arithmetic, shared by the word-shingle family
    * (`hs`) and the char-gram family's capped-LSH oracle (`g`).
    */
  private def minhashColsSqlOf(lst: String): Seq[String] =
    (0 until K).map(i =>
      s"list_min(list_transform($lst, h -> ((h * ${As(i)}) + ${Bs(i)}) % $P))")

  lazy val ddMinhashSql: String = shingleCteSql + s"""
SELECT doc_id,
  ${minhashColsSql.zipWithIndex.map { case (e, i) => s"$e AS mh_$i" }.mkString(",\n  ")}
FROM hashed WHERE len(s) > 0 ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // dd_minhash_lsh — banded LSH candidates + exact Jaccard verify
  // ------------------------------------------------------------------

  /** Round-half-up boundary of [[MinhashJaccardMin]] (see
    * [[NgramJaccardBoundary]] for the construction).
    */
  val MinhashJaccardBoundary: Double =
    (MinhashJaccardMin * 1e7 - 5).toLong / 1e7

  /** (doc_id, band, key) rows — band key = "_"-joined [[R]]-row slice
    * of the signature. ONE copy, shared by the self-join and the
    * incremental batch-vs-corpus join.
    */
  private def bandRows(sig: DataFrame): DataFrame =
    bandRowsCfg(sig, Bands, R)

  /** [[bandRows]] for any (bands × rows) division of the K minhashes
    * — the production config and the tuning sweep share one banding
    * definition.
    */
  private def bandRowsCfg(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
    require(bands * rows <= K, s"$bands bands x $rows rows exceeds K=$K")
    val bandKeys = (0 until bands).map(b =>
      concat_ws("_", (0 until rows).map(r =>
        col(s"mh_${b * rows + r}").cast("string")): _*))
    sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
  }

  /** Sorted distinct shingle-hash sets for exact-Jaccard verification —
    * one custom-expression eval per doc (DedupSpec pins it to the
    * declarative sort_array(array_distinct(transform(...))) twin).
    */
  private def hashSets(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.WordShingleHashSet.hs(lower(col("text"))).as("hs"))
  }

  def ddMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    ddMinhashLshCfg(spark, sfDir, Bands, R)

  /** [[ddMinhashLsh]] at ANY (bands × rows) division of the K
    * minhashes — the ScaleSoak entry point for the banding-
    * granularity rule: at fixed K the selectivity dial is the band-
    * KEY length (rows per band — longer keys collide less, so
    * candidate volume tracks true near-dups instead of corpus
    * density); the full production rule additionally grows K itself
    * so bands can grow with the corpus at held recall. Timing-only by
    * design: fewer/longer bands trade recall, and that trade is
    * measured by dd_lsh_tuning — the soak measures the cost side.
    */
  private[graft] def ddMinhashLshCfg(spark: SparkSession, sfDir: String,
      nBands: Int, nRows: Int, maxBucket: Option[Int] = None): DataFrame = {
    val base = hashSets(spark, sfDir)
    // cached: both candidate self-join branches would rerun the full
    // signature pass; the cached band table is 4 short rows per doc
    // (same profitable shape as ddSimhashPairs' cache)
    val bandsAll = bandRowsCfg(signature(spark, sfDir), nBands, nRows)
    val bands = (maxBucket match {
      case Some(cap) =>
        // bucket-size guard: band keys held by more than `cap` docs
        // are dropped BEFORE the self-join — the B² within-bucket
        // pair cost is capped at cap·corpus (see ddMinhashLshCapped).
        // bandsAll is cached HERE because the guard consumes it twice
        // (bucket census + guard join) — without this the signature
        // pass runs twice before the outer cache even materializes
        val bandsAllC = bandsAll.cache()
        val kept = bandsAllC.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= cap)
          .select(col("band"), col("key"))
        bandsAllC.join(kept, Seq("band", "key"))
      case None => bandsAll
    }).cache()
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = base.select(col("doc_id").as("doc_a"), col("hs").as("ha"))
    val sb = base.select(col("doc_id").as("doc_b"), col("hs").as("hb"))
    val j = graft.functions.SortedJaccardGE
      .jaccardGE(col("ha"), col("hb"), MinhashJaccardBoundary)
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), j.as("j"))
      .filter(col("j").isNotNull)
      .select(col("doc_a"), col("doc_b"), r6(col("j")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared oracle CTE chain ending in `bands(doc_id, band, key)` —
    * consumed by the self-join (dd_minhash_lsh/dd_clusters) and the
    * asymmetric batch-vs-corpus join (dd_incremental); ONE copy.
    */
  private lazy val sigBandsCteSql: String = {
    val mhCols = minhashColsSql.zipWithIndex
      .map { case (e, i) => s"$e AS mh_$i" }.mkString(",\n    ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until R).map(r => s"CAST(mh_${b * R + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    shingleCteSql + s""", sig AS (
  SELECT doc_id, s,
    $mhCols
  FROM hashed WHERE len(s) > 0
), bands AS (
  $bandSelects
)"""
  }

  /** Unordered SELECT body of the LSH-pairs oracle — shared verbatim
    * by [[ddMinhashLshSql]] (which appends the presentation ORDER BY)
    * and [[ddClustersSql]] (which embeds it as a CTE), so the two can
    * never drift.
    */
  /** Candidate self-join over any (doc_id, band, key) relation + the
    * exact-Jaccard verify tail — ONE copy (the fragment rule), shared
    * by the uncapped body and the bucket-capped variant.
    */
  private def lshCandsVerifySql(rel: String): String = s"""cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM $rel a JOIN $rel b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), hsets AS (
  SELECT doc_id, list_distinct(hs) AS hd FROM hashed
), verified AS (
  SELECT c.doc_a, c.doc_b,
    len(list_filter(x.hd, g -> list_contains(y.hd, g))) AS i,
    len(x.hd) AS na, len(y.hd) AS nb
  FROM cands c
  JOIN hsets x ON x.doc_id = c.doc_a
  JOIN hsets y ON y.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
  ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} AS jaccard
FROM verified
WHERE ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} >= $MinhashJaccardMin"""

  private lazy val ddMinhashLshBodySql: String =
    sigBandsCteSql + ", " + lshCandsVerifySql("bands")

  lazy val ddMinhashLshSql: String =
    ddMinhashLshBodySql + "\nORDER BY doc_a, doc_b"

  // ------------------------------------------------------------------
  // dd_minhash_lsh_capped — the bucket-size guard, its own oracle
  // ------------------------------------------------------------------

  /** Per-(band, key) bucket cap. Production dial: a bucket of B docs
    * costs B² candidate pairs, so uncapped mega-buckets (boilerplate,
    * spam, template families) dominate the verify join — the round-13
    * 100× soak measured exactly that failure locally (the LSH verify
    * spill exceeded the box's disk once shift-clique families
    * multiplied bucket sizes). The cap bounds within-bucket pair cost
    * at cap·corpus. 64 is far above any organic fixture bucket (≤ 3
    * docs at sf0.01) and far below the pathological ones the guard
    * exists for.
    */
  val LshMaxBucket = 64

  /** [[ddMinhashLsh]] with the bucket-size guard a production dedup
    * deploys: band keys held by more than [[LshMaxBucket]] docs are
    * dropped BEFORE the candidate self-join. Dropping a mega-bucket
    * is a SEMANTIC choice (its members lose that band's votes — a
    * template family of 10k identical pages is deliberately not
    * pair-enumerated; exact-hash dedup upstream owns byte-identical
    * spam), so the guard ships as its OWN oracle-hashed query rather
    * than silently inside dd_minhash_lsh: both engines size buckets,
    * drop the heavy keys, and verify the surviving candidates with
    * the SAME shared SQL tail. The spec drives the guard on a
    * synthetic mega-family corpus where the fixture cannot (organic
    * fixture buckets never exceed 3 docs): the giant family's pairs
    * vanish, unrelated small families survive untouched.
    *
    * Scale shape: the bucket census is one partial-agg'd pass over
    * the band table (key-bounded output), and the guard join prunes
    * before the quadratic step — the plan a 100 TB dedup actually
    * runs, now hash-verified.
    */
  def ddMinhashLshCapped(spark: SparkSession, sfDir: String): DataFrame =
    ddMinhashLshCfg(spark, sfDir, Bands, R, Some(LshMaxBucket))

  /** Unordered capped-LSH body — shared verbatim by
    * [[ddMinhashLshCappedSql]] (presentation ORDER BY) and
    * [[ddClustersCappedSql]] (embedded as the closure's pair CTE), the
    * same one-copy discipline as [[ddMinhashLshBodySql]].
    */
  private lazy val ddMinhashLshCappedBodySql: String =
    sigBandsCteSql + s""", bkeep AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING COUNT(*) <= $LshMaxBucket
), kept AS (
  SELECT b.doc_id, b.band, b.key FROM bands b
  JOIN bkeep s ON s.band = b.band AND s.key = b.key
), """ + lshCandsVerifySql("kept")

  lazy val ddMinhashLshCappedSql: String =
    ddMinhashLshCappedBodySql + "\nORDER BY doc_a, doc_b"

  // ------------------------------------------------------------------
  // dd_lsh_tuning — band/row sensitivity sweep for the LSH index
  // ------------------------------------------------------------------

  /** Candidate (bands × rows-per-band) divisions of the K=16
    * minhashes, restrictive → permissive.
    */
  val LshTuneConfigs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2))

  /** The knob-tuning readout for the MinHash LSH index: for each
    * (bands, rows) division of the signature, the candidate-pair
    * volume the banding generates, how many candidates verify at the
    * production Jaccard threshold (`n_true`), the resulting precision,
    * and recall against the most permissive config — the table one
    * reads before picking the banding for a corpus (more bands = more
    * candidates = higher recall, lower precision, bigger join).
    *
    * Every config reuses ONE cached signature table and ONE banding
    * definition ([[bandRowsCfg]]); verification reuses the
    * production [[graft.functions.SortedJaccardGE]] single-pass
    * threshold merge. Scale: each config's join is the banded
    * equi-join (never all-pairs); the sweep's cost is the union of
    * its candidate sets.
    */
  def ddLshTuning(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = signature(spark, sfDir).cache()
    val base = hashSets(spark, sfDir).cache()
    val sa = base.select(col("doc_id").as("doc_a"), col("hs").as("ha"))
    val sb = base.select(col("doc_id").as("doc_b"), col("hs").as("hb"))
    def stats(bands: Int, rows: Int): DataFrame = {
      val br = bandRowsCfg(sig, bands, rows)
      val cands = br.as("a").join(br.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val j = graft.functions.SortedJaccardGE
        .jaccardGE(col("ha"), col("hb"), MinhashJaccardBoundary)
      cands.join(sa, "doc_a").join(sb, "doc_b")
        .select(j.as("j"))
        .agg(count(lit(1)).as("n_candidates"),
          coalesce(sum(when(col("j").isNotNull, 1L).otherwise(0L)), lit(0L))
            .as("n_true"))
        .select(lit(bands).as("bands"), lit(rows).as("rows_per_band"),
          col("n_candidates"), col("n_true"))
    }
    val all = LshTuneConfigs.map { case (b, r) => stats(b, r) }
      .reduce(_.unionByName(_)).cache()
    val widest = all
      .filter(col("bands") === LshTuneConfigs.last._1)
      .select(col("n_true").as("t_widest"))
    all.crossJoin(broadcast(widest))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_true"),
        when(col("n_candidates") > 0,
          r6(col("n_true").cast("double") / col("n_candidates")))
          .as("precision_est"),
        when(col("t_widest") > 0,
          r6(col("n_true").cast("double") / col("t_widest")))
          .as("recall_vs_widest"))
      .orderBy(col("bands"))
  }

  lazy val ddLshTuningSql: String = {
    val jexpr = "(CAST(i2 AS DOUBLE) / (na + nb2 - i2))"
    val cfgCtes = LshTuneConfigs.zipWithIndex.map { case ((nb, nr), i) =>
      val bandSelects = (0 until nb).map { b =>
        val key = (0 until nr).map(r => s"CAST(mh_${b * nr + r} AS VARCHAR)")
          .mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $key AS key FROM sig"
      }.mkString("\n  UNION ALL\n  ")
      s"""bands_t$i AS (
  $bandSelects
), cands_t$i AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_t$i a JOIN bands_t$i b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), stat_t$i AS (
  SELECT $nb AS bands, $nr AS rows_per_band,
    COUNT(*) AS n_candidates,
    CAST(COALESCE(SUM(CASE WHEN ${r6Sql(jexpr)} >= $MinhashJaccardMin
      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_true
  FROM (
    SELECT len(list_filter(x.hd, g -> list_contains(y.hd, g))) AS i2,
      len(x.hd) AS na, len(y.hd) AS nb2
    FROM cands_t$i c
    JOIN hsets x ON x.doc_id = c.doc_a
    JOIN hsets y ON y.doc_id = c.doc_b
  )
)"""
    }
    val unionStats = LshTuneConfigs.indices
      .map(i => s"SELECT * FROM stat_t$i").mkString(" UNION ALL ")
    sigBandsCteSql + s""", hsets AS (
  SELECT doc_id, list_distinct(hs) AS hd FROM hashed
), ${cfgCtes.mkString(", ")}
SELECT s.bands, s.rows_per_band, s.n_candidates, s.n_true,
  CASE WHEN s.n_candidates > 0 THEN
    ${r6Sql("(CAST(s.n_true AS DOUBLE) / s.n_candidates)")}
  END AS precision_est,
  CASE WHEN w.n_true > 0 THEN
    ${r6Sql("(CAST(s.n_true AS DOUBLE) / w.n_true)")}
  END AS recall_vs_widest
FROM ($unionStats) s
CROSS JOIN stat_t${LshTuneConfigs.size - 1} w
ORDER BY s.bands"""
  }

  // ------------------------------------------------------------------
  // dd_incremental — new-batch vs existing-corpus dedup (ingest mode)
  // ------------------------------------------------------------------

  /** Batch membership: doc_id ≡ [[BatchRem]] (mod [[BatchMod]]) stands
    * in for "the newly arrived ~10%"; in production the batch is its
    * own table and the corpus side is the warehouse.
    */
  val BatchMod = 10L
  val BatchRem = 7L

  /** The production shape of near-dup dedup: a NEW batch checked
    * against the EXISTING corpus only — batch×corpus via band
    * equi-join, never corpus×corpus (which a naive re-run of the
    * self-join pays on every ingest). Candidates are (new, corpus)
    * band collisions; only they pay the exact-Jaccard verify. At
    * 100 TB the corpus band table is precomputed and bucketed on
    * (band, key) at rest, so an ingest shuffles ONLY the batch side —
    * cost ∝ batch, not corpus.
    *
    * Emits one row per (new doc, matching corpus doc) at the
    * [[MinhashJaccardMin]] threshold — the evidence an ingest gate
    * acts on (drop, link, or version the newcomer).
    */
  def ddIncremental(spark: SparkSession, sfDir: String): DataFrame =
    ddIncrementalCfg(spark, sfDir, None)

  /** [[ddIncremental]] with the [[LshMaxBucket]] guard on the
    * CORPUS-side band index — the serving-system form of the cap: the
    * index a deployment materializes for ingest-time probing drops its
    * mega-buckets at build time (a key held by > cap corpus docs would
    * hand EVERY probing doc that hits it the whole bucket as
    * candidates — per-probe cost unbounded in corpus skew), so probe
    * cost is bounded at bands·cap candidates per new doc. The census
    * counts CORPUS docs only: batch docs never enlarge a bucket they
    * probe.
    */
  private[graft] def ddIncrementalCfg(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    // `%`, not pmod: DuckDB's % keeps the sign, so pmod would diverge
    // on negative ids (cpDecontam set the precedent)
    val isBatch = (id: Column) => (id % BatchMod) === BatchRem
    val bands = bandRows(signature(spark, sfDir)).cache()
    val corpusAll = bands.filter(!isBatch(col("doc_id")))
    val corpus = maxBucket match {
      case Some(cap) =>
        corpusAll.join(corpusAll.groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") <= cap)
            .select(col("band"), col("key")),
          Seq("band", "key"))
      case None => corpusAll
    }
    val cands = bands.filter(isBatch(col("doc_id")))
      .select(col("band"), col("key"), col("doc_id").as("new_doc"))
      .join(corpus
        .select(col("band"), col("key"), col("doc_id").as("corpus_doc")),
        Seq("band", "key"))
      .select(col("new_doc"), col("corpus_doc"))
      .distinct()
    val base = hashSets(spark, sfDir)
    val j = graft.functions.SortedJaccardGE
      .jaccardGE(col("ha"), col("hb"), MinhashJaccardBoundary)
    cands
      .join(base.select(col("doc_id").as("new_doc"), col("hs").as("ha")),
        Seq("new_doc"))
      .join(base.select(col("doc_id").as("corpus_doc"), col("hs").as("hb")),
        Seq("corpus_doc"))
      .select(col("new_doc"), col("corpus_doc"), j.as("j"))
      .filter(col("j").isNotNull)
      .select(col("new_doc"), col("corpus_doc"), r6(col("j")).as("jaccard"))
      .orderBy(col("new_doc"), col("corpus_doc"))
  }

  /** Verify tail over ANY batch-vs-corpus candidate CTE — ONE copy,
    * shared by the uncapped and index-capped variants.
    */
  private def ddIncrementalSqlOf(candsSql: String): String =
    sigBandsCteSql + s""", $candsSql, hsets AS (
  SELECT doc_id, list_distinct(hs) AS hd FROM hashed
), verified AS (
  SELECT c.new_doc, c.corpus_doc,
    len(list_filter(x.hd, g -> list_contains(y.hd, g))) AS i,
    len(x.hd) AS na, len(y.hd) AS nb
  FROM cands c
  JOIN hsets x ON x.doc_id = c.new_doc
  JOIN hsets y ON y.doc_id = c.corpus_doc
)
SELECT new_doc, corpus_doc,
  ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} AS jaccard
FROM verified
WHERE ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} >= $MinhashJaccardMin
ORDER BY new_doc, corpus_doc"""

  lazy val ddIncrementalSql: String = ddIncrementalSqlOf(s"""cands AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id % $BatchMod = $BatchRem
    AND b.doc_id % $BatchMod <> $BatchRem
)""")

  /** The shipped index-capped ingest probe (see [[ddIncrementalCfg]]
    * for the serving-index semantics).
    */
  def ddIncrementalCapped(spark: SparkSession, sfDir: String): DataFrame =
    ddIncrementalCfg(spark, sfDir, Some(LshMaxBucket))

  lazy val ddIncrementalCappedSql: String = ddIncrementalSqlOf(s"""ckeep AS (
  SELECT band, key FROM bands
  WHERE doc_id % $BatchMod <> $BatchRem
  GROUP BY band, key HAVING COUNT(*) <= $LshMaxBucket
), cands AS (
  SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS corpus_doc
  FROM bands a
  JOIN ckeep s ON s.band = a.band AND s.key = a.key
  JOIN bands b ON b.band = a.band AND b.key = a.key
  WHERE a.doc_id % $BatchMod = $BatchRem
    AND b.doc_id % $BatchMod <> $BatchRem
)""")

  /** The materialized serving index for ingest-time near-dup probing —
    * (band, key, doc_id) over the dir's documents table, optionally
    * bucket-capped at BUILD time (the [[ddIncrementalCfg]] semantics:
    * the census counts the INDEXED corpus only). Consumed by
    * [[graft.streaming.StreamingStats.nearDupIngestStream]] as its
    * stream-static join side; the dir IS the corpus there.
    */
  private[graft] def servingBandIndex(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    val b = bandRows(signature(spark, sfDir))
    maxBucket match {
      case Some(cap) =>
        b.join(b.groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") <= cap)
            .select(col("band"), col("key")),
          Seq("band", "key"))
      case None => b
    }
  }

  /** The corpus verify side (doc_id, hs) for the streaming probe. */
  private[graft] def corpusHashSets(spark: SparkSession,
      sfDir: String): DataFrame =
    hashSets(spark, sfDir)

  // ------------------------------------------------------------------
  // dd_clusters — duplicate clusters (connected components over pairs)
  // ------------------------------------------------------------------

  /** Round cap for the star loop of [[connectedComponents]] — a
    * safety bound, not a tuning knob: the loop converges in O(log n)
    * rounds on any graph (9 on a 200-node path).
    */
  val ClusterMaxIters = 25

  /** The step a pipeline runs AFTER pair generation: group near-dup
    * pairs into clusters and elect one survivor per cluster
    * (`cluster_rep` = min doc_id, `is_survivor` marks the kept doc),
    * through the one CC operator [[clusters]].
    */
  def ddClusters(spark: SparkSession, sfDir: String): DataFrame =
    ddClustersCfg(spark, sfDir, Bands, R)

  /** The one connected-components operator: `(doc_id, cluster_rep,
    * cluster_size, is_survivor)` for every node of the one-column
    * `nodes` frame, where `cluster_rep` is the min id of the node's
    * component under the `pairs` edges (two id columns, either
    * direction), ordered by `doc_id`. Every cluster query of the
    * dedup, graph, media and embedding families ends here;
    * `driverBytes` is [[connectedComponents]]' bound.
    */
  def clusters(nodes: DataFrame, pairs: DataFrame,
      driverBytes: Option[Long] = None): DataFrame = {
    val (labels, _) = connectedComponents(nodes, pairs, driverBytes)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster_rep"),
        col("cluster_size"),
        (col("doc_id") === col("lbl")).as("is_survivor"))
      .orderBy(col("doc_id"))
  }

  /** Connected-component labels: alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14 — public literature), finished on the driver when the
    * edge set is small. The star alternation keeps every intermediate
    * edge set bounded by the input edge count and converges in
    * O(log n) rounds on ANY graph, long chains included.
    *
    * Per round (edges kept directed larger→smaller):
    *  - large-star: every node's strictly-larger neighbors re-point at
    *    its neighborhood min (one symmetric groupBy + equi-join);
    *  - small-star: every node's smaller neighbors and the node itself
    *    re-point at its min smaller-neighbor (one groupBy + join).
    * Fixpoint = a star forest, each component collapsed onto its min
    * node; labels read directly off the final edges. Convergence is
    * an exact set-equality probe (a count, then an anti-join limit-1
    * count).
    *
    * Driver finish: when the distinct edges take at most `driverBytes`
    * (`edges.schema.defaultSize` per edge; default: the session's
    * `spark.sql.autoBroadcastJoinThreshold`, Spark's own bound for a
    * relation the driver may hold; `0` or `-1` keeps the star rounds),
    * one collect hands them to a union-find that builds the same star
    * forest as a local relation, in zero rounds.
    *
    * Returns (labels `doc_id → lbl` covering every node, rounds run).
    * `PropertySpec` pins both paths to union-find ground truth on
    * random graphs, cliques, and a 200-node path (which the star
    * rounds collapse in 9; label propagation would need ~200).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      driverBytes: Option[Long] = None,
      maxIters: Int = ClusterMaxIters): (DataFrame, Int) = {
    var edges = pairs.toDF("src", "dst")
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    // one count materializes the lazy checkpoint AND carries the edge
    // cardinality the convergence test needs — the eager-checkpoint +
    // isEmpty pair was two jobs for the same information
    var nEdges = edges.count()
    var rounds = 0
    var converged = nEdges == 0L
    val bound = driverBytes.getOrElse(edges.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold)
    if (!converged && nEdges * edges.schema.defaultSize <= bound) {
      edges = starForest(edges)
      converged = true
    }
    while (!converged && rounds < maxIters) {
      // large-star over the symmetric view: m = min(N(u) ∪ {u});
      // every neighbor v > u re-points at m (m ≤ u < v keeps the
      // larger→smaller invariant)
      val sym = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("c"), least(col("mn"), col("u")).as("m"))
      val ls = sym.join(mins, col("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the directed edges: m = min smaller-neighbor;
      // each smaller neighbor and u itself re-point at m
      val mins2 = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val withM = ls.join(mins2, "u")
      val ss = withM.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(withM.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
        .localCheckpoint(false)
      // convergence = set equality, tested the cheap sound way: both
      // relations are DISTINCT sets, so |ss| = |edges| plus ss ⊆ edges
      // (one anti-join) implies ss = edges — this halves the old
      // two-sided exceptAll cost, the count doubles as the lazy
      // checkpoint's materializing action, and the && SHORT-CIRCUIT
      // means non-final rounds (counts differ) never pay the subset
      // join at all (a round-18 A/B that folded both probes into one
      // always-on join measured WORSE for exactly that reason —
      // 2.69 → 3.38 s on gr_components)
      val nSs = ss.count()
      val same = nSs == nEdges && ss.exceptAll(edges).isEmpty
      edges = ss
      nEdges = nSs
      converged = same
      rounds += 1
    }
    // at fixpoint every non-center points straight at its component
    // min; isolated nodes label themselves
    val labels = nodes.toDF("doc_id")
      .join(edges.select(col("u").as("doc_id"), col("v").as("ctr")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ctr"), col("doc_id")).as("lbl"))
    (labels, rounds)
  }

  /** The star loop's fixpoint for the collected `edges` (u > v): union-
    * find rooted at each component's min id, then one `u → min` row
    * per non-min node, as a local relation with `edges.schema`. The
    * ids stay the collected objects, so their types are unchanged.
    */
  private def starForest(edges: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.contains(r)) r = parent(r)
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    def id(x: Any): Long = x.asInstanceOf[Number].longValue
    edges.collect().foreach { e =>
      val (a, b) = (find(e.get(0)), find(e.get(1)))
      if (a != b) { if (id(a) < id(b)) parent(b) = a else parent(a) = b }
    }
    // every key is a non-root: union only ever re-points a root
    val star = parent.keys.toSeq.map(u => Row(u, find(u)))
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(star: _*), edges.schema)
  }

  /** [[ddClusters]] computed by the star rounds alone (a zero-byte
    * driver bound) — identical output (same oracle SQL). Ships as its
    * own query so the distributed path is hash-verified end-to-end,
    * not just property-tested.
    */
  def ddClustersStar(spark: SparkSession, sfDir: String): DataFrame =
    ddClustersCfg(spark, sfDir, Bands, R, driverBytes = Some(0L))

  /** [[ddClusters]] on the bucket-capped pair stream — the composition
    * tier a 100 TB dedup actually deploys. The round-13 100× soak
    * measured the uncapped pair stream dying (verify-join spill) on
    * clique-heavy corpora, and [[ddMinhashLshCapped]] hash-proved the
    * guard standalone; this query threads the SAME guard through the
    * clustering closure, so "group near-dups and elect survivors"
    * runs end-to-end on the bounded stream. Semantics (own oracle, not
    * silently swapped into dd_clusters): a template mega-family whose
    * band buckets exceed [[LshMaxBucket]] contributes no edges — its
    * members cluster as singletons here (exact-hash dedup upstream
    * owns byte-identical spam); organic families are untouched, and
    * because capped pairs ⊆ uncapped pairs, the capped clustering
    * always REFINES the uncapped one (DedupSpec pins both properties
    * on the synthetic mega-family corpus the fixture cannot produce).
    */
  def ddClustersCapped(spark: SparkSession, sfDir: String): DataFrame =
    ddClustersCfg(spark, sfDir, Bands, R, Some(LshMaxBucket))

  /** [[ddClusters]] at ANY banding dial and bucket cap —
    * ScaleSoak's handle for measuring the LSH granularity rule (see
    * [[ddMinhashLshCfg]]); the shipped queries pin (Bands × R,
    * uncapped) and (Bands × R, [[LshMaxBucket]]) for the oracle
    * proofs.
    */
  private[graft] def ddClustersCfg(spark: SparkSession, sfDir: String,
      nBands: Int, nRows: Int, maxBucket: Option[Int] = None,
      driverBytes: Option[Long] = None): DataFrame = {
    val pairs = ddMinhashLshCfg(spark, sfDir, nBands, nRows, maxBucket)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    clusters(docs(spark, sfDir).select(col("doc_id")), pairs, driverBytes)
  }

  /** The ONE recursive-CTE min-label closure every CC oracle embeds:
    * transitive closure of "label reachable along an edge", then MIN
    * per doc — the fixpoint [[clusters]] converges to. `lshBody`
    * selects the (doc_a, doc_b) pairs, `prefixCtes` holds any CTEs
    * they read and `nodes` is the relation whose `doc_id` lists every
    * labelled node. Consumers: dd_clusters (uncapped, star, capped),
    * the three dd_semdedup forms, gr_components, mm_clusters
    * (uncapped, capped) and mm_dedup_impact, and the three
    * sim_semantic_clusters forms. One copy: the fixpoint semantics
    * cannot drift between pair sources.
    *
    * `lsh` and `edges` are `AS MATERIALIZED`: DuckDB inlines a plain
    * CTE at every reference, so each recursive step would re-derive
    * the whole pair stream.
    */
  private[graft] def ddClustersClosureSql(lshBody: String,
      prefixCtes: String = "", nodes: String = "documents"): String =
    s"""WITH RECURSIVE ${prefixCtes}lsh AS MATERIALIZED (
$lshBody
), edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM lsh
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM lsh
), reach(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM $nodes
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id
), labels AS (
  SELECT doc_id, MIN(lbl) AS lbl FROM reach GROUP BY doc_id
), sizes AS (
  SELECT lbl, COUNT(*) AS cluster_size FROM labels GROUP BY lbl
)
SELECT l.doc_id, l.lbl AS cluster_rep, s.cluster_size,
  l.doc_id = l.lbl AS is_survivor
FROM labels l JOIN sizes s ON s.lbl = l.lbl
ORDER BY l.doc_id"""

  lazy val ddClustersSql: String = ddClustersClosureSql(ddMinhashLshBodySql)

  lazy val ddClustersCappedSql: String =
    ddClustersClosureSql(ddMinhashLshCappedBodySql)

  // ------------------------------------------------------------------
  // dd_simhash — per-doc 60-bit SimHash signature
  // ------------------------------------------------------------------

  /** Map-only signatures via the custom [[graft.functions.SimHash60]]
    * expression: one eval per document, ZERO shuffle — the declarative
    * twin below is a Generate + 60-aggregate groupBy that shuffles the
    * whole exploded token stream (measured 1.32 s → 0.52 s here and
    * 1.86 s → 0.86 s for dd_simhash_pairs at sf0.1; at 100 TB the
    * saving is an entire shuffle stage). DedupSpec pins sig equality.
    */
  def ddSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir).select(
      col("doc_id"),
      size(tokens(lower(col("text")))).cast("int").as("n_tokens"),
      graft.functions.SimHash60.sig(lower(col("text"))).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** The declarative formulation [[ddSimhash]]'s expression is pinned
    * against (spec-only — the exact shape the oracle SQL evaluates).
    */
  private[graft] def simhashDeclarative(spark: SparkSession,
      sfDir: String): DataFrame = {
    val hs = transform(tokens(lower(col("text"))), t => CrossHash.md5Long(t))
    val exploded = docs(spark, sfDir)
      .select(col("doc_id"), explode(hs).as("h"))
    val bitSums = (0 until SimhashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$j"))
    val agged = exploded.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_tokens"), bitSums: _*)
    val sim = (0 until SimhashBits)
      .map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    agged.select(col("doc_id"), col("n_tokens"), sim.as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** Oracle CTE chain ending in `sig(doc_id, n_tokens, simhash)`. */
  private lazy val simhashCteSql: String = {
    val bitSums = (0 until SimhashBits).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n    ")
    val sim = (0 until SimhashBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH t AS (
  SELECT doc_id,
    unnest(list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),
      x -> ${md5LongSql("x")})) AS h
  FROM documents
), b AS (
  SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
    $bitSums
  FROM t GROUP BY doc_id
), sig AS (
  SELECT doc_id, n_tokens, $sim AS simhash FROM b
)"""
  }

  lazy val ddSimhashSql: String = simhashCteSql + """
SELECT doc_id, n_tokens, simhash FROM sig ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // dd_simhash_pairs — near-dup pairs by hamming ≤ 3 (chunk banding)
  // ------------------------------------------------------------------

  def ddSimhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // cached: both chunk-band self-join branches would otherwise rerun
    // the full explode + 60-bit-sum signature pass; the cached table is
    // 2 longs per doc while the recompute is ~50 rows × 60 aggregates
    // per doc (cheap cache, expensive lineage — the profitable case,
    // unlike the big-array gram cache that tested net-neutral)
    val sig = ddSimhash(spark, sfDir).select(col("doc_id"), col("simhash"))
      .cache()
    // 4 chunks of 15 bits; hamming ≤ 3 ⇒ at least one chunk equal
    val chunks = (0 until 4).map(c =>
      shiftright(col("simhash"), c * 15).bitwiseAND(lit(0x7FFFL)))
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(chunks: _*)).as(Seq("chunk", "val")))
    val ham = bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
    banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.val") === col("b.val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        ham.as("hamming"))
      // filter BEFORE distinct: duplicates of a pair share one hamming
      // value, so the order is semantics-free but shrinks the distinct's
      // shuffle by the rejection rate
      .filter(col("hamming") <= HammingMax)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  lazy val ddSimhashPairsSql: String = {
    val chunkSelects = (0 until 4).map(c =>
      s"SELECT doc_id, simhash, $c AS chunk, (simhash >> ${c * 15}) & 32767 AS val FROM sig")
      .mkString("\n  UNION ALL\n  ")
    simhashCteSql + s""", banded AS (
  $chunkSelects
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM banded a JOIN banded b
    ON a.chunk = b.chunk AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs
WHERE hamming <= $HammingMax
ORDER BY doc_a, doc_b"""
  }

  // ------------------------------------------------------------------
  // dd_ngram_jaccard — char-5-gram Jaccard with length-bucket blocking
  // ------------------------------------------------------------------

  /** Length-bucket width: pairs may differ by at most BucketW-1 chars,
    * found via neighbor-bucket explode (an equi-join — the scale-safe
    * shape of a |Δlen|<w theta join). 16 keeps the candidate fraction
    * ~3% of the pair space while covering real near-dups, whose edit
    * distance (hence length delta) is small by definition of the op.
    */
  val BucketW = 16

  /** Declarative twin of [[graft.functions.CharGramHashSet]] (kept for
    * the property test that pins the custom expression to the built-in
    * formulation): distinct character 5-grams as sorted md5-derived
    * longs. The query path uses the custom expression — per-element
    * lambda interpretation made this form ~10 s of the sf0.1 bench.
    */
  def charGramHashesDeclarative(c: Column): Column =
    when(length(c) >= 5,
      sort_array(array_distinct(transform(sequence(lit(1), length(c) - 4),
        i => CrossHash.md5Mod(c.substr(i, lit(5)))))))
      .otherwise(array().cast("array<bigint>"))

  /** Round-half-up boundary of [[NgramJaccardMin]]: an unrounded j at
    * or above this rounds to ≥ 0.6 — passing it as the fused
    * expression's threshold makes "null below threshold" EXACTLY the
    * oracle's `round(j, 6) >= 0.6` filter.
    */
  val NgramJaccardBoundary: Double =
    (NgramJaccardMin * 1e7 - 5).toLong / 1e7

  def ddNgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    // cached: BOTH join sides consume the gram-set frame, and the
    // per-char md5 gram hashing is the query's dominant map cost —
    // uncached it runs once per side (the ta_vocab_overlap lesson;
    // round-18)
    val base = docs(spark, sfDir)
      .select(
        col("doc_id"), col("n_chars"),
        floor(col("n_chars") / BucketW).as("bkt"),
        graft.functions.CharGramHashSet.gramHashes(lower(col("text"))).as("g"))
      .cache()
    val left = base.select(col("doc_id").as("doc_a"),
      col("n_chars").as("len_a"), col("bkt"), col("g").as("ga"))
    val right = base.select(col("doc_id").as("doc_b"),
        col("n_chars").as("len_b"), col("g").as("gb"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"))
    // fused threshold-Jaccard: one merge scan per pair with integer
    // early exit (see SortedJaccardGE — the declarative form evaluated
    // the intersection 2-3x per pair)
    val j = graft.functions.SortedJaccardGE
      .jaccardGE(col("ga"), col("gb"), NgramJaccardBoundary)
    left.join(right, Seq("bkt"))
      .filter(col("doc_a") < col("doc_b") &&
        abs(col("len_a") - col("len_b")) < BucketW)
      .select(col("doc_a"), col("doc_b"), j.as("j"))
      .filter(col("j").isNotNull)
      .select(col("doc_a"), col("doc_b"), r6(col("j")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle computes the same exact Jaccard relationally (unnest + gram
    * join) — a deliberately different plan than Spark's array-intersect,
    * which is what makes the cross-check meaningful.
    */
  lazy val ddNgramJaccardSql: String = s"""WITH base AS (
  SELECT doc_id, n_chars,
    list_distinct(list_transform(range(1, length(lower(text)) - 3),
      i -> ${md5ModSql("substr(lower(text), i, 5)")})) AS g
  FROM documents
), grams AS (
  SELECT doc_id, n_chars, unnest(g) AS gr FROM base
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM grams a JOIN grams b
    ON a.gr = b.gr AND a.doc_id < b.doc_id
    AND abs(a.n_chars - b.n_chars) < $BucketW
  GROUP BY a.doc_id, b.doc_id
), sized AS (
  SELECT i.doc_a, i.doc_b, i.i, len(x.g) AS na, len(y.g) AS nb
  FROM inter i
  JOIN base x ON x.doc_id = i.doc_a
  JOIN base y ON y.doc_id = i.doc_b
)
SELECT doc_a, doc_b,
  ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} AS jaccard
FROM sized
WHERE ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} >= $NgramJaccardMin
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------------------
  // dd_ngram_jaccard_lsh — MinHash-banded candidates, same exact verify
  // ------------------------------------------------------------------

  /** Banding of the char-gram MinHash signature for
    * [[ddNgramJaccardLsh]]'s pre-blocker: 8 bands × 2 rows of the
    * K=16 minima. The S-curve at the production threshold is
    * P(candidate | j) = 1 − (1 − j²)⁸ — 0.97 at j = 0.6 and > 0.9999
    * at j ≥ 0.8 (the fixture's true pairs all sit ≥ 0.83), while a
    * blunter 4×4 ([[Bands]]×[[R]]) would pass only 0.43 at the
    * threshold. Recall dictates 8×2; SELECTIVITY comes from the
    * operator's own |Δlen| < [[BucketW]] contract applied INSIDE the
    * band join: the fixture's ~2k-string char-gram vocabulary gives
    * unrelated docs enough background overlap that banding alone
    * admits ~28% of the pair space (measured, sf0.1), but only the
    * length-compatible ~3% of those survive the integer guard —
    * 3.53M → ~106k candidates, each then paying the exact merge.
    */
  val NgramLshBands = 8
  val NgramLshRows = 2

  /** The 100 TB form of [[ddNgramJaccard]]: IDENTICAL output (same
    * oracle SQL — the [[graft.operators.Corpus.cpDecontamBloom]]
    * move), but candidate pairs come from a banded MinHash equi-join
    * over the SAME char-5-gram hash sets instead of the length-bucket
    * neighbor explode, and only banded collisions pay the exact
    * [[graft.functions.SortedJaccardGE]] merge (plus the twin's
    * |Δlen| < [[BucketW]] guard, evaluated as a cheap integer filter
    * BEFORE the merge). The length-bucket blocker is exact but its
    * candidate volume is a constant fraction of the PAIR SPACE (~3%
    * of n²/2); the banded join's volume rides the real near-dup rate
    * — the property that survives a 1000× corpus. Both the signature
    * ([[graft.functions.MinHash16]], map-only) and the verifier are
    * the production custom expressions; candidates are distinct by
    * construction of the band self-join + distinct, so each surviving
    * pair is emitted once with the bitwise-identical jaccard.
    */
  def ddNgramJaccardLsh(spark: SparkSession, sfDir: String): DataFrame =
    ddNgramJaccardLshCfg(spark, sfDir, None)

  /** [[ddNgramJaccardLsh]] with the [[LshMaxBucket]] bucket-size guard
    * available on ITS band stream — the stream where the guard matters
    * most: the char-5-gram vocabulary is tiny (~2k strings at sf0.1),
    * so band keys collide on corpus density, not true similarity —
    * measured at sf0.1, buckets run to 1381 docs and the >64 buckets
    * hold 95.6% of all within-bucket candidate pairs (3.91M of 4.09M);
    * this is the exact mechanism that spilled the round-13 100× soak.
    * The capped variant drops those buckets before the self-join; the
    * 8-band redundancy keeps organic recall (at sf0.01 all 25 true
    * pairs survive while candidates drop 2533 → 1429, measured).
    *
    * `nBands`×`nRows` is the BANDING DIAL over the fixed K=16
    * signature — the density lever for growing corpora: longer band
    * keys (8×2 → 4×4 → 2×8) collide on true similarity instead of
    * char-gram corpus density (P(candidate|j) = 1−(1−j^rows)^bands:
    * at j=0.6 the pass rate falls 0.97 → 0.43 → 0.03 across the dial;
    * at the fixture's true-pair regime j = 0.83 it is 1.00 → 0.92 →
    * 0.40 — the 2×8 stop buys density immunity with a REAL recall
    * cost, which is why the dial is a measured per-corpus choice, not
    * a default).
    * Longer keys REFINE shorter ones at the same row order (a 4-row
    * match is two adjacent 2-row matches), so uncapped candidates are
    * nested along the dial — DedupSpec pins the chain. ScaleSoak's
    * dd_ngram_lsh_capped_b4/b2w soak points measure the dial at
    * 10–100× against the shipped 8×2.
    */
  private[graft] def ddNgramJaccardLshCfg(spark: SparkSession,
      sfDir: String, maxBucket: Option[Int],
      nBands: Int = NgramLshBands, nRows: Int = NgramLshRows): DataFrame = {
    require(nBands * nRows <= K,
      s"banding $nBands x $nRows exceeds the K=$K signature")
    // gram-less docs (< 5 chars ⇔ empty gram set) drop on the cheap
    // length predicate BEFORE the hash-set expression (the signature()
    // pushdown note); they cannot appear in the exact twin's output.
    // cached: the gram-set frame feeds the signature pass AND both
    // verify-join sides (3 consumers; 5 gram-hash evaluations once
    // the band self-join doubles the signature subtree) — the
    // ta_vocab_overlap lesson applied to the dominant map cost
    // (round-18)
    val base = docs(spark, sfDir)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), col("n_chars"),
        graft.functions.CharGramHashSet.gramHashes(lower(col("text")))
          .as("g"))
      .cache()
    val sig = base
      .select(col("doc_id"), col("n_chars"),
        graft.functions.MinHash16.mins(col("g")).as("mh"))
      .select(col("doc_id") +: col("n_chars") +:
        (0 until K).map(i => element_at(col("mh"), i + 1).as(s"mh_$i")): _*)
    // band rows carry the doc length so the |Δlen| contract prunes
    // INSIDE the equi-join — band equality finds the collision, the
    // integer guard kills the background-similarity bulk before the
    // distinct and the gram-array joins ever see it
    val bandKeys = (0 until nBands).map(b =>
      concat_ws("_", (0 until nRows).map(r =>
        col(s"mh_${b * nRows + r}").cast("string")): _*))
    val bandsAll = sig.select(col("doc_id"), col("n_chars"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    val bands = maxBucket match {
      case Some(cap) =>
        // cached: the guard consumes the band table twice (bucket
        // census + guard join) — without this the signature pass runs
        // twice (the ddMinhashLshCfg lesson)
        val bandsAllC = bandsAll.cache()
        val kept = bandsAllC.groupBy(col("band"), col("key"))
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= cap)
          .select(col("band"), col("key"))
        bandsAllC.join(kept, Seq("band", "key"))
      case None => bandsAll
    }
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.n_chars") - col("b.n_chars")) < BucketW)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = base.select(col("doc_id").as("doc_a"), col("g").as("ga"))
    val sb = base.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    val j = graft.functions.SortedJaccardGE
      .jaccardGE(col("ga"), col("gb"), NgramJaccardBoundary)
    cands.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), j.as("j"))
      .filter(col("j").isNotNull)
      .select(col("doc_a"), col("doc_b"), r6(col("j")).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** LSH-verified == exact is the contract; ONE oracle definition. */
  lazy val ddNgramJaccardLshSql: String = ddNgramJaccardSql

  // ------------------------------------------------------------------
  // dd_ngram_jaccard_lsh_capped — the guard on the stream that SPILLED
  // ------------------------------------------------------------------

  /** The bucket-size guard applied to the char-gram banded stream —
    * the stream whose verify join the round-13 100× soak actually
    * killed (74 GB spill at 600 k docs). Unlike the word-shingle
    * stream (combinatorial vocabulary, organic buckets ≤ 3 docs on
    * the fixture), the char-5-gram vocabulary is tiny, so band keys
    * here collide on corpus DENSITY: measured at sf0.1, 99 buckets
    * exceed 64 docs (max 1381) and hold 95.6% of all candidate pairs.
    * The cap bounds within-bucket pair cost at cap·corpus while the
    * 8-band redundancy keeps organic recall (all 25 true pairs at
    * sf0.01 survive, candidates 2533 → 1429 — measured in DuckDB).
    * Own oracle (the [[ddMinhashLshCapped]] contract): the full
    * signature → bands → census → guard → verify pipeline in SQL, so
    * the guard's candidate semantics are driver-hash-pinned, not just
    * spec-argued.
    */
  def ddNgramJaccardLshCapped(spark: SparkSession, sfDir: String): DataFrame =
    ddNgramJaccardLshCfg(spark, sfDir, Some(LshMaxBucket))

  /** Oracle CTE chain ending in `nbands(doc_id, n_chars, band, key)` —
    * the char-gram mirror of [[sigBandsCteSql]], built from the same
    * [[minhashColsSqlOf]] arithmetic and the exact twin's gram
    * derivation (ONE copy of each fragment).
    */
  private lazy val ngramSigBandsCteSql: String = {
    val mhCols = minhashColsSqlOf("g").zipWithIndex
      .map { case (e, i) => s"$e AS mh_$i" }.mkString(",\n    ")
    val bandSelects = (0 until NgramLshBands).map { b =>
      val key = (0 until NgramLshRows)
        .map(r => s"CAST(mh_${b * NgramLshRows + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, n_chars, $b AS band, $key AS key FROM nsig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH nbase AS (
  SELECT doc_id, n_chars,
    list_distinct(list_transform(range(1, length(lower(text)) - 3),
      i -> ${md5ModSql("substr(lower(text), i, 5)")})) AS g
  FROM documents
  WHERE length(text) >= 5
), nsig AS (
  SELECT doc_id, n_chars,
    $mhCols
  FROM nbase
), nbands AS (
  $bandSelects
)"""
  }

  lazy val ddNgramJaccardLshCappedSql: String = ngramSigBandsCteSql + s""", nbkeep AS (
  SELECT band, key FROM nbands GROUP BY band, key
  HAVING COUNT(*) <= $LshMaxBucket
), nkept AS (
  SELECT b.doc_id, b.n_chars, b.band, b.key FROM nbands b
  JOIN nbkeep s ON s.band = b.band AND s.key = b.key
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM nkept a JOIN nkept b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    AND abs(a.n_chars - b.n_chars) < $BucketW
), verified AS (
  SELECT c.doc_a, c.doc_b,
    len(list_filter(x.g, h -> list_contains(y.g, h))) AS i,
    len(x.g) AS na, len(y.g) AS nb
  FROM cands c
  JOIN nbase x ON x.doc_id = c.doc_a
  JOIN nbase y ON y.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
  ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} AS jaccard
FROM verified
WHERE ${r6Sql("(CAST(i AS DOUBLE) / (na + nb - i))")} >= $NgramJaccardMin
ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------------------
  // dd_containment — asymmetric gram containment (quote detection)
  // ------------------------------------------------------------------

  /** Directional containment threshold: C(A→B) = |A∩B| / |A| over the
    * word-3-gram shingle sets (the [[ddMinhash]] family's unit — and
    * the blocking-effective one: the fixture's char-5-gram vocabulary
    * is only ~2k strings, so EVERY doc shares char-grams with every
    * other and no exact candidate filter can block; the shingle
    * vocabulary is combinatorial, 27k at sf0.1, and the prefix filter
    * then passes ~1% of the pair space). Asymmetric where Jaccard is
    * symmetric — a short doc quoted inside a long one scores C ≈ 1
    * but Jaccard ≈ |A|/|B|, which is why near-dup passes miss
    * quotes/subsets.
    */
  val ContainMin = 0.8

  /** Round-half-up boundary of [[ContainMin]] (the
    * [[NgramJaccardBoundary]] pattern): unrounded c at or above this
    * rounds to ≥ 0.8, making the filter exactly the oracle's
    * `round(c, 6) >= 0.8`.
    */
  val ContainBoundary: Double = (ContainMin * 1e7 - 5).toLong / 1e7

  /** Asymmetric containment with PREFIX-FILTER candidate generation
    * (the ppjoin/SSJoin family's blocking, exact not approximate):
    * a pair can pass `overlap ≥ o_min` only if B holds at least one of
    * A's `na − o_min + 1` FIRST grams under a GLOBAL total order (if
    * all were missing, overlap ≤ o_min − 1) — any order is complete,
    * and ordering by ASCENDING document frequency (df, then hash) is
    * what makes it cheap: prefixes fill with the corpus's RAREST
    * grams, so the candidate equi-join `Σ df(prefix gram)` collapses
    * where a hash-ordered prefix would admit " the "-grade stop-grams
    * that pair everything with everything (measured: 86 s → ~2 s at
    * sf0.1). `o_min` is exact integer arithmetic on the ROUNDED
    * threshold boundary, so no float ceil can shorten the prefix and
    * cost a pair.
    *
    * Scale shape: one df aggregate over the gram stream, one
    * per-doc window to rank grams rare-first (partitioned by doc —
    * thousands of rows each), the prefix⋈index equi-join on the gram
    * hash, then one merge-intersect per DISTINCT candidate pair.
    * Output is directional: (doc_a contained-in doc_b), both
    * orientations evaluated independently.
    */
  def ddContainment(spark: SparkSession, sfDir: String): DataFrame = {
    val boundary7 = (ContainBoundary * 1e7).toLong // 7999995
    val base = docs(spark, sfDir)
      // the signature() guard: < 3 tokens ⇔ no shingles, filtered on
      // the cheap predicate BEFORE the hash-set expression
      .filter(size(tokens(lower(col("text")))) >=
        graft.functions.WordShingleHashSet.N)
      .select(col("doc_id"),
        graft.functions.WordShingleHashSet.hs(lower(col("text")))
          .as("g"))
      .filter(size(col("g")) > 0)
      .withColumn("na", size(col("g")).cast("long"))
      // smallest overlap with round(i/na, 6) >= ContainMin, exactly
      .withColumn("o_min", expr(s"($boundary7 * na + 9999999) div 10000000"))
      // cached: the shingle-set frame feeds the gram explode (3 reads)
      // and both verify-join sides — uncached, the md5 shingle hashing
      // re-runs per consumer (the ta_vocab_overlap lesson; round-18)
      .cache()
    val grams = base.select(col("doc_id"), col("na"), col("o_min"),
      explode(col("g")).as("gr"))
    val df = grams.groupBy(col("gr")).agg(count(lit(1)).as("df"))
    // rare-first global order (df, gr): rank within each doc and keep
    // the prefix — the filter's completeness needs only that the order
    // is TOTAL and shared by all docs
    val byRarity = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("gr"))
    val pref = grams.join(df, Seq("gr"))
      .withColumn("rn", row_number().over(byRarity))
      .filter(col("rn") <= col("na") - col("o_min") + 1)
      .select(col("doc_id").as("doc_a"), col("gr"))
    val idx = grams.select(col("doc_id").as("doc_b"), col("gr"))
    val cand = pref.join(idx, Seq("gr"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val i = graft.functions.SortedIntersectCount
      .intersectCount(col("ga"), col("gb")).cast("long")
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("g").as("ga"),
        col("na")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("g").as("gb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), i.as("overlap"), col("na"),
        (i.cast("double") / col("na")).as("c"))
      .filter(col("c") >= ContainBoundary)
      .select(col("doc_a"), col("doc_b"), col("overlap"), col("na"),
        r6(col("c")).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle: relational shingle-hash join over ALL shared shingles (no
    * prefix filter — a deliberately different candidate path, which is
    * what cross-checks the filter's completeness).
    */
  lazy val ddContainmentSql: String = s"""WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), base AS (
  SELECT doc_id, list_distinct(list_transform(
    list_distinct(list_transform(range(1, len(t) - 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
    x -> ${md5ModSql("x")})) AS g
  FROM toks
), sized AS (
  SELECT doc_id, g, CAST(len(g) AS BIGINT) AS na FROM base WHERE len(g) > 0
), grams AS (
  SELECT doc_id, unnest(g) AS gr FROM sized
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM grams a JOIN grams b ON a.gr = b.gr AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, CAST(i.i AS BIGINT) AS overlap, x.na,
  ${r6Sql("(CAST(i.i AS DOUBLE) / x.na)")} AS containment
FROM inter i JOIN sized x ON x.doc_id = i.doc_a
WHERE ${r6Sql("(CAST(i.i AS DOUBLE) / x.na)")} >= $ContainMin
ORDER BY i.doc_a, i.doc_b"""

  // ------------------------------------------------------------------
  // dd_embed_cosine — embedding near-dup by cosine similarity
  // ------------------------------------------------------------------

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "embeddings")

  /** Block count for the block-matrix pair enumeration. At 100 TB pick
    * B ≈ sqrt(2 × desired tasks): replication per row is ~B copies
    * while task count is B(B+1)/2, the standard distributed all-pairs
    * trade (each side shuffled, NOTHING broadcast whole).
    */
  val CosineBlocks = 8

  /** Exact embedding near-dup join, block-matrix shaped.
    *
    * Exactness at threshold 0.45 admits NO sub-quadratic candidate
    * filter on dense 64-dim vectors: the fixture's qualifying pairs sit
    * at hamming 0–5 across [[Similarity.bucket]]'s 6 LSH bits (measured:
    * probing hamming ≤ 1 finds 5 of 14 pairs at sf0.01), and
    * triangle-inequality ring pruning is powerless at d ≈ sqrt(1.1) in
    * 64 dims. So the scale fix is the JOIN SHAPE, not the pair count:
    * each vector lands in one of [[CosineBlocks]] blocks, the
    * B(B+1)/2 block-pair list drives a composite-key equi-join, and
    * each task runs the dot-product loop for one block pair. Memory and
    * network stay bounded (row replication ≈ B, no broadcast of a whole
    * side) where the former `vec_a < vec_b` theta join planned a
    * BroadcastNestedLoopJoin. Candidates are ALL pairs by construction,
    * so output ≡ [[ddEmbedCosineAllPairs]] (pinned by DedupSpec);
    * approximate-but-cheap is a different operator
    * ([[Similarity.simLshAnn]]).
    *
    * Cosine is orientation-stable bitwise (IEEE multiply is
    * commutative per element, the fold order is fixed), so emitting
    * least/greatest ids matches the oracle's `a.vec_id < b.vec_id`
    * orientation exactly.
    */
  /** Block-matrix all-pairs cosine ≥ `minCos` as (vec_a < vec_b, c)
    * with c UNROUNDED — ONE copy of the pair enumeration, shared by
    * [[ddEmbedCosine]] (at [[CosineMin]]) and [[ddCosineSweep]] (at
    * the sweep's loosest threshold).
    */
  private def cosinePairs(spark: SparkSession, sfDir: String,
      minCos: Double): DataFrame = {
    val gdot = graft.functions.DotProduct.dot _
    import spark.implicits._
    val B = CosineBlocks
    val blockPairs = broadcast(
      (for { i <- 0 until B; j <- i until B } yield (i, j))
        .toDF("blk_a", "blk_b"))
    val e = Similarity.base(spark, sfDir)
      .withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("blk_a")).join(blockPairs, "blk_a")
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("blk").as("blk_b")).join(blockPairs, "blk_b")
    val cos = gdot(col("va"), col("vb")) / sqrt(col("na") * col("nb"))
    val pairs = a.join(b, Seq("blk_a", "blk_b"))
      // cross-block: every unordered pair appears exactly once (only
      // (i,j) with i<j exists); same-block: keep the ordered half
      .filter(col("blk_a") =!= col("blk_b") || col("vec_a") < col("vec_b"))
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), cos.as("c"))
    // −∞ means UNTHRESHOLDED: skip the predicate entirely rather than
    // evaluate `c >= −∞`, which silently drops a NULL cosine (zero-norm
    // vector ÷ 0 is NULL in non-ANSI Spark) that the unfiltered oracle
    // CTE keeps — the filter must not exist, not be vacuous
    if (minCos.isNegInfinity) pairs else pairs.filter(col("c") >= minCos)
  }

  def ddEmbedCosine(spark: SparkSession, sfDir: String): DataFrame =
    cosinePairs(spark, sfDir, CosineMin)
      .select(col("vec_a"), col("vec_b"), r6(col("c")).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))

  /** The naive theta-join formulation — spec-level ground truth for
    * [[ddEmbedCosine]]'s block decomposition, NOT a shipped query (it
    * plans a BroadcastNestedLoopJoin).
    */
  def ddEmbedCosineAllPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val gdot = graft.functions.DotProduct.dot _
    val e = Similarity.base(spark, sfDir)
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val cos = gdot(col("va"), col("vb")) / sqrt(col("na") * col("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), cos.as("c"))
      .filter(col("c") >= CosineMin)
      .select(col("vec_a"), col("vec_b"), r6(col("c")).as("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The complete unordered cosine neighborhood (vec_a < vec_b, c
    * UNROUNDED) — [[cosinePairs]] with NO threshold filter in the plan
    * at all (−∞ elides the predicate, so even a NULL cosine from a
    * zero-norm vector survives, exactly like the unfiltered oracle
    * CTE), for consumers that need every pair, not just the near-dup
    * band ([[Similarity.simLabelKnn]]'s exact kNN baseline). Same
    * block decomposition, so the plan stays equi-join shaped.
    */
  def allCosinePairs(spark: SparkSession, sfDir: String): DataFrame =
    cosinePairs(spark, sfDir, Double.NegativeInfinity)

  private def dotSql(a: String, b: String): String = CrossHash.dotSql(a, b)

  /** Oracle pair CTE `pairs(vec_a < vec_b, c)` with c unrounded — ONE
    * copy, the [[cosinePairs]] twin shared by the embed-cosine and
    * sweep oracles.
    */
  private lazy val cosinePairsCte: String = s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    ${dotSql("a.v", "b.v")} / sqrt(a.nrm * b.nrm) AS c
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)"""

  /** Public oracle twin of [[allCosinePairs]] — the shared
    * unthresholded `pairs(vec_a, vec_b, c)` CTE, for cross-family
    * composition (one copy of the pair enumeration on BOTH engines).
    */
  def cosinePairsCteSql: String = cosinePairsCte

  lazy val ddEmbedCosineSql: String = cosinePairsCte + s"""
SELECT vec_a, vec_b, ${r6Sql("c")} AS cosine
FROM pairs WHERE c >= $CosineMin
ORDER BY vec_a, vec_b"""

  // ------------------------------------------------------------------
  // dd_semdedup — cluster-then-dedup over embeddings (SemDeDup shape)
  // ------------------------------------------------------------------

  /** SEMANTIC DEDUP, the cluster-then-dedup form (SemDeDup: k-means
    * the embedding space FIRST, then look for near-duplicates only
    * WITHIN a cell — the published recipe that made embedding dedup
    * affordable at web scale, because the pair stream is bounded by
    * Σ cell² instead of corpus²): k-means cells come from
    * [[Similarity.lloyd]] — the SAME trained chain
    * sim_kmeans/sim_ivf_trained ship (seeds, rounds,
    * fixed-point component sums: one copy of the semantics) — then
    * within-cell pairs at the [[CosineMin]] threshold (the SAME
    * threshold as the exact global pass, so dd_embed_cosine is this
    * query's recall oracle: every within-cell pair is a global pair
    * BY CONSTRUCTION, and the spec pins the refinement) feed the ONE
    * star-CC implementation. Output is the dd_clusters contract over
    * vec_ids (doc_id column carries the vec_id — the closure fragment
    * is shared verbatim).
    *
    * Scale shape: the training rounds are corpus-size-independent past
    * the scan (≤k-row broadcasts); the pair join is an equi-join ON
    * CELL — at 100 TB the cap story is the cell-size census (the
    * LshMaxBucket discipline applies unchanged if a cell swells).
    */
  def ddSemDedup(spark: SparkSession, sfDir: String): DataFrame =
    ddSemDedupCfg(spark, sfDir, Similarity.IvfCells)

  /** [[ddSemDedup]] with the cell count and the assignment pass as
    * parameters — the ONE SemDeDup body. `cells` is the scale dial of
    * this family (SemDeDup holds CELL SIZE constant by growing k with
    * the corpus; a fixed bucket cap would be the wrong mitigation here
    * because k-means cells grow ∝ n/k with the corpus, unlike LSH
    * buckets). The shipped query pins [[Similarity.IvfCells]] for the
    * oracle; ScaleSoak measures the dial (fixed k vs k ∝ corpus) on
    * the 1–100× axis. `assign` runs every assignment pass (both Lloyd
    * rounds and the final cell assignment): [[Similarity.kmAssign]],
    * or `Similarity.kmAssignAnn(_, _, nCoarse, probe)` for the ANN
    * forms ([[ddSemDedupAnn]]).
    */
  private[graft] def ddSemDedupCfg(spark: SparkSession, sfDir: String,
      cells: Int, assign: (DataFrame, DataFrame) => DataFrame =
        Similarity.kmAssign): DataFrame = {
    val e = Similarity.base(spark, sfDir).localCheckpoint(true)
    val cents = Similarity.lloyd(e,
      Similarity.seedCents(e, Similarity.NQueries, cells),
      Similarity.KmIters, assign).localCheckpoint(true)
    val assigned = assign(e, cents)
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"))
      .localCheckpoint(true)
    val cos = graft.functions.DotProduct.dot(col("a.v"), col("b.v")) /
      sqrt(col("a.nrm") * col("b.nrm"))
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"),
        cos.as("c"))
      .filter(col("c") >= CosineMin)
      .select(col("doc_a"), col("doc_b"))
    clusters(e.select(col("vec_id")), pairs)
  }

  // LAZY: this val reaches into Similarity, whose init can re-enter
  // Dedup (via TextAnalysis→Corpus→Dedup.SpanN) — an eager init here
  // suspends Dedup mid-init and bakes 0 into Corpus.ScrubN for the
  // life of the JVM (the round-11 Filters object-init lesson, now in
  // its cross-object form; measured as an order-dependent
  // cp_scrub_spans failure in the full suite run).
  lazy val ddSemDedupSql: String =
    semDedupSql("sd", Similarity.kmAssignSql)

  /** Oracle twin of [[ddSemDedupCfg]] at [[Similarity.IvfCells]]
    * cells, with CTE names under `pfx` and `assign(out, cents, src)`
    * as every assignment pass ([[Similarity.kmAssignSql]] or a
    * [[Similarity.kmAssignAnnSql]] dial) — ONE copy for the exact form
    * and the probed ANN dial.
    */
  private def semDedupSql(pfx: String,
      assign: (String, String, String) => String): String = {
    import Similarity.{seedsSql, lloydSql, NQueries, IvfCells, KmIters}
    val prefix = s"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), ${seedsSql(s"${pfx}seeds", "n", NQueries, IvfCells)},${lloydSql(pfx,
      s"${pfx}seeds", KmIters, assign = assign)},${assign(s"${pfx}_assign",
      s"${pfx}c$KmIters", "n")}, ${pfx}pairs AS (
  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
  FROM ${pfx}_assign a JOIN ${pfx}_assign b
    ON b.cell = a.cell AND a.vec_id < b.vec_id
  WHERE ${dotSql("a.v", "b.v")} / sqrt(a.nrm * b.nrm) >= $CosineMin
), ${pfx}nodes AS (
  SELECT vec_id AS doc_id FROM embeddings
), """
    ddClustersClosureSql(s"  SELECT doc_a, doc_b FROM ${pfx}pairs",
      prefixCtes = prefix, nodes = s"${pfx}nodes")
  }

  // ------------------------------------------------------------------
  // dd_semdedup_ann — the web-scale posture: ANN cell assignment
  // ------------------------------------------------------------------

  /** Coarse anchors for [[ddSemDedupAnn]]'s two-level assignment —
    * √[[Similarity.IvfCells]], the measured 16√m rule applied to the
    * centroid table itself.
    */
  val SemDedupCoarse: Int = 4

  /** SEMANTIC DEDUP, the ANN-assignment form — the posture real
    * web-scale SemDeDup deployments run (k ∝ corpus so cell SIZE
    * stays constant, affordable because the per-vector assignment is
    * a coarse-quantized probe, not an exact k-centroid argmin):
    * [[ddSemDedup]] with every assignment pass (both Lloyd training
    * rounds and the final cell assignment) routed through
    * [[Similarity.kmAssignAnn]], dropping per-vector assignment cost
    * from k to nCoarse + probe·(k/nCoarse) dot products.
    *
    * The shipped entry pins probe = nCoarse = [[SemDedupCoarse]] —
    * the EXHAUSTIVE dial, where kmAssignAnn is argmin-identical to
    * kmAssign BY CONSTRUCTION (every fine centroid is a candidate
    * exactly once, same fold, same tie-break), so this query's oracle
    * is [[ddSemDedupSql]] VERBATIM and the driver hash-proves
    * ANN == exact every round — the sim_label_knn_ann /
    * cp_decontam_bloom contract, closing the one pair-stream family
    * that lacked it at its production dial. The probed k ∝ n posture
    * is the ScaleSoak entry (`dd_semdedup_ann_klin`), measured against
    * the exact k ∝ √n winner on the 1–100× axis.
    */
  def ddSemDedupAnn(spark: SparkSession, sfDir: String): DataFrame =
    ddSemDedupCfg(spark, sfDir, Similarity.IvfCells,
      Similarity.kmAssignAnn(_, _, SemDedupCoarse, SemDedupCoarse))

  /** At the shipped exhaustive dial the ANN assignment is
    * argmin-identical to the exact one, so the oracle IS the exact
    * form's — shared verbatim, the driver re-proves ANN == exact on
    * every round's hash gate.
    */
  lazy val ddSemDedupAnnSql: String = ddSemDedupSql

  /** Probed anchors for [[ddSemDedupAnnDial]] — strictly below
    * [[SemDedupCoarse]], so the dial is the real sub-exhaustive
    * posture (the one a 100 TB deployment runs).
    */
  val SemDedupDialProbe: Int = 2

  /** The ANN family's PRODUCTION ROW — the sub-exhaustive probe dial
    * as its own hashed query (the dd_ngram_jaccard_lsh_capped /
    * sim_semantic_clusters_dial convention: the exactness anchor
    * ([[ddSemDedupAnn]]) pins ANN == exact, and THIS row pins the
    * at-scale posture's exact output under its own oracle —
    * [[Similarity.kmAssignAnnSql]], the probed assignment mirrored
    * CTE for CTE): probe = [[SemDedupDialProbe]] < nCoarse, so a
    * vector may train into and land in a near-best cell; refinement
    * vs the global clustering still holds at ANY dial (the pair
    * filter is the same CosineMin — spec-pinned), only pair recall
    * moves.
    */
  def ddSemDedupAnnDial(spark: SparkSession, sfDir: String): DataFrame =
    ddSemDedupCfg(spark, sfDir, Similarity.IvfCells,
      Similarity.kmAssignAnn(_, _, SemDedupCoarse, SemDedupDialProbe))

  lazy val ddSemDedupAnnDialSql: String =
    semDedupSql("ad", Similarity.kmAssignAnnSql(_, _, SemDedupCoarse,
      SemDedupDialProbe, _))

  // ------------------------------------------------------------------
  // dd_cosine_sweep — threshold tuning table for embedding dedup
  // ------------------------------------------------------------------

  /** Thresholds probed by the sweep; the loosest drives the single
    * pair-enumeration pass, [[CosineMin]] is among them so the
    * production row is directly readable.
    */
  val CosineSweep: Seq[Double] = Seq(0.35, 0.40, 0.45, 0.50)

  /** dd_lsh_tuning / sim_ivf_tuning's exact-cosine sibling: the pair
    * and affected-doc volume at each candidate dedup threshold — the
    * table read before committing to a τ (too low merges near-topics,
    * too high leaves dups). ONE [[cosinePairs]] pass at the loosest
    * threshold serves every row (cached; per-τ counting is arithmetic
    * on that bounded pair set, never a second all-pairs pass).
    */
  def ddCosineSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = cosinePairs(spark, sfDir, CosineSweep.min).cache()
    val cand = pairs.withColumn("threshold",
        explode(array(CosineSweep.map(lit): _*)))
      .filter(col("c") >= col("threshold"))
    val np = cand.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val nd = cand.select(col("threshold"),
        explode(array(col("vec_a"), col("vec_b"))).as("v")).distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
    CosineSweep.toDF("threshold")
      .join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("threshold"))
  }

  lazy val ddCosineSweepSql: String = {
    val lst = CosineSweep.mkString("[", ", ", "]")
    cosinePairsCte + s""", thr AS (
  SELECT unnest(CAST($lst AS DOUBLE[])) AS threshold
), cand AS (
  SELECT t.threshold, p.vec_a, p.vec_b
  FROM pairs p CROSS JOIN thr t WHERE p.c >= t.threshold
), np AS (
  SELECT threshold, COUNT(*) AS n_pairs FROM cand GROUP BY threshold
), nd AS (
  SELECT threshold, COUNT(DISTINCT v) AS n_docs
  FROM (SELECT threshold, unnest([vec_a, vec_b]) AS v FROM cand)
  GROUP BY threshold
)
SELECT t.threshold,
  COALESCE(np.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
  COALESCE(nd.n_docs, CAST(0 AS BIGINT)) AS n_docs
FROM thr t
LEFT JOIN np ON np.threshold = t.threshold
LEFT JOIN nd ON nd.threshold = t.threshold
ORDER BY t.threshold"""
  }

  // ------------------------------------------------------------------
  // dd_spans — within-corpus repeated-span audit (word-8-grams)
  // ------------------------------------------------------------------

  /** Repeated-span gram width (same scale as decontamination's). */
  val SpanN = 8

  /** Repeated-substring audit, the within-corpus complement of
    * MinHash's whole-document near-dup: a doc can be globally unique
    * yet assembled from boilerplate spans repeated across the corpus
    * (license headers, templates, scraped navigation), which document-
    * level dedup never sees. Per doc: how many of its distinct
    * word-8-gram spans also occur in ≥1 OTHER doc, and the widest such
    * spread — the evidence span-level dedup (Lee et al.'s
    * deduplicating-training-data setting) acts on.
    *
    * Scale shape: explode once → per-gram doc frequency as a
    * COUNT(*) window partitioned by the gram hash (one shuffle on h;
    * a groupBy+join-back computes the same df but re-executes the
    * explode for each consumer — measured 2.9 s → 1.5 s at sf0.1) →
    * per-doc count. Shuffles are ∝ corpus gram count; nothing is
    * all-pairs and nothing broadcasts the corpus.
    *
    * Grams hash with the FULL 60-bit md5Long, not md5Mod: the mod-P
    * (~2^30) space shows measurable collisions at sf0.1 already (25
    * colliding distinct-gram pairs / 225k grams), each inflating a
    * doc's dup count; 60 bits pushes the expected collision count at
    * 100 TB gram cardinalities down by 2^31. Nothing here needs mod-P
    * arithmetic.
    */
  def ddSpans(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // distinct grams per doc (string-level dedup inside the custom
    // expression, mirroring gramStrings), so count(*) per hash IS the
    // doc frequency; modded=false → full 60-bit hashes (see above)
    val gramRows = docs(spark, sfDir)
      .select(col("doc_id"), explode(graft.functions.WordGramHashes
        .grams(lower(col("text")), SpanN, modded = false)).as("h"))
    val perDoc = gramRows
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_grams"),
        max(col("df")).as("max_gram_df"))
    docs(spark, sfDir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        r6(when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup_grams").cast("double") / col("n_grams")))
          .as("dup_fraction"),
        coalesce(col("max_gram_df"), lit(0L)).as("max_gram_df"))
      .orderBy(col("doc_id"))
  }

  lazy val ddSpansSql: String = {
    val gram = (0 until SpanN).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
    CASE WHEN len(t) >= $SpanN THEN
      list_distinct(list_transform(range(1, len(t) - ${SpanN - 2}),
        i -> ($gram)))
    ELSE [] END AS gs
  FROM toks
), gram_rows AS (
  SELECT doc_id, ${CrossHash.md5LongSql("g")} AS h
  FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
), with_df AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS df FROM gram_rows
), per_doc AS (
  SELECT doc_id,
    COUNT(*) AS n_grams,
    CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_dup_grams,
    MAX(df) AS max_gram_df
  FROM with_df
  GROUP BY doc_id
)
SELECT d.doc_id,
  COALESCE(p.n_grams, 0) AS n_grams,
  COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
  ${r6Sql("""(CASE WHEN COALESCE(p.n_grams, 0) = 0 THEN 0.0
    ELSE CAST(p.n_dup_grams AS DOUBLE) / p.n_grams END)""")} AS dup_fraction,
  COALESCE(p.max_gram_df, 0) AS max_gram_df
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
ORDER BY d.doc_id"""
  }

  // ------------------------------------------------------------------
  // dd_dup_sources — which sources duplicate each other
  // ------------------------------------------------------------------

  /** The near-dup pair stream aggregated to source grain: how many
    * LSH-verified pairs fall within each source vs across each source
    * pair — the provenance readout that turns "the corpus has dups"
    * into "these two feeds mirror each other / this source
    * self-duplicates", which decides whether to drop a feed or just
    * dedup it. PURE composition: the pair generator IS
    * [[ddMinhashLsh]] (one copy of candidate + verify semantics; the
    * oracle embeds its SQL the same way), joined back to doc sources.
    *
    * Shape: pairs are LSH-bounded (nothing quadratic), the two
    * source lookups are joins on doc_id, output ≤ sources² rows.
    */
  def ddDupSources(spark: SparkSession, sfDir: String): DataFrame =
    ddDupSourcesCfg(spark, sfDir, None)

  /** [[ddDupSources]] with the [[LshMaxBucket]]-style bucket cap
    * threaded into its pair source — the hook a clique-heavy
    * deployment flips (see [[ddClustersCapped]] for the semantics of
    * dropping mega-buckets). The shipped query pins `None` for the
    * oracle; DedupSpec drives the capped parameterization on the
    * synthetic mega-family corpus.
    */
  private[graft] def ddDupSourcesCfg(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    val pairs = ddMinhashLshCfg(spark, sfDir, Bands, R, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val src = docs(spark, sfDir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("within_source", col("source_a") === col("source_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Source-census tail over ANY LSH pair body — ONE copy, shared by
    * the uncapped and bucket-capped variants, so the census cannot
    * drift between them.
    */
  private def ddDupSourcesSqlOf(lshSql: String): String = s"""
WITH lsh AS (
  ${lshSql.replace("\n", "\n  ")}
), tagged AS (
  SELECT least(da.source, db.source) AS source_a,
    greatest(da.source, db.source) AS source_b
  FROM lsh
  JOIN documents da ON da.doc_id = lsh.doc_a
  JOIN documents db ON db.doc_id = lsh.doc_b
)
SELECT source_a, source_b, COUNT(*) AS n_pairs,
  (source_a = source_b) AS within_source
FROM tagged GROUP BY source_a, source_b
ORDER BY source_a, source_b"""

  lazy val ddDupSourcesSql: String = ddDupSourcesSqlOf(ddMinhashLshSql)

  /** [[ddDupSources]] on the bucket-capped pair stream — the shipped
    * form of the [[ddDupSourcesCfg]] hook (see [[ddClustersCapped]]
    * for the mega-bucket semantics): the cross-source duplication
    * census a 100 TB deployment actually runs, since the uncapped
    * stream is exactly what mega-bucket corpora blow up
    * (62 s uncapped vs 1.2 s capped at a 16 384-doc template family,
    * SCALE.md "Round-14: the pair-tier bucket guard").
    */
  def ddDupSourcesCapped(spark: SparkSession, sfDir: String): DataFrame =
    ddDupSourcesCfg(spark, sfDir, Some(LshMaxBucket))

  lazy val ddDupSourcesCappedSql: String = ddDupSourcesSqlOf(ddMinhashLshCappedSql)

  // ------------------------------------------------------------------
  // dd_sizes — duplicate-cluster size histogram (the savings readout)
  // ------------------------------------------------------------------

  /** Cluster-size histogram over [[ddExact]]'s content groups: how many
    * clusters of each size exist, how many rows they hold, and how
    * many a dedup pass would remove — the number that decides whether
    * running dedup is worth the scan. Size 1 (unique rows) is included
    * so the docs_total column reconciles to the corpus row count.
    *
    * Shape: the same one-exchange hash-groupBy as dd_exact, then a
    * second partial-agg'd exchange of (size, count) rows — output is
    * bounded by the LARGEST cluster size, independent of corpus size.
    */
  def ddSizes(spark: SparkSession, sfDir: String): DataFrame =
    RedditModel.comments(spark, sfDir)
      .groupBy(md5(col("body")).as("k"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("docs_total"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("docs_removable"))
      .orderBy(col("cluster_size"))

  lazy val ddSizesSql: String = graft.queries.RefOracle.modelCte + """
, sizes AS (
  SELECT md5(body) AS k, COUNT(*) AS cluster_size
  FROM comments GROUP BY md5(body)
)
SELECT cluster_size, COUNT(*) AS n_clusters,
  CAST(cluster_size * COUNT(*) AS BIGINT) AS docs_total,
  CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS docs_removable
FROM sizes GROUP BY cluster_size ORDER BY cluster_size"""

  // ------------------------------------------------------------------
  // dd_family_overlap — lexical vs semantic near-dup agreement
  // ------------------------------------------------------------------

  /** Agreement census between the two near-dup families: the pair
    * sets found by MinHash-LSH over text (`dd_minhash_lsh`) and by
    * embedding cosine (`dd_embed_cosine`), on the fixture's aligned
    * vec_id == doc_id identification. Lexical-only pairs are
    * copy-edits the embedding missed; semantic-only pairs are
    * paraphrases no shingle catches; the Jaccard of the two sets is
    * the number that decides whether a deployment needs BOTH passes
    * or one subsumes the other. PURE composition — both pair streams
    * and both oracle bodies are the shipped ones, embedded verbatim.
    *
    * Scale shape: each family's stream keeps its own documented
    * posture; the agreement join keys on the pair ids (bounded by the
    * near-dup rate) and the census is three 1-row aggregates.
    */
  def ddFamilyOverlap(spark: SparkSession, sfDir: String): DataFrame =
    ddFamilyOverlapCfg(spark, sfDir, None)

  /** [[ddFamilyOverlap]] with the bucket cap threaded into the lexical
    * pair source — same hook discipline as [[ddDupSourcesCfg]]; the
    * semantic (cosine) stream is cap-independent by construction.
    */
  private[graft] def ddFamilyOverlapCfg(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    val lex = ddMinhashLshCfg(spark, sfDir, Bands, R, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val sem = ddEmbedCosine(spark, sfDir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val both = lex.join(sem, Seq("doc_a", "doc_b"))
    val den = col("n_lexical") + col("n_semantic") - col("n_both")
    lex.agg(count(lit(1)).as("n_lexical"))
      .crossJoin(broadcast(sem.agg(count(lit(1)).as("n_semantic"))))
      .crossJoin(broadcast(both.agg(count(lit(1)).as("n_both"))))
      .select(col("n_lexical"), col("n_semantic"), col("n_both"),
        (col("n_lexical") - col("n_both")).as("n_lexical_only"),
        (col("n_semantic") - col("n_both")).as("n_semantic_only"),
        when(den > 0,
          r6(col("n_both").cast("double") / den)).as("jaccard"))
  }

  /** Lexical-vs-semantic agreement census over ANY lexical pair body —
    * ONE copy, shared by the uncapped and bucket-capped variants.
    */
  private def ddFamilyOverlapSqlOf(lshSql: String): String = s"""
WITH lexp AS (
  SELECT doc_a, doc_b FROM (
  ${lshSql.replace("\n", "\n  ")}
  )
), semp AS (
  SELECT vec_a AS doc_a, vec_b AS doc_b FROM (
  ${ddEmbedCosineSql.replace("\n", "\n  ")}
  )
), counts AS (
  SELECT (SELECT COUNT(*) FROM lexp) AS n_lexical,
    (SELECT COUNT(*) FROM semp) AS n_semantic,
    (SELECT COUNT(*) FROM lexp JOIN semp USING (doc_a, doc_b))
      AS n_both
)
SELECT CAST(n_lexical AS BIGINT) AS n_lexical,
  CAST(n_semantic AS BIGINT) AS n_semantic,
  CAST(n_both AS BIGINT) AS n_both,
  CAST(n_lexical - n_both AS BIGINT) AS n_lexical_only,
  CAST(n_semantic - n_both AS BIGINT) AS n_semantic_only,
  CASE WHEN n_lexical + n_semantic - n_both > 0 THEN
    ${graft.functions.Determinism.r6Sql(
      "(CAST(n_both AS DOUBLE) / (n_lexical + n_semantic - n_both))")}
  END AS jaccard
FROM counts"""

  lazy val ddFamilyOverlapSql: String = ddFamilyOverlapSqlOf(ddMinhashLshSql)

  /** [[ddFamilyOverlap]] with the bucket-capped lexical stream — the
    * shipped form of [[ddFamilyOverlapCfg]]; the semantic (cosine)
    * stream is cap-independent by construction, so the capped census
    * reads as "how much of the SEMANTIC family structure the guarded
    * lexical pass still sees".
    */
  def ddFamilyOverlapCapped(spark: SparkSession, sfDir: String): DataFrame =
    ddFamilyOverlapCfg(spark, sfDir, Some(LshMaxBucket))

  lazy val ddFamilyOverlapCappedSql: String =
    ddFamilyOverlapSqlOf(ddMinhashLshCappedSql)

  // ------------------------------------------------------------------
  // dd_minhash_error — signature-estimate calibration census
  // ------------------------------------------------------------------

  /** Exact-Jaccard micro-unit scale (1e6; 1e6/K = 62500 exactly, so
    * the k/16 estimate needs NO rounding on this lattice).
    */
  val MinhashErrScale = 1000000L

  /** MinHash estimator calibration: over the LSH candidate-pair
    * stream, one row per signature match count k ∈ [0, 16] comparing
    * the estimate the sketch implies (k/16) against the realized
    * exact Jaccard — mean/min/max and mean absolute error. The
    * sketch-quality readout that justifies (or indicts) trusting 16
    * minhashes before the exact verify, and the empirical answer to
    * "how many hash functions does this corpus need".
    *
    * Determinism: the match count is an exact integer compare of the
    * two signatures; each pair's exact Jaccard (the SAME
    * [[graft.functions.SortedJaccardGE]] merge, threshold 0.0 —
    * provably unthresholded: tn = 0 disables the early exit and
    * j ≥ 0 always, no NULL path exists for non-empty sets) is
    * quantized to micro-units by round-half-up on BOTH engines (the
    * ev_survival micro-nat discipline), so every aggregate is an
    * integer fold; k·62500 is the estimate on the same lattice with
    * no rounding at all. One float division per output statistic.
    *
    * Scale shape: rides the banded candidate stream (bounded by the
    * real near-dup rate, never all-pairs); signatures and hash sets
    * join by doc key; output is ≤ K+1 rows.
    */
  def ddMinhashError(spark: SparkSession, sfDir: String): DataFrame = {
    val sig = signature(spark, sfDir).cache()
    val bands = bandRows(sig)
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val base = hashSets(spark, sfDir)
    val sa = base.select(col("doc_id").as("doc_a"), col("hs").as("ha"))
    val sb = base.select(col("doc_id").as("doc_b"), col("hs").as("hb"))
    val siga = sig.select(col("doc_id").as("doc_a") +:
      (0 until K).map(i => col(s"mh_$i").as(s"a_$i")): _*)
    val sigb = sig.select(col("doc_id").as("doc_b") +:
      (0 until K).map(i => col(s"mh_$i").as(s"b_$i")): _*)
    val matchCount = (0 until K).map(i =>
      when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0)).reduce(_ + _)
    val jExact = graft.functions.SortedJaccardGE
      .jaccardGE(col("ha"), col("hb"), 0.0)
    val perPair = cands
      .join(sa, "doc_a").join(sb, "doc_b")
      .join(siga, "doc_a").join(sigb, "doc_b")
      .select(matchCount.as("matches"),
        round(jExact * MinhashErrScale).cast("long").as("j_u"))
    val estOf = col("matches") * lit(MinhashErrScale / K)
    perPair
      .groupBy(col("matches"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("j_u")).cast("long").as("sj"),
        min(col("j_u")).as("mn"), max(col("j_u")).as("mx"),
        sum(abs(estOf - col("j_u"))).cast("long").as("serr"))
      .select(col("matches"),
        r6(col("matches") / lit(K.toDouble)).as("est_jaccard"),
        col("n_pairs"),
        r6(col("sj").cast("double") / col("n_pairs") / 1000000.0)
          .as("mean_exact"),
        r6(col("mn").cast("double") / 1000000.0).as("min_exact"),
        r6(col("mx").cast("double") / 1000000.0).as("max_exact"),
        r6(col("serr").cast("double") / col("n_pairs") / 1000000.0)
          .as("mean_abs_err"))
      .orderBy(col("matches"))
  }

  lazy val ddMinhashErrorSql: String = {
    val matchSql = (0 until K).map(i =>
      s"CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END").mkString(" + ")
    sigBandsCteSql + s""", cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), hsets AS (
  SELECT doc_id, list_distinct(hs) AS hd FROM hashed
), exact AS (
  SELECT c.doc_a, c.doc_b,
    CAST(round((CAST(len(list_filter(x.hd, g -> list_contains(y.hd, g)))
        AS DOUBLE) /
      (len(x.hd) + len(y.hd) -
       len(list_filter(x.hd, g -> list_contains(y.hd, g))))) *
      $MinhashErrScale) AS BIGINT) AS j_u
  FROM cands c
  JOIN hsets x ON x.doc_id = c.doc_a
  JOIN hsets y ON y.doc_id = c.doc_b
), m AS (
  SELECT c.doc_a, c.doc_b, ($matchSql) AS matches
  FROM cands c
  JOIN sig a ON a.doc_id = c.doc_a
  JOIN sig b ON b.doc_id = c.doc_b
), g AS (
  SELECT m.matches, COUNT(*) AS n_pairs,
    CAST(SUM(e.j_u) AS BIGINT) AS sj,
    MIN(e.j_u) AS mn, MAX(e.j_u) AS mx,
    CAST(SUM(ABS(m.matches * ${MinhashErrScale / K} - e.j_u)) AS BIGINT)
      AS serr
  FROM m JOIN exact e ON e.doc_a = m.doc_a AND e.doc_b = m.doc_b
  GROUP BY m.matches
)
SELECT CAST(matches AS INTEGER) AS matches,
  ${r6Sql(s"(matches / CAST($K.0 AS DOUBLE))")} AS est_jaccard,
  n_pairs,
  ${r6Sql("(CAST(sj AS DOUBLE) / n_pairs / 1000000.0)")} AS mean_exact,
  ${r6Sql("(CAST(mn AS DOUBLE) / 1000000.0)")} AS min_exact,
  ${r6Sql("(CAST(mx AS DOUBLE) / 1000000.0)")} AS max_exact,
  ${r6Sql("(CAST(serr AS DOUBLE) / n_pairs / 1000000.0)")}
    AS mean_abs_err
FROM g ORDER BY matches"""
  }
}
