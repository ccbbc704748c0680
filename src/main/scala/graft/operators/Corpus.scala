package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{BloomMightContain, CrossHash, NfcNormalize}
import graft.functions.CrossHash.{md5LongSql, md5ModSql}
import graft.operators.TextAnalysis.docs

/** Corpus-preparation operators: the plumbing between cleaning/dedup
  * and the training job — deterministic dataset splitting, text
  * normalization, and context-window packing.
  */
object Corpus {

  // ------------------------------------------------------------------
  // cp_split — deterministic train/val/test assignment
  // ------------------------------------------------------------------

  val TrainPct = 80
  val ValPct = 10 // test gets the remainder

  /** Salted split bucket + label — shared by [[cpSplit]] and
    * [[cpCurate]] (one copy of the assignment, per the fragment rule).
    */
  def splitBucketExpr(id: Column): Column =
    CrossHash.md5Long(concat(lit("split-v1:"), id.cast("string"))) % 100
  def splitLabelExpr(bucket: Column): Column =
    when(bucket < TrainPct, "train")
      .when(bucket < TrainPct + ValPct, "val")
      .otherwise("test")
  lazy val splitBucketSql: String =
    s"(${md5LongSql("('split-v1:' || doc_id)")} % 100)"
  lazy val splitLabelSql: String =
    s"""CASE WHEN $splitBucketSql < $TrainPct THEN 'train'
       WHEN $splitBucketSql < ${TrainPct + ValPct} THEN 'val'
       ELSE 'test' END"""

  /** Hash-based split: stable under corpus growth (a doc's split never
    * depends on other rows), reproducible across engines (md5-derived),
    * and skew-free. The salt string versions the split — bump it to
    * reshuffle.
    */
  def cpSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = splitBucketExpr(col("doc_id"))
    docs(spark, sfDir).select(
      col("doc_id"),
      bucket.cast("int").as("bucket"),
      splitLabelExpr(bucket).as("split"))
      .orderBy(col("doc_id"))
  }

  lazy val cpSplitSql: String = s"""
SELECT doc_id,
  CAST($splitBucketSql AS INTEGER) AS bucket,
  $splitLabelSql AS split
FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // cp_normalize — canonical text form (NFC + case + whitespace)
  // ------------------------------------------------------------------

  /** Normalization pipeline: Unicode NFC (via the custom expression —
    * Spark has no built-in), lowercase, trim, collapse whitespace runs.
    * Emitted as length + digest (the canonical-form fingerprint exact
    * dedup keys on), not the full text.
    */
  /** Canonical text form — shared by [[cpNormalize]] and [[cpCurate]]'s
    * dedup digest.
    */
  def normExpr(text: Column): Column =
    regexp_replace(trim(lower(NfcNormalize.nfc(text))), "\\s+", " ")
  lazy val normSqlExpr: String =
    "regexp_replace(trim(lower(nfc_normalize(text))), '\\s+', ' ', 'g')"

  def cpNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir)
      .select(col("doc_id"), normExpr(col("text")).as("norm"))
      .select(
        col("doc_id"),
        length(col("norm")).cast("int").as("norm_chars"),
        md5(col("norm")).as("norm_md5"))
      .orderBy(col("doc_id"))
  }

  lazy val cpNormalizeSql: String = s"""
WITH n AS (
  SELECT doc_id, $normSqlExpr AS norm
  FROM documents
)
SELECT doc_id,
  CAST(length(norm) AS INTEGER) AS norm_chars,
  md5(norm) AS norm_md5
FROM n ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // cp_elect — quality-priority survivor election among duplicates
  // ------------------------------------------------------------------

  /** Survivor election per exact-dup digest group by QUALITY, not id:
    * a production dedup keeps the best copy (here: highest distinct-
    * token count — the cheap lexical-richness proxy — with doc_id as
    * the total-order tiebreak), where `dd_exact`/`cp_curate`'s min-id
    * election mirrors the reference's SQLite PK semantics. Runs on the
    * custom [[graft.plans.TopKPerGroup]] operator at k=1 (the argmax
    * special case), so the digest groupwise-max never sorts or windows
    * — and the oracle row hash-verifies the custom plan end-to-end on
    * a SECOND query shape (string group key, computed priority).
    *
    * Scale shape: one map-side pass computes digest + priority, the
    * TopK partial phase reduces each partition to one row per digest
    * seen, the exchange moves ≤ digests·partitions rows, and the
    * dup_count aggregate reuses the same digest partitioning.
    */
  def cpElect(spark: SparkSession, sfDir: String): DataFrame = {
    cpElectOf(docs(spark, sfDir)
      .select(col("doc_id"),
        md5(normExpr(col("text"))).as("dg"),
        size(array_distinct(graft.operators.TextAnalysis
          .tokens(lower(col("text"))))).cast("long").as("n_distinct")))
  }

  /** Election core over any (doc_id, dg, n_distinct) relation — the
    * fixture has no exact-dup groups at sf0.01 (every digest is a
    * singleton there, so the oracle checks the plumbing), and the spec
    * drives THIS with synthetic duplicate groups to pin the
    * quality-priority semantics.
    */
  private[graft] def cpElectOf(d: DataFrame): DataFrame = {
    val sizes = d.groupBy(col("dg")).agg(count(lit(1)).as("dup_count"))
    graft.plans.TopK.perGroup(d, Seq("dg"),
        Seq("n_distinct" -> true, "doc_id" -> false), k = 1)
      .join(sizes, Seq("dg"))
      .select(col("dg"), col("doc_id"), col("n_distinct"),
        col("dup_count"))
      .orderBy(col("dg"))
  }

  lazy val cpElectSql: String = s"""
WITH d AS (
  SELECT doc_id, md5($normSqlExpr) AS dg,
    CAST(len(list_distinct(
      regexp_split_to_array(trim(lower(text)), '\\s+'))) AS BIGINT)
      AS n_distinct
  FROM documents
), r AS (
  SELECT doc_id, dg, n_distinct,
    row_number() OVER (PARTITION BY dg
      ORDER BY n_distinct DESC, doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY dg) AS dup_count
  FROM d
)
SELECT dg, doc_id, n_distinct, CAST(dup_count AS BIGINT) AS dup_count
FROM r WHERE rk = 1 ORDER BY dg"""

  // ------------------------------------------------------------------
  // cp_pack — context-window packing (concatenate-then-chunk)
  // ------------------------------------------------------------------

  /** Tokens per context window. */
  val PackBudget = 512L

  /** Pretraining-style packing: documents are concatenated in doc_id
    * order and chunked into fixed windows; each doc's pack and offset
    * follow from the running token total, so the layout is a pure
    * window computation — no sequential driver loop.
    *
    * Scale note: a single global running total means one partition at
    * the window stage — kept ONLY as the bit-parity baseline for the
    * oracle's global window; the 100 TB shape is [[cpPackSharded]].
    */
  def cpPack(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(
        col("doc_id"), col("n_tokens"),
        col("start_off"),
        expr(s"start_off div $PackBudget").as("pack_id"),
        (col("start_off") % PackBudget).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  lazy val cpPackSql: String = s"""
WITH t AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
      - n_tokens AS BIGINT) AS start_off
  FROM t
)
SELECT doc_id, n_tokens, start_off,
  CAST(start_off // $PackBudget AS BIGINT) AS pack_id,
  CAST(start_off % $PackBudget AS BIGINT) AS pack_offset
FROM c ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // cp_pack_sharded — the 100 TB shape of cp_pack
  // ------------------------------------------------------------------

  /** Documents per shard (shard = doc_id div ShardDocs — contiguous id
    * ranges, so packing order within a shard matches the global order).
    */
  val ShardDocs = 128L

  /** Shard-local pack ids are salted into a global id as
    * shard * PackSalt + local; PackSalt caps packs per shard, satisfied
    * by construction when ShardDocs × max doc tokens ≤ PackSalt ×
    * PackBudget (128 shard docs would need ~4M tokens each to overflow).
    */
  val PackSalt = 1000000L

  /** [[cpPack]] with the running sum partitioned by shard: each shard
    * starts a fresh pack, so no window ever crosses a shard boundary
    * and the plan shuffles by shard key instead of serializing the
    * corpus through one task. Boundary cost: at most one partially
    * filled pack per shard — at 100 TB that waste is
    * shards/packs ≈ budget/(ShardDocs × avg tokens) ≈ 0.1%.
    */
  def cpPackSharded(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, sfDir)
      .select(col("doc_id"),
        expr(s"doc_id div $ShardDocs").as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"), col("start_off"),
        (col("shard") * PackSalt +
          expr(s"start_off div $PackBudget")).as("pack_id"),
        (col("start_off") % PackBudget).as("pack_offset"))
      .orderBy(col("doc_id"))
  }

  lazy val cpPackShardedSql: String = s"""
WITH t AS (
  SELECT doc_id,
    CAST(doc_id // $ShardDocs AS BIGINT) AS shard,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_off
  FROM t
)
SELECT doc_id, shard, n_tokens, start_off,
  CAST(shard * $PackSalt + start_off // $PackBudget AS BIGINT) AS pack_id,
  CAST(start_off % $PackBudget AS BIGINT) AS pack_offset
FROM c ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // cp_vocab — tokenizer-vocabulary building (term/doc frequency)
  // ------------------------------------------------------------------

  /** Vocabulary size (top-N by term frequency). */
  val VocabTopN = 1000

  /** Word-frequency vocabulary: the seeding stage of tokenizer training
    * and frequency-based filtering. Classic word-count shape — partial
    * aggregation means the shuffle carries one row per distinct term
    * per partition; the top-N is a TakeOrdered (no global sort of the
    * vocabulary), and the rank window runs over the N selected rows
    * only — bounded by contract, so its single partition is fine at
    * any corpus size. Ties break lexicographically for determinism.
    */
  def cpVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = docs(spark, sfDir)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("token"))
      .filter(col("token") =!= "")
    val counts = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("term_count"),
        countDistinct(col("doc_id")).as("doc_count"))
    counts
      .orderBy(col("term_count").desc, col("token")).limit(VocabTopN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("term_count").desc, col("token"))))
      .select(col("rank"), col("token"), col("term_count"), col("doc_count"))
      .orderBy(col("rank"))
  }

  lazy val cpVocabSql: String = s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents
), c AS (
  SELECT token, COUNT(*) AS term_count, COUNT(DISTINCT doc_id) AS doc_count
  FROM tok WHERE token <> '' GROUP BY token
), r AS (
  SELECT token, term_count, doc_count,
    row_number() OVER (ORDER BY term_count DESC, token) AS rank
  FROM c
)
SELECT CAST(rank AS INTEGER) AS rank, token, term_count, doc_count
FROM r WHERE rank <= $VocabTopN ORDER BY rank"""

  // ------------------------------------------------------------------
  // cp_decontam — benchmark decontamination (eval n-gram overlap)
  // ------------------------------------------------------------------

  /** Decontamination gram width: a training doc sharing any word
    * 8-gram with the eval set is flagged (the published pipelines use
    * 8–13; the mechanism is width-agnostic).
    */
  val DecontamN = 8

  /** Eval-set membership: deterministic ~1% sample of the corpus
    * standing in for a benchmark suite (which would arrive as its own
    * table; the operator only needs its gram set).
    */
  val EvalMod = 97

  /** Distinct word-N-gram STRINGS of a lowercased token array — the
    * [[Dedup.shingles]] construction generalized to width n. `toks`
    * must be a materialized attribute (see the PERF note there), and
    * hashing happens AFTER explode on the flat column — md5 inside the
    * lambda is interpreted per gram (CodegenFallback) and measured 10×
    * slower (41.5 s → 4 s at sf0.1 for cp_decontam).
    */
  def gramStrings(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Test-set decontamination: every doc is audited for word-8-gram
    * overlap with the eval set, the standard guard against benchmark
    * leakage into training data. Output is audit-shaped like
    * [[graft.operators.Filters.qfDecide]]: per-doc hit count + the
    * drop decision, not a silent filter.
    *
    * Scale shape: the eval gram table is tiny relative to the corpus
    * (benchmarks are small by definition) — broadcast; the corpus-side
    * explode flows map-side into the broadcast hash join, and the only
    * shuffle is the per-doc hit-count groupBy. No all-pairs anything.
    */
  def cpDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    // one row per (doc, distinct gram) via the custom expression
    // (DedupSpec pins it to the gramStrings + md5Mod twin; measured
    // 1.54 s → 0.77 s at sf0.1 — the per-gram concat lambda was
    // interpreted per element).
    // gramRows feeds two branches uncached ON PURPOSE: the doc_id-mod
    // filters sit below the Generate, so the eval branch re-hashes
    // only ~1/EvalMod of the corpus — caching would cost more than it
    // saves.
    val gramRows = docs(spark, sfDir)
      .select(col("doc_id"), explode(graft.functions.WordGramHashes
        .grams(lower(col("text")), DecontamN, modded = true)).as("h"))
    val evalGrams = gramRows.filter(col("doc_id") % EvalMod === 0)
      .select(col("h")).distinct()
    val hits = gramRows.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("eval_grams_hit"))
    docs(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % EvalMod === 0).as("is_eval"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_eval"),
        coalesce(col("eval_grams_hit"), lit(0L)).as("eval_grams_hit"),
        (!col("is_eval") && coalesce(col("eval_grams_hit"), lit(0L)) > 0)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  lazy val cpDecontamSql: String = {
    val gram = (0 until DecontamN).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
    CASE WHEN len(t) >= $DecontamN THEN
      list_distinct(list_transform(range(1, len(t) - ${DecontamN - 2}),
        i -> ($gram)))
    ELSE [] END AS gs
  FROM toks
), gram_rows AS (
  SELECT doc_id, ${md5ModSql("g")} AS h
  FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
), eval_grams AS (
  SELECT DISTINCT h FROM gram_rows WHERE doc_id % $EvalMod = 0
), hits AS (
  SELECT g.doc_id, COUNT(*) AS eval_grams_hit
  FROM (SELECT doc_id, h FROM gram_rows WHERE doc_id % $EvalMod <> 0) g
  JOIN eval_grams e ON e.h = g.h
  GROUP BY g.doc_id
)
SELECT d.doc_id,
  d.doc_id % $EvalMod = 0 AS is_eval,
  COALESCE(h.eval_grams_hit, 0) AS eval_grams_hit,
  (d.doc_id % $EvalMod <> 0 AND COALESCE(h.eval_grams_hit, 0) > 0)
    AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
ORDER BY d.doc_id"""
  }

  /** Bloom sizing for [[cpDecontamBloom]]: 1M expected grams / 8M bits
    * (~1 MiB bitmap, ~2% fpp at capacity) — constant-size regardless
    * of corpus, and generous for any benchmark-suite eval side.
    */
  val DecontamBloomItems = 1000000L
  val DecontamBloomBits = 8000000L

  /** The 100 TB form of [[cpDecontam]]: identical output (same oracle
    * SQL — the driver hash-verifies bloom == exact every round), but
    * the corpus side probes a constant-size bloom bitmap of the eval
    * grams BEFORE the exact join. The broadcast exact join already
    * avoids a corpus shuffle; what the bloom buys at scale is the
    * hash-table probe cost and, in the at-rest layout where the
    * corpus-side gram table IS shuffled (e.g. feeding dd_spans too),
    * the shuffle volume: ~98%+ of corpus grams die on a bitmap test
    * (codegen'd `BloomFilterMightContain`) instead of reaching the
    * join. False positives are removed by the exact join that follows;
    * no false negatives exist, so equality with [[cpDecontam]] is
    * structural.
    */
  def cpDecontamBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val gramRows = docs(spark, sfDir)
      .select(col("doc_id"), explode(graft.functions.WordGramHashes
        .grams(lower(col("text")), DecontamN, modded = true)).as("h"))
    val evalGrams = gramRows.filter(col("doc_id") % EvalMod === 0)
      .select(col("h")).distinct()
    // `might_contain` requires its bloom side as a scalar subquery
    // (enforced by its type check) — `Dataset.scalar()` is exactly
    // that; the subquery evaluates once and broadcasts as a literal
    // into the codegen'd probe
    val bloom = evalGrams.select(BloomMightContain.bloomAgg(col("h"),
      DecontamBloomItems, DecontamBloomBits)).scalar()
    val pre = gramRows.filter(col("doc_id") % EvalMod =!= 0)
      .filter(BloomMightContain.mightContain(bloom, col("h")))
    val hits = pre
      .join(broadcast(evalGrams), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("eval_grams_hit"))
    docs(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % EvalMod === 0).as("is_eval"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_eval"),
        coalesce(col("eval_grams_hit"), lit(0L)).as("eval_grams_hit"),
        (!col("is_eval") && coalesce(col("eval_grams_hit"), lit(0L)) > 0)
          .as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** bloom == exact is the contract; ONE oracle definition. */
  lazy val cpDecontamBloomSql: String = cpDecontamSql

  // ------------------------------------------------------------------
  // cp_mix — domain-mixture weighting (per-source downsampling)
  // ------------------------------------------------------------------

  /** Per-source keep probabilities in basis points (fraction of each
    * source retained in the mixture); sources not listed keep the
    * default. Values chosen to exercise full-keep, heavy and light
    * downsampling on the fixture's src0..src15 domain.
    */
  val MixWeightsBp: Seq[(String, Long)] = Seq(
    "src0" -> 10000L, // keep all
    "src1" -> 5000L, // half
    "src2" -> 2500L,
    "src3" -> 1000L)
  val MixDefaultBp = 7500L

  /** The `source → weight_bp` mapping as one expression — ONE copy
    * shared by [[cpMix]] (sampling filter) and [[cpEpochPlan]] (epoch
    * budgeting), per the fragment rule.
    */
  def mixWeightExpr: Column = MixWeightsBp.foldLeft(lit(MixDefaultBp)) {
    case (acc, (src, w)) => when(col("source") === src, w).otherwise(acc)
  }

  lazy val mixWeightSql: String =
    MixWeightsBp.reverse.foldLeft(s"CAST($MixDefaultBp AS BIGINT)") {
      case (acc, (src, w)) =>
        s"CASE WHEN source = '$src' THEN CAST($w AS BIGINT) ELSE $acc END"
    }

  /** Deterministic weighted sampling: a doc survives iff its salted
    * hash mod 10000 falls under its source's keep weight — per-doc
    * stable (independent of other rows), reshufflable by salt, and
    * skew-free, exactly like [[cpSplit]]. At 100 TB this is a pure
    * map-side filter; the audit aggregation is the only shuffle.
    */
  def cpMix(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = CrossHash.md5Long(
      concat(lit("mix-v1:"), col("doc_id").cast("string"))) % 10000L
    val weight = mixWeightExpr
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"), bucket.as("bucket"),
        weight.as("weight_bp"))
      .groupBy(col("source"), col("weight_bp"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(when(col("bucket") < col("weight_bp"), 1L).otherwise(0L))
          .as("docs_kept"))
      .orderBy(col("source"))
  }

  lazy val cpMixSql: String = {
    val bucket = s"(${md5LongSql("('mix-v1:' || doc_id)")} % 10000)"
    val weight = mixWeightSql
    s"""
WITH d AS (
  SELECT doc_id, source, $bucket AS bucket, $weight AS weight_bp
  FROM documents
)
SELECT source, weight_bp,
  COUNT(*) AS docs_in,
  CAST(SUM(CASE WHEN bucket < weight_bp THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_kept
FROM d GROUP BY source, weight_bp ORDER BY source"""
  }

  // ------------------------------------------------------------------
  // cp_stats — per-source corpus statistics (exact percentiles)
  // ------------------------------------------------------------------

  /** Per-source token-length distribution: doc counts, exact mean (from
    * integer moments), and exact p50/p90/p99 percentiles — the numbers
    * a curation run reads before choosing truncation budgets and
    * per-source mixture weights.
    *
    * Spark's `percentile` is the EXACT aggregate (sorts each group);
    * the oracle twin is DuckDB's `quantile_cont`, the same
    * linear-interpolation definition. At 100 TB swap in
    * `approx_percentile` (a mergeable sketch — exact percentile
    * materializes each group's values); this exact form is the oracle
    * anchor the sketch is validated against, so both live here.
    */
  def cpStats(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val pct = expr("percentile(n_tokens, array(0.5D, 0.9D, 0.99D))")
    docs(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        pct.as("p"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        r6(col("total_tokens").cast("double") / col("n_docs"))
          .as("mean_tokens"),
        col("min_tokens"), col("max_tokens"),
        r6(element_at(col("p"), 1)).as("p50_tokens"),
        r6(element_at(col("p"), 2)).as("p90_tokens"),
        r6(element_at(col("p"), 3)).as("p99_tokens"))
      .orderBy(col("source"))
  }

  lazy val cpStatsSql: String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH t AS (
  SELECT source,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), a AS (
  SELECT source,
    COUNT(*) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
    MIN(n_tokens) AS min_tokens,
    MAX(n_tokens) AS max_tokens,
    quantile_cont(n_tokens, [0.5, 0.9, 0.99]) AS p
  FROM t GROUP BY source
)
SELECT source, n_docs, total_tokens,
  ${r6Sql("(CAST(total_tokens AS DOUBLE) / n_docs)")} AS mean_tokens,
  min_tokens, max_tokens,
  ${r6Sql("p[1]")} AS p50_tokens,
  ${r6Sql("p[2]")} AS p90_tokens,
  ${r6Sql("p[3]")} AS p99_tokens
FROM a ORDER BY source"""
  }

  /** Candidate context lengths for [[cpTruncation]] — the budget curve
    * a tokenizer run is sized against.
    */
  val TruncLens: Seq[Long] = Seq(32L, 64L, 128L, 256L)

  /** Truncation-budget curve: for every (source, candidate context
    * length) cell, exact counts of docs over the limit and tokens
    * kept/lost under head-truncation — the readout that chooses
    * `max_seq_len` (the real decision the [[cpStats]] percentiles
    * approximate). All integers are exact BIGINTs (`min(n, L)` sums);
    * the one float is the loss share through [[graft.functions.Determinism.r6]].
    *
    * Scale: ONE scan — each doc emits its |lens| cells map-side via
    * the `stack` generator (a 4-way Expand, same family as ev_cube),
    * and the single shuffle carries (source, ctx_len) partial
    * aggregates. Lens are constants, so the cell count is
    * sources × 4 at any corpus size.
    */
  def cpTruncation(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val stacked = TruncLens.map(l => s"${l}L, least(n_tokens, ${l}L)")
      .mkString(", ")
    docs(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .select(col("source"), col("n_tokens"), expr(
        s"stack(${TruncLens.size}, $stacked) AS (ctx_len, kept)"))
      .groupBy(col("source"), col("ctx_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") > col("ctx_len"), 1L).otherwise(0L))
          .as("docs_truncated"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(col("kept")).as("tokens_kept"))
      .select(col("source"), col("ctx_len"), col("n_docs"),
        col("docs_truncated"), col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_lost"),
        r6((col("tokens_total") - col("tokens_kept")).cast("double") /
          col("tokens_total")).as("loss_share"))
      .orderBy(col("source"), col("ctx_len"))
  }

  lazy val cpTruncationSql: String = {
    import graft.functions.Determinism.r6Sql
    val cells = TruncLens.map(l =>
      s"SELECT CAST($l AS BIGINT) AS ctx_len").mkString(" UNION ALL ")
    s"""
WITH t AS (
  SELECT source,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      AS n_tokens
  FROM documents
), lens AS (
  $cells
), a AS (
  SELECT source, ctx_len,
    COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN n_tokens > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
      AS docs_truncated,
    CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
    CAST(SUM(least(n_tokens, ctx_len)) AS BIGINT) AS tokens_kept
  FROM t CROSS JOIN lens
  GROUP BY source, ctx_len
)
SELECT source, ctx_len, n_docs, docs_truncated, tokens_total, tokens_kept,
  tokens_total - tokens_kept AS tokens_lost,
  ${r6Sql("(CAST(tokens_total - tokens_kept AS DOUBLE) / tokens_total)")}
    AS loss_share
FROM a ORDER BY source, ctx_len"""
  }

  /** The 100 TB relief for [[cpStats]]: `approx_percentile` replaces
    * the exact `percentile` aggregate. Exact percentile materializes
    * and sorts each group's full value list in one task — a per-group
    * memory wall at scale; the approx form is a bounded-size mergeable
    * quantile sketch (accuracy 10000 ⇒ rank error ≤ 1e-4·n) built by
    * ordinary partial aggregation, so group size never matters.
    * Percentiles come back as actual observed values (LONG, no
    * interpolation) — a schema difference from the exact twin, so not
    * oracle-hashable; `CorpusSpec` pins the rank-error contract
    * instead: for every (source, q) the returned value's rank is
    * within 2% of q, and counts/moments EXACTLY equal the exact
    * twin's.
    */
  def cpStatsApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val pct = expr(
      "approx_percentile(n_tokens, array(0.5D, 0.9D, 0.99D), 10000)")
    docs(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        pct.as("p"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        r6(col("total_tokens").cast("double") / col("n_docs"))
          .as("mean_tokens"),
        col("min_tokens"), col("max_tokens"),
        element_at(col("p"), 1).as("p50_tokens"),
        element_at(col("p"), 2).as("p90_tokens"),
        element_at(col("p"), 3).as("p99_tokens"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------------------------
  // cp_sample — stratified sampling with exact per-stratum quotas
  // ------------------------------------------------------------------

  /** Fraction retained per stratum, in percent. */
  val SamplePct = 20L

  /** Exact-quota stratified sample: within each source, docs are ranked
    * by a salted hash and the top ceil(pct·n) survive — every stratum
    * hits its quota exactly (a Bernoulli filter like [[cpMix]] only
    * hits it in expectation), and the salt makes the draw reproducible
    * and versionable.
    *
    * Scale shape: one shuffle on source; quota and rank share the same
    * window partitioning. The per-stratum rank serializes each stratum
    * through one task — fine while strata are source-sized; for a
    * stratum too big for one task, keep this operator's contract and
    * swap the mechanism: estimate the quota'th hash value with
    * `approx_percentile(hash, pct)`, filter map-side on the threshold,
    * and exact-rank only the boundary sliver.
    */
  def cpSample(spark: SparkSession, sfDir: String): DataFrame = {
    val h = CrossHash.md5Long(
      concat(lit("sample-v1:"), col("doc_id").cast("string")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"), h.as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("quota", expr(
        s"(count(*) OVER (PARTITION BY source) * $SamplePct + 99) div 100"))
      .filter(col("rk") <= col("quota"))
      .select(col("doc_id"), col("source"), col("rk").as("samp_rank"),
        col("quota"))
      .orderBy(col("doc_id"))
  }

  lazy val cpSampleSql: String = {
    val h = md5LongSql("('sample-v1:' || doc_id)")
    s"""
WITH d AS (
  SELECT doc_id, source, $h AS h FROM documents
), r AS (
  SELECT doc_id, source,
    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
      AS BIGINT) AS rk,
    CAST((COUNT(*) OVER (PARTITION BY source) * $SamplePct + 99) // 100
      AS BIGINT) AS quota
  FROM d
)
SELECT doc_id, source, rk AS samp_rank, quota
FROM r WHERE rk <= quota ORDER BY doc_id"""
  }

  /** Sketch accuracy for [[cpSampleApprox]]'s threshold estimate: GK
    * rank error is DETERMINISTICALLY ≤ n/accuracy.
    */
  val SampleApproxAccuracy = 10000

  /** Percentile margin around the quota cut, as a fraction. Must
    * exceed 1/[[SampleApproxAccuracy]] for the bracket invariant to
    * hold on large sources; small/edge sources fall back exactly.
    */
  val SampleApproxDelta = 0.001

  /** The big-stratum relief for [[cpSample]] (same selected set,
    * different mechanism — SCALE.md documents this swap): instead of
    * ranking every row of a stratum through ONE window task, estimate
    * the quota'th hash with a mergeable `approx_percentile` sketch,
    * admit the prefix below the low estimate map-side, and exact-rank
    * only the boundary sliver between the two estimates.
    *
    *   pass 1: per-source count + approx_percentile(h, pct∓δ) — one
    *           partial-agg'd shuffle of constant-size sketches;
    *   pass 2: exact counts below each estimate (map-side compare
    *           against the broadcast thresholds, one tiny agg) — and
    *           the correctness gate: a source whose quota is NOT
    *           bracketed by [c_lo, c_hi] (sub-margin strata, sketch
    *           edge) falls back to all-sliver, i.e. the exact
    *           mechanism for that source only;
    *   pass 3: core rows (h ≤ t_lo) pass with no shuffle at all;
    *           sliver rows (t_lo < h ≤ t_hi, ≈ 2δ·n of the stratum)
    *           are window-ranked and the first quota−c_lo admitted.
    *
    * The h-value boundaries are prefix-closed under the (h, doc_id)
    * total order, so the selected SET equals [[cpSample]]'s exactly —
    * CorpusSpec pins set equality and per-source quota exactness.
    * Rows-only in the driver gate (like the other approx twins): the
    * sketch estimates are engine-specific, but the OUTPUT is
    * deterministic, so the dump itself is stable across runs.
    * Output drops `samp_rank` (a global rank would force the full
    * window the operator exists to avoid).
    */
  def cpSampleApprox(spark: SparkSession, sfDir: String): DataFrame = {
    val h = CrossHash.md5Long(
      concat(lit("sample-v1:"), col("doc_id").cast("string")))
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("source"), h.as("h"))
    val pct = SamplePct.toDouble / 100.0
    val pLo = (pct - SampleApproxDelta) max 0.0
    val pHi = (pct + SampleApproxDelta) min 1.0
    val stats = d.groupBy(col("source")).agg(
      count(lit(1)).as("n"),
      expr(s"approx_percentile(h, $pLo, $SampleApproxAccuracy)").as("t_lo"),
      expr(s"approx_percentile(h, $pHi, $SampleApproxAccuracy)").as("t_hi"))
      .withColumn("quota", expr(s"(n * $SamplePct + 99) div 100"))
    val joined = d.join(broadcast(stats), "source")
    val gated = joined.groupBy(col("source")).agg(
      sum(when(col("h") <= col("t_lo"), 1L).otherwise(0L)).as("c_lo"),
      sum(when(col("h") <= col("t_hi"), 1L).otherwise(0L)).as("c_hi"))
      .join(broadcast(stats), "source")
      // the gate: estimates must bracket the quota, else exact fallback
      // (no core, everything sliver) for that source
      .withColumn("ok", col("c_lo") <= col("quota") &&
        col("c_hi") >= col("quota"))
      .select(col("source"), col("quota"),
        when(col("ok"), col("t_lo")).otherwise(lit(Long.MinValue))
          .as("cut_lo"),
        when(col("ok"), col("t_hi")).otherwise(lit(Long.MaxValue))
          .as("cut_hi"),
        when(col("ok"), col("c_lo")).otherwise(lit(0L)).as("core_n"))
    val withCuts = d.join(broadcast(gated), "source")
    val core = withCuts.filter(col("h") <= col("cut_lo"))
      .select(col("doc_id"), col("source"), col("quota"))
    val sliverW = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val sliver = withCuts
      .filter(col("h") > col("cut_lo") && col("h") <= col("cut_hi"))
      .withColumn("srk", row_number().over(sliverW).cast("long"))
      .filter(col("srk") <= col("quota") - col("core_n"))
      .select(col("doc_id"), col("source"), col("quota"))
    core.unionByName(sliver).orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------------
  // cp_curate — the end-to-end curation pipeline as ONE query
  // ------------------------------------------------------------------

  /** The whole curation pass composed: canonical-form digest
    * ([[normExpr]]) → quality keep ([[graft.operators.Filters
    * .keepExpr]]) → exact-dedup survivor election among kept docs
    * (min doc_id per digest) → split assignment ([[splitBucketExpr]])
    * → per-(split, source) audit of doc and token counts. One query a
    * user runs to see what a curation run would ship, built entirely
    * from the operators' shared expressions — no logic exists only
    * here.
    *
    * Scale shape: everything per-row until the survivor groupBy
    * (partial-agg'd, one row per distinct digest) and the digest
    * equi-join back; the final audit aggregate is tiny (splits ×
    * sources).
    */
  def cpCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"),
        TextAnalysis.tokens(lower(col("text"))).as("toks"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        graft.operators.Filters.keepExpr(col("text"), col("toks"))
          .as("keep"),
        md5(normExpr(col("text"))).as("dg"),
        splitLabelExpr(splitBucketExpr(col("doc_id"))).as("split"))
    val surv = base.filter(col("keep"))
      .groupBy(col("dg")).agg(min(col("doc_id")).as("sid"))
    val isSurvivor = col("keep") && col("sid") === col("doc_id")
    base.join(surv, Seq("dg"), "left")
      .groupBy(col("split"), col("source"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("docs_kept"),
        sum(when(isSurvivor, 1L).otherwise(0L)).as("survivors"),
        sum(when(isSurvivor, col("n_tokens")).otherwise(0L))
          .as("tokens_out"))
      .orderBy(col("split"), col("source"))
  }

  lazy val cpCurateSql: String = s"""
WITH base AS (
  SELECT doc_id, source,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      AS n_tokens,
    ${graft.operators.Filters.keepSqlExpr} AS keep,
    md5($normSqlExpr) AS dg,
    $splitLabelSql AS split
  FROM documents
), surv AS (
  SELECT dg, MIN(doc_id) AS sid FROM base WHERE keep GROUP BY dg
)
SELECT b.split, b.source,
  COUNT(*) AS docs_in,
  CAST(SUM(CASE WHEN b.keep THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
  CAST(SUM(CASE WHEN b.keep AND s.sid = b.doc_id THEN 1 ELSE 0 END)
    AS BIGINT) AS survivors,
  CAST(SUM(CASE WHEN b.keep AND s.sid = b.doc_id THEN b.n_tokens ELSE 0 END)
    AS BIGINT) AS tokens_out
FROM base b LEFT JOIN surv s ON s.dg = b.dg
GROUP BY b.split, b.source ORDER BY b.split, b.source"""

  // ------------------------------------------------------------------
  // cp_scrub_spans — remove corpus-duplicated spans, reassemble docs
  // ------------------------------------------------------------------

  /** Span width (tokens) and the occurrence threshold that marks a
    * span as boilerplate. Matches [[Dedup.ddSpans]]' audit width, so
    * the audit's findings are exactly what this operator scrubs.
    */
  lazy val ScrubN: Int = Dedup.SpanN
  val ScrubMinOccurrences = 2

  /** The C4-style substring-level scrub [[Dedup.ddSpans]] audits for:
    * every word-[[ScrubN]]-gram occurring ≥ [[ScrubMinOccurrences]]
    * times corpus-wide is boilerplate; ALL tokens covered by any such
    * span are removed (every occurrence — the conservative contract;
    * a keep-first variant is one additional window), and each doc is
    * reassembled from its surviving tokens in original order.
    *
    * Shape: positions ride `posexplode`, the occurrence count is a
    * COUNT(*) window over the 60-bit gram hash (the dd_spans form —
    * identity hashing, never mod-P, and no per-consumer re-explode),
    * covered positions resolve by a (doc, pos) anti-join, and the
    * reassembly is an order-pinned `array_sort(collect_list(struct))`
    * — every shuffle ∝ the token stream, nothing is quadratic.
    * Emits counts + md5/length of the scrubbed text, not the text —
    * the downstream contract is content-addressable.
    */
  /** The scrub tier's shared streams — tokenized docs (doc_id, toks),
    * the token stream (doc_id, i, tok), and the positional gram-hash
    * stream (doc_id, gpos, h). Text is read and hashed ONCE per
    * consumer query; every scrub variant differs only in which gram
    * WINDOWS it marks for removal.
    */
  private def scrubStreams(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val n = ScrubN
    val d = docs(spark, sfDir)
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
    val tokRows = d.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("i", "tok")))
    // every gram hash in position order via ONE expression eval per
    // row (posexplode index = start token) — the interpreted
    // per-gram concat lambda + post-explode md5 alternative measured
    // 1.84 s vs 1.28 s at sf0.1 (the cp_decontam promotion,
    // positional variant; CorpusSpec pins the twin)
    val gramRows = docs(spark, sfDir).select(col("doc_id"),
      posexplode(graft.functions.WordGramHashes
        .gramsAll(lower(col("text")), n, modded = false))
        .as(Seq("gpos", "h")))
    (d, tokRows, gramRows)
  }

  /** Shared scrub core — tokenized docs (doc_id, toks), the token
    * stream (doc_id, i, tok), and the DISTINCT covered positions
    * (doc_id, i) of every ≥[[ScrubMinOccurrences]]-occurrence
    * word-[[ScrubN]]-gram. ONE copy for the flat scrub
    * ([[cpScrubSpans]]) and the maximal-span form
    * ([[cpScrubMaximal]]); the two queries differ only in how they
    * REPORT the identical covered set.
    */
  private def scrubCore(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val n = ScrubN
    val (d, tokRows, gramRows) = scrubStreams(spark, sfDir)
    // occurrence counts as a window over h: text is read and hashed
    // ONCE, and the one shuffle carries the (doc, pos, hash) stream.
    // The groupBy-heavy-set + broadcast-join-back alternative narrows
    // the shuffle to bare hashes but needs a SECOND full gram pass
    // (re-scan + re-hash of every document) — measured slower here
    // (1.42 s vs 1.28 s at sf0.1) and strictly worse at 100 TB, where
    // the corpus scan dominates everything (the dd_spans conclusion)
    val cnt = count(lit(1)).over(Window.partitionBy(col("h")))
    val covered = gramRows.withColumn("cnt", cnt)
      .filter(col("cnt") >= ScrubMinOccurrences)
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("i"))
      .distinct()
    (d, tokRows, covered)
  }

  /** Shared report tail — kept-token reassembly (order-pinned
    * collect) + the per-doc count/hash columns. Identical output
    * shape for every scrub REMOVAL policy.
    */
  private def scrubReport(d: DataFrame, tokRows: DataFrame,
      covered: DataFrame): DataFrame = {
    val kept = tokRows.join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("tok")))),
          s => s.getField("tok"))).as("s"))
    d.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        length(coalesce(col("s"), lit(""))).cast("int").as("scrubbed_chars"),
        md5(coalesce(col("s"), lit(""))).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  def cpScrubSpans(spark: SparkSession, sfDir: String): DataFrame = {
    val (d, tokRows, covered) = scrubCore(spark, sfDir)
    scrubReport(d, tokRows, covered)
  }

  /** Oracle twin of [[scrubStreams]] — the shared `d` / `tokrows` /
    * `grams` / `hg` CTE prefix, ONE copy for every scrub variant.
    */
  private lazy val scrubStreamCtesSql: String = {
    val n = ScrubN
    val gram = (0 until n).map(k => s"t[j+$k]").mkString(" || ' ' || ")
    s"""d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), tokrows AS (
  SELECT doc_id, unnest(range(0, len(t))) AS i, unnest(t) AS tok FROM d
), grams AS (
  SELECT doc_id, unnest(range(0, greatest(len(t) - ${n - 1}, 0))) AS gpos,
    unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
      j -> $gram)) AS gram
  FROM d
), hg AS (
  SELECT doc_id, gpos, ${md5LongSql("gram")} AS h FROM grams
)"""
  }

  /** Oracle twin of [[scrubCore]] — [[scrubStreamCtesSql]] plus the
    * all-occurrences `marked` / `cov` covered set, ONE copy for the
    * flat scrub and the maximal-span report.
    */
  private lazy val scrubCtesSql: String = {
    val n = ScrubN
    s"""$scrubStreamCtesSql, marked AS (
  SELECT doc_id, gpos, COUNT(*) OVER (PARTITION BY h) AS cnt FROM hg
), cov AS (
  SELECT DISTINCT m.doc_id, m.gpos + r.off AS i
  FROM marked m, range(0, $n) r(off)
  WHERE m.cnt >= $ScrubMinOccurrences
)"""
  }

  /** Oracle twin of [[scrubReport]] over a covered-positions CTE —
    * the kept/reassemble tail every scrub variant shares.
    */
  private def scrubReportSql(cov: String): String = s"""kept AS (
  SELECT t.doc_id, t.i, t.tok FROM tokrows t
  LEFT JOIN $cov c ON c.doc_id = t.doc_id AND c.i = t.i
  WHERE c.doc_id IS NULL
), ka AS (
  SELECT doc_id, COUNT(*) AS n_kept,
    string_agg(tok, ' ' ORDER BY i) AS s
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
  CAST(len(d.t) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
  CAST(length(COALESCE(ka.s, '')) AS INTEGER) AS scrubbed_chars,
  md5(COALESCE(ka.s, '')) AS scrubbed_md5
FROM d LEFT JOIN ka USING (doc_id) ORDER BY d.doc_id"""

  lazy val cpScrubSpansSql: String =
    s"""
WITH $scrubCtesSql, ${scrubReportSql("cov")}"""

  // ------------------------------------------------------------------
  // cp_scrub_maximal — coalesce duplicated grams into MAXIMAL spans
  // ------------------------------------------------------------------

  /** The Lee-et-al exact-substring-dedup reporting contract on the
    * same covered set: adjacent/overlapping duplicated
    * word-[[ScrubN]]-grams are coalesced into MAXIMAL per-doc spans
    * BEFORE removal, so a repeated passage excises as ONE span
    * (start–end) instead of a pile of overlapping gram windows — the
    * structure an engineer audits ("what passages got cut?") and the
    * unit a keep-first policy would operate on. The covered TOKEN set
    * is identical to [[cpScrubSpans]] by construction (a union of
    * intervals equals the union of its coalesced intervals), so
    * n_removed and the reassembled text hash match the flat scrub
    * row for row — CorpusSpec pins both, plus the one-span excision.
    *
    * Shape: span coalescing is the classic gaps-and-islands rewrite —
    * island id = i − row_number() over (doc, i) — so the only step on
    * top of the shared [[scrubCore]] is a per-doc window over COVERED
    * positions (bounded by doc length, partitioned by doc_id: no
    * global window, nothing quadratic) and two doc-grain groupBys.
    * Span strings assemble inside the aggregate via the order-pinned
    * `array_sort(collect_list(struct))` idiom.
    */
  def cpScrubMaximal(spark: SparkSession, sfDir: String): DataFrame = {
    val (d, tokRows, covered) = scrubCore(spark, sfDir)
    val wIsl = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = covered
      .withColumn("isl", col("i") - row_number().over(wIsl))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("s"), max(col("i")).as("e"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("e") - col("s") + 1).cast("long").as("n_removed"),
        concat_ws(";", transform(
          array_sort(collect_list(struct(col("s"), col("e")))),
          t => concat(t.getField("s").cast("string"), lit("-"),
            t.getField("e").cast("string")))).as("spans"))
    val kept = tokRows.join(covered, Seq("doc_id", "i"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("i"), col("tok")))),
        s => s.getField("tok"))).as("s2"))
    d.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("spans"), lit("")).as("spans"),
        md5(coalesce(col("s2"), lit(""))).as("scrubbed_md5"))
      .orderBy(col("doc_id"))
  }

  lazy val cpScrubMaximalSql: String = s"""
WITH $scrubCtesSql, isl AS (
  SELECT doc_id, i,
    i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
  FROM cov
), spans AS (
  SELECT doc_id, isl, MIN(i) AS s, MAX(i) AS e
  FROM isl GROUP BY doc_id, isl
), perdoc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
    CAST(SUM(e - s + 1) AS BIGINT) AS n_removed,
    string_agg(s || '-' || e, ';' ORDER BY s) AS spans
  FROM spans GROUP BY doc_id
), kept AS (
  SELECT t.doc_id, t.i, t.tok FROM tokrows t
  LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.i = t.i
  WHERE c.doc_id IS NULL
), ka AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS s2
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
  CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(p.n_removed, 0) AS BIGINT) AS n_removed,
  COALESCE(p.spans, '') AS spans,
  md5(COALESCE(ka.s2, '')) AS scrubbed_md5
FROM d LEFT JOIN perdoc p USING (doc_id) LEFT JOIN ka USING (doc_id)
ORDER BY d.doc_id"""

  // ------------------------------------------------------------------
  // cp_scrub_keepfirst — keep ONE occurrence of each duplicated span
  // ------------------------------------------------------------------

  /** The keep-first removal policy — what Lee et al.'s exact substring
    * dedup actually does (and the variant [[cpScrubSpans]]' contract
    * note promises): a duplicated word-[[ScrubN]]-gram's FIRST
    * corpus-wide occurrence (smallest (doc_id, gpos) — a total order:
    * the pair is unique per gram row) KEEPS its window; every later
    * occurrence's window is removed. Content survives exactly once
    * instead of vanishing corpus-wide — the policy a training-corpus
    * curator wants when boilerplate is still *information* the first
    * time it appears.
    *
    * One delta from the flat scrub's plan: the marking window gains an
    * ORDER BY ((doc_id, gpos) inside the same PARTITION BY h), turning
    * COUNT(*) into row_number() — occurrence rank ≥ 2 ⟹ scrub. Same
    * single (doc, pos, hash) shuffle, same anti-join + reassembly tail
    * ([[scrubReport]], one copy). A position covered by a LATER
    * occurrence of one gram but only first occurrences of others is
    * still removed (the union-of-marked-windows contract, unchanged).
    *
    * Scale note: ORDER BY inside the h-partition makes the window a
    * sort-window rather than an unbounded aggregate, but the partition
    * is the gram's occurrence list — bounded by that gram's corpus
    * frequency, and the heavy tail is exactly the boilerplate this
    * operator exists to find (C4 caps nothing here either; a guard
    * would be the LshMaxBucket pattern if a soak ever showed the
    * sort-partition cliff).
    */
  def cpScrubKeepFirst(spark: SparkSession, sfDir: String): DataFrame = {
    val n = ScrubN
    val (d, tokRows, gramRows) = scrubStreams(spark, sfDir)
    val wOcc = Window.partitionBy(col("h"))
      .orderBy(col("doc_id"), col("gpos"))
    // occurrence rank ≥ ScrubMinOccurrences ⟺ "not the first
    // occurrence" while the threshold is 2 — the SAME constant the
    // flat scrub counts against, so the documented "identical marked
    // grams minus first occurrences" relationship (CorpusSpec's
    // dominance pin) is coupled to it by construction, not by a
    // duplicated literal
    val covered = gramRows.withColumn("occ", row_number().over(wOcc))
      .filter(col("occ") >= ScrubMinOccurrences)
      .select(col("doc_id"),
        explode(sequence(col("gpos"), col("gpos") + (n - 1))).as("i"))
      .distinct()
    scrubReport(d, tokRows, covered)
  }

  lazy val cpScrubKeepFirstSql: String = {
    val n = ScrubN
    s"""
WITH $scrubStreamCtesSql, markedk AS (
  SELECT doc_id, gpos, row_number() OVER (PARTITION BY h
    ORDER BY doc_id, gpos) AS occ
  FROM hg
), covk AS (
  SELECT DISTINCT m.doc_id, m.gpos + r.off AS i
  FROM markedk m, range(0, $n) r(off)
  WHERE m.occ >= $ScrubMinOccurrences
), ${scrubReportSql("covk")}"""
  }

  // ------------------------------------------------------------------
  // cp_shuffle — deterministic global training order (two-pass rank)
  // ------------------------------------------------------------------

  /** Range-shard count for the distributed rank; the shard id is
    * `ord div ShuffleShardWidth`, a RANGE of the order key — so shard
    * order IS global order and per-shard ranks + shard offsets
    * compose into an exact global position.
    */
  val ShuffleShards = 32
  val ShuffleShardWidth: Long = (1L << 60) / ShuffleShards

  /** Salted 60-bit order key — the deterministic "shuffle" every
    * epoch-reproducible training run orders by (new salt ⇒ new
    * permutation).
    */
  def shuffleOrdExpr(id: Column): Column =
    CrossHash.md5Long(concat(lit("shuffle-v1:"), id.cast("string")))
  lazy val shuffleOrdSql: String = md5LongSql("('shuffle-v1:' || doc_id)")

  /** Deterministic global shuffle order WITHOUT a global sort: the
    * classic zip-with-global-index decomposition. Pass 1 counts docs
    * per ord-range shard (tiny: [[ShuffleShards]] rows, whose
    * running-offset window is the only single-partition step — over
    * 32 rows, not the corpus); pass 2 ranks within each shard on a
    * hash-partitioned window and adds the broadcast offset. A naive
    * `row_number() OVER (ORDER BY ord)` serializes the entire corpus
    * through one task — the cp_pack lesson, solved the same way.
    *
    * Because shards are RANGES of ord, per-shard rank + offset equals
    * the global rank exactly — the oracle's one-window form proves it
    * on every row.
    */
  def cpShuffle(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), shuffleOrdExpr(col("doc_id")).as("ord"))
      .withColumn("shard", expr(s"ord div $ShuffleShardWidth"))
    val offsets = d.groupBy(col("shard")).agg(count(lit(1)).as("cnt"))
      .withColumn("offset", coalesce(
        sum(col("cnt")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("shard"), col("offset"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
    d.withColumn("r", row_number().over(w))
      .join(broadcast(offsets), Seq("shard"))
      .select(col("doc_id"), col("ord"),
        (col("offset") + col("r")).as("global_pos"))
      .orderBy(col("global_pos"))
  }

  lazy val cpShuffleSql: String = s"""
WITH o AS (
  SELECT doc_id, $shuffleOrdSql AS ord FROM documents
)
SELECT doc_id, ord,
  CAST(row_number() OVER (ORDER BY ord, doc_id) AS BIGINT) AS global_pos
FROM o ORDER BY global_pos"""

  // ------------------------------------------------------------------
  // cp_shard_balance — shard-layout balance audit
  // ------------------------------------------------------------------

  /** The balance audit over [[cpPackSharded]]'s layout: per-shard doc
    * and token loads rolled up to the numbers that predict straggler
    * tasks — shard count, min/max/mean tokens per shard, the max/mean
    * skew ratio ([[Analytics.profSkew]]'s metric applied to the
    * layout the engine itself produced), and windows used. One audit
    * row; a skew ratio near 1 means the doc_id-range sharding is
    * load-balanced, and a high one says re-shard before training.
    *
    * PURE composition off the sharded-pack relation (one copy of the
    * layout semantics); the roll-up is shard-bounded.
    */
  def cpShardBalance(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val perShard = cpPackSharded(spark, sfDir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"),
        countDistinct(col("pack_id")).as("packs"))
    perShard.agg(
      count(lit(1)).as("n_shards"),
      sum(col("docs")).as("docs"),
      sum(col("tokens")).as("tokens"),
      sum(col("packs")).as("packs"),
      min(col("tokens")).as("min_shard_tokens"),
      max(col("tokens")).as("max_shard_tokens"))
      .select(col("n_shards"), col("docs"), col("tokens"), col("packs"),
        col("min_shard_tokens"), col("max_shard_tokens"),
        r6(col("tokens").cast("double") / col("n_shards"))
          .as("mean_shard_tokens"),
        r6(col("max_shard_tokens").cast("double") * col("n_shards") /
          col("tokens")).as("skew_ratio"))
  }

  lazy val cpShardBalanceSql: String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH pack AS (
  ${cpPackShardedSql.replace("\n", "\n  ")}
), per_shard AS (
  SELECT shard, COUNT(*) AS docs,
    CAST(SUM(n_tokens) AS BIGINT) AS tokens,
    COUNT(DISTINCT pack_id) AS packs
  FROM pack GROUP BY shard
)
SELECT COUNT(*) AS n_shards,
  CAST(SUM(docs) AS BIGINT) AS docs,
  CAST(SUM(tokens) AS BIGINT) AS tokens,
  CAST(SUM(packs) AS BIGINT) AS packs,
  MIN(tokens) AS min_shard_tokens,
  MAX(tokens) AS max_shard_tokens,
  ${r6Sql("(CAST(SUM(tokens) AS DOUBLE) / COUNT(*))")}
    AS mean_shard_tokens,
  ${r6Sql("(CAST(MAX(tokens) AS DOUBLE) * COUNT(*) / SUM(tokens))")}
    AS skew_ratio
FROM per_shard"""
  }

  // ------------------------------------------------------------------
  // cp_curriculum — quality-tercile curriculum phase assignment
  // ------------------------------------------------------------------

  /** Number of curriculum phases (quality terciles). */
  val CurriculumPhases = 3

  /** Curriculum-learning phase assignment: the corpus split into
    * quality terciles by EXACT rank over [[TextAnalysis.taQuality]]'s
    * composite score (one copy of the score — this operator embeds the
    * quality query, it never re-derives the formula). Phase 1 = lowest
    * tercile, 3 = highest; a run trains phases in either direction —
    * the assignment is the artifact. Boundary ties share a score value
    * and land in one phase (value-based cut, deterministic on both
    * engines; sizes then deviate from n/3 by the tie mass only).
    *
    * Scores quantize to exact micro-units (they are r6-rounded, so
    * ×1e6 is integer-valued), making every downstream sum exact — the
    * float-mean trap never opens. Thresholds come from the rank-ceil
    * [[ExactRank]] rule over the (score, count) relation (bounded by
    * distinct scores); the doc relation is cached for its two
    * consumers (threshold build + phase assignment).
    */
  def cpCurriculum(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val q = TextAnalysis.taQuality(spark, sfDir)
      .select(col("doc_id"), col("words").cast("long").as("words"),
        round(col("quality_score") * 1000000).cast("long").as("score_micro"))
      .cache()
    val g = q.groupBy(col("score_micro")).agg(count(lit(1)).as("cnt"))
    val cum = Window.orderBy(col("score_micro"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val thr = g.withColumn("cum", sum(col("cnt")).over(cum))
      .withColumn("n", sum(col("cnt")).over(full))
      .agg(
        ExactRank.valueAt(1, CurriculumPhases, "n", col("score_micro"))
          .as("t1"),
        ExactRank.valueAt(2, CurriculumPhases, "n", col("score_micro"))
          .as("t2"))
    q.crossJoin(broadcast(thr))
      .withColumn("phase",
        when(col("score_micro") <= col("t1"), 1)
          .when(col("score_micro") <= col("t2"), 2).otherwise(3))
      .groupBy(col("phase"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("words")).as("tokens"),
        r6(min(col("score_micro")).cast("double") / 1000000.0)
          .as("min_score"),
        r6(max(col("score_micro")).cast("double") / 1000000.0)
          .as("max_score"),
        r6(sum(col("score_micro")).cast("double") / 1000000.0 /
          count(lit(1))).as("mean_score"))
      .orderBy(col("phase"))
  }

  def cpCurriculumSql: String = {
    import graft.functions.Determinism.r6Sql
    val qualitySub = TextAnalysis.taQualitySql
    s"""
WITH q AS (
  SELECT doc_id, CAST(words AS BIGINT) AS words,
    CAST(round(quality_score * 1000000) AS BIGINT) AS score_micro
  FROM ($qualitySub)
), g AS (
  SELECT score_micro, COUNT(*) AS cnt FROM q GROUP BY score_micro
), cw AS (
  SELECT score_micro, cnt,
    SUM(cnt) OVER (ORDER BY score_micro ROWS UNBOUNDED PRECEDING) AS cum,
    SUM(cnt) OVER () AS n
  FROM g
), thr AS (
  SELECT
    ${ExactRank.valueAtSql(1, CurriculumPhases, "n", "score_micro")} AS t1,
    ${ExactRank.valueAtSql(2, CurriculumPhases, "n", "score_micro")} AS t2
  FROM cw
), p AS (
  SELECT q.*,
    CASE WHEN score_micro <= t1 THEN 1
         WHEN score_micro <= t2 THEN 2 ELSE 3 END AS phase
  FROM q CROSS JOIN thr
)
SELECT phase, COUNT(*) AS n_docs,
  CAST(SUM(words) AS BIGINT) AS tokens,
  ${r6Sql("(CAST(MIN(score_micro) AS DOUBLE) / 1000000.0)")} AS min_score,
  ${r6Sql("(CAST(MAX(score_micro) AS DOUBLE) / 1000000.0)")} AS max_score,
  ${r6Sql(
      "(CAST(SUM(score_micro) AS DOUBLE) / 1000000.0 / COUNT(*))")}
    AS mean_score
FROM p GROUP BY phase ORDER BY phase"""
  }

  // ------------------------------------------------------------------
  // cp_frag — packing-fragmentation curve per candidate context length
  // ------------------------------------------------------------------

  /** Candidate window lengths for the fragmentation readout. */
  val FragLens: Seq[Long] = Seq(256L, 512L, 1024L, 2048L)

  /** [[cpTruncation]]'s packing sibling: under concatenate-then-chunk
    * ([[cpPack]]'s layout), how many documents straddle a window
    * boundary at each candidate context length — the
    * attention-fragmentation cost a run weighs against the larger
    * ctx's compute. A doc crosses `(start+n−1) div L − start div L`
    * boundaries; that and every other column are exact BIGINTs from
    * cpPack's running offsets (ONE copy of packing semantics — this
    * operator never re-derives the layout).
    *
    * Shape: cpPack's relation through a [[FragLens]]-way stack Expand
    * into a cells-bounded agg (the cp_truncation/ev_cube family). The
    * Expand rides cpPack's single-partition window locally; at 100 TB
    * the same readout runs off [[cpPackSharded]]'s offsets.
    */
  def cpFrag(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val stacked = FragLens.map(l =>
      s"${l}L, ((start_off + n_tokens - 1) div ${l}L) - (start_off div ${l}L)")
      .mkString(", ")
    cpPack(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("start_off"))
      .select(col("n_tokens"), expr(
        s"stack(${FragLens.size}, $stacked) AS (ctx_len, crossings)"))
      .groupBy(col("ctx_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("crossings") > 0, 1L).otherwise(0L)).as("docs_split"),
        sum(col("crossings")).as("boundary_crossings"),
        sum(col("n_tokens")).as("tokens_total"))
      .select(col("ctx_len"), col("n_docs"), col("docs_split"),
        col("boundary_crossings"),
        expr("(tokens_total + ctx_len - 1) div ctx_len").as("windows_used"),
        r6(col("docs_split").cast("double") / col("n_docs"))
          .as("split_share"))
      .orderBy(col("ctx_len"))
  }

  lazy val cpFragSql: String = {
    import graft.functions.Determinism.r6Sql
    val cells = FragLens.map(l =>
      s"""SELECT CAST(${l} AS BIGINT) AS ctx_len,
    ((start_off + n_tokens - 1) // ${l}) - (start_off // ${l}) AS crossings,
    n_tokens
  FROM pack""").mkString("\nUNION ALL\n")
    s"""
WITH pack AS (
  ${cpPackSql.replace("\n", "\n  ")}
), cells AS (
$cells
), g AS (
  SELECT ctx_len,
    COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN crossings > 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS docs_split,
    CAST(SUM(crossings) AS BIGINT) AS boundary_crossings,
    CAST(SUM(n_tokens) AS BIGINT) AS tokens_total
  FROM cells GROUP BY ctx_len
)
SELECT ctx_len, n_docs, docs_split, boundary_crossings,
  (tokens_total + ctx_len - 1) // ctx_len AS windows_used,
  ${r6Sql("(CAST(docs_split AS DOUBLE) / n_docs)")} AS split_share
FROM g ORDER BY ctx_len"""
  }

  // ------------------------------------------------------------------
  // cp_decontam_embed — semantic (embedding-space) decontamination
  // ------------------------------------------------------------------

  /** Eval-set membership for the embedding decontam audit: a
    * deterministic 10% of vectors stands in for a benchmark suite
    * (which would arrive as its own table; the operator only needs its
    * vectors). Coarser than [[EvalMod]] because the cosine audit wants
    * a non-degenerate eval side at every SF.
    */
  val EmbedEvalMod = 10L

  /** A corpus vector within this cosine of ANY eval vector is flagged.
    * 0.40 sits above the fixture's cross-pair p99.9 (~0.38) — a small,
    * non-empty contaminated set.
    */
  val EmbedDecontamMin = 0.40

  /** [[cpDecontam]]'s semantic sibling: n-gram overlap misses
    * paraphrased benchmark leakage, so this audits every corpus vector
    * for cosine proximity to the eval set in embedding space and
    * reports hit count + max similarity + the drop decision (audit-
    * shaped, not a silent filter).
    *
    * Scale shape: the eval side is benchmark-sized (constant), so the
    * corpus probes it through ONE broadcast nested-loop pass — a
    * map-side dot-product loop per corpus row, no shuffle of the
    * corpus at all; the per-vector hit aggregation is the only
    * exchange. This is the one join shape where BNLJ is the RIGHT
    * 100 TB plan (contrast [[Dedup.ddEmbedCosine]], where both sides
    * are corpus-sized and the block-matrix equi-join exists precisely
    * to avoid it). An IVF/LSH pre-filter would only approximate the
    * same audit for zero asymptotic gain.
    *
    * Cosine reuses the [[graft.functions.DotProduct]] left-to-right
    * fold and its [[CrossHash.dotSql]] twin, so the ≥-threshold filter
    * and max() agree bitwise with the oracle.
    */
  def cpDecontamEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val gdot = graft.functions.DotProduct.dot _
    val e = Similarity.base(spark, sfDir)
    val evalSide = e.filter(col("vec_id") % EmbedEvalMod === 0)
      .select(col("vec_id").as("eval_id"), col("v").as("ve"),
        col("nrm").as("ne"))
    val corpus = e.filter(col("vec_id") % EmbedEvalMod =!= 0)
    val hits = corpus.crossJoin(broadcast(evalSide))
      .select(col("vec_id"),
        (gdot(col("v"), col("ve")) / sqrt(col("nrm") * col("ne"))).as("c"))
      .filter(col("c") >= EmbedDecontamMin)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("eval_hits"), max(col("c")).as("mc"))
    corpus.select(col("vec_id"))
      .join(hits, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("eval_hits"), lit(0L)).as("eval_hits"),
        r6(col("mc")).as("max_cosine"),
        (coalesce(col("eval_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  lazy val cpDecontamEmbedSql: String = {
    import graft.functions.Determinism.r6Sql
    import graft.functions.CrossHash.dotSql
    s"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), ev AS (
  SELECT vec_id AS eval_id, v AS ve, nrm AS ne FROM n
  WHERE vec_id % $EmbedEvalMod = 0
), co AS (
  SELECT vec_id, v, nrm FROM n WHERE vec_id % $EmbedEvalMod <> 0
), p AS (
  SELECT co.vec_id,
    (${dotSql("co.v", "ev.ve")} / sqrt(co.nrm * ev.ne)) AS c
  FROM co CROSS JOIN ev
), h AS (
  SELECT vec_id, COUNT(*) AS eval_hits, MAX(c) AS mc
  FROM p WHERE c >= CAST($EmbedDecontamMin AS DOUBLE) GROUP BY vec_id
)
SELECT co.vec_id,
  COALESCE(h.eval_hits, CAST(0 AS BIGINT)) AS eval_hits,
  ${r6Sql("h.mc")} AS max_cosine,
  COALESCE(h.eval_hits, CAST(0 AS BIGINT)) > 0 AS contaminated
FROM co LEFT JOIN h ON h.vec_id = co.vec_id
ORDER BY co.vec_id"""
  }

  // ------------------------------------------------------------------
  // cp_epoch_plan — token-budget → per-source epoch/repeat planner
  // ------------------------------------------------------------------

  /** Global token budget the mixture is planned against. A constant of
    * the training run (like [[MixWeightsBp]]), not of the corpus.
    */
  val EpochTokenBudget = 2000000L

  /** The sizing readout a run does before launching: allocate the token
    * budget across sources by mixture weight, then express each
    * source's allocation in epochs over the tokens it actually has —
    * full passes, leftover tokens of the partial pass, and a
    * milli-epoch rate. Repeating a small high-weight source N times is
    * how published mixtures (e.g. Wikipedia upsampling) are realized;
    * this is the plan that drives it.
    *
    * All arithmetic is exact BIGINT (floor division) — no float ever
    * decides a row. Token counts use [[TextAnalysis.taTokens]]'s
    * ws_tokens definition (ONE copy of the semantics).
    *
    * Scale shape: one partial-agg'd shuffle of per-source count rows;
    * the weight-sum is a full-frame window over the per-source rows
    * (bounded by the source count — a separate `.agg` branch would
    * re-run the whole scan+agg subtree, the duplicate-subtree trap;
    * plan audit measured 2 scans → 1) — nothing downstream scales
    * with corpus size.
    */
  def cpEpochPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    docs(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("tk")).as("src_tokens"))
      .withColumn("weight_bp", mixWeightExpr)
      .withColumn("wsum", sum(col("weight_bp")).over(whole))
      .withColumn("target_tokens",
        expr(s"($EpochTokenBudget * weight_bp) div wsum"))
      .select(col("source"), col("weight_bp"), col("docs"),
        col("src_tokens"), col("target_tokens"),
        expr("CASE WHEN src_tokens > 0 THEN target_tokens div src_tokens" +
          " END").as("full_epochs"),
        expr("CASE WHEN src_tokens > 0 THEN target_tokens % src_tokens" +
          " END").as("rem_tokens"),
        expr("CASE WHEN src_tokens > 0 THEN" +
          " (target_tokens * 1000) div src_tokens END").as("epochs_x1000"))
      .orderBy(col("source"))
  }

  lazy val cpEpochPlanSql: String = s"""
WITH per_src AS (
  SELECT source,
    COUNT(*) AS docs,
    CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
      AS src_tokens,
    $mixWeightSql AS weight_bp
  FROM documents GROUP BY source
), w AS (
  SELECT CAST(SUM(weight_bp) AS BIGINT) AS wsum FROM per_src
), t AS (
  SELECT p.*, (($EpochTokenBudget * p.weight_bp) // w.wsum)
    AS target_tokens
  FROM per_src p CROSS JOIN w
)
SELECT source, weight_bp, docs, src_tokens, target_tokens,
  CASE WHEN src_tokens > 0 THEN target_tokens // src_tokens END
    AS full_epochs,
  CASE WHEN src_tokens > 0 THEN target_tokens % src_tokens END
    AS rem_tokens,
  CASE WHEN src_tokens > 0 THEN (target_tokens * 1000) // src_tokens END
    AS epochs_x1000
FROM t ORDER BY source"""

  // ------------------------------------------------------------------
  // cp_split_leakage — train/val/test near-duplicate contamination
  // ------------------------------------------------------------------

  /** Cross-split near-duplicate leakage census: for each split, how
    * many of its documents have an LSH-verified near-duplicate in a
    * DIFFERENT split — the train/eval contamination audit every
    * held-out set needs before its numbers can be trusted (a val doc
    * whose near-twin is in train measures memorization, not
    * generalization). PURE composition: the pair stream IS
    * [[graft.operators.Dedup.ddMinhashLsh]] and the assignment IS
    * [[cpSplit]]'s hash split — one copy of each semantics; the
    * oracle embeds their SQL the same way.
    *
    * Shape: pairs are LSH-bounded (banded equi-join, nothing
    * quadratic), mirrored once to edge grain (2×pairs), split tags
    * are equi-joins on doc_id, and the census is a 3-row aggregate —
    * at 100 TB every stage is a shuffle on doc_id or a bounded
    * groupBy, the same posture as dd_dup_sources.
    */
  def cpSplitLeakage(spark: SparkSession, sfDir: String): DataFrame =
    cpSplitLeakageCfg(spark, sfDir, None)

  /** [[cpSplitLeakage]] with the LSH bucket cap threaded into its pair
    * source (see [[graft.operators.Dedup.ddClustersCapped]] for the
    * mega-bucket semantics) — the hook a clique-heavy deployment
    * flips; the shipped query pins `None` for the oracle.
    */
  private[graft] def cpSplitLeakageCfg(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    import graft.functions.Determinism.r6
    val split = cpSplit(spark, sfDir).select(col("doc_id"), col("split"))
    val pairs = Dedup.ddMinhashLshCfg(spark, sfDir,
        Dedup.Bands, Dedup.R, maxBucket)
      .select(col("doc_a"), col("doc_b"))
    val edges = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
      .unionByName(pairs
        .select(col("doc_b").as("doc_id"), col("doc_a").as("other")))
    val leaked = edges
      .join(split, "doc_id")
      .join(split.select(col("doc_id").as("other"),
        col("split").as("other_split")), "other")
      .filter(col("split") =!= col("other_split"))
      .select(col("doc_id"), col("split")).distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
    split.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        r6(coalesce(col("n_leaked"), lit(0L)).cast("double") /
          col("n_docs")).as("leak_rate"))
      .orderBy(col("split"))
  }

  /** Leakage census over ANY LSH pair body — ONE copy, shared by the
    * uncapped and bucket-capped variants (the Dedup fragment
    * discipline).
    */
  private def cpSplitLeakageSqlOf(lshSql: String): String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH lsh AS (
  ${lshSql.replace("\n", "\n  ")}
), splits AS (
  SELECT doc_id, $splitLabelSql AS split FROM documents
), edges AS (
  SELECT doc_a AS doc_id, doc_b AS other FROM lsh
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS other FROM lsh
), leaked AS (
  SELECT s.split, COUNT(DISTINCT e.doc_id) AS n_leaked
  FROM edges e
  JOIN splits s ON s.doc_id = e.doc_id
  JOIN splits o ON o.doc_id = e.other
  WHERE s.split <> o.split
  GROUP BY s.split
), totals AS (
  SELECT split, COUNT(*) AS n_docs FROM splits GROUP BY split
)
SELECT t.split, t.n_docs,
  CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
  ${r6Sql("(CAST(COALESCE(l.n_leaked, 0) AS DOUBLE) / t.n_docs)")}
    AS leak_rate
FROM totals t LEFT JOIN leaked l ON l.split = t.split
ORDER BY t.split"""
  }

  lazy val cpSplitLeakageSql: String =
    cpSplitLeakageSqlOf(Dedup.ddMinhashLshSql)

  /** [[cpSplitLeakage]] on the bucket-capped pair stream — the shipped
    * form of [[cpSplitLeakageCfg]]: the train/eval leakage audit a
    * mega-bucket corpus can actually afford to run (the uncapped
    * stream is the family-size blowup measured in SCALE.md's
    * "Round-14: the pair-tier bucket guard"). Reading discipline: a
    * dropped mega-family no longer counts as leakage here — exact-hash
    * decontamination upstream owns byte-identical overlap, so the
    * capped audit reads strictly as NEAR-dup leakage.
    */
  def cpSplitLeakageCapped(spark: SparkSession, sfDir: String): DataFrame =
    cpSplitLeakageCfg(spark, sfDir, Some(Dedup.LshMaxBucket))

  lazy val cpSplitLeakageCappedSql: String =
    cpSplitLeakageSqlOf(Dedup.ddMinhashLshCappedSql)

  // ------------------------------------------------------------------
  // cp_dataset_card — the one-row dataset summary (the card a corpus
  // ships with)
  // ------------------------------------------------------------------

  /** One row answering "what is this dataset": volume (docs, sources,
    * languages, tokens), the dominant language and its share, the
    * exact-duplicate rate (distinct text digests), and the
    * quality-gate keep rate — every statistic reusing the shipped
    * semantics (token count = cp_stats/cp_epoch_plan's whitespace
    * fold; keep = [[graft.operators.Filters.keepExpr]], the ONE copy
    * of the rule set; dup digest = dd_sizes' md5 discipline).
    *
    * Shape: ONE corpus scan into a global aggregate (the three exact
    * COUNT(DISTINCT)s expand the scan ×4 — acceptable for a one-off
    * card; prof_summary_approx is the repeated-profiling path), plus
    * a languages-bounded groupBy for the argmax joined back as a
    * 1-row broadcast (the no-driver-count pattern; tie → smallest
    * lang). Output is exactly one row regardless of corpus size.
    */
  def cpDatasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    import graft.operators.TextAnalysis.tokens
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("toks", tokens(lower(col("text"))))
    val agg = d.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(size(col("toks")).cast("long")).as("total_tokens"),
      countDistinct(md5(col("text"))).as("n_unique_texts"),
      sum(when(Filters.keepExpr(col("text"), col("toks")), 1L)
        .otherwise(0L)).as("n_keep"))
    val top = d.groupBy(col("lang")).agg(count(lit(1)).as("top_n"))
      .orderBy(col("top_n").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("top_n"))
    agg.crossJoin(broadcast(top))
      .select(
        col("n_docs"), col("n_sources"), col("n_langs"), col("top_lang"),
        r6(col("top_n").cast("double") / col("n_docs"))
          .as("top_lang_share"),
        col("total_tokens"),
        r6(col("total_tokens").cast("double") / col("n_docs"))
          .as("avg_tokens"),
        r6(lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"))
          .as("dup_rate"),
        r6(col("n_keep").cast("double") / col("n_docs")).as("keep_rate"))
  }

  /** The repeated-profiling form of [[cpDatasetCard]]: identical row
    * shape, but the three exact COUNT(DISTINCT)s (source, lang, text
    * digest) become mergeable HyperLogLog++ sketches (rsd 0.02 — the
    * measured register knee, see
    * [[graft.operators.Analytics.profSummaryApprox]]), so the card is
    * ONE corpus scan into ONE ordinary hash aggregate with map-side
    * partials — no Expand ×4, no distinct re-keying of the corpus.
    * Every non-distinct statistic (docs, tokens, keep rate, the
    * languages-bounded top-lang argmax) stays exact, so only
    * n_sources/n_langs/n_unique_texts and the dup_rate derived from
    * the last carry sketch error. Not oracle-hashable (DuckDB's HLL
    * differs); CorpusSpec pins exact columns equal to the exact twin,
    * each approx within 2%, and no Expand in the plan.
    */
  def cpDatasetCardApprox(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    import graft.operators.TextAnalysis.tokens
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .withColumn("toks", tokens(lower(col("text"))))
    val agg = d.agg(
      count(lit(1)).as("n_docs"),
      approx_count_distinct(col("source"), 0.02).as("n_sources"),
      approx_count_distinct(col("lang"), 0.02).as("n_langs"),
      sum(size(col("toks")).cast("long")).as("total_tokens"),
      approx_count_distinct(md5(col("text")), 0.02).as("n_unique_texts"),
      sum(when(Filters.keepExpr(col("text"), col("toks")), 1L)
        .otherwise(0L)).as("n_keep"))
    val top = d.groupBy(col("lang")).agg(count(lit(1)).as("top_n"))
      .orderBy(col("top_n").desc, col("lang")).limit(1)
      .select(col("lang").as("top_lang"), col("top_n"))
    agg.crossJoin(broadcast(top))
      .select(
        col("n_docs"), col("n_sources"), col("n_langs"), col("top_lang"),
        r6(col("top_n").cast("double") / col("n_docs"))
          .as("top_lang_share"),
        col("total_tokens"),
        r6(col("total_tokens").cast("double") / col("n_docs"))
          .as("avg_tokens"),
        r6(lit(1.0) - col("n_unique_texts").cast("double") / col("n_docs"))
          .as("dup_rate"),
        r6(col("n_keep").cast("double") / col("n_docs")).as("keep_rate"))
  }

  lazy val cpDatasetCardSql: String = {
    import graft.functions.Determinism.r6Sql
    val words = "len(regexp_split_to_array(trim(text), '\\s+'))"
    s"""
WITH a AS (
  SELECT COUNT(*) AS n_docs,
    COUNT(DISTINCT source) AS n_sources,
    COUNT(DISTINCT lang) AS n_langs,
    CAST(SUM($words) AS BIGINT) AS total_tokens,
    COUNT(DISTINCT md5(text)) AS n_unique_texts,
    CAST(SUM(CASE WHEN ${Filters.keepSqlExpr} THEN 1 ELSE 0 END)
      AS BIGINT) AS n_keep
  FROM documents
), t AS (
  SELECT lang AS top_lang, COUNT(*) AS top_n FROM documents
  GROUP BY lang ORDER BY COUNT(*) DESC, lang LIMIT 1
)
SELECT n_docs, n_sources, n_langs, top_lang,
  ${r6Sql("(CAST(top_n AS DOUBLE) / n_docs)")} AS top_lang_share,
  total_tokens,
  ${r6Sql("(CAST(total_tokens AS DOUBLE) / n_docs)")} AS avg_tokens,
  ${r6Sql("(CAST(1.0 AS DOUBLE) - CAST(n_unique_texts AS DOUBLE) / n_docs)")}
    AS dup_rate,
  ${r6Sql("(CAST(n_keep AS DOUBLE) / n_docs)")} AS keep_rate
FROM a CROSS JOIN t"""
  }

  // ------------------------------------------------------------------
  // cp_length_sweep — minimum-length filter tuning table
  // ------------------------------------------------------------------

  /** Minimum-length cutoffs probed (chars). */
  val LengthCutoffs: Seq[Long] = Seq(64L, 128L, 256L, 512L, 1024L, 2048L)

  /** The tuning table for the corpus's very first knob: for each
    * minimum-length cutoff, how many docs and how much token mass a
    * `n_chars ≥ C` gate keeps — read before fixing the C that every
    * later stage inherits (the dd_cosine_sweep pattern applied to the
    * length filter).
    *
    * ONE corpus scan: all cutoffs fold as conditional sums in a single
    * aggregate (map-side combined), and the 6-row table is unpacked
    * from that one row — no per-cutoff pass, no explode of the corpus.
    * Counts exact; shares single r6 divisions.
    */
  def cpLengthSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val d = docs(spark, sfDir).select(col("n_chars"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val aggCols =
      count(lit(1)).as("n_docs") +:
      sum(col("n_tokens")).as("total_tokens") +:
      LengthCutoffs.flatMap(c => Seq(
        sum(when(col("n_chars") >= c, 1L).otherwise(0L)).as(s"k_$c"),
        sum(when(col("n_chars") >= c, col("n_tokens")).otherwise(0L))
          .as(s"t_$c")))
    val one = d.agg(aggCols.head, aggCols.tail: _*)
    one
      .select(explode(array(LengthCutoffs.map(c => struct(
        lit(c).as("min_chars"), col(s"k_$c").as("n_keep"),
        col(s"t_$c").as("tokens_kept"),
        col("n_docs").as("n_docs"), col("total_tokens").as("tt"))): _*))
        .as("r"))
      .select(col("r.min_chars").as("min_chars"),
        col("r.n_keep").as("n_keep"),
        r6(col("r.n_keep").cast("double") / col("r.n_docs"))
          .as("keep_rate"),
        col("r.tokens_kept").as("tokens_kept"),
        r6(col("r.tokens_kept").cast("double") / col("r.tt"))
          .as("token_share"))
      .orderBy(col("min_chars"))
  }

  lazy val cpLengthSweepSql: String = {
    import graft.functions.Determinism.r6Sql
    val sums = LengthCutoffs.flatMap(c => Seq(
      s"CAST(SUM(CASE WHEN n_chars >= $c THEN 1 ELSE 0 END) AS BIGINT) AS k_$c",
      s"CAST(SUM(CASE WHEN n_chars >= $c THEN n_tokens ELSE 0 END) AS BIGINT) AS t_$c"))
      .mkString(",\n    ")
    val rows = LengthCutoffs.map(c => s"""
SELECT CAST($c AS BIGINT) AS min_chars, k_$c AS n_keep,
  ${r6Sql(s"(CAST(k_$c AS DOUBLE) / n_docs)")} AS keep_rate,
  t_$c AS tokens_kept,
  ${r6Sql(s"(CAST(t_$c AS DOUBLE) / total_tokens)")} AS token_share
FROM one""").mkString("\nUNION ALL")
    s"""
WITH d AS (
  SELECT n_chars,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      AS n_tokens
  FROM documents
), one AS (
  SELECT COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens,
    $sums
  FROM d
)$rows
ORDER BY min_chars"""
  }

  // ------------------------------------------------------------------
  // cp_dedup_impact — per-family dedup impact census
  // ------------------------------------------------------------------

  /** What each shipped dedup family would cost the corpus: per family
    * (exact text, MinHash+LSH, SimHash, embedding cosine), the docs it
    * marks redundant and the token mass they carry, as counts and
    * corpus shares — the ONE table a data lead reads before choosing
    * which dedup passes to run at 100 TB (alongside
    * `dd_family_overlap`'s agreement view of the same streams).
    *
    * Redundancy semantics: a doc is redundant when a verified pair
    * partner with a SMALLER id exists (the pair streams already emit
    * `a < b`, so redundant = distinct right column) — the pair-local
    * election; `dd_clusters` owns the transitive-closure election.
    * Exact family = min-id survivor per identical text.
    *
    * PURE composition: the three pair streams ARE `dd_minhash_lsh`,
    * `dd_simhash_pairs`, `dd_embed_cosine` (the oracle embeds their
    * shipped SQL verbatim — the dd_family_overlap move), and the
    * token count is `cp_stats`' whitespace fold. Scale: each family
    * inherits its own documented posture; the census adds
    * redundant-set joins and a 1-row totals anchor.
    */
  def cpDedupImpact(spark: SparkSession, sfDir: String): DataFrame =
    cpDedupImpactCfg(spark, sfDir, None)

  /** [[cpDedupImpact]] with the LSH bucket cap threaded into the
    * minhash family's pair source — same hook discipline as
    * [[cpSplitLeakageCfg]]; the simhash and cosine families keep
    * their own documented postures.
    */
  private[graft] def cpDedupImpactCfg(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    import graft.functions.Determinism.r6
    // NOT cached (round-19 A/B negative): d feeds five consumers (the
    // totals anchor + four family censuses), and a micro A/B showed a
    // .cache() winning — but BOTH full-sweep runs showed it LOSING
    // (cp_dedup_impact +0.5–0.9 s, capped twin +0.7–1.1 s): the four
    // censuses are independent subtrees of one action, so without the
    // cache their scans run concurrently, while the cache serializes
    // everything behind one materialization barrier. The round-18
    // micro-vs-sweep warning, demonstrated.
    val d = docs(spark, sfDir).select(col("doc_id"),
      size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val totals = d.agg(count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"))
    val exact = docs(spark, sfDir)
      .select(col("doc_id"), min(col("doc_id"))
        .over(Window.partitionBy(md5(col("text")))).as("m"))
      .filter(col("doc_id") > col("m")).select(col("doc_id"))
    val mh = Dedup.ddMinhashLshCfg(spark, sfDir,
        Dedup.Bands, Dedup.R, maxBucket)
      .select(col("doc_b").as("doc_id")).distinct()
    val sh = Dedup.ddSimhashPairs(spark, sfDir)
      .select(col("doc_b").as("doc_id")).distinct()
    val ec = Dedup.ddEmbedCosine(spark, sfDir)
      .select(col("vec_b").as("doc_id")).distinct()
    def census(name: String, redundant: DataFrame): DataFrame =
      redundant.join(d, "doc_id")
        .agg(count(lit(1)).as("n_redundant"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_removed"))
        .crossJoin(broadcast(totals))
        .select(lit(name).as("family"), col("n_redundant"),
          r6(col("n_redundant").cast("double") / col("n_docs"))
            .as("doc_share"),
          col("tokens_removed"),
          r6(col("tokens_removed").cast("double") / col("total_tokens"))
            .as("token_share"))
    census("embed_cosine", ec)
      .unionAll(census("exact", exact))
      .unionAll(census("minhash_lsh", mh))
      .unionAll(census("simhash", sh))
      .orderBy(col("family"))
  }

  /** Impact census over ANY minhash pair body (the other three
    * families are fixed) — ONE copy, shared by the uncapped and
    * bucket-capped variants.
    */
  private def cpDedupImpactSqlOf(mhLshSql: String): String = {
    import graft.functions.Determinism.r6Sql
    def pad(s: String) = s.replace("\n", "\n  ")
    def census(name: String, cte: String) = s"""
SELECT '$name' AS family, n_redundant,
  ${r6Sql("(CAST(n_redundant AS DOUBLE) / n_docs)")} AS doc_share,
  tokens_removed,
  ${r6Sql("(CAST(tokens_removed AS DOUBLE) / total_tokens)")}
    AS token_share
FROM (
  SELECT COUNT(*) AS n_redundant,
    CAST(COALESCE(SUM(d.n_tokens), 0) AS BIGINT) AS tokens_removed
  FROM $cte r JOIN d ON d.doc_id = r.doc_id
) CROSS JOIN tot"""
    s"""
WITH d AS (
  SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      AS n_tokens
  FROM documents
), tot AS (
  SELECT COUNT(*) AS n_docs, SUM(n_tokens) AS total_tokens FROM d
), ex AS (
  SELECT doc_id FROM (
    SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS m
    FROM documents
  ) WHERE doc_id > m
), mh AS (
  SELECT DISTINCT doc_b AS doc_id FROM (
  ${pad(mhLshSql)}
  )
), sh AS (
  SELECT DISTINCT doc_b AS doc_id FROM (
  ${pad(Dedup.ddSimhashPairsSql)}
  )
), ec AS (
  SELECT DISTINCT vec_b AS doc_id FROM (
  ${pad(Dedup.ddEmbedCosineSql)}
  )
)
${census("embed_cosine", "ec")}
UNION ALL${census("exact", "ex")}
UNION ALL${census("minhash_lsh", "mh")}
UNION ALL${census("simhash", "sh")}
ORDER BY family"""
  }

  lazy val cpDedupImpactSql: String =
    cpDedupImpactSqlOf(Dedup.ddMinhashLshSql)

  /** [[cpDedupImpact]] with the minhash family on the bucket-capped
    * stream — the shipped form of [[cpDedupImpactCfg]]. The four-way
    * family comparison gains its production reading: exact owns
    * byte-identical mega-families, the CAPPED minhash row is what the
    * near-dup pass would actually remove at scale, and the gap between
    * the capped and uncapped minhash rows (run both) is the volume the
    * guard delegates to exact dedup.
    */
  def cpDedupImpactCapped(spark: SparkSession, sfDir: String): DataFrame =
    cpDedupImpactCfg(spark, sfDir, Some(Dedup.LshMaxBucket))

  lazy val cpDedupImpactCappedSql: String =
    cpDedupImpactSqlOf(Dedup.ddMinhashLshCappedSql)

  // ------------------------------------------------------------------
  // cp_bpe_pairs — BPE first-merge pair election
  // ------------------------------------------------------------------

  /** Merge candidates surfaced per census pass. */
  val BpeTopPairs = 20

  /** The first iteration of BPE tokenizer training, as a census: the
    * corpus-wide frequencies of adjacent character pairs inside
    * whitespace words, ranked — the top row IS the first merge a BPE
    * trainer would perform, and re-running the census after applying
    * a merge is exactly the training loop (each merge is a fresh
    * corpus pass at scale, which is why the census is the shipped
    * primitive and the loop is the driver around it).
    *
    * Spark extracts overlapping pairs with a zero-width-lookahead
    * regex (`(?=(..))`, codegen'd `regexp_extract_all` — no
    * higher-order function in the per-word hot path); DuckDB's RE2
    * has no lookahead, so the oracle enumerates positions with
    * `list_transform(range)` — both walk code points, and the shared
    * semantics is "substring of length 2 at every position".
    *
    * Determinism: counts are exact; rank orders (count desc, pair
    * asc — binary UTF8 on both engines); the share divides by a
    * full-frame window total over the pair-bounded relation (no
    * 1-row broadcast needed). Scale: one explode + one partial-agg'd
    * shuffle of (pair) rows — the relation is alphabet²-bounded, so
    * the window and rank are census-sized; the rank-filter plans
    * through the engine's TopK machinery.
    */
  def cpBpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val words = docs(spark, sfDir)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)
    val pairs = words.select(
      explode(regexp_extract_all(col("w"), lit("(?=(..))"), lit(1)))
        .as("pair"))
    val g = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n_occurrences"))
    val full = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val w = Window.orderBy(col("n_occurrences").desc, col("pair"))
    g.withColumn("total", sum(col("n_occurrences")).over(full))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BpeTopPairs)
      .select(col("rank"), col("pair"), col("n_occurrences"),
        r6(col("n_occurrences").cast("double") / col("total")).as("share"))
      .orderBy(col("rank"))
  }

  lazy val cpBpePairsSql: String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
), pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
    i -> substr(w, CAST(i AS INTEGER), 2))) AS pair
  FROM tok WHERE length(w) >= 2
), g AS (
  SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY pair
), t AS (
  SELECT pair, n_occurrences,
    SUM(n_occurrences) OVER () AS total,
    row_number() OVER (ORDER BY n_occurrences DESC, pair) AS rank
  FROM g
)
SELECT CAST(rank AS INTEGER) AS rank, pair,
  CAST(n_occurrences AS BIGINT) AS n_occurrences,
  ${r6Sql("(CAST(n_occurrences AS DOUBLE) / total)")} AS share
FROM t WHERE rank <= $BpeTopPairs ORDER BY rank"""
  }

  // ------------------------------------------------------------------
  // cp_bpe_train — multi-merge BPE tokenizer training
  // ------------------------------------------------------------------

  /** Merges trained by [[cpBpeTrain]] — enough rounds that later
    * elections run over PREVIOUSLY-MERGED symbols (the part of the
    * loop [[cpBpePairs]]' single census cannot exercise), small
    * enough that the 2·merges full-census passes stay a bounded
    * fraction of the bench.
    */
  val BpeTrainMerges = 8

  /** The BPE TRAINING LOOP — [[cpBpePairs]] iterated: census adjacent
    * symbol pairs, elect the most frequent (count desc, pair asc),
    * merge it corpus-wide, repeat. Emits one row per merge with the
    * elected pair, the new vocabulary symbol, its frequency at
    * election time, and the post-merge vocabulary size / corpus
    * symbol count — the actual merge table a tokenizer ships.
    *
    * Representation: the corpus first compresses to its WORD-
    * FREQUENCY table (the classic BPE-trainer move — elections are
    * weighted by word frequency, so all per-round work is
    * vocabulary-bounded, Zipf not corpus-sized; at 100 TB the word
    * census is the one corpus-sized shuffle and everything after is
    * small). Each word's segmentation is a single string of symbols
    * joined by DOUBLE spaces with single-space ends (`" a  b  c "`):
    * applying a merge is then one literal (non-regex, codegen'd)
    * `replace(" x  y ", " xy ")` — left-to-right non-overlapping
    * replacement IS greedy-leftmost BPE, and because the replacement
    * restores the boundary spaces it borrows, consecutive occurrences
    * (`a a a a` → `aa aa`) merge correctly.
    *
    * Per round: one pair census (lookahead regex extraction, the
    * [[cpBpePairs]] pattern at symbol grain), a 1-row election kept
    * distributed via the broadcast-anchor crossJoin pattern (never a
    * value collect), one `replace` pass, one symbol census for the
    * vocab readout; `localCheckpoint` pins each round's corpus so
    * lineage stays linear (the dd_clusters_star iteration
    * discipline — without it round r's plan re-derives rounds 1..r-1
    * twice over). The oracle unrolls the identical rounds as chained
    * CTEs — one SQL fragment per round, generated by the same loop.
    *
    * Determinism: every output column is an integer count or a string
    * — no float anywhere; election ties break on the pair string
    * (binary UTF8 on both engines). Each round re-scans the word
    * table in full: an incremental (touched-words delta) census
    * measured slower at every locally-runnable scale (SCALE.md, "BPE
    * delta maintenance at 32 merges").
    */
  def cpBpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    bpeTrainOf(bpeWords(spark, sfDir), BpeTrainMerges)

  /** ≥2-char lowercased word stream [[cpBpeTrain]] consumes. */
  private def bpeWords(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
      .filter(length(col("w")) >= 2)

  /** Character-grain starting corpus: the word-frequency table with
    * each word's initial segmentation.
    */
  private[graft] def bpeInitialCorpus(words: DataFrame): DataFrame =
    words.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        regexp_replace(col("w"), "(.)", " $1 ").as("seg"))

  /** Frequency census of adjacent symbol pairs over a (freq, seg)
    * corpus — the loop's per-round full scan.
    */
  private[graft] def bpePairCensus(corpus: DataFrame): DataFrame =
    corpus
      .select(col("freq"),
        explode(regexp_extract_all(col("seg"),
          lit("(?= ([^ ]+  [^ ]+) )"), lit(1))).as("raw"))
      .groupBy(col("raw")).agg(sum(col("freq")).as("n_occurrences"))

  /** Merge election over a census: count desc, pair asc, one row. */
  private[graft] def bpeElect(census: DataFrame): DataFrame =
    census
      .select(replace(col("raw"), lit("  "), lit(" ")).as("pair"),
        replace(col("raw"), lit("  "), lit("")).as("merged"),
        col("raw"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(1)

  /** Apply an elected merge corpus-wide — the 1-row broadcast-anchor
    * crossJoin, one literal replace per word.
    */
  private[graft] def bpeApplyMerge(
      corpus: DataFrame, elected: DataFrame): DataFrame =
    corpus
      .crossJoin(broadcast(elected.select(col("raw").as("eraw"),
        col("merged").as("emerged"))))
      .select(col("w"), col("freq"),
        replace(col("seg"), concat(lit(" "), col("eraw"), lit(" ")),
          concat(lit(" "), col("emerged"), lit(" "))).as("seg"))

  /** The training loop over any (w: string) word stream — split out
    * so the spec can pin hand-computed merges on a tiny corpus, and so
    * [[cpBpeTokenize]] can reuse the FINAL word→segmentation table the
    * loop converges to. Returns (one 1-row DataFrame per merge, the
    * final (w, freq, seg) corpus).
    */
  private[graft] def bpeTrainLoop(
      words: DataFrame, merges: Int): (Seq[DataFrame], DataFrame) = {
    var corpus = bpeInitialCorpus(words).localCheckpoint(true)
    val rows = (1 to merges).map { r =>
      // election computed once, used twice (merge replay + output
      // row) — LAZY pin (round 19): its first evaluation rides the
      // same driver job that pins the round's corpus (the broadcast
      // build materializes it), so each round pays ONE
      // driver-synchronized job instead of two; the output row later
      // reads the stored 1-row block
      val elected = bpeElect(bpePairCensus(corpus))
        .localCheckpoint(false)
      corpus = bpeApplyMerge(corpus, elected).localCheckpoint(true)
      val stats = corpus
        .select(col("freq"), explode(split(trim(col("seg")), "  ")).as("s"))
        .agg(countDistinct(col("s")).as("vocab_size"),
          sum(col("freq")).as("n_symbols"))
      elected.select(lit(r).as("merge_rank"), col("pair"), col("merged"),
          col("n_occurrences"))
        .crossJoin(broadcast(stats))
    }
    (rows, corpus)
  }

  private[graft] def bpeTrainOf(words: DataFrame, merges: Int): DataFrame =
    bpeTrainLoop(words, merges)._1
      .reduce(_ unionByName _).orderBy(col("merge_rank"))

  /** Shared oracle fragments for the BPE loop — ONE copy of the
    * per-round SQL (census → election → merge → stats), consumed by
    * both [[cpBpeTrainSql]] and [[cpBpeTokenizeSql]] (the fragment
    * rule: twins share text, they cannot drift). Each round's corpus
    * is read two or three times and is `AS MATERIALIZED`, since DuckDB
    * inlines a plain CTE at every reference.
    */
  private lazy val bpeCorpus0Sql: String = """corpus0 AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
    regexp_replace(w, '(.)', ' \1 ', 'g') AS seg
  FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE length(w) >= 2 GROUP BY w
)"""

  private def bpeRoundsSql(merges: Int): String =
    (1 to merges).map { r =>
      s"""cens$r AS (
  SELECT replace(raw, '  ', ' ') AS pair, replace(raw, '  ', '') AS merged,
    raw, CAST(SUM(freq) AS BIGINT) AS n_occurrences
  FROM (
    SELECT freq, unnest(list_transform(range(1, len(syms)),
      i -> syms[i] || '  ' || syms[i + 1])) AS raw
    FROM (SELECT freq, string_split(trim(seg), '  ') AS syms
          FROM corpus${r - 1})
  ) GROUP BY raw
), el$r AS (
  SELECT * FROM cens$r ORDER BY n_occurrences DESC, pair LIMIT 1
), corpus$r AS MATERIALIZED (
  SELECT c.w, c.freq,
    replace(c.seg, ' ' || e.raw || ' ', ' ' || e.merged || ' ') AS seg
  FROM corpus${r - 1} c, el$r e
), st$r AS (
  SELECT COUNT(DISTINCT s) AS vocab_size,
    CAST(SUM(freq) AS BIGINT) AS n_symbols
  FROM (SELECT freq, unnest(string_split(trim(seg), '  ')) AS s
        FROM corpus$r)
)"""
    }.mkString(", ")

  lazy val cpBpeTrainSql: String = {
    val out = (1 to BpeTrainMerges).map { r =>
      s"""SELECT $r AS merge_rank, e.pair, e.merged, e.n_occurrences,
  s.vocab_size, s.n_symbols FROM el$r e, st$r s"""
    }.mkString("\nUNION ALL\n")
    s"""
WITH $bpeCorpus0Sql, ${bpeRoundsSql(BpeTrainMerges)}
$out
ORDER BY merge_rank"""
  }

  // ------------------------------------------------------------------
  // cp_bpe_tokenize — apply the trained merge table at document grain
  // ------------------------------------------------------------------

  /** [[cpBpeTrain]]'s consumer half: TOKENIZE every document with the
    * trained merge table — the readout a data pipeline actually bills
    * by (tokens-per-doc drives packing, pricing, curriculum budgets;
    * cp_pack and cp_epoch_plan consume exactly this number upstream
    * today via whitespace counts — this is the trained-tokenizer
    * version). Per doc: word count and BPE token count under the
    * [[BpeTrainMerges]]-merge vocabulary.
    *
    * Shape: training reruns the shared [[bpeTrainLoop]] (word-freq
    * grain, vocab-bounded rounds), then application is ONE join — the
    * final corpus already holds every trained word's segmentation, so
    * per-word token counts are `size(split(seg))` on the vocab table
    * and documents aggregate over their word stream (words under 2
    * chars tokenize to themselves: 1 token). At 100 TB the apply side
    * is the cp_token_count shape — one doc-grain pass + a vocab-sized
    * build-side join — and the training side amortizes across every
    * consumer of the vocabulary. All-integer outputs.
    */
  def cpBpeTokenize(spark: SparkSession, sfDir: String): DataFrame = {
    val docWords = docs(spark, sfDir)
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("w"))
    val (_, corpus) = bpeTrainLoop(
      docWords.filter(length(col("w")) >= 2).select(col("w")),
      BpeTrainMerges)
    val tokCnt = corpus.select(col("w"),
      size(split(trim(col("seg")), "  ")).as("n_tok"))
    docWords.join(tokCnt, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_tok"), lit(1)).cast("long")).as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  lazy val cpBpeTokenizeSql: String = s"""
WITH $bpeCorpus0Sql, ${bpeRoundsSql(BpeTrainMerges)},
tokc AS (
  SELECT w, len(string_split(trim(seg), '  ')) AS n_tok
  FROM corpus$BpeTrainMerges
), docw AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
  FROM documents
)
SELECT d.doc_id, COUNT(*) AS n_words,
  CAST(SUM(CASE WHEN length(d.w) >= 2 THEN COALESCE(t.n_tok, 1) ELSE 1 END)
    AS BIGINT) AS n_tokens
FROM docw d LEFT JOIN tokc t ON t.w = d.w
GROUP BY d.doc_id ORDER BY d.doc_id"""

  // ------------------------------------------------------------------
  // cp_waterfill — no-upsampling token-budget allocation (waterfilling)
  // ------------------------------------------------------------------

  /** Budget for the waterfill plan. Chosen just under the sf0.01
    * corpus total so the fixture exercises BOTH regimes (small
    * sources capped at their full size, large ones cut to the fill
    * level); a budget ≥ the corpus total walks the all-capped branch
    * (spec-pinned).
    */
  val WaterfillBudget = 26000L

  /** [[cpEpochPlan]]'s dual: that planner splits the budget by
    * MIXTURE WEIGHT and realizes small high-weight sources as
    * repeats; this one splits it under a NO-UPSAMPLING constraint
    * (every source at most one epoch — the dedup-ethos pretraining
    * posture) by classic waterfilling: find the fill level λ such
    * that Σ min(tokens_s, λ) exhausts the budget — sources below λ
    * keep everything, sources above are cut to λ.
    *
    * Exactness: everything is int64. Sources sort by (tokens,
    * source); the cap test for ascending rank i is the
    * cross-multiplied `t_i·(n−i) ≤ B − cum_i`, which is provably
    * monotone (if it fails at i it fails at i+1), so `k = Σ capped`
    * is the true cut; λ = (B − Σ_capped t) div (n − k) then satisfies
    * t_k ≤ λ < t_{k+1} and every allocation is `min(t, λ)` — floor
    * division leaves `(B − Σ_capped t) mod (n − k)` tokens
    * unallocated, reported honestly in `budget_leftover` rather than
    * distributed by an arbitrary tie-break. Headroom: t·n stays in
    * int64 to ~10^12 tokens per source at 10^6 sources.
    *
    * Scale shape: ONE partial-agg'd shuffle of per-source token rows;
    * the windows (one ordered cumulative, one full-frame) run on the
    * sources-bounded relation — the cpEpochPlan posture; nothing
    * downstream scales with corpus size.
    */
  def cpWaterfill(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val asc = Window.partitionBy()
      .orderBy(col("src_tokens"), col("source"))
    val staged = docs(spark, sfDir)
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tk"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("tk")).as("src_tokens"))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("cum", sum(col("src_tokens")).over(asc))
      .withColumn("rk", row_number().over(asc).cast("long"))
      .withColumn("capped", col("src_tokens") * (col("n") - col("rk")) <=
        lit(WaterfillBudget) - col("cum"))
      .withColumn("k",
        sum(when(col("capped"), 1L).otherwise(0L)).over(whole))
      .withColumn("pk",
        sum(when(col("capped"), col("src_tokens")).otherwise(0L))
          .over(whole))
      .withColumn("total", sum(col("src_tokens")).over(whole))
    val lam = expr(s"($WaterfillBudget - pk) div (n - k)")
    val alloc = when(col("k") < col("n"),
      least(col("src_tokens"), lam)).otherwise(col("src_tokens"))
    staged.select(col("source"), col("docs"), col("src_tokens"),
      col("capped").as("is_capped"),
      alloc.as("alloc_tokens"),
      when(col("k") < col("n"), lam).as("fill_level"),
      when(col("k") < col("n"),
          expr(s"($WaterfillBudget - pk) % (n - k)"))
        .otherwise(lit(WaterfillBudget) - col("total"))
        .as("budget_leftover"),
      when(col("src_tokens") > 0,
        r6(alloc.cast("double") / col("src_tokens").cast("double")))
        .as("keep_share"))
      .orderBy(col("source"))
  }

  lazy val cpWaterfillSql: String = {
    import graft.functions.Determinism.r6Sql
    val b = WaterfillBudget
    s"""
WITH per_src AS (
  SELECT source, COUNT(*) AS docs,
    CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT)
      AS src_tokens
  FROM documents GROUP BY source
), st AS (
  SELECT p.*, CAST(COUNT(*) OVER () AS BIGINT) AS n,
    CAST(SUM(src_tokens) OVER (ORDER BY src_tokens, source
      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
    CAST(ROW_NUMBER() OVER (ORDER BY src_tokens, source) AS BIGINT) AS rk
  FROM per_src p
), fl AS (
  SELECT st.*, (src_tokens * (n - rk) <= $b - cum) AS capped FROM st
), ag AS (
  SELECT fl.*,
    CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS BIGINT) AS k,
    CAST(SUM(CASE WHEN capped THEN src_tokens ELSE 0 END) OVER ()
      AS BIGINT) AS pk,
    CAST(SUM(src_tokens) OVER () AS BIGINT) AS total
  FROM fl
), out AS (
  SELECT source, docs, src_tokens, capped AS is_capped,
    CASE WHEN k < n THEN least(src_tokens, ($b - pk) // (n - k))
      ELSE src_tokens END AS alloc_tokens,
    CASE WHEN k < n THEN ($b - pk) // (n - k) END AS fill_level,
    CASE WHEN k < n THEN ($b - pk) % (n - k)
      ELSE $b - total END AS budget_leftover
  FROM ag
)
SELECT source, docs, src_tokens, is_capped,
  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
  CAST(fill_level AS BIGINT) AS fill_level,
  CAST(budget_leftover AS BIGINT) AS budget_leftover,
  CASE WHEN src_tokens > 0 THEN ${r6Sql(
      "(CAST(alloc_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE))")} END
    AS keep_share
FROM out ORDER BY source"""
  }

  // ------------------------------------------------------------------
  // cp_corpus_diff — snapshot-to-snapshot corpus diff census
  // ------------------------------------------------------------------

  /** SNAPSHOT DIFF — the census a recurring-crawl pipeline runs
    * between corpus versions before deciding what to re-process: per
    * source, how many documents were ADDED, REMOVED, content-CHANGED,
    * and UNCHANGED from version A to version B. Incremental
    * re-tokenization, re-embedding and index refresh all bill by
    * exactly these four numbers — re-processing an unchanged doc is
    * the waste this census exists to prevent.
    *
    * The two versions derive deterministically from the one fixture
    * table (the engine's derived-fixture contract): A drops
    * `doc_id % 13 = 0`, B drops `doc_id % 13 = 1` (13 is coprime to the
    * fixture's source cycle, so every source shows a MIX of classes) and rewrites the
    * text of `doc_id % 7 = 0` (an appended edit marker) — giving all
    * four diff classes non-trivially. Identity is doc_id; change
    * detection is content-hash inequality ([[graft.functions
    * .CrossHash.md5Long]] — the full 60-bit hash, the dd_spans
    * collision argument).
    *
    * Scale shape: two filtered scans, ONE full-outer equi-join on the
    * id, one source-grain census groupBy. At 100 TB this is the
    * textbook co-partitionable diff — both sides hash-partition on
    * doc_id and nothing is quadratic; the hash comparison makes the
    * join payload one long per side instead of the document text.
    */
  def cpCorpusDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val d = TextAnalysis.docs(spark, sfDir)
    val a = d.filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id").as("aid"), col("source").as("asrc"),
        CrossHash.md5Long(col("text")).as("ha"))
    val bText = when(col("doc_id") % 7 === 0,
      concat(col("text"), lit(" v2"))).otherwise(col("text"))
    val b = d.filter(col("doc_id") % 13 =!= 1)
      .select(col("doc_id").as("bid"), col("source").as("bsrc"),
        CrossHash.md5Long(bText).as("hb"))
    a.join(b, col("aid") === col("bid"), "full_outer")
      .select(coalesce(col("asrc"), col("bsrc")).as("source"),
        col("aid"), col("bid"), col("ha"), col("hb"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("aid").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("bid").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("aid").isNotNull && col("bid").isNotNull &&
          col("ha") =!= col("hb"), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("aid").isNotNull && col("bid").isNotNull &&
          col("ha") === col("hb"), 1L).otherwise(0L)).as("n_unchanged"))
      .orderBy(col("source"))
  }

  lazy val cpCorpusDiffSql: String = {
    import graft.functions.CrossHash.md5LongSql
    s"""
WITH a AS (
  SELECT doc_id AS aid, source AS asrc, ${md5LongSql("text")} AS ha
  FROM documents WHERE doc_id % 13 <> 0
), b AS (
  SELECT doc_id AS bid, source AS bsrc,
    ${md5LongSql(
        "(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)")} AS hb
  FROM documents WHERE doc_id % 13 <> 1
), j AS (
  SELECT COALESCE(asrc, bsrc) AS source, aid, bid, ha, hb
  FROM a FULL OUTER JOIN b ON b.bid = a.aid
)
SELECT source,
  CAST(SUM(CASE WHEN aid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_added,
  CAST(SUM(CASE WHEN bid IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_removed,
  CAST(SUM(CASE WHEN aid IS NOT NULL AND bid IS NOT NULL
    AND ha <> hb THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN aid IS NOT NULL AND bid IS NOT NULL
    AND ha = hb THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
FROM j
GROUP BY source
ORDER BY source"""
  }

  // ------------------------------------------------------------------
  // cp_dsir — hashed importance weights for data selection
  // ------------------------------------------------------------------

  /** Hash-bucket count for the DSIR n-gram feature space. Bounded by
    * construction — at 100 TB the weight table is STILL 512 rows, the
    * whole point of hashed importance weighting (the published method
    * hashes n-grams into ~10⁴ buckets for the same reason).
    */
  val DsirBuckets = 512L

  /** DSIR-STYLE IMPORTANCE CENSUS — the data-selection pass mixture
    * tuning runs (Data Selection with Importance Resampling: score raw
    * docs by how target-like their hashed n-gram distribution is, then
    * resample toward the target domain): with the TARGET = the
    * lexicographically-first source (the gr_trustrank seed convention),
    * every token hashes into [[DsirBuckets]] buckets; per bucket an
    * add-1-smoothed log-likelihood ratio
    * `ln((ct+1)/(Tt+B)) − ln((cr+1)/(Tr+B))` is computed ONCE,
    * quantized to integer micro-nats (the [[TextAnalysis.lmCore]]
    * discipline — the float ln never rides the token stream, per-doc
    * importance is an exact BIGINT sum); docs are then cut at the
    * corpus-wide importance quartiles (ExactRank's rank-ceil rule) and
    * the census reports, per source × quartile, the doc count, the
    * share of the source, and the mean importance — the table a
    * mixture owner turns into per-source resampling rates.
    *
    * Scale shape: one explode + (doc, bucket) partial agg (the shuffle
    * carries tf rows); bucket counts for BOTH corpora come from that
    * same relation in one pass (target counts are a conditional sum —
    * no second scan); the 512-row weight table broadcasts back; the
    * quartile thresholds reduce a (distinct-importance, count) census
    * — never the doc stream — and broadcast as one row.
    */
  /** The (doc, source, bucket, tf) relation — ONE copy of the
    * tokenize→hash→bucket semantics for [[cpDsir]] and
    * [[dsirWeights]].
    */
  private[graft] def dsirTd(d: DataFrame): DataFrame = d
    .select(col("doc_id"), col("source"),
      explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
    .filter(col("term") =!= "")
    .select(col("doc_id"), col("source"),
      (CrossHash.md5Mod(col("term")) % DsirBuckets).as("b"))
    .groupBy(col("doc_id"), col("source"), col("b"))
    .agg(count(lit(1)).as("tf"))

  /** The 512-row (b, wt) importance-weight table off a td relation —
    * shared by [[cpDsir]] and the serving stream
    * ([[graft.streaming.StreamingStats.dsirStream]]), which deploys
    * exactly this table against live traffic.
    */
  private[graft] def dsirWeightsOf(td: DataFrame,
      tsrc: DataFrame): DataFrame = {
    val scale = TextAnalysis.LmScale
    val seen = td.crossJoin(broadcast(tsrc))
      .groupBy(col("b"))
      .agg(sum(col("tf")).as("cr"),
        sum(when(col("source") === col("tsrc"), col("tf"))
          .otherwise(lit(0L))).as("ct"))
    // DENSE spine: all DsirBuckets rows exist even when no training
    // token hashed into a bucket — the (cr=0, ct=0) row carries the
    // add-1-smoothed PRIOR weight ln((tr+B)/(tt+B)), so the serving
    // join (dsirStream) is total and live traffic whose tokens hash
    // into an untrained bucket scores by the prior rather than a
    // silent 0. Value-neutral for cpDsir: its per-doc join keys on
    // td's own buckets, which are all seen by construction.
    val cnt = td.sparkSession.range(0, DsirBuckets)
      .select(col("id").as("b"))
      .join(seen, Seq("b"), "left")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    val tot = cnt.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    cnt.crossJoin(broadcast(tot)).select(col("b"),
      round((log((col("ct") + 1).cast("double") /
          (col("tt") + DsirBuckets)) -
        log((col("cr") + 1).cast("double") /
          (col("tr") + DsirBuckets))) * scale)
        .cast("long").as("wt"))
  }

  /** The trained weight table off the batch fixture (the stream's
    * build-time input).
    */
  private[graft] def dsirWeights(spark: SparkSession,
      sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    dsirWeightsOf(dsirTd(d), d.agg(min(col("source")).as("tsrc")))
  }

  /** Per-doc DSIR frame (doc_id, source, imp_u, quartile) — ONE copy
    * of the importance-sum + corpus-wide-quartile-cut semantics,
    * aggregated by [[cpDsir]] into the census and resampled doc-wise
    * by [[cpDsirSample]].
    */
  /** Per-doc importance frame (doc_id, source, imp_u) — the piece of
    * [[dsirDocQuartiles]] before the quartile cut.
    */
  private[graft] def dsirPerDoc(spark: SparkSession,
      sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    // NOT cached (round-18 A/B): td feeds two consumers, but the
    // tokenize+md5 pass is cheap at this grain and the cache's
    // columnar materialization barrier measured SLOWER
    // (cp_dsir +25%, cp_dsir_sample +78% box-normalized) — the
    // ta_vocab_overlap lesson does not transfer to cheap frames
    val td = dsirTd(d)
    val tsrc = d.agg(min(col("source")).as("tsrc")) // 1-row anchor
    val wt = dsirWeightsOf(td, tsrc)
    d.select(col("doc_id"), col("source"))
      .join(td.join(broadcast(wt), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("wt")).as("imp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("imp"), lit(0L)).as("imp_u"))
  }

  /** Corpus-wide quartile cuts off a per-doc importance frame — the
    * ev_gaps ExactRank shape over the (distinct importance, count)
    * census; 1 row (q1, q2, q3). ONE copy, consumed by the batch
    * quartile assignment and collected into the serving model
    * ([[dsirModel]]).
    */
  private[graft] def dsirThresholdsOf(perDoc: DataFrame): DataFrame = {
    val g = perDoc.groupBy(col("imp_u")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("imp_u"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy(col("imp_u"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cw = g.withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
    cw.agg(
      ExactRank.valueAt(1, 4, "n", col("imp_u")).as("q1"),
      ExactRank.valueAt(2, 4, "n", col("imp_u")).as("q2"),
      ExactRank.valueAt(3, 4, "n", col("imp_u")).as("q3"))
  }

  private[graft] def dsirDocQuartiles(spark: SparkSession,
      sfDir: String): DataFrame = {
    val perDoc = dsirPerDoc(spark, sfDir)
    perDoc.crossJoin(broadcast(dsirThresholdsOf(perDoc)))
      .select(col("doc_id"), col("source"), col("imp_u"),
        (lit(1) + (col("imp_u") > col("q1")).cast("int") +
          (col("imp_u") > col("q2")).cast("int") +
          (col("imp_u") > col("q3")).cast("int")).as("quartile"))
  }

  def cpDsir(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val scale = TextAnalysis.LmScale
    dsirDocQuartiles(spark, sfDir)
      .groupBy(col("source"), col("quartile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("imp_u")).as("sum_imp_u"))
      .withColumn("src_docs",
        sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("quartile"), col("n_docs"),
        r6(col("n_docs").cast("double") / col("src_docs")).as("share"),
        r6(col("sum_imp_u").cast("double") / col("n_docs") /
          lit(scale.toDouble)).as("mean_imp"))
      .orderBy(col("source"), col("quartile"))
  }

  // LAZY: reads TextAnalysis.LmScale — eager init would bake 0 if
  // Corpus is forced while TextAnalysis is mid-init (see
  // Dedup.ddSemDedupSql's cross-object init note)
  /** Oracle CTE chain ending in `quart(doc_id, source, imp_u,
    * quartile)` — the SQL twin of [[dsirDocQuartiles]], ONE copy
    * shared by [[cpDsirSql]] and [[cpDsirSampleSql]]. (The oracle's
    * weight CTE stays SPARSE — per-doc importance joins weights back
    * to td's own buckets, so the dense padding [[dsirWeightsOf]]
    * carries for the serving stream is invisible here.)
    */
  private lazy val dsirQuartCtesSql: String = {
    val scale = TextAnalysis.LmScale
    val b = DsirBuckets
    s"""tok AS (
  SELECT doc_id, source,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, source, (${md5ModSql("term")} % $b) AS b,
    COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, source, b
), tsrc AS (
  SELECT MIN(source) AS tsrc FROM documents
), cnt AS (
  SELECT b, CAST(SUM(tf) AS BIGINT) AS cr,
    CAST(SUM(CASE WHEN source = tsrc THEN tf ELSE 0 END) AS BIGINT)
      AS ct
  FROM td CROSS JOIN tsrc GROUP BY b
), tot AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
  FROM cnt
), wt AS (
  SELECT b,
    CAST(round((ln(CAST(ct + 1 AS DOUBLE) / (tt + $b))
      - ln(CAST(cr + 1 AS DOUBLE) / (tr + $b))) * $scale) AS BIGINT)
      AS wt
  FROM cnt CROSS JOIN tot
), per_doc AS (
  SELECT d.doc_id, d.source,
    COALESCE(i.imp, 0) AS imp_u
  FROM documents d LEFT JOIN (
    SELECT td.doc_id, CAST(SUM(td.tf * wt.wt) AS BIGINT) AS imp
    FROM td JOIN wt USING (b) GROUP BY td.doc_id
  ) i ON i.doc_id = d.doc_id
), g AS (
  SELECT imp_u, COUNT(*) AS cnt FROM per_doc GROUP BY imp_u
), cw AS (
  SELECT imp_u, cnt,
    SUM(cnt) OVER (ORDER BY imp_u ROWS UNBOUNDED PRECEDING) AS cum
  FROM g
), t AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g
), thr AS (
  SELECT ${ExactRank.valueAtSql(1, 4, "n", "imp_u")} AS q1,
    ${ExactRank.valueAtSql(2, 4, "n", "imp_u")} AS q2,
    ${ExactRank.valueAtSql(3, 4, "n", "imp_u")} AS q3
  FROM cw, t
), quart AS (
  SELECT doc_id, source, imp_u,
    (1 + CAST(imp_u > q1 AS INTEGER) + CAST(imp_u > q2 AS INTEGER)
       + CAST(imp_u > q3 AS INTEGER)) AS quartile
  FROM per_doc CROSS JOIN thr
)"""
  }

  lazy val cpDsirSql: String = {
    import graft.functions.Determinism.r6Sql
    val scale = TextAnalysis.LmScale
    s"""
WITH $dsirQuartCtesSql, census AS (
  SELECT source, quartile, COUNT(*) AS n_docs,
    CAST(SUM(imp_u) AS BIGINT) AS sum_imp_u
  FROM quart GROUP BY source, quartile
)
SELECT source, quartile, n_docs,
  ${r6Sql("(CAST(n_docs AS DOUBLE) / (SUM(n_docs) OVER (PARTITION BY source)))")}
    AS share,
  ${r6Sql(s"(CAST(sum_imp_u AS DOUBLE) / n_docs / $scale.0)")}
    AS mean_imp
FROM census
ORDER BY source, quartile"""
  }

  // ------------------------------------------------------------------
  // cp_dsir_sample — the applied DSIR resample
  // ------------------------------------------------------------------

  /** Micro-unit modulus for [[cpDsirSample]]'s salted-hash draw. */
  val DsirSampleM = 1000000L

  /** THE APPLIED DSIR RESAMPLE — the pipeline step a pretraining run
    * actually executes off [[cpDsir]]'s census (the census publishes
    * the table; this emits the resampled corpus): per (source,
    * quartile) cell, docs are kept at the rate that makes every
    * source's quartile PROFILE match the target source's —
    * rate(s,q) = min(1, share(tsrc,q) / share(s,q)) — via a salted
    * md5 draw (the cp_split/cp_sample discipline: a doc's fate never
    * depends on other rows, is reproducible across engines, and the
    * salt versions the draw).
    *
    * The acceptance test is EXACT INTEGER ARITHMETIC — keep iff
    *   (h mod M) · n(s,q) · N(t)  <  n(t,q) · N(s) · M
    * in decimal(38,0) — the rational rate never becomes a float, so
    * the libm/rounding-boundary class the weight quantization guards
    * against cannot exist here at all, and the min(1, ·) cap is free:
    * when the rate ≥ 1 the right side is ≥ M·n(s,q)·N(t), which every
    * h mod M < M satisfies. Target-source docs therefore ALWAYS
    * survive (rate ≡ 1 cell by cell — the spec pins it).
    *
    * Scale shape: the per-doc frame is [[dsirDocQuartiles]] (one
    * copy); cell counts and totals are a sources×4-row broadcast; the
    * draw + compare are map-side — no shuffle beyond the frame's own.
    */
  def cpDsirSample(spark: SparkSession, sfDir: String): DataFrame = {
    val M = DsirSampleM
    val dq = dsirDocQuartiles(spark, sfDir).localCheckpoint(true)
    val cells = dq.groupBy(col("source"), col("quartile"))
      .agg(count(lit(1)).as("n_sq"))
    val srcTot = dq.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tsrc = dq.agg(min(col("source")).as("tsrc")) // 1-row anchor
    val tcells = cells.join(broadcast(tsrc),
        col("source") === col("tsrc"))
      .select(col("quartile"), col("n_sq").as("n_tq"))
    val ttot = srcTot.join(broadcast(tsrc),
        col("source") === col("tsrc"))
      .select(col("n_s").as("n_t")) // 1-row anchor
    val hm = CrossHash.md5Long(
      concat(lit("dsir-sample-v1:"), col("doc_id").cast("string"))) % M
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    dq.join(broadcast(cells), Seq("source", "quartile"))
      .join(broadcast(srcTot), Seq("source"))
      .join(broadcast(tcells), Seq("quartile"), "left")
      .crossJoin(broadcast(ttot))
      .select(col("doc_id"), col("source"), col("quartile"),
        col("imp_u"), hm.as("hm"), col("n_sq"), col("n_s"),
        coalesce(col("n_tq"), lit(0L)).as("n_tq"), col("n_t"))
      .filter(dec(col("hm")) * dec(col("n_sq")) * dec(col("n_t")) <
        dec(col("n_tq")) * dec(col("n_s")) * dec(lit(M)))
      .select(col("doc_id"), col("source"), col("quartile"),
        col("imp_u"))
      .orderBy(col("doc_id"))
  }

  lazy val cpDsirSampleSql: String = {
    val M = DsirSampleM
    s"""
WITH $dsirQuartCtesSql, cells AS (
  SELECT source, quartile, COUNT(*) AS n_sq FROM quart
  GROUP BY source, quartile
), src_tot AS (
  SELECT source, COUNT(*) AS n_s FROM quart GROUP BY source
), tcells AS (
  SELECT c.quartile, c.n_sq AS n_tq FROM cells c, tsrc
  WHERE c.source = tsrc.tsrc
), ttot AS (
  SELECT s.n_s AS n_t FROM src_tot s, tsrc WHERE s.source = tsrc.tsrc
)
SELECT q.doc_id, q.source, q.quartile, q.imp_u
FROM quart q
JOIN cells c ON c.source = q.source AND c.quartile = q.quartile
JOIN src_tot st ON st.source = q.source
LEFT JOIN tcells tc ON tc.quartile = q.quartile
CROSS JOIN ttot
WHERE CAST((${md5LongSql("('dsir-sample-v1:' || q.doc_id)")} % $M)
      AS HUGEINT) * c.n_sq * ttot.n_t
    < CAST(COALESCE(tc.n_tq, 0) AS HUGEINT) * st.n_s * $M
ORDER BY q.doc_id"""
  }

  /** The DEPLOYED form of the DSIR resampler — everything the serving
    * stream needs, snapshotted batch-side (the standard
    * train-batch / serve-live split: weights, quartile cuts and cell
    * rates are a MODEL, bounded by construction — 512 weights + 3
    * cuts + sources×4 rates — so collecting them is deployment, not a
    * driver-side compute): per-token bucket weights (DENSE, see
    * [[dsirWeightsOf]]), the corpus quartile cuts, per-(source,
    * quartile) cell counts, per-source totals, and the target cell
    * counts + total the acceptance rationals need.
    */
  case class DsirModel(weights: Map[Long, Long], q1: Long, q2: Long,
      q3: Long, nSq: Map[(String, Int), Long], nS: Map[String, Long],
      nTq: Map[Int, Long], nT: Long)

  /** Train + snapshot the [[DsirModel]] off the batch corpus — ONE
    * copy of the semantics: weights via [[dsirWeights]], cuts via
    * [[dsirThresholdsOf]], cell rates off [[dsirDocQuartiles]] —
    * exactly the frames [[cpDsir]]/[[cpDsirSample]] aggregate, so the
    * serving stream's decisions replay the batch resample bit for bit
    * (StreamingSpec pins it).
    */
  private[graft] def dsirModel(spark: SparkSession,
      sfDir: String): DsirModel = {
    val w = dsirWeights(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val thr = dsirThresholdsOf(dsirPerDoc(spark, sfDir)).collect().head
    val dq = dsirDocQuartiles(spark, sfDir)
      .select(col("source"), col("quartile")).collect()
      .map(r => (r.getString(0), r.getInt(1)))
    val nSq = dq.groupBy(identity).map { case (k, xs) =>
      k -> xs.length.toLong
    }
    val nS = dq.groupBy(_._1).map { case (s, xs) => s -> xs.length.toLong }
    val tsrc = nS.keys.min
    DsirModel(w, thr.getLong(0), thr.getLong(1), thr.getLong(2),
      nSq, nS,
      nSq.collect { case ((s, q), n) if s == tsrc => q -> n },
      nS(tsrc))
  }

  // ------------------------------------------------------------------
  // cp_fertility — tokenizer fertility census per language
  // ------------------------------------------------------------------

  /** TOKENIZER FERTILITY CENSUS — the multilingual-coverage table a
    * tokenizer owner reads (fertility = BPE tokens per word; a
    * language the merge table under-serves pays more tokens per word,
    * which is more compute per document at train AND serve time —
    * the metric multilingual tokenizer papers publish per language):
    * per lang, docs / words / BPE tokens / chars, fertility, and
    * chars-per-token (the compression readout). Pure composition:
    * the per-doc frame is [[cpBpeTokenize]] VERBATIM (one copy of the
    * trained-merge application), joined to doc-grain (lang, n_chars)
    * and rolled up — a lang-grain census groupBy, nothing new touches
    * the token stream.
    */
  def cpFertility(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val perDoc = cpBpeTokenize(spark, sfDir)
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    d.join(perDoc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_tokens"), col("n_chars"),
        r6(col("n_tokens").cast("double") / col("n_words"))
          .as("fertility"),
        r6(col("n_chars").cast("double") / col("n_tokens"))
          .as("chars_per_tok"))
      .orderBy(col("lang"))
  }

  lazy val cpFertilitySql: String = {
    import graft.functions.Determinism.r6Sql
    val perDoc = cpBpeTokenizeSql.replace("\n", "\n  ")
    s"""
SELECT d.lang, COUNT(*) AS n_docs,
  CAST(SUM(p.n_words) AS BIGINT) AS n_words,
  CAST(SUM(p.n_tokens) AS BIGINT) AS n_tokens,
  CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
  ${r6Sql("(CAST(SUM(p.n_tokens) AS DOUBLE) / SUM(p.n_words))")}
    AS fertility,
  ${r6Sql("(CAST(SUM(d.n_chars) AS DOUBLE) / SUM(p.n_tokens))")}
    AS chars_per_tok
FROM documents d JOIN ($perDoc) p ON p.doc_id = d.doc_id
GROUP BY d.lang
ORDER BY d.lang"""
  }
}
