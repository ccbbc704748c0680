package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Determinism.{r6, r6Sql}
import graft.operators.TextAnalysis.{docs, tokens}

/** Corpus quality filtering and scrubbing — the decision layer between
  * raw text and the training set.
  */
object Filters {

  // ------------------------------------------------------------------
  // qf_decide — Gopher-style per-document filter decisions
  // ------------------------------------------------------------------

  /** Bounds in the spirit of the published Gopher/C4 heuristics,
    * applied to this fixture's scale (documents are 10–100 words).
    * Each rule is an independent boolean column plus a combined keep
    * flag — downstream can audit exactly why a doc was dropped.
    */
  val MinWords = 15
  val MaxWords = 1000
  val MinMeanWordLen = 2.0
  val MaxMeanWordLen = 12.0
  val MaxSymbolRatio = 0.1
  val MaxRepetitionRatio = 0.6

  /** The combined keep decision over (`text`, lowercased `toks`) —
    * shared by [[qfDecide]] and the end-to-end
    * [[graft.operators.Corpus.cpCurate]] so the rule set exists once.
    * `toks` must be a materialized attribute (the shingles PERF rule).
    */
  def keepExpr(text: org.apache.spark.sql.Column,
      toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val words = size(toks)
    val chars = length(text)
    val symbols = regexp_count(text, lit("[^a-zA-Z0-9\\s]"))
    val meanWordLen = (chars - (words - 1)).cast("double") / words
    val repetition =
      lit(1.0) - size(array_distinct(toks)).cast("double") / words
    (words >= MinWords && words <= MaxWords) &&
      (meanWordLen >= MinMeanWordLen && meanWordLen <= MaxMeanWordLen) &&
      (symbols.cast("double") / chars <= MaxSymbolRatio) &&
      (repetition <= MaxRepetitionRatio)
  }

  def qfDecide(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), col("text"), tokens(lower(col("text"))).as("toks"))
    val words = size(col("toks"))
    val chars = length(col("text"))
    val symbols = regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]"))
    // mean word length: non-separator chars / words (single-space
    // tokenized text, so separators = words - 1)
    val meanWordLen = (chars - (words - 1)).cast("double") / words
    val distinctToks = size(array_distinct(col("toks")))
    val repetition = lit(1.0) - distinctToks.cast("double") / words
    val okWords = words >= MinWords && words <= MaxWords
    val okMwl = meanWordLen >= MinMeanWordLen && meanWordLen <= MaxMeanWordLen
    val okSymbols = symbols.cast("double") / chars <= MaxSymbolRatio
    val okRepetition = repetition <= MaxRepetitionRatio
    d.select(
      col("doc_id"),
      words.as("words"),
      r6(meanWordLen).as("mean_word_len"),
      r6(symbols.cast("double") / chars).as("symbol_ratio"),
      r6(repetition).as("repetition_ratio"),
      okWords.as("ok_words"),
      okMwl.as("ok_mean_word_len"),
      okSymbols.as("ok_symbols"),
      okRepetition.as("ok_repetition"),
      (okWords && okMwl && okSymbols && okRepetition).as("keep"))
      .orderBy(col("doc_id"))
  }

  // oracle-side rule fragments over a `text` column — ONE copy each,
  // consumed by qfDecideSql (per-rule flags) and keepSqlExpr (cp_curate)
  private val words = "len(regexp_split_to_array(trim(lower(text)), '\\s+'))"
  private val chars = "length(text)"
  private val symbols = "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
  private val mwl = s"(CAST(($chars - ($words - 1)) AS DOUBLE) / $words)"
  private val distinct =
    "len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')))"
  private val rep =
    s"(CAST(1.0 AS DOUBLE) - CAST($distinct AS DOUBLE) / $words)"
  private val okWords = s"($words >= $MinWords AND $words <= $MaxWords)"
  private val okMwl = s"($mwl >= CAST($MinMeanWordLen AS DOUBLE) AND $mwl <= CAST($MaxMeanWordLen AS DOUBLE))"
  private val okSym = s"(CAST($symbols AS DOUBLE) / $chars <= CAST($MaxSymbolRatio AS DOUBLE))"
  private val okRep = s"($rep <= CAST($MaxRepetitionRatio AS DOUBLE))"

  /** Oracle-side twin of [[keepExpr]]. */
  lazy val keepSqlExpr: String = s"($okWords AND $okMwl AND $okSym AND $okRep)"

  lazy val qfDecideSql: String = {
    s"""
SELECT doc_id,
  CAST($words AS INTEGER) AS words,
  ${r6Sql(mwl)} AS mean_word_len,
  ${r6Sql(s"(CAST($symbols AS DOUBLE) / $chars)")} AS symbol_ratio,
  ${r6Sql(rep)} AS repetition_ratio,
  $okWords AS ok_words,
  $okMwl AS ok_mean_word_len,
  $okSym AS ok_symbols,
  $okRep AS ok_repetition,
  ($okWords AND $okMwl AND $okSym AND $okRep) AS keep
FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // qf_repetition — Gopher-style repetition signals
  // ------------------------------------------------------------------

  /** Flag thresholds, tuned to this fixture's 10–100-word docs so the
    * decision column carries signal (the published Gopher bounds
    * assume full web pages). Compared on the UNROUNDED ratios — both
    * engines derive them from identical integers, so IEEE division
    * makes the comparison bitwise-stable without a rounding boundary.
    */
  val MaxTopTokenFrac = 0.12
  val MaxDupBigramFrac = 0.10
  val MaxDupTrigramFrac = 0.05

  /** Within-document repetition audit — the second Gopher family
    * beyond [[qfDecide]]'s length/symbol rules: most-frequent-token
    * share and duplicate word-2/3-gram shares. One
    * [[graft.functions.RepetitionStats]] eval per row computes all six
    * counters in a single linear pass (map-only, no shuffle — scales
    * by partition count alone); the fractions and flags are cheap
    * arithmetic above it. Gram fractions are NULL when the doc has no
    * grams (nothing to judge), and the flag treats NULL as not-flagged.
    */
  def qfRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val st = docs(spark, sfDir).select(col("doc_id"),
      graft.functions.RepetitionStats.stats(lower(col("text"))).as("st"))
    val Seq(n, top, n2, d2, n3, d3) =
      (1 to 6).map(i => element_at(col("st"), i))
    val topFrac = top.cast("double") / n
    val dup2 = when(n2 > 0, (n2 - d2).cast("double") / n2)
    val dup3 = when(n3 > 0, (n3 - d3).cast("double") / n3)
    val flagged = topFrac > MaxTopTokenFrac ||
      coalesce(dup2 > MaxDupBigramFrac, lit(false)) ||
      coalesce(dup3 > MaxDupTrigramFrac, lit(false))
    st.select(
      col("doc_id"),
      n.as("n_tokens"),
      r6(topFrac).as("top_token_frac"),
      r6(dup2).as("dup_2gram_frac"),
      r6(dup3).as("dup_3gram_frac"),
      flagged.as("is_repetitive"))
      .orderBy(col("doc_id"))
  }

  lazy val qfRepetitionSql: String = {
    val topFrac = "(CAST(top AS DOUBLE) / n)"
    val dup2 = "(CASE WHEN n2 > 0 THEN CAST(n2 - d2 AS DOUBLE) / n2 END)"
    val dup3 = "(CASE WHEN n3 > 0 THEN CAST(n3 - d3 AS DOUBLE) / n3 END)"
    s"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), m AS (
  SELECT doc_id,
    CAST(len(t) AS INTEGER) AS n,
    CAST(list_max(list_transform(list_distinct(t),
      d -> len(list_filter(t, x -> x = d)))) AS INTEGER) AS top,
    CAST(greatest(len(t) - 1, 0) AS INTEGER) AS n2,
    CAST(len(list_distinct(list_transform(range(1, len(t)),
      i -> t[i] || ' ' || t[i+1]))) AS INTEGER) AS d2,
    CAST(greatest(len(t) - 2, 0) AS INTEGER) AS n3,
    CAST(len(list_distinct(list_transform(range(1, len(t) - 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS INTEGER) AS d3
  FROM toks
)
SELECT doc_id,
  n AS n_tokens,
  ${r6Sql(topFrac)} AS top_token_frac,
  ${r6Sql(dup2)} AS dup_2gram_frac,
  ${r6Sql(dup3)} AS dup_3gram_frac,
  ($topFrac > CAST($MaxTopTokenFrac AS DOUBLE)
    OR COALESCE($dup2 > CAST($MaxDupBigramFrac AS DOUBLE), false)
    OR COALESCE($dup3 > CAST($MaxDupTrigramFrac AS DOUBLE), false))
    AS is_repetitive
FROM m ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // qf_redact — PII/URL scrubbing
  // ------------------------------------------------------------------

  /** Conservative ASCII patterns that parse identically in Java regex
    * and RE2 (no backrefs, no lookaround).
    */
  val EmailPattern = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val UrlPattern = "https?://[^\\s]+"
  val PhonePattern = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"

  /** Scrub emails/URLs/phone-shaped spans to typed placeholders; emit
    * per-doc hit counts and the digest of the scrubbed text (the form
    * that continues down the pipeline).
    */
  def qfRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailPattern, "<EMAIL>"),
        UrlPattern, "<URL>"),
      PhonePattern, "<PHONE>")
    docs(spark, sfDir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailPattern)).as("emails"),
      regexp_count(col("text"), lit(UrlPattern)).as("urls"),
      regexp_count(col("text"), lit(PhonePattern)).as("phones"),
      length(redacted).cast("int").as("redacted_chars"),
      md5(redacted).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  lazy val qfRedactSql: String = {
    val redacted = s"""regexp_replace(regexp_replace(regexp_replace(text,
      '$EmailPattern', '<EMAIL>', 'g'),
      '$UrlPattern', '<URL>', 'g'),
      '$PhonePattern', '<PHONE>', 'g')"""
    s"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '$EmailPattern')) AS INTEGER) AS emails,
  CAST(len(regexp_extract_all(text, '$UrlPattern')) AS INTEGER) AS urls,
  CAST(len(regexp_extract_all(text, '$PhonePattern')) AS INTEGER) AS phones,
  CAST(length($redacted) AS INTEGER) AS redacted_chars,
  md5($redacted) AS redacted_md5
FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // qf_lm_filter — perplexity-bracket quality decisions
  // ------------------------------------------------------------------

  /** Keep bracket on per-token surprisal, in micro-nats (≈ ppl 29.8 to
    * 30.3 on the fixture): below ⇒ too repetitive/templated, above ⇒
    * too random (lorem-noise, encoding damage). Published pipelines
    * (CCNet, Gopher) filter on exactly this signal from a small LM.
    */
  val LmLoMicro = 3396000L
  val LmHiMicro = 3410000L

  /** Perplexity-bracket filter over [[TextAnalysis.lmCore]]'s exact
    * integers: a doc is kept iff `LmLo ≤ surprisal/tokens ≤ LmHi` —
    * evaluated as cross-multiplied BIGINT comparisons
    * (`surprisal_micro < lo·n_tokens`), so the decision boundary is
    * integer-exact on both engines; no float threshold ever decides a
    * row (the [[graft.functions.SortedJaccardGE]] rule applied to LM
    * scores). Universe = docs with ≥1 token (the LM core's domain).
    *
    * Scale: the LM core's vocab-sized broadcast join-back; the
    * decision itself is map-side arithmetic on the aggregate.
    */
  def qfLmFilter(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.lmCore(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("surprisal_micro"),
        (col("surprisal_micro") < lit(LmLoMicro) * col("n_tokens"))
          .as("too_repetitive"),
        (col("surprisal_micro") > lit(LmHiMicro) * col("n_tokens"))
          .as("too_random"))
      .withColumn("keep", !col("too_repetitive") && !col("too_random"))
      .orderBy(col("doc_id"))

  lazy val qfLmFilterSql: String = TextAnalysis.lmCoreCtes + s"""
SELECT doc_id, n_tokens, surprisal_micro,
  surprisal_micro < $LmLoMicro * n_tokens AS too_repetitive,
  surprisal_micro > $LmHiMicro * n_tokens AS too_random,
  (NOT surprisal_micro < $LmLoMicro * n_tokens)
    AND (NOT surprisal_micro > $LmHiMicro * n_tokens) AS keep
FROM lm ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // qf_composite — the full decision layer, one verdict per doc
  // ------------------------------------------------------------------

  /** The combined keep decision a pipeline actually runs: Gopher
    * length/symbol heuristics ([[qfDecide]]) AND not repetition-flagged
    * ([[qfRepetition]]) AND inside the LM perplexity bracket
    * ([[qfLmFilter]]) — one auditable verdict row per document, with
    * each family's contribution visible. Docs outside the LM core's
    * universe (no tokens) fail the LM leg by definition (they also
    * fail MinWords, so the verdict is stable either way).
    *
    * Pure composition: each leg is the SHIPPED query — Spark reuses
    * the DataFrames, the oracle embeds the three oracle SQLs verbatim
    * as subqueries. Scale: three map-shaped legs over the same scan
    * family, joined on the partition-friendly doc_id key.
    */
  def qfComposite(spark: SparkSession, sfDir: String): DataFrame = {
    val d = qfDecide(spark, sfDir)
      .select(col("doc_id"), col("keep").as("heuristics_keep"))
    val r = qfRepetition(spark, sfDir)
      .select(col("doc_id"), col("is_repetitive"))
    val l = qfLmFilter(spark, sfDir)
      .select(col("doc_id"), col("keep").as("lm_keep"))
    d.join(r, Seq("doc_id"))
      .join(l, Seq("doc_id"), "left")
      .select(col("doc_id"), col("heuristics_keep"), col("is_repetitive"),
        coalesce(col("lm_keep"), lit(false)).as("lm_keep"),
        (col("heuristics_keep") && !col("is_repetitive") &&
          coalesce(col("lm_keep"), lit(false))).as("keep"))
      .orderBy(col("doc_id"))
  }

  lazy val qfCompositeSql: String = s"""
SELECT d.doc_id, d.keep AS heuristics_keep, r.is_repetitive,
  COALESCE(l.keep, false) AS lm_keep,
  (d.keep AND NOT r.is_repetitive AND COALESCE(l.keep, false)) AS keep
FROM ($qfDecideSql) d
JOIN ($qfRepetitionSql) r USING (doc_id)
LEFT JOIN ($qfLmFilterSql) l USING (doc_id)
ORDER BY d.doc_id"""

  // ------------------------------------------------------------------
  // qf_pii_census — per-source PII density readout
  // ------------------------------------------------------------------

  /** The per-source PII census read BEFORE deciding redaction policy:
    * how many docs carry email/URL/phone-shaped spans, the counts per
    * kind, and density per kilochar. A source near zero ships as-is; a
    * dense one routes through [[qfRedact]] (same patterns — ONE copy of
    * what counts as PII) or gets dropped.
    *
    * Shape: pure map-side regexp counts into one partial-agg'd
    * per-source shuffle — nothing scales past the scan.
    */
  def qfPiiCensus(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("source"),
      regexp_count(col("text"), lit(EmailPattern)).cast("long").as("e"),
      regexp_count(col("text"), lit(UrlPattern)).cast("long").as("u"),
      regexp_count(col("text"), lit(PhonePattern)).cast("long").as("p"),
      length(col("text")).cast("long").as("chars"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("e") + col("u") + col("p") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(col("e")).as("emails"),
        sum(col("u")).as("urls"),
        sum(col("p")).as("phones"),
        sum(col("chars")).as("chars"))
      .select(col("source"), col("n_docs"), col("docs_with_pii"),
        col("emails"), col("urls"), col("phones"), col("chars"),
        when(col("chars") > 0,
          r6((col("emails") + col("urls") + col("phones")).cast("double") *
            1000.0 / col("chars"))).as("pii_per_kchar"))
      .orderBy(col("source"))

  lazy val qfPiiCensusSql: String = s"""
WITH d AS (
  SELECT source,
    CAST(len(regexp_extract_all(text, '$EmailPattern')) AS BIGINT) AS e,
    CAST(len(regexp_extract_all(text, '$UrlPattern')) AS BIGINT) AS u,
    CAST(len(regexp_extract_all(text, '$PhonePattern')) AS BIGINT) AS p,
    CAST(length(text) AS BIGINT) AS chars
  FROM documents
), g AS (
  SELECT source,
    COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN e + u + p > 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS docs_with_pii,
    CAST(SUM(e) AS BIGINT) AS emails,
    CAST(SUM(u) AS BIGINT) AS urls,
    CAST(SUM(p) AS BIGINT) AS phones,
    CAST(SUM(chars) AS BIGINT) AS chars
  FROM d GROUP BY source
)
SELECT source, n_docs, docs_with_pii, emails, urls, phones, chars,
  CASE WHEN chars > 0 THEN ${r6Sql(
      "(CAST(emails + urls + phones AS DOUBLE) * 1000.0 / chars)")} END
    AS pii_per_kchar
FROM g ORDER BY source"""

  // ------------------------------------------------------------------
  // qf_source_census — per-feed quality verdict (cut-the-feed readout)
  // ------------------------------------------------------------------

  /** [[qfDecide]]'s per-document verdicts rolled up to source grain:
    * per feed, how many documents survive the quality gate and which
    * rule kills the rest — the number that decides whether to fix a
    * feed's extraction or drop the feed. PURE composition: the rule
    * semantics ARE qfDecide's (the oracle embeds its SQL as a CTE);
    * this query adds one doc_id join to sources and a sources-bounded
    * aggregate. Failure counts sum per RULE, so a doc failing two
    * rules appears under both (the actionable view; n_keep is the
    * conjunction).
    */
  def qfSourceCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val src = docs(spark, sfDir).select(col("doc_id"), col("source"))
    qfDecide(spark, sfDir)
      .join(src, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        sum(when(!col("ok_words"), 1L).otherwise(0L)).as("fail_words"),
        sum(when(!col("ok_mean_word_len"), 1L).otherwise(0L))
          .as("fail_mean_word_len"),
        sum(when(!col("ok_symbols"), 1L).otherwise(0L)).as("fail_symbols"),
        sum(when(!col("ok_repetition"), 1L).otherwise(0L))
          .as("fail_repetition"))
      .select(col("source"), col("n_docs"), col("n_keep"),
        r6(col("n_keep").cast("double") / col("n_docs")).as("keep_rate"),
        col("fail_words"), col("fail_mean_word_len"), col("fail_symbols"),
        col("fail_repetition"))
      .orderBy(col("source"))
  }

  lazy val qfSourceCensusSql: String = s"""
WITH q AS (
  ${qfDecideSql.replace("\n", "\n  ")}
), j AS (
  SELECT d.source, q.keep, q.ok_words, q.ok_mean_word_len, q.ok_symbols,
    q.ok_repetition
  FROM q JOIN documents d ON d.doc_id = q.doc_id
), g AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
    CAST(SUM(CASE WHEN NOT ok_words THEN 1 ELSE 0 END) AS BIGINT)
      AS fail_words,
    CAST(SUM(CASE WHEN NOT ok_mean_word_len THEN 1 ELSE 0 END) AS BIGINT)
      AS fail_mean_word_len,
    CAST(SUM(CASE WHEN NOT ok_symbols THEN 1 ELSE 0 END) AS BIGINT)
      AS fail_symbols,
    CAST(SUM(CASE WHEN NOT ok_repetition THEN 1 ELSE 0 END) AS BIGINT)
      AS fail_repetition
  FROM j GROUP BY source
)
SELECT source, n_docs, n_keep,
  ${r6Sql("(CAST(n_keep AS DOUBLE) / n_docs)")} AS keep_rate,
  fail_words, fail_mean_word_len, fail_symbols, fail_repetition
FROM g ORDER BY source"""

  // ------------------------------------------------------------------
  // qf_ingest_gate — one-row-per-feed admission verdict
  // ------------------------------------------------------------------

  /** Feed leg: minimum quality keep-rate before a feed is admitted. */
  val GateKeepRateMin = 0.5

  /** Stream leg: duplicate-id rate ceiling (at-least-once leakage). */
  val GateDupRateMax = 0.01

  /** Stream leg: malformed-payload rate ceiling. */
  val GateMalformedRateMax = 0.01

  /** Traffic leg: scripted users tolerated before the gate closes. */
  val GateMaxBots = 0L

  /** The per-feed ingest admission gate — [[qfComposite]]'s
    * compose-the-shipped-queries pattern at FEED grain: one row per
    * document source, its [[qfSourceCensus]] quality verdict AND'd
    * with the stream-side health legs every feed shares — the
    * [[graft.operators.Analytics.evDq]] duplicate/malformed rates and
    * the [[graft.operators.TimeSeries.evBot]] scripted-traffic count.
    * This is the one row an ingest scheduler reads per feed before
    * admitting its next batch: `admit` = the feed's own extraction
    * quality holds ([[GateKeepRateMin]]) AND the event stream feeding
    * the shared metrics is trustworthy (dup/malformed rates under
    * ceiling, zero flagged bots).
    *
    * PURE composition: each leg IS the shipped query — Spark reuses
    * the DataFrames, the oracle embeds the three oracle SQLs verbatim
    * as subqueries, so the gate can never drift from the audits it
    * summarizes. Threshold discipline: `keep_rate` is compared in its
    * r6'd form (both engines round identically, then compare the same
    * literal); the stream rates are compared UNROUNDED on both
    * engines (exact-integer ÷ exact-integer is one correctly-rounded
    * double on each side — the ev_srm alarm pattern) and r6'd only
    * for display.
    *
    * Scale shape: the census leg is qf_source_census's sources-bounded
    * aggregate; the stream legs each reduce to ONE broadcast row, so
    * the joins are constant-size broadcasts (no shuffle is added to
    * any leg).
    */
  def qfIngestGate(spark: SparkSession, sfDir: String): DataFrame = {
    val census = qfSourceCensus(spark, sfDir)
      .select(col("source"), col("n_docs"), col("n_keep"), col("keep_rate"))
    val dq = Analytics.evDq(spark, sfDir)
      .select(col("n_events"), col("n_dup_ids"), col("n_malformed_props"))
    val bots = TimeSeries.evBot(spark, sfDir)
      .agg(coalesce(sum(when(col("is_bot"), 1L).otherwise(0L)), lit(0L))
        .as("n_bots"))
    val dupRate = col("n_dup_ids").cast("double") / col("n_events")
    val malRate = col("n_malformed_props").cast("double") / col("n_events")
    val streamOk = dupRate <= GateDupRateMax &&
      malRate <= GateMalformedRateMax && col("n_bots") <= GateMaxBots
    census.crossJoin(broadcast(dq)).crossJoin(broadcast(bots))
      .select(col("source"), col("n_docs"), col("n_keep"), col("keep_rate"),
        (col("keep_rate") >= GateKeepRateMin).as("feed_ok"),
        r6(dupRate).as("dup_rate"),
        r6(malRate).as("malformed_rate"),
        col("n_bots"),
        streamOk.as("stream_ok"),
        (col("keep_rate") >= GateKeepRateMin && streamOk).as("admit"))
      .orderBy(col("source"))
  }

  /** LAZY: Filters' own init is reachable from Analytics' init chain
    * (Analytics → Corpus.splitLabelSql → Corpus → Filters.keepSqlExpr),
    * so an eager val here that reads Analytics/TimeSeries oracle vals
    * would close an object-initialization cycle and observe them as
    * null. Deferring to first access (after all objects settle) breaks
    * the cycle.
    */
  lazy val qfIngestGateSql: String = {
    val dup = "(CAST(d.n_dup_ids AS DOUBLE) / d.n_events)"
    val mal = "(CAST(d.n_malformed_props AS DOUBLE) / d.n_events)"
    val streamOk = s"($dup <= CAST($GateDupRateMax AS DOUBLE) AND " +
      s"$mal <= CAST($GateMalformedRateMax AS DOUBLE) AND " +
      s"b.n_bots <= $GateMaxBots)"
    s"""
WITH bots AS (
  SELECT CAST(COALESCE(SUM(CASE WHEN is_bot THEN 1 ELSE 0 END), 0)
      AS BIGINT) AS n_bots
  FROM ($evBotSqlIndented)
)
SELECT c.source, c.n_docs, c.n_keep, c.keep_rate,
  c.keep_rate >= CAST($GateKeepRateMin AS DOUBLE) AS feed_ok,
  ${r6Sql(dup)} AS dup_rate,
  ${r6Sql(mal)} AS malformed_rate,
  b.n_bots,
  $streamOk AS stream_ok,
  (c.keep_rate >= CAST($GateKeepRateMin AS DOUBLE) AND $streamOk)
    AS admit
FROM ($qfSourceCensusSqlIndented) c, ($evDqSqlIndented) d, bots b
ORDER BY c.source"""
  }

  private def evBotSqlIndented: String =
    TimeSeries.evBotSql.replace("\n", "\n  ")

  private def evDqSqlIndented: String =
    Analytics.evDqSql.replace("\n", "\n  ")

  private def qfSourceCensusSqlIndented: String =
    qfSourceCensusSql.replace("\n", "\n  ")

  // ------------------------------------------------------------------
  // qf_dp_census — differentially-private release counts
  // ------------------------------------------------------------------

  /** Privacy budgets swept: label → ε (Laplace scale b = 1/ε for a
    * count's sensitivity of 1).
    */
  val DpEps: Seq[(String, Double)] = Seq("eps_1.0" -> 1.0, "eps_0.1" -> 0.1)

  /** Grid size for the u quantization: u = (g + ½)/G with
    * g = md5Mod(key) mod G, so u takes exactly G values, every ln
    * argument is an exactly-representable odd/G, and the FULL set of
    * possible noise values {±b·ln(G/odd)} is finite and auditable —
    * FiltersSpec sweeps ALL of them for both budgets and proves each
    * rounded micro-unit noise sits ≥ 3×10⁻⁴ (≈ 5 million ULPs of the
    * product) away from a .5 boundary, so a 1-ULP ln() difference
    * between JVM Math.log and DuckDB's libm can NEVER flip a value —
    * for any source string, not just the fixture's (round-14 advice).
    * G = 2048 keeps the noise distribution a faithful discretized
    * Laplace (the max |noise| band b·ln G ≈ 7.6·b is far past any
    * useful tail; adjacent grid noises differ by ≤ b/1024 near the
    * center).
    */
  val DpUGrid = 2048L

  /** The shipped release-key salt — the deterministic default whose
    * sampled noise the driver hash gate pins. A REAL release passes a
    * per-release secret here instead ([[qfDpCensusCfg]]); with a
    * public seed the ε guarantee is void (the noise is recomputable).
    */
  val DpSeedDefault = "#dp#"

  /** DP RELEASE CENSUS — the privacy tier of the dataset-card story
    * (cp_dataset_card publishes per-source statistics; when the
    * sources are sensitive, the published counts need differential
    * privacy): per source and privacy budget ε, the true doc count,
    * the Laplace-noised count, and the signed error — the
    * accuracy-vs-ε table a release owner reads before choosing the
    * budget. Laplace noise by inverse CDF,
    * `X = −b·sgn(u−½)·ln(1−2|u−½|)`, with u derived DETERMINISTICALLY
    * from the release key ([[graft.functions.CrossHash.md5Mod]] of
    * source + seed + budget label) and QUANTIZED to the
    * [[DpUGrid]]-point grid u = (g+½)/G — the engine's determinism
    * contract applied to noise: the driver hash gate can pin the
    * sampled values, the grid makes the pin libm-proof (every possible
    * noise is one of 2·G·|budgets| audited values, see [[DpUGrid]]),
    * and a production deployment swaps the seed for a secret drawn
    * once per release through [[qfDpCensusCfg]]. Noise is quantized to
    * integer micro-units (the micro-nat discipline applied to
    * 1/ε-scale noise), so outputs are BIGINT end to end; the released
    * mechanism is thus a discretized Laplace (grid u + micro-unit
    * rounding), whose ε accounting matches the continuous mechanism up
    * to the two published quantizations.
    *
    * Scale shape: one source-grain census groupBy; the noise is a
    * per-row projection over the (sources × budgets) result — nothing
    * corpus-sized after the count.
    */
  def qfDpCensus(spark: SparkSession, sfDir: String): DataFrame =
    qfDpCensusCfg(spark, sfDir, DpSeedDefault)

  /** [[qfDpCensus]] with the release seed as a parameter — the seam a
    * deployment swaps its per-release secret into (the ddMinhashLshCfg
    * pattern: the shipped query pins the deterministic default for the
    * oracle; production constructs with a secret drawn once per
    * release and the ε guarantee becomes real). FiltersSpec proves the
    * seam bites: two seeds give different noise at identical true
    * counts.
    */
  private[graft] def qfDpCensusCfg(spark: SparkSession, sfDir: String,
      seed: String): DataFrame = {
    val per = docs(spark, sfDir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    DpEps.map { case (label, eps) =>
      per.select(col("source"), lit(label).as("eps"), col("n_docs"),
        (col("n_docs") * 1000000L +
          dpNoiseU(concat(col("source"), lit(seed + label)), eps))
          .as("n_dp_u"))
    }.reduce(_ unionAll _)
      .withColumn("err_u", col("n_dp_u") - col("n_docs") * 1000000L)
      .orderBy(col("source"), col("eps"))
  }

  /** Rounded micro-unit grid-Laplace noise for a release key — ONE
    * builder shared by the census and the composition ledger; its
    * oracle twin is [[dpNoiseUSqlOf]] (identical arithmetic order,
    * the CrossHash twin discipline).
    */
  private def dpNoiseU(key: Column, eps: Double): Column = {
    val b = 1.0 / eps
    val g = (graft.functions.CrossHash.md5Mod(key) % DpUGrid)
      .cast("double")
    val u = (g + lit(0.5)) / lit(DpUGrid.toDouble)
    val noise = (when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0)) *
      lit(-b) * log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))))
    round(noise * 1000000L).cast("long")
  }

  private def dpNoiseUSqlOf(keySql: String, eps: Double): String = {
    import graft.functions.CrossHash.md5ModSql
    val b = 1.0 / eps
    val u = s"((CAST(${md5ModSql(keySql)} % $DpUGrid AS DOUBLE) + 0.5)" +
      s" / CAST($DpUGrid AS DOUBLE))"
    val noise = s"((CASE WHEN $u >= 0.5 THEN 1.0 ELSE -1.0 END)" +
      s" * (-$b) * ln(1.0 - 2.0 * abs($u - 0.5)))"
    s"CAST(round($noise * 1000000) AS BIGINT)"
  }

  lazy val qfDpCensusSql: String = {
    def branch(label: String, eps: Double): String = {
      val key = s"(source || '$DpSeedDefault' || '$label')"
      s"""SELECT source, '$label' AS eps, n_docs,
    (n_docs * 1000000 + ${dpNoiseUSqlOf(key, eps)}) AS n_dp_u
  FROM per"""
    }
    val branches = DpEps.map { case (l, e) => branch(l, e) }
      .mkString("\n  UNION ALL ")
    s"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), noised AS (
  $branches
)
SELECT source, eps, n_docs, n_dp_u,
  CAST(n_dp_u - n_docs * 1000000 AS BIGINT) AS err_u
FROM noised
ORDER BY source, eps"""
  }

  // ------------------------------------------------------------------
  // qf_dp_composition — the sequential-composition budget ledger
  // ------------------------------------------------------------------

  /** Release rounds per budget in the composition ledger. */
  val DpReleases = 3

  /** Published per-source total privacy budget, micro-ε units: a
    * source's cumulative spend past 2.0 ε flips `within_cap` — the
    * ledger's action signal (stop releasing against this source).
    * 2.0 sits between the swept ledgers' spends (3 × 1.0 = 3.0 over,
    * 3 × 0.1 = 0.3 under), so the fixture exercises both verdicts.
    */
  val DpEpsCapU = 2000000L

  /** DP COMPOSITION LEDGER — the table a release owner actually reads
    * over time (the round-14 verdict's suggested next privacy row):
    * qf_dp_census is ONE release; real programs release repeatedly,
    * and under sequential composition the budgets ADD. Per source ×
    * budget: [[DpReleases]] releases with FRESH noise each (the key
    * carries the release index — re-publishing the same noise would
    * spend nothing but also reveal nothing new; fresh noise is what ε
    * accounting charges for), the cumulative spend k·ε against the
    * published [[DpEpsCapU]] cap, and the accuracy side of the
    * composition trade: the mean released error and mean |error| —
    * averaging k releases tightens the estimate (~1/√k) at k× the
    * privacy cost, the exact trade the owner weighs against one
    * release at a k×-larger ε.
    *
    * Same machinery as the census — grid-u noise ([[dpNoiseU]], so the
    * libm-proof sweep covers every ledger value too), micro-unit
    * integers, one source-grain groupBy then a (sources × budgets ×
    * k)-row projection + re-aggregation; nothing corpus-sized after
    * the count.
    */
  def qfDpComposition(spark: SparkSession, sfDir: String): DataFrame =
    qfDpCompositionCfg(spark, sfDir, DpSeedDefault)

  /** [[qfDpComposition]] with the release-seed seam (see
    * [[qfDpCensusCfg]]).
    */
  private[graft] def qfDpCompositionCfg(spark: SparkSession,
      sfDir: String, seed: String): DataFrame = {
    val per = docs(spark, sfDir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
    val released = DpEps.flatMap { case (label, eps) =>
      (0 until DpReleases).map { i =>
        per.select(col("source"), lit(label).as("eps"), col("n_docs"),
          lit(math.round(eps * 1000000.0)).as("eps_u"),
          dpNoiseU(concat(col("source"),
            lit(seed + label + "#r" + i)), eps).as("err_u"))
      }
    }.reduce(_ unionAll _)
    released.groupBy(col("source"), col("eps"))
      .agg(
        min(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_releases"),
        sum(col("eps_u")).as("eps_spent_u"),
        sum(col("err_u")).as("sum_err_u"),
        sum(abs(col("err_u"))).as("sum_abs_err_u"))
      .select(col("source"), col("eps"), col("n_docs"),
        col("n_releases"), col("eps_spent_u"),
        (col("eps_spent_u") <= DpEpsCapU).as("within_cap"),
        r6(col("sum_err_u").cast("double") / col("n_releases"))
          .as("mean_err_u"),
        r6(col("sum_abs_err_u").cast("double") / col("n_releases"))
          .as("mean_abs_err_u"))
      .orderBy(col("source"), col("eps"))
  }

  lazy val qfDpCompositionSql: String = {
    def branch(label: String, eps: Double, i: Int): String = {
      val key = s"(source || '$DpSeedDefault' || '$label' || '#r$i')"
      s"""SELECT source, '$label' AS eps, n_docs,
    ${math.round(eps * 1000000.0)} AS eps_u,
    ${dpNoiseUSqlOf(key, eps)} AS err_u
  FROM per"""
    }
    val branches = DpEps.flatMap { case (l, e) =>
      (0 until DpReleases).map(i => branch(l, e, i))
    }.mkString("\n  UNION ALL ")
    s"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
), released AS (
  $branches
)
SELECT source, eps, CAST(MIN(n_docs) AS BIGINT) AS n_docs,
  COUNT(*) AS n_releases,
  CAST(SUM(eps_u) AS BIGINT) AS eps_spent_u,
  CAST(SUM(eps_u) AS BIGINT) <= $DpEpsCapU AS within_cap,
  ${r6Sql("(CAST(SUM(err_u) AS DOUBLE) / COUNT(*))")} AS mean_err_u,
  ${r6Sql("(CAST(SUM(abs(err_u)) AS DOUBLE) / COUNT(*))")}
    AS mean_abs_err_u
FROM released
GROUP BY source, eps
ORDER BY source, eps"""
  }

  // ------------------------------------------------------------------
  // qf_dp_sum — DP release of a clipped SUM (sensitivity calibration)
  // ------------------------------------------------------------------

  /** Per-record contribution clip for the DP sum release. Sensitivity
    * of Σ min(n_chars, C) is exactly C — the clip is what MAKES the
    * release calibratable (unclipped, one outlier doc sets the
    * sensitivity and the noise must drown the whole statistic). 512
    * sits inside the fixture's length range (48–577), so both regimes
    * — clipped rows paying bias, unclipped rows paying none — occur.
    */
  val DpClipChars = 512L

  /** DP CLIPPED-SUM RELEASE — the census releases COUNTS (sensitivity
    * 1); real dataset cards also publish per-source VOLUME (total
    * chars/tokens), where sensitivity is the largest single record —
    * so the release must CLIP first (the standard clip-then-noise
    * mechanism): per source × ε, the clipped true sum
    * Σ min(n_chars, [[DpClipChars]]), how many rows the clip bit
    * (the bias diagnostic a release owner reads against the noise
    * scale), and the released value with Laplace noise of scale
    * C/ε — implemented as C × the SAME grid-quantized unit-scale
    * noise as [[qfDpCensus]] ([[dpNoiseU]], key salted with "sum#"
    * so the two releases never share a draw): the integer multiply
    * happens AFTER the micro-unit rounding, so the exhaustive
    * libm-proof sweep covers every released value here too, and the
    * published mechanism is a discretized Laplace(C/ε) at C-micro-unit
    * granularity. Same scale shape as the census: one source-grain
    * groupBy, noise as a per-row projection.
    */
  def qfDpSum(spark: SparkSession, sfDir: String): DataFrame =
    qfDpSumCfg(spark, sfDir, DpSeedDefault)

  /** [[qfDpSum]] with the release-seed seam (see [[qfDpCensusCfg]]). */
  private[graft] def qfDpSumCfg(spark: SparkSession, sfDir: String,
      seed: String): DataFrame = {
    val c = DpClipChars
    val per = docs(spark, sfDir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_chars") > c, lit(1L)).otherwise(lit(0L)))
          .as("n_clipped"),
        sum(least(col("n_chars"), lit(c))).as("true_sum"))
    DpEps.map { case (label, eps) =>
      per.select(col("source"), lit(label).as("eps"), col("n_docs"),
        col("n_clipped"), col("true_sum"),
        (col("true_sum") * 1000000L + lit(c) *
          dpNoiseU(concat(col("source"), lit(seed + "sum#" + label)),
            eps)).as("sum_dp_u"))
    }.reduce(_ unionAll _)
      .withColumn("err_u", col("sum_dp_u") - col("true_sum") * 1000000L)
      .orderBy(col("source"), col("eps"))
  }

  lazy val qfDpSumSql: String = {
    val c = DpClipChars
    def branch(label: String, eps: Double): String = {
      val key = s"(source || '$DpSeedDefault' || 'sum#' || '$label')"
      s"""SELECT source, '$label' AS eps, n_docs, n_clipped, true_sum,
    (true_sum * 1000000 + $c * ${dpNoiseUSqlOf(key, eps)}) AS sum_dp_u
  FROM per"""
    }
    val branches = DpEps.map { case (l, e) => branch(l, e) }
      .mkString("\n  UNION ALL ")
    s"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(COALESCE(SUM(CASE WHEN n_chars > $c THEN 1 END), 0) AS BIGINT)
      AS n_clipped,
    CAST(SUM(LEAST(n_chars, $c)) AS BIGINT) AS true_sum
  FROM documents GROUP BY source
), noised AS (
  $branches
)
SELECT source, eps, n_docs, n_clipped, true_sum,
  CAST(sum_dp_u AS BIGINT) AS sum_dp_u,
  CAST(sum_dp_u - true_sum * 1000000 AS BIGINT) AS err_u
FROM noised
ORDER BY source, eps"""
  }

  // ------------------------------------------------------------------
  // qf_dp_ledger — mixed count+sum release sequence, one budget
  // ------------------------------------------------------------------

  /** MIXED-RELEASE DP LEDGER — the accounting table of a real release
    * PROGRAM (qf_dp_composition sequences one statistic; an actual
    * program interleaves kinds — a count release, then a volume
    * release, then a refreshed count… — and under sequential
    * composition the budget adds ACROSS KINDS the same as within
    * one): per source × budget, the interleaved sequence of
    * 2·[[DpReleases]] releases (odd seq = count, sensitivity 1; even
    * seq = clipped sum, sensitivity [[DpClipChars]] — the multiply
    * after micro-unit rounding, as qf_dp_sum), each with FRESH noise
    * (the key carries program salt, kind, and round), the per-release
    * charge, the RUNNING cumulative spend, and the cap verdict at
    * each step — so the flip row is visible mid-sequence (at ε = 1.0
    * the cap trips at seq 3; at ε = 0.1 the program never trips:
    * both verdicts AND a mid-ledger flip on the fixture).
    *
    * Shared machinery end to end: ONE [[dpNoiseU]] builder (the
    * exhaustive libm guard-band sweep already covers this ledger —
    * same ε set, same grid), micro-unit integers, one source-grain
    * groupBy then a (sources × budgets × 2k)-row projection.
    */
  def qfDpLedger(spark: SparkSession, sfDir: String): DataFrame =
    qfDpLedgerCfg(spark, sfDir, DpSeedDefault)

  /** [[qfDpLedger]] with the release-seed seam (see
    * [[qfDpCensusCfg]]).
    */
  private[graft] def qfDpLedgerCfg(spark: SparkSession, sfDir: String,
      seed: String): DataFrame = {
    val c = DpClipChars
    val per = docs(spark, sfDir).groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("n_chars"), lit(c))).as("true_sum"))
    val rows = DpEps.flatMap { case (label, eps) =>
      (1 to 2 * DpReleases).map { j =>
        val kind = if (j % 2 == 1) "count" else "sum"
        val rnd = (j - 1) / 2
        val noise = dpNoiseU(concat(col("source"),
          lit(s"${seed}mix#$label#$kind#r$rnd")), eps)
        val trueU =
          if (kind == "count") col("n_docs") * 1000000L
          else col("true_sum") * 1000000L
        val relU =
          if (kind == "count") col("n_docs") * 1000000L + noise
          else col("true_sum") * 1000000L + lit(c) * noise
        per.select(col("source"), lit(label).as("eps"),
          lit(j).as("seq_no"), lit(kind).as("kind"),
          trueU.as("true_u"), relU.as("released_u"),
          lit(math.round(eps * 1000000.0)).as("eps_u"))
      }
    }.reduce(_ unionAll _)
    rows.select(col("source"), col("eps"), col("seq_no"), col("kind"),
      col("true_u"), col("released_u"),
      (col("released_u") - col("true_u")).as("err_u"), col("eps_u"),
      (col("eps_u") * col("seq_no")).as("cum_eps_u"),
      (col("eps_u") * col("seq_no") <= DpEpsCapU).as("within_cap"))
      .orderBy(col("source"), col("eps"), col("seq_no"))
  }

  lazy val qfDpLedgerSql: String = {
    val c = DpClipChars
    def branch(label: String, eps: Double, j: Int): String = {
      val kind = if (j % 2 == 1) "count" else "sum"
      val rnd = (j - 1) / 2
      val key = s"(source || '${DpSeedDefault}mix#$label#$kind#r$rnd')"
      val noise = dpNoiseUSqlOf(key, eps)
      val (trueU, relU) =
        if (kind == "count")
          ("n_docs * 1000000", s"n_docs * 1000000 + $noise")
        else
          ("true_sum * 1000000", s"true_sum * 1000000 + $c * $noise")
      s"""SELECT source, '$label' AS eps, $j AS seq_no, '$kind' AS kind,
    CAST($trueU AS BIGINT) AS true_u, CAST($relU AS BIGINT) AS released_u,
    CAST(${math.round(eps * 1000000.0)} AS BIGINT) AS eps_u
  FROM per"""
    }
    val branches = DpEps.flatMap { case (l, e) =>
      (1 to 2 * DpReleases).map(j => branch(l, e, j))
    }.mkString("\n  UNION ALL ")
    s"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
    CAST(SUM(LEAST(n_chars, $c)) AS BIGINT) AS true_sum
  FROM documents GROUP BY source
), released AS (
  $branches
)
SELECT source, eps, CAST(seq_no AS INTEGER) AS seq_no, kind, true_u,
  released_u, CAST(released_u - true_u AS BIGINT) AS err_u, eps_u,
  CAST(eps_u * seq_no AS BIGINT) AS cum_eps_u,
  eps_u * seq_no <= $DpEpsCapU AS within_cap
FROM released
ORDER BY source, eps, seq_no"""
  }

  // ------------------------------------------------------------------
  // qf_k_anon — k-anonymity / l-diversity release audit
  // ------------------------------------------------------------------

  /** k thresholds swept by the anonymity audit. */
  val KAnonKs: Seq[Int] = Seq(2, 5, 10)

  /** The generalization ladder: label → length-bucket width for the
    * quasi-identifier `(source, n_chars div width)`; width 0 means the
    * length dimension is SUPPRESSED (QI = source alone). Walking the
    * ladder is the k-anonymization decision itself — each step trades
    * analytic resolution for larger equivalence classes.
    */
  val KAnonLevels: Seq[(String, Long)] =
    Seq("b16" -> 16L, "b128" -> 128L, "src" -> 0L)

  /** K-ANONYMITY / L-DIVERSITY AUDIT — the OTHER half of the privacy
    * tier (qf_dp_census protects published AGGREGATES; this audits a
    * proposed ROW-LEVEL release): with quasi-identifier
    * `(source, length-bucket)` and sensitive attribute `lang`, a row
    * is re-identifiable when its QI equivalence class is smaller than
    * k, and attribute-disclosable when its class is sensitive-
    * homogeneous (all one lang — the l-diversity l=2 failure: an
    * attacker who links ANY member learns the sensitive value without
    * identifying one). Per generalization level × k: class count,
    * min class size (the dataset's k-anonymity), k-violating classes
    * and the rows at risk in them, plus the level's homogeneous-class
    * exposure — the table a release owner reads to pick the coarsest
    * level that clears policy. The fixture exercises both verdicts on
    * both axes: `b16` violates every k with 259 one-lang classes;
    * `src` is 25-anonymous and fully diverse.
    *
    * Scale shape: per level ONE corpus-keyed groupBy (partial-agg
    * count + distinct-lang) then a class-grain (≤ classes-sized)
    * census; the per-k sweep is conditional sums inside that census —
    * nothing corpus-sized is touched more than once per level.
    */
  def qfKAnon(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    // the 3-row k sweep, cross-joined below the census so each level
    // is ONE pass over its class relation (no re-scan per threshold)
    val ks = KAnonKs.map(k => s"SELECT $k AS k")
      .mkString(" UNION ALL ")
    val kFrame = d.sparkSession.sql(ks)
    val levels = KAnonLevels.map { case (label, width) =>
      val qiLen =
        if (width == 0L) lit(0L) else expr(s"n_chars div $width")
      val classes = d
        .groupBy(col("source"), qiLen.as("len_b"))
        .agg(count(lit(1)).as("sz"),
          countDistinct(col("lang")).as("n_lang"))
      // classes × 3 thresholds: constant-size broadcast side
      // (PlanLint allowlisted), then one census groupBy per k
      classes.crossJoin(broadcast(kFrame))
        .groupBy(col("k"))
        .agg(
          count(lit(1)).as("n_classes"),
          sum(col("sz")).as("n_rows"),
          min(col("sz")).as("min_class"),
          sum(when(col("sz") < col("k"), lit(1L)).otherwise(lit(0L)))
            .as("n_viol_classes"),
          sum(when(col("sz") < col("k"), col("sz")).otherwise(lit(0L)))
            .as("n_risk_rows"),
          sum(when(col("n_lang") === 1, lit(1L)).otherwise(lit(0L)))
            .as("n_homog_classes"),
          sum(when(col("n_lang") === 1, col("sz")).otherwise(lit(0L)))
            .as("n_homog_rows"))
        .select(lit(label).as("gen"), col("k"),
          col("n_classes"), col("min_class"),
          (col("min_class") >= col("k")).as("k_ok"),
          col("n_viol_classes"), col("n_risk_rows"),
          r6(col("n_risk_rows").cast("double") / col("n_rows"))
            .as("risk_share"),
          col("n_homog_classes"), col("n_homog_rows"),
          r6(col("n_homog_rows").cast("double") / col("n_rows"))
            .as("homog_share"))
    }
    levels.reduce(_ unionAll _).orderBy(col("gen"), col("k"))
  }

  lazy val qfKAnonSql: String = {
    val kRows = KAnonKs.map(k => s"SELECT $k AS k")
      .mkString(" UNION ALL ")
    val levels = KAnonLevels.map { case (label, width) =>
      val qiLen =
        if (width == 0L) "CAST(0 AS BIGINT)" else s"(n_chars // $width)"
      s"""classes_$label AS (
  SELECT source, $qiLen AS len_b, COUNT(*) AS sz,
    COUNT(DISTINCT lang) AS n_lang
  FROM documents GROUP BY source, $qiLen
), level_$label AS (
  SELECT '$label' AS gen, ks.k AS k,
    COUNT(*) AS n_classes,
    CAST(MIN(sz) AS BIGINT) AS min_class,
    CAST(MIN(sz) AS BIGINT) >= ks.k AS k_ok,
    CAST(COALESCE(SUM(CASE WHEN sz < ks.k THEN 1 END), 0) AS BIGINT)
      AS n_viol_classes,
    CAST(COALESCE(SUM(CASE WHEN sz < ks.k THEN sz END), 0) AS BIGINT)
      AS n_risk_rows,
    ${r6Sql("(CAST(COALESCE(SUM(CASE WHEN sz < ks.k THEN sz END), 0) AS DOUBLE) / SUM(sz))")}
      AS risk_share,
    CAST(COALESCE(SUM(CASE WHEN n_lang = 1 THEN 1 END), 0) AS BIGINT)
      AS n_homog_classes,
    CAST(COALESCE(SUM(CASE WHEN n_lang = 1 THEN sz END), 0) AS BIGINT)
      AS n_homog_rows,
    ${r6Sql("(CAST(COALESCE(SUM(CASE WHEN n_lang = 1 THEN sz END), 0) AS DOUBLE) / SUM(sz))")}
      AS homog_share
  FROM classes_$label CROSS JOIN ($kRows) ks
  GROUP BY ks.k
)"""
    }.mkString(", ")
    val union = KAnonLevels.map { case (label, _) =>
      s"SELECT * FROM level_$label"
    }.mkString("\n  UNION ALL ")
    s"""
WITH $levels
$union
ORDER BY gen, k"""
  }
}
