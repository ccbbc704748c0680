package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CrossHash
import graft.functions.CrossHash.{md5ModSql, P}
import graft.functions.Determinism.{r6, r6Sql}
import graft.schema.Tables

/** Text-analysis operators for a large-scale training-data pipeline,
  * over the `documents` fixture (doc_id, text, lang, source, n_chars).
  * Extension tier beyond the reference's surface (SURVEY.md §4.3): the
  * reference's only text ops are length/regex-clean/LIKE
  * (reference script.py:198-216, analysis.sql:131-138); these generalize
  * them to the ops an LLM-corpus pipeline needs.
  *
  * Scale posture: every operator here is a narrow projection + per-row
  * codegen'd expression — no shuffle, no UDF, no driver loop. On a real
  * cluster each executor streams its parquet split through
  * whole-stage-codegen; the only shuffle anywhere is the final
  * presentation ORDER BY (which a 100 TB run would drop).
  *
  * Each query has a DuckDB oracle twin (the `*Sql` vals) built from the
  * same constants — see [[graft.functions.CrossHash]] for the
  * cross-engine hashing contract.
  */
object TextAnalysis {

  def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "documents")

  /** Whitespace tokenization, identical in Java regex and RE2. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** BPE-ish pre-tokenizer: letter runs | single digits | single
    * punctuation (GPT-2-style digit splitting, ASCII-only for regex
    * parity; the oracle uses the same pattern in RE2).
    */
  val BpePattern = "[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]"

  private val StopPattern = "\\b(the|a|of|and|in|to|is)\\b"

  // ------------------------------------------------------------------
  // ta_tokens — token counting (whitespace + BPE-ish regex)
  // ------------------------------------------------------------------

  def taTokens(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      regexp_count(col("text"), lit(BpePattern)).as("bpe_tokens"),
      length(col("text")).cast("int").as("chars"),
      size(array_distinct(tokens(lower(col("text"))))).as("distinct_tokens"))
      .orderBy(col("doc_id"))

  lazy val taTokensSql: String = s"""
SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS INTEGER) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]')) AS INTEGER) AS bpe_tokens,
  CAST(length(text) AS INTEGER) AS chars,
  CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS INTEGER) AS distinct_tokens
FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // ta_quality — quality scoring (length / punct / stopword ratios)
  // ------------------------------------------------------------------

  def taQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val words = size(tokens(col("text")))
    val chars = length(col("text")).cast("int")
    val punct = regexp_count(col("text"), lit("[^a-zA-Z0-9\\s]"))
    val digits = regexp_count(col("text"), lit("[0-9]"))
    val alpha = regexp_count(col("text"), lit("[a-zA-Z]"))
    val stops = regexp_count(lower(col("text")), lit(StopPattern))
    // ratio terms appear in the same order/associativity as the oracle
    // SQL so the doubles are bitwise identical.
    val stopR = stops.cast("double") / words
    val alphaR = alpha.cast("double") / chars
    val punctR = punct.cast("double") / chars
    d.select(
      col("doc_id"),
      chars.as("chars"),
      words.as("words"),
      punct.as("punct_chars"),
      digits.as("digit_chars"),
      stops.as("stopword_hits"),
      r6(punctR).as("punct_ratio"),
      r6(stopR).as("stopword_ratio"),
      r6(alphaR).as("alpha_ratio"),
      r6(digits.cast("double") / chars).as("digit_ratio"),
      r6(stopR * lit(2.0) + alphaR - punctR * lit(3.0) +
        least(words.cast("double") / lit(100.0), lit(1.0)))
        .as("quality_score"))
      .orderBy(col("doc_id"))
  }

  lazy val taQualitySql: String = {
    val words = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val chars = "length(text)"
    val punct = "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
    val digits = "len(regexp_extract_all(text, '[0-9]'))"
    val alpha = "len(regexp_extract_all(text, '[a-zA-Z]'))"
    val stops = s"len(regexp_extract_all(lower(text), '\\b(the|a|of|and|in|to|is)\\b'))"
    val stopR = s"(CAST($stops AS DOUBLE) / $words)"
    val alphaR = s"(CAST($alpha AS DOUBLE) / $chars)"
    val punctR = s"(CAST($punct AS DOUBLE) / $chars)"
    s"""
SELECT doc_id,
  CAST($chars AS INTEGER) AS chars,
  CAST($words AS INTEGER) AS words,
  CAST($punct AS INTEGER) AS punct_chars,
  CAST($digits AS INTEGER) AS digit_chars,
  CAST($stops AS INTEGER) AS stopword_hits,
  ${r6Sql(punctR)} AS punct_ratio,
  ${r6Sql(stopR)} AS stopword_ratio,
  ${r6Sql(alphaR)} AS alpha_ratio,
  ${r6Sql(s"(CAST($digits AS DOUBLE) / $chars)")} AS digit_ratio,
  ${r6Sql(s"$stopR * CAST(2.0 AS DOUBLE) + $alphaR - $punctR * CAST(3.0 AS DOUBLE) + least(CAST($words AS DOUBLE) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE))")} AS quality_score
FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // ta_langid — n-gram-marker language ID heuristic
  // ------------------------------------------------------------------

  /** (lang, marker-regex) profiles, checked in this priority order for
    * argmax tie-breaks. On this synthetic fixture the text carries no
    * real language signal (shared vocabulary; `lang` labels are
    * independent of content), so the value verified is the heuristic's
    * determinism, not its accuracy; real profiles plug into the same
    * operator shape.
    */
  val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|is|a)\\b",
    "de" -> "\\b(der|und|die)\\b",
    "es" -> "\\b(el|los|es)\\b",
    "fr" -> "\\b(le|la|est)\\b",
    "zh" -> "[一-鿿]")

  /** Per-language marker-hit scores over `text` — ONE copy of the
    * profile evaluation, shared by [[taLangId]] and
    * [[taLangidConfusion]]. */
  private def langScores(text: Column): Seq[(String, Column)] =
    LangProfiles.map { case (l, pat) =>
      l -> regexp_count(lower(text), lit(pat))
    }

  /** Argmax language (profile-order tie-break) — the single predictor
    * expression both consumers rank with. */
  def langPredExpr(text: Column): Column = {
    val scores = langScores(text)
    val m = greatest(scores.map(_._2): _*)
    scores.foldLeft(lit(null).cast("string")) { case (acc, (l, s)) =>
      coalesce(acc, when(s === m, lit(l)))
    }
  }

  private def langScoresSql: Seq[(String, String)] =
    LangProfiles.map { case (l, pat) =>
      l -> s"CAST(len(regexp_extract_all(lower(text), '$pat')) AS INTEGER)"
    }

  /** Oracle twin of [[langPredExpr]] over the `text` column. */
  lazy val langPredSqlExpr: String = {
    val scores = langScoresSql
    val m = scores.map(_._2).mkString("greatest(", ", ", ")")
    scores.map { case (l, s) => s"WHEN $s = $m THEN '$l'" }
      .mkString("CASE ", " ", " END")
  }

  def taLangId(spark: SparkSession, sfDir: String): DataFrame = {
    val scores = langScores(col("text"))
    val pred = langPredExpr(col("text"))
    docs(spark, sfDir).select(
      col("doc_id") +: col("lang") +:
        scores.map { case (l, s) => s.as(s"score_$l") } :+
        pred.as("predicted_lang") :+
        (pred === col("lang")).as("label_match"): _*)
      .orderBy(col("doc_id"))
  }

  lazy val taLangIdSql: String = s"""
SELECT doc_id, lang,
  ${langScoresSql.map { case (l, s) => s"$s AS score_$l" }
      .mkString(",\n  ")},
  $langPredSqlExpr AS predicted_lang,
  ($langPredSqlExpr = lang) AS label_match
FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // ta_langid_confusion — declared × predicted language census
  // ------------------------------------------------------------------

  /** Confusion matrix of the language-ID heuristic against the
    * declared `lang` labels: per (declared, predicted) cell the count
    * and its share of the declared language — the calibration readout
    * that decides whether the classifier can gate ingest (high
    * diagonal share) or only flag for review. PURE composition: the
    * predictor IS [[langPredExpr]]/[[langPredSqlExpr]], one copy on
    * each engine.
    *
    * Scale shape: prediction is map-side regex work; one partial-agg'd
    * (declared, predicted) shuffle bounded by langs²; the share window
    * rides that tiny relation.
    */
  def taLangidConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val byLang = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    docs(spark, sfDir)
      .select(col("lang"), langPredExpr(col("text")).as("predicted_lang"))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .select(col("lang"), col("predicted_lang"), col("n"),
        sum(col("n")).over(byLang).as("lang_total"))
      .select(col("lang"), col("predicted_lang"), col("n"),
        col("lang_total"),
        r6(col("n").cast("double") / col("lang_total")).as("share"),
        (col("lang") === col("predicted_lang")).as("is_correct"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  lazy val taLangidConfusionSql: String = s"""
WITH p AS (
  SELECT lang, $langPredSqlExpr AS predicted_lang FROM documents
), c AS (
  SELECT lang, predicted_lang, COUNT(*) AS n FROM p GROUP BY 1, 2
), w AS (
  SELECT lang, predicted_lang, n,
    SUM(n) OVER (PARTITION BY lang) AS lang_total
  FROM c
)
SELECT lang, predicted_lang, CAST(n AS BIGINT) AS n,
  CAST(lang_total AS BIGINT) AS lang_total,
  ${r6Sql("(CAST(n AS DOUBLE) / lang_total)")} AS share,
  (lang = predicted_lang) AS is_correct
FROM w ORDER BY lang, predicted_lang"""

  // ------------------------------------------------------------------
  // ta_fingerprint — rolling-hash document fingerprint
  // ------------------------------------------------------------------

  /** Polynomial rolling hash over the (lowercased) token stream:
    * fp = fold(0, (acc, h) => (acc*31 + h) mod P) with h = md5-hash of
    * each token mod P. Order-sensitive (unlike a token-set hash) so
    * re-ordered documents fingerprint differently; all integer math so
    * the oracle matches exactly.
    */
  def taFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = tokens(lower(col("text")))
    // one custom-expression eval per row (TextAnalysisSpec pins it to
    // the declarative aggregate/transform twin — the md5-per-lambda-
    // element form measured 1.03 s vs 0.52 s at sf0.1)
    val fp = graft.functions.TokenRollingHash.fp(lower(col("text")))
    docs(spark, sfDir).select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      fp.as("fingerprint"),
      CrossHash.md5Long(array_join(slice(toks, 1, 3), " ")).as("head_hash"))
      .orderBy(col("doc_id"))
  }

  /** The declarative twin [[taFingerprint]]'s custom expression is
    * pinned against (spec-only — never shipped; kept so the
    * equivalence test exercises the exact formula the oracle uses).
    */
  private[graft] def fingerprintDeclarative(text: Column): Column = {
    val hashes = transform(tokens(text), t => CrossHash.md5Mod(t))
    aggregate(hashes, lit(0L), (acc, x) => (acc * lit(31L) + x) % lit(P))
  }

  lazy val taFingerprintSql: String = {
    val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    s"""
SELECT doc_id,
  CAST(len($toks) AS INTEGER) AS n_tokens,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform($toks, t -> ${md5ModSql("t")})),
    (acc, x) -> ((acc * 31) + x) % $P) AS fingerprint,
  ${CrossHash.md5LongSql(s"array_to_string($toks[1:3], ' ')")} AS head_hash
FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // ta_keywords — per-doc keyword extraction by tf-idf
  // ------------------------------------------------------------------

  /** Keywords kept per document. */
  val KeywordsPerDoc = 3

  /** Per-doc top-k terms by a rational tf-idf — `tf × (N / df)` with NO
    * transcendental (Java's and DuckDB's `ln` may differ in the last
    * ULP, which a hash gate would catch; the rational form is one IEEE
    * division + multiply, bitwise identical in both engines, and
    * induces the same ranking as the log form for fixed N).
    *
    * Scale shape: term-doc counts are one groupBy; document
    * frequencies aggregate from them (one row per distinct term —
    * vocabulary-sized, joins back hash-partitioned on term); the final
    * top-k window partitions by doc_id. No broadcast of anything
    * corpus-sized, no all-pairs.
    */
  def taKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, sfDir)
    // N (the idf constant) stays in the plan as a broadcast 1-row side
    // — no eager driver action at plan-build time
    val nDf = d.select(count(lit(1)).as("n"))
    val termDoc = d
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = termDoc.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") *
      (col("n").cast("double") / col("df").cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    termDoc.join(df, Seq("term")).crossJoin(broadcast(nDf))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        score.as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= KeywordsPerDoc)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        r6(col("score")).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  lazy val taKeywordsSql: String = s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM td GROUP BY term
), n AS (
  SELECT COUNT(*) AS n FROM documents
), scored AS (
  SELECT td.doc_id, td.term, td.tf, dfreq.df,
    CAST(td.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
      AS score
  FROM td JOIN dfreq USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df, score,
    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df,
  ${r6Sql("score")} AS tfidf
FROM ranked WHERE rank <= $KeywordsPerDoc
ORDER BY doc_id, rank"""

  // ------------------------------------------------------------------
  // ta_rarity — corpus-weighted token rarity scoring
  // ------------------------------------------------------------------

  /** Integer rarity weight of a document frequency: `1000000 div df`.
    * Pure integer arithmetic (Spark `div` ≡ DuckDB `//` on positive
    * longs), so per-doc sums are exact and parallelism-stable — no
    * float log in the hot path, unlike an idf score.
    */
  val RarityScale = 1000000L

  /** Corpus-level token rarity scoring — the second global-statistics
    * pass a curation pipeline runs after [[taKeywords]]' tf-idf: each
    * doc scored by how rare its tokens are corpus-wide. Shape: one
    * explode + (doc, term) partial agg (the shuffle carries tf rows,
    * not the token stream), document frequency from that same relation
    * (vocab-sized), then a BROADCAST join back — at 100 TB the df
    * table is vocabulary-sized (millions of rows, MBs), never the
    * corpus, so the join is exchange-free on the big side.
    */
  def taRarity(spark: SparkSession, sfDir: String): DataFrame = {
    val td = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = td.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .withColumn("wt", expr(s"$RarityScale div df"))
    td.join(broadcast(dfreq), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * col("wt")).as("sum_weight"),
        max(col("wt")).as("max_weight"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("sum_weight"), col("max_weight"),
        r6(col("sum_weight").cast("double") / col("n_tokens"))
          .as("mean_rarity"))
      .orderBy(col("doc_id"))
  }

  lazy val taRaritySql: String = s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df, $RarityScale // COUNT(*) AS wt
  FROM td GROUP BY term
)
SELECT td.doc_id,
  CAST(SUM(td.tf) AS BIGINT) AS n_tokens,
  COUNT(*) AS n_distinct,
  CAST(SUM(td.tf * dfreq.wt) AS BIGINT) AS sum_weight,
  CAST(MAX(dfreq.wt) AS BIGINT) AS max_weight,
  ${r6Sql("(CAST(SUM(td.tf * dfreq.wt) AS DOUBLE) / SUM(td.tf))")}
    AS mean_rarity
FROM td JOIN dfreq USING (term)
GROUP BY td.doc_id ORDER BY td.doc_id"""

  // ------------------------------------------------------------------
  // ta_colloc — bigram collocation mining (counts + PMI)
  // ------------------------------------------------------------------

  /** Collocations reported. */
  val CollocTopK = 30

  /** Top bigram collocations with pointwise mutual information — the
    * corpus-analysis query behind tokenizer merges and stop-phrase
    * lists. Ranking is by INTEGER keys (count desc, then the pair) —
    * never by the PMI float, whose last-ulp could differ between
    * engines and flip a rank; PMI is a reported value only (r6'd, log
    * of a ratio of exact integers).
    *
    * Shape: two map-side passes over the corpus (token explode for
    * unigram counts; zipped-slice explode for bigram pairs), each
    * partial-agg'd to a vocab-bounded table before any shuffle; the
    * vocab² candidate table then joins the BROADCAST unigram counts.
    * The global top-k window runs over the aggregated candidates —
    * bounded by vocab², never the corpus.
    */
  def taColloc(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, sfDir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
    val uni = d.select(explode(col("toks")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val n = uni.select(sum(col("c")).as("n"))
    // adjacent pairs with duplicates kept (collocation counts need
    // every occurrence): zipped slices — ArraysZip and Slice are
    // codegen'd, unlike a transform() lambda (CodegenFallback per
    // token — the CLAUDE.md HOF rule). Naming the slices FIRST pins
    // the zip's struct field names (sa/sb); computed zip inputs get
    // positional names.
    val m = greatest(size(col("toks")) - 1, lit(0))
    val pairs = d
      .select(slice(col("toks"), lit(1), m).as("sa"),
        slice(col("toks"), lit(2), m).as("sb"))
      .select(explode(arrays_zip(col("sa"), col("sb"))).as("p"))
      .select(col("p.sa").as("a"), col("p.sb").as("b"))
      .filter(col("a") =!= "" && col("b") =!= "")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val ua = uni.select(col("tok").as("a"), col("c").as("c_a"))
    val ub = uni.select(col("tok").as("b"), col("c").as("c_b"))
    val w = Window.orderBy(col("c_ab").desc, col("a"), col("b"))
    pairs
      .orderBy(col("c_ab").desc, col("a"), col("b")).limit(CollocTopK)
      .join(broadcast(ua), Seq("a")).join(broadcast(ub), Seq("b"))
      .crossJoin(broadcast(n))
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), concat(col("a"), lit(" "), col("b")).as("bigram"),
        col("c_ab"), col("c_a"), col("c_b"),
        r6(log(col("c_ab").cast("double") * col("n") /
          (col("c_a").cast("double") * col("c_b")))).as("pmi"))
      .orderBy(col("rank"))
  }

  lazy val taCollocSql: String = s"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), tok AS (
  SELECT unnest(t) AS tok FROM toks
), uni AS (
  SELECT tok, COUNT(*) AS c FROM tok WHERE tok <> '' GROUP BY tok
), n AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni
), pr AS (
  SELECT unnest(t[1:len(t)-1]) AS a, unnest(t[2:len(t)]) AS b FROM toks
), pairs AS (
  SELECT a, b, COUNT(*) AS c_ab FROM pr
  WHERE a <> '' AND b <> '' GROUP BY a, b
), topk AS (
  SELECT a, b, c_ab,
    row_number() OVER (ORDER BY c_ab DESC, a, b) AS rank
  FROM pairs
)
SELECT CAST(k.rank AS INTEGER) AS rank, k.a || ' ' || k.b AS bigram,
  k.c_ab, ua.c AS c_a, ub.c AS c_b,
  ${r6Sql("ln(CAST(k.c_ab AS DOUBLE) * n.n / (CAST(ua.c AS DOUBLE) * ub.c))")}
    AS pmi
FROM topk k
JOIN uni ua ON ua.tok = k.a
JOIN uni ub ON ub.tok = k.b
CROSS JOIN n
WHERE k.rank <= $CollocTopK
ORDER BY k.rank"""

  // ------------------------------------------------------------------
  // ta_readability — per-doc readability scoring (Flesch reading ease)
  // ------------------------------------------------------------------

  /** Per-document readability: sentence/word/syllable counters and the
    * Flesch reading-ease score — the classic curation signal for
    * audience-level bucketing of a training corpus.
    *
    * Everything upstream of the final score is an INTEGER regexp
    * count (codegen'd `RegExpCount`, map-only — the ta_* posture):
    * sentences = runs of terminal punctuation (floored at 1 so
    * unterminated fragments count as one sentence), words = the
    * shared whitespace tokenizer, syllables = vowel-group runs (the
    * standard dictionary-free heuristic). Floats appear only in the
    * last projection, in oracle-identical order/associativity, and
    * round through [[r6]].
    */
  def taReadability(spark: SparkSession, sfDir: String): DataFrame = {
    val sentences = greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1))
    val words = size(tokens(col("text")))
    val syllables = regexp_count(lower(col("text")), lit("[aeiouy]+"))
    docs(spark, sfDir)
      .select(col("doc_id"), col("text"),
        sentences.as("n_sentences"), words.as("n_words"),
        syllables.as("n_syllables"))
      .select(
        col("doc_id"),
        col("n_sentences"), col("n_words"), col("n_syllables"),
        r6(col("n_words").cast("double") / col("n_sentences"))
          .as("words_per_sentence"),
        r6(col("n_syllables").cast("double") / col("n_words"))
          .as("syllables_per_word"),
        r6(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
          lit(84.6) * (col("n_syllables").cast("double") / col("n_words")))
          .as("flesch"))
      .orderBy(col("doc_id"))
  }

  lazy val taReadabilitySql: String = {
    val sentences = "greatest(len(regexp_extract_all(text, '[.!?]+')), 1)"
    val words = "len(regexp_split_to_array(trim(text), '\\s+'))"
    val syllables = "len(regexp_extract_all(lower(text), '[aeiouy]+'))"
    val wps = s"(CAST($words AS DOUBLE) / $sentences)"
    val spw = s"(CAST($syllables AS DOUBLE) / $words)"
    s"""
SELECT doc_id,
  CAST($sentences AS INTEGER) AS n_sentences,
  CAST($words AS INTEGER) AS n_words,
  CAST($syllables AS INTEGER) AS n_syllables,
  ${r6Sql(wps)} AS words_per_sentence,
  ${r6Sql(spw)} AS syllables_per_word,
  ${r6Sql(s"CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * $wps - CAST(84.6 AS DOUBLE) * $spw")} AS flesch
FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // ta_ngram_lm — unigram LM surprisal / perplexity scoring
  // ------------------------------------------------------------------

  /** Surprisal quantization: micro-nats per token occurrence. */
  val LmScale = 1000000L

  /** Model-free perplexity scoring — the curation signal a real
    * pipeline gets from a reference LM, here from the corpus's own
    * unigram MLE: per-token surprisal `ln(T / C(t))` (T = corpus token
    * count, C(t) = term count), per-doc mean surprisal and perplexity
    * `exp(mean)`. Low-ppl docs are repetitive/templated; high-ppl docs
    * are noise — both tails get dropped or downweighted.
    *
    * Parallelism-stable by construction: the float `ln` is evaluated
    * once per VOCAB TERM (never per token) and quantized to an integer
    * micro-nat weight; per-doc totals are then exact BIGINT sums whose
    * order cannot matter. Floats reappear only in the final per-row
    * projection, in oracle-identical associativity, through [[r6]].
    *
    * Scale shape (the [[taRarity]] posture): one explode + (doc, term)
    * partial agg — the shuffle carries tf rows, not the token stream;
    * term counts aggregate that same vocab-sized relation; the weight
    * table is vocabulary-sized and BROADCAST back, so the corpus side
    * never re-shuffles. The corpus-total cross join broadcasts one row.
    */
  /** The LM core: per-doc exact token count + micro-nat surprisal sum
    * — shared by [[taNgramLm]] (which adds the float readouts) and
    * [[graft.operators.Filters.qfLmFilter]] (which thresholds on the
    * INTEGERS, never the floats).
    */
  def lmCore(spark: SparkSession, sfDir: String): DataFrame = {
    val td = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cnt = td.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val tot = cnt.agg(sum(col("c")).as("t"))
    val wt = cnt.crossJoin(broadcast(tot)).select(col("term"),
      round(log(col("t").cast("double") / col("c")) * LmScale)
        .cast("long").as("wt"))
    td.join(broadcast(wt), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("wt")).as("surprisal_micro"))
  }

  def taNgramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val mean = col("surprisal_micro").cast("double") /
      lit(LmScale.toDouble) / col("n_tokens")
    lmCore(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("surprisal_micro"),
        r6(-mean).as("mean_logprob"),
        r6(exp(mean)).as("ppl"))
      .orderBy(col("doc_id"))
  }

  /** The LM-core CTE chain ending in `lm(doc_id, n_tokens,
    * surprisal_micro)` — ONE copy of the weight/aggregation semantics
    * for [[taNgramLmSql]] and the filter twin.
    */
  lazy val lmCoreCtes: String = s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), cnt AS (
  SELECT term, SUM(tf) AS c FROM td GROUP BY term
), tot AS (
  SELECT SUM(c) AS t FROM cnt
), wt AS (
  SELECT term,
    CAST(round(ln(CAST(t AS DOUBLE) / c) * $LmScale) AS BIGINT) AS wt
  FROM cnt CROSS JOIN tot
), lm AS (
  SELECT td.doc_id,
    CAST(SUM(td.tf) AS BIGINT) AS n_tokens,
    CAST(SUM(td.tf * wt.wt) AS BIGINT) AS surprisal_micro
  FROM td JOIN wt USING (term)
  GROUP BY td.doc_id
)"""

  lazy val taNgramLmSql: String = {
    val mean =
      s"(CAST(surprisal_micro AS DOUBLE) / CAST($LmScale AS DOUBLE) / n_tokens)"
    lmCoreCtes + s"""
SELECT doc_id, n_tokens, surprisal_micro,
  ${r6Sql(s"-$mean")} AS mean_logprob,
  ${r6Sql(s"exp($mean)")} AS ppl
FROM lm ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // ta_ttr — lexical diversity per source
  // ------------------------------------------------------------------

  /** Per-source lexical diversity: token/type/hapax counts, type-token
    * ratio and hapax share — the corpus-health panel that catches
    * templated or machine-generated sources (low TTR, thin hapax tail)
    * before they dilute a training mix.
    *
    * Integers all the way down: the only floats are the two final
    * ratios of exact BIGINTs, through [[r6]] in oracle-identical
    * shape. Scale: explode → (source, term) partial agg (the shuffle
    * carries term-frequency rows, not the token stream — the
    * [[taRarity]] posture), then one vocab-sized reduce per source.
    */
  def taTtr(spark: SparkSession, sfDir: String): DataFrame = {
    val st = docs(spark, sfDir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
    st.groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        col("n_hapax"),
        r6(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        r6(col("n_hapax").cast("double") / col("n_types"))
          .as("hapax_share"))
      .orderBy(col("source"))
  }

  lazy val taTtrSql: String = s"""
WITH tok AS (
  SELECT source,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), st AS (
  SELECT source, term, COUNT(*) AS c
  FROM tok WHERE term <> '' GROUP BY source, term
)
SELECT source,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  COUNT(*) AS n_types,
  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
  ${r6Sql("(CAST(COUNT(*) AS DOUBLE) / SUM(c))")} AS ttr,
  ${r6Sql(
    "(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*))")}
    AS hapax_share
FROM st GROUP BY source ORDER BY source"""

  // ------------------------------------------------------------------
  // ta_entropy — per-doc token entropy
  // ------------------------------------------------------------------

  /** Per-document token (Shannon) entropy — the repetition/diversity
    * quality signal: `H = ln(n) − (Σ c·ln c)/n` over the doc's term
    * counts. Near-zero H flags looped/templated text that a length or
    * stopword filter misses; H near ln(n) is all-distinct token soup.
    *
    * The parallelism-stable decomposition (the [[taNgramLm]] posture):
    * `c·ln c` is evaluated once per (doc, term) COUNT — an integer —
    * and quantized to micro-nats, so the per-doc reduction is an exact
    * BIGINT sum; `ln(n)` is one libm call per output row on an
    * integer argument, identical on both engines. Scale: explode →
    * (doc, term) partial agg; the shuffle carries term frequencies,
    * never the token stream.
    */
  def taEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val td = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("c"))
    val ent = log(col("n_tokens").cast("double")) -
      col("clnc_micro").cast("double") / lit(LmScale.toDouble) /
        col("n_tokens")
    td.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(round(col("c").cast("double") * log(col("c").cast("double")) *
          LmScale).cast("long")).as("clnc_micro"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("clnc_micro"), r6(ent).as("entropy"))
      .orderBy(col("doc_id"))
  }

  lazy val taEntropySql: String = {
    val ent =
      s"(ln(CAST(SUM(c) AS DOUBLE)) - CAST(SUM(CAST(round(c * ln(CAST(c AS DOUBLE)) * $LmScale) AS BIGINT)) AS DOUBLE) / $LmScale.0 / SUM(c))"
    s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS c
  FROM tok WHERE term <> '' GROUP BY doc_id, term
)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  COUNT(*) AS n_types,
  CAST(SUM(CAST(round(c * ln(CAST(c AS DOUBLE)) * $LmScale) AS BIGINT))
    AS BIGINT) AS clnc_micro,
  ${r6Sql(ent)} AS entropy
FROM td GROUP BY doc_id ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // ta_zipf — rank-frequency power-law fit per source
  // ------------------------------------------------------------------

  /** Terms per source entering the Zipf fit. */
  val ZipfTopR = 100

  /** Zipf rank-frequency readout per source: least-squares slope of
    * `ln(freq)` against `ln(rank)` over the top-[[ZipfTopR]] terms —
    * natural text sits near −1; templated or synthetic sources drift.
    * The regression runs entirely in integer micro-nats (the
    * [[taNgramLm]] posture: one vocab-level `ln` per RANKED TERM,
    * quantized; all Σx, Σy, Σxy, Σx² are exact BIGINTs), so the only
    * float is the final slope division. Rank ties break on the term
    * string — deterministic on both engines.
    *
    * Scale: explode → (source, term) partial agg (vocab-sized shuffle,
    * never the token stream); the rank window partitions by source and
    * its input can pre-prune to counts that plausibly reach the top-R
    * per partition. The fit itself reduces 100 rows per source.
    */
  def taZipf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs(spark, sfDir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("term"))
    val k = counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfTopR)
      .select(col("source"), col("term"), col("cnt"), col("rank"),
        round(log(col("rank").cast("double")) * LmScale).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * LmScale).cast("long").as("y"))
    val a = k.groupBy(col("source")).agg(
      count(lit(1)).as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      max(when(col("rank") === 1, col("term"))).as("top_term"),
      max(when(col("rank") === 1, col("cnt"))).as("top_count"))
    a.select(col("source"), col("n_terms"), col("top_term"),
        col("top_count").cast("long").as("top_count"),
        when(col("n_terms") * col("sxx") - col("sx") * col("sx") > 0,
          r6((col("n_terms") * col("sxy") - col("sx") * col("sy"))
            .cast("double") /
            (col("n_terms") * col("sxx") - col("sx") * col("sx"))
              .cast("double"))).as("slope"))
      .orderBy(col("source"))
  }

  lazy val taZipfSql: String = s"""
WITH tok AS (
  SELECT source,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), c AS (
  SELECT source, term, COUNT(*) AS cnt
  FROM tok WHERE term <> '' GROUP BY source, term
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY cnt DESC, term) AS rank
  FROM c
), k AS (
  SELECT source, term, cnt, rank,
    CAST(round(ln(CAST(rank AS DOUBLE)) * $LmScale) AS BIGINT) AS x,
    CAST(round(ln(CAST(cnt AS DOUBLE)) * $LmScale) AS BIGINT) AS y
  FROM r WHERE rank <= $ZipfTopR
), a AS (
  SELECT source, COUNT(*) AS n_terms,
    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
    CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx,
    MAX(CASE WHEN rank = 1 THEN term END) AS top_term,
    MAX(CASE WHEN rank = 1 THEN cnt END) AS top_count
  FROM k GROUP BY source
)
SELECT source, n_terms, top_term, CAST(top_count AS BIGINT) AS top_count,
  CASE WHEN n_terms * sxx - sx * sx > 0 THEN
    ${r6Sql("(CAST(n_terms * sxy - sx * sy AS DOUBLE) / " +
      "CAST(n_terms * sxx - sx * sx AS DOUBLE))")} END AS slope
FROM a ORDER BY source"""

  // ------------------------------------------------------------------
  // ta_dup_ngrams — corpus-level duplicated-trigram mass per source
  // ------------------------------------------------------------------

  /** Width for the duplication census — the [[Dedup.shingles]] trigram. */
  val DupGramN = 3

  /** Per-source duplicated-n-gram census — the memorization-risk
    * readout: what fraction of the source's trigram OCCURRENCES is
    * repeated mass (`dup_rate` = 1 − distinct/total), and what share of
    * its distinct trigrams recurs across documents (`cross_doc_share`,
    * the boilerplate/template signal that per-doc repetition scores
    * miss). Sources near dup_rate 0 are fresh text; high cross_doc_share
    * flags shared headers/footers worth a [[Dedup.ddSpans]] pass.
    *
    * Two cheap relations, never the raw token stream twice:
    * total occurrences is ARITHMETIC on per-doc token counts
    * (Σ max(0, n_tokens − 2) — no explode at all), and the distinct
    * side reuses [[graft.functions.WordGramHashes]]' per-doc-distinct
    * gram rows — distinct-across-source of a union equals distinct of
    * the per-doc-distinct union, and a gram's (source, h) row count IS
    * its containing-doc count. One partial-agg'd exchange of (source,
    * h) rows; everything after is vocab-sized.
    */
  /** Per-source total trigram OCCURRENCES as arithmetic on per-doc
    * token counts (Σ max(0, n_tokens − (N−1)) — no explode at all).
    * ONE copy, shared by [[taDupNgrams]] and [[taNgramCoverage]].
    */
  private def gramTotals(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("source"),
        greatest(lit(0), size(tokens(lower(col("text")))) - (DupGramN - 1))
          .cast("long").as("g"))
      .groupBy(col("source")).agg(sum(col("g")).as("total_grams"))

  /** Its oracle twin (same Σ max(0, len−(N−1)) arithmetic over the
    * `toks` CTE both consumers open with).
    */
  private lazy val gramTotalsSql: String =
    s"""SELECT source,
    CAST(SUM(greatest(0, len(t) - ${DupGramN - 1})) AS BIGINT)
      AS total_grams
  FROM toks GROUP BY source"""

  def taDupNgrams(spark: SparkSession, sfDir: String): DataFrame = {
    val byGram = docs(spark, sfDir)
      .select(col("source"), explode(graft.functions.WordGramHashes
        .grams(lower(col("text")), DupGramN, modded = true)).as("h"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("n_docs"))
    val distincts = byGram.groupBy(col("source"))
      .agg(count(lit(1)).as("distinct_grams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L))
          .as("cross_doc_grams"))
    gramTotals(spark, sfDir).join(distincts, Seq("source"), "left")
      .select(col("source"), col("total_grams"),
        coalesce(col("distinct_grams"), lit(0L)).as("distinct_grams"),
        coalesce(col("cross_doc_grams"), lit(0L)).as("cross_doc_grams"),
        when(col("total_grams") > 0,
          r6((col("total_grams") - coalesce(col("distinct_grams"), lit(0L)))
            .cast("double") / col("total_grams"))).as("dup_rate"),
        when(coalesce(col("distinct_grams"), lit(0L)) > 0,
          r6(col("cross_doc_grams").cast("double") / col("distinct_grams")))
          .as("cross_doc_share"))
      .orderBy(col("source"))
  }

  lazy val taDupNgramsSql: String = {
    val gram = (0 until DupGramN).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""
WITH toks AS (
  SELECT doc_id, source,
    regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, source,
    CASE WHEN len(t) >= $DupGramN THEN
      list_distinct(list_transform(range(1, len(t) - ${DupGramN - 2}),
        i -> ($gram)))
    ELSE [] END AS gs
  FROM toks
), gram_rows AS (
  SELECT source, ${md5ModSql("g2")} AS h
  FROM (SELECT source, unnest(gs) AS g2 FROM grams)
), by_gram AS (
  SELECT source, h, COUNT(*) AS n_docs FROM gram_rows GROUP BY source, h
), d AS (
  SELECT source, COUNT(*) AS distinct_grams,
    CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS cross_doc_grams
  FROM by_gram GROUP BY source
), tot AS (
  $gramTotalsSql
)
SELECT t.source, t.total_grams,
  COALESCE(d.distinct_grams, CAST(0 AS BIGINT)) AS distinct_grams,
  COALESCE(d.cross_doc_grams, CAST(0 AS BIGINT)) AS cross_doc_grams,
  CASE WHEN t.total_grams > 0 THEN ${r6Sql(
      "(CAST(t.total_grams - COALESCE(d.distinct_grams, 0) AS DOUBLE)" +
      " / t.total_grams)")} END AS dup_rate,
  CASE WHEN COALESCE(d.distinct_grams, 0) > 0 THEN ${r6Sql(
      "(CAST(d.cross_doc_grams AS DOUBLE) / d.distinct_grams)")} END
    AS cross_doc_share
FROM tot t LEFT JOIN d ON d.source = t.source
ORDER BY t.source"""
  }

  // ------------------------------------------------------------------
  // ta_vocab_overlap — pairwise vocabulary Jaccard between sources
  // ------------------------------------------------------------------

  /** Pairwise vocabulary overlap between sources: |V_a ∩ V_b| and
    * Jaccard over distinct lowercased terms — the redundancy map read
    * before weighting a mixture (two sources sharing most of their
    * vocabulary contribute less diversity than their token counts
    * suggest). Pairs with an empty intersection are omitted (their
    * Jaccard is 0 by definition).
    *
    * Scale shape: everything runs on the DISTINCT (source, term)
    * relation — vocab-sized, never the token stream. It feeds three
    * consumers (two join sides + sizes), so it is cached (the
    * Dedup.bandRows idiom; plan audit measured 4 scans / 11 exchanges
    * → 1 scan with the cache — alias exprIds defeat ReusedExchange
    * here); output is ≤ sources² rows. At 100 TB the vocab relation is
    * the same one [[taTtr]] builds — a few hundred million rows at web
    * scale, a routine cache.
    */
  def taVocabOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val v = docs(spark, sfDir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .distinct()
      .cache()
    val sizes = v.groupBy(col("source")).agg(count(lit(1)).as("n"))
    v.select(col("source").as("source_a"), col("term"))
      .join(v.select(col("source").as("source_b"), col("term")), Seq("term"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("source_a"), col("n").as("na")),
        Seq("source_a"))
      .join(sizes.select(col("source").as("source_b"), col("n").as("nb")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("na"), col("nb"),
        col("n_common"),
        r6(col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common"))).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  lazy val taVocabOverlapSql: String = s"""
WITH v AS (
  SELECT DISTINCT source, term FROM (
    SELECT source,
      unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
    FROM documents
  ) WHERE term <> ''
), sizes AS (
  SELECT source, COUNT(*) AS n FROM v GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM v a JOIN v b ON a.term = b.term AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT i.source_a, i.source_b, sa.n AS na, sb.n AS nb, i.n_common,
  ${r6Sql("(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common))")}
    AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b
ORDER BY i.source_a, i.source_b"""

  // ------------------------------------------------------------------
  // ta_ngram_coverage — top-k trigram concentration per source
  // ------------------------------------------------------------------

  /** Head size for the concentration readout. */
  val CoverageTopK = 20

  /** What share of a source's trigram OCCURRENCES its top-20 trigrams
    * account for — the head-concentration readout that separates
    * templated/boilerplate sources (a few grams dominate) from diverse
    * prose, complementing [[taZipf]]'s slope with an exact head mass.
    *
    * The per-source top-k runs on the custom
    * [[graft.plans.TopKPerGroup]] physical operator (bounded-heap,
    * no sort — the third oracle-hashed query through the custom plan),
    * over occurrence counts from
    * [[graft.functions.WordGramHashes]].gramsAll. Totals reuse
    * [[gramTotals]]' explode-free arithmetic. One (source, h)
    * partial-agg'd exchange; everything after is vocab-sized.
    */
  def taNgramCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .select(col("source"), explode(graft.functions.WordGramHashes
        .gramsAll(lower(col("text")), DupGramN, modded = true)).as("h"))
      .groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val top = graft.plans.TopK.perGroup(counts, Seq("source"),
        Seq("cnt" -> true, "h" -> false), CoverageTopK)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("topk_grams"),
        sum(col("cnt")).as("topk_occurrences"))
    gramTotals(spark, sfDir).join(top, Seq("source"), "left")
      .select(col("source"), col("total_grams"),
        coalesce(col("topk_grams"), lit(0L)).as("topk_grams"),
        coalesce(col("topk_occurrences"), lit(0L)).as("topk_occurrences"),
        when(col("total_grams") > 0,
          r6(coalesce(col("topk_occurrences"), lit(0L)).cast("double") /
            col("total_grams"))).as("coverage"))
      .orderBy(col("source"))
  }

  lazy val taNgramCoverageSql: String = {
    val gram = (0 until DupGramN).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""
WITH toks AS (
  SELECT doc_id, source,
    regexp_split_to_array(trim(lower(text)), '\\s+') AS t
  FROM documents
), occ AS (
  SELECT source, ${md5ModSql("g2")} AS h
  FROM (
    SELECT source, unnest(
      CASE WHEN len(t) >= $DupGramN THEN
        list_transform(range(1, len(t) - ${DupGramN - 2}), i -> ($gram))
      ELSE [] END) AS g2
    FROM toks
  )
), counts AS (
  SELECT source, h, COUNT(*) AS cnt FROM occ GROUP BY source, h
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY cnt DESC, h) AS rank
  FROM counts
), top AS (
  SELECT source, COUNT(*) AS topk_grams,
    CAST(SUM(cnt) AS BIGINT) AS topk_occurrences
  FROM r WHERE rank <= $CoverageTopK GROUP BY source
), tot AS (
  $gramTotalsSql
)
SELECT t.source, t.total_grams,
  COALESCE(p.topk_grams, CAST(0 AS BIGINT)) AS topk_grams,
  COALESCE(p.topk_occurrences, CAST(0 AS BIGINT)) AS topk_occurrences,
  CASE WHEN t.total_grams > 0 THEN ${r6Sql(
      "(CAST(COALESCE(p.topk_occurrences, 0) AS DOUBLE) / t.total_grams)")}
    END AS coverage
FROM tot t LEFT JOIN top p ON p.source = t.source
ORDER BY t.source"""
  }

  // ------------------------------------------------------------------
  // ta_kl_source — per-source KL divergence from the corpus unigram mix
  // ------------------------------------------------------------------

  /** Top corpus terms kept as individual buckets; the tail folds into
    * one OTHER bucket, so the distribution support is bounded at
    * [[KlTopTerms]]+1 regardless of vocabulary size.
    */
  val KlTopTerms = 20

  /** How far each source's unigram distribution sits from the corpus
    * mixture: `KL(source ‖ corpus)` over the top-[[KlTopTerms]] terms
    * + OTHER, Laplace-smoothed on both sides. Near 0 = the source
    * speaks the corpus's language; a high value = off-distribution
    * content (templated feed, different domain) worth re-weighting —
    * [[graft.operators.Analytics.profDrift]]'s PSI posture applied to
    * text.
    *
    * Determinism (the prof_drift discipline): a COMPLETE
    * source × bucket scaffold (empty cells exist on both engines,
    * smoothed to 1), each bucket's contribution one fixed-arity float
    * expression from integer counts, and the per-source total folded
    * IN BUCKET ORDER on both engines — never a parallel float sum.
    * Scale: one vocab shuffle for the ranking, the bucket map
    * broadcasts back over the token stream, and everything after is
    * bounded by sources × buckets.
    */
  /** Shared by [[taKlSource]] and [[taJsd]]: the smoothed
    * (source, bucket, count) relation over the corpus's
    * top-[[KlTopTerms]] terms + OTHER — a COMPLETE scaffold
    * (every cell exists, Laplace +1), cached because each consumer
    * folds it several ways. sources × buckets rows.
    */
  private def sourceBucketCounts(spark: SparkSession,
      sfDir: String): DataFrame = {
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("cc").desc, col("term"))
    // ONE token-explode pass: the (source, term, count) relation is
    // vocab-sized and feeds both the corpus ranking and the per-source
    // bucket counts — cached (plan audit: 12 scans / 35 exchanges →
    // 2 scans with the two caches; the Dedup.bandRows idiom)
    val st = docs(spark, sfDir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c0"))
      .cache()
    val bucketOf = st.groupBy(col("term")).agg(sum(col("c0")).as("cc"))
      .withColumn("r", row_number().over(wr))
      .select(col("term"),
        when(col("r") <= KlTopTerms, col("r") - 1)
          .otherwise(KlTopTerms).cast("int").as("bucket"))
    val sbRaw = st.join(broadcast(bucketOf), "term")
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("c0")).as("c"))
    val scaffold = docs(spark, sfDir).select(col("source")).distinct()
      .crossJoin(spark.range(KlTopTerms + 1)
        .select(col("id").cast("int").as("bucket")))
    scaffold.join(sbRaw, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"),
        (coalesce(col("c"), lit(0L)) + 1).as("c")) // Laplace +1
      .cache()
  }

  /** The oracle-side twin of [[sourceBucketCounts]]: the CTE chain
    * ending at `full_counts(source, bucket, c)`, shared verbatim by
    * [[taKlSourceSql]] and [[taJsdSql]] (the CrossHash never-duplicate
    * rule applied to a relation, not just an expression).
    */
  private lazy val sourceBucketCtesSql: String = s"""tok AS (
  SELECT source,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tt AS (
  SELECT source, term FROM tok WHERE term <> ''
), vocab AS (
  SELECT term, COUNT(*) AS cc FROM tt GROUP BY term
), bucket_of AS (
  SELECT term,
    CAST(CASE WHEN r <= $KlTopTerms THEN r - 1
         ELSE $KlTopTerms END AS INTEGER) AS bucket
  FROM (SELECT term,
    row_number() OVER (ORDER BY cc DESC, term) AS r FROM vocab)
), sb_raw AS (
  SELECT t.source, b.bucket, COUNT(*) AS c
  FROM tt t JOIN bucket_of b ON b.term = t.term
  GROUP BY t.source, b.bucket
), scaffold AS (
  SELECT s.source, CAST(g.range AS INTEGER) AS bucket
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN range(${KlTopTerms + 1}) g
), full_counts AS (
  SELECT sc.source, sc.bucket, COALESCE(r.c, 0) + 1 AS c
  FROM scaffold sc LEFT JOIN sb_raw r
    ON r.source = sc.source AND r.bucket = sc.bucket
)"""

  def taKlSource(spark: SparkSession, sfDir: String): DataFrame = {
    // sources × buckets rows — tiny, and it feeds three consumers
    val full = sourceBucketCounts(spark, sfDir)
    val nS = full.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val corpusB = full.groupBy(col("bucket"))
      .agg((sum(col("c") - 1) + 1).as("cc")) // raw corpus count + 1
    val nCorp = corpusB.agg(sum(col("cc")).as("nc"))
    val terms = full.join(nS, Seq("source"))
      .join(broadcast(corpusB), Seq("bucket"))
      .crossJoin(broadcast(nCorp))
      .select(col("source"), col("bucket"), col("c"),
        (col("c").cast("double") / col("n")).as("p"),
        (col("cc").cast("double") / col("nc")).as("q"))
      .select(col("source"), col("bucket"), col("c"),
        (col("p") * log(col("p") / col("q"))).as("term"))
    terms.groupBy(col("source"))
      .agg(sum(col("c") - 1).as("n_tokens"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
          col("term")))), lit(0.0), (acc, x) => acc + x.getField("term"))
          .as("kl_raw"))
      .select(col("source"), col("n_tokens"), r6(col("kl_raw")).as("kl"))
      .orderBy(col("source"))
  }

  lazy val taKlSourceSql: String = s"""
WITH $sourceBucketCtesSql, n_s AS (
  SELECT source, SUM(c) AS n FROM full_counts GROUP BY source
), corpus_b AS (
  SELECT bucket, SUM(c - 1) + 1 AS cc FROM full_counts GROUP BY bucket
), n_corp AS (
  SELECT SUM(cc) AS nc FROM corpus_b
), pq AS (
  SELECT f.source, f.bucket, f.c,
    CAST(f.c AS DOUBLE) / n_s.n AS p,
    CAST(cb.cc AS DOUBLE) / n_corp.nc AS q
  FROM full_counts f
  JOIN n_s ON n_s.source = f.source
  JOIN corpus_b cb ON cb.bucket = f.bucket
  CROSS JOIN n_corp
), terms AS (
  SELECT source, bucket, c, p * ln(p / q) AS term FROM pq
)
SELECT source,
  CAST(SUM(c - 1) AS BIGINT) AS n_tokens,
  ${r6Sql("""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list(term ORDER BY bucket)), (acc, x) -> acc + x)""")} AS kl
FROM terms GROUP BY source ORDER BY source"""

  // ------------------------------------------------------------------
  // ta_jsd — pairwise Jensen–Shannon divergence between sources
  // ------------------------------------------------------------------

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions over the SAME top-[[KlTopTerms]]+OTHER bucket
    * support as [[taKlSource]] — the symmetric, bounded (≤ ln 2)
    * source-similarity matrix. `ta_kl_source` says how far each feed
    * sits from the mixture; this says which feeds are NEAR-DUPLICATES
    * OF EACH OTHER at distribution grain — the signal for collapsing
    * redundant feeds before `cp_mix` assigns weights (the
    * `ta_vocab_overlap` question asked of distributions, not sets).
    *
    * Determinism: identical to the KL posture — integer smoothed
    * counts on a complete scaffold, each bucket's JSD contribution
    * `½(p·ln(2p/(p+q)) + q·ln(2q/(p+q)))` one fixed-arity float
    * expression (p, q > 0 by smoothing, so no log-of-zero branch),
    * folded IN BUCKET ORDER per pair on both engines.
    *
    * Scale shape: everything downstream of the shared vocab shuffle
    * is bounded by sources² × buckets — pairs of FEEDS, not of
    * documents; a thousand-source corpus yields ~500k fold rows.
    */
  def taJsd(spark: SparkSession, sfDir: String): DataFrame = {
    val full = sourceBucketCounts(spark, sfDir)
    val nS = full.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val sb = full.join(nS, Seq("source"))
    val a = sb.select(col("source").as("source_a"), col("bucket"),
      col("c").as("c_a"), col("n").as("n_a"))
    val b = sb.select(col("source").as("source_b"), col("bucket"),
      col("c").as("c_b"), col("n").as("n_b"))
    val p = col("c_a").cast("double") / col("n_a")
    val q = col("c_b").cast("double") / col("n_b")
    val term = lit(0.5) * (p * log(lit(2.0) * p / (p + q)) +
      q * log(lit(2.0) * q / (p + q)))
    a.join(b, Seq("bucket")).filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), col("bucket"),
        col("c_a"), col("c_b"), term.as("term"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("c_a") - 1).as("n_tokens_a"),
        sum(col("c_b") - 1).as("n_tokens_b"),
        aggregate(array_sort(collect_list(struct(col("bucket"),
          col("term")))), lit(0.0), (acc, x) => acc + x.getField("term"))
          .as("jsd_raw"))
      .select(col("source_a"), col("source_b"), col("n_tokens_a"),
        col("n_tokens_b"), r6(col("jsd_raw")).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  lazy val taJsdSql: String = s"""
WITH $sourceBucketCtesSql, n_s AS (
  SELECT source, SUM(c) AS n FROM full_counts GROUP BY source
), sb AS (
  SELECT f.source, f.bucket, f.c, n_s.n
  FROM full_counts f JOIN n_s ON n_s.source = f.source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.bucket,
    a.c AS c_a, b.c AS c_b,
    CAST(a.c AS DOUBLE) / a.n AS p,
    CAST(b.c AS DOUBLE) / b.n AS q
  FROM sb a JOIN sb b
    ON a.bucket = b.bucket AND a.source < b.source
), terms AS (
  SELECT source_a, source_b, bucket, c_a, c_b,
    CAST(0.5 AS DOUBLE) * (p * ln(CAST(2.0 AS DOUBLE) * p / (p + q)) +
      q * ln(CAST(2.0 AS DOUBLE) * q / (p + q))) AS term
  FROM pairs
)
SELECT source_a, source_b,
  CAST(SUM(c_a - 1) AS BIGINT) AS n_tokens_a,
  CAST(SUM(c_b - 1) AS BIGINT) AS n_tokens_b,
  ${r6Sql("""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list(term ORDER BY bucket)), (acc, x) -> acc + x)""")} AS jsd
FROM terms GROUP BY source_a, source_b
ORDER BY source_a, source_b"""

  // ------------------------------------------------------------------
  // ta_burstiness — index of dispersion for the corpus's top terms
  // ------------------------------------------------------------------

  /** Terms profiled (by total count, term-asc tiebreak). */
  val BurstTopK = 20

  /** Burstiness (variance-to-mean index of dispersion) of per-doc
    * counts for the corpus's top terms: ≈1 is Poisson (the term
    * scatters like noise — function words), >1 is bursty (it clusters
    * in few docs — topical/templated content). The signal separating
    * genuinely common vocabulary from boilerplate that happens to be
    * frequent.
    *
    * Implicit zeros are handled in closed form — with D docs, T total
    * occurrences and Σc² over the docs containing the term,
    * `dispersion = (D·Σc² − T²) / (D·T)` — so no dense doc×term join
    * ever materializes. Moments go through decimal(38,0) (D·Σc²
    * overflows BIGINT at web scale). The ranking window runs over the
    * vocab relation ([[taZipf]]'s posture).
    */
  def taBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    val m38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val dt = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val byTerm = dt.groupBy(col("term"))
      .agg(sum(col("c")).cast(m38).as("t"),
        count(lit(1)).as("doc_freq"),
        sum(col("c") * col("c")).cast(m38).as("scc"))
    val d = docs(spark, sfDir).agg(count(lit(1)).cast(m38).as("d_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("t").desc, col("term"))
    byTerm.crossJoin(broadcast(d))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= BurstTopK)
      .select(col("rank"), col("term"),
        col("t").cast("long").as("total"), col("doc_freq"),
        r6((col("d_docs") * col("scc") - col("t") * col("t"))
          .cast("double") / (col("d_docs") * col("t")).cast("double"))
          .as("dispersion"))
      .orderBy(col("rank"))
  }

  lazy val taBurstinessSql: String = s"""
WITH tok AS (
  SELECT doc_id, source,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), dt AS (
  SELECT term, doc_id, COUNT(*) AS c
  FROM tok WHERE term <> '' GROUP BY term, doc_id
), by_term AS (
  SELECT term, SUM(c) AS t, COUNT(*) AS doc_freq, SUM(c * c) AS scc
  FROM dt GROUP BY term
), d AS (
  SELECT COUNT(*) AS d_docs FROM documents
), ranked AS (
  SELECT b.*, d.d_docs,
    row_number() OVER (ORDER BY b.t DESC, b.term) AS rank
  FROM by_term b CROSS JOIN d
)
SELECT CAST(rank AS INTEGER) AS rank, term,
  CAST(t AS BIGINT) AS total, doc_freq,
  ${r6Sql("(CAST(d_docs * scc - t * t AS DOUBLE) / " +
      "CAST(d_docs * t AS DOUBLE))")} AS dispersion
FROM ranked WHERE rank <= $BurstTopK ORDER BY rank"""

  // ------------------------------------------------------------------
  // ta_chao1 — vocabulary-richness / coverage estimate per source
  // ------------------------------------------------------------------

  /** Chao1 species-richness estimate over each source's term counts:
    * how much vocabulary the sample has NOT seen yet. `chao1 = D +
    * h1²/(2·h2)` (D observed types, h1 singletons, h2 doubletons; the
    * bias-corrected `D + h1(h1−1)/2` when h2 = 0), plus Good–Turing
    * sample coverage `1 − h1/N`. A source whose chao1 far exceeds D is
    * still yielding new vocabulary — sampling more of it buys
    * diversity; coverage near 1 means the source is exhausted.
    *
    * All inputs are exact BIGINTs off the same (source, term, count)
    * relation [[taTtr]] folds (vocab-sized shuffle, never the token
    * stream); the estimate itself is one fixed-arity float expression
    * per source, identical in both engines.
    */
  def taChao1(spark: SparkSession, sfDir: String): DataFrame = {
    val st = docs(spark, sfDir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
    st.groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("h1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("h2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("h1"),
        col("h2"),
        r6(when(col("h2") > 0,
          col("n_types") + (col("h1") * col("h1")).cast("double") /
            (lit(2L) * col("h2")))
          .otherwise(col("n_types") + (col("h1") * (col("h1") - 1))
            .cast("double") / 2.0)).as("chao1"),
        r6(lit(1.0) - col("h1").cast("double") / col("n_tokens"))
          .as("coverage"))
      .orderBy(col("source"))
  }

  lazy val taChao1Sql: String = s"""
WITH tok AS (
  SELECT source,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), st AS (
  SELECT source, term, COUNT(*) AS c
  FROM tok WHERE term <> '' GROUP BY source, term
), g AS (
  SELECT source,
    CAST(SUM(c) AS BIGINT) AS n_tokens,
    COUNT(*) AS n_types,
    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2
  FROM st GROUP BY source
)
SELECT source, n_tokens, n_types, h1, h2,
  ${r6Sql("(CASE WHEN h2 > 0 THEN" +
      " n_types + CAST(h1 * h1 AS DOUBLE) / (2 * h2)" +
      " ELSE n_types + CAST(h1 * (h1 - 1) AS DOUBLE) / 2.0 END)")}
    AS chao1,
  ${r6Sql("(1.0 - CAST(h1 AS DOUBLE) / n_tokens)")} AS coverage
FROM g ORDER BY source"""

  // ------------------------------------------------------------------
  // ta_bm25 — BM25 lexical retrieval top-k
  // ------------------------------------------------------------------

  /** The fixed keyword query the shipped entry ranks against. */
  val Bm25Query: Seq[String] = Seq("join", "query", "window")
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20

  /** BM25 keyword retrieval: the top-[[Bm25TopK]] documents for a
    * keyword query — the LEXICAL retrieval path the embedding ANN
    * family (`sim_*`) deliberately doesn't cover, and the first stage
    * of every hybrid (BM25 ∪ ANN) retrieval stack. Lucene's floored
    * idf `ln(1 + (N−df+½)/(df+½))` keeps common terms non-negative
    * (the fixture's word-soup vocabulary is dense, like real web
    * boilerplate terms).
    *
    * Determinism: idf and each term's score are fixed-arity float
    * expressions from exact integer (tf, df, dl) counts plus ONE
    * shared avgdl double; per-doc scores fold IN TERM ORDER
    * (the prof_drift rule); ranking sorts the r6'd score with doc_id
    * as total tie-break, so the cut at k is identical on both
    * engines.
    *
    * Scale shape: one token-explode partial agg to the (doc, term)
    * relation — shared shape with `lmCore` — then dl is a doc-grain
    * reduce and everything query-specific lives on |query| terms:
    * df/idf is a ≤|query|-row broadcast, the scored relation is
    * docs-matching-query × |query| rows, and the final ORDER BY
    * LIMIT k plans TakeOrderedAndProject (no global sort
    * materializes). A real deployment swaps the fixed query for a
    * parameter; the plan is unchanged.
    */
  def taBm25(spark: SparkSession, sfDir: String): DataFrame = {
    val td = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = td.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    val qtd = td.filter(col("term").isin(Bm25Query: _*))
    val idf = qtd.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))).as("idf"))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val norm = lit(1.0 - Bm25B) +
      lit(Bm25B) * (col("dl").cast("double") / avgdl)
    val termScore = (col("idf") * (col("tf") * lit(Bm25K1 + 1.0))) /
      (col("tf") + lit(Bm25K1) * norm)
    qtd.join(broadcast(idf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("dl"), termScore.as("s"))
      .groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("n_terms"),
        aggregate(array_sort(collect_list(struct(col("term"), col("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score_raw"))
      .select(col("doc_id"), col("dl"), col("n_terms"),
        r6(col("score_raw")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)
  }

  lazy val taBm25Sql: String = {
    val qList = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM td GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl
), qtd AS (
  SELECT doc_id, term, tf FROM td WHERE term IN ($qList)
), idf AS (
  SELECT term,
    ln(CAST(1.0 AS DOUBLE) +
       (n_docs - df + CAST(0.5 AS DOUBLE)) /
       (df + CAST(0.5 AS DOUBLE))) AS idf
  FROM (SELECT term, COUNT(*) AS df FROM qtd GROUP BY term)
  CROSS JOIN stats
), scored AS (
  SELECT q.doc_id, q.term, dl.dl,
    (i.idf * (q.tf * CAST(${Bm25K1 + 1.0} AS DOUBLE))) /
      (q.tf + CAST($Bm25K1 AS DOUBLE) *
        (CAST(${1.0 - Bm25B} AS DOUBLE) + CAST($Bm25B AS DOUBLE) *
         (CAST(dl.dl AS DOUBLE) /
          (CAST(s.total_tokens AS DOUBLE) / s.n_docs)))) AS s
  FROM qtd q
  JOIN idf i ON i.term = q.term
  JOIN dl ON dl.doc_id = q.doc_id
  CROSS JOIN stats s
)
SELECT doc_id, CAST(MAX(dl) AS BIGINT) AS dl,
  CAST(COUNT(*) AS BIGINT) AS n_terms,
  ${r6Sql("""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list(s ORDER BY term)), (acc, x) -> acc + x)""")} AS score
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT $Bm25TopK"""
  }
}
