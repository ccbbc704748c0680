package graft

import org.apache.spark.sql.functions._
import graft.functions.TokenRollingHash
import graft.operators.TextAnalysis

/** Text-analysis custom expressions: each pinned to its declarative
  * twin (the formula the DuckDB oracle evaluates).
  */
class TextAnalysisSpec extends SparkSpec {

  test("TokenRollingHash equals the declarative aggregate/transform fold") {
    import spark.implicits._
    // adversarial whitespace: Spark's trim strips only ' ', split keeps
    // a leading empty token after a leading tab and trailing empties
    // after a trailing tab;   is NOT regex-\s (ASCII classes)
    val adversarial = Seq("", " ", "a", "  a  b\tc  ", "\ta b",
      "a b\t", "a b", "ONE two THREE", "x " * 200,
      "a\u00a0b", "a\u2028b") // NBSP + LS are NOT regex-\s: one token each
    val fixture = graft.operators.TextAnalysis
      .docs(spark, sf("sf0.01")).select(col("text"))
      .collect().map(_.getString(0)).toSeq
    val rows = (adversarial ++ fixture).toDF("text")
      .select(
        TokenRollingHash.fp(lower(col("text"))).as("custom"),
        TextAnalysis.fingerprintDeclarative(lower(col("text")))
          .as("declarative"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("ta_colloc matches a local brute-force collocation recompute") {
    val got = TextAnalysis.taColloc(spark, sf("sf0.01")).collect()
    assert(got.length == TextAnalysis.CollocTopK)
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val texts = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("text")).collect().map(r => tok(r.getString(0).toLowerCase))
    val uni = texts.flatten.filter(_.nonEmpty)
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val n = uni.values.sum
    val pairs = texts.flatMap(ts => ts.zip(ts.drop(1)))
      .filter(p => p._1.nonEmpty && p._2.nonEmpty)
      .groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    val want = pairs.toSeq
      .sortBy { case ((a, b), c) => (-c, a, b) }.take(TextAnalysis.CollocTopK)
    got.zip(want).foreach { case (r, ((a, b), cab)) =>
      assert(r.getAs[String]("bigram") == s"$a $b", s"rank ${r.getInt(0)}")
      assert(r.getAs[Long]("c_ab") == cab)
      assert(r.getAs[Long]("c_a") == uni(a) && r.getAs[Long]("c_b") == uni(b))
      val pmi = math.log(cab.toDouble * n / (uni(a).toDouble * uni(b)))
      assert(math.abs(r.getAs[Double]("pmi") - pmi) < 1e-6)
    }
  }

  test("ta_rarity matches a local brute-force recompute") {
    val got = TextAnalysis.taRarity(spark, sf("sf0.01")).collect()
    // local mirror of split(trim(s), "\s+"): space-only trim, ASCII \s
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val texts = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> tok(r.getString(1).toLowerCase)
        .filter(_.nonEmpty))
    val dfreq = texts.flatMap { case (id, ts) => ts.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.length }
    val wt = dfreq.map { case (t, df) =>
      t -> TextAnalysis.RarityScale / df } // long div = floor on positives
    val want = texts.collect { case (id, ts) if ts.nonEmpty =>
      val n = ts.length.toLong
      val sumW = ts.map(wt).sum
      id -> ((n, ts.distinct.length.toLong, sumW, ts.map(wt).max,
        java.math.BigDecimal.valueOf(sumW.toDouble / n)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0))
    }.toMap
    assert(got.length == want.size)
    got.foreach { r =>
      val (n, d, s, m, mean) = want(r.getLong(0))
      assert(r.getLong(1) == n && r.getLong(2) == d &&
        r.getLong(3) == s && r.getLong(4) == m, s"ints: $r")
      assert(r.getDouble(5) == mean, s"mean: $r")
    }
  }

  test("ta_readability counters match a JVM regex recompute") {
    import java.util.regex.Pattern
    def count(p: Pattern, s: String): Int = {
      val m = p.matcher(s); var n = 0; while (m.find()) n += 1; n
    }
    val sentP = Pattern.compile("[.!?]+")
    val sylP = Pattern.compile("[aeiouy]+")
    val got = TextAnalysis.taReadability(spark, sf("sf0.01")).collect()
    val texts = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.length == texts.size)
    got.foreach { r =>
      val t = texts(r.getLong(0))
      val sentences = math.max(count(sentP, t), 1)
      val words = t.trim.split("\\s+").length
      val syllables = count(sylP, t.toLowerCase)
      assert(r.getAs[Int]("n_sentences") == sentences, s"sent: $r")
      assert(r.getAs[Int]("n_words") == words, s"words: $r")
      assert(r.getAs[Int]("n_syllables") == syllables, s"syl: $r")
      // the score is a pure function of the three counters
      val flesch = 206.835 - 1.015 * (words.toDouble / sentences) -
        84.6 * (syllables.toDouble / words)
      assert(math.abs(r.getAs[Double]("flesch") - flesch) < 1e-6, s"flesch: $r")
    }
  }

  test("ta_ttr counts types/hapax exactly per source") {
    val got = TextAnalysis.taTtr(spark, sf("sf0.01")).collect()
    val bySrc = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("source"), col("text")).collect()
      .groupBy(_.getString(0))
      .map { case (src, rs) =>
        val toks = rs.flatMap(
          _.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
        src -> toks
      }
    assert(got.length == bySrc.size)
    got.foreach { r =>
      val toks = bySrc(r.getString(0))
      val counts = toks.groupBy(identity).map(_._2.length)
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong, s"tok: $r")
      assert(r.getAs[Long]("n_types") == counts.size.toLong, s"typ: $r")
      assert(r.getAs[Long]("n_hapax") == counts.count(_ == 1).toLong,
        s"hapax: $r")
      assert(math.abs(r.getAs[Double]("ttr") -
        counts.size.toDouble / toks.length) < 1e-6)
      // diversity bounds: 0 < ttr <= 1, hapax is a subset of types
      assert(r.getAs[Double]("ttr") > 0 && r.getAs[Double]("ttr") <= 1.0)
      assert(r.getAs[Long]("n_hapax") <= r.getAs[Long]("n_types"))
    }
  }

  test("ta_entropy matches a local recompute and brackets [0, ln n]") {
    val got = TextAnalysis.taEntropy(spark, sf("sf0.01")).collect()
    val texts = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .filter(_._2.nonEmpty).toMap
    assert(got.length == texts.size)
    got.foreach { r =>
      val toks = texts(r.getLong(0))
      val counts = toks.groupBy(identity).map(_._2.length.toLong)
      val clnc = counts.map(c => BigDecimal
        .decimal(c.toDouble * math.log(c.toDouble) * TextAnalysis.LmScale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).sum
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong, s"n: $r")
      assert(r.getAs[Long]("n_types") == counts.size.toLong, s"t: $r")
      assert(r.getAs[Long]("clnc_micro") == clnc, s"clnc: $r")
      val h = math.log(toks.length.toDouble) -
        clnc.toDouble / TextAnalysis.LmScale / toks.length
      assert(math.abs(r.getAs[Double]("entropy") - h) < 1e-6, s"H: $r")
      // Shannon bounds: 0 <= H <= ln(n) (within quantization slack)
      assert(r.getAs[Double]("entropy") >= -1e-6)
      assert(r.getAs[Double]("entropy") <=
        math.log(toks.length.toDouble) + 1e-6)
    }
  }

  test("ta_ngram_lm surprisal matches an exact-integer local recompute") {
    val got = TextAnalysis.taNgramLm(spark, sf("sf0.01")).collect()
    val texts = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
      .toMap
    val cnt = texts.values.flatten.toSeq
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val total = cnt.values.sum
    // the same quantization both engines apply: HALF_UP micro-nats.
    // NOT math.round (floor(x+0.5)): for doubles just below k+0.5 the
    // +0.5 addition can carry and round UP where the engines' decimal
    // HALF_UP does not — mirror them exactly via BigDecimal
    val wt = cnt.map { case (t, c) =>
      t -> BigDecimal
        .decimal(math.log(total.toDouble / c) * TextAnalysis.LmScale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // both engines omit docs with zero tokens; keep the recompute's
    // universe identical so the count and lookups can't drift
    val nonEmpty = texts.filter(_._2.nonEmpty)
    assert(got.length == nonEmpty.size)
    got.foreach { r =>
      val toks = nonEmpty(r.getLong(0))
      val surprisal = toks.map(wt).sum // exact: integer adds commute
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong, s"n: $r")
      assert(r.getAs[Long]("surprisal_micro") == surprisal, s"s: $r")
      val mean = surprisal.toDouble / TextAnalysis.LmScale / toks.length
      assert(math.abs(r.getAs[Double]("mean_logprob") + mean) < 1e-6)
      assert(math.abs(r.getAs[Double]("ppl") - math.exp(mean)) < 1e-5)
      // the corpus's own MLE can't be beaten: mean surprisal ≥ entropy > 0
      assert(r.getAs[Double]("ppl") >= 1.0)
    }
  }

  test("ta_zipf slope matches an integer-micro-nat local regression") {
    val rows = TextAnalysis.taZipf(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    val terms = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select(col("source"), explode(split(trim(lower(col("text"))), "\\s+"))
        .as("term"))
      .filter(col("term") =!= "").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = terms.groupBy(_._1)
    assert(rows.length == bySource.size)
    rows.foreach { r =>
      val src = r.getString(0)
      val cnt = bySource(src).groupBy(_._2).view.mapValues(_.length.toLong)
      // (count desc, term asc) ranking — the operator's tiebreak
      val ranked = cnt.toSeq.sortBy { case (t, c) => (-c, t) }
        .take(TextAnalysis.ZipfTopR)
      assert(r.getAs[Long]("n_terms") == ranked.length)
      assert(r.getString(2) == ranked.head._1, s"$src top term")
      assert(r.getAs[Long]("top_count") == ranked.head._2)
      def q(v: Double) = BigDecimal.decimal(v * TextAnalysis.LmScale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      val pts = ranked.zipWithIndex.map { case ((_, c), i) =>
        (q(math.log(i + 1.0)), q(math.log(c.toDouble))) }
      val n = pts.length.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx)
      assert(math.abs(r.getAs[Double]("slope") - slope) < 1e-6, s"$src slope")
      // a frequency-ranked fit can never slope upward
      assert(r.getAs[Double]("slope") <= 0.0, s"$src sign")
    }
  }
  test("ta_dup_ngrams matches a local brute-force trigram census") {
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val docsRows = TextAnalysis.docs(spark, sf("sf0.001"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), tok(r.getString(1).toLowerCase)))
    val got = TextAnalysis.taDupNgrams(spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> r).toMap
    val bySrc = docsRows.groupBy(_._1)
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, rows) =>
      val perDoc = rows.map { case (_, ts) =>
        (math.max(0, ts.length - 2).toLong,
          if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSet
          else Set.empty[String])
      }
      val total = perDoc.map(_._1).sum
      val docSets = perDoc.map(_._2)
      val distinct = docSets.flatten.toSet
      val crossDoc = distinct.count(g => docSets.count(_.contains(g)) >= 2)
      val r = got(src)
      assert(r.getAs[Long]("total_grams") == total, s"$src total")
      assert(r.getAs[Long]("distinct_grams") == distinct.size.toLong,
        s"$src distinct")
      assert(r.getAs[Long]("cross_doc_grams") == crossDoc.toLong, s"$src xdoc")
      if (total > 0) {
        val want = (total - distinct.size).toDouble / total
        assert(math.abs(r.getAs[Double]("dup_rate") - want) < 1e-6)
      }
      if (distinct.nonEmpty) {
        val want = crossDoc.toDouble / distinct.size
        assert(math.abs(r.getAs[Double]("cross_doc_share") - want) < 1e-6)
      }
    }
  }

  test("ta_vocab_overlap equals local vocab-set intersections, a<b once") {
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val vocab = TextAnalysis.docs(spark, sf("sf0.001"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), tok(r.getString(1).toLowerCase)))
      .groupBy(_._1).view
      .mapValues(_.flatMap(_._2).filter(_.nonEmpty).toSet).toMap
    val rows = TextAnalysis.taVocabOverlap(spark, sf("sf0.001")).collect()
    val srcs = vocab.keys.toSeq.sorted
    val wantPairs = for {
      a <- srcs; b <- srcs if a < b
      if (vocab(a) & vocab(b)).nonEmpty
    } yield (a, b)
    assert(rows.map(r => (r.getAs[String]("source_a"),
      r.getAs[String]("source_b"))).toSet == wantPairs.toSet)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(a < b)
      val inter = (vocab(a) & vocab(b)).size.toLong
      assert(r.getAs[Long]("na") == vocab(a).size.toLong)
      assert(r.getAs[Long]("nb") == vocab(b).size.toLong)
      assert(r.getAs[Long]("n_common") == inter)
      val want = inter.toDouble / (vocab(a).size + vocab(b).size - inter)
      assert(math.abs(r.getAs[Double]("jaccard") - want) < 1e-6)
    }
  }
  test("ta_ngram_coverage matches a local head-mass recompute, custom plan") {
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val df = TextAnalysis.taNgramCoverage(spark, sf("sf0.001"))
    assert(df.queryExecution.executedPlan.toString
      .contains("TopKPerGroup"), "must run on the custom operator")
    val got = df.collect().map(r => r.getString(0) -> r).toMap
    val docsRows = TextAnalysis.docs(spark, sf("sf0.001"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), tok(r.getString(1).toLowerCase)))
    docsRows.groupBy(_._1).foreach { case (src, rows) =>
      val occ = rows.flatMap { case (_, ts) =>
        if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toSeq
        else Seq.empty[String]
      }
      val counts = occ.groupBy(identity).map { case (g, xs) =>
        g -> xs.length.toLong }
      // head by (count desc); ties in count are broken by gram HASH in
      // the operator — head MASS is what we can pin locally without
      // recomputing md5, and it is tie-order-invariant iff the k-th and
      // (k+1)-th counts differ; when they tie, pin the reachable bounds
      val sorted = counts.values.toSeq.sorted(Ordering[Long].reverse)
      val k = TextAnalysis.CoverageTopK
      val head = sorted.take(k)
      val r = got(src)
      assert(r.getAs[Long]("total_grams") == occ.length.toLong)
      assert(r.getAs[Long]("topk_grams") ==
        math.min(k, counts.size).toLong)
      val topkOcc = r.getAs[Long]("topk_occurrences")
      if (sorted.length <= k || head.last != sorted(k)) {
        assert(topkOcc == head.sum, s"$src head mass")
      } else {
        // k-th count ties past the cut: any tie-break picks the same
        // multiset of counts EXCEPT possibly swapping equal values —
        // the sum is still exact
        assert(topkOcc == head.sum, s"$src head mass (tied cut)")
      }
      if (occ.nonEmpty) {
        val want = topkOcc.toDouble / occ.length
        assert(math.abs(r.getAs[Double]("coverage") - want) < 1e-6)
      }
    }
  }
  test("ta_chao1 matches a local recompute and bounds D from below") {
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val bySrc = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("source"), col("text")).collect()
      .groupBy(_.getString(0)).view.mapValues(
        _.flatMap(r => tok(r.getString(1).toLowerCase)).filter(_.nonEmpty))
      .toMap
    val got = TextAnalysis.taChao1(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, toks) =>
      val counts = toks.groupBy(identity).map(_._2.length)
      val (d, h1, h2) = (counts.size, counts.count(_ == 1),
        counts.count(_ == 2))
      val r = got(src)
      assert(r.getAs[Long]("n_tokens") == toks.length.toLong)
      assert(r.getAs[Long]("n_types") == d.toLong)
      assert(r.getAs[Long]("h1") == h1.toLong && r.getAs[Long]("h2") == h2.toLong)
      val chao = if (h2 > 0) d + h1.toDouble * h1 / (2 * h2)
        else d + h1.toDouble * (h1 - 1) / 2.0
      assert(math.abs(r.getAs[Double]("chao1") - chao) < 1e-6)
      assert(r.getAs[Double]("chao1") >= d.toDouble - 1e-9) // estimator >= observed
      val cov = 1.0 - h1.toDouble / toks.length
      assert(math.abs(r.getAs[Double]("coverage") - cov) < 1e-6)
    }
  }
  test("ta_burstiness matches a closed-form dispersion recompute") {
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val docsRows = TextAnalysis.docs(spark, sf("sf0.001"))
      .select(col("text")).collect()
      .map(r => tok(r.getString(0).toLowerCase).filter(_.nonEmpty))
    val dDocs = docsRows.length.toLong
    val perTerm = docsRows.zipWithIndex
      .flatMap { case (ts, i) => ts.groupBy(identity)
        .map { case (t, xs) => (t, i, xs.length.toLong) } }
      .groupBy(_._1).view.mapValues(_.map(_._3)).toMap
    val ranked = perTerm.toSeq
      .map { case (t, cs) => (t, cs.sum, cs.length.toLong,
        cs.map(c => c * c).sum) }
      .sortBy { case (t, total, _, _) => (-total, t) }
      .take(TextAnalysis.BurstTopK)
    val got = TextAnalysis.taBurstiness(spark, sf("sf0.001")).collect()
    assert(got.length == math.min(TextAnalysis.BurstTopK, perTerm.size))
    got.zip(ranked).foreach { case (r, (t, total, df, scc)) =>
      assert(r.getAs[String]("term") == t, s"rank ${r.getInt(0)}")
      assert(r.getAs[Long]("total") == total)
      assert(r.getAs[Long]("doc_freq") == df)
      val want = (dDocs * scc - total * total).toDouble / (dDocs * total)
      assert(math.abs(r.getAs[Double]("dispersion") - want) < 1e-6)
      // dispersion of counts is non-negative by construction
      assert(r.getAs[Double]("dispersion") >= -1e-9)
    }
  }
  test("ta_kl_source matches a local smoothed-KL recompute, KL >= 0") {
    def tok(s0: String): Seq[String] = {
      var b = 0; var e = s0.length
      while (b < e && s0.charAt(b) == ' ') b += 1
      while (e > b && s0.charAt(e - 1) == ' ') e -= 1
      java.util.regex.Pattern.compile("\\s+")
        .split(s0.substring(b, e), -1).toSeq
    }
    val rows = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), tok(r.getString(1).toLowerCase)
        .filter(_.nonEmpty)))
    val corpus = rows.flatMap(_._2)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val ranked = corpus.toSeq.sortBy { case (t, c) => (-c, t) }
    val bucketOf = ranked.zipWithIndex.map { case ((t, _), i) =>
      t -> math.min(i, TextAnalysis.KlTopTerms)
    }.toMap
    val nB = TextAnalysis.KlTopTerms + 1
    val bySrc = rows.groupBy(_._1).view
      .mapValues(_.flatMap(_._2).map(bucketOf)).toMap
    // smoothed corpus bucket counts
    val cb = (0 until nB).map(b =>
      bySrc.values.map(_.count(_ == b).toLong).sum + 1)
    val nc = cb.sum.toDouble
    val got = TextAnalysis.taKlSource(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, buckets) =>
      val c = (0 until nB).map(b => buckets.count(_ == b).toLong + 1)
      val n = c.sum.toDouble
      val kl = (0 until nB).map { b =>
        val p = c(b) / n
        val q = cb(b) / nc
        p * math.log(p / q)
      }.sum
      val r = got(src)
      assert(r.getAs[Long]("n_tokens") == buckets.length.toLong)
      assert(math.abs(r.getAs[Double]("kl") - kl) < 1e-6, src)
      assert(r.getAs[Double]("kl") >= -1e-12, src) // Gibbs' inequality
    }
  }

  test("ta_jsd equals a bucket-order JSD recompute, bounded by ln 2") {
    import graft.functions.Determinism.r6Jvm
    def tok(s0: String): Seq[String] =
      s0.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    val rows = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), tok(r.getString(1))))
    val corpus = rows.flatMap(_._2)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bucketOf = corpus.toSeq.sortBy { case (t, c) => (-c, t) }
      .zipWithIndex.map { case ((t, _), i) =>
        t -> math.min(i, TextAnalysis.KlTopTerms)
      }.toMap
    val nB = TextAnalysis.KlTopTerms + 1
    // smoothed bucket counts + totals per source
    val bySrc = rows.groupBy(_._1).view.mapValues { ds =>
      val bs = ds.flatMap(_._2).map(bucketOf)
      (0 until nB).map(b => bs.count(_ == b).toLong + 1)
    }.toMap
    val sources = bySrc.keys.toSeq.sorted
    val got = TextAnalysis.taJsd(spark, sf("sf0.01")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val wantPairs = for {
      a <- sources; b <- sources if a < b
    } yield (a, b)
    assert(got.keySet == wantPairs.toSet)
    wantPairs.foreach { case (sa, sb) =>
      val ca = bySrc(sa); val cb2 = bySrc(sb)
      val na = ca.sum.toDouble; val nb = cb2.sum.toDouble
      // the operator's fold: one term per bucket, summed in order
      var jsd = 0.0
      (0 until nB).foreach { b =>
        val p = ca(b) / na; val q = cb2(b) / nb
        jsd += 0.5 * (p * math.log(2.0 * p / (p + q)) +
          q * math.log(2.0 * q / (p + q)))
      }
      val r = got((sa, sb))
      assert(r.getAs[Long]("n_tokens_a") == ca.sum - nB,
        s"n_tokens_a at $sa~$sb")
      assert(r.getAs[Long]("n_tokens_b") == cb2.sum - nB,
        s"n_tokens_b at $sa~$sb")
      assert(r.getAs[Double]("jsd") == r6Jvm(jsd), s"jsd at $sa~$sb")
      assert(r.getAs[Double]("jsd") >= -1e-12 &&
        r.getAs[Double]("jsd") <= math.log(2.0) + 1e-9, s"bound at $sa~$sb")
    }
  }

  test("ta_langid_confusion reconciles with ta_langid rows cell by cell") {
    import graft.functions.Determinism.r6Jvm
    val preds = TextAnalysis.taLangId(spark, sf("sf0.01"))
      .select(col("lang"), col("predicted_lang")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = preds.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = TextAnalysis.taLangidConfusion(spark, sf("sf0.01")).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      want.keySet)
    val totals = preds.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getString(1))
      assert(r.getAs[Long]("n") == want(key), s"n at $key")
      assert(r.getAs[Long]("lang_total") == totals(key._1))
      assert(r.getAs[Double]("share") ==
        r6Jvm(want(key).toDouble / totals(key._1)))
      assert(r.getAs[Boolean]("is_correct") == (key._1 == key._2))
    }
    // the matrix is complete: cells sum to the corpus
    assert(rows.map(_.getAs[Long]("n")).sum == preds.length.toLong)
  }

  test("ta_bm25 equals a brute-force BM25 ranking over all documents") {
    import graft.functions.Determinism.r6Jvm
    val rows = TextAnalysis.taBm25(spark, sf("sf0.01")).collect()
    assert(rows.length == TextAnalysis.Bm25TopK)
    val dt = TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq
          .filter(_.nonEmpty))
    val nDocs = dt.length.toLong
    val total = dt.map(_._2.length.toLong).sum
    val avgdl = total.toDouble / nDocs
    val q = TextAnalysis.Bm25Query.sorted
    val df = q.map(t =>
      t -> dt.count(_._2.contains(t)).toLong).toMap
    val idf = q.map { t =>
      t -> math.log(1.0 + (nDocs - df(t) + 0.5) / (df(t) + 0.5))
    }.toMap
    val k1 = TextAnalysis.Bm25K1; val b = TextAnalysis.Bm25B
    val scored = dt.flatMap { case (id, toks) =>
      val dl = toks.length.toLong
      val matched = q.filter(t => toks.contains(t))
      if (matched.isEmpty) None
      else {
        var s = 0.0
        matched.foreach { t =>
          val tf = toks.count(_ == t).toLong
          s += (idf(t) * (tf * (k1 + 1.0))) /
            (tf + k1 * ((1.0 - b) + b * (dl.toDouble / avgdl)))
        }
        Some((id, dl, matched.length.toLong, r6Jvm(s)))
      }
    }
    val want = scored.sortBy { case (id, _, _, s) => (-s, id) }
      .take(TextAnalysis.Bm25TopK).toSeq
    val got = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
      r.getAs[Long]("n_terms"), r.getAs[Double]("score"))).toSeq
    assert(got == want)
    // ranking sanity: scores descend, every score positive
    got.map(_._4).sliding(2).foreach {
      case Seq(a, c) => assert(c <= a)
      case _ => ()
    }
    assert(got.forall(_._4 > 0.0))
  }
}
