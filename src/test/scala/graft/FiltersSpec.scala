package graft

import org.apache.spark.sql.functions._
import graft.operators.Filters

/** Quality-filter decisions and PII scrubbing. */
class FiltersSpec extends SparkSpec {

  test("qf_decide drops repetitive and too-short docs with audit flags") {
    val rows = Filters.qfDecide(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val expect = r.getAs[Boolean]("ok_words") &&
        r.getAs[Boolean]("ok_mean_word_len") &&
        r.getAs[Boolean]("ok_symbols") && r.getAs[Boolean]("ok_repetition")
      assert(r.getAs[Boolean]("keep") == expect)
    }
    // the synthetic word-salad fixture must trip the repetition rule
    assert(rows.exists(!_.getAs[Boolean]("ok_repetition")))
    assert(rows.exists(_.getAs[Boolean]("keep")))
  }

  test("RepetitionStats equals the declarative counters (adversarial + fixture)") {
    import spark.implicits._
    val adversarial = Seq("", " ", "one", "a a a a", "a b a b a b",
      "x y z x y z x y", ("tok " * 40).trim, "a  b\t c d")
    val fixture = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val df = (adversarial ++ fixture).toDF("text")
      .select(lower(col("text")).as("t"))
      .select(col("t"), graft.operators.TextAnalysis.tokens(col("t")).as("toks"))
    // declarative twin: O(tokens²) interpreted lambdas — spec-only
    val twin = df.select(
      graft.functions.RepetitionStats.stats(col("t")).as("st"),
      size(col("toks")).as("n"),
      array_max(transform(array_distinct(col("toks")),
        d => size(filter(col("toks"), x => x === d)))).as("top"),
      greatest(size(col("toks")) - 1, lit(0)).as("n2"),
      size(graft.operators.Corpus.gramStrings(col("toks"), 2)).as("d2"),
      greatest(size(col("toks")) - 2, lit(0)).as("n3"),
      size(graft.operators.Corpus.gramStrings(col("toks"), 3)).as("d3"))
    twin.collect().foreach { r =>
      val st = r.getSeq[Int](0)
      assert(st == (1 to 6).map(r.getInt), s"mismatch: $r")
    }
  }

  test("qf_repetition emits mixed flags over the fixture") {
    val rows = Filters.qfRepetition(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    assert(rows.exists(_.getAs[Boolean]("is_repetitive")))
    assert(rows.exists(!_.getAs[Boolean]("is_repetitive")))
    rows.foreach { r =>
      val n = r.getAs[Int]("n_tokens")
      assert(n > 0 && r.getAs[Double]("top_token_frac") <= 1.0)
    }
  }

  test("qf_redact scrubs emails, urls and phone spans to placeholders") {
    import spark.implicits._
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), Filters.EmailPattern, "<EMAIL>"),
        Filters.UrlPattern, "<URL>"),
      Filters.PhonePattern, "<PHONE>")
    val out = Seq(
      "mail me at jane.doe+x@example.org today",
      "see https://example.com/a?b=1 and http://x.io",
      "call +1 (555) 123-4567 now",
      "clean text with no pii at all")
      .toDF("text").select(redacted.as("r")).collect().map(_.getString(0))
    assert(out(0) == "mail me at <EMAIL> today")
    assert(out(1) == "see <URL> and <URL>")
    assert(out(2) == "call <PHONE> now")
    assert(out(3) == "clean text with no pii at all")
  }

  test("qf_lm_filter decisions are the integer cross-multiplied bracket") {
    val rows = Filters.qfLmFilter(spark, sf("sf0.01")).collect()
    val lm = graft.operators.TextAnalysis.taNgramLm(spark, sf("sf0.01"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_micro"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.length == lm.size, "filter universe = LM-core universe")
    rows.foreach { r =>
      val (n, s) = lm(r.getLong(0))
      val rep = s < Filters.LmLoMicro * n
      val rnd = s > Filters.LmHiMicro * n
      assert(r.getAs[Boolean]("too_repetitive") == rep, s"rep: $r")
      assert(r.getAs[Boolean]("too_random") == rnd, s"rnd: $r")
      assert(r.getAs[Boolean]("keep") == (!rep && !rnd), s"keep: $r")
    }
    // the bracket must actually cut on this fixture — all three classes
    assert(rows.exists(_.getAs[Boolean]("too_repetitive")))
    assert(rows.exists(_.getAs[Boolean]("too_random")))
    assert(rows.exists(_.getAs[Boolean]("keep")))
  }

  test("qf_composite is the conjunction of its three shipped legs") {
    val rows = Filters.qfComposite(spark, sf("sf0.01")).collect()
    val h = Filters.qfDecide(spark, sf("sf0.01"))
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val rep = Filters.qfRepetition(spark, sf("sf0.01"))
      .select(col("doc_id"), col("is_repetitive")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val lm = Filters.qfLmFilter(spark, sf("sf0.01"))
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rows.length == h.size, "verdict universe = full corpus")
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[Boolean]("heuristics_keep") == h(id))
      assert(r.getAs[Boolean]("is_repetitive") == rep(id))
      assert(r.getAs[Boolean]("lm_keep") == lm.getOrElse(id, false))
      assert(r.getAs[Boolean]("keep") ==
        (h(id) && !rep(id) && lm.getOrElse(id, false)), s"verdict: $r")
    }
    // the composite must be strictly more selective than any one leg
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < h.values.count(identity))
  }
  test("qf_pii_census re-aggregates qf_redact's per-doc counts") {
    val census = Filters.qfPiiCensus(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r).toMap
    val perDoc = Filters.qfRedact(spark, sf("sf0.01"))
      .join(graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
        .select(col("doc_id"), col("source"), length(col("text"))
          .cast("long").as("chars")), Seq("doc_id"))
      .collect()
    val bySrc = perDoc.groupBy(_.getAs[String]("source"))
    assert(census.keySet == bySrc.keySet)
    bySrc.foreach { case (src, rows) =>
      val r = census(src)
      def s(c: String) = rows.map(_.getAs[Int](c).toLong).sum
      assert(r.getAs[Long]("n_docs") == rows.length.toLong)
      assert(r.getAs[Long]("emails") == s("emails"), s"$src emails")
      assert(r.getAs[Long]("urls") == s("urls"), s"$src urls")
      assert(r.getAs[Long]("phones") == s("phones"), s"$src phones")
      assert(r.getAs[Long]("docs_with_pii") == rows.count(x =>
        x.getAs[Int]("emails") + x.getAs[Int]("urls") +
          x.getAs[Int]("phones") > 0).toLong)
      val chars = rows.map(_.getAs[Long]("chars")).sum
      assert(r.getAs[Long]("chars") == chars)
      val want = (s("emails") + s("urls") + s("phones")).toDouble *
        1000.0 / chars
      assert(math.abs(r.getAs[Double]("pii_per_kchar") - want) < 1e-6)
    }
  }

  test("qf_source_census reconciles with qf_decide rows per source") {
    val src = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val decide = Filters.qfDecide(spark, sf("sf0.01")).collect()
      .groupBy(r => src(r.getLong(0)))
    val got = Filters.qfSourceCensus(spark, sf("sf0.01")).collect()
    assert(got.map(_.getString(0)).toSeq == decide.keys.toSeq.sorted)
    got.foreach { r =>
      val rows = decide(r.getString(0))
      def cnt(p: org.apache.spark.sql.Row => Boolean) =
        rows.count(p).toLong
      assert(r.getAs[Long]("n_docs") == rows.length.toLong)
      assert(r.getAs[Long]("n_keep") == cnt(_.getAs[Boolean]("keep")))
      assert(r.getAs[Long]("fail_words") ==
        cnt(!_.getAs[Boolean]("ok_words")))
      assert(r.getAs[Long]("fail_mean_word_len") ==
        cnt(!_.getAs[Boolean]("ok_mean_word_len")))
      assert(r.getAs[Long]("fail_symbols") ==
        cnt(!_.getAs[Boolean]("ok_symbols")))
      assert(r.getAs[Long]("fail_repetition") ==
        cnt(!_.getAs[Boolean]("ok_repetition")))
      assert(math.abs(r.getAs[Double]("keep_rate") -
        cnt(_.getAs[Boolean]("keep")).toDouble / rows.length) < 1e-6)
    }
  }

  test("qf_ingest_gate reconciles with its three shipped legs") {
    val d = sf("sf0.01")
    val rows = Filters.qfIngestGate(spark, d).collect()
    val census = Filters.qfSourceCensus(spark, d).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"),
          r.getAs[Double]("keep_rate"))).toMap
    val dq = graft.operators.Analytics.evDq(spark, d).collect().head
    val nEvents = dq.getAs[Long]("n_events")
    val dupRate = dq.getAs[Long]("n_dup_ids").toDouble / nEvents
    val malRate = dq.getAs[Long]("n_malformed_props").toDouble / nEvents
    val nBots = graft.operators.TimeSeries.evBot(spark, d).collect()
      .count(_.getAs[Boolean]("is_bot")).toLong
    assert(rows.length == census.size, "one gate row per feed")
    rows.foreach { r =>
      val (nd, nk, kr) = census(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_keep") == nk)
      assert(r.getAs[Double]("keep_rate") == kr)
      assert(r.getAs[Boolean]("feed_ok") == (kr >= Filters.GateKeepRateMin))
      assert(r.getAs[Long]("n_bots") == nBots)
      val streamOk = dupRate <= Filters.GateDupRateMax &&
        malRate <= Filters.GateMalformedRateMax &&
        nBots <= Filters.GateMaxBots
      assert(r.getAs[Boolean]("stream_ok") == streamOk)
      assert(r.getAs[Boolean]("admit") ==
        (kr >= Filters.GateKeepRateMin && streamOk), s"verdict: $r")
    }
    // the fixture must exercise both verdicts on the feed leg
    assert(rows.exists(_.getAs[Boolean]("feed_ok")))
  }

  test("qf_dp_census: noise equals the local inverse-CDF recompute and " +
    "scales with 1/epsilon") {
    import graft.operators.Filters
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("source").collect().map(_.getString(0))
    val trueN = docs.groupBy(identity).map { case (s, xs) =>
      s -> xs.length.toLong
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def noiseU(source: String, label: String, eps: Double): Long = {
      val hex = md.digest(s"$source#dp#$label".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P
      val g = (h % Filters.DpUGrid).toDouble
      val u = (g + 0.5) / Filters.DpUGrid.toDouble
      val sgn = if (u >= 0.5) 1.0 else -1.0
      val x = sgn * (-1.0 / eps) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      math.round(x * 1000000.0)
    }
    val got = Filters.qfDpCensus(spark, sf()).collect()
    assert(got.length == trueN.size * Filters.DpEps.size)
    got.foreach { r =>
      val (src, label) = (r.getString(0), r.getString(1))
      val eps = Filters.DpEps.toMap.apply(label)
      assert(r.getLong(2) == trueN(src))
      assert(r.getLong(4) == noiseU(src, label, eps),
        s"noise mismatch at ($src, $label)")
      assert(r.getLong(3) == r.getLong(2) * 1000000L + r.getLong(4))
    }
    // the accuracy-vs-budget story holds: the tighter budget is noisier
    def meanAbsErr(label: String): Double = {
      val e = got.filter(_.getString(1) == label).map(r =>
        math.abs(r.getLong(4)).toDouble)
      e.sum / e.length
    }
    assert(meanAbsErr("eps_0.1") > meanAbsErr("eps_1.0"))
    // and the noise is noise: both signs occur at each budget
    Filters.DpEps.foreach { case (label, _) =>
      val errs = got.filter(_.getString(1) == label).map(_.getLong(4))
      assert(errs.exists(_ > 0) && errs.exists(_ < 0), s"one-sided $label")
    }
  }

  test("qf_dp_census: EVERY possible grid noise sits far from a rounding " +
    "boundary (the libm-proof guarantee, swept exhaustively)") {
    import graft.operators.Filters
    // u takes exactly DpUGrid values, so the full universe of noise
    // magnitudes is {b·ln(G/odd)}: sweep all of them for every shipped
    // budget and prove round(noise·10⁶) has a guard band ≥ 3e-4 —
    // millions of ULPs of the product — so a 1-ULP difference between
    // JVM Math.log and DuckDB's libm can never flip a released value,
    // for ANY source string (not just the fixture's). A new budget
    // re-runs this sweep automatically via DpEps.
    val G = Filters.DpUGrid
    var minMargin = Double.MaxValue
    Filters.DpEps.foreach { case (_, eps) =>
      val b = 1.0 / eps
      (0L until G).foreach { g =>
        val u = (g + 0.5) / G.toDouble
        val sgn = if (u >= 0.5) 1.0 else -1.0
        val x = sgn * (-b) * math.log(1.0 - 2.0 * math.abs(u - 0.5)) *
          1000000.0
        val frac = x - math.floor(x)
        val margin = math.abs(frac - 0.5)
        if (margin < minMargin) minMargin = margin
      }
    }
    assert(minMargin > 3e-4,
      f"grid noise within $minMargin%.2e of a .5 boundary — shrink " +
        "DpUGrid or adjust a budget")
  }

  test("qf_dp_composition: the ledger equals a local recompute and the " +
    "epsilon accounting exercises both cap verdicts") {
    import graft.operators.Filters
    val trueN = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("source").collect().map(_.getString(0))
      .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    val md = java.security.MessageDigest.getInstance("MD5")
    def noiseU(key: String, eps: Double): Long = {
      val hex = md.digest(key.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P
      val u = ((h % Filters.DpUGrid) + 0.5) / Filters.DpUGrid.toDouble
      val sgn = if (u >= 0.5) 1.0 else -1.0
      math.round(sgn * (-1.0 / eps) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5)) * 1000000.0)
    }
    val got = Filters.qfDpComposition(spark, sf()).collect()
    assert(got.length == trueN.size * Filters.DpEps.size)
    got.foreach { r =>
      val (src, label) = (r.getString(0), r.getString(1))
      val eps = Filters.DpEps.toMap.apply(label)
      val errs = (0 until Filters.DpReleases)
        .map(i => noiseU(s"$src#dp#$label#r$i", eps))
      assert(r.getLong(2) == trueN(src))
      assert(r.getLong(3) == Filters.DpReleases.toLong)
      assert(r.getLong(4) ==
        Filters.DpReleases * math.round(eps * 1000000.0))
      assert(r.getBoolean(5) == (r.getLong(4) <= Filters.DpEpsCapU))
      assert(r.getDouble(6) == graft.functions.Determinism
        .r6Jvm(errs.sum.toDouble / Filters.DpReleases))
      assert(r.getDouble(7) == graft.functions.Determinism
        .r6Jvm(errs.map(math.abs).sum.toDouble / Filters.DpReleases))
      // fresh noise per release: the k draws are not all identical
      assert(errs.distinct.length > 1, s"stale noise at ($src, $label)")
    }
    // the fixture exercises both cap verdicts (3×1.0 over, 3×0.1 under)
    assert(got.exists(_.getBoolean(5)) && got.exists(!_.getBoolean(5)))
  }

  test("qf_dp_census: the seed seam bites — a different release secret " +
    "moves the noise, never the true counts") {
    import graft.operators.Filters
    val a = Filters.qfDpCensusCfg(spark, sf(), Filters.DpSeedDefault)
      .collect()
    val b = Filters.qfDpCensusCfg(spark, sf(), "#release-secret-42#")
      .collect()
    assert(a.length == b.length)
    val ka = a.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(4))).toMap
    val kb = b.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(4))).toMap
    assert(ka.keySet == kb.keySet)
    // identical true counts everywhere
    ka.foreach { case (k, (n, _)) => assert(kb(k)._1 == n) }
    // different noise somewhere (md5 of a different key)
    assert(ka.exists { case (k, (_, e)) => kb(k)._2 != e },
      "secret seed produced identical noise — the seam is dead")
  }

  test("qf_dp_sum: the clipped-sum release equals a local recompute and " +
    "the clip bites on the fixture") {
    import graft.operators.Filters
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val c = Filters.DpClipChars
    val per = docs.groupBy(_._1).map { case (s, xs) =>
      s -> (xs.length.toLong, xs.count(_._2 > c).toLong,
        xs.map(x => math.min(x._2, c)).sum)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def noiseU(key: String, eps: Double): Long = {
      val hex = md.digest(key.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P
      val u = ((h % Filters.DpUGrid) + 0.5) / Filters.DpUGrid.toDouble
      val sgn = if (u >= 0.5) 1.0 else -1.0
      math.round(sgn * (-1.0 / eps) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5)) * 1000000.0)
    }
    val got = Filters.qfDpSum(spark, sf()).collect()
    assert(got.length == per.size * Filters.DpEps.size)
    got.foreach { r =>
      val (src, label) = (r.getString(0), r.getString(1))
      val eps = Filters.DpEps.toMap.apply(label)
      val (n, nClip, ts) = per(src)
      assert(r.getLong(2) == n && r.getLong(3) == nClip &&
        r.getLong(4) == ts, s"census at ($src, $label)")
      val err = c * noiseU(s"$src#dp#sum#$label", eps)
      assert(r.getLong(5) == ts * 1000000L + err, s"release $src $label")
      assert(r.getLong(6) == err)
    }
    // the clip actually bites somewhere AND spares somewhere — the
    // bias-vs-noise trade the release owner weighs needs both
    assert(got.exists(_.getLong(3) > 0) && got.exists(_.getLong(3) == 0))
    // sum noise scales with the clip: C times the unit-scale census
    // noise, so the tighter budget is still the noisier one
    def mae(l: String) = {
      val e = got.filter(_.getString(1) == l).map(r =>
        math.abs(r.getLong(6)).toDouble)
      e.sum / e.length
    }
    assert(mae("eps_0.1") > mae("eps_1.0"))
    // and the sum release never shares a draw with the count release
    val census = Filters.qfDpCensus(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(got.exists { r =>
      census((r.getString(0), r.getString(1))) * c != r.getLong(6)
    }, "sum and count releases reused a noise draw")
  }

  test("qf_dp_ledger: the mixed count+sum sequence equals a local " +
    "recompute and the accounting identity holds step by step") {
    import graft.operators.Filters
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val c = Filters.DpClipChars
    val per = docs.groupBy(_._1).map { case (s, xs) =>
      s -> (xs.length.toLong, xs.map(x => math.min(x._2, c)).sum)
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def noiseU(key: String, eps: Double): Long = {
      val hex = md.digest(key.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      val h = java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P
      val u = ((h % Filters.DpUGrid) + 0.5) / Filters.DpUGrid.toDouble
      val sgn = if (u >= 0.5) 1.0 else -1.0
      math.round(sgn * (-1.0 / eps) *
        math.log(1.0 - 2.0 * math.abs(u - 0.5)) * 1000000.0)
    }
    val got = Filters.qfDpLedger(spark, sf()).collect()
    assert(got.length ==
      per.size * Filters.DpEps.size * 2 * Filters.DpReleases)
    got.foreach { r =>
      val (src, label, seq, kind) =
        (r.getString(0), r.getString(1), r.getInt(2), r.getString(3))
      val eps = Filters.DpEps.toMap.apply(label)
      val epsU = math.round(eps * 1000000.0)
      val (n, ts) = per(src)
      val rnd = (seq - 1) / 2
      val draw = noiseU(s"$src#dp#mix#$label#$kind#r$rnd", eps)
      val (trueU, err) =
        if (kind == "count") (n * 1000000L, draw)
        else (ts * 1000000L, c * draw)
      assert(kind == (if (seq % 2 == 1) "count" else "sum"))
      assert(r.getLong(4) == trueU, s"true_u ($src,$label,$seq)")
      assert(r.getLong(5) == trueU + err, s"released_u ($src,$label,$seq)")
      assert(r.getLong(6) == err, s"err_u ($src,$label,$seq)")
      assert(r.getLong(7) == epsU)
      // the accounting identity: cumulative spend after release k is
      // exactly k·ε — counts and sums charge the SAME budget
      assert(r.getLong(8) == epsU * seq, s"cum ($src,$label,$seq)")
      assert(r.getBoolean(9) == (epsU * seq <= Filters.DpEpsCapU))
      // sensitivity scaling: a sum release's error is C·(unit draw),
      // exactly divisible by the clip
      if (kind == "sum") assert(r.getLong(6) % c == 0L)
    }
    // the fixture shows a MID-LEDGER flip (ε=1.0 trips the cap at
    // seq 3) and a program that never trips (ε=0.1)
    val eps1 = got.filter(_.getString(1) == "eps_1.0")
    assert(eps1.filter(_.getInt(2) <= 2).forall(_.getBoolean(9)))
    assert(eps1.filter(_.getInt(2) >= 3).forall(!_.getBoolean(9)))
    assert(got.filter(_.getString(1) == "eps_0.1")
      .forall(_.getBoolean(9)))
    // fresh draws: within a (source, budget) program no two releases
    // of the same kind share a draw, and the ledger's draws are its
    // own (salted "mix#"), not the census's
    per.keys.foreach { src =>
      val unit = got.filter(r => r.getString(0) == src &&
        r.getString(1) == "eps_1.0").map { r =>
        if (r.getString(3) == "sum") r.getLong(6) / c else r.getLong(6)
      }
      assert(unit.distinct.length > 1, s"stale draws at $src")
    }
    val census = Filters.qfDpCensus(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(got.filter(r => r.getString(3) == "count").exists { r =>
      census((r.getString(0), r.getString(1))) != r.getLong(6)
    }, "ledger count releases reuse the census draw")
  }

  test("qf_k_anon: the audit equals a local class-census recompute and " +
    "the ladder exercises both verdicts on both axes") {
    import graft.operators.Filters
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("source", "lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    def census(width: Long): Map[(String, Long), (Long, Int)] =
      docs.groupBy { case (s, _, c) =>
        (s, if (width == 0L) 0L else c / width)
      }.map { case (k, xs) =>
        k -> (xs.length.toLong, xs.map(_._2).distinct.length)
      }
    val got = Filters.qfKAnon(spark, sf()).collect()
    assert(got.length == Filters.KAnonLevels.size * Filters.KAnonKs.size)
    val widths = Filters.KAnonLevels.toMap
    got.foreach { r =>
      val (gen, k) = (r.getString(0), r.getInt(1))
      val classes = census(widths(gen))
      val sizes = classes.values.map(_._1)
      val nRows = sizes.sum
      assert(r.getLong(2) == classes.size.toLong, s"n_classes $gen")
      assert(r.getLong(3) == sizes.min, s"min_class $gen")
      assert(r.getBoolean(4) == (sizes.min >= k), s"k_ok $gen k=$k")
      val viol = classes.values.filter(_._1 < k).map(_._1)
      assert(r.getLong(5) == viol.size.toLong, s"n_viol $gen k=$k")
      assert(r.getLong(6) == viol.sum, s"n_risk $gen k=$k")
      assert(r.getDouble(7) == graft.functions.Determinism
        .r6Jvm(viol.sum.toDouble / nRows), s"risk_share $gen k=$k")
      val homog = classes.values.filter(_._2 == 1).map(_._1)
      assert(r.getLong(8) == homog.size.toLong, s"n_homog $gen")
      assert(r.getLong(9) == homog.sum, s"homog_rows $gen")
      assert(r.getDouble(10) == graft.functions.Determinism
        .r6Jvm(homog.sum.toDouble / nRows), s"homog_share $gen")
    }
    // the generalization ladder must exercise both verdicts on the
    // fixture: the fine level violates every k with homogeneous
    // classes; the suppressed level is k-anonymous and fully diverse
    assert(got.filter(_.getString(0) == "b16")
      .forall(r => !r.getBoolean(4) && r.getLong(8) > 0))
    assert(got.filter(_.getString(0) == "src")
      .forall(r => r.getBoolean(4) && r.getLong(8) == 0L))
    // walking the ladder monotonically shrinks the rows at risk,
    // at every k — the property that makes it a decision table
    Filters.KAnonKs.foreach { k =>
      def risk(gen: String): Long = got.find(r =>
        r.getString(0) == gen && r.getInt(1) == k).get.getLong(6)
      assert(risk("b16") >= risk("b128") && risk("b128") >= risk("src"),
        s"risk not monotone along the ladder at k=$k")
    }
  }
}
