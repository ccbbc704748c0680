package graft

import org.apache.spark.sql.functions._
import graft.operators.Corpus

/** Corpus-preparation operators: split stability, normalization
  * canonicalization, packing layout invariants.
  */
class CorpusSpec extends SparkSpec {

  test("cp_split covers ~80/10/10, is total, and is stable per doc") {
    val rows = Corpus.cpSplit(spark, sf("sf0.01")).collect()
    assert(rows.length == 500)
    val bySplit = rows.groupBy(_.getAs[String]("split")).view.mapValues(_.length)
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit("train") > 350 && bySplit("train") < 450) // ~80%
    // stability: same assignment on re-run (pure function of doc_id)
    val again = Corpus.cpSplit(spark, sf("sf0.01")).collect()
    assert(rows.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getString(2))).toSeq)
  }

  test("cp_normalize canonicalizes case/whitespace/NFC to one digest") {
    import spark.implicits._
    // é as precomposed U+00E9 vs e + combining acute U+0301
    val df = Seq("Café  World", "café world").toDF("text")
    val norm = regexp_replace(
      trim(lower(graft.functions.NfcNormalize.nfc(col("text")))), "\\s+", " ")
    val out = df.select(md5(norm).as("d")).collect().map(_.getString(0))
    assert(out(0) == out(1)) // both normalize to "café world"
  }

  test("cp_sample hits every stratum quota exactly and is stable") {
    val rows = Corpus.cpSample(spark, sf("sf0.01")).collect()
    val bySrc = rows.groupBy(_.getAs[String]("source"))
    val counts = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.foreach { case (src, n) =>
      val quota = (n * Corpus.SamplePct + 99) / 100
      assert(bySrc(src).length.toLong == quota,
        s"stratum $src: got ${bySrc(src).length}, quota $quota")
    }
    val again = Corpus.cpSample(spark, sf("sf0.01")).collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq ==
      again.map(_.getLong(0)).sorted.toSeq)
  }

  test("cp_sample_approx selects EXACTLY cp_sample's set (quota exactness)") {
    val exact = Corpus.cpSample(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getAs[String]("source"),
        r.getAs[Long]("quota"))).toSet
    val approx = Corpus.cpSampleApprox(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getAs[String]("source"),
        r.getAs[Long]("quota"))).toSet
    // same docs, same strata, same quotas — the mechanism swap
    // (sketch cut + boundary sliver vs full per-stratum window) must
    // be invisible in the selected set
    assert(approx == exact)
    // per-stratum quota exactness independently of the exact twin
    val bySrc = approx.groupBy(_._2)
    bySrc.foreach { case (src, docs) =>
      assert(docs.size.toLong == docs.head._3, s"stratum $src")
    }
  }

  test("cp_elect picks the highest-quality duplicate through the custom plan") {
    val df = Corpus.cpElect(spark, sf("sf0.01"))
    // the k=1 argmax must plan through TopKPerGroupExec, no Window
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroup"), s"custom plan expected:\n$plan")
    assert(!plan.contains("Window"), s"argmax must not window:\n$plan")
    val rows = df.collect()
    // one survivor per digest, and it's the (n_distinct desc, doc_id)
    // argmax of its group per a brute-force recompute
    val d = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"),
        md5(Corpus.normExpr(col("text"))).as("dg"),
        size(array_distinct(
          graft.operators.TextAnalysis.tokens(lower(col("text")))))
          .cast("long").as("n"))
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2)))
    val byDg = d.groupBy(_._1)
    assert(rows.length == byDg.size)
    rows.foreach { r =>
      val grp = byDg(r.getString(0))
      val best = grp.minBy { case (_, id, n) => (-n, id) }
      assert(r.getLong(1) == best._2, s"survivor at ${r.getString(0)}")
      assert(r.getAs[Long]("n_distinct") == best._3)
      assert(r.getAs[Long]("dup_count") == grp.length.toLong)
    }
    // the fixture has no exact-dup groups at sf0.01, so pin the
    // quality-priority semantics on synthetic duplicates: the HIGHEST
    // n_distinct wins (not the min id — the dd_exact election), ties
    // break on id
    import spark.implicits._
    val syn = Seq(
      (1L, "g1", 5L), (2L, "g1", 9L), (3L, "g1", 9L), // 2 wins tie at 9
      (7L, "g2", 4L),                                 // singleton
      (8L, "g3", 1L), (9L, "g3", 3L))                 // 9 wins
      .toDF("doc_id", "dg", "n_distinct")
    val elected = Corpus.cpElectOf(syn).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getAs[Long]("dup_count")))
      .toMap
    assert(elected == Map("g1" -> (2L, 3L), "g2" -> (7L, 1L),
      "g3" -> (9L, 2L)))
  }

  test("cp_truncation cells match a local head-truncation recompute") {
    val rows = Corpus.cpTruncation(spark, sf("sf0.01")).collect()
    val toks = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val bySrc = toks.groupBy(_._1)
    assert(rows.length == bySrc.size * Corpus.TruncLens.size)
    rows.foreach { r =>
      val ns = bySrc(r.getString(0)).map(_._2)
      val l = r.getAs[Long]("ctx_len")
      assert(r.getAs[Long]("n_docs") == ns.length)
      assert(r.getAs[Long]("docs_truncated") == ns.count(_ > l))
      assert(r.getAs[Long]("tokens_total") == ns.sum)
      assert(r.getAs[Long]("tokens_kept") == ns.map(math.min(_, l)).sum)
      assert(r.getAs[Long]("tokens_lost") ==
        r.getAs[Long]("tokens_total") - r.getAs[Long]("tokens_kept"))
    }
    // the len grid must produce a real curve on this fixture: the
    // tightest budget truncates somewhere, the loosest nowhere
    val tight = rows.filter(_.getAs[Long]("ctx_len") == Corpus.TruncLens.min)
    assert(tight.exists(_.getAs[Long]("docs_truncated") > 0))
    val loose = rows.filter(_.getAs[Long]("ctx_len") == Corpus.TruncLens.max)
    assert(loose.forall(_.getAs[Long]("docs_truncated") == 0))
  }

  test("cp_stats_approx: exact moments, percentile rank error within 2%") {
    val exact = Corpus.cpStats(spark, sf("sf0.01")).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val approx = Corpus.cpStatsApprox(spark, sf("sf0.01")).collect()
    val bySrc = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("source"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long")
          .as("n"))
      .collect().groupBy(_.getString(0))
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val src = r.getAs[String]("source")
      val e = exact(src)
      // the non-percentile columns are plain exact aggregates — they
      // must EQUAL the exact twin's
      Seq("n_docs", "total_tokens", "min_tokens", "max_tokens").foreach(c =>
        assert(r.getAs[Long](c) == e.getAs[Long](c), s"$src.$c"))
      assert(r.getAs[Double]("mean_tokens") == e.getAs[Double]("mean_tokens"))
      // rank-error contract: for each q, the returned value v must
      // satisfy  #(x < v)/n ≤ q + 2%  and  #(x ≤ v)/n ≥ q − 2%
      val vals = bySrc(src).map(_.getLong(1))
      val n = vals.length.toDouble
      Seq("p50_tokens" -> 0.5, "p90_tokens" -> 0.9, "p99_tokens" -> 0.99)
        .foreach { case (c, q) =>
          val v = r.getAs[Long](c)
          val lt = vals.count(_ < v) / n
          val le = vals.count(_ <= v) / n
          assert(lt <= q + 0.02 && le >= q - 0.02,
            s"$src.$c: value $v has rank [$lt,$le], wanted ~$q")
        }
    }
  }

  test("cp_stats percentiles match a brute-force sorted interpolation") {
    val stats = Corpus.cpStats(spark, sf("sf0.01")).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    val bySrc = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("source"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long")
          .as("n"))
      .collect().groupBy(_.getString(0))
    def pct(sorted: Array[Long], p: Double): Double = {
      val idx = p * (sorted.length - 1)
      val lo = idx.toInt
      if (lo == sorted.length - 1) sorted(lo).toDouble
      else sorted(lo) + (idx - lo) * (sorted(lo + 1) - sorted(lo))
    }
    bySrc.foreach { case (src, g) =>
      val sorted = g.map(_.getLong(1)).sorted
      val r = stats(src)
      assert(r.getAs[Long]("n_docs") == sorted.length)
      assert(math.abs(r.getAs[Double]("p50_tokens") - pct(sorted, 0.5)) < 1e-6)
      assert(math.abs(r.getAs[Double]("p90_tokens") - pct(sorted, 0.9)) < 1e-6)
      assert(math.abs(r.getAs[Double]("p99_tokens") - pct(sorted, 0.99)) < 1e-6)
    }
  }

  test("cp_curate agrees with its constituent operators") {
    val curate = Corpus.cpCurate(spark, sf("sf0.01")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // docs_kept must equal qf_decide keeps bucketed by cp_split/source
    val keeps = graft.operators.Filters.qfDecide(spark, sf("sf0.01"))
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val split = Corpus.cpSplit(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val src = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val wantKept = src.keys.toSeq.filter(keeps)
      .groupBy(id => (split(id), src(id))).view.mapValues(_.size).toMap
    curate.foreach { case (key, r) =>
      assert(r.getAs[Long]("docs_kept") == wantKept.getOrElse(key, 0),
        s"docs_kept mismatch at $key")
      assert(r.getAs[Long]("survivors") <= r.getAs[Long]("docs_kept"))
      assert(r.getAs[Long]("docs_kept") <= r.getAs[Long]("docs_in"))
    }
    // survivors across all cells = distinct canonical digests among keeps
    val normMd5 = Corpus.cpNormalize(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("norm_md5")).toMap
    val wantSurvivors = src.keys.toSeq.filter(keeps).map(normMd5).distinct.size
    assert(curate.values.map(_.getAs[Long]("survivors")).sum == wantSurvivors)
  }

  test("cp_pack tiles the token stream with no gaps or overlaps") {
    val rows = Corpus.cpPack(spark, sf("sf0.01"))
      .orderBy(col("doc_id")).collect()
    var expectedStart = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("start_off") == expectedStart)
      assert(r.getAs[Long]("pack_id") ==
        expectedStart / Corpus.PackBudget)
      assert(r.getAs[Long]("pack_offset") ==
        expectedStart % Corpus.PackBudget)
      expectedStart += r.getAs[Long]("n_tokens")
    }
  }

  test("cp_pack_sharded tiles per shard and never crosses shard packs") {
    val rows = Corpus.cpPackSharded(spark, sf("sf0.01"))
      .orderBy(col("doc_id")).collect()
    assert(rows.map(_.getAs[Long]("shard")).distinct.length > 1,
      "fixture must span multiple shards for the test to mean anything")
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (shard, g) =>
      var expectedStart = 0L // each shard restarts its running total
      g.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        assert(r.getAs[Long]("start_off") == expectedStart)
        val local = expectedStart / Corpus.PackBudget
        assert(r.getAs[Long]("pack_id") == shard * Corpus.PackSalt + local)
        assert(r.getAs[Long]("pack_offset") ==
          expectedStart % Corpus.PackBudget)
        assert(r.getAs[Long]("pack_offset") < Corpus.PackBudget)
        expectedStart += r.getAs[Long]("n_tokens")
      }
    }
  }

  test("ta_keywords ranks rare terms above common ones at equal tf") {
    import spark.implicits._
    import java.nio.file.Files
    // "rare" appears in 1 doc, "common" in all 3; within doc 0 both
    // have tf=1, so idf must put rare first
    val dir = tmpDir("graft_tfidf_")
    Seq((0L, "rare common filler1"), (1L, "common other filler2"),
      (2L, "common more filler3"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = graft.operators.TextAnalysis.taKeywords(spark, dir)
      .collect()
    val doc0 = rows.filter(_.getAs[Long]("doc_id") == 0L)
      .sortBy(_.getAs[Int]("rank"))
    // filler1/rare both df=1 (score 3.0, lexicographic tie-break);
    // common df=3 (score 1.0) must rank last
    assert(doc0.map(_.getAs[String]("term")).toSeq ==
      Seq("filler1", "rare", "common"))
    assert(doc0.last.getAs[Long]("df") == 3L)
    // structural invariants on the real fixture
    val fx = graft.operators.TextAnalysis.taKeywords(spark, sf("sf0.01"))
      .collect()
    fx.groupBy(_.getAs[Long]("doc_id")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Int]("rank"))
      assert(sorted.length <= graft.operators.TextAnalysis.KeywordsPerDoc)
      assert(sorted.map(_.getAs[Int]("rank")).toSeq ==
        (1 to sorted.length))
      val scores = sorted.map(_.getAs[Double]("tfidf"))
      assert(scores.toSeq == scores.sortBy(-_).toSeq)
    }
  }

  test("cp_vocab ranks by frequency with lexicographic ties, df <= tf") {
    val rows = Corpus.cpVocab(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty && rows.length <= Corpus.VocabTopN)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    rows.sliding(2).foreach { case Array(a, b) =>
      val (ta, tb) = (a.getAs[Long]("term_count"), b.getAs[Long]("term_count"))
      assert(ta > tb || (ta == tb &&
        a.getAs[String]("token") < b.getAs[String]("token")))
    case _ => ()
    }
    rows.foreach { r =>
      assert(r.getAs[String]("token").nonEmpty)
      assert(r.getAs[Long]("doc_count") <= r.getAs[Long]("term_count"))
    }
  }

  test("cp_decontam flags docs sharing an eval 8-gram, audits the rest") {
    import spark.implicits._
    // crafted corpus: doc 0 (0 % 97 == 0) is the eval doc; doc 1 embeds
    // the same 8-token run; doc 2 is clean; doc 3 too short for grams
    val evalRun = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = tmpDir("graft_decontam_")
    Seq(
      (0L, s"$evalRun iota kappa"),
      (1L, s"noise before $evalRun and after"),
      (2L, "completely unrelated words that overlap with nothing at all"),
      (3L, "too short"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Corpus.cpDecontam(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_eval"), r.getAs[Long]("eval_grams_hit"),
          r.getAs[Boolean]("contaminated")))).toMap
    assert(out(0L) == ((true, 0L, false))) // eval doc: never "contaminated"
    assert(out(1L)._1 == false && out(1L)._2 >= 1L && out(1L)._3 == true)
    assert(out(2L) == ((false, 0L, false)))
    assert(out(3L) == ((false, 0L, false)))
  }

  test("cp_decontam_bloom equals the exact twin and plants the probe") {
    val bloomDf = Corpus.cpDecontamBloom(spark, sf("sf0.001"))
    // the pre-filter must actually be in the plan, codegen'd, below
    // the exact join
    val plan = bloomDf.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the plan:\n$plan")
    val exact = Corpus.cpDecontam(spark, sf("sf0.001")).collect()
    val bloom = bloomDf.collect()
    assert(bloom.length == exact.length)
    bloom.zip(exact).foreach { case (b, e) =>
      assert(b == e, s"bloom path diverges from exact:\n  $b\n  $e")
    }
  }

  test("cp_pack_sharded plans a hash-partitioned window, not one task") {
    val plan = Corpus.cpPackSharded(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    // the global cp_pack form necessarily shows SinglePartition at the
    // window Exchange; the sharded form must NOT
    assert(!plan.contains("SinglePartition"), plan)
    val global = Corpus.cpPack(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert(global.contains("SinglePartition")) // sanity: detector works
  }

  test("gramsAll equals the positional declarative gram hashes") {
    import spark.implicits._
    import graft.functions.{CrossHash, WordGramHashes}
    val adversarial = Seq("", " ", "one", "a b", "a b c d e f g h",
      "a b c d e f g h i j", "dup dup dup dup dup dup dup dup dup",
      "a  b\tc d e f g h i")
    val fixture = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("text")).collect().map(_.getString(0)).toSeq
    for (n <- Seq(2, 8)) {
      val rows = (adversarial ++ fixture).toDF("text")
        .select(lower(col("text")).as("t"))
        .select(col("t"),
          graft.operators.TextAnalysis.tokens(col("t")).as("toks"))
        .select(
          WordGramHashes.gramsAll(col("t"), n, modded = false).as("a"),
          when(size(col("toks")) >= n,
            transform(sequence(lit(1), size(col("toks")) - (n - 1)),
              j => CrossHash.md5Long(concat_ws(" ", (0 until n).map(k =>
                element_at(col("toks"), j + k)): _*))))
            .otherwise(array().cast("array<long>")).as("b"))
        .collect()
      rows.foreach(r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"n=$n: $r"))
    }
  }

  test("cp_shuffle assigns the exact global rank without a corpus-wide sort") {
    val rows = Corpus.cpShuffle(spark, sf("sf0.01")).collect()
    // bijection onto 1..N
    assert(rows.map(_.getAs[Long]("global_pos")).sorted.toSeq ==
      (1L to rows.length).toSeq)
    // equals the one-window global rank, locally recomputed
    val want = rows.map(r => (r.getAs[Long]("ord"), r.getAs[Long]("doc_id")))
      .sorted.zipWithIndex
      .map { case ((_, id), i) => id -> (i + 1L) }.toMap
    rows.foreach(r => assert(
      r.getAs[Long]("global_pos") == want(r.getAs[Long]("doc_id"))))
    // the corpus-sized window must be hash-partitioned on shard; the
    // only SinglePartition step is the 32-row offset table
    val plan = Corpus.cpShuffle(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(shard".r.findFirstIn(plan).nonEmpty,
      s"per-shard window missing:\n$plan")
  }

  test("cp_scrub_spans removes exactly the duplicated spans, in order") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = tmpDir("graft_scrub_")
    val shared = (1 to 8).map(i => s"x$i").mkString(" ")
    Seq(
      (0L, "a b c d e f g h i j"), // 10 tokens, all grams unique w/ doc 1 dup
      (1L, "a b c d e f g h i j"), // exact dup → both fully scrubbed
      (2L, "one two three"),       // < 8 tokens: no grams, untouched
      (3L, s"$shared tail1 tail2"),
      (4L, s"$shared other1 other2"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Corpus.cpScrubSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    // exact duplicates: every position covered in both copies
    Seq(0L, 1L).foreach { id =>
      assert(rows(id).getLong(2) == 10, s"doc $id fully scrubbed")
      assert(rows(id).getString(4) == md5hex(""))
    }
    // too short for any gram: untouched
    assert(rows(2L).getLong(2) == 0)
    // shared 8-gram removed from both, distinct tails kept in order
    assert(rows(3L).getLong(2) == 8)
    assert(rows(3L).getString(4) == md5hex("tail1 tail2"))
    assert(rows(4L).getString(4) == md5hex("other1 other2"))
  }
  test("cp_scrub_maximal: a repeated passage excises as ONE maximal " +
    "span, adjacent islands coalesce, and the covered set is exactly " +
    "cp_scrub_spans'") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = tmpDir("graft_scrubmax_")
    val passage = (1 to 12).map(i => s"p$i").mkString(" ")
    val blockA = (1 to 8).map(i => s"s$i").mkString(" ")
    val blockB = (1 to 8).map(i => s"t$i").mkString(" ")
    Seq(
      (0L, s"a1 a2 a3 $passage z1 z2 z3"), // passage at tokens 3..14
      (1L, s"$passage w1 w2"),             // the duplicating copy
      (2L, "one two three"),               // < 8 tokens: untouched
      (3L, s"$blockA g1 g2 $blockB"),      // TWO separated spans
      (4L, s"$blockA h1 h2 h3 $blockB"),   // the duplicating copy
      (5L, s"$blockA $blockB"))            // adjacent spans → ONE
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Corpus.cpScrubMaximal(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    // the headline contract: a 12-token repeated passage (5 ≥2×
    // 8-grams, all overlapping) reports as ONE maximal span, not 5
    // gram windows
    assert(rows(0L).getAs[Long]("n_spans") == 1)
    assert(rows(0L).getAs[String]("spans") == "3-14")
    assert(rows(0L).getAs[Long]("n_removed") == 12)
    assert(rows(0L).getAs[String]("scrubbed_md5") ==
      md5hex("a1 a2 a3 z1 z2 z3"))
    assert(rows(1L).getAs[String]("spans") == "0-11")
    // untouched doc: zero spans, empty span list
    assert(rows(2L).getAs[Long]("n_spans") == 0)
    assert(rows(2L).getAs[String]("spans") == "")
    // two separated duplicated blocks stay two spans, in order
    assert(rows(3L).getAs[Long]("n_spans") == 2)
    assert(rows(3L).getAs[String]("spans") == "0-7;10-17")
    assert(rows(3L).getAs[String]("scrubbed_md5") == md5hex("g1 g2"))
    // ADJACENT duplicated blocks coalesce into one maximal span
    assert(rows(5L).getAs[Long]("n_spans") == 1)
    assert(rows(5L).getAs[String]("spans") == "0-15")
    // covered-set equality with the flat scrub, on the synthetic dir
    // AND the fixture: same n_removed and same reassembled text hash
    // per doc (the union of intervals == union of coalesced intervals)
    Seq(dir, sf("sf0.001")).foreach { d =>
      val flat = Corpus.cpScrubSpans(spark, d).collect()
        .map(r => r.getLong(0) ->
          (r.getAs[Long]("n_removed"), r.getAs[String]("scrubbed_md5")))
        .toMap
      Corpus.cpScrubMaximal(spark, d).collect().foreach { r =>
        val (nr, h) = flat(r.getLong(0))
        assert(r.getAs[Long]("n_removed") == nr, s"doc ${r.getLong(0)}")
        assert(r.getAs[String]("scrubbed_md5") == h, s"doc ${r.getLong(0)}")
        // structural sanity: spans are disjoint, non-adjacent, each
        // ≥ ScrubN long, and their lengths sum to n_removed
        val sp = r.getAs[String]("spans")
        val ivs = if (sp.isEmpty) Seq.empty else sp.split(";").toSeq
          .map { s => val Array(a, b) = s.split("-"); (a.toLong, b.toLong) }
        assert(ivs.size.toLong == r.getAs[Long]("n_spans"))
        assert(ivs.map { case (a, b) => b - a + 1 }.sum ==
          r.getAs[Long]("n_removed"))
        ivs.foreach { case (a, b) =>
          assert(b - a + 1 >= Corpus.ScrubN.toLong) }
        ivs.sliding(2).foreach {
          case Seq((_, e1), (s2, _)) => assert(s2 > e1 + 1,
            s"uncoalesced adjacency in doc ${r.getLong(0)}")
          case _ => ()
        }
      }
    }
  }

  test("cp_scrub_keepfirst: the first corpus-wide occurrence survives, " +
    "later occurrences scrub, and removal is never more than the flat " +
    "scrub's") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = tmpDir("graft_scrubkf_")
    val blockA = (1 to 8).map(i => s"s$i").mkString(" ")
    Seq(
      (0L, "a b c d e f g h i j"), // first occurrence of every gram
      (1L, "a b c d e f g h i j"), // exact dup → fully scrubbed
      (2L, s"$blockA tail1 tail2"), // first occurrence of blockA
      (3L, s"$blockA other1 other2")) // later occurrence → scrubbed
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Corpus.cpScrubKeepFirst(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes)
        .map("%02x".format(_)).mkString
    // the policy: doc 0 holds every gram's FIRST occurrence → intact;
    // doc 1 is all later occurrences → fully scrubbed (content
    // survives exactly once, unlike cp_scrub_spans where BOTH vanish)
    assert(rows(0L).getAs[Long]("n_removed") == 0)
    assert(rows(0L).getAs[String]("scrubbed_md5") ==
      md5hex("a b c d e f g h i j"))
    assert(rows(1L).getAs[Long]("n_removed") == 10)
    assert(rows(1L).getAs[String]("scrubbed_md5") == md5hex(""))
    // shared block: kept in the lower doc_id, scrubbed in the higher
    assert(rows(2L).getAs[Long]("n_removed") == 0)
    assert(rows(3L).getAs[Long]("n_removed") == 8)
    assert(rows(3L).getAs[String]("scrubbed_md5") ==
      md5hex("other1 other2"))
    // dominance on the fixture: keep-first removes a SUBSET of the
    // flat scrub's positions in every doc (same marked grams minus
    // the first occurrences)
    val flat = Corpus.cpScrubSpans(spark, sf("sf0.001")).collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_removed")).toMap
    var strictlyFewer = 0
    Corpus.cpScrubKeepFirst(spark, sf("sf0.001")).collect().foreach { r =>
      assert(r.getAs[Long]("n_removed") <= flat(r.getLong(0)),
        s"doc ${r.getLong(0)} removed more than the flat scrub")
      if (r.getAs[Long]("n_removed") < flat(r.getLong(0)))
        strictlyFewer += 1
    }
    // and the policy genuinely bites on the fixture (some first
    // occurrences survive)
    assert(strictlyFewer > 0)
  }

  test("cp_decontam_embed flags exactly the brute-force cosine neighbors") {
    val vecs = graft.operators.Dedup.embeddings(spark, sf("sf0.001"))
      .selectExpr("vec_id", "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val evalSide = vecs.filter(_._1 % Corpus.EmbedEvalMod == 0)
    val corpus = vecs.filter(_._1 % Corpus.EmbedEvalMod != 0)
    assert(evalSide.nonEmpty && corpus.nonEmpty)
    val want = corpus.map { case (id, v) =>
      val cs = evalSide.map { case (_, e) =>
        dot(v, e) / math.sqrt(dot(v, v) * dot(e, e))
      }.filter(_ >= Corpus.EmbedDecontamMin)
      id -> (cs.length.toLong, if (cs.isEmpty) None else Some(cs.max))
    }.toMap
    val rows = Corpus.cpDecontamEmbed(spark, sf("sf0.001")).collect()
    assert(rows.map(_.getLong(0)).toSet == corpus.map(_._1).toSet)
    rows.foreach { r =>
      val (hits, maxc) = want(r.getLong(0))
      assert(r.getAs[Long]("eval_hits") == hits, s"vec ${r.getLong(0)}")
      assert(r.getAs[Boolean]("contaminated") == (hits > 0))
      maxc match {
        case Some(m) =>
          assert(math.abs(r.getAs[Double]("max_cosine") - m) < 1e-6)
          assert(r.getAs[Double]("max_cosine") <= 1.0 + 1e-9)
        case None => assert(r.isNullAt(r.fieldIndex("max_cosine")))
      }
    }
  }

  test("cp_epoch_plan: floor-division identities and budget conservation") {
    val rows = Corpus.cpEpochPlan(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    val weights = Corpus.MixWeightsBp.toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[Long]("weight_bp") ==
        weights.getOrElse(src, Corpus.MixDefaultBp))
      val tokens = r.getAs[Long]("src_tokens")
      val target = r.getAs[Long]("target_tokens")
      assert(tokens > 0) // fixture sources are non-empty
      val full = r.getAs[Long]("full_epochs")
      val rem = r.getAs[Long]("rem_tokens")
      assert(full == target / tokens)
      assert(rem == target % tokens && rem >= 0 && rem < tokens)
      assert(full * tokens + rem == target)
      assert(r.getAs[Long]("epochs_x1000") == target * 1000 / tokens)
    }
    // floors lose < 1 token-unit per source: the plan never overshoots
    // the budget and undershoots by less than the number of sources
    val allocated = rows.map(_.getAs[Long]("target_tokens")).sum
    assert(allocated <= Corpus.EpochTokenBudget)
    assert(Corpus.EpochTokenBudget - allocated < rows.length.toLong)
  }
  test("cp_frag counts boundary crossings off the packing layout") {
    val pack = Corpus.cpPack(spark, sf("sf0.001")).collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("start_off")))
    val got = Corpus.cpFrag(spark, sf("sf0.001")).collect()
      .map(r => r.getAs[Long]("ctx_len") -> r).toMap
    assert(got.keySet == Corpus.FragLens.toSet)
    Corpus.FragLens.foreach { l =>
      val crossings = pack.map { case (n, off) => (off + n - 1) / l - off / l }
      val r = got(l)
      assert(r.getAs[Long]("n_docs") == pack.length.toLong)
      assert(r.getAs[Long]("docs_split") == crossings.count(_ > 0).toLong)
      assert(r.getAs[Long]("boundary_crossings") == crossings.sum)
      val total = pack.map(_._1).sum
      assert(r.getAs[Long]("windows_used") == (total + l - 1) / l)
      assert(math.abs(r.getAs[Double]("split_share") -
        crossings.count(_ > 0).toDouble / pack.length) < 1e-6)
      // a doc can split only if the corpus actually spans >1 window
      if (r.getAs[Long]("windows_used") == 1L)
        assert(r.getAs[Long]("docs_split") == 0L)
    }
    // monotonicity: doubling the window can never split MORE docs
    val shares = Corpus.FragLens.sorted.map(l => got(l).getAs[Long]("docs_split"))
    assert(shares.zip(shares.drop(1)).forall { case (a, b) => b <= a })
  }
  test("cp_curriculum phases partition the corpus in score order") {
    val rows = Corpus.cpCurriculum(spark, sf("sf0.01")).collect()
    assert(rows.map(_.getAs[Int]("phase")).toSeq == Seq(1, 2, 3))
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    assert(n == 500)
    // value-cut terciles: each phase within one tie-mass of n/3
    val scores = graft.operators.TextAnalysis.taQuality(spark, sf("sf0.01"))
      .select(round(col("quality_score") * 1000000).cast("long"))
      .collect().map(_.getLong(0)).sorted
    val maxTie = scores.groupBy(identity).values.map(_.length).max.toLong
    rows.foreach(r => assert(
      math.abs(r.getAs[Long]("n_docs") - n / 3) <= maxTie + 1,
      s"phase ${r.getAs[Int]("phase")} size"))
    // phases are ordered, non-overlapping score bands
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("max_score") <= b.getAs[Double]("min_score"))
    }
    rows.foreach { r =>
      assert(r.getAs[Double]("min_score") <= r.getAs[Double]("mean_score"))
      assert(r.getAs[Double]("mean_score") <= r.getAs[Double]("max_score"))
    }
  }
  test("cp_shard_balance reconciles to the sharded layout") {
    val pack = Corpus.cpPackSharded(spark, sf("sf0.01")).collect()
      .map(r => (r.getAs[Long]("shard"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("pack_id")))
    val r = Corpus.cpShardBalance(spark, sf("sf0.01")).collect()(0)
    val byShard = pack.groupBy(_._1)
    assert(r.getAs[Long]("n_shards") == byShard.size.toLong)
    assert(r.getAs[Long]("docs") == pack.length.toLong)
    assert(r.getAs[Long]("tokens") == pack.map(_._2).sum)
    assert(r.getAs[Long]("packs") ==
      byShard.values.map(_.map(_._3).distinct.length.toLong).sum)
    val loads = byShard.values.map(_.map(_._2).sum)
    assert(r.getAs[Long]("min_shard_tokens") == loads.min)
    assert(r.getAs[Long]("max_shard_tokens") == loads.max)
    assert(r.getAs[Double]("skew_ratio") >= 1.0 - 1e-9)
  }

  test("cp_dataset_card reconciles with its component semantics") {
    val d = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
      .collect()
    val r = Corpus.cpDatasetCard(spark, sf("sf0.01")).collect() match {
      case Array(only) => only
    }
    assert(r.getAs[Long]("n_docs") == d.length.toLong)
    assert(r.getAs[Long]("n_sources") ==
      d.map(_.getString(3)).distinct.length.toLong)
    assert(r.getAs[Long]("n_langs") ==
      d.map(_.getString(2)).distinct.length.toLong)
    // top language: most docs, smallest lang on ties
    val byLang = d.groupBy(_.getString(2)).map { case (l, g) =>
      l -> g.length }
    val top = byLang.toSeq.sortBy { case (l, n) => (-n, l) }.head
    assert(r.getAs[String]("top_lang") == top._1)
    assert(math.abs(r.getAs[Double]("top_lang_share") -
      top._2.toDouble / d.length) < 1e-6)
    // token total matches the whitespace fold
    val toks = d.map(_.getString(1).trim.split("\\s+").length.toLong).sum
    assert(r.getAs[Long]("total_tokens") == toks)
    // dup rate from distinct texts (md5 is injective enough locally)
    val uniq = d.map(_.getString(1)).distinct.length
    assert(math.abs(r.getAs[Double]("dup_rate") -
      (1.0 - uniq.toDouble / d.length)) < 1e-6)
    // keep rate reconciles with the shipped qf_decide gate
    val nKeep = graft.operators.Filters.qfDecide(spark, sf("sf0.01"))
      .collect()
      .count(_.getAs[Boolean]("keep"))
    assert(math.abs(r.getAs[Double]("keep_rate") -
      nKeep.toDouble / d.length) < 1e-6)
  }

  test("cp_split_leakage recomputes from the LSH pairs and the split") {
    val pairs = graft.operators.Dedup.ddMinhashLsh(spark, sf("sf0.01"))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val split = Corpus.cpSplit(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    // a doc leaks iff ANY of its near-dup partners sits in another split
    val leakedBySplit = pairs
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (d, o) => split(d) != split(o) }
      .map { case (d, _) => (split(d), d) }.distinct
      .groupBy(_._1).map { case (s, g) => s -> g.length.toLong }
    val totals = split.values.groupBy(identity)
      .map { case (s, g) => s -> g.size.toLong }
    val got = Corpus.cpSplitLeakage(spark, sf("sf0.01")).collect()
    // always a complete 3-row census, zero-leak splits included
    assert(got.map(_.getString(0)).toSeq == Seq("test", "train", "val"))
    got.foreach { r =>
      val s = r.getString(0)
      assert(r.getAs[Long]("n_docs") == totals(s), s"n_docs at $s")
      assert(r.getAs[Long]("n_leaked") == leakedBySplit.getOrElse(s, 0L),
        s"n_leaked at $s")
      assert(math.abs(r.getAs[Double]("leak_rate") -
        leakedBySplit.getOrElse(s, 0L).toDouble / totals(s)) < 1e-6)
    }
  }

  test("cp_dataset_card_approx: exact columns equal, ≤2% sketch error, no Expand") {
    val exact = Corpus.cpDatasetCard(spark, sf("sf0.01")).collect()(0)
    val apxDf = Corpus.cpDatasetCardApprox(spark, sf("sf0.01"))
    val plan = apxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"sketch card must not Expand:\n$plan")
    val apx = apxDf.collect()(0)
    // non-distinct statistics are exact — identical to the twin
    for (c <- Seq("n_docs", "top_lang", "total_tokens", "top_lang_share",
        "avg_tokens", "keep_rate"))
      assert(apx.getAs[Any](c) == exact.getAs[Any](c), s"column $c")
    // sketched distincts within the rsd envelope
    for (c <- Seq("n_sources", "n_langs"))
      assert(math.abs(apx.getAs[Long](c) - exact.getAs[Long](c)).toDouble
        <= 0.02 * exact.getAs[Long](c) + 1, s"column $c")
    val de = exact.getAs[Double]("dup_rate")
    assert(math.abs(apx.getAs[Double]("dup_rate") - de) <= 0.02 + 1e-9)
  }

  test("cp_bpe_pairs equals a local sliding-pair census") {
    import graft.functions.Determinism.r6Jvm
    val dir = sf("sf0.001")
    val words = spark.read.parquet(dir + "/documents.parquet")
      .select(col("text")).collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .filter(_.length >= 2)
    val counts = words.flatMap(w =>
        w.sliding(2).filter(_.length == 2))
      .groupBy(identity).map { case (p, o) => p -> o.length.toLong }
    val total = counts.values.sum
    val expect = counts.toSeq
      .sortBy { case (p, n) => (-n, p) }.take(Corpus.BpeTopPairs)
      .zipWithIndex.map { case ((p, n), i) =>
        (i + 1, p, n, r6Jvm(n.toDouble / total)) }
    val got = Corpus.cpBpePairs(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(got.nonEmpty)
    assert(got == expect)
  }

  test("cp_bpe_train: hand-computed merges, greedy-left + cross-round symbols") {
    import spark.implicits._
    // aaab×2 + ab×1 exercises every subtle case in three rounds:
    // overlapping occurrences merge greedy-left (a a a → (aa) a, NOT
    // a (aa)), round 2's election counts across both words, round 3
    // elects a pair of two PREVIOUSLY-MERGED symbols
    val words = Seq("aaab", "aaab", "ab").toDF("w")
    val got = Corpus.bpeTrainOf(words, 3).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1, "a a", "aa", 4L, 3L, 8L),
      (2, "a b", "ab", 3L, 2L, 5L),
      (3, "aa ab", "aaab", 2L, 2L, 3L)))
  }

  test("cp_bpe_train equals a local BPE trainer on the fixture") {
    val dir = sf("sf0.001")
    val words = spark.read.parquet(dir + "/documents.parquet")
      .select(col("text")).collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+"))
      .filter(_.length >= 2)
    // reference trainer: word-frequency table, symbol lists, greedy-
    // left merge — independent of the string-replace representation
    var corpus: Map[Vector[String], Long] = words
      .groupBy(identity).map { case (w, o) =>
        w.map(_.toString).toVector -> o.length.toLong }
    val expect = (1 to Corpus.BpeTrainMerges).map { r =>
      val census = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach(p =>
          census(p) = census.getOrElse(p, 0L) + f) }
      val ((x, y), n) = census.minBy { case ((a, b), c) =>
        (-c, a + " " + b) }
      corpus = corpus.groupMapReduce { case (syms, _) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
            out += x + y; i += 2
          } else { out += syms(i); i += 1 }
        }
        out.result()
      }(_._2)(_ + _)
      val vocab = corpus.keysIterator.flatten.toSet.size.toLong
      val nSyms = corpus.iterator.map { case (s, f) => s.length * f }.sum
      (r, x + " " + y, x + y, n, vocab, nSyms)
    }
    val got = Corpus.cpBpeTrain(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expect)
  }

  test("cp_bpe_tokenize equals a local train-then-apply recompute") {
    import spark.implicits._
    // tiny corpus: after 3 merges aaab and ab are single tokens
    val (_, corpus) = Corpus.bpeTrainLoop(
      Seq("aaab", "aaab", "ab").toDF("w"), 3)
    val segs = corpus.collect()
      .map(r => r.getAs[String]("w") -> r.getAs[String]("seg")).toMap
    assert(segs == Map("aaab" -> " aaab ", "ab" -> " ab "))

    // fixture: independent local trainer (symbol lists, greedy-left)
    // then per-doc token counts under the final vocabulary
    val dir = sf("sf0.001")
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).trim.toLowerCase.split("\\s+").toSeq))
    val trainWords = docs.flatMap(_._2).filter(_.length >= 2)
    var segOf: Map[String, Vector[String]] = trainWords.distinct
      .map(w => w -> w.map(_.toString).toVector).toMap
    val freq = trainWords.groupBy(identity).map { case (w, o) =>
      w -> o.length.toLong }
    for (_ <- 1 to Corpus.BpeTrainMerges) {
      val census = scala.collection.mutable.Map.empty[(String, String), Long]
      segOf.foreach { case (w, syms) =>
        syms.zip(syms.tail).foreach(p =>
          census(p) = census.getOrElse(p, 0L) + freq(w)) }
      if (census.nonEmpty) {
        val ((x, y), _) = census.minBy { case ((a, b), c) =>
          (-c, a + " " + b) }
        segOf = segOf.map { case (w, syms) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
              out += x + y; i += 2
            } else { out += syms(i); i += 1 }
          }
          w -> out.result()
        }
      }
    }
    val expect = docs.map { case (id, ws) =>
      (id, ws.length.toLong,
        ws.map(w => if (w.length >= 2) segOf(w).length.toLong else 1L).sum)
    }.sortBy(_._1).toSeq
    val got = Corpus.cpBpeTokenize(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect)
    // vacuity: the merges must actually compress something
    assert(got.exists(t => t._3 < docs.find(_._1 == t._1).get._2
      .map(w => math.max(w.length, 1)).sum))
  }

  test("cp_length_sweep equals a local cutoff recompute and is monotone") {
    import graft.functions.Determinism.r6Jvm
    val dir = sf("sf0.001")
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .select(col("n_chars"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
    val nDocs = docs.length.toLong
    val tt = docs.map(_._2).sum
    val got = Corpus.cpLengthSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4))).toSeq
    assert(got.map(_._1) == Corpus.LengthCutoffs)
    got.foreach { case (c, k, kr, tk, ts2) =>
      val keep = docs.filter(_._1 >= c)
      assert(k == keep.length.toLong, s"n_keep at $c")
      assert(kr == r6Jvm(keep.length.toDouble / nDocs))
      assert(tk == keep.map(_._2).sum)
      assert(ts2 == r6Jvm(keep.map(_._2).sum.toDouble / tt))
    }
    // monotone: a stricter gate never keeps more
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
  }

  test("cp_dedup_impact reconciles with the shipped pair streams") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.Dedup
    val dir = sf("sf0.01")
    val docs = spark.read.parquet(dir + "/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // the cp_stats fold: len(split(trim(text))) with NO empty filter
    val tokensOf = docs.map { case (d, t) =>
      d -> t.trim.split("\\s+").length.toLong }.toMap
    val nDocs = docs.length.toLong
    val totalTokens = tokensOf.values.sum
    // redundant sets straight from the shipped streams
    val exact = docs.groupBy(_._2).values
      .flatMap(g => g.map(_._1).sorted.drop(1)).toSet
    val mh = Dedup.ddMinhashLsh(spark, dir).select(col("doc_b"))
      .collect().map(_.getLong(0)).toSet
    val sh = Dedup.ddSimhashPairs(spark, dir).select(col("doc_b"))
      .collect().map(_.getLong(0)).toSet
    val ec = Dedup.ddEmbedCosine(spark, dir).select(col("vec_b"))
      .collect().map(_.getLong(0)).toSet
    val families = Map("exact" -> exact, "minhash_lsh" -> mh,
      "simhash" -> sh, "embed_cosine" -> ec)
    val got = Corpus.cpDedupImpact(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == families.keySet)
    families.foreach { case (name, red) =>
      val r = got(name)
      val toks = red.toSeq.map(tokensOf).sum
      assert(r.getAs[Long]("n_redundant") == red.size.toLong, name)
      assert(r.getAs[Double]("doc_share") ==
        r6Jvm(red.size.toDouble / nDocs), name)
      assert(r.getAs[Long]("tokens_removed") == toks, name)
      assert(r.getAs[Double]("token_share") ==
        r6Jvm(toks.toDouble / totalTokens), name)
    }
    // the fixture exercises at least one nonempty family, and any
    // empty family exercises the zero-row census path (the per-family
    // asserts above pin n_redundant = 0, share = 0.0 for those)
    assert(families.values.exists(_.nonEmpty))
  }

  test("cp_waterfill equals a greedy local waterfill and exhausts the budget") {
    val d = sf("sf0.01")
    val rows = Corpus.cpWaterfill(spark, d).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    // independent ground truth: per-source token counts via the SAME
    // shared tokenizer, then a greedy loop (a different algorithm
    // than the query's closed-form window arithmetic)
    val toks = graft.operators.TextAnalysis.docs(spark, d)
      .select(col("source"),
        size(graft.operators.TextAnalysis.tokens(col("text")))
          .cast("long").as("tk"))
      .groupBy(col("source")).agg(sum(col("tk")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val asc = toks.toSeq.sortBy { case (s, t) => (t, s) }
    var remaining = Corpus.WaterfillBudget
    var left = asc.size
    val alloc = scala.collection.mutable.Map.empty[String, Long]
    val cappedSet = scala.collection.mutable.Set.empty[String]
    var lam = -1L
    asc.foreach { case (s, t) =>
      // t ≤ floor(x) ⟺ t ≤ x for integer t, so the greedy test is the
      // closed form's exact rational condition
      if (lam < 0 && t <= remaining / left) { // still capped
        alloc(s) = t; remaining -= t; left -= 1; cappedSet += s
      } else {
        if (lam < 0) lam = remaining / left // first uncapped fixes λ
        alloc(s) = math.min(t, lam)
      }
    }
    val leftover = Corpus.WaterfillBudget - alloc.values.sum
    assert(rows.keySet == toks.keySet)
    rows.foreach { case (s, r) =>
      assert(r.getAs[Long]("src_tokens") == toks(s))
      assert(r.getAs[Long]("alloc_tokens") == alloc(s), s"alloc at $s")
      assert(r.getAs[Boolean]("is_capped") == cappedSet(s), s"cap at $s")
      assert(r.getAs[Long]("budget_leftover") == leftover)
      if (lam >= 0) assert(r.getAs[Long]("fill_level") == lam)
    }
    // the budget is exhausted up to the indivisible remainder, and the
    // fixture exercises BOTH regimes
    assert(leftover >= 0 && (lam < 0 || leftover < asc.count(t => alloc(t._1) == lam)))
    assert(rows.values.exists(_.getAs[Boolean]("is_capped")))
    assert(rows.values.exists(!_.getAs[Boolean]("is_capped")))
  }

  test("cp_corpus_diff equals a local diff of the two derived versions") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val a = docs.filter(_._1 % 13 != 0).map(d => d._1 -> d).toMap
    val b = docs.filter(_._1 % 13 != 1).map { d =>
      val text = if (d._1 % 7 == 0) d._3 + " v2" else d._3
      d._1 -> (d._1, d._2, text)
    }.toMap
    case class Diff(var add: Long = 0, var rm: Long = 0,
      var chg: Long = 0, var same: Long = 0)
    val want = scala.collection.mutable.Map.empty[String, Diff]
    def at(s: String) = want.getOrElseUpdate(s, Diff())
    (a.keySet ++ b.keySet).foreach { id =>
      (a.get(id), b.get(id)) match {
        case (None, Some(bd)) => at(bd._2).add += 1
        case (Some(ad), None) => at(ad._2).rm += 1
        case (Some(ad), Some(bd)) =>
          if (ad._3 == bd._3) at(ad._2).same += 1 else at(ad._2).chg += 1
        case _ => ()
      }
    }
    val got = graft.operators.Corpus.cpCorpusDiff(spark, sf()).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val w = want(r.getString(0))
      assert(r.getLong(1) == w.add && r.getLong(2) == w.rm &&
        r.getLong(3) == w.chg && r.getLong(4) == w.same,
        s"diff mismatch at ${r.getString(0)}")
    }
    // every class fires somewhere, and the edit marker never collides
    // with an unchanged hash (the 60-bit-hash argument made concrete)
    assert(got.exists(_.getLong(1) > 0) && got.exists(_.getLong(2) > 0) &&
      got.exists(_.getLong(3) > 0) && got.exists(_.getLong(4) > 0))
  }

  test("cp_dsir equals a local hashed-importance recompute and the " +
    "target source scores above the corpus mean") {
    import graft.operators.Corpus
    val B = Corpus.DsirBuckets
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(term: String): Long = {
      val hex = md.digest(term.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      (java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P) % B
    }
    val tsrc = docs.map(_._2).min
    val docB = docs.map { case (id, src, text) =>
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      (id, src, toks.map(bucket).groupBy(identity)
        .map { case (b, xs) => b -> xs.length.toLong })
    }
    val cr = scala.collection.mutable.Map.empty[Long, Long]
    val ct = scala.collection.mutable.Map.empty[Long, Long]
    docB.foreach { case (_, src, c) =>
      c.foreach { case (b, tf) =>
        cr(b) = cr.getOrElse(b, 0L) + tf
        if (src == tsrc) ct(b) = ct.getOrElse(b, 0L) + tf
      }
    }
    val (tr, tt) = (cr.values.sum, ct.values.sum)
    val wt = cr.keys.map { b =>
      b -> math.round(
        (math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
          math.log((cr(b) + 1).toDouble / (tr + B))) * 1000000.0)
    }.toMap
    val imp = docB.map { case (id, src, c) =>
      (id, src, c.map { case (b, tf) => tf * wt(b) }.sum)
    }
    // rank-ceil quartile cuts (the ExactRank rule)
    val vals = imp.map(_._3).sorted
    val n = vals.length
    def cut(num: Int): Long = vals((num * n + 3) / 4 - 1)
    val (q1, q2, q3) = (cut(1), cut(2), cut(3))
    val census = imp.groupBy { case (_, src, w) =>
      (src, 1 + (if (w > q1) 1 else 0) + (if (w > q2) 1 else 0) +
        (if (w > q3) 1 else 0))
    }.map { case (k, xs) => k -> (xs.length.toLong, xs.map(_._3).sum) }
    val srcDocs = imp.groupBy(_._2).map { case (s, xs) =>
      s -> xs.length.toLong
    }
    val got = Corpus.cpDsir(spark, sf()).collect()
    assert(got.length == census.size)
    got.foreach { r =>
      val k = (r.getString(0), r.getInt(1))
      val (nd, sum) = census(k)
      assert(r.getLong(2) == nd, s"n_docs $k")
      assert(r.getDouble(3) == graft.functions.Determinism
        .r6Jvm(nd.toDouble / srcDocs(k._1)), s"share $k")
      assert(r.getDouble(4) == graft.functions.Determinism
        .r6Jvm(sum.toDouble / nd / 1000000.0), s"mean_imp $k")
    }
    // the selection signal the census exists for: the target source's
    // own docs score above the corpus mean (the Gibbs-inequality
    // direction — its empirical distribution is closest to itself)
    val tgt = imp.filter(_._2 == tsrc).map(_._3)
    assert(tgt.sum.toDouble / tgt.length >
      vals.sum.toDouble / n, "target source does not self-select")
    // the quartile cuts partition the corpus into four non-empty bins
    (1 to 4).foreach { qt =>
      assert(census.keys.exists(_._2 == qt), s"empty quartile $qt")
    }
  }

  test("cp_dsir weight quantization sits a safe margin from every " +
    ".5 rounding boundary on the gate fixtures") {
    // round(ln(...)·1e6) runs on data-dependent arguments in BOTH
    // engines' libm; a pre-round value within ~1 ULP of a .5 micro-nat
    // boundary could round differently between JVM and DuckDB ln and
    // flip a BIGINT weight under the driver's exact-hash gate
    // (qf_dp_census closed this class structurally with a quantized
    // noise grid — here the arguments are corpus counts, so the guard
    // is a fixture-change tripwire: if a new fixture lands a weight
    // near a boundary, THIS fails loudly instead of the gate failing
    // as a silent hash mismatch).
    import graft.operators.Corpus
    val B = Corpus.DsirBuckets
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(term: String): Long = {
      val hex = md.digest(term.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      (java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P) % B
    }
    for (sfName <- Seq("sf0.001", "sf0.01")) {
      val docs = spark.read.parquet(s"${sf(sfName)}/documents.parquet")
        .select("source", "text").collect()
        .map(r => (r.getString(0), r.getString(1)))
      val tsrc = docs.map(_._1).min
      val cr = scala.collection.mutable.Map.empty[Long, Long]
      val ct = scala.collection.mutable.Map.empty[Long, Long]
      docs.foreach { case (src, text) =>
        text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
          .foreach { t =>
            val b = bucket(t)
            cr(b) = cr.getOrElse(b, 0L) + 1L
            if (src == tsrc) ct(b) = ct.getOrElse(b, 0L) + 1L
          }
      }
      val (tr, tt) = (cr.values.sum, ct.values.sum)
      // every bucket of the DENSE table, including the untrained-
      // bucket prior row (ct = cr = 0)
      val preRound = (0L until B).map { b =>
        (math.log((ct.getOrElse(b, 0L) + 1).toDouble / (tt + B)) -
          math.log((cr.getOrElse(b, 0L) + 1).toDouble / (tr + B))) *
          1000000.0
      }
      preRound.foreach { v =>
        val frac = v - math.floor(v)
        assert(math.abs(frac - 0.5) > 1e-6,
          f"$sfName: pre-round weight $v%.9f within 1e-6 of a .5 " +
            "boundary — libm-fragile under the exact-hash gate")
      }
    }
  }

  test("cp_dsir_sample keeps exactly the rational-rate hash draw per " +
    "cell, keeps the whole target source, and matches the census") {
    import graft.operators.Corpus
    val M = Corpus.DsirSampleM
    // per-doc (source, quartile) frame straight from the shared
    // builder — the census and the sample both hang off it, so
    // reconciliation against it IS reconciliation against cp_dsir
    val dq = Corpus.dsirDocQuartiles(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
    val tsrc = dq.map(_._2).min
    val nSq = dq.groupBy(d => (d._2, d._4)).view.mapValues(_.length.toLong)
    val nS = dq.groupBy(_._2).view.mapValues(_.length.toLong)
    val nT = nS(tsrc)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): Long = {
      val hex = md.digest(s"dsir-sample-v1:$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(15), 16) % M
    }
    // the exact rational acceptance — BigInt, so the local recompute
    // can't overflow-or-round its way into agreeing by accident
    def kept(id: Long, src: String, q: Int): Boolean = {
      val nTq = nSq.getOrElse((tsrc, q), 0L)
      BigInt(h(id)) * BigInt(nSq((src, q))) * BigInt(nT) <
        BigInt(nTq) * BigInt(nS(src)) * BigInt(M)
    }
    val want = dq.filter(d => kept(d._1, d._2, d._4))
      .map(d => (d._1, d._2, d._4, d._3)).toSet
    val got = Corpus.cpDsirSample(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getLong(3))).toSet
    assert(got == want, "sample set diverges from the rational draw")
    // rate ≡ 1 theorem: every target-source doc survives
    val tgtAll = dq.filter(_._2 == tsrc).map(_._1).toSet
    assert(tgtAll.subsetOf(got.map(_._1)), "target source was thinned")
    // fixture signal: at least one non-target cell is strictly
    // subsampled and at least one doc from every source survives
    assert(got.size < dq.length, "nothing was resampled away")
    nS.keys.foreach { s =>
      assert(got.exists(_._2 == s), s"source $s fully dropped")
    }
    // reconciliation with the published census: realized per-cell
    // keep counts can never exceed the cell, and a cell at rate ≥ 1
    // (target share ≥ source share) keeps EVERYTHING
    nSq.foreach { case ((s, q), n) =>
      val keptN = got.count(g => g._2 == s && g._3 == q).toLong
      assert(keptN <= n)
      val nTq = nSq.getOrElse((tsrc, q), 0L)
      if (nTq * nS(s) >= n * nT)
        assert(keptN == n, s"rate>=1 cell ($s,$q) was thinned")
    }
  }

  test("cp_fertility is exactly cp_bpe_tokenize rolled up to lang grain") {
    import graft.operators.Corpus
    val perDoc = Corpus.cpBpeTokenize(spark, sf()).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val d = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = d.groupBy(_._2).map { case (lang, xs) =>
      val w = xs.map(x => perDoc(x._1)._1).sum
      val t = xs.map(x => perDoc(x._1)._2).sum
      val c = xs.map(_._3).sum
      lang -> (xs.length.toLong, w, t, c)
    }
    val got = Corpus.cpFertility(spark, sf()).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (n, w, t, c) = want(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(2) == w &&
        r.getLong(3) == t && r.getLong(4) == c, s"census ${r.getString(0)}")
      assert(r.getDouble(5) == graft.functions.Determinism
        .r6Jvm(t.toDouble / w))
      assert(r.getDouble(6) == graft.functions.Determinism
        .r6Jvm(c.toDouble / t))
    }
    // BPE segments words into >= 1 token each, and the merge table is
    // trained (some multi-char merges fire), so fertility sits in
    // (1, max-word-len]: > 1 because single-char words stay whole but
    // most words split, and it differs across langs on this fixture
    assert(got.forall(_.getDouble(5) >= 1.0))
    assert(got.map(_.getDouble(5)).distinct.length > 1,
      "fertility identical across langs — the census carries no signal")
  }
}
