package graft

import org.apache.spark.sql.functions._
import graft.functions.{CharGramHashSet, CrossHash, DotProduct, SortedIntersectCount}
import graft.operators.{Dedup, Similarity}

/** Dedup + similarity operators, and the custom Catalyst expressions
  * pinned against their declarative (built-in-function) twins.
  */
class DedupSpec extends SparkSpec {

  test("CharGramHashSet equals the declarative md5/conv formulation") {
    import spark.implicits._
    val texts = Seq("hello world, this is a gram test", "abcde", "abcd",
      "", "ααβγδε unicode γράμματα", "aaaaaaaa")
    val df = texts.toDF("t")
    val rows = df.select(
      CharGramHashSet.gramHashes(col("t")).as("fast"),
      Dedup.charGramHashesDeclarative(col("t")).as("slow")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("DotProduct equals the declarative zip_with/aggregate fold") {
    import spark.implicits._
    val df = Seq((Seq(1.5, -2.0, 3.25), Seq(0.5, 4.0, -1.0)))
      .toDF("a", "b")
      .select(col("a").cast("array<double>"), col("b").cast("array<double>"))
    val r = df.select(
      DotProduct.dot(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0),
        (acc, v) => acc + v).as("slow")).collect().head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getDouble(0) == 1.5 * 0.5 + -2.0 * 4.0 + 3.25 * -1.0)
  }

  test("SortedIntersectCount equals size(array_intersect) on sorted sets") {
    import spark.implicits._
    val cases = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)), // partial overlap
      (Seq.empty[Long], Seq(1L, 2L)), // empty side
      (Seq(4L, 8L), Seq(4L, 8L)), // identical
      (Seq(1L, 2L), Seq(3L, 4L))) // disjoint
    val df = cases.toDF("a", "b")
    val rows = df.select(
      SortedIntersectCount.intersectCount(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("slow")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("minhash signature estimates Jaccard (identical docs agree fully)") {
    val sig = Dedup.ddMinhash(spark, sf()).collect()
    assert(sig.nonEmpty)
    // signatures are within the modular hash range
    sig.foreach { r =>
      (0 until Dedup.K).foreach { i =>
        val v = r.getAs[Long](s"mh_$i")
        assert(v >= 0 && v < CrossHash.P)
      }
    }
  }

  test("dd_exact groups duplicate bodies under one survivor") {
    val df = Dedup.ddExact(spark, sf())
    val rows = df.collect()
    assert(rows.nonEmpty)
    // survivor is the min id of its group: spot-check a duplicated key
    val dup = rows.filter(_.getAs[Long]("cnt") > 1)
    assert(dup.nonEmpty, "fixture should contain duplicate comment bodies")
  }

  test("LSH candidates are a superset of high-jaccard verified pairs") {
    // every emitted pair must meet the verification threshold
    val pairs = Dedup.ddMinhashLsh(spark, sf("sf0.01")).collect()
    assert(pairs.nonEmpty)
    pairs.foreach(r =>
      assert(r.getAs[Double]("jaccard") >= Dedup.MinhashJaccardMin))
  }

  test("dd_clusters is a valid partition consistent with the LSH pairs") {
    val pairs = Dedup.ddMinhashLsh(spark, sf("sf0.01")).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    val rows = Dedup.ddClusters(spark, sf("sf0.01")).collect()
    val rep = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    // every doc labeled exactly once; rep is a member <= all members
    assert(rep.size == 500)
    rep.foreach { case (d, c) => assert(c <= d && rep(c) == c) }
    // paired docs share a cluster; survivors are exactly the reps
    pairs.foreach { case (a, b) => assert(rep(a) == rep(b)) }
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_survivor") ==
        (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_rep")))
    }
    // sizes partition the corpus
    val sizes = rows.filter(_.getAs[Boolean]("is_survivor"))
      .map(_.getAs[Long]("cluster_size"))
    assert(sizes.sum == 500)
    // the fixture's planted near-dups yield at least one real cluster
    assert(sizes.exists(_ > 1))
  }

  test("WordShingleHashSet + MinHash16 equal the declarative signature") {
    import spark.implicits._
    // hash sets: custom expression vs sort_array(array_distinct(transform))
    val texts = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), lower(col("text")).as("t"))
    val twin = texts.select(
        graft.functions.WordShingleHashSet.hs(col("t")).as("custom"),
        sort_array(array_distinct(transform(
          Dedup.shingles(split(trim(col("t")), "\\s+")),
          x => graft.functions.CrossHash.md5Mod(x)))).as("declarative"))
      .collect()
    twin.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // full signatures: map-only form vs explode+groupBy form
    val sigC = Dedup.ddMinhash(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    val sigD = Dedup.signatureDeclarative(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toSeq).toMap
    assert(sigC == sigD)
    // the expression's private coefficient copies match Dedup's
    val minsOfOne = Seq(123456789L).toDF("h")
      .select(graft.functions.MinHash16.mins(array(col("h"))).as("m"))
      .collect()(0).getSeq[Long](0)
    val expected = Dedup.As.zip(Dedup.Bs).map { case (a, b) =>
      (123456789L * a + b) % CrossHash.P }
    assert(minsOfOne == expected)
  }

  test("WordGramHashes equals the gramStrings + hash declarative twin") {
    import spark.implicits._
    val adversarial = Seq("", " ", "one", "a b c d e f g h i j",
      "\ta  b\tc d e f g h", ("tok " * 50).trim)
    val fixture = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("text")).collect().map(_.getString(0)).toSeq
    val df = (adversarial ++ fixture).toDF("text")
      .select(lower(col("text")).as("t"))
      .select(col("t"), split(trim(col("t")), "\\s+").as("toks"))
    for ((n, modded) <- Seq((8, true), (8, false), (3, true))) {
      val hash = (c: org.apache.spark.sql.Column) =>
        if (modded) graft.functions.CrossHash.md5Mod(c)
        else graft.functions.CrossHash.md5Long(c)
      val rows = df.select(
          graft.functions.WordGramHashes.grams(col("t"), n, modded)
            .as("custom"),
          transform(graft.operators.Corpus.gramStrings(col("toks"), n),
            hash).as("declarative"))
        .collect()
      rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"n=$n modded=$modded"))
    }
  }

  test("SimHash60 equals the declarative explode/60-bit-sum twin") {
    val custom = Dedup.ddSimhash(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val declarative = Dedup.simhashDeclarative(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(custom == declarative)
    // and the custom form's plan is map-only: no exchange before sort
    val plan = Dedup.ddSimhash(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"signature computation must not shuffle:\n$plan")
  }

  test("simhash pairs respect the hamming bound") {
    val rows = Dedup.ddSimhashPairs(spark, sf("sf0.01")).collect()
    rows.foreach(r => assert(r.getAs[Int]("hamming") <= Dedup.HammingMax))
  }

  test("brute-force topk is sorted and self-free; LSH returns same shape") {
    val bf = Similarity.simBruteforceTopk(spark, sf("sf0.01")).collect()
    assert(bf.length == Similarity.NQueries * Similarity.TopK)
    bf.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val cs = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.toSeq == cs.sortBy(-_).toSeq) // descending within query
    }
    assert(bf.forall(r =>
      r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    val ann = Similarity.simLshAnn(spark, sf("sf0.01")).collect()
    assert(ann.forall(_.getAs[Int]("rank") <= Similarity.TopK))
  }

  test("IVF ANN returns ranked self-free neighbors from probed cells") {
    val ivf = Similarity.simIvfAnn(spark, sf("sf0.01")).collect()
    assert(ivf.length == Similarity.NQueries * Similarity.TopK)
    assert(ivf.forall(r =>
      r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    ivf.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val cs = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.toSeq == cs.sortBy(-_).toSeq) // descending within query
    }
    // the corpus side must arrive via the cell equi-join, never broadcast
    // whole or nested-looped
    val plan = Similarity.simIvfAnn(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim_recall agrees with a direct overlap of the topk outputs") {
    val rec = Similarity.simRecall(spark, sf("sf0.01")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val bf = Similarity.simBruteforceTopk(spark, sf("sf0.01")).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    def check(name: String, ann: Array[org.apache.spark.sql.Row]): Unit = {
      val byQ = ann.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
      bf.keys.foreach { q =>
        val want = byQ.getOrElse(q, Set.empty).intersect(bf(q)).size.toLong
        assert(rec((name, q)) == want, s"$name q$q")
        assert(want <= Similarity.TopK)
      }
    }
    check("lsh", Similarity.simLshAnn(spark, sf("sf0.01")).collect())
    check("ivf", Similarity.simIvfAnn(spark, sf("sf0.01")).collect())
  }

  test("kmeans: Lloyd rounds never increase inertia; cells partition") {
    import org.apache.spark.sql.functions._
    val vecs = Dedup.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.DotProduct.dot(col("v"), col("v")))
    val seeds = vecs.filter(col("vec_id") >= Similarity.NQueries &&
        col("vec_id") < Similarity.NQueries + Similarity.IvfCells)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    def inertia(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.kmAssign(vecs, cents)
        .agg(sum(col("dist"))).collect()(0).getDouble(0)
    val c1 = Similarity.kmUpdate(Similarity.kmAssign(vecs, seeds))
    val c2 = Similarity.kmUpdate(Similarity.kmAssign(vecs, c1))
    val (i0, i1, i2) = (inertia(seeds), inertia(c1), inertia(c2))
    // fixed-point mean rounding perturbs centroids by ≤2^-24 per
    // component — allow that much slack on the Lloyd monotonicity
    assert(i1 <= i0 + 1e-3, s"$i0 -> $i1")
    assert(i2 <= i1 + 1e-3, s"$i1 -> $i2")
    // every vector lands in exactly one cell
    val n = Similarity.simKmeans(spark, sf("sf0.01"))
      .agg(sum(col("n_assigned"))).collect()(0).getLong(0)
    assert(n == vecs.count())
  }

  test("kmeans-trained centroids plug into the IVF serving plan") {
    import org.apache.spark.sql.functions._
    val vecs = Dedup.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.DotProduct.dot(col("v"), col("v")))
    val seeds = vecs.filter(col("vec_id") >= Similarity.NQueries &&
        col("vec_id") < Similarity.NQueries + Similarity.IvfCells)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    val trained = Similarity.kmUpdate(Similarity.kmAssign(vecs, seeds))
    val served = Similarity.ivfServe(vecs, trained).collect()
    assert(served.length == Similarity.NQueries * Similarity.TopK)
    assert(served.forall(r =>
      r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    served.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      val cs = g.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.toSeq == cs.sortBy(-_).toSeq)
    }
  }

  test("blocked embed-cosine equals the all-pairs ground truth") {
    // the block-matrix decomposition must be lossless: every unordered
    // pair lands in exactly one block pair, so output is identical row
    // for row (ids AND the r6'd cosine, which is orientation-stable)
    val blocked = Dedup.ddEmbedCosine(spark, sf("sf0.01")).collect()
    val exact = Dedup.ddEmbedCosineAllPairs(spark, sf("sf0.01")).collect()
    assert(blocked.nonEmpty)
    assert(blocked.map(_.toSeq).toSeq == exact.map(_.toSeq).toSeq)
  }

  test("blocked embed-cosine plans equi-joins, not a nested-loop join") {
    val plan = Dedup.ddEmbedCosine(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dd_containment prefix filter is complete vs a brute-force recompute") {
    val got = Dedup.ddContainment(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("overlap"),
        r.getAs[Long]("na"), r.getAs[Double]("containment")))
    assert(got.nonEmpty)
    // brute force: every directed pair, no candidate filter
    val sets = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.WordShingleHashSet.hs(
          org.apache.spark.sql.functions.lower(
            org.apache.spark.sql.functions.col("text"))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
      .filter(_._2.nonEmpty)
    val want = (for {
      (a, ga) <- sets; (b, gb) <- sets if a != b
      i = (ga & gb).size.toLong
      c = i.toDouble / ga.size
      if BigDecimal.decimal(c).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble >= Dedup.ContainMin
    } yield (a, b, i, ga.size.toLong)).toSet
    assert(got.map(t => (t._1, t._2, t._3, t._4)).toSet == want)
    // asymmetry is the point: containment holds where Jaccard fails
    // for at least one quote-shaped pair (|A| markedly below overlap
    // requirement for symmetric similarity)
    got.foreach { case (_, _, overlap, na, c) =>
      assert(overlap <= na && c >= Dedup.ContainMin - 1e-6 && c <= 1.0)
    }
  }

  test("dd_incremental equals the full self-join restricted to the split") {
    val inc = Dedup.ddIncremental(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc.nonEmpty, "fixture should produce cross-split matches")
    // ground truth: the symmetric LSH pairs with exactly one endpoint
    // in the batch, oriented (new, corpus)
    def isBatch(id: Long) = id % Dedup.BatchMod == Dedup.BatchRem
    val full = Dedup.ddMinhashLsh(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = full.collect {
      case (a, b, j) if isBatch(a) && !isBatch(b) => (a, b, j)
      case (a, b, j) if isBatch(b) && !isBatch(a) => (b, a, j)
    }.toSet
    assert(inc == want)
  }

  test("dd_spans matches a brute-force repeated-8-gram recompute") {
    val rows = Dedup.ddSpans(spark, sf("sf0.01")).collect()
    val texts = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(t: String): Set[String] = {
      val toks = t.trim.toLowerCase.split("\\s+")
      if (toks.length < Dedup.SpanN) Set.empty
      else toks.sliding(Dedup.SpanN).map(_.mkString(" ")).toSet
    }
    val docGrams = texts.view.mapValues(grams).toMap
    val df = docGrams.values.flatten
      .groupBy(identity).view.mapValues(_.size).toMap
    rows.foreach { r =>
      val gs = docGrams(r.getLong(0))
      assert(r.getAs[Long]("n_grams") == gs.size)
      assert(r.getAs[Long]("n_dup_grams") == gs.count(df(_) >= 2))
      assert(r.getAs[Long]("max_gram_df") ==
        (if (gs.isEmpty) 0L else gs.map(df(_)).max.toLong))
    }
  }

  test("dd_lsh_tuning sweep is monotone and consistent with the index") {
    val rows = Dedup.ddLshTuning(spark, sf("sf0.01")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_true")))
    assert(rows.map(x => (x._1, x._2)).toSeq == Dedup.LshTuneConfigs)
    // more bands = shorter keys = more (or equal) candidates and true
    // pairs found; never fewer; and true pairs never exceed candidates
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3, s"candidates must grow with bands: $a -> $b")
      assert(a._4 <= b._4, s"recall must grow with bands: $a -> $b")
    }
    rows.foreach(x => assert(x._4 <= x._3, s"true <= candidates: $x"))
    // the production (4, 4) config's true-pair count IS the shipped
    // dd_minhash_lsh result size
    val prod = rows.find(x => (x._1, x._2) == (4, 4)).get
    assert(prod._4 == Dedup.ddMinhashLsh(spark, sf("sf0.01")).count())
  }
  test("dd_sizes reconciles to the corpus and to dd_exact's groups") {
    val rows = Dedup.ddSizes(spark, sf("sf0.01")).collect()
    val exact = Dedup.ddExact(spark, sf("sf0.01")).collect()
      .map(_.getAs[Long]("cnt"))
    // histogram of group sizes == dd_exact's groups re-binned
    val want = exact.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.map(r => r.getAs[Long]("cluster_size") ->
      r.getAs[Long]("n_clusters")).toMap == want)
    rows.foreach { r =>
      val (s0, n) = (r.getAs[Long]("cluster_size"), r.getAs[Long]("n_clusters"))
      assert(r.getAs[Long]("docs_total") == s0 * n)
      assert(r.getAs[Long]("docs_removable") == (s0 - 1) * n)
    }
    // docs_total reconciles to the corpus row count
    val corpus = graft.model.RedditModel
      .comments(spark, sf("sf0.01")).count()
    assert(rows.map(_.getAs[Long]("docs_total")).sum == corpus)
  }
  test("dd_cosine_sweep: monotone in threshold, production row matches") {
    val rows = Dedup.ddCosineSweep(spark, sf("sf0.01")).collect()
      .map(r => (r.getDouble(0), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs")))
    assert(rows.map(_._1).toSeq == Dedup.CosineSweep)
    // tightening the threshold can only shed pairs and docs
    rows.zip(rows.drop(1)).foreach { case ((_, p1, d1), (_, p2, d2)) =>
      assert(p2 <= p1 && d2 <= d1)
    }
    // the production threshold's row IS dd_embed_cosine's pair count
    val prod = rows.find(_._1 == Dedup.CosineMin).get
    assert(prod._2 == Dedup.ddEmbedCosine(spark, sf("sf0.01")).count())
    // docs touched can never exceed 2 pairs' worth
    rows.foreach { case (_, p, d) => assert(d <= 2 * p) }
  }
  test("dd_dup_sources re-aggregates the LSH pair stream by source") {
    val srcOf = graft.operators.TextAnalysis.docs(spark, sf("sf0.01"))
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.ddMinhashLsh(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val want = pairs.map { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.ddDupSources(spark, sf("sf0.01")).collect()
    assert(got.map(r => (r.getString(0), r.getString(1)) ->
      r.getAs[Long]("n_pairs")).toMap == want)
    got.foreach(r => assert(r.getAs[Boolean]("within_source") ==
      (r.getString(0) == r.getString(1))))
    assert(got.map(_.getAs[Long]("n_pairs")).sum == pairs.length.toLong)
  }

  test("dd_ngram_jaccard_lsh equals the exact length-blocked twin") {
    // the shipped contract: banded-MinHash candidates + the SAME
    // SortedJaccardGE verify reproduce the exact twin's rows bitwise
    // (the driver re-proves this against the shared oracle each round)
    for (d <- Seq("sf0.001", "sf0.01")) {
      val exact = Dedup.ddNgramJaccard(spark, sf(d)).collect().toSeq
      val lsh = Dedup.ddNgramJaccardLsh(spark, sf(d)).collect().toSeq
      assert(exact.nonEmpty, s"vacuous fixture at $d")
      assert(lsh == exact,
        s"LSH composition diverges from exact at $d: " +
          s"${lsh.size} vs ${exact.size} rows")
    }
  }

  test("char-gram banding dial: longer band keys refine shorter ones, " +
    "and the dial's recall cost is the pinned fixture readout") {
    // the density lever for growing corpora (round-14 watch item): at
    // the SAME K=16 row order a 4-row band match is two adjacent 2-row
    // matches, so uncapped verified pairs NEST along the dial
    val d = sf("sf0.01")
    val exact = pairSet(Dedup.ddNgramJaccard(spark, d))
    val b8 = pairSet(Dedup.ddNgramJaccardLshCfg(spark, d, None))
    val b4 = pairSet(Dedup.ddNgramJaccardLshCfg(spark, d, None,
      nBands = 4, nRows = 4))
    val b2 = pairSet(Dedup.ddNgramJaccardLshCfg(spark, d, None,
      nBands = 2, nRows = 8))
    assert(b4.subsetOf(b8), "4x4 pairs must nest inside 8x2")
    assert(b2.subsetOf(b4), "2x8 pairs must nest inside 4x4")
    // the shipped 8x2 == exact contract, restated as the dial's anchor
    assert(b8 == exact)
    // measured fixture readout, pinned (deterministic — the minhash
    // family has no randomness): the fixture's true pairs sit deep in
    // the j ≥ 0.83 regime, so even the 2×8 stop keeps all 25; the
    // dial's recall cost (P(keep|j=0.83) = 0.40 at 2×8) is a
    // THRESHOLD-REGION property a borderline corpus would pay —
    // which is why the dial is a per-corpus measured choice
    assert(b4 == exact && b2 == exact,
      s"fixture dial recall moved: 4x4=${b4.size}, 2x8=${b2.size}, " +
        s"exact=${exact.size}")
  }

  test("allCosinePairs plans no threshold filter at all") {
    // -Inf must elide the predicate, not evaluate it: `c >= -Inf`
    // silently drops a NULL cosine (zero-norm vector) that the
    // unfiltered oracle CTE keeps (round-8 advice)
    val plan = Dedup.allCosinePairs(spark, sf())
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Infinity"), s"threshold filter survived:\n$plan")
  }

  test("dd_family_overlap reconciles with the two shipped pair streams") {
    import graft.functions.Determinism.r6Jvm
    val lex = Dedup.ddMinhashLsh(spark, sf("sf0.01"))
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.ddEmbedCosine(spark, sf("sf0.01"))
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val r = Dedup.ddFamilyOverlap(spark, sf("sf0.01")).collect().head
    val both = (lex & sem).size.toLong
    assert(r.getAs[Long]("n_lexical") == lex.size.toLong)
    assert(r.getAs[Long]("n_semantic") == sem.size.toLong)
    assert(r.getAs[Long]("n_both") == both)
    assert(r.getAs[Long]("n_lexical_only") == (lex -- sem).size.toLong)
    assert(r.getAs[Long]("n_semantic_only") == (sem -- lex).size.toLong)
    val den = lex.size.toLong + sem.size - both
    if (den > 0)
      assert(r.getAs[Double]("jaccard") == r6Jvm(both.toDouble / den))
    // the fixture exercises both families
    assert(lex.nonEmpty && sem.nonEmpty)
  }

  test("dd_minhash_error equals a full local calibration recompute") {
    import graft.functions.{CrossHash, Determinism}
    import Determinism.r6Jvm
    def md5Mod(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16) % CrossHash.P
    }
    val dir = sf("sf0.001")
    val hs: Map[Long, Set[Long]] = spark.read
      .parquet(dir + "/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect()
      .flatMap { r =>
        val toks = r.getString(1).trim.toLowerCase.split("\\s+")
          .filter(_.nonEmpty)
        if (toks.length < 3) None
        else Some(r.getLong(0) -> toks.sliding(3).map(_.mkString(" "))
          .toSet[String].map(md5Mod))
      }.toMap
    val sig: Map[Long, IndexedSeq[Long]] = hs.map { case (d, set) =>
      d -> (0 until Dedup.K).map(i =>
        set.map(h => (h * Dedup.As(i) + Dedup.Bs(i)) % CrossHash.P).min)
    }
    // banded candidates, a < b
    val byKey = sig.toSeq.flatMap { case (d, mh) =>
      (0 until Dedup.Bands).map(b =>
        (b, (0 until Dedup.R).map(r => mh(b * Dedup.R + r))
          .mkString("_")) -> d)
    }.groupBy(_._1).values
    val cands = byKey.flatMap { g =>
      val ds = g.map(_._2).sorted
      for (i <- ds.indices; j <- (i + 1) until ds.length)
        yield (ds(i), ds(j))
    }.toSet
    def half(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val perPair = cands.toSeq.map { case (a, b) =>
      val matches = (0 until Dedup.K).count(i => sig(a)(i) == sig(b)(i))
      val inter = (hs(a) & hs(b)).size
      val j = inter.toDouble / (hs(a).size + hs(b).size - inter)
      (matches, half(j * Dedup.MinhashErrScale))
    }
    val got = Dedup.ddMinhashError(spark, dir).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getInt(0)).toSet == perPair.map(_._1).toSet)
    got.foreach { r =>
      val k = r.getInt(0)
      val g = perPair.filter(_._1 == k).map(_._2)
      val n = g.length.toLong
      val est = Dedup.MinhashErrScale / Dedup.K * k
      assert(r.getAs[Double]("est_jaccard") == r6Jvm(k / Dedup.K.toDouble))
      assert(r.getAs[Long]("n_pairs") == n)
      assert(r.getAs[Double]("mean_exact") ==
        r6Jvm(g.sum.toDouble / n / 1000000.0))
      assert(r.getAs[Double]("min_exact") == r6Jvm(g.min / 1000000.0))
      assert(r.getAs[Double]("max_exact") == r6Jvm(g.max / 1000000.0))
      assert(r.getAs[Double]("mean_abs_err") ==
        r6Jvm(g.map(v => math.abs(est - v)).sum.toDouble / n / 1000000.0))
    }
  }

  /** The guard's firing regime the fixture cannot produce (organic
    * buckets there hold ≤ 3 docs): a template family over the cap —
    * identical docs, so every band bucket holds the whole family —
    * next to one genuine near-dup pair and unrelated singletons.
    * Written ONCE (full documents schema + orthogonal embeddings so
    * the composition consumers run on it too) and shared by every
    * capped-stream test below.
    */
  private lazy val megaFamilyN = Dedup.LshMaxBucket + 16
  private lazy val megaFamilyDir: String = {
    import spark.implicits._
    val dir = tmpDir("graft_capped_")
    val giant = (1 to megaFamilyN).map(i => (i.toLong,
      "the quick brown fox jumps over the lazy dog again", "tmpl"))
    val longText = (1 to 59).map(i => s"w$i").mkString(" ")
    val pairA = Seq((1001L, longText + " w60", "web"),
      (1002L, longText + " zz", "web"))
    // a second organic near-dup pair that straddles the incremental
    // BATCH split (1007 % 10 == BatchRem probes, 1010 is corpus) —
    // distinct "v"-word vocabulary so it shares nothing with pairA
    val incText = (1 to 59).map(i => s"v$i").mkString(" ")
    val pairB = Seq((1007L, incText + " v60", "inc"),
      (1010L, incText + " qq", "inc"))
    val singles = Seq(
      (2001L, "completely unrelated text about warehouses and orders",
        "misc"),
      (2002L, "another distinct document mentioning stream watermarks",
        "misc"))
    (giant ++ pairA ++ pairB ++ singles).toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    // three orthogonal unit vectors: no cosine pair clears 0.45, so
    // the semantic stream is empty and the lexical cap is isolated
    Seq(1L, 2L, 3L).map { i =>
      (i, (0 until 64).map(j => if (j == i.toInt) 1.0f else 0.0f), 0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    dir
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dd_minhash_lsh_capped drops mega-bucket pairs, keeps organic families") {
    val capped = pairSet(Dedup.ddMinhashLshCapped(spark, megaFamilyDir))
    val uncapped = pairSet(Dedup.ddMinhashLsh(spark, megaFamilyDir))
    val giantPair = (p: (Long, Long)) =>
      p._1 <= megaFamilyN && p._2 <= megaFamilyN
    // uncapped: the template family IS the quadratic clique
    assert(uncapped.count(giantPair) ==
      megaFamilyN.toLong * (megaFamilyN - 1) / 2)
    // capped: the guard removes every clique pair...
    assert(!capped.exists(giantPair))
    // ...while the organic near-dup pair survives untouched
    assert(capped.contains((1001L, 1002L)))
    assert(capped.subsetOf(uncapped))
  }

  test("dd_clusters_capped: mega-family → singletons; refines the uncapped clustering") {
    val capped = Dedup.ddClustersCapped(spark, megaFamilyDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // the template family's members cluster as SINGLETONS (the guard
    // removed their edges; exact dedup upstream owns them)
    (1 to megaFamilyN).foreach { i =>
      assert(capped(i.toLong) == ((i.toLong, 1L, true)), s"doc $i")
    }
    // the organic near-dup pair still forms its 2-cluster
    assert(capped(1001L) == ((1001L, 2L, true)))
    assert(capped(1002L) == ((1001L, 2L, false)))
    assert(capped(2001L) == ((2001L, 1L, true)))
    // refinement invariant: capped pairs ⊆ uncapped pairs, so every
    // capped cluster must sit inside ONE uncapped cluster
    val uncapped = Dedup.ddClusters(spark, megaFamilyDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    capped.groupBy(_._2._1).values.foreach { grp =>
      assert(grp.keys.map(uncapped).toSet.size == 1,
        s"capped cluster ${grp.keys} spans uncapped clusters")
    }
    // and the uncapped clustering is strictly coarser here: the giant
    // family is ONE uncapped cluster of megaFamilyN docs
    assert((1 to megaFamilyN).map(i => uncapped(i.toLong)).toSet.size == 1)
  }

  test("dd_ngram_jaccard_lsh_capped drops the mega-bucket clique on ITS stream") {
    // the char-gram stream is the one the round-13 100× soak actually
    // spilled — identical template docs share every char-gram, so all
    // 8 band buckets hold the whole family and the guard drops them
    val capped = pairSet(Dedup.ddNgramJaccardLshCapped(spark, megaFamilyDir))
    val uncapped = pairSet(Dedup.ddNgramJaccardLsh(spark, megaFamilyDir))
    val giantPair = (p: (Long, Long)) =>
      p._1 <= megaFamilyN && p._2 <= megaFamilyN
    assert(uncapped.count(giantPair) ==
      megaFamilyN.toLong * (megaFamilyN - 1) / 2)
    assert(!capped.exists(giantPair))
    // the organic near-dup pair survives (8-band redundancy: its
    // buckets hold 2 docs, far under the cap)
    assert(capped.contains((1001L, 1002L)))
    assert(capped.subsetOf(uncapped))
  }

  test("dd_incremental_capped: index drops mega-buckets; organic probe survives") {
    def pset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unc = pset(Dedup.ddIncremental(spark, megaFamilyDir))
    val cap = pset(Dedup.ddIncrementalCapped(spark, megaFamilyDir))
    val batchTmpl = (1 to megaFamilyN)
      .count(_ % Dedup.BatchMod == Dedup.BatchRem)
    val tmplPair = (p: (Long, Long)) =>
      p._1 <= megaFamilyN && p._2 <= megaFamilyN
    // uncapped: every batch-side template doc probes the whole
    // corpus-side family — per-probe cost ∝ bucket size
    assert(unc.count(tmplPair) ==
      batchTmpl.toLong * (megaFamilyN - batchTmpl))
    // capped: the corpus-side template bucket (72 docs > cap) is
    // dropped from the INDEX, so probes into it return nothing
    assert(megaFamilyN - batchTmpl > Dedup.LshMaxBucket)
    assert(!cap.exists(tmplPair))
    // the organic batch-vs-corpus probe pair survives untouched
    assert(cap.contains((1007L, 1010L)))
    assert(cap.subsetOf(unc))
  }

  test("the bucket guard generalizes across modality: mm capped twins") {
    import graft.operators.Multimodal
    // identical template docs ⟹ identical perceptual signatures ⟹
    // every 15-bit chunk bucket holds the whole family — the SAME
    // mega-bucket regime as the text streams, at media grain
    val unc = pairSet(Multimodal.mmNearDup(spark, megaFamilyDir))
    val cap = pairSet(Multimodal.mmNearDupCapped(spark, megaFamilyDir))
    val tmplPair = (p: (Long, Long)) =>
      p._1 <= megaFamilyN && p._2 <= megaFamilyN
    assert(unc.count(tmplPair) ==
      megaFamilyN.toLong * (megaFamilyN - 1) / 2)
    assert(!cap.exists(tmplPair))
    assert(cap.subsetOf(unc))
    // clusters on the capped stream: the template family lands as
    // singletons (the dd_clusters_capped contract at media grain)
    val cl = Multimodal.mmClustersCapped(spark, megaFamilyDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    (1 to megaFamilyN).foreach { i =>
      assert(cl(i.toLong) == ((i.toLong, 1L, true)), s"doc $i")
    }
  }

  test("shipped capped twins: dd_dup_sources_capped and dd_family_overlap_capped") {
    def srcRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getLong(2)).toMap
    val unc = srcRows(Dedup.ddDupSourcesCfg(spark, megaFamilyDir, None))
    val cap = srcRows(Dedup.ddDupSourcesCapped(spark, megaFamilyDir))
    assert(unc(("tmpl", "tmpl")) ==
      megaFamilyN.toLong * (megaFamilyN - 1) / 2)
    assert(!cap.contains(("tmpl", "tmpl")))
    assert(cap(("web", "web")) == 1L && unc(("web", "web")) == 1L)

    def lex(df: org.apache.spark.sql.DataFrame) =
      df.collect().head.getLong(0)
    assert(lex(Dedup.ddFamilyOverlapCfg(spark, megaFamilyDir, None)) ==
      megaFamilyN.toLong * (megaFamilyN - 1) / 2 + 2)
    assert(lex(Dedup.ddFamilyOverlapCapped(spark, megaFamilyDir)) == 2L)
  }

  test("shipped capped twins: cp_split_leakage_capped and cp_dedup_impact_capped") {
    import graft.operators.Corpus
    def leaked(mb: Option[Int]) =
      (if (mb.isDefined) Corpus.cpSplitLeakageCapped(spark, megaFamilyDir)
       else Corpus.cpSplitLeakageCfg(spark, megaFamilyDir, None)).collect()
        .map(_.getAs[Long]("n_leaked")).sum
    // uncapped: every giant doc near-dups the whole family, so any doc
    // not sharing a split with ALL others leaks — with 70 docs hashed
    // over 3 splits that is every one of them
    assert(leaked(None) >= megaFamilyN / 2)
    // capped: only the two organic pairs can leak (≤ 4 docs)
    assert(leaked(Some(Dedup.LshMaxBucket)) <= 4L)

    def mhRedundant(mb: Option[Int]) =
      (if (mb.isDefined) Corpus.cpDedupImpactCapped(spark, megaFamilyDir)
       else Corpus.cpDedupImpactCfg(spark, megaFamilyDir, None)).collect()
        .find(_.getString(0) == "minhash_lsh").get
        .getAs[Long]("n_redundant")
    // uncapped: the whole family minus its min id, plus docs 1002/1010
    assert(mhRedundant(None) == megaFamilyN.toLong + 1)
    // capped: just the redundant halves of the two organic pairs
    assert(mhRedundant(Some(Dedup.LshMaxBucket)) == 2L)
  }

  test("dd_semdedup refines the exact global cosine clustering and " +
    "keeps the min-id survivor per cluster") {
    // global ground truth: union-find over the EXACT threshold pairs
    // (the same CosineMin — cell restriction is semdedup's only
    // difference, so every semdedup cluster must sit inside one
    // global cluster)
    val pairs = Dedup.ddEmbedCosine(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = Dedup.ddSemDedup(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    val n = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      .count()
    assert(got.length == n)
    val byRep = got.groupBy(_._2)
    byRep.foreach { case (rep, members) =>
      // the dd_clusters contract: min-id rep, consistent size, the
      // rep is the one survivor
      assert(members.map(_._1).min == rep)
      assert(members.forall(_._3 == members.length.toLong))
      members.foreach(m => assert(m._4 == (m._1 == rep)))
      // refinement: all members share one GLOBAL cosine cluster
      assert(members.map(m => find(m._1)).distinct.length == 1,
        s"semdedup cluster $rep spans global clusters")
    }
    // the fixture carries signal: duplicates exist and are dropped
    assert(got.exists(!_._4), "no duplicate dropped")
    assert(got.count(_._4) < n, "everything survived")
    // the k-dial seam keeps the contract at a different cell count:
    // within-cell pairs are global pairs regardless of k, so the
    // refinement must hold for ANY dial setting
    val dial = Dedup.ddSemDedupCfg(spark, sf("sf0.01"), 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    dial.groupBy(_._2).values.foreach { members =>
      assert(members.map(m => find(m._1)).distinct.length == 1,
        "k=4 semdedup cluster spans global clusters")
    }
  }

  test("dd_semdedup_ann: exhaustive dial is row-identical to the exact " +
    "form; the probed dial under-assigns but still refines") {
    // the shipped contract the shared oracle rests on — ANN == exact
    // at probe = nCoarse, row for row
    val exact = Dedup.ddSemDedup(spark, sf("sf0.01")).collect()
      .map(_.toSeq).toSeq
    val ann = Dedup.ddSemDedupAnn(spark, sf("sf0.01")).collect()
      .map(_.toSeq).toSeq
    assert(ann == exact, "exhaustive-probe ANN semdedup must equal exact")

    // assignment-level contract, both dials: build one trained
    // centroid table, then (a) kmAssignAnn at probe >= nCoarse equals
    // kmAssign cell-and-dist; (b) at probe < nCoarse the argmin runs
    // over a candidate SUBSET, so its dist can never beat the exact
    // minimum and must itself be a real centroid distance
    import org.apache.spark.sql.functions.{col => c}
    val gdot = graft.functions.DotProduct.dot _
    val e = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      .select(c("vec_id"), c("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", gdot(c("v"), c("v")))
    var cents = e.filter(c("vec_id") >= Similarity.NQueries &&
        c("vec_id") < Similarity.NQueries + Similarity.IvfCells)
      .select(c("vec_id").as("cent_id"), c("v").as("cv"),
        c("nrm").as("cn"))
    for (_ <- 1 to Similarity.KmIters)
      cents = Similarity.kmUpdate(Similarity.kmAssign(e, cents))
    val exactAsg = Similarity.kmAssign(e, cents)
      .select(c("vec_id"), c("cell"), c("dist")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exhAsg = Similarity.kmAssignAnn(e, cents, 4, 4)
      .select(c("vec_id"), c("cell"), c("dist")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(exhAsg == exactAsg,
      "kmAssignAnn at probe = nCoarse must equal kmAssign exactly")
    val centIds = cents.select(c("cent_id")).collect()
      .map(_.getLong(0)).toSet
    val probedAsg = Similarity.kmAssignAnn(e, cents, 4, 1)
      .select(c("vec_id"), c("cell"), c("dist")).collect()
    assert(probedAsg.length == exactAsg.size,
      "every vector must still get a cell at probe < nCoarse")
    probedAsg.foreach { r =>
      val (id, cell, dist) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(centIds.contains(cell))
      assert(dist >= exactAsg(id)._2 - 1e-12,
        s"probed assignment beat the exact argmin for vec $id")
    }
    // the probed posture still REFINES the global clustering: the
    // within-cell pair filter is the same CosineMin regardless of how
    // cells were assigned
    val gpairs = Dedup.ddEmbedCosine(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    gpairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Dedup.ddSemDedupCfg(spark, sf("sf0.01"), cells = Similarity.IvfCells,
        assign = Similarity.kmAssignAnn(_, _, 4, 1))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._2).values.foreach { members =>
        assert(members.map(m => find(m._1)).distinct.length == 1,
          "probed-dial semdedup cluster spans global clusters")
      }
    // the shipped production row (dd_semdedup_ann_dial, probe 2 < 4):
    // full dd_clusters contract + refinement at the sub-exhaustive
    // dial, total over the vec universe
    val dialRows = Dedup.ddSemDedupAnnDial(spark, sf("sf0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(dialRows.length == exact.length)
    dialRows.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.map(_._1).min == rep)
      assert(members.forall(_._3 == members.length.toLong))
      members.foreach(m => assert(m._4 == (m._1 == rep)))
      assert(members.map(m => find(m._1)).distinct.length == 1,
        s"dial cluster $rep spans global clusters")
    }
    assert(dialRows.exists(!_._4), "dial dropped no duplicate")
  }

  test("row-local argmin assignment (KmArgmin/KmArgminAnn) is bitwise " +
    "identical to the declarative crossJoin→groupBy folds") {
    // round-19: kmAssign / kmAssignAnn / the IVF cosine argmax moved
    // from crossJoin(broadcast)→groupBy(vec_id) (one/two corpus-keyed
    // Exchanges per assignment) to one codegen'd row-local loop. The
    // declarative pre-round-19 forms live HERE as the pinned twins.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col => c}
    val gdot = graft.functions.DotProduct.dot _
    def refKmAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
      val dist = c("nrm") - lit(2.0) * gdot(c("v"), c("cv")) + c("cn")
      vecs.crossJoin(broadcast(cents))
        .select(c("vec_id"), c("v"), c("nrm"), c("cent_id"),
          dist.as("dist"))
        .groupBy(c("vec_id"))
        .agg(first(c("v")).as("v"), first(c("nrm")).as("nrm"),
          min(struct(c("dist"), c("cent_id"))).as("m"))
        .select(c("vec_id"), c("v"), c("nrm"),
          c("m.cent_id").as("cell"), c("m.dist").as("dist"))
    }
    def refKmAssignAnn(vecs: DataFrame, cents: DataFrame, nCoarse: Int,
        probe: Int): DataFrame = {
      val anchors = cents.orderBy(c("cent_id")).limit(nCoarse)
        .select(c("cent_id").as("anchor_id"), c("cv").as("av"),
          c("cn").as("an"))
      val groupDist = c("cn") - lit(2.0) * gdot(c("cv"), c("av")) + c("an")
      val grouped = cents.crossJoin(broadcast(anchors))
        .select(c("cent_id"), c("cv"), c("cn"), groupDist.as("ad"),
          c("anchor_id"))
        .groupBy(c("cent_id"))
        .agg(first(c("cv")).as("cv"), first(c("cn")).as("cn"),
          min(struct(c("ad"), c("anchor_id"))).as("g"))
        .select(c("g.anchor_id").as("grp"), c("cent_id"), c("cv"),
          c("cn"))
      val anchorDist = c("nrm") - lit(2.0) * gdot(c("v"), c("av")) + c("an")
      val probed = vecs.crossJoin(broadcast(anchors))
        .select(c("vec_id"), c("v"), c("nrm"),
          struct(anchorDist.as("ad"), c("anchor_id")).as("sc"))
        .groupBy(c("vec_id"))
        .agg(first(c("v")).as("v"), first(c("nrm")).as("nrm"),
          slice(array_sort(collect_list(c("sc"))), 1, probe).as("top"))
        .select(c("vec_id"), c("v"), c("nrm"),
          explode(transform(c("top"), s => s.getField("anchor_id")))
            .as("grp"))
      val dist = c("nrm") - lit(2.0) * gdot(c("v"), c("cv")) + c("cn")
      probed.join(broadcast(grouped), Seq("grp"))
        .select(c("vec_id"), c("v"), c("nrm"), c("cent_id"),
          dist.as("dist"))
        .groupBy(c("vec_id"))
        .agg(first(c("v")).as("v"), first(c("nrm")).as("nrm"),
          min(struct(c("dist"), c("cent_id"))).as("m"))
        .select(c("vec_id"), c("v"), c("nrm"),
          c("m.cent_id").as("cell"), c("m.dist").as("dist"))
    }
    val e = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      .select(c("vec_id"), c("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", gdot(c("v"), c("v")))
    var cents = e.filter(c("vec_id") >= Similarity.NQueries &&
        c("vec_id") < Similarity.NQueries + Similarity.IvfCells)
      .select(c("vec_id").as("cent_id"), c("v").as("cv"),
        c("nrm").as("cn"))
    for (_ <- 1 to Similarity.KmIters)
      cents = Similarity.kmUpdate(Similarity.kmAssign(e, cents))
    cents = cents.localCheckpoint(true)
    def asMap(df: DataFrame): Map[Long, (Long, Long)] =
      df.select(c("vec_id"), c("cell"), c("dist")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toMap
    val refFlat = asMap(refKmAssign(e, cents))
    val newFlat = asMap(Similarity.kmAssign(e, cents))
    assert(newFlat == refFlat,
      "row-local kmAssign diverged from the declarative fold")
    for (probe <- Seq(1, 2, 4)) {
      val ref = asMap(refKmAssignAnn(e, cents, 4, probe))
      val neu = asMap(Similarity.kmAssignAnn(e, cents, 4, probe))
      assert(neu == ref,
        s"row-local kmAssignAnn diverged at probe=$probe")
    }
    // cosine argmax (the ivfAssign metric): max(struct(cs, -cent_id))
    // vs KmArgmin metric 1 over the collected table
    val centsArr = cents
      .agg(collect_list(struct(c("cent_id"), c("cv"), c("cn"))).as("cs"))
    val win = element_at(c("cs"), c("ci") + 1)
    val newCos = e.crossJoin(broadcast(centsArr))
      .select(c("vec_id"), c("cs"),
        graft.functions.KmArgmin.argminIdx(c("v"), c("nrm"), c("cs"), 1)
          .as("ci"))
      .filter(c("ci").isNotNull)
      .select(c("vec_id"), win.getField("cent_id").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val refCos = e.crossJoin(broadcast(cents))
      .select(c("vec_id"),
        (gdot(c("v"), c("cv")) / sqrt(c("nrm") * c("cn"))).as("cs"),
        c("cent_id"))
      .groupBy(c("vec_id"))
      .agg(max(struct(c("cs"), (-c("cent_id")).as("nc"))).as("m"))
      .select(c("vec_id"), (-c("m.nc")).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(newCos == refCos,
      "row-local cosine argmax diverged from the declarative fold")
  }

  test("SortedPairs equals the (i < j) self-join enumeration") {
    import spark.implicits._
    val cases = Seq(
      Seq(1L, 3L, 7L, 9L), // normal basket
      Seq(5L), // singleton: no pairs
      Seq.empty[Long], // empty: no pairs
      Seq(2L, 4L))
    val got = cases.toDF("parts")
      .select(graft.functions.SortedPairs.pairs(col("parts")).as("prs"))
      .collect()
      .map(_.getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getLong(1))))
    val want = cases.map(s =>
      for { i <- s.indices; j <- s.indices if i < j } yield (s(i), s(j)))
    got.zip(want).foreach { case (g, w) => assert(g == w) }
  }
}
