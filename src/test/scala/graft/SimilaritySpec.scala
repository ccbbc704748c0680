package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Similarity-search operators (the pieces not already pinned by
  * DedupSpec's ivfServe/recall coverage).
  */
class SimilaritySpec extends SparkSpec {

  test("sim_pq emits valid codes and a quantization win over the zero baseline") {
    val rows = Similarity.simPq(spark, sf("sf0.01")).collect()
    assert(rows.length == 500)
    val codeCols = 1 to 4
    rows.foreach { r =>
      codeCols.foreach { i =>
        val c = r.getLong(i)
        assert(c >= 0 && c < Similarity.PqK, s"code out of range: $r")
      }
      assert(r.getDouble(5) >= 0.0, s"negative mse: $r")
    }
    // the codebook is actually used: several distinct codes per block
    codeCols.foreach { i =>
      assert(rows.map(_.getLong(i)).distinct.length > 1, s"block $i collapsed")
    }
    // reconstruction must beat the zero-codebook baseline (mean |v|^2/Dim)
    val meanMse = rows.map(_.getDouble(5)).sum / rows.length
    val vecs = spark.read
      .parquet(sf("sf0.01") + "/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
      .collect().map(_.getSeq[Double](0))
    val meanNorm = vecs.map(v => v.map(x => x * x).sum / Similarity.Dim)
      .sum / vecs.length
    // random-ish 64-dim data quantizes modestly (8 codes × 16 dims):
    // the invariant is a strict win, not a compression miracle
    assert(meanMse < meanNorm,
      s"PQ mse $meanMse should beat the zero-codebook baseline $meanNorm")
  }

  test("sim_mips ranks by raw dot; augmentation is rank-equivalent") {
    import graft.operators.Similarity
    val rows = Similarity.simMips(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq ==
        (1 to byRank.length).toSeq, s"ranks at $q")
      // dot descends with rank...
      val dots = byRank.map(_.getAs[Double]("dot")).toSeq
      assert(dots == dots.sorted(Ordering[Double].reverse), s"dot at $q")
      // ...and the augmented cosine descends IDENTICALLY — the
      // monotone-reduction property that lets a cosine ANN serve MIPS
      val acs = byRank.map(_.getAs[Double]("aug_cosine")).toSeq
      assert(acs == acs.sorted(Ordering[Double].reverse), s"aug at $q")
    }
    // the semantics differ from cosine exactly when norms vary — pin
    // that the fixture isn't unit-normalized (the top-k SETS may still
    // coincide on a given corpus; the RANKING CRITERION is what's new)
    // the fixture embeddings are unit-normalized (MIPS == cosine
    // there), so pin the norm-sensitive semantics on synthetic
    // vectors: query 0 = (1,0); vec 10 aligned but short, vec 11
    // slightly off-axis but LONG. Cosine prefers 10; MIPS must pick 11.
    import org.apache.spark.sql.functions.{col, expr}
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)),
      (10L, Seq(0.9, 0.0)),   // cos 1.0, dot 0.9
      (11L, Seq(2.0, 0.9)))   // cos 0.912, dot 2.0
      .toDF("vec_id", "v")
    val withNrm = vecs.withColumn("nrm",
      expr("aggregate(zip_with(v, v, (a, b) -> a * b), " +
        "cast(0.0 as double), (acc, x) -> acc + x)"))
    val top = Similarity.simMipsOf(withNrm)
      .filter(col("query_id") === 0L && col("rank") === 1)
      .collect().head
    assert(top.getAs[Long]("neighbor_id") == 11L,
      s"MIPS must rank the long vector first: $top")
  }

  test("sim_ivf_tuning recall is monotone and consistent with sim_recall") {
    val rows = Similarity.simIvfTuning(spark, sf("sf0.01")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Similarity.IvfTuneProbes)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("total_hits") <= b.getAs[Long]("total_hits"),
        s"recall must not drop with more probes: $a -> $b")
    }
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_k")
      assert(rec >= 0.0 && rec <= 1.0, s"recall bounds: $r")
    }
    // the production-probe row reproduces sim_recall's ivf hit total
    val prod = rows.find(_.getInt(0) == Similarity.IvfProbe).get
    val recallHits = Similarity.simRecall(spark, sf("sf0.01"))
      .filter(col("index_name") === "ivf")
      .agg(sum(col("hits"))).collect().head.getLong(0)
    assert(prod.getAs[Long]("total_hits") == recallHits)
  }

  test("sim_ivf_trained: monotone recall, live-cell accounting, training wins at depth") {
    val trained = Similarity.simIvfTrained(spark, sf("sf0.01")).collect()
    val sampled = Similarity.simIvfTuning(spark, sf("sf0.01")).collect()
    assert(trained.map(_.getInt(0)).toSeq == Similarity.IvfTuneProbes)
    trained.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("total_hits") <= b.getAs[Long]("total_hits"),
        s"recall must not drop with more probes: $a -> $b")
    }
    trained.foreach { r =>
      val rec = r.getAs[Double]("recall_at_k")
      assert(rec >= 0.0 && rec <= 1.0, s"recall bounds: $r")
      val nc = r.getAs[Long]("n_cells")
      assert(nc >= 1 && nc <= Similarity.IvfCells,
        s"live cells must be in [1, k]: $r")
    }
    // regression pin of the MEASURED sf0.01 behavior (trained beats
    // sampled at the deepest probe), not a universal law: the round-13
    // sf0.1 run measured the opposite by 1 hit (SCALE.md two-point
    // band) — the lift is corpus-dependent, which is why the dial
    // table's contract is re-measure-per-corpus, never assume
    val deep = Similarity.IvfTuneProbes.max
    val tHits = trained.find(_.getInt(0) == deep).get.getAs[Long]("total_hits")
    val sHits = sampled.find(_.getInt(0) == deep).get.getAs[Long]("total_hits")
    assert(tHits >= sHits,
      s"trained centroids must not lose to sampled at probe $deep: $tHits < $sHits")
  }

  test("sim_semantic_clusters_dial refines the exact clustering") {
    val dir = sf("sf0.01")
    val exact = Similarity.simSemanticClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dial = Similarity.simSemanticClustersDial(spark, dir).collect()
    // vacuity: the dial must still discover real clusters here
    assert(dial.nonEmpty && dial.exists(_.getAs[Long]("cluster_size") > 1))
    // a shallow probe can only LOSE edges (dial pairs ⊆ exact pairs by
    // construction), so the dial partition must REFINE the exact one:
    // no dial cluster may span two exact clusters — ever, on any data
    dial.groupBy(_.getLong(1)).foreach { case (lbl, rows) =>
      val exactLbls = rows.map(r => exact(r.getLong(0))).toSet
      assert(exactLbls.size == 1,
        s"dial cluster $lbl spans exact clusters $exactLbls")
    }
  }

  test("graft_quantize_stats is bit-identical to the declarative HOF twin") {
    // the six-HOF chain QuantizeStats replaced — kept here as the pin
    val e = graft.operators.Dedup.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("s", aggregate(col("v"), lit(0.0),
        (acc, x) => greatest(acc, abs(x))))
      .withColumn("q", transform(col("v"),
        x => floor(x * lit(127.0) / col("s") + lit(0.5)).cast("long")))
    val checksum = aggregate(zip_with(col("q"),
        sequence(lit(1), size(col("q"))).cast("array<bigint>"),
        (qi, i) => qi * i),
      lit(0L), (acc, x) => acc + x)
    val mse = aggregate(zip_with(col("q"), col("v"),
        (qi, xi) => (qi.cast("double") * col("s") / lit(127.0) - xi) *
          (qi.cast("double") * col("s") / lit(127.0) - xi)),
      lit(0.0), (acc, x) => acc + x) / size(col("v"))
    val rows = e.select(col("vec_id"),
        graft.functions.QuantizeStats.stats(col("v")).as("st"),
        col("s"), checksum.as("ck"), mse.as("mse"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val st = r.getStruct(1)
      assert(java.lang.Double.doubleToRawLongBits(st.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
        s"scale at ${r.getLong(0)}")
      assert(st.getLong(1) == r.getLong(3), s"checksum at ${r.getLong(0)}")
      assert(java.lang.Double.doubleToRawLongBits(st.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        s"mse at ${r.getLong(0)}")
    }
    // the empty-vector edge mirrors the declarative divide-by-zero NULL
    import spark.implicits._
    val empty = Seq((1L, Seq.empty[Double])).toDF("vec_id", "v")
      .select(graft.functions.QuantizeStats.stats(col("v")).as("st"))
      .select(col("st.scale"), col("st.q_checksum"), col("st.recon_mse"))
      .collect()(0)
    assert(empty.getDouble(0) == 0.0 && empty.getLong(1) == 0L &&
      empty.isNullAt(2))
    // the all-zero vector (scale 0): both declarative engines return
    // NULL from the x*127/0 divide — the fused expression must
    // propagate NULL checksum/mse, not a NaN-collapsed 0 (round-8
    // advice; DuckDB double division by zero verified NULL)
    val zero = Seq((1L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "v")
      .select(graft.functions.QuantizeStats.stats(col("v")).as("st"))
      .select(col("st.scale"), col("st.q_checksum"), col("st.recon_mse"))
      .collect()(0)
    assert(zero.getDouble(0) == 0.0 && zero.isNullAt(1) && zero.isNullAt(2))
  }

  test("sim_dim_stats matches a local fixed-point moment recompute") {
    val vecs = graft.operators.Dedup.embeddings(spark, sf("sf0.01"))
      .selectExpr("cast(embedding as array<double>) as v").collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = vecs.head.length
    val got = Similarity.simDimStats(spark, sf("sf0.01")).collect()
    assert(got.length == dim && got.map(_.getInt(0)).toSeq ==
      (1 to dim).toSeq)
    val F = Similarity.DimFp
    got.foreach { r =>
      val p = r.getInt(0) - 1
      val xs = vecs.map(_(p))
      val fps = xs.map(x => math.floor(x * F + 0.5).toLong)
      val n = xs.length.toLong
      val s = fps.map(BigInt(_)).sum
      val ss = fps.map(f => BigInt(f) * BigInt(f)).sum
      val mean = s.toDouble / (n.toDouble * F)
      val variance = (BigInt(n) * ss - s * s).toDouble /
        (n.toDouble * n.toDouble) / (F.toDouble * F.toDouble)
      assert(r.getAs[Long]("n") == n)
      assert(math.abs(r.getAs[Double]("mean") - mean) < 1e-6, s"mean@$p")
      assert(math.abs(r.getAs[Double]("variance") - variance) < 1e-6,
        s"var@$p")
      assert(math.abs(r.getAs[Double]("min_x") - xs.min) < 1e-6)
      assert(math.abs(r.getAs[Double]("max_x") - xs.max) < 1e-6)
      assert(variance >= -1e-12)
    }
  }

  test("sim_label_knn census matches a brute-force leave-one-out vote") {
    val e = graft.operators.Dedup.embeddings(spark, sf("sf0.01"))
      .selectExpr("vec_id", "cast(embedding as array<double>) as v",
        "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    // exact local kNN: cosine desc, vec_id asc tie-break, self excluded
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var da = 0.0; var db = 0.0; var d = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); da += a(i) * a(i)
        db += b(i) * b(i); i += 1 }
      d / math.sqrt(da * db)
    }
    val predicted = e.map { case (id, v, _) =>
      val nb = e.filter(_._1 != id)
        .map { case (oid, ov, olab) => (cos(v, ov), oid, olab) }
        .sortBy { case (c, oid, _) => (-c, oid) }
        .take(Similarity.KnnK)
      // toSeq BEFORE mapping to (count, label): mapping a Map would
      // collapse labels with equal counts (count becomes the key)
      val vote = nb.groupBy(_._3).toSeq.map { case (l, g) => (g.length, l) }
      // most votes, then smallest label — the operator's tie-break
      id -> vote.sortBy { case (n, l) => (-n, l) }.head._2
    }.toMap
    val want = e.groupBy(_._3).map { case (lab, g) =>
      val correct = g.count { case (id, _, l) => predicted(id) == l }
      lab -> ((g.length.toLong, correct.toLong))
    }
    val df = Similarity.simLabelKnn(spark, sf("sf0.01"))
    // the per-vector top-k runs through the custom bounded-heap plan
    assert(df.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
    val got = df.collect()
    assert(got.map(_.getAs[Long]("n")).sum == e.length.toLong)
    got.foreach { r =>
      val (n, correct) = want(r.getInt(0))
      assert(r.getAs[Long]("n") == n, s"n at label ${r.getInt(0)}")
      assert(r.getAs[Long]("n_correct") == correct,
        s"n_correct at label ${r.getInt(0)}")
      assert(math.abs(r.getAs[Double]("accuracy") -
        correct.toDouble / n) < 1e-6)
    }
  }

  test("sim_label_knn_ann equals the exact census; probe dial shrinks candidates") {
    for (d <- Seq("sf0.001", "sf0.01")) {
      val exact = Similarity.simLabelKnn(spark, sf(d)).collect().toSeq
      val ann = Similarity.simLabelKnnAnn(spark, sf(d)).collect().toSeq
      assert(exact.nonEmpty, s"vacuous fixture at $d")
      assert(ann == exact,
        s"ANN-fronted census diverges from exact at $d")
    }
  }

  test("sim_semantic_clusters_ann equals the exact clusters at two SFs") {
    Seq("sf0.001", "sf0.01").foreach { s =>
      val exact = Similarity.simSemanticClusters(spark, sf(s)).collect()
        .map(_.toSeq).toSeq
      val ann = Similarity.simSemanticClustersAnn(spark, sf(s)).collect()
        .map(_.toSeq).toSeq
      assert(exact.nonEmpty && ann == exact, s"twin diverges at $s")
    }
  }

  test("sim_semantic_clusters equals a union-find over the cosine pairs") {
    val pairs = graft.operators.Dedup.ddEmbedCosine(spark, sf("sf0.01"))
      .select(col("vec_a"), col("vec_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = graft.operators.Dedup.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id")).collect().map(_.getLong(0))
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val lbl = ids.map(i => i -> find(i)).toMap
    val sizes = lbl.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val want = ids.sorted.map(i =>
      (i, lbl(i), sizes(lbl(i)), i == lbl(i))).toSeq
    val got = Similarity.simSemanticClusters(spark, sf("sf0.01"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSeq
    assert(got == want)
    // fixture isn't vacuous: at least one non-trivial semantic cluster
    assert(got.exists(_._3 > 1))
  }

  test("sim_embed_drift equals a fixed-point Welch-z recompute per dim") {
    import graft.functions.Determinism.r6Jvm
    val rows = Similarity.simEmbedDrift(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    val split = graft.operators.Corpus.cpSplit(spark, sf("sf0.01"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val vecs = graft.operators.Dedup.embeddings(spark, sf("sf0.01"))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (split(r.getLong(0)), r.getSeq[Double](1)))
      .filter(v => v._1 == "train" || v._1 == "val")
    val dims = vecs.head._2.length
    assert(rows.length == dims)
    def fp(x: Double): BigInt =
      BigInt(math.floor(x * Similarity.DimFp.toDouble + 0.5).toLong)
    rows.foreach { r =>
      val d = r.getAs[Int]("pos") - 1
      def side(tag: String) = {
        val xs = vecs.filter(_._1 == tag).map(v => fp(v._2(d)))
        val n = xs.length.toLong
        val s = xs.sum
        val ss = xs.map(x => x * x).sum
        val mean = s.toDouble / (n.toDouble * Similarity.DimFp.toDouble)
        val v = (BigInt(n) * ss - s * s).toDouble /
          (n.toDouble * n.toDouble) /
          (Similarity.DimFp.toDouble * Similarity.DimFp.toDouble)
        (n, mean, v)
      }
      val (na, ma, va) = side("train")
      val (nb, mb, vb) = side("val")
      assert(r.getAs[Long]("n_train") == na && r.getAs[Long]("n_val") == nb)
      assert(r.getAs[Double]("mean_train") == r6Jvm(ma))
      assert(r.getAs[Double]("mean_val") == r6Jvm(mb))
      val se2 = va / na + vb / nb
      if (se2 > 0.0) {
        val z = (ma - mb) / math.sqrt(se2)
        assert(r.getAs[Double]("z") == r6Jvm(z), s"z at dim ${d + 1}")
        assert(r.getAs[Boolean]("is_drift") ==
          (math.abs(z) >= Similarity.EmbedDriftZ))
      } else {
        assert(r.isNullAt(r.fieldIndex("z")) && !r.getAs[Boolean]("is_drift"))
      }
    }
  }

  test("sim_hybrid_rrf equals a full local recompute of both arms") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.{Similarity => S, TextAnalysis => TA}
    val dir = sf("sf0.001")
    // ---- lexical arm: BM25 over each anchor's top-tf terms ----
    val docTerms = spark.read.parquet(dir + "/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .toMap
    val tf: Map[Long, Map[String, Long]] = docTerms.map { case (d, ts) =>
      d -> ts.groupBy(identity).map { case (t, o) => t -> o.length.toLong }
    }
    val withTok = tf.filter(_._2.nonEmpty)
    val nDocs = withTok.size.toLong
    val totalTokens = withTok.values.map(_.values.sum).sum
    val avgdl = totalTokens.toDouble / nDocs
    val anchors = (0L until S.NQueries.toLong)
      .filter(withTok.contains).toSeq
    def topTerms(d: Long): Seq[String] = withTok(d).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(S.MltTerms).map(_._1)
    def df(t: String): Long = withTok.values.count(_.contains(t)).toLong
    def idf(t: String): Double = {
      val dfv = df(t)
      math.log(1.0 + (nDocs - dfv + 0.5) / (dfv + 0.5))
    }
    def bm25(q: Long, d: Long): Double = {
      val dl = withTok(d).values.sum
      val norm = (1.0 - TA.Bm25B) + TA.Bm25B * (dl.toDouble / avgdl)
      topTerms(q).filter(withTok(d).contains).sorted
        .foldLeft(0.0) { (acc, t) =>
          val f = withTok(d)(t)
          acc + (idf(t) * (f * (TA.Bm25K1 + 1.0))) /
            (f + TA.Bm25K1 * norm)
        }
    }
    val lexRank: Map[Long, Seq[Long]] = anchors.map { q =>
      q -> withTok.keys.filter(d => d != q &&
          topTerms(q).exists(withTok(d).contains)).toSeq
        .map(d => (d, r6Jvm(bm25(q, d))))
        .sortBy { case (d, sc) => (-sc, d) }.take(S.RrfDepth).map(_._1)
    }.toMap
    // ---- semantic arm: exact cosine, sequential-fold dot ----
    val vecs = spark.read.parquet(dir + "/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val semRank: Map[Long, Seq[Long]] = anchors.map { q =>
      val qv = vecs(q); val qn = dot(qv, qv)
      q -> vecs.keys.filter(_ != q).toSeq
        .map { d =>
          (d, r6Jvm(dot(qv, vecs(d)) / math.sqrt(qn * dot(vecs(d), vecs(d)))))
        }
        .sortBy { case (d, c) => (-c, d) }.take(S.RrfDepth).map(_._1)
    }.toMap
    // ---- fusion ----
    def rrfOf(rank: Option[Int]): Double =
      rank.map(r => 1.0 / (S.RrfC + r)).getOrElse(0.0)
    val expect = anchors.flatMap { q =>
      val lr = lexRank(q).zipWithIndex.map { case (d, i) => d -> (i + 1) }
        .toMap
      val sr = semRank(q).zipWithIndex.map { case (d, i) => d -> (i + 1) }
        .toMap
      (lr.keySet ++ sr.keySet).toSeq
        .map { d =>
          (d, lr.get(d), sr.get(d),
            r6Jvm(rrfOf(lr.get(d)) + rrfOf(sr.get(d))))
        }
        .sortBy { case (d, _, _, sc) => (-sc, d) }.take(S.RrfK)
        .zipWithIndex
        .map { case ((d, l, s2, sc), i) => (q, i + 1, d, l, s2, sc) }
    }
    val got = Similarity.simHybridRrf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3)),
        if (r.isNullAt(4)) None else Some(r.getInt(4)),
        r.getDouble(5))).toSeq
    assert(got.nonEmpty)
    assert(got == expect)
  }

  test("sim_hybrid_rrf_ann equals the exact hybrid at two SFs") {
    Seq("sf0.001", "sf0.01").foreach { s =>
      val exact = Similarity.simHybridRrf(spark, sf(s)).collect()
        .map(_.toSeq).toSeq
      val ann = Similarity.simHybridRrfAnn(spark, sf(s)).collect()
        .map(_.toSeq).toSeq
      assert(exact.nonEmpty && ann == exact, s"twin diverges at $s")
    }
  }

  test("sim_pq_adc equals a full local train-code-score recompute") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    val vecs = spark.read.parquet(dir + "/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def subOf(v: Array[Double], b: Int): Array[Double] =
      v.slice(b * S.PqSubDim, (b + 1) * S.PqSubDim)
    // local Lloyd mirror of kmAssign/kmUpdate (dist arity, KmFp means,
    // smallest-dist-then-smallest-cent tie break)
    def assign(subs: Map[Long, Array[Double]],
        cents: Seq[(Long, Array[Double])]): Map[Long, (Long, Double)] =
      subs.map { case (id, v) =>
        val nrm = dot(v, v)
        val (d, cid) = cents.map { case (c, cv) =>
          (nrm - 2.0 * dot(v, cv) + dot(cv, cv), c) }.min
        id -> (cid, d)
      }
    def update(subs: Map[Long, Array[Double]],
        asg: Map[Long, (Long, Double)]): Seq[(Long, Array[Double])] =
      asg.groupBy(_._2._1).toSeq.sortBy(_._1).map { case (cid, m) =>
        val members = m.keys.toSeq.map(subs)
        val n = members.size
        cid -> (0 until S.PqSubDim).map { p =>
          val s = members.map(v =>
            math.floor(v(p) * S.KmFp + 0.5).toLong).sum
          s.toDouble / (n.toDouble * S.KmFp)
        }.toArray
      }
    // train per block, code the corpus
    val blocks = (0 until S.PqM).map { b =>
      val subs = vecs.map { case (id, v) => id -> subOf(v, b) }
      var cents: Seq[(Long, Array[Double])] =
        (S.NQueries.toLong until (S.NQueries + S.PqK).toLong)
          .map(id => id -> subs(id))
      for (_ <- 1 to S.PqIters) cents = update(subs, assign(subs, cents))
      val codes = assign(subs, cents).map { case (id, (cid, _)) =>
        id -> cid }
      (cents.toMap, codes)
    }
    def half(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val queries = (0L until S.NQueries.toLong).filter(vecs.contains)
    val rows = Similarity.simPqAdc(spark, dir).collect()
    assert(rows.length == queries.length)
    rows.foreach { r =>
      val q = r.getLong(0)
      val scored = vecs.keys.filter(_ != q).toSeq.sorted.map { dId =>
        val d = dot(vecs(q), vecs(dId))
        val adc = (0 until S.PqM)
          .map(b => dot(subOf(vecs(q), b), blocks(b)._1(blocks(b)._2(dId))))
          .reduceLeft(_ + _)
        (dId, d, adc, half(math.abs(d - adc) * 1000000.0))
      }
      val n = scored.length.toLong
      def top(sel: ((Long, Double, Double, Long)) => Double): Set[Long] =
        scored.map(t => (t._1, r6Jvm(sel(t))))
          .sortBy { case (dd, c) => (-c, dd) }.take(S.TopK).map(_._1).toSet
      val hits = (top(_._2) & top(_._3)).size
      assert(r.getAs[Long]("n_pairs") == n)
      assert(r.getAs[Double]("recall_at_5") ==
        r6Jvm(hits.toDouble / S.TopK))
      assert(r.getAs[Double]("mean_abs_err") ==
        r6Jvm(scored.map(_._4).sum.toDouble / n / 1000000.0))
      assert(r.getAs[Double]("max_abs_err") ==
        r6Jvm(scored.map(_._4).max / 1000000.0))
    }
  }

  test("sim_ivfpq_ann equals a full local probe+ADC recompute and the " +
    "exhaustive probe can only improve the top score") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    val vecs = spark.read.parquet(dir + "/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def subOf(v: Array[Double], b: Int): Array[Double] =
      v.slice(b * S.PqSubDim, (b + 1) * S.PqSubDim)
    // local IVF coarse quantizer (cosine argmax, ties → lowest cent)
    val icents = (S.NQueries.toLong until (S.NQueries + S.IvfCells).toLong)
      .filter(vecs.contains).map(id => id -> vecs(id))
    def cs(v: Array[Double], c: Array[Double]): Double =
      dot(v, c) / math.sqrt(dot(v, v) * dot(c, c))
    val cellOf = vecs.map { case (id, v) =>
      id -> -icents.map { case (cid, cv) => (cs(v, cv), -cid) }.max._2
    }
    def probesOf(q: Long, probe: Int): Set[Long] =
      icents.map { case (cid, cv) => (cs(vecs(q), cv), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(probe).map(_._2)
        .toSet
    // local PQ train + code (the sim_pq_adc spec's mirror, one copy
    // of the tie/fixed-point conventions)
    def assign(subs: Map[Long, Array[Double]],
        cents: Seq[(Long, Array[Double])]): Map[Long, Long] =
      subs.map { case (id, v) =>
        val nrm = dot(v, v)
        id -> cents.map { case (c, cv) =>
          (nrm - 2.0 * dot(v, cv) + dot(cv, cv), c) }.min._2
      }
    def update(subs: Map[Long, Array[Double]],
        asg: Map[Long, Long]): Seq[(Long, Array[Double])] =
      asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, m) =>
        val members = m.keys.toSeq.map(subs)
        val n = members.size
        cid -> (0 until S.PqSubDim).map { p =>
          val s = members.map(v =>
            math.floor(v(p) * S.KmFp + 0.5).toLong).sum
          s.toDouble / (n.toDouble * S.KmFp)
        }.toArray
      }
    val blocks = (0 until S.PqM).map { b =>
      val subs = vecs.map { case (id, v) => id -> subOf(v, b) }
      var cents: Seq[(Long, Array[Double])] =
        (S.NQueries.toLong until (S.NQueries + S.PqK).toLong)
          .map(id => id -> subs(id))
      for (_ <- 1 to S.PqIters) cents = update(subs, assign(subs, cents))
      (cents.toMap, assign(subs, cents))
    }
    def adcOf(q: Long, d: Long): Double = (0 until S.PqM)
      .map(b => dot(subOf(vecs(q), b), blocks(b)._1(blocks(b)._2(d))))
      .reduceLeft(_ + _)
    def localRank(q: Long, probe: Int): Seq[(Long, Double)] = {
      val cells = probesOf(q, probe)
      vecs.keys.filter(d => d != q && cells.contains(cellOf(d)))
        .toSeq.map(d => (d, r6Jvm(adcOf(q, d))))
        .sortBy { case (d, a) => (-a, d) }.take(S.TopK)
    }
    val queries = (0L until S.NQueries.toLong).filter(vecs.contains)
    val rows = Similarity.simIvfPqAnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val want = queries.flatMap { q =>
      localRank(q, S.IvfProbe).zipWithIndex.map { case ((d, a), i) =>
        (q, i + 1, d, a)
      }
    }
    assert(rows.toSeq == want.toSeq,
      "served IVF+PQ ranking diverges from the local recompute")
    // probing MORE cells can only raise (or keep) the best ADC score
    val exhaustive = Similarity
      .simIvfPqAnnCfg(spark, dir, probe = S.IvfCells).collect()
      .filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_._2 == 1).foreach { case (q, _, _, a) =>
      assert(exhaustive(q) >= a,
        s"exhaustive top-1 worse than probed at query $q")
    }
  }

  test("sim_ivfpq_rerank: the exhaustive dial IS brute force, and the " +
    "shipped dial serves exact-cosine-ordered results") {
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    // the contract the whole retrieve-then-rerank shape rests on: with
    // every cell probed and the candidate cap lifted, the exact rerank
    // over "all candidates" is brute-force top-k, row for row
    val bf = Similarity.simBruteforceTopk(spark, dir).collect()
      .map(_.toSeq).toSeq
    val exh = Similarity
      .simIvfPqRerankCfg(spark, dir, S.IvfCells, Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(exh == bf, "exhaustive rerank must equal brute force")
    // shipped dial: dense ranks, TopK rows per query, and every final
    // score is a TRUE cosine (present in the brute-force ALL-pairs
    // scores for that query) — ADC decides candidacy, never the score
    val rows = Similarity.simIvfPqRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == S.NQueries)
    byQ.values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1 to S.TopK))
      // exact scores are monotone down the ranking
      assert(rs.sortBy(_._2).map(_._4).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // rerank can only help (or tie) the top-1 against the pure-ADC
    // ranking: both pick from the same probed candidates, but rerank
    // orders by the true cosine — compare via brute-force ground truth
    val truth = bf.filter(_(1) == 1)
      .map(r => r(0).asInstanceOf[Long] -> r(3).asInstanceOf[Double])
      .toMap
    rows.filter(_._2 == 1).foreach { case (q, _, _, c) =>
      assert(c <= truth(q), s"rerank top-1 beat brute force at $q?!")
    }
  }

  test("sim_residual_rerank: the exhaustive dial IS brute force, and " +
    "the shipped dial serves exact-cosine-ordered results") {
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    // the theorem carries over from the raw-code rerank unchanged:
    // with every cell probed and the cap lifted the candidate set is
    // every non-self vector, and the exact rerank over everything is
    // brute force — the RESIDUAL estimator decides only candidacy
    val bf = Similarity.simBruteforceTopk(spark, dir).collect()
      .map(_.toSeq).toSeq
    val exh = Similarity
      .simResidualRerankCfg(spark, dir, S.IvfCells, Int.MaxValue)
      .collect().map(_.toSeq).toSeq
    assert(exh == bf, "exhaustive residual rerank must equal brute force")
    // shipped dial: dense ranks, TopK rows per query, exact scores
    // monotone down each ranking, and the top-1 never beats truth
    val rows = Similarity.simResidualRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == S.NQueries)
    byQ.values.foreach { rs =>
      assert(rs.map(_._2).sorted.toSeq == (1 to S.TopK))
      assert(rs.sortBy(_._2).map(_._4).sliding(2)
        .forall(p => p.length < 2 || p(0) >= p(1)))
    }
    val truth = bf.filter(_(1) == 1)
      .map(r => r(0).asInstanceOf[Long] -> r(3).asInstanceOf[Double])
      .toMap
    rows.filter(_._2 == 1).foreach { case (q, _, _, c) =>
      assert(c <= truth(q), s"residual rerank top-1 beat brute force at $q?!")
    }
  }

  test("sim_rerank_tuning: recall and reads are monotone in C per " +
    "probe, reads are bounded by the dial, and the shipped " +
    "(probe, C) row IS sim_ivfpq_rerank") {
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    val rows = Similarity.simRerankTuning(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(3), r.getLong(4),
        r.getDouble(5)))
      .sortBy(r => (r._1, r._2))
    assert(rows.map(r => (r._1, r._2)).toSeq ==
      (for { p <- S.RerankTuneProbes; c <- S.RerankTuneCs }
        yield (p, c)))
    // the monotonicity theorem holds per probe arm: hits(C) =
    // |candidates_C ∩ global top-k| is non-decreasing in C (and so
    // are the raw reads); across PROBES at fixed C it is NOT a
    // theorem (a wider probe can crowd out a true neighbor), so no
    // cross-probe pin
    rows.groupBy(_._1).values.foreach { arm =>
      arm.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 <= b._4,
            s"recall fell from C=${a._2} to ${b._2} at probe=${a._1}")
          assert(a._3 <= b._3,
            s"reads fell from C=${a._2} to ${b._2} at probe=${a._1}")
        case _ => ()
      }
    }
    // stage 2 reads at most C raw vectors per query — the dial bound
    rows.foreach { case (p, c, reads, _, _) =>
      assert(reads <= c.toLong * S.NQueries,
        s"probe=$p C=$c read $reads raw vectors")
    }
    // the (probe = IvfProbe, C = RerankC) row is the shipped
    // production dial: its recall must equal what sim_ivfpq_rerank's
    // own output scores against the brute-force ground truth
    val bf = Similarity.simBruteforceTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val rr = Similarity.simIvfPqRerank(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = (bf & rr).size
    val prod = rows.find(r => r._1 == S.IvfProbe && r._2 == S.RerankC).get
    assert(prod._4 == hits.toLong)
    assert(prod._5 == graft.functions.Determinism.r6Jvm(
      hits.toDouble / (S.NQueries * S.TopK)))
  }

  test("sim_ivfpq_residual equals a full local recompute (trained " +
    "cells, residual codebooks, coarse-term ADC) and the exhaustive " +
    "probe can only improve the top score") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    val vecs = spark.read.parquet(dir + "/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def subOf(v: Array[Double], b: Int): Array[Double] =
      v.slice(b * S.PqSubDim, (b + 1) * S.PqSubDim)
    // local Lloyd mirror (L2 assign, smallest-dist-then-smallest-cent
    // ties, KmFp fixed-point means) — any dimension
    def assign(subs: Map[Long, Array[Double]],
        cents: Seq[(Long, Array[Double])]): Map[Long, Long] =
      subs.map { case (id, v) =>
        val nrm = dot(v, v)
        id -> cents.map { case (c, cv) =>
          (nrm - 2.0 * dot(v, cv) + dot(cv, cv), c) }.min._2
      }
    def update(subs: Map[Long, Array[Double]], asg: Map[Long, Long],
        dim: Int): Seq[(Long, Array[Double])] =
      asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, m) =>
        val members = m.keys.toSeq.map(subs)
        val n = members.size
        cid -> (0 until dim).map { p =>
          val s = members.map(v =>
            math.floor(v(p) * S.KmFp + 0.5).toLong).sum
          s.toDouble / (n.toDouble * S.KmFp)
        }.toArray
      }
    // trained coarse quantizer: KmIters Lloyd rounds from the IVF seeds
    var icents: Seq[(Long, Array[Double])] =
      (S.NQueries.toLong until (S.NQueries + S.IvfCells).toLong)
        .filter(vecs.contains).map(id => id -> vecs(id))
    for (_ <- 1 to S.KmIters)
      icents = update(vecs, assign(vecs, icents), S.Dim)
    // serving cell: cosine argmax over the TRAINED cells, ties → lowest
    def cs(v: Array[Double], c: Array[Double]): Double =
      dot(v, c) / math.sqrt(dot(v, v) * dot(c, c))
    val cellOf = vecs.map { case (id, v) =>
      id -> -icents.map { case (cid, cv) => (cs(v, cv), -cid) }.max._2
    }
    def probesOf(q: Long, probe: Int): Set[Long] =
      icents.map { case (cid, cv) => (cs(vecs(q), cv), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(probe).map(_._2)
        .toSet
    val centOf = icents.toMap
    // residuals vs the trained cell means; codebooks seeded at
    // RpqSeedBase (the raw-PQ seeds are the IVF seeds, whose residuals
    // would be zero only for SAMPLED cells — still kept disjoint)
    val resid = vecs.map { case (id, v) =>
      val c = centOf(cellOf(id))
      id -> v.indices.map(i => v(i) - c(i)).toArray
    }
    val blocks = (0 until S.PqM).map { b =>
      val subs = resid.map { case (id, r) => id -> subOf(r, b) }
      var cb: Seq[(Long, Array[Double])] =
        (S.RpqSeedBase.toLong until (S.RpqSeedBase + S.PqK).toLong)
          .filter(subs.contains).map(id => id -> subs(id))
      for (_ <- 1 to S.PqIters)
        cb = update(subs, assign(subs, cb), S.PqSubDim)
      (cb.toMap, assign(subs, cb))
    }
    def adcOf(q: Long, d: Long): Double = {
      val coarse = dot(vecs(q), centOf(cellOf(d)))
      (0 until S.PqM).foldLeft(coarse) { (acc, b) =>
        acc + dot(subOf(vecs(q), b), blocks(b)._1(blocks(b)._2(d)))
      }
    }
    def localRank(q: Long, probe: Int): Seq[(Long, Double)] = {
      val cells = probesOf(q, probe)
      vecs.keys.filter(d => d != q && cells.contains(cellOf(d)))
        .toSeq.map(d => (d, r6Jvm(adcOf(q, d))))
        .sortBy { case (d, a) => (-a, d) }.take(S.TopK)
    }
    val queries = (0L until S.NQueries.toLong).filter(vecs.contains)
    val rows = Similarity.simIvfPqResidual(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
    val want = queries.flatMap { q =>
      localRank(q, S.IvfProbe).zipWithIndex.map { case ((d, a), i) =>
        (q, i + 1, d, a)
      }
    }
    assert(rows.toSeq == want.toSeq,
      "served residual IVF+PQ ranking diverges from the local recompute")
    // probing MORE cells can only raise (or keep) the best ADC score
    val exhaustive = Similarity
      .simIvfPqResidualCfg(spark, dir, probe = S.IvfCells).collect()
      .filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.filter(_._2 == 1).foreach { case (q, _, _, a) =>
      assert(exhaustive(q) >= a,
        s"exhaustive top-1 worse than probed at query $q")
    }
  }

  test("sim_residual_gain: equal pair counts, and residual codes beat " +
    "raw codes on mean quantization error at equal bytes") {
    val rows = Similarity.simResidualGain(spark, sf("sf0.001")).collect()
    assert(rows.length == 2)
    val byV = rows.map(r => r.getString(0) ->
      (r.getAs[Long]("n_pairs"), r.getAs[Double]("mean_abs_err"))).toMap
    assert(byV.keySet == Set("raw", "residual"))
    // both variants score the identical full-corpus pair set
    assert(byV("raw")._1 == byV("residual")._1)
    // the claim residual encoding ships on: quantizing x − c_cell(x)
    // against TRAINED cells estimates the inner product closer than
    // quantizing x itself, at the same 4 codes/vector. (recall@5 is
    // too coarse to pin at 8 queries — it flipped between fixture SFs;
    // SCALE.md records both readings.)
    assert(byV("residual")._2 < byV("raw")._2,
      s"residual mean_abs_err ${byV("residual")._2} not below raw " +
        s"${byV("raw")._2}")
  }

  test("sim_opq_gain equals a full local recompute (signed-permutation " +
    "rotation, rotated residual codebooks, coarse-term ADC) and the " +
    "rotation is a genuine signed permutation") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    // the rotation's structural contract: a permutation of 0..Dim-1
    // with ±1 signs — exactly orthogonal, so negation+reorder is the
    // bitwise-identical map on both engines
    assert(S.OpqPerm.sorted == (0 until S.Dim))
    assert(S.OpqSign.forall(s => s == 1 || s == -1))
    val vecs = spark.read.parquet(dir + "/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def subOf(v: Array[Double], b: Int): Array[Double] =
      v.slice(b * S.PqSubDim, (b + 1) * S.PqSubDim)
    def assign(subs: Map[Long, Array[Double]],
        cents: Seq[(Long, Array[Double])]): Map[Long, Long] =
      subs.map { case (id, v) =>
        val nrm = dot(v, v)
        id -> cents.map { case (c, cv) =>
          (nrm - 2.0 * dot(v, cv) + dot(cv, cv), c) }.min._2
      }
    def update(subs: Map[Long, Array[Double]], asg: Map[Long, Long],
        dim: Int): Seq[(Long, Array[Double])] =
      asg.groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, m) =>
        val members = m.keys.toSeq.map(subs)
        val n = members.size
        cid -> (0 until dim).map { p =>
          val s = members.map(v =>
            math.floor(v(p) * S.KmFp + 0.5).toLong).sum
          s.toDouble / (n.toDouble * S.KmFp)
        }.toArray
      }
    var icents: Seq[(Long, Array[Double])] =
      (S.NQueries.toLong until (S.NQueries + S.IvfCells).toLong)
        .filter(vecs.contains).map(id => id -> vecs(id))
    for (_ <- 1 to S.KmIters)
      icents = update(vecs, assign(vecs, icents), S.Dim)
    def cs(v: Array[Double], c: Array[Double]): Double =
      dot(v, c) / math.sqrt(dot(v, v) * dot(c, c))
    val cellOf = vecs.map { case (id, v) =>
      id -> -icents.map { case (cid, cv) => (cs(v, cv), -cid) }.max._2
    }
    val centOf = icents.toMap
    val resid = vecs.map { case (id, v) =>
      val c = centOf(cellOf(id))
      id -> v.indices.map(i => v(i) - c(i)).toArray
    }
    def rot(v: Array[Double]): Array[Double] =
      (0 until S.Dim).map(j => S.OpqSign(j) * v(S.OpqPerm(j))).toArray
    val rres = resid.map { case (id, r) => id -> rot(r) }
    val blocks = (0 until S.PqM).map { b =>
      val subs = rres.map { case (id, r) => id -> subOf(r, b) }
      var cb: Seq[(Long, Array[Double])] =
        (S.RpqSeedBase.toLong until (S.RpqSeedBase + S.PqK).toLong)
          .filter(subs.contains).map(id => id -> subs(id))
      for (_ <- 1 to S.PqIters)
        cb = update(subs, assign(subs, cb), S.PqSubDim)
      (cb.toMap, assign(subs, cb))
    }
    // est(q, d) = q·c_cell(d) + Σ_b 〈(Rq)_sub_b, cb_b[code_b(d)]〉 —
    // the Spark side's left-to-right fold verbatim
    def estOf(q: Long, d: Long): Double = {
      val rq = rot(vecs(q))
      val coarse = dot(vecs(q), centOf(cellOf(d)))
      (0 until S.PqM).foldLeft(coarse) { (acc, b) =>
        acc + dot(subOf(rq, b), blocks(b)._1(blocks(b)._2(d)))
      }
    }
    def errU(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val queries = (0L until S.NQueries.toLong).filter(vecs.contains)
    val pairs = for {
      q <- queries; d <- vecs.keys.toSeq.sorted if d != q
    } yield (q, d, dot(vecs(q), vecs(d)), estOf(q, d))
    // .values, NOT .flatMap on the Map — mapping a Map to (q, d)
    // tuples re-keys by q and silently keeps ONE pair per query (the
    // same Map-collapse trap the gr_lpa spec's first draft hit)
    def cut(score: ((Long, Long, Double, Double)) => Double) =
      pairs.groupBy(_._1).values.flatMap { ps =>
        ps.sortBy(p => (-r6Jvm(score(p)), p._2)).take(S.TopK)
          .map(p => (p._1, p._2))
      }.toSet
    val hits = (cut(_._3) & cut(_._4)).size
    val errs = pairs.map(p => errU(math.abs(p._3 - p._4) * 1000000.0))
    val row = Similarity.simOpqGain(spark, dir).collect()
    assert(row.length == 1)
    val r = row.head
    assert(r.getString(0) == "opq_residual")
    assert(r.getAs[Long]("n_pairs") == pairs.size.toLong)
    assert(r.getAs[Long]("total_hits") == hits.toLong)
    assert(r.getAs[Double](s"recall_at_${S.TopK}") ==
      r6Jvm(hits.toDouble / (S.NQueries * S.TopK)))
    assert(r.getAs[Double]("mean_abs_err") ==
      r6Jvm(errs.sum.toDouble / pairs.size / 1000000.0))
    assert(r.getAs[Double]("max_abs_err") ==
      r6Jvm(errs.max.toDouble / 1000000.0))
  }

  test("sim_rp equals a full local JL-projection recompute") {
    import graft.functions.Determinism.r6Jvm
    import graft.operators.{Similarity => S}
    val dir = sf("sf0.001")
    val vecs = spark.read.parquet(dir + "/embeddings.parquet").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val mat = S.JlPlaneInts.map(_.map(_ / 1024.0).toArray).toArray
    val pv = vecs.map { case (id, v) => id -> mat.map(row => dot(row, v)) }
    def half(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val queries = (0L until S.NQueries.toLong).filter(vecs.contains)
    val rows = Similarity.simRp(spark, dir).collect()
    assert(rows.length == queries.length)
    rows.foreach { r =>
      val q = r.getLong(0)
      val others = vecs.keys.filter(_ != q).toSeq.sorted
      val scored = others.map { d =>
        val c64 = dot(vecs(q), vecs(d)) /
          math.sqrt(dot(vecs(q), vecs(q)) * dot(vecs(d), vecs(d)))
        val c16 = dot(pv(q), pv(d)) /
          math.sqrt(dot(pv(q), pv(q)) * dot(pv(d), pv(d)))
        (d, c64, c16, half(math.abs(c64 - c16) * 1000000.0))
      }
      val n = scored.length.toLong
      def top(sel: ((Long, Double, Double, Long)) => Double): Set[Long] =
        scored.map(t => (t._1, r6Jvm(sel(t))))
          .sortBy { case (d, c) => (-c, d) }.take(S.TopK).map(_._1).toSet
      val hits = (top(_._2) & top(_._3)).size
      assert(r.getAs[Long]("n_pairs") == n)
      assert(r.getAs[Double]("recall_at_5") ==
        r6Jvm(hits.toDouble / S.TopK))
      assert(r.getAs[Double]("mean_abs_err") ==
        r6Jvm(scored.map(_._4).sum.toDouble / n / 1000000.0))
      assert(r.getAs[Double]("max_abs_err") ==
        r6Jvm(scored.map(_._4).max / 1000000.0))
      // the census is meaningful: compression loses something, the
      // ranking keeps most of it
      assert(r.getAs[Double]("mean_abs_err") > 0.0)
    }
  }

  test("sim_hard_negatives: the mined set is the local top cross-label " +
    "cosines, the positive the best same-label, the margin their gap") {
    import graft.operators.Similarity
    val vecs = spark.read.parquet(s"${sf()}/embeddings.parquet").collect()
      .map(r => (r.getLong(0), r.getInt(2),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val byId = vecs.map(v => v._1 -> v).toMap
    val got = Similarity.simHardNegatives(spark, sf()).collect()
    assert(got.length == Similarity.NQueries * Similarity.HnK)
    got.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val (_, qlb, qv) = byId(qid)
      val scored = vecs.filter(_._1 != qid)
        .map { case (id, lb, v) => (id, lb, cos(qv, v)) }
      val negs = scored.filter(_._2 != qlb)
        .sortBy(t => (-t._3, t._1)).take(Similarity.HnK)
      val pos = scored.filter(_._2 == qlb).minBy(t => (-t._3, t._1))
      val sorted = rows.sortBy(_.getInt(1))
      sorted.zip(negs).foreach { case (r, (nid, nlb, nc)) =>
        assert(r.getLong(2) == nid && r.getInt(3) == nlb)
        assert(r.getDouble(4) == graft.functions.Determinism.r6Jvm(nc))
        assert(r.getLong(5) == pos._1)
        assert(r.getDouble(6) == graft.functions.Determinism.r6Jvm(pos._3))
        assert(r.getDouble(7) ==
          graft.functions.Determinism.r6Jvm(pos._3 - nc))
      }
      // negatives are mined hardest-first
      val cosines = sorted.map(_.getDouble(4))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
    }
    // the hard-mining regime is present: some negative outranks its
    // anchor's positive (margin < 0) — the pair the curriculum wants
    assert(got.exists(_.getDouble(7) < 0))
  }

  test("sim_mrl: full-dim recall is exactly 1 and average recall never " +
    "rises as the prefix shrinks") {
    import graft.operators.Similarity
    val rows = Similarity.simMrl(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == Similarity.MrlDims.size * Similarity.NQueries)
    // d = 64 IS the ground truth — recall 1.0 on every anchor
    rows.filter(_._1 == 64).foreach { r =>
      assert(r._3 == Similarity.TopK && r._4 == 1.0)
    }
    // hits are bounded and recall = hits/k exactly
    rows.foreach { r =>
      assert(r._3 >= 0 && r._3 <= Similarity.TopK)
      assert(r._4 == graft.functions.Determinism.r6Jvm(
        r._3.toDouble / Similarity.TopK))
    }
    val avg = Similarity.MrlDims.map { d =>
      d -> rows.filter(_._1 == d).map(_._4).sum / Similarity.NQueries
    }.toMap
    val sorted = Similarity.MrlDims.sorted
    sorted.zip(sorted.tail).foreach { case (lo, hi) =>
      assert(avg(lo) <= avg(hi),
        s"recall rose as the prefix shrank: d=$lo ${avg(lo)} > d=$hi ${avg(hi)}")
    }
    // the sweep is informative on this corpus: truncation actually hurts
    assert(avg(sorted.head) < 1.0)
  }

  test("sim_kcenter equals a local Gonzalez sweep and the coverage " +
    "radius shrinks monotonically") {
    val vecs = spark.read.parquet(sf("sf0.01") + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val nrm = vecs.map { case (id, v) => id -> dot(v, v) }.toMap
    val byId = vecs.toMap
    def d2(p: Long, c: Long): Double =
      nrm(p) + nrm(c) - 2.0 * dot(byId(p), byId(c))
    // greedy sweep with a running min-dist column, least-first like
    // the shipped chained form
    var centers = Vector((0, 0L, 0.0))
    var md = vecs.map { case (id, _) => id -> d2(id, 0L) }.toMap
    for (t <- 1 until Similarity.KCenterK) {
      val (pick, sel) = md.toSeq.map { case (id, m) => (id, m) }
        .minBy { case (id, m) => (-m, id) }
      centers :+= ((t, pick, sel))
      md = md.map { case (id, m) => id -> math.min(m, d2(id, pick)) }
    }
    // final assignment: nearest center, ties to the earlier center
    val assign = vecs.map { case (id, _) =>
      val best = centers.minBy { case (ord, cid, _) => (d2(id, cid), ord) }
      (best._1, best._2, d2(id, best._2))
    }
    val census = assign.groupBy(x => (x._1, x._2)).map { case (k, xs) =>
      k -> (xs.length.toLong, xs.map(_._3).max)
    }
    val got = graft.operators.Similarity.simKcenter(spark, sf("sf0.01"))
      .collect()
    assert(got.length == Similarity.KCenterK)
    got.foreach { r =>
      val ord = r.getInt(0)
      val (_, cid, sel) = centers(ord)
      assert(r.getLong(1) == cid, s"center at ord $ord")
      assert(r.getDouble(2) == graft.functions.Determinism.r6Jvm(sel),
        s"sel_d2 at ord $ord")
      val (n, mx) = census((ord, cid))
      assert(r.getLong(3) == n, s"n_assigned at ord $ord")
      assert(r.getDouble(4) == graft.functions.Determinism.r6Jvm(mx),
        s"max_d2 at ord $ord")
    }
    // Gonzalez's correctness certificate: selection distances are
    // non-increasing, and the final covering radius is bounded by the
    // last selection distance
    val sels = centers.drop(1).map(_._3)
    sels.zip(sels.tail).foreach { case (a, b) =>
      assert(b <= a, "selection distance rose")
    }
    assert(census.values.map(_._2).max <= sels.last + 1e-9)
    // every center anchors a non-empty cluster (itself at least)
    assert(census.size == Similarity.KCenterK)
  }
}
