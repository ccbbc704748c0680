package graft

import org.apache.spark.sql.functions._
import graft.operators.Analytics

/** Relational/warehouse analytics operators. */
class AnalyticsSpec extends SparkSpec {

  test("ev_json parses schema-on-read: malformed rows become NULL, not errors") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val parsed = Seq("""{"k": 7}""", """{"k": null}""", "not json", "",
      """{"other": 1}""")
      .toDF("props")
      .select(from_json(col("props"), schema).getField("k").as("k"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(parsed.toSeq == Seq(Some(7), None, None, None, None))
  }

  test("ev_cube levels are mutually consistent") {
    val rows = Analytics.evCube(spark, sf("sf0.01")).collect()
    val detail = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) != "ALL")
    val subtotals = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    assert(grand.head.getLong(2) == detail.map(_.getLong(2)).sum)
    subtotals.foreach { s =>
      val d = detail.filter(_.getString(0) == s.getString(0))
      assert(s.getLong(2) == d.map(_.getLong(2)).sum,
        s"subtotal mismatch for ${s.getString(0)}")
    }
    // rollup ≠ cube: no day-only subtotals
    assert(!rows.exists(r => r.getString(0) == "ALL" && r.getString(1) != "ALL"))
  }

  test("prof_summary_approx: exact counts, ≤2% distinct error, one scan, no Expand") {
    val exact = Analytics.profSummary(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val approxDf = Analytics.profSummaryApprox(spark, sf("sf0.01"))
    // plan contract (round 19: one branch per column — same total
    // bytes as one full-width scan): one PRUNED scan per profiled
    // column, no Expand, and no per-column distinct shuffle
    val plan = approxDf.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size ==
      Analytics.ProfiledCols.size,
      s"expected one pruned scan per column:\n$plan")
    Analytics.ProfiledCols.foreach { c =>
      assert(plan.contains(s"ReadSchema: struct<$c:"),
        s"branch scan for $c must prune to its one column:\n$plan")
    }
    assert(!plan.contains("Expand"), s"no Expand allowed:\n$plan")
    val approx = approxDf.collect()
    assert(approx.length == exact.size)
    approx.foreach { r =>
      val (nRows, nNulls, nDistinct) = exact(r.getString(0))
      assert(r.getLong(1) == nRows && r.getLong(2) == nNulls,
        s"${r.getString(0)}: n_rows/n_nulls must match exact twin")
      val ad = r.getLong(3).toDouble
      assert(math.abs(ad - nDistinct) <= 0.02 * nDistinct + 1,
        s"${r.getString(0)}: approx $ad vs exact $nDistinct out of bound")
    }
  }

  test("prof_topk equals a window-rank recompute per column") {
    import org.apache.spark.sql.expressions.Window
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    val want = Analytics.TopValCols.map { c =>
      val w = Window.partitionBy(org.apache.spark.sql.functions.lit(1))
        .orderBy(col("cnt").desc, col("value"))
      li.select(col(c).cast("string").as("value"))
        .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= Analytics.TopValK)
        .select(lit(c).as("column_name"), col("rank"), col("value"), col("cnt"))
    }.reduce(_.unionByName(_)).collect().map(_.toSeq).toSet
    val got = Analytics.profTopk(spark, sf("sf0.01"))
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("wh_dq audit counts match direct recomputes") {
    val r = Analytics.whDq(spark, sf("sf0.01")).collect().head
    val o = spark.read.parquet(sf("sf0.01") + "/orders.parquet")
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    assert(r.getAs[Long]("n_orders") == o.count())
    assert(r.getAs[Long]("n_lineitems") == li.count())
    // fixture invariants the audit must reproduce exactly
    assert(r.getAs[Long]("n_distinct_orderkeys") == r.getAs[Long]("n_orders"))
    assert(r.getAs[Long]("n_orphan_lineitems") ==
      li.count() - li.join(o, col("l_orderkey") === col("o_orderkey"),
        "left_semi").count())
    assert(r.getAs[Long]("n_childless_orders") ==
      o.count() - o.join(li, col("o_orderkey") === col("l_orderkey"),
        "left_semi").count())
    assert(r.getAs[Long]("max_lines_per_order") >= 1L)
  }

  test("prof_drift PSI matches a brute-force recompute and is non-negative") {
    val rows = Analytics.profDrift(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    // brute force: replicate binning/smoothing locally
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val mn = ev.map(_._2).min; val mx = ev.map(_._2).max
    val half = (mx - mn + 1) / 2
    def bin(c: Long) = math.min(math.max(c / Analytics.DriftBinWidth, 0L),
      Analytics.DriftBins - 1L).toInt
    rows.foreach { r =>
      val t = r.getString(0)
      val mine = ev.filter(_._1 == t)
      def cnt(p: String) = (0 until Analytics.DriftBins).map { b =>
        mine.count(e =>
          (if (e._2 - mn < half) "a" else "b") == p && bin(e._3) == b) + 1L
      }
      val (ca, cb) = (cnt("a"), cnt("b"))
      val (na, nb) = (ca.sum.toDouble, cb.sum.toDouble)
      assert(r.getAs[Long]("n_a_smoothed") == ca.sum)
      assert(r.getAs[Long]("n_b_smoothed") == cb.sum)
      val psi = (0 until Analytics.DriftBins).foldLeft(0.0) { (acc, b) =>
        val (pa, pb) = (ca(b) / na, cb(b) / nb)
        acc + (pa - pb) * math.log(pa / pb)
      }
      val want = java.math.BigDecimal.valueOf(psi)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue + 0.0
      assert(r.getAs[Double]("psi") == want, s"psi at $t")
      // each PSI term is >= 0 (sign(pa-pb) == sign(ln(pa/pb)))
      assert(r.getAs[Double]("psi") >= 0.0)
    }
  }

  test("wh_scd2 intervals partition each customer's timeline") {
    val rows = Analytics.whScd2(spark, sf("sf0.01")).collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (cust, history) =>
      val sorted = history.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 1, s"cust $cust versions start at 1")
      // exactly one open (current) interval, and it is the last one
      assert(sorted.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(1) + 1 == b.getLong(1), s"cust $cust gap")
          // adjacent: a closes exactly where b opens, statuses differ
          assert(a.getAs[String]("valid_to") == b.getAs[String]("valid_from"))
          assert(a.getAs[String]("status") != b.getAs[String]("status"))
        case _ => ()
      }
    }
    // fixture really exercises history: some customer has >= 3 versions
    assert(rows.values.exists(_.length >= 3))
  }

  test("prof_corr agrees with Spark's own corr() to float tolerance") {
    val got = Analytics.profCorr(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.size == 6)
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    got.foreach { case (pair, c) =>
      assert(c >= -1.0 && c <= 1.0, s"$pair out of range")
      val Array(a, b) = pair.split("~")
      // the cents-exact moments must reproduce the double-accumulated
      // corr() to well within float noise
      val ref = li.select(corr(round(col(a) * 100), round(col(b) * 100)))
        .collect().head.getDouble(0)
      assert(math.abs(c - ref) < 1e-6, s"$pair: $c vs $ref")
    }
  }

  test("prof_hist bins partition the rows and reproduce exact counts") {
    val rows = Analytics.profHist(spark, sf("sf0.01")).collect()
    val total = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet").count()
    Analytics.HistCols.foreach { case (c, w) =>
      val bins = rows.filter(_.getString(0) == c)
      assert(bins.nonEmpty)
      // bins partition the table: counts sum to the row count
      assert(bins.map(_.getAs[Long]("n")).sum == total, s"$c coverage")
      // bin_lo is the bin's left edge in original units
      bins.foreach { r =>
        assert(r.getAs[Double]("bin_lo") ==
          r.getAs[Long]("bin") * w / 100.0, s"$c edge")
      }
    }
  }

  test("wh_snapshot picks exactly one interval per customer existing at D") {
    val snap = Analytics.whSnapshot(spark, sf("sf0.01")).collect()
    val perCust = snap.groupBy(_.getLong(0))
    perCust.foreach { case (c, rows) =>
      assert(rows.length == 1, s"cust $c must have one snapshot row")
    }
    val hist = Analytics.whScd2(spark, sf("sf0.01")).collect()
      .groupBy(_.getLong(0))
    // a customer is in the snapshot iff their history starts by D
    val want = hist.filter(_._2.exists(
      _.getAs[String]("valid_from") <= Analytics.SnapshotDate)).keySet
    assert(perCust.keySet == want)
    // the picked interval really contains D
    snap.foreach { r =>
      val from = r.getAs[String]("valid_from")
      assert(from <= Analytics.SnapshotDate)
      val full = hist(r.getLong(0))
        .find(_.getAs[Long]("version") == r.getAs[Long]("version")).get
      val to = full.getAs[String]("valid_to")
      assert(to == null || to > Analytics.SnapshotDate)
    }
    // fixture sanity: some snapshot rows are historical, some current
    assert(snap.exists(!_.getAs[Boolean]("still_current")))
    assert(snap.exists(_.getAs[Boolean]("still_current")))
  }

  test("wh_scd2 serves all windows and the collapse from ONE shuffle") {
    val plan = Analytics.whScd2(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("prof_summary prunes every branch scan to its single column") {
    val df = Analytics.profSummary(spark, sf("sf0.01"))
    // plan BEFORE collect: after execution AQE prints final+initial
    // plans and every node would count twice
    val plan = df.queryExecution.executedPlan.toString
    // no Expand (the multi-distinct shape this replaces), and every
    // branch scan reads exactly one column
    assert(!plan.contains("Expand"), "union shape must not plan an Expand")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(schemas.length == Analytics.ProfiledCols.length)
    // "ReadSchema: struct<name:type>" — one colon for the label, one
    // per column ⇒ exactly two for a single-column scan
    schemas.foreach(s => assert(s.count(_ == ':') == 2,
      s"branch scan must read exactly one column: $s"))
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Analytics.ProfiledCols.sorted)
    rows.foreach { r =>
      assert(r.getLong(1) > 0)
      assert(r.getLong(2) == 0) // fixture has no nulls
      assert(r.getLong(3) > 0 && r.getLong(3) <= r.getLong(1))
    }
  }

  test("ev_abtest matches a local Welch recompute over the hash split") {
    val got = Analytics.evAbtest(spark, sf("sf0.01")).collect()
    assert(got.nonEmpty)
    // recompute from the raw events with the same salted split
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_type"),
        (graft.functions.CrossHash.md5Long(
          concat(lit("ab-v1:"), col("user_id").cast("string"))) % 2)
          .as("cohort"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    got.foreach { r =>
      val et = r.getString(0)
      val a = ev.filter(e => e._1 == et && e._2 == 0L).map(_._3)
      val b = ev.filter(e => e._1 == et && e._2 == 1L).map(_._3)
      assert(r.getAs[Long]("n_a") == a.length.toLong)
      assert(r.getAs[Long]("n_b") == b.length.toLong)
      def mean(x: Array[Long]) = x.sum.toDouble / x.length / 100.0
      assert(math.abs(r.getAs[Double]("mean_a") - mean(a)) < 1e-6)
      assert(math.abs(r.getAs[Double]("mean_b") - mean(b)) < 1e-6)
      // Welch t from exact moments, in dollars
      def vaOf(x: Array[Long]) = {
        val n = x.length.toDouble
        val s = BigInt(x.map(BigInt(_)).sum.toString).toDouble
        val ss = x.map(v => BigInt(v) * BigInt(v)).sum.toDouble
        (n * ss - s * s) / (n * (n - 1)) / 10000.0
      }
      val t = (mean(a) - mean(b)) /
        math.sqrt(vaOf(a) / a.length + vaOf(b) / b.length)
      assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-4, s"t: $r vs $t")
      // both cohorts populated — the split genuinely divides users
      assert(a.nonEmpty && b.nonEmpty)
    }
  }

  test("ev_seasonality chi2 and peak day match a local recompute") {
    val got = Analytics.evSeasonality(spark, sf("sf0.01")).collect()
    assert(got.nonEmpty)
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_type"), weekday(col("ts")).as("dow"))
      .collect().map(r => (r.getString(0), r.getInt(1)))
    got.foreach { r =>
      val counts = ev.filter(_._1 == r.getString(0)).groupBy(_._2)
        .map { case (d, xs) => d -> xs.length.toLong }
      val n = counts.values.sum
      assert(r.getAs[Long]("n") == n)
      // peak: highest count, smallest dow on ties
      val peak = counts.toSeq.minBy { case (d, c) => (-c, d) }
      assert(r.getAs[Int]("peak_dow") == peak._1, s"peak: $r")
      assert(r.getAs[Long]("peak_count") == peak._2)
      // chi2 vs the direct sum-over-bins form (missing days count 0)
      val e = n.toDouble / 7
      val chi2 = (0 to 6).map(d =>
        math.pow(counts.getOrElse(d, 0L).toDouble - e, 2) / e).sum
      assert(math.abs(r.getAs[Double]("chi2") - chi2) < 1e-5, s"chi2: $r")
      assert(r.getAs[Double]("chi2") >= 0)
    }
  }

  test("prof_mi cells reconstruct marginals, total, and a local MI recompute") {
    val rows = Analytics.profMi(spark, sf("sf0.01")).collect()
    val n = rows.map(_.getAs[Long]("n_xy")).sum
    // marginals are consistent: summing cells per lang/source must
    // reproduce the joined n_x / n_y on every row
    val byLang = rows.groupBy(_.getString(0))
      .map { case (l, rs) => l -> rs.map(_.getAs[Long]("n_xy")).sum }
    val bySrc = rows.groupBy(_.getString(1))
      .map { case (s, rs) => s -> rs.map(_.getAs[Long]("n_xy")).sum }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_x") == byLang(r.getString(0)))
      assert(r.getAs[Long]("n_y") == bySrc(r.getString(1)))
      // BigDecimal HALF_UP, not math.round: mirror the engines exactly
      // (the TextAnalysisSpec rounding rule)
      val pmi = BigDecimal
        .decimal(math.log(r.getAs[Long]("n_xy").toDouble * n /
          (r.getAs[Long]("n_x").toDouble * r.getAs[Long]("n_y"))) *
          Analytics.MiScale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(r.getAs[Long]("pmi_micro") == pmi, s"pmi: $r")
      assert(r.getAs[Long]("mi_contrib_micro") ==
        r.getAs[Long]("n_xy") * pmi)
    }
    // MI as the exact integer sum of contributions is non-negative
    // (Gibbs); independence would make every cell ~0
    val miMicro = rows.map(_.getAs[Long]("mi_contrib_micro")).sum
    assert(miMicro.toDouble / n / Analytics.MiScale >= -1e-6)
  }

  test("prof_fd verdicts match brute-force distinct counts") {
    val rows = Analytics.profFd(spark, sf("sf0.01")).collect()
    assert(rows.length == Analytics.FdPairs.length)
    rows.foreach { r =>
      val (tab, det, dep) =
        (r.getString(0), r.getString(1), r.getString(2))
      val t = spark.read.parquet(sf("sf0.01") + s"/$tab.parquet")
      val nRows = t.count()
      val nDet = t.select(det).distinct().count()
      val nPairs = t.select(det, dep).distinct().count()
      assert(r.getAs[Long]("n_rows") == nRows, s"rows: $r")
      assert(r.getAs[Long]("n_det") == nDet, s"det: $r")
      assert(r.getAs[Long]("n_pairs") == nPairs, s"pairs: $r")
      assert(r.getAs[Long]("violations") == nPairs - nDet)
      assert(r.getAs[Int]("fd_holds") == (if (nPairs == nDet) 1 else 0))
      assert(r.getAs[Int]("det_is_key") == (if (nDet == nRows) 1 else 0))
    }
    // the audit must separate the designed cases: PKs are keys and
    // determine everything; categorical → categorical fails
    val byPair = rows.map(r => (r.getString(1), r.getString(2)) -> r).toMap
    assert(byPair(("o_orderkey", "o_custkey")).getAs[Int]("fd_holds") == 1)
    assert(byPair(("o_orderkey", "o_custkey")).getAs[Int]("det_is_key") == 1)
    assert(byPair(("c_custkey", "c_nationkey")).getAs[Int]("det_is_key") == 1)
    assert(byPair(("o_orderstatus", "o_orderpriority"))
      .getAs[Int]("fd_holds") == 0)
  }

  test("prof_fd prunes every audit scan to its two columns") {
    val plan = Analytics.profFd(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toSeq
    assert(schemas.length == Analytics.FdPairs.length, s"scans:\n$plan")
    // "struct<a:t,b:t>" — one colon for the label + one per column
    schemas.foreach(s => assert(s.count(_ == ':') == 3,
      s"audit scan must read exactly its two columns: $s"))
  }

  test("prof_moments matches a local exact-moment recompute in one scan") {
    val df = Analytics.profMoments(spark, sf("sf0.01"))
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"the whole shape profile must be ONE scan:\n$plan")
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Analytics.MomentCols.sorted)
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
    rows.foreach { r =>
      val c = r.getString(0)
      val cents = li.select(round(col(c) * 100).cast("long").as("v"))
        .collect().map(_.getLong(0))
      val n = cents.length.toDouble
      // exact integer power sums, then the operator's double formula
      def pow(k: Int) = cents.map(v => BigInt(v).pow(k)).sum
      val (r1, r2, r3, r4) = (
        BigDecimal(pow(1)).toDouble / n, BigDecimal(pow(2)).toDouble / n,
        BigDecimal(pow(3)).toDouble / n, BigDecimal(pow(4)).toDouble / n)
      val m2 = r2 - r1 * r1
      val m3 = r3 - 3.0 * r1 * r2 + 2.0 * r1 * r1 * r1
      val m4 = r4 - 4.0 * r1 * r3 + 6.0 * r1 * r1 * r2 -
        3.0 * r1 * r1 * r1 * r1
      assert(r.getAs[Long]("n_rows") == cents.length)
      assert(math.abs(r.getAs[Double]("mean") - r1 / 100.0) < 1e-6, s"$c mean")
      assert(math.abs(r.getAs[Double]("skewness") -
        m3 / (m2 * math.sqrt(m2))) < 1e-5, s"$c skew")
      assert(math.abs(r.getAs[Double]("kurtosis_excess") -
        (m4 / (m2 * m2) - 3.0)) < 1e-5, s"$c kurt")
    }
  }

  test("prof_col_entropy matches a local plug-in entropy recompute") {
    val rows = Analytics.profColEntropy(spark, sf("sf0.01")).collect()
    assert(rows.length == Analytics.EntropyCols.length)
    Analytics.EntropyCols.foreach { case (tab, c) =>
      val r = rows.find(x => x.getString(0) == tab && x.getString(1) == c).get
      val vals =
        (if (tab == "events")
           graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
         else spark.read.parquet(sf("sf0.01") + s"/$tab.parquet"))
          .select(col(c).cast("string")).collect().map(_.getString(0))
      val counts = vals.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = vals.length.toDouble
      val h = counts.values.map(k => -k / n * math.log(k / n)).sum
      assert(r.getAs[Long]("n") == vals.length)
      assert(r.getAs[Long]("n_values") == counts.size)
      assert(math.abs(r.getAs[Double]("entropy") - h) < 1e-4, s"$tab.$c: $r")
      // entropy is bounded by ln(n_values)
      assert(r.getAs[Double]("entropy") <= math.log(counts.size) + 1e-9)
      assert(r.getAs[Double]("entropy") >= -1e-9)
    }
  }

  test("wh_churn matrix matches a brute-force snapshot diff") {
    val rows = Analytics.whChurn(spark, sf("sf0.01")).collect()
    val hist = Analytics.whScd2(spark, sf("sf0.01"))
      .select(col("custkey"), col("status"), col("valid_from"),
        col("valid_to")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3))))
    def snap(d: String) = hist.filter { case (_, _, from, to) =>
      from <= d && to.forall(_ > d) }
      .map(r => r._1 -> r._2).toMap
    val (s1, s2) = (snap(Analytics.ChurnFromDate), snap(Analytics.ChurnToDate))
    val want = s2.toSeq.map { case (ck, st2) =>
      (s1.getOrElse(ck, "NEW"), st2) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.length == want.size)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_customers") ==
        want((r.getString(0), r.getString(1))), s"cell: $r")
    }
    // matrix totals must partition the TO snapshot
    assert(rows.map(_.getAs[Long]("n_customers")).sum == s2.size)
    // SCD2 never deletes: FROM-snapshot customers all appear in TO
    assert(s1.keySet.subsetOf(s2.keySet))
  }

  test("wh_scd2_apply equals the full rebuild and exercises every junction") {
    val rebuild = Analytics.whScd2(spark, sf("sf0.01")).collect()
    val applied = Analytics.whScd2Apply(spark, sf("sf0.01")).collect()
    assert(applied.length == rebuild.length)
    applied.zip(rebuild).foreach { case (a, r) =>
      assert(a == r, s"incremental row diverges from rebuild:\n  $a\n  $r")
    }
    // the equivalence only tests the merge logic if the fixture hits
    // all three cutoff junctions; pin that so a fixture change can't
    // silently hollow the test out
    val cut = java.sql.Timestamp.valueOf(Analytics.ApplyCutoff + " 00:00:00")
    val o = spark.read.parquet(sf("sf0.01") + "/orders.parquet")
      .select(col("o_custkey").as("ck"), col("o_orderstatus").as("st"),
        col("o_orderdate").cast("timestamp").as("od"), col("o_orderkey"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getLong(3)))
    val byCust = o.groupBy(_._1)
    def lastBefore(evs: Array[(Long, String, java.sql.Timestamp, Long)]) =
      evs.filter(_._3.before(cut)).sortBy(e => (e._3.getTime, e._4))
        .lastOption.map(_._2)
    def firstAfter(evs: Array[(Long, String, java.sql.Timestamp, Long)]) =
      evs.filter(!_._3.before(cut)).sortBy(e => (e._3.getTime, e._4))
        .headOption.map(_._2)
    val junctions = byCust.values.map(evs => (lastBefore(evs), firstAfter(evs)))
    assert(junctions.exists { case (b, a) => b.isDefined && a == b },
      "need a same-status continuation across the cutoff")
    assert(junctions.exists { case (b, a) =>
      b.isDefined && a.isDefined && a != b },
      "need a status change at the cutoff")
    assert(junctions.exists { case (b, a) => b.isEmpty && a.isDefined },
      "need a customer born after the cutoff")
  }

  test("prof_outliers quartiles and fence counts match a sorted recompute") {
    val rows = Analytics.profOutliers(spark, sf("sf0.01")).collect()
    assert(rows.length == Analytics.OutlierCols.length)
    Analytics.OutlierCols.foreach { case (tab, c) =>
      val r = rows.find(x => x.getString(0) == tab && x.getString(1) == c).get
      val cents = spark.read.parquet(sf("sf0.01") + s"/$tab.parquet")
        .select(round(col(c) * 100).cast("long").as("v"))
        .collect().map(_.getLong(0)).sorted
      val n = cents.length
      // rank-ceil selection on the sorted array (1-based rank k → idx k-1)
      val q1c = cents((n + 3) / 4 - 1)
      val q3c = cents((3 * n + 3) / 4 - 1)
      assert(r.getAs[Long]("n") == n, s"$tab.$c n")
      assert(r.getAs[Double]("q1") == q1c / 100.0, s"$tab.$c q1")
      assert(r.getAs[Double]("q3") == q3c / 100.0, s"$tab.$c q3")
      assert(r.getAs[Long]("n_below") ==
        cents.count(v => 2 * v < 5 * q1c - 3 * q3c), s"$tab.$c below")
      assert(r.getAs[Long]("n_above") ==
        cents.count(v => 2 * v > 5 * q3c - 3 * q1c), s"$tab.$c above")
      // fences must contain the inter-quartile box itself
      assert(r.getAs[Long]("n_below") + r.getAs[Long]("n_above") < n / 2)
    }
  }

  test("prof_benford cells cover all digits and match a digit recompute") {
    val rows = Analytics.profBenford(spark, sf("sf0.01")).collect()
    assert(rows.length == Analytics.BenfordCols.length * 9)
    Analytics.BenfordCols.foreach { case (tab, c) =>
      val cell = rows.filter(r =>
        r.getString(0) == tab && r.getString(1) == c)
      assert(cell.map(_.getInt(2)).toSeq == (1 to 9), s"$tab.$c scaffold")
      // every cell carries the same per-column total, and the digit
      // counts partition it
      assert(cell.map(_.getAs[Long]("n")).distinct.length == 1)
      assert(cell.map(_.getAs[Long]("n_d")).sum ==
        cell.head.getAs[Long]("n"), s"$tab.$c counts must partition n")
      cell.foreach(r =>
        assert(r.getAs[Double]("chi2_contrib") >= 0.0, s"chi2: $r"))
    }
    // spot recompute: first-digit counts of o_totalprice cents
    val local = spark.read.parquet(sf("sf0.01") + "/orders.parquet")
      .select(round(col("o_totalprice") * 100).cast("long").as("v"))
      .collect().map(_.getLong(0)).filter(_ > 0)
      .groupBy(_.toString.head.asDigit).view.mapValues(_.length.toLong).toMap
    rows.filter(_.getString(1) == "o_totalprice").foreach { r =>
      assert(r.getAs[Long]("n_d") == local.getOrElse(r.getInt(2), 0L),
        s"digit ${r.getInt(2)}")
    }
    // Benford expectations are a probability vector
    assert(math.abs(Analytics.BenfordP.sum - 1.0) < 1e-12)
  }
  test("prof_skew matches a local group-count recompute per entity") {
    val got = Analytics.profSkew(spark, sf("sf0.001")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet ==
      Analytics.SkewKeys.map { case (t, k) => s"$t.$k" }.toSet)
    Analytics.SkewKeys.foreach { case (table, key) =>
      val base =
        if (table == "events")
          graft.streaming.StreamingStats.events(spark, sf("sf0.001"))
        else spark.read.parquet(s"${sf("sf0.001")}/$table.parquet")
      val counts = base.select(col(key).cast("string")).collect()
        .map(_.getString(0)).groupBy(identity).map(_._2.length.toLong).toSeq
      val r = got(s"$table.$key")
      assert(r.getAs[Long]("n_groups") == counts.length.toLong)
      assert(r.getAs[Long]("n_rows") == counts.sum)
      assert(r.getAs[Long]("max_rows") == counts.max)
      val mean = counts.sum.toDouble / counts.length
      assert(math.abs(r.getAs[Double]("mean_rows") - mean) < 1e-6)
      val skew = counts.max.toDouble * counts.length / counts.sum
      assert(math.abs(r.getAs[Double]("skew_ratio") - skew) < 1e-6)
      assert(r.getAs[Double]("skew_ratio") >= 1.0 - 1e-9)
    }
  }
  test("wh_ltv triangle reconciles revenue and retention invariants") {
    val rows = Analytics.whLtv(spark, sf("sf0.001")).collect()
    assert(rows.nonEmpty)
    val o = spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
    // total revenue reconciles to exact order cents
    val cents = o.select(sum(round(col("o_totalprice") * 100).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("cents")).sum == cents)
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getAs[Int]("month_offset"))
      // offset 0 exists (the cohort's defining month) and equals size
      assert(sorted.head.getAs[Int]("month_offset") == 0)
      assert(sorted.head.getAs[Long]("active_customers") ==
        sorted.head.getAs[Long]("cohort_size"))
      // cumulative is a running sum of cents in offset order
      var run = 0L
      sorted.foreach { r =>
        run += r.getAs[Long]("cents")
        assert(r.getAs[Long]("cum_cents") == run)
        assert(r.getAs[Double]("retention") <= 1.0 + 1e-9)
        assert(r.getAs[Long]("active_customers") <=
          r.getAs[Long]("cohort_size"))
      }
    }
    // every customer appears in exactly one cohort
    val sizes = rows.filter(_.getAs[Int]("month_offset") == 0)
      .map(_.getAs[Long]("cohort_size")).sum
    assert(sizes == o.select(col("o_custkey")).distinct().count())
  }
  test("wh_pareto deciles partition customers; shares telescope to 1") {
    val rows = Analytics.whPareto(spark, sf("sf0.01")).collect()
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
    val o = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
    assert(rows.map(_.getAs[Long]("n_customers")).sum ==
      o.select(col("o_custkey")).distinct().count())
    val cents = o.select(sum(round(col("o_totalprice") * 100).cast("long")))
      .collect()(0).getLong(0)
    assert(rows.map(_.getAs[Long]("cents")).sum == cents)
    // decile 1 = top earners: per-customer mean revenue strictly falls
    val means = rows.map(r =>
      r.getAs[Long]("cents").toDouble / r.getAs[Long]("n_customers"))
    means.sliding(2).foreach { case Array(a, b) => assert(b <= a) }
    // cumulative share telescopes to exactly 1 (last decile closes it)
    assert(math.abs(rows.last.getAs[Double]("cum_share") - 1.0) < 1e-9)
    var run = 0.0
    rows.foreach { r =>
      run += r.getAs[Double]("share")
      assert(math.abs(r.getAs[Double]("cum_share") - run) < 1e-4)
    }
  }
  test("prof_autocorr matches a local Pearson recompute on lagged days") {
    val daily = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getLong(2)))
    val got = Analytics.profAutocorr(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r).toMap
    daily.groupBy(_._1).foreach { case (t, rows) =>
      val xs = rows.sortBy(_._2).map(_._3.toDouble)
      val pairs = xs.zip(xs.drop(1))
      val r = got(t)
      assert(r.getAs[Long]("n_pairs") == pairs.length.toLong)
      val n = pairs.length
      val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
      val sxx = pairs.map(p => p._1 * p._1).sum
      val syy = pairs.map(p => p._2 * p._2).sum
      val sxy = pairs.map(p => p._1 * p._2).sum
      val want = (n * sxy - sx * sy) /
        math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
      assert(math.abs(r.getAs[Double]("autocorr_lag1") - want) < 1e-6, t)
      assert(math.abs(r.getAs[Double]("autocorr_lag1")) <= 1.0 + 1e-9)
    }
  }
  test("wh_basket matches a local co-occurrence and lift recompute") {
    val op = spark.read.parquet(s"${sf("sf0.001")}/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = op.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val nOrders = byOrder.size.toLong
    val marg = op.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val co = byOrder.values.flatMap(ps =>
      for { i <- ps.indices; j <- (i + 1) until ps.length }
        yield (ps(i), ps(j)))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = co.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }
      .take(Analytics.BasketTopK)
    val got = Analytics.whBasket(spark, sf("sf0.001")).collect()
    assert(got.length == math.min(Analytics.BasketTopK, co.size))
    got.zip(want).foreach { case (r, ((a, b), n)) =>
      assert((r.getAs[Long]("part_a"), r.getAs[Long]("part_b")) == (a, b),
        s"rank ${r.getInt(0)}")
      assert(r.getAs[Long]("n_ab") == n)
      assert(r.getAs[Long]("n_a") == marg(a) &&
        r.getAs[Long]("n_b") == marg(b))
      val lift = n.toDouble * nOrders / (marg(a) * marg(b))
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-6)
      assert(r.getAs[Double]("lift") > 0)
    }
  }
  test("wh_aging matches a local rank-ceil age recompute per status") {
    val o = spark.read.parquet(s"${sf("sf0.01")}/orders.parquet")
      .select(col("o_orderstatus"),
        unix_date(to_date(col("o_orderdate")))).collect()
      .map(r => (r.getString(0), r.getInt(1).toLong))
    val anchor = o.map(_._2).max
    val got = Analytics.whAging(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r).toMap
    o.groupBy(_._1).foreach { case (st, rows) =>
      val ages = rows.map(anchor - _._2).sorted
      val n = ages.length.toLong
      def rc(num: Int, den: Int) = ages(((num * n + den - 1) / den - 1).toInt)
      val r = got(st)
      assert(r.getAs[Long]("n_orders") == n)
      assert(r.getAs[Long]("min_age_days") == ages.head)
      assert(r.getAs[Long]("p50_age_days") == rc(1, 2))
      assert(r.getAs[Long]("p90_age_days") == rc(9, 10))
      assert(r.getAs[Long]("max_age_days") == ages.last)
    }
  }

  test("wh_pricing equals an integer-cents brute-force rollup") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    def i(x: Double): Long = java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val li = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .select(col("l_returnflag"), col("l_linestatus"),
        unix_date(to_date(col("l_shipdate"))).as("sday"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        i(r.getDouble(3)), cents(r.getDouble(4)), cents(r.getDouble(5)),
        cents(r.getDouble(6))))
    val cutoff = li.map(_._3).max - Analytics.PricingCutoffDays
    val inScope = li.filter(_._3 <= cutoff)
    val rows = Analytics.whPricing(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSet ==
      inScope.map(t => (t._1, t._2)).toSet)
    rows.foreach { r =>
      val g = inScope.filter(t => t._1 == r.getString(0) &&
        t._2 == r.getString(1))
      val n = g.length.toLong
      val sumQty = g.map(_._4).sum
      val sumBase = g.map(_._5).sum
      val sumDiscP = g.map(_._6).sum
      val sumDiscE4 = g.map(t => t._5 * (100 - t._6)).sum
      val sumChargeE6 = g.map(t => t._5 * (100 - t._6) * (100 + t._7)).sum
      assert(r.getAs[Long]("n_lines") == n)
      assert(r.getAs[Long]("sum_qty") == sumQty)
      assert(r.getAs[Long]("sum_base_cents") == sumBase)
      assert(r.getAs[Long]("sum_disc_e4") == sumDiscE4)
      assert(r.getAs[Long]("sum_charge_e6") == sumChargeE6)
      assert(r.getAs[Double]("avg_qty") == r6Jvm(sumQty.toDouble / n))
      assert(r.getAs[Double]("avg_price") ==
        r6Jvm(sumBase.toDouble / n / 100.0))
      assert(r.getAs[Double]("avg_disc") ==
        r6Jvm(sumDiscP.toDouble / n / 100.0))
      assert(r.getAs[Double]("disc_price_total") ==
        r6Jvm(sumDiscE4.toDouble / 10000.0))
      assert(r.getAs[Double]("charge_total") ==
        r6Jvm(sumChargeE6.toDouble / 1000000.0))
    }
  }

  test("wh_ship_lag percentiles follow the rank-ceil rule per month") {
    import graft.functions.Determinism.r6Jvm
    val lags = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .join(spark.read.parquet(sf("sf0.01") + "/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .select(date_format(to_date(col("o_orderdate")), "yyyy-MM"),
        (unix_date(to_date(col("l_shipdate"))) -
          unix_date(to_date(col("o_orderdate")))).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val rows = Analytics.whShipLag(spark, sf("sf0.01")).collect()
    assert(rows.map(_.getString(0)).toSet == lags.map(_._1).toSet)
    rows.foreach { r =>
      val s = lags.filter(_._1 == r.getString(0)).map(_._2).sorted
      val n = s.length
      def rc(num: Int, den: Int): Long = s((num * n + den - 1) / den - 1)
      assert(r.getAs[Long]("n_lines") == n.toLong)
      assert(r.getAs[Long]("min_lag_days") == s.head)
      assert(r.getAs[Long]("p50_lag_days") == rc(1, 2))
      assert(r.getAs[Long]("p90_lag_days") == rc(9, 10))
      assert(r.getAs[Long]("max_lag_days") == s.last)
      assert(r.getAs[Double]("mean_lag_days") ==
        r6Jvm(s.sum.toDouble / n))
    }
  }

  test("prof_ks equals a brute-force two-sample KS per language") {
    import graft.functions.Determinism.r6Jvm
    val rows = Analytics.profKs(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    val split = graft.operators.Corpus.cpSplit(spark, sf("sf0.01"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val docs = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getString(1), split(r.getLong(0)), r.getLong(2)))
      .filter(t => t._2 == "train" || t._2 == "val")
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val train = docs.filter(d => d._1 == lang && d._2 == "train").map(_._3)
      val vals = docs.filter(d => d._1 == lang && d._2 == "val").map(_._3)
      assert(train.nonEmpty && vals.nonEmpty)
      assert(r.getAs[Long]("n_train") == train.length.toLong)
      assert(r.getAs[Long]("n_val") == vals.length.toLong)
      val pooled = (train ++ vals).distinct.sorted
      val dNum = pooled.map { v =>
        math.abs(train.count(_ <= v).toLong * vals.length -
          vals.count(_ <= v).toLong * train.length)
      }.max
      assert(r.getAs[Long]("d_num") == dNum, s"d_num at $lang")
      assert(r.getAs[Double]("ks") ==
        r6Jvm(dNum.toDouble / (train.length.toLong * vals.length)),
        s"ks at $lang")
    }
    // every language with both sides populated is present
    val langs = docs.groupBy(_._1).filter { case (_, ds) =>
      ds.exists(_._2 == "train") && ds.exists(_._2 == "val")
    }.keySet
    assert(rows.map(_.getAs[String]("lang")).toSet == langs)
  }

  test("wh_regional equals a local-supply brute-force rollup") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dir = sf("sf0.001")
    val li = spark.read.parquet(dir + "/lineitem.parquet").collect()
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_suppkey"),
        cents(r.getAs[Double]("l_extendedprice")) *
          (100 - cents(r.getAs[Double]("l_discount")))))
    val o = spark.read.parquet(dir + "/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"),
        year(to_date(col("o_orderdate"))).as("y")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    val cNat = spark.read.parquet(dir + "/customer.parquet").collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Int]("c_nationkey"))
      .toMap
    val sNat = spark.read.parquet(dir + "/supplier.parquet").collect()
      .map(r => r.getAs[Long]("s_suppkey") -> r.getAs[Int]("s_nationkey"))
      .toMap
    val nation = spark.read.parquet(dir + "/nation.parquet").collect()
      .map(r => r.getAs[Int]("n_nationkey") ->
        (r.getAs[String]("n_name"), r.getAs[Int]("n_regionkey"))).toMap
    val region = spark.read.parquet(dir + "/region.parquet").collect()
      .map(r => r.getAs[Int]("r_regionkey") -> r.getAs[String]("r_name"))
      .toMap
    // brute-force local-supply fact rows: (region, nation, year,
    // orderkey, rev_e4) where customer and supplier nations match
    val facts = li.flatMap { case (ok, sk, rev) =>
      val (ck, y) = o(ok)
      if (cNat(ck) == sNat(sk)) {
        val (nName, rk) = nation(sNat(sk))
        Some(((region(rk), nName, y), (ok, rev)))
      } else None
    }
    val expect = facts.groupBy(_._1).map { case (k, rows) =>
      k -> (rows.map(_._2._1).distinct.length.toLong,
        rows.length.toLong, rows.map(_._2._2).sum)
    }
    val got = Analytics.whRegional(spark, dir).collect()
    assert(got.nonEmpty)
    assert(got.map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet == expect.keySet)
    got.foreach { r =>
      val (nOrders, nLines, revE4) =
        expect((r.getString(0), r.getString(1), r.getInt(2)))
      assert(r.getAs[Long]("n_orders") == nOrders)
      assert(r.getAs[Long]("n_lines") == nLines)
      assert(r.getAs[Double]("revenue") == r6Jvm(revE4.toDouble / 10000.0))
    }
  }

  test("wh_hhi equals a brute-force concentration census per type") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dir = sf("sf0.001")
    val pType = spark.read.parquet(dir + "/part.parquet").collect()
      .map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_type"))
      .toMap
    val li = spark.read.parquet(dir + "/lineitem.parquet").collect()
      .map(r => ((pType(r.getAs[Long]("l_partkey")),
        r.getAs[Long]("l_suppkey")),
        BigInt(cents(r.getAs[Double]("l_extendedprice"))) *
          (100 - cents(r.getAs[Double]("l_discount")))))
    val perSupp = li.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).sum }
    val got = Analytics.whHhi(spark, dir).collect()
    assert(got.nonEmpty)
    val byType = perSupp.groupBy(_._1._1)
    assert(got.map(_.getString(0)).toSet == byType.keySet)
    got.foreach { r =>
      val revs = byType(r.getString(0)).values.toSeq
      val s = revs.sum
      val ssq = revs.map(v => v * v).sum
      // the agreed float shape: exact-decimal → correctly-rounded
      // double ONCE per moment, then fixed-arity arithmetic
      val sD = s.toDouble; val ssqD = ssq.toDouble
      assert(r.getAs[Long]("n_suppliers") == revs.length.toLong)
      assert(r.getAs[Double]("revenue") == r6Jvm(sD / 10000.0))
      assert(r.getAs[Double]("hhi") == r6Jvm(ssqD / (sD * sD)))
      assert(r.getAs[Double]("eff_suppliers") == r6Jvm((sD * sD) / ssqD))
      assert(r.getAs[Double]("top_share") ==
        r6Jvm(revs.max.toDouble / sD))
      // HHI bounds: 1/n <= hhi <= 1
      val h = r.getAs[Double]("hhi")
      assert(h >= 1.0 / revs.length - 1e-9 && h <= 1.0 + 1e-9)
    }
  }

  test("ev_power equals a brute-force moment recompute") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_type"), col("value")).collect()
      .map(r => (r.getString(0), BigInt(cents(r.getDouble(1)))))
    val rows = Analytics.evPower(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    val z = Analytics.PowerZSum
    rows.foreach { r =>
      val vs = ev.filter(_._1 == r.getString(0)).map(_._2)
      val n = vs.length.toLong
      val s = vs.sum
      val ss = vs.map(v => v * v).sum
      assert(r.getAs[Long]("n") == n)
      // the agreed float shapes, recomputed locally
      val meanC = s.toDouble / n
      val varC = (BigInt(n) * ss - s * s).toDouble / (n.toDouble * (n - 1))
      val sd = math.sqrt(varC) / 100.0
      val mdeAbs = z * sd * math.sqrt(4.0 / n.toDouble)
      val delta = meanC / 100.0
      assert(r.getAs[Double]("mean_value") == r6Jvm(meanC / 100.0))
      assert(r.getAs[Double]("sd_value") == r6Jvm(sd))
      assert(r.getAs[Double]("mde_abs") == r6Jvm(mdeAbs))
      assert(r.getAs[Double]("mde_rel") == r6Jvm(mdeAbs / (meanC / 100.0)))
      assert(r.getAs[Double]("n_per_arm_1pct") ==
        r6Jvm((2.0 * z * z * varC) / (delta * delta)))
      // sanity: detecting a 1% lift needs more samples than the MDE
      // the current population resolves (mde_rel >> 1% on this fixture)
      assert(r.getAs[Double]("mde_rel") > 0.0)
    }
  }

  test("ev_dq counts every violation class on a dirty synthetic feed") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val events = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (1L, ts(0), 1L, "view", 1.0, "{}"),              // duplicate id
      (2L, ts(0), 2L, "view", -2.0, null: String),     // negative + null
      (3L, ts(3), 1L, "view", 1.0, "not json"))        // malformed + gap
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir("evdq")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = Analytics.evDq(spark, dir).collect().head
    assert(r.getAs[Long]("n_events") == 4L)
    assert(r.getAs[Long]("n_distinct_ids") == 3L)
    assert(r.getAs[Long]("n_dup_ids") == 1L)
    assert(r.getAs[Long]("n_users") == 2L)
    assert(r.getAs[Long]("n_null_props") == 1L)
    assert(r.getAs[Long]("n_malformed_props") == 1L)
    assert(r.getAs[Long]("n_negative_values") == 1L)
    assert(r.getAs[String]("first_day") == "1970-01-01")
    assert(r.getAs[String]("last_day") == "1970-01-04")
    assert(r.getAs[Long]("n_days_present") == 2L)
    assert(r.getAs[Long]("n_days_missing") == 2L)
  }

  test("ev_dq reconciles with a brute-force audit of the fixture") {
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_id"), col("user_id"),
        unix_date(to_date(col("ts")))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val r = Analytics.evDq(spark, sf("sf0.01")).collect().head
    assert(r.getAs[Long]("n_events") == ev.length.toLong)
    assert(r.getAs[Long]("n_distinct_ids") ==
      ev.map(_._1).distinct.length.toLong)
    assert(r.getAs[Long]("n_users") == ev.map(_._2).distinct.length.toLong)
    val days = ev.map(_._3).distinct
    assert(r.getAs[Long]("n_days_present") == days.length.toLong)
    assert(r.getAs[Long]("n_days_missing") ==
      (days.max - days.min + 1 - days.length).toLong)
    // the driver fixture is clean — the audit must say so
    assert(r.getAs[Long]("n_dup_ids") == 0L)
    assert(r.getAs[Long]("n_malformed_props") == 0L)
    assert(r.getAs[Long]("n_negative_values") == 0L)
  }

  test("ev_srm equals a brute-force split census and matches ev_abtest's") {
    import graft.functions.Determinism.r6Jvm
    // local mirror of the salted md5 split (the CrossHash definition)
    def md5Long(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.substring(0, 15), 16)
    }
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_type"), col("user_id")).distinct().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val rows = Analytics.evSrm(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val users = ev.filter(_._1 == r.getString(0)).map(_._2).distinct
      val nA = users.count(u => md5Long(s"ab-v1:$u") % 2 == 0).toLong
      val nB = users.length - nA
      assert(r.getAs[Long]("n_a") == nA)
      assert(r.getAs[Long]("n_b") == nB)
      val chi2 = (BigInt(nA - nB) * BigInt(nA - nB)).toDouble / (nA + nB)
      assert(r.getAs[Double]("srm_chi2") == r6Jvm(chi2))
      assert(r.getAs[Boolean]("is_srm") == (chi2 > Analytics.SrmChi2))
    }
    // the split is the one ev_abtest runs on: a healthy deterministic
    // 50/50 hash split over this fixture must not alarm
    assert(rows.forall(!_.getAs[Boolean]("is_srm")))
  }

  test("wh_yoy equals a brute-force per-nation growth recompute") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dir = sf("sf0.001")
    val cNat = spark.read.parquet(dir + "/customer.parquet").collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Int]("c_nationkey"))
      .toMap
    val nName = spark.read.parquet(dir + "/nation.parquet").collect()
      .map(r => r.getAs[Int]("n_nationkey") -> r.getAs[String]("n_name"))
      .toMap
    val orders = spark.read.parquet(dir + "/orders.parquet")
      .select(col("o_custkey"), year(to_date(col("o_orderdate"))),
        col("o_totalprice")).collect()
      .map(r => (nName(cNat(r.getLong(0))), r.getInt(1),
        cents(r.getDouble(2))))
    val byNy = orders.groupBy(t => (t._1, t._2))
      .map { case (k, v) => k -> (v.length.toLong, v.map(_._3).sum) }
    val got = Analytics.whYoy(spark, dir).collect()
    assert(got.nonEmpty)
    assert(got.map(r => (r.getString(0), r.getInt(1))).toSet ==
      byNy.keySet)
    got.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      val (n, c) = byNy(key)
      assert(r.getAs[Long]("n_orders") == n)
      assert(r.getAs[Double]("revenue") == r6Jvm(c / 100.0))
      byNy.get((key._1, key._2 - 1)) match {
        case Some((_, pc)) =>
          assert(r.getAs[Double]("prev_revenue") == r6Jvm(pc / 100.0))
          assert(r.getAs[Double]("yoy_pct") ==
            r6Jvm((c - pc).toDouble * 100.0 / pc.toDouble))
        case None =>
          assert(r.isNullAt(r.fieldIndex("prev_revenue")))
          assert(r.isNullAt(r.fieldIndex("yoy_pct")))
      }
    }
  }

  test("prof_heavy_hitters honors the Misra–Gries guarantees") {
    val exact = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val eps = n.toDouble / (Analytics.HhCap + 1)
    val rows = Analytics.profHeavyHitters(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty && rows.length <= Analytics.HhCap)
    val sketch = rows.map(r =>
      r.getAs[Long]("partkey") -> r.getAs[Long]("est_count")).toMap
    // counters are lower bounds with bounded undercount
    sketch.foreach { case (k, c) =>
      assert(c <= exact(k), s"overcount at $k")
      assert(c >= exact(k) - eps, s"undercount beyond bound at $k")
    }
    // no false negatives above the threshold
    exact.foreach { case (k, c) =>
      if (c > eps) assert(sketch.contains(k), s"missed heavy hitter $k")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rows") == n)
      assert(r.getAs[Double]("guarantee_threshold") ==
        graft.functions.Determinism.r6Jvm(eps))
    }
  }

  test("prof_heavy_hitters_exact is the exact count table, even repartitioned") {
    val exact = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val rows = Analytics.profHeavyHittersExact(spark, sf("sf0.01")).collect()
    assert(rows.length == exact.size, "one row per distinct key")
    // counts are the true frequencies; ranks follow (count desc, key)
    val expected = exact.toSeq.sortBy { case (k, c) => (-c, k) }
    rows.zip(expected).zipWithIndex.foreach { case ((r, (k, c)), i) =>
      assert(r.getAs[Long]("rank") == i + 1)
      assert(r.getAs[Long]("partkey") == k)
      assert(r.getAs[Long]("cnt") == c, s"inexact count at key $k")
      assert(r.getAs[Long]("n_rows") == n)
    }
    // the degenerate regime is partition-independent: an adversarial
    // repartition routes through different update/merge orders and
    // must still produce the identical table
    val rep = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .select(col("l_partkey")).repartition(7)
      .agg(graft.functions.MisraGries
        .sketch(col("l_partkey"), Analytics.HhExactCap).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.key"), col("e.count")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rep == expected, "repartitioned exact-regime table diverges")
  }

  test("MisraGries guarantees survive an adversarial repartition") {
    val df = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .select(col("l_partkey")).repartition(7)
    val sk = df.agg(graft.functions.MisraGries
        .sketch(col("l_partkey"), Analytics.HhCap).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.key"), col("e.count")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = spark.read.parquet(sf("sf0.01") + "/lineitem.parquet")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("c")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eps = exact.values.sum.toDouble / (Analytics.HhCap + 1)
    sk.foreach { case (k, c) =>
      assert(c <= exact(k) && c >= exact(k) - eps) }
    exact.foreach { case (k, c) =>
      if (c > eps) assert(sk.contains(k)) }
    // majority-element special case: cap = 1 over a skewed column
    import spark.implicits._
    val maj = (Seq.fill(60)(7L) ++ (1L to 40L)).toDF("k").repartition(5)
      .agg(graft.functions.MisraGries.sketch(col("k"), 1).as("sk"))
      .select(explode(col("sk")).as("e")).select(col("e.key"))
      .collect().map(_.getLong(0)).toSeq
    assert(maj == Seq(7L), s"majority element: $maj")
  }

  test("wh_returns equals a brute-force supplier rollup") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dir = sf("sf0.001")
    val li = spark.read.parquet(dir + "/lineitem.parquet").collect()
      .map(r => (r.getAs[Long]("l_suppkey"),
        r.getAs[String]("l_returnflag") == "R",
        BigInt(cents(r.getAs[Double]("l_extendedprice"))) *
          (100 - cents(r.getAs[Double]("l_discount")))))
    val rows = Analytics.whReturns(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("suppkey")).toSet == li.map(_._1).toSet)
    rows.foreach { r =>
      val g = li.filter(_._1 == r.getAs[Long]("suppkey"))
      val n = g.length.toLong
      val nRet = g.count(_._2).toLong
      val rev = g.map(_._3).sum
      val retRev = g.filter(_._2).map(_._3).sum
      assert(r.getAs[Long]("n_lines") == n)
      assert(r.getAs[Long]("n_returned") == nRet)
      assert(r.getAs[Double]("return_rate") == r6Jvm(nRet.toDouble / n))
      assert(r.getAs[Double]("revenue") == r6Jvm(rev.toDouble / 10000.0))
      assert(r.getAs[Double]("returned_revenue") ==
        r6Jvm(retRev.toDouble / 10000.0))
      assert(r.getAs[Double]("returned_rev_share") ==
        r6Jvm(retRev.toDouble / rev.toDouble))
    }
  }

  test("prof_gini equals the rank form and the pairwise-difference identity") {
    import graft.functions.Determinism.r6Jvm
    def cents(x: Double): Long = java.math.BigDecimal.valueOf(x * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    val dir = sf("sf0.001")
    val rows = Analytics.profGini(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Analytics.GiniCols
      .map { case (t, c) => s"$t.$c" }.toSet)
    Analytics.GiniCols.foreach { case (table, c) =>
      val src =
        if (table == "events")
          graft.streaming.StreamingStats.events(spark, dir)
        else spark.read.parquet(s"$dir/$table.parquet")
      val xs = src.select(col(c)).collect()
        .map(r => cents(r.getDouble(0))).sorted
      val n = xs.length.toLong
      val s = xs.map(BigInt(_)).sum
      // T = Σ rank·x over the ascending sort
      val t = xs.zipWithIndex
        .map { case (x, i) => BigInt(x) * (i + 1) }.sum
      val num = 2 * t - BigInt(n + 1) * s
      // independent identity: Σ_{i,j} |xi − xj| == 2·(2T − (n+1)·S)
      val pairAbs = {
        var acc = BigInt(0)
        var cum = BigInt(0)
        xs.zipWithIndex.foreach { case (x, i) =>
          acc += BigInt(x) * i - cum; cum += x }
        acc * 2
      }
      assert(pairAbs == 2 * num, s"identity at $table.$c")
      val r = rows(s"$table.$c")
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("mean") ==
        r6Jvm(s.toDouble / n.toDouble / 100.0))
      assert(r.getAs[Double]("gini") ==
        r6Jvm(num.toDouble / (BigInt(n) * s).toDouble))
      val gv = r.getAs[Double]("gini")
      assert(gv >= 0.0 && gv <= 1.0)
    }
  }

  test("wh_small_orders matches a brute-force per-part threshold recompute") {
    val d = sf("sf0.01")
    val li = spark.read.parquet(d + "/lineitem.parquet")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 100),
        math.round(r.getDouble(2) * 100)))
    val brand = spark.read.parquet(d + "/part.parquet")
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byPart = li.groupBy(_._1)
      .map { case (k, v) => k -> (v.length.toLong, v.map(_._2).sum) }
    val want = li
      .filter { case (pk, q, _) =>
        val (n, sumQ) = byPart(pk); q * n * 5 < sumQ }
      .groupBy(t => brand(t._1))
      .map { case (b, v) =>
        b -> (v.length.toLong, v.map(_._3).sum) }
    val got = graft.operators.Analytics.whSmallOrders(spark, d).collect()
    assert(got.nonEmpty && got.length == want.size)
    got.foreach { r =>
      val (n, cents) = want(r.getString(0))
      assert(r.getAs[Long]("n_small_lines") == n)
      assert(r.getAs[Double]("small_revenue") ==
        graft.functions.Determinism.r6Jvm(cents.toDouble / 100.0))
      assert(r.getAs[Double]("avg_yearly_revenue") ==
        graft.functions.Determinism.r6Jvm(cents.toDouble / 100.0 / 7.0))
    }
  }

  test("wh_priority_sla matches a brute-force any-late-line recompute") {
    val d = sf("sf0.01")
    val orders = spark.read.parquet(d + "/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("od")).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getDate(2).toLocalDate.toEpochDay))
      .toMap
    val lags = spark.read.parquet(d + "/lineitem.parquet")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .collect()
      .map(r => (r.getLong(0),
        r.getDate(1).toLocalDate.toEpochDay - orders(r.getLong(0))._2))
    val byOrder = lags.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    val want = byOrder.toSeq.groupBy(t => orders(t._1)._1)
      .map { case (p, os) =>
        p -> (os.size.toLong,
          os.count(_._2.exists(_ > graft.operators.Analytics.SlaDays)).toLong,
          os.flatMap(_._2).min, os.flatMap(_._2).max)
      }
    val got = graft.operators.Analytics.whPrioritySla(spark, d).collect()
    assert(got.length == want.size && got.length == 5)
    got.foreach { r =>
      val (n, late, mn, mx) = want(r.getString(0))
      assert(r.getAs[Long]("n_orders") == n)
      assert(r.getAs[Long]("n_late_orders") == late,
        s"late at ${r.getString(0)}")
      assert(r.getAs[Long]("min_lag_days") == mn)
      assert(r.getAs[Long]("max_lag_days") == mx)
      assert(r.getAs[Double]("late_rate") ==
        graft.functions.Determinism.r6Jvm(late.toDouble / n))
    }
    // the SLA must split orders (vacuity guard both ways)
    val lateTotal = got.map(_.getAs[Long]("n_late_orders")).sum
    assert(lateTotal > 0 &&
      lateTotal < got.map(_.getAs[Long]("n_orders")).sum)
  }

  test("wh_idle_customers matches a brute-force recency anti-join recompute") {
    val d = sf("sf0.01")
    val orders = spark.read.parquet(d + "/orders.parquet")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("od"))
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val mx = orders.map(_._2).max
    val cutoff = mx.minusDays(graft.operators.Analytics.IdleDays)
    val recent = orders.filter(_._2.isAfter(cutoff)).map(_._1).toSet
    val custs = spark.read.parquet(d + "/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    val want = custs
      .filter(c => c._3 > 0 && !recent.contains(c._1))
      .groupBy(_._2)
      .map { case (s, v) => s -> (v.length.toLong, v.map(_._3).sum) }
    val got = graft.operators.Analytics.whIdleCustomers(spark, d).collect()
    assert(got.nonEmpty && got.length == want.size)
    got.foreach { r =>
      val (n, cents) = want(r.getString(0))
      assert(r.getAs[Long]("n_idle") == n, s"idle count at ${r.getString(0)}")
      assert(r.getAs[Double]("idle_balance") ==
        graft.functions.Determinism.r6Jvm(cents.toDouble / 100.0))
    }
    // the window must actually split the base (vacuity guard)
    val totalPos = custs.count(_._3 > 0).toLong
    assert(got.map(_.getAs[Long]("n_idle")).sum > 0 &&
      got.map(_.getAs[Long]("n_idle")).sum < totalPos)
  }

  test("wh_zorder: the interleave expression is the bit interleave") {
    import spark.implicits._
    // local reference: bit i of a → position 2i+1, bit i of b → 2i
    def ref(a: Long, b: Long): Long =
      (0 until graft.operators.Analytics.ZorderBits).map { i =>
        (((a >> i) & 1L) << (2 * i + 1)) | (((b >> i) & 1L) << (2 * i))
      }.sum
    val cases = Seq((3L, 5L), (0L, 0L), (255L, 0L), (0L, 255L),
      (255L, 255L), (170L, 85L), (1L, 128L))
    // drive the generated arithmetic through Spark SQL exactly as the
    // query does (the private generator is exercised via a z-expression
    // reconstructed from the shipped whZorderSql constant-free form)
    val got = cases.toDF("a", "b").selectExpr(
      (0 until graft.operators.Analytics.ZorderBits).map { i =>
        s"(((a div ${1L << i}) % 2) * ${1L << (2 * i + 1)}" +
          s" + ((b div ${1L << i}) % 2) * ${1L << (2 * i)})"
      }.mkString("(", " + ", ") AS z")).collect().map(_.getLong(0))
    assert(got.toSeq == cases.map { case (a, b) => ref(a, b) })
    // and the full query's z arithmetic agrees: (255,255) fills 16 bits
    assert(ref(255L, 255L) == (1L << 16) - 1)
  }

  test("wh_zorder: pruning geometry — z-order prunes both dims, " +
    "single-dim sorts prune only their own axis") {
    val rows = graft.operators.Analytics.whZorder(spark, sf("sf0.01"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(rows.size == 9)
    def frac(l: String, w: String): Double = rows((l, w))._4
    // a sort prunes NOTHING on the axis it never organized
    assert(frac("key_sorted", "date") == 1.0)
    assert(frac("time_sorted", "cust") == 1.0)
    // each sort prunes its own axis to ~a quartile (+ boundary files)
    assert(frac("key_sorted", "cust") <= 0.35)
    assert(frac("time_sorted", "date") <= 0.35)
    // the z-order claim itself: on the two-dim workload it beats BOTH
    // single-dim layouts (this is the layout decision the query exists
    // to justify)
    assert(frac("zorder", "both") < frac("key_sorted", "both"))
    assert(frac("zorder", "both") < frac("time_sorted", "both"))
    // internal consistency: fraction = scanned / (files · queries)
    rows.foreach { case (_, (nf, nq, fs, fr)) =>
      assert(nf <= graft.operators.Analytics.ZorderFiles && nq > 0)
      assert(fs <= nf * nq && fs >= 0)
      assert(fr == graft.functions.Determinism.r6Jvm(
        fs.toDouble / (nf * nq)))
    }
  }

  test("wh_compaction equals a local time-ordered linear pack and the " +
    "plan is contiguous, total-preserving, and actually coalesces") {
    val days = spark.read.parquet(s"${sf()}/lineitem.parquet")
      .select(to_date(col("l_shipdate")).as("day")).collect()
      .map(_.getDate(0).toString)
    val manifest = days.groupBy(identity).map { case (d, xs) =>
      d -> xs.length.toLong
    }.toSeq.sortBy(_._1)
    val t = Analytics.CompactTargetRows
    var cum = 0L
    val packed = manifest.map { case (d, r) =>
      val bin = cum / t; cum += r; (bin, d, r)
    }
    val want = packed.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (bin, fs) =>
        (bin, fs.length.toLong, fs.map(_._3).sum,
          fs.map(_._2).min, fs.map(_._2).max,
          graft.functions.Determinism
            .r6Jvm(fs.map(_._3).sum.toDouble / t.toDouble))
    }
    val got = Analytics.whCompaction(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getDouble(5)))
    assert(got.toSeq == want, "plan diverges from the local pack")
    // contiguity in time: bins never interleave eras
    got.sliding(2).foreach { p =>
      if (p.length == 2) assert(p(0)._5 < p(1)._4,
        s"bins ${p(0)._1} and ${p(1)._1} overlap in time")
    }
    // total-preserving and genuinely coalescing
    assert(got.map(_._3).sum == manifest.map(_._2).sum)
    assert(got.length.toLong < manifest.length.toLong,
      "no coalescing happened — raise the fixture or lower the target")
    // the linear rule's bound: a bin opens before cum crosses its
    // (bin+1)*target boundary, so rows < target + largest single file
    val maxFile = manifest.map(_._2).max
    got.foreach { case (b, _, rows, _, _, _) =>
      assert(rows < t + maxFile, s"bin $b overflows the linear bound")
    }
  }
}
