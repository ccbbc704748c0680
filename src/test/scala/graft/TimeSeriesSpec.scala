package graft

import org.apache.spark.sql.functions._
import graft.operators.TimeSeries
import graft.streaming.StreamingStats

/** Time-series operators: rolling-window correctness against a
  * brute-force recompute, and the bounded-window-input plan shape.
  */
class TimeSeriesSpec extends SparkSpec {

  test("ev_rolling matches a brute-force 7-day trailing recompute") {
    val rows = TimeSeries.evRolling(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    // brute force: per (event_type, day) daily rows, then for each row
    // sum all rows of the same type within the trailing 7-day range
    val daily = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getLong(2), r.getLong(3)))
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val day = java.time.LocalDate.parse(r.getAs[String]("day"))
      val in = daily.filter { case (t, d, _, _) =>
        t == et && !d.isAfter(day) &&
          d.isAfter(day.minusDays(TimeSeries.RollDays + 1L))
      }
      assert(r.getAs[Long]("roll_events") == in.map(_._3).sum,
        s"roll_events mismatch at ($et, $day)")
      val cents = in.map(_._4).sum
      assert(math.abs(r.getAs[Double]("roll_value") - cents / 100.0) < 1e-6)
    }
  }

  test("asofJoin picks latest prior, includes equal-ts, nulls no-match") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val left = Seq((1L, 10L, t(100)), (2L, 10L, t(200)), (3L, 10L, t(300)),
      (4L, 20L, t(50)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((100L, 10L, t(100)), (101L, 10L, t(250)))
      .toDF("rid", "user_id", "ts")
      .withColumn("r_ts", col("ts"))
    val out = TimeSeries.asofJoin(left, right, "user_id", "ts", "rid",
        Seq("rid", "r_ts"))
      .select(col("event_id"), col("asof.rid"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(100L)) // equal-ts right row matches (<=)
    assert(out(2L) == Some(100L)) // latest prior, not the later one
    assert(out(3L) == Some(101L)) // advances to the newer right row
    assert(out(4L) == None)       // no prior right row → null survives
  }

  test("fixture invariant: no (user, ts) ties on the as-of right side") {
    // ev_asof's DuckDB ASOF oracle picks an ARBITRARY row among right
    // rows tied on (user_id, ts); asofJoin picks the highest tieBreak.
    // They agree only while no such tie exists — pin that here so a
    // future fixture change fails loudly instead of flaking the gate.
    val dups = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("user_id"), col("ts")).count()
      .filter(col("count") > 1).count()
    assert(dups == 0L)
  }

  test("ev_asof plans a single keyed window, no nested-loop join") {
    val plan = TimeSeries.evAsof(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"as-of must not plan a theta join:\n$plan")
  }

  test("ev_funnel matches a brute-force ordered-stage fold") {
    val got = TimeSeries.evFunnel(spark, sf("sf0.01")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val events = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    events.groupBy(_._1).foreach { case (user, evs) =>
      val sorted = evs.sortBy(_._3)
      val t1 = sorted.collectFirst { case (_, "view", us) => us }
      val t2 = t1.flatMap(v => sorted.collectFirst {
        case (_, "click", us) if us > v => us })
      val t3 = t2.flatMap(c => sorted.collectFirst {
        case (_, "purchase", us) if us > c => us })
      val r = got(user)
      assert(Option(r.get(1)).map(_.asInstanceOf[Long]) == t1, s"u$user view")
      assert(Option(r.get(2)).map(_.asInstanceOf[Long]) == t2, s"u$user click")
      assert(Option(r.get(3)).map(_.asInstanceOf[Long]) == t3, s"u$user buy")
      assert(r.getAs[Int]("stage") == Seq(t1, t2, t3).flatten.length)
    }
  }

  test("rangeJoin emits exactly the in-window pairs, equi-join shaped") {
    import spark.implicits._
    val left = Seq((1L, 10L, 1000L), (2L, 10L, 5000L), (3L, 20L, 1000L))
      .toDF("event_id", "user_id", "us")
    val right = Seq((10L, 900L, 1L), (10L, 999L, 2L), (10L, 1000L, 3L),
      (10L, 4900L, 4L), (20L, 2000L, 5L))
      .toDF("user_id", "us", "tag")
    // window [us-200, us): for left 1 expect tags 1,2 (900, 999 — not
    // 1000, the boundary is exclusive); left 2 expects 4; left 3 none
    val pairs = TimeSeries.rangeJoin(left, right, "user_id",
        -200L, 0L, Seq("tag"))
      .select(col("event_id"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 1L), (1L, 2L), (2L, 4L)))
    // pre-epoch (negative) timestamps must bucket by FLOOR division —
    // a truncating div would put -150 and -50 in different buckets
    val negL = Seq((9L, 30L, -50L)).toDF("event_id", "user_id", "us")
    val negR = Seq((30L, -150L, 7L)).toDF("user_id", "us", "tag")
    val negPairs = TimeSeries.rangeJoin(negL, negR, "user_id",
        -200L, 0L, Seq("tag"))
      .select(col("event_id"), col("tag")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(negPairs == Set((9L, 7L)))
    val plan = TimeSeries.evRangeJoin(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join must stay an equi-join:\n$plan")
  }

  test("ev_retention: offset-0 equals cohort size, user-days conserved") {
    val rows = TimeSeries.evRetention(spark, sf("sf0.01")).collect()
    val ud = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct().collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    val cohortOf = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    // every (cohort, offset) cell counts exactly the user-days in it
    assert(rows.map(_.getAs[Long]("n_users")).sum == ud.length)
    val zero = rows.filter(_.getAs[Long]("day_offset") == 0L)
      .map(r => r.getAs[String]("cohort_day") -> r.getAs[Long]("n_users"))
      .toMap
    cohortOf.values.groupBy(identity).foreach { case (day, users) =>
      assert(zero(day.toString) == users.size,
        s"cohort $day offset 0 must equal cohort size")
    }
  }

  test("ev_funnel runs all three window passes on ONE shuffle") {
    // the design claim: chained windows + final groupBy reuse a single
    // user_id partitioning — one Exchange total (plus nothing else
    // before the presentation sort)
    val plan = TimeSeries.evFunnel(spark, sf("sf0.01"))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n$plan")
  }

  test("ev_anomaly matches a brute-force trailing z-score recompute") {
    val rows = TimeSeries.evAnomaly(spark, sf("sf0.01")).collect()
    val daily = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    var defined = 0
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val day = java.time.LocalDate.parse(r.getAs[String]("day"))
      val base = daily.filter { case (t, d, _) =>
        t == et && d.isBefore(day) &&
          !d.isBefore(day.minusDays(TimeSeries.AnomalyBaselineDays.toLong))
      }.map(_._3.toDouble)
      assert(r.getAs[Long]("baseline_days") == base.length)
      if (base.length >= TimeSeries.AnomalyMinBaseline) {
        val mean = base.sum / base.length
        val varPop = base.map(x => (x - mean) * (x - mean)).sum / base.length
        if (varPop > 0) {
          defined += 1
          val z = (r.getAs[Long]("n_events") - mean) / math.sqrt(varPop)
          assert(math.abs(r.getAs[Double]("z_score") - z) < 1e-5,
            s"z mismatch at ($et, $day)")
          assert(r.getAs[Boolean]("is_anomaly") ==
            (math.abs(z) >= TimeSeries.AnomalyZ))
        }
      } else assert(!r.getAs[Boolean]("is_anomaly"))
    }
    assert(defined > 50, "fixture should yield plenty of defined scores")
  }

  test("ev_mad matches a brute-force trailing median/MAD recompute") {
    val rows = TimeSeries.evMad(spark, sf("sf0.01")).collect()
    val daily = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getLong(2)))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val m = s.length
      if (m % 2 == 1) s(m / 2) else (s(m / 2 - 1) + s(m / 2)) / 2.0
    }
    var defined = 0
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val day = java.time.LocalDate.parse(r.getAs[String]("day"))
      val base = daily.filter { case (t, d, _) =>
        t == et && d.isBefore(day) &&
          !d.isBefore(day.minusDays(TimeSeries.AnomalyBaselineDays.toLong))
      }.map(_._3.toDouble)
      assert(r.getAs[Long]("baseline_days") == base.length)
      if (base.nonEmpty) {
        val med = median(base.toSeq)
        val mad = median(base.map(x => math.abs(x - med)).toSeq)
        assert(math.abs(r.getAs[Double]("baseline_median") - med) < 1e-6)
        assert(math.abs(r.getAs[Double]("baseline_mad") - mad) < 1e-6)
        if (base.length >= TimeSeries.AnomalyMinBaseline && mad > 0) {
          defined += 1
          assert(r.getAs[Boolean]("is_anomaly") ==
            (math.abs(r.getAs[Long]("n_events") - med) >
              TimeSeries.MadK * mad))
        } else assert(!r.getAs[Boolean]("is_anomaly"))
      } else assert(!r.getAs[Boolean]("is_anomaly"))
    }
    assert(defined > 50, "fixture should yield plenty of defined scores")
  }

  test("ev_forecast reads the same-weekday-last-week value, not a row offset") {
    val rows = TimeSeries.evForecast(spark, sf("sf0.01")).collect()
    val daily = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r.getLong(2))
      .toMap
    var present = 0
    rows.foreach { r =>
      val key = (r.getAs[String]("event_type"),
        java.time.LocalDate.parse(r.getAs[String]("day")).minusDays(7))
      daily.get(key) match {
        case Some(n7) =>
          present += 1
          assert(r.getAs[Long]("forecast") == n7)
          assert(r.getAs[Long]("abs_err") ==
            math.abs(r.getAs[Long]("n_events") - n7))
        case None => assert(r.isNullAt(r.fieldIndex("forecast")))
      }
    }
    assert(present > 100, "most days should have a week-earlier baseline")
  }

  test("ev_active_users matches a brute-force trailing-7-day recompute") {
    val rows = TimeSeries.evActiveUsers(spark, sf("sf0.01")).collect()
    val ud = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .collect().map(r => (r.getLong(0), r.getDate(1).toLocalDate))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val day = java.time.LocalDate.parse(r.getAs[String]("day"))
      val dau = ud.count(_._2 == day)
      val wau = ud.filter { case (_, d) =>
        !d.isAfter(day) && d.isAfter(day.minusDays(7)) }
        .map(_._1).distinct.length
      assert(r.getAs[Long]("dau") == dau, s"dau at $day")
      assert(r.getAs[Long]("wau7") == wau, s"wau at $day")
      assert(r.getAs[Long]("wau7") >= r.getAs[Long]("dau"))
    }
  }

  test("ev_paths matches a brute-force per-user trigram count") {
    val events = graft.streaming.StreamingStats
      .events(spark, sf("sf0.01"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getLong(2), r.getString(3)))
    val want = events.groupBy(_._1).values.flatMap { g =>
      g.sortBy(e => (e._2, e._3)).map(_._4).sliding(3)
        .filter(_.length == 3).map(w => (w(0), w(1), w(2)))
    }.toSeq.groupBy(identity).map { case (p, xs) => p -> xs.length.toLong }
    // tiebreak on the component TUPLE (the operator's contract), then
    // render — concat order and tuple order can differ on prefixes
    val wantTop = want.toSeq
      .sortBy { case ((a, b, c), n) => (-n, a, b, c) }
      .take(TimeSeries.PathTopK)
      .map { case ((a, b, c), n) => (s"$a > $b > $c", n) }
    val got = TimeSeries.evPaths(spark, sf("sf0.01")).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Long]("n_paths")))
    assert(got.toSeq == wantTop, s"got ${got.take(3).toSeq}…")
  }

  test("ev_paths top-k window runs over the aggregate, not the event stream") {
    val plan = TimeSeries.evPaths(spark, sf("sf0.01"))
      .queryExecution.optimizedPlan.toString
    // the global rank must consume a Limit of the aggregated paths —
    // the plan shape that keeps the single-partition step k-bounded
    assert(plan.contains("Limit"), s"expected a Limit below the rank:\n$plan")
  }

  test("ev_funnel_time percentiles are exact rank-ceil latencies") {
    val r = TimeSeries.evFunnelTime(spark, sf("sf0.01"))
      .collect().head
    val deltas = TimeSeries.evFunnel(spark, sf("sf0.01"))
      .filter(col("purchase_us").isNotNull)
      .select((col("purchase_us") - col("view_us")).as("d"))
      .collect().map(_.getLong(0)).sorted
    val n = deltas.length
    assert(n > 0, "fixture must convert at least one user")
    assert(r.getAs[Long]("n_converted") == n)
    assert(r.getAs[Long]("p50_us") == deltas((n + 1) / 2 - 1))
    assert(r.getAs[Long]("p90_us") == deltas((9 * n + 9) / 10 - 1))
    val mean = deltas.map(BigInt(_)).sum.toDouble / n / 1000000.0
    assert(math.abs(r.getAs[Double]("mean_sec") - mean) < 1e-6)
    // funnel latencies are positive by the strictly-after stage rule
    assert(deltas.head > 0)
  }

  test("ev_session_stats summarizes the session rows exactly") {
    val r = TimeSeries.evSessionStats(spark, sf("sf0.01")).collect().head
    val s = StreamingStats.evSessions(spark, sf("sf0.01"))
      .select(col("user_id"), col("n_events"), col("duration_sec"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    val durs = s.map(_._3).sorted
    val n = s.length
    assert(r.getAs[Long]("n_sessions") == n)
    assert(r.getAs[Long]("n_users") == s.map(_._1).distinct.length)
    assert(r.getAs[Long]("bounces") == s.count(_._2 == 1L))
    assert(r.getAs[Long]("p50_duration_sec") == durs((n + 1) / 2 - 1))
    assert(r.getAs[Long]("p90_duration_sec") == durs((9 * n + 9) / 10 - 1))
    assert(r.getAs[Long]("max_duration_sec") == durs.last)
    val mean = s.map(_._2).sum.toDouble / n
    assert(math.abs(r.getAs[Double]("mean_events") - mean) < 1e-6)
  }

  test("ev_rolling window input is the aggregated per-day table") {
    // the RANGE window must consume the (event_type, day) aggregate —
    // O(types × days) rows — never the raw event stream
    val plan = TimeSeries.evRolling(spark, sf("sf0.01"))
      .queryExecution.optimizedPlan.toString
    val windowIdx = plan.indexOf("Window")
    val aggIdx = plan.indexOf("Aggregate")
    assert(windowIdx >= 0 && aggIdx >= 0 && windowIdx < aggIdx,
      s"expected Window above Aggregate in:\n$plan")
  }
  test("ev_gaps matches a local inter-arrival recompute") {
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val gaps = ev.groupBy(e => (e._1, e._2)).values.flatMap { es =>
      val sorted = es.sortBy(e => (e._3, e._4))
      sorted.zip(sorted.drop(1)).map { case (a, b) => (a._2, b._3 - a._3) }
    }.toSeq
    val byType = gaps.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val got = TimeSeries.evGaps(spark, sf("sf0.01")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, gs) =>
      val r = got(t)
      val n = gs.length.toLong
      assert(r.getAs[Long]("n_gaps") == n, s"$t n")
      assert(r.getAs[Long]("max_gap_us") == gs.max, s"$t max")
      val sorted = gs.sorted
      def rankCeil(num: Int, den: Int): Long =
        sorted(((num * n + den - 1) / den - 1).toInt)
      assert(r.getAs[Long]("p50_gap_us") == rankCeil(1, 2), s"$t p50")
      assert(r.getAs[Long]("p90_gap_us") == rankCeil(9, 10), s"$t p90")
      val mean = gs.map(BigInt(_)).sum.toDouble / n / 1000000.0
      assert(math.abs(r.getAs[Double]("mean_gap_sec") - mean) < 1e-6)
    }
  }
  test("ev_rfm buckets every user once and reconciles totals") {
    val segs = TimeSeries.evRfm(spark, sf("sf0.01")).collect()
    // every user exactly once, all buckets in range
    val users = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id")).distinct().count()
    assert(segs.map(_.getAs[Long]("n_users")).sum == users)
    segs.foreach { r =>
      Seq("r_bucket", "f_bucket", "m_bucket").foreach(b =>
        assert(r.getAs[Int](b) >= 1 && r.getAs[Int](b) <= 3))
    }
    // the segmentation discriminates on the fixture: >1 value per axis
    assert(segs.map(_.getAs[Int]("r_bucket")).distinct.length > 1)
    assert(segs.map(_.getAs[Int]("f_bucket")).distinct.length > 1)
    assert(segs.map(_.getAs[Int]("m_bucket")).distinct.length > 1)
    // totals reconcile to the corpus
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
    assert(segs.map(_.getAs[Long]("sum_events")).sum == ev.count())
    val cents = ev.filter(col("event_type") === "purchase")
      .select(sum(round(col("value") * 100).cast("long")))
      .collect()(0).getLong(0)
    assert(segs.map(_.getAs[Long]("total_cents")).sum == cents)
  }
  test("ev_markov rows are a stochastic matrix over observed transitions") {
    val rows = TimeSeries.evMarkov(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    // row probabilities sum to ~1 per from_type and n to from_total
    rows.groupBy(_.getString(0)).foreach { case (_, rs) =>
      val total = rs.head.getAs[Long]("from_total")
      assert(rs.map(_.getAs[Long]("n")).sum == total)
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-4)
      rs.foreach(r => assert(r.getAs[Double]("p") > 0 &&
        r.getAs[Double]("p") <= 1.0))
    }
    // transition count reconciles: per-user events minus one each
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
    val users = ev.select(col("user_id")).distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum == ev.count() - users)
  }
  test("ev_coverage reconciles span arithmetic; gaps surface on a hole") {
    val rows = TimeSeries.evCoverage(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    val ev = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
    assert(rows.map(_.getAs[Long]("n_events")).sum == ev.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("span_days") ==
        r.getAs[Long]("days_present") + r.getAs[Long]("days_missing"))
      assert(r.getAs[Long]("days_missing") >= 0)
      assert(r.getAs[Long]("min_day_events") >= 1) // present days have data
    }
    // synthesize a feed with a silent week: the audit must count it
    import spark.implicits._
    val holes = (Seq.range(0, 10) ++ Seq.range(17, 20))
      .map(d => (java.sql.Timestamp.valueOf(f"2024-02-${d + 1}%02d 12:00:00"),
        1L, d.toLong, "sensor"))
      .toDF("ts", "user_id", "event_id", "event_type")
    holes.createOrReplaceTempView("hole_events")
    val audited = holes
      .groupBy(col("event_type"),
        unix_date(to_date(col("ts"))).as("day_num"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("event_type"))
      .agg(min(col("day_num")).as("mn"), max(col("day_num")).as("mx"),
        count(lit(1)).as("days_present"))
      .select(((col("mx") - col("mn") + 1).cast("long") -
        col("days_present")).as("days_missing"))
      .collect()(0).getLong(0)
    assert(audited == 7L)
  }

  test("ev_type_overlap matches a local distinct-user intersection") {
    val ut = graft.streaming.StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byType = ut.groupBy(_._2).map { case (t, g) =>
      t -> g.map(_._1).toSet }
    val got = graft.operators.TimeSeries.evTypeOverlap(spark, sf("sf0.01"))
      .collect()
    assert(got.nonEmpty)
    // every observed pair matches the set intersection; absent pairs
    // really share nobody
    val seen = got.map(r => (r.getString(0), r.getString(1))).toSet
    got.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val (ua, ub) = (byType(a), byType(b))
      val both = (ua & ub).size.toLong
      assert(r.getAs[Long]("users_both") == both, s"$a~$b both")
      assert(r.getAs[Long]("users_a") == ua.size.toLong, s"$a~$b a")
      assert(r.getAs[Long]("users_b") == ub.size.toLong, s"$a~$b b")
      assert(math.abs(r.getAs[Double]("jaccard") -
        both.toDouble / (ua.size + ub.size - both)) < 1e-6)
    }
    for (a <- byType.keys; b <- byType.keys if a < b && !seen((a, b)))
      assert((byType(a) & byType(b)).isEmpty, s"missing pair $a~$b")
  }

  test("ev_cusum equals a brute-force cumulative-deviation scan") {
    import graft.functions.Determinism.r6Jvm
    val rows = TimeSeries.evCusum(spark, sf("sf0.01")).collect()
    val daily = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val types = daily.map(_._1).distinct
    assert(rows.length == types.length && rows.nonEmpty)
    rows.foreach { r =>
      val et = r.getAs[String]("event_type")
      val ds = daily.filter(_._1 == et)
      val counts = ds.map(t => t._2 -> t._3).toMap
      val mn = ds.map(_._2).min
      val mx = ds.map(_._2).max
      val dDays = mx - mn + 1
      val total = ds.map(_._3).sum
      var cum = 0L
      var peak = -1L
      var peakDay = 0
      (mn to mx).foreach { day =>
        cum += counts.getOrElse(day, 0L)
        val dev = math.abs(dDays * cum - (day - mn + 1).toLong * total)
        if (dev > peak) { peak = dev; peakDay = day }
      }
      assert(r.getAs[Int]("n_days") == dDays, s"n_days at $et")
      assert(r.getAs[Long]("total") == total, s"total at $et")
      assert(r.getAs[Long]("peak_dev") == peak, s"peak at $et")
      assert(r.getAs[String]("change_day") ==
        java.time.LocalDate.ofEpochDay(peakDay.toLong).toString,
        s"change_day at $et")
      assert(r.getAs[Double]("cusum") ==
        r6Jvm(peak.toDouble / (dDays.toDouble * total)), s"cusum at $et")
    }
  }

  test("ev_survival matches a brute-force Kaplan–Meier recompute") {
    import graft.functions.Determinism.r6Jvm
    val rows = TimeSeries.evSurvival(spark, sf("sf0.01"))
      .collect()
    assert(rows.nonEmpty)
    val users = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("user_id"))
      .agg(min(unix_date(to_date(col("ts")))).as("f"),
        max(unix_date(to_date(col("ts")))).as("l"),
        min(when(col("event_type") === TimeSeries.SurvivalEvent,
          unix_date(to_date(col("ts"))))).as("fp"))
      .collect()
      .map(r => (r.getInt(1), r.getInt(2),
        if (r.isNullAt(3)) None else Some(r.getInt(3))))
    val obs = users.map { case (f, l, fp) =>
      fp match {
        case Some(p) => (p - f, false)
        case None => (l - f, true)
      }
    }
    val byT = obs.groupBy(_._1).map { case (t, xs) =>
      t -> (xs.count(!_._2).toLong, xs.count(_._2).toLong)
    }
    val times = byT.keys.toSeq.sorted
    var atRisk = obs.length.toLong
    var q = 0L
    var dead = false
    val expected = times.flatMap { t =>
      val (d, cns) = byT(t)
      val row = if (d > 0) {
        if (d < atRisk)
          q += java.math.BigDecimal
            .valueOf(math.log((atRisk - d).toDouble / atRisk) *
              TimeSeries.KmScale)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        else dead = true
        val s =
          if (dead) 0.0
          else r6Jvm(math.exp(q.toDouble / TimeSeries.KmScale.toDouble))
        Some((t, atRisk, d, cns, s))
      } else None
      atRisk -= (d + cns)
      row
    }
    val got = rows.map(r => (r.getAs[Int]("t_days"),
      r.getAs[Long]("n_risk"), r.getAs[Long]("n_deaths"),
      r.getAs[Long]("n_censored"), r.getAs[Double]("survival"))).toSeq
    assert(got == expected)
    // the curve is a survival function: non-increasing from ≤ 1
    val surv = rows.map(_.getAs[Double]("survival"))
    assert(surv.head <= 1.0 + 1e-9)
    surv.sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-12)
      case _ => ()
    }
  }

  test("ev_survival right-censors never-converted users") {
    // the driver fixture has no never-purchasers, so censoring is
    // pinned on a constructed feed: u3 never converts (leaves the
    // risk set at its censor time without a death), u4 converts last
    // (risk set of 1 → wiped → survival exactly 0)
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    val events = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(2), 1L, "purchase", 1.0, "{}"),
      (3L, ts(0), 2L, "view", 1.0, "{}"),
      (4L, ts(2), 2L, "purchase", 1.0, "{}"),
      (5L, ts(0), 3L, "view", 1.0, "{}"),
      (6L, ts(5), 3L, "click", 1.0, "{}"),
      (7L, ts(0), 4L, "view", 1.0, "{}"),
      (8L, ts(8), 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir("surv")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = TimeSeries.evSurvival(spark, dir).collect()
      .map(r => (r.getAs[Int]("t_days"), r.getAs[Long]("n_risk"),
        r.getAs[Long]("n_deaths"), r.getAs[Long]("n_censored"),
        r.getAs[Double]("survival"))).toSeq
    // t=2: 2 of 4 convert → S=0.5 (micro-nat path rounds back to 0.5)
    // t=5: censor only — no row; t=8: last at-risk converts → S=0
    assert(got == Seq((2, 4L, 2L, 0L, 0.5), (8, 1L, 1L, 0L, 0.0)))
  }

  test("ev_attribution allocates every purchase's cents exactly once") {
    val ev = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("event_type"), col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val purchases = ev.filter(_._1 == "purchase")
    val clicks = ev.filter(_._1 == "click")
    // brute force: per purchase, window clicks ranked most-recent
    // first; largest-remainder split; roll up by click day
    val byDay = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      .withDefaultValue((0L, 0L)) // (credits, cents)
    val purchasesByDay = scala.collection.mutable
      .Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    var attributedTotal = 0L
    var touchedTotal = 0L
    purchases.foreach { case (_, pid, user, pus, cents) =>
      val prior = clicks.filter(c => c._3 == user &&
          c._4 >= pus + TimeSeries.RangeLoUs &&
          c._4 < pus + TimeSeries.RangeHiUs)
        .sortBy(c => (-c._4, c._2))
      if (prior.nonEmpty) {
        val n = prior.length
        touchedTotal += cents
        prior.zipWithIndex.foreach { case (c, i) =>
          val w = cents / n + (if (i < cents % n) 1L else 0L)
          attributedTotal += w
          val day = c._4 / 86400000000L
          val (cr, ct) = byDay(day)
          byDay(day) = (cr + 1, ct + w)
          purchasesByDay(day) = purchasesByDay(day) + pid
        }
      }
    }
    val rows = TimeSeries.evAttribution(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    // the books balance: allocation is exhaustive and exact
    assert(attributedTotal == touchedTotal)
    assert(rows.map(_.getAs[Long]("attributed_cents")).sum == touchedTotal)
    rows.foreach { r =>
      val day = java.time.LocalDate.parse(r.getString(0)).toEpochDay
      assert(r.getAs[Long]("n_credits") == byDay(day)._1)
      assert(r.getAs[Long]("attributed_cents") == byDay(day)._2)
      assert(r.getAs[Long]("n_purchases") ==
        purchasesByDay(day).size.toLong)
    }
    assert(rows.length == byDay.size)
  }

  test("ev_growth_accounting classifies every active user-day once") {
    val ud = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), unix_date(to_date(col("ts"))).as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    val byUser = ud.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val mn = ud.map(_._2).min; val mx = ud.map(_._2).max
    val gap = TimeSeries.GrowthGapDays
    val rows = TimeSeries.evGrowthAccounting(spark, sf("sf0.01")).collect()
    assert(rows.length == mx - mn + 1)
    val cls = byUser.values.flatMap { days =>
      days.zipWithIndex.map { case (d, i) =>
        d -> (if (i == 0) "new"
          else if (d - days(i - 1) <= gap) "retained"
          else "resurrected")
      }
    }.toSeq
    val churnByDay = byUser.values.map(_.last + gap + 1)
      .filter(_ <= mx).groupBy(identity).view.mapValues(_.size.toLong)
      .toMap
    rows.foreach { r =>
      val d = java.time.LocalDate.parse(r.getString(0)).toEpochDay.toInt
      def cnt(c: String) = cls.count(t => t._1 == d && t._2 == c).toLong
      assert(r.getAs[Long]("n_new") == cnt("new"))
      assert(r.getAs[Long]("n_retained") == cnt("retained"))
      assert(r.getAs[Long]("n_resurrected") == cnt("resurrected"))
      assert(r.getAs[Long]("n_active") == cls.count(_._1 == d).toLong)
      assert(r.getAs[Long]("n_churned") == churnByDay.getOrElse(d, 0L))
    }
    // every user is new exactly once
    assert(rows.map(_.getAs[Long]("n_new")).sum == byUser.size.toLong)
  }

  test("ev_lag_corr equals a brute-force zero-filled Pearson recompute") {
    import graft.functions.Determinism.r6Jvm
    val rows = TimeSeries.evLagCorr(spark, sf("sf0.01")).collect()
    val daily = StreamingStats.events(spark, sf("sf0.01"))
      .groupBy(col("event_type"), unix_date(to_date(col("ts"))).as("d"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    val types = daily.map(_._1).distinct.sorted
    val mn = daily.map(_._2).min
    val mx = daily.map(_._2).max
    // zero-filled series per type over the global range
    val series = types.map { t =>
      val m = daily.filter(_._1 == t).map(x => x._2 -> x._3).toMap
      t -> (mn to mx).map(d => m.getOrElse(d, 0L)).toIndexedSeq
    }.toMap
    assert(rows.length ==
      types.length * (types.length - 1) * (TimeSeries.XcorrMaxLag + 1))
    rows.foreach { r =>
      val xs0 = series(r.getAs[String]("type_a"))
      val ys0 = series(r.getAs[String]("type_b"))
      val lag = r.getAs[Int]("lag")
      val xs = xs0.dropRight(lag)
      val ys = ys0.drop(lag)
      val n = BigInt(xs.length)
      assert(r.getAs[Long]("n_days") == xs.length.toLong)
      val sx = xs.map(BigInt(_)).sum; val sy = ys.map(BigInt(_)).sum
      val sxx = xs.map(x => BigInt(x) * x).sum
      val syy = ys.map(y => BigInt(y) * y).sum
      val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
      val d1 = n * sxx - sx * sx
      val d2 = n * syy - sy * sy
      if (d1 > 0 && d2 > 0)
        assert(r.getAs[Double]("xcorr") ==
          r6Jvm((n * sxy - sx * sy).toDouble /
            math.sqrt(d1.toDouble * d2.toDouble)))
      else assert(r.isNullAt(r.fieldIndex("xcorr")))
    }
  }

  test("ev_bot equals a brute-force cadence recompute") {
    import graft.functions.Determinism.r6Jvm
    val ev = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val feats = byUser.collect { case (u, rows) if rows.length >= 2 =>
      val ordered = rows.sortBy(t => (t._3, t._2))
      val gaps = ordered.map(_._3).zip(ordered.map(_._3).drop(1))
        .map { case (a, b) => b - a }.sorted
      val n = rows.length.toLong
      val nDays = rows.map(t => Math.floorDiv(t._3, 86400000000L))
        .distinct.length.toLong
      val p50 = gaps(((gaps.length + 1) / 2 - 1))
      (u, n, nDays, gaps.min, p50)
    }.toSeq
    val expect = feats
      .sortBy { case (u, n, _, mn, _) => (mn, -n, u) }
      .take(TimeSeries.BotTopK)
      .map { case (u, n, d, mn, p50) =>
        (u, n, d, r6Jvm(n.toDouble / d), mn, p50,
          mn < TimeSeries.BotMinGapUs && n >= TimeSeries.BotMinEvents) }
    val got = TimeSeries.evBot(spark, sf("sf0.01")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6))).toSeq
    assert(got.nonEmpty)
    assert(got == expect)
  }

  test("ev_stickiness equals the naive trailing-window distinct count") {
    import graft.functions.Determinism.r6Jvm
    val ud = StreamingStats.events(spark, sf("sf0.01"))
      .select(col("user_id"), unix_date(to_date(col("ts"))).as("day"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    val (mn, mx) = (ud.map(_._2).min, ud.map(_._2).max)
    val got = TimeSeries.evStickiness(spark, sf("sf0.01")).collect()
    assert(got.length == mx - mn + 1)
    got.zipWithIndex.foreach { case (r, i) =>
      val d = mn + i
      assert(r.getString(0) == java.time.LocalDate.ofEpochDay(d).toString)
      // the naive definition the interval-diff trick must reproduce
      val dau = ud.count(_._2 == d).toLong
      val mau = ud.filter(u => u._2 <= d &&
        u._2 >= d - TimeSeries.MauDays).map(_._1).distinct.length.toLong
      assert(r.getAs[Long]("dau") == dau, s"dau at $d")
      assert(r.getAs[Long]("mau") == mau, s"mau at $d")
      if (mau > 0)
        assert(r.getAs[Double]("stickiness") ==
          r6Jvm(dau.toDouble / mau))
      else assert(r.isNullAt(r.fieldIndex("stickiness")))
    }
  }

  test("ev_stickiness: a silent gap beyond the window zeroes MAU") {
    import spark.implicits._
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L)
    // u1 active days 0-1 then returns day 60; u2 active day 1 only:
    // days 29..59 have an empty trailing window → mau = 0, NULL ratio
    val events = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(1), 1L, "view", 1.0, "{}"),
      (3L, ts(1), 2L, "click", 1.0, "{}"),
      (4L, ts(60), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = tmpDir("stick")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = TimeSeries.evStickiness(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    def at(day: Int) = got(java.time.LocalDate.ofEpochDay(day).toString)
    assert(got.size == 61)
    assert(at(0).getAs[Long]("mau") == 1L)
    assert(at(1).getAs[Long]("mau") == 2L)
    assert(at(1).getAs[Long]("dau") == 2L)
    assert(at(28).getAs[Long]("mau") == 2L) // day 1 + 27 still covers
    assert(at(29).getAs[Long]("mau") == 0L)
    assert(at(29).isNullAt(at(29).fieldIndex("stickiness")))
    assert(at(59).getAs[Long]("mau") == 0L)
    assert(at(60).getAs[Long]("mau") == 1L)
    assert(at(60).getAs[Double]("stickiness") == 1.0)
  }
}
