package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.functions.{CharGramHashSet, CrossHash}
import graft.operators.Dedup
import graft.transform.Enrich

/** Property-style invariants (SURVEY.md §5.2.4) over seeded random
  * inputs — deterministic, no generator-library dependency.
  */
class PropertySpec extends SparkSpec {

  private val rnd = new Random(42)

  test("score_category is total over Int (never null, one of 5 labels)") {
    import spark.implicits._
    val labels = Set("Negative", "Low", "Medium", "High", "Viral")
    val scores = Seq(Int.MinValue + 1, -1, 0, 1, 10, 11, 100, 1000, 1001,
      Int.MaxValue) ++ Seq.fill(200)(rnd.nextInt())
    val out = scores.toDF("score")
      .select(Enrich.scoreCategory(col("score")).as("c"))
      .collect().map(_.getString(0))
    assert(out.length == scores.length && out.forall(labels.contains))
  }

  test("engagement_rate is finite for all score != -1") {
    import spark.implicits._
    val xs = Seq.fill(300)((rnd.nextInt(2001) - 1000, rnd.nextInt(10000)))
      .filter(_._1 != -1)
    val out = xs.toDF("score", "num_comments")
      .select(Enrich.engagementRate(col("num_comments"), col("score")).as("e"))
      .collect().map(_.getDouble(0))
    assert(out.forall(e => !e.isNaN && !e.isInfinite))
  }

  test("JVM-side gram hash equals the SQL-side md5/conv formulation") {
    import spark.implicits._
    val ss = Seq.fill(100)(rnd.alphanumeric.take(1 + rnd.nextInt(12)).mkString)
    val viaSql = ss.toDF("s").select(CrossHash.md5Mod(col("s")).as("h"))
      .collect().map(_.getLong(0)).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val viaJvm = ss.map(s => CharGramHashSet.hash(md, s))
    assert(viaSql == viaJvm)
  }

  test("minhash of a superset never exceeds the subset's minimum") {
    // min over a larger set can only stay or decrease — the property
    // banded LSH relies on
    def mins(xs: Seq[Long]): Seq[Long] =
      Dedup.As.zip(Dedup.Bs).map { case (p, q) =>
        xs.map(h => ((h % CrossHash.P) * p + q) % CrossHash.P).min
      }
    (1 to 50).foreach { _ =>
      val a = Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong().abs)
      val b = Seq.fill(1 + rnd.nextInt(40))(rnd.nextLong().abs)
      val ma = mins(a)
      val mab = mins(a ++ b)
      assert(ma.zip(mab).forall { case (x, y) => y <= x })
    }
  }

  test("upsert key invariant: distinct (subreddit, date) after any merge") {
    import spark.implicits._
    import java.nio.file.Files
    val wh = tmpDir("graft_prop_")
    (1 to 3).foreach { i =>
      val batch = Seq.fill(20)((s"r/${rnd.nextInt(4)}",
        s"2025-01-0${1 + rnd.nextInt(5)}", rnd.nextInt(100).toLong))
        .toDF("subreddit", "date", "total_posts")
        .dropDuplicates("subreddit", "date")
      graft.sink.Load.upsertStats(batch, spark, wh)
      val out = spark.read.parquet(s"$wh/subreddit_stats")
      assert(out.count() ==
        out.select("subreddit", "date").distinct().count())
    }
  }

  test("blocked embed-cosine equals all-pairs on random vectors") {
    import spark.implicits._
    import java.nio.file.Files
    // random corpus with planted near-dups (a scaled copy has cosine 1)
    val dim = 16
    val base = Seq.fill(120)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val dups = base.take(15).map(v => v.map(x => x * 1.5f))
    val all = (base ++ dups).zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val dir = tmpDir("graft_prop_cos_")
    all.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val blocked = Dedup.ddEmbedCosine(spark, dir).collect().map(_.toSeq)
    val exact = Dedup.ddEmbedCosineAllPairs(spark, dir).collect().map(_.toSeq)
    assert(blocked.nonEmpty) // the planted dups guarantee output
    assert(blocked.toSeq == exact.toSeq)
  }

  test("asofJoin equals a brute-force latest-prior scan on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // small ts range FORCES equal-timestamp collisions, exercising the
    // documented tie rules: equal left/right ts matches (<=), and among
    // right rows tied on (key, ts) the highest tieBreak wins
    val left = Seq.tabulate(300)(i =>
      (i.toLong, rnd.nextInt(10).toLong, rnd.nextInt(40).toLong))
    val right = Seq.tabulate(150)(i =>
      (1000L + i, rnd.nextInt(10).toLong, rnd.nextInt(40).toLong))
    val l = left.toDF("event_id", "user_id", "us")
    val r = right.toDF("rid", "user_id", "us")
      .withColumn("r_us", col("us"))
    val got = graft.operators.TimeSeries
      .asofJoin(l, r, "user_id", "us", "rid", Seq("rid", "r_us"))
      .select(col("event_id"), col("asof.rid"))
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    left.foreach { case (id, u, us) =>
      val want = right.filter(x => x._2 == u && x._3 <= us)
        .sortBy(x => (x._3, x._1)).lastOption.map(_._1)
      assert(got(id) == want, s"event $id")
    }
  }

  test("rangeJoin equals a brute-force window filter on random data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val left = Seq.tabulate(200)(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong - 200))
    val right = Seq.tabulate(200)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong - 200, i.toLong))
    val got = graft.operators.TimeSeries.rangeJoin(
        left.toDF("event_id", "user_id", "us"),
        right.toDF("user_id", "us", "tag"),
        "user_id", -77L, 33L, Seq("tag"))
      .select(col("event_id"), col("tag")).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      (id, u, us) <- left
      (ru, rus, tag) <- right
      if ru == u && rus >= us - 77 && rus < us + 33
    } yield (id, tag)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming sessionizer equals the batch twin on random event streams") {
    import java.nio.file.Files
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // random in-order event stream: 6 users, gaps straddling the
    // 30-minute session boundary, 2-decimal values
    var us = Timestamp.valueOf("2025-05-01 00:00:00").getTime * 1000L
    val events = (1 to 400).map { i =>
      us += (rnd.nextInt(45) + 1).toLong * 60L * 1000000L // 1-45 min steps
      (i.toLong, us, 1L + rnd.nextInt(6), "e", rnd.nextInt(10000) / 100.0)
    }
    val dir = tmpDir("graft_prop_sess_")
    events.toDF("event_id", "ts", "user_id", "event_type", "value")
      // micros -> the fixture's TIMESTAMP_NTZ
      .withColumn("ts", expr("timestamp_micros(ts)").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.streaming.StreamingStats.evSessions(spark, dir)
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("duration_sec"), col("start_us"), col("session_value"))
      .collect().map(_.toSeq).toSet
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = graft.streaming.StreamingStats.sessionizeStream(
        mem.toDF().toDF("ts", "user_id", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_prop").start()
    try {
      mem.addData(events.map(e =>
        (new Timestamp(e._2 / 1000L), e._3, e._5)))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2099-01-01 00:00:00"), 99L, 0.0))
      q.processAllAvailable()
      mem.addData()
      q.processAllAvailable()
      val streamed = spark.table("sess_prop")
        .filter(col("user_id") =!= 99L)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("duration_sec"), col("start_us"), col("session_value"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  /** Exact union-find ground truth for component labeling. */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  /** The two finishes of [[Dedup.connectedComponents]]: the session's
    * broadcast bound (these graphs go to the driver union-find) and a
    * zero-byte bound (star rounds only).
    */
  private val bounds = Seq(None, Some(0L))

  private def ccInputs(n: Int, edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    val nodes = (0L until n.toLong).toDF("doc_id")
    val pairs =
      if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
      else edges.toDF("src", "dst")
    (nodes, pairs)
  }

  private def starLabels(n: Int, edges: Seq[(Long, Long)],
      driverBytes: Option[Long]): (Map[Long, Long], Int) = {
    val (nodes, pairs) = ccInputs(n, edges)
    val (labels, rounds) =
      Dedup.connectedComponents(nodes, pairs, driverBytes)
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("large-star/small-star components equal union-find on random graphs") {
    for (bound <- bounds; seed <- Seq(1, 7, 13)) {
      val r = new Random(seed)
      val n = 60
      val edges = Seq.fill(50)(
        (r.nextInt(n).toLong, r.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val (got, _) = starLabels(n, edges, bound)
      assert(got == unionFind(n, edges), s"seed $seed, bound $bound")
    }
  }

  test("large-star/small-star collapses a 200-node path in O(log n) rounds") {
    val n = 200
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val path = (0L until n.toLong).map(_ -> 0L).toMap
    val (got, rounds) = starLabels(n, edges, Some(0L))
    assert(got == path)
    info(s"path(200) converged in $rounds rounds")
    // the whole point of the fallback: a diameter-200 chain must NOT
    // take ~diameter rounds
    assert(rounds <= 10, s"took $rounds rounds")
    val (driver, rounds0) = starLabels(n, edges, None)
    assert(driver == path && rounds0 == 0)
  }

  test("large-star/small-star handles cliques, isolated nodes, empty graphs") {
    // two 5-cliques + 3 isolated nodes
    val clique = (base: Long) => for {
      i <- 0 until 5; j <- i + 1 until 5
    } yield (base + i, base + j)
    val edges = clique(0L) ++ clique(5L)
    for (bound <- bounds) {
      val (got, _) = starLabels(13, edges, bound)
      assert(got == unionFind(13, edges), s"bound $bound")
      val (empty, rounds0) = starLabels(4, Seq.empty, bound)
      assert(empty == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
      assert(rounds0 == 0)
    }
  }

  test("below the driver bound, clusters starts as many jobs for one edge as for a 200-node path") {
    // the same partition layout at both sizes, and every hop listed in
    // both directions: a one-row input would let the optimizer drop the
    // edge distinct, a job the graph's shape has nothing to do with
    def jobs(n: Int): Int = {
      val nodes = spark.range(0, n, 1, 4).toDF("doc_id")
      val hops = spark.range(0, n - 1, 1, 4)
      val pairs = hops.select(col("id"), col("id") + 1)
        .union(hops.select(col("id") + 1, col("id")))
      jobsStarted(Dedup.clusters(nodes, pairs).collect())
    }
    val (one, path) = (jobs(2), jobs(200))
    assert(one == path, s"2 nodes: $one jobs, 200-node path: $path jobs")
  }

  test("dd_containment finds planted quotes and equals brute force on random docs") {
    import spark.implicits._
    import java.nio.file.Files
    import org.apache.spark.sql.functions._
    val r = new Random(7)
    val vocab = Vector.tabulate(120)(i => s"w$i")
    def doc(len: Int) = Seq.fill(len)(vocab(r.nextInt(vocab.size)))
    val bases = Vector.fill(40)(doc(20 + r.nextInt(40)))
    // planted quotes: contiguous slices of a base doc (containment 1.0)
    val quotes = (0 until 8).map { i =>
      val b = bases(r.nextInt(bases.size))
      val start = r.nextInt(math.max(1, b.size - 12))
      b.slice(start, start + 10 + r.nextInt(math.min(8, b.size - start - 9)))
    }
    val all = (bases ++ quotes).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" "), "en", "synth",
        ws.mkString(" ").length.toLong) }
    val dir = tmpDir("graft_prop_contain_")
    all.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Dedup.ddContainment(spark, dir)
    // candidate generation must stay equi-join shaped
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    val rows = got.collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getAs[Long]("overlap"),
        x.getAs[Long]("na"))).toSet
    // every planted quote is found contained in its base at C = 1
    quotes.zipWithIndex.foreach { case (_, qi) =>
      val qid = (bases.size + qi).toLong
      assert(rows.exists(t => t._1 == qid && t._3 == t._4),
        s"planted quote $qid not fully contained")
    }
    // and the full directed set equals the unfiltered brute force
    val sets = all.map { case (id, text, _, _, _) =>
      id -> spark.range(1).select(graft.functions.WordShingleHashSet
        .hs(lit(text)).as("g")).collect().head.getSeq[Long](0).toSet
    }.filter(_._2.nonEmpty)
    val want = (for {
      (a, ga) <- sets; (b, gb) <- sets if a != b
      i = (ga & gb).size.toLong
      if BigDecimal.decimal(i.toDouble / ga.size).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble >= Dedup.ContainMin
    } yield (a, b, i, ga.size.toLong)).toSet
    assert(rows == want)
  }

  test("TopK row_number and rank modes equal window forms on random data, any flush") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // random groups/values with heavy ties; tiny flush thresholds force
    // constant partial-phase eviction on every shape
    for (seed <- Seq(1, 2, 3)) {
      val r = new Random(seed)
      val n = 400 + r.nextInt(400)
      val rows = Seq.fill(n)((r.nextInt(10 + seed * 7).toLong, // group
        r.nextInt(6).toLong,                                   // value: ties
        r.nextLong()))                                         // id
      val df = rows.toDF("g", "v", "id").repartition(7)
      val k = 1 + r.nextInt(4)
      spark.conf.set("spark.graft.topk.partialFlushGroups",
        (1 + r.nextInt(3)).toString)
      try {
        val rn = graft.plans.TopK.perGroup(df, Seq("g"),
          Seq("v" -> true, "id" -> false), k).collect().map(_.toSeq).toSet
        val w = Window.partitionBy(col("g"))
          .orderBy(col("v").desc, col("id"))
        val rnWant = df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k).collect().map(_.toSeq).toSet
        assert(rn == rnWant, s"row_number mode at seed $seed k $k")
        val rk = graft.plans.TopK.perGroupRank(df, Seq("g"),
          Seq("v" -> true), k).collect().map(_.toSeq).toSet
        val rkWant = df.withColumn("rank",
            rank().over(Window.partitionBy(col("g")).orderBy(col("v").desc)))
          .filter(col("rank") <= k).collect().map(_.toSeq).toSet
        assert(rk == rkWant, s"rank mode at seed $seed k $k")
        val dr = graft.plans.TopK.perGroupDenseRank(df, Seq("g"),
          Seq("v" -> true), k).collect().map(_.toSeq).toSet
        val drWant = df.withColumn("rank",
            dense_rank().over(
              Window.partitionBy(col("g")).orderBy(col("v").desc)))
          .filter(col("rank") <= k).collect().map(_.toSeq).toSet
        assert(dr == drWant, s"dense_rank mode at seed $seed k $k")
      } finally spark.conf.unset("spark.graft.topk.partialFlushGroups")
    }
  }

  test("ExactRank selects the sorted-array rank-ceil element on random multisets") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import graft.operators.ExactRank
    val quantiles = Seq((1, 4), (1, 2), (3, 4), (9, 10), (1, 1))
    for (seed <- 1 to 5) {
      val r = new Random(seed)
      // heavy duplication on purpose: rank boundaries must land inside
      // multi-count value runs, not only between distinct values
      val vals = Seq.fill(200 + r.nextInt(300))(r.nextInt(40).toLong - 20L)
      val sorted = vals.sorted
      val g = vals.toDF("v").groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val cw = g.withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("n", sum(col("cnt")).over(wAll).cast("long"))
      val got = cw.agg(
        quantiles.map { case (num, den) =>
          ExactRank.valueAt(num, den, "n", col("v")).as(s"q_${num}_$den")
        }.head,
        quantiles.map { case (num, den) =>
          ExactRank.valueAt(num, den, "n", col("v")).as(s"q_${num}_$den")
        }.tail: _*).collect().head
      quantiles.zipWithIndex.foreach { case ((num, den), i) =>
        val rank = (num * sorted.length + den - 1) / den // ceil
        assert(got.getLong(i) == sorted(rank - 1),
          s"seed $seed q=$num/$den: got ${got.getLong(i)}, " +
            s"want ${sorted(rank - 1)}")
      }
    }
  }

  test("CovState: any batch split x any safe horizon folds to the unbounded snapshot") {
    import graft.streaming.StreamingStats.CovState
    for (seed <- 1 to 20) {
      val r = new Random(seed)
      val span = 10 + r.nextInt(60)
      val days = (0 until span).filter(_ => r.nextDouble() < 0.7)
        .map(d => d -> (1L + r.nextInt(50))).toMap
      if (days.nonEmpty) {
        val ref = CovState.snapshot("t",
          CovState.merge(CovState.empty, days, Int.MaxValue))
        // random partition into batches, folded in day order (the
        // watermark contract: a day never arrives after its eviction)
        val order = days.keys.toSeq.sorted
        val horizon = 1 + r.nextInt(5)
        var st = CovState.empty
        var i = 0
        while (i < order.length) {
          val take = 1 + r.nextInt(4)
          val batch = order.slice(i, i + take).map(d => d -> days(d)).toMap
          st = CovState.merge(st, batch, horizon)
          assert(st.live.size <= horizon, s"seed $seed live bound")
          i += take
        }
        assert(CovState.snapshot("t", st) == ref, s"seed $seed")
      }
    }
  }

  test("graft_quantize_stats equals a local recompute on random vectors") {
    import spark.implicits._
    val vecs = (1 to 60).map { i =>
      val r = new Random(i)
      (i.toLong, Seq.fill(1 + r.nextInt(80))(r.nextDouble() * 4 - 2))
    }
    val got = vecs.toDF("id", "v")
      .select(col("id"),
        graft.functions.QuantizeStats.stats(col("v")).as("st"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    vecs.foreach { case (id, v) =>
      var s = 0.0
      v.foreach(x => s = math.max(s, math.abs(x)))
      var ck = 0L; var sq = 0.0
      v.zipWithIndex.foreach { case (x, i) =>
        val q = math.floor(x * 127.0 / s + 0.5).toLong
        ck += q * (i + 1L)
        val e = q.toDouble * s / 127.0 - x
        sq += e * e
      }
      val st = got(id)
      assert(st.getDouble(0) == s && st.getLong(1) == ck, s"vec $id")
      assert(java.lang.Double.doubleToRawLongBits(st.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(sq / v.length), s"mse $id")
    }
  }

  /** Seeded random events fixture on disk — shared by the attribution
    * and growth-accounting invariants below. */
  private lazy val randomEventsDir: String = {
    import spark.implicits._
    val types = Seq("view", "click", "purchase", "signup", "error")
    val rows = (1 to 3000).map { i =>
      val user = 1L + rnd.nextInt(50)
      val ms = rnd.nextInt(20) * 86400000L + rnd.nextInt(86400000)
      (i.toLong, new java.sql.Timestamp(ms), user,
        types(rnd.nextInt(types.length)),
        rnd.nextInt(100000) / 100.0, "{}")
    }
    val dir = tmpDir("randev")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("ev_attribution conserves cents on random feeds (books balance)") {
    import graft.operators.TimeSeries
    val ev = spark.read.parquet(s"$randomEventsDir/events.parquet")
      .select(col("event_type"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clicks = ev.filter(_._1 == "click")
    // a purchase's cents enter the ledger iff it has >= 1 prior click
    val expected = ev.filter(_._1 == "purchase").collect {
      case (_, u, us, cents) if clicks.exists(c => c._2 == u &&
        c._3 >= us + TimeSeries.RangeLoUs &&
        c._3 < us + TimeSeries.RangeHiUs) => cents
    }.sum
    val rows = TimeSeries.evAttribution(spark, randomEventsDir).collect()
    assert(rows.map(_.getAs[Long]("attributed_cents")).sum == expected)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_credits") >= r.getAs[Long]("n_purchases")))
  }

  test("ev_growth_accounting partitions activity on random feeds") {
    import graft.operators.TimeSeries
    val ud = spark.read.parquet(s"$randomEventsDir/events.parquet")
      .select(col("user_id"),
        unix_date(to_date(col("ts").cast("timestamp"))).as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getInt(1)))
    val rows = TimeSeries.evGrowthAccounting(spark, randomEventsDir)
      .collect()
    // every user is born exactly once; every active day decomposes
    assert(rows.map(_.getAs[Long]("n_new")).sum ==
      ud.map(_._1).distinct.length.toLong)
    rows.foreach { r =>
      val d = java.time.LocalDate.parse(r.getString(0)).toEpochDay.toInt
      assert(r.getAs[Long]("n_active") == ud.count(_._2 == d).toLong)
      assert(r.getAs[Long]("n_active") == r.getAs[Long]("n_new") +
        r.getAs[Long]("n_retained") + r.getAs[Long]("n_resurrected"))
    }
    // churn is bounded by the population and never counts active users
    val mx = ud.map(_._2).max
    val churnTotal = rows.map(_.getAs[Long]("n_churned")).sum
    val lastByUser = ud.groupBy(_._1).view.mapValues(_.map(_._2).max)
    assert(churnTotal == lastByUser.values
      .count(_ + TimeSeries.GrowthGapDays + 1 <= mx).toLong)
  }

  test("MisraGries guarantees hold under random streams and merge trees") {
    import graft.functions.MisraGries
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.LongType
    // drive the aggregate's buffer contract directly: update on random
    // Zipf-ish streams, merge along random split trees, eval, and
    // check both classical guarantees against exact counts
    for (trial <- 1 to 20) {
      val cap = 1 + rnd.nextInt(8)
      val agg = MisraGries(BoundReference(0, LongType, nullable = false),
        Literal(cap))
      val n = 200 + rnd.nextInt(800)
      // skewed keys: small ids are hot
      val stream = Seq.fill(n)(
        (math.pow(rnd.nextDouble(), 3) * 50).toLong)
      // random partitioning into 1..6 chunks, each its own buffer
      val nChunks = 1 + rnd.nextInt(6)
      val chunks = stream.groupBy(_ => rnd.nextInt(nChunks)).values.toList
      val bufs = chunks.map { ch =>
        val b = agg.createAggregationBuffer()
        ch.foreach(k => agg.update(b, InternalRow(k)))
        // round-trip through serialization (the shuffle path)
        agg.deserialize(agg.serialize(b))
      }
      // fold the buffers in a random order (any merge tree is legal)
      val merged = rnd.shuffle(bufs)
        .reduceLeft((a, b) => agg.merge(a, b))
      assert(merged.size <= cap, s"size bound (trial $trial)")
      val sketch = merged.toMap
      val exact = stream.groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val eps = n.toDouble / (cap + 1)
      sketch.foreach { case (k, c) =>
        assert(c <= exact(k), s"overcount (trial $trial, key $k)")
        assert(c >= exact(k) - eps,
          s"undercount beyond n/(cap+1) (trial $trial, key $k)")
      }
      exact.foreach { case (k, c) =>
        if (c > eps)
          assert(sketch.contains(k),
            s"missed >threshold key $k (trial $trial)")
      }
      // degenerate theorem: with distinct keys <= cap the sketch IS
      // the exact census
      if (exact.size <= cap)
        assert(sketch == exact, s"exact regime (trial $trial)")
    }
  }
}
