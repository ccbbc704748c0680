package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingStats

/** Structured-Streaming daily stats: incremental results must converge
  * to the batch twin's values (same transform, watermarked).
  */
class StreamingSpec extends SparkSpec {

  test("windowed agg emits closed day buckets as the watermark advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val events = mem.toDF()
      .toDF("ts", "event_type", "user_id", "value")
    val q = StreamingStats.startMemorySink(events, "ev_test")
    try {
      mem.addData(
        (Timestamp.valueOf("2025-03-01 10:00:00"), "click", 1L, 2.0),
        (Timestamp.valueOf("2025-03-01 11:00:00"), "click", 2L, 3.0),
        (Timestamp.valueOf("2025-03-01 12:00:00"), "view", 1L, 1.0))
      q.processAllAvailable()
      // append mode: nothing emitted until the watermark passes day end
      assert(spark.table("ev_test").count() == 0)
      // an event 2 days later pushes the watermark past 2025-03-02 00:00
      mem.addData((Timestamp.valueOf("2025-03-03 09:00:00"), "click", 3L, 5.0))
      q.processAllAvailable()
      val out = spark.table("ev_test").collect()
      assert(out.length == 2) // click + view buckets for 03-01
      val click = out.find(_.getAs[String]("event_type") == "click").get
      assert(click.getAs[String]("day") == "2025-03-01")
      assert(click.getAs[Long]("n_events") == 2L)
      assert(click.getAs[Double]("total_value") == 5.0)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer closes on gap and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "value")
    val q = StreamingStats.sessionizeStream(events)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    try {
      // user 1: two events 5 min apart (one session), then a 40-min gap
      mem.addData(
        (Timestamp.valueOf("2025-03-01 10:00:00"), 1L, 1.5),
        (Timestamp.valueOf("2025-03-01 10:05:00"), 1L, 2.25))
      q.processAllAvailable()
      assert(spark.table("sess_test").count() == 0) // still open
      // the gap event closes session 1 immediately (no watermark needed)
      mem.addData((Timestamp.valueOf("2025-03-01 10:45:00"), 1L, 4.0))
      q.processAllAvailable()
      val s1 = spark.table("sess_test").collect()
      assert(s1.length == 1)
      assert(s1.head.getAs[Long]("session_id") == 1L)
      assert(s1.head.getAs[Long]("n_events") == 2L)
      assert(s1.head.getAs[Long]("duration_sec") == 300L)
      assert(s1.head.getAs[Double]("session_value") == 3.75)
      // a far-future event advances the watermark beyond 10:45 + gap,
      // so session 2 flushes via EventTimeTimeout
      mem.addData((Timestamp.valueOf("2025-03-02 10:00:00"), 2L, 1.0))
      q.processAllAvailable()
      q.processAllAvailable() // timeout fires on the trigger AFTER the
      mem.addData()           // watermark advance; run one empty batch
      q.processAllAvailable()
      val s2 = spark.table("sess_test").collect()
        .filter(_.getAs[Long]("user_id") == 1L)
      assert(s2.length == 2)
      val last = s2.find(_.getAs[Long]("session_id") == 2L).get
      assert(last.getAs[Long]("n_events") == 1L)
      assert(last.getAs[Double]("session_value") == 4.0)
    } finally q.stop()
  }

  test("sessionizer is state-backend independent: RocksDB matches HDFS-backed results") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // run the gap-close + timeout-flush scenario under a given state
    // store provider; return the emitted session rows
    def run(name: String, provider: Option[String]): Set[Seq[Any]] = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      provider.foreach(spark.conf.set(key, _))
      try {
        val mem = MemoryStream[(Timestamp, Long, Double)]
        val q = StreamingStats.sessionizeStream(
            mem.toDF().toDF("ts", "user_id", "value"))
          .writeStream.outputMode("append").format("memory")
          .queryName(name).start()
        try {
          mem.addData(
            (Timestamp.valueOf("2025-03-01 10:00:00"), 1L, 1.5),
            (Timestamp.valueOf("2025-03-01 10:05:00"), 1L, 2.25))
          q.processAllAvailable()
          mem.addData((Timestamp.valueOf("2025-03-01 10:45:00"), 1L, 4.0))
          q.processAllAvailable()
          mem.addData((Timestamp.valueOf("2025-03-02 10:00:00"), 2L, 1.0))
          q.processAllAvailable()
          mem.addData() // timeout fires on the trigger after the advance
          q.processAllAvailable()
          spark.table(name)
            .select("user_id", "session_id", "n_events", "duration_sec",
              "session_value")
            .collect().map(_.toSeq).toSet
        } finally q.stop()
      } finally {
        provider.foreach(_ =>
          prev.fold(spark.conf.unset(key))(spark.conf.set(key, _)))
      }
    }
    val rocks = run("sess_rocks", Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val default = run("sess_hdfs", None)
    assert(rocks.nonEmpty && rocks == default,
      s"backends disagree: rocks=$rocks default=$default")
    // both backends must have emitted the closed gap session AND the
    // timeout-flushed session for user 1
    assert(rocks.count(_.head == 1L) == 2)
  }

  test("sessionizer keeps ordinal continuity across a timeout flush") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingStats.sessionizeStream(
        mem.toDF().toDF("ts", "user_id", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_ord").start()
    try {
      mem.addData((Timestamp.valueOf("2025-03-01 10:00:00"), 1L, 1.0))
      q.processAllAvailable()
      // user 2 advances the watermark to ~11:00 (> 10:00 + gap), so
      // user 1's session 1 flushes via timeout on the next trigger
      mem.addData((Timestamp.valueOf("2025-03-01 12:00:00"), 2L, 1.0))
      q.processAllAvailable()
      mem.addData() // trigger after watermark advance -> timeout fires
      q.processAllAvailable()
      assert(spark.table("sess_ord")
        .filter(col("user_id") === 1L).count() == 1)
      // a fresh user-1 event (>= watermark) must open session 2, not
      // restart at 1 (the state tombstone carries the ordinal)
      mem.addData((Timestamp.valueOf("2025-03-01 12:30:00"), 1L, 2.0))
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2025-03-01 15:00:00"), 2L, 1.0))
      q.processAllAvailable()
      mem.addData()
      q.processAllAvailable()
      val u1 = spark.table("sess_ord").filter(col("user_id") === 1L)
        .collect().map(_.getAs[Long]("session_id")).sorted.toSeq
      assert(u1 == Seq(1L, 2L), s"got session ids $u1")
    } finally q.stop()
  }

  test("streaming sessionizer converges to the batch twin on the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay the sf0.001 events fixture (in-order per the fixture's
    // generation) through the stream, then flush with a far-future event
    val fixture = StreamingStats.events(spark, sf())
      .select(col("ts"), col("user_id").cast("long"),
        col("value").cast("double"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val q = StreamingStats.sessionizeStream(
        mem.toDF().toDF("ts", "user_id", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_conv").start()
    try {
      mem.addData(fixture.toSeq)
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2099-01-01 00:00:00"), 999999L, 0.0))
      q.processAllAvailable()
      mem.addData()
      q.processAllAvailable()
      val streamed = spark.table("sess_conv")
        .filter(col("user_id") =!= 999999L)
        .select("user_id", "session_id", "n_events", "duration_sec",
          "start_us", "session_value")
        .collect().map(_.toSeq).toSet
      val batch = StreamingStats.evSessions(spark, sf())
        .select(col("user_id").cast("long"), col("session_id"),
          col("n_events"), col("duration_sec"), col("start_us"),
          col("session_value"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming funnel converges to the batch ev_funnel rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay in TWO slices so stage state must survive a batch
    // boundary, then flush with a far-future event
    val fixture = StreamingStats.events(spark, sf())
      .select(col("ts"), col("user_id").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(Timestamp, Long, Long, String)]
    // conversion window > the fixture's span, so only the sentinel
    // flushes and the all-history batch twin is the exact reference
    val q = StreamingStats.funnelStream(
        mem.toDF().toDF("ts", "user_id", "event_id", "event_type"),
        quietMs = 90L * 24L * 60L * 60L * 1000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_conv").start()
    try {
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
      mem.addData((Timestamp.valueOf("2099-01-01 00:00:00"),
        999999L, 0L, "view"))
      q.processAllAvailable()
      mem.addData()
      q.processAllAvailable()
      val streamed = spark.table("funnel_conv")
        .filter(col("user_id") =!= 999999L)
        .select("user_id", "view_us", "click_us", "purchase_us", "stage")
        .collect().map(_.toSeq).toSet
      val batch = graft.operators.TimeSeries.evFunnel(spark, sf())
        .select(col("user_id").cast("long"), col("view_us"),
          col("click_us"), col("purchase_us"), col("stage"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
      // state must DROP after flush, not tombstone: re-sending an event
      // for a flushed user opens a fresh funnel (documented contract)
    } finally q.stop()
  }

  test("streaming top-k sink converges to the batch ev_topk rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // replay the fixture in three arbitrary micro-batch slices: the
    // merge property makes the final state independent of slicing
    val fixture = StreamingStats.events(spark, sf())
      .select(col("ts"), col("event_type"), col("event_id").cast("long"),
        col("user_id").cast("long"), col("value").cast("double"))
      .orderBy(col("event_id"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    val mem = MemoryStream[(Timestamp, String, Long, Long, Double)]
    val sink = new StreamingStats.TopKStreamSink(spark,
      graft.operators.TimeSeries.TopKPerDay)
    val q = StreamingStats.startTopkSink(
      mem.toDF().toDF("ts", "event_type", "event_id", "user_id", "value"),
      sink)
    try {
      fixture.grouped(math.max(1, fixture.length / 3)).foreach { slice =>
        mem.addData(slice.toSeq)
        q.processAllAvailable()
      }
      val streamed = sink.result().collect().map(_.toSeq).toSet
      val batch = graft.operators.TimeSeries.evTopk(spark, sf())
        .select(col("event_type"), col("day"), col("rank"),
          col("event_id").cast("long"), col("user_id").cast("long"),
          col("cents"))
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming top-k sink evicts days beyond the horizon (bounded state)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(day: String) = Timestamp.valueOf(s"$day 12:00:00")
    val mem = MemoryStream[(Timestamp, String, Long, Long, Double)]
    val sink = new StreamingStats.TopKStreamSink(spark, 2, horizonDays = 1)
    val q = StreamingStats.startTopkSink(
      mem.toDF().toDF("ts", "event_type", "event_id", "user_id", "value"),
      sink)
    try {
      // three distinct days across three micro-batches, horizon = 1:
      // only the newest day may remain in state after each merge
      Seq("2025-03-01", "2025-03-02", "2025-03-03").zipWithIndex
        .foreach { case (day, i) =>
          mem.addData((t(day), "click", i * 10L, 1L, 1.0),
            (t(day), "click", i * 10L + 1, 2L, 2.0))
          q.processAllAvailable()
          val days = sink.result().collect().map(_.getString(1)).distinct
          assert(days.sameElements(Array(day)),
            s"state days ${days.mkString(",")} after feeding $day")
        }
      // a late batch for an evicted day cannot resurrect it (the
      // high-water mark is monotone)
      mem.addData((t("2025-03-01"), "click", 99L, 3L, 9.0))
      q.processAllAvailable()
      val days = sink.result().collect().map(_.getString(1)).distinct
      assert(days.sameElements(Array("2025-03-03")))
    } finally q.stop()
  }

  test("CDC sink applies streamed upserts and deletes through mergeInto") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val table = tmpDir("graft_cdc_") + "/items"
    val ckpt = tmpDir("graft_cdc_ckpt_")
    val mem = MemoryStream[(Long, String, String, String)]
    val q = StreamingStats.startCdcSink(
      mem.toDF().toDF("id", "date", "payload", "op"),
      table, Seq("id"), "date", ckpt)
    try {
      // batch 1: three inserts across two partitions
      mem.addData((1L, "2025-01-01", "one", "upsert"),
        (2L, "2025-01-01", "two", "upsert"),
        (3L, "2025-01-02", "three", "upsert"))
      q.processAllAvailable()
      assert(spark.read.parquet(table).count() == 3)
      // batch 2: update 1, delete 2, insert 4 on a new partition
      mem.addData((1L, "2025-01-01", "ONE", "upsert"),
        (2L, "2025-01-01", "", "delete"),
        (4L, "2025-01-03", "four", "upsert"))
      q.processAllAvailable()
      val out = spark.read.parquet(table).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out == Map(1L -> "ONE", 3L -> "three", 4L -> "four"))
    } finally q.stop()
  }

  test("batch twin equals a direct aggregation over the events fixture") {
    val df = StreamingStats.evDailyStats(spark, sf())
    val direct = StreamingStats.events(spark, sf())
      .groupBy(to_date(col("ts")).cast("string").as("day"), col("event_type"))
      .count()
    assert(df.count() == direct.count())
    assert(df.columns.toSeq == Seq("day", "event_type", "n_events",
      "exact_users", "total_value", "avg_value"))
  }

  test("foreachBatch bridge upserts closed windows into the warehouse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val wh = tmpDir("graft_swh_")
    val ckpt = tmpDir("graft_ckpt_")
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val q = StreamingStats.startUpsertSink(
      mem.toDF().toDF("ts", "event_type", "user_id", "value"), wh, ckpt)
    try {
      mem.addData(
        (Timestamp.valueOf("2025-03-01 10:00:00"), "click", 1L, 2.0),
        (Timestamp.valueOf("2025-03-03 09:00:00"), "view", 2L, 1.0))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$wh/subreddit_stats")
      // the 03-01 click window closed (watermark passed via 03-03 event)
      assert(out.count() == 1)
      val r = out.collect().head
      assert(r.getAs[String]("subreddit") == "click" &&
        r.getAs[String]("date") == "2025-03-01")
    } finally q.stop()
  }

  test("ingest dedup passes first-seen only, within and across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val q = StreamingStats.dedupIngestStream(
        mem.toDF().toDF("ts", "digest", "payload"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_test").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2025-03-01 10:00:00"), "a", 1L),
        (Timestamp.valueOf("2025-03-01 10:00:30"), "a", 2L), // in-batch dup
        (Timestamp.valueOf("2025-03-01 10:01:00"), "b", 3L))
      q.processAllAvailable()
      mem.addData( // cross-batch dup of "a", inside the horizon
        (Timestamp.valueOf("2025-03-01 10:20:00"), "a", 4L),
        (Timestamp.valueOf("2025-03-01 10:21:00"), "c", 5L))
      q.processAllAvailable()
      val out = spark.table("dedup_test").collect()
      assert(out.map(_.getAs[String]("digest")).sorted.toSeq ==
        Seq("a", "b", "c"))
      // the survivor is the FIRST record, not a later duplicate
      assert(out.find(_.getAs[String]("digest") == "a").get
        .getAs[Long]("payload") == 1L)
    } finally q.stop()
  }

  test("near-dup ingest probe replays to dd_incremental_capped exactly") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    // the dd_incremental split, live: the corpus-only dir holds the
    // non-batch docs; the batch docs arrive as the stream
    val dir = tmpDir("graft_ndi_")
    val all = spark.read.parquet(sf("sf0.01") + "/documents.parquet")
    all.filter(col("doc_id") % Dedup.BatchMod =!= Dedup.BatchRem)
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val batch = all
      .filter(col("doc_id") % Dedup.BatchMod === Dedup.BatchRem)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (Timestamp.valueOf("2025-03-01 10:00:00"),
        r.getLong(0), r.getString(1))).toSeq
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = StreamingStats.nearDupIngestStream(
        mem.toDF().toDF("ts", "doc_id", "text"), spark, dir)
      .writeStream.outputMode("append").format("memory")
      .queryName("ndi_replay").start()
    try {
      mem.addData(batch: _*)
      q.processAllAvailable()
      val got = spark.table("ndi_replay").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val want = Dedup.ddIncrementalCapped(spark, sf("sf0.01")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(want.nonEmpty, "fixture must exercise the probe")
      assert(got == want)
    } finally q.stop()
  }

  test("near-dup probe pair state survives checkpoint restart with re-delivery") {
    withoutNoDataBatches {
    import spark.implicits._
    // the risk under test: the (new_doc, corpus_doc) first-seen state
    // across a crash — a restore bug re-admits an already-alerted pair
    // (duplicate alert) or loses one entirely
    def t(s: String) = Timestamp.valueOf(s)
    val corpus = tmpDir("graft_ndrs_c_")
    val longText = (1 to 59).map(i => s"w$i").mkString(" ")
    Seq((100L, longText + " w60"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(corpus + "/documents.parquet")
    val in = tmpDir("graft_ndrs_in_")
    val ckpt = tmpDir("graft_ndrs_ck_")
    def feed(rows: Seq[(Timestamp, Long, String)]): Unit =
      rows.toDF("ts", "doc_id", "text")
        .coalesce(1).write.mode("append").parquet(in)
    val buf = new RowBuffer
    def start() = startBuffered(
      StreamingStats.nearDupIngestStream(
        spark.readStream
          .schema("ts TIMESTAMP, doc_id LONG, text STRING").parquet(in),
        spark, corpus),
      buf, ckpt)
    feed(Seq((t("2025-03-01 10:00:00"), 7L, longText + " zz")))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the batch that will be re-delivered: the SAME near-dup doc
      // again (its pair must stay dropped on the re-run) + a new one
      feed(Seq((t("2025-03-01 10:20:00"), 7L, longText + " zz"),
        (t("2025-03-01 10:21:00"), 17L, longText + " yy")))
      q1.processAllAvailable()
    } finally q1.stop()
    dropNewestCommit(ckpt)
    val q2 = start()
    try {
      q2.processAllAvailable() // re-delivery: pair (7,100) must re-drop
      // post-restart: another in-horizon repeat + a fresh probe — the
      // restored state must still know (7, 100)
      feed(Seq((t("2025-03-01 10:30:00"), 7L, longText + " zz"),
        (t("2025-03-01 10:31:00"), 27L, longText + " xx")))
      q2.processAllAvailable()
    } finally q2.stop()
    // at-least-once to the sink: assert as a SET — exactly one alert
    // per (new_doc, corpus_doc), never a duplicate pair
    val got = buf.set.map(r => (r(1), r(2)))
    assert(got == Set((7L, 100L), (17L, 100L), (27L, 100L)), s"got $got")
    }
  }

  test("stream-stream attribution join emits in-window pairs and outer nulls") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamingStats.attributionStream(
        pMem.toDF().toDF("event_id", "user_id", "ts"),
        cMem.toDF().toDF("user_id", "ts", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_test").start()
    try {
      // user 1 purchase at 10:00; clicks at 09:40/09:59 (in-window),
      // 09:29 (31 min early: out), 10:00 (boundary exclusive: out);
      // user 2 purchase with no clicks at all
      pMem.addData(
        (1L, 1L, Timestamp.valueOf("2025-03-01 10:00:00")),
        (2L, 2L, Timestamp.valueOf("2025-03-01 10:00:00")))
      cMem.addData(
        (1L, Timestamp.valueOf("2025-03-01 09:40:00"), 2.0),
        (1L, Timestamp.valueOf("2025-03-01 09:59:00"), 3.5),
        (1L, Timestamp.valueOf("2025-03-01 09:29:00"), 9.0),
        (1L, Timestamp.valueOf("2025-03-01 10:00:00"), 7.0))
      q.processAllAvailable()
      val matched = spark.table("attr_test")
        .filter(col("c_ts").isNotNull).collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("click_cents")))
        .toSet
      assert(matched == Set((1L, 200L), (1L, 350L)), s"got $matched")
      // outer rows wait for the watermark: advance BOTH sides far past
      // the window, then run the post-watermark trigger
      pMem.addData((99L, 99L, Timestamp.valueOf("2025-03-01 20:00:00")))
      cMem.addData((98L, Timestamp.valueOf("2025-03-01 20:00:00"), 1.0))
      q.processAllAvailable()
      pMem.addData(); cMem.addData()
      q.processAllAvailable()
      val unmatched = spark.table("attr_test")
        .filter(col("c_ts").isNull).collect()
        .map(_.getAs[Long]("event_id")).toSet
      assert(unmatched.contains(2L), s"user 2's purchase must flush: $unmatched")
      // and no in-window pair ever doubled or leaked
      assert(spark.table("attr_test").filter(col("c_ts").isNotNull)
        .count() == 2)
    } finally q.stop()
  }

  test("streaming transform schema matches its batch twin's core columns") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long, Double)]
    val out = StreamingStats.dailyEventStats(
      mem.toDF().toDF("ts", "event_type", "user_id", "value"))
    assert(out.columns.toSeq == Seq("day", "event_type", "n_events",
      "approx_users", "total_value", "avg_value"))
  }
  test("streaming transitions converge to the batch ev_markov matrix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("ts"), col("user_id").cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(Timestamp, Long, Long, String)]
    // quiet window > fixture span: no chain drops during the replay
    val q = StreamingStats.markovStream(
        mem.toDF().toDF("ts", "user_id", "event_id", "event_type"),
        quietMs = 90L * 24L * 60L * 60L * 1000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("markov_steps").start()
    try {
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq) // chains must survive the batch boundary
      q.processAllAvailable()
      val streamed = spark.table("markov_steps")
        .groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSet
      val batch = graft.operators.TimeSeries.evMarkov(spark, sf())
        .select(col("from_type"), col("to_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2))).toSet
      assert(batch.nonEmpty && streamed == batch)
      // every step row is a real consecutive pair: one per event
      // beyond each user's first
      val users = fixture.map(_._2).distinct.length
      assert(spark.table("markov_steps").count() ==
        fixture.length - users)
    } finally q.stop()
  }

  test("events reader reads NTZ and LTZ ts fixtures identically and rejects long nanos") {
    // the fixture's physical ts type has changed across driver data
    // generations (r8: NANOS→MICROS broke 75 specs). The declared
    // schema says TIMESTAMP_NTZ: an LTZ file reads as the same instants
    // in the UTC session, and a long-nanos file fails on the action
    // instead of reading as silent values
    val base = StreamingStats.events(spark, sf())
      .orderBy(col("event_id")).limit(50)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val want = base.collect().map(_.toSeq.toList).toList
    val dir = tmpDir("evts")
    // long nanos (the shape rounds 1-7 read)
    base.withColumn("ts", expr("unix_micros(ts) * 1000L"))
      .write.mode("overwrite").parquet(s"$dir/nanos/events.parquet")
    val e = intercept[Exception] {
      StreamingStats.events(spark, s"$dir/nanos").collect()
    }
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(causes.exists(c => String.valueOf(c.getMessage)
      .contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH")), e)
    // NTZ micros (the r8 fixture shape)
    base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")
    // native LTZ timestamp
    base.write.mode("overwrite").parquet(s"$dir/ltz/events.parquet")
    Seq("ntz", "ltz").foreach { enc =>
      val got = StreamingStats.events(spark, s"$dir/$enc")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .orderBy(col("event_id")).collect().map(_.toSeq.toList).toList
      assert(got == want, s"mismatch for $enc encoding")
      assert(StreamingStats.events(spark, s"$dir/$enc")
        .schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, s"type for $enc")
    }
  }

  test("streaming coverage converges to the batch ev_coverage rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("event_type"), col("ts"))
      .orderBy(col("ts"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(String, Timestamp)]
    val q = StreamingStats.coverageStream(
        mem.toDF().toDF("event_type", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("cov_rows").start()
    try {
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq) // counts must survive the batch boundary
      q.processAllAvailable()
      // n_events per type is monotone across snapshots, so the final
      // snapshot is the max-n_events row
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col("n_events").desc)
      val streamed = spark.table("cov_rows")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .drop("rn").collect()
        .map(r => r.toSeq.toList).toSet
      val batch = graft.operators.TimeSeries.evCoverage(spark, sf())
        .collect().map(r => r.toSeq.toList).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming anomaly rows equal batch ev_anomaly for every closed day") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("event_type"), col("ts"))
      .orderBy(col("ts"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val types = fixture.map(_._1).distinct.toSeq
    val maxMs = fixture.map(_._2.getTime).max
    // two far-future flush rounds per type: round 1 advances the
    // watermark past every real day; round 2 makes each type's state
    // function run AFTER that advance so the tail days emit
    def flush(days: Int) =
      types.map(t => (t, new Timestamp(maxMs + days * 86400000L)))
    val mem = MemoryStream[(String, Timestamp)]
    val q = StreamingStats.anomalyStream(
        mem.toDF().toDF("event_type", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("anom_rows").start()
    try {
      mem.addData(a.toSeq)
      q.processAllAvailable()
      mem.addData(b.toSeq) // baselines must survive the batch boundary
      q.processAllAvailable()
      mem.addData(flush(30))
      q.processAllAvailable()
      mem.addData(flush(31))
      q.processAllAvailable()
      val maxDay = java.time.Instant.ofEpochMilli(maxMs)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
      val streamed = spark.table("anom_rows")
        .filter(col("day") <= lit(maxDay)) // drop the flush-day rows
        .collect().map(_.toSeq.toList).toSet
      val batch = graft.operators.TimeSeries.evAnomaly(spark, sf())
        .collect().map(_.toSeq.toList).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("coverage state eviction is bounded and lossless") {
    import StreamingStats.CovState
    // 40 days of data with a hole at days 10-19, folded in two batches
    val batch1 = (0 until 10).map(d => d -> (d + 1).toLong).toMap
    val batch2 = (20 until 40).map(d => d -> (d + 1).toLong).toMap
    val full = CovState.merge(CovState.merge(CovState.empty, batch1,
      Int.MaxValue), batch2, Int.MaxValue)
    val tight = CovState.merge(CovState.merge(CovState.empty, batch1,
      5), batch2, 5)
    // the live map respects the horizon; the full-horizon one keeps all
    assert(full.live.size == 30)
    assert(tight.live.size <= 5)
    // eviction folded the dropped days losslessly: identical snapshot
    assert(CovState.snapshot("t", tight) == CovState.snapshot("t", full))
    val snap = CovState.snapshot("t", full)
    assert(snap.days_present == 30 && snap.span_days == 40 &&
      snap.days_missing == 10 && snap.min_day_events == 1L &&
      snap.n_events == (1 to 10).sum + (21 to 40).sum)
  }

  test("coverageStream rejects a horizon the watermark could outrun") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    // horizonDays = 1: a 1-hour-late event can target a just-evicted
    // day and double-count its frozen aggregates — the entry point
    // must refuse the unsafe combination outright
    val e = intercept[IllegalArgumentException] {
      StreamingStats.coverageStream(
        mem.toDF().toDF("event_type", "ts"), horizonDays = 1)
    }
    assert(e.getMessage.contains("lossless-eviction precondition"))
  }

  test("events reader leaves the session nanosAsLong conf as it found it") {
    // the shared reader must not change the legacy conf session-wide
    // (a leaked `true` silently turns every OTHER nanos-annotated
    // parquet in the session into longs); events() reads with the
    // declared schema and touches no conf at all
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.get(key)
    StreamingStats.events(spark, sf()).count()
    assert(spark.conf.get(key) == before,
      "shared reader leaked the legacy conf into the session")
    // an explicit builder-time opt-out survives the call too
    spark.conf.set(key, "false")
    try {
      StreamingStats.events(spark, sf()).count()
      assert(spark.conf.get(key) == "false")
    } finally spark.conf.set(key, before)
  }

  // ---------------------------------------------------------------
  // checkpoint-restart: the at-least-once re-delivery cases. A file
  // source is fully replayable; deleting the newest entry from
  // <ckpt>/commits re-opens the offsets/commits gap, so the restarted
  // query RE-RUNS its last batch before taking new data — exactly the
  // failure-recovery overlap a real deployment hits first. Each sink's
  // external merge must absorb the duplicate delivery.
  // ---------------------------------------------------------------

  private def dropNewestCommit(ckpt: String): Unit = {
    val dir = new java.io.File(s"$ckpt/commits")
    val files = dir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(files.nonEmpty, "no commits to drop")
    // the local Hadoop fs keeps a sibling .N.crc — drop it too, or the
    // restarted query's re-write of commit N trips the stale checksum
    // file and reads as a concurrent-log-update failure
    val crc = new java.io.File(dir, s".${files.last.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(files.last.delete())
  }

  test("top-k sink restart with re-delivered batch keeps the single-run rows") {
    import spark.implicits._
    def t(day: String, h: Int) = Timestamp.valueOf(f"$day $h%02d:00:00")
    val in = tmpDir("graft_tk_in_")
    val ckpt = tmpDir("graft_tk_ck_")
    def feed(rows: Seq[(Timestamp, String, Long, Long, Double)]): Unit =
      rows.toDF("ts", "event_type", "event_id", "user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    def stream() = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, event_id LONG, " +
        "user_id LONG, value DOUBLE")
      .parquet(in)
    val sink = new StreamingStats.TopKStreamSink(spark, 2)
    feed(Seq((t("2025-03-01", 10), "click", 1L, 1L, 5.0),
      (t("2025-03-01", 11), "click", 2L, 2L, 7.0),
      (t("2025-03-01", 12), "view", 3L, 1L, 2.0)))
    val q1 = StreamingStats.startTopkSink(stream(), sink, Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    // crash before the commit record: batch 0 will be RE-delivered to
    // the same driver-side sink state on restart
    dropNewestCommit(ckpt)
    feed(Seq((t("2025-03-02", 10), "click", 4L, 3L, 9.0),
      (t("2025-03-02", 11), "view", 5L, 2L, 1.0)))
    val q2 = StreamingStats.startTopkSink(stream(), sink, Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    val got = sink.result().collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // the single-run top-2 per (type, day) — event 1 must NOT have
    // been evicted by a duplicated copy of event 2
    val want = Set(
      ("click", "2025-03-01", 1, 2L, 2L, 700L),
      ("click", "2025-03-01", 2, 1L, 1L, 500L),
      ("view", "2025-03-01", 1, 3L, 1L, 200L),
      ("click", "2025-03-02", 1, 4L, 3L, 900L),
      ("view", "2025-03-02", 1, 5L, 2L, 100L))
    assert(got == want, s"got $got")
  }

  test("CDC sink restart re-applies its last merge idempotently") {
    import spark.implicits._
    val in = tmpDir("graft_cdc_in_")
    val table = tmpDir("graft_cdc_rs_") + "/items"
    val ckpt = tmpDir("graft_cdc_ck_")
    def feed(rows: Seq[(Long, String, String, String)]): Unit =
      rows.toDF("id", "date", "payload", "op")
        .coalesce(1).write.mode("append").parquet(in)
    def stream() = spark.readStream
      .schema("id LONG, date STRING, payload STRING, op STRING").parquet(in)
    feed(Seq((1L, "2025-01-01", "one", "upsert"),
      (2L, "2025-01-01", "two", "upsert"),
      (3L, "2025-01-02", "three", "upsert")))
    val q1 = StreamingStats.startCdcSink(stream(), table, Seq("id"),
      "date", ckpt)
    try q1.processAllAvailable() finally q1.stop()
    dropNewestCommit(ckpt)
    feed(Seq((1L, "2025-01-01", "ONE", "upsert"),
      (2L, "2025-01-01", "", "delete"),
      (4L, "2025-01-03", "four", "upsert")))
    val q2 = StreamingStats.startCdcSink(stream(), table, Seq("id"),
      "date", ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(table).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(out == Map(1L -> "ONE", 3L -> "three", 4L -> "four"),
      s"got $out")
  }

  test("upsert sink restart re-delivers the emitting batch idempotently") {
    import spark.implicits._
    val in = tmpDir("graft_ups_in_")
    val wh = tmpDir("graft_ups_wh_")
    val ckpt = tmpDir("graft_ups_ck_")
    def feed(rows: Seq[(Timestamp, String, Long, Double)]): Unit =
      rows.toDF("ts", "event_type", "user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    def stream() = spark.readStream
      .schema("ts TIMESTAMP, event_type STRING, user_id LONG, value DOUBLE")
      .parquet(in)
    feed(Seq(
      (Timestamp.valueOf("2025-03-01 10:00:00"), "click", 1L, 2.0),
      (Timestamp.valueOf("2025-03-03 09:00:00"), "view", 2L, 1.0)))
    val q1 = StreamingStats.startUpsertSink(stream(), wh, ckpt)
    try q1.processAllAvailable() finally q1.stop()
    // run 1 upserted the closed (click, 03-01) window; dropping the
    // newest commit re-delivers that emitting batch on restart
    assert(spark.read.parquet(s"$wh/subreddit_stats").count() == 1)
    dropNewestCommit(ckpt)
    feed(Seq((Timestamp.valueOf("2025-03-05 09:00:00"), "click", 3L, 3.0)))
    val q2 = StreamingStats.startUpsertSink(stream(), wh, ckpt)
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(s"$wh/subreddit_stats").collect()
      .map(r => (r.getAs[String]("subreddit"), r.getAs[String]("date"),
        r.getAs[Long]("n_events"))).toSet
    // double-applied (click, 03-01) stays one latest-wins row; the
    // (view, 03-03) window closed by the 03-05 event lands once
    assert(out == Set(("click", "2025-03-01", 1L),
      ("view", "2025-03-03", 1L)), s"got $out")
  }

  test("streaming SRM monitor converges to the batch ev_srm verdict") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("event_type"), col("user_id"), col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getTimestamp(2)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(String, Long, Timestamp)]
    val q = StreamingStats.srmStream(
        mem.toDF().toDF("event_type", "user_id", "ts"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("srm_live").start()
    try {
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq) // dedup state must survive the boundary
      q.processAllAvailable()
      val streamed = spark.table("srm_live").collect()
        .map(_.toSeq.toList).toSet
      val batch = graft.operators.Analytics.evSrm(spark, sf())
        .collect().map(_.toSeq.toList).toSet
      assert(batch.nonEmpty && streamed == batch)
    } finally q.stop()
  }

  test("streaming DQ monitor converges to the batch ev_dq audit row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("event_id"), col("user_id"), col("value"), col("props"),
        col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getTimestamp(4)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(Long, Long, Double, String, Timestamp)]
    val q = StreamingStats.dqStream(
        mem.toDF().toDF("event_id", "user_id", "value", "props", "ts"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("dq_live").start()
    try {
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq) // all three dedup states cross the boundary
      q.processAllAvailable()
      val streamed = spark.table("dq_live").collect().map(_.toSeq).toSet
      val batch = graft.operators.Analytics.evDq(spark, sf())
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("streaming DQ monitor counts a dirty feed's violations live") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, Long, Double, String, Timestamp)]
    val q = StreamingStats.dqStream(
        mem.toDF().toDF("event_id", "user_id", "value", "props", "ts"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("dq_dirty").start()
    try {
      mem.addData(
        (1L, 10L, 1.0, """{"k":1}""", t("2025-03-01 10:00:00")),
        (2L, 10L, -2.0, null, t("2025-03-01 11:00:00")),
        (3L, 11L, 1.0, "{not json", t("2025-03-03 10:00:00")))
      q.processAllAvailable()
      // the CROSS-BATCH duplicate id (1) — only the dedup state sees it
      mem.addData(
        (1L, 10L, 1.0, """{"k":1}""", t("2025-03-01 10:00:00")),
        (4L, 12L, 1.0, """[1,2]""", t("2025-03-04 10:00:00")))
      q.processAllAvailable()
      val r = spark.table("dq_dirty").collect().head
      assert(r.getAs[Long]("n_events") == 5)
      assert(r.getAs[Long]("n_distinct_ids") == 4)
      assert(r.getAs[Long]("n_dup_ids") == 1)
      assert(r.getAs[Long]("n_users") == 3)
      assert(r.getAs[Long]("n_null_props") == 1)
      assert(r.getAs[Long]("n_malformed_props") == 1)
      assert(r.getAs[Long]("n_negative_values") == 1)
      assert(r.getAs[String]("first_day") == "2025-03-01")
      assert(r.getAs[String]("last_day") == "2025-03-04")
      assert(r.getAs[Long]("n_days_present") == 3)
      assert(r.getAs[Long]("n_days_missing") == 1)
    } finally q.stop()
  }

  test("bounded-state DQ monitor equals batch ev_dq in-horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the documented bounded-id swap (dropDuplicatesWithinWatermark):
    // same fixture replay across a batch boundary as the dqStream
    // test — every fixture duplicate is in-horizon, so the bounded
    // monitor must reproduce the batch audit row exactly
    val fixture = StreamingStats.events(spark, sf())
      .select(col("event_id"), col("user_id"), col("value"), col("props"),
        col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getString(3), r.getTimestamp(4)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(Long, Long, Double, String, Timestamp)]
    val q = StreamingStats.dqStreamBounded(
        mem.toDF().toDF("event_id", "user_id", "value", "props", "ts"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("dq_bounded").start()
    try {
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("dq_bounded").collect().map(_.toSeq).toSet
      val batch = graft.operators.Analytics.evDq(spark, sf())
        .collect().map(_.toSeq).toSet
      assert(batch.nonEmpty && streamed == batch,
        s"streamed=$streamed batch=$batch")
    } finally q.stop()
  }

  test("bounded-state DQ monitor's beyond-horizon divergence is exactly the documented one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // an id REUSED with a fresh timestamp after its state aged out of
    // the 1-hour horizon: the bounded monitor counts it distinct (the
    // accepted trade — the nightly batch audit carries it); the
    // unbounded dqStream counts it as a dup forever. Both behaviors
    // pinned on the same feed so the divergence can never silently
    // widen beyond the contract.
    def t(s: String) = Timestamp.valueOf(s)
    val feed = Seq(
      Seq((1L, 10L, 1.0, """{"k":1}""", t("2025-03-01 10:00:00")),
        (2L, 10L, 1.0, """{"k":1}""", t("2025-03-01 10:30:00"))),
      // advances the watermark to 13:00 — id 1's state (10:00) ages out
      Seq((3L, 11L, 1.0, """{"k":1}""", t("2025-03-01 14:00:00"))),
      // id 1 reused with a fresh in-horizon timestamp
      Seq((1L, 12L, 1.0, """{"k":1}""", t("2025-03-01 14:30:00"))))
    def run(bounded: Boolean, name: String): Seq[Any] = {
      val mem = MemoryStream[(Long, Long, Double, String, Timestamp)]
      val df = mem.toDF().toDF("event_id", "user_id", "value", "props", "ts")
      val q = (if (bounded) StreamingStats.dqStreamBounded(df)
        else StreamingStats.dqStream(df))
        .writeStream.outputMode("complete").format("memory")
        .queryName(name).start()
      try {
        feed.foreach { batch =>
          mem.addData(batch); q.processAllAvailable()
        }
        spark.table(name).collect().head.toSeq
      } finally q.stop()
    }
    val bounded = run(bounded = true, "dq_bh_bounded")
    val unbounded = run(bounded = false, "dq_bh_unbounded")
    // (n_events, n_distinct_ids, n_dup_ids, n_users, ...)
    assert(unbounded.take(4) == Seq(4L, 3L, 1L, 3L), s"got $unbounded")
    assert(bounded.take(4) == Seq(4L, 4L, 0L, 3L), s"got $bounded")
    // every other counter identical — the id branch is the ONLY delta
    assert(bounded.drop(4) == unbounded.drop(4))
  }

  test("DQ monitor ignores NULL ids/users in distinct counts (countDistinct parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // batch evDq uses countDistinct, which ignores NULL keys; the
    // dedup branches must not count the one NULL-key row that
    // dropDuplicates keeps — null ids are exactly the dirty-feed
    // regime the monitor targets
    def t(s: String) = Timestamp.valueOf(s)
    val mem =
      MemoryStream[(Option[Long], Option[Long], Double, String, Timestamp)]
    val q = StreamingStats.dqStream(
        mem.toDF().toDF("event_id", "user_id", "value", "props", "ts"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("dq_nulls").start()
    try {
      mem.addData(
        (Some(1L), Some(10L), 1.0, """{"k":1}""", t("2025-03-01 10:00:00")),
        (None, Some(10L), 1.0, """{"k":1}""", t("2025-03-01 11:00:00")),
        (Some(2L), None, 1.0, """{"k":1}""", t("2025-03-02 10:00:00")),
        (None, None, 1.0, """{"k":1}""", t("2025-03-02 11:00:00")))
      q.processAllAvailable()
      val r = spark.table("dq_nulls").collect().head
      assert(r.getAs[Long]("n_events") == 4)
      assert(r.getAs[Long]("n_distinct_ids") == 2)
      assert(r.getAs[Long]("n_dup_ids") == 2)
      assert(r.getAs[Long]("n_users") == 1)
      assert(r.getAs[Long]("n_days_present") == 2)
    } finally q.stop()
  }

  test("DQ monitor counters stay exactly-once across restart with re-delivery") {
    withoutNoDataBatches {
    import spark.implicits._
    // the risk under test: a re-delivered batch flowing through THREE
    // dedup states into a running aggregate — a rollback bug in any
    // branch double-counts ids/users/days or loses a violation
    def t(s: String) = Timestamp.valueOf(s)
    val in = tmpDir("graft_dqrs_in_")
    val ckpt = tmpDir("graft_dqrs_ck_")
    def feed(rows: Seq[(Long, Long, Double, String, Timestamp)]): Unit =
      rows.toDF("event_id", "user_id", "value", "props", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    val lastRow = new java.util.concurrent.atomic.AtomicReference[Seq[Any]]
    def start() = StreamingStats.dqStream(
        spark.readStream
          .schema("event_id LONG, user_id LONG, value DOUBLE, " +
            "props STRING, ts TIMESTAMP").parquet(in))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().headOption.foreach(r => lastRow.set(r.toSeq)) }
      .start()
    feed(Seq((1L, 10L, 1.0, """{"k":1}""", t("2025-03-01 10:00:00")),
      (2L, 10L, -2.0, null, t("2025-03-01 11:00:00"))))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // this batch carries a duplicate id AND new users/days — the
      // batch that will be re-delivered
      feed(Seq((1L, 10L, 1.0, """{"k":1}""", t("2025-03-01 10:00:00")),
        (3L, 11L, 1.0, "{not json", t("2025-03-03 10:00:00"))))
      q1.processAllAvailable()
    } finally q1.stop()
    dropNewestCommit(ckpt)
    val q2 = start()
    try {
      q2.processAllAvailable() // re-delivery of the dup-carrying batch
      feed(Seq((4L, 12L, 1.0, """[1,2]""", t("2025-03-04 10:00:00"))))
      q2.processAllAvailable()
    } finally q2.stop()
    val r = lastRow.get()
    // exactly the single-run audit: the re-delivered duplicate id is
    // counted ONCE as a dup, nothing else moved twice
    // (n_events, n_distinct_ids, n_dup_ids, n_users, n_null_props,
    //  n_malformed_props, n_negative_values, first, last, present, missing)
    assert(r == Seq[Any](5L, 4L, 1L, 3L, 1L, 1L, 1L,
      "2025-03-01", "2025-03-04", 3L, 1L), s"got $r")
    }
  }

  test("streaming bot monitor converges to a brute-force cadence recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("user_id"), col("event_id"), col("ts"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingStats.botStream(
        mem.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("bot_live").start()
    try {
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq) // gaps must chain across the batch boundary
      q.processAllAvailable()
      // latest row per user = the one carrying the full volume
      val streamed = spark.table("bot_live").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getBoolean(3))))
        .groupBy(_._1).map { case (u, v) => u -> v.map(_._2).maxBy(_._1) }
      // brute force over the total per-user (us, event_id) order —
      // evBot's gap relation exactly
      def us(t: Timestamp) =
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
      val want = fixture.groupBy(_._1).map { case (u, evs) =>
        val ts = evs.map(e => (us(e._3), e._2)).sorted.map(_._1)
        val n = ts.length.toLong
        val gaps = ts.zip(ts.drop(1)).map { case (x, y) => y - x }
        val mg = if (gaps.isEmpty) -1L else gaps.min
        u -> ((n, mg, gaps.nonEmpty &&
          mg < graft.operators.TimeSeries.BotMinGapUs &&
          n >= graft.operators.TimeSeries.BotMinEvents))
      }
      assert(streamed.nonEmpty && streamed == want)
    } finally q.stop()
  }

  test("streaming bot monitor flags a flooding account mid-burst") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(i: Int) = new Timestamp(1700000000000L + i * 500L) // 0.5 s apart
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val q = StreamingStats.botStream(
        mem.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("bot_burst").start()
    try {
      // 30 events: volume still under the floor — cadence visible,
      // flag held (the volume guard keeps one fast double-click from
      // paging)
      mem.addData((0 until 30).map(i => (7L, i.toLong, t(i))))
      q.processAllAvailable()
      val early = spark.table("bot_burst")
        .filter(col("user_id") === 7L).collect()
        .maxBy(_.getLong(1))
      assert(early.getLong(1) == 30 && early.getLong(2) == 500000L &&
        !early.getBoolean(3))
      // the burst continues across the batch boundary past the floor:
      // the flag must raise IN THIS BATCH, not in tomorrow's audit
      mem.addData((30 until 60).map(i => (7L, i.toLong, t(i))))
      q.processAllAvailable()
      val late = spark.table("bot_burst")
        .filter(col("user_id") === 7L).collect()
        .maxBy(_.getLong(1))
      assert(late.getLong(1) == 60 && late.getLong(2) == 500000L &&
        late.getBoolean(3), s"flag not raised: $late")
    } finally q.stop()
  }

  test("SRM monitor cohort counts stay exactly-once across restart") {
    withoutNoDataBatches {
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    val in = tmpDir("graft_srmrs_in_")
    val ckpt = tmpDir("graft_srmrs_ck_")
    def feed(rows: Seq[(String, Long, Timestamp)]): Unit =
      rows.toDF("event_type", "user_id", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    val lastRows =
      new java.util.concurrent.atomic.AtomicReference[Set[Seq[Any]]]
    def start() = StreamingStats.srmStream(
        spark.readStream
          .schema("event_type STRING, user_id LONG, ts TIMESTAMP")
          .parquet(in))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        lastRows.set(b.collect().map(_.toSeq).toSet) }
      .start()
    val users = (1L to 40L)
    feed(users.take(20).map(u => ("click", u, t("2025-03-01 10:00:00"))))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the batch to be re-delivered: 10 RE-ASSIGNED users (already in
      // the dedup state) + 20 new ones
      feed((users.take(10) ++ users.drop(20))
        .map(u => ("click", u, t("2025-03-01 11:00:00"))))
      q1.processAllAvailable()
    } finally q1.stop()
    val once = lastRows.get()
    dropNewestCommit(ckpt)
    val q2 = start()
    try q2.processAllAvailable() // re-delivery through rolled-back dedup
    finally q2.stop()
    // the verdict after re-delivery == the single-run verdict: no
    // assignment counted twice (an SRM monitor that double-counts on
    // recovery would raise the very alarm it exists to raise)
    assert(lastRows.get() == once, s"got ${lastRows.get()} want $once")
    val r = lastRows.get().head
    assert(r(1).asInstanceOf[Long] + r(2).asInstanceOf[Long] == 40L,
      s"distinct assignments: $r")
    }
  }

  test("bot monitor cadence survives restart with re-delivery") {
    withoutNoDataBatches {
    import spark.implicits._
    def t(i: Int) = new Timestamp(1700000000000L + i * 500L)
    val in = tmpDir("graft_botrs_in_")
    val ckpt = tmpDir("graft_botrs_ck_")
    def feed(rows: Seq[(Long, Long, Timestamp)]): Unit =
      rows.toDF("user_id", "event_id", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.botStream(
        spark.readStream
          .schema("user_id LONG, event_id LONG, ts TIMESTAMP")
          .parquet(in)),
      buf, ckpt)
    feed((0 until 30).map(i => (7L, i.toLong, t(i))))
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      feed((30 until 60).map(i => (7L, i.toLong, t(i)))) // crosses floor
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.set == Set(
      Seq[Any](7L, 30L, 500000L, false),
      Seq[Any](7L, 60L, 500000L, true)), s"run 1: ${buf1.set}")
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try {
      q2.processAllAvailable() // re-runs the flag-raising batch
      // the NEXT batch chains off the recomputed last event: volume
      // continues from 60, the 500 ms cadence is not double-counted
      feed(Seq((7L, 60L, t(60))))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(buf2.set == Set(
      Seq[Any](7L, 60L, 500000L, true), // re-delivered, identical
      Seq[Any](7L, 61L, 500000L, true)), s"run 2: ${buf2.set}")
    }
  }

  test("streaming growth rows reconcile with batch ev_growth_accounting") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val fixture = StreamingStats.events(spark, sf())
      .select(col("user_id"), col("ts")).orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val maxMs = fixture.map(_._2.getTime).max
    val maxDay = java.time.Instant.ofEpochMilli(maxMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val (a, b) = fixture.splitAt(fixture.length / 2)
    def flush(days: Int) =
      Seq((999999L, new Timestamp(maxMs + days * 86400000L)))
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamingStats.growthStream(mem.toDF().toDF("user_id", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("growth_rows").start()
    try {
      mem.addData(a.toSeq); q.processAllAvailable()
      mem.addData(b.toSeq); q.processAllAvailable() // cross-batch state
      mem.addData(flush(40)); q.processAllAvailable()
      mem.addData(flush(41)); q.processAllAvailable() // timers fire
      val streamed = spark.table("growth_rows")
        .filter(col("user_id") =!= 999999L && col("day") <= lit(maxDay))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .toSeq
      // class rows aggregate to the batch per-day decomposition
      val batch = graft.operators.TimeSeries
        .evGrowthAccounting(spark, sf()).collect()
        .map(r => r.getString(0) -> r).toMap
      val perDay = streamed.filter(_._3 != "churned")
        .groupBy(t => (t._2, t._3)).map { case (k, v) => k -> v.size.toLong }
      batch.foreach { case (day, r) =>
        assert(perDay.getOrElse((day, "new"), 0L) ==
          r.getAs[Long]("n_new"), s"new at $day")
        assert(perDay.getOrElse((day, "retained"), 0L) ==
          r.getAs[Long]("n_retained"), s"retained at $day")
        assert(perDay.getOrElse((day, "resurrected"), 0L) ==
          r.getAs[Long]("n_resurrected"), s"resurrected at $day")
      }
      assert(streamed.filter(_._3 != "churned").map(_._2)
        .forall(batch.contains))
      // churn rows: one per inactivity-streak boundary (the live
      // superset); the batch books exactly the final-streak subset
      val gap = graft.operators.TimeSeries.GrowthGapDays
      val userDays = fixture
        .map { case (u, ts) =>
          (u, math.floorDiv(ts.getTime, 86400000L).toInt) }
        .distinct.groupBy(_._1)
        .map { case (u, v) => u -> v.map(_._2).distinct.sorted }
      def cDay(l: Int) =
        java.time.LocalDate.ofEpochDay(l.toLong + gap + 1).toString
      val expectChurn = userDays.toSeq.flatMap { case (u, days) =>
        val ends = days.zip(days.drop(1))
          .collect { case (l, d) if d - l > gap => l } :+ days.last
        ends.map(l => (u, cDay(l), "churned")).filter(_._2 <= maxDay)
      }.toSet
      assert(streamed.filter(_._3 == "churned").toSet == expectChurn)
      val finalChurn = userDays.values.toSeq.map(days => cDay(days.last))
        .filter(_ <= maxDay)
        .groupBy(identity).map { case (d, v) => d -> v.size.toLong }
      batch.foreach { case (day, r) =>
        assert(r.getAs[Long]("n_churned") ==
          finalChurn.getOrElse(day, 0L), s"churn at $day")
      }
    } finally q.stop()
  }

  test("growth stream: timer-driven churn, retraction, and re-churn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // noon-of-day events: a row at exactly epoch 0 is at-or-before the
    // INITIAL watermark and Spark's EventTimeTimeout path drops it as
    // late before the state function ever sees it
    def ts(day: Int) = new Timestamp(day * 86400000L + 43200000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamingStats.growthStream(mem.toDF().toDF("user_id", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("growth_synth").start()
    try {
      // u1: days 0,1 then returns day 20; u2: days 0..3 only
      mem.addData(Seq((1L, ts(0)), (1L, ts(1)), (2L, ts(0)), (2L, ts(1)),
        (2L, ts(2)), (2L, ts(3))))
      q.processAllAvailable()
      // advance the watermark past u1's churn day WITHOUT u1/u2 data:
      // the churn rows below can only come from EventTimeTimeout timers
      mem.addData(Seq((9L, ts(15)))); q.processAllAvailable()
      mem.addData(Seq((9L, ts(16)))); q.processAllAvailable()
      val afterTimer = spark.table("growth_synth")
        .filter(col("user_id").isin(1L, 2L) && col("kind") === "churned")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // u1 last = epoch day 1 → churn at day 9 = 1970-01-10;
      // u2 last = epoch day 3 → churn at day 11 = 1970-01-12
      assert(afterTimer == Set((1L, "1970-01-10"), (2L, "1970-01-12")),
        s"timer churns: $afterTimer")
      // u1 resurrects (the live retraction), then goes silent again
      mem.addData(Seq((1L, ts(20)))); q.processAllAvailable()
      mem.addData(Seq((9L, ts(40)))); q.processAllAvailable()
      mem.addData(Seq((9L, ts(41)))); q.processAllAvailable()
      val u1 = spark.table("growth_synth").filter(col("user_id") === 1L)
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(u1 == Set(
        ("1970-01-01", "new"), ("1970-01-02", "retained"),
        ("1970-01-10", "churned"),          // intermediate, timer-fired
        ("1970-01-21", "resurrected"),      // the retraction
        ("1970-01-29", "churned")),         // the streak re-churns
        s"u1 rows: $u1")
      val u2 = spark.table("growth_synth").filter(col("user_id") === 2L)
        .collect().map(r => (r.getString(1), r.getString(2))).toSet
      assert(u2 == Set(
        ("1970-01-01", "new"), ("1970-01-02", "retained"),
        ("1970-01-03", "retained"), ("1970-01-04", "retained"),
        ("1970-01-12", "churned")), s"u2 rows: $u2")
    } finally q.stop()
  }

  // ---------------------------------------------------------------
  // checkpoint-restart for the flatMapGroupsWithState twins: the
  // state-STORE recovery path (vs the foreachBatch sinks' external-
  // merge path above). Dropping the newest commit re-delivers the
  // last batch; the restarted query must (a) recompute the
  // re-delivered batch's emissions identically from the rolled-back
  // state version, and (b) keep every timer set BEFORE the crash
  // alive — a lost EventTimeTimeout is a session/churn row that
  // silently never fires.
  // ---------------------------------------------------------------

  /** Driver-side row buffer behind a `foreachBatch` bridge — the
    * memory sink does NOT support checkpoint recovery, and the file
    * sink's own commit log would silently SWALLOW a re-delivered
    * batch; `foreachBatch` both recovers and re-invokes, so the
    * re-delivered rows stay observable.
    */
  test("ingest dedup state survives checkpoint restart with re-delivery") {
    withoutNoDataBatches {
    import spark.implicits._
    // the risk under test: dropDuplicatesWithinWatermark's digest
    // state across a crash — a restore bug would re-admit an
    // already-seen digest (the later duplicate's payload leaks
    // downstream) or lose a first-seen row entirely
    def t(s: String) = Timestamp.valueOf(s)
    val in = tmpDir("graft_ddrs_in_")
    val ckpt = tmpDir("graft_ddrs_ck_")
    def feed(rows: Seq[(Timestamp, String, Long)]): Unit =
      rows.toDF("ts", "digest", "payload")
        .coalesce(1).write.mode("append").parquet(in)
    val buf = new RowBuffer
    def start() = startBuffered(
      StreamingStats.dedupIngestStream(
        spark.readStream
          .schema("ts TIMESTAMP, digest STRING, payload LONG").parquet(in)),
      buf, ckpt)
    feed(Seq((t("2025-03-01 10:00:00"), "a", 1L),
      (t("2025-03-01 10:01:00"), "b", 2L)))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the batch that will be re-delivered: an in-horizon duplicate
      // of "a" (must stay dropped on the re-run) plus a new digest
      feed(Seq((t("2025-03-01 10:20:00"), "a", 3L),
        (t("2025-03-01 10:21:00"), "c", 4L)))
      q1.processAllAvailable()
    } finally q1.stop()
    dropNewestCommit(ckpt)
    val q2 = start()
    try {
      q2.processAllAvailable() // re-delivery: "a"-dup must re-drop
      // post-restart batch: another in-horizon dup + a new digest —
      // the restored state must still know "a"
      feed(Seq((t("2025-03-01 10:30:00"), "a", 5L),
        (t("2025-03-01 10:31:00"), "d", 6L)))
      q2.processAllAvailable()
    } finally q2.stop()
    // at-least-once to the sink: assert as a SET (the re-delivered
    // batch may deliver "c" twice) — exactly the single-run rows, the
    // first-seen payloads, and no later duplicate's payload ever
    val got = buf.set.map(r => (r(1), r(2)))
    assert(got == Set(("a", 1L), ("b", 2L), ("c", 4L), ("d", 6L)),
      s"got $got")
    }
  }

  test("attribution join state survives checkpoint restart with re-delivery") {
    withoutNoDataBatches {
    import spark.implicits._
    // the risk under test: BOTH sides' buffered join state across a
    // crash — a restore bug drops a buffered click (a pair vanishes),
    // forgets a matched purchase (a spurious outer-null row), or
    // double-matches on the re-delivered batch
    def t(s: String) = Timestamp.valueOf(s)
    val pIn = tmpDir("graft_atrs_p_")
    val cIn = tmpDir("graft_atrs_c_")
    val ckpt = tmpDir("graft_atrs_ck_")
    def feedP(rows: Seq[(Long, Long, Timestamp)]): Unit =
      rows.toDF("event_id", "user_id", "ts")
        .coalesce(1).write.mode("append").parquet(pIn)
    def feedC(rows: Seq[(Long, Timestamp, Double)]): Unit =
      rows.toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(cIn)
    val buf = new RowBuffer
    def start() = startBuffered(
      StreamingStats.attributionStream(
        spark.readStream
          .schema("event_id LONG, user_id LONG, ts TIMESTAMP").parquet(pIn),
        spark.readStream
          .schema("user_id LONG, ts TIMESTAMP, value DOUBLE").parquet(cIn)),
      buf, ckpt)
    // purchase 1 has two in-window clicks; purchase 2 has none
    feedP(Seq((1L, 1L, t("2025-03-01 10:00:00")),
      (2L, 2L, t("2025-03-01 10:00:00"))))
    feedC(Seq((1L, t("2025-03-01 09:40:00"), 2.0),
      (1L, t("2025-03-01 09:59:00"), 3.5)))
    val q1 = start()
    try {
      q1.processAllAvailable()
      // the batch that will be re-delivered: watermark advance on both
      // sides, flushing purchase 2's outer-null row
      feedP(Seq((99L, 99L, t("2025-03-01 20:00:00"))))
      feedC(Seq((98L, t("2025-03-01 20:00:00"), 1.0)))
      q1.processAllAvailable()
    } finally q1.stop()
    dropNewestCommit(ckpt)
    val q2 = start()
    try {
      q2.processAllAvailable() // re-delivery of the wm-advance batch
      // post-restart: a click for purchase 99, inside its window but
      // after the restart — the restored purchase state must match it
      feedC(Seq((99L, t("2025-03-01 19:45:00"), 5.0)))
      q2.processAllAvailable()
      // advance both watermarks far past 20:00 to flush any remainder
      feedP(Seq((999L, 999L, t("2025-03-02 08:00:00"))))
      feedC(Seq((998L, t("2025-03-02 08:00:00"), 1.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val rows = buf.set
    val matched = rows.filter(_(3) != null)
      .map(r => (r(0), r(4)))
    assert(matched == Set((1L, 200L), (1L, 350L), (99L, 500L)),
      s"got $matched")
    // purchase 2 flushed as unmatched exactly like the single run;
    // purchase 1/99 never appear as outer-nulls (no forgotten match)
    val unmatchedIds = rows.filter(_(3) == null).map(_(0))
    assert(unmatchedIds.contains(2L), s"purchase 2 must flush: $unmatchedIds")
    assert(!unmatchedIds.contains(1L) && !unmatchedIds.contains(99L),
      s"matched purchases must not also flush null: $unmatchedIds")
    }
  }

  private class RowBuffer {
    private val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    def add(df: org.apache.spark.sql.DataFrame): Unit =
      synchronized { rows ++= df.collect().map(_.toSeq) }
    def set: Set[Seq[Any]] = synchronized { rows.toSet }
  }

  private def startBuffered(ds: org.apache.spark.sql.Dataset[_],
      buf: RowBuffer, ckpt: String) =
    ds.toDF().writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        buf.add(b) }
      .start()

  /** Run `body` with no-data microbatches disabled: the wm-advance
    * extra batch otherwise lands as the NEWEST commit, so dropping it
    * re-runs an empty batch instead of re-delivering the data batch
    * under test. Timer firing in these tests is driven by explicit
    * follow-up feeds, which disabling does not affect.
    */
  private def withoutNoDataBatches[A](body: => A): A = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("sessionizer state and timers survive checkpoint restart with re-delivery") {
    sessionizerRestartScenario()
  }

  test("sessionizer restart recovery also holds on the RocksDB backend") {
    // the production state store's recovery path (snapshot + changelog
    // replay) is different code from the default HDFS-backed one — the
    // same crash/re-delivery exercise must land on the same rows
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    try sessionizerRestartScenario()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def sessionizerRestartScenario(): Unit = {
    withoutNoDataBatches {
    import spark.implicits._
    val in = tmpDir("graft_sessrs_in_")
    val ckpt = tmpDir("graft_sessrs_ck_")
    def feed(rows: Seq[(Timestamp, Long, Double)]): Unit =
      rows.toDF("ts", "user_id", "value")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.sessionizeStream(
        spark.readStream
          .schema("ts TIMESTAMP, user_id LONG, value DOUBLE").parquet(in)),
      buf, ckpt)
    def t(s: String) = Timestamp.valueOf(s)
    feed(Seq((t("2025-03-01 10:00:00"), 1L, 1.5),
      (t("2025-03-01 10:05:00"), 1L, 2.25),
      (t("2025-03-01 10:05:00"), 2L, 1.0)))
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      feed(Seq((t("2025-03-01 10:45:00"), 1L, 4.0))) // gap-closes session 1
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.set.size == 1, "run 1 closed one session")
    // crash before the commit record: the gap-closing batch re-delivers
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try {
      q2.processAllAvailable() // re-runs the dropped batch
      // advance the watermark past every open session's flush timer,
      // then one more trigger so the EventTimeTimeout flushes fire —
      // the timers were set by state written BEFORE the crash
      feed(Seq((t("2025-03-02 10:00:00"), 9L, 1.0)))
      q2.processAllAvailable()
      feed(Seq((t("2025-03-02 14:00:00"), 9L, 1.0)))
      q2.processAllAvailable()
    } finally q2.stop()
    val run1 = buf1.set
    val run2 = buf2.set
    // (a) the re-delivered batch re-emitted the SAME closed session:
    // the state store rolled back one version and recomputed it
    assert(run1.subsetOf(run2), s"re-delivered rows diverge: $run1 / $run2")
    def us(s: String) = t(s).getTime * 1000L
    // (b) union over both runs == the single-run session set: the
    // gap-closed session once, u1's timeout-flushed session 2 with a
    // CONTINUOUS ordinal, u2's timeout-flushed singleton
    val want = Set(
      Seq[Any](1L, 1L, 2L, 300L, us("2025-03-01 10:00:00"), 3.75),
      Seq[Any](1L, 2L, 1L, 0L, us("2025-03-01 10:45:00"), 4.0),
      Seq[Any](2L, 1L, 1L, 0L, us("2025-03-01 10:05:00"), 1.0))
    val got = (run1 ++ run2).filterNot(_.head == 9L)
    assert(got == want, s"got $got")
    }
  }

  test("anomaly stream equals the batch rows across a restart with re-delivery") {
    import spark.implicits._
    val fixture = StreamingStats.events(spark, sf())
      .select(col("event_type"), col("ts")).orderBy(col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1)))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val types = fixture.map(_._1).distinct.toSeq
    val maxMs = fixture.map(_._2.getTime).max
    def flush(days: Int) =
      types.map(t => (t, new Timestamp(maxMs + days * 86400000L)))
    val in = tmpDir("graft_anomrs_in_")
    val ckpt = tmpDir("graft_anomrs_ck_")
    def feed(rows: Seq[(String, Timestamp)]): Unit =
      rows.toDF("event_type", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.anomalyStream(
        spark.readStream
          .schema("event_type STRING, ts TIMESTAMP").parquet(in)),
      buf, ckpt)
    feed(a.toSeq)
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      feed(b.toSeq) // baselines + emission frontier cross the boundary
      q1.processAllAvailable()
    } finally q1.stop()
    // crash before the commit: the second fixture half re-delivers
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try {
      q2.processAllAvailable() // re-run from the rolled-back baselines
      feed(flush(30)); q2.processAllAvailable()
      feed(flush(31)); q2.processAllAvailable()
    } finally q2.stop()
    val maxDay = java.time.Instant.ofEpochMilli(maxMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    val streamed = (buf1.set ++ buf2.set)
      .filter(_(1).asInstanceOf[String] <= maxDay) // drop flush-day rows
      .map(_.toList).toSet
    val batch = graft.operators.TimeSeries.evAnomaly(spark, sf())
      .collect().map(_.toSeq.toList).toSet
    // duplicates from the re-delivered half must be IDENTICAL rows
    // (set union collapses them) and nothing may be lost or invented
    assert(batch.nonEmpty && streamed == batch,
      s"missing=${batch -- streamed} extra=${streamed -- batch}")
  }

  test("growth stream churn timers fire after a checkpoint restart") {
    withoutNoDataBatches {
    import spark.implicits._
    def ts(day: Int) = new Timestamp(day * 86400000L + 43200000L)
    val in = tmpDir("graft_grors_in_")
    val ckpt = tmpDir("graft_grors_ck_")
    def feed(rows: Seq[(Long, Timestamp)]): Unit =
      rows.toDF("user_id", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.growthStream(
        spark.readStream
          .schema("user_id LONG, ts TIMESTAMP").parquet(in)),
      buf, ckpt)
    // u1: days 0,1; u2: days 0..3 — then both go silent forever
    feed(Seq((1L, ts(0)), (1L, ts(1)), (2L, ts(0)), (2L, ts(1)),
      (2L, ts(2)), (2L, ts(3))))
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      // the watermark driver closes the early presence days; u1/u2 are
      // invoked by their pending-close TIMERS, not by data
      feed(Seq((9L, ts(4))))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.set.exists(r => r.head == 1L || r.head == 2L),
      "run 1 classified the early days")
    // crash before the commit: the frontier batch re-delivers
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try {
      q2.processAllAvailable() // re-run the dropped batch
      // u1/u2 receive NO further data: their churn rows below can only
      // come from EventTimeTimeout timers that survived the restart
      feed(Seq((9L, ts(15)))); q2.processAllAvailable()
      feed(Seq((9L, ts(16)))); q2.processAllAvailable()
    } finally q2.stop()
    def triples(s: Set[Seq[Any]]) = s.map(r => (r(0).asInstanceOf[Long],
      r(1).asInstanceOf[String], r(2).asInstanceOf[String]))
    val run1 = triples(buf1.set)
    val run2 = triples(buf2.set)
    // re-delivered classifications recompute identically
    assert((run1 -- run2).forall(_._1 == 9L),
      s"re-delivered rows diverge: ${run1 -- run2}")
    val got = (run1 ++ run2).filterNot(_._1 == 9L)
    // the full single-run decomposition INCLUDING the timer-driven
    // churn rows booked entirely after the restart
    val want = Set(
      (1L, "1970-01-01", "new"), (1L, "1970-01-02", "retained"),
      (1L, "1970-01-10", "churned"),
      (2L, "1970-01-01", "new"), (2L, "1970-01-02", "retained"),
      (2L, "1970-01-03", "retained"), (2L, "1970-01-04", "retained"),
      (2L, "1970-01-12", "churned"))
    assert(got == want, s"got $got")
    }
  }

  test("funnel stream quiet-flush timer fires after a checkpoint restart") {
    withoutNoDataBatches {
    import spark.implicits._
    val in = tmpDir("graft_funrs_in_")
    val ckpt = tmpDir("graft_funrs_ck_")
    def feed(rows: Seq[(Long, Long, String, Timestamp)]): Unit =
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.funnelStream(
        spark.readStream
          .schema("user_id LONG, event_id LONG, event_type STRING, " +
            "ts TIMESTAMP").parquet(in),
        quietMs = 60000L), // 1-minute conversion window for the test
      buf, ckpt)
    def t(s: String) = Timestamp.valueOf(s)
    // u1 reaches stage 2 (view -> click), then goes quiet forever
    feed(Seq((1L, 1L, "view", t("2025-03-01 10:00:00")),
      (1L, 2L, "click", t("2025-03-01 10:10:00"))))
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      feed(Seq((9L, 9L, "view", t("2025-03-01 13:00:00")))) // wm driver
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.set.isEmpty, "nothing flushes before the quiet window")
    // crash before the commit record: the wm-advance batch re-delivers
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try {
      q2.processAllAvailable() // re-run the dropped batch
      // u1 receives NO further data: its stage-2 row below can only
      // come from the quiet timer set BEFORE the crash
      feed(Seq((9L, 10L, "view", t("2025-03-01 14:00:00"))))
      q2.processAllAvailable()
    } finally q2.stop()
    def us(s: String) = t(s).getTime * 1000L
    val u1 = (buf1.set ++ buf2.set).filter(_.head == 1L)
    assert(u1 == Set(Seq[Any](1L, us("2025-03-01 10:00:00"),
      us("2025-03-01 10:10:00"), null, 2)),
      s"u1 funnel rows after restart: $u1")
    }
  }

  test("markov stream re-delivers cross-batch transitions identically on restart") {
    withoutNoDataBatches {
    import spark.implicits._
    val in = tmpDir("graft_mkrs_in_")
    val ckpt = tmpDir("graft_mkrs_ck_")
    def feed(rows: Seq[(Long, Long, String, Timestamp)]): Unit =
      rows.toDF("user_id", "event_id", "event_type", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.markovStream(
        spark.readStream
          .schema("user_id LONG, event_id LONG, event_type STRING, " +
            "ts TIMESTAMP").parquet(in)),
      buf, ckpt)
    def t(s: String) = Timestamp.valueOf(s)
    feed(Seq((1L, 1L, "view", t("2025-03-01 10:00:00")),
      (1L, 2L, "click", t("2025-03-01 10:05:00"))))
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      // the cross-batch link: chains through the stored last event
      feed(Seq((1L, 3L, "purchase", t("2025-03-01 10:10:00"))))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf1.set == Set(
      Seq[Any](1L, "view", "click", 2L),
      Seq[Any](1L, "click", "purchase", 3L)), s"run 1: ${buf1.set}")
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try {
      q2.processAllAvailable() // re-runs the cross-batch link batch
      // the NEXT link must chain off the recomputed state — neither a
      // duplicated nor a skipped transition
      feed(Seq((1L, 4L, "search", t("2025-03-01 10:15:00"))))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(buf2.set == Set(
      Seq[Any](1L, "click", "purchase", 3L), // re-delivered, identical
      Seq[Any](1L, "purchase", "search", 4L)), s"run 2: ${buf2.set}")
    }
  }

  test("coverage stream recomputes re-delivered snapshots identically on restart") {
    withoutNoDataBatches {
    import spark.implicits._
    def ts(day: Int) = new Timestamp(day * 86400000L + 43200000L)
    val in = tmpDir("graft_covrs_in_")
    val ckpt = tmpDir("graft_covrs_ck_")
    def feed(rows: Seq[(String, Timestamp)]): Unit =
      rows.toDF("event_type", "ts")
        .coalesce(1).write.mode("append").parquet(in)
    def start(buf: RowBuffer) = startBuffered(
      StreamingStats.coverageStream(
        spark.readStream
          .schema("event_type STRING, ts TIMESTAMP").parquet(in)),
      buf, ckpt)
    feed(Seq(("a", ts(1)), ("a", ts(2)), ("a", ts(3)), ("b", ts(1))))
    val buf1 = new RowBuffer
    val q1 = start(buf1)
    try {
      q1.processAllAvailable()
      feed(Seq(("a", ts(5)), ("b", ts(6))))
      q1.processAllAvailable()
    } finally q1.stop()
    dropNewestCommit(ckpt)
    val buf2 = new RowBuffer
    val q2 = start(buf2)
    try q2.processAllAvailable() // re-run the dropped snapshot batch
    finally q2.stop()
    // the re-delivered batch's snapshots must be byte-identical to the
    // originals: the frozen/live split rolled back one state version
    // and recomputed — nothing double-frozen, nothing lost
    assert(buf2.set.nonEmpty && buf2.set.subsetOf(buf1.set),
      s"recomputed snapshots diverge: ${buf2.set -- buf1.set}")
    // and they are the LAST batch's rows: span through days 5/6
    assert(buf2.set.map(r => (r.head, r(2))) ==
      Set(("a", "1970-01-06"), ("b", "1970-01-07")),
      s"unexpected re-run rows: ${buf2.set}")
    }
  }

  test("citation monitor replays the batch in-degree census across a " +
    "batch boundary, link-ring flags included") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    implicit val sqlCtx = spark.sqlContext
    val d = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val n = d.length.toLong
    val mem = MemoryStream[(Long, String)]
    val q = StreamingStats
      .citationStream(mem.toDF().toDF("doc_id", "text"), n)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cite_mon").start()
    try {
      val (b1, b2) = d.splitAt(d.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      val mid = spark.table("cite_mon").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("cite_mon").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      // batch twin: the shipped edge derivation's per-node in-degree
      val want = graft.operators.Graph.grEdges(spark, sf())
        .groupBy(col("dst")).agg(count(lit(1)).as("in_deg")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getLong(1) >= StreamingStats.LinkRingInDeg)).toSet
      assert(got == want)
      // the pager actually fires on this corpus (max in-degree 12)
      assert(got.exists(_._3) && got.exists(!_._3))
      // complete-mode census only GROWS across the batch boundary
      assert(mid.nonEmpty && mid.values.sum < got.toSeq.map(_._2).sum)
      mid.foreach { case (dst, c) =>
        assert(got.exists(g => g._1 == dst && g._2 >= c),
          s"in-degree shrank at $dst")
      }
    } finally q.stop()
  }

  test("k-anonymity monitor replays the batch class census across a " +
    "batch boundary, both pager flags included") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val d = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("source"), col("n_chars"), col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val mem = MemoryStream[(String, Long, String)]
    val q = StreamingStats
      .kAnonStream(mem.toDF().toDF("source", "n_chars", "lang"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("kanon_mon").start()
    try {
      val (b1, b2) = d.splitAt(d.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      val mid = spark.table("kanon_mon").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("kanon_mon").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getBoolean(5))).toSet
      // batch twin: the audit's class census at the monitor's level
      val want = d.groupBy { case (s, c, _) =>
        (s, c / StreamingStats.KAnonStreamWidth)
      }.map { case ((s, lb), xs) =>
        val sz = xs.length.toLong
        val nl = xs.map(_._3).distinct.length.toLong
        (s, lb, sz, nl, sz < StreamingStats.KAnonStreamK, nl == 1L)
      }.toSet
      assert(got == want)
      // both pagers fire on this corpus, and both verdicts occur
      assert(got.exists(_._5) && got.exists(!_._5))
      assert(got.exists(_._6) && got.exists(!_._6))
      // complete-mode census: class sizes only grow across the boundary
      assert(mid.nonEmpty)
      mid.foreach { case (k, c) =>
        assert(got.exists(g => (g._1, g._2) == k && g._3 >= c),
          s"class shrank at $k")
      }
    } finally q.stop()
  }

  test("DSIR scorer replays the batch importance census against the " +
    "batch-trained weight table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val d = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // the deployed weight table, trained batch-side — collected once
    // (512 rows) for the local recompute below
    val wtDf = graft.operators.Corpus.dsirWeights(spark, sf())
      .localCheckpoint(true)
    val wt = wtDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(term: String): Long = {
      val hex = md.digest(term.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      (java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P) % graft.operators.Corpus.DsirBuckets
    }
    val want = d.groupBy(_._1).map { case (src, xs) =>
      val imp = xs.map { case (_, text) =>
        text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
          .map(t => wt.getOrElse(bucket(t), 0L)).sum
      }.sum
      src -> (xs.length.toLong, imp)
    }
    val mem = MemoryStream[(String, String)]
    val q = StreamingStats
      .dsirStream(mem.toDF().toDF("source", "text"), wtDf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("dsir_mon").start()
    try {
      val (b1, b2) = d.splitAt(d.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      val mid = spark.table("dsir_mon").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_mon").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(got == want.map { case (s, (n, imp)) =>
        (s, n, imp, graft.functions.Determinism
          .r6Jvm(imp.toDouble / n / 1000000.0))
      }.toSet)
      // doc counts only grow across the boundary
      assert(mid.nonEmpty)
      mid.foreach { case (s, n) =>
        assert(got.exists(g => g._1 == s && g._2 >= n))
      }
    } finally q.stop()
  }

  test("DSIR scorer scores tokens from untrained buckets by the " +
    "smoothed prior, not a silent zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val wtDf = graft.operators.Corpus.dsirWeights(spark, sf())
      .localCheckpoint(true)
    val wt = wtDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the table is DENSE: every bucket has a weight row
    assert(wt.size.toLong == graft.operators.Corpus.DsirBuckets)
    // buckets the training corpus actually populated, recomputed
    // locally with the same tokenize→hash→bucket rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(term: String): Long = {
      val hex = md.digest(term.getBytes("UTF-8")).map(b => f"$b%02x")
        .mkString
      (java.lang.Long.parseLong(hex.take(15), 16) %
        graft.functions.CrossHash.P) % graft.operators.Corpus.DsirBuckets
    }
    val trained = spark.read.parquet(sf() + "/documents.parquet")
      .select(col("text")).collect().map(_.getString(0))
      .flatMap(_.trim.toLowerCase.split("\\s+").filter(_.nonEmpty))
      .map(bucket).toSet
    val untrained = (0L until graft.operators.Corpus.DsirBuckets)
      .filterNot(trained)
    assert(untrained.nonEmpty, "fixture fills every bucket — grow B")
    // all untrained buckets share ONE weight: the smoothed prior,
    // which is nonzero whenever the target is a strict sub-corpus
    val priors = untrained.map(wt).distinct
    assert(priors.length == 1)
    val prior = priors.head
    assert(prior != 0L, "prior must be distinguishable from neutral")
    // a live token that hashes into an untrained bucket
    val novel = (0 until 100000).iterator.map(i => s"zq${i}x")
      .find(t => untrained.contains(bucket(t))).get
    val mem = MemoryStream[(String, String)]
    val q = StreamingStats
      .dsirStream(mem.toDF().toDF("source", "text"), wtDf)
      .writeStream.outputMode("complete").format("memory")
      .queryName("dsir_novel").start()
    try {
      mem.addData(("live_feed", novel))
      q.processAllAvailable()
      val got = spark.table("dsir_novel").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(("live_feed", 1L, prior)),
        "novel-bucket token must carry the smoothed-prior weight")
    } finally q.stop()
  }

  test("DSIR resampler stream replays the batch sample decisions bit " +
    "for bit and zero-admits an unseen source") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val m = graft.operators.Corpus.dsirModel(spark, sf())
    val docsAll = spark.read.parquet(sf() + "/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val wantSeen = docsAll.groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val wantKept = graft.operators.Corpus.cpDsirSample(spark, sf())
      .select(col("source")).collect().map(_.getString(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingStats.dsirSampleStream(
        mem.toDF().toDF("doc_id", "source", "text"), m)
      .writeStream.outputMode("complete").format("memory")
      .queryName("dsir_samp").start()
    try {
      val (b1, b2) = docsAll.splitAt(docsAll.length / 2)
      mem.addData(b1: _*)
      q.processAllAvailable()
      val mid = spark.table("dsir_samp").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      mem.addData(b2: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_samp").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
      // bit-for-bit replay of the batch resample: per source, every
      // doc seen and EXACTLY the batch-kept docs admitted
      assert(got == wantSeen.map { case (s, n) =>
        val k = wantKept.getOrElse(s, 0L)
        (s, n, k, graft.functions.Determinism
          .r6Jvm(k.toDouble / n))
      }.toSet)
      // target source admits everything (the rate-1 theorem, live)
      val tsrc = wantSeen.keys.min
      assert(got.exists(g => g._1 == tsrc && g._2 == g._3))
      // and some source is genuinely thinned on the fixture
      assert(got.exists(g => g._3 < g._2))
      // census only grows across the batch boundary
      assert(mid.nonEmpty)
      mid.foreach { case (s, n) =>
        assert(got.exists(g => g._1 == s && g._2 >= n))
      }
      // a source the training census never saw: counted, not admitted
      mem.addData((999999001L, "zz_newfeed", "hello brand new world"))
      q.processAllAvailable()
      val novel = spark.table("dsir_samp").collect()
        .filter(_.getString(0) == "zz_newfeed")
      assert(novel.length == 1)
      assert(novel.head.getLong(1) == 1L && novel.head.getLong(2) == 0L,
        "unseen source must be seen-but-not-admitted")
    } finally q.stop()
  }
}
