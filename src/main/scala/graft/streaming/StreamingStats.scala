package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Determinism.{r6, r6Sql}
import graft.schema.Tables

/** Structured-Streaming tier: the reference's daily-stats pattern
  * (SURVEY.md §2.9/§2.12) as an incremental computation over the
  * `events` fixture (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (a per-subreddit driver loop,
  * reference script.py:339-353); its daily aggregation is re-expressed
  * here as a watermarked tumbling-window aggregation, which is the
  * streaming-native form of the same query: late events inside the
  * 1-hour watermark still update their day bucket, and state for
  * closed windows is dropped, bounding memory at any input scale.
  *
  * [[dailyEventStats]] is transport-agnostic: the same transform runs
  * over `readStream` (incremental) or `read` (backfill) — the batch
  * query [[evDailyStats]] IS the backfill run, which the driver's
  * DuckDB oracle cross-checks.
  */
object StreamingStats {

  /** Default day-grain state horizon for [[TopKStreamSink]]: days
    * further than this below the max event day seen are evicted, so
    * a years-long stream can't grow driver state without bound.
    */
  val TopKDefaultHorizonDays: Int = 366

  /** Exact order-independent sum of the 2-decimal `value` column:
    * a naive double sum differs in the last bits across partition
    * counts (observed: one rounding-boundary cell flipped between
    * 3-thread and 32-thread runs); summing integer cents makes the
    * aggregate bitwise-stable under ANY parallelism, on both engines.
    */
  private[graft] def sumCents(c: org.apache.spark.sql.Column) =
    sum(round(c * 100).cast("long"))

  /** The streaming transform: watermark + 1-day tumbling window. */
  def dailyEventStats(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("approx_users"),
        r6(sumCents(col("value")).cast("double") / 100.0).as("total_value"),
        r6(sumCents(col("value")).cast("double") / 100.0 / count(col("value")))
          .as("avg_value"))
      .select(
        to_date(col("window.start")).cast("string").as("day"),
        col("event_type"), col("n_events"), col("approx_users"),
        col("total_value"), col("avg_value"))

  /** Start the incremental run (tests drive this via MemoryStream). */
  def startMemorySink(events: DataFrame, queryName: String) =
    dailyEventStats(events)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .start()

  /** Incremental → warehouse: each closed-window micro-batch upserts
    * into a stats table through the K3 sink (SURVEY §7.3 — streaming
    * reuses the batch upsert; `foreachBatch` is the idiomatic bridge).
    * Keyed on (event_type, day) via the sink's (subreddit, date)
    * column contract.
    */
  def startUpsertSink(events: DataFrame, warehouse: String,
      checkpoint: String) =
    dailyEventStats(events)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.sink.Load.upsertStats(
            batch.select(
              col("event_type").as("subreddit"), col("day").as("date"),
              col("n_events"), col("approx_users"),
              col("total_value"), col("avg_value")),
            batch.sparkSession, warehouse)
        }
      }
      .start()

  /** The events fixture through [[Tables.read]], with `ts` (declared
    * TIMESTAMP_NTZ) cast to the session-zone TIMESTAMP every
    * downstream operator expects. Every session pins UTC, so the cast
    * keeps the wall clock and matches the DuckDB oracle's instants.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))

  /** Batch twin over the parquet fixture — the backfill path, and the
    * oracle-checked correctness anchor for the streaming transform
    * (same plan minus watermark). `approx_users` is exact here so the
    * oracle can check it; the streaming variant returns the HLL sketch
    * approximation (documented divergence: sketches are for streams).
    */
  def evDailyStats(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(to_date(col("ts")).cast("string").as("day"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"),
        r6(sumCents(col("value")).cast("double") / 100.0).as("total_value"),
        r6(sumCents(col("value")).cast("double") / 100.0 / count(col("value")))
          .as("avg_value"))
      .orderBy(col("day"), col("event_type"))

  private lazy val sumCentsSql =
    "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0"

  lazy val evDailyStatsSql: String = s"""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS exact_users,
  ${r6Sql(s"($sumCentsSql)")} AS total_value,
  ${r6Sql(s"($sumCentsSql / COUNT(value))")} AS avg_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY day, event_type"""

  // ------------------------------------------------------------------
  // ev_sessions — gap-based sessionization
  // ------------------------------------------------------------------

  /** Session gap: a ≥30-minute silence starts a new session. */
  val SessionGapMin = 30L

  /** Classic lag-then-cumulative-flag sessionization: per user, events
    * ordered by time; a gap ≥ 30 min (or the first event) raises a
    * new-session flag; the running sum of flags is the session ordinal.
    * Batch form of what `session_window` computes incrementally in
    * Structured Streaming; shuffles once on user_id and stays
    * partitioned for both windows.
    */
  def evSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"),
      col("event_id"))
    val gapMicros = SessionGapMin * 60L * 1000000L
    val newSession = when(
      unix_micros(col("ts")) -
        unix_micros(lag(col("ts"), 1).over(byUser)) >= gapMicros ||
        lag(col("ts"), 1).over(byUser).isNull, 1L).otherwise(0L)
    events(spark, sfDir)
      .withColumn("sess", sum(newSession).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"),
        r6(sumCents(col("value")).cast("double") / 100.0)
          .as("session_value"))
      .select(col("user_id"), col("sess").as("session_id"),
        col("n_events"),
        ((col("end_us") - col("start_us")) / lit(1000000L)).cast("long")
          .as("duration_sec"),
        col("start_us"), col("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // ------------------------------------------------------------------
  // streaming sessionization — flatMapGroupsWithState custom state
  // ------------------------------------------------------------------

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp,
      value: Double)

  /** Per-user open-session state: ordinal + bounds + exact cent sum.
    * `n == 0` is the closed-session tombstone: no session is open, but
    * `sessionId` remembers the last flushed ordinal so numbering stays
    * continuous across an EventTimeTimeout flush (one tiny record per
    * ever-seen user — the same key space the batch twin's groupBy
    * holds; a deployment that can't afford it keys sessions by start
    * time instead of ordinal).
    */
  case class SessionState(sessionId: Long, startUs: Long, lastUs: Long,
      n: Long, cents: Long)

  /** Closed-session record — same shape as [[evSessions]] rows. */
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      duration_sec: Long, start_us: Long, session_value: Double)

  private def micros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** The incremental form of [[evSessions]]: custom keyed state via
    * `flatMapGroupsWithState` — the state primitive `session_window` /
    * windowed aggs can't express (an open session with an exact cent
    * sum, an ordinal, and gap-close semantics).
    *
    * A session closes two ways: a later event of the same user arrives
    * past the gap (emitted immediately), or the event-time watermark
    * passes lastSeen + gap with no successor (EventTimeTimeout fires
    * and the final session flushes, leaving an ordinal tombstone — see
    * [[SessionState]]). State is one small record per seen user —
    * bounded by the key space, not history, at any input scale.
    * Events are folded sorted-within-batch; in-order delivery
    * per user across batches (the fixture's shape) reproduces the
    * batch twin's rows exactly — StreamingSpec pins that equivalence.
    */
  def sessionizeStream(events: DataFrame): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = SessionGapMin * 60L * 1000000L
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", "1 hour")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[SessionEvent],
            state: GroupState[SessionState]) =>
          def emit(s: SessionState) = SessionOut(user, s.sessionId, s.n,
            (s.lastUs - s.startUs) / 1000000L, s.startUs, s.cents / 100.0)
          if (state.hasTimedOut) {
            val open = state.getOption.filter(_.n > 0)
            open.foreach(s => // tombstone: ordinal survives the flush
              state.update(SessionState(s.sessionId, 0L, 0L, 0L, 0L)))
            open.map(emit).iterator
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            var cur = state.getOption.orNull
            it.toSeq.sortBy(e => micros(e.ts)).foreach { e =>
              val us = micros(e.ts)
              val cents = math.round(e.value * 100) // = sumCents' rounding
              if (cur == null)
                cur = SessionState(1L, us, us, 1L, cents)
              else if (cur.n == 0) // resume past the tombstone's ordinal
                cur = SessionState(cur.sessionId + 1, us, us, 1L, cents)
              else if (us - cur.lastUs >= gapUs) {
                closed += emit(cur)
                cur = SessionState(cur.sessionId + 1, us, us, 1L, cents)
              } else
                cur = cur.copy(lastUs = math.max(cur.lastUs, us),
                  n = cur.n + 1, cents = cur.cents + cents)
            }
            if (cur != null && cur.n > 0) {
              state.update(cur)
              // flush when the watermark proves no successor can arrive
              state.setTimeoutTimestamp(cur.lastUs / 1000L + gapUs / 1000L)
            }
            closed.iterator
          }
      }
  }

  // ------------------------------------------------------------------
  // streaming funnel — ev_funnel's incremental twin
  // ------------------------------------------------------------------

  case class FunnelEvent(user_id: Long, event_id: Long,
      event_type: String, ts: java.sql.Timestamp)

  /** Per-user funnel progress; −1 = stage not reached. `lastUs` drives
    * the quiet-period flush.
    */
  case class FunnelState(viewUs: Long, clickUs: Long, purchaseUs: Long,
      lastUs: Long)

  /** Final funnel record — the [[graft.operators.TimeSeries.evFunnel]]
    * row shape.
    */
  case class FunnelOut(user_id: Long, view_us: Option[Long],
      click_us: Option[Long], purchase_us: Option[Long], stage: Int)

  /** Default conversion window: a user quiet this long (event-time)
    * flushes their funnel row and the next event opens a FRESH funnel.
    */
  val FunnelQuietMs: Long = 30L * 24L * 60L * 60L * 1000L

  /** Incremental form of the ordered-stage funnel: per-user state is
    * three stage timestamps (the first view, the first view-qualified
    * click, the first click-qualified purchase), folded over events in
    * time order; the row flushes when the watermark proves the user
    * quiet for `quietMs` — the CONVERSION WINDOW — and then the state
    * DROPS (unlike the sessionizer there is no ordinal to remember, so
    * state is bounded by users active within the window, not ever-seen
    * users). A user returning later starts a new funnel — the batch
    * twin computes the all-history funnel, so equality holds exactly
    * when the window covers the replayed span (the spec's setup).
    *
    * Same in-order caveat as the sessionizer: the strictly-after stage
    * rule makes the fold order-sensitive (a late-arriving earlier view
    * cannot resurrect a click that was rejected before it); in-order
    * delivery per user reproduces [[graft.operators.TimeSeries.evFunnel]]
    * exactly — StreamingSpec pins the equality on the fixture replay.
    */
  def funnelStream(events: DataFrame,
      quietMs: Long = FunnelQuietMs): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type").cast("string").as("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[FunnelEvent],
            state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            def o(v: Long) = if (v >= 0) Some(v) else None
            val out = state.getOption.map { s =>
              FunnelOut(user, o(s.viewUs), o(s.clickUs), o(s.purchaseUs),
                if (s.purchaseUs >= 0) 3
                else if (s.clickUs >= 0) 2
                else if (s.viewUs >= 0) 1
                else 0)
            }
            state.remove()
            out.iterator
          } else {
            var s = state.getOption
              .getOrElse(FunnelState(-1L, -1L, -1L, -1L))
            it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
              val us = micros(e.ts)
              e.event_type match {
                case "view" if s.viewUs < 0 =>
                  s = s.copy(viewUs = us)
                case "click" if s.clickUs < 0 && s.viewUs >= 0 &&
                    s.viewUs < us =>
                  s = s.copy(clickUs = us)
                case "purchase" if s.purchaseUs < 0 && s.clickUs >= 0 &&
                    s.clickUs < us =>
                  s = s.copy(purchaseUs = us)
                case _ => ()
              }
              s = s.copy(lastUs = math.max(s.lastUs, us))
            }
            state.update(s)
            state.setTimeoutTimestamp(s.lastUs / 1000L + quietMs)
            Iterator.empty
          }
      }
  }

  // ------------------------------------------------------------------
  // streaming ingest dedup — first-seen-wins on a content digest
  // ------------------------------------------------------------------

  /** Dedup-at-ingest: only the FIRST record per content digest passes;
    * later duplicates — within a batch or across batches — are
    * dropped. The streaming form of the dd_exact contract, applied
    * where a training pipeline actually wants it: before anything is
    * stored.
    *
    * Built on `dropDuplicatesWithinWatermark`, the streaming-native
    * primitive: state holds one entry per digest and is dropped once
    * the watermark proves no in-horizon duplicate can still arrive
    * (an unbounded `dropDuplicates` would hold every digest ever
    * seen). A duplicate older than the dedup horizon therefore
    * re-admits — that is the documented contract: bounded state buys a
    * bounded dedup window, and a periodic BATCH dd_exact sweep over
    * the warehouse catches horizon-crossing stragglers.
    *
    * The input needs (`ts` timestamp, `digest` string); everything
    * else rides along untouched.
    */
  def dedupIngestStream(records: DataFrame,
      horizon: String = "1 hour"): DataFrame =
    records
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("digest")

  // ------------------------------------------------------------------
  // streaming NEAR-dup ingest probe — dd_incremental_capped's live twin
  // ------------------------------------------------------------------

  /** Ingest-time NEAR-duplicate detection: each arriving doc
    * (ts, doc_id, text) probes the corpus's bucket-capped LSH serving
    * index and emits one first-seen row per verified near-dup pair —
    * the alert an ingest gate consumes before admitting a doc the
    * corpus already (nearly) contains. dedupIngestStream is the
    * byte-identical half of the same gate; this is the fuzzy half.
    *
    * Exactly the batch `dd_incremental_capped` semantics, live:
    *  - the STATIC side is the index that query's corpus side builds —
    *    [[graft.operators.Dedup.servingBandIndex]] with mega-buckets
    *    dropped at BUILD time, so per-doc probe cost is bounded at
    *    bands·cap candidates regardless of corpus skew — plus the
    *    corpus hash sets for the verify join (both are plain
    *    stream-static equi-joins: no streaming state at all);
    *  - the STREAM side computes the same signature map-only (the
    *    WordShingleHashSet/MinHash16 custom expressions evaluate
    *    per-row, nothing stateful), explodes the same 4-band keys, and
    *    verifies candidates with the same SortedJaccardGE boundary —
    *    every constant shared with the batch twin, never copied;
    *  - the only stateful operator is the final first-seen dedup on
    *    (new_doc, corpus_doc) — a doc colliding with the same corpus
    *    doc on several bands yields ONE row, the batch twin's DISTINCT
    *    — bounded by the watermark horizon
    *    (`dropDuplicatesWithinWatermark`, the dedupIngestStream
    *    posture).
    *
    * StreamingSpec pins replay equality: streaming the batch-split
    * docs over a corpus-only dir emits exactly
    * `dd_incremental_capped`'s rows (ids AND r6 jaccards), and the
    * pair state survives a checkpoint restart with re-delivery.
    *
    * 100 TB posture: the index build is the batch job (one shuffle,
    * census + join); the probe path is map-side signature + two
    * broadcast-or-shuffle equi-joins against static relations — per
    * micro-batch cost ∝ batch size, never corpus size.
    */
  def nearDupIngestStream(docs: DataFrame, spark: SparkSession,
      corpusDir: String, horizon: String = "1 hour"): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.{MinHash16, SortedJaccardGE, WordShingleHashSet}
    val index = Dedup
      .servingBandIndex(spark, corpusDir, Some(Dedup.LshMaxBucket))
      .select(col("band"), col("key"), col("doc_id").as("corpus_doc"))
    val corpusSets = Dedup.corpusHashSets(spark, corpusDir)
      .select(col("doc_id").as("corpus_doc"), col("hs").as("hb"))
    // shingle-less docs drop on the cheap token predicate BEFORE the
    // hash-set expression (the signature() pushdown discipline)
    val sigd = docs
      .withWatermark("ts", horizon)
      .filter(size(graft.operators.TextAnalysis.tokens(lower(col("text"))))
        >= WordShingleHashSet.N)
      .select(col("ts"), col("doc_id").as("new_doc"),
        WordShingleHashSet.hs(lower(col("text"))).as("ha"))
      .select(col("ts"), col("new_doc"), col("ha"),
        MinHash16.mins(col("ha")).as("mh"))
    val bandKeys = (0 until Dedup.Bands).map(b =>
      concat_ws("_", (0 until Dedup.R).map(r =>
        element_at(col("mh"), b * Dedup.R + r + 1).cast("string")): _*))
    val bands = sigd.select(col("ts"), col("new_doc"), col("ha"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    val j = SortedJaccardGE
      .jaccardGE(col("ha"), col("hb"), Dedup.MinhashJaccardBoundary)
    bands.join(index, Seq("band", "key"))
      .join(corpusSets, Seq("corpus_doc"))
      .select(col("ts"), col("new_doc"), col("corpus_doc"), j.as("j"))
      .filter(col("j").isNotNull)
      .select(col("ts"), col("new_doc"), col("corpus_doc"),
        r6(col("j")).as("jaccard"))
      .dropDuplicatesWithinWatermark(Seq("new_doc", "corpus_doc"))
  }

  // ------------------------------------------------------------------
  // streaming citation monitor — the graph tier's live twin
  // ------------------------------------------------------------------

  /** In-degree at which the live monitor flags a link-ring suspect —
    * calibrated against the fixture's organic in-degree tail (max 9
    * at 500 docs; gr_degree is the census that re-calibrates this per
    * corpus).
    */
  val LinkRingInDeg = 8L

  /** The LIVE citation-graph monitor — [[graft.operators.Graph
    * .grDegree]]'s in-side twin at node grain: as documents arrive,
    * their citation targets derive MAP-SIDE (the identical
    * md5Mod→affine→mod-n rule, one arithmetic family — `n` is the
    * serving graph's corpus size, a build-time constant exactly like
    * [[nearDupIngestStream]]'s band index), per-doc duplicate targets
    * and self-loops drop before the aggregate (`array_distinct` per
    * row ≡ the batch edge set's global DISTINCT, because src is part
    * of the grain and ingest is append-once by contract), and ONE
    * running groupBy keeps the live in-degree per cited document with
    * the link-ring flag a feed operator pages on — a burst of new
    * docs all citing one target is the SEO-ring shape the degree
    * census audits nightly; this is the between-audits pager.
    *
    * State: one row per CITED doc (≤ corpus) — the dqStream argument:
    * the per-node count IS the signal, so node grain is the honest
    * floor. Output mode Complete (running census).
    *
    * StreamingSpec pins replay equality: streaming the batch-split
    * corpus yields exactly the batch edge set's per-node in-degrees,
    * flags included, and the census grows monotonically across the
    * batch boundary.
    */
  def citationStream(docs: DataFrame, n: Long): DataFrame = {
    import graft.functions.CrossHash
    import graft.operators.Graph
    val targets = (0 until Graph.GraphOutDeg).map { i =>
      val (a, b) = (CrossHash.MinHashAs(i), CrossHash.MinHashBs(i))
      expr(s"((h * $a + $b) % ${CrossHash.P}) % $n")
    }
    docs
      .select(col("doc_id").as("src"), CrossHash.md5Mod(col("text")).as("h"))
      .select(col("src"),
        explode(array_distinct(array(targets: _*))).as("dst"))
      .filter(col("dst") =!= col("src"))
      .groupBy(col("dst"))
      .agg(count(lit(1)).as("in_deg"))
      .select(col("dst"), col("in_deg"),
        (col("in_deg") >= LinkRingInDeg).as("is_hot"))
  }

  // ------------------------------------------------------------------
  // streaming k-anonymity monitor — the privacy tier's live twin
  // ------------------------------------------------------------------

  /** Generalization level the live monitor runs at — the middle rung
    * of qf_k_anon's ladder (the batch audit is where the level gets
    * CHOSEN; the monitor then watches that choice hold as data
    * arrives).
    */
  val KAnonStreamWidth = 128L

  /** Class-size threshold the live monitor pages on (qf_k_anon's
    * middle k).
    */
  val KAnonStreamK = 5L

  /** The LIVE k-anonymity monitor — [[graft.operators.Filters
    * .qfKAnon]]'s between-audits twin: the batch audit picks a
    * generalization level; this watches the chosen level HOLD as
    * documents arrive. Each arriving doc lands in its quasi-identifier
    * class MAP-SIDE (the identical `(source, n_chars div width)` rule)
    * and ONE running groupBy keeps the live class census: size,
    * distinct sensitive values (a bounded `collect_set` — the lang
    * universe is a handful; its SIZE is the l-diversity readout, so
    * set order never matters), and the two pager flags — `at_risk`
    * (class still below k: releasing now would expose its members) and
    * `homogeneous` (one lang: linking ANY member discloses the
    * attribute). A burst of rare-length docs from one feed opening a
    * thin class is exactly the shape the nightly audit would catch a
    * day late.
    *
    * State: one row per QI class (bounded by |sources| × length
    * buckets, NOT by rows — the census grain) plus a ≤|langs| set per
    * class. Output mode Complete (running census).
    *
    * StreamingSpec pins replay equality with the batch class census
    * across a batch boundary, flags included, and that class sizes
    * only grow.
    */
  def kAnonStream(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        expr(s"n_chars div $KAnonStreamWidth").as("len_b"),
        col("lang"))
      .groupBy(col("source"), col("len_b"))
      .agg(count(lit(1)).as("sz"),
        size(collect_set(col("lang"))).cast("long").as("n_lang"))
      .select(col("source"), col("len_b"), col("sz"), col("n_lang"),
        (col("sz") < KAnonStreamK).as("at_risk"),
        (col("n_lang") === 1).as("homogeneous"))

  // ------------------------------------------------------------------
  // streaming DSIR scorer — the data-selection tier's serving twin
  // ------------------------------------------------------------------

  /** The LIVE importance scorer — [[graft.operators.Corpus.cpDsir]]'s
    * serving form: the weight table is TRAINED batch-side
    * ([[graft.operators.Corpus.dsirWeights]] — the same 512-row
    * relation, one copy of the semantics) and deployed against
    * arriving traffic; per source the monitor keeps a running doc
    * count, total importance, and mean importance — the live mixture
    * drift pager (a feed whose mean importance sinks is drifting away
    * from the target domain; the batch quartile census is where the
    * resampling rates get RE-fit).
    *
    * Shape: tokens explode map-side, the static weight table joins on
    * bucket (stream-static equi-join against 512 rows — broadcast-
    * sized forever, the hashed feature space's whole point), and ONE
    * running groupBy holds the per-source census; doc counts ride the
    * pos=0 token of each doc, so a single aggregation suffices (a
    * per-doc pre-aggregation would be a second, unsupported, agg).
    * Empty-token rows score exactly 0 — the batch twin's semantics
    * for empty text. State: one row per source.
    *
    * The weight table is DENSE (all [[graft.operators.Corpus
    * .DsirBuckets]] rows — [[graft.operators.Corpus.dsirWeightsOf]]
    * pads untrained buckets with the add-1-smoothed prior weight
    * ln((tr+B)/(tt+B))), so this stream-static join is TOTAL: live
    * traffic whose tokens hash into a bucket the training corpus
    * never populated scores by the smoothed prior, not a silent
    * neutral 0 — a path the batch twin can never exercise because it
    * trains and scores on the same corpus.
    *
    * StreamingSpec pins replay equality with a local recompute of the
    * batch importance sums across a batch boundary.
    */
  def dsirStream(docs: DataFrame, wt: DataFrame): DataFrame = {
    import graft.functions.CrossHash
    import graft.operators.Corpus
    docs
      .select(col("source"),
        posexplode(graft.operators.TextAnalysis.tokens(
          lower(col("text")))).as(Seq("pos", "term")))
      .select(col("source"), col("pos"), col("term"),
        (CrossHash.md5Mod(col("term")) % Corpus.DsirBuckets).as("b"))
      .join(wt, Seq("b"), "left")
      .groupBy(col("source"))
      .agg(
        sum(when(col("pos") === 0, lit(1L)).otherwise(lit(0L)))
          .as("n_docs"),
        sum(when(col("term") =!= "", coalesce(col("wt"), lit(0L)))
          .otherwise(lit(0L))).as("imp_u"))
      .select(col("source"), col("n_docs"), col("imp_u"),
        graft.functions.Determinism.r6(col("imp_u").cast("double") /
          col("n_docs") / lit(1000000.0)).as("mean_imp"))
  }

  // ------------------------------------------------------------------
  // streaming DSIR resampler — cp_dsir_sample's serving twin
  // ------------------------------------------------------------------

  /** The LIVE ADMISSION FILTER — [[graft.operators.Corpus
    * .cpDsirSample]]'s serving form: the trained
    * [[graft.operators.Corpus.DsirModel]] (weights, quartile cuts,
    * cell rates — bounded by construction, deployed as literal maps:
    * the stream-side join is gone entirely, every decision is
    * MAP-SIDE arithmetic) scores each arriving doc, assigns its
    * trained quartile, and applies the SAME exact-rational salted-hash
    * acceptance as the batch resample — so on a replay of the training
    * corpus the stream's decisions equal the batch sample BIT FOR BIT
    * (token weights sum in integers, the draw is the same md5, the
    * predicate the same decimal(38,0) rational — StreamingSpec pins
    * it). Per source the monitor keeps seen / kept / live keep share —
    * the resampler's drift pager (a feed whose live keep rate sinks
    * below its census rate is drifting off-target).
    *
    * A doc from a (source, quartile) cell the training census never
    * saw has NO rate — it is counted but NOT kept (keep rate 0: a new
    * feed must be refit before admission, the conservative default;
    * the pager shows it immediately as seen > 0, kept = 0).
    *
    * Per-doc importance uses `aggregate` over the token array against
    * the 512-entry literal weight map — a CodegenFallback higher-order
    * function, deliberate here: the alternative is a second streaming
    * aggregation (unsupported) or a stream-static join per token
    * (a shuffle the literal map makes unnecessary); serving cost is
    * per-token-bounded and off the bench hot path.
    */
  def dsirSampleStream(docs: DataFrame,
      m: graft.operators.Corpus.DsirModel): DataFrame = {
    import graft.functions.CrossHash
    import graft.operators.Corpus
    val M = Corpus.DsirSampleM
    val wKeys = m.weights.keys.toSeq.sorted
    val wMap = map_from_arrays(
      array(wKeys.map(lit(_)): _*),
      array(wKeys.map(k => lit(m.weights(k))): _*))
    val cellKeys = m.nSq.keys.toSeq.sorted
    def cellMap(f: ((String, Int)) => Long) = map_from_arrays(
      array(cellKeys.map { case (s, q) => lit(s"$s#$q") }: _*),
      array(cellKeys.map(k => lit(f(k))): _*))
    // per-token lambda reads the weight map through a NAMED column
    // (the lambda-body rule: only attributes inside lambda bodies)
    val imp = aggregate(
      filter(graft.operators.TextAnalysis.tokens(lower(col("text"))),
        t => t =!= ""),
      lit(0L),
      (acc, t) => acc +
        element_at(col("wm"), CrossHash.md5Mod(t) % Corpus.DsirBuckets))
    val quart = lit(1) + (col("imp_u") > m.q1).cast("int") +
      (col("imp_u") > m.q2).cast("int") +
      (col("imp_u") > m.q3).cast("int")
    val hm = CrossHash.md5Long(
      concat(lit("dsir-sample-v1:"), col("doc_id").cast("string"))) % M
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val key = concat(col("source"), lit("#"), col("quartile"))
    // n_tq keyed by quartile alone: reuse the cell map with the
    // target source baked into the key at build time
    val tqMap = map_from_arrays(
      array(m.nTq.keys.toSeq.sorted.map(lit(_)): _*),
      array(m.nTq.keys.toSeq.sorted.map(q => lit(m.nTq(q))): _*))
    docs
      .select(col("doc_id"), col("source"), col("text"), wMap.as("wm"))
      .select(col("doc_id"), col("source"), imp.as("imp_u"))
      .select(col("doc_id"), col("source"), col("imp_u"),
        quart.as("quartile"), hm.as("hm"))
      .select(col("source"),
        // unseen training cell → NULL rate → kept = false
        coalesce(
          dec(col("hm")) * dec(element_at(cellMap(m.nSq), key)) *
            dec(lit(m.nT)) <
            dec(coalesce(element_at(tqMap, col("quartile")), lit(0L))) *
              dec(element_at(cellMap { case (s, _) => m.nS(s) }, key)) *
              dec(lit(M)),
          lit(false)).as("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_seen"),
        sum(col("kept").cast("long")).as("n_kept"))
      .select(col("source"), col("n_seen"), col("n_kept"),
        graft.functions.Determinism.r6(col("n_kept").cast("double") /
          col("n_seen")).as("keep_share"))
  }

  // ------------------------------------------------------------------
  // stream-stream attribution join — ev_range_join's streaming twin
  // ------------------------------------------------------------------

  /** The attribution interval join as a STREAM-STREAM join: purchases
    * left-join the same user's clicks in the preceding 30 minutes
    * ([[graft.operators.TimeSeries.evRangeJoin]]'s window), as both
    * arrive live.
    *
    * Mechanics the batch twin doesn't need: both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * each side's buffered state is [watermark, now] — Spark drops a
    * click once the watermark proves no future purchase can reach
    * back to it, and a purchase emits its NULL (unmatched) row only
    * when the right watermark proves no in-window click can still
    * arrive. Without the time-range condition the state would grow
    * unboundedly; with it, state ∝ window × arrival rate — the same
    * bounded-state contract as the sessionizer.
    *
    * Output: one row per (purchase, in-window click) plus one
    * NULL-click row per unmatched purchase — the pre-aggregation pair
    * stream (aggregate downstream per sink; StreamingSpec pins the
    * pair set against a brute-force batch recompute).
    */
  def attributionStream(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        round(col("value") * 100).cast("long").as("click_cents"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"),
      "leftOuter")
      .select(col("event_id"), col("user_id"), col("p_ts"), col("c_ts"),
        col("click_cents"))
  }

  /** Incremental per-group top-k over a stream — the streaming twin
    * of `ev_topk` (TimeSeries.evTopk), built on the SAME custom
    * operator: each micro-batch's candidates union the retained state
    * and go back through `TopK.perGroup`, so the state after any
    * prefix of the stream is exactly the batch top-k of that prefix
    * (the standard merge property of row_number top-k under a total
    * order: topK(topK(A) ∪ B) = topK(A ∪ B)).
    *
    * State is ≤ k rows per (event_type, day) AND bounded in days:
    * the group key grows by event_types×1 per calendar day, so an
    * unbounded stream needs eviction — days older than `horizonDays`
    * below the max event day ever seen are dropped on every merge
    * (the same watermark-horizon discipline the
    * flatMapGroupsWithState twins get from EventTimeTimeout). Total
    * state is therefore ≤ k × event_types × horizonDays rows — the
    * bounded "dashboard" sink shape — held as local rows on the
    * driver, which is exactly the candidate volume the batch
    * operator's final phase shuffles; a cluster deployment would swap
    * [[result]]'s createDataFrame for a state-store table with
    * identical semantics. The day high-water mark is monotone, so a
    * late batch can never resurrect an evicted day. StreamingSpec
    * replays the fixture through micro-batches and pins equality with
    * the batch `ev_topk` rows (fixture span ≪ default horizon), and a
    * horizon=1 case pins that old-day state is actually gone.
    */
  final class TopKStreamSink(spark: SparkSession, k: Int,
      horizonDays: Int = TopKDefaultHorizonDays) {
    require(horizonDays >= 1, "horizonDays must be >= 1")
    import org.apache.spark.sql.types._
    private val schema = StructType(Seq(
      StructField("event_type", StringType), StructField("day", StringType),
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("cents", LongType)))
    @volatile private var state: Array[org.apache.spark.sql.Row] = Array.empty
    // monotone max event day ever merged — the eviction watermark base
    @volatile private var maxDay: String = ""

    private def topOf(cand: DataFrame): DataFrame =
      graft.plans.TopK.perGroup(cand, Seq("event_type", "day"),
        Seq("cents" -> true, "event_id" -> false), k)

    /** Candidate columns from a raw event micro-batch. */
    private[streaming] def shape(batch: DataFrame): DataFrame =
      batch.select(col("event_type"),
        to_date(col("ts")).cast("string").as("day"),
        col("event_id").cast("long"), col("user_id").cast("long"),
        round(col("value") * 100).cast("long").as("cents"))

    def processBatch(batch: DataFrame): Unit = {
      // build prev in the micro-batch's own session: foreachBatch hands
      // a session clone, and mixing plans across sessions is fragile
      val prev = batch.sparkSession.createDataFrame(
        java.util.Arrays.asList(state: _*), schema)
      // PK-dedup before the merge: under at-least-once delivery a
      // restarted query re-runs its last uncommitted batch, so
      // candidates can coincide with rows already retained in state —
      // without the dedup both copies of a duplicated event enter the
      // per-group ranking and can evict a legitimate k-th row. A
      // re-delivered copy is byte-identical by the re-delivery
      // contract, so either survivor is correct.
      val merged = topOf(shape(batch).unionByName(prev)
          .dropDuplicates(Seq("event_type", "day", "event_id")))
        .drop("rank")
      val rows = merged.collect() // ≤ k·groups rows by construction
      // evict days below the horizon under the (monotone) max day seen
      // — ISO day strings order chronologically, so string compares do
      if (rows.nonEmpty) {
        val batchMax = rows.view.map(_.getString(1)).max
        if (batchMax > maxDay) maxDay = batchMax
      }
      state =
        if (maxDay.isEmpty || horizonDays == Int.MaxValue) rows
        else {
          val cutoff = java.time.LocalDate.parse(maxDay)
            .minusDays(horizonDays - 1L).toString
          rows.filter(_.getString(1) >= cutoff)
        }
    }

    /** Current top-k with ranks — matches `ev_topk`'s column set. */
    def result(): DataFrame =
      topOf(spark.createDataFrame(java.util.Arrays.asList(state: _*), schema))
        .select(col("event_type"), col("day"), col("rank"),
          col("event_id"), col("user_id"), col("cents"))
  }

  /** Start the incremental top-k run over a raw event stream. A
    * checkpoint makes the run restartable: on recovery the engine
    * re-delivers its last uncommitted batch, which the sink's PK-dedup
    * merge absorbs idempotently (StreamingSpec restart case).
    */
  def startTopkSink(events: DataFrame, sink: TopKStreamSink,
      checkpoint: Option[String] = None) = {
    val w = events.writeStream.outputMode("append")
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sink.processBatch(batch)
      }
      .start()
  }

  /** CDC apply: a change stream (rows carrying an `op` column with
    * "upsert"/"delete") merges into a partitioned parquet table per
    * micro-batch through [[graft.sink.Load.mergeInto]] — the streaming
    * warehouse-maintenance pattern (`foreachBatch` is the idiomatic
    * bridge, as with [[startUpsertSink]]; a table format would make
    * each batch's merge transactional, the algorithm is the same).
    * Batches must not carry duplicate keys (the upsert contract);
    * dedupe upstream with [[dedupIngestStream]] when the source can
    * replay.
    */
  def startCdcSink(changes: DataFrame, table: String, keyCols: Seq[String],
      partitionCol: String, checkpoint: String) =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sink.Load.mergeInto(batch.sparkSession, table, batch,
            keyCols, partitionCol, opCol = Some("op"))
      }
      .start()

  /** The sessionization CTE chain through per-session rows (`sess_rows`)
    * — shared by [[evSessionsSql]] and the session-stats readout: ONE
    * copy of the gap semantics.
    */
  val evSessionsBody: String = s"""
WITH o AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
              ORDER BY ts, event_id)) >= ${SessionGapMin * 60L * 1000000L}
         THEN 1 ELSE 0 END AS new_session
  FROM events
), s AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS UNBOUNDED PRECEDING) AS sess
  FROM o
), sess_rows AS (
  SELECT user_id, CAST(sess AS BIGINT) AS session_id,
    COUNT(*) AS n_events,
    CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
      AS duration_sec,
    epoch_us(MIN(ts)) AS start_us,
    ${r6Sql(s"($sumCentsSql)")} AS session_value
  FROM s GROUP BY user_id, sess
)"""

  lazy val evSessionsSql: String = evSessionsBody + """
SELECT user_id, session_id, n_events, duration_sec, start_us,
  session_value
FROM sess_rows ORDER BY user_id, session_id"""

  // ------------------------------------------------------------------
  // streaming transition emitter — ev_markov's incremental twin
  // ------------------------------------------------------------------

  case class MarkovEvent(user_id: Long, event_id: Long,
      event_type: String, ts: java.sql.Timestamp)

  /** Per-user state: the latest event seen (type + time + id). ONE row
    * per ACTIVE user — [[markovStream]]'s EventTimeTimeout drops idle
    * users, so state is bounded by window-active users, not ever-seen.
    */
  case class MarkovState(lastType: String, lastUs: Long, lastId: Long)

  case class MarkovOut(user_id: Long, from_type: String,
      to_type: String, to_event_id: Long)

  /** Idle window after which a user's chain state drops. */
  val MarkovQuietMs: Long = 30L * 24L * 60L * 60L * 1000L

  /** [[graft.operators.TimeSeries.evMarkov]]'s incremental twin: emits
    * one (from → to) transition row per consecutive same-user event as
    * it arrives; downstream, a plain streaming `groupBy(from, to)
    * count` maintains the live transition matrix. Exact under
    * per-user in-order arrival (the at-ingest contract the sessionizer
    * documents); late cross-batch stragglers chain in arrival order,
    * and the batch twin is the nightly repair path.
    *
    * State is one row per active user and DROPS on the quiet-window
    * timeout (a user returning later starts a fresh chain — the only
    * divergence from batch, and only across gaps longer than the
    * window). StreamingSpec replays the fixture across a batch
    * boundary and pins the streamed matrix == batch ev_markov.
    */
  def markovStream(events: DataFrame,
      quietMs: Long = MarkovQuietMs): Dataset[MarkovOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type").cast("string").as("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[MarkovEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MarkovState, MarkovOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[MarkovEvent],
            state: GroupState[MarkovState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var last = state.getOption
            val out = Seq.newBuilder[MarkovOut]
            it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
              last.foreach(s =>
                out += MarkovOut(user, s.lastType, e.event_type, e.event_id))
              last = Some(MarkovState(e.event_type, micros(e.ts), e.event_id))
            }
            last.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastUs / 1000L + quietMs)
            }
            out.result().iterator
          }
      }
  }

  // ------------------------------------------------------------------
  // streaming coverage — the incremental twin of ev_coverage
  // ------------------------------------------------------------------

  case class CovEvent(event_type: String, ts: java.sql.Timestamp)

  /** Per-type coverage state: FROZEN aggregates for days evicted past
    * the horizon plus LIVE per-day counts inside it. Eviction is
    * LOSSLESS for the coverage aggregate — a frozen day contributes
    * its presence, its count, and its min exactly; only its per-day
    * cell is discarded — so the state is O(horizonDays) per type while
    * the emitted coverage row stays all-time exact (provided the
    * horizon covers the watermark, so an evicted day can no longer
    * receive events).
    */
  case class CovState(mn: Int, frozenMx: Int, frozenPresent: Long,
      frozenEvents: Long, frozenMin: Long, live: Map[Int, Long])

  /** Snapshot row — same columns as [[graft.operators.TimeSeries.evCoverage]]. */
  case class CovOut(event_type: String, first_day: String,
      last_day: String, span_days: Long, days_present: Long,
      days_missing: Long, n_events: Long, min_day_events: Long)

  /** Live-day window retained per type (matches the TopK sink's
    * default horizon discipline). */
  val CovDefaultHorizonDays = 366

  object CovState {
    val empty: CovState =
      CovState(Int.MaxValue, Int.MinValue, 0L, 0L, Long.MaxValue,
        Map.empty)

    /** Fold a batch's (day → count) increments in, then evict live
      * days older than `horizonDays` below the max day seen into the
      * frozen aggregates. Pure — StreamingSpec pins the eviction bound
      * and losslessness directly.
      */
    def merge(s: CovState, dayCounts: Map[Int, Long],
        horizonDays: Int): CovState = {
      val live = dayCounts.foldLeft(s.live) { case (m, (d, n)) =>
        m.updated(d, m.getOrElse(d, 0L) + n)
      }
      val maxDay = math.max(s.frozenMx,
        if (live.isEmpty) Int.MinValue else live.keysIterator.max)
      val cutoff = maxDay - (horizonDays - 1)
      val (evict, keep) = live.partition(_._1 < cutoff)
      CovState(
        mn = math.min(s.mn,
          if (live.isEmpty) Int.MaxValue else live.keysIterator.min),
        frozenMx = math.max(s.frozenMx,
          if (evict.isEmpty) Int.MinValue else evict.keysIterator.max),
        frozenPresent = s.frozenPresent + evict.size,
        frozenEvents = s.frozenEvents + evict.valuesIterator.sum,
        frozenMin = math.min(s.frozenMin,
          if (evict.isEmpty) Long.MaxValue else evict.valuesIterator.min),
        live = keep)
    }

    def snapshot(typ: String, s: CovState): CovOut = {
      val mx = math.max(s.frozenMx,
        if (s.live.isEmpty) Int.MinValue else s.live.keysIterator.max)
      val present = s.frozenPresent + s.live.size
      val events = s.frozenEvents + s.live.valuesIterator.sum
      val minDay = math.min(s.frozenMin,
        if (s.live.isEmpty) Long.MaxValue else s.live.valuesIterator.min)
      val span = mx.toLong - s.mn + 1L
      CovOut(typ,
        java.time.LocalDate.ofEpochDay(s.mn.toLong).toString,
        java.time.LocalDate.ofEpochDay(mx.toLong).toString,
        span, present, span - present, events, minDay)
    }
  }

  /** UTC day number of an event — the stateful mirror of
    * `unix_date(to_date(ts))` under the pinned UTC session. */
  private def dayNum(ts: java.sql.Timestamp): Int =
    math.floorDiv(micros(ts), 86400000000L).toInt

  /** [[graft.operators.TimeSeries.evCoverage]]'s incremental twin: one
    * updated coverage row per (type, micro-batch) — the live
    * feed-stopped detector (days_missing growing while n_events stands
    * still IS the alert). Per-batch counts fold into [[CovState]];
    * the emitted row is all-time exact while state stays bounded (see
    * CovState's lossless-eviction note).
    *
    * NoTimeout is deliberate, unlike the other twins: the key domain
    * is the event-TYPE vocabulary (naturally bounded, same retention
    * argument as any grouped-by-type aggregate), each state is
    * O(horizonDays), and dropping an idle type would silently reset
    * its all-time coverage — for a feed-stopped detector the idle
    * types are exactly the signal.
    */
  def coverageStream(events: DataFrame,
      horizonDays: Int = CovDefaultHorizonDays): Dataset[CovOut] = {
    // Lossless eviction REQUIRES that an evicted day can never receive
    // another event. The watermark admits events up to 1 hour behind
    // the max event time, i.e. at worst in day(maxDay) − 1; eviction
    // keeps days ≥ maxDay − (horizonDays − 1), so the oldest evicted
    // day is ≤ maxDay − horizonDays. horizonDays ≥ 2 makes
    // maxDay − horizonDays < maxDay − 1: no admissible event targets
    // an evicted day. horizonDays = 1 would re-admit a just-evicted
    // day into live and double-count its frozen aggregates — enforce
    // the precondition instead of documenting it (round-8 advice).
    require(horizonDays >= 2,
      s"horizonDays=$horizonDays must be >= 2 so the 1-hour watermark " +
        "cannot deliver an event into an evicted day " +
        "(lossless-eviction precondition)")
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("event_type").cast("string").as("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[CovEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CovState, CovOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[CovEvent],
            state: GroupState[CovState]) =>
          val dayCounts = it.foldLeft(Map.empty[Int, Long]) { (m, e) =>
            val d = dayNum(e.ts)
            m.updated(d, m.getOrElse(d, 0L) + 1L)
          }
          if (dayCounts.isEmpty) Iterator.empty
          else {
            val next = CovState.merge(
              state.getOption.getOrElse(CovState.empty), dayCounts,
              horizonDays)
            state.update(next)
            Iterator.single(CovState.snapshot(typ, next))
          }
      }
  }

  // ------------------------------------------------------------------
  // streaming anomaly monitor — the incremental twin of ev_anomaly
  // ------------------------------------------------------------------

  case class AnomEvent(event_type: String, ts: java.sql.Timestamp)

  /** Per-type anomaly state: live per-day counts plus the last day
    * already emitted. Bounded: eviction keeps only the days a future
    * emission can still reference as baseline
    * (≤ watermark-open days + [[graft.operators.TimeSeries
    * .AnomalyBaselineDays]] closed ones).
    */
  case class AnomState(live: Map[Int, Long], lastEmitted: Int)

  /** Same columns as [[graft.operators.TimeSeries.evAnomaly]];
    * Option fields mirror the batch NULLs (undefined baseline/z). */
  case class AnomOut(event_type: String, day: String, n_events: Long,
      baseline_days: Long, baseline_mean: Option[Double],
      z_score: Option[Double], is_anomaly: Boolean)

  /** [[graft.operators.TimeSeries.evAnomaly]]'s incremental twin: a
    * day's anomaly row emits as soon as the watermark CLOSES that day
    * — the live volume-spike pager, vs the batch twin's nightly sweep.
    *
    * Exactness: a row emits only once the watermark passes the day's
    * end, at which point (a) the day's own count is final (later
    * arrivals would be late-dropped by the watermark filter) and
    * (b) every baseline day, being strictly older, is final too — so
    * each emitted row is computed from exactly the integers the batch
    * query sees, through the SAME float expression shape
    * (integer moments → mean/varPop/z in one arity, [[graft.functions
    * .Determinism.r6Jvm]] at the end). StreamingSpec replays the
    * fixture across batch boundaries and pins streamed rows == batch
    * rows for every closed day.
    *
    * NoTimeout like [[coverageStream]]: keys are the bounded
    * event-type vocabulary and an idle type's silence is itself
    * signal; state per type is O(baseline + open days).
    */
  def anomalyStream(events: DataFrame): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.TimeSeries.{AnomalyBaselineDays, AnomalyMinBaseline, AnomalyZ}
    events
      .select(col("event_type").cast("string").as("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[AnomEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[AnomEvent],
            state: GroupState[AnomState]) =>
          val prev = state.getOption.getOrElse(
            AnomState(Map.empty, Int.MinValue))
          val live = it.foldLeft(prev.live) { (m, e) =>
            val d = dayNum(e.ts)
            m.updated(d, m.getOrElse(d, 0L) + 1L)
          }
          val wmMs = state.getCurrentWatermarkMs()
          val closed = live.keysIterator
            .filter(d => d > prev.lastEmitted &&
              (d + 1L) * 86400000L <= wmMs)
            .toSeq.sorted
          val out = closed.map { d =>
            val base = (d - AnomalyBaselineDays until d)
              .flatMap(live.get)
            val n = live(d)
            val cnt = base.size.toLong
            // the batch twin's decimal(38,0) moments, mirrored in
            // BigInt; the float expressions keep the identical arity
            val s1 = base.foldLeft(BigInt(0))(_ + _)
            val s2 = base.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
            val mean = (s1.toDouble / cnt)
            val varPop = (BigInt(cnt) * s2 - s1 * s1).toDouble /
              (cnt * cnt).toDouble
            val z = (n.toDouble - mean) / math.sqrt(varPop)
            val defined = cnt >= AnomalyMinBaseline && varPop > 0.0
            AnomOut(typ,
              java.time.LocalDate.ofEpochDay(d.toLong).toString,
              n, cnt,
              if (cnt > 0) Some(graft.functions.Determinism.r6Jvm(mean))
              else None,
              if (defined) Some(graft.functions.Determinism.r6Jvm(z))
              else None,
              defined && math.abs(z) >= AnomalyZ)
          }
          val lastEmitted =
            if (closed.isEmpty) prev.lastEmitted else closed.max
          // keep the baseline window behind the emission frontier
          // (Long arithmetic: the Int.MinValue sentinel minus the
          // window must not wrap positive and evict everything)
          val keep = live.filter { case (d, _) =>
            d.toLong >= lastEmitted.toLong + 1 - AnomalyBaselineDays
          }
          state.update(AnomState(keep, lastEmitted))
          out.iterator
      }
  }

  // ------------------------------------------------------------------
  // streaming growth accounting — ev_growth_accounting's live twin
  // ------------------------------------------------------------------

  case class GrowthEvent(user_id: Long, ts: java.sql.Timestamp)

  /** Per-user growth state: `pending` = presence days the watermark
    * has not closed yet (sorted, distinct, all > `last`); `last` =
    * the most recent CLASSIFIED day (None until the first day
    * closes); `churned` = the current inactivity streak already
    * emitted its churn row (reset by the next resurrection).
    */
  case class GrowthState(pending: Seq[Int], last: Option[Int],
      churned: Boolean)

  case class GrowthOut(user_id: Long, day: String, kind: String)

  /** [[graft.operators.TimeSeries.evGrowthAccounting]]'s incremental
    * twin at USER grain: one `new`/`retained`/`resurrected` row the
    * moment the watermark closes a presence day, and a `churned` row
    * the moment it closes `last_active + gap + 1` with no activity in
    * between — the DAU-decomposition pager signal, driven by
    * EventTimeTimeout timers (churn is an ABSENCE; only a timer can
    * observe it).
    *
    * Contract vs the batch query: class rows aggregate to exactly the
    * batch's per-day new/retained/resurrected counts for every closed
    * day. Churn rows are the SUPERSET the live semantics implies: the
    * batch (retrospective) query books one churn per user, off their
    * final activity only; the stream also books each INTERMEDIATE
    * churn that a later resurrection retracts in hindsight — a live
    * monitor cannot know the future, and the resurrection row that
    * follows is the retraction. StreamingSpec pins both halves
    * exactly (streamed churn set == per-streak boundaries; batch
    * churn rows == the final-streak subset).
    *
    * State is O(1) per user (two ints + the open-day tail) — the
    * honest floor for ANY growth-accounting system, since "when did
    * this user last act" is the signal itself. Late data beyond the
    * watermark (a day ≤ an already-classified day) is dropped:
    * emitted classifications are immutable.
    */
  def growthStream(events: DataFrame): Dataset[GrowthOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.TimeSeries.GrowthGapDays
    val dayMs = 86400000L
    events
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[GrowthEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GrowthState, GrowthOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[GrowthEvent],
            state: GroupState[GrowthState]) =>
          val prev = state.getOption.getOrElse(
            GrowthState(Nil, None, churned = false))
          var last = prev.last
          var churned = prev.churned
          // merge new presence days; drop late data at or before the
          // classification frontier (immutable emissions)
          var pending = prev.pending.toSet ++
            it.map(e => dayNum(e.ts)).filter(d => last.forall(d > _))
          val wm = state.getCurrentWatermarkMs()
          def dstr(d: Int) = java.time.LocalDate.ofEpochDay(d.toLong).toString
          val out = scala.collection.mutable.ArrayBuffer.empty[GrowthOut]
          val closed = pending.filter(d => (d + 1L) * dayMs <= wm)
            .toSeq.sorted
          closed.foreach { d =>
            last match {
              case None => out += GrowthOut(uid, dstr(d), "new")
              case Some(l) if d - l <= GrowthGapDays =>
                out += GrowthOut(uid, dstr(d), "retained")
              case Some(l) =>
                // the gap is observed: book the churn the timer would
                // have (unless it already fired), then the return
                if (!churned)
                  out += GrowthOut(uid, dstr(l + GrowthGapDays + 1),
                    "churned")
                out += GrowthOut(uid, dstr(d), "resurrected")
            }
            churned = false
            last = Some(d)
          }
          pending = pending -- closed
          // inactivity churn: the churn day itself must be closed and
          // no unclosed presence day may sit inside the gap window
          last.foreach { l =>
            val c = l + GrowthGapDays + 1
            if (!churned && (c + 1L) * dayMs <= wm &&
                !pending.exists(_ <= l + GrowthGapDays)) {
              out += GrowthOut(uid, dstr(c), "churned")
              churned = true
            }
          }
          state.update(GrowthState(pending.toSeq.sorted, last, churned))
          // next wake-up: the earliest pending close, else the churn
          // close; dormant churned users wake only on new data
          val nextTs: Option[Long] =
            if (pending.nonEmpty) Some((pending.min + 1L) * dayMs)
            else if (!churned && last.isDefined)
              Some((last.get.toLong + GrowthGapDays + 2L) * dayMs)
            else None
          nextTs.foreach(t => state.setTimeoutTimestamp(math.max(t, wm + 1L)))
          out.iterator
      }
  }

  // ------------------------------------------------------------------
  // streaming SRM monitor — ev_srm's live twin
  // ------------------------------------------------------------------

  /** The LIVE sample-ratio-mismatch monitor — `ev_srm`'s incremental
    * twin, and the alarm that matters most in real time: an SRM is
    * almost always an ASSIGNMENT bug (a crash path that drops one
    * cohort's logging), and every hour it runs is an hour of biased
    * data. First-seen dedup at (event_type, user) grain feeds a
    * running cohort-count aggregate; the χ² verdict is the SAME
    * [[graft.operators.Analytics.srmTail]] the batch query selects
    * through, and the cohort is the SAME salted md5 split — neither
    * can drift from the batch verdict.
    *
    * State: the dedup holds one row per (type, user) pair — the
    * ASSIGNMENT grain, which is the signal itself (a user counted
    * twice would corrupt the test; the growth-stream argument) — and
    * the aggregate holds one row per (type, cohort). Output mode is
    * Complete (the monitor IS a running total); the sink sees the
    * current verdict per type after every batch.
    */
  def srmStream(events: DataFrame): DataFrame = {
    val deduped = events
      .select(col("event_type").cast("string").as("event_type"),
        col("user_id").cast("long").as("user_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_type", "user_id")
      .select(col("event_type"),
        graft.operators.Analytics.srmCohort.as("cohort"))
    graft.operators.Analytics.srmTail(
      deduped.groupBy(col("event_type")).agg(
        sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b")))
  }

  // ------------------------------------------------------------------
  // streaming DQ monitor — ev_dq's live twin
  // ------------------------------------------------------------------

  /** The LIVE ingest-quality monitor — [[graft.operators.Analytics
    * .evDq]]'s incremental twin, closing the monitor family (every
    * other ev_* audit already has one): the running one-row audit a
    * stream consumer watches BETWEEN nightly batch audits, because
    * every counter here is a pager threshold (a dup-id burst is an
    * at-least-once leak upstream; a malformed-props burst is a
    * producer deploy gone wrong) and an hour of silence on any of
    * them is an hour of corrupted downstream metrics.
    *
    * Shape: the [[srmStream]] pattern widened — THREE first-seen
    * dedup branches (event ids, users, presence days) and the raw
    * stream union into ONE running Complete-mode aggregate, each
    * branch contributing indicator columns so the single aggregate
    * reproduces every batch counter: distinct counts come from the
    * dedup branches (sum of their indicator), totals and violation
    * counters from the raw branch, day bounds from min/max. Shares
    * the malformed predicate with the batch twin by CONSTRUCTION
    * (same try_parse_json expression — one definition, see
    * [[graft.operators.Analytics.dqMalformed]]).
    *
    * State: one row per distinct id / user / day — like srmStream,
    * the dedup grain IS the signal (an id counted twice is exactly
    * what the monitor exists to catch), so this is the honest floor;
    * a deployment that can't hold the id space swaps the id branch to
    * `dropDuplicatesWithinWatermark` and accepts the documented
    * horizon (the [[dedupIngestStream]] contract) — that swap SHIPS
    * as [[dqStreamBounded]], the identical plan with only the id
    * branch's state bounded. Output mode Complete: the monitor IS a
    * running total, the sink sees the current audit row per batch.
    *
    * StreamingSpec pins streamed == batch ev_dq across a batch
    * boundary on the fixture AND on a dirty synthetic feed (dup ids
    * across batches, malformed payloads, negative values).
    */
  def dqStream(events: DataFrame): DataFrame =
    dqStreamWith(events, boundedIds = false)

  /** [[dqStream]] with the id branch's dedup state BOUNDED by the
    * watermark horizon (`dropDuplicatesWithinWatermark`): state holds
    * only ids seen within the 1-hour horizon instead of the full id
    * space — the swap SCALE.md documents for deployments whose id
    * space outgrows executor state stores. The accepted trade, by
    * contract: a duplicate id re-delivered BEYOND the horizon counts
    * as distinct (dqStream counts it as a dup forever), so the live
    * monitor is exact in-horizon and the nightly batch `ev_dq` audit
    * carries the stragglers — the [[dedupIngestStream]] posture.
    * Users/days branches keep full dedup state: their grain (distinct
    * users, presence days) is small by nature and IS the signal.
    * StreamingSpec pins in-horizon equality with batch ev_dq plus the
    * beyond-horizon divergence being exactly the documented one.
    */
  def dqStreamBounded(events: DataFrame): DataFrame =
    dqStreamWith(events, boundedIds = true)

  private def dqStreamWith(events: DataFrame,
      boundedIds: Boolean): DataFrame = {
    val base = events
      .select(col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("value").cast("double").as("value"),
        col("props").cast("string").as("props"),
        col("ts"))
      .withWatermark("ts", "1 hour")
    // every branch emits the same indicator schema; exactly one
    // aggregate downstream sums them (one stateful agg, N dedups)
    def shaped(df: DataFrame, events: Long, ids: Long, users: Long,
        days: Long): DataFrame = df.select(
      lit(events).as("e"), lit(ids).as("i"), lit(users).as("u"),
      lit(days).as("d"),
      when(lit(events) === 1L && col("props").isNull, 1L)
        .otherwise(0L).as("np"),
      when(lit(events) === 1L &&
        graft.operators.Analytics.dqMalformed(col("props")), 1L)
        .otherwise(0L).as("mp"),
      when(lit(events) === 1L && col("value") < 0, 1L)
        .otherwise(0L).as("nv"),
      unix_date(to_date(col("ts"))).as("day"))
    val day = base.withColumn("pday", unix_date(to_date(col("ts"))))
    // dedup branches must drop NULL keys first: dropDuplicates keeps
    // one NULL-key row, but the batch twin's countDistinct ignores
    // NULLs — on a dirty feed carrying null ids the counts would
    // otherwise diverge by one (exactly the regime the monitor targets)
    val idsDeduped = {
      val ids = base.filter(col("event_id").isNotNull)
      if (boundedIds) ids.dropDuplicatesWithinWatermark("event_id")
      else ids.dropDuplicates("event_id")
    }
    val all = shaped(base, 1L, 0L, 0L, 0L)
      .unionByName(shaped(idsDeduped, 0L, 1L, 0L, 0L))
      .unionByName(shaped(base.filter(col("user_id").isNotNull)
        .dropDuplicates("user_id"), 0L, 0L, 1L, 0L))
      .unionByName(shaped(day.filter(col("pday").isNotNull)
        .dropDuplicates("pday"), 0L, 0L, 0L, 1L))
    all.agg(
      sum(col("e")).as("n_events"),
      sum(col("i")).as("n_distinct_ids"),
      sum(col("u")).as("n_users"),
      sum(col("d")).as("n_days_present"),
      sum(col("np")).as("n_null_props"),
      sum(col("mp")).as("n_malformed_props"),
      sum(col("nv")).as("n_negative_values"),
      min(when(col("e") === 1L, col("day"))).as("mn"),
      max(when(col("e") === 1L, col("day"))).as("mx"))
      .select(col("n_events"), col("n_distinct_ids"),
        (col("n_events") - col("n_distinct_ids")).as("n_dup_ids"),
        col("n_users"), col("n_null_props"), col("n_malformed_props"),
        col("n_negative_values"),
        date_from_unix_date(col("mn")).cast("string").as("first_day"),
        date_from_unix_date(col("mx")).cast("string").as("last_day"),
        col("n_days_present"),
        (col("mx") - col("mn") + 1 - col("n_days_present")).cast("long")
          .as("n_days_missing"))
  }

  // ------------------------------------------------------------------
  // streaming bot monitor — ev_bot's live twin
  // ------------------------------------------------------------------

  case class BotEvent(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp)

  /** Per-user cadence state: the last event (for the next gap) and
    * the running min-gap/volume — O(1) per user, the honest floor for
    * any cadence monitor ("when did this user last act" is the
    * signal, the growth-stream argument).
    */
  case class BotState(lastUs: Long, lastId: Long, minGap: Long, n: Long)

  /** Live cadence row — updated for a user whenever a batch carries
    * their events; downstream keeps latest-per-user.
    */
  case class BotOut(user_id: Long, n_events: Long, min_gap_us: Long,
      is_bot: Boolean)

  /** [[graft.operators.TimeSeries.evBot]]'s live twin — the
    * traffic-hygiene pager: a scripted account shows up as a sub-
    * [[graft.operators.TimeSeries.BotMinGapUs]] minimum inter-arrival
    * gap at volume WHILE it is flooding, not in tomorrow's batch
    * audit (by which time it has poisoned every per-user metric
    * upstream of it — the reason ev_bot sits in front of
    * qf_ingest_gate). Emits an updated (volume, min-gap, flag) row
    * per user per batch-with-data; the flag shares the batch audit's
    * BotMinGapUs/BotMinEvents constants — ONE copy, the twins cannot
    * drift on what "bot" means.
    *
    * Cadence semantics match the batch gap relation exactly under
    * per-user in-order delivery (the at-ingest contract every fMGWS
    * twin documents): events fold sorted by (ts, event_id) within a
    * batch and chain through the stored last event across batches.
    * The batch twin's ExactRank median-gap column is deliberately NOT
    * reproduced live — it needs the full per-user gap distribution
    * (unbounded state); the pager fields are min-gap and volume, and
    * the nightly batch audit carries the distributional tail.
    *
    * NoTimeout: an idle user's cadence is frozen — no future event
    * can shrink a past gap — so silence needs no timer; state stays
    * one small record per ever-seen user (the srmStream grain
    * argument: the monitor's question is per-user by nature).
    */
  def botStream(events: DataFrame): Dataset[BotOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import graft.operators.TimeSeries.{BotMinEvents, BotMinGapUs}
    events
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"), col("ts"))
      .withWatermark("ts", "1 hour")
      .as[BotEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BotState, BotOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[BotEvent],
            state: GroupState[BotState]) =>
          var s = state.getOption.getOrElse(
            BotState(Long.MinValue, 0L, Long.MaxValue, 0L))
          it.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val us = micros(e.ts)
            if (s.n > 0) s = s.copy(minGap = math.min(s.minGap, us - s.lastUs))
            s = BotState(us, e.event_id, s.minGap, s.n + 1)
          }
          state.update(s)
          Iterator.single(BotOut(user, s.n,
            if (s.n > 1) s.minGap else -1L,
            s.n > 1 && s.minGap < BotMinGapUs && s.n >= BotMinEvents))
      }
  }
}
