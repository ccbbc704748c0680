package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success}
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.pipeline.Pipeline
import graft.source.{FixtureSource, RedditSource}

/** Closed-loop benchmark driver: one client thread issues the ops of a
  * workload one after another against a `local[cores]` session.
  *
  * Modes:
  *  - `bench`: set up, warm up (checking every output against the
  *    goldens), then run whole passes until `--seconds` have elapsed,
  *    and write the result JSON to `--out`. With `--trace 1` the passes
  *    alternate untraced and traced, and the per-layer figures come from
  *    the traced ones.
  *  - `goldens`: print the fingerprint of every op (and of the ETL
  *    warehouse) as `key<TAB>rows<TAB>hash` lines to `--out`.
  *  - `dump`: write every query op's result as parquet plus
  *    `oracle_sql.json` under `--out`, the layout `tools/check_oracle.py`
  *    compares against DuckDB.
  */
object GraftBench {

  final case class Args(mode: String, workload: String, seed: Long,
      seconds: Double, trace: Boolean, data: String, work: String,
      out: String, goldens: String, cores: Int, ops: Seq[String])

  /** Three of the five `o_orderpriority` values the fixture model maps
    * to subreddits (all five are the same size to within 1.5%); a pass
    * over all five does not fit the run budget.
    */
  val Subreddits = Seq("1-URGENT", "3-MEDIUM", "5-LOW")

  /** Posts fetched per subreddit: above every subreddit's size in the
    * bundled fixtures, so each op loads its whole subreddit.
    */
  val PostLimit = 5000

  /** Query ops of the analyst workload, by family: the reference's
    * `analysis.sql` surface, ops ending in connected components, and
    * shuffle-heavy extension operators. The ten reference ops are the
    * short ones (under a second each); against the five longer ones
    * they put the median op latency inside their cluster, not at its
    * upper edge, where it would follow the slowest short op of a run.
    */
  val AnalystOps: Seq[(String, String)] =
    Seq("q01_overview", "q03_by_hour", "q05_active_authors",
      "q06_content_types", "q07_engagement", "q08_comment_coverage",
      "q10_daily_trends", "q14_quality", "stats_daily",
      "transform_posts").map(_ -> "ref") ++
    Seq("dd_clusters").map(_ -> "cc") ++
    Seq("ta_ngram_coverage", "ev_session_stats", "qf_composite",
      "dd_ngram_jaccard").map(_ -> "ext")

  val Workloads: Map[String, Seq[(String, String)]] = Map(
    "analyst_queries" -> AnalystOps,
    "etl_pipeline" -> Subreddits.map(_ -> "etl"))

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.mode match {
      case "bench" => bench(a)
      case "goldens" => goldens(a)
      case "dump" => dump(a)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(m.getOrElse("mode", "bench"), m.getOrElse("workload", ""),
      m.getOrElse("seed", "0").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", get("data"), get("work"), get("out"),
      m.getOrElse("goldens", ""), m.getOrElse("cores", "4").toInt,
      m.get("ops").toSeq.flatMap(_.split(",")))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Resolves every fixture table once (file listing and parquet
    * footer), so the first op does not pay for it alone.
    */
  private def warmTables(spark: SparkSession, data: String): Unit =
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  // ---- op execution --------------------------------------------------

  /** Outcome of one op. `phases` holds (layer, start ms, end ms) spans
    * measured on the client thread.
    */
  final case class OpResult(name: String, family: String, pass: Int,
      spanId: Long, start: Double, end: Double, rows: Long,
      error: Option[(String, String)], phases: Seq[(String, Double, Double)],
      cacheLeft: Int) {
    def wallS: Double = (end - start) / 1e3
  }

  /** Runs ops and records their spans; one instance per run. */
  final class Runner(a: Args, spark: SparkSession, tracer: Tracer) {
    private val sc = spark.sparkContext
    var tracing = false

    private def setProps(op: Long, span: Long, phase: String): Unit = {
      sc.setLocalProperty(Props.Op, if (op == 0) null else op.toString)
      sc.setLocalProperty(Props.Span, if (span == 0) null else span.toString)
      sc.setLocalProperty(Props.Phase, phase)
    }

    /** Drops what an op left cached, after counting it, and waits for
      * the blocks to go so the next op does not share the clean-up.
      */
    private def cleanUp(): Int = {
      val left = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      left
    }

    private def failure(e: Throwable): (String, String) =
      e.getClass.getName -> String.valueOf(e.getMessage).take(400)

    /** build (the query function call) → plan (`executedPlan`) → exec
      * (`action`, by default `toRdd.count()`, which materializes every
      * row without collecting it).
      */
    def query(name: String, family: String, pass: Int, parent: Long,
        action: DataFrame => Long = _.queryExecution.toRdd.count()): OpResult = {
      val fn = SparkEntry.queries(name)
      val id = tracer.reserve()
      val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
      var rows = -1L
      val start = tracer.nowMs()
      var t = start
      def phase[T](layer: String)(body: => T): T = {
        val sid = tracer.reserve()
        setProps(id, sid, layer)
        val s = tracer.nowMs()
        try body
        finally {
          t = tracer.nowMs()
          phases += ((layer, s, t))
          if (tracing) tracer.close(sid, id, layer, s"$layer:$name", s, t)
        }
      }
      val error =
        try {
          val d = phase("build")(fn(spark, a.data))
          phase("plan")(d.queryExecution.executedPlan)
          rows = phase("exec")(action(d))
          None
        } catch { case NonFatal(e) => Some(failure(e)) }
        finally setProps(0, 0, null)
      val end = t
      if (tracing) tracer.close(id, parent, "op", name, start, end)
      OpResult(name, family, pass, id, start, end, rows, error,
        phases.toSeq, 0)
    }

    /** One subreddit through `Pipeline.runAll`. */
    def pipeline(sub: String, pass: Int, parent: Long,
        warehouse: String): OpResult = {
      val id = tracer.reserve()
      val source: RedditSource =
        if (tracing) new TracedSource(new FixtureSource(a.data), this, id)
        else new FixtureSource(a.data)
      setProps(id, id, "pipeline")
      val start = tracer.nowMs()
      val res = try new Pipeline(spark, source, warehouse)
          .runAll(Seq(sub), PostLimit)(sub)
        finally setProps(0, 0, null)
      val end = tracer.nowMs()
      if (tracing) tracer.close(id, parent, "op", sub, start, end)
      val (rows, error) = res match {
        case Success(n) => (n, None)
        case Failure(e) => (-1L, Some(failure(e)))
      }
      OpResult(sub, "etl", pass, id, start, end, rows, error, Nil, 0)
    }

    def finish(r: OpResult): OpResult = r.copy(cacheLeft = cleanUp())

    /** Times a source call as a `source` span under the current op. */
    def sourceSpan[T](op: Long, name: String)(body: => T): T = {
      val sid = tracer.reserve()
      setProps(op, sid, "pipeline")
      val s = tracer.nowMs()
      try body
      finally {
        tracer.close(sid, op, "source", name, s, tracer.nowMs())
        setProps(op, op, "pipeline")
      }
    }
  }

  /** Delegating source that records a span around every fetch. */
  final class TracedSource(inner: RedditSource, runner: Runner, op: Long)
      extends RedditSource {
    override def fetchPosts(spark: SparkSession, subreddit: String,
        limit: Int, sort: String): DataFrame =
      runner.sourceSpan(op, "source.fetchPosts")(
        inner.fetchPosts(spark, subreddit, limit, sort))
    override def fetchComments(spark: SparkSession, postId: String,
        limit: Int): DataFrame =
      runner.sourceSpan(op, "source.fetchComments")(
        inner.fetchComments(spark, postId, limit))
  }

  // ---- checks ----------------------------------------------------------

  final case class Golden(rows: Long, hash: String)

  private def loadGoldens(path: String): Map[String, Golden] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, r, h) = l.split("\t")
        k -> Golden(r.toLong, h)
      }.toMap

  /** Fingerprints of a pipeline warehouse: row counts of the three
    * tables plus the content hash of `subreddit_stats` (posts and
    * comments carry a wall-clock `extracted_at`, so only their counts are
    * stable).
    */
  private def warehousePrints(spark: SparkSession,
      wh: String): Seq[(String, Fingerprint)] = {
    def count(t: String) = spark.read.parquet(s"$wh/$t").count()
    Seq("etl.warehouse.posts" -> Fingerprint(count("posts"), "-"),
      "etl.warehouse.comments" -> Fingerprint(count("comments"), "-"),
      "etl.warehouse.subreddit_stats" ->
        Fingerprint.of(spark.read.parquet(s"$wh/subreddit_stats")))
  }

  // ---- telemetry -------------------------------------------------------

  private def readFile(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    catch { case NonFatal(_) => "" }

  private def loadavg(): Double =
    readFile("/proc/loadavg").split("\\s+").headOption
      .flatMap(_.toDoubleOption).getOrElse(-1.0)

  /** (steal, total) jiffies of the aggregate CPU line of /proc/stat. */
  private def cpuJiffies(): (Long, Long) =
    readFile("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map { l =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      }.getOrElse((0L, 0L))

  private def vmHwmMb(): Double =
    readFile("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9
  private def gcS(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  // ---- statistics ------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * sample at sorted index n-11, i.e. percentile 100·(n-10)/n. With ten
    * samples or fewer no percentile qualifies and the maximum stands in.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(0.0), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  // ---- modes -----------------------------------------------------------

  final case class PassRec(n: Int, traced: Boolean, spanId: Long,
      start: Double, end: Double, cpu: Double, gc: Double,
      ops: Seq[OpResult]) {
    def wallS: Double = (end - start) / 1e3
  }

  def bench(a: Args): Unit = {
    val ops = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val isEtl = a.workload == "etl_pipeline"
    val goldens = loadGoldens(a.goldens)
    val load0 = loadavg()
    val jiffies0 = cpuJiffies()
    val rng = new Random(a.seed)
    def order(): Seq[(String, String)] = rng.shuffle(ops)

    // set-up: session, fixture warm-up, fresh warehouse root
    val sessionStart = System.nanoTime()
    val spark = session(a)
    warmTables(spark, a.data)
    val whRoot = new File(s"${a.work}/warehouse")
    deleteTree(whRoot)
    whRoot.mkdirs()
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    progress(f"session set-up done: $sessionS%.2f s")
    val tracer = new Tracer(spark)
    val runner = new Runner(a, spark, tracer)
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0
    def fail(op: String, pass: Int, phase: String, kind: String,
        msg: String): Unit =
      failures += Map("op" -> op, "pass" -> pass, "phase" -> phase,
        "kind" -> kind, "error" -> msg)
    def account(r: OpResult): Unit = {
      attempted += 1
      r.error.foreach { case (cls, msg) => fail(r.name, r.pass, "run", cls, msg) }
    }
    // a hash of "-" checks the row count only
    def checkPrint(op: String, pass: Int, key: String, got: Fingerprint): Unit =
      goldens.get(key) match {
        case None => fail(op, pass, "check", "NoGolden", s"no golden for $key")
        case Some(g) if g.rows != got.rows || (got.hash != "-" && g.hash != got.hash) =>
          fail(op, pass, "check", "WrongOutput",
            s"$key: got ${got.render}, want ${g.rows}:${g.hash}")
        case _ =>
      }
    def checkRows(r: OpResult, key: String): Unit =
      if (r.error.isEmpty) checkPrint(r.name, r.pass, key, Fingerprint(r.rows, "-"))

    // warm-up, untimed: every query op once, its result collected for
    // the full output check (the same executed plan the timed
    // `toRdd.count()` runs, so its generated code is compiled here); one
    // subreddit for the pipeline, whose ops share one code path
    val warmStart = System.nanoTime()
    val warm = order()
    if (isEtl) {
      val r = runner.finish(runner.pipeline(warm.head._1, 0, 0,
        s"${a.work}/warehouse/warm"))
      account(r)
      checkRows(r, s"etl.posts.${r.name}")
    } else warm.foreach { case (name, fam) =>
      var got: Fingerprint = null
      val r = runner.finish(runner.query(name, fam, 0, 0,
        d => { got = Fingerprint.of(d); got.rows }))
      account(r)
      if (r.error.isEmpty) checkPrint(name, 0, name, got)
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    progress(f"warm-up done: $warmS%.2f s")

    // timed passes
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val runSpan = tracer.reserve()
    val runStart = tracer.nowMs()
    // whole passes only: another starts while fewer than --seconds have
    // elapsed. A traced run alternates untraced and traced passes and
    // runs at least three (untraced, traced, untraced), so the trace
    // overhead compares a traced pass with untraced ones on both sides
    // of it while the JIT is still speeding passes up.
    val minPasses = if (a.trace) 3 else 1
    val t0 = System.nanoTime()
    val firstPassEpochMs = System.currentTimeMillis()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val n = passes.size + 1
      val traced = a.trace && n % 2 == 0
      val wh = s"${a.work}/warehouse/pass$n"
      val seq = order()
      // every pass starts from a collected heap, so one pass's garbage
      // is not collected during the next
      System.gc()
      if (traced) tracer.attach()
      runner.tracing = traced
      val pid = tracer.reserve()
      val (c0, g0) = (cpuS(), gcS())
      val ps = tracer.nowMs()
      // each op's leftovers are counted and dropped right after it,
      // outside the op's own span but inside the pass
      val done = seq.map { case (name, fam) =>
        runner.finish(
          if (isEtl) runner.pipeline(name, n, pid, wh)
          else runner.query(name, fam, n, pid))
      }
      val pe = tracer.nowMs()
      val (c1, g1) = (cpuS(), gcS())
      runner.tracing = false
      if (traced) {
        tracer.close(pid, runSpan, "pass", s"pass$n", ps, pe)
        tracer.flush()
        tracer.detach()
      }
      done.foreach { r =>
        account(r)
        if (isEtl) checkRows(r, s"etl.posts.${r.name}") else checkRows(r, r.name)
      }
      if (isEtl) {
        val prints = try warehousePrints(spark, wh) catch {
          case NonFatal(e) => Seq("etl.warehouse" ->
            Fingerprint(-1, e.getClass.getName)) }
        prints.foreach { case (k, f) => checkPrint("warehouse", n, k, f) }
      }
      passes += PassRec(n, traced, pid, ps, pe, c1 - c0, g1 - g0, done)
      progress(f"pass $n${if (traced) " (traced)" else ""}: ${passes.last.wallS}%.2f s; " +
        done.map(r => f"${r.name} ${r.wallS}%.2f").mkString(", "))
    }
    tracer.close(runSpan, 0, "run", a.workload, runStart, tracer.nowMs())

    val timed = passes.filterNot(_.traced).toSeq
    val opTimes = timed.flatMap(_.ops.filter(_.error.isEmpty).map(_.wallS))
    val (tailV, tailP) = tail(opTimes)
    val (steal1, total1) = cpuJiffies()
    val dTotal = (total1 - jiffies0._2).max(1L)
    // set-up: from JVM start to the first timed pass, covering session
    // creation, the fixture warm-up and the untimed warm-up pass
    val setupS =
      (firstPassEpochMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val metrics = mutable.LinkedHashMap[String, Map[String, Any]](
      "setup_s" -> m(setupS, "s", 1),
      "pass_s" -> m(median(timed.map(_.wallS)), "s", timed.size),
      "op_s.p50" -> m(median(opTimes), "s", opTimes.size),
      "op_s.tail" -> (m(tailV, "s", opTimes.size) + ("percentile" -> tailP)),
      "cpu_s" -> m(median(timed.map(_.cpu)), "s", timed.size),
      "rss_peak_mb" -> m(vmHwmMb(), "MB", 1))
    val telemetry = Map(
      "host.steal_frac" -> (steal1 - jiffies0._1).toDouble / dTotal,
      "host.loadavg_start" -> load0, "host.loadavg_end" -> loadavg(),
      "session_s" -> sessionS, "warmup_s" -> warmS)
    val fileBase = s"${a.work}/trace_${a.workload}_s${a.seed}"
    val layers =
      if (a.trace) Layers.summarize(a, tracer, passes.toSeq, telemetry,
        s"$fileBase.json")
      else collection.Map.empty[String, Any]
    val wrong = failures.map(f => (f("op"), f("pass"))).distinct.size
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "seconds" -> a.seconds, "passes" -> timed.size,
      "traced_passes" -> passes.count(_.traced),
      "attempted" -> attempted, "failed" -> wrong,
      "correct" -> failures.isEmpty,
      "failures" -> failures.toSeq, "metrics" -> metrics,
      "telemetry" -> telemetry, "layers" -> layers,
      "trace_file" -> (if (a.trace) s"$fileBase.json" else ""))
    Files.write(Paths.get(a.out), Json.write(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private val t00 = System.nanoTime()
  private def progress(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t00) / 1e9}%8.2f s] $msg")

  private def m(v: Double, unit: String, n: Int): Map[String, Any] =
    Map("value" -> v, "unit" -> unit, "n" -> n)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Fingerprints every op of every workload, for the goldens file. */
  def goldens(a: Args): Unit = {
    val spark = session(a)
    val runner = new Runner(a, spark, new Tracer(spark))
    val lines = mutable.ArrayBuffer.empty[String]
    def line(k: String, f: Fingerprint) = lines += s"$k\t${f.rows}\t${f.hash}"
    for ((name, fam) <- AnalystOps) {
      var got: Fingerprint = null
      val r = runner.finish(runner.query(name, fam, 0, 0,
        d => { got = Fingerprint.of(d); got.rows }))
      r.error.foreach { case (c, msg) => throw new IllegalStateException(s"$name: $c $msg") }
      line(name, got)
    }
    val wh = s"${a.work}/warehouse/goldens"
    deleteTree(new File(wh))
    for (sub <- Subreddits) {
      val r = runner.finish(runner.pipeline(sub, 0, 0, wh))
      r.error.foreach { case (c, msg) => throw new IllegalStateException(s"$sub: $c $msg") }
      line(s"etl.posts.$sub", Fingerprint(r.rows, "-"))
    }
    warehousePrints(spark, wh).foreach { case (k, f) => line(k, f) }
    Files.write(Paths.get(a.out), (lines.mkString("\n") + "\n")
      .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Dumps query results in the layout `tools/check_oracle.py` reads. */
  def dump(a: Args): Unit = {
    val spark = session(a)
    val names = if (a.ops.nonEmpty) a.ops else AnalystOps.map(_._1)
    names.foreach { n =>
      SparkEntry.queries(n)(spark, a.data).coalesce(1).write.mode("overwrite")
        .parquet(s"${a.out}/$n")
      spark.catalog.clearCache()
    }
    val sql = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.write(Paths.get(s"${a.out}/oracle_sql.json"),
      Json.write(sql).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
