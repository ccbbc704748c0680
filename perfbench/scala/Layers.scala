package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graftbench.GraftBench.{Args, OpResult, PassRec, median}

/** Turns a traced run's spans and counters into per-layer metrics and
  * writes the trace file: every span, one row per op, sums per op
  * family, and self time per layer.
  */
object Layers {

  /** Per-layer metric names and units, in report order. */
  val Units: Seq[(String, String)] = Seq(
    "build.s" -> "s", "build.jobs" -> "count", "driver.gap_s" -> "s",
    "plan.s" -> "s", "exec.s" -> "s", "exec.jobs" -> "count",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task.run_s" -> "s", "task.cpu_s" -> "s", "task.core_busy" -> "ratio",
    "stage.wait_s" -> "s", "shuffle.write_bytes" -> "bytes",
    "shuffle.read_bytes" -> "bytes", "spill_bytes" -> "bytes", "gc_s" -> "s",
    "scan.records" -> "count", "scan.bytes" -> "bytes",
    "cache.left" -> "count", "source.calls" -> "count", "source.s" -> "s",
    "source.read_amp" -> "ratio", "sink.posts_s" -> "s",
    "sink.comments_s" -> "s", "sink.stats_s" -> "s", "sink.bytes" -> "bytes",
    "sink.files" -> "count", "sink.actions" -> "count",
    "jobs.unattributed" -> "count", "trace.overhead" -> "ratio",
    "span.coverage_min" -> "ratio", "host.steal_frac" -> "ratio",
    "host.loadavg_start" -> "load", "host.loadavg_end" -> "load")

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, reach = 0.0
    var first = true
    iv.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (first || s > reach) { total += e - s; reach = e; first = false }
        else if (e > reach) { total += e - reach; reach = e }
      }
    total
  }

  /** A span of the trace file. Harness spans keep their ids; jobs and
    * writes become `job<N>` and `write<N>`. A write goes under the
    * pipeline op whose interval holds it, and a job of that op that runs
    * inside the write moves under the write.
    */
  final case class Node(id: String, parent: String, layer: String,
      name: String, start: Double, end: Double)

  def tree(t: Tracer, ops: Seq[OpResult]): Seq[Node] = {
    val etlOps = ops.filter(_.family == "etl")
    val writes = t.writes.toSeq.zipWithIndex.map { case (w, i) =>
      val op = etlOps.find(r => w.start >= r.start - 1 && w.end <= r.end + 1)
      Node(s"write$i", op.fold("")(_.spanId.toString), "sink.write", w.path,
        w.start, w.end)
    }
    val jobs = t.jobs.values.filter(j => j.op != 0 && j.end >= 0).map { j =>
      val (s, e) = (j.start.toDouble, j.end.toDouble)
      val parent = writes.find(w => w.parent == j.span.toString &&
        w.start - 1 <= s && e <= w.end + 1).fold(j.span.toString)(_.id)
      Node(s"job${j.id}", parent, "job", s"job ${j.id} (${j.phase})", s, e)
    }
    t.spans.toSeq.map(s => Node(s.id.toString, s.parent.toString, s.layer,
      s.name, s.start, s.end)) ++ jobs ++ writes
  }

  /** Per layer: span count, total seconds, and self seconds (each span's
    * duration minus the part of it its children cover).
    */
  def selfTime(nodes: Seq[Node]): Map[String, Map[String, Double]] = {
    val kids = nodes.groupBy(_.parent)
    nodes.groupBy(_.layer).map { case (layer, ns) =>
      val own = ns.map { n =>
        val iv = kids.getOrElse(n.id, Nil).map(c => (c.start, c.end))
        n.end - n.start - covered(iv, n.start, n.end)
      }
      layer -> Map("spans" -> ns.size.toDouble,
        "total_s" -> ns.map(n => n.end - n.start).sum / 1e3,
        "self_s" -> own.sum / 1e3)
    }
  }

  private def sinkKind(path: String): String =
    if (path.contains("/subreddit_stats")) "stats"
    else if (path.endsWith("/comments")) "comments"
    else if (path.endsWith("/posts")) "posts"
    else "other"

  /** Per-op figures of one traced op. */
  private def opRow(t: Tracer, r: OpResult): mutable.LinkedHashMap[String, Double] = {
    val jobs = t.jobs.values.filter(_.op == r.spanId).toSeq
    val agg = t.tasks.getOrElse(r.spanId, new TaskAgg)
    def phase(l: String) = r.phases.filter(_._1 == l).map(p => p._3 - p._2).sum / 1e3
    val srcSpans = t.spans.filter(s => s.parent == r.spanId && s.layer == "source")
    val writes = t.writes.filter(w => w.start >= r.start - 1 && w.end <= r.end + 1 &&
      r.family == "etl")
    def sink(kind: String) = writes.filter(w => sinkKind(w.path) == kind).map(_.dur).sum / 1e3
    val busy = covered(jobs.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble)),
      r.start, r.end) / 1e3
    val loaded = writes.filter(w => Set("posts", "comments")(sinkKind(w.path))).map(_.rows).sum
    mutable.LinkedHashMap(
      "wall_s" -> r.wallS,
      "build.s" -> phase("build"), "plan.s" -> phase("plan"), "exec.s" -> phase("exec"),
      "build.jobs" -> jobs.count(_.phase == "build").toDouble,
      "exec.jobs" -> jobs.count(_.phase == "exec").toDouble,
      "jobs" -> jobs.size.toDouble,
      "driver.gap_s" -> (r.wallS - busy),
      "stages" -> agg.stages.toDouble, "tasks" -> agg.tasks.toDouble,
      "task.run_s" -> agg.runMs / 1e3, "task.cpu_s" -> agg.cpuNs / 1e9,
      "stage.wait_s" -> agg.stageWaitMs / 1e3,
      "shuffle.write_bytes" -> agg.shuffleW.toDouble,
      "shuffle.read_bytes" -> agg.shuffleR.toDouble,
      "spill_bytes" -> agg.spill.toDouble,
      "scan.records" -> agg.records.toDouble, "scan.bytes" -> agg.bytes.toDouble,
      "cache.left" -> r.cacheLeft.toDouble,
      "source.calls" -> srcSpans.size.toDouble,
      "source.s" -> srcSpans.map(_.dur).sum / 1e3,
      "sink.posts_s" -> sink("posts"), "sink.comments_s" -> sink("comments"),
      "sink.stats_s" -> sink("stats"),
      "sink.bytes" -> writes.map(_.bytes).sum.toDouble,
      "sink.files" -> writes.map(_.files).sum.toDouble,
      "sink.actions" -> writes.size.toDouble,
      "rows.loaded" -> loaded.toDouble,
      "coverage" -> (if (r.family == "etl" || r.wallS <= 0) 1.0
        else (phase("build") + phase("plan") + phase("exec")) / r.wallS))
  }

  private val Summed = Seq("build.s", "plan.s", "exec.s", "build.jobs",
    "exec.jobs", "jobs", "driver.gap_s", "stages", "tasks", "task.run_s",
    "task.cpu_s", "stage.wait_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "spill_bytes", "scan.records", "scan.bytes", "cache.left", "source.calls",
    "source.s", "sink.posts_s", "sink.comments_s", "sink.stats_s",
    "sink.bytes", "sink.files", "sink.actions", "rows.loaded", "wall_s")

  private def sum(rows: Seq[collection.Map[String, Double]]): Map[String, Double] =
    Summed.map(k => k -> rows.map(_.getOrElse(k, 0.0)).sum).toMap

  def summarize(a: Args, t: Tracer, passes: Seq[PassRec],
      telemetry: Map[String, Any], traceFile: String): collection.Map[String, Any] = {
    val traced = passes.filter(_.traced)
    val untraced = passes.filterNot(_.traced)
    val perOp = traced.flatMap(p => p.ops.map(r => (p, r, opRow(t, r))))
    val nodes = tree(t, traced.flatMap(_.ops))
    val perPass = traced.map { p =>
      val rows = perOp.filter(_._1 eq p).map(_._3)
      val s = sum(rows.toSeq)
      s ++ Map(
        "gc_s" -> p.gc,
        "task.core_busy" -> s("task.run_s") / (s("wall_s") * a.cores).max(1e-9),
        "source.read_amp" -> (if (s("rows.loaded") > 0)
          s("scan.records") / s("rows.loaded") else 0.0))
    }
    def med(k: String) = median(perPass.map(_(k)))
    val untracedPass = median(untraced.map(_.wallS))
    val tracedPass = median(traced.map(_.wallS))
    val unattributed = t.jobs.values.count(j => j.op == 0 && j.phase != Props.Flush)
    val values: Map[String, Double] =
      (Summed ++ Seq("gc_s", "task.core_busy", "source.read_amp")).map(k => k -> med(k)).toMap ++
      Map(
        "jobs.unattributed" -> unattributed.toDouble,
        "trace.overhead" -> (if (untracedPass > 0) (tracedPass - untracedPass) / untracedPass else 0.0),
        "span.coverage_min" -> (if (perOp.isEmpty) 0.0 else perOp.map(_._3("coverage")).min),
        "host.steal_frac" -> telemetry("host.steal_frac").asInstanceOf[Double],
        "host.loadavg_start" -> telemetry("host.loadavg_start").asInstanceOf[Double],
        "host.loadavg_end" -> telemetry("host.loadavg_end").asInstanceOf[Double])
    val metrics = mutable.LinkedHashMap.empty[String, Any]
    Units.foreach { case (k, u) =>
      metrics(k) = Map("value" -> values(k), "unit" -> u, "n" -> traced.size)
    }
    val families = perOp.groupBy(_._2.family).map { case (f, xs) =>
      val s = sum(xs.map(_._3)).view.mapValues(_ / traced.size.max(1)).toMap
      f -> (s + ("task.core_busy" -> s("task.run_s") / (s("wall_s") * a.cores).max(1e-9)))
    }
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores,
      "traced_passes" -> traced.size,
      "pass_s" -> Map("traced" -> tracedPass, "untraced" -> untracedPass),
      "metrics" -> metrics,
      "ops" -> perOp.map { case (p, r, row) =>
        Map("pass" -> p.n, "op" -> r.name, "family" -> r.family, "span" -> r.spanId) ++ row },
      "families_per_pass" -> families,
      "self_time" -> selfTime(nodes),
      "spans" -> nodes.map(n => Map("id" -> n.id, "parent" -> n.parent,
        "layer" -> n.layer, "name" -> n.name, "start" -> n.start, "end" -> n.end)))
    Files.write(Paths.get(traceFile), Json.write(doc).getBytes(StandardCharsets.UTF_8))
    metrics
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and
  * booleans.
  */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case (x, y) => write(Seq(x, y))
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
