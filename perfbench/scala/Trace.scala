package graftbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** A named interval in epoch milliseconds; `parent` is the span that
  * caused it (0 for the run itself). Harness spans (run, pass, op,
  * build/plan/exec, source.fetch*) are timed on the client thread; job
  * and sink.write spans come from the listeners.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Local properties the client thread sets before each op and phase.
  * Spark copies them into every job's properties, and threads created
  * inside an op (`operators/Par`) inherit them at creation.
  */
object Props {
  val Span = "graftbench.span"
  val Op = "graftbench.op"
  val Phase = "graftbench.phase"
  val Flush = "flush"
}

/** Per-job record; `op` and `span` are 0 when the job carried no
  * benchmark property (an unattributed job).
  */
final case class JobRec(id: Int, op: Long, span: Long, phase: String,
    start: Long, var end: Long = -1L)

/** Task-side counters summed per op. */
final class TaskAgg {
  var tasks, runMs, cpuNs, shuffleW, shuffleR, spill, records, bytes = 0L
  var stages = 0L
  var stageWaitMs = 0L
}

/** A write action seen by the [[QueryExecutionListener]]. */
final case class WriteRec(path: String, start: Double, end: Double,
    bytes: Long, files: Long, rows: Long) {
  def dur: Double = end - start
}

/** Collects spans and counters for one traced run. Listener callbacks
  * arrive on Spark's listener-bus thread; every read of the collected
  * state happens after [[flush]], under the same lock.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.HashMap.empty[Long, TaskAgg]
  private def agg(op: Long): TaskAgg = tasks.getOrElseUpdate(op, new TaskAgg)
  val writes = mutable.ArrayBuffer.empty[WriteRec]
  private val stageOp = mutable.HashMap.empty[Int, Long]
  private val stageMaxTask = mutable.HashMap.empty[(Int, Int), Long]
  private var flushLatch: CountDownLatch = _

  /** Reserves an id for a span whose end is not known yet. */
  def reserve(): Long = synchronized { nextId += 1; nextId }

  def close(id: Long, parent: Long, layer: String, name: String,
      start: Double, end: Double): Unit = synchronized {
    spans += Span(id, parent, layer, name, start, end)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val op = prop(Props.Op).map(_.toLong).getOrElse(0L)
    val phase = prop(Props.Phase).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, op,
      prop(Props.Span).map(_.toLong).getOrElse(0L), phase, e.time)
    e.stageInfos.foreach(s => stageOp(s.stageId) = op)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.phase == Props.Flush && flushLatch != null) flushLatch.countDown()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = agg(stageOp.getOrElse(e.stageId, 0L))
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.shuffleR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.records += m.inputMetrics.recordsRead
      a.bytes += m.inputMetrics.bytesRead
    }
    val k = (e.stageId, e.stageAttemptId)
    stageMaxTask(k) = math.max(stageMaxTask.getOrElse(k, 0L),
      e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      val a = agg(stageOp.getOrElse(s.stageId, 0L))
      a.stages += 1
      for (sub <- s.submissionTime; done <- s.completionTime) {
        val slowest = stageMaxTask.getOrElse((s.stageId, s.attemptNumber()), 0L)
        a.stageWaitMs += math.max(0L, (done - sub) - slowest)
      }
    }

  /** A write action ends when its callback arrives, give or take the
    * listener bus's delivery delay; it started `durationNs` earlier.
    */
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val end = nowMs()
    val found = Tracer.writeCommands(qe.executedPlan).map { w =>
      def metric(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
      val path = w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
        case other => other.nodeName
      }
      WriteRec(path, end - durationNs / 1e6, end, metric("numOutputBytes"),
        metric("numFiles"), metric("numOutputRows"))
    }
    if (found.nonEmpty) synchronized { writes ++= found }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Blocks until the listener bus has delivered every event posted so
    * far: a one-task marker job runs, and the bus delivers its end only
    * after everything queued before it.
    */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val latch = new CountDownLatch(1)
    synchronized { flushLatch = latch }
    val saved = Seq(Props.Op, Props.Span, Props.Phase).map(k => k -> sc.getLocalProperty(k))
    sc.setLocalProperty(Props.Op, null)
    sc.setLocalProperty(Props.Span, null)
    sc.setLocalProperty(Props.Phase, Props.Flush)
    try sc.parallelize(Seq(1), 1).count()
    finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
  }
}

object Tracer {

  /** Every write command in a plan, looking through the wrappers an
    * eagerly executed command and adaptive execution put around it.
    */
  def writeCommands(plan: SparkPlan): Seq[DataWritingCommandExec] = {
    val out = mutable.ArrayBuffer.empty[DataWritingCommandExec]
    def walk(p: SparkPlan): Unit = p match {
      case w: DataWritingCommandExec => out += w; w.children.foreach(walk)
      case c: CommandResultExec => walk(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }
}
