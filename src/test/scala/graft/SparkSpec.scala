package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; Spark
  * reuses it across suites via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(cpus = 4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  private val tmpDirs = ArrayBuffer.empty[Path]

  /** A fresh temp directory, deleted with its contents when the suite
    * ends.
    */
  def tmpDir(prefix: String = "graft_"): String = {
    val dir = Files.createTempDirectory(prefix)
    tmpDirs.synchronized(tmpDirs += dir)
    dir.toString
  }

  /** Spark jobs started while `body` runs, on this thread or on a
    * thread it creates (Spark's local properties are inherited at
    * thread creation), and how many of them were still running after
    * `body` returned. A marker job outside the probe runs last; the
    * listener bus delivers its start after every event posted before
    * it, and Spark posts a job's end before its action returns, so a
    * job whose end arrives after the marker's start outlived `body`.
    */
  def jobsRun(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.probe"
    val started, ended = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val probed = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("probe") =>
            probed.add(e.jobId); started.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (probed.contains(e.jobId) && markerSeen.getCount > 0)
          ended.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "probe")
      try body finally sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener bus stalled")
      (started.get, started.get - ended.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started while `body` runs ([[jobsRun]]). */
  def jobsStarted(body: => Unit): Int = jobsRun(body)._1

  override protected def afterAll(): Unit = {
    // session is shared across suites — do not stop it here
    try tmpDirs.synchronized(tmpDirs.foreach(d =>
      FileUtils.deleteQuietly(d.toFile)))
    finally super.afterAll()
  }
}
