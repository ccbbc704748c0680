package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.schema.Tables

/** [[Tables]] is the one fixture read path: its declared schemas must
  * equal what Spark infers from the files (else a renamed column reads
  * as nulls), a read must start no Spark job (the reason it exists),
  * and no other file in `src/main` may read a fixture parquet inline.
  */
class TablesSpec extends SparkSpec {

  private val fixtureDirs =
    Seq(sf("sf0.001"), sf("sf0.01"), sf("sf0.1"), "perfbench/data/sf0.01")

  test("every declared schema equals the inferred one at every fixture scale") {
    assert(Tables.schemas.size == 10)
    for (dir <- fixtureDirs; (name, declared) <- Tables.schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(declared == inferred,
        s"$dir/$name: declared ${declared.toDDL} vs inferred ${inferred.toDDL}")
      assert(Tables.read(spark, dir, name).schema == inferred, s"$dir/$name")
    }
  }

  test("an unknown table name throws instead of inferring") {
    val e = intercept[IllegalArgumentException](Tables.read(spark, sf(), "posts"))
    assert(e.getMessage.contains("posts"))
  }

  /** Spark jobs started on this thread while `body` runs. A marker job
    * outside the probe runs last; the listener bus delivers its start
    * after every event posted before it.
    */
  private def jobsStarted(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.tables.probe"
    val started = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("probe") => started.incrementAndGet()
          case Some("marker") => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "probe")
      try body finally sc.setLocalProperty(key, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
      assert(markerSeen.await(60, TimeUnit.SECONDS), "listener bus stalled")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("a declared read starts no Spark job; an inferred read starts one") {
    val dir = sf("sf0.01")
    Tables.schemas.keys.foreach { name =>
      assert(jobsStarted(Tables.read(spark, dir, name)) == 0, name)
      assert(jobsStarted(spark.read.parquet(s"$dir/$name.parquet")) >= 1,
        s"$name: the probe must see the inference job")
    }
  }

  test("no file under src/main but Tables.scala reads a fixture parquet inline") {
    val inline = """read\.(?:schema\([^)]*\)\.)?parquet\([^)]*\.parquet"""".r
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val tables = files.find(_.endsWith("schema/Tables.scala"))
    assert(tables.exists(f => inline.findFirstIn(Files.readString(f)).isDefined),
      "the guard must match the one read it allows")
    val offenders = files.filterNot(_.endsWith("schema/Tables.scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if inline.findFirstIn(line).isDefined => s"$f:${i + 1}: $line"
        }
      }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
