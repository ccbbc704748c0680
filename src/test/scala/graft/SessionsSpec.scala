package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[Sessions]] is the one session factory: it gives Bench exactly the
  * settings Bench has always timed under, and no other main builds a
  * session of its own (per-main copies are how the settings drifted).
  */
class SessionsSpec extends SparkSpec {

  test("the factory gives Bench its four settings and builds the suite's session") {
    assert(Sessions.settings(32).toMap == Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    Sessions.settings(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) == v, k)
    }
    // fixture reads declare their schema, so no session needs the
    // legacy nanos conf: it is not set at build time and reads its
    // default
    val nanos = "spark.sql.legacy.parquet.nanosAsLong"
    assert(!spark.sparkContext.getConf.contains(nanos))
    assert(spark.conf.get(nanos) == "false")
  }

  test("Bench.timeRun returns a failure with its cause and clears the cache") {
    import org.apache.spark.sql.functions.{col, raise_error, lit}
    val cached = spark.range(10).toDF("id").cache()
    cached.count()
    val ok = Bench.timeRun(spark)(cached.select(col("id") * 2))
    assert(ok.exists(_ >= 0.0))
    assert(spark.sharedState.cacheManager.isEmpty, "cache left behind")
    val bad = Bench.timeRun(spark)(spark.range(1).select(raise_error(lit("boom"))))
    assert(bad.left.exists(_.getMessage.contains("boom")), bad)
  }

  private def mainSources: Seq[java.nio.file.Path] = {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Sessions.scala")),
      "the guard must actually see the source tree")
    files
  }

  test("no file under src/main but Sessions.scala builds a SparkSession") {
    val builders = mainSources.filterNot(_.endsWith("Sessions.scala"))
      .filter(f => Files.readString(f).contains("SparkSession.builder("))
    assert(builders.isEmpty, builders.mkString("\n"))
  }

  // custom expressions reach the Column API through GraftPlanApi.column;
  // SQL-text names come only from GraftExtensions' list
  test("no file under src/main registers a session function or calls one by name") {
    val writers = mainSources.filter { f =>
      val src = Files.readString(f)
      src.contains("createOrReplaceTempFunction") || src.contains("call_function(")
    }
    assert(writers.isEmpty, writers.mkString("\n"))
  }

  // k-means trains through Similarity.lloyd / lloydSql, one trainer per
  // engine: no other file runs its own update rounds
  test("no file under src/main but Similarity.scala runs a k-means " +
    "update round") {
    val trainers = mainSources.filterNot(_.endsWith("Similarity.scala"))
      .filter { f =>
        val src = Files.readString(f)
        src.contains("kmUpdate(") || src.contains("kmUpdateSql(")
      }
    assert(trainers.isEmpty, trainers.mkString("\n"))
  }

  // a call, not the definition
  private val bpeMergeCall = """(?<!def )\bbpe(?:Elect|ApplyMerge)\(""".r

  // BPE trains through Corpus.bpeTrainLoop, the one trainer: no other
  // code elects or applies a merge
  test("no code under src/main but Corpus.bpeTrainLoop elects or " +
    "applies a BPE merge") {
    val (corpus, others) = mainSources.partition(_.endsWith("Corpus.scala"))
    val src = Files.readString(corpus.head)
    val loop = src.indexOf("def bpeTrainLoop(")
    val loopEnd = src.indexOf("\n  }\n", loop)
    assert(loop >= 0 && loopEnd > loop, "the guard must see the trainer")
    val calls = bpeMergeCall.findAllMatchIn(src).toSeq
    assert(calls.map(_.matched).toSet == Set("bpeElect(", "bpeApplyMerge("),
      "the guard must match the loop's own calls")
    val outside = calls.filterNot(m => m.start > loop && m.start < loopEnd)
    assert(outside.isEmpty, outside.map(m => s"Corpus.scala@${m.start}"))
    val elsewhere = others
      .filter(f => bpeMergeCall.findFirstIn(Files.readString(f)).isDefined)
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
  }

  // the recursive CTE `reach(`, not `foreach(`
  private val reachCte = """\breach\(""".r

  // connected-component oracles embed Dedup.ddClustersClosureSql, the
  // one recursive min-label closure: no other file declares its own
  test("no file under src/main but Dedup.scala declares the recursive " +
    "reach closure") {
    val closures = mainSources.filterNot(_.endsWith("Dedup.scala"))
      .filter(f => reachCte.findFirstIn(Files.readString(f)).isDefined)
    assert(closures.isEmpty, closures.mkString("\n"))
  }

  // DuckDB inlines a plain CTE at every reference, so the recursive
  // step would re-derive the pair stream each round
  test("every closure oracle materializes its edges") {
    val closureOracles = SparkEntry.oracleSql
      .filter(kv => reachCte.findFirstIn(kv._2).isDefined)
    assert(closureOracles.size >= 13, closureOracles.keys)
    val plain = closureOracles.keys
      .filterNot(closureOracles(_).contains("edges AS MATERIALIZED"))
    assert(plain.isEmpty, plain.mkString(", "))
  }

  // the pipeline collects its batch once to the driver (at most `limit`
  // rows) and runs every stage over that local relation
  test("pipeline/Pipeline.scala caches, persists or checkpoints no batch") {
    val pipeline = mainSources.filter(_.endsWith("pipeline/Pipeline.scala"))
    assert(pipeline.size == 1, "the guard must see the pipeline")
    val held = """\.cache\(\)|persist|localCheckpoint""".r
      .findAllIn(Files.readString(pipeline.head)).toSeq
    assert(held.isEmpty, held)
  }

  // Par is the one concurrency helper: a fresh daemon pool per call,
  // shut down in a finally
  private val threadMaker = ("""new Thread\b|Executors\.|ExecutionContext""" +
    """|ForkJoinPool|ThreadPoolExecutor|\bFuture\s*[({]""").r

  test("no file under src/main but Par.scala creates a thread or executor") {
    val (par, others) = mainSources.partition(_.endsWith("Par.scala"))
    assert(par.exists(f => threadMaker.findFirstIn(Files.readString(f)).isDefined),
      "the guard must match Par's own pool")
    val makers = others
      .filter(f => threadMaker.findFirstIn(Files.readString(f)).isDefined)
    assert(makers.isEmpty, makers.mkString("\n"))
  }

  test("Par.run waits for every thunk, then rethrows the first failure") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException](Par.run(Seq(
      () => throw new IllegalStateException("first"),
      () => { Thread.sleep(300); finished.set(true) },
      () => throw new IllegalArgumentException("third"))))
    assert(e.getMessage == "first")
    assert(finished.get, "returned before a sibling thunk finished")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third"))
    assert(Par.run(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("Par.run's threads are daemons that carry the caller's local properties") {
    val sc = spark.sparkContext
    val key = "graft.spec.par"
    def seen() = Par.run(Seq.fill(2)(() =>
      (Thread.currentThread.isDaemon, sc.getLocalProperty(key))))
    try {
      sc.setLocalProperty(key, "a")
      assert(seen() == Seq.fill(2)((true, "a")))
      // a fresh pool per call: the next call sees the property as it is now
      sc.setLocalProperty(key, "b")
      assert(seen() == Seq.fill(2)((true, "b")))
    } finally sc.setLocalProperty(key, null)
  }
}
