package graft

import java.io.IOException
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import graft.sink.Load

/** The `file:` filesystem with a crash switch: it numbers the create,
  * rename, delete and mkdirs calls under one root ([[CrashingFileSystem.arm]])
  * and, from the armed index on, fails each of them before it runs, as
  * a process that died at that op would leave the disk.
  */
class CrashingFileSystem extends LocalFileSystem {
  import CrashingFileSystem.op

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    op("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    op("rename", src, s" -> $dst")
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    op("delete", f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    op("mkdirs", f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    op("mkdirs", f)
    super.mkdirs(f, permission)
  }
}

object CrashingFileSystem {
  private val NoCrash = "none: the step ran fewer ops"
  @volatile private var root: Option[String] = None
  @volatile private var crashAt = Int.MaxValue
  @volatile private var crashed = NoCrash
  private val count = new AtomicInteger

  private def op(kind: String, f: Path, more: String = ""): Unit =
    root.filter(f.toUri.getPath.startsWith).foreach { _ =>
      val k = count.getAndIncrement()
      if (k >= crashAt) {
        val desc = s"$kind ${f.toUri.getPath}$more"
        if (k == crashAt) crashed = desc
        throw new IOException(s"crash at op $k: $desc")
      }
    }

  /** Numbers the ops under `dir` from 0, failing op `at` and every later
    * one.
    */
  def arm(dir: String, at: Int = Int.MaxValue): Unit = {
    count.set(0)
    crashAt = at
    crashed = NoCrash
    root = Some(dir)
  }

  /** Stops counting; returns how many ops were seen since [[arm]] and
    * the op that crashed.
    */
  def disarm(): (Int, String) = {
    root = None
    crashAt = Int.MaxValue
    (count.get, crashed)
  }
}

/** Every crash point of the sink recovers exactly. Each step below is
  * run once cleanly and its filesystem ops counted; then, for every op
  * index k, a fresh warehouse gets the step's setup, the step crashes
  * at op k, and the step is run again with no fault. The re-run must
  * store exactly the clean run's rows and leave no `._staging` or
  * `._old` beside the table.
  */
class SinkCrashSpec extends SparkSpec {

  /** Runs `body` with [[CrashingFileSystem]] as the `file:` scheme and
    * the FileSystem cache off (so every lookup sees the setting), then
    * restores both settings.
    */
  private def withCrashingFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl" -> classOf[CrashingFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** Waits until no task runs: the tasks of a crashed job may still be
    * running when its action has thrown, and a dead process runs none.
    */
  private def awaitIdle(): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (tracker.getExecutorInfos.map(_.numRunningTasks).sum > 0) {
      assert(System.nanoTime() < deadline, "tasks of a crashed job still run")
      Thread.sleep(10)
    }
  }

  /** A table's rows, sorted, after checking no swap sibling is left. */
  private def stored(table: String): Seq[String] = {
    Seq("._staging", "._old").foreach(s =>
      assert(!new java.io.File(table + s).exists(), s"$table$s left behind"))
    spark.read.parquet(table).collect().map(_.toString).toSeq.sorted
  }

  /** Enumerates the crash points of `step` over a warehouse prepared by
    * `setup`, comparing `table` (relative to the warehouse) after each
    * crash and re-run with a clean run's.
    */
  private def everyCrashRecovers(table: String, setup: String => Unit)(
      step: String => Unit): Unit = withCrashingFs {
    val cleanWh = tmpDir()
    setup(cleanWh)
    CrashingFileSystem.arm(cleanWh)
    step(cleanWh)
    val (n, _) = CrashingFileSystem.disarm()
    val clean = stored(s"$cleanWh/$table")
    assert(n > 0 && clean.nonEmpty)
    info(s"$n ops")
    // the op order of a job's tasks varies between runs: go past n
    (0 to n + 1).foreach { k =>
      val wh = tmpDir()
      setup(wh)
      CrashingFileSystem.arm(wh, k)
      val crashed = Try(step(wh))
      awaitIdle()
      val (_, at) = CrashingFileSystem.disarm()
      step(wh)
      val outcome = crashed.fold(e => s"failed: ${e.getMessage.take(200)}",
        _ => "returned")
      assert(stored(s"$wh/$table") == clean,
        s"re-run after a crash at op $k of $n ($at; the step $outcome)")
      FileUtils.deleteQuietly(new java.io.File(wh))
    }
  }

  private def batch(rows: (String, Int)*): Load.Batch = {
    import spark.implicits._
    val df = rows.toDF("id", "score")
    Load.Batch(df.schema, df.collect().toSeq)
  }

  private def stats(rows: (String, String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toDF("subreddit", "date", "total_posts")
  }

  private def items(rows: (Long, String, String, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "date", "payload", "op")
  }

  test("K1 appendPosts recovers exactly from a crash at every op") {
    everyCrashRecovers("posts",
      wh => Load.appendPosts(batch("p0" -> 1, "p1" -> 2), spark, wh))(
      wh => Load.appendPosts(batch("p1" -> 9, "p2" -> 3, "p3" -> 4), spark, wh))
  }

  test("K2 appendComments recovers exactly from a crash at every op") {
    everyCrashRecovers("comments",
      wh => Load.appendComments(batch("c0" -> 1, "c1" -> 2), spark, wh))(
      wh => Load.appendComments(batch("c1" -> 9, "c2" -> 3), spark, wh))
  }

  test("K3 upsertStats recovers exactly from a crash at every op") {
    everyCrashRecovers("subreddit_stats",
      wh => Load.upsertStats(stats(("r/a", "2024-01-01", 1L),
        ("r/b", "2024-01-01", 2L)), spark, wh))(
      wh => Load.upsertStats(stats(("r/a", "2024-01-01", 5L),
        ("r/c", "2024-01-02", 3L)), spark, wh))
  }

  private def seedItems(wh: String): Unit =
    Load.mergeInto(spark, s"$wh/items", items(
      (1L, "2024-01-01", "a", "upsert"), (2L, "2024-01-01", "b", "upsert"),
      (3L, "2024-01-02", "c", "upsert"), (7L, "2024-01-02", "u", "upsert"),
      (4L, "2024-01-03", "d", "upsert")), Seq("id"), "date", Some("op"))

  // the batch updates id 3 beside the untouched u|7|2024-01-02 and
  // inserts into a partition the table does not have
  test("mergeInto recovers exactly from a crash at every op of an update") {
    everyCrashRecovers("items", seedItems)(wh =>
      Load.mergeInto(spark, s"$wh/items", items(
        (3L, "2024-01-02", "C", "upsert"), (5L, "2024-01-04", "e", "upsert")),
        Seq("id"), "date", Some("op")))
  }

  test("mergeInto recovers exactly from a crash at every op of a partition delete") {
    everyCrashRecovers("items", seedItems)(wh =>
      Load.mergeInto(spark, s"$wh/items", items(
        (1L, "2024-01-01", "", "delete"), (2L, "2024-01-01", "", "delete")),
        Seq("id"), "date", Some("op")))
  }
}
