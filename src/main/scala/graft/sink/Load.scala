package graft.sink

import java.io.IOException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocatedFileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftPlanApi, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The L of the ETL: the reference's three load paths re-expressed as
  * Spark write-path algorithms (SURVEY.md §2.2).
  *
  * Warehouse layout: one parquet directory per table under a base dir.
  * At 100 TB the same code runs against a table format (Delta/Iceberg)
  * where [[upsertStats]] becomes a `MERGE INTO`; on plain parquet every
  * keyed rewrite is a null-safe key anti-join plus a union
  * ([[replaceOnKey]]), the same algorithm a MERGE executes without a
  * transaction log.
  *
  * Every pipeline write is a stage step, one single-task job that
  * writes one file into `<table>._staging` ([[writeStaged]]), and a
  * commit by rename ([[Staged]]):
  *  - K1/K2 ([[appendPosts]], [[stageComments]]): the batch's new rows;
  *    the commit renames the one file into the table ([[moveIn]]);
  *  - K3 ([[stageStats]]): the merged stats table; the commit swaps the
  *    staged directory in by renames ([[swapIn]]).
  * [[mergeInto]] still rewrites in place ([[stageThenRewrite]]).
  *
  * Crash states each path repairs on its next call:
  *  - K1/K2: a staged file that never committed is deleted by the next
  *    stage of that table and never committed; after the commit rename
  *    only an empty `._staging` is left. A direct append into the
  *    table that died inside its job commit leaves committed task files
  *    under `<table>/_temporary`, which a read skips; every stage first
  *    deletes them ([[clearLeftovers]]);
  *  - K3: a swap cut between its renames ([[recoverSwap]]). One state
  *    comes from the pipeline's stage graph: a first write staged
  *    completely in `._staging` before the crash, whose K1 had not
  *    committed. The next K3 call commits it, and a re-run of that
  *    subreddit replaces those keys with its own rows, so the re-run
  *    stays exact.
  */
object Load {

  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A file or directory name a Spark read skips (`_SUCCESS`, `.crc`,
    * `_temporary`; partition directories like `_c=1` count).
    */
  private def hidden(name: String): Boolean =
    name.startsWith(".") || (name.startsWith("_") && !name.contains("="))

  /** The first data file of a table directory: one with no [[hidden]]
    * path component below the table. A write that fails leaves its
    * directory without one; such a table is absent ([[tableExists]]),
    * so the next write replaces the directory instead of failing its
    * read of the stored rows. A listing error
    * still throws: a transient read error must NOT be treated as "table
    * absent" — that would silently drop or duplicate data.
    */
  private def firstDataFile(spark: SparkSession,
      path: String): Option[LocatedFileStatus] = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val rootPath = fs.makeQualified(root).toUri.getPath
    if (!fs.exists(root)) None
    else {
      val files = fs.listFiles(root, true)
      var found = Option.empty[LocatedFileStatus]
      while (found.isEmpty && files.hasNext) {
        val f = files.next()
        if (!f.getPath.toUri.getPath.stripPrefix(rootPath)
            .split('/').exists(hidden)) found = Some(f)
      }
      found
    }
  }

  private def tableExists(spark: SparkSession, path: String): Boolean =
    firstDataFile(spark, path).isDefined

  /** One data file's footer, read in this JVM without a Spark job by
    * Spark's own footer reader: about 1 ms for a pipeline file, where
    * opening a `ParquetFileReader` took about 10 ms (4-CPU host).
    */
  private def footer(spark: SparkSession, file: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file,
      spark.sparkContext.hadoopConfiguration), ParquetMetadataConverter.NO_FILTER)

  /** The schema Spark wrote into one data file's footer: declaring it
    * skips the schema-inference job a bare `spark.read.parquet` starts,
    * and yields the same schema (inference reads one footer too, with
    * the same converter).
    */
  private def footerSchema(spark: SparkSession, file: FileStatus): StructType =
    GraftPlanApi.parquetSchema(spark, new Footer(file.getPath, footer(spark, file)))

  /** A K1/K2 batch held on the driver: its schema and its rows, at most
    * one per `id`, the first of each id kept. The pipeline's batches fit
    * on the driver (at most `limit` posts, `topPosts × commentLimit`
    * comments), so the dedup costs no shuffle.
    */
  final class Batch private (val schema: StructType, val rows: Seq[Row]) {

    /** The rows as a local relation in one partition: a batch is small,
      * so a job over it is one task, and an aggregate over it plans no
      * exchange.
      */
    def frame(spark: SparkSession): DataFrame =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
  }

  object Batch {
    def apply(schema: StructType, rows: Seq[Row]): Batch = {
      val id = schema.fieldIndex("id")
      new Batch(schema, rows.distinctBy(_.get(id)))
    }
  }

  /** K1 — append posts (reference script.py:226-239): [[stageKeyed]],
    * then commit.
    */
  def appendPosts(batch: Batch, spark: SparkSession, warehouse: String): Unit =
    stageKeyed(batch, spark, s"$warehouse/posts").commit()

  /** K2 — append comments (reference script.py:241-257):
    * [[stageComments]], then commit.
    */
  def appendComments(batch: Batch, spark: SparkSession,
      warehouse: String): Unit =
    stageComments(batch, spark, warehouse).commit()

  /** K2's stage step ([[stageKeyed]]). */
  def stageComments(batch: Batch, spark: SparkSession,
      warehouse: String): Staged =
    stageKeyed(batch, spark, s"$warehouse/comments")

  /** Deletes what a dead writer left inside a table directory: the job
    * committer's `_temporary` (committed task files a read skips and the
    * next job commit would merge in) and Spark's `.spark-staging-*`
    * directories. Safe because each table has one writer at a time.
    */
  private def clearLeftovers(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    fs.delete(new Path(root, "_temporary"), true)
    Option(fs.globStatus(new Path(root, ".spark-staging-*")))
      .foreach(_.foreach(s => fs.delete(s.getPath, true)))
  }

  /** K1/K2's stage step. The reference's SQLite PRIMARY KEY rejects
    * duplicate ids table-wide; here the invariant is enforced
    * explicitly: the batch holds one row per id ([[Batch]]), and an
    * anti-join against the already-loaded ids keeps a re-run (the retry
    * path) from double-loading. At scale the anti-join broadcasts the
    * stored ids, or the table is a key-enforcing format (Delta with a
    * merge) — either way the contract is the same. The new rows are
    * written as one file to `<path>._staging` ([[writeStaged]]); nothing
    * is visible until the returned [[Staged]] commits ([[moveIn]]).
    */
  private def stageKeyed(batch: Batch, spark: SparkSession,
      path: String): Staged = {
    clearLeftovers(spark, path)
    val rows = batch.frame(spark)
    // the stored ids are read with the batch's declared id type: no
    // schema-inference job, and a stored id of another type fails here
    // instead of being cast
    val fresh =
      if (!tableExists(spark, path)) rows
      else rows.join(
        spark.read.schema(StructType(Seq(batch.schema("id")))).parquet(path),
        Seq("id"), "left_anti")
    writeStaged(fresh, path)
    new Staged(spark, path, moveIn)
  }

  /** [[mergeInto]]'s in-place rewrite. Parquet has no transactional
    * overwrite-while-reading, and a cached plan is NOT durable (evicted
    * partitions would recompute from the deleted files mid-overwrite):
    * stage the merged result to a sibling directory, rewrite the table
    * from the durable staging copy via `write`, then clean up. The
    * rewrite clears the partitions it replaces before writing them, so
    * a crash inside it loses them; [[upsertStats]] commits by
    * [[swapIn]] instead.
    */
  private def stageThenRewrite(merged: DataFrame, spark: SparkSession,
      path: String)(write: DataFrame => Unit): Unit = {
    val staging = s"$path._staging"
    merged.write.mode(SaveMode.Overwrite).parquet(staging)
    // the staging files were just written from `merged`: declare its
    // schema rather than infer it again
    write(spark.read.schema(merged.schema).parquet(staging))
    val sp = new Path(staging)
    fsOf(spark, sp).delete(sp, true)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IOException(s"rename $from -> $to failed")

  /** A table's directory and its two siblings, `._staging` (every
    * stage step's output) and `._old` (a swap's).
    */
  private def swapPaths(spark: SparkSession,
      path: String): (FileSystem, Path, Path, Path) = {
    val target = new Path(path)
    (fsOf(spark, target), target, new Path(s"$path._staging"),
      new Path(s"$path._old"))
  }

  /** Writes `df` as one file to `<path>._staging` in one single-task
    * job, replacing whatever a dead or failed writer left there: a
    * staged write that never committed is never committed later, except
    * a first K3 write that [[recoverSwap]] restores.
    */
  private def writeStaged(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path._staging")

  /** Commits an append staged in `<path>._staging`: renames its data
    * file into `<path>`, made on a first write, then deletes the staging
    * directory. The one rename is the commit: a crash before it leaves
    * the table as it was, and one after it leaves only an empty
    * `._staging`, which the next stage deletes. A file whose footer
    * counts no rows (every id of the batch was stored already) adds
    * nothing and is not renamed.
    */
  private def moveIn(spark: SparkSession, path: String): Unit = {
    val (fs, target, staging, _) = swapPaths(spark, path)
    fs.mkdirs(target)
    fs.listStatus(staging)
      .filter(f => !hidden(f.getPath.getName) &&
        footer(spark, f).getBlocks.asScala.exists(_.getRowCount > 0))
      .foreach(f => rename(fs, f.getPath, new Path(target, f.getPath.getName)))
    fs.delete(staging, true)
  }

  /** Commits a table rewrite staged in `<path>._staging`: moves a live
    * `<path>` to `<path>._old`, renames `._staging` to `<path>`, then
    * deletes `._old`. A first write is the one rename. No step clears
    * the table before its successor is complete on disk: a crash leaves
    * a state [[recoverSwap]] repairs.
    */
  private def swapIn(spark: SparkSession, path: String): Unit = {
    val (fs, target, staging, old) = swapPaths(spark, path)
    if (fs.exists(target)) rename(fs, target, old)
    rename(fs, staging, target)
    fs.delete(old, true)
  }

  /** Repairs a [[swapIn]] that a crash interrupted, and returns the
    * table's first data file after the repair. When `<path>` holds no
    * data file, the table is restored from `._staging` if its write
    * completed (it holds `_SUCCESS`: the crash came after the staging
    * write), else from `._old` (the crash came between the renames).
    * Any `._old` or `._staging` left over is then deleted: a staging
    * copy beside a live table is an upsert that never committed. The
    * table is listed once, and again only after a restore.
    */
  private def recoverSwap(spark: SparkSession,
      path: String): Option[LocatedFileStatus] = {
    val (fs, target, staging, old) = swapPaths(spark, path)
    val live = firstDataFile(spark, path).orElse {
      val from =
        if (fs.exists(new Path(staging, "_SUCCESS"))) Some(staging)
        else Some(old).filter(fs.exists)
      from.flatMap { f =>
        fs.delete(target, true)
        rename(fs, f, target)
        firstDataFile(spark, path)
      }
    }
    Seq(staging, old).foreach(fs.delete(_, true))
    live
  }

  /** The one conflict policy of every keyed rewrite — replace on key,
    * null-safe: stored rows whose key matches a row of `keys` are
    * dropped by a `<=>` left-anti join (a NULL key component matches a
    * NULL, so a NULL-keyed row is replaced, never duplicated), then the
    * `upserts` are appended by name. `unionByName` is also the schema
    * check: it fails when the stored columns differ from the batch's.
    */
  private def replaceOnKey(stored: DataFrame, keys: DataFrame,
      upserts: DataFrame, keyCols: Seq[String]): DataFrame =
    stored.join(keys, keyCols.map(k => stored(k) <=> keys(k)).reduce(_ && _),
        "left_anti")
      .unionByName(upserts)

  /** A write staged in `<table>._staging` and not committed yet:
    * [[commit]] publishes it by rename ([[moveIn]] for an append,
    * [[swapIn]] for the stats table), [[discard]] deletes it and leaves
    * the table as it was.
    */
  final class Staged private[sink] (spark: SparkSession, path: String,
      publish: (SparkSession, String) => Unit) {
    def commit(): Unit = publish(spark, path)
    def discard(): Unit = {
      val (fs, _, staging, _) = swapPaths(spark, path)
      fs.delete(staging, true)
    }
  }

  /** K3 — upsert daily stats on PK (subreddit, date), the parquet
    * equivalent of the reference's `INSERT OR REPLACE`
    * (reference script.py:264-280): [[stageStats]], then commit.
    * Re-running the same day is idempotent — the reference's observable
    * PK-replace semantics.
    */
  def upsertStats(batch: DataFrame, spark: SparkSession, warehouse: String): Unit =
    stageStats(batch, spark, warehouse).commit()

  /** K3's stage step: replace on key, null-safe ([[replaceOnKey]]), and
    * write the merged table as one file to `<path>._staging`
    * ([[writeStaged]]); a first write stages the batch itself. The batch
    * holds at most one row per key, as `Pipeline.dailyStats` and
    * `StreamingStats.dailyEventStats` do by grouping on it. Nothing is
    * visible until the returned [[Staged]] commits ([[swapIn]]).
    *
    * Every call first repairs a swap a crash interrupted
    * ([[recoverSwap]]), so a failure at any step loses no committed
    * row. The stored table is read with the schema of one data file's
    * footer ([[footerSchema]]); `unionByName` still fails when its
    * columns differ from the batch's.
    *
    * Rewriting the whole table is O(table); [[upsertStatsPartitioned]]
    * is the layout that rewrites only the batch's date partitions.
    */
  def stageStats(batch: DataFrame, spark: SparkSession,
      warehouse: String): Staged = {
    val path = s"$warehouse/subreddit_stats"
    val merged = recoverSwap(spark, path).fold(batch)(file =>
      replaceOnKey(spark.read.schema(footerSchema(spark, file)).parquet(path),
        batch, batch, Seq("subreddit", "date")))
    writeStaged(merged, path)
    new Staged(spark, path, swapIn)
  }

  /** The 100 TB layout of [[upsertStats]]: the stats table partitioned
    * by `date`, merged on (subreddit, date) by [[mergeInto]], so a batch
    * rewrites ONLY its own date partitions; the others keep their files
    * byte-identical (pinned by LoadPipelineSpec).
    */
  def upsertStatsPartitioned(batch: DataFrame, spark: SparkSession,
      warehouse: String): Unit =
    mergeInto(spark, s"$warehouse/subreddit_stats_by_date", batch,
      Seq("subreddit", "date"), "date")

  /** General MERGE over a `partitionCol`-partitioned parquet table —
    * the library-API form of `MERGE INTO target USING source ON key`
    * (the SQL form needs a transactional table format, which this env
    * can't ship; the partition-scoped rewrite below is the same
    * execution shape Delta/Iceberg plan for partition-aligned merges):
    *
    *  - source rows whose `opCol` equals "delete" remove matching
    *    target rows (WHEN MATCHED AND op='delete' THEN DELETE);
    *  - every other source row updates its match or inserts
    *    (WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT);
    *  - ONLY partitions named by the source rewrite: the target scan
    *    statically prunes to the source's distinct partition values
    *    (driver traffic is partition ids, never data), survivors come
    *    from the null-safe key anti-join of [[replaceOnKey]] on
    *    `keyCols` (a NULL key component matches a NULL), and the staged
    *    result writes back with dynamic partition overwrite — untouched
    *    partitions stay byte-identical (spec-pinned);
    *  - a partition whose rows are ALL deleted vanishes: dynamic
    *    overwrite cannot rewrite an empty partition, so emptied dirty
    *    partition directories are removed explicitly (the classic
    *    dynamic-overwrite delete pitfall, handled not documented).
    *
    * Source must not contain duplicate keys (the upsert contract);
    * `source` carries the full target schema for upserts.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], partitionCol: String,
      opCol: Option[String] = None): Unit = {
    val upserts = opCol.map(c => source.filter(col(c) =!= "delete").drop(c))
      .getOrElse(source)
    val allKeys = opCol.map(c => source.drop(c)).getOrElse(source)
      .select(keyCols.map(col): _*)
    if (!tableExists(spark, path)) {
      upserts.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCol).parquet(path)
      return
    }
    val dirtyVals = source.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSeq
    // isin never matches NULL (three-valued logic): the null partition
    // needs its own isNull branch or its survivors are silently lost
    val (nullDirty, valDirty) = dirtyVals.partition(_ == null)
    val dirtyPred = {
      val vals = if (valDirty.nonEmpty) col(partitionCol).isin(valDirty: _*)
        else lit(false)
      if (nullDirty.nonEmpty) vals || col(partitionCol).isNull else vals
    }
    val existing = spark.read.parquet(path)
      .filter(dirtyPred)
      .select(upserts.schema.fields
        .map(f => col(f.name).cast(f.dataType)): _*)
    val merged = replaceOnKey(existing, allKeys, upserts, keyCols)
    // partitions all of whose rows were deleted won't appear in the
    // dynamic overwrite output — collect them for explicit removal
    val liveDirty = merged.select(col(partitionCol)).distinct()
      .collect().map(_.get(0)).toSet
    val emptied = dirtyVals.filterNot(liveDirty)
    stageThenRewrite(merged, spark, path)(
      _.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partitionCol)
        .parquet(path))
    val fs = fsOf(spark, new Path(path))
    emptied.foreach { v =>
      // a NULL partition value lives under the Hive default-partition
      // directory name, not "null"
      val dirName =
        if (v == null) org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(String.valueOf(v))
      fs.delete(new Path(s"$path/$partitionCol=$dirName"), true)
    }
  }

  /** K4 — the `post_performance` view (reference analysis.sql:173-183):
    * left-closed tiering CASE (distinct from T7's bins — do not unify,
    * §7.4.2) + the reference's only window function, RANK per
    * subreddit. Registers the view and returns its frame.
    */
  def createPerformanceView(spark: SparkSession, posts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("subreddit")).orderBy(col("score").desc)
    val v = posts.select(col("id"), col("subreddit"), col("score"),
      when(col("score") >= 1000, "Viral")
        .when(col("score") >= 100, "Popular")
        .when(col("score") >= 10, "Good")
        .otherwise("Low").as("performance_tier"),
      rank().over(w).as("rank_in_subreddit"))
    v.createOrReplaceTempView("post_performance")
    v
  }
}
