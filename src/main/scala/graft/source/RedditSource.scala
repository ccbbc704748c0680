package graft.source

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Determinism
import graft.model.RedditModel
import graft.schema.Schemas

/** Source abstraction for the extract stage (SURVEY.md §2.1 S1/S2).
  *
  * The reference extracts via the live Reddit HTTP API
  * (reference script.py:112-185) — a driver-side fetch by nature (API
  * pagination is sequential and rate-limited, reference script.py:150).
  * The engine therefore models a source as "something that yields a
  * DataFrame of raw posts/comments"; where the rows come from (HTTP,
  * JSON dumps, fixtures) is a binding:
  *
  *  - [[JsonDumpSource]] — offline dumps with the declared schema
  *    enforced at read (the reproducible path; a live PRAW-equivalent
  *    HTTP client would produce exactly these rows).
  *  - [[FixtureSource]] — the deterministic fixture derivation
  *    ([[RedditModel]]), playing the role of the API for tests/bench.
  *  - [[HttpApiSource]] — the live-listing binding with the HTTP
  *    transport injected; production passes a real client, tests pass
  *    a canned fake (no client library exists in this environment).
  *
  * The two offline bindings serve a list of posts' comments with one
  * read of their comment table ([[RedditSource.firstComments]]); their
  * per-post `fetchComments` is its one-post case.
  */
trait RedditSource {

  /** S1: up to `limit` raw posts of one subreddit, sort ∈ {hot, new,
    * top}. Columns = the 15 extracted fields (reference script.py:131-147).
    * The listing must stay bounded by `limit`: the pipeline collects it
    * to the driver in one action (`Pipeline.extracted`).
    */
  def fetchPosts(spark: SparkSession, subreddit: String, limit: Int,
      sort: String): DataFrame

  /** S2: up to `limit` raw comments of one post
    * (reference script.py:159-185).
    */
  def fetchComments(spark: SparkSession, postId: String, limit: Int): DataFrame

  /** S2 over a list of posts: up to `limit` raw comments of every post
    * in `postIds`, as one frame. The default is the API's shape: one
    * [[fetchComments]] per post, each collected inside its own
    * fail-soft guard (a post whose fetch fails, eagerly or at the
    * action, is logged and skipped), returned as one local relation.
    * The file-backed bindings override it with one read of their
    * comment table.
    */
  def fetchCommentsOf(spark: SparkSession, postIds: Seq[String],
      limit: Int): DataFrame = {
    val fetched = postIds.flatMap { postId =>
      Try {
        val c = fetchComments(spark, postId, limit)
        (c.schema, c.collect())
      } match {
        case Success(r) => Some(r)
        case Failure(e) =>
          Console.err.println(s"[source] comments for $postId failed: $e")
          None
      }
    }
    fetched.headOption.fold(spark.emptyDataFrame) { case (schema, _) =>
      spark.createDataFrame(fetched.flatMap(_._2).asJava, schema)
    }
  }
}

private object RedditSource {

  /** The offline listing of S1: `raw` in `sort` order, id-tiebroken,
    * cut to `limit` rows. "hot" has no offline definition; engagement
    * is the stand-in.
    */
  def listing(raw: DataFrame, sort: String, limit: Int): DataFrame = {
    val key = sort match {
      case "new" => col("created_utc")
      case "top" => col("score")
      case _ => col("num_comments")
    }
    raw.orderBy(key.desc, col("id")).limit(limit)
  }

  /** The offline cut of S2 over a comment table: the rows of the posts
    * in `postIds` that have a body (P9 guard), collected in one job,
    * then the first `limit` of each post by `id`, cut on the driver (the
    * reference cuts `comments.list()[:limit]` on the client too,
    * reference script.py:167) and returned as a local relation. The ids
    * are compared in `post_id`'s own type ([[typedIds]]), so the filter
    * reaches the scan.
    */
  def firstComments(comments: DataFrame, postIds: Seq[String],
      limit: Int): DataFrame = {
    val schema = comments.schema
    val ids = typedIds(postIds, schema("post_id").dataType,
      comments.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
    val rows = comments.filter(col("post_id").isin(ids: _*) &&
      col("body").isNotNull).collect().toSeq
    val (post, id) = (schema.fieldIndex("post_id"), schema.fieldIndex("id"))
    val first = rows.sortBy(r => Option(r.get(id)))(
        Ordering.Option(Determinism.sparkAscending))
      .groupBy(_.get(post)).values.flatMap(_.take(limit)).toSeq
    comments.sparkSession.createDataFrame(first.asJava, schema)
  }

  /** `ids` as values of `post_id`'s type `dt`, each kept only when the
    * cast back to a string renders it as the same string. An id that is
    * not the canonical rendering of a value of `dt` ("007", "+7" or
    * "abc" for a bigint) can never equal `cast(post_id as string)`, so
    * it is dropped rather than cast: under ANSI the cast would throw.
    */
  private def typedIds(ids: Seq[String], dt: DataType,
      timeZone: String): Seq[Any] = {
    def cast(v: Any, from: DataType, to: DataType, mode: EvalMode.Value) =
      Cast(Literal(v, from), to, Some(timeZone), mode).eval()
    ids.flatMap { s =>
      val str = UTF8String.fromString(s)
      Option(cast(str, StringType, dt, EvalMode.TRY))
        .filter(v => cast(v, dt, StringType, EvalMode.LEGACY) == str)
        .map(CatalystTypeConverters.convertToScala(_, dt))
    }
  }
}

/** Reads newline-JSON dumps (one file/dir per table) with the declared
  * schema — malformed records become nulls rather than schema drift.
  */
class JsonDumpSource(postsPath: String, commentsPath: String)
    extends RedditSource {

  private def rawPostFields = Schemas.rawPosts.fields.map(_.name)

  override def fetchPosts(spark: SparkSession, subreddit: String, limit: Int,
      sort: String): DataFrame = {
    val raw = spark.read
      .schema(Schemas.rawPosts)
      .json(postsPath)
      .filter(col("subreddit") === subreddit)
    RedditSource.listing(raw, sort, limit)
      .select(rawPostFields.map(col): _*)
  }

  override def fetchComments(spark: SparkSession, postId: String,
      limit: Int): DataFrame =
    fetchCommentsOf(spark, Seq(postId), limit)

  override def fetchCommentsOf(spark: SparkSession, postIds: Seq[String],
      limit: Int): DataFrame =
    RedditSource.firstComments(spark.read
      .schema(org.apache.spark.sql.types.StructType(Schemas.comments.fields.dropRight(1)))
      .json(commentsPath), postIds, limit)
}

/** The deterministic fixture "API" over the shared TPC-H-ish parquet. */
class FixtureSource(sfDir: String) extends RedditSource {

  override def fetchPosts(spark: SparkSession, subreddit: String, limit: Int,
      sort: String): DataFrame =
    RedditSource.listing(RedditModel.rawPosts(spark, sfDir)
      .filter(col("subreddit") === subreddit), sort, limit)

  override def fetchComments(spark: SparkSession, postId: String,
      limit: Int): DataFrame =
    fetchCommentsOf(spark, Seq(postId), limit)

  override def fetchCommentsOf(spark: SparkSession, postIds: Seq[String],
      limit: Int): DataFrame =
    RedditSource.firstComments(RedditModel.comments(spark, sfDir), postIds,
      limit)
}
