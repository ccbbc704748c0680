package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{DotProduct, KmArgmin, KmArgminAnn}
import graft.functions.Determinism.{dblSql, r6, r6Sql}
import graft.operators.Dedup.embeddings

/** Similarity search (approximate nearest neighbor) over the
  * `embeddings` fixture (vec_id, embedding float[64], label).
  *
  * Two tiers, as a large-scale pipeline needs both:
  *  - [[simBruteforceTopk]] — exact cosine top-k for a fixed query set.
  *    The correctness baseline; cost is O(|queries| × corpus), fine for
  *    few queries, not for knn-join workloads.
  *  - [[simLshAnn]] — random-hyperplane LSH: 6 sign bits bucket the
  *    corpus (~1/64 of the space per bucket), queries probe their own
  *    bucket plus all hamming-1 neighbors (7 of 64 buckets), and only
  *    candidates pay the exact cosine. At 100 TB the bucket column is
  *    a partition key: the probe join is an equi-join on bucket, so
  *    each query shuffles to ≤7 partitions instead of broadcasting the
  *    corpus.
  *
  * All dot products run through the codegen'd
  * [[graft.functions.DotProduct]]; hyperplane components are dyadic
  * rationals (k/1024 with k from a fixed LCG) embedded literally in
  * both the Spark plan and the oracle SQL, so bucket assignment is
  * bitwise-identical in both engines.
  */
object Similarity {

  /** Number of fixed query vectors (the lowest vec_ids). */
  val NQueries = 8

  /** Neighbors returned per query. */
  val TopK = 5

  /** LSH sign bits (2^6 = 64 buckets). */
  val NPlanes = 6

  val Dim = 64

  /** Deterministic hyperplane components: k/1024 with k ∈ [-512, 512)
    * from a 64-bit LCG (constants from Knuth's MMIX). Dyadic rationals
    * are exactly representable, so `lit(k/1024.0)` here and
    * `k / CAST(1024.0 AS DOUBLE)` in DuckDB are the same double.
    */
  val PlaneInts: Seq[Seq[Long]] = {
    var x = 42L
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11) % 1024) - 512
    }
    Seq.fill(NPlanes)(Seq.fill(Dim)(next()))
  }

  private def planes: Seq[Seq[Double]] = PlaneInts.map(_.map(_ / 1024.0))

  /** 6-bit LSH bucket of an `array<double>` column. */
  def bucket(v: Column): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(DotProduct.dot(v, typedlit(p)) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The (vec_id, v, nrm) embedding frame: doubles plus each vector's
    * squared norm through [[DotProduct]]'s fold — ONE copy for every
    * embedding operator on the Spark side.
    */
  private[graft] def base(spark: SparkSession, sfDir: String): DataFrame = {
    embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", DotProduct.dot(col("v"), col("v")))
  }

  // ------------------------------------------------------------------
  // sim_bruteforce_topk — exact cosine top-k for NQueries query vectors
  // ------------------------------------------------------------------

  def simBruteforceTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("vec_id"))
    q.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("c")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Oracle-side sequential dot product (same fold order as DotProduct). */
  private def dotSql(a: String, b: String): String =
    graft.functions.CrossHash.dotSql(a, b)

  lazy val simBruteforceTopkSql: String = s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
  WHERE vec_id < $NQueries
), scored AS (
  SELECT q.query_id, n.vec_id,
    ${dotSql("q.qv", "n.v")} / sqrt(q.qn * n.nrm) AS c
  FROM q JOIN n ON n.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id, c,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("c")} AS cosine
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  // ------------------------------------------------------------------
  // sim_lsh_ann — hyperplane-LSH bucketed ANN with hamming-1 probing
  // ------------------------------------------------------------------

  def simLshAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir).withColumn("bkt", bucket(col("v")))
    val probes = col("qb") +: (0 until NPlanes).map(j =>
      col("qb").bitwiseXOR(lit(1 << j)))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bkt").as("qb"))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(array(probes: _*)).as("bkt"))
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("vec_id"))
    q.join(e, Seq("bkt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("c")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val simLshAnnSql: String = {
    val planesSql = PlaneInts.map(_.mkString("[", ", ", "]"))
    val bucketSql = planesSql.zipWithIndex.map { case (p, j) =>
      val h = s"list_transform(CAST($p AS BIGINT[]), k -> k / CAST(1024.0 AS DOUBLE))"
      s"(CASE WHEN ${dotSql("v", h)} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val probeSelects = ("SELECT query_id, qv, qn, qb AS bkt FROM q" +:
      (0 until NPlanes).map(j =>
        s"SELECT query_id, qv, qn, xor(qb, ${1 << j}) AS bkt FROM q"))
      .mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm, $bucketSql AS bkt FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, bkt AS qb FROM n
  WHERE vec_id < $NQueries
), probes AS (
  $probeSelects
), scored AS (
  SELECT p.query_id, n.vec_id,
    ${dotSql("p.qv", "n.v")} / sqrt(p.qn * n.nrm) AS c
  FROM probes p JOIN n ON n.bkt = p.bkt AND n.vec_id <> p.query_id
), ranked AS (
  SELECT query_id, vec_id, c,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("c")} AS cosine
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank"""
  }

  // ------------------------------------------------------------------
  // sim_ivf_ann — inverted-file ANN (coarse quantizer + cell probing)
  // ------------------------------------------------------------------

  /** IVF cell count (coarse-quantizer centroids). At 100 TB pick
    * ~sqrt(corpus) cells; centroids stay a broadcast table either way.
    */
  val IvfCells = 16

  /** Cells probed per query (recall/cost dial, like LSH's hamming-1). */
  val IvfProbe = 4

  /** The other classic ANN family beside hyperplane LSH: an inverted
    * file. A small centroid table coarse-quantizes the corpus — every
    * vector is assigned to its best cell by cosine — and a query
    * probes only its [[IvfProbe]] nearest cells, paying exact cosine
    * on that fraction of the corpus.
    *
    * Centroid choice is a deterministic corpus sample (vec_ids
    * [NQueries, NQueries+IvfCells)) so both engines derive identical
    * cells; a k-means-trained centroid table plugs into the same plan
    * unchanged (it is data like any other — training is an offline
    * job, not part of the serving query).
    *
    * Scale shape: centroids broadcast (small by construction);
    * assignment is a map-side argmax folded by partial aggregation
    * (`max(struct(score, -cent_id))` — NO per-vector window shuffle);
    * the probe is an equi-join on cell id, so a query touches
    * IvfProbe/IvfCells of the corpus and the corpus is never
    * broadcast. The cell id doubles as the partition key of a
    * cell-clustered layout at rest.
    */
  def simIvfAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir)
    val cents = seedCents(e, NQueries, IvfCells)
    ivfServe(e, cents)
  }

  /** The IVF serving plan with the centroid table as an input: any
    * (cent_id, cv, cn) table — the deterministic sample
    * [[simIvfAnn]] uses for oracle parity, or [[simKmeans]]' trained
    * output — drives the identical plan (DedupSpec pins the
    * swap).
    */
  def ivfServe(e: DataFrame, cents: DataFrame,
      probe: Int = IvfProbe): DataFrame = {
    val assigned = ivfAssign(e, cents)
    val probes = ivfProbeList(e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), cents, probe)
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("vec_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("c")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Cell assignment: best cell per vector via partial-agg'd
    * lexicographic max — ties on score break to the LOWEST cent_id
    * (hence -cent_id). A map-side argmax fold, NO per-vector window
    * shuffle; the cell id is the partition key of a cell-clustered
    * layout at rest.
    */
  private def ivfAssign(e: DataFrame, cents: DataFrame): DataFrame = {
    // Row-local cosine argmax over the collected ≤k-row centroid
    // array ([[graft.functions.KmArgmin]] metric 1 — the
    // `max(struct(cs, -cent_id))` fold as one codegen'd loop): the
    // assignment pass is now map-side, where the old
    // crossJoin→groupBy(vec_id) shape shuffled every vector (with its
    // full v, for the first(v) carry-along) once per assignment
    // (guide §2.4). Same dot products, same tie-breaks — DedupSpec
    // pins equality with the declarative form.
    val centsArr = cents
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cn")))
        .as("cs"))
    val win = element_at(col("cs"), col("ci") + 1)
    e.crossJoin(broadcast(centsArr))
      .select(col("vec_id"), col("v"), col("nrm"), col("cs"),
        KmArgmin.argminIdx(col("v"), col("nrm"), col("cs"), 1).as("ci"))
      .filter(col("ci").isNotNull)
      .select(col("vec_id"), col("v"), col("nrm"),
        win.getField("cent_id").as("cell"))
  }

  /** Probe list: the `probe` best cells per query vector (query_id,
    * qv, qn, cell) — queries is any (query_id, qv, qn) table. With
    * `keepPr` the cell's probe RANK rides along, so a single
    * widest-probe stream can serve every narrower probe arm by
    * filtering `pr <= p` (the two-axis tuning grid's trick — cells
    * partition vectors, so each (query, vector) candidate carries
    * exactly one cell's rank).
    */
  private def ivfProbeList(queries: DataFrame, cents: DataFrame,
      probe: Int, keepPr: Boolean = false): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("cent_id"))
    val kept = Seq(col("query_id"), col("qv"), col("qn"),
      col("cent_id").as("cell")) ++
      (if (keepPr) Seq(col("pr")) else Nil)
    queries
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("qv"), col("qn"),
        (DotProduct.dot(col("qv"), col("cv")) /
          sqrt(col("qn") * col("cn"))).as("cs"), col("cent_id"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probe)
      .select(kept: _*)
  }

  /** Shared IVF oracle core (e → n → cents → scored → assigned), ONE
    * copy for the serving query and the nprobe sweep.
    */
  private lazy val ivfCoreCtesSql: String = s"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), ${seedsSql("cents", "n", NQueries, IvfCells)}, scored AS (
  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
    ${dotSql("n.v", "c.cv")} / sqrt(n.nrm * c.cn) AS cs
  FROM n CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, v, nrm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, cent_id) AS rn FROM scored) WHERE rn = 1
)"""

  /** The probe → candidate → rank tail for `probe` cells, emitting
    * `probes_<tag>`, `cand_<tag>`, `ranked_<tag>` CTEs. `scored` /
    * `assigned` name the upstream cosine-scoring CTEs so the same tail
    * serves the sampled-centroid core and the kmeans-trained one.
    */
  private def ivfServeTailSql(tag: String, probe: Int,
      scored: String = "scored", assigned: String = "assigned"): String = s"""
probes_$tag AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, cent_id) AS pr FROM $scored WHERE vec_id < $NQueries)
  WHERE pr <= $probe
), cand_$tag AS (
  SELECT p.query_id, a.vec_id,
    ${dotSql("p.qv", "a.v")} / sqrt(p.qn * a.nrm) AS c
  FROM probes_$tag p JOIN $assigned a ON a.cell = p.cell
    AND a.vec_id <> p.query_id
), ranked_$tag AS (
  SELECT query_id, vec_id, c,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank
  FROM cand_$tag
)"""

  /** Cosine scoring + best-cell assignment CTEs against an arbitrary
    * centroid CTE — the `scored`/`assigned` pair of [[ivfCoreCtesSql]]
    * parameterized so the trained-centroid audit reuses one copy.
    */
  private def ivfScoredAssignedSql(tag: String, cents: String): String =
    s"""scored_$tag AS (
  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
    ${dotSql("n.v", "c.cv")} / sqrt(n.nrm * c.cn) AS cs
  FROM n CROSS JOIN $cents c
), assigned_$tag AS (
  SELECT vec_id, v, nrm, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, cent_id) AS rn FROM scored_$tag) WHERE rn = 1
)"""

  lazy val simIvfAnnSql: String = s"""WITH $ivfCoreCtesSql, ${ivfServeTailSql("p", IvfProbe)}
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("c")} AS cosine
FROM ranked_p WHERE rank <= $TopK
ORDER BY query_id, rank"""

  // ------------------------------------------------------------------
  // sim_ivf_tuning — nprobe sensitivity sweep for the IVF index
  // ------------------------------------------------------------------

  /** Probe counts swept, cheap → exhaustive-ish. */
  val IvfTuneProbes: Seq[Int] = Seq(1, 2, 4, 8)

  /** The nprobe dial table for the IVF index — [[Dedup.ddLshTuning]]'s
    * vector-side sibling: per probe count, exact candidate volume
    * (rows paying full cosine), hits against the brute-force top-k
    * ground truth, recall@k, and the probed cell fraction (the cost
    * proxy at rest: an IVF layout scans probe/cells of the corpus).
    * ONE serving definition ([[ivfServe]]) runs every config; the
    * ground truth is the shipped [[simBruteforceTopk]].
    */
  def simIvfTuning(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir).cache()
    val cents = seedCents(e, NQueries, IvfCells)
    val bf = simBruteforceTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id")).cache()
    IvfTuneProbes.map { p =>
      val ann = ivfServe(e, cents, p)
        .select(col("query_id"), col("neighbor_id"))
      ann.join(bf, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(p).as("nprobe"),
          lit(NQueries).as("n_queries"),
          col("hits").cast("long").as("total_hits"),
          graft.functions.Determinism.r6(col("hits").cast("double") /
            lit((NQueries * TopK).toDouble)).as("recall_at_k"),
          graft.functions.Determinism.r6(
            lit(p).cast("double") / lit(IvfCells.toDouble))
            .as("cell_fraction"))
    }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
  }

  lazy val simIvfTuningSql: String = {
    val tails = IvfTuneProbes.map(p => ivfServeTailSql(s"t$p", p).trim)
    val arms = IvfTuneProbes.map { p =>
      s"""SELECT $p AS nprobe, $NQueries AS n_queries,
  (SELECT COUNT(*) FROM
    (SELECT query_id, vec_id AS neighbor_id FROM ranked_t$p
     WHERE rank <= $TopK) a
    JOIN bfp b ON b.query_id = a.query_id
      AND b.neighbor_id = a.neighbor_id) AS total_hits,
  ${r6Sql(s"""(CAST((SELECT COUNT(*) FROM
    (SELECT query_id, vec_id AS neighbor_id FROM ranked_t$p
     WHERE rank <= $TopK) a
    JOIN bfp b ON b.query_id = a.query_id
      AND b.neighbor_id = a.neighbor_id) AS DOUBLE) /
    ${(NQueries * TopK).toDouble})""")} AS recall_at_k,
  ${r6Sql(s"(CAST($p AS DOUBLE) / ${IvfCells.toDouble})")} AS cell_fraction"""
    }
    s"""WITH $ivfCoreCtesSql, ${tails.mkString(", ")}, bf AS (
  $simBruteforceTopkSql
), bfp AS (
  SELECT query_id, neighbor_id FROM bf
)
${arms.mkString("\nUNION ALL\n")}
ORDER BY nprobe"""
  }

  // ------------------------------------------------------------------
  // sim_ivf_trained — the nprobe sweep on kmeans-TRAINED centroids
  // ------------------------------------------------------------------

  /** [[simIvfTuning]]'s dial table re-measured with kmeans-TRAINED
    * centroids — the measurement behind SCALE.md's production-dial
    * claim that trained cells concentrate neighbors and lift recall at
    * the same probe fraction (until this query, claimed from the
    * literature; now a shipped, oracle-hashed number next to the
    * sampled-centroid table it should beat). Training is
    * [[simKmeans]]'s exact chain (same seeds, same [[KmIters]]
    * fixed-point Lloyd rounds — one definition per engine); serving is
    * the same [[ivfServe]] the sampled index uses; ground truth is the
    * same [[simBruteforceTopk]]. The only variable is the centroid
    * table, so the recall delta IS the training effect.
    *
    * n_cells is reported because Lloyd's can retire empty cells
    * (k shrinks); cell_fraction divides by the LIVE count via a 1-row
    * broadcast anchor, never a driver collect.
    *
    * Scale shape: training per round is one ≤k-row broadcast + a
    * map-side argmin + a k×dim-row component shuffle (corpus-size
    * independent past the scan); the sweep then reuses one cached
    * assignment per probe config exactly like [[simIvfTuning]].
    */
  def simIvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir).cache()
    val cents = trainedCents(e)
    val nCells = cents.agg(count(lit(1)).as("nc"))
    val bf = simBruteforceTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id")).cache()
    IvfTuneProbes.map { p =>
      val ann = ivfServe(e, cents, p)
        .select(col("query_id"), col("neighbor_id"))
      ann.join(bf, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("hits"))
        .crossJoin(broadcast(nCells))
        .select(lit(p).as("nprobe"),
          lit(NQueries).as("n_queries"),
          col("hits").cast("long").as("total_hits"),
          graft.functions.Determinism.r6(col("hits").cast("double") /
            lit((NQueries * TopK).toDouble)).as("recall_at_k"),
          col("nc").cast("long").as("n_cells"),
          graft.functions.Determinism.r6(
            lit(p).cast("double") / col("nc").cast("double"))
            .as("cell_fraction"))
    }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
  }

  // LAZY: this val sits textually before KmIters' declaration, and an
  // eager init would read KmIters = 0 and emit zero Lloyd rounds (the
  // round-11 Filters object-init lesson, intra-object edition).
  lazy val simIvfTrainedSql: String = {
    val tails = IvfTuneProbes.map(p =>
      ivfServeTailSql(s"k$p", p, "scored_k", "assigned_k").trim)
    val arms = IvfTuneProbes.map { p =>
      val hits = s"""(SELECT COUNT(*) FROM
    (SELECT query_id, vec_id AS neighbor_id FROM ranked_k$p
     WHERE rank <= $TopK) a
    JOIN bfp b ON b.query_id = a.query_id
      AND b.neighbor_id = a.neighbor_id)"""
      s"""SELECT $p AS nprobe, $NQueries AS n_queries,
  $hits AS total_hits,
  ${r6Sql(s"(CAST($hits AS DOUBLE) / ${(NQueries * TopK).toDouble})")}
    AS recall_at_k,
  nc AS n_cells,
  ${r6Sql(s"(CAST($p AS DOUBLE) / CAST(nc AS DOUBLE))")} AS cell_fraction
FROM ncells"""
    }
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), ${seedsSql("seeds", "n", NQueries, IvfCells)},${lloydSql("", "seeds",
      KmIters)},
${ivfScoredAssignedSql("k", s"c$KmIters")},
${tails.mkString(", ")}, bf AS (
  $simBruteforceTopkSql
), bfp AS (
  SELECT query_id, neighbor_id FROM bf
), ncells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM c$KmIters
)
${arms.mkString("\nUNION ALL\n")}
ORDER BY nprobe"""
  }

  // ------------------------------------------------------------------
  // sim_quantize — int8 vector quantization (ANN memory reduction)
  // ------------------------------------------------------------------

  /** Symmetric per-vector int8 quantization: q_i = floor(x_i·127/s +
    * 0.5) with s = max|x_i| — 4× memory reduction before indexing,
    * with the reconstruction error surfaced per vector. `floor(x+0.5)`
    * instead of round(): both engines' floor is exact IEEE, so the
    * quantized codes match bitwise (round() implementations differ at
    * half-way ties).
    *
    * Outputs a deterministic code checksum (Σ q_i·(i+1)) and the
    * reconstruction MSE rather than 64 code columns.
    */
  def simQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    // the whole per-vector bundle is ONE primitive pass
    // (graft_quantize_stats) — the declarative six-HOF chain it is
    // bit-identical to lives in SimilaritySpec as the pinned twin
    embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.QuantizeStats
          .stats(col("embedding").cast("array<double>")).as("st"))
      .select(
        col("vec_id"),
        r6(col("st.scale")).as("scale"),
        col("st.q_checksum").as("q_checksum"),
        r6(col("st.recon_mse")).as("recon_mse"))
      .orderBy(col("vec_id"))
  }

  lazy val simQuantizeSql: String = {
    val listSum = (body: String) =>
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        $body), (acc, x) -> acc + x)"""
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), sc AS (
  SELECT vec_id, v,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(v, x -> abs(x))), (acc, x) -> greatest(acc, x)) AS s
  FROM e
), q AS (
  SELECT vec_id, v, s,
    list_transform(v, x ->
      CAST(floor(x * CAST(127.0 AS DOUBLE) / s + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS qv
  FROM sc
)
SELECT vec_id,
  ${r6Sql("s")} AS scale,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
    list_transform(range(1, len(qv) + 1), i -> qv[i] * i)),
    (acc, x) -> acc + x) AS BIGINT) AS q_checksum,
  ${r6Sql(s"""(${listSum(
      """list_transform(range(1, len(qv) + 1), i ->
        (CAST(qv[i] AS DOUBLE) * s / CAST(127.0 AS DOUBLE) - v[i]) *
        (CAST(qv[i] AS DOUBLE) * s / CAST(127.0 AS DOUBLE) - v[i]))""")}
    / len(v))""")} AS recon_mse
FROM q ORDER BY vec_id"""
  }

  // ------------------------------------------------------------------
  // sim_kmeans — Lloyd's k-means centroid training (IVF's offline job)
  // ------------------------------------------------------------------

  /** Lloyd iterations to run (unrolled in both engines). */
  val KmIters = 2

  /** Fixed-point scale for centroid-mean accumulation: component sums
    * are accumulated as floor(x·2^24 + 0.5) BIGINTs, so the mean is an
    * exact integer sum divided once — bitwise identical under ANY
    * partitioning, where a naive double sum drifts with merge order
    * (the same trick as the cents sums in
    * [[graft.streaming.StreamingStats]]). Headroom: |x| ≤ 1 ⇒ a cell
    * of 2^39 vectors stays inside int64.
    */
  val KmFp: Long = 1L << 24

  /** The seed centroid table (cent_id, cv, cn): the vectors of a
    * (vec_id, v, nrm) frame with vec_ids [lo, lo+k) — a deterministic
    * corpus sample, so both engines start from identical centroids
    * (the oracle twin is [[seedsSql]]).
    */
  private[graft] def seedCents(vecs: DataFrame, lo: Int, k: Int): DataFrame =
    vecs.filter(col("vec_id") >= lo && col("vec_id") < lo + k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))

  /** Lloyd's k-means: `iters` rounds of `assign` then [[kmUpdate]]
    * from `seeds`, returning the trained (cent_id, cv, cn) table — the
    * ONE training loop on the Spark side (IVF cells, PQ codebooks,
    * SemDeDup cells). `assign` is [[kmAssign]] or a two-level
    * [[kmAssignAnn]]; the oracle twin is [[lloydSql]].
    */
  private[graft] def lloyd(vecs: DataFrame, seeds: DataFrame, iters: Int,
      assign: (DataFrame, DataFrame) => DataFrame = kmAssign): DataFrame =
    (1 to iters).foldLeft(seeds)((cents, _) => kmUpdate(assign(vecs, cents)))

  /** Kmeans-TRAINED IVF centroid table: [[KmIters]] Lloyd rounds from
    * the [[IvfCells]] deterministic seeds (fixed-point integer
    * component sums, bitwise-stable under any partitioning). Pinned
    * with an eager localCheckpoint: the ≤k-row table is broadcast from
    * several consumers, and an unpinned plan re-runs the whole Lloyd
    * chain per reference (measured 4.7 s → 3.7 s at sf0.1 on
    * sim_ivf_trained). ONE copy for k-means training itself
    * ([[simKmeans]]), the trained-dial sweep and the residual-encoded
    * IVF+PQ tier.
    */
  private def trainedCents(e: DataFrame): DataFrame =
    lloyd(e, seedCents(e, NQueries, IvfCells), KmIters).localCheckpoint(true)

  /** One assignment pass: every vector to its nearest centroid by
    * squared Euclidean distance, decomposed as |x|² − 2·x·c + |c|² so
    * all three terms run through the codegen'd [[DotProduct]] with a
    * fixed fold order. The argmin is a partial-aggregable
    * `min(struct(dist, cent_id))` — ties break to the lowest cent_id,
    * and NO per-vector window shuffle exists (same shape as
    * [[simIvfAnn]]'s assignment).
    */
  def kmAssign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    // Row-local argmin over the collected ≤k-row centroid array
    // ([[graft.functions.KmArgmin]] metric 0 — the
    // `min(struct(dist, cent_id))` fold as one codegen'd loop): the
    // assignment pass is map-side, where the old crossJoin→
    // groupBy(vec_id) shape shuffled every vector (carrying its full
    // v) once PER ASSIGNMENT — one corpus-wide full-width Exchange
    // per Lloyd round per training chain at 100 TB (guide §2.4).
    // The winner's dist re-derives through the same nrm − 2·dot + cn
    // association the loop scored it with, so values are bitwise
    // identical to the declarative form (DedupSpec pins it; the
    // oracle twin is unchanged).
    val centsArr = cents
      .agg(collect_list(struct(col("cent_id"), col("cv"), col("cn")))
        .as("cs"))
    val win = element_at(col("cs"), col("ci") + 1)
    vecs.crossJoin(broadcast(centsArr))
      .select(col("vec_id"), col("v"), col("nrm"), col("cs"),
        KmArgmin.argminIdx(col("v"), col("nrm"), col("cs"), 0).as("ci"))
      .filter(col("ci").isNotNull)
      .select(col("vec_id"), col("v"), col("nrm"),
        win.getField("cent_id").as("cell"),
        (col("nrm") - lit(2.0) * DotProduct.dot(col("v"),
          win.getField("cv")) + win.getField("cn")).as("dist"))
  }

  /** One update pass: per-cell component means via posexplode +
    * fixed-point integer sums (see [[KmFp]]); the component rows
    * partial-aggregate to one row per (cell, pos) before shuffling,
    * and the final array is rebuilt with an order-pinned
    * `array_sort(collect_list(struct(pos, …)))`. Cells that lost every
    * vector drop out (standard Lloyd's; k shrinks).
    */
  def kmUpdate(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(floor(col("x") * KmFp + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("cell"), struct(col("pos"),
        (col("s").cast("double") / (col("n").cast("double") * KmFp))
          .as("c")).as("pc"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(col("pc"))).as("pcs"))
      .select(col("cell").as("cent_id"),
        transform(col("pcs"), s => s.getField("c")).as("cv"))
      .withColumn("cn", DotProduct.dot(col("cv"), col("cv")))

  /** Two-level (coarse-quantized) variant of [[kmAssign]] — the
    * assignment pass web-scale SemDeDup needs once k grows ∝ corpus: a
    * vector scores the `nCoarse` coarse anchors, keeps its `probe`
    * nearest coarse groups, and runs the exact argmin only over the
    * fine centroids assigned to those groups — per-vector cost drops
    * from k dot products to nCoarse + probe·(k/nCoarse), i.e. ~2·√k at
    * the nCoarse ≈ √k, probe ≈ small dial.
    *
    * Determinism: coarse anchors are the `nCoarse` lowest-cent_id fine
    * centroids (cent_ids are the seed vec_ids, stable across Lloyd
    * rounds — a k-row TakeOrdered, never a window); every argmin is
    * the same partial-aggregable `min(struct(dist, id))` fold as
    * [[kmAssign]] (ties to the lowest id). EXHAUSTIVE CONTRACT: at
    * probe ≥ nCoarse every fine centroid is a candidate exactly once
    * (each belongs to exactly one coarse group), so the output is
    * IDENTICAL to [[kmAssign]] — the [[simLabelKnnAnn]] pattern, which
    * is what lets [[graft.operators.Dedup.ddSemDedupAnn]] share the
    * exact form's oracle verbatim while the probed dial is the
    * production posture.
    *
    * Scale shape: anchors and the grouped centroid table are ≤k-row
    * broadcasts, and BOTH levels of the argmin run row-locally inside
    * one codegen'd loop ([[graft.functions.KmArgminAnn]] — round 19;
    * the declarative form paid TWO full-width n-row shuffles per
    * assignment, the top-probe collect_list groupBy and the
    * post-explode argmin groupBy). The whole assignment pass is now
    * map-side — zero corpus-keyed exchanges — while the per-vector
    * dot-product count keeps the k → ~2√k drop (nCoarse anchor scores
    * + probe·(k/nCoarse) candidate scores per vector).
    */
  def kmAssignAnn(vecs: DataFrame, cents: DataFrame, nCoarse: Int,
      probe: Int): DataFrame = {
    val anchors = cents.orderBy(col("cent_id")).limit(nCoarse)
      .select(col("cent_id").as("anchor_id"), col("cv").as("av"),
        col("cn").as("an"))
    val anchorsArr = anchors
      .agg(collect_list(struct(col("anchor_id"), col("av"), col("an")))
        .as("ancs"))
    // per-centroid coarse-group assignment — the same row-local
    // euclid argmin ([[KmArgmin]] metric 0 ≡ min(struct(ad,
    // anchor_id))), over the ≤nCoarse anchor array
    val gwin = element_at(col("ancs"), col("ai") + 1)
    val grouped = cents.crossJoin(broadcast(anchorsArr))
      .select(col("cent_id"), col("cv"), col("cn"), col("ancs"),
        KmArgmin.argminIdx(col("cv"), col("cn"), col("ancs"), 0)
          .as("ai"))
      .filter(col("ai").isNotNull)
      .select(gwin.getField("anchor_id").as("grp"), col("cent_id"),
        col("cv"), col("cn"))
    val groupedArr = grouped
      .agg(collect_list(
        struct(col("grp"), col("cent_id"), col("cv"), col("cn")))
        .as("gs"))
    val vwin = element_at(col("gs"), col("gi") + 1)
    vecs.crossJoin(broadcast(anchorsArr)).crossJoin(broadcast(groupedArr))
      .select(col("vec_id"), col("v"), col("nrm"), col("gs"),
        KmArgminAnn.argminIdx(col("v"), col("nrm"), col("ancs"),
          col("gs"), probe).as("gi"))
      .filter(col("gi").isNotNull)
      .select(col("vec_id"), col("v"), col("nrm"),
        vwin.getField("cent_id").as("cell"),
        (col("nrm") - lit(2.0) * DotProduct.dot(col("v"),
          vwin.getField("cv")) + vwin.getField("cn")).as("dist"))
  }

  /** The training job SCALE.md's IVF note defers to: [[trainedCents]]
    * ([[KmIters]] Lloyd rounds from the same deterministic seed sample
    * [[simIvfAnn]] serves from), reported as per-centroid cell sizes,
    * inertia (fixed-point-summed, parallelism-stable), and an
    * order-pinned component checksum. The trained table feeds
    * [[ivfServe]] unchanged — DedupSpec pins that plug-in.
    *
    * Scale shape per round: one broadcast of the (≤k-row) centroid
    * table, one map-side assignment with a partial-agg argmin, one
    * component aggregation whose shuffle is k × dim rows regardless of
    * corpus size. The trained table is pinned once (one eager
    * localCheckpoint); `KmIters` controls plan depth.
    */
  def simKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = base(spark, sfDir)
    val cents = trainedCents(vecs)
    val fin = kmAssign(vecs, cents)
    val checksum = aggregate(
      zip_with(col("cv"),
        sequence(lit(1), size(col("cv"))).cast("array<double>"),
        (c, i) => c * i),
      lit(0.0), (acc, x) => acc + x)
    fin.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(floor(col("dist") * 1000000.0 + lit(0.5)).cast("long"))
          .as("ifp"))
      .select(col("cell").as("cent_id"), col("n_assigned"), col("ifp"))
      .join(cents, Seq("cent_id"))
      .select(col("cent_id"), col("n_assigned"),
        r6(col("ifp").cast("double") / 1000000.0).as("inertia"),
        r6(checksum).as("cent_checksum"))
      .orderBy(col("cent_id"))
  }

  // ------------------------------------------------------------------
  // sim_recall — ANN index-quality evaluation (recall@k vs brute force)
  // ------------------------------------------------------------------

  /** Recall@[[TopK]] of each ANN index against the exact brute-force
    * neighbors — the measurement a pipeline runs before trusting an
    * index (SCALE.md's recall numbers, as a reproducible query
    * instead of a hand calculation). Per (index, query): how many of
    * the true top-k the index returned.
    *
    * Scale shape: the component queries' own shapes (the ground truth
    * is |queries| × corpus by contract — an evaluation runs on a query
    * SAMPLE, not the corpus); the comparison itself is a tiny
    * equi-join on (query, neighbor). Zero-hit queries survive via the
    * left join — dropping them would overstate recall.
    */
  def simRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val bf = simBruteforceTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val queries = bf.select(col("query_id")).distinct()
    def recallOf(name: String, ann: DataFrame): DataFrame = {
      val hits = ann.select(col("query_id"), col("neighbor_id"))
        .join(bf, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      queries.join(hits, Seq("query_id"), "left")
        .select(lit(name).as("index_name"), col("query_id"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          r6(coalesce(col("hits"), lit(0L)).cast("double") / TopK)
            .as("recall"))
    }
    recallOf("ivf", simIvfAnn(spark, sfDir))
      .unionByName(recallOf("lsh", simLshAnn(spark, sfDir)))
      .orderBy(col("index_name"), col("query_id"))
  }

  lazy val simRecallSql: String = {
    val arm = (name: String, cte: String) => s"""
SELECT '$name' AS index_name, q.query_id,
  COALESCE(h.hits, 0) AS hits,
  ${r6Sql(s"(CAST(COALESCE(h.hits, 0) AS DOUBLE) / $TopK)")} AS recall
FROM q LEFT JOIN hits_$cte h ON h.query_id = q.query_id"""
    s"""WITH bf AS (
  $simBruteforceTopkSql
), lsh AS (
  $simLshAnnSql
), ivf AS (
  $simIvfAnnSql
), q AS (
  SELECT DISTINCT query_id FROM bf
), hits_lsh AS (
  SELECT a.query_id, COUNT(*) AS hits
  FROM lsh a JOIN bf b ON b.query_id = a.query_id
    AND b.neighbor_id = a.neighbor_id
  GROUP BY a.query_id
), hits_ivf AS (
  SELECT a.query_id, COUNT(*) AS hits
  FROM ivf a JOIN bf b ON b.query_id = a.query_id
    AND b.neighbor_id = a.neighbor_id
  GROUP BY a.query_id
)
${arm("ivf", "ivf")}
UNION ALL
${arm("lsh", "lsh")}
ORDER BY index_name, query_id"""
  }

  /** Oracle-side twin of one [[kmAssignAnn]]: emits `<out>_anch`,
    * `<out>_grp`, `<out>_probe` and `<out>` (vec_id, v, nrm, cell,
    * dist). Same anchor rule (nCoarse lowest cent_ids), same argmin
    * tie-breaks (ORDER BY dist, id ↔ min(struct)), same [[dotSql]]
    * fold order — the probed dial's own oracle, where the exhaustive
    * dial needs none (it IS kmAssign).
    */
  private[graft] def kmAssignAnnSql(out: String, cents: String,
      nCoarse: Int, probe: Int, src: String = "n"): String = s"""
${out}_anch AS (
  SELECT cent_id AS anchor_id, cv AS av, cn AS an
  FROM $cents ORDER BY cent_id LIMIT $nCoarse
), ${out}_grp AS (
  SELECT cent_id, cv, cn, anchor_id AS grp FROM (
    SELECT c.cent_id, c.cv, c.cn, a.anchor_id,
      row_number() OVER (PARTITION BY c.cent_id
        ORDER BY c.cn - 2 * ${dotSql("c.cv", "a.av")} + a.an,
          a.anchor_id) AS rn
    FROM $cents c CROSS JOIN ${out}_anch a) WHERE rn = 1
), ${out}_probe AS (
  SELECT vec_id, v, nrm, anchor_id AS grp FROM (
    SELECT n.vec_id, n.v, n.nrm, a.anchor_id,
      row_number() OVER (PARTITION BY n.vec_id
        ORDER BY n.nrm - 2 * ${dotSql("n.v", "a.av")} + a.an,
          a.anchor_id) AS pr
    FROM $src n CROSS JOIN ${out}_anch a) WHERE pr <= $probe
), $out AS (
  SELECT vec_id, v, nrm, cent_id AS cell, dist FROM (
    SELECT p.vec_id, p.v, p.nrm, g.cent_id,
      p.nrm - 2 * ${dotSql("p.v", "g.cv")} + g.cn AS dist,
      row_number() OVER (PARTITION BY p.vec_id
        ORDER BY p.nrm - 2 * ${dotSql("p.v", "g.cv")} + g.cn,
          g.cent_id) AS rn
    FROM ${out}_probe p JOIN ${out}_grp g ON g.grp = p.grp) WHERE rn = 1
)"""

  /** Oracle-side twin of one [[kmAssign]]: emits CTEs `<out>_sc` and
    * `<out>`; `cents` must expose (cent_id, cv, cn), `src` a
    * (vec_id, v, nrm) relation.
    */
  private[graft] def kmAssignSql(out: String, cents: String,
      src: String = "n"): String = s"""
${out}_sc AS (
  SELECT n.vec_id, n.v, n.nrm, c.cent_id,
    n.nrm - 2 * ${dotSql("n.v", "c.cv")} + c.cn AS dist
  FROM $src n CROSS JOIN $cents c
), $out AS (
  SELECT vec_id, v, nrm, cent_id AS cell, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY dist, cent_id) AS rn FROM ${out}_sc) WHERE rn = 1
)"""

  /** Oracle-side twin of one [[kmUpdate]]: emits `<out>_comp` and
    * `<out>` (cent_id, cv, cn) from an assignment CTE of `dim`-wide
    * vectors. Only [[lloydSql]] calls it.
    */
  private def kmUpdateSql(out: String, assigned: String,
      dim: Int): String = s"""
${out}_comp AS (
  SELECT a.cell, r.i AS pos,
    SUM(CAST(floor(a.v[r.i] * CAST($KmFp AS DOUBLE) + 0.5) AS BIGINT)) AS s,
    COUNT(*) AS n
  FROM $assigned a CROSS JOIN range(1, ${dim + 1}) r(i)
  GROUP BY a.cell, r.i
), $out AS MATERIALIZED (
  SELECT cent_id, cv, ${dotSql("cv", "cv")} AS cn FROM (
    SELECT cell AS cent_id,
      list(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $KmFp) ORDER BY pos) AS cv
    FROM ${out}_comp GROUP BY cell)
)"""

  /** Oracle-side twin of [[seedCents]]: the CTE `<out>` (cent_id, cv,
    * cn) over the vec_ids [lo, lo+k) of a (vec_id, v, nrm) relation.
    */
  private[graft] def seedsSql(out: String, src: String, lo: Int,
      k: Int): String = s"""$out AS MATERIALIZED (
  SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM $src
  WHERE vec_id >= $lo AND vec_id < ${lo + k}
)"""

  /** Oracle-side twin of [[lloyd]]: `iters` rounds of `assign` CTEs
    * `<pfx>a<i>` and [[kmUpdateSql]] centroid CTEs `<pfx>c<i>` from
    * the `seeds` CTE over the `dim`-wide (vec_id, v, nrm) relation
    * `src`; the trained table is `<pfx>c<iters>`. `assign(out, cents,
    * src)` is [[kmAssignSql]] or a [[kmAssignAnnSql]] dial.
    *
    * The seed and every round's centroid CTE are declared
    * `AS MATERIALIZED` (one policy, in [[seedsSql]] and
    * [[kmUpdateSql]]): DuckDB inlines a plain CTE at every reference,
    * and each round's centroids are read by the next assignment, its
    * consumers and, through every later round, the whole chain again —
    * inlined, the PQ/residual chains spilled ~18 GB per query. A plan
    * hint only: the rows are the same.
    */
  private[graft] def lloydSql(pfx: String, seeds: String, iters: Int,
      src: String = "n", dim: Int = Dim,
      assign: (String, String, String) => String = kmAssignSql): String =
    (1 to iters).map { i =>
      val prev = if (i == 1) seeds else s"${pfx}c${i - 1}"
      assign(s"${pfx}a$i", prev, src) + "," +
        kmUpdateSql(s"${pfx}c$i", s"${pfx}a$i", dim)
    }.mkString(",")

  // ------------------------------------------------------------------
  // sim_pq — product quantization (sub-block codebooks + codes)
  // ------------------------------------------------------------------

  /** Sub-blocks per vector (64 dims → 4 blocks of 16). */
  val PqM = 4
  /** Codebook size per block. */
  val PqK = 8
  val PqSubDim: Int = Dim / PqM
  /** Lloyd rounds per block codebook. */
  val PqIters = 1

  /** Sub-vector frame for block `b` (0-based): 16-dim slices with
    * their own norms, the shape [[kmAssign]]/[[kmUpdate]] consume.
    */
  private def pqSub(vecs: DataFrame, b: Int): DataFrame =
    vecs.select(col("vec_id"),
      slice(col("v"), b * PqSubDim + 1, PqSubDim).as("v"))
      .withColumn("nrm", DotProduct.dot(col("v"), col("v")))

  /** Per-block PQ training trio (block, trained codebook, code table
    * `vec_id → cell_b`) over arbitrary sub-vector frames — ONE copy
    * for the ADC audit, the composed IVF+PQ index, and the
    * residual-encoded variant. `subOf(b)` yields block b's
    * (vec_id, v, nrm) frame; seeds are vec_ids [seedLo, seedLo+PqK).
    *
    * Both outputs are PINNED with eager localCheckpoints (the
    * [[trainedCents]] discipline): the codebook is ≤[[PqK]] rows yet
    * its lineage is a full Lloyd pass, and an unpinned plan re-runs
    * that chain once per consumer — the served ranking, the rerank
    * tail, and each LUT all reference it, and the r17 driver measured
    * sim_residual_rerank at 19.3 s min (vs ~10 s for the underlying
    * index) from exactly this re-evaluation. The code table is
    * corpus-keyed (one int per vector per block) — cheap at rest,
    * expensive to re-derive. Values are bitwise-stable under the
    * pinning: [[kmUpdate]] folds fixed-point integer sums, so eager
    * materialization is hash-neutral by construction.
    *
    * The [[PqM]] block chains are INDEPENDENT (each reads only its own
    * sub-vector slice), so their eager materializations run
    * CONCURRENTLY ([[graft.Par.run]]): 2·PqM sequential driver jobs
    * collapse to 2 parallel rounds, and one chain's shuffle tail
    * back-fills with the next chain's tasks. Results keep input order;
    * values are unchanged (each chain's arithmetic is fixed-point and
    * chains never interact).
    */
  private def pqTrainOn(subOf: Int => DataFrame,
      seedLo: Int): Seq[(Int, DataFrame, DataFrame)] =
    graft.Par.run((0 until PqM).map { b => () =>
      val sub = subOf(b)
      val pinned = lloyd(sub, seedCents(sub, seedLo, PqK), PqIters)
        .localCheckpoint(true)
      // the code table has exactly ONE consumer (the per-block join
      // into the served/audited code stream), so its checkpoint is
      // LAZY: no separate driver job — it materializes inside the
      // consumer's first action and later references read the stored
      // blocks (round-18; the codebook keeps the eager pin, it
      // anchors both this assignment and every LUT broadcast)
      val codes = kmAssign(sub, pinned)
        .select(col("vec_id"), col("cell").as(s"cell_$b"))
        .localCheckpoint(false)
      (b, pinned, codes)
    })

  /** Raw-sub-vector PQ training (the sim_pq / sim_pq_adc /
    * sim_ivfpq_ann chain).
    */
  private def pqTrain(vecs: DataFrame): Seq[(Int, DataFrame, DataFrame)] =
    pqTrainOn(b => pqSub(vecs, b), NQueries)

  /** Per-query ADC lookup tables, one per block: queries × [[PqK]]
    * rows of 〈q_sub_b, codebook centroid〉 — the broadcast side of
    * every ADC join. `q` is a (query_id, qv) frame.
    */
  private def pqLuts(q: DataFrame,
      trained: Seq[(Int, DataFrame, DataFrame)]): Seq[DataFrame] =
    trained.map { case (b, cb, _) =>
      q.select(col("query_id"),
          slice(col("qv"), b * PqSubDim + 1, PqSubDim).as("qs"))
        .crossJoin(broadcast(cb))
        .select(col("query_id"), col("cent_id").as(s"cell_$b"),
          DotProduct.dot(col("qs"), col("cv")).as(s"l_$b"))
    }

  /** Product quantization — the compression that makes a 100 TB
    * vector corpus servable: each vector stored as [[PqM]] one-byte
    * codes (here 3 bits: [[PqK]]=8) instead of 64 doubles, with the
    * per-block codebooks trained by the SAME [[kmAssign]]/[[kmUpdate]]
    * machinery as [[simKmeans]] (seeds = the [[NQueries]]..+8 vectors'
    * slices, [[PqIters]] Lloyd round).
    *
    * Output: per vector the 4 codes plus the exact reconstruction
    * MSE (sum of per-block squared distances / [[Dim]]) — the number
    * an engineer reads before trusting PQ-compressed search.
    *
    * Scale shape: per block, one broadcast of an 8-row codebook and a
    * partial-agg argmin (map-side); the code tables then equi-join on
    * vec_id. Per-block distances add in fixed column order, so the MSE
    * is bitwise-stable under any partitioning.
    */
  def simPq(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = base(spark, sfDir)
    val blocks = (0 until PqM).map { b =>
      val sub = pqSub(vecs, b)
      val cents = lloyd(sub, seedCents(sub, NQueries, PqK), PqIters)
      kmAssign(sub, cents).select(col("vec_id"),
        (col("cell") - NQueries).as(s"code_$b"), col("dist").as(s"d_$b"))
    }
    blocks.reduce(_.join(_, Seq("vec_id")))
      .select(col("vec_id"),
        col("code_0"), col("code_1"), col("code_2"), col("code_3"),
        r6((col("d_0") + col("d_1") + col("d_2") + col("d_3")) / Dim)
          .as("recon_mse"))
      .orderBy(col("vec_id"))
  }

  lazy val simPqSql: String = {
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),${pqBlockTrainSql("e", "v", NQueries)}
SELECT f0.vec_id,
  f0.cell - $NQueries AS code_0, f1.cell - $NQueries AS code_1,
  f2.cell - $NQueries AS code_2, f3.cell - $NQueries AS code_3,
  ${r6Sql(s"(((f0.dist + f1.dist) + f2.dist) + f3.dist) / $Dim")}
    AS recon_mse
FROM fin0 f0
JOIN fin1 f1 USING (vec_id)
JOIN fin2 f2 USING (vec_id)
JOIN fin3 f3 USING (vec_id)
ORDER BY f0.vec_id"""
  }

  lazy val simKmeansSql: String = {
    val checksum = s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list_transform(range(1, len(c.cv) + 1), i -> c.cv[i] * i)),
      (acc, x) -> acc + x)"""
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), ${seedsSql("seeds", "n", NQueries, IvfCells)},${lloydSql("", "seeds",
      KmIters)},${kmAssignSql("fin", s"c$KmIters")},
agg AS (
  SELECT cell AS cent_id, COUNT(*) AS n_assigned,
    SUM(CAST(floor(dist * 1000000.0 + 0.5) AS BIGINT)) AS ifp
  FROM fin GROUP BY cell
)
SELECT a.cent_id, a.n_assigned,
  ${r6Sql("(CAST(a.ifp AS DOUBLE) / 1000000.0)")} AS inertia,
  ${r6Sql(checksum)} AS cent_checksum
FROM agg a JOIN c$KmIters c ON c.cent_id = a.cent_id
ORDER BY a.cent_id"""
  }

  // ------------------------------------------------------------------
  // sim_pq_adc — PQ asymmetric-distance ranking audit
  // ------------------------------------------------------------------

  /** PQ serving audit — the asymmetric-distance computation (ADC)
    * that makes [[simPq]]'s codes servable: per query, every corpus
    * vector is scored as `Σ_b 〈q_sub_b, centroid_{b,code_b}〉` (a
    * [[PqM]]×[[PqK]] lookup table per query, never the vectors), and
    * the audit reports what that costs against the exact inner
    * product — mean/max |dot − adc| and top-[[TopK]] recall of the
    * ADC ranking. Completes the ANN-audit quartet: LSH (`sim_recall`),
    * IVF (`sim_ivf_tuning`), JL (`sim_rp`), PQ (this).
    *
    * Determinism: codebooks and codes are the SAME training chain as
    * `sim_pq` (one copy on each engine); LUT entries and exact dots
    * are pinned sequential folds; the error quantizes to micro-units
    * and both rankings rank r6'd scores with vec_id tie-break.
    *
    * Scale shape: training/coding is sim_pq's documented posture; the
    * LUT is queries × [[PqM]]·[[PqK]] rows (broadcast), scoring joins
    * the code table — 4 bytes a vector, NOT the vectors — against the
    * broadcast LUTs, which is precisely why PQ serves at 100 TB. The
    * exact arm (the audit's ground truth) is |queries| × corpus and
    * takes the usual IVF substitution in deployment.
    */
  def simPqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    val trained = pqTrain(vecs)
    val corp = trained.map(_._3).reduce(_.join(_, Seq("vec_id")))
      .join(vecs.select(col("vec_id"), col("v")), Seq("vec_id"))
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val luts = pqLuts(q, trained)
    val exact = DotProduct.dot(col("qv"), col("v"))
    val pairs0 = q.join(corp, col("vec_id") =!= col("query_id"))
      .select(col("query_id") +: col("vec_id") +: exact.as("d") +:
        (0 until PqM).map(b => col(s"cell_$b")): _*)
    val pairs = luts.zipWithIndex.foldLeft(pairs0) { case (p, (l, b)) =>
      p.join(broadcast(l), Seq("query_id", s"cell_$b"))
    }
    val adc = ((col("l_0") + col("l_1")) + col("l_2")) + col("l_3")
    val scored = pairs
      .select(col("query_id"), col("vec_id"), col("d"), adc.as("adc"),
        round(abs(col("d") - adc) * 1000000.0).cast("long").as("err_u"))
      .cache()
    val stats = scored.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("err_u")).cast("long").as("serr"),
      max(col("err_u")).as("mxe"))
    def cut(c: String) = scored
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(r6(col(c)).desc, col("vec_id"))))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"))
    val overlap = cut("d").join(cut("adc"), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    stats.join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("n_pairs"),
        r6(coalesce(col("hits"), lit(0L)).cast("double") / TopK.toDouble)
          .as(s"recall_at_$TopK"),
        r6(col("serr").cast("double") / col("n_pairs") / 1000000.0)
          .as("mean_abs_err"),
        r6(col("mxe").cast("double") / 1000000.0).as("max_abs_err"))
      .orderBy(col("query_id"))
  }

  lazy val simPqAdcSql: String = {
    val lutCtes = (0 until PqM).map { b =>
      val lo = b * PqSubDim + 1
      val hi = (b + 1) * PqSubDim
      s"""lut$b AS (
  SELECT q.query_id, c.cent_id AS cell_$b,
    ${dotSql(s"(q.qv[$lo:$hi])", "c.cv")} AS l_$b
  FROM q CROSS JOIN b${b}c$PqIters c
)"""
    }.mkString(", ")
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),${pqBlockTrainSql("e", "v", NQueries)},
codes AS (
  SELECT f0.vec_id, f0.cell AS cell_0, f1.cell AS cell_1,
    f2.cell AS cell_2, f3.cell AS cell_3
  FROM fin0 f0
  JOIN fin1 f1 USING (vec_id)
  JOIN fin2 f2 USING (vec_id)
  JOIN fin3 f3 USING (vec_id)
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
), $lutCtes, scored AS (
  SELECT q.query_id, cd.vec_id,
    ${dotSql("q.qv", "e2.v")} AS d,
    ((l0.l_0 + l1.l_1) + l2.l_2) + l3.l_3 AS adc
  FROM q
  JOIN codes cd ON cd.vec_id <> q.query_id
  JOIN e e2 ON e2.vec_id = cd.vec_id
  JOIN lut0 l0 ON l0.query_id = q.query_id AND l0.cell_0 = cd.cell_0
  JOIN lut1 l1 ON l1.query_id = q.query_id AND l1.cell_1 = cd.cell_1
  JOIN lut2 l2 ON l2.query_id = q.query_id AND l2.cell_2 = cd.cell_2
  JOIN lut3 l3 ON l3.query_id = q.query_id AND l3.cell_3 = cd.cell_3
), errs AS (
  SELECT query_id, vec_id, d, adc,
    CAST(round(abs(d - adc) * 1000000.0) AS BIGINT) AS err_u
  FROM scored
), stats AS (
  SELECT query_id, COUNT(*) AS n_pairs,
    CAST(SUM(err_u) AS BIGINT) AS serr, MAX(err_u) AS mxe
  FROM errs GROUP BY query_id
), cutd AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("d")} DESC, vec_id) AS rk
    FROM errs
  ) WHERE rk <= $TopK
), cuta AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("adc")} DESC, vec_id) AS rk
    FROM errs
  ) WHERE rk <= $TopK
), overlap AS (
  SELECT query_id, COUNT(*) AS hits
  FROM cutd JOIN cuta USING (query_id, vec_id)
  GROUP BY query_id
)
SELECT s.query_id, s.n_pairs,
  ${r6Sql(s"(CAST(COALESCE(o.hits, 0) AS DOUBLE) / " +
      s"CAST($TopK.0 AS DOUBLE))")}
    AS recall_at_$TopK,
  ${r6Sql("(CAST(s.serr AS DOUBLE) / s.n_pairs / 1000000.0)")}
    AS mean_abs_err,
  ${r6Sql("(CAST(s.mxe AS DOUBLE) / 1000000.0)")} AS max_abs_err
FROM stats s LEFT JOIN overlap o ON o.query_id = s.query_id
ORDER BY s.query_id"""
  }

  // ------------------------------------------------------------------
  // sim_ivfpq_ann — the composed IVF + PQ serving index
  // ------------------------------------------------------------------

  /** IVF + PQ COMPOSED — the canonical billion-scale serving index
    * (coarse quantizer prunes WHICH vectors are scored; product
    * quantization prunes WHAT is read per vector): a query probes its
    * [[IvfProbe]] nearest coarse cells (the sim_ivf_ann machinery,
    * identical assignment and probe list), and candidates inside
    * those cells are ranked by ASYMMETRIC DISTANCE over their
    * [[PqM]]-byte PQ codes against the query's per-block lookup
    * tables (the sim_pq_adc machinery, identical training chain) —
    * the serving plan never touches a corpus vector: probed-cell
    * membership joins the CODE table (4 small ints a vector), LUTs
    * are queries × [[PqM]]·[[PqK]] rows broadcast.
    *
    * Output is the served ranking itself (query_id, rank, neighbor,
    * adc) — sim_pq_adc reports what ADC costs in recall; THIS is the
    * query a deployment actually runs, under its own oracle (both
    * engines compose the same two shared chains CTE for CTE).
    *
    * Scale shape: at 100 TB the corpus-side state is codes + cell ids
    * (≈ 12 bytes a vector here, vs 512 for raw doubles); scoring
    * touches IvfProbe/IvfCells of the code table via an equi-join on
    * cell, LUT joins are broadcasts, and the only corpus-keyed
    * shuffle is the per-query top-k. The exact arms this audit tier
    * keeps (sim_bruteforce_topk, sim_pq_adc's exact dot) remain the
    * quadratic-by-contract anchors.
    */
  def simIvfPqAnn(spark: SparkSession, sfDir: String): DataFrame =
    simIvfPqAnnCfg(spark, sfDir, IvfProbe)

  /** [[simIvfPqAnn]] with the probe dial — at probe = [[IvfCells]]
    * every candidate is scored (the ADC ranking over the whole
    * corpus), the spec's superset anchor.
    */
  private[graft] def simIvfPqAnnCfg(spark: SparkSession, sfDir: String,
      probe: Int): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(r6(col("adc")).desc, col("vec_id"))
    ivfPqScored(vecs, probe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("adc")).as("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The candidate ADC stream (query_id, vec_id, adc) off the probed
    * cells — ONE copy shared by the direct ADC ranking
    * ([[simIvfPqAnnCfg]]) and the exact-rerank tail
    * ([[simIvfPqRerankCfg]]).
    */
  private def ivfPqScored(vecs: DataFrame, probe: Int): DataFrame =
    ivfPqScoredPr(vecs, probe)
      .select(col("query_id"), col("vec_id"), col("adc"))

  /** [[ivfPqScored]] with each candidate's probe rank `pr` kept — the
    * widest-probe stream the two-axis tuning grid filters per arm.
    */
  private def ivfPqScoredPr(vecs: DataFrame, probe: Int): DataFrame = {
    val cents = seedCents(vecs, NQueries, IvfCells)
    val assigned = ivfAssign(vecs, cents)
      .select(col("vec_id"), col("cell"))
    val probes = ivfProbeList(vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), cents, probe, keepPr = true)
      .select(col("query_id"), col("cell"), col("pr"))
    val trained = pqTrain(vecs)
    val codes = trained.map(_._3).reduce(_.join(_, Seq("vec_id")))
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val luts = pqLuts(q, trained)
    val cand = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("pr"))
      .join(codes, Seq("vec_id"))
    val pairs = luts.zipWithIndex.foldLeft(cand) { case (p, (l, b)) =>
      p.join(broadcast(l), Seq("query_id", s"cell_$b"))
    }
    val adc = ((col("l_0") + col("l_1")) + col("l_2")) + col("l_3")
    pairs.select(col("query_id"), col("vec_id"), adc.as("adc"),
      col("pr"))
  }

  /** Exact-rerank candidate budget per query — the second stage reads
    * this many raw vectors, however large the corpus.
    *
    * Re-picked from the two-axis [[simRerankTuning]] grid (round 18,
    * sf0.01): at probe = [[IvfProbe]] the recall-vs-C curve bends at
    * C ≈ 50 (0.225 → 0.275 → 0.325 across C = 25/50/100 — beyond 50
    * the probe-4 candidate pool is exhausted of true positives and
    * the binding constraint flips from reads to proposals), while
    * widening the probe only pays at C ≥ 50 (probe 8: 0.300 at 50,
    * 0.475 at 100) — at DOUBLE the stage-1 scan fraction. C = 50 at
    * the unchanged probe is the cheap knee: stage-2 cost is still
    * queries × C (trivial at scale), stage-1 posture untouched.
    */
  val RerankC = 50

  /** RETRIEVE-THEN-RERANK — the standard recall repair on top of a
    * compressed index (every production vector stack runs this shape:
    * the IVF+PQ index proposes cheaply, then the top [[RerankC]]
    * candidates are re-scored with EXACT cosine against their raw
    * vectors and the final top-[[TopK]] comes from the exact scores):
    * ADC's quantization error decides only WHICH ~C candidates
    * surface, never the final order — the precision errors sim_pq_adc
    * measures are repaired wherever the true neighbor made the cut.
    *
    * Exhaustive contract (spec-pinned): at probe = [[IvfCells]] and
    * an uncapped C the candidate set is every non-self vector, so the
    * exact rerank IS brute force — output row-identical to
    * [[simBruteforceTopk]]. The shipped dial (probe = [[IvfProbe]],
    * C = [[RerankC]]) is the production posture under its own oracle.
    *
    * Scale shape: stage 1 is [[simIvfPqAnn]]'s (codes + broadcast
    * LUTs); stage 2 touches exactly queries × C raw vectors via an
    * equi-join on vec_id — the ONLY full-width vector reads in the
    * serving path, bounded by the dial, not the corpus.
    */
  def simIvfPqRerank(spark: SparkSession, sfDir: String): DataFrame =
    simIvfPqRerankCfg(spark, sfDir, IvfProbe, RerankC)

  private[graft] def simIvfPqRerankCfg(spark: SparkSession,
      sfDir: String, probe: Int, c: Int): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    rerankTail(vecs, ivfPqScored(vecs, probe), c)
  }

  /** Oracle twin of [[ivfPqScored]]/[[ivfPqScoredPr]] — CTEs through
    * `scoredadc` (query_id, vec_id, adc[, pr]), ONE copy for the
    * direct ranking, the rerank tail, and (probe-widened, with the
    * probe rank kept) the two-axis tuning grid.
    */
  private def ivfPqScoredCtesSqlAt(probe: Int,
      withPr: Boolean): String = {
    val prSel = if (withPr) ", pr" else ""
    val prCand = if (withPr) ", p.pr" else ""
    val prAdc = if (withPr) ", c.pr" else ""
    val lutCtes = (0 until PqM).map { b =>
      val lo = b * PqSubDim + 1
      val hi = (b + 1) * PqSubDim
      s"""lut$b AS (
  SELECT q.query_id, c.cent_id AS cell_$b,
    ${dotSql(s"(q.qv[$lo:$hi])", "c.cv")} AS l_$b
  FROM q CROSS JOIN b${b}c$PqIters c
)"""
    }.mkString(", ")
    s"""e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),${pqBlockTrainSql("e", "v", NQueries)}, n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), ${seedsSql("icents", "n", NQueries, IvfCells)},
${ivfScoredAssignedSql("ipq", "icents")}, probes_ipq AS (
  SELECT vec_id AS query_id, cent_id AS cell$prSel FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, cent_id) AS pr
    FROM scored_ipq WHERE vec_id < $NQueries)
  WHERE pr <= $probe
), codes AS (
  SELECT f0.vec_id, f0.cell AS cell_0, f1.cell AS cell_1,
    f2.cell AS cell_2, f3.cell AS cell_3
  FROM fin0 f0
  JOIN fin1 f1 USING (vec_id)
  JOIN fin2 f2 USING (vec_id)
  JOIN fin3 f3 USING (vec_id)
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
), $lutCtes, cand AS (
  SELECT p.query_id, a.vec_id$prCand
  FROM probes_ipq p JOIN assigned_ipq a
    ON a.cell = p.cell AND a.vec_id <> p.query_id
), scoredadc AS (
  SELECT c.query_id, c.vec_id,
    ((l0.l_0 + l1.l_1) + l2.l_2) + l3.l_3 AS adc$prAdc
  FROM cand c
  JOIN codes cd ON cd.vec_id = c.vec_id
  JOIN lut0 l0 ON l0.query_id = c.query_id AND l0.cell_0 = cd.cell_0
  JOIN lut1 l1 ON l1.query_id = c.query_id AND l1.cell_1 = cd.cell_1
  JOIN lut2 l2 ON l2.query_id = c.query_id AND l2.cell_2 = cd.cell_2
  JOIN lut3 l3 ON l3.query_id = c.query_id AND l3.cell_3 = cd.cell_3
)"""
  }

  private lazy val ivfPqScoredCtesSql: String =
    ivfPqScoredCtesSqlAt(IvfProbe, withPr = false)

  lazy val simIvfPqAnnSql: String = s"""WITH $ivfPqScoredCtesSql, ranked AS (
  SELECT query_id, vec_id, adc,
    row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("adc")} DESC, vec_id) AS rank
  FROM scoredadc
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("adc")} AS adc
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  lazy val simIvfPqRerankSql: String = s"""WITH $ivfPqScoredCtesSql, cand_c AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY ${r6Sql("adc")} DESC, vec_id) AS rk
    FROM scoredadc) WHERE rk <= $RerankC
), rr AS (
  SELECT c.query_id, c.vec_id,
    ${dotSql("nq.v", "nv.v")} / sqrt(nq.nrm * nv.nrm) AS c2
  FROM cand_c c
  JOIN n nq ON nq.vec_id = c.query_id
  JOIN n nv ON nv.vec_id = c.vec_id
), rranked AS (
  SELECT query_id, vec_id, c2,
    row_number() OVER (PARTITION BY query_id
      ORDER BY c2 DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("c2")} AS cosine
FROM rranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  // ------------------------------------------------------------------
  // sim_ivfpq_residual — RESIDUAL-encoded IVF+PQ (the FAISS IVFPQ)
  // ------------------------------------------------------------------

  /** Seed base for the RESIDUAL codebooks: vec_ids [[RpqSeedBase]] ..
    * +[[PqK]]. The raw-PQ seed range ([NQueries, NQueries+PqK)) is
    * unusable here — those ids coincide with the IVF cell seeds, whose
    * residuals are exactly zero (a seed vector's nearest cell is
    * itself, cosine 1), which would collapse every residual codebook
    * to a single point.
    */
  val RpqSeedBase: Int = NQueries + IvfCells

  /** Residual frame: each vector's difference from its IVF cell
    * centroid, `r = x − c_cell(x)` — what FAISS's IVFPQ actually
    * quantizes (raw-sub-vector codes are [[simPq]]'s form). Runs
    * through the codegen'd [[graft.functions.VectorSub]]; exact
    * element-wise subtraction, so both engines produce bitwise-equal
    * residuals. Scale shape: one broadcast of the ≤[[IvfCells]]-row
    * centroid table against the assignment stream — map-side only.
    */
  private def residFrame(vecs: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(vecs, cents)
      .join(broadcast(cents.select(col("cent_id").as("cell"), col("cv"))),
        Seq("cell"))
      .select(col("vec_id"), col("cell"),
        graft.functions.VectorSub.sub(col("v"), col("cv")).as("r"))

  /** Block `b`'s residual sub-vector frame (the [[pqSub]] shape over
    * residuals).
    */
  private def residSub(resid: DataFrame, b: Int): DataFrame =
    resid.select(col("vec_id"),
      slice(col("r"), b * PqSubDim + 1, PqSubDim).as("v"))
      .withColumn("nrm", DotProduct.dot(col("v"), col("v")))

  /** RESIDUAL-encoded IVF+PQ — the composition FAISS actually ships
    * (and where its recall-per-byte comes from): PQ codebooks are
    * trained on and codes encode the RESIDUAL `x − c_cell(x)` rather
    * than x itself, so the quantizer spends its 2^3·[[PqM]] cells on
    * the small within-cell displacement instead of re-describing the
    * coarse structure the IVF assignment already captured. Estimated
    * inner product decomposes exactly:
    * `q·x̂ = q·c_cell + Σ_b 〈q_sub_b, codebook_b[code_b]〉` — the
    * first term is a queries × [[IvfCells]] broadcast table, the sum
    * is the usual per-block LUT joins ([[simIvfPqAnn]]'s machinery,
    * shared codebook across cells as in FAISS).
    *
    * Output is the served ranking (query_id, rank, neighbor, adc),
    * sim_ivfpq_ann's contract with residual codes; the recall-per-byte
    * comparison against the raw-code path at EQUAL bytes is its own
    * query, [[simResidualGain]].
    *
    * Scale shape: identical to [[simIvfPqAnn]] — corpus-side state is
    * codes + cell id (~12 bytes/vector), candidate generation is the
    * probe equi-join on cell, every LUT/centroid join broadcasts, and
    * the only corpus-keyed shuffle is the per-query top-k. The
    * residual TRAINING pass adds one broadcast-join (centroid lookup)
    * and the same Lloyd machinery over residual sub-frames.
    */
  def simIvfPqResidual(spark: SparkSession, sfDir: String): DataFrame =
    simIvfPqResidualCfg(spark, sfDir, IvfProbe)

  /** [[simIvfPqResidual]] with the probe dial — at probe =
    * [[IvfCells]] every vector is a candidate (the full-corpus
    * residual-ADC ranking), the spec's superset anchor.
    */
  private[graft] def simIvfPqResidualCfg(spark: SparkSession,
      sfDir: String, probe: Int): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(r6(col("adc")).desc, col("vec_id"))
    ivfPqResidScored(vecs, probe)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("adc")).as("adc"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Residual-ADC candidate stream (query_id, vec_id, adc) off the
    * probed cells — [[ivfPqScored]]'s twin with residual codes plus
    * the q·c_cell term.
    */
  private def ivfPqResidScored(vecs: DataFrame, probe: Int): DataFrame = {
    // TRAINED coarse quantizer (the FAISS deployment): residuals are
    // only small — and residual codes only pay — against cell MEANS.
    // Against sampled raw-vector anchors the residual norm ‖x−c‖ is
    // √(2−2cos) for unit vectors, often LARGER than ‖x‖, and the gain
    // audit measured the encoding LOSING there (recall 0.025 vs raw
    // 0.100 at sf0.001); sim_residual_gain ships the trained-cell
    // measurement.
    val cents = trainedCents(vecs)
    // cached, not re-derived per block: the residual frame feeds all
    // PqM training passes (seed filter + Lloyd + final assignment
    // each) plus the candidate join below — ~a dozen evaluations of
    // the assignment+broadcast-subtract chain without the cache. The
    // first eager pqTrainOn checkpoint populates it.
    val resid = residFrame(vecs, cents).cache()
    val trained = pqTrainOn(b => residSub(resid, b), RpqSeedBase)
    val codes = trained.map(_._3).reduce(_.join(_, Seq("vec_id")))
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val luts = pqLuts(q, trained)
    // q·c_cell — the coarse term of the residual decomposition:
    // queries × IvfCells rows, broadcast
    val qc = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id").as("cell"),
        DotProduct.dot(col("qv"), col("cv")).as("qc"))
    val probes = ivfProbeList(vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), cents, probe)
      .select(col("query_id"), col("cell"))
    val cand = probes
      .join(resid.select(col("vec_id"), col("cell")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("cell"), col("vec_id"))
      .join(codes, Seq("vec_id"))
    val pairs = luts.zipWithIndex.foldLeft(cand) { case (p, (l, b)) =>
      p.join(broadcast(l), Seq("query_id", s"cell_$b"))
    }
    val adc = (((col("qc") + col("l_0")) + col("l_1")) + col("l_2")) +
      col("l_3")
    pairs.join(broadcast(qc), Seq("query_id", "cell"))
      .select(col("query_id"), col("vec_id"), adc.as("adc"))
  }

  /** Per-block PQ training chain CTEs over the `vcol` vectors of
    * `src`: sub-slices `${pfx}sub$b`, seeds (vec_ids [seedLo,
    * seedLo+PqK)), the [[lloydSql]] rounds (trained codebook
    * `${pfx}b${b}c$PqIters`) and the final assignment `${pfx}fin$b` —
    * ONE copy for the raw codes (no prefix, src "e", seeds at
    * [[NQueries]]), the residual codes (pfx "r", src "resid") and the
    * OPQ-rotated codes (pfx "o", src "rres").
    */
  private def pqBlockTrainSql(src: String, vcol: String, seedLo: Int,
      pfx: String = ""): String =
    (0 until PqM).map { b =>
      val lo = b * PqSubDim + 1
      val hi = (b + 1) * PqSubDim
      val (sub, seeds) = (s"${pfx}sub$b", s"${pfx}seeds$b")
      val rounds = lloydSql(s"${pfx}b$b", seeds, PqIters, sub, PqSubDim)
      s"""$sub AS (
  SELECT vec_id, $vcol[$lo:$hi] AS v,
    ${dotSql(s"($vcol[$lo:$hi])", s"($vcol[$lo:$hi])")} AS nrm
  FROM $src
), ${seedsSql(seeds, sub, seedLo, PqK)},$rounds,${kmAssignSql(
        s"${pfx}fin$b", s"${pfx}b${b}c$PqIters", sub)}"""
    }.mkString(",")

  /** Residual-chain PREFIX CTEs: trained coarse cells (`rkseeds` →
    * `rcents` via the Lloyd rounds), the cosine IVF assignment
    * (`assigned_rq`), and the residual frame `resid` (vec_id, cell,
    * r) — shared verbatim by the residual-code chain
    * ([[residCtesSql]]) and the OPQ-rotated variant
    * ([[simOpqGainSql]]). Assumes `n` exists.
    */
  private lazy val residPrefixSql: String =
    s"""${seedsSql("rkseeds", "n", NQueries, IvfCells)},${lloydSql("rk",
      "rkseeds", KmIters)}, rcents AS MATERIALIZED (
  SELECT cent_id, cv, cn FROM rkc$KmIters
), ${ivfScoredAssignedSql("rq", "rcents")}, resid AS MATERIALIZED (
  SELECT a.vec_id, a.cell,
    list_transform(range(1, ${Dim + 1}), i -> a.v[i] - c.cv[i]) AS r
  FROM assigned_rq a JOIN rcents c ON c.cent_id = a.cell
)"""

  /** Residual-chain oracle CTEs: IVF assignment (`assigned_rq`,
    * cosine — the [[ivfAssign]] convention), residuals, per-block
    * residual codebooks/codes (`rfin$b`, trained at `rb${b}c$PqIters`),
    * query LUTs (`rlut$b`), the coarse q·c table (`qcr`), and the
    * probed residual-ADC stream `scoredadc_rq`. Assumes `e`, `n`, `q`
    * CTEs exist. ONE copy for the served ranking and the gain audit.
    */
  private def residCtesSql(probe: Int): String = {
    val blockCtes = pqBlockTrainSql("resid", "r", RpqSeedBase, "r")
    val lutCtes = (0 until PqM).map { b =>
      val lo = b * PqSubDim + 1
      val hi = (b + 1) * PqSubDim
      s"""rlut$b AS (
  SELECT q.query_id, c.cent_id AS cell_$b,
    ${dotSql(s"(q.qv[$lo:$hi])", "c.cv")} AS l_$b
  FROM q CROSS JOIN rb${b}c$PqIters c
)"""
    }.mkString(", ")
    s"""$residPrefixSql,$blockCtes, rcodes AS (
  SELECT f0.vec_id, f0.cell AS cell_0, f1.cell AS cell_1,
    f2.cell AS cell_2, f3.cell AS cell_3
  FROM rfin0 f0
  JOIN rfin1 f1 USING (vec_id)
  JOIN rfin2 f2 USING (vec_id)
  JOIN rfin3 f3 USING (vec_id)
), $lutCtes, qcr AS (
  SELECT q.query_id, c.cent_id AS cell, ${dotSql("q.qv", "c.cv")} AS qc
  FROM q CROSS JOIN rcents c
), probes_rq AS (
  SELECT vec_id AS query_id, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, cent_id) AS pr
    FROM scored_rq WHERE vec_id < $NQueries)
  WHERE pr <= $probe
), cand_rq AS (
  SELECT p.query_id, a.cell, a.vec_id
  FROM probes_rq p JOIN assigned_rq a
    ON a.cell = p.cell AND a.vec_id <> p.query_id
), scoredadc_rq AS (
  SELECT c.query_id, c.vec_id,
    (((g.qc + l0.l_0) + l1.l_1) + l2.l_2) + l3.l_3 AS adc
  FROM cand_rq c
  JOIN rcodes cd ON cd.vec_id = c.vec_id
  JOIN qcr g ON g.query_id = c.query_id AND g.cell = c.cell
  JOIN rlut0 l0 ON l0.query_id = c.query_id AND l0.cell_0 = cd.cell_0
  JOIN rlut1 l1 ON l1.query_id = c.query_id AND l1.cell_1 = cd.cell_1
  JOIN rlut2 l2 ON l2.query_id = c.query_id AND l2.cell_2 = cd.cell_2
  JOIN rlut3 l3 ON l3.query_id = c.query_id AND l3.cell_3 = cd.cell_3
)"""
  }

  lazy val simIvfPqResidualSql: String = s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
), ${residCtesSql(IvfProbe)}, ranked AS (
  SELECT query_id, vec_id, adc,
    row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("adc")} DESC, vec_id) AS rank
  FROM scoredadc_rq
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("adc")} AS adc
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  // ------------------------------------------------------------------
  // sim_residual_rerank — the full FAISS deployment: residual index
  // proposes, exact cosine finishes
  // ------------------------------------------------------------------

  /** The composition a production vector stack actually deploys end
    * to end: the RESIDUAL-encoded IVF+PQ index
    * ([[simIvfPqResidual]]'s candidate stream — trained cells,
    * residual codes, coarse-term ADC) proposes the top [[RerankC]]
    * candidates per query, and exact cosine over their raw vectors
    * decides the final top-[[TopK]] — [[simIvfPqRerank]]'s second
    * stage verbatim, ONE shared tail.
    *
    * Exhaustive contract (spec-pinned, the same theorem as the
    * raw-code rerank): at probe = [[IvfCells]] and an uncapped C the
    * candidate set is every non-self vector, so the exact rerank IS
    * brute force — row-identical to [[simBruteforceTopk]]; the ADC
    * estimator (raw or residual) decides only WHICH candidates
    * surface, never a final score.
    *
    * Scale shape: stage 1 is sim_ivfpq_residual's (codes + cell id at
    * rest, broadcast LUTs + coarse table, probe equi-join); stage 2
    * touches exactly queries × C raw vectors via an equi-join on
    * vec_id — the only full-width vector reads in the path.
    */
  def simResidualRerank(spark: SparkSession, sfDir: String): DataFrame =
    simResidualRerankCfg(spark, sfDir, IvfProbe, RerankC)

  private[graft] def simResidualRerankCfg(spark: SparkSession,
      sfDir: String, probe: Int, c: Int): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    rerankTail(vecs, ivfPqResidScored(vecs, probe), c)
  }

  /** The shared exact-rerank tail: cut the candidate stream to its
    * top `c` by r6'd ADC (vec_id ties), re-score those raw vectors
    * with exact cosine, return the final top-[[TopK]]. ONE copy for
    * the raw-code and residual-code deployments.
    */
  private def rerankTail(vecs: DataFrame, scored: DataFrame,
      c: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(r6(col("adc")).desc, col("vec_id"))
    val cand = scored
      .withColumn("rk", row_number().over(wAdc))
      .filter(col("rk") <= c)
      .select(col("query_id"), col("vec_id"))
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val wC = Window.partitionBy(col("query_id"))
      .orderBy(col("c2").desc, col("vec_id"))
    cand
      .join(vecs.select(col("vec_id"), col("v"), col("nrm")),
        Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), cos.as("c2"))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("c2")).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val simResidualRerankSql: String = s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
), ${residCtesSql(IvfProbe)}, cand_rr AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY ${r6Sql("adc")} DESC, vec_id) AS rk
    FROM scoredadc_rq) WHERE rk <= $RerankC
), rr AS (
  SELECT c.query_id, c.vec_id,
    ${dotSql("nq.v", "nv.v")} / sqrt(nq.nrm * nv.nrm) AS c2
  FROM cand_rr c
  JOIN n nq ON nq.vec_id = c.query_id
  JOIN n nv ON nv.vec_id = c.vec_id
), rranked AS (
  SELECT query_id, vec_id, c2,
    row_number() OVER (PARTITION BY query_id
      ORDER BY c2 DESC, vec_id) AS rank
  FROM rr
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("c2")} AS cosine
FROM rranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  // ------------------------------------------------------------------
  // sim_rerank_tuning — recall@k vs the rerank-depth dial C
  // ------------------------------------------------------------------

  /** Rerank depths swept, cheap → generous; includes the shipped
    * [[RerankC]].
    */
  val RerankTuneCs: Seq[Int] = Seq(5, 10, 25, 50, 100)

  /** Probe widths swept (the grid's second axis); includes the
    * shipped [[IvfProbe]]. One candidate stream at the WIDEST probe
    * serves every arm: cells partition vectors, so each candidate
    * carries exactly one probe rank and `pr <= p` recovers the
    * narrower stream exactly.
    */
  val RerankTuneProbes: Seq[Int] = Seq(IvfProbe, 8)

  /** The rerank-depth dial table — the tuning-trio convention
    * ([[Dedup.ddLshTuning]] / [[simIvfTuning]] / this) applied to the
    * retrieve-then-rerank stage: per candidate budget C, how many raw
    * vectors stage 2 actually reads (the serving cost that C buys)
    * and recall@[[TopK]] of the exact-reranked result against the
    * brute-force ground truth. ONE ADC candidate stream
    * ([[ivfPqScored]], the shipped index's own ranking) serves every
    * row — the [[simIvfTuning]] shape; the C = [[RerankC]] row IS the
    * shipped [[simIvfPqRerank]] dial (spec-pinned).
    *
    * Monotonicity is a theorem here, not luck: a global-top-k item
    * that survives the candidate cut ranks ≤ k in any superset's
    * exact ranking (at most k−1 items score above it anywhere), so
    * hits(C) = |candidates_C ∩ global top-k| — non-decreasing in C.
    * The spec pins it; a violation means the tie-break conventions
    * diverged somewhere.
    *
    * Two-axis grid (round-18): probe ∈ [[RerankTuneProbes]] ×
    * C ∈ [[RerankTuneCs]] — the probe axis varies how many candidates
    * stage 1 PROPOSES, the C axis how many stage 2 re-reads. ONE
    * candidate stream at the widest probe serves every arm: cells
    * partition vectors, so each candidate carries its cell's probe
    * rank and `pr <= p` recovers the narrower stream exactly. Recall
    * is monotone in C per probe (the theorem above); it is NOT
    * provably monotone in probe at fixed C — a wider probe's extra
    * candidates can crowd a true neighbor out of the top-C ADC cut —
    * which is exactly why the knee needs measuring.
    *
    * Scale shape (round 19): the whole grid rides ONE ranking pass
    * over the widest-probe scored stream (every arm's ADC rank is a
    * conditional running count under one window spec) and ONE
    * queries × maxC raw-vector read — bounded by the dial, not the
    * corpus, and no longer multiplied by the probe-arm count.
    */
  def simRerankTuning(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    // wide and bf each have exactly ONE consumer after the round-19
    // probe-axis sharing — their round-18 caches were dropped (a
    // single-consumer cache is a pure materialization barrier)
    val wide = ivfPqScoredPr(vecs, RerankTuneProbes.max)
    val bf = simBruteforceTopk(spark, sfDir)
      .select(col("query_id"), col("neighbor_id"))
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    // Round-18 restructure (guide §2.4 — share one exchange across
    // arms): the C axis only ever FILTERS the per-probe ADC ranking,
    // so the ranking window and the exact re-score run ONCE per probe
    // over the C=max superset (each candidate carries its ADC rank
    // `rk`; `rk <= c` recovers arm (p, c)'s candidate set exactly, and
    // the 1:1 vec/query joins make counts and c2 values identical to
    // the per-arm form). Windows 10 → 2, raw-vector joins 10 → 2; the
    // bounded queries×maxC scored frame is cached and re-read by the
    // 5 C arms. Values are unchanged by construction — same rows,
    // same cosine per row, same tie-breaks.
    val maxC = RerankTuneCs.max
    val grid = for { p <- RerankTuneProbes; c <- RerankTuneCs }
      yield (p, c)
    // Round-19 restructure (guide §2.4 — share the PROBE axis too):
    // the round-18 form still sorted the corpus-sized scored stream
    // and re-read the raw vectors once per probe arm (2 windows,
    // 2 joins). Both arms now ride ONE window pass: with the stream
    // ordered by the shared (query, r6(adc) desc, vec_id) spec, a
    // row's ADC rank inside the pr <= p arm is the conditional
    // RUNNING COUNT of pr <= p rows — `sum(when(pr <= p, 1))` over a
    // rows-frame — and every such conditional rank shares one
    // WindowExec (identical spec ⇒ one sort). The exact re-score
    // joins run once over the union of the per-arm C=max cuts; arm
    // (p, c)'s candidates are exactly the rows with pr <= p and
    // rk_p <= c, its serving cut the rows whose conditional c2 rank
    // cr_{p,c} (same running-count trick on the (c2 desc, vec_id)
    // spec) is <= TopK — so rows, cosines and tie-breaks are
    // unchanged arm for arm, and ONE aggregate + a 10-struct explode
    // replaces the 10 per-arm count subtrees. Windows over the
    // corpus-sized stream 2 → 1, raw-vector joins 2 → 1; values are
    // identical by construction (oracle SQL untouched).
    val wRun = Window.partitionBy(col("query_id"))
      .orderBy(r6(col("adc")).desc, col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rkCols = RerankTuneProbes.map(p =>
      sum(when(col("pr") <= p, 1L).otherwise(0L)).over(wRun)
        .as(s"rk_$p"))
    val keepAny = RerankTuneProbes.map(p =>
      col("pr") <= p && col(s"rk_$p") <= maxC).reduce(_ || _)
    val scoredMax = wide
      .select(col("query_id") +: col("vec_id") +: col("pr") +:
        rkCols: _*)
      .filter(keepAny)
      .join(vecs.select(col("vec_id"), col("v"), col("nrm")),
        Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id") +: col("vec_id") +: col("pr") +:
        cos.as("c2") +: RerankTuneProbes.map(p => col(s"rk_$p")): _*)
    val wC2 = Window.partitionBy(col("query_id"))
      .orderBy(col("c2").desc, col("vec_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val crCols = grid.map { case (p, c) =>
      sum(when(col("pr") <= p && col(s"rk_$p") <= c, 1L).otherwise(0L))
        .over(wC2).as(s"cr_${p}_$c")
    }
    val flags = scoredMax
      .select(col("query_id") +: col("vec_id") +: col("pr") +:
        (RerankTuneProbes.map(p => col(s"rk_$p")) ++ crCols): _*)
      .join(bf.select(col("query_id"),
        col("neighbor_id").as("vec_id"), lit(true).as("hit")),
        Seq("query_id", "vec_id"), "left")
    val armAggs = grid.flatMap { case (p, c) =>
      val in = col("pr") <= p && col(s"rk_$p") <= c
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"reads_${p}_$c"),
        sum(when(in && col(s"cr_${p}_$c") <= TopK && col("hit"), 1L)
          .otherwise(0L)).as(s"hits_${p}_$c"))
    }
    val one = flags.agg(armAggs.head, armAggs.tail: _*)
    val armStructs = array(grid.map { case (p, c) =>
      struct(lit(p).as("probe"), lit(c).as("rerank_c"),
        lit(NQueries).as("n_queries"),
        col(s"reads_${p}_$c").cast("long").as("raw_reads"),
        col(s"hits_${p}_$c").cast("long").as("total_hits"),
        r6(col(s"hits_${p}_$c").cast("double") /
          lit((NQueries * TopK).toDouble)).as("recall_at_k"))
    }: _*)
    one.select(explode(armStructs).as("r"))
      .select(col("r.probe").as("probe"), col("r.rerank_c").as("rerank_c"),
        col("r.n_queries").as("n_queries"),
        col("r.raw_reads").as("raw_reads"),
        col("r.total_hits").as("total_hits"),
        col("r.recall_at_k").as("recall_at_k"))
      .orderBy(col("probe"), col("rerank_c"))
  }

  lazy val simRerankTuningSql: String = {
    val grid = for { p <- RerankTuneProbes; c <- RerankTuneCs }
      yield (p, c)
    val arms = grid.map { case (p, c) =>
      s"""cand_rt${p}_$c AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY ${r6Sql("adc")} DESC, vec_id) AS rk
    FROM scoredadc WHERE pr <= $p) WHERE rk <= $c
), served_rt${p}_$c AS (
  SELECT query_id, vec_id AS neighbor_id FROM (
    SELECT c.query_id, c.vec_id,
      row_number() OVER (PARTITION BY c.query_id
        ORDER BY ${dotSql("nq.v", "nv.v")} / sqrt(nq.nrm * nv.nrm)
          DESC, c.vec_id) AS rank
    FROM cand_rt${p}_$c c
    JOIN n nq ON nq.vec_id = c.query_id
    JOIN n nv ON nv.vec_id = c.vec_id
  ) WHERE rank <= $TopK
)"""
    }
    val rows = grid.map { case (p, c) =>
      s"""SELECT $p AS probe, $c AS rerank_c, $NQueries AS n_queries,
  (SELECT COUNT(*) FROM cand_rt${p}_$c) AS raw_reads,
  (SELECT COUNT(*) FROM served_rt${p}_$c s
    JOIN bfp b ON b.query_id = s.query_id
      AND b.neighbor_id = s.neighbor_id) AS total_hits,
  ${r6Sql(s"""(CAST((SELECT COUNT(*) FROM served_rt${p}_$c s
    JOIN bfp b ON b.query_id = s.query_id
      AND b.neighbor_id = s.neighbor_id) AS DOUBLE) /
    CAST(${NQueries * TopK}.0 AS DOUBLE))""")} AS recall_at_k"""
    }
    s"""WITH ${ivfPqScoredCtesSqlAt(RerankTuneProbes.max, withPr = true)}, ${arms.mkString(", ")}, bf AS (
  $simBruteforceTopkSql
), bfp AS (
  SELECT query_id, neighbor_id FROM bf
)
${rows.mkString("\nUNION ALL\n")}
ORDER BY probe, rerank_c"""
  }

  // ------------------------------------------------------------------
  // sim_residual_gain — residual vs raw PQ codes at EQUAL bytes
  // ------------------------------------------------------------------

  /** The measurement behind shipping residual encoding: both code
    * paths store EXACTLY the same corpus-side state (cell id +
    * [[PqM]] 3-bit codes/vector), differing only in WHAT the codes
    * describe — the raw vector ([[simPq]]) or its within-cell residual
    * ([[simIvfPqResidual]], the FAISS form). Per variant, every
    * non-self (query, vector) pair is scored by its estimated inner
    * product over the FULL corpus (no probing — isolating quantization
    * quality from candidate recall), and the row reports top-[[TopK]]
    * recall of the estimated ranking against the exact ranking plus
    * mean/max |dot − est| (micro-quantized integer folds, the
    * [[simPqAdc]] convention).
    *
    * Audit tier: the exact arm is |queries| × corpus by contract
    * (the same ground-truth posture as sim_pq_adc / sim_bruteforce);
    * the production serving paths stay probed + broadcast-shaped.
    */
  /** Top-[[TopK]] cut of (query_id, vec_id, `c`) by r6'd score with
    * vec_id ties — the gain audits' shared ranking cut.
    */
  private def gainCut(df: DataFrame, c: String): DataFrame = df
    .withColumn("rk", row_number().over(Window
      .partitionBy(col("query_id"))
      .orderBy(r6(col(c)).desc, col("vec_id"))))
    .filter(col("rk") <= TopK)
    .select(col("query_id"), col("vec_id"))

  /** One gain-audit arm row: recall of the estimated ranking against
    * the exact cut plus micro-quantized |dot − est| stats — ONE copy
    * for [[simResidualGain]]'s raw/residual arms and [[simOpqGain]].
    */
  private def gainArm(exact: DataFrame, dCut: DataFrame, name: String,
      est: DataFrame): DataFrame = {
    val scored = exact.join(est, Seq("query_id", "vec_id"))
      .select(col("query_id"), col("vec_id"), col("est"),
        round(abs(col("d") - col("est")) * 1000000.0).cast("long")
          .as("err_u"))
      .cache()
    val hits = gainCut(scored, "est")
      .join(dCut, Seq("query_id", "vec_id"))
      .agg(count(lit(1)).as("hits"))
    scored
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("err_u")).cast("long").as("serr"),
        max(col("err_u")).as("mxe"))
      // 1-row × 1-row: the BNLJ here broadcasts a single aggregate
      // row (PlanLintSpec-allowlisted constant-size anchor)
      .crossJoin(broadcast(hits))
      .select(lit(name).as("variant"), col("n_pairs"),
        col("hits").cast("long").as("total_hits"),
        r6(col("hits").cast("double") /
          lit((NQueries * TopK).toDouble)).as(s"recall_at_$TopK"),
        r6(col("serr").cast("double") / col("n_pairs") / 1000000.0)
          .as("mean_abs_err"),
        r6(col("mxe").cast("double") / 1000000.0).as("max_abs_err"))
  }

  def simResidualGain(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = q
      .join(vecs.select(col("vec_id"), col("v")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        DotProduct.dot(col("qv"), col("v")).as("d"))
      .cache()
    val dCut = gainCut(exact, "d")
    // raw arm: est = Σ_b LUT_b (sim_pq_adc's estimator)
    val rawTrained = pqTrain(vecs)
    val rawCodes = rawTrained.map(_._3).reduce(_.join(_, Seq("vec_id")))
    val rawLuts = pqLuts(q, rawTrained)
    val estRaw = rawLuts.zipWithIndex.foldLeft(
        q.select(col("query_id"))
          .join(rawCodes, col("vec_id") =!= col("query_id"))) {
        case (p, (l, b)) => p.join(broadcast(l), Seq("query_id", s"cell_$b"))
      }
      .select(col("query_id"), col("vec_id"),
        (((col("l_0") + col("l_1")) + col("l_2")) + col("l_3")).as("est"))
    // residual arm: est = q·c_cell + Σ_b residual-LUT_b, over the
    // TRAINED cells (see ivfPqResidScored's note)
    val cents = trainedCents(vecs)
    val resid = residFrame(vecs, cents).cache() // see ivfPqResidScored
    val resTrained = pqTrainOn(b => residSub(resid, b), RpqSeedBase)
    val resCodes = resTrained.map(_._3).reduce(_.join(_, Seq("vec_id")))
      .join(resid.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val resLuts = pqLuts(q, resTrained)
    val qc = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id").as("cell"),
        DotProduct.dot(col("qv"), col("cv")).as("qc"))
    val estRes = resLuts.zipWithIndex.foldLeft(
        q.select(col("query_id"))
          .join(resCodes, col("vec_id") =!= col("query_id"))) {
        case (p, (l, b)) => p.join(broadcast(l), Seq("query_id", s"cell_$b"))
      }
      .join(broadcast(qc), Seq("query_id", "cell"))
      .select(col("query_id"), col("vec_id"),
        ((((col("qc") + col("l_0")) + col("l_1")) + col("l_2")) +
          col("l_3")).as("est"))
    gainArm(exact, dCut, "raw", estRaw)
      .unionByName(gainArm(exact, dCut, "residual", estRes))
      .orderBy(col("variant"))
  }

  lazy val simResidualGainSql: String = {
    val rawLutCtes = (0 until PqM).map { b =>
      val lo = b * PqSubDim + 1
      val hi = (b + 1) * PqSubDim
      s"""rawlut$b AS (
  SELECT q.query_id, c.cent_id AS cell_$b,
    ${dotSql(s"(q.qv[$lo:$hi])", "c.cv")} AS l_$b
  FROM q CROSS JOIN b${b}c$PqIters c
)"""
    }.mkString(", ")
    def armSql(tag: String): String = s"""
SELECT '$tag' AS variant,
  (SELECT COUNT(*) FROM scored_$tag) AS n_pairs,
  CAST((SELECT c FROM hits_$tag) AS BIGINT) AS total_hits,
  ${r6Sql(s"""(CAST((SELECT c FROM hits_$tag) AS DOUBLE) /
    CAST(${NQueries * TopK}.0 AS DOUBLE))""")} AS recall_at_$TopK,
  ${r6Sql(s"""(CAST((SELECT SUM(err_u) FROM scored_$tag) AS DOUBLE) /
    (SELECT COUNT(*) FROM scored_$tag) / 1000000.0)""")} AS mean_abs_err,
  ${r6Sql(s"""(CAST((SELECT MAX(err_u) FROM scored_$tag) AS DOUBLE) /
    1000000.0)""")} AS max_abs_err"""
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),${pqBlockTrainSql("e", "v", NQueries)}, n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
), ${residCtesSql(IvfCells)}, rawcodes AS (
  SELECT f0.vec_id, f0.cell AS cell_0, f1.cell AS cell_1,
    f2.cell AS cell_2, f3.cell AS cell_3
  FROM fin0 f0
  JOIN fin1 f1 USING (vec_id)
  JOIN fin2 f2 USING (vec_id)
  JOIN fin3 f3 USING (vec_id)
), $rawLutCtes, exact AS (
  SELECT q.query_id, n2.vec_id, ${dotSql("q.qv", "n2.v")} AS d
  FROM q JOIN n n2 ON n2.vec_id <> q.query_id
), dcut AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("d")} DESC, vec_id) AS rk
    FROM exact) WHERE rk <= $TopK
), estraw AS (
  SELECT q.query_id, cd.vec_id,
    ((l0.l_0 + l1.l_1) + l2.l_2) + l3.l_3 AS est
  FROM q
  JOIN rawcodes cd ON cd.vec_id <> q.query_id
  JOIN rawlut0 l0 ON l0.query_id = q.query_id AND l0.cell_0 = cd.cell_0
  JOIN rawlut1 l1 ON l1.query_id = q.query_id AND l1.cell_1 = cd.cell_1
  JOIN rawlut2 l2 ON l2.query_id = q.query_id AND l2.cell_2 = cd.cell_2
  JOIN rawlut3 l3 ON l3.query_id = q.query_id AND l3.cell_3 = cd.cell_3
), estres AS (
  SELECT q.query_id, cd.vec_id,
    (((g.qc + l0.l_0) + l1.l_1) + l2.l_2) + l3.l_3 AS est
  FROM q
  JOIN rcodes cd ON cd.vec_id <> q.query_id
  JOIN assigned_rq a ON a.vec_id = cd.vec_id
  JOIN qcr g ON g.query_id = q.query_id AND g.cell = a.cell
  JOIN rlut0 l0 ON l0.query_id = q.query_id AND l0.cell_0 = cd.cell_0
  JOIN rlut1 l1 ON l1.query_id = q.query_id AND l1.cell_1 = cd.cell_1
  JOIN rlut2 l2 ON l2.query_id = q.query_id AND l2.cell_2 = cd.cell_2
  JOIN rlut3 l3 ON l3.query_id = q.query_id AND l3.cell_3 = cd.cell_3
), scored_raw AS (
  SELECT x.query_id, x.vec_id, r.est,
    CAST(round(abs(x.d - r.est) * 1000000.0) AS BIGINT) AS err_u
  FROM exact x
  JOIN estraw r ON r.query_id = x.query_id AND r.vec_id = x.vec_id
), scored_residual AS (
  SELECT x.query_id, x.vec_id, r.est,
    CAST(round(abs(x.d - r.est) * 1000000.0) AS BIGINT) AS err_u
  FROM exact x
  JOIN estres r ON r.query_id = x.query_id AND r.vec_id = x.vec_id
), cut_raw AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("est")} DESC, vec_id) AS rk
    FROM scored_raw) WHERE rk <= $TopK
), cut_residual AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("est")} DESC, vec_id) AS rk
    FROM scored_residual) WHERE rk <= $TopK
), hits_raw AS (
  SELECT COUNT(*) AS c FROM cut_raw JOIN dcut USING (query_id, vec_id)
), hits_residual AS (
  SELECT COUNT(*) AS c
  FROM cut_residual JOIN dcut USING (query_id, vec_id)
)
${armSql("raw")}
UNION ALL
${armSql("residual")}
ORDER BY variant"""
  }

  // ------------------------------------------------------------------
  // sim_opq_gain — OPQ-style rotated residual PQ at EQUAL bytes
  // ------------------------------------------------------------------

  /** MMIX-LCG keys behind the OPQ rotation (seed 91 — a fresh stream
    * in the [[PlaneInts]]/[[JlPlaneInts]] discipline). */
  private val OpqKeys: IndexedSeq[Long] = {
    var x = 91L
    IndexedSeq.fill(Dim) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x >>> 1
    }
  }

  /** The OPQ rotation as a SIGNED PERMUTATION: target dim j reads
    * source dim [[OpqPerm]](j) with sign [[OpqSign]](j). A signed
    * permutation is exactly orthogonal (R·Rᵀ = I) with entries in
    * {−1, 0, 1}, so BOTH engines apply the bitwise-identical map
    * (negation and reordering are exact in IEEE-754) — the
    * cross-engine-honest stand-in for OPQ's learned rotation, and the
    * part of OPQ that matters here: REDISTRIBUTING dims across the
    * contiguous sub-vector blocks the quantizer cuts, so no block is
    * stuck with whatever correlation structure the original dim order
    * happened to have.
    */
  val OpqPerm: IndexedSeq[Int] =
    (0 until Dim).sortBy(i => (OpqKeys(i), i)).toIndexedSeq
  val OpqSign: IndexedSeq[Int] =
    OpqPerm.map(i => if (((OpqKeys(i) >> 7) & 1L) == 0L) 1 else -1)

  /** `R·v` for the signed permutation — 64 element_at reads inside
    * whole-stage codegen; no higher-order functions. */
  private def opqRotate(v: Column): Column =
    array((0 until Dim).map { j =>
      val e = element_at(v, OpqPerm(j) + 1)
      if (OpqSign(j) == 1) e else -e
    }: _*)

  /** SQL twin of [[opqRotate]] — generated from the SAME
    * [[OpqPerm]]/[[OpqSign]] constants, the CrossHash one-source
    * rule. */
  private def opqRotateSql(v: String): String =
    (0 until Dim).map { j =>
      val t = s"$v[${OpqPerm(j) + 1}]"
      if (OpqSign(j) == 1) t else s"-$t"
    }.mkString("[", ", ", "]")

  /** OPQ-STYLE rotated residual PQ at EQUAL BYTES — the third arm of
    * the code-quality ladder (raw → residual → rotated residual; read
    * beside [[simResidualGain]]'s two rows, same corpus, same
    * estimator audit): residuals are rotated by the fixed signed
    * permutation BEFORE codebook training and encoding, queries are
    * rotated identically, and since R is orthogonal the estimated
    * inner product still decomposes exactly —
    * `q·x̂ = q·c_cell + Σ_b 〈(Rq)_sub_b, codebook_b[code_b]〉` with
    * the codebooks living in rotated space. Corpus-side state is
    * IDENTICAL to the other arms: cell id + [[PqM]] 3-bit codes.
    *
    * What OPQ (Ge et al., CVPR 2013) learns — a rotation minimizing
    * quantization error — is approximated here by dim-scrambling
    * alone, the part a hash-verified cross-engine audit can carry:
    * the rotation's job of decorrelating the CONTIGUOUS blocks the
    * quantizer cuts is done by redistribution; the learned-rotation
    * refinement would need float SVD iterations no oracle can
    * reproduce bitwise. The row quantifies what that redistribution
    * buys (or costs) on THIS corpus vs the unrotated residual arm.
    *
    * Audit tier: the exact arm is |queries| × corpus by contract
    * (sim_residual_gain's posture); the rotation itself is map-side
    * (64 reads per vector, no shuffle), training is the same
    * broadcast Lloyd machinery, and at 100 TB the audit runs on a
    * sample like every other exact-arm audit.
    */
  def simOpqGain(spark: SparkSession, sfDir: String): DataFrame = {
    val vecs = base(spark, sfDir).cache()
    val q = vecs.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = q
      .join(vecs.select(col("vec_id"), col("v")),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        DotProduct.dot(col("qv"), col("v")).as("d"))
      .cache()
    val dCut = gainCut(exact, "d")
    val cents = trainedCents(vecs)
    val resid = residFrame(vecs, cents).cache()
    // rotated residual frame — materialized as a named column below
    // the training consumers (the plan-hygiene rule: no non-attribute
    // Column re-evaluated per consumer)
    val rres = resid.select(col("vec_id"), col("cell"),
      opqRotate(col("r")).as("r")).cache()
    val trained = pqTrainOn(b => residSub(rres, b), RpqSeedBase)
    val codes = trained.map(_._3).reduce(_.join(_, Seq("vec_id")))
      .join(resid.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val qrot = q.select(col("query_id"),
      opqRotate(col("qv")).as("qv"))
    val luts = pqLuts(qrot, trained)
    // coarse term q·c_cell stays in ORIGINAL space (the cell
    // centroids are not rotated — only the residual the codes encode)
    val qc = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("cent_id").as("cell"),
        DotProduct.dot(col("qv"), col("cv")).as("qc"))
    val est = luts.zipWithIndex.foldLeft(
        q.select(col("query_id"))
          .join(codes, col("vec_id") =!= col("query_id"))) {
        case (p, (l, b)) => p.join(broadcast(l), Seq("query_id", s"cell_$b"))
      }
      .join(broadcast(qc), Seq("query_id", "cell"))
      .select(col("query_id"), col("vec_id"),
        ((((col("qc") + col("l_0")) + col("l_1")) + col("l_2")) +
          col("l_3")).as("est"))
    gainArm(exact, dCut, "opq_residual", est)
  }

  lazy val simOpqGainSql: String = {
    val lutCtes = (0 until PqM).map { b =>
      val lo = b * PqSubDim + 1
      val hi = (b + 1) * PqSubDim
      s"""olut$b AS (
  SELECT q.query_id, c.cent_id AS cell_$b,
    ${dotSql(s"(q.qv[$lo:$hi])", "c.cv")} AS l_$b
  FROM oq q CROSS JOIN ob${b}c$PqIters c
)"""
    }.mkString(", ")
    s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries
), $residPrefixSql, rres AS (
  SELECT vec_id, cell, ${opqRotateSql("r")} AS r FROM resid
),${pqBlockTrainSql("rres", "r", RpqSeedBase, "o")}, ocodes AS (
  SELECT f0.vec_id, f0.cell AS cell_0, f1.cell AS cell_1,
    f2.cell AS cell_2, f3.cell AS cell_3
  FROM ofin0 f0
  JOIN ofin1 f1 USING (vec_id)
  JOIN ofin2 f2 USING (vec_id)
  JOIN ofin3 f3 USING (vec_id)
), oq AS (
  SELECT query_id, ${opqRotateSql("qv")} AS qv FROM q
), $lutCtes, oqc AS (
  SELECT q.query_id, c.cent_id AS cell, ${dotSql("q.qv", "c.cv")} AS qc
  FROM q CROSS JOIN rcents c
), exact AS (
  SELECT q.query_id, n2.vec_id, ${dotSql("q.qv", "n2.v")} AS d
  FROM q JOIN n n2 ON n2.vec_id <> q.query_id
), dcut AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("d")} DESC, vec_id) AS rk
    FROM exact) WHERE rk <= $TopK
), estopq AS (
  SELECT q.query_id, cd.vec_id,
    (((g.qc + l0.l_0) + l1.l_1) + l2.l_2) + l3.l_3 AS est
  FROM q
  JOIN ocodes cd ON cd.vec_id <> q.query_id
  JOIN assigned_rq a ON a.vec_id = cd.vec_id
  JOIN oqc g ON g.query_id = q.query_id AND g.cell = a.cell
  JOIN olut0 l0 ON l0.query_id = q.query_id AND l0.cell_0 = cd.cell_0
  JOIN olut1 l1 ON l1.query_id = q.query_id AND l1.cell_1 = cd.cell_1
  JOIN olut2 l2 ON l2.query_id = q.query_id AND l2.cell_2 = cd.cell_2
  JOIN olut3 l3 ON l3.query_id = q.query_id AND l3.cell_3 = cd.cell_3
), scored_opq AS (
  SELECT x.query_id, x.vec_id, r.est,
    CAST(round(abs(x.d - r.est) * 1000000.0) AS BIGINT) AS err_u
  FROM exact x
  JOIN estopq r ON r.query_id = x.query_id AND r.vec_id = x.vec_id
), cut_opq AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("est")} DESC, vec_id) AS rk
    FROM scored_opq) WHERE rk <= $TopK
), hits_opq AS (
  SELECT COUNT(*) AS c FROM cut_opq JOIN dcut USING (query_id, vec_id)
)
SELECT 'opq_residual' AS variant,
  (SELECT COUNT(*) FROM scored_opq) AS n_pairs,
  CAST((SELECT c FROM hits_opq) AS BIGINT) AS total_hits,
  ${r6Sql(s"""(CAST((SELECT c FROM hits_opq) AS DOUBLE) /
    CAST(${NQueries * TopK}.0 AS DOUBLE))""")} AS recall_at_$TopK,
  ${r6Sql(s"""(CAST((SELECT SUM(err_u) FROM scored_opq) AS DOUBLE) /
    (SELECT COUNT(*) FROM scored_opq) / 1000000.0)""")} AS mean_abs_err,
  ${r6Sql(s"""(CAST((SELECT MAX(err_u) FROM scored_opq) AS DOUBLE) /
    1000000.0)""")} AS max_abs_err"""
  }

  // ------------------------------------------------------------------
  // sim_mips — maximum-inner-product top-k via norm augmentation
  // ------------------------------------------------------------------

  /** Exact max-inner-product top-k (recommendation scoring ranks by
    * RAW dot product, where cosine top-k is wrong whenever corpus
    * norms vary), carrying the classic norm-augmentation reduction in
    * the output: append `sqrt(M² − ‖x‖²)` to every corpus vector
    * (M = corpus max norm, one broadcast row) and MIPS becomes cosine
    * over the augmented space — `aug_cosine = x·q / (M·‖q‖)` is a
    * strictly monotone transform of the dot, so ANY cosine-ANN index
    * in this module (LSH/IVF/PQ) serves MIPS after augmentation;
    * that is the 100 TB path, and the spec pins the rank equality the
    * reduction rests on. Brute-force here is the oracle-checkable
    * anchor, exactly like [[simBruteforceTopk]] for cosine.
    *
    * Scale shape: query side is [[NQueries]] rows broadcast against
    * one corpus scan; the only shuffle is the per-query top-k.
    */
  def simMips(spark: SparkSession, sfDir: String): DataFrame =
    simMipsOf(base(spark, sfDir))

  /** Core MIPS over any (vec_id, v: array<double>, nrm) relation —
    * the fixture's embeddings are unit-normalized (MIPS degenerates
    * to cosine there), so the spec drives this with varying-norm
    * vectors to pin the semantics the operator exists for.
    */
  private[graft] def simMipsOf(e: DataFrame): DataFrame = {
    val m = e.agg(max(sqrt(col("nrm"))).as("mx"))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val dot = DotProduct.dot(col("qv"), col("v"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("d").desc, col("vec_id"))
    q.join(e, col("vec_id") =!= col("query_id"))
      .crossJoin(broadcast(m))
      .select(col("query_id"), col("vec_id"), dot.as("d"),
        (dot / (col("mx") * sqrt(col("qn")))).as("ac"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"), r6(col("d")).as("dot"),
        r6(col("ac")).as("aug_cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val simMipsSql: String = s"""WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), m AS (
  SELECT MAX(sqrt(nrm)) AS mx FROM n
), q AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
  WHERE vec_id < $NQueries
), scored AS (
  SELECT q.query_id, n.vec_id,
    ${dotSql("q.qv", "n.v")} AS d,
    ${dotSql("q.qv", "n.v")} / (m.mx * sqrt(q.qn)) AS ac
  FROM q JOIN n ON n.vec_id <> q.query_id CROSS JOIN m
), ranked AS (
  SELECT query_id, vec_id, d, ac,
    row_number() OVER (PARTITION BY query_id ORDER BY d DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id AS neighbor_id,
  ${r6Sql("d")} AS dot, ${r6Sql("ac")} AS aug_cosine
FROM ranked WHERE rank <= $TopK
ORDER BY query_id, rank"""

  // ------------------------------------------------------------------
  // sim_dim_stats — per-dimension embedding profile (index design input)
  // ------------------------------------------------------------------

  /** Fixed-point scale for dimension moments: component values are
    * folded as floor(x·2^24 + 0.5) integers so the sums are exact
    * under ANY partitioning (the KmFp / cents discipline); the
    * reported moments are of the 2^-24-quantized values, documented.
    */
  val DimFp = 16777216L

  /** Per-dimension profile of the embedding column: n, mean, variance,
    * min, max for each of the 64 components — the input an index
    * designer reads before choosing PQ sub-spaces, IVF cell counts, or
    * quantization ranges (a dead dimension wastes a PQ codebook; a
    * heavy-tailed one breaks symmetric int8). The prof_* family at
    * embedding grain.
    *
    * Shape: posexplode → ONE hash aggregate keyed by pos (64 groups,
    * constant output regardless of corpus size); moments accumulate
    * as decimal(38,0) over the fixed-point integers
    * (cast-before-multiply, the prof_corr envelope: exact to ~1e9
    * vectors per dimension), min/max on the raw doubles are
    * order-free. One float division per statistic at the end.
    */
  def simDimStats(spark: SparkSession, sfDir: String): DataFrame = {
    val M38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val fp = floor(col("x") * lit(DimFp.toDouble) + lit(0.5))
      .cast("long").cast(M38)
    embeddings(spark, sfDir)
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("p", "x")))
      .select((col("p") + 1).cast("int").as("pos"), col("x"), fp.as("v"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"),
        min(col("x")).as("mn"),
        max(col("x")).as("mx"))
      .withColumn("mean", col("s").cast("double") /
        (col("n").cast("double") * lit(DimFp.toDouble)))
      .withColumn("variance",
        (col("n").cast(M38) * col("ss") - col("s") * col("s"))
          .cast("double") /
          (col("n").cast("double") * col("n").cast("double")) /
          (lit(DimFp.toDouble) * lit(DimFp.toDouble)))
      .select(col("pos"), col("n"), r6(col("mean")).as("mean"),
        r6(col("variance")).as("variance"),
        r6(col("mn")).as("min_x"), r6(col("mx")).as("max_x"))
      .orderBy(col("pos"))
  }

  lazy val simDimStatsSql: String = {
    s"""WITH e AS (
  SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), expl AS (
  SELECT CAST(t.pos AS INTEGER) AS pos, v[t.pos] AS x,
    CAST(CAST(floor(v[t.pos] * ${DimFp}.0 + 0.5) AS BIGINT) AS HUGEINT)
      AS fv
  FROM e, UNNEST(range(1, len(v) + 1)) AS t(pos)
), m AS (
  SELECT pos, COUNT(*) AS n, SUM(fv) AS s, SUM(fv * fv) AS ss,
    MIN(x) AS mn, MAX(x) AS mx
  FROM expl GROUP BY pos
), st AS (
  SELECT pos, n, mn, mx,
    ${dblSql("s")} / (CAST(n AS DOUBLE) * ${DimFp}.0) AS mean,
    ${dblSql(s"(CAST(n AS HUGEINT) * ss - s * s)")} /
      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) /
      (${DimFp}.0 * ${DimFp}.0) AS variance
  FROM m
)
SELECT pos, n, ${r6Sql("mean")} AS mean, ${r6Sql("variance")} AS variance,
  ${r6Sql("mn")} AS min_x, ${r6Sql("mx")} AS max_x
FROM st ORDER BY pos"""
  }

  // ------------------------------------------------------------------
  // sim_label_knn — kNN label-consistency census over the embeddings
  // ------------------------------------------------------------------

  /** Neighbors voting per vector. */
  val KnnK = 5

  /** Leave-one-out kNN label-consistency census: every vector is
    * classified by the majority label of its [[KnnK]] nearest cosine
    * neighbors (itself excluded), and the census reports per true
    * label how often the vote agrees — the embedding-quality audit
    * that tells a pipeline whether its vectors separate the classes
    * BEFORE anything trains on them. Votes tie-break deterministically
    * (most votes, then smallest label); neighbor rank ties break on
    * vec_id, and cosines are bitwise-identical cross-engine (shared
    * fold order), so the census is exact.
    *
    * Composition: the pair enumeration IS
    * [[graft.operators.Dedup.allCosinePairs]] (the block-decomposed
    * equi-join — one copy on both engines); the per-vector top-k runs
    * through the custom bounded-heap [[graft.plans.TopK]] operator
    * (fifth oracle-hashed consumer), so no full per-group sort
    * materializes. This query is the exactness BASELINE; the shipped
    * 100 TB substitution is [[simLabelKnnAnn]] — the IVF candidate
    * stream in front of the SAME [[knnCensusTail]], hash-verified
    * against this entry's oracle every round.
    */
  def simLabelKnn(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = graft.operators.Dedup.allCosinePairs(spark, sfDir)
    val edges = pairs
      .select(col("vec_a").as("query_id"), col("vec_b").as("nb"), col("c"))
      .unionByName(pairs
        .select(col("vec_b").as("query_id"), col("vec_a").as("nb"),
          col("c")))
    knnCensusTail(spark, sfDir, edges)
  }

  /** The vote-and-census tail shared by the exact baseline
    * ([[simLabelKnn]]) and the ANN-fronted form ([[simLabelKnnAnn]]):
    * candidate edges (query_id, nb, c UNROUNDED) → per-query top-k
    * through the bounded-heap [[graft.plans.TopK]] operator (no full
    * per-group sort) → majority vote → per-label accuracy census. ONE
    * copy, so the two entries can only differ in candidate generation.
    */
  private def knnCensusTail(spark: SparkSession, sfDir: String,
      edges: DataFrame): DataFrame = {
    val top = graft.plans.TopK.perGroup(edges, Seq("query_id"),
      Seq("c" -> true, "nb" -> false), KnnK)
    val lab = embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val votes = top
      .join(lab.select(col("vec_id").as("nb"), col("label").as("nb_label")),
        "nb")
      .groupBy(col("query_id"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
    val vw = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("nb_label"))
    val pred = votes.withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("query_id"), col("nb_label").as("predicted"))
    pred
      .join(lab.select(col("vec_id").as("query_id"),
        col("label").as("label")), "query_id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("predicted") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        r6(col("n_correct").cast("double") / col("n")).as("accuracy"))
      .orderBy(col("label"))
  }

  lazy val simLabelKnnSql: String =
    graft.operators.Dedup.cosinePairsCteSql + s""", edges AS (
  SELECT vec_a AS query_id, vec_b AS nb, c FROM pairs
  UNION ALL
  SELECT vec_b AS query_id, vec_a AS nb, c FROM pairs
), top AS (
  SELECT query_id, nb,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, nb) AS rn
  FROM edges
), votes AS (
  SELECT t.query_id, l.label AS nb_label, COUNT(*) AS votes
  FROM top t JOIN embeddings l ON l.vec_id = t.nb
  WHERE t.rn <= $KnnK
  GROUP BY t.query_id, l.label
), pred AS (
  SELECT query_id, nb_label AS predicted,
    row_number() OVER (PARTITION BY query_id
      ORDER BY votes DESC, nb_label) AS vr
  FROM votes
)
SELECT e.label AS label, COUNT(*) AS n,
  CAST(SUM(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END) AS BIGINT)
    AS n_correct,
  ${r6Sql("(CAST(SUM(CASE WHEN p.predicted = e.label THEN 1 ELSE 0 END)" +
      " AS DOUBLE) / COUNT(*))")} AS accuracy
FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
WHERE p.vr = 1
GROUP BY e.label ORDER BY label"""

  // ------------------------------------------------------------------
  // sim_label_knn_ann — the IVF-fronted form of the kNN census
  // ------------------------------------------------------------------

  /** Cells probed per vector by [[simLabelKnnAnn]]. EXHAUSTIVE
    * ([[IvfCells]]) in the shipped entry so the candidate set is
    * provably total and the census shares [[simLabelKnnSql]]'s oracle
    * verbatim (the [[graft.operators.Corpus.cpDecontamBloom]]
    * pattern: substitute == exact is hash-verified by the driver every
    * round, not claimed in prose). At 100 TB dial this down (probe ≪
    * cells, cells ≈ √corpus): the serving join then touches
    * probe/cells of the corpus per vector and the recall cost of the
    * dial is measured by [[simIvfTuning]], not guessed.
    */
  val KnnProbe: Int = IvfCells

  /** The 100 TB form of [[simLabelKnn]]: IDENTICAL output (same
    * oracle SQL), but the all-pairs cosine enumeration is replaced by
    * the IVF candidate stream — every vector is assigned to its best
    * coarse-quantizer cell ([[ivfAssign]], a map-side argmax against
    * the broadcast centroid table), every vector probes its
    * [[KnnProbe]] best cells ([[ivfProbeList]]), and only co-probed
    * (vector, candidate) pairs pay exact cosine before the SAME
    * [[knnCensusTail]] the exact baseline runs. Each corpus vector
    * lives in exactly one cell, so a (query, nb) edge appears at most
    * once and no distinct-dedup is needed; cosines share
    * [[graft.functions.DotProduct]]'s fold order with
    * [[graft.operators.Dedup.allCosinePairs]], so surviving edges are
    * bitwise-identical to the exact twin's.
    *
    * Scale shape: centroids broadcast (small by construction), the
    * candidate join is an equi-join on cell id — per-vector work rides
    * probe/cells of the corpus instead of all of it, and the leave-
    * one-out census becomes a knn-join a cluster can actually run.
    */
  def simLabelKnnAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir).cache()
    val cents = seedCents(e, NQueries, IvfCells)
    val assigned = ivfAssign(e, cents)
    val probes = ivfProbeList(
      e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), cents, KnnProbe)
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val edges = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nb"), cos.as("c"))
    knnCensusTail(spark, sfDir, edges)
  }

  /** ANN-census == exact-census is the contract; ONE oracle
    * definition (the [[graft.operators.Corpus.cpDecontamBloomSql]]
    * move).
    */
  lazy val simLabelKnnAnnSql: String = simLabelKnnSql

  // ------------------------------------------------------------------
  // sim_semantic_clusters — embedding-grain duplicate clusters
  // ------------------------------------------------------------------

  /** Semantic duplicate clusters: connected components over the
    * cosine-≥-[[graft.operators.Dedup.CosineMin]] pair graph, at
    * vector grain — the embedding-space twin of the text pipeline's
    * `dd_clusters` and the media pipeline's `mm_clusters`, and the
    * semantic-dedup survivor election step ("keep one doc per
    * meaning", where `dd_exact` keeps one per byte-form). PURE
    * composition: the edges ARE `dd_embed_cosine`'s pairs and the
    * components come from the one CC operator every cluster family
    * shares ([[Dedup.clusters]], property-tested once in
    * PropertySpec).
    *
    * Scale shape: the block-matrix pair join is dd_embed_cosine's
    * documented posture; the CC step moves edge lists (bounded by
    * the near-dup rate), never vectors.
    */
  def simSemanticClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = graft.operators.Dedup.ddEmbedCosine(spark, sfDir)
      .select(col("vec_a"), col("vec_b"))
      .localCheckpoint(true)
    semanticClustersTail(spark, sfDir, pairs)
  }

  /** The cluster/census tail shared by the exact baseline
    * ([[simSemanticClusters]]) and the ANN-fronted form
    * ([[simSemanticClustersAnn]]): threshold-surviving edges →
    * [[Dedup.clusters]] over every vector, keyed `vec_id`. ONE copy,
    * so the entries can only differ in how the near-dup pair graph is
    * discovered.
    */
  private def semanticClustersTail(spark: SparkSession, sfDir: String,
      pairs: DataFrame): DataFrame =
    Dedup.clusters(embeddings(spark, sfDir).select(col("vec_id")), pairs)
      .withColumnRenamed("doc_id", "vec_id")

  /** The one CC closure ([[Dedup.ddClustersClosureSql]]) over a
    * `sel(vec_a, vec_b)` edge CTE that `prefixCtes` ends in, labelling
    * every vector and keyed `vec_id` (the [[semanticClustersTail]]
    * rename). ONE copy, consumed by the exact, the exhaustive-ANN
    * (shared verbatim) and the production-dial cluster oracles.
    */
  private def semanticClustersSqlOf(prefixCtes: String): String = {
    val closure = Dedup.ddClustersClosureSql(
      "  SELECT vec_a AS doc_a, vec_b AS doc_b FROM sel",
      prefixCtes = s"""$prefixCtes, nodes AS (
  SELECT vec_id AS doc_id FROM embeddings
), """, nodes = "nodes")
    s"""SELECT doc_id AS vec_id, cluster_rep, cluster_size, is_survivor
FROM (
$closure
) ORDER BY vec_id"""
  }

  /** Oracle: the shared unthresholded pair CTE, thresholded, under
    * the one CC closure at vec grain. */
  lazy val simSemanticClustersSql: String = semanticClustersSqlOf(
    Dedup.cosinePairsCteSql.stripPrefix("WITH ") + s""", sel AS (
  SELECT vec_a, vec_b FROM pairs
  WHERE c >= ${Dedup.CosineMin}
)""")

  // ------------------------------------------------------------------
  // sim_semantic_clusters_ann — the IVF-fronted form of the clusters
  // ------------------------------------------------------------------

  /** The 100 TB form of [[simSemanticClusters]]: IDENTICAL output
    * (same oracle SQL), but the near-dup pair graph is discovered
    * through the IVF candidate stream instead of `dd_embed_cosine`'s
    * block-matrix enumeration — the THIRD application of the
    * substitute-==-exact pattern ([[simLabelKnnAnn]],
    * [[simHybridRrfAnn]]), closing the last pair-stream family
    * without a shipped production twin: this is the discovery route
    * the CC/census consumers (`sim_semantic_clusters`,
    * `dd_family_overlap`, `cp_dedup_impact`) ride at scale.
    *
    * Candidate generation is [[simLabelKnnAnn]]'s verbatim: every
    * vector assigned to its one best cell ([[ivfAssign]], broadcast
    * centroids, map-side argmax), every vector probes [[KnnProbe]]
    * cells ([[ivfProbeList]]) — EXHAUSTIVE in the shipped entry so
    * the candidate set is provably total and the driver hash-verifies
    * banded == exact every round. Each corpus vector lives in exactly
    * one cell, so `query_id < vec_id` yields each unordered pair at
    * most once; cosines share [[graft.functions.DotProduct]]'s
    * left-to-right fold (and IEEE `x*y = y*x` bitwise) with
    * [[graft.operators.Dedup.ddEmbedCosine]], so the surviving edge
    * set is bitwise-identical and the SAME [[semanticClustersTail]]
    * can only produce the same clusters. A zero-norm vector's NULL
    * cosine fails `>= CosineMin` on both routes (it stays a CC
    * singleton from the node relation, never an edge).
    *
    * Scale shape: centroids broadcast; the candidate join is an
    * equi-join on cell id, so at a production `probe ≪ cells` dial
    * (cells ≈ √corpus) pair discovery touches probe/cells of the
    * corpus per vector instead of the block-matrix's all-pairs; the
    * CC tail then shuffles edge lists bounded by the near-dup rate,
    * never vectors. The recall cost of the dial is measured by
    * [[simIvfTuning]], not guessed.
    */
  def simSemanticClustersAnn(spark: SparkSession, sfDir: String): DataFrame =
    semanticClustersTail(spark, sfDir,
      semanticClusterPairsAnn(spark, sfDir, KnnProbe).localCheckpoint(true))

  /** The IVF-discovered threshold-surviving pair graph at a given
    * probe dial — the shipped entry runs it EXHAUSTIVE ([[KnnProbe]]);
    * the edge recall each smaller dial retains is measured in SCALE.md
    * "Round-11 additions" (cluster-grain probe dial), so the production
    * probe ≪ cells choice is a measured trade, not a guess.
    */
  private[graft] def semanticClusterPairsAnn(spark: SparkSession,
      sfDir: String, probe: Int, cells: Int = IvfCells): DataFrame = {
    val e = base(spark, sfDir).cache()
    val cents = seedCents(e, NQueries, cells)
    val assigned = ivfAssign(e, cents)
    val probes = ivfProbeList(
      e.select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn")), cents, probe)
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") < col("vec_id"))
      .select(col("query_id").as("vec_a"), col("vec_id").as("vec_b"),
        cos.as("c"))
      .filter(col("c") >= graft.operators.Dedup.CosineMin)
      .select(col("vec_a"), col("vec_b"))
  }

  /** ANN-clusters == exact-clusters is the contract; ONE oracle
    * definition (the [[simLabelKnnAnnSql]] move).
    */
  lazy val simSemanticClustersAnnSql: String = simSemanticClustersSql

  /** [[simSemanticClustersAnn]] at ANY (cells, probe) dial — the
    * ScaleSoak entry point for MEASURING the index-granularity rule
    * (cells ≈ √corpus, probe ≪ cells): the shipped query pins
    * [[IvfCells]]/exhaustive probe for the oracle proof; this variant
    * lets the soak grow the cell count with the derived corpus and
    * hold the probe COUNT fixed, which is what turns per-vector
    * candidate work from n/cells (linear at pinned cells) into
    * ~probe·√n. Timing-only by design: a non-exhaustive probe trades
    * edge recall, and that trade is measured separately
    * (SCALE.md "Round-11 additions", sim_ivf_tuning) — the soak
    * measures the COST side of the same dial.
    */
  private[graft] def simSemanticClustersAnnCfg(spark: SparkSession,
      sfDir: String, cells: Int, probe: Int): DataFrame =
    semanticClustersTail(spark, sfDir,
      semanticClusterPairsAnn(spark, sfDir, probe, cells)
        .localCheckpoint(true))

  // ------------------------------------------------------------------
  // sim_semantic_clusters_dial — the PRODUCTION probe ≪ cells posture
  // ------------------------------------------------------------------

  /** The cluster family's production probe dial (cells/2 — the dial
    * table's floor for the cluster consumer).
    */
  val ClusterDialProbe: Int = IvfCells / 2

  /** The clusters the production dial ACTUALLY produces — the third
    * member of the cluster-discovery trio, and the one a deployment
    * runs: [[simSemanticClusters]] is the exact baseline,
    * [[simSemanticClustersAnn]] proves the IVF candidate stream total
    * at exhaustive probe (oracle shared verbatim), and this entry
    * hash-verifies the NON-exhaustive path itself — every vector
    * probes its [[ClusterDialProbe]] best cells, pairs are discovered
    * as (query, assigned) per probed cell with `query < vec` (a pair
    * survives iff its LOWER id probes the higher id's cell — the
    * same one-sided contract on both engines), cosines share the
    * [[graft.functions.DotProduct]] fold, and the SAME CC tail
    * labels the result. Its own oracle SQL (IVF probe list + cell
    * join + threshold + the shared recursive closure) means the
    * recall TRADE of the dial — which edges the shallow probe keeps —
    * is now itself driver-hash-pinned every round, not only measured
    * in aggregate (SCALE.md "Round-11 additions").
    *
    * Scale shape: identical to the exhaustive twin except the
    * candidate join touches probe/cells of the corpus per vector —
    * this is the plan whose granularity rule ScaleSoak measures
    * (α(10→30) 1.04 → 0.40 fixed vs √-grown cells at this probe).
    */
  def simSemanticClustersDial(spark: SparkSession, sfDir: String): DataFrame =
    semanticClustersTail(spark, sfDir,
      semanticClusterPairsAnn(spark, sfDir, ClusterDialProbe)
        .localCheckpoint(true))

  /** Oracle: IVF core + full-corpus probe list at the dial, under
    * the one CC closure.
    */
  lazy val simSemanticClustersDialSql: String =
    semanticClustersSqlOf(s"""$ivfCoreCtesSql, probes_d AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, cent_id AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
      ORDER BY cs DESC, cent_id) AS pr FROM scored)
  WHERE pr <= $ClusterDialProbe
), sel AS (
  SELECT p.query_id AS vec_a, a.vec_id AS vec_b
  FROM probes_d p JOIN assigned a ON a.cell = p.cell
    AND p.query_id < a.vec_id
  WHERE ${dotSql("p.qv", "a.v")} / sqrt(p.qn * a.nrm) >=
    ${Dedup.CosineMin}
)""")

  // ------------------------------------------------------------------
  // sim_embed_drift — per-dimension train/val embedding drift
  // ------------------------------------------------------------------

  /** |z| at or above this flags a drifting dimension. */
  val EmbedDriftZ = 3.0

  /** Per-dimension embedding drift between the train and val sides of
    * the engine's hash split: Welch z on each coordinate's mean —
    * does the split (or, in deployment, a new ingest batch vs the
    * reference corpus) shift the embedding distribution anywhere? The
    * third member of the drift family: PSI for event values
    * (`prof_drift`), KS for document lengths (`prof_ks`), and this
    * for the vectors everything downstream trains on. A drifting
    * dimension invalidates IVF centroids and PQ codebooks
    * (`sim_kmeans`/`sim_pq`) before it hurts the model.
    *
    * Determinism: coordinates quantize to the [[DimFp]] fixed-point
    * lattice (the `sim_dim_stats` discipline), so per-side moments are
    * exact decimal(38,0) integers; mean/variance/z are the one final
    * float chain, r6'd, with the oracle's HUGEINT→VARCHAR→DOUBLE
    * round-trip keeping the decimal→double rounding identical.
    *
    * Scale shape: posexplode + one partial-agg'd (pos, side) shuffle —
    * the shuffle carries 2·dims moment rows, never vectors; the join
    * and the z arithmetic run on the dims-bounded relation.
    */
  def simEmbedDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val M38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val fp = floor(col("x") * lit(DimFp.toDouble) + lit(0.5))
      .cast("long").cast(M38)
    val side = graft.operators.Corpus.splitLabelExpr(
      graft.operators.Corpus.splitBucketExpr(col("vec_id")))
    val m = embeddings(spark, sfDir)
      .select(col("vec_id"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("p", "x")))
      .select((col("p") + 1).cast("int").as("pos"), fp.as("v"),
        side.as("split"))
      .filter(col("split").isin("train", "val"))
      .groupBy(col("pos"), col("split"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"))
    def stats(tag: String) = m.filter(col("split") === tag)
      .select(col("pos"), col("n").as(s"n_$tag"), col("s").as(s"s_$tag"),
        col("ss").as(s"ss_$tag"))
    def mean(tag: String) = col(s"s_$tag").cast("double") /
      (col(s"n_$tag").cast("double") * lit(DimFp.toDouble))
    def variance(tag: String) =
      (col(s"n_$tag").cast(M38) * col(s"ss_$tag") -
        col(s"s_$tag") * col(s"s_$tag")).cast("double") /
        (col(s"n_$tag").cast("double") * col(s"n_$tag").cast("double")) /
        (lit(DimFp.toDouble) * lit(DimFp.toDouble))
    val se2 = variance("train") / col("n_train") +
      variance("val") / col("n_val")
    val z = (mean("train") - mean("val")) / sqrt(se2)
    stats("train").join(stats("val"), Seq("pos"))
      .select(col("pos"), col("n_train").cast("long").as("n_train"),
        col("n_val").cast("long").as("n_val"),
        r6(mean("train")).as("mean_train"),
        r6(mean("val")).as("mean_val"),
        when(se2 > 0.0, r6(z)).as("z"),
        coalesce(when(se2 > 0.0, abs(z) >= EmbedDriftZ), lit(false))
          .as("is_drift"))
      .orderBy(col("pos"))
  }

  lazy val simEmbedDriftSql: String = {
    def mean(t: String) =
      s"(${dblSql(s"s_$t")} / (CAST(n_$t AS DOUBLE) * ${DimFp}.0))"
    def variance(t: String) =
      s"(${dblSql(s"(CAST(n_$t AS HUGEINT) * ss_$t - s_$t * s_$t)")} / " +
        s"(CAST(n_$t AS DOUBLE) * CAST(n_$t AS DOUBLE)) / " +
        s"(${DimFp}.0 * ${DimFp}.0))"
    val se2 = s"(${variance("train")} / n_train + ${variance("val")} / n_val)"
    val z = s"((${mean("train")} - ${mean("val")}) / sqrt($se2))"
    s"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), expl AS (
  SELECT vec_id, CAST(t.pos AS INTEGER) AS pos,
    CAST(CAST(floor(v[t.pos] * ${DimFp}.0 + 0.5) AS BIGINT) AS HUGEINT)
      AS fv,
    ${graft.operators.Corpus.splitLabelSql
        .replace("doc_id", "vec_id")} AS split
  FROM e, UNNEST(range(1, len(v) + 1)) AS t(pos)
), m AS (
  SELECT pos, split, COUNT(*) AS n, SUM(fv) AS s, SUM(fv * fv) AS ss
  FROM expl WHERE split IN ('train', 'val') GROUP BY pos, split
), j AS (
  SELECT a.pos,
    a.n AS n_train, a.s AS s_train, a.ss AS ss_train,
    b.n AS n_val, b.s AS s_val, b.ss AS ss_val
  FROM m a JOIN m b ON a.pos = b.pos
    AND a.split = 'train' AND b.split = 'val'
)
SELECT pos, CAST(n_train AS BIGINT) AS n_train,
  CAST(n_val AS BIGINT) AS n_val,
  ${r6Sql(mean("train"))} AS mean_train,
  ${r6Sql(mean("val"))} AS mean_val,
  CASE WHEN $se2 > 0.0 THEN ${r6Sql(z)} END AS z,
  COALESCE(CASE WHEN $se2 > 0.0 THEN abs($z) >= $EmbedDriftZ END, false)
    AS is_drift
FROM j ORDER BY pos"""
  }

  // ------------------------------------------------------------------
  // sim_rp — random-projection (Johnson–Lindenstrauss) distortion
  // ------------------------------------------------------------------

  /** Reduced dimensionality probed by [[simRp]]. */
  val JlDim = 16

  /** Deterministic JL projection rows: [[JlDim]] × [[Dim]] dyadic
    * rationals k/1024 from the same MMIX LCG as [[PlaneInts]], seeded
    * differently — exactly representable, so both engines hold the
    * identical matrix.
    */
  val JlPlaneInts: Seq[Seq[Long]] = {
    var x = 77L
    def next(): Long = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 11) % 1024) - 512
    }
    Seq.fill(JlDim)(Seq.fill(Dim)(next()))
  }

  private def jlPlanes: Seq[Seq[Double]] = JlPlaneInts.map(_.map(_ / 1024.0))

  /** Random-projection distortion census: project every embedding to
    * [[JlDim]] dimensions with a fixed dyadic JL matrix and measure,
    * per query vector, what the 4× compression costs — mean/max
    * |cos₆₄ − cos₁₆| over the corpus and the top-[[TopK]] recall of
    * the projected ranking against the exact one. THE dial-reading
    * before shipping reduced-dimension vectors to the ANN tier:
    * JL says distances survive w.h.p.; this measures it on YOUR
    * corpus instead of trusting the lemma's constants.
    *
    * Determinism: both cosines are the pinned sequential-fold dot
    * products; the absolute gap quantizes to micro-units
    * (round-half-up both engines) so the census aggregates are
    * integer folds; both rankings rank r6'd cosines with vec_id
    * tie-break (the engine's k-cut rule).
    *
    * Scale shape: projection is ONE map-side pass (16 codegen'd dot
    * products per vector — the scan's cost, no shuffle); the pair
    * stream is |queries| × corpus like the exact baseline it audits,
    * and at 100 TB the same IVF candidate substitution applies. The
    * scored relation is computed once and cached for the census and
    * the two rank cuts.
    */
  def simRp(spark: SparkSession, sfDir: String): DataFrame = {
    val proj = array(jlPlanes.map(p =>
      DotProduct.dot(col("v"), typedlit(p))): _*)
    val ep = base(spark, sfDir)
      .select(col("vec_id"), col("v"), col("nrm"), proj.as("pv"))
      .select(col("vec_id"), col("v"), col("nrm"), col("pv"),
        DotProduct.dot(col("pv"), col("pv")).as("pn"))
    val q = ep.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("pv").as("qpv"), col("pn").as("qpn"))
    val c64 = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val c16 = DotProduct.dot(col("qpv"), col("pv")) /
      sqrt(col("qpn") * col("pn"))
    val scored = q.join(ep, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), c64.as("c64"), c16.as("c16"),
        round(abs(c64 - c16) * 1000000.0).cast("long").as("err_u"))
      .cache()
    val stats = scored.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("err_u")).cast("long").as("serr"),
      max(col("err_u")).as("mxe"))
    def cut(c: String) = scored
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(r6(col(c)).desc, col("vec_id"))))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("vec_id"))
    val overlap = cut("c64").join(cut("c16"), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
    stats.join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("n_pairs"),
        r6(coalesce(col("hits"), lit(0L)).cast("double") / TopK.toDouble)
          .as(s"recall_at_$TopK"),
        r6(col("serr").cast("double") / col("n_pairs") / 1000000.0)
          .as("mean_abs_err"),
        r6(col("mxe").cast("double") / 1000000.0).as("max_abs_err"))
      .orderBy(col("query_id"))
  }

  lazy val simRpSql: String = {
    val planeSql = JlPlaneInts.map { p =>
      s"list_transform(CAST(${p.mkString("[", ", ", "]")} AS BIGINT[]), " +
        "k -> k / CAST(1024.0 AS DOUBLE))"
    }
    val pvSql = planeSql.map(pl => dotSql("v", pl)).mkString("[\n    ", ",\n    ", "\n  ]")
    s"""
WITH ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), en AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm, $pvSql AS pv FROM ev
), pe AS (
  SELECT vec_id, v, nrm, pv, ${dotSql("pv", "pv")} AS pn FROM en
), qv AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn, pv AS qpv, pn AS qpn
  FROM pe WHERE vec_id < $NQueries
), scored AS (
  SELECT q.query_id, n.vec_id,
    ${dotSql("q.qv", "n.v")} / sqrt(q.qn * n.nrm) AS c64,
    ${dotSql("q.qpv", "n.pv")} / sqrt(q.qpn * n.pn) AS c16
  FROM qv q JOIN pe n ON n.vec_id <> q.query_id
), errs AS (
  SELECT query_id, vec_id, c64, c16,
    CAST(round(abs(c64 - c16) * 1000000.0) AS BIGINT) AS err_u
  FROM scored
), stats AS (
  SELECT query_id, COUNT(*) AS n_pairs,
    CAST(SUM(err_u) AS BIGINT) AS serr, MAX(err_u) AS mxe
  FROM errs GROUP BY query_id
), cut64 AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("c64")} DESC, vec_id) AS rk
    FROM errs
  ) WHERE rk <= $TopK
), cut16 AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
      ORDER BY ${r6Sql("c16")} DESC, vec_id) AS rk
    FROM errs
  ) WHERE rk <= $TopK
), overlap AS (
  SELECT query_id, COUNT(*) AS hits
  FROM cut64 JOIN cut16 USING (query_id, vec_id)
  GROUP BY query_id
)
SELECT s.query_id, s.n_pairs,
  ${r6Sql(s"(CAST(COALESCE(o.hits, 0) AS DOUBLE) / " +
      s"CAST($TopK.0 AS DOUBLE))")}
    AS recall_at_$TopK,
  ${r6Sql("(CAST(s.serr AS DOUBLE) / s.n_pairs / 1000000.0)")}
    AS mean_abs_err,
  ${r6Sql("(CAST(s.mxe AS DOUBLE) / 1000000.0)")} AS max_abs_err
FROM stats s LEFT JOIN overlap o ON o.query_id = s.query_id
ORDER BY s.query_id"""
  }

  // ------------------------------------------------------------------
  // sim_hybrid_rrf — hybrid lexical+semantic retrieval (RRF fusion)
  // ------------------------------------------------------------------

  /** Query-terms kept per anchor (Lucene MoreLikeThis's top-tf cut). */
  val MltTerms = 10

  /** Candidates kept per arm before fusion. */
  val RrfDepth = 20

  /** Fused results returned per query. */
  val RrfK = 10

  /** The standard RRF dampening constant. */
  val RrfC = 60

  /** Hybrid query-by-example retrieval: for each of the [[NQueries]]
    * anchor documents, a LEXICAL ranking (BM25 over the anchor's top
    * [[MltTerms]] tf terms — Lucene's MoreLikeThis form of `ta_bm25`)
    * and a SEMANTIC ranking (exact cosine over the aligned embedding,
    * the `sim_bruteforce_topk` scorer) are fused by reciprocal-rank
    * fusion: `score = Σ 1/(60 + rank)` over the arms that retrieved
    * the document. The full hybrid stack ta_bm25's docstring promises
    * — copy-edits surface through the lexical arm, paraphrases through
    * the semantic arm, and RRF needs no score calibration between
    * them, which is exactly why production retrieval uses it.
    *
    * Determinism: both arms rank their r6'd scores with doc_id
    * tie-break (the ta_bm25 cut rule), so each arm's rank column is
    * engine-identical; the fused score is a fixed two-term float sum
    * of exact rank reciprocals, r6'd and ranked with the same
    * tie-break. BM25 folds per (query, doc) IN TERM ORDER.
    *
    * Scale shape: the lexical arm rides the shared (doc, term)
    * partial-agg relation — everything query-specific (top-tf term
    * election, the ≤ q·m term table, df/idf) is broadcast-size; the
    * scored relation is docs-matching-any-query-term × matched terms.
    * The semantic arm is |queries| × corpus exact cosine — the
    * correctness baseline; at 100 TB the IVF candidate stream
    * (`sim_label_knn_ann`'s front) substitutes for it unchanged, the
    * fusion never sees the difference. Fusion itself joins two
    * ≤ q·[[RrfDepth]]-row lists.
    */
  def simHybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val cosc = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val edges = q.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"), cosc.as("c"))
    hybridRrfFuse(spark, sfDir, edges)
  }

  /** [[simHybridRrf]]'s 100 TB form: IDENTICAL output (same oracle
    * SQL — the `sim_label_knn_ann` contract), with the semantic arm's
    * all-pairs enumeration replaced by the IVF candidate stream at
    * exhaustive probe ([[KnnProbe]] = [[IvfCells]], so the candidate
    * set is provably total and the fused ranking cannot differ). At
    * cluster scale the probe dial drops below the cell count and the
    * semantic arm pays probe/cells of the corpus — RRF consumes
    * ranks, so the fusion tail is byte-identical either way.
    */
  def simHybridRrfAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir).cache()
    val cents = seedCents(e, NQueries, IvfCells)
    val assigned = ivfAssign(e, cents)
    val probes = ivfProbeList(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn")), cents, KnnProbe)
    val cosc = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val edges = probes.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"), cosc.as("c"))
    hybridRrfFuse(spark, sfDir, edges)
  }

  /** ANN-hybrid == exact-hybrid is the contract; ONE oracle
    * definition (the cp_decontam_bloom move).
    */
  def simHybridRrfAnnSql: String = simHybridRrfSql

  /** The fusion tail shared by [[simHybridRrf]] and
    * [[simHybridRrfAnn]]: the lexical MoreLikeThis-BM25 arm, the
    * r6-ranked cut of the given semantic edge stream (query_id,
    * doc_id, raw cosine `c`), and the RRF fusion — ONE copy, so the
    * exact and ANN forms can never drift.
    */
  private def hybridRrfFuse(spark: SparkSession, sfDir: String,
      semEdges: DataFrame): DataFrame = {
    import TextAnalysis.{docs, tokens, Bm25K1, Bm25B}
    // NOT cached (round-19 A/B negative): td feeds four consumers,
    // but a .cache() here measured sim_hybrid_rrf 2.33 → 3.77 s and
    // the _ann twin 2.35 → 3.70 s in the full sweep — the columnar
    // materialization barrier plus losing the per-consumer column
    // pruning (each consumer reads a narrow slice of td) costs more
    // than the recomputed tokenize. The cp_dsir lesson at corpus
    // grain: multi-consumer ≠ cache-profitable.
    val td = docs(spark, sfDir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dl = td.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_tokens"))
    // each anchor's MoreLikeThis query: its top-m terms by tf
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("tf").desc, col("term"))
    val qterms = td.filter(col("doc_id") < NQueries)
      .select(col("doc_id").as("query_id"), col("term"), col("tf"))
      .withColumn("r", row_number().over(wA))
      .filter(col("r") <= MltTerms)
      .select(col("query_id"), col("term"))
    val qvocab = qterms.select(col("term")).distinct()
    val idf = td.join(broadcast(qvocab), Seq("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))).as("idf"))
    val avgdl = col("total_tokens").cast("double") / col("n_docs")
    val norm = lit(1.0 - Bm25B) +
      lit(Bm25B) * (col("dl").cast("double") / avgdl)
    val termScore = (col("idf") * (col("tf") * lit(Bm25K1 + 1.0))) /
      (col("tf") + lit(Bm25K1) * norm)
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val lex = td.join(broadcast(qterms), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(idf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("term"),
        termScore.as("s"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(aggregate(array_sort(collect_list(struct(col("term"), col("s")))),
        lit(0.0), (acc, x) => acc + x.getField("s")).as("raw"))
      .select(col("query_id"), col("doc_id"), r6(col("raw")).as("score"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    val wSem = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("doc_id"))
    val sem = semEdges
      .select(col("query_id"), col("doc_id"), r6(col("c")).as("c"))
      .withColumn("sem_rank", row_number().over(wSem))
      .filter(col("sem_rank") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("sem_rank"))
    val rrf =
      coalesce(lit(1.0) / (lit(RrfC) + col("lex_rank")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(RrfC) + col("sem_rank")), lit(0.0))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    lex.join(sem, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"), col("lex_rank"),
        col("sem_rank"), r6(rrf).as("score"))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= RrfK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("lex_rank"), col("sem_rank"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val simHybridRrfSql: String = {
    import TextAnalysis.{Bm25K1, Bm25B}
    val fold = """list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
    list(s ORDER BY term)), (acc, x) -> acc + x)"""
    def rrfTerm(r: String) =
      s"COALESCE(CAST(1.0 AS DOUBLE) / ($RrfC + $r), CAST(0.0 AS DOUBLE))"
    s"""
WITH tok AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), td AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term <> '' GROUP BY doc_id, term
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM td GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl
), qterms AS (
  SELECT query_id, term FROM (
    SELECT doc_id AS query_id, term,
      row_number() OVER (PARTITION BY doc_id
        ORDER BY tf DESC, term) AS r
    FROM td WHERE doc_id < $NQueries
  ) WHERE r <= $MltTerms
), idf AS (
  SELECT term,
    ln(CAST(1.0 AS DOUBLE) +
       (n_docs - df + CAST(0.5 AS DOUBLE)) /
       (df + CAST(0.5 AS DOUBLE))) AS idf
  FROM (SELECT term, COUNT(*) AS df FROM td
        WHERE term IN (SELECT term FROM qterms) GROUP BY term)
  CROSS JOIN stats
), lex_scored AS (
  SELECT q.query_id, t.doc_id, t.term,
    (i.idf * (t.tf * CAST(${Bm25K1 + 1.0} AS DOUBLE))) /
      (t.tf + CAST($Bm25K1 AS DOUBLE) *
        (CAST(${1.0 - Bm25B} AS DOUBLE) + CAST($Bm25B AS DOUBLE) *
         (CAST(dl.dl AS DOUBLE) /
          (CAST(st.total_tokens AS DOUBLE) / st.n_docs)))) AS s
  FROM td t
  JOIN qterms q ON q.term = t.term AND t.doc_id <> q.query_id
  JOIN idf i ON i.term = t.term
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN stats st
), lex AS (
  SELECT query_id, doc_id, lex_rank FROM (
    SELECT query_id, doc_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY score DESC, doc_id) AS lex_rank
    FROM (
      SELECT query_id, doc_id,
        ${r6Sql(fold)} AS score
      FROM lex_scored GROUP BY query_id, doc_id
    )
  ) WHERE lex_rank <= $RrfDepth
), ev AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), en AS (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM ev
), eq AS (
  SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM en
  WHERE vec_id < $NQueries
), sem AS (
  SELECT query_id, doc_id, sem_rank FROM (
    SELECT query_id, doc_id,
      row_number() OVER (PARTITION BY query_id
        ORDER BY c DESC, doc_id) AS sem_rank
    FROM (
      SELECT q.query_id, n.vec_id AS doc_id,
        ${r6Sql(s"""(${dotSql("q.qv", "n.v")} / sqrt(q.qn * n.nrm))""")}
          AS c
      FROM eq q JOIN en n ON n.vec_id <> q.query_id
    )
  ) WHERE sem_rank <= $RrfDepth
), fused AS (
  SELECT query_id, doc_id, lex_rank, sem_rank,
    ${r6Sql(s"(${rrfTerm("lex_rank")} + ${rrfTerm("sem_rank")})")}
      AS score
  FROM lex FULL JOIN sem USING (query_id, doc_id)
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id,
  CAST(lex_rank AS INTEGER) AS lex_rank,
  CAST(sem_rank AS INTEGER) AS sem_rank, score
FROM (
  SELECT query_id, doc_id, lex_rank, sem_rank, score,
    row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id) AS rank
  FROM fused
) WHERE rank <= $RrfK
ORDER BY query_id, rank"""
  }

  // ------------------------------------------------------------------
  // sim_hard_negatives — contrastive-training pair mining
  // ------------------------------------------------------------------

  /** Hard negatives kept per anchor. */
  val HnK = 5

  /** HARD-NEGATIVE MINING — the data-prep step contrastive embedding
    * training runs over the whole corpus: per anchor (the NQueries
    * labeled query vectors), the [[HnK]] highest-cosine vectors with a
    * DIFFERENT label (the negatives that actually move the loss — easy
    * negatives teach nothing), the single nearest SAME-label vector
    * (the positive the batch pairs), and the margin pos−neg the mining
    * curriculum thresholds on (a negative above the positive = margin
    * < 0 = the pair a hard-mining batch wants most).
    *
    * Scale shape: one scored pass (anchors × corpus — anchors are the
    * fixed NQueries broadcast side), two windows over the same
    * per-anchor partition. At 100 TB anchors are a training batch, not
    * 8 — the plan is the same broadcast-join + per-anchor top-k
    * (TakeOrderedAndProject semantics per key); the corpus is never
    * self-joined.
    */
  def simHardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val e = embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", DotProduct.dot(col("v"), col("v")))
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("v").as("qv"), col("nrm").as("qn"))
    val cos = DotProduct.dot(col("qv"), col("v")) /
      sqrt(col("qn") * col("nrm"))
    val scored = q.join(e, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qlabel"), col("vec_id"),
        col("label"), cos.as("c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("c").desc, col("vec_id"))
    val negs = scored.filter(col("label") =!= col("qlabel"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= HnK)
    val pos = scored.filter(col("label") === col("qlabel"))
      .withColumn("prk", row_number().over(w))
      .filter(col("prk") === 1)
      .select(col("query_id"), col("vec_id").as("pos_id"),
        col("c").as("pc"))
    negs.join(pos, Seq("query_id"))
      .select(col("query_id"), col("rank"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"),
        r6(col("c")).as("neg_cosine"),
        col("pos_id"), r6(col("pc")).as("pos_cosine"),
        r6(col("pc") - col("c")).as("margin"))
      .orderBy(col("query_id"), col("rank"))
  }

  lazy val simHardNegativesSql: String = s"""WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS (
  SELECT vec_id, label, v, ${dotSql("v", "v")} AS nrm FROM e
), q AS (
  SELECT vec_id AS query_id, label AS qlabel, v AS qv, nrm AS qn FROM n
  WHERE vec_id < $NQueries
), scored AS (
  SELECT q.query_id, q.qlabel, n.vec_id, n.label,
    ${dotSql("q.qv", "n.v")} / sqrt(q.qn * n.nrm) AS c
  FROM q JOIN n ON n.vec_id <> q.query_id
), negs AS (
  SELECT query_id, vec_id, label, c,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
      AS rank
  FROM scored WHERE label <> qlabel
), pos AS (
  SELECT query_id, vec_id AS pos_id, c AS pc,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
      AS prk
  FROM scored WHERE label = qlabel
)
SELECT g.query_id, CAST(g.rank AS INTEGER) AS rank, g.vec_id AS neg_id,
  g.label AS neg_label, ${r6Sql("g.c")} AS neg_cosine,
  p.pos_id, ${r6Sql("p.pc")} AS pos_cosine,
  ${r6Sql("(p.pc - g.c)")} AS margin
FROM negs g JOIN pos p ON p.query_id = g.query_id AND p.prk = 1
WHERE g.rank <= $HnK
ORDER BY g.query_id, g.rank"""

  // ------------------------------------------------------------------
  // sim_mrl — matryoshka prefix-truncation recall sweep
  // ------------------------------------------------------------------

  /** Embedding prefix lengths swept (full dim first = the recall-1.0
    * sanity row).
    */
  val MrlDims = Seq(64, 32, 16, 8)

  /** MATRYOSHKA TRUNCATION SWEEP — the serving-cost dial
    * matryoshka-trained embeddings expose: score with only the first d
    * dimensions and measure recall@[[TopK]] against the full-dim
    * ground truth, per prefix length and anchor. The readout a serving
    * owner acts on: the d where recall collapses is the cheapest index
    * the corpus supports (dot-product cost and index bytes both scale
    * ∝ d). Ground truth is the full-dim exact top-k (the
    * sim_bruteforce_topk contract); the d=64 row is recall 1.0 by
    * construction — the sweep's built-in vacuity guard.
    *
    * Scale: one scored pass per prefix (anchors broadcast), window
    * top-k per (d, anchor); nothing corpus-quadratic.
    */
  def simMrl(spark: SparkSession, sfDir: String): DataFrame = {
    val e = base(spark, sfDir)
    def topkAt(d: Int): DataFrame = {
      val pv = slice(col("v"), 1, d)
      val ed = e.select(col("vec_id"), pv.as("pv"))
        .withColumn("pn", graft.functions.DotProduct.dot(col("pv"), col("pv")))
      val qd = ed.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("pv").as("qv"),
          col("pn").as("qn"))
      val cos = graft.functions.DotProduct.dot(col("qv"), col("pv")) /
        sqrt(col("qn") * col("pn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("c").desc, col("vec_id"))
      qd.join(ed, col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), cos.as("c"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TopK)
        .select(lit(d).as("prefix_dim"), col("query_id"), col("vec_id"))
    }
    val truth = topkAt(64)
      .select(col("query_id").as("tq"), col("vec_id").as("tv"))
    val cands = MrlDims.map(topkAt).reduce(_ unionAll _)
    // LEFT join + flag count, not a semi-join: a (prefix, anchor) whose
    // candidates ALL miss must still report recall 0, not vanish
    cands.join(truth,
        cands("query_id") === col("tq") && cands("vec_id") === col("tv"),
        "left")
      .groupBy(col("prefix_dim"), col("query_id"))
      .agg(sum(when(col("tv").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(col("prefix_dim"), col("query_id"), col("n_hits"),
        r6(col("n_hits").cast("double") / TopK).as("recall"))
      .orderBy(col("prefix_dim"), col("query_id"))
  }

  lazy val simMrlSql: String = {
    def topkAt(d: Int, tag: String): String = s"""e$tag AS (
  SELECT vec_id, v[1:$d] AS pv FROM ebase
), n$tag AS (
  SELECT vec_id, pv, ${dotSql("pv", "pv")} AS pn FROM e$tag
), q$tag AS (
  SELECT vec_id AS query_id, pv AS qv, pn AS qn FROM n$tag
  WHERE vec_id < $NQueries
), r$tag AS (
  SELECT query_id, vec_id,
    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
      AS rank
  FROM (
    SELECT q.query_id, n.vec_id,
      ${dotSql("q.qv", "n.pv")} / sqrt(q.qn * n.pn) AS c
    FROM q$tag q JOIN n$tag n ON n.vec_id <> q.query_id
  )
), c$tag AS (
  SELECT $d AS prefix_dim, query_id, vec_id FROM r$tag WHERE rank <= $TopK
)"""
    val per = MrlDims.map(d => topkAt(d, s"d$d")).mkString(", ")
    val union = MrlDims.map(d => s"SELECT * FROM cd$d")
      .mkString("\n  UNION ALL ")
    s"""WITH ebase AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), $per, cands AS (
  $union
), truth AS (
  SELECT query_id AS tq, vec_id AS tv FROM cd64
)
SELECT c.prefix_dim, c.query_id,
  CAST(SUM(CASE WHEN t.tv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_hits,
  ${r6Sql(s"""(CAST(SUM(CASE WHEN t.tv IS NOT NULL THEN 1 ELSE 0 END)
    AS DOUBLE) / $TopK)""")} AS recall
FROM cands c LEFT JOIN truth t ON t.tq = c.query_id AND t.tv = c.vec_id
GROUP BY c.prefix_dim, c.query_id
ORDER BY c.prefix_dim, c.query_id"""
  }

  // ------------------------------------------------------------------
  // sim_kcenter — greedy k-center coreset selection (Gonzalez)
  // ------------------------------------------------------------------

  /** Centers selected by the greedy sweep. */
  val KCenterK = 8

  /** GREEDY K-CENTER CORESET — the diverse-subset selection pass
    * training-data pipelines run when they want COVERAGE rather than
    * volume (prototype selection, eval-set seeding, dedup-aware
    * sampling): Gonzalez's farthest-point sweep — start at vec_id 0,
    * then [[KCenterK]]−1 times pick the point FARTHEST (squared L2)
    * from every center chosen so far (the classic 2-approximation of
    * the k-center objective). Output per center, in selection order:
    * its id, the max-min distance at which it was chosen (the
    * monotonically shrinking coverage radius — the spec pins the
    * monotonicity, which is the algorithm's correctness certificate),
    * and the final nearest-center assignment census (cluster size +
    * covering radius, order-free aggregates only — a float SUM across
    * partitions would not be).
    *
    * Fully distributed — NO driver-side vectors: each round carries a
    * running min-distance column (one `least` against the new 1-row
    * broadcast center, the oracle's chained LEAST verbatim) and picks
    * the next center with one TakeOrdered reduction; K scans of the
    * corpus total, each embarrassingly parallel, nothing all-pairs.
    * Lineage is pinned per round (localCheckpoint — each round's frame
    * is consumed twice: the argmax and the carry; the oracle's
    * MATERIALIZED CTEs are the same decision in DuckDB, stopping the
    * inliner from expanding the chain 2^K-fold).
    */
  def simKcenter(spark: SparkSession, sfDir: String): DataFrame = {
    val n = base(spark, sfDir).localCheckpoint(true)
    def d2(cv: Column, cn: Column): Column =
      col("nrm") + cn - lit(2.0) * DotProduct.dot(col("v"), cv)
    val c0 = n.filter(col("vec_id") === 0)
      .select(lit(0).as("ord"), col("vec_id").as("center_id"),
        col("v").as("cv"), col("nrm").as("cn"), lit(0.0).as("sel"))
      .localCheckpoint(true)
    var centers = c0
    var d = n.crossJoin(broadcast(c0.select(col("cv"), col("cn"))))
      .select(col("vec_id"), col("v"), col("nrm"),
        d2(col("cv"), col("cn")).as("md"))
      .localCheckpoint(true)
    for (t <- 1 until KCenterK) {
      val c = d.orderBy(col("md").desc, col("vec_id")).limit(1)
        .select(lit(t).as("ord"), col("vec_id").as("center_id"),
          col("v").as("cv"), col("nrm").as("cn"), col("md").as("sel"))
        .localCheckpoint(true)
      centers = centers.unionAll(c)
      d = d.crossJoin(broadcast(c.select(col("cv"), col("cn"))))
        .select(col("vec_id"), col("v"), col("nrm"),
          least(col("md"), d2(col("cv"), col("cn"))).as("md"))
        .localCheckpoint(true)
    }
    val cents = centers.localCheckpoint(true)
    val scored = n.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("ord"), col("center_id"),
        d2(col("cv"), col("cn")).as("d2"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("ord"))
    val assign = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("ord"), col("center_id"))
      .agg(count(lit(1)).as("n_assigned"), max(col("d2")).as("mx"))
    assign.join(broadcast(cents.select(col("ord"), col("sel"))), Seq("ord"))
      .select(col("ord").as("sel_order"), col("center_id"),
        r6(col("sel")).as("sel_d2"), col("n_assigned"),
        r6(col("mx")).as("max_d2"))
      .orderBy(col("sel_order"))
  }

  lazy val simKcenterSql: String = {
    def d2(p: String, c: String): String =
      s"($p.nrm + $c.cn - 2.0 * ${dotSql(s"$p.v", s"$c.cv")})"
    val rounds = (1 to KCenterK - 1).map { t =>
      s"""c$t AS MATERIALIZED (
  SELECT $t AS ord, vec_id AS center_id, v AS cv, nrm AS cn, md AS sel
  FROM d${t - 1} ORDER BY md DESC, vec_id LIMIT 1
), d$t AS MATERIALIZED (
  SELECT p.vec_id, p.v, p.nrm, LEAST(p.md, ${d2("p", "c")}) AS md
  FROM d${t - 1} p CROSS JOIN c$t c
)"""
    }.mkString(", ")
    val centerUnion = (0 until KCenterK)
      .map(t => s"SELECT ord, center_id, cv, cn, sel FROM c$t")
      .mkString("\n  UNION ALL ")
    s"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), n AS MATERIALIZED (
  SELECT vec_id, v, ${dotSql("v", "v")} AS nrm FROM e
), c0 AS MATERIALIZED (
  SELECT 0 AS ord, vec_id AS center_id, v AS cv, nrm AS cn,
    0.0 AS sel
  FROM n WHERE vec_id = 0
), d0 AS MATERIALIZED (
  SELECT p.vec_id, p.v, p.nrm, ${d2("p", "c")} AS md
  FROM n p CROSS JOIN c0 c
), $rounds, cents AS MATERIALIZED (
  $centerUnion
), scored AS (
  SELECT p.vec_id, c.ord, c.center_id, ${d2("p", "c")} AS d2
  FROM n p CROSS JOIN cents c
), assign AS (
  SELECT vec_id, ord, center_id, d2,
    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, ord) AS rk
  FROM scored
), census AS (
  SELECT ord, center_id, COUNT(*) AS n_assigned, MAX(d2) AS mx
  FROM assign WHERE rk = 1 GROUP BY ord, center_id
)
SELECT g.ord AS sel_order, g.center_id,
  ${r6Sql("c.sel")} AS sel_d2, g.n_assigned,
  ${r6Sql("g.mx")} AS max_d2
FROM census g JOIN cents c ON c.ord = g.ord
ORDER BY sel_order"""
  }
}
