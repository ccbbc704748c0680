package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.CrossHash
import graft.functions.Determinism.r6Sql
import graft.operators.TextAnalysis.docs

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus a decode/feature-extract stage.
  *
  * IMAGE decode is REAL (round 6): [[imageSig]] decodes container
  * bytes with JDK-built-in `javax.imageio` (PNG/JPEG/GIF/BMP — no new
  * dependencies) and perceptual-hashes actual pixels; bytes that
  * aren't a decodable image fall back to the byte-level stub, which
  * is also the oracle fixture's path (text bytes never decode, so the
  * hash-checked text-twin semantics are untouched). AUDIO decode is
  * REAL for PCM WAV (round 7, [[wavSig]] — RIFF needs no codec) and
  * VIDEO decode is REAL for MJPEG-in-AVI (round 11, [[aviFrames]] /
  * [[videoSig]] / [[framesDecodeOf]] — AVI is RIFF and each MJPEG
  * frame is a JPEG `javax.imageio` decodes). Compressed audio and
  * inter-frame video codecs stay honestly stubbed — those decoders
  * genuinely don't ship here — but everything Spark-side is real and
  * tested: the binary column representation, the metadata schema, the
  * partition-preserving batched `mapPartitions` shape (the Scala twin
  * of a `mapInPandas` batch UDF), and the feature-vector output
  * schema an embedding/indexing stage would consume.
  *
  * The media table is derived from `documents` (text → UTF-8 bytes) so
  * the DuckDB oracle can reproduce ingest/feature values exactly; a
  * real deployment points the same operators at parquet with true
  * image/audio bytes.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, media_type: String, content: Array[Byte])

  /** Batched-decode output: integer byte-histogram bin counts. Scalars
    * (not an array column) so the driver's pandas-side sort can order
    * the output — an `array<float>` column is unhashable there — and so
    * a DuckDB oracle can hash-check the values.
    */
  case class MediaHistogram(doc_id: Long, media_type: String, n_bytes: Int,
      c0: Int, c1: Int, c2: Int, c3: Int, c4: Int, c5: Int, c6: Int, c7: Int)

  /** media_type assignment: deterministic 3-way split of doc_id. */
  private def mediaType(id: Column): Column =
    when(id % 3 === 0, "image").when(id % 3 === 1, "audio").otherwise("video")

  /** The media table: (doc_id, media_type, content binary). */
  def mediaTable(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir).select(
      col("doc_id"),
      mediaType(col("doc_id")).as("media_type"),
      encode(col("text"), "UTF-8").as("content"))

  // ------------------------------------------------------------------
  // mm_ingest — binary ingest audit: sizes + content digests
  // ------------------------------------------------------------------

  def mmIngest(spark: SparkSession, sfDir: String): DataFrame =
    mediaTable(spark, sfDir).select(
      col("doc_id"),
      col("media_type"),
      length(col("content")).cast("int").as("n_bytes"),
      md5(col("content")).as("content_md5"))
      .orderBy(col("doc_id"))

  lazy val mmIngestSql: String = """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  md5(text) AS content_md5
FROM documents ORDER BY doc_id"""

  // ------------------------------------------------------------------
  // mm_features — stubbed decode: per-type metadata extraction
  // ------------------------------------------------------------------

  /** Deterministic fake "decode": metadata derived from a content hash.
    * A real decoder replaces each formula with codec output; the
    * per-type column shape (nulls for non-applicable fields) is the
    * contract downstream stages rely on. Modular arithmetic only — no
    * division on the 60-bit hash (long/long is double division in Spark
    * SQL and would lose precision past 2^53).
    */
  /** Fake-decode frame geometry — ONE copy shared by [[mmFeatures]]
    * and [[mmFrames]] (and mirrored by `nfSql`/`strideSql`): a video's
    * frame count and the ~16-sample stride, both derived from the
    * content hash.
    */
  private def nfExpr(h: Column): Column = (lit(100) + h % 900).cast("int")
  private def strideExpr(nf: Column): Column =
    greatest(lit(1), floor(nf / lit(16.0)).cast("int"))
  private lazy val nfSql = "CAST(100 + h % 900 AS INTEGER)"
  private lazy val strideSql =
    s"greatest(1, CAST(floor(($nfSql) / CAST(16.0 AS DOUBLE)) AS INTEGER))"

  def mmFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val h = CrossHash.md5Long(col("content"))
    val nFrames = nfExpr(h)
    val stride = strideExpr(nFrames)
    mediaTable(spark, sfDir)
      .select(col("doc_id"), col("media_type"),
        length(col("content")).cast("int").as("n_bytes"), h.as("h"),
        nFrames.as("nf"), stride.as("stride"))
      .select(
        col("doc_id"),
        col("media_type"),
        col("n_bytes"),
        when(col("media_type") === "image", (lit(320) + col("h") % 1280).cast("int"))
          .as("width"),
        when(col("media_type") === "image",
          (lit(240) + (col("h") % 99991) % 720).cast("int")).as("height"),
        when(col("media_type") === "audio",
          (lit(500) + col("h") % 60000).cast("int")).as("duration_ms"),
        when(col("media_type") === "audio",
          (lit(8000) + (col("h") % 5) * 8000).cast("int")).as("sample_rate"),
        when(col("media_type") === "video", col("nf")).as("n_frames"),
        when(col("media_type") === "video",
          size(sequence(lit(0), col("nf") - 1, col("stride"))))
          .as("sampled_frames"))
      .orderBy(col("doc_id"))
  }

  lazy val mmFeaturesSql: String = {
    val h = CrossHash.md5LongSql("text")
    s"""WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
    CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
    $h AS h
  FROM documents
), f AS (
  SELECT doc_id, media_type, n_bytes, h,
    $nfSql AS nf,
    $strideSql AS stride
  FROM m
)
SELECT doc_id, media_type, n_bytes,
  CASE WHEN media_type = 'image' THEN CAST(320 + h % 1280 AS INTEGER) END AS width,
  CASE WHEN media_type = 'image' THEN CAST(240 + (h % 99991) % 720 AS INTEGER) END AS height,
  CASE WHEN media_type = 'audio' THEN CAST(500 + h % 60000 AS INTEGER) END AS duration_ms,
  CASE WHEN media_type = 'audio' THEN CAST(8000 + (h % 5) * 8000 AS INTEGER) END AS sample_rate,
  CASE WHEN media_type = 'video' THEN nf END AS n_frames,
  CASE WHEN media_type = 'video' THEN CAST(len(range(0, nf, stride)) AS INTEGER) END AS sampled_frames
FROM f ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // mm_frames — per-frame sampling table (the vision-encoder feed)
  // ------------------------------------------------------------------

  /** Frame sampling as an actual per-frame TABLE, not just the counts
    * [[mmFeatures]] reports: each video explodes into its ~16 sampled
    * frame indices with a per-frame digest (md5(content ‖ index) on
    * the text-derived fixture, so the DuckDB oracle hash-checks the
    * sampling arithmetic end-to-end). The REAL decode twin is
    * [[framesDecodeOf]] (round 11): actual MJPEG-AVI frame payloads
    * through `javax.imageio`, same sampling discipline, spec-verified
    * on synthesized containers — this entry remains the oracle-hashed
    * arithmetic form.
    *
    * Scale shape: filter to videos BEFORE the explode (map-side), the
    * explode multiplies rows by the fixed sample budget (~16), and no
    * shuffle exists but the presentation sort — the output partitions
    * by whatever the source partitioned by, ready for a
    * `mapPartitions` decode stage like [[mmDecodeStub]]'s.
    */
  def mmFrames(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE md5 of the content: the digest column is also the 60-bit
    // hash source (longOfMd5), so the full bytes hash once per row
    val h = CrossHash.longOfMd5(col("content_md5"))
    mediaTable(spark, sfDir)
      .filter(col("media_type") === "video")
      .select(col("doc_id"), md5(col("content")).as("content_md5"))
      .withColumn("nf", nfExpr(h))
      .withColumn("stride", strideExpr(col("nf")))
      .select(col("doc_id"), col("content_md5"),
        explode(sequence(lit(0), col("nf") - 1, col("stride")))
          .as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(concat(col("content_md5"), lit(":"),
          col("frame_idx").cast("string"))).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  lazy val mmFramesSql: String = {
    val h = CrossHash.md5LongSql("text")
    s"""WITH m AS (
  SELECT doc_id, md5(text) AS content_md5, $h AS h
  FROM documents WHERE doc_id % 3 = 2
), f AS (
  SELECT doc_id, content_md5, $nfSql AS nf, $strideSql AS stride FROM m
), fx AS (
  SELECT doc_id, content_md5,
    unnest(range(0, nf, stride)) AS frame_idx
  FROM f
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
  md5(content_md5 || ':' || frame_idx) AS frame_md5
FROM fx ORDER BY doc_id, frame_idx"""
  }

  // ------------------------------------------------------------------
  // mm_decode_stub — the imperative decode path
  // ------------------------------------------------------------------

  /** The real decode plumbing: typed Dataset → batched mapPartitions
    * (the Scala analogue of `mapInPandas`: one partition streams
    * through in codec-friendly batches, no driver round-trip, output
    * schema fixed by the case class encoder).
    *
    * The imperative stage emits integer bin counts; the normalized
    * feature ratios are Column expressions on top, so float
    * canonicalization goes through the same [[graft.functions
    * .Determinism.r6]] machinery as every other oracle-checked query.
    */
  def mmDecodeStub(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Determinism.r6
    val counts = mediaTable(spark, sfDir).as[MediaRecord]
      .mapPartitions { it =>
        it.grouped(64).flatMap { batch => // batch shape ≙ mapInPandas arrow batch
          batch.iterator.map { r =>
            // STUB by contract: this entry pins the batched decode
            // SHAPE with a deterministic fake (8-bin byte histogram)
            // the oracle can hash; the real codecs live beside it —
            // imageSig/wavSig/videoSig — behind the same batching.
            val hist = new Array[Int](8)
            r.content.foreach(b => hist((b & 0xff) % 8) += 1)
            MediaHistogram(r.doc_id, r.media_type, r.content.length,
              hist(0), hist(1), hist(2), hist(3),
              hist(4), hist(5), hist(6), hist(7))
          }
        }
      }
      .toDF()
    val n = greatest(lit(1), col("n_bytes")).cast("double")
    counts.select(
      col("doc_id") +: col("media_type") +: col("n_bytes") +:
        (0 until 8).map(k => r6(col(s"c$k") / n).as(s"h$k")): _*)
      .orderBy(col("doc_id"))
  }

  /** Oracle precondition (holds for the fixture by construction, checked
    * at all SFs): text is pure ASCII, so UTF-8 bytes == code points and
    * DuckDB's `ord(substr(text, i, 1))` reproduces `b & 0xff`.
    */
  lazy val mmDecodeStubSql: String = {
    val bins = (0 until 8).map { k =>
      val cnt = s"len(list_filter(range(1, length(text) + 1), i -> (ord(substr(text, i, 1)) % 8) = $k))"
      r6Sql(s"CAST($cnt AS DOUBLE) / greatest(1, length(text))") + s" AS h$k"
    }.mkString(",\n  ")
    s"""SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
  $bins
FROM documents ORDER BY doc_id"""
  }

  // ------------------------------------------------------------------
  // mm_phash / mm_near_dup — perceptual-hash media deduplication
  // ------------------------------------------------------------------

  /** Signature bits (60 = 4 bands × 15, mirroring the SimHash layout
    * so the pigeonhole banding carries over unchanged).
    */
  val PhashBits = 60
  val PhashBands = 4
  val PhashChunk: Int = PhashBits / PhashBands
  val PhashHammingMax = 3

  case class MediaSig(doc_id: Long, media_type: String, n_bytes: Int,
      sig: Long)

  /** Luminance-grid perceptual hash grid: 10×6 = [[PhashBits]] blocks. */
  private val PhashGridW = 10
  private val PhashGridH = 6

  /** REAL image decode (JDK-built-in `javax.imageio` — no new deps):
    * container bytes → pixels → area-averaged 10×6 luminance grid →
    * blockhash (bit k set iff block k's mean luminance exceeds the
    * global mean; the comparison is the integer cross-product form
    * `s_k·n > total·n_k`, so the signature is bit-reproducible — no
    * float thresholds). Returns None when the bytes are not a
    * decodable image (wrong magic, truncated container), which is the
    * honest no-codec fallback boundary: callers drop to the byte-
    * level stub, and the text-derived oracle fixture (never decodable)
    * keeps its exact text-twin semantics.
    *
    * Per-pixel work is one `getRGB` + integer multiply-adds; block
    * sums hold ≤ 255000·pixels so Long headroom lasts to ~10⁹-pixel
    * images. `MultimodalSpec` pins decode(encode(x)) stability on
    * deterministic PNGs and near-dup recovery on perturbed copies.
    */
  /** Container signature sniff — the cheap gate in front of ImageIO.
    * A reader PROBE on arbitrary bytes (service-loader scan + per-
    * plugin canDecode) costs more than the whole byte-level fallback,
    * and most `media_type == "image"` rows in a crawl are not valid
    * containers; four branch-predictable byte compares reject those
    * up front (the r5→r6 mm_phash bench regression, 0.25 s → 0.81 s
    * at sf0.1, was exactly this probe cost). Formats match the JDK's
    * built-in reader set: PNG, JPEG, GIF, BMP.
    */
  private[graft] def looksLikeImage(c: Array[Byte]): Boolean =
    c.length >= 8 && (
      // PNG: 89 50 4E 47 0D 0A 1A 0A
      (c(0) == 0x89.toByte && c(1) == 'P' && c(2) == 'N' && c(3) == 'G') ||
      // JPEG: FF D8 FF
      (c(0) == 0xff.toByte && c(1) == 0xd8.toByte && c(2) == 0xff.toByte) ||
      // GIF: "GIF8"
      (c(0) == 'G' && c(1) == 'I' && c(2) == 'F' && c(3) == '8') ||
      // BMP: "BM"
      (c(0) == 'B' && c(1) == 'M'))

  private[graft] def imageSig(content: Array[Byte]): Option[Long] = {
    if (!looksLikeImage(content)) return None // no probe for non-containers
    decodeImage(content).map(sigOfImage)
  }

  /** One guarded ImageIO read — shared by the still path and the
    * per-frame video path. */
  private def decodeImage(
      content: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    val img =
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(content)))
      catch { case _: Exception => None } // valid magic, corrupt body
    img.filter(im => im.getWidth > 0 && im.getHeight > 0)
  }

  /** The luminance-grid blockhash over decoded pixels — ONE copy for
    * stills and video frames. */
  private def sigOfImage(im: java.awt.image.BufferedImage): Long = {
      val w = im.getWidth
      val h = im.getHeight
      val sums = new Array[Long](PhashBits)
      val cnts = new Array[Long](PhashBits)
      var y = 0
      while (y < h) {
        val by = y * PhashGridH / h
        var x = 0
        while (x < w) {
          val bx = x * PhashGridW / w
          val rgb = im.getRGB(x, y)
          // integer Rec.601 luma ×1000: 299R + 587G + 114B
          val lum = ((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 +
            (rgb & 0xff) * 114).toLong
          val k = by * PhashGridW + bx
          sums(k) += lum
          cnts(k) += 1
          x += 1
        }
        y += 1
      }
      val total = sums.sum
      val n = cnts.sum
      var sig = 0L
      var k = 0
      while (k < PhashBits) {
        if (cnts(k) > 0 && sums(k) * n > total * cnts(k)) sig |= 1L << k
        k += 1
      }
      sig
  }

  /** RIFF/WAVE container sniff — the audio twin of [[looksLikeImage]]. */
  private[graft] def looksLikeWav(c: Array[Byte]): Boolean =
    c.length >= 44 &&
      c(0) == 'R' && c(1) == 'I' && c(2) == 'F' && c(3) == 'F' &&
      c(8) == 'W' && c(9) == 'A' && c(10) == 'V' && c(11) == 'E'

  /** REAL audio decode for PCM WAV (round 7) — RIFF needs no external
    * codec: the chunk walk below parses the `fmt ` header (PCM only,
    * 16-bit) and the `data` payload with plain little-endian reads,
    * then blockhashes the AMPLITUDE ENVELOPE: per-[[PhashBits]]-block
    * sums of |sample|, bit k set iff block k's mean exceeds the global
    * mean — the same integer cross-product comparison as [[imageSig]],
    * so the signature is bit-reproducible with no float thresholds.
    * Returns None for non-RIFF bytes, compressed/8-bit formats, or
    * truncated payloads: callers fall back to [[byteSig]] (which keeps
    * the text-derived oracle fixture on its exact text-twin path).
    * Compressed audio (mp3/ogg/aac) stays honestly stubbed — those
    * codecs genuinely don't ship here.
    */
  private[graft] def wavSig(content: Array[Byte]): Option[Long] = {
    if (!looksLikeWav(content)) return None
    val bb = java.nio.ByteBuffer.wrap(content)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // chunk walk: [id:4][size:4][payload:size] from offset 12
    var pos = 12
    var fmtOk = false
    var dataOff = -1
    var dataLen = 0
    while (pos + 8 <= content.length && (!fmtOk || dataOff < 0)) {
      val id = new String(content, pos, 4, "US-ASCII")
      val size = bb.getInt(pos + 4)
      // Long arithmetic: a crafted size near Int.MaxValue wraps
      // pos+8+size negative in Int, slipping past the bound check
      if (size < 0 || pos.toLong + 8 + size > content.length) return None
      if (id == "fmt " && size >= 16) {
        val audioFormat = bb.getShort(pos + 8) & 0xffff
        val bits = bb.getShort(pos + 8 + 14) & 0xffff
        fmtOk = audioFormat == 1 && bits == 16 // PCM 16-bit only
        if (audioFormat != 1 || bits != 16) return None
      } else if (id == "data") {
        dataOff = pos + 8
        dataLen = size
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0 || dataLen < 2) return None
    val nSamples = dataLen / 2
    val sums = new Array[Long](PhashBits)
    val cnts = new Array[Long](PhashBits)
    var i = 0
    while (i < nSamples) {
      val s = bb.getShort(dataOff + i * 2).toLong
      // Long arithmetic: i*PhashBits overflows Int past ~35.8M samples
      val k = (i.toLong * PhashBits / nSamples).toInt
      sums(k) += math.abs(s)
      cnts(k) += 1
      i += 1
    }
    val total = sums.sum
    val n = cnts.sum
    var sig = 0L
    var k = 0
    while (k < PhashBits) {
      if (cnts(k) > 0 && sums(k) * n > total * cnts(k)) sig |= 1L << k
      k += 1
    }
    Some(sig)
  }

  /** RIFF/AVI container sniff — the video twin of [[looksLikeWav]]. */
  private[graft] def looksLikeAvi(c: Array[Byte]): Boolean =
    c.length >= 12 &&
      c(0) == 'R' && c(1) == 'I' && c(2) == 'F' && c(3) == 'F' &&
      c(8) == 'A' && c(9) == 'V' && c(10) == 'I' && c(11) == ' '

  /** REAL video frame extraction for MJPEG-in-AVI (round 11) — the
    * one video format this environment CAN decode with zero new
    * dependencies: AVI is RIFF (the same chunk walk as [[wavSig]],
    * recursing into `LIST` chunks), and a motion-JPEG stream's frame
    * chunks (`??db`/`??dc` — raw/compressed DIB of stream NN, each a
    * complete JPEG still for MJPEG) decode with `javax.imageio` like
    * any image. Returns the frame payloads in stream order; None for
    * non-AVI bytes, a truncated walk, or an AVI with no video chunks
    * — callers fall back to [[byteSig]] exactly like the image/audio
    * paths, and inter-frame codecs (H.264 etc.) stay honestly out of
    * scope: those decoders genuinely don't ship here.
    */
  private[graft] def aviFrames(
      content: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (!looksLikeAvi(content)) return None
    val bb = java.nio.ByteBuffer.wrap(content)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Seq.newBuilder[Array[Byte]]
    var bad = false
    // chunk walk: [id:4][size:4][payload:size], word-aligned; RIFF and
    // LIST payloads start with a 4-byte form/list type, then sub-chunks.
    // Depth-capped: a real AVI nests ~3 deep (RIFF→hdrl→strl / movi→rec);
    // a crafted 12-bytes-per-level LIST chain must hit the cap and
    // reject, not overflow the stack (crawl bytes are adversarial).
    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > 16) { bad = true; return }
      var pos = from
      while (!bad && pos + 8 <= to) {
        val id = new String(content, pos, 4, "US-ASCII")
        val size = bb.getInt(pos + 4)
        // Long arithmetic: a crafted size near Int.MaxValue wraps
        // pos+8+size negative in Int, slipping past the bound check
        if (size < 0 || pos.toLong + 8 + size > to) { bad = true; return }
        if (id == "RIFF" || id == "LIST") walk(pos + 12, pos + 8 + size,
          depth + 1)
        else if (size > 0 && id.length == 4 &&
            id(0).isDigit && id(1).isDigit &&
            (id.endsWith("db") || id.endsWith("dc")))
          out += java.util.Arrays.copyOfRange(content, pos + 8,
            pos + 8 + size)
        pos += 8 + size + (size & 1)
      }
    }
    walk(0, content.length, 0)
    val frames = out.result()
    if (bad || frames.isEmpty) None else Some(frames)
  }

  /** Frames sampled per video by the real decode path — the bounded-
    * work dial: a 10k-frame clip costs the same decode budget as a
    * 10-frame one.
    */
  val VideoMaxSampledFrames = 8

  /** Evenly-strided frame sample (first frame always included,
    * ≤ [[VideoMaxSampledFrames]] frames) — deterministic integer
    * stride, the real-decode analogue of [[mmFrames]]' sampling
    * arithmetic.
    */
  private[graft] def sampleFrames(
      frames: Seq[Array[Byte]]): Seq[(Int, Array[Byte])] = {
    val nf = frames.size
    val stride =
      math.max(1, (nf + VideoMaxSampledFrames - 1) / VideoMaxSampledFrames)
    (0 until nf by stride).map(i => i -> frames(i))
  }

  /** REAL video signature: per-bit MAJORITY over the sampled frames'
    * luminance-grid blockhashes — temporal pooling with integer
    * comparisons only (bit set iff 2·votes > frames-decoded; ties
    * break to 0), so the signature is bit-reproducible like
    * [[imageSig]]/[[wavSig]]. None when the container isn't AVI or no
    * sampled frame decodes.
    */
  private[graft] def videoSig(content: Array[Byte]): Option[Long] =
    aviFrames(content).flatMap { frames =>
      val sigs = sampleFrames(frames)
        .flatMap { case (_, f) => decodeImage(f).map(sigOfImage) }
      if (sigs.isEmpty) None
      else {
        var sig = 0L
        var k = 0
        while (k < PhashBits) {
          var votes = 0
          sigs.foreach(s => if ((s >> k & 1L) == 1L) votes += 1)
          if (2 * votes > sigs.size) sig |= 1L << k
          k += 1
        }
        Some(sig)
      }
    }

  /** One decoded, sampled video frame. */
  case class FrameRow(doc_id: Long, frame_idx: Int, width: Int,
      height: Int, frame_sig: Long)

  /** The REAL frame-extraction stage — [[mmFrames]]' decode twin over
    * any media table: batched mapPartitions (the mapInPandas shape),
    * each video row's container parsed ONCE, sampled frames decoded
    * to (width, height, blockhash). Non-decodable rows emit nothing —
    * the honest codec boundary; the arithmetic twin [[mmFrames]]
    * remains the oracle-hashed form on the text-derived fixture.
    * Spec-verified end-to-end on synthesized MJPEG-AVI fixtures, the
    * PNG/WAV decode pattern at video grain.
    */
  def framesDecodeOf(
      media: org.apache.spark.sql.Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(16).flatMap { batch =>
        batch.iterator.flatMap { r =>
          if (r.media_type != "video") Iterator.empty
          else aviFrames(r.content).toSeq.flatMap { frames =>
            sampleFrames(frames).flatMap { case (i, f) =>
              decodeImage(f).map(im => FrameRow(r.doc_id, i,
                im.getWidth, im.getHeight, sigOfImage(im)))
            }
          }
        }
      }
    }.toDF()
  }

  /** Byte-level blockhash — the no-codec fallback (and the oracle's
    * exact text-twin semantics): bytes fold into [[PhashBits]]
    * positional block sums in one pass, bit k set iff block k exceeds
    * the mean — integer comparisons only (60·s_k > total).
    */
  private[graft] def byteSig(content: Array[Byte]): Long = {
    val sums = new Array[Long](PhashBits)
    var i = 0
    while (i < content.length) {
      sums(i % PhashBits) += (content(i) & 0xff).toLong
      i += 1
    }
    val total = sums.sum
    var sig = 0L
    var k = 0
    while (k < PhashBits) {
      if (PhashBits * sums(k) > total) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** The signature stage over any media table: batched mapPartitions,
    * real `javax.imageio` decode for image rows, real RIFF/PCM parse
    * for WAV audio rows, and real MJPEG-AVI frame decode + temporal
    * majority pooling for video rows ([[videoSig]], round 11) — each
    * falling back to [[byteSig]] when the bytes aren't a decodable
    * container (compressed audio and inter-frame video codecs, which
    * this environment genuinely lacks).
    */
  private[graft] def signaturesOf(
      media: org.apache.spark.sql.Dataset[MediaRecord]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.grouped(64).flatMap { batch =>
        batch.iterator.map { r =>
          val sig = r.media_type match {
            case "image" => imageSig(r.content).getOrElse(byteSig(r.content))
            case "audio" => wavSig(r.content).getOrElse(byteSig(r.content))
            case "video" => videoSig(r.content).getOrElse(byteSig(r.content))
            case _ => byteSig(r.content)
          }
          MediaSig(r.doc_id, r.media_type, r.content.length, sig)
        }
      }
    }.toDF()
  }

  private def signatures(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    signaturesOf(mediaTable(spark, sfDir).as[MediaRecord])
  }

  /** Per-item signature table — the index a media pipeline persists. */
  def mmPhash(spark: SparkSession, sfDir: String): DataFrame =
    signatures(spark, sfDir).orderBy(col("doc_id"))

  /** Oracle-side signature: block sums over `ord(substr(text, i, 1))`
    * (== bytes; fixture is pure ASCII — the mm_decode_stub
    * precondition), 60·s_k > total per bit. `sigs` is
    * `AS MATERIALIZED`: the four band selects and the cluster closure
    * read it five times, and DuckDB inlines a plain CTE at each.
    */
  private lazy val phashSigSql: String = {
    val blockSum = (k: Int) =>
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1, length(text) + 1), i ->
          CASE WHEN (i - 1) % $PhashBits = $k
            THEN CAST(ord(substr(text, i, 1)) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END)), (acc, x) -> acc + x)"""
    val bits = (0 until PhashBits).map(k =>
      s"(CASE WHEN $PhashBits * s[${k + 1}] > total THEN ${1L << k} ELSE 0 END)")
      .mkString(" + ")
    s"""sig_base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
    CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
    [${(0 until PhashBits).map(blockSum).mkString(", ")}] AS s
  FROM documents
), sigs AS MATERIALIZED (
  SELECT doc_id, media_type, n_bytes,
    CAST($bits AS BIGINT) AS sig
  FROM (SELECT doc_id, media_type, n_bytes, s,
    list_reduce(list_prepend(CAST(0 AS BIGINT), s), (acc, x) -> acc + x)
      AS total FROM sig_base)
)"""
  }

  lazy val mmPhashSql: String = s"""WITH $phashSigSql
SELECT doc_id, media_type, n_bytes, sig FROM sigs ORDER BY doc_id"""

  /** Near-duplicate media pairs: hamming(sig) ≤ [[PhashHammingMax]],
    * candidates from [[PhashBands]] 15-bit chunk bands (pigeonhole-
    * complete: 4 chunks can't all differ at hamming ≤ 3), exactly the
    * dd_simhash_pairs shape — an equi-join on (band, chunk), never
    * all-pairs. The hamming filter runs BEFORE the pair distinct so
    * the distinct shuffles only qualifying pairs.
    */
  def mmNearDup(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairsOf(signatures(spark, sfDir))

  /** The banded pairing over any signature table (shared by the query
    * path and the real-PNG spec path).
    */
  private[graft] def nearDupPairsOf(sigs: DataFrame): DataFrame =
    nearDupPairsOfCfg(sigs, None)

  /** [[nearDupPairsOf]] with the bucket-size guard on the hamming-band
    * stream — the SAME mega-bucket exposure as the text LSH streams
    * (identical media ⟹ identical signature ⟹ every 15-bit chunk
    * bucket holds the whole family, B² join cost), answered with the
    * SAME dial ([[MmMaxBucket]] = Dedup.LshMaxBucket): chunk keys held
    * by more than cap docs drop before the self-join; exact-hash dedup
    * upstream owns byte-identical assets.
    */
  private[graft] def nearDupPairsOfCfg(sigs: DataFrame,
      maxBucket: Option[Int]): DataFrame = {
    val bandsAll = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until PhashBands).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("sig"), b * PhashChunk)
            .bitwiseAND(lit((1L << PhashChunk) - 1)).as("key"))): _*))
        .as("bk"))
      .select(col("doc_id"), col("sig"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val bands = maxBucket match {
      case Some(cap) =>
        // cached: the guard consumes the band table twice (census +
        // guard join) — the ddMinhashLshCfg lesson. (A round-18 A/B
        // that cached the uncapped path too measured SLOWER across
        // the mm family — the synthetic-media signature pass is
        // cheaper than the cache's materialization barrier.)
        val bandsC = bandsAll.cache()
        bandsC.join(bandsC.groupBy(col("band"), col("key"))
            .agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") <= cap)
            .select(col("band"), col("key")),
          Seq("band", "key"))
      case None => bandsAll
    }
    val a = bands.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = bands.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= PhashHammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-band bucket cap for the hamming stream — the SAME dial as
    * the text LSH guard ([[graft.operators.Dedup.LshMaxBucket]]); one
    * constant, so the two modalities can never drift.
    */
  val MmMaxBucket: Int = graft.operators.Dedup.LshMaxBucket

  /** Banding + qualifying-pair CTEs over `sigs` (no WITH prefix, ends
    * in `nd_pairs`) over ANY band relation — ONE copy of the band
    * derivation and the pair tail, shared by the uncapped body, the
    * bucket-capped body, and both cluster oracles.
    */
  private def mmNearDupBodySqlOf(rel: String, guard: String): String = {
    val bandSelects = (0 until PhashBands).map(b =>
      s"""SELECT doc_id, sig, $b AS band,
        (sig // ${1L << (b * PhashChunk)}) % ${1L << PhashChunk} AS key
      FROM sigs""").mkString("\n  UNION ALL\n  ")
    s"""bands AS (
  $bandSelects
)$guard, nd_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
  FROM $rel a JOIN $rel b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sig, b.sig)) <= $PhashHammingMax
)"""
  }

  private lazy val mmNearDupBodySql: String = mmNearDupBodySqlOf("bands", "")

  private lazy val mmNearDupCappedBodySql: String =
    mmNearDupBodySqlOf("kept", s""", bkeep AS (
  SELECT band, key FROM bands GROUP BY band, key
  HAVING COUNT(*) <= $MmMaxBucket
), kept AS (
  SELECT b.doc_id, b.sig, b.band, b.key FROM bands b
  JOIN bkeep s ON s.band = b.band AND s.key = b.key
)""")

  lazy val mmNearDupSql: String = s"""WITH $phashSigSql, $mmNearDupBodySql
SELECT doc_a, doc_b, hamming FROM nd_pairs ORDER BY doc_a, doc_b"""

  /** The bucket-capped hamming pair stream as its own oracle-checked
    * query (the [[graft.operators.Dedup.ddMinhashLshCapped]] contract
    * at media grain): a template asset family over the cap contributes
    * no pairs — exact-hash dedup upstream owns byte-identical media —
    * while organic near-dup assets are untouched and capped pairs ⊆
    * uncapped pairs always (DedupSpec drives the regime on the shared
    * mega-family corpus).
    */
  def mmNearDupCapped(spark: SparkSession, sfDir: String): DataFrame =
    nearDupPairsOfCfg(signatures(spark, sfDir), Some(MmMaxBucket))

  lazy val mmNearDupCappedSql: String =
    s"""WITH $phashSigSql, $mmNearDupCappedBodySql
SELECT doc_a, doc_b, hamming FROM nd_pairs ORDER BY doc_a, doc_b"""

  // ------------------------------------------------------------------
  // mm_clusters — media duplicate groups from the near-dup pairs
  // ------------------------------------------------------------------

  /** Media duplicate clusters: connected components over the
    * [[mmNearDup]] pair graph — the dd_clusters contract applied to
    * perceptual signatures, computed by the one CC operator
    * ([[Dedup.clusters]]), so one implementation serves text and
    * media dedup alike. Output matches the dd_clusters shape: every
    * signed doc labeled with its component min, cluster sizes, min-id
    * survivor election.
    *
    * Scale: pair generation is the banded equi-join (never all-pairs);
    * CC is a driver union-find while the pairs fit the broadcast
    * bound, else O(log n) star rounds bounded by the qualifying-pair
    * count — duplicate-media graphs are near-clique per asset, exactly
    * the shape the star alternation bounds.
    */
  def mmClusters(spark: SparkSession, sfDir: String): DataFrame =
    mmClustersCfg(spark, sfDir, None)

  /** [[mmClusters]] over the pair stream at ANY bucket cap — the
    * shipped queries pin uncapped and [[MmMaxBucket]] for the oracle
    * proofs (the ddClustersCfg discipline).
    */
  private[graft] def mmClustersCfg(spark: SparkSession, sfDir: String,
      maxBucket: Option[Int]): DataFrame = {
    val pairs = nearDupPairsOfCfg(signatures(spark, sfDir), maxBucket)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    Dedup.clusters(signatures(spark, sfDir).select(col("doc_id")), pairs)
  }

  /** Cluster oracle over ANY nd_pairs body: the one CC closure
    * ([[Dedup.ddClustersClosureSql]]) over the signed docs, shared by
    * the uncapped and bucket-capped cluster oracles.
    */
  private def mmClustersSqlOf(bodySql: String): String =
    Dedup.ddClustersClosureSql("  SELECT doc_a, doc_b FROM nd_pairs",
      prefixCtes = s"$phashSigSql,\n$bodySql, ", nodes = "sigs")

  lazy val mmClustersSql: String = mmClustersSqlOf(mmNearDupBodySql)

  /** Media duplicate clusters on the CAPPED pair stream — the
    * composition a 100 TB media dedup deploys (the
    * [[graft.operators.Dedup.ddClustersCapped]] contract at media
    * grain): a template asset family over the cap clusters as
    * singletons; capped pairs ⊆ uncapped ⟹ the capped clustering
    * refines the uncapped one.
    */
  def mmClustersCapped(spark: SparkSession, sfDir: String): DataFrame =
    mmClustersCfg(spark, sfDir, Some(MmMaxBucket))

  lazy val mmClustersCappedSql: String = mmClustersSqlOf(mmNearDupCappedBodySql)

  // ------------------------------------------------------------------
  // mm_dedup_impact — bytes-saved census of the media dedup
  // ------------------------------------------------------------------

  /** What the perceptual-hash dedup is worth in storage: per media
    * type, the redundant items (`mm_clusters`' non-survivors) and the
    * bytes they carry, as counts and shares — `cp_dedup_impact`'s
    * question asked at media grain, where the answer is measured in
    * object-store dollars rather than training tokens.
    *
    * PURE composition: survivorship IS `mm_clusters`' min-id election
    * (the oracle embeds its recursive-closure SQL verbatim) and sizes
    * come from the ingest relation. Scale: adds one doc-keyed join
    * and a 3-row census on top of mm_clusters' documented posture.
    */
  def mmDedupImpact(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Determinism.r6
    val sizes = mediaTable(spark, sfDir).select(col("doc_id"),
      col("media_type"), length(col("content")).cast("long").as("n_bytes"))
    val cl = mmClusters(spark, sfDir)
      .select(col("doc_id"), col("is_survivor"))
    sizes.join(cl, Seq("doc_id"))
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_media"),
        sum(when(!col("is_survivor"), 1L).otherwise(0L)).as("n_redundant"),
        sum(col("n_bytes")).cast("long").as("bytes_total"),
        sum(when(!col("is_survivor"), col("n_bytes")).otherwise(0L))
          .cast("long").as("bytes_saved"))
      .select(col("media_type"), col("n_media"), col("n_redundant"),
        r6(col("n_redundant").cast("double") / col("n_media"))
          .as("redundant_share"),
        col("bytes_total"), col("bytes_saved"),
        r6(col("bytes_saved").cast("double") / col("bytes_total"))
          .as("bytes_share"))
      .orderBy(col("media_type"))
  }

  lazy val mmDedupImpactSql: String = {
    import graft.functions.Determinism.r6Sql
    s"""
WITH m AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), g AS (
  SELECT m.media_type, COUNT(*) AS n_media,
    CAST(SUM(CASE WHEN NOT c.is_survivor THEN 1 ELSE 0 END) AS BIGINT)
      AS n_redundant,
    CAST(SUM(m.n_bytes) AS BIGINT) AS bytes_total,
    CAST(SUM(CASE WHEN NOT c.is_survivor THEN m.n_bytes ELSE 0 END)
      AS BIGINT) AS bytes_saved
  FROM m JOIN (
  ${mmClustersSql.replace("\n", "\n  ")}
  ) c ON c.doc_id = m.doc_id
  GROUP BY 1
)
SELECT media_type, n_media, n_redundant,
  ${r6Sql("(CAST(n_redundant AS DOUBLE) / n_media)")}
    AS redundant_share,
  bytes_total, bytes_saved,
  ${r6Sql("(CAST(bytes_saved AS DOUBLE) / bytes_total)")}
    AS bytes_share
FROM g ORDER BY media_type"""
  }
}
