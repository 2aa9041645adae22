package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.functions.Caching.hold

/** Multimodal-column plumbing: image/audio/video payloads ride through the
  * engine as opaque `binary` columns plus a typed metadata struct, exactly
  * like any other column — joins, filters, dedup and partitioning all work
  * unchanged. Decode / feature-extraction runs partition-batched via
  * `mapPartitions` (the Scala analog of Python's `mapInPandas` batch UDF):
  * one codec init per partition, streaming over rows, never materializing a
  * partition in memory.
  *
  * Two codec tiers:
  *  - [[decodePpm]] is a REAL image decoder for binary P6 PPM (the
  *    uncompressed netpbm raster format): header parse + pixel statistics,
  *    end-to-end oracle-checked through `multimodal_features`;
  *  - `decodeStub` remains the clearly-marked STUB standing in for codecs
  *    that need libraries this container lacks (JPEG, audio resample):
  *    a deterministic fake feature vector from the bytes. The Spark-side
  *    contract — schema, batch shape, partitioning — is identical for
  *    both tiers and is what the pipeline relies on.
  */
object Media {

  val featureDim = 8

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("media", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_bytes", LongType))))))

  /** Build a media table from the documents corpus: the UTF-8 bytes of the
    * text stand in for an encoded payload; metadata is derived, typed, and
    * deterministic. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    mediaTableDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text, n_chars) DataFrame — static or
    * streaming (the payload construction is per-row column work). */
  def mediaTableDf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("media"),
      struct(
        lit("fake/raw").as("format"),
        (col("n_chars") % 64 + 1).cast("int").as("width"),
        (col("n_chars") % 48 + 1).cast("int").as("height"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n_bytes")).as("meta"))

  /** STUB decoder: a real deployment replaces this body with an actual codec
    * (JPEG decode, audio resample, ...). Deterministic fake: feature k is a
    * scaled rolling hash of the bytes seeded by k. Signature — bytes in,
    * fixed-dim float vector out — is the real contract. */
  def decodeStub(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var k = 0
    while (k < dim) {
      var h = k.toLong + 1L
      var i = 0
      while (i < bytes.length) {
        h = (h * 31L + (bytes(i) & 0xff)) & 0xffffffffL
        i += 1
      }
      out(k) = (h % 20001L - 10000L).toFloat / 10000.0f
      k += 1
    }
    out
  }

  /** Deterministic frame/sample selection: every `stride`-th byte starting at
    * `offset` — the shape of video frame-sampling without a real demuxer. */
  def sampleBytes(bytes: Array[Byte], stride: Int, offset: Int = 0): Array[Byte] =
    Iterator.range(offset, bytes.length, stride).map(bytes).toArray

  /** Frame-sampling geometry: one [[FrameLen]]-byte frame per
    * [[FrameStride]]-byte window — the keyframe-per-GOP shape. */
  val FrameStride = 256
  val FrameLen = 64

  /** FRAME SAMPLING as a first-class query — the video-pipeline shape
    * the [[sampleBytes]] helper only hinted at: every media payload
    * yields one ROW per sampled frame (doc_id, frame_idx, frame_off,
    * n_bytes, energy, checksum), where a frame is the first [[FrameLen]]
    * bytes of each [[FrameStride]]-byte window (a keyframe per GOP,
    * without a real demuxer) and the two stats stand in for the decoded
    * frame's features (energy = unsigned byte sum; checksum = the
    * corpus-standard 32-bit rolling hash — enough for frame-level dedup
    * and motion/scene-change heuristics downstream). Scale shape: pure
    * partition-local flatMap over the payload bytes (the codec tier's
    * mapPartitions contract — a real demuxer drops into the same loop),
    * output rows ∝ total bytes / stride, no shuffle before the terminal
    * sort. Empty payloads yield zero frames. */
  def frameSampleQuery(s: SparkSession, d: String): DataFrame =
    frameSampleDf(mediaTable(s, d))

  /** Same, over any (doc_id, media: binary) DataFrame (planted tests and
    * streams — the flatMap is stateless). */
  def frameSampleDf(media: DataFrame, stride: Int = FrameStride,
      flen: Int = FrameLen): DataFrame =
    frameSampleRaw(media, stride, flen).orderBy("doc_id", "frame_idx")

  /** Unordered frame rows — the reusable core (stateless mapPartitions:
    * works identically on a streaming frame, where the query wrapper's
    * terminal sort would be illegal). */
  private[graft] def frameSampleRaw(media: DataFrame, stride: Int = FrameStride,
      flen: Int = FrameLen): DataFrame = {
    require(stride > 0 && flen > 0 && flen <= stride)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("frame_idx", LongType),
      StructField("frame_off", LongType),
      StructField("n_bytes", LongType),
      StructField("energy", LongType),
      StructField("checksum", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col("doc_id"), col("media"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getAs[Long]("doc_id")
          val bytes = r.getAs[Array[Byte]]("media")
          Iterator.range(0, bytes.length, stride).zipWithIndex.map {
            case (off, idx) =>
              val len = math.min(flen, bytes.length - off)
              var e = 0L; var h = 0L; var i = off
              while (i < off + len) {
                val b = (bytes(i) & 0xff).toLong
                e += b; h = (h * 31L + b) & 0xffffffffL; i += 1
              }
              Row(id, idx.toLong, off.toLong, len.toLong, e, h)
          }
        }
      }(enc)
  }

  /** STUB resize: nearest-neighbor downsample of a w×h byte grid to
    * newW×newH (row-major; the payload is truncated/padded-with-zero to w·h
    * first, as a raster decoder would guarantee). A real deployment swaps in
    * a codec-backed scaler; the contract — grid in, smaller grid out, purely
    * a function of (bytes, dims) — is what the pipeline relies on. */
  def resizeStub(bytes: Array[Byte], w: Int, h: Int, newW: Int, newH: Int): Array[Byte] = {
    require(w > 0 && h > 0 && newW > 0 && newH > 0)
    val grid = java.util.Arrays.copyOf(bytes, w * h)
    val out = new Array[Byte](newW * newH)
    var y = 0
    while (y < newH) {
      val sy = y * h / newH
      var x = 0
      while (x < newW) {
        out(y * newW + x) = grid(sy * w + x * w / newW)
        x += 1
      }
      y += 1
    }
    out
  }

  /** Partition-batched feature extraction over the media table. Output:
    * (doc_id, features array<float>, width, height). */
  def extractFeatures(media: DataFrame, dim: Int = featureDim): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("features", ArrayType(FloatType)),
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col("doc_id"), col("media"), col("meta.width"), col("meta.height"))
      .mapPartitions { rows =>
        // per-partition codec init would go here (once, not per row)
        rows.map { r =>
          val bytes = r.getAs[Array[Byte]]("media")
          Row(r.getAs[Long]("doc_id"), decodeStub(bytes, dim).toSeq,
            r.getAs[Int]("width"), r.getAs[Int]("height"))
        }
      }(enc)
  }

  /** Exact dedup keyed on the BINARY payload itself — the header's "dedup
    * works unchanged on media columns" claim as an oracle-checked query.
    * Spark groups binary by byte equality; the DuckDB twin groups by the
    * source text, which is equivalent because UTF-8 encoding is injective
    * (equal bytes ⇔ equal strings — no ASCII assumption needed). Survivor =
    * min doc_id, same R3 rule as the text dedup. */
  def mediaDedup(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .groupBy("media")
      .agg(
        min("doc_id").as("keep_id"),
        count(lit(1)).as("n_dups"),
        max(col("meta.n_bytes")).as("n_bytes"))
      .select("keep_id", "n_dups", "n_bytes")
      .orderBy("keep_id")

  /** Byte window width for media near-dup. 16 bytes: wide enough that
    * windows are rare (they survive the hot-shingle df cap instead of being
    * excluded as boilerplate — 4-byte windows of real text are almost all
    * hotter than any sane cap), narrow enough that a localized edit breaks
    * only ~width windows and true near-dups stay above the 0.8 bar. */
  val MediaWindow = 16

  /** Content-defined window sampling modulus: of the one-window-per-byte
    * stream, only windows whose scrambled hash ≡ 0 (mod this) enter the
    * Jaccard pipeline — the mod-p fingerprint selection of Broder/CDC
    * dedup. Hash-based (not positional) selection is shift-invariant: an
    * insertion re-aligns every downstream window, but each window's KEEP
    * decision depends only on its own bytes, so two near-identical payloads
    * still sample the same windows. Jaccard over a uniform 1/p sample of
    * the window universe estimates the true Jaccard (both engines sample
    * identically, so the query stays hash-matched); the pair-partial
    * stream — the dominant cost, one window per BYTE without sampling —
    * shrinks by p. At 100 TB this knob is what makes byte-level near-dup
    * shippable at all (p=1 would be 10^14 windows); the scramble
    * (h XOR h>>16) folds the high bits in before the mod so low-bit
    * regularity of ASCII text can't bias the sample. */
  val SampleMod = 4

  /** KEEP predicate for [[SampleMod]] sampling over a 32-bit window hash. */
  private def sampled(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (h.bitwiseXOR(shiftright(h, 16)) % SampleMod) === 0

  /** Byte-level NEAR-dup pairs on binary payloads: distinct
    * [[MediaWindow]]-byte windows per payload (the byte analog of word
    * shingles; short payloads fall back to one whole-payload shingle)
    * through the SAME df-capped Jaccard pair machinery as the text family
    * (Dedup.jaccardPairsFromShingles — one definition across modalities).
    * The decision-grade threshold (Jaccard ≥ 0.8) mirrors the shipping
    * gate. Windows decode as strings for the join key — valid here because
    * the payload is UTF-8 text; a real deployment joins on the raw binary
    * window or its hash, same shape. This closes the media family's
    * exact-only gap: re-encodes and near-identical payloads pair up, not
    * just byte-identical copies. */
  def mediaNearDup(s: SparkSession, d: String,
      minJacE4: Long = 8000L): DataFrame =
    mediaNearDupDf(mediaTable(s, d), minJacE4)

  /** Same, over any (doc_id, media: binary) DataFrame (planted tests).
    * The join key is the codegen'd 32-bit polynomial hash of each window,
    * not the window itself: an 8-byte long shuffles and compares at half
    * the bytes of a 16-char string across the three aggregations and the
    * pair join. Deterministic and identical in the oracle, so the query
    * stays hash-matched; the residual risk is 32-bit hash collisions
    * merging distinct windows — with ~10⁶ distinct windows per shuffle
    * partition the expected collision count is ~100 in 4·10⁹, noise
    * against a 0.8 Jaccard bar (and BOTH engines see the same merges). */
  def mediaNearDupDf(media: DataFrame, minJacE4: Long = 8000L): DataFrame = {
    val w = MediaWindow
    val m = media.select(col("doc_id"), col("media").cast("string").as("t"))
    // All distinct window hashes in ONE rolling pass per payload
    // (WindowPolyHashes) instead of a substr+polyHash per window — the
    // values are bit-identical to the per-window PolyHash32, so the oracle
    // and the planted MediaSpec goldens are unchanged. Content-defined
    // sampling ([[SampleMod]]) thins the windowed branch only, and a
    // payload whose windows ALL miss the sample (P ≈ (1−1/p)^windows —
    // real for payloads barely over the window width) falls back to the
    // whole-payload shingle exactly like a short payload, so no payload
    // ever vanishes from the pair search.
    // Two-step projection so the rolling-hash pass runs ONCE per payload
    // (the `when` below references `wins` twice; materializing it first
    // keeps the CodegenFallback expression out of a repeated position).
    // WindowPolyHashes yields an empty array below the window width, so
    // the single size(wins) > 0 test covers both short and unlucky
    // payloads.
    val sh = m.select(
      col("doc_id"),
      filter(
        org.apache.spark.sql.graft.StringExprs.windowPolyHashes(col("t"), w),
        h => sampled(h)).as("wins"),
      array(graft.functions.Fns.polyHash(concat(lit("#"), col("t")))).as("fb"))
      .select(col("doc_id"),
        explode(when(size(col("wins")) > 0, col("wins"))
          .otherwise(col("fb"))).as("sh"))
    graft.operators.Dedup.jaccardPairsFromShingles(sh, minJacE4)
      .orderBy("d1", "d2")
  }

  /** Build a table of REAL binary P6 PPM images from the documents corpus:
    * `P6\n{w} {h}\n255\n` followed by w·h·3 RGB bytes — the document's own
    * bytes repeated cyclically to fill the raster (pixel byte i = text
    * byte i mod len). Pure SQL expressions (repeat + substring + encode),
    * so the construction is reproducible byte-for-byte in the oracle;
    * dimensions follow [[mediaTable]]'s derivation. The payloads are
    * genuine images any netpbm tool opens. */
  def ppmTable(s: SparkSession, d: String): DataFrame =
    ppmTableDf(Tables.documents(s, d))

  /** Same, over any (doc_id, text, n_chars) DataFrame (planted tests). */
  def ppmTableDf(docs: DataFrame): DataFrame = {
    val w = (col("n_chars") % 64 + 1).cast("int")
    val h = (col("n_chars") % 48 + 1).cast("int")
    val npix = (col("w").cast("long") * col("h") * lit(3L))
    // Empty documents still produce a VALID image: the raster fills from a
    // single space byte (the repeat-count division would otherwise null
    // out and the decoder would see no payload at all).
    val src = when(length(col("text")) === 0, lit(" ")).otherwise(col("text"))
    docs
      .select(col("doc_id"), src.as("t"), w.as("w"), h.as("h"))
      .select(col("doc_id"), col("w"), col("h"),
        encode(concat(
          lit("P6\n"), col("w").cast("string"), lit(" "),
          col("h").cast("string"), lit("\n255\n"),
          repeat(col("t"),
            ((npix + length(col("t")) - 1) / length(col("t")))
              .cast("int"))
            .substr(lit(1), npix.cast("int"))),
          "UTF-8").as("media"))
  }

  /** REAL P6 PPM decode: parse the header (magic, whitespace-separated
    * ASCII width/height/maxval) and fold the raster into per-channel
    * integer sums — the pixel-statistics feature a quality gate or a
    * brightness filter consumes. Throws on malformed input like a codec
    * would. Works on any maxval-255 P6 file, not just [[ppmTable]]'s. */
  def decodePpm(bytes: Array[Byte]): (Int, Int, Long, Long, Long) = {
    val (w, h, pos) = ppmHeader(bytes)
    var r = 0L; var g = 0L; var b = 0L
    var p = 0
    while (p < w * h) {
      r += bytes(pos + 3 * p) & 0xff
      g += bytes(pos + 3 * p + 1) & 0xff
      b += bytes(pos + 3 * p + 2) & 0xff
      p += 1
    }
    (w, h, r, g, b)
  }

  /** P6 header parse shared by [[decodePpm]] and [[phashPpm]]: magic,
    * whitespace/comment-separated ASCII width/height/maxval, then exactly
    * one whitespace byte before the raster. Returns (w, h, raster offset)
    * after bounds-checking the raster in LONG (huge header dims must fail
    * the check, not wrap Int negative and skip the fold). */
  private def ppmHeader(bytes: Array[Byte]): (Int, Int, Int) = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "not a P6 PPM")
    var pos = 2
    def nextInt(): Int = {
      var skipping = true // whitespace runs AND '#'-to-EOL comments (spec)
      while (skipping && pos < bytes.length) {
        if (bytes(pos) == ' ' || bytes(pos) == '\n' || bytes(pos) == '\r' ||
          bytes(pos) == '\t') pos += 1
        else if (bytes(pos) == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        } else skipping = false
      }
      require(pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9',
        "bad PPM header")
      var v = 0
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0'); pos += 1
      }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    require(maxv == 255, s"unsupported maxval $maxv")
    pos += 1 // exactly one whitespace byte after maxval, per the spec
    val raster = w.toLong * h * 3L
    require(bytes.length.toLong - pos >= raster, "truncated pixel data")
    (w, h, pos)
  }

  /** Perceptual-hash grid: [[phashPpm]] emits a grid² = 64-bit hash. */
  val PhashGrid = 8

  /** AVERAGE-HASH (aHash) perceptual fingerprint of a P6 image: box-filter
    * the grayscale raster onto an 8×8 grid and set bit (by·8+bx) when that
    * block's mean exceeds the global mean — the classic perceptual hash
    * (same family as pHash/dHash) that survives re-encodes and small edits
    * byte-level dedup misses. ALL-INTEGER: gray = r+g+b per pixel (no
    * luma weights — monotone equivalent for thresholding), block pixel
    * assignment by floor(x·grid/w), and the mean comparison cross-
    * multiplied (bsum·npix > tsum·bcnt, products ≤ 7·10⁹ ≪ 2⁶³) — so the
    * hash is exactly reproducible in the DuckDB oracle. Blocks with no
    * pixels (w or h < grid) deterministically contribute a 0 bit. */
  def phashPpm(bytes: Array[Byte], grid: Int = PhashGrid): (Int, Int, Long) = {
    val (w, h, pos) = ppmHeader(bytes)
    val bsum = new Array[Long](grid * grid)
    val bcnt = new Array[Long](grid * grid)
    var tsum = 0L
    var p = 0
    while (p < w * h) {
      val gray = (bytes(pos + 3 * p) & 0xff) + (bytes(pos + 3 * p + 1) & 0xff) +
        (bytes(pos + 3 * p + 2) & 0xff)
      // Block index in LONG: for a legal giant strip (1 × 7e8 fits the
      // Int raster bound) y·grid or x·grid overflows Int before the
      // division brings it back under grid.
      val y = p / w
      val x = p - y * w
      val idx = ((y.toLong * grid / h) * grid + x.toLong * grid / w).toInt
      bsum(idx) += gray; bcnt(idx) += 1; tsum += gray
      p += 1
    }
    val npix = w.toLong * h
    // The long cross-multiply is exact while 765·npix² < 2⁶³ (npix < 1e8
    // — every corpus image by orders of magnitude); a legal giant strip
    // (e.g. 1 × 700M) would wrap it silently, so past the bound the
    // comparison falls back to exact BigInt arithmetic instead.
    val longSafe = npix < 100000000L
    var hash = 0L
    var i = 0
    while (i < grid * grid) {
      val bit =
        if (longSafe) bsum(i) * npix > tsum * bcnt(i)
        else BigInt(bsum(i)) * npix > BigInt(tsum) * bcnt(i)
      if (bit) hash |= (1L << i)
      i += 1
    }
    (w, h, hash)
  }

  /** Driver-contract query: REAL image decode end-to-end. Builds the P6
    * corpus, decodes every payload partition-batched (one codec scope per
    * partition — the mapPartitions shape `extractFeatures` established),
    * and emits the parsed dimensions plus per-channel pixel sums. The
    * dimensions come from the HEADER BYTES, not the metadata — the parse
    * is load-bearing. Oracle-checked: DuckDB reconstructs the same sums
    * from the documents table with pure integer arithmetic. */
  def ppmFeaturesQuery(s: SparkSession, d: String): DataFrame =
    ppmFeaturesDf(ppmTable(s, d))

  /** Same, over any (doc_id, media: binary P6) DataFrame. */
  def ppmFeaturesDf(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("r_sum", LongType),
      StructField("g_sum", LongType),
      StructField("b_sum", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col("doc_id"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h, rs, gs, bs) = decodePpm(r.getAs[Array[Byte]]("media"))
          Row(r.getAs[Long]("doc_id"), w.toLong, h.toLong, rs, gs, bs)
        }
      }(enc)
      .orderBy("doc_id")
  }

  /** Thumbnail side: the P6 raster box-downsamples onto at most this many
    * blocks per axis (images smaller than the grid keep their own size —
    * every output pixel then averages ≥ 1 source pixel). */
  val ThumbGrid = 8

  /** REAL thumbnail RESIZE of a P6 image — the preprocessing step every
    * multimodal training pipeline runs before feature extraction: box-
    * filter each channel onto a min(w,[[ThumbGrid]]) × min(h,[[ThumbGrid]])
    * grid with the SAME floor(x·tw/w) block assignment as [[phashPpm]]
    * (one block geometry, two consumers), per-block channel mean by
    * integer floor division, and emit the new P6 payload plus a rolling
    * checksum of the thumb raster (the corpus-standard (h·31+b) & 2³²−1
    * fold, row-major r,g,b). ALL-INTEGER, so the resize — unlike every
    * float resampler — is exactly reproducible in the DuckDB oracle; the
    * checksum PINS the produced bytes without shipping binary through the
    * hash gate. Returns (w, h, tw, th, thumbBytes, checksum). */
  def thumbnailPpm(bytes: Array[Byte],
      grid: Int = ThumbGrid): (Int, Int, Int, Int, Array[Byte], Long) = {
    val (w, h, pos) = ppmHeader(bytes)
    val tw = math.min(w, grid)
    val th = math.min(h, grid)
    val rs = new Array[Long](tw * th)
    val gs = new Array[Long](tw * th)
    val bs = new Array[Long](tw * th)
    val cnt = new Array[Long](tw * th)
    var p = 0
    while (p < w * h) {
      val y = p / w
      val x = p - y * w
      val idx = ((y.toLong * th / h) * tw + x.toLong * tw / w).toInt
      rs(idx) += bytes(pos + 3 * p) & 0xff
      gs(idx) += bytes(pos + 3 * p + 1) & 0xff
      bs(idx) += bytes(pos + 3 * p + 2) & 0xff
      cnt(idx) += 1
      p += 1
    }
    val header = s"P6\n$tw $th\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + 3 * tw * th)
    System.arraycopy(header, 0, out, 0, header.length)
    var chk = 0L
    var i = 0
    while (i < tw * th) {
      // tw ≤ w and th ≤ h ⇒ every block holds ≥ 1 pixel (cnt > 0)
      val rm = rs(i) / cnt(i); val gm = gs(i) / cnt(i); val bm = bs(i) / cnt(i)
      out(header.length + 3 * i) = rm.toByte
      out(header.length + 3 * i + 1) = gm.toByte
      out(header.length + 3 * i + 2) = bm.toByte
      chk = (chk * 31 + rm) & 0xffffffffL
      chk = (chk * 31 + gm) & 0xffffffffL
      chk = (chk * 31 + bm) & 0xffffffffL
      i += 1
    }
    (w, h, tw, th, out, chk)
  }

  /** Driver-contract query (`media_thumbnail`): resize the whole P6
    * corpus, emit source/thumb dimensions and the raster checksum. The
    * thumbnail BYTES are produced (and spec-checked as valid P6 that
    * re-decodes), but the declared columns carry the checksum — the
    * integer pin of the payload — so the oracle compares pure integers.
    * Partition-batched decode like the other codec queries; zero shuffle
    * before the terminal sort. */
  def thumbnailQuery(s: SparkSession, d: String): DataFrame =
    thumbnailRaw(ppmTable(s, d))
      .select("doc_id", "width", "height", "thumb_w", "thumb_h", "checksum")
      .orderBy("doc_id")

  /** Unordered full form incl. the thumb payload (specs re-decode it). */
  private[graft] def thumbnailRaw(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("thumb_w", LongType),
      StructField("thumb_h", LongType),
      StructField("thumb", org.apache.spark.sql.types.BinaryType),
      StructField("checksum", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col("doc_id"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h, tw, th, thumb, chk) =
            thumbnailPpm(r.getAs[Array[Byte]]("media"))
          Row(r.getAs[Long]("doc_id"), w.toLong, h.toLong, tw.toLong,
            th.toLong, thumb, chk)
        }
      }(enc)
  }

  /** Per-image perceptual hash over the decoded P6 corpus — the pixel-level
    * fingerprint table production writes next to the media store (the
    * byte-level [[mediaDedup]]/[[mediaNearDup]] miss re-encodes; this tier
    * catches them). Partition-batched decode like [[ppmFeaturesDf]]; the
    * dimensions come from the header bytes, the hash from the raster. */
  def phashQuery(s: SparkSession, d: String): DataFrame =
    phashRaw(ppmTable(s, d)).orderBy("doc_id")

  /** Unordered (doc_id, width, height, phash) — feeds the query wrapper,
    * the pair search, and the streaming twin (stateless mapPartitions
    * works identically on a streaming frame). */
  private[graft] def phashRaw(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("width", LongType),
      StructField("height", LongType),
      StructField("phash", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    media.select(col("doc_id"), col("media"))
      .mapPartitions { rows =>
        rows.map { r =>
          val (w, h, hash) = phashPpm(r.getAs[Array[Byte]]("media"))
          Row(r.getAs[Long]("doc_id"), w.toLong, h.toLong, hash)
        }
      }(enc)
  }

  /** PERCEPTUALLY-near-duplicate image pairs: Hamming ≤ maxHamming on the
    * 64-bit average-hash, searched with the SimHash family's band kit
    * ([[graft.operators.Dedup.simhashBandStructs]] — one band definition
    * across text and media fingerprints). Pigeonhole recall is exact for
    * maxHamming < SimBands, so the oracle's direct quadratic check agrees
    * row for row while the Spark plan stays the linear band equi-join with
    * the verify inside the join — the same 100 TB posture as the text
    * near-dup family. */
  def phashPairsQuery(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame =
    phashPairsDf(ppmTable(s, d), maxHamming)

  /** Same, over any (doc_id, media: binary P6) DataFrame (planted tests). */
  def phashPairsDf(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < graft.operators.Dedup.SimBands,
      "pigeonhole guarantee needs maxHamming < SimBands")
    val fp = hold(phashRaw(media))
    val bands = fp.select(col("doc_id"), col("phash"),
        explode(graft.operators.Dedup.simhashBandStructs(col("phash"))).as("bb"))
      .select(col("doc_id"), col("phash"),
        col("bb.band_idx").as("band_idx"), col("bb.band_bits").as("band_bits"))
    graft.functions.Caching.releaseAfterAction(
      bands.as("a")
        .join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx") &&
          col("a.band_bits") === col("b.band_bits") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).cast("long")
            .as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .distinct()
        .orderBy("d1", "d2"),
      fp)
  }

  /** Stub-tier feature summary per doc (see the class doc's codec tiers;
    * [[ppmFeaturesQuery]] is the oracle-checked real-decode twin). */
  def featuresQuery(s: SparkSession, d: String): DataFrame =
    extractFeatures(mediaTable(s, d))
      .select(
        col("doc_id"),
        size(col("features")).cast("long").as("dim"),
        round(element_at(col("features"), 1).cast("double") * 10000).cast("long").as("f1_e4"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
      .orderBy("doc_id")
}
