package graft.engine

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star extension): image/audio/video
  * payloads as opaque `binary` columns with typed metadata, plus a
  * decode / feature-extract stage behind `mapPartitions`.
  *
  * Decode is REAL for every modality: three image codecs — PPM P6
  * (hand-written header parser), PNG and JPEG (pure-JVM
  * `javax.imageio.ImageIO`, headless, no new dependency) — PCM WAV audio
  * (hand-written RIFF chunk walker, [[decodeWav]]), and uncompressed
  * YUV4MPEG2 video (hand-written stream parser, [[decodeY4m]]).
  * Compressed A/V codecs (H.264, MP3, …) have no pure-JVM decoder in
  * this container; the synthetic corpus payloads still route through the
  * DETERMINISTIC STUB below, which also marks where such a codec would
  * drop in — the surrounding plumbing (binary column construction,
  * schema, typed Dataset batch shape, partition-wise execution,
  * quarantine of malformed payloads, metadata extraction) is identical
  * for real and stubbed paths.
  *
  * Scale design: payload bytes ride the same columnar scan as everything
  * else (parquet binary columns are page-compressed and column-pruned away
  * when a query reads only metadata). Decode runs partition-wise with no
  * shuffle; at 100 TB the knob that matters is
  * `spark.sql.files.maxPartitionBytes` so one task holds a bounded number
  * of payloads in memory.
  */
object Multimodal {
  type Q = (SparkSession, String) => DataFrame

  /** One decoded media row: metadata + extracted feature vector. */
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Int,
    width: Int, height: Int, features: Array[Double])

  /** Synthesize the media table: payload = 4-byte magic + UTF-8 content
    * (fixtures carry no real media; FIXTURES.md §C pattern). Deterministic,
    * so the metadata query is oracle-checkable.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      when(col("doc_id") % 3 === 0, lit("image"))
        .when(col("doc_id") % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("media_type"),
      concat(lit("IMG0"), col("text")).cast("binary").as("payload"))

  /** Metadata pass over binary payloads: byte length, magic prefix,
    * content digest. Pure column ops — codegen'd, no decode.
    */
  def multimodalMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).select(
      col("doc_id"), col("media_type"),
      length(col("payload")).as("n_bytes"),
      substring(col("payload").cast("string"), 1, 4).as("magic"),
      sha2(col("payload"), 256).as("sha256"))

  /** ======= STUB DECODER =======
    * Stands in for an image/audio decode (libjpeg/ffmpeg/etc. are not in
    * this container). Deterministic in the payload bytes so tests are
    * stable. A real implementation replaces ONLY this function; the
    * Dataset plumbing in [[decodeFeatures]] is production-shaped.
    */
  def stubDecode(docId: Long, mediaType: String,
      payload: Array[Byte]): MediaFeatures = {
    val n = payload.length
    val width = 16 + (n % 64)
    val height = 16 + ((n / 64) % 64)
    // "features": 8 deterministic byte-histogram moments of the payload
    val feats = Array.tabulate(8) { k =>
      var acc = 0.0
      var i = k
      while (i < n) { acc += (payload(i) & 0xff) / 255.0; i += 8 }
      acc / math.max(1, (n + 7 - k) / 8)
    }
    MediaFeatures(docId, mediaType, n, width, height, feats)
  }

  /** Partition-wise decode + feature extraction: binary rows in, typed
    * feature rows out. `mapPartitions` (not per-row UDF) so a real decoder
    * can amortize codec init per partition — the Scala analog of a
    * batch-iterating Python `mapInPandas` decode stage.
    */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("doc_id"), col("media_type"), col("payload"))
      // null payloads are quarantined in-plan (codegen'd filter) before
      // the decode stage: a corrupt/absent blob must drop the row, not
      // NPE a cluster job inside the codec lambda
      .filter(col("payload").isNotNull)
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init would go here (codec handles, buffers)
        it.map { case (id, mt, bytes) => stubDecode(id, mt, bytes) }
      }
  }

  /** Frame/sample selection analog: deterministic stride sampling of the
    * payload (video frame-sampling shape without a codec). Output is one
    * row per sampled offset — the explode-to-frames pattern.
    *
    * Offsets are CHARACTER positions on the UTF-8-decoded payload (the
    * mediaTable payload is text by construction), matching the DuckDB
    * twin's strlen/substr semantics exactly — byte offsets on the binary
    * column would silently diverge from the oracle on any non-ASCII text.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .withColumn("chars", col("payload").cast("string"))
      .withColumn("frame_off",
        explode(sequence(lit(0), length(col("chars")) - 1, lit(64))))
      .select(col("doc_id"), col("frame_off"),
        substring(col("chars"), col("frame_off") + 1, lit(4))
          .as("frame_magic"))

  /** Planted P6 (binary PPM) images: (doc_id, width, height). Raster byte
    * `i` is `(i*7 + 13) % 251` — pure arithmetic, so the DuckDB oracle
    * derives the exact channel means from the same formula and the REAL
    * decoder below is hash-gated end to end (the `q_utf8_fingerprint`
    * planted-row pattern). Ids sit far above the fixture corpus range.
    */
  private[graft] val PpmPlanted: Seq[(Long, Int, Int)] =
    Seq((920001L, 4, 3), (920002L, 8, 5), (920003L, 16, 16))

  /** Build a planted P6 payload: standard header + arithmetic raster. */
  private[graft] def ppmPayload(w: Int, h: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    header ++ Array.tabulate(w * h * 3)(i => ((i * 7 + 13) % 251).toByte)
  }

  /** Decoded P6 image: dimensions + per-channel byte sums (sums, not
    * means, so the one double division happens in exactly one place on
    * each engine).
    */
  case class PpmImage(width: Int, height: Int,
    sumR: Long, sumG: Long, sumB: Long)

  /** Parse a P6 header (magic, whitespace/`#`-comment tokens, width,
    * height, maxval ≤ 255, the single terminating whitespace byte);
    * returns (width, height, raster start offset). Throws on malformed
    * input.
    */
  private[graft] def parsePpmHeader(bytes: Array[Byte]): (Int, Int, Int) = {
    var pos = 0
    def isWs(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def token(): String = {
      while (pos < bytes.length &&
          (isWs(bytes(pos)) || bytes(pos) == '#')) {
        if (bytes(pos) == '#')
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
        else pos += 1
      }
      val start = pos
      while (pos < bytes.length && !isWs(bytes(pos))) pos += 1
      new String(bytes, start, pos - start,
        java.nio.charset.StandardCharsets.US_ASCII)
    }
    require(token() == "P6", "not a binary PPM (P6) payload")
    val w = token().toInt
    val h = token().toInt
    val maxval = token().toInt
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h")
    require(maxval > 0 && maxval <= 255, s"unsupported maxval $maxval")
    pos += 1 // the single whitespace byte that terminates the header
    require(bytes.length - pos >= w * h * 3, "truncated raster")
    (w, h, pos)
  }

  /** REAL P6 decoder (not a stub): parses the PPM header — magic,
    * whitespace/`#`-comment tokens, width, height, maxval ≤ 255, the
    * single whitespace byte before the raster — and folds the RGB raster
    * into per-channel sums. Throws on malformed/truncated input; callers
    * quarantine those rows rather than NPE a cluster job.
    */
  private[graft] def decodePpm(bytes: Array[Byte]): PpmImage = {
    val (w, h, pos) = parsePpmHeader(bytes)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var p = 0
    while (p < w * h) {
      sr += bytes(pos + 3 * p) & 0xff
      sg += bytes(pos + 3 * p + 1) & 0xff
      sb += bytes(pos + 3 * p + 2) & 0xff
      p += 1
    }
    PpmImage(w, h, sr, sg, sb)
  }

  /** Planted PNG images (same (doc_id, width, height) shape as
    * [[PpmPlanted]]): pixel `p = y*w + x` carries channel values
    * `((3p + c)*7 + 13) % 251` — the SAME arithmetic raster formula as the
    * PPMs. PNG is LOSSLESS, so the JVM `ImageIO` decode below recovers
    * those exact values and the DuckDB oracle derives the channel means
    * independently from the formula. Only `n_bytes` (deflate output
    * length) is encoder-dependent; it is measured once on the driver from
    * the same deterministic payload the engine reads.
    */
  private[graft] val PngPlanted: Seq[(Long, Int, Int)] =
    Seq((930001L, 5, 4), (930002L, 7, 9), (930003L, 12, 8))

  /** Planted JPEG images. JPEG is LOSSY: decoded pixels differ from the
    * source raster, so — unlike PPM/PNG — the oracle CANNOT re-derive the
    * means arithmetically. Their oracle rows are pinned literals computed
    * on the driver by the same pure-JVM decoder the executors run; the
    * hash gate therefore proves the distributed plumbing and decoder
    * stability (a regression pin), not independent derivation.
    */
  private[graft] val JpegPlanted: Seq[(Long, Int, Int)] =
    Seq((940001L, 8, 8), (940002L, 16, 8))

  /** A payload with a valid JPEG magic (FF D8 FF) but garbage body: must
    * QUARANTINE to zero output rows in [[multimodalDecode]] — the oracle
    * simply omits it, so the driver's row-count + hash gate proves the
    * quarantine end to end.
    */
  private[graft] val MalformedJpegId = 950001L
  private[graft] def malformedJpegPayload: Array[Byte] =
    Array(0xFF.toByte, 0xD8.toByte, 0xFF.toByte) ++
      "this is not a scan segment".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII)

  /** Render the arithmetic raster into a BufferedImage and encode with
    * the pure-JVM `ImageIO` writer (`fmt` = "png" | "jpg"). Deterministic
    * for a fixed JVM: driver (oracle literals) and executors (decode) run
    * the same codec classes.
    */
  private def encodeImage(w: Int, h: Int, fmt: String,
      ma: Int = 7, ab: Int = 13, mm: Int = 251): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var p = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((3 * p) * ma + ab) % mm
        val g = ((3 * p + 1) * ma + ab) % mm
        val b = ((3 * p + 2) * ma + ab) % mm
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        p += 1; x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  /** Parametric arithmetic-raster builders (byte i of the raster is
    * `(i·ma + ab) % mm`): the SAME formula emitted as P6 or PNG yields
    * pixel-identical payloads (PNG is lossless), which is exactly the
    * re-encoded-duplicate scenario [[imageDedup]] exists to catch — and
    * what lets the DuckDB oracle derive both encodings' dHashes from one
    * VALUES row.
    */
  private[graft] def ppmPayloadF(w: Int, h: Int, ma: Int, ab: Int,
      mm: Int): Array[Byte] = {
    val header = s"P6\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    header ++ Array.tabulate(w * h * 3)(i => ((i * ma + ab) % mm).toByte)
  }
  private[graft] def pngPayloadF(w: Int, h: Int, ma: Int, ab: Int,
      mm: Int): Array[Byte] = encodeImage(w, h, "png", ma, ab, mm)

  private[graft] def pngPayload(w: Int, h: Int): Array[Byte] =
    encodeImage(w, h, "png")
  private[graft] def jpegPayload(w: Int, h: Int): Array[Byte] =
    encodeImage(w, h, "jpg")

  /** REAL PNG/JPEG decoder via pure-JVM `javax.imageio.ImageIO` (no new
    * dependency; works headless). Disk caching is off — a decode task
    * must not write scratch files on an executor. Throws on undecodable
    * bytes; callers quarantine (same contract as [[decodePpm]]).
    */
  private[graft] def decodeImage(bytes: Array[Byte]): PpmImage = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff
        sg += (rgb >> 8) & 0xff
        sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    PpmImage(w, h, sr, sg, sb)
  }

  private def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 4 && bytes(0) == 0x89.toByte &&
      bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'
  private def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && bytes(0) == 0xFF.toByte &&
      bytes(1) == 0xD8.toByte && bytes(2) == 0xFF.toByte

  /** One decoded media row for the driver query: real dims + channel
    * means for PPM/PNG/JPEG payloads, stub dims + null means otherwise.
    */
  case class MediaDecoded(doc_id: Long, media_type: String, n_bytes: Int,
    width: Int, height: Int, mean_r: Option[Double], mean_g: Option[Double],
    mean_b: Option[Double])

  /** Magic-dispatched decode kernel: P6 payloads go through the REAL
    * [[decodePpm]], PNG/JPEG magics through the REAL `ImageIO`
    * [[decodeImage]]; unknown magics through the stub (audio and video
    * payloads have their own real kernels — [[multimodalAudio]] /
    * [[multimodalVideo]]). A payload whose magic claims a real
    * codec but whose body fails to decode returns `None` — the row
    * QUARANTINES instead of failing the job.
    */
  private def decodeAny(id: Long, mt: String,
      bytes: Array[Byte]): Option[MediaDecoded] = {
    def real(img: PpmImage): MediaDecoded = {
      val n = img.width.toLong * img.height
      MediaDecoded(id, mt, bytes.length, img.width, img.height,
        Some(img.sumR.toDouble / n), Some(img.sumG.toDouble / n),
        Some(img.sumB.toDouble / n))
    }
    if (bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6')
      scala.util.Try(real(decodePpm(bytes))).toOption
    else if (isPng(bytes) || isJpeg(bytes))
      scala.util.Try(real(decodeImage(bytes))).toOption
    else {
      val f = stubDecode(id, mt, bytes)
      Some(MediaDecoded(id, mt, f.n_bytes, f.width, f.height,
        None, None, None))
    }
  }

  /** The media table plus the planted PPM/PNG/JPEG rows and the planted
    * malformed-JPEG row (the decode query's source; [[mediaTable]] alone
    * stays the metadata query's source so its oracle is untouched).
    */
  private def mediaTableFull(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planted =
      (ppmBench.map { case (id, p) => (id, "image", p) }
        ++ PngPlanted.map { case (id, w, h) => (id, "image", pngPayload(w, h)) }
        ++ JpegPlanted.map { case (id, w, h) => (id, "image", jpegPayload(w, h)) }
        :+ ((MalformedJpegId, "image", malformedJpegPayload)))
      .toDF("doc_id", "media_type", "payload")
    mediaTable(spark, dir).unionByName(planted)
  }

  /** Per-doc decode over the full media table — the whole corpus flows
    * through the partition-wise decode stage (real P6 parse for planted
    * rows, stub for the synthetic corpus payloads), and every output cell
    * is hash-checked against the DuckDB oracle deriving the same values
    * arithmetically.
    */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTableFull(spark, dir)
      .select(col("doc_id"), col("media_type"), col("payload"))
      .filter(col("payload").isNotNull)
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init would go here (codec handles, buffers);
        // decodeAny returns None for claimed-codec payloads that fail to
        // decode — those rows quarantine instead of aborting the job
        it.flatMap { case (id, mt, bytes) => decodeAny(id, mt, bytes) }
      }
      .toDF()
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("width"), col("height"),
        round(col("mean_r"), 6).as("mean_r"),
        round(col("mean_g"), 6).as("mean_g"),
        round(col("mean_b"), 6).as("mean_b"))
  }

  /** One thumbnail pixel of a resized image. */
  case class ThumbPixel(doc_id: Long, px: Int, py: Int,
    r: Int, g: Int, b: Int)

  /** Nearest-neighbor resize of a P6 raster to [[ThumbW]]×[[ThumbH]]:
    * source pixel (floor(px·w/tw), floor(py·h/th)) per thumb cell — the
    * standard decimation kernel, integer-exact so the oracle derives the
    * same pixels from the planted raster formula.
    */
  val ThumbW = 4
  val ThumbH = 4

  private[graft] def resizePpm(docId: Long,
      bytes: Array[Byte]): Seq[ThumbPixel] = {
    val (w, h, pos) = parsePpmHeader(bytes)
    for {
      py <- 0 until ThumbH
      px <- 0 until ThumbW
    } yield {
      val sx = px * w / ThumbW
      val sy = py * h / ThumbH
      val p = pos + 3 * (sy * w + sx)
      ThumbPixel(docId, px, py,
        bytes(p) & 0xff, bytes(p + 1) & 0xff, bytes(p + 2) & 0xff)
    }
  }

  /** Nearest-neighbor resize of an `ImageIO`-decodable payload (PNG here;
    * same decimation kernel as [[resizePpm]], reading decoded pixels
    * instead of the raw raster). For the planted PNGs the lossless decode
    * recovers the arithmetic raster exactly, so the oracle derives the
    * same thumbnail pixels from the formula.
    */
  private[graft] def resizeImage(docId: Long,
      bytes: Array[Byte]): Seq[ThumbPixel] = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val (w, h) = (img.getWidth, img.getHeight)
    for {
      py <- 0 until ThumbH
      px <- 0 until ThumbW
    } yield {
      val rgb = img.getRGB(px * w / ThumbW, py * h / ThumbH)
      ThumbPixel(docId, px, py,
        (rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
    }
  }

  /** Partition-wise image resize over the media table: only P6 and PNG
    * payloads enter the kernel (magic-filtered in-plan — the codegen'd
    * filter is the column-prune/decode-dispatch shape a mixed-modality
    * corpus needs; JPEG stays out because its lossy decode has no
    * independent oracle), each emitting its [[ThumbW]]×[[ThumbH]]
    * thumbnail as rows. The flatMap-through-mapPartitions shape is the
    * one-payload-to-many-samples explosion every frame/patch extraction
    * pipeline runs.
    */
  def multimodalResize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    mediaTableFull(spark, dir)
      // raw-byte magic check: a binary substring compares the first
      // BYTES — casting the whole payload to string would decode the full
      // raster per row just for the magic, and byte-vs-char drift on
      // non-UTF-8 rasters could misroute payloads
      .filter(col("payload").isNotNull &&
        (substring(col("payload"), 1, 2) === lit("P6".getBytes(ascii)) ||
         substring(col("payload"), 1, 4) ===
           lit(Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init would go here (codec handles, buffers);
        // a magic-prefixed but malformed payload quarantines to zero rows
        // instead of failing the job (same contract as decodeFeatures'
        // null filter — row-level defects must never abort a cluster run)
        it.flatMap { case (id, bytes) =>
          scala.util.Try(
            if (bytes(0) == 'P') resizePpm(id, bytes)
            else resizeImage(id, bytes)
          ).getOrElse(Seq.empty)
        }
      }
      .toDF()
  }

  // ===== perceptual image dedup (dHash) ===============================

  /** dHash grid: an 11×6 nearest-neighbor luma thumbnail gives
    * (11−1)×6 = 60 horizontal-gradient bits — the same 60-bit/15-bit-band
    * geometry as [[Dedup.simhashPairs]] (sign bit and bits 60–63 stay
    * clear, so every shift/xor stays in non-negative BIGINT range on both
    * engines), with the same pigeonhole guarantee: ≤ [[DHashMaxHamming]]
    * bit flips must leave one whole band intact.
    */
  val DHashGridW = 11
  val DHashGridH = 6
  val DHashBits: Int = (DHashGridW - 1) * DHashGridH
  val DHashBands = 4
  val DHashBandBits = 15
  val DHashMaxHamming = 3

  /** Planted rasters for [[imageDedup]]: (doc_id, w, h, ma, ab, mm,
    * isPng). 925001/925002 are the SAME 24×18 raster as P6 and PNG — the
    * re-encoded duplicate (identical pixels, identical dHash); 925003
    * shifts brightness (+6 per byte, two sawtooth wraps flip exactly 2
    * gradient bits — hamming 2, inside the threshold): the near-dup;
    * 925004/925005 are a structurally different raster (hamming 23 from
    * the first cluster): a distinct image pair that must form its OWN
    * cluster. Expected clusters: {925001, 925002, 925003} rooted at
    * 925001 and {925004, 925005} rooted at 925004. Ids live in the
    * image-family 92xxxx range (the 96xxxx range belongs to the WAV
    * rows).
    */
  private[graft] val ImageDedupPlanted: Seq[(Long, Int, Int, Int, Int, Int, Boolean)] =
    Seq(
      (925001L, 24, 18, 7, 13, 251, false),
      (925002L, 24, 18, 7, 13, 251, true),
      (925003L, 24, 18, 7, 19, 251, false),
      (925004L, 20, 12, 53, 101, 239, false),
      (925005L, 20, 12, 53, 101, 239, true))

  /** Pack the 60 gradient bits from a luma lookup: bit gy·10+gx is set
    * iff luma(gx+1, gy) > luma(gx, gy). `lum` reads the nearest-neighbor
    * source pixel for a grid cell as milli-luma (299r + 587g + 114b —
    * integer BT.601 weights, no division, so both engines compare
    * identical values).
    */
  private def packDhash(lum: (Int, Int) => Long): Long = {
    var sig = 0L
    var gy = 0
    while (gy < DHashGridH) {
      var gx = 0
      while (gx < DHashGridW - 1) {
        if (lum(gx + 1, gy) > lum(gx, gy))
          sig |= 1L << (gy * (DHashGridW - 1) + gx)
        gx += 1
      }
      gy += 1
    }
    sig
  }

  private[graft] def dhashPpm(bytes: Array[Byte]): Long = {
    val (w, h, pos) = parsePpmHeader(bytes)
    packDhash { (gx, gy) =>
      val p = pos + 3 *
        (((gy * h) / DHashGridH) * w + (gx * w) / DHashGridW)
      299L * (bytes(p) & 0xff) + 587L * (bytes(p + 1) & 0xff) +
        114L * (bytes(p + 2) & 0xff)
    }
  }

  private[graft] def dhashImage(bytes: Array[Byte]): Long = {
    javax.imageio.ImageIO.setUseCache(false)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val (w, h) = (img.getWidth, img.getHeight)
    packDhash { (gx, gy) =>
      val rgb = img.getRGB((gx * w) / DHashGridW, (gy * h) / DHashGridH)
      299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
        114L * (rgb & 0xff)
    }
  }

  /** CONTENT-level image dedup — the gap text/embedding near-dup passes
    * cannot cover: a re-encoded copy of the same picture (PNG of a PPM,
    * recompressed upload) has different BYTES, so exact/byte-hash dedup
    * sails past it, but the same PIXELS, so the perceptual difference
    * hash collides. Pipeline: magic-filtered decode (P6 + PNG; lossy
    * JPEG stays out for the same oracle reason as [[multimodalResize]])
    * → 60-bit dHash per image (map-side kernel over the already-real
    * decoders) → [[Dedup.bandedHammingClusters]], which owns the plan:
    * [[DHashBands]]×[[DHashBandBits]]-bit banded candidates from
    * [[Dedup.bandedPairs]] (the [[Dedup.LshBucketCap]] oversize guard,
    * the identical-signature star, exact `bit_count(xor)` hamming
    * verify ≤ [[DHashMaxHamming]]) → connected components + keeper
    * election via [[Dedup.clusterPairs]] (pointer-halving, O(log n)
    * rounds). [[hashDedup]] is the pipeline all three modalities
    * share. Output: one row per decoded image with its hash, cluster
    * root, and keeper flag. Scale shape: decode is partition-wise,
    * candidates are band-bucketed (never all-pairs), the pair graph is
    * dup-sized.
    * Measured scale evidence: this is [[Dedup.bandedHammingClusters]],
    * whose exponent `q_simhash_pairs` prices in BASELINE.md's
    * ScaleBench table (α ≈ 0.29) — the modality queries themselves are
    * planted-sized by construction (corpus rows magic-filter out before
    * decode), so the shared plan's row IS their 100 TB story; the same
    * cross-reference covers [[audioDedup]] and [[videoDedup]].
    */
  def imageDedup(spark: SparkSession, dir: String): DataFrame =
    hashDedup(spark, dir, ImageHash)

  /** Planted LEAKED images for [[imageDecontaminate]]: 926001 is a PNG
    * re-encode of benchmark image 920002 (identical pixels — the exact
    * leak byte-level decontamination misses), 926002 brightness-shifts
    * benchmark 920003 (hamming 2 — the near leak). Every other corpus
    * image sits > [[DHashMaxHamming]] from the whole benchmark set.
    */
  private[graft] val ImageLeakPlanted: Seq[(Long, Int, Int, Int, Int, Int, Boolean)] =
    Seq(
      (926001L, 8, 5, 7, 13, 251, true),
      (926002L, 16, 16, 7, 19, 251, false))

  /** IMAGE decontamination — the modality analog of `q_decontaminate`:
    * training images whose perceptual hash sits within
    * [[DHashMaxHamming]] of any held-out BENCHMARK image (here the
    * [[PpmPlanted]] trio plays the eval suite) must be flagged before
    * training, and byte-level checks cannot do it (a re-encoded or
    * brightness-shifted copy of an eval image has entirely different
    * bytes). Plan: one dHash pass over the corpus and one over the
    * benchmark rows alone, then [[Dedup.bandedCrossProbe]], which owns
    * the plan: benchmark bands
    * BROADCAST (the eval suite is thousands of images, never
    * corpus-sized) against the corpus's band keys with no bucket cap,
    * exact hamming verify — pigeonhole recall is perfect at the
    * threshold, and the corpus never self-joins. [[hashDecontaminate]]
    * is the pipeline all three modalities share. Output: one row per
    * (leaked image, benchmark hit).
    */
  def imageDecontaminate(spark: SparkSession, dir: String): DataFrame =
    hashDecontaminate(spark, dir, ImageHash)

  // ===== perceptual audio dedup (energy-contour hash) =================

  /** Audio hash geometry: the interleaved sample stream splits into
    * [[AHashBlocks]] equal blocks; bit k is set iff block k+1's
    * absolute-amplitude energy exceeds block k's — 60 gradient bits, the
    * same band geometry as the image dHash. The hash is invariant under
    * any positive GAIN (scaling every sample scales every block energy
    * by the same factor, so no comparison flips) — a volume-changed
    * re-encode of the same audio collides exactly, the audio analog of
    * the PNG-of-a-PPM scenario.
    */
  val AHashBlocks = 61
  val AHashBands = 4
  val AHashBandBits = 15
  val AHashMaxHamming = 3

  /** Planted mono 8 kHz WAVs for [[audioDedup]]: (doc_id, frames, sc,
    * ma, ab) of the [[wavPayloadF]] formula. 965001/965002 are the same
    * content at gain 1 and gain 2 — identical hash by the invariance
    * law; 965003 shifts the formula phase (+120 on `ab`, flipping 2
    * energy-gradient bits — a genuine near-dup inside the threshold);
    * 965004/965005 are different content at gains 1 and 3 — their own
    * cluster, hamming 27 from the first. The three [[WavPlanted]] rows
    * also flow through (hamming ≥ 22 from both clusters — singletons).
    */
  private[graft] val AudioDedupPlanted: Seq[(Long, Int, Int, Int, Int)] =
    Seq(
      (965001L, 600, 1, 31, 7),
      (965002L, 600, 2, 31, 7),
      (965003L, 600, 1, 31, 127),
      (965004L, 512, 1, 57, 101),
      (965005L, 512, 3, 57, 101))

  /** 60-bit energy-contour hash over a PCM WAV payload (channel-agnostic:
    * the interleaved stream is the content). Throws on malformed input;
    * callers quarantine.
    */
  private[graft] def dhashWav(bytes: Array[Byte]): Long = {
    val (bb, _, _, dataOff, dataLen) = wavLayout(bytes)
    val n = dataLen / 2
    require(n > 0, "empty data chunk")
    val e = new Array[Long](AHashBlocks)
    var b = 0
    while (b < AHashBlocks) {
      var i = b * n / AHashBlocks
      val hi = (b + 1) * n / AHashBlocks
      var acc = 0L
      while (i < hi) {
        acc += math.abs(bb.getShort(dataOff + 2 * i).toInt)
        i += 1
      }
      e(b) = acc
      b += 1
    }
    var sig = 0L
    var k = 0
    while (k < AHashBlocks - 1) {
      if (e(k + 1) > e(k)) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** CONTENT-level audio dedup — [[imageDedup]]'s plan applied to the
    * second modality: RIFF-magic-filtered decode through the real WAV
    * chunk walker → amplitude-invariant energy-contour hash →
    * [[Dedup.bandedHammingClusters]], which owns the plan (banded
    * candidates, oversize guard, identical-signature star, exact hamming
    * verify, pointer-halving components), through the shared
    * [[hashDedup]] pipeline. Catches what byte-level dedup cannot: the
    * same recording re-encoded at a different volume has different
    * bytes, different stats, but the identical energy contour.
    */
  def audioDedup(spark: SparkSession, dir: String): DataFrame =
    hashDedup(spark, dir, AudioHash)

  /** Planted LEAKED recordings for [[audioDecontaminate]]: 966001 is
    * benchmark WAV 960001's content at gain 3 (identical energy
    * contour — the re-mastered leak), 966002 phase-shifts its formula
    * (hamming 2 — the near leak). The [[AudioDedupPlanted]] rows sit
    * ≥ 22 bits from the whole benchmark set.
    */
  private[graft] val AudioLeakPlanted: Seq[(Long, Int, Int, Int, Int)] =
    Seq(
      (966001L, 480, 3, 31, 7),
      (966002L, 480, 1, 31, 63))

  /** AUDIO decontamination: training recordings within
    * [[AHashMaxHamming]] of any held-out benchmark recording (the
    * [[WavPlanted]] trio plays the eval suite) — the plan is
    * [[Dedup.bandedCrossProbe]]'s, through the shared
    * [[hashDecontaminate]] pipeline; a
    * volume-changed re-master of an eval recording has different bytes
    * and different stats but the identical contour.
    */
  def audioDecontaminate(spark: SparkSession, dir: String): DataFrame =
    hashDecontaminate(spark, dir, AudioHash)

  // ===== perceptual video dedup (luma-stream energy hash) =============

  /** Planted Y4M streams for [[videoDedup]]: (doc_id, w, h, frames, sc,
    * ma, fa, ab, mm, altFrame, altAb) of the [[y4mPayloadF]] formula
    * (mm = 80 so contrast gains up to 3 stay in byte range). 985001/
    * 985002 are the same content at contrast 1 and 2 — identical hash
    * (multiplicative luma scaling preserves every energy comparison
    * exactly, the video analog of audio gain); 985003 alters ONE frame
    * (frame 5's formula phase — the changed-title-card re-encode,
    * hamming 2); 985004/985005 are different content at contrasts 1 and
    * 3 — their own cluster (hamming 37 from the first). The three
    * [[VideoPlanted]] stats streams also flow through (hamming ≥ 23
    * from both clusters — singletons).
    */
  private[graft] val VideoDedupPlanted
      : Seq[(Long, Int, Int, Int, Int, Int, Int, Int, Int, Int, Int)] =
    Seq(
      (985001L, 12, 8, 10, 1, 31, 17, 13, 80, -1, 0),
      (985002L, 12, 8, 10, 2, 31, 17, 13, 80, -1, 0),
      (985003L, 12, 8, 10, 1, 31, 17, 13, 80, 5, 20),
      (985004L, 10, 6, 12, 1, 53, 29, 5, 80, -1, 0),
      (985005L, 10, 6, 12, 3, 53, 29, 5, 80, -1, 0))

  /** 60-bit energy-contour hash over a Y4M stream's CONCATENATED luma
    * (Y) planes — the audio hash's 61-block geometry applied to the
    * video's temporal-spatial luma signal (chroma planes are skipped:
    * content identity lives in luma, and chroma subsampling varies
    * across re-encodes). Bytes are non-negative, so the hash is exactly
    * invariant under any positive contrast gain. Throws on malformed
    * input; callers quarantine.
    */
  private[graft] def dhashY4m(bytes: Array[Byte]): Long = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    var off = 0
    def line(): String = {
      val start = off
      while (off < bytes.length && bytes(off) != '\n') off += 1
      require(off < bytes.length, "unterminated header line")
      off += 1
      new String(bytes, start, off - 1 - start, ascii)
    }
    val header = line().split(" ")
    require(header.headOption.contains("YUV4MPEG2"), "not a Y4M stream")
    var (w, h) = (-1, -1)
    var colorspace = "420"
    header.drop(1).foreach { tok =>
      require(tok.nonEmpty, "empty header token")
      (tok.head, tok.tail) match {
        case ('W', v) => w = v.toInt
        case ('H', v) => h = v.toInt
        case ('C', v) => colorspace = v
        case _ => ()
      }
    }
    require(w > 0 && h > 0, "missing W/H header params")
    require(colorspace == "444", s"unsupported colorspace C$colorspace")
    val planeLen = w * h
    val ys = new java.io.ByteArrayOutputStream(planeLen * 8)
    while (off < bytes.length) {
      require(line().startsWith("FRAME"), "missing FRAME marker")
      require(bytes.length - off >= 3 * planeLen, "truncated frame")
      ys.write(bytes, off, planeLen) // Y plane only
      off += 3 * planeLen
    }
    val y = ys.toByteArray
    val n = y.length
    require(n > 0, "empty stream")
    val e = new Array[Long](AHashBlocks)
    var b = 0
    while (b < AHashBlocks) {
      var i = b * n / AHashBlocks
      val hi = (b + 1) * n / AHashBlocks
      var acc = 0L
      while (i < hi) { acc += (y(i) & 0xff); i += 1 }
      e(b) = acc
      b += 1
    }
    var sig = 0L
    var k = 0
    while (k < AHashBlocks - 1) {
      if (e(k + 1) > e(k)) sig |= 1L << k
      k += 1
    }
    sig
  }

  /** CONTENT-level video dedup — the third modality on the shared
    * [[hashDedup]] pipeline, whose plan [[Dedup.bandedHammingClusters]]
    * owns: Y4M-magic-filtered decode → contrast-invariant luma energy
    * hash → banded candidates, exact hamming verify, components. A
    * re-encoded copy at different contrast/brightness processing has
    * different bytes but the identical luma contour; a one-frame edit
    * lands within the threshold as a near-dup.
    */
  def videoDedup(spark: SparkSession, dir: String): DataFrame =
    hashDedup(spark, dir, VideoHash)

  /** Planted LEAKED streams for [[videoDecontaminate]]: 986001
    * re-serializes benchmark stream 980001 with extra container
    * headers (Xcolorrange/Xtimecode — different BYTES, identical
    * pixels, hamming 0: the re-muxed leak), 986002 edits one frame of
    * it (hamming 2 — the near leak). The [[VideoDedupPlanted]] rows
    * sit ≥ 23 bits from the whole benchmark set.
    */
  private[graft] def videoLeakPayloads: Seq[(Long, Array[Byte])] = Seq(
    (986001L, y4mPayload(8, 6, 12, 25, 1, extras = true)),
    (986002L, y4mPayloadF(8, 6, 12, 25, 1, extras = false, 1, 31, 17, 13,
      251, altFrame = 7, altAb = 20)))

  /** VIDEO decontamination: training streams within [[AHashMaxHamming]]
    * of any held-out benchmark stream (the [[VideoPlanted]] trio plays
    * the eval suite) — the third modality on the shared
    * [[hashDecontaminate]] pipeline, whose plan
    * [[Dedup.bandedCrossProbe]] owns; a re-muxed copy of an eval
    * stream has different container bytes but the identical luma
    * contour.
    */
  def videoDecontaminate(spark: SparkSession, dir: String): DataFrame =
    hashDecontaminate(spark, dir, VideoHash)

  /** Frame/stride sampling registered as a driver query: one row per
    * 64-byte frame offset with its 4-char magic window.
    */
  def multimodalFrameSample(spark: SparkSession, dir: String): DataFrame =
    frameSample(spark, dir)

  // ===== audio: real RIFF/WAVE PCM decode =============================

  /** Planted PCM WAV payloads: (doc_id, channels, sample_rate, frames,
    * extraListChunk). Interleaved sample `i` (frame-major) is
    * `((i*31 + 7) % 4001) - 2000` — pure int16-range arithmetic, so the
    * DuckDB oracle derives per-channel sums / sum-of-squares / peaks from
    * the same formula and the REAL parser below is hash-gated end to end
    * (the [[PpmPlanted]] pattern, applied to a second modality). The
    * second payload carries a LIST chunk between fmt and data to prove
    * the parser skips unknown RIFF chunks instead of mis-seeking.
    */
  private[graft] val WavPlanted: Seq[(Long, Int, Int, Int, Boolean)] =
    Seq((960001L, 1, 8000, 480, false),
        (960002L, 2, 16000, 256, true),
        (960003L, 2, 44100, 100, false))

  /** A payload with a valid RIFF magic but garbage body: must QUARANTINE
    * to zero rows in [[multimodalAudio]] (the [[MalformedJpegId]]
    * contract for the audio path).
    */
  private[graft] val MalformedWavId = 970001L
  private[graft] def malformedWavPayload: Array[Byte] =
    "RIFFnot actually a wave file".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII)

  /** Build a standard PCM WAV: RIFF header, fmt chunk (format 1, 16-bit
    * LE), optional LIST chunk, data chunk with the arithmetic samples.
    */
  private[graft] def wavPayload(channels: Int, rate: Int, frames: Int,
      withList: Boolean): Array[Byte] =
    wavPayloadF(channels, rate, frames, withList, 1, 31, 7)

  /** Parametric WAV builder: interleaved sample i is
    * `sc · (((i·ma + ab) % 4001) − 2000)` — the audio analog of the
    * parametric rasters. `sc` is the VOLUME: the same content at a
    * different gain, the re-encode scenario [[audioDedup]]'s
    * amplitude-invariant hash must collapse (|sc| ≤ 16 keeps every
    * sample in int16 range).
    */
  private[graft] def wavPayloadF(channels: Int, rate: Int, frames: Int,
      withList: Boolean, sc: Int, ma: Int, ab: Int): Array[Byte] = {
    def ampF(i: Int): Int = sc * (((i * ma + ab) % 4001) - 2000)
    val bb = java.nio.ByteBuffer
      .allocate(1024 + frames * channels * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = bb.put(
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)): Unit
    val dataLen = frames * channels * 2
    val listBody = "INFOgraft fixture audio"
    val listLen = if (withList) 8 + listBody.length + (listBody.length % 2)
      else 0
    ascii("RIFF"); bb.putInt(4 + 24 + listLen + 8 + dataLen); ascii("WAVE")
    ascii("fmt "); bb.putInt(16)
    bb.putShort(1.toShort)                     // PCM
    bb.putShort(channels.toShort)
    bb.putInt(rate)
    bb.putInt(rate * channels * 2)             // byte rate
    bb.putShort((channels * 2).toShort)        // block align
    bb.putShort(16.toShort)                    // bits per sample
    if (withList) {
      ascii("LIST"); bb.putInt(listBody.length); ascii(listBody)
      if (listBody.length % 2 == 1) bb.put(0.toByte): Unit // RIFF pad
    }
    ascii("data"); bb.putInt(dataLen)
    var i = 0
    while (i < frames * channels) { bb.putShort(ampF(i).toShort); i += 1 }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** One decoded audio channel: exact integer stats (sum, sum of
    * squares, peak magnitude) — the moments an audio-quality filter
    * (silence/clipping detection, RMS normalization) consumes; the one
    * double division (RMS) is left to the consumer so every column here
    * hash-matches.
    */
  case class AudioStats(doc_id: Long, channel: Int, sample_rate: Int,
    n_samples: Long, duration_ms: Long, sum_amp: Long, sum_sq_amp: Long,
    peak_amp: Int)

  /** Parsed RIFF/WAVE layout: the validated container walk shared by the
    * stats decoder and the audio content hash — (buffer, channels, rate,
    * data chunk offset, data chunk byte length).
    */
  private[graft] def wavLayout(bytes: Array[Byte])
      : (java.nio.ByteBuffer, Int, Int, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val a = new Array[Byte](4)
      bb.get(a)
      new String(a, java.nio.charset.StandardCharsets.US_ASCII)
    }
    require(fourcc() == "RIFF", "not a RIFF payload")
    bb.getInt // declared RIFF size; tolerated (writers disagree)
    require(fourcc() == "WAVE", "not a WAVE container")
    var channels = -1
    var rate = -1
    var dataOff = -1
    var dataLen = -1
    while (bb.remaining() >= 8 && dataOff < 0) {
      val id = fourcc()
      val len = bb.getInt
      require(len >= 0 && bb.remaining() >= len, s"truncated chunk $id")
      if (id == "fmt ") {
        require(len >= 16, "short fmt chunk")
        val p = bb.position()
        require(bb.getShort == 1, "not PCM")
        channels = bb.getShort.toInt
        rate = bb.getInt
        bb.getInt; bb.getShort // byte rate, block align
        require(bb.getShort == 16, "not 16-bit")
        bb.position(p + len + (len % 2))
      } else if (id == "data") {
        dataOff = bb.position()
        dataLen = len
      } else bb.position(bb.position() + len + (len % 2)) // skip + pad
    }
    require(channels > 0 && rate > 0, "missing fmt chunk")
    require(dataOff >= 0, "missing data chunk")
    (bb, channels, rate, dataOff, dataLen)
  }

  /** REAL RIFF/WAVE parser (not a stub; pure JVM): validates the RIFF /
    * WAVE container, walks chunks (honoring the even-byte RIFF padding
    * rule, skipping unknown chunks like LIST), requires PCM 16-bit, and
    * folds the interleaved data chunk into per-channel integer stats.
    * Throws on malformed/truncated input; callers quarantine (same
    * contract as [[decodePpm]]/[[decodeImage]]).
    */
  private[graft] def decodeWav(docId: Long,
      bytes: Array[Byte]): Seq[AudioStats] = {
    val (bb, channels, rate, dataOff, dataLen) = wavLayout(bytes)
    val frames = dataLen / (channels * 2)
    require(frames > 0, "empty data chunk")
    (0 until channels).map { c =>
      var (sum, sumSq, peak) = (0L, 0L, 0)
      var f = 0
      while (f < frames) {
        val s = bb.getShort(dataOff + 2 * (f * channels + c)).toInt
        sum += s
        sumSq += s.toLong * s
        if (math.abs(s) > peak) peak = math.abs(s)
        f += 1
      }
      AudioStats(docId, c, rate, frames.toLong,
        frames.toLong * 1000 / rate, sum, sumSq, peak)
    }
  }

  /** Partition-wise audio decode: only RIFF-magic payloads enter the
    * kernel (codegen'd raw-byte filter — the corpus's `IMG0` payloads
    * never reach it), each emitting one row per channel. Malformed RIFF
    * payloads quarantine to zero rows; the oracle derives every stat of
    * the planted WAVs from the arithmetic sample formula.
    */
  def multimodalAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val planted = (WavPlanted.map { case (id, ch, rate, n, lst) =>
        (id, "audio", wavPayload(ch, rate, n, lst)) }
      :+ ((MalformedWavId, "audio", malformedWavPayload)))
      .toDF("doc_id", "media_type", "payload")
    mediaTable(spark, dir).unionByName(planted)
      .filter(col("payload").isNotNull &&
        substring(col("payload"), 1, 4) === lit("RIFF".getBytes(ascii)))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          scala.util.Try(decodeWav(id, bytes)).getOrElse(Seq.empty)
        }
      }
      .toDF()
  }

  // ===== video: real YUV4MPEG2 (Y4M) frame decode =====================

  /** Planted Y4M videos: (doc_id, width, height, frames, fpsNum, fpsDen,
    * extraParams). Plane byte `i` of plane `p` (0=Y, 1=U, 2=V) in frame
    * `f` is `((i*31 + f*17 + p*7 + 13) % 251)` — pure integer arithmetic,
    * so the DuckDB oracle derives per-frame per-plane sums and peaks from
    * the same formula and the REAL container parser below is hash-gated
    * end to end (the [[PpmPlanted]]/[[WavPlanted]] pattern, applied to
    * the third modality). The second payload carries extra header
    * parameters (`Xcolorrange=FULL`) and per-frame FRAME parameters to
    * prove the parser tolerates them instead of mis-seeking; its
    * 30000:1001 fps exercises the rational-duration arithmetic.
    */
  private[graft] val VideoPlanted: Seq[(Long, Int, Int, Int, Int, Int, Boolean)] =
    Seq((980001L, 8, 6, 12, 25, 1, false),
        (980002L, 16, 9, 8, 30000, 1001, true),
        (980003L, 6, 6, 20, 24, 1, false))

  /** Frame-sampling stride: every 2nd frame enters the stats fold — the
    * keyframe-ish subsample a vision-training pipeline extracts. The
    * skipped frames are still byte-walked (the container has no index),
    * which is exactly the sequential-read cost a real decoder pays.
    */
  private[graft] val VideoFrameStride = 2

  /** A payload with a valid YUV4MPEG2 magic but a truncated frame body:
    * must QUARANTINE to zero rows in [[multimodalVideo]] (the
    * [[MalformedWavId]] contract for the video path).
    */
  private[graft] val MalformedY4mId = 990001L
  private[graft] def malformedY4mPayload: Array[Byte] =
    "YUV4MPEG2 W8 H6 F25:1 Ip A1:1 C444\nFRAME\ntoo few bytes".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII)

  private def planeByte(p: Int, f: Int, i: Int): Int =
    (i * 31 + f * 17 + p * 7 + 13) % 251

  /** Build a planted Y4M payload: standard stream header, then per frame
    * a FRAME marker followed by three raw C444 planes of the arithmetic
    * samples.
    */
  private[graft] def y4mPayload(w: Int, h: Int, frames: Int, fpsNum: Int,
      fpsDen: Int, extras: Boolean): Array[Byte] =
    y4mPayloadF(w, h, frames, fpsNum, fpsDen, extras, 1, 31, 17, 13, 251)

  /** Parametric Y4M builder: plane byte is
    * `sc · ((i·ma + f·fa + p·7 + a) % mm)` with `a = altAb` on frame
    * `altFrame` (−1 = never) and `ab` elsewhere. `sc` is CONTRAST: the
    * same content at a different luma gain (sc·mm ≤ 256 keeps bytes in
    * range) — the video re-encode scenario [[videoDedup]]'s
    * scale-invariant hash must collapse; the single-frame override is
    * the changed-title-card near-dup.
    */
  private[graft] def y4mPayloadF(w: Int, h: Int, frames: Int, fpsNum: Int,
      fpsDen: Int, extras: Boolean, sc: Int, ma: Int, fa: Int, ab: Int,
      mm: Int, altFrame: Int = -1, altAb: Int = 0): Array[Byte] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val xh = if (extras) " Xcolorrange=FULL" else ""
    val out = new java.io.ByteArrayOutputStream(64 + frames * (6 + w * h * 3))
    out.write(s"YUV4MPEG2 W$w H$h F$fpsNum:$fpsDen Ip A1:1 C444$xh\n"
      .getBytes(ascii))
    for (f <- 0 until frames) {
      val xf = if (extras) " Xtimecode=" + f else ""
      out.write(s"FRAME$xf\n".getBytes(ascii))
      val a = if (f == altFrame) altAb else ab
      for (p <- 0 until 3; i <- 0 until w * h)
        out.write(sc * ((i * ma + f * fa + p * 7 + a) % mm))
    }
    out.toByteArray
  }

  /** One sampled frame's integer stats: per-plane sums plus the luma
    * peak — the inputs a curation pass derives brightness / chroma-cast /
    * black-frame signals from; divisions are left to the consumer so
    * every column hash-matches.
    */
  case class FrameStats(doc_id: Long, frame_idx: Int, width: Int,
    height: Int, n_frames: Int, duration_ms: Long, sum_y: Long,
    sum_u: Long, sum_v: Long, peak_y: Int)

  /** REAL YUV4MPEG2 parser (not a stub; pure JVM): validates the stream
    * magic, tokenizes the header parameters (W/H/F required, C must be
    * 444, unknown X params skipped), then walks FRAME sections —
    * tolerating per-frame parameters — and folds every
    * [[VideoFrameStride]]-th frame's three planes into integer stats.
    * Throws on malformed/truncated input; callers quarantine (same
    * contract as [[decodePpm]]/[[decodeWav]]).
    */
  private[graft] def decodeY4m(docId: Long,
      bytes: Array[Byte]): Seq[FrameStats] = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    var off = 0
    def line(): String = {
      val start = off
      while (off < bytes.length && bytes(off) != '\n') off += 1
      require(off < bytes.length, "unterminated header line")
      off += 1
      new String(bytes, start, off - 1 - start, ascii)
    }
    val header = line().split(" ")
    require(header.headOption.contains("YUV4MPEG2"), "not a Y4M stream")
    var (w, h, fpsNum, fpsDen) = (-1, -1, -1, -1)
    var colorspace = "420" // Y4M default when C is absent
    header.drop(1).foreach { tok =>
      require(tok.nonEmpty, "empty header token")
      (tok.head, tok.tail) match {
        case ('W', v) => w = v.toInt
        case ('H', v) => h = v.toInt
        case ('F', v) =>
          val Array(n, d) = v.split(":", 2); fpsNum = n.toInt; fpsDen = d.toInt
        case ('C', v) => colorspace = v
        case _ => // I (interlace), A (aspect), X (extension): skipped
      }
    }
    require(w > 0 && h > 0, "missing W/H header params")
    require(fpsNum > 0 && fpsDen > 0, "missing F header param")
    require(colorspace == "444", s"unsupported colorspace C$colorspace")
    val planeLen = w * h
    val stats = Seq.newBuilder[FrameStats]
    var f = 0
    while (off < bytes.length) {
      require(line().startsWith("FRAME"), "missing FRAME marker")
      require(bytes.length - off >= 3 * planeLen, s"truncated frame $f")
      if (f % VideoFrameStride == 0) {
        val sums = new Array[Long](3)
        var peakY = 0
        var p = 0
        while (p < 3) {
          var i = 0
          while (i < planeLen) {
            val v = bytes(off + p * planeLen + i) & 0xFF
            sums(p) += v
            if (p == 0 && v > peakY) peakY = v
            i += 1
          }
          p += 1
        }
        stats += FrameStats(docId, f, w, h, -1, -1L,
          sums(0), sums(1), sums(2), peakY)
      }
      off += 3 * planeLen
      f += 1
    }
    require(f > 0, "empty stream")
    // frame count and duration are stream-level facts known only after
    // the walk; rational fps keeps duration exact-integer
    val durMs = f.toLong * 1000L * fpsDen / fpsNum
    stats.result().map(s => s.copy(n_frames = f, duration_ms = durMs))
  }

  /** Partition-wise video decode: only YUV4MPEG2-magic payloads enter the
    * kernel (codegen'd raw-byte filter — the corpus's `IMG0` payloads
    * never reach it), each emitting one row per SAMPLED frame (the
    * explode-to-frames pattern of [[frameSample]], now over a real
    * container). Malformed streams quarantine to zero rows; the oracle
    * derives every stat of the planted videos from the plane formula.
    */
  def multimodalVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val planted = (VideoPlanted.map { case (id, w, h, n, fn, fd, x) =>
        (id, "video", y4mPayload(w, h, n, fn, fd, x)) }
      :+ ((MalformedY4mId, "video", malformedY4mPayload)))
      .toDF("doc_id", "media_type", "payload")
    mediaTable(spark, dir).unionByName(planted)
      .filter(col("payload").isNotNull &&
        substring(col("payload"), 1, 4) === lit("YUV4".getBytes(ascii)))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          scala.util.Try(decodeY4m(id, bytes)).getOrElse(Seq.empty)
        }
      }
      .toDF()
  }

  // ===== one pipeline for the three hash-signature modalities =======

  /** What one hash-signature modality supplies to the shared pipeline
    * ([[sigTable]] → [[hashDedup]] / [[hashDecontaminate]]); everything
    * else — decode fan-out, quarantine, banding, verify, components —
    * is common. `base` is the media source the planted rows join;
    * `planted` wraps a query's planted (id, payload) rows with the
    * modality's fixed rows; payloads whose prefix matches one of
    * `magics` reach `hash`, which throws on malformed input. `bench`
    * is the eval suite [[hashDecontaminate]] probes against: rows that
    * also sit in the corpus source, hashed on their own for the bench
    * side.
    */
  private final case class HashModality(
      mediaType: String,
      base: (SparkSession, String) => DataFrame,
      planted: Seq[(Long, Array[Byte])] => Seq[(Long, Array[Byte])],
      magics: Seq[Array[Byte]],
      hash: Array[Byte] => Long,
      bands: Int, bandBits: Int, maxHamming: Int,
      hashCol: String,
      bench: () => Seq[(Long, Array[Byte])],
      dedupPayloads: () => Seq[(Long, Array[Byte])],
      leakPayloads: () => Seq[(Long, Array[Byte])])

  private def imagePayload(
      r: (Long, Int, Int, Int, Int, Int, Boolean)): (Long, Array[Byte]) = {
    val (id, w, h, ma, ab, mm, png) = r
    (id, if (png) pngPayloadF(w, h, ma, ab, mm)
      else ppmPayloadF(w, h, ma, ab, mm))
  }

  private def audioPayload(
      r: (Long, Int, Int, Int, Int)): (Long, Array[Byte]) = {
    val (id, n, sc, ma, ab) = r
    (id, wavPayloadF(1, 8000, n, withList = false, sc, ma, ab))
  }

  /** Each modality's benchmark rows as (id, payload): the planted
    * trio that plays the eval suite in its decontamination query.
    */
  private def ppmBench: Seq[(Long, Array[Byte])] =
    PpmPlanted.map { case (id, w, h) => (id, ppmPayload(w, h)) }
  private def wavBench: Seq[(Long, Array[Byte])] =
    WavPlanted.map { case (id, ch, rate, n, lst) =>
      (id, wavPayload(ch, rate, n, lst)) }
  private def videoBench: Seq[(Long, Array[Byte])] =
    VideoPlanted.map { case (id, w, h, n, fn, fd, x) =>
      (id, y4mPayload(w, h, n, fn, fd, x)) }

  /** P6 + PNG dHash over [[mediaTableFull]]; lossy JPEG stays out. */
  private val ImageHash = HashModality("image", mediaTableFull, identity,
    Seq("P6".getBytes(US_ASCII),
      Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)),
    bytes => if (bytes(0) == 'P') dhashPpm(bytes) else dhashImage(bytes),
    DHashBands, DHashBandBits, DHashMaxHamming, "dhash", () => ppmBench,
    () => ImageDedupPlanted.map(imagePayload),
    () => ImageLeakPlanted.map(imagePayload))

  /** RIFF energy hash over [[mediaTable]] + the [[WavPlanted]] trio and
    * the malformed WAV.
    */
  private val AudioHash = HashModality("audio", mediaTable,
    extra => (wavBench ++ extra) :+ ((MalformedWavId, malformedWavPayload)),
    Seq("RIFF".getBytes(US_ASCII)), dhashWav,
    AHashBands, AHashBandBits, AHashMaxHamming, "ahash", () => wavBench,
    () => AudioDedupPlanted.map(audioPayload),
    () => AudioLeakPlanted.map(audioPayload))

  /** Y4M luma hash over [[mediaTable]] + the [[VideoPlanted]] trio and
    * the malformed stream.
    */
  private val VideoHash = HashModality("video", mediaTable,
    extra => (videoBench ++ extra) :+ ((MalformedY4mId, malformedY4mPayload)),
    Seq("YUV4MPEG2".getBytes(US_ASCII)), dhashY4m,
    AHashBands, AHashBandBits, AHashMaxHamming, "vhash", () => videoBench,
    () => VideoDedupPlanted.map {
      case (id, w, h, n, sc, ma, fa, ab, mm, altF, altA) =>
        (id, y4mPayloadF(w, h, n, 25, 1, extras = false, sc, ma, fa, ab, mm,
          altF, altA))
    },
    () => videoLeakPayloads)

  /** (doc_id, sig) hash table over `m`'s decodable slice of its base
    * source plus `extra` planted (id, payload) rows: magic-filtered,
    * partition-wise hash, malformed payloads quarantined — the front
    * half of [[hashDedup]] and [[hashDecontaminate]].
    */
  private def sigTable(spark: SparkSession, dir: String, m: HashModality,
      extra: Seq[(Long, Array[Byte])]): DataFrame = {
    import spark.implicits._
    val planted = m.planted(extra).map { case (id, p) => (id, m.mediaType, p) }
      .toDF("doc_id", "media_type", "payload")
    hashSigs(spark, m, m.base(spark, dir).unionByName(planted))
  }

  /** (doc_id, sig) over `media`'s (doc_id, payload) rows: the
    * magic filter and the partition-wise, quarantining hash.
    */
  private def hashSigs(spark: SparkSession, m: HashModality,
      media: DataFrame): DataFrame = {
    import spark.implicits._
    val hash = m.hash // the closure below must capture only the kernel
    media
      .filter(col("payload").isNotNull && m.magics.map(g =>
        substring(col("payload"), 1, g.length) === lit(g)).reduce(_ || _))
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // malformed magic-prefixed payloads quarantine to zero rows
        it.flatMap { case (id, bytes) =>
          scala.util.Try(hash(bytes)).toOption.map(sig => (id, sig))
        }
      }
      .toDF("doc_id", "sig")
  }

  /** The modality dedup: [[sigTable]] over the dedup plants →
    * [[Dedup.bandedHammingClusters]].
    */
  private def hashDedup(spark: SparkSession, dir: String,
      m: HashModality): DataFrame =
    Dedup.bandedHammingClusters(sigTable(spark, dir, m, m.dedupPayloads()),
        m.bands, m.bandBits, m.maxHamming)
      .withColumnRenamed("sig", m.hashCol)

  /** The modality decontamination → [[Dedup.bandedCrossProbe]]: the
    * corpus side is [[sigTable]] over the dedup and leak plants without
    * the bench ids; the bench side hashes `m.bench` alone, so the media
    * table is scanned and decoded once.
    */
  private def hashDecontaminate(spark: SparkSession, dir: String,
      m: HashModality): DataFrame = {
    import spark.implicits._
    val bench = m.bench()
    Dedup.bandedCrossProbe(
      sigTable(spark, dir, m, m.dedupPayloads() ++ m.leakPayloads())
        .filter(!col("doc_id").isInCollection(bench.map(_._1))),
      hashSigs(spark, m, bench.toDF("doc_id", "payload")),
      m.bands, m.bandBits, m.maxHamming)
  }

  val queries: Map[String, Q] = Map(
    "q_multimodal_meta" -> multimodalMeta _,
    "q_multimodal_decode" -> multimodalDecode _,
    "q_multimodal_resize" -> multimodalResize _,
    "q_multimodal_audio" -> multimodalAudio _,
    "q_multimodal_video" -> multimodalVideo _,
    "q_image_dedup" -> imageDedup _,
    "q_image_decontaminate" -> imageDecontaminate _,
    "q_audio_dedup" -> audioDedup _,
    "q_video_dedup" -> videoDedup _,
    "q_audio_decontaminate" -> audioDecontaminate _,
    "q_video_decontaminate" -> videoDecontaminate _,
    "q_frame_sample" -> multimodalFrameSample _)

  /** The formula-derived luma-hash CTE chain for Y4M rows, shared by
    * the video-family oracles. `values` rows are (doc_id, w, h, frames,
    * sc, ma, fa, ab, mm, altf, alta).
    */
  private def videoSigSqlCtes(values: String): String =
    s"""vid AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    w, h, frames, sc, ma, fa, ab, mm, altf, alta,
       |    frames * w * h AS n
       |  FROM (VALUES $values)
       |    v(doc_id, w, h, frames, sc, ma, fa, ab, mm, altf, alta)),
       |blk AS (SELECT doc_id, b,
       |    coalesce(list_sum(list_transform(
       |      range((b * n) // $AHashBlocks, ((b + 1) * n) // $AHashBlocks),
       |      j -> sc * (((j % (w * h)) * ma + (j // (w * h)) * fa +
       |        (CASE WHEN (j // (w * h)) = altf THEN alta ELSE ab END))
       |        % mm))), 0) AS e
       |  FROM vid, (SELECT unnest(range(0, $AHashBlocks)) AS b)),
       |bit AS (SELECT a.doc_id, a.b AS k FROM blk a JOIN blk c
       |  ON a.doc_id = c.doc_id AND c.b = a.b + 1 WHERE c.e > a.e),
       |sigs AS (SELECT a.doc_id,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << k), 0) AS BIGINT) AS sig
       |  FROM vid a LEFT JOIN bit ON a.doc_id = bit.doc_id
       |  GROUP BY a.doc_id)""".stripMargin

  private def videoSigValues(
      extra: Seq[(Long, Int, Int, Int, Int, Int, Int, Int, Int, Int, Int)])
      : String =
    (VideoPlanted.map { case (id, w, h, n, _, _, _) =>
      s"($id, $w, $h, $n, 1, 31, 17, 13, 251, -1, 0)" } ++
      extra.map {
        case (id, w, h, n, sc, ma, fa, ab, mm, altf, alta) =>
          s"($id, $w, $h, $n, $sc, $ma, $fa, $ab, $mm, $altf, $alta)" })
      .mkString(", ")

  /** DuckDB twin of [[videoDedup]]: one VALUES row per planted stream
    * derives the concatenated-Y-plane byte formula (frame f, pixel i,
    * one-frame phase override), block energies, gradient bits, and the
    * shared banding/closure tail — independent of the engine's Y4M
    * walker.
    */
  private val videoDedupSql: String =
    s"""WITH RECURSIVE ${videoSigSqlCtes(videoSigValues(VideoDedupPlanted))},
       |${Dedup.bandedClusterSqlTail(AHashBands, AHashBandBits,
            AHashMaxHamming, "vhash")}""".stripMargin

  /** Leak rows for the video decontamination ORACLE: 986001 shares
    * benchmark 980001's plane formula exactly (the extras headers the
    * engine payload adds change bytes, not planes); 986002 is the
    * one-frame edit.
    */
  private val VideoLeakOracleRows
      : Seq[(Long, Int, Int, Int, Int, Int, Int, Int, Int, Int, Int)] = Seq(
    (986001L, 8, 6, 12, 1, 31, 17, 13, 251, -1, 0),
    (986002L, 8, 6, 12, 1, 31, 17, 13, 251, 7, 20))

  /** DuckDB twin of [[videoDecontaminate]]. */
  private val videoDecontaminateSql: String =
    s"""WITH ${videoSigSqlCtes(
           videoSigValues(VideoDedupPlanted ++ VideoLeakOracleRows))}
       |${Dedup.crossProbeSqlTail(VideoPlanted.map(_._1), AHashMaxHamming)}"""
      .stripMargin

  /** The formula-derived energy-hash CTE chain for WAV rows, shared by
    * the audio-family oracles. `values` rows are (doc_id, n, sc, ma,
    * ab).
    */
  private def audioSigSqlCtes(values: String): String =
    s"""aud AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    n, sc, ma, ab
       |  FROM (VALUES $values) v(doc_id, n, sc, ma, ab)),
       |blk AS (SELECT doc_id, b,
       |    coalesce(list_sum(list_transform(
       |      range((b * n) // $AHashBlocks, ((b + 1) * n) // $AHashBlocks),
       |      i -> abs(sc * (((i * ma + ab) % 4001) - 2000)))), 0) AS e
       |  FROM aud, (SELECT unnest(range(0, $AHashBlocks)) AS b)),
       |bit AS (SELECT a.doc_id, a.b AS k FROM blk a JOIN blk c
       |  ON a.doc_id = c.doc_id AND c.b = a.b + 1 WHERE c.e > a.e),
       |sigs AS (SELECT a.doc_id,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << k), 0) AS BIGINT) AS sig
       |  FROM aud a LEFT JOIN bit ON a.doc_id = bit.doc_id
       |  GROUP BY a.doc_id)""".stripMargin

  private def audioSigValues(extra: Seq[(Long, Int, Int, Int, Int)]): String =
    (WavPlanted.map { case (id, ch, _, frames, _) =>
      s"($id, ${ch * frames}, 1, 31, 7)" } ++
      extra.map { case (id, n, sc, ma, ab) =>
        s"($id, $n, $sc, $ma, $ab)" }).mkString(", ")

  /** DuckDB twin of [[audioDedup]]: one VALUES row (doc_id, n, sc, ma,
    * ab) per planted WAV derives block absolute energies, the 60
    * gradient bits, and the shared banding/closure tail — independent of
    * the engine's RIFF walker, so the hash gate proves the real parser's
    * samples equal the formula.
    */
  private val audioDedupSql: String =
    s"""WITH RECURSIVE ${audioSigSqlCtes(audioSigValues(AudioDedupPlanted))},
       |${Dedup.bandedClusterSqlTail(AHashBands, AHashBandBits,
            AHashMaxHamming, "ahash")}""".stripMargin

  /** DuckDB twin of [[audioDecontaminate]] (brute-force benchmark ×
    * corpus at the threshold; see [[Dedup.crossProbeSqlTail]]).
    */
  private val audioDecontaminateSql: String =
    s"""WITH ${audioSigSqlCtes(
           audioSigValues(AudioDedupPlanted ++ AudioLeakPlanted))}
       |${Dedup.crossProbeSqlTail(WavPlanted.map(_._1), AHashMaxHamming)}"""
      .stripMargin

  /** The (id, w, h, ma, ab, mm) VALUES rows shared by the image-family
    * oracles: every P6/PNG image reaching a given query.
    */
  private def imageSigValues(extra: Seq[(Long, Int, Int, Int, Int, Int, Boolean)])
      : String =
    ((PpmPlanted ++ PngPlanted).map { case (id, w, h) =>
      s"($id, $w, $h, 7, 13, 251)" } ++
      extra.map { case (id, w, h, ma, ab, mm, _) =>
        s"($id, $w, $h, $ma, $ab, $mm)" }).mkString(", ")

  /** The formula-derived dHash CTE chain (imgs → luma grid → gradient
    * bits → sigs) shared by the image-family oracles.
    */
  private def imageSigSqlCtes(values: String): String =
    s"""imgs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |    w, h, ma, ab, mm
       |  FROM (VALUES $values) v(doc_id, w, h, ma, ab, mm)),
       |cell AS (SELECT doc_id, gx, gy,
       |    3 * (((gy * h) // $DHashGridH) * w + (gx * w) // $DHashGridW)
       |      AS i0, ma, ab, mm
       |  FROM imgs, (SELECT unnest(range(0, $DHashGridW)) AS gx),
       |       (SELECT unnest(range(0, $DHashGridH)) AS gy)),
       |luma AS (SELECT doc_id, gx, gy,
       |    299 * ((i0 * ma + ab) % mm) + 587 * (((i0 + 1) * ma + ab) % mm)
       |      + 114 * (((i0 + 2) * ma + ab) % mm) AS lm FROM cell),
       |bit AS (SELECT a.doc_id, a.gy * ${DHashGridW - 1} + a.gx AS k
       |  FROM luma a JOIN luma b ON a.doc_id = b.doc_id AND a.gy = b.gy
       |    AND b.gx = a.gx + 1
       |  WHERE b.lm > a.lm),
       |sigs AS (SELECT i.doc_id,
       |    CAST(coalesce(sum(CAST(1 AS BIGINT) << k), 0) AS BIGINT) AS sig
       |  FROM imgs i LEFT JOIN bit ON i.doc_id = bit.doc_id
       |  GROUP BY i.doc_id)""".stripMargin

  /** DuckDB twin of [[imageDedup]]: every P6/PNG image in the query is a
    * planted arithmetic raster, so one VALUES row (doc_id, w, h, ma, ab,
    * mm) per image derives the exact luma grid, the 60-bit dHash, the
    * banded candidate generation + star, the hamming verify, and the
    * component closure (the recursive-CTE pattern of `clustersSql`) —
    * fully independently of the engine's ImageIO/P6 decoders, which is
    * the point: the hash gate proves REAL decoded pixels equal the
    * formula.
    */
  private val imageDedupSql: String =
    s"""WITH RECURSIVE ${imageSigSqlCtes(imageSigValues(ImageDedupPlanted))},
       |${Dedup.bandedClusterSqlTail(DHashBands, DHashBandBits,
            DHashMaxHamming, "dhash")}""".stripMargin

  /** DuckDB twin of [[imageDecontaminate]]: formula-derived dHashes for
    * benchmark ∪ corpus, then [[Dedup.crossProbeSqlTail]]'s brute-force
    * benchmark×corpus hamming test — equivalent to the engine's uncapped
    * banded path at the threshold by the pigeonhole guarantee.
    */
  private val imageDecontaminateSql: String =
    s"""WITH ${imageSigSqlCtes(
           imageSigValues(ImageDedupPlanted ++ ImageLeakPlanted))}
       |${Dedup.crossProbeSqlTail(PpmPlanted.map(_._1), DHashMaxHamming)}"""
      .stripMargin

  /** DuckDB twin of [[multimodalAudio]]: per planted (doc_id, channels,
    * rate, frames), channel `c` reads interleaved indices `f*ch + c` of
    * the arithmetic sample formula — integer-exact sums / squares /
    * peaks on both engines. The malformed-RIFF row is ABSENT (engine
    * quarantine, proven by the row-count gate).
    */
  private val audioSql: String = {
    val wavValues = WavPlanted.map { case (id, ch, rate, n, _) =>
      s"($id, $ch, $rate, $n)" }.mkString(", ")
    s"""WITH wav AS (SELECT * FROM (VALUES $wavValues)
       |  v(doc_id, ch, rate, n)),
       |chx AS (SELECT doc_id, ch, rate, n,
       |    unnest(range(0, ch)) AS channel FROM wav),
       |s AS (SELECT doc_id, channel, rate, n,
       |    list_transform(range(0, n),
       |      f -> ((f*ch + channel)*31 + 7) % 4001 - 2000) AS amps
       |  FROM chx)
       |SELECT doc_id, CAST(channel AS INTEGER) AS channel,
       |  CAST(rate AS INTEGER) AS sample_rate,
       |  CAST(n AS BIGINT) AS n_samples,
       |  CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
       |  CAST(list_sum(amps) AS BIGINT) AS sum_amp,
       |  CAST(list_sum(list_transform(amps, a -> a*a)) AS BIGINT)
       |    AS sum_sq_amp,
       |  CAST(list_max(list_transform(amps, a -> abs(a))) AS INTEGER)
       |    AS peak_amp
       |FROM s""".stripMargin
  }

  /** DuckDB twin of [[multimodalDecode]]: stub dims from the payload
    * length (payload = 4-byte magic + ASCII text, so n_bytes =
    * 4 + strlen), PPM dims/means from the planted header literals and the
    * arithmetic raster formula. Channel sums are exact integers on both
    * engines; the single double division then rounds identically.
    *
    * PNG rows reuse the SAME arithmetic mean derivation (lossless decode
    * recovers the raster exactly — an INDEPENDENT oracle); only their
    * `n_bytes` (deflate output length) is measured on the driver from the
    * deterministic payload. JPEG rows are fully driver-pinned literals
    * (lossy decode — a regression pin, not independent derivation; see
    * [[JpegPlanted]]). The malformed-JPEG row is ABSENT: the engine must
    * quarantine it, and the row-count gate proves it did.
    */
  private val decodeSql: String = {
    val ppmValues = PpmPlanted.map { case (id, w, h) => s"($id, $w, $h)" }
      .mkString(", ")
    def mean(c: Int) =
      s"round(list_sum(list_transform(range(0, w*h), " +
        s"p -> ((3*p + $c)*7 + 13) % 251)) / (w*h), 6)"
    val pngValues = PngPlanted.map { case (id, w, h) =>
      s"($id, $w, $h, ${pngPayload(w, h).length})"
    }.mkString(", ")
    val jpegValues = JpegPlanted.map { case (id, w, h) =>
      val bytes = jpegPayload(w, h)
      val img = decodeImage(bytes)
      val n = img.width.toLong * img.height
      def r6(v: Double) = BigDecimal(v)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"($id, ${bytes.length}, ${img.width}, ${img.height}, " +
        s"${r6(img.sumR.toDouble / n)}, ${r6(img.sumG.toDouble / n)}, " +
        s"${r6(img.sumB.toDouble / n)})"
    }.mkString(", ")
    s"""WITH stub AS (SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'image'
       |      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type,
       |    CAST(4 + strlen(text) AS INTEGER) AS n_bytes
       |  FROM documents),
       |ppm AS (SELECT * FROM (VALUES $ppmValues) v(doc_id, w, h)),
       |png AS (SELECT * FROM (VALUES $pngValues) v(doc_id, w, h, nb)),
       |jpg AS (SELECT * FROM (VALUES $jpegValues)
       |  v(doc_id, nb, w, h, mr, mg, mb))
       |SELECT doc_id, media_type, n_bytes,
       |  CAST(16 + n_bytes % 64 AS INTEGER) AS width,
       |  CAST(16 + (n_bytes // 64) % 64 AS INTEGER) AS height,
       |  CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
       |  CAST(NULL AS DOUBLE) AS mean_b
       |FROM stub
       |UNION ALL
       |SELECT doc_id, 'image' AS media_type,
       |  CAST(9 + strlen(CAST(w AS VARCHAR)) + strlen(CAST(h AS VARCHAR))
       |    + w*h*3 AS INTEGER) AS n_bytes,
       |  w AS width, h AS height,
       |  ${mean(0)} AS mean_r, ${mean(1)} AS mean_g, ${mean(2)} AS mean_b
       |FROM ppm
       |UNION ALL
       |SELECT doc_id, 'image' AS media_type, CAST(nb AS INTEGER) AS n_bytes,
       |  w AS width, h AS height,
       |  ${mean(0)} AS mean_r, ${mean(1)} AS mean_g, ${mean(2)} AS mean_b
       |FROM png
       |UNION ALL
       |SELECT doc_id, 'image' AS media_type, CAST(nb AS INTEGER) AS n_bytes,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(mr AS DOUBLE) AS mean_r, CAST(mg AS DOUBLE) AS mean_g,
       |  CAST(mb AS DOUBLE) AS mean_b
       |FROM jpg""".stripMargin
  }

  /** DuckDB twin of [[multimodalResize]]: the planted dims (PPM and PNG —
    * both decode back to the arithmetic raster, PPM by direct parse, PNG
    * by lossless `ImageIO` decode) cross the thumb grid; the
    * nearest-neighbor source pixel index feeds the arithmetic raster
    * formula — integer-exact on both engines.
    */
  private val resizeSql: String = {
    val ppmValues = (PpmPlanted ++ PngPlanted)
      .map { case (id, w, h) => s"($id, $w, $h)" }
      .mkString(", ")
    s"""WITH ppm AS (SELECT * FROM (VALUES $ppmValues) v(doc_id, w, h)),
       |grid AS (SELECT doc_id, w, h, px, py FROM ppm,
       |  (SELECT unnest(range(0, $ThumbW)) AS px),
       |  (SELECT unnest(range(0, $ThumbH)) AS py)),
       |src AS (SELECT doc_id, px, py,
       |    ((py * h) // $ThumbH) * w + ((px * w) // $ThumbW) AS p
       |  FROM grid)
       |SELECT doc_id, CAST(px AS INTEGER) AS px, CAST(py AS INTEGER) AS py,
       |  CAST(((3 * p) * 7 + 13) % 251 AS INTEGER) AS r,
       |  CAST(((3 * p + 1) * 7 + 13) % 251 AS INTEGER) AS g,
       |  CAST(((3 * p + 2) * 7 + 13) % 251 AS INTEGER) AS b
       |FROM src""".stripMargin
  }

  /** DuckDB twin of [[multimodalVideo]]: per planted (doc_id, w, h,
    * frames, fps), every stride-2 frame derives its plane sums and luma
    * peak from the arithmetic plane formula — integer-exact on both
    * engines, rational fps duration via integer division. The
    * malformed-Y4M row is ABSENT (engine quarantine, proven by the
    * row-count gate).
    */
  private val videoSql: String = {
    val vidValues = VideoPlanted.map { case (id, w, h, n, fn, fd, _) =>
      s"($id, $w, $h, $n, $fn, $fd)" }.mkString(", ")
    def plane(p: Int) =
      s"list_transform(range(0, w*h), i -> (i*31 + f*17 + $p*7 + 13) % 251)"
    s"""WITH vid AS (SELECT * FROM (VALUES $vidValues)
       |  v(doc_id, w, h, n, fnum, fden)),
       |fr AS (SELECT doc_id, w, h, n, fnum, fden,
       |    unnest(range(0, n, $VideoFrameStride)) AS f FROM vid)
       |SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
       |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       |  CAST(n AS INTEGER) AS n_frames,
       |  CAST(n * 1000 * fden // fnum AS BIGINT) AS duration_ms,
       |  CAST(list_sum(${plane(0)}) AS BIGINT) AS sum_y,
       |  CAST(list_sum(${plane(1)}) AS BIGINT) AS sum_u,
       |  CAST(list_sum(${plane(2)}) AS BIGINT) AS sum_v,
       |  CAST(list_max(${plane(0)}) AS INTEGER) AS peak_y
       |FROM fr""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q_multimodal_meta" ->
      """SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS media_type, CAST(4 + strlen(text) AS INTEGER) AS n_bytes, 'IMG0' AS magic, sha256('IMG0' || text) AS sha256 FROM documents""",
    "q_multimodal_decode" -> decodeSql,
    "q_multimodal_resize" -> resizeSql,
    "q_multimodal_audio" -> audioSql,
    "q_multimodal_video" -> videoSql,
    "q_image_dedup" -> imageDedupSql,
    "q_image_decontaminate" -> imageDecontaminateSql,
    "q_audio_dedup" -> audioDedupSql,
    "q_video_dedup" -> videoDedupSql,
    "q_audio_decontaminate" -> audioDecontaminateSql,
    "q_video_decontaminate" -> videoDecontaminateSql,
    "q_frame_sample" ->
      """WITH m AS (SELECT doc_id, 'IMG0' || text AS p FROM documents),
        |o AS (SELECT doc_id, p,
        |    unnest(range(0, strlen(p), 64)) AS frame_off FROM m)
        |SELECT doc_id, CAST(frame_off AS INTEGER) AS frame_off,
        |  substr(p, CAST(frame_off + 1 AS INTEGER), 4) AS frame_magic
        |FROM o""".stripMargin)
}
