package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct, exactly as a 100 TB
  * training corpus stores them (parquet binary + metadata, decode deferred
  * to the feature step).
  *
  * The decode step itself requires native codec libraries that are NOT in
  * this environment, so `decodeStub` is a clearly-marked deterministic
  * fake. Everything around it — the schema, the batch iterator boundary
  * (`mapPartitions`, Spark's Scala equivalent of `mapInPandas`: one
  * invocation per batch of rows, vectorizable), partitioning, and the
  * output contract — is real and tested.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("codec", StringType, nullable = true)
    )), nullable = true)
  ))

  /** Build a media table from any binary-ish source column; here we derive
    * payloads from document text bytes so the plumbing is exercised on the
    * harness testdata.
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      (when(col("doc_id") % 3 === 0, "image")
        .when(col("doc_id") % 3 === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (pmod(col("doc_id"), lit(64)) * 16 + 16).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 16).cast("int").as("height"),
        (col("n_chars") * 10).cast("long").as("duration_ms"),
        lit("stub").as("codec")).as("meta"))

  /** Cheap payload statistics — pure expressions, no decode. */
  def withByteStats(media: DataFrame): DataFrame =
    media
      .withColumn("n_bytes", octet_length(col("payload")).cast("long"))
      .withColumn("payload_md5", md5(col("payload")))

  // ---- PNG container header synthesis / parsing (byte-level, no codec) --

  /** A valid PNG file prefix — 8-byte signature, IHDR chunk length (13),
    * "IHDR", then width and height as big-endian 32-bit ints, then
    * bit-depth 8 / truecolor / default flags. Built with pure
    * expressions: int -> hex -> zero-pad -> unhex gives exact big-endian
    * bytes, so the synthesis is codegen'd and engine-reproducible.
    *
    * This is the REAL container-parsing boundary of an image pipeline:
    * dimensions, signatures, and chunk layout live in the header and are
    * readable at scan speed without any codec — only pixel DECODE
    * needs a codec.
    */
  def pngHeader(width: Column, height: Column): Column =
    unhex(concat(
      lit("89504E470D0A1A0A"), // PNG signature
      lit("0000000D"),         // IHDR length = 13
      lit("49484452"),         // "IHDR"
      lpad(hex(width.cast(IntegerType)), 8, "0"),
      lpad(hex(height.cast(IntegerType)), 8, "0"),
      lit("0802000000")))      // bit depth 8, truecolor, std flags

  /** Width/height parsed straight out of IHDR bytes (big-endian 32-bit
    * at offsets 16 and 20): binary slice -> hex -> base-16 conv. No UDF,
    * no decode — a scan-speed projection.
    */
  def pngWidth(payload: Column): Column =
    conv(hex(substring(payload, 17, 4)), 16, 10).cast(IntegerType)

  def pngHeight(payload: Column): Column =
    conv(hex(substring(payload, 21, 4)), 16, 10).cast(IntegerType)

  /** Image-kind media rows whose payloads carry a genuine PNG header
    * (synthesized from the metadata dims) followed by the content bytes —
    * so header parsing is testable end-to-end on the harness testdata.
    */
  def pngMedia(docs: DataFrame): DataFrame = {
    val w = (pmod(col("doc_id"), lit(64)) * 16 + 16).cast(IntegerType)
    val h = (pmod(col("doc_id"), lit(48)) * 16 + 16).cast(IntegerType)
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id").as("media_id"),
        concat(pngHeader(w, h), encode(col("text"), "UTF-8")).as("payload"))
  }

  /** Metadata-level "resize": recompute target dims preserving aspect
    * ratio — expression-only (the pixel work would happen in a
    * decoder).
    */
  def resizeMeta(media: DataFrame, maxSide: Int): DataFrame = {
    val w = col("meta.width").cast("double")
    val h = col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(maxSide.toDouble) / greatest(w, h))
    media
      .withColumn("resized_w", round(w * scale).cast("int"))
      .withColumn("resized_h", round(h * scale).cast("int"))
  }

  /** Chunking plan for audio rows: fixed `chunkMs` windows every
    * `strideMs` over the metadata duration — the segmentation an
    * ASR/audio-feature pipeline feeds its decoder, as a pure explode of a
    * generated sequence (decode deferred to the decoder). `n_samples` is integer arithmetic at
    * the metadata sample rate so any engine reproduces it exactly.
    */
  def chunkAudio(
      media: DataFrame,
      chunkMs: Long,
      strideMs: Long,
      sampleRate: Int = 16000,
      maxChunks: Int = 64): DataFrame =
    // duration must be known and positive: greatest()/least() SKIP
    // nulls, so a null duration_ms would otherwise fabricate a
    // [0, chunkMs] chunk (and duration 0 a zero-length one) for audio
    // whose real length nobody knows — unknown-duration rows emit no
    // chunks
    media.filter(col("kind") === "audio" && col("meta.duration_ms") > 0)
      .withColumn("start_ms", explode(slice(
        sequence(lit(0L), greatest(col("meta.duration_ms") - 1, lit(0L)),
          lit(strideMs)),
        1, maxChunks)))
      .withColumn("end_ms",
        least(col("start_ms") + chunkMs, col("meta.duration_ms")))
      .withColumn("n_samples",
        expr(s"((end_ms - start_ms) * $sampleRate) div 1000"))
      .select(col("media_id"), col("start_ms"), col("end_ms"), col("n_samples"))

  /** Frame-sampling plan for video rows: one output row per sampled frame
    * timestamp (every `everyMs`), capped at `maxFrames` — an explode of a
    * generated sequence, no decode.
    */
  def sampleFrames(media: DataFrame, everyMs: Long, maxFrames: Int = 32): DataFrame =
    // unknown/zero duration emits no frames — see chunkAudio
    media.filter(col("kind") === "video" && col("meta.duration_ms") > 0)
      .withColumn("frame_ts_ms", explode(slice(
        sequence(lit(0L), greatest(col("meta.duration_ms") - 1, lit(0L)), lit(everyMs)),
        1, maxFrames)))
      .select(col("media_id"), col("frame_ts_ms"))

  // ---- REAL pixel encode/decode via the JVM's built-in PNG codec -------

  /** Deterministic pixel formula: channel values at (x, y) for image
    * `id`. Pure integer arithmetic, so an external engine can recompute
    * any aggregate of the decoded pixels analytically — this is what
    * makes a REAL codec roundtrip oracle-checkable.
    */
  @inline def pixelR(id: Long, x: Int, y: Int): Int = (((id + 7L * x + 13L * y) % 256) + 256).toInt % 256
  @inline def pixelG(id: Long, x: Int, y: Int): Int = (((3L * id + 5L * x + 11L * y) % 256) + 256).toInt % 256
  @inline def pixelB(id: Long, x: Int, y: Int): Int = (((5L * id + 3L * x + 17L * y) % 256) + 256).toInt % 256

  /** Encode a deterministic `w`x`h` image for `id` as a REAL PNG file —
    * `javax.imageio` ships in the JVM, so no native codec is needed.
    * Executor-side only (called inside `mapPartitions`).
    */
  def encodePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixelR(id, x, y) << 16) | (pixelG(id, x, y) << 8) | pixelB(id, x, y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  case class DecodedImage(media_id: Long, width: Int, height: Int,
      sum_r: Long, sum_g: Long, sum_b: Long)

  /** Decode PNG bytes and reduce to exact per-channel pixel sums. */
  def decodePng(id: Long, bytes: Array[Byte]): DecodedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"media $id: payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    DecodedImage(id, w, h, sr, sg, sb)
  }

  /** REAL codec roundtrip at the decode boundary: for every input
    * (id, w, h) row, ENCODE a deterministic image to actual PNG bytes and
    * DECODE it back, emitting parsed dimensions plus exact per-channel
    * pixel sums. `mapPartitions` is the sanctioned seam — one codec
    * context per task, batched rows through it, fixed-width rows out; at
    * 100 TB the payload column would arrive from parquet instead of the
    * synthesizer, and only this one stage changes.
    */
  def pngRoundtrip(spark: SparkSession, dims: DataFrame): Dataset[DecodedImage] = {
    import spark.implicits._
    dims.select(col("media_id").cast(LongType),
        col("width").cast(IntegerType), col("height").cast(IntegerType))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, w, h) => decodePng(id, encodePng(id, w, h)) }
      }
  }

  // ---- JPEG through the same seam ---------------------------------------

  /** Encode a CONSTANT-gray `w`x`h` image as a real JPEG at explicit
    * compression quality 1.0 (all-ones quantization tables). A constant
    * image is the one signal class where lossy JPEG is bit-exact: every
    * 8x8 block's DCT is DC-only (AC exactly zero, and edge blocks pad by
    * replication so they stay constant), the DC coefficient 8*(v-128) is
    * exactly representable, and the unit quant table preserves it — so
    * the decoded plane equals the input plane and an external oracle can
    * recompute any pixel aggregate ANALYTICALLY (sum = w*h*gray). That
    * is what makes a lossy-codec roundtrip oracle-checkable at all; the
    * codec path being exercised (ImageIO JPEG writer/reader, the same
    * `mapPartitions` seam as [[pngRoundtrip]]) is the one a real corpus
    * decode would use.
    */
  def encodeJpeg(w: Int, h: Int, gray: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, gray); x += 1 }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(1.0f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  case class DecodedJpeg(media_id: Long, width: Int, height: Int,
      sum_gray: Long)

  /** Decode JPEG bytes and reduce to the exact gray-plane pixel sum. */
  def decodeJpeg(id: Long, bytes: Array[Byte]): DecodedJpeg = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, s"media $id: payload is not a decodable image")
    val raster = img.getRaster
    val (w, h) = (img.getWidth, img.getHeight)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { sum += raster.getSample(x, y, 0); x += 1 }
      y += 1
    }
    DecodedJpeg(id, w, h, sum)
  }

  /** JPEG encode→decode roundtrip at the decode boundary — the JPEG twin
    * of [[pngRoundtrip]]: for every (id, w, h, gray) row, write a real
    * JPEG and decode it back, emitting parsed dims + the exact pixel
    * sum. SOI magic is asserted per row so a silent fallback to another
    * writer format cannot pass the gate.
    */
  def jpegRoundtrip(spark: SparkSession, dims: DataFrame): Dataset[DecodedJpeg] = {
    import spark.implicits._
    dims.select(col("media_id").cast(LongType),
        col("width").cast(IntegerType), col("height").cast(IntegerType),
        col("gray").cast(IntegerType))
      .as[(Long, Int, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, w, h, g) =>
          val bytes = encodeJpeg(w, h, g)
          require(bytes.length >= 2 &&
            (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8,
            s"media $id: writer did not produce JPEG (no SOI marker)")
          decodeJpeg(id, bytes)
        }
      }
  }

  // ---- Perceptual hash (dHash) through the same seam --------------------

  /** Deterministic 8x8 gray test image for `id`: base plane
    * `((id % 250)(2y + 3) + (7 + 29y)x) % 252` plus order-preserving
    * noise `((id div 250) * (x + y)) % 4`. Two ids with the same
    * `id % 250` are planted NEAR-duplicates: their pixels differ
    * (noise), but every horizontally-adjacent comparison keeps its
    * sign — the left-to-right step is `7 + 29y` ∈ [7, 210], so away
    * from a mod-252 wrap the noised difference stays in [4, 213] > 0,
    * and across a wrap (at most one per step, since the step < 252)
    * it stays <= -42 + 3 < 0 — so their dHash is provably identical
    * while their raw bytes are not. The seed-multiplied per-row offset
    * makes the wrap pattern (hence the hash) vary richly across seeds
    * (233 distinct hashes over the 250 seeds; dHash collisions between
    * same-gradient-family images are the expected perceptual-hash
    * behavior, and the oracle replays whatever the formula yields).
    */
  private[graft] def grayPixel(id: Long, x: Int, y: Int): Int =
    (((id % 250) * (2 * y + 3) + (7 + 29 * y) * x) % 252).toInt +
      (((id / 250) * (x + y)) % 4).toInt

  private def encodeGrayPng(id: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) { raster.setSample(x, y, 0, grayPixel(id, x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  case class HashedImage(media_id: Long, phash: Long)

  /** Difference-hash (dHash, public domain technique: Krawetz's
    * "kind of like that" gradient hash) over REAL decoded pixels: each
    * image is encoded to actual PNG bytes and decoded back through
    * `javax.imageio` at the `mapPartitions` seam, then bit `y*7 + x` is
    * set iff pixel (x+1, y) > pixel (x, y) — 7 comparisons per row x 8
    * rows = 56 bits, which keeps the hash in non-negative BIGINT range
    * on every engine. Perceptually-close images (small monotone pixel
    * perturbations) collapse to the same key, so near-dup grouping is
    * an exact `groupBy(phash)` — at 100 TB the hash is computed at
    * decode time and the grouping is one map-side-combinable aggregate,
    * never a pairwise image comparison.
    */
  def dhashRoundtrip(spark: SparkSession, ids: DataFrame): Dataset[HashedImage] = {
    import spark.implicits._
    ids.select(col("media_id").cast(LongType)).as[Long]
      .mapPartitions { rows =>
        rows.map { id =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(encodeGrayPng(id)))
          require(img != null, s"media $id: payload is not a decodable image")
          val raster = img.getRaster
          var hash = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 7) {
              if (raster.getSample(x + 1, y, 0) > raster.getSample(x, y, 0))
                hash |= 1L << (y * 7 + x)
              x += 1
            }
            y += 1
          }
          HashedImage(id, hash)
        }
      }
  }

  // ---- REAL audio decode: RIFF/WAVE container + PCM samples ------------

  /** Deterministic 16-bit PCM sample formula: sample `i` of clip `id`,
    * in [-32768, 32767]. Pure integer arithmetic (the [[pixelR]]
    * discipline for audio), so an external engine recomputes any
    * aggregate of the decoded samples analytically — what makes a REAL
    * container+PCM decode oracle-checkable.
    */
  @inline def pcmSample(id: Long, i: Int): Int =
    ((((id * 31L + 17L * i) % 65536L) + 65536L) % 65536L - 32768L).toInt

  /** Encode a deterministic clip as a REAL RIFF/WAVE file: PCM s16le
    * mono, little-endian throughout, with a `LIST` metadata chunk
    * deliberately placed BEFORE `data` — a decoder that assumes samples
    * start at fixed offset 44 (instead of walking chunks) reads garbage
    * and goes red under the gate. Executor-side only.
    */
  def encodeWav(id: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
    val info = s"graft-$id".getBytes("US-ASCII")
    val infoPadded = if (info.length % 2 == 0) info else info :+ 0.toByte
    val listBody = 4 + 8 + infoPadded.length // "INFO" + "INAM" subchunk
    val dataBytes = nSamples * 2
    val riffBody = 4 + (8 + 16) + (8 + listBody) + (8 + dataBytes)
    val buf = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffBody)
      .put("WAVE".getBytes("US-ASCII"))
    // fmt chunk: PCM(1), mono, rate, byteRate, blockAlign, 16 bits
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16)
    // LIST/INFO chunk before data — forces real chunk walking
    buf.put("LIST".getBytes("US-ASCII")).putInt(listBody)
      .put("INFO".getBytes("US-ASCII"))
      .put("INAM".getBytes("US-ASCII")).putInt(info.length).put(infoPadded)
    buf.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    var i = 0
    while (i < nSamples) { buf.putShort(pcmSample(id, i).toShort); i += 1 }
    buf.array()
  }

  case class DecodedAudio(media_id: Long, sample_rate: Int, n_channels: Int,
      bits: Int, n_samples: Long, sum_samples: Long, min_sample: Int,
      max_sample: Int)

  /** Parsed s16-mono WAV: format fields + the decoded sample array.
    * The ONE chunk-walking parse [[decodeWav]] (aggregate reduction) and
    * [[wavVadFeatures]] (frame-level features) share — two parsers would
    * inevitably drift on the chunk-walk details the gate exists to pin.
    */
  private[operators] case class ParsedWav(rate: Int, channels: Int,
      bits: Int, samples: Array[Int])

  private[operators] def parseWav(id: Long, bytes: Array[Byte]): ParsedWav = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(fourcc() == "RIFF", s"media $id: not a RIFF container")
    buf.getInt // riff body size
    require(fourcc() == "WAVE", s"media $id: RIFF but not WAVE")
    var rate, channels, bits = -1
    var dataOff, dataLen = -1
    while (buf.remaining() >= 8) {
      val cid = fourcc()
      val size = buf.getInt
      cid match {
        case "fmt " =>
          val p = buf.position()
          val audioFormat = buf.getShort.toInt
          require(audioFormat == 1, s"media $id: non-PCM WAV (format $audioFormat)")
          channels = buf.getShort.toInt
          rate = buf.getInt
          buf.getInt; buf.getShort // byteRate, blockAlign
          bits = buf.getShort.toInt
          buf.position(p)
        case "data" => dataOff = buf.position(); dataLen = size
        case _ => () // LIST etc: skipped below
      }
      buf.position(buf.position() + size + (size & 1)) // odd sizes pad
    }
    require(rate > 0 && dataOff >= 0, s"media $id: missing fmt/data chunk")
    require(bits == 16 && channels == 1,
      s"media $id: expected s16 mono, got ${bits}-bit x$channels")
    val n = dataLen / 2
    val samples = new Array[Int](n)
    buf.position(dataOff)
    var i = 0
    while (i < n) { samples(i) = buf.getShort.toInt; i += 1 }
    ParsedWav(rate, channels, bits, samples)
  }

  /** Decode WAV bytes: verify the RIFF/WAVE magic, WALK the chunk list
    * (arbitrary chunk order, odd-size pad bytes) to `fmt ` and `data`,
    * require PCM s16, then reduce the samples to exact count/sum/min/max.
    */
  def decodeWav(id: Long, bytes: Array[Byte]): DecodedAudio = {
    val w = parseWav(id, bytes)
    var (s, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
    var i = 0
    while (i < w.samples.length) {
      val v = w.samples(i)
      s += v; if (v < mn) mn = v; if (v > mx) mx = v
      i += 1
    }
    val n = w.samples.length
    DecodedAudio(id, w.rate, w.channels, w.bits, n.toLong, s,
      if (n == 0) 0 else mn, if (n == 0) 0 else mx)
  }

  /** REAL audio roundtrip at the decode boundary: for every
    * (id, n_samples, sample_rate) row, ENCODE a deterministic clip to
    * actual WAV bytes and DECODE it back through the chunk-walking
    * parser — the [[pngRoundtrip]] discipline for the audio modality.
    * Same `mapPartitions` seam: at 100 TB the payload column arrives
    * from parquet instead of the synthesizer and only this stage
    * changes; everything downstream is fixed-width rows.
    */
  def wavRoundtrip(spark: SparkSession, specs: DataFrame): Dataset[DecodedAudio] = {
    import spark.implicits._
    specs.select(col("media_id").cast(LongType),
        col("n_samples").cast(IntegerType), col("sample_rate").cast(IntegerType))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, n, rate) => decodeWav(id, encodeWav(id, n, rate)) }
      }
  }

  case class AudioChunkFeatures(media_id: Long, chunk_idx: Int,
      start_ms: Long, n: Int, energy_sum: Long, zero_crossings: Int)

  /** Frame-level voice-activity features over REAL decoded PCM — the
    * energy/ZCR pair every ASR-data curation front-end computes
    * (silence gating, speech/noise triage): the clip decodes through
    * the SAME chunk-walking parser as [[decodeWav]], then fixed windows
    * of `windowSamples` samples each emit exact integer features:
    *
    *   energy_sum      — Σ s_i² over the window (s16 ⇒ ≤ 2^30 per
    *                     sample, long-exact at any window size)
    *   zero_crossings  — adjacent pairs WITHIN the window with strictly
    *                     opposite signs (s_i·s_{i+1} < 0; zeros cross
    *                     nothing, window-boundary pairs belong to no
    *                     window — both rules engine-replayable)
    *
    * All integer arithmetic, so an external oracle can replay every
    * feature from the sample formula analytically. Same
    * `mapPartitions` codec seam as the other modalities: at 100 TB the
    * payload column arrives from parquet and only this stage changes —
    * features are per-row work, no shuffle.
    */
  def wavVadFeatures(spark: SparkSession, specs: DataFrame,
      windowSamples: Int): Dataset[AudioChunkFeatures] = {
    import spark.implicits._
    require(windowSamples >= 2,
      s"VAD window must hold at least one sample pair (got $windowSamples)")
    specs.select(col("media_id").cast(LongType),
        col("n_samples").cast(IntegerType), col("sample_rate").cast(IntegerType))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, n, rate) =>
          val w = parseWav(id, encodeWav(id, n, rate))
          val ss = w.samples
          (0 until (ss.length + windowSamples - 1) / windowSamples).map { c =>
            val from = c * windowSamples
            val until = math.min(ss.length, from + windowSamples)
            var energy = 0L
            var zc = 0
            var i = from
            while (i < until) {
              energy += ss(i).toLong * ss(i)
              if (i + 1 < until && ss(i).toLong * ss(i + 1) < 0L) zc += 1
              i += 1
            }
            AudioChunkFeatures(id, c, from.toLong * 1000L / w.rate,
              until - from, energy, zc)
          }
        }
      }
  }

  // ---- Video: REAL MJPEG-in-AVI through the same seam --------------------
  //
  // The video modality gets the WAV/PNG discipline: a real container
  // format (RIFF/AVI, the canonical MJPEG carrier) written byte-for-byte
  // to spec — RIFF word alignment, avih/strh/strf headers, '00dc' frame
  // chunks, idx1 keyframe index — and decoded back by a chunk-walking
  // parser that takes fps from the stream header and each frame's pixels
  // from the SAME ImageIO JPEG codec the image path uses. Frames are
  // constant-gray at quality 1.0 (DC-only DCT, bit-exact through the
  // lossy codec — see [[encodeJpeg]]), so an external oracle recomputes
  // every per-frame pixel sum analytically: sum = w * h * frameGray.

  /** Deterministic constant gray of video `id`'s frame `f` — the
    * analytic formula any engine replays.
    */
  @inline def frameGray(id: Long, f: Int): Int =
    (((id * 31L + 29L * f) % 256L) + 256L).toInt % 256

  private def fourcc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  private def u32le(v: Long): Array[Byte] =
    Array[Byte](
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def u16le(v: Int): Array[Byte] =
    Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)

  /** Encode a deterministic `nFrames`-frame `w`x`h` clip for `id` as a
    * REAL AVI file carrying MJPEG: every frame is an actual JPEG from
    * [[encodeJpeg]] (constant gray [[frameGray]](id, f)), wrapped in
    * spec-correct RIFF structure. Executor-side only (called inside
    * `mapPartitions`).
    */
  def encodeAvi(id: Long, w: Int, h: Int, nFrames: Int, fps: Int): Array[Byte] = {
    require(nFrames > 0 && fps > 0, s"media $id: need frames>0, fps>0")
    val frames = (0 until nFrames).map(f => encodeJpeg(w, h, frameGray(id, f)))
    val maxFrame = frames.map(_.length).max
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b)

    // ---- LIST hdrl: avih + one vids strl ----
    val avih = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(u32le(1000000L / fps)) // dwMicroSecPerFrame
      b.write(u32le(0)); b.write(u32le(0))
      b.write(u32le(0x10)) // AVIF_HASINDEX
      b.write(u32le(nFrames)); b.write(u32le(0))
      b.write(u32le(1)) // dwStreams
      b.write(u32le(maxFrame))
      b.write(u32le(w)); b.write(u32le(h))
      (0 until 4).foreach(_ => b.write(u32le(0))) // dwReserved
      b.toByteArray
    }
    val strh = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc("vids")); b.write(fourcc("MJPG"))
      b.write(u32le(0)); b.write(u32le(0)) // flags, priority+language
      b.write(u32le(0)) // initial frames
      b.write(u32le(1)); b.write(u32le(fps)) // dwScale, dwRate
      b.write(u32le(0)); b.write(u32le(nFrames)) // start, length
      b.write(u32le(maxFrame)); b.write(u32le(0xffffffffL)) // bufsize, quality=-1
      b.write(u32le(0)) // sample size (0: varies per frame)
      b.write(u16le(0)); b.write(u16le(0)); b.write(u16le(w)); b.write(u16le(h))
      b.toByteArray
    }
    val strf = { // BITMAPINFOHEADER
      val b = new java.io.ByteArrayOutputStream()
      b.write(u32le(40)); b.write(u32le(w)); b.write(u32le(h))
      b.write(u16le(1)); b.write(u16le(24)) // planes, bitcount
      b.write(fourcc("MJPG")) // biCompression
      b.write(u32le(w.toLong * h * 3))
      b.write(u32le(0)); b.write(u32le(0)); b.write(u32le(0)); b.write(u32le(0))
      b.toByteArray
    }
    require(avih.length == 56 && strh.length == 56 && strf.length == 40,
      "AVI header block sizes drifted from spec")
    val strl = { // LIST strl (strh + strf chunks)
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc("LIST"))
      b.write(u32le(4L + 8 + strh.length + 8 + strf.length))
      b.write(fourcc("strl"))
      b.write(fourcc("strh")); b.write(u32le(strh.length)); b.write(strh)
      b.write(fourcc("strf")); b.write(u32le(strf.length)); b.write(strf)
      b.toByteArray
    }
    val hdrl = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc("LIST"))
      b.write(u32le(4L + 8 + avih.length + strl.length))
      b.write(fourcc("hdrl"))
      b.write(fourcc("avih")); b.write(u32le(avih.length)); b.write(avih)
      b.write(strl)
      b.toByteArray
    }

    // ---- LIST movi: one '00dc' chunk per frame, RIFF even-padded ----
    // (JPEG lengths are frequently odd; the pad byte is NOT counted in
    // the chunk size — exactly the alignment rule real readers enforce)
    val movi = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc("LIST"))
      val dataLen = 4L + frames.map(fr => 8L + fr.length + (fr.length & 1)).sum
      b.write(u32le(dataLen))
      b.write(fourcc("movi"))
      frames.foreach { fr =>
        b.write(fourcc("00dc")); b.write(u32le(fr.length)); b.write(fr)
        if ((fr.length & 1) == 1) b.write(0)
      }
      b.toByteArray
    }

    // ---- idx1: chunk offsets relative to the 'movi' fourcc ----
    val idx1 = {
      val b = new java.io.ByteArrayOutputStream()
      b.write(fourcc("idx1")); b.write(u32le(16L * nFrames))
      var off = 4L // first '00dc' sits right after the 'movi' fourcc
      frames.foreach { fr =>
        b.write(fourcc("00dc")); b.write(u32le(0x10)) // AVIIF_KEYFRAME
        b.write(u32le(off)); b.write(u32le(fr.length))
        off += 8L + fr.length + (fr.length & 1)
      }
      b.toByteArray
    }

    val body = hdrl.length.toLong + movi.length + idx1.length + 4L
    put(fourcc("RIFF")); put(u32le(body)); put(fourcc("AVI "))
    put(hdrl); put(movi); put(idx1)
    bos.toByteArray
  }

  case class DecodedFrame(media_id: Long, frame_idx: Int, frame_ts_ms: Long,
      width: Int, height: Int, sum_gray: Long)

  /** Video stream header facts the parser recovers before touching any
    * frame: timing (dwRate/dwScale) and the declared frame count.
    */
  private case class VideoStreamInfo(scale: Long, rate: Long, nFrames: Long)

  private class RiffReader(bytes: Array[Byte], id: Long) {
    val buf: java.nio.ByteBuffer = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourccAt(pos: Int): String = {
      require(pos + 4 <= bytes.length, s"media $id: truncated AVI (fourcc at $pos)")
      new String(bytes, pos, 4, "US-ASCII")
    }
    def u32At(pos: Int): Long = {
      require(pos + 4 <= bytes.length, s"media $id: truncated AVI (u32 at $pos)")
      buf.getInt(pos).toLong & 0xffffffffL
    }
  }

  /** Walk a RIFF chunk run in `[start, end)` calling `onChunk(fourcc,
    * dataPos, dataLen)`; returns normally only if the run is
    * well-formed (sizes in bounds, even-padded walk).
    */
  private def walkChunks(r: RiffReader, start: Int, end: Int)(
      onChunk: (String, Int, Int) => Unit): Unit = {
    var pos = start
    while (pos + 8 <= end) {
      val cc = r.fourccAt(pos)
      val len = r.u32At(pos + 4)
      require(pos + 8 + len <= end,
        s"chunk $cc at $pos overruns its enclosing list ($len bytes)")
      onChunk(cc, pos + 8, len.toInt)
      pos += 8 + len.toInt + (len.toInt & 1) // RIFF word alignment
    }
  }

  /** Parse the vids stream header out of LIST hdrl: fccType 'vids',
    * handler MJPG, timing from dwScale/dwRate.
    */
  private def parseHdrl(r: RiffReader, dataPos: Int, dataLen: Int,
      id: Long): VideoStreamInfo = {
    var info = Option.empty[VideoStreamInfo]
    walkChunks(r, dataPos + 4, dataPos + dataLen) { (cc, p, l) =>
      if (cc == "LIST" && r.fourccAt(p) == "strl") {
        var strh = Option.empty[Int]
        walkChunks(r, p + 4, p + l) { (scc, sp, _) =>
          if (scc == "strh") strh = Some(sp)
        }
        strh.foreach { sp =>
          if (r.fourccAt(sp) == "vids") {
            require(r.fourccAt(sp + 4) == "MJPG",
              s"media $id: vids stream handler ${r.fourccAt(sp + 4)} != MJPG")
            val scale = r.u32At(sp + 20)
            val rate = r.u32At(sp + 24)
            require(scale > 0 && rate > 0,
              s"media $id: degenerate stream timing scale=$scale rate=$rate")
            info = Some(VideoStreamInfo(scale, rate, r.u32At(sp + 32)))
          }
        }
      }
    }
    info.getOrElse(
      throw new IllegalArgumentException(s"media $id: AVI has no vids stream"))
  }

  /** Decode an MJPEG AVI: parse the RIFF structure (magic, hdrl stream
    * timing, movi chunk walk), decode EVERY '00dc'/'00db' frame through
    * the real JPEG codec, and reduce each to its exact gray-plane pixel
    * sum. `frameFilter` limits which frame indexes are pixel-decoded
    * (the container walk still visits every chunk — that is metadata
    * work; pixel decode is the expensive part a sampler skips).
    */
  def decodeAviFrames(id: Long, bytes: Array[Byte],
      frameFilter: Int => Boolean = _ => true): Seq[DecodedFrame] = {
    val r = new RiffReader(bytes, id)
    require(r.fourccAt(0) == "RIFF" && r.fourccAt(8) == "AVI ",
      s"media $id: payload is not an AVI (RIFF magic missing)")
    val riffLen = r.u32At(4)
    require(8 + riffLen <= bytes.length, s"media $id: truncated AVI body")
    var stream = Option.empty[VideoStreamInfo]
    val out = Seq.newBuilder[DecodedFrame]
    var frameIdx = 0
    walkChunks(r, 12, (8 + riffLen).toInt) { (cc, p, l) =>
      if (cc == "LIST" && r.fourccAt(p) == "hdrl")
        stream = Some(parseHdrl(r, p, l, id))
      else if (cc == "LIST" && r.fourccAt(p) == "movi") {
        val info = stream.getOrElse(throw new IllegalArgumentException(
          s"media $id: movi before hdrl"))
        walkChunks(r, p + 4, p + l) { (fcc, fp, fl) =>
          if (fcc.endsWith("dc") || fcc.endsWith("db")) {
            if (frameFilter(frameIdx)) {
              val jpeg = java.util.Arrays.copyOfRange(bytes, fp, fp + fl)
              require(fl >= 2 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
                s"media $id frame $frameIdx: chunk is not a JPEG (no SOI)")
              val d = decodeJpeg(id, jpeg)
              out += DecodedFrame(id, frameIdx,
                frameIdx * 1000L * info.scale / info.rate,
                d.width, d.height, d.sum_gray)
            }
            frameIdx += 1
          }
        }
      }
    }
    val res = out.result()
    stream.foreach(info => require(frameIdx.toLong == info.nFrames,
      s"media $id: movi carries $frameIdx frames, header declares ${info.nFrames}"))
    res
  }

  /** REAL video roundtrip at the decode boundary — the MJPEG/AVI twin of
    * [[pngRoundtrip]]/[[wavRoundtrip]]: for every (id, w, h, n_frames,
    * fps) row, write an actual AVI container and decode every frame
    * back, emitting per-frame dims + exact pixel sums. Same
    * `mapPartitions` seam — at 100 TB the payload column arrives from
    * parquet and only this stage changes.
    */
  def aviRoundtrip(spark: SparkSession, specs: DataFrame): Dataset[DecodedFrame] = {
    import spark.implicits._
    specs.select(col("media_id").cast(LongType),
        col("width").cast(IntegerType), col("height").cast(IntegerType),
        col("n_frames").cast(IntegerType), col("fps").cast(IntegerType))
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, w, h, n, fps) =>
          decodeAviFrames(id, encodeAvi(id, w, h, n, fps))
        }
      }
  }

  /** [[sampleFrames]] becomes the sampling FRONT-END of the real
    * decoder: sample timestamps every `everyMs` (same sequence
    * semantics, capped at `maxFrames`), map each to its container frame
    * index as ts * fps / 1000, and pixel-decode only those frames.
    * The mapping uses the CALLER's fps spec, which here IS the stream
    * header's timing (this function synthesizes the container from the
    * same spec; a reader of foreign AVIs would parse the header first
    * and map via rate/scale). Distinct target indexes only — at low fps
    * several sample instants can land on one frame.
    */
  def aviSampledRoundtrip(spark: SparkSession, specs: DataFrame,
      everyMs: Long, maxFrames: Int = 32): Dataset[DecodedFrame] = {
    import spark.implicits._
    specs.select(col("media_id").cast(LongType),
        col("width").cast(IntegerType), col("height").cast(IntegerType),
        col("n_frames").cast(IntegerType), col("fps").cast(IntegerType))
      .as[(Long, Int, Int, Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, w, h, n, fps) =>
          val bytes = encodeAvi(id, w, h, n, fps)
          val durationMs = n.toLong * 1000L / fps
          val wanted = Iterator.iterate(0L)(_ + everyMs)
            .takeWhile(_ < durationMs).take(maxFrames)
            .map(ts => (ts * fps / 1000L).toInt).toSet
          decodeAviFrames(id, bytes, wanted.contains)
        }
      }
  }
}
