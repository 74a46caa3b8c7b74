package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "image payload text", 18L),
      (1L, "audio payload", 13L),
      (2L, "video payload content here", 26L)
    ).toDF("doc_id", "text", "n_chars")
  }

  test("media table schema: binary payload + typed metadata struct") {
    val m = Multimodal.fromDocuments(docs)
    assert(m.schema("payload").dataType.typeName === "binary")
    assert(m.schema("meta").dataType.typeName === "struct")
    val kinds = m.orderBy("media_id").collect().map(_.getAs[String]("kind"))
    assert(kinds.toSeq === Seq("image", "audio", "video"))
  }

  test("byte stats computed without decode") {
    val m = Multimodal.withByteStats(Multimodal.fromDocuments(docs))
    val r = m.filter(col("media_id") === 0).head()
    assert(r.getAs[Long]("n_bytes") === 18L)
    assert(r.getAs[String]("payload_md5").length === 32)
  }

  test("resizeMeta preserves aspect ratio, caps max side") {
    val m = Multimodal.resizeMeta(Multimodal.fromDocuments(docs), maxSide = 8)
    val r = m.filter(col("media_id") === 2).head()
    val (w, h) = (r.getAs[Int]("resized_w"), r.getAs[Int]("resized_h"))
    assert(math.max(w, h) <= 8)
  }

  test("frame sampling: video rows only, capped frame count, everyMs stride") {
    val frames = Multimodal.sampleFrames(Multimodal.fromDocuments(docs),
      everyMs = 100, maxFrames = 2)
    val rows = frames.collect()
    assert(rows.forall(_.getAs[Long]("media_id") === 2L))
    assert(rows.map(_.getAs[Long]("frame_ts_ms")).toSeq === Seq(0L, 100L))
  }

  test("audio chunking: audio rows only, hop/width/samples, final short chunk") {
    // media_id 1 is the audio row; its duration is n_chars * 10.
    val chunks = Multimodal.chunkAudio(Multimodal.fromDocuments(docs),
        chunkMs = 100, strideMs = 60, sampleRate = 16000)
      .orderBy("start_ms").collect()
    assert(chunks.nonEmpty && chunks.forall(_.getAs[Long]("media_id") === 1L))
    val dur = Multimodal.fromDocuments(docs).filter(col("kind") === "audio")
      .select(col("meta.duration_ms")).head().getLong(0)
    chunks.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("start_ms") === i * 60L, "stride hop")
      val expectEnd = math.min(i * 60L + 100L, dur)
      assert(r.getAs[Long]("end_ms") === expectEnd, "width capped at duration")
      assert(r.getAs[Long]("n_samples") ===
        (expectEnd - i * 60L) * 16000L / 1000L, "integer sample count")
    }
    assert(chunks.last.getAs[Long]("end_ms") === dur,
      "final chunk clipped to the duration")
  }

  test("PNG header golden bytes: 1x1 header matches the spec byte-for-byte") {
    import spark.implicits._
    // Hand-computed from the PNG spec: signature, IHDR length 13, "IHDR",
    // width=1, height=1 big-endian, depth 8 / truecolor / default flags.
    val golden = "89504E470D0A1A0A" + "0000000D" + "49484452" +
      "00000001" + "00000001" + "0802000000"
    val got = Seq(1).toDF("x")
      .select(hex(Multimodal.pngHeader(lit(1), lit(1))).as("h"))
      .head().getString(0)
    assert(got === golden)
  }

  test("PNG dims survive the byte round-trip for non-trivial sizes") {
    import spark.implicits._
    val df = Seq((640, 480), (1, 1), (65535, 3), (1920, 1080)).toDF("w", "h")
      .select(col("w"), col("h"),
        Multimodal.pngHeader(col("w"), col("h")).as("p"))
    val rows = df.select(
        Multimodal.pngWidth(col("p")).as("pw"),
        Multimodal.pngHeight(col("p")).as("ph"),
        col("w"), col("h"))
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Int]("pw") === r.getAs[Int]("w"))
      assert(r.getAs[Int]("ph") === r.getAs[Int]("h"))
    }
  }
  test("JPEG constant-gray roundtrip is bit-exact for EVERY gray value") {
    // Executor-free check of the exactness claim the q_jpeg_decode
    // oracle relies on: all 256 gray levels, dims crossing 8x8 block
    // boundaries (including non-multiples with edge-replicated pad).
    for (g <- 0 to 255) {
      val (w, h) = (8 + (g % 13), 5 + (g % 11))
      val dec = Multimodal.decodeJpeg(g.toLong, Multimodal.encodeJpeg(w, h, g))
      assert(dec.width === w && dec.height === h)
      assert(dec.sum_gray === w.toLong * h * g,
        s"gray=$g dims=${w}x$h: got ${dec.sum_gray}, want ${w.toLong * h * g}")
    }
  }

  test("JPEG roundtrip dataset: SOI-gated encode, analytic sums") {
    import spark.implicits._
    val dims = Seq((1L, 16, 16, 0), (2L, 9, 7, 255), (3L, 24, 8, 128))
      .toDF("media_id", "width", "height", "gray")
    val got = Multimodal.jpegRoundtrip(spark, dims).collect()
      .sortBy(_.media_id)
    assert(got.map(d => (d.media_id, d.width, d.height, d.sum_gray)).toSeq ===
      Seq((1L, 16, 16, 0L), (2L, 9, 7, 63L * 255), (3L, 24, 8, 192L * 128)))
  }

  test("dHash from decoded pixels equals the analytic formula hash") {
    import spark.implicits._
    val ids = Seq(0L, 17L, 123L, 249L, 250L, 267L, 499L).toDF("media_id")
    val got = Multimodal.dhashRoundtrip(spark, ids).collect()
      .map(h => h.media_id -> h.phash).toMap
    ids.collect().map(_.getLong(0)).foreach { id =>
      var expect = 0L
      for (y <- 0 until 8; x <- 0 until 7)
        if (Multimodal.grayPixel(id, x + 1, y) > Multimodal.grayPixel(id, x, y))
          expect |= 1L << (y * 7 + x)
      assert(got(id) === expect, s"decoded hash diverges for id=$id")
    }
  }

  test("planted near-dup pairs collapse; hashes discriminate across seeds") {
    import spark.implicits._
    val ids = (0L until 500L).toDF("media_id")
    val hashes = Multimodal.dhashRoundtrip(spark, ids).collect()
      .map(h => h.media_id -> h.phash).toMap
    // ids i and i+250 differ only by order-preserving noise -> same hash
    (0L until 250L).foreach { i =>
      assert(hashes(i) === hashes(i + 250), s"planted pair $i split")
    }
    // distinct wrap patterns keep unrelated seeds apart (groups can
    // only merge whole pairs, and only rarely)
    val n = hashes.values.toSet.size
    assert(n >= 200, s"expected >=200 distinct hashes across 250 seeds, got $n")
  }

  test("WAV golden bytes: RIFF/fmt headers match the spec byte-for-byte") {
    val bytes = Multimodal.encodeWav(5L, nSamples = 2, sampleRate = 16000)
    def ascii(off: Int, n: Int) = new String(bytes.slice(off, off + n), "US-ASCII")
    assert(ascii(0, 4) === "RIFF" && ascii(8, 4) === "WAVE")
    assert(ascii(12, 4) === "fmt ")
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(buf.getInt(16) === 16, "fmt chunk size")
    assert(buf.getShort(20) === 1, "PCM format tag")
    assert(buf.getShort(22) === 1, "mono")
    assert(buf.getInt(24) === 16000, "sample rate")
    assert(buf.getInt(28) === 32000, "byte rate")
    assert(buf.getShort(32) === 2 && buf.getShort(34) === 16, "block/bits")
    // the LIST chunk sits between fmt and data — data is NOT at 44
    assert(ascii(36, 4) === "LIST")
    assert(bytes.containsSlice("data".getBytes("US-ASCII")))
    // RIFF body size covers the whole file
    assert(buf.getInt(4) === bytes.length - 8)
  }

  test("WAV decode walks chunks and reduces samples exactly") {
    val id = 42L
    val n = 777
    val d = Multimodal.decodeWav(id, Multimodal.encodeWav(id, n, 8000))
    assert(d.sample_rate === 8000 && d.n_channels === 1 && d.bits === 16)
    assert(d.n_samples === n.toLong)
    val samples = (0 until n).map(i => Multimodal.pcmSample(id, i))
    assert(d.sum_samples === samples.map(_.toLong).sum)
    assert(d.min_sample === samples.min && d.max_sample === samples.max)
  }

  test("WAV decode rejects non-PCM and non-RIFF payloads") {
    val good = Multimodal.encodeWav(1L, 4, 16000)
    // flip the fmt audioFormat tag (offset 20, LE short) to 3 = float
    val nonPcm = good.clone(); nonPcm(20) = 3
    val e = intercept[IllegalArgumentException] {
      Multimodal.decodeWav(1L, nonPcm)
    }
    assert(e.getMessage.contains("non-PCM"))
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(1L, "nonsense-bytes-here".getBytes("US-ASCII"))
    }
  }

  test("wavRoundtrip dataset matches per-row analytic aggregates") {
    import spark.implicits._
    val specs = Seq((10L, 100, 8000), (11L, 65537, 16000), (12L, 1, 8000))
      .toDF("media_id", "n_samples", "sample_rate")
    val got = Multimodal.wavRoundtrip(spark, specs).collect()
      .map(r => r.media_id -> r).toMap
    assert(got.size === 3)
    // 65537 samples wraps the 65536-period formula — sum is NOT n*mean
    Seq((10L, 100), (11L, 65537), (12L, 1)).foreach { case (id, n) =>
      var (s, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
      var i = 0
      while (i < n) {
        val v = Multimodal.pcmSample(id, i)
        s += v; mn = math.min(mn, v); mx = math.max(mx, v); i += 1
      }
      val r = got(id)
      assert(r.n_samples === n.toLong && r.sum_samples === s &&
        r.min_sample === mn && r.max_sample === mx, s"id=$id")
    }
  }

  test("AVI golden bytes: RIFF structure and headers match the spec") {
    val bytes = Multimodal.encodeAvi(42L, w = 8, h = 6, nFrames = 3, fps = 10)
    def ascii(off: Int, n: Int) = new String(bytes.slice(off, off + n), "US-ASCII")
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(ascii(0, 4) === "RIFF" && ascii(8, 4) === "AVI ")
    assert(buf.getInt(4) === bytes.length - 8, "RIFF body size covers the file")
    assert(ascii(12, 4) === "LIST" && ascii(20, 4) === "hdrl")
    assert(ascii(24, 4) === "avih" && buf.getInt(28) === 56, "avih chunk")
    assert(buf.getInt(32) === 100000, "dwMicroSecPerFrame at 10 fps")
    assert(buf.getInt(48) === 3, "dwTotalFrames")
    assert(buf.getInt(64) === 8 && buf.getInt(68) === 6, "avih dims")
    // strl: strh at avih end (32 + 56 = 88 is the LIST strl header)
    assert(ascii(88, 4) === "LIST" && ascii(96, 4) === "strl")
    assert(ascii(100, 4) === "strh" && buf.getInt(104) === 56)
    assert(ascii(108, 4) === "vids" && ascii(112, 4) === "MJPG")
    assert(buf.getInt(128) === 1 && buf.getInt(132) === 10, "dwScale/dwRate")
    assert(buf.getInt(140) === 3, "strh dwLength = frames")
    assert(ascii(164, 4) === "strf" && buf.getInt(168) === 40)
    assert(ascii(188, 4) === "MJPG", "biCompression")
    // every idx1 entry's offset must land on a real '00dc' fourcc
    // relative to the 'movi' fourcc — validates both sides' padding math
    val moviFourcc = {
      var p = 12
      var found = -1
      while (found < 0 && p + 12 <= bytes.length) {
        if (ascii(p, 4) == "LIST" && ascii(p + 8, 4) == "movi") found = p + 8
        else p += 8 + buf.getInt(p + 4) + (buf.getInt(p + 4) & 1)
      }
      assert(found > 0, "no LIST movi"); found
    }
    val idx1 = bytes.length - (8 + 16 * 3)
    assert(ascii(idx1, 4) === "idx1" && buf.getInt(idx1 + 4) === 48)
    (0 until 3).foreach { i =>
      val e = idx1 + 8 + 16 * i
      assert(ascii(e, 4) === "00dc" && buf.getInt(e + 4) === 0x10)
      val off = buf.getInt(e + 8)
      assert(ascii(moviFourcc + off, 4) === "00dc",
        s"idx1 entry $i offset $off does not land on a frame chunk")
      val len = buf.getInt(e + 12)
      assert(buf.getInt(moviFourcc + off + 4) === len, s"idx1 entry $i length")
      assert((bytes(moviFourcc + off + 8) & 0xff) === 0xff &&
        (bytes(moviFourcc + off + 9) & 0xff) === 0xd8,
        s"frame $i chunk is not a JPEG")
    }
  }

  test("AVI decode recovers per-frame dims, timing, and exact pixel sums") {
    // fps 7 exercises non-divisible integer timing (1000/7 = 142ms steps)
    val frames = Multimodal.decodeAviFrames(9L,
      Multimodal.encodeAvi(9L, w = 11, h = 5, nFrames = 4, fps = 7))
    assert(frames.map(_.frame_idx) === Seq(0, 1, 2, 3))
    assert(frames.map(_.frame_ts_ms) === Seq(0L, 142L, 285L, 428L))
    frames.foreach { f =>
      assert(f.width === 11 && f.height === 5)
      assert(f.sum_gray === 11L * 5L * Multimodal.frameGray(9L, f.frame_idx),
        s"frame ${f.frame_idx} pixel sum")
    }
    // odd-length JPEG frames exist across these ids, so the even-padding
    // walk is exercised for real (a broken pad would desync the chunk
    // scan and fail the SOI/overrun requires)
    val oddSeen = (0L until 12L).exists { id =>
      Multimodal.decodeAviFrames(id, Multimodal.encodeAvi(id, 9, 7, 3, 5))
      (0 until 3).exists(f =>
        Multimodal.encodeJpeg(9, 7, Multimodal.frameGray(id, f)).length % 2 == 1)
    }
    assert(oddSeen, "test corpus never produced an odd-length frame — " +
      "padding path unexercised, widen the id range")
  }

  test("AVI decode rejects non-AVI payloads and header/body frame mismatch") {
    intercept[IllegalArgumentException] {
      Multimodal.decodeAviFrames(1L, Multimodal.encodeWav(1L, 4, 8000))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeAviFrames(1L, Array[Byte](1, 2, 3))
    }
    // tamper strh dwLength (declared frames) — the parser must refuse
    val bytes = Multimodal.encodeAvi(3L, 6, 6, 2, 10)
    bytes(140) = 9 // dwLength LSB (verified by the golden-bytes test)
    intercept[IllegalArgumentException] {
      Multimodal.decodeAviFrames(3L, bytes)
    }
  }

  test("sampled decode == full decode filtered to the sampled frame set") {
    import spark.implicits._
    val specs = Seq(
      (1L, 8, 6, 5, 5), (2L, 9, 7, 7, 10), (3L, 10, 4, 2, 20), (4L, 6, 6, 6, 15)
    ).toDF("media_id", "width", "height", "n_frames", "fps")
    val everyMs = 120L
    val got = Multimodal.aviSampledRoundtrip(spark, specs, everyMs, maxFrames = 4)
      .collect().sortBy(f => (f.media_id, f.frame_idx)).toSeq
    val want = Multimodal.aviRoundtrip(spark, specs).collect()
      .filter { f =>
        val (n, fps) = f.media_id match {
          case 1L => (5, 5); case 2L => (7, 10); case 3L => (2, 20); case _ => (6, 15)
        }
        val dur = n.toLong * 1000L / fps
        Iterator.iterate(0L)(_ + everyMs).takeWhile(_ < dur).take(4)
          .map(ts => (ts * fps / 1000L).toInt).toSet.contains(f.frame_idx)
      }
      .sortBy(f => (f.media_id, f.frame_idx)).toSeq
    assert(got === want)
    assert(got.nonEmpty && got.size < Multimodal.aviRoundtrip(spark, specs).count(),
      "sampling must decode a strict subset")
  }

  test("VAD features: exact energy/ZCR per window, boundary pairs cross nothing") {
    import spark.implicits._
    // 7 samples, window 3 -> chunks [0,3) [3,6) [6,7); features computed
    // from the REAL decoded samples, compared against the formula
    val id = 5L
    val n = 7
    val rate = 8000
    def s(i: Int): Long = (id * 31 + 17L * i) % 65536 - 32768
    val specs = Seq((id, n, rate)).toDF("media_id", "n_samples", "sample_rate")
    val got = Multimodal.wavVadFeatures(spark, specs, windowSamples = 3)
      .collect().sortBy(_.chunk_idx).toSeq
    assert(got.map(_.n) === Seq(3, 3, 1))
    assert(got.map(_.start_ms) === Seq(0L, 3000L / rate, 6000L / rate))
    got.foreach { f =>
      val from = f.chunk_idx * 3
      val until = from + f.n
      assert(f.energy_sum === (from until until).map(i => s(i) * s(i)).sum)
      val zc = (from until until - 1).count(i => s(i) * s(i + 1) < 0)
      assert(f.zero_crossings === zc,
        s"chunk ${f.chunk_idx}: boundary pairs must not count")
    }
    // a sign flip straddling the window boundary is NO window's crossing:
    // total crossings over windows <= crossings of the whole clip
    val whole = (0 until n - 1).count(i => s(i) * s(i + 1) < 0)
    assert(got.map(_.zero_crossings).sum <= whole)
    // degenerate window rejected
    intercept[IllegalArgumentException] {
      Multimodal.wavVadFeatures(spark, specs, windowSamples = 1)
    }
  }
}
