package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Seq(
    (0L, "fake-jpeg-payload-abc".getBytes),
    (1L, "fake-jpeg-payload-abc".getBytes),  // identical content
    (2L, "other-payload".getBytes),
    (3L, Array.empty[Byte])
  ).toDF("media_id", "bytes")

  test("withFeatures: deterministic fixed-dim features, identical bytes → identical features") {
    val f = Multimodal.withFeatures(media, "media_id", "bytes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(f.values.forall(_.size == Multimodal.FeatureDim))
    assert(f(0L) == f(1L))
    assert(f(0L) != f(2L))
    assert(f.values.flatten.forall(x => x >= -1f && x < 1f))
  }

  test("withFeatures reports payload sizes") {
    val sizes = Multimodal.withFeatures(media, "media_id", "bytes")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes(0L) == 21L && sizes(3L) == 0L)
  }

  test("withFrameSamples emits n rows per item with monotone offsets") {
    val frames = Multimodal.withFrameSamples(media.filter($"media_id" < 3), "media_id", "bytes", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(frames.length == 12)
    frames.groupBy(_._1).values.foreach { fs =>
      val offs = fs.sortBy(_._2).map(_._3)
      assert(offs.zip(offs.tail).forall { case (a, b) => a <= b })
    }
  }

  private def png(w: Int, h: Int)(color: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, color(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("real image decode: dimensions, channel stats, thumbnail from actual PNGs") {
    val red = png(8, 6)((_, _) => 0xff0000)
    val halfBlack = png(10, 10)((x, _) => if (x < 5) 0x000000 else 0xffffff)
    val rows = Seq((0L, red), (1L, halfBlack), (2L, "not-an-image".getBytes))
      .toDF("media_id", "bytes")
    val out = Multimodal.withImageFeatures(rows, "media_id", "bytes")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getSeq[Float](5))).toMap
    // red 8x6: decoded dims + channels; mean R max, G/B min; zero stddev
    val (w0, h0, c0, f0) = out(0L)
    assert(w0 == 8 && h0 == 6 && c0 == 3)
    assert(math.abs(f0(25) - 1.0f) < 1e-3)   // mean R = 255 → 1
    assert(math.abs(f0(26) + 1.0f) < 1e-3)   // mean G = 0 → -1
    assert(math.abs(f0(28) + 1.0f) < 1e-3)   // stddev R = 0 → -1
    // half black/white: luminance thumbnail dark on the left column,
    // bright on the right; aspect = 1 (square)
    val (_, _, _, f1) = out(1L)
    assert(f1(0) < -0.9f && f1(4) > 0.9f)
    assert(math.abs(f1(31) - 1.0f) < 1e-6)
    // non-image falls back: dims -1, stub features
    val (w2, _, _, f2) = out(2L)
    assert(w2 == -1)
    assert(f2 == Multimodal.decodeFeaturesStub("not-an-image".getBytes).toSeq)
  }

  test("withFeatures routes decodable images through the real kernel") {
    val blue = png(4, 4)((_, _) => 0x0000ff)
    val rows = Seq((0L, blue), (1L, "plain text".getBytes)).toDF("media_id", "bytes")
    val f = Multimodal.withFeatures(rows, "media_id", "bytes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(f(0L) == Multimodal.decodeImageFeatures(blue).get._4.toSeq)
    assert(f(1L) == Multimodal.decodeFeaturesStub("plain text".getBytes).toSeq)
  }

  private def wav(seconds: Double, rate: Float, channels: Int,
      freq: Double, amp: Double): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val n = (seconds * rate).toInt
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16,
      channels, 2 * channels, rate, false)
    val raw = new Array[Byte](n * 2 * channels)
    for (f <- 0 until n; c <- 0 until channels) {
      val v = (math.sin(2 * math.Pi * freq * f / rate) * amp * 32767).toInt
      val o = (f * channels + c) * 2
      raw(o) = (v & 0xff).toByte
      raw(o + 1) = ((v >> 8) & 0xff).toByte
    }
    val in = new AudioInputStream(new java.io.ByteArrayInputStream(raw), fmt, n)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("real audio decode: duration, rate, channels, RMS/ZCR from actual WAVs") {
    val toneA = wav(0.5, 8000f, 1, freq = 440, amp = 0.5)
    val toneStereo = wav(0.25, 16000f, 2, freq = 100, amp = 0.9)
    val silent = wav(0.1, 8000f, 1, freq = 440, amp = 0.0)
    val rows = Seq((0L, toneA), (1L, toneStereo), (2L, silent),
      (3L, "not-audio".getBytes)).toDF("media_id", "bytes")
    val out = Multimodal.withAudioFeatures(rows, "media_id", "bytes")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getInt(3), r.getInt(4), r.getSeq[Float](5))).toMap
    val (ms0, rate0, ch0, f0) = out(0L)
    assert(ms0 == 500L && rate0 == 8000 && ch0 == 1)
    // 0.5-amp sine: RMS = 0.5/sqrt(2) ≈ 0.354 → scaled ≈ -0.293
    assert(math.abs(f0(25) - (0.5 / math.sqrt(2) * 2 - 1)) < 0.01)
    // 440 Hz at 8 kHz: ~2·440·0.5 s sign flips over 4000 samples ≈ 0.11
    assert(f0(26) > -0.9f && f0(26) < -0.7f)
    assert(f0(27) > -0.05f)  // peak ≈ 0.5 → ≈ 0
    val (ms1, rate1, ch1, _) = out(1L)
    assert(ms1 == 250L && rate1 == 16000 && ch1 == 2)
    val (_, _, _, f2) = out(2L)
    assert(f2(25) == -1.0f && f2(27) == -1.0f)  // silence: zero RMS/peak
    // non-audio falls back: metadata -1, stub features
    val (ms3, rate3, _, f3) = out(3L)
    assert(ms3 == -1L && rate3 == -1)
    assert(f3 == Multimodal.decodeFeaturesStub("not-audio".getBytes).toSeq)
  }

  test("real MIDI decode: a Standard MIDI File renders through the JDK synth") {
    // format 0, one track, 96 ticks per quarter; the track holds one
    // note on, its note off a quarter later, and end-of-track
    val smf = Array[Int](
      'M', 'T', 'h', 'd', 0, 0, 0, 6, 0, 0, 0, 1, 0, 96,
      'M', 'T', 'r', 'k', 0, 0, 0, 12,
      0x00, 0x90, 60, 100,
      0x60, 0x80, 60, 0,
      0x00, 0xff, 0x2f, 0x00).map(_.toByte)
    val decoded = Multimodal.decodeAudioFeatures(smf)
    assert(decoded.isDefined)
    val (ms, rate, channels, features) = decoded.get
    assert(channels == 2 && rate == 44100)
    assert(math.abs(ms - 4000L) <= 100L, s"duration $ms ms")
    assert(features.length == Multimodal.FeatureDim)
  }

  test("withFeatures routes decodable audio through the real kernel") {
    val tone = wav(0.2, 8000f, 1, freq = 220, amp = 0.3)
    val rows = Seq((0L, tone), (1L, "plain text".getBytes)).toDF("media_id", "bytes")
    val f = Multimodal.withFeatures(rows, "media_id", "bytes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(f(0L) == Multimodal.decodeAudioFeatures(tone).get._4.toSeq)
    assert(f(1L) == Multimodal.decodeFeaturesStub("plain text".getBytes).toSeq)
  }

  private def jpeg(w: Int, h: Int)(color: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, color(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def cc(s: String): Array[Byte] = s.getBytes("US-ASCII")

  /** Minimal but well-formed MJPEG-in-AVI container around JPEG frames. */
  private def aviMjpeg(frames: Seq[Array[Byte]], w: Int, h: Int, fps: Int): Array[Byte] = {
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      cc(id) ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    def list(tpe: String, body: Array[Byte]): Array[Byte] =
      cc("LIST") ++ le32(body.length + 4) ++ cc(tpe) ++ body
    val avih = le32(1000000L / fps) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w) ++ le32(h) ++ Array.fill(16)(0.toByte)
    val strh = cc("vids") ++ cc("MJPG") ++ Array.fill(48)(0.toByte)
    val strf = le32(40) ++ le32(w) ++ le32(h) ++ Array[Byte](1, 0, 24, 0) ++
      cc("MJPG") ++ le32(w.toLong * h * 3) ++ Array.fill(16)(0.toByte)
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = cc("AVI ") ++ hdrl ++ movi
    cc("RIFF") ++ le32(body.length) ++ body
  }

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def box(tpe: String, body: Array[Byte]): Array[Byte] =
    be32(body.length + 8) ++ cc(tpe) ++ body

  /** Minimal MP4: ftyp + moov(mvhd, trak(tkhd, mdia(minf(stbl(stsz))))). */
  private def mp4(w: Int, h: Int, timescale: Int, duration: Int, samples: Int): Array[Byte] = {
    val ftyp = box("ftyp", cc("isom") ++ be32(512) ++ cc("isom") ++ cc("avc1"))
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++
      be32(timescale) ++ be32(duration) ++ Array.fill(76)(0.toByte))
    // tkhd v0 payload: 76 bytes before the 16.16 fixed width/height
    val tkhd = box("tkhd", Array.fill(76)(0.toByte) ++
      be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val stsz = box("stsz", be32(0) ++ be32(0) ++ be32(samples))
    val trak = box("trak", tkhd ++ box("mdia", box("minf", box("stbl", stsz))))
    ftyp ++ box("moov", mvhd ++ trak)
  }

  test("real AVI-MJPEG parse: dimensions, frame chunks, decodable frames") {
    val dark = jpeg(16, 12)((_, _) => 0x000000)
    val bright = jpeg(16, 12)((_, _) => 0xffffff)
    val avi = aviMjpeg(Seq(dark, bright, dark), 16, 12, fps = 5)
    val info = Multimodal.parseAvi(avi).get
    assert(info.width == 16 && info.height == 12 && info.nFrames == 3)
    assert(info.durationMs == 600L) // 3 frames at 200 ms
    assert(info.frames.length == 3)
    info.frames.foreach { case (off, len) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(avi, off, len))
      assert(img != null && img.getWidth == 16 && img.getHeight == 12)
    }
    assert(Multimodal.parseAvi("RIFFnope".getBytes).isEmpty)
    assert(Multimodal.parseAvi(dark).isEmpty)
  }

  test("real video decode: content thumbnail and motion from AVI frames") {
    val dark = jpeg(16, 12)((_, _) => 0x000000)
    val bright = jpeg(16, 12)((_, _) => 0xffffff)
    val still = aviMjpeg(Seq(dark, dark, dark, dark), 16, 12, fps = 4)
    val moving = aviMjpeg(Seq(dark, bright, dark, bright), 16, 12, fps = 4)
    val (w0, h0, n0, ms0, fStill) = Multimodal.decodeVideoFeatures(still).get
    assert(w0 == 16 && h0 == 12 && n0 == 4 && ms0 == 1000L)
    assert(fStill.take(25).forall(_ < -0.9f)) // all-black thumbnail
    assert(fStill(25) == -1.0f)               // no motion
    val (_, _, _, _, fMove) = Multimodal.decodeVideoFeatures(moving).get
    assert(fMove(25) > 0.8f)                  // black↔white flips: max motion
    assert(fMove.take(25).forall(c => c > -0.6f && c < 0.6f)) // mean ≈ mid-gray
    assert(Multimodal.decodeVideoFeatures("plain text".getBytes).isEmpty)
  }

  test("real MP4 box parse: metadata without a codec") {
    val m = mp4(w = 320, h = 240, timescale = 600, duration = 1200, samples = 30)
    val info = Multimodal.parseMp4(m).get
    assert(info.width == 320 && info.height == 240)
    assert(info.nFrames == 30 && info.durationMs == 2000L)
    assert(info.frames.isEmpty)
    val (_, _, _, _, f) = Multimodal.decodeVideoFeatures(m).get
    assert(f.take(26).forall(_ == -1.0f)) // content slots at documented zero
    assert(math.abs(f(31) - (240.0 / 320 * 2 - 1)) < 1e-6)
    assert(Multimodal.parseMp4("ftypnope".getBytes).isEmpty)
  }

  test("withVideoFeatures routes containers through the real kernel; text falls back") {
    val avi = aviMjpeg(Seq(jpeg(8, 8)((_, _) => 0x808080)), 8, 8, fps = 10)
    val m = mp4(640, 480, 1000, 5000, 120)
    val rows = Seq((0L, avi), (1L, m), (2L, "plain text".getBytes))
      .toDF("media_id", "bytes")
    val out = Multimodal.withVideoFeatures(rows, "media_id", "bytes")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5), r.getSeq[Float](6))).toMap
    val (w0, h0, n0, _, f0) = out(0L)
    assert(w0 == 8 && h0 == 8 && n0 == 1)
    assert(f0 == Multimodal.decodeVideoFeatures(avi).get._5.toSeq)
    val (w1, _, n1, ms1, _) = out(1L)
    assert(w1 == 640 && n1 == 120 && ms1 == 5000L)
    val (w2, _, _, ms2, f2) = out(2L)
    assert(w2 == -1 && ms2 == -1L)
    assert(f2 == Multimodal.decodeFeaturesStub("plain text".getBytes).toSeq)
    // withFeatures unified route also picks the video kernel
    val uni = Multimodal.withFeatures(rows, "media_id", "bytes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](2)).toMap
    assert(uni(0L) == Multimodal.decodeVideoFeatures(avi).get._5.toSeq)
  }

  test("withFrameSamples emits REAL byte offsets for AVI payloads") {
    val frames = Seq(jpeg(8, 8)((_, _) => 0x101010), jpeg(8, 8)((_, _) => 0xf0f0f0))
    val avi = aviMjpeg(frames, 8, 8, fps = 2)
    val out = Multimodal.withFrameSamples(
        Seq((7L, avi)).toDF("media_id", "bytes"), "media_id", "bytes", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.length == 2)
    out.foreach { case (_, off) =>
      // every sampled offset starts a standalone JPEG (SOI marker)
      assert((avi(off.toInt) & 0xff) == 0xff && (avi(off.toInt + 1) & 0xff) == 0xd8)
    }
    assert(out(0)._2 != out(1)._2)
  }

  test("features survive a similarity-search round trip (pipeline plumbing)") {
    val feats = Multimodal.withFeatures(media, "media_id", "bytes")
      .select($"media_id".as("id"), $"features".as("vec"))
    val pairs = graft.operators.Dedup.cosineNearDupPairs(feats, "id", "vec", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))  // identical payloads are near-dups
  }
}
