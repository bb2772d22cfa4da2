package graft.multimodal

import java.security.MessageDigest

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** See object Multimodal; this file's decoders share one error contract:
  * per-row decode failures on hostile bytes degrade to the stub feature
  * path, but fatal JVM errors must kill the task, not be swallowed. */
private object DecodeErrors {
  /** NonFatal plus StackOverflowError (hostile container nesting can
    * overflow the parse stack; that is a per-row condition, recoverable
    * by skipping the row). OOM / other VirtualMachineErrors rethrow. */
  def recoverable(e: Throwable): Boolean =
    NonFatal(e) || e.isInstanceOf[StackOverflowError]
}

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media as opaque `BINARY` columns + typed metadata, with
  * decode / feature-extraction / frame-sampling run batch-wise inside
  * `mapPartitions` (the JVM analog of `mapInPandas` batching: one codec
  * init per partition, streaming over rows).
  *
  * IMAGES are decoded for real via `javax.imageio` (pure JVM — PNG,
  * JPEG, BMP, GIF per the runtime's registered readers):
  * [[decodeImageFeatures]] produces (width, height, channels, features)
  * with a 5×5 luminance thumbnail + per-channel statistics + aspect —
  * see [[withImageFeatures]].
  *
  * AUDIO is decoded for real via `javax.sound.sampled` (pure JVM —
  * WAV, AIFF, AU per the JDK's built-in providers):
  * [[decodeAudioFeatures]] produces (duration, sample rate, channels,
  * features) with a 25-bin RMS envelope + RMS/ZCR/peak statistics —
  * see [[withAudioFeatures]].
  *
  * VIDEO containers are parsed for real: MJPEG-in-AVI (RIFF walk —
  * every frame is a standalone JPEG, so frames decode via imageio and
  * [[decodeVideoFeatures]] carries real pixel content + motion), and
  * MP4/ISO-BMFF (box walk — real width/height/duration/frame-count
  * metadata; the H.264/H.265 pixel payload needs a codec the bare JVM
  * lacks, so MP4 content slots are the documented zero value).
  * [[withFrameSamples]] emits REAL per-frame byte offsets for AVI.
  *
  * ==== STUB BOUNDARY (fallback only) ====
  * [[decodeFeaturesStub]] and [[frameOffsetsStub]] are clearly-marked
  * deterministic fakes keyed on content bytes, used only for payloads
  * none of the real decoders accept (e.g. plain text in a mixed
  * corpus). They honor the exact contract a real decoder would (fixed
  * feature dim, n-frame sampling) — swap the kernel, keep the Spark
  * plumbing (schema, batching, partitioning) unchanged.
  */
object Multimodal {

  // ImageIO's default useCache=true stages EVERY createImageInputStream
  // through a disk temp file — one file create+delete per decode
  // ATTEMPT, paid even when the payload turns out not to be an image
  // at all (the common case on mixed corpora, and every row of the
  // text-payload gate corpus). Memory-cached streams decode the same
  // bytes to the same pixels; this flag is performance-only (r15,
  // guide §6 "small files hurt twice" applied to scratch churn).
  // Executor-side: set in the object initializer so every task JVM
  // classload applies it before the first decode.
  javax.imageio.ImageIO.setUseCache(false)

  private def decodeRecoverable(e: Throwable): Boolean = DecodeErrors.recoverable(e)

  val FeatureDim = 32

  /** Deterministic fake "decoder features": FeatureDim floats in [-1,1)
    * derived from the md5 of the payload. STUB — replace with a real
    * codec + model forward pass. */
  /** A NULL media payload (nullable binary column in a mixed corpus)
    * behaves as an EMPTY payload: every real decoder already returns
    * None on null, but the hash-stub fallbacks dereferenced it — the
    * one NPE in a pipeline documented as total. Normalized once at
    * each pipeline entry. */
  private def nz(bytes: Array[Byte]): Array[Byte] =
    if (bytes == null) Array.emptyByteArray else bytes

  def decodeFeaturesStub(bytes: Array[Byte]): Array[Float] = {
    val md = MessageDigest.getInstance("MD5")
    val out = new Array[Float](FeatureDim)
    var block = md.digest(bytes)
    var produced = 0
    var round = 0
    while (produced < FeatureDim) {
      var i = 0
      while (i < block.length && produced < FeatureDim) {
        out(produced) = (block(i).toInt & 0xff) / 128.0f - 1.0f
        produced += 1
        i += 1
      }
      round += 1
      block = md.digest(block ++ Array(round.toByte))
    }
    out
  }

  /** Deterministic fake frame sampler: n byte offsets spread over the
    * payload (a real implementation returns decoded frames). STUB. */
  def frameOffsetsStub(bytes: Array[Byte], n: Int): Array[Long] =
    if (bytes.isEmpty) Array.fill(n)(0L)
    else Array.tabulate(n)(i => (bytes.length.toLong * i) / n)

  /** REAL image decode (javax.imageio): None when the payload is not a
    * decodable image. Features ([[FeatureDim]] = 32 floats, all in
    * [-1, 1]):
    *   [0..24]  5×5 mean-luminance thumbnail (row-major), 0.299R+0.587G+0.114B
    *   [25..27] mean R, G, B
    *   [28..30] stddev R, G, B
    *   [31]     aspect = min(w/h, h/w)
    * each scaled from its natural range into [-1, 1]. One bulk getRGB —
    * a single pass over the pixels. */
  def decodeImageFeatures(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Float])] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      val channels = img.getColorModel.getNumComponents
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      val grid = 5
      val cellSum = new Array[Double](grid * grid)
      val cellCnt = new Array[Long](grid * grid)
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      var sr2 = 0.0; var sg2 = 0.0; var sb2 = 0.0
      var y = 0
      while (y < h) {
        val cy = math.min(y * grid / h, grid - 1)
        var x = 0
        while (x < w) {
          val p = px(y * w + x)
          val r = (p >> 16) & 0xff
          val g = (p >> 8) & 0xff
          val b = p & 0xff
          val lum = 0.299 * r + 0.587 * g + 0.114 * b
          val cell = cy * grid + math.min(x * grid / w, grid - 1)
          cellSum(cell) += lum
          cellCnt(cell) += 1
          sr += r; sg += g; sb += b
          sr2 += r.toDouble * r; sg2 += g.toDouble * g; sb2 += b.toDouble * b
          x += 1
        }
        y += 1
      }
      val n = w.toDouble * h
      val out = new Array[Float](FeatureDim)
      var c = 0
      while (c < grid * grid) {
        val mean = if (cellCnt(c) == 0) 0.0 else cellSum(c) / cellCnt(c)
        out(c) = (mean / 255.0 * 2.0 - 1.0).toFloat
        c += 1
      }
      def meanStd(s: Double, s2: Double): (Double, Double) = {
        val m = s / n
        (m, math.sqrt(math.max(0.0, s2 / n - m * m)))
      }
      val (mr, dr) = meanStd(sr, sr2)
      val (mg, dg) = meanStd(sg, sg2)
      val (mb, db) = meanStd(sb, sb2)
      out(25) = (mr / 255.0 * 2.0 - 1.0).toFloat
      out(26) = (mg / 255.0 * 2.0 - 1.0).toFloat
      out(27) = (mb / 255.0 * 2.0 - 1.0).toFloat
      out(28) = (dr / 127.5 - 1.0).toFloat
      out(29) = (dg / 127.5 - 1.0).toFloat
      out(30) = (db / 127.5 - 1.0).toFloat
      out(31) = (math.min(w.toDouble / h, h.toDouble / w) * 2.0 - 1.0).toFloat
      Some((w, h, channels, out))
    } catch {
      case e if decodeRecoverable(e) => None
    }
  }

  /** REAL audio decode (javax.sound.sampled — WAV/AIFF/AU per the JDK's
    * built-in providers): None when the payload is not decodable audio.
    * The stream is converted to 16-bit signed PCM and mixed down to
    * mono; one pass computes the features ([[FeatureDim]] = 32 floats,
    * all in [-1, 1]):
    *   [0..24]  25-bin RMS energy envelope over time (each bin's RMS of
    *            the mono signal in [0,1], scaled)
    *   [25]     global RMS
    *   [26]     zero-crossing rate (sign flips / samples)
    *   [27]     peak |amplitude|
    *   [28]     mean |amplitude|
    *   [29]     duration, min(seconds/60, 1)
    *   [30]     sample rate, min(rate/48000, 1)
    *   [31]     channels, min(n/2, 1)
    * each scaled from its natural range into [-1, 1].
    * Returns (durationMs, sampleRate, channels, features). */
  def decodeAudioFeatures(bytes: Array[Byte]): Option[(Long, Int, Int, Array[Float])] = {
    if (bytes == null || bytes.isEmpty) return None
    // Container-magic pre-filter (r15): every format the JDK's built-in
    // providers decode opens with one of these four-byte magics (WAVE =
    // "RIFF", AIFF/AIFF-C = "FORM", AU = ".snd", and Standard MIDI =
    // "MThd", which SoftMidiAudioFileReader renders to 44.1 kHz stereo
    // PCM — each reader checks its magic first and throws otherwise),
    // so a payload without them can never decode and the provider walk
    // is skipped. On a mixed corpus the NON-audio case is the common
    // one, and each failed getAudioInputStream costs a per-provider
    // header probe plus a filled-in UnsupportedAudioFileException per
    // row. Value-identical only while this list holds the magic of
    // every built-in reader (MultimodalSpec decodes a real WAV and a
    // real MIDI file; non-audio rows return None either way).
    if (bytes.length < 4) return None
    val magicOk =
      (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F') ||
      (bytes(0) == 'F' && bytes(1) == 'O' && bytes(2) == 'R' && bytes(3) == 'M') ||
      (bytes(0) == '.' && bytes(1) == 's' && bytes(2) == 'n' && bytes(3) == 'd') ||
      (bytes(0) == 'M' && bytes(1) == 'T' && bytes(2) == 'h' && bytes(3) == 'd')
    if (!magicOk) return None
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      val src = in.getFormat
      val channels = src.getChannels
      val rate = src.getSampleRate
      if (channels <= 0 || rate <= 0) return None
      val pcmFmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        rate, 16, channels, 2 * channels, rate, false)
      val pcm = AudioSystem.getAudioInputStream(pcmFmt, in)
      val raw = pcm.readAllBytes()
      pcm.close()
      val frameBytes = 2 * channels
      val nFrames = raw.length / frameBytes
      if (nFrames == 0) return None
      val grid = 25
      val binSum2 = new Array[Double](grid)
      val binCnt = new Array[Long](grid)
      var s2 = 0.0
      var sAbs = 0.0
      var peak = 0.0
      var flips = 0L
      var lastSign = 0
      var f = 0
      while (f < nFrames) {
        // mono mixdown: mean over channels, little-endian 16-bit
        var acc = 0.0
        var c = 0
        while (c < channels) {
          val o = f * frameBytes + 2 * c
          val s = ((raw(o) & 0xff) | (raw(o + 1) << 8)).toShort
          acc += s / 32768.0
          c += 1
        }
        val v = acc / channels
        val bin = math.min(f * grid / nFrames, grid - 1)
        binSum2(bin) += v * v
        binCnt(bin) += 1
        s2 += v * v
        sAbs += math.abs(v)
        if (math.abs(v) > peak) peak = math.abs(v)
        val sign = if (v > 0) 1 else if (v < 0) -1 else 0
        if (sign != 0) {
          if (lastSign != 0 && sign != lastSign) flips += 1
          lastSign = sign
        }
        f += 1
      }
      val out = new Array[Float](FeatureDim)
      var b = 0
      while (b < grid) {
        val rms = if (binCnt(b) == 0) 0.0 else math.sqrt(binSum2(b) / binCnt(b))
        out(b) = (math.min(rms, 1.0) * 2.0 - 1.0).toFloat
        b += 1
      }
      val durSec = nFrames / rate.toDouble
      out(25) = (math.min(math.sqrt(s2 / nFrames), 1.0) * 2.0 - 1.0).toFloat
      out(26) = (flips.toDouble / nFrames * 2.0 - 1.0).toFloat
      out(27) = (math.min(peak, 1.0) * 2.0 - 1.0).toFloat
      out(28) = (math.min(sAbs / nFrames, 1.0) * 2.0 - 1.0).toFloat
      out(29) = (math.min(durSec / 60.0, 1.0) * 2.0 - 1.0).toFloat
      out(30) = (math.min(rate / 48000.0, 1.0) * 2.0 - 1.0).toFloat
      out(31) = (math.min(channels / 2.0, 1.0) * 2.0 - 1.0).toFloat
      Some(((durSec * 1000).toLong, rate.toInt, channels, out))
    } catch {
      case e if decodeRecoverable(e) => None
    }
  }

  /** Parsed video container info. `frames` holds (offset, size) byte
    * ranges of per-frame payloads — non-empty only for MJPEG-in-AVI,
    * where each range is a standalone JPEG imageio can decode. */
  final case class VideoInfo(width: Int, height: Int, nFrames: Int,
      durationMs: Long, frames: Array[(Int, Int)])

  private def fourcc(b: Array[Byte], o: Int): String =
    if (o < 0 || o + 4 > b.length) ""
    else new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
  private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | (b(o + 1) & 0xffL) << 8 | (b(o + 2) & 0xffL) << 16 | (b(o + 3) & 0xffL) << 24
  private def u32be(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) << 24 | (b(o + 1) & 0xffL) << 16 | (b(o + 2) & 0xffL) << 8 | (b(o + 3) & 0xffL)
  private def u64be(b: Array[Byte], o: Int): Long = u32be(b, o) << 32 | u32be(b, o + 4)

  /** REAL AVI (RIFF) container parse. Walks the chunk tree, reads the
    * `avih` main header (frame interval, total frames, dimensions) and
    * collects the `##dc`/`##db` frame chunks inside `movi`. Returns
    * None unless the payload is a well-formed RIFF/AVI with positive
    * dimensions. Reference semantics: the contest I/O layer treats
    * media as opaque bytes; this is the pipeline-side real parse. */
  def parseAvi(bytes: Array[Byte]): Option[VideoInfo] = {
    if (bytes == null || bytes.length < 24) return None
    if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "AVI ") return None
    var avih = -1
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    // depth bound: legit AVI nests LISTs 2-3 deep; a crafted file could
    // nest arbitrarily and blow the stack without the cap
    def walk(start: Int, end: Int, depth: Int): Unit = {
      if (depth > 16) return
      var o = start
      var ok = true
      while (ok && o + 8 <= end) {
        val id = fourcc(bytes, o)
        val size = u32le(bytes, o + 4)
        if (o + 8L + size > end) ok = false // truncated/corrupt: stop this level
        else {
          if (id == "LIST") { if (size >= 4) walk(o + 12, o + 8 + size.toInt, depth + 1) }
          else if (id == "avih") avih = o + 8
          else if (size > 0 && id.length == 4 && id(0).isDigit && id(1).isDigit &&
                   (id.endsWith("dc") || id.endsWith("db")))
            frames += ((o + 8, size.toInt))
          o += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
        }
      }
    }
    walk(12, bytes.length, 0)
    if (avih < 0 || avih + 40 > bytes.length) return None
    val usPerFrame = u32le(bytes, avih)
    val w = u32le(bytes, avih + 32).toInt
    val h = u32le(bytes, avih + 36).toInt
    val n = if (frames.nonEmpty) frames.length else u32le(bytes, avih + 16).toInt
    val durMs = if (usPerFrame > 0) usPerFrame * n / 1000 else -1L
    if (w <= 0 || h <= 0) None else Some(VideoInfo(w, h, n, durMs, frames.toArray))
  }

  /** REAL MP4 / ISO-BMFF box parse: `mvhd` (timescale, duration),
    * `tkhd` (16.16 fixed-point width/height), `stsz` (sample count) of
    * the widest track. Frame payloads need an H.264/H.265 codec the
    * bare JVM lacks, so `frames` is always empty — metadata only. */
  def parseMp4(bytes: Array[Byte]): Option[VideoInfo] = {
    if (bytes == null || bytes.length < 16) return None
    if (fourcc(bytes, 4) != "ftyp") return None
    var tsScale = 0L; var durUnits = -1L
    var width = 0; var height = 0; var samples = 0
    // f receives (boxType, payloadStart, boxEnd)
    def boxes(start: Int, end: Int)(f: ((String, Int, Int)) => Unit): Unit = {
      var o = start
      var ok = true
      while (ok && o + 8 <= end) {
        var size = u32be(bytes, o)
        var hdr = 8
        if (size == 1 && o + 16 <= end) { size = u64be(bytes, o + 8); hdr = 16 }
        else if (size == 0) size = end - o
        if (size < hdr || o + size > end) ok = false
        else { f((fourcc(bytes, o + 4), o + hdr, o + size.toInt)); o += size.toInt }
      }
    }
    def walkTrak(s: Int, e: Int): Unit = {
      var tw = 0; var th = 0; var ts = 0
      boxes(s, e) {
        case ("tkhd", ps, pe) if ps < pe =>
          val off = ps + (if ((bytes(ps) & 0xff) == 1) 88 else 76)
          if (off + 8 <= pe) {
            tw = (u32be(bytes, off) >> 16).toInt
            th = (u32be(bytes, off + 4) >> 16).toInt
          }
        case ("mdia", ps, pe) => boxes(ps, pe) {
          case ("minf", s2, e2) => boxes(s2, e2) {
            case ("stbl", s3, e3) => boxes(s3, e3) {
              case ("stsz", s4, e4) => if (s4 + 12 <= e4) ts = u32be(bytes, s4 + 8).toInt
              case _ =>
            }
            case _ =>
          }
          case _ =>
        }
        case _ =>
      }
      if (tw > 0 && tw >= width) { width = tw; height = th; samples = ts }
    }
    boxes(0, bytes.length) {
      case ("moov", ms, me) => boxes(ms, me) {
        case ("mvhd", ps, pe) if ps < pe =>
          if ((bytes(ps) & 0xff) == 1) {
            if (ps + 32 <= pe) { tsScale = u32be(bytes, ps + 20); durUnits = u64be(bytes, ps + 24) }
          } else if (ps + 20 <= pe) { tsScale = u32be(bytes, ps + 12); durUnits = u32be(bytes, ps + 16) }
        case ("trak", ts2, te) => walkTrak(ts2, te)
        case _ =>
      }
      case _ =>
    }
    if (width <= 0 || height <= 0) None
    else {
      val durMs = if (tsScale > 0 && durUnits >= 0) durUnits * 1000 / tsScale else -1L
      Some(VideoInfo(width, height, samples, durMs, Array.empty))
    }
  }

  /** 5×5 mean-luminance grid of a decoded frame, raw 0..255 values. */
  private def lumGrid(img: java.awt.image.BufferedImage): Array[Double] = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val grid = 5
    val sum = new Array[Double](grid * grid)
    val cnt = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val cy = math.min(y * grid / h, grid - 1)
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        val lum = 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
        val cell = cy * grid + math.min(x * grid / w, grid - 1)
        sum(cell) += lum; cnt(cell) += 1
        x += 1
      }
      y += 1
    }
    Array.tabulate(grid * grid)(i => if (cnt(i) == 0) 0.0 else sum(i) / cnt(i))
  }

  /** REAL video decode: AVI-MJPEG frames are decoded via imageio and
    * the features carry real pixel content; MP4 yields real metadata
    * with content slots at the zero value (-1 = black, documented —
    * no JVM codec for the pixel payload). Features (32 floats, [-1,1]):
    *   [0..24]  mean 5×5 luminance thumbnail over ≤8 evenly sampled frames
    *   [25]     motion: mean |Δluminance| between consecutive sampled frames
    *   [26]     frame count, min(n/3600, 1)
    *   [27]     fps, min(fps/60, 1)
    *   [28]     duration, min(seconds/60, 1)
    *   [29,30]  width/1920, height/1080 (capped at 1)
    *   [31]     aspect = min(w/h, h/w)
    * Returns (width, height, nFrames, durationMs, features). */
  def decodeVideoFeatures(bytes: Array[Byte]): Option[(Int, Int, Int, Long, Array[Float])] = {
    // container parse must be total over arbitrary bytes: any parser
    // failure (truncated box, hostile nesting) falls back to the stub
    // rather than failing the Spark task — same contract as audio
    val parsed =
      try parseAvi(bytes).orElse(parseMp4(bytes))
      catch { case e if decodeRecoverable(e) => None }
    val info = parsed.getOrElse(return None)
    val sampled: Array[Array[Double]] =
      if (info.frames.isEmpty) Array.empty
      else {
        val take = math.min(8, info.frames.length)
        Array.tabulate(take)(i => (info.frames.length.toLong * i / take).toInt).flatMap { fi =>
          val (off, len) = info.frames(fi)
          try {
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes, off, len))
            if (img == null || img.getWidth <= 0) None else Some(lumGrid(img))
          } catch { case e if decodeRecoverable(e) => None }
        }
      }
    val out = new Array[Float](FeatureDim)
    if (sampled.nonEmpty) {
      var c = 0
      while (c < 25) {
        var s = 0.0; var i = 0
        while (i < sampled.length) { s += sampled(i)(c); i += 1 }
        out(c) = (s / sampled.length / 255.0 * 2.0 - 1.0).toFloat
        c += 1
      }
      var motion = 0.0
      var i = 1
      while (i < sampled.length) {
        var d = 0.0; var c2 = 0
        while (c2 < 25) { d += math.abs(sampled(i)(c2) - sampled(i - 1)(c2)); c2 += 1 }
        motion += d / 25.0; i += 1
      }
      val m = if (sampled.length > 1) motion / (sampled.length - 1) / 255.0 else 0.0
      out(25) = (math.min(m, 1.0) * 2.0 - 1.0).toFloat
    } else {
      var c = 0
      while (c <= 25) { out(c) = -1.0f; c += 1 } // zero content, documented
    }
    val durSec = if (info.durationMs >= 0) info.durationMs / 1000.0 else 0.0
    val fps = if (durSec > 0 && info.nFrames > 0) info.nFrames / durSec else 0.0
    out(26) = (math.min(info.nFrames / 3600.0, 1.0) * 2.0 - 1.0).toFloat
    out(27) = (math.min(fps / 60.0, 1.0) * 2.0 - 1.0).toFloat
    out(28) = (math.min(durSec / 60.0, 1.0) * 2.0 - 1.0).toFloat
    out(29) = (math.min(info.width / 1920.0, 1.0) * 2.0 - 1.0).toFloat
    out(30) = (math.min(info.height / 1080.0, 1.0) * 2.0 - 1.0).toFloat
    out(31) = (math.min(info.width.toDouble / info.height, info.height.toDouble / info.width) * 2.0 - 1.0).toFloat
    Some((info.width, info.height, info.nFrames, info.durationMs, out))
  }

  /** Attach decoded features to a media DataFrame.
    * df must have (idCol LONG-castable, bytesCol BINARY). Returns
    * (media_id, n_bytes, features ARRAY<FLOAT>). Batched per partition —
    * the expensive codec is initialized once per task, not per row.
    * Decodable images get the REAL [[decodeImageFeatures]] features,
    * decodable audio the REAL [[decodeAudioFeatures]] features,
    * parseable video containers the REAL [[decodeVideoFeatures]]
    * features; everything else falls back to the deterministic hash
    * stub. */
  def withFeatures(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init point (a heavier codec would load here)
        it.map { case (id, bytes0) =>
          val bytes = nz(bytes0)
          val feats = decodeImageFeatures(bytes).map(_._4)
            .orElse(decodeAudioFeatures(bytes).map(_._4))
            .orElse(decodeVideoFeatures(bytes).map(_._5))
            .getOrElse(decodeFeaturesStub(bytes))
          (id, bytes.length.toLong, feats)
        }
      }
      .toDF("media_id", "n_bytes", "features")
  }

  /** Attach REAL image features: (media_id, n_bytes, width, height,
    * channels, features). Payloads imageio cannot decode fall back to
    * the deterministic hash features with width/height/channels = -1,
    * so the pipeline is total over mixed corpora. Batched per partition
    * like [[withFeatures]]. */
  def withImageFeatures(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = nz(bytes0)
          decodeImageFeatures(bytes) match {
            case Some((w, h, c, f)) => (id, bytes.length.toLong, w, h, c, f)
            case None => (id, bytes.length.toLong, -1, -1, -1, decodeFeaturesStub(bytes))
          }
        }
      }
      .toDF("media_id", "n_bytes", "width", "height", "channels", "features")
  }

  /** Attach REAL audio features: (media_id, n_bytes, duration_ms,
    * sample_rate, channels, features). Payloads the JDK's audio
    * providers cannot decode fall back to the deterministic hash
    * features with duration_ms/sample_rate/channels = -1, so the
    * pipeline is total over mixed corpora. Batched per partition. */
  def withAudioFeatures(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = nz(bytes0)
          decodeAudioFeatures(bytes) match {
            case Some((ms, rate, ch, f)) => (id, bytes.length.toLong, ms, rate, ch, f)
            case None => (id, bytes.length.toLong, -1L, -1, -1, decodeFeaturesStub(bytes))
          }
        }
      }
      .toDF("media_id", "n_bytes", "duration_ms", "sample_rate", "channels", "features")
  }

  /** Attach REAL video features: (media_id, n_bytes, width, height,
    * n_frames, duration_ms, features). Payloads that are neither a
    * RIFF/AVI nor an MP4 container fall back to the deterministic hash
    * features with metadata = -1, so the pipeline is total over mixed
    * corpora. Batched per partition like [[withFeatures]]. */
  def withVideoFeatures(df: DataFrame, idCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes0) =>
          val bytes = nz(bytes0)
          decodeVideoFeatures(bytes) match {
            case Some((w, h, n, ms, f)) => (id, bytes.length.toLong, w, h, n, ms, f)
            case None => (id, bytes.length.toLong, -1, -1, -1, -1L, decodeFeaturesStub(bytes))
          }
        }
      }
      .toDF("media_id", "n_bytes", "width", "height", "n_frames", "duration_ms", "features")
  }

  /** Frame-sample a video-like payload: (media_id, frame_index, offset).
    * MJPEG-in-AVI payloads yield REAL frame byte offsets (each offset
    * starts a standalone JPEG — n frames sampled evenly across the
    * container); other payloads fall back to the offset stub. */
  def withFrameSamples(df: DataFrame, idCol: String, bytesCol: String,
      framesPerItem: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(bytesCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes0) =>
          val bytes = nz(bytes0)
          val offs = parseAvi(bytes).filter(_.frames.nonEmpty) match {
            case Some(info) =>
              Array.tabulate(framesPerItem) { i =>
                info.frames((info.frames.length.toLong * i / framesPerItem).toInt)._1.toLong
              }
            case None => frameOffsetsStub(bytes, framesPerItem)
          }
          offs.zipWithIndex.map { case (off, i) => (id, i.toLong, off) }
        }
      }
      .toDF("media_id", "frame_index", "offset")
  }
}
