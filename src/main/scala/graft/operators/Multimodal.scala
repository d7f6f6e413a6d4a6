package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column operators.
  *
  * Data model: media are opaque `binary` columns + a typed metadata
  * struct — the 100 TB-scale layout where blobs live in parquet/row
  * groups next to their features, and everything that can be pruned is a
  * plain column (kind, width, duration…), so a query that only needs
  * metadata never deserializes a blob.
  *
  * The DECODE STEP IS A STUB: this container has no image/audio codecs,
  * so `FakeCodec` derives deterministic pseudo-content from the bytes
  * (documented below, clearly marked). Everything AROUND the decode —
  * schemas, `mapPartitions` batch shape, explode of frames, feature
  * vectors feeding Similarity — is real, tested Spark plumbing; swapping
  * `FakeCodec` for javax.imageio/ffmpeg bindings changes no plan shape.
  *
  * Execution model: per-row codec work runs in `mapPartitions` with a
  * typed Encoder (one JVM object stream per partition — no per-row UDF
  * setup, codec instances reused across the partition's rows, the Scala
  * analog of `mapInPandas` batch processing).
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, data: Array[Byte])

  final case class ImageMeta(width: Int, height: Int, channels: Int)
  final case class DecodedImage(
      media_id: Long, width: Int, height: Int, channels: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  final case class AudioMeta(sample_rate: Int, duration_ms: Long, rms: Double)
  final case class DecodedAudio(media_id: Long, sample_rate: Int, duration_ms: Long, rms: Double)

  final case class VideoFrame(media_id: Long, frame_idx: Int, frame: Array[Byte])

  final case class VideoMeta(duration_ms: Long, timescale: Long)
  final case class DecodedVideo(
      media_id: Long, duration_ms: Long, timescale: Long, real: Boolean)

  /** STUB codec: a deterministic pure function of the blob bytes.
    * "Header" = first 16 bytes interpreted as big-endian ints
    * (width, height, channels, extra); "content" = xxhash-style rolling
    * stats over the remaining bytes. Replace with a real codec binding
    * in production; signatures stay identical.
    */
  object FakeCodec {
    private def beInt(b: Array[Byte], off: Int): Int =
      if (b.length < off + 4) 0
      else ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
        ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

    def imageMeta(data: Array[Byte]): ImageMeta =
      ImageMeta(
        width = math.max(1, beInt(data, 0) % 4096),
        height = math.max(1, beInt(data, 4) % 4096),
        channels = math.max(1, beInt(data, 8) % 4 + 1))

    /** per-"channel" byte means over the payload — deterministic. */
    def channelMeans(data: Array[Byte]): (Double, Double, Double) = {
      if (data.length <= 16) return (0.0, 0.0, 0.0)
      var (r, g, b) = (0L, 0L, 0L)
      var i = 16
      while (i < data.length) {
        (i % 3: @unchecked) match {
          case 0 => r += data(i) & 0xff
          case 1 => g += data(i) & 0xff
          case 2 => b += data(i) & 0xff
        }
        i += 1
      }
      val n = math.max(1, (data.length - 16) / 3)
      (r.toDouble / n, g.toDouble / n, b.toDouble / n)
    }

    def audioMeta(data: Array[Byte]): AudioMeta = {
      val sr  = Seq(8000, 16000, 22050, 44100)(math.abs(beInt(data, 0)) % 4)
      val dur = math.max(1L, (data.length - 16).toLong * 1000 / math.max(1, sr))
      var acc = 0.0
      var i   = 16
      while (i < data.length) { val v = (data(i) & 0xff) - 128.0; acc += v * v; i += 1 }
      AudioMeta(sr, dur, math.sqrt(acc / math.max(1, data.length - 16)))
    }

    /** "resize": deterministic re-synthesis at the target dims — new
      * header + payload subsampled/repeated to w*h*ch bytes.
      */
    def resize(data: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val ch  = imageMeta(data).channels
      val out = new Array[Byte](16 + w * h * ch)
      out(0) = (w >> 24).toByte; out(1) = (w >> 16).toByte; out(2) = (w >> 8).toByte; out(3) = w.toByte
      out(4) = (h >> 24).toByte; out(5) = (h >> 16).toByte; out(6) = (h >> 8).toByte; out(7) = h.toByte
      out(11) = (ch - 1).toByte
      val payload = math.max(1, data.length - 16)
      var i = 16
      while (i < out.length) { out(i) = data(16 + ((i - 16) * payload / (out.length - 16))); i += 1 }
      out
    }

    /** video = concatenated fixed-size "frames" after the header. */
    def frames(data: Array[Byte], frameBytes: Int = 64): Seq[Array[Byte]] =
      data.drop(16).grouped(frameBytes).toSeq

    /** stub video metadata: synthetic 30 fps over the frame count. */
    def videoMeta(data: Array[Byte]): VideoMeta = {
      val n = math.max(1L, ((data.length - 16 + 63) / 64).toLong)
      VideoMeta(n * 1000L / 30L, 30L)
    }

    /** deterministic feature embedding (the feature-extract step). */
    def embed(data: Array[Byte], dim: Int = 64): Array[Float] = {
      val out = new Array[Float](dim)
      var h   = 1125899906842597L
      var i   = 0
      while (i < data.length) { h = 31 * h + (data(i) & 0xff); i += 1 }
      var j = 0
      while (j < dim) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        out(j) = (h.toDouble / Long.MaxValue.toDouble).toFloat
        j += 1
      }
      out
    }
  }

  /** Real JDK codec bindings (javax.imageio — PNG/JPEG/GIF/BMP readers
    * ship in every JDK, no external native libs). This is the documented
    * swap-in contract for [[FakeCodec]]: same inputs (blob bytes), same
    * outputs (dims/channels/channel means), so exchanging one for the
    * other changes no plan shape, schema, or partitioning.
    */
  object RealCodecs {

    /** Decode via the first registered ImageIO reader that recognizes
      * the bytes; None when none does (then callers fall back to the
      * stub — see [[decodeImagesAuto]]).
      */
    def decodeImage(data: Array[Byte]): Option[(ImageMeta, (Double, Double, Double))] = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(data))
        catch { case _: java.io.IOException => null }
      if (img == null) None
      else {
        val w  = img.getWidth
        val h  = img.getHeight
        val ch = img.getColorModel.getNumComponents
        var (r, g, b) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            r += (rgb >> 16) & 0xff
            g += (rgb >> 8) & 0xff
            b += rgb & 0xff
            x += 1
          }
          y += 1
        }
        val n = math.max(1L, w.toLong * h)
        Some((ImageMeta(w, h, ch), (r.toDouble / n, g.toDouble / n, b.toDouble / n)))
      }
    }

    /** Decode WAV/AIFF/AU audio via `javax.sound.sampled` (ships in
      * every JDK, no native libs). Returns the container's sample rate,
      * the frame-count duration, and the RMS of the PCM samples
      * normalized to [-1, 1] (all channels pooled). None when the bytes
      * are not a recognized audio container or the encoding is not
      * plain integer PCM (8-bit unsigned / 16-bit signed) — callers
      * then fall back to the stub (see [[decodeAudioAuto]]).
      */
    def decodeAudio(data: Array[Byte]): Option[AudioMeta] = {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      try {
        val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(data))
        try {
          val fmt  = in.getFormat
          val bits = fmt.getSampleSizeInBits
          val enc  = fmt.getEncoding
          val pcm  = (enc == AudioFormat.Encoding.PCM_SIGNED && bits == 16) ||
            (enc == AudioFormat.Encoding.PCM_UNSIGNED && bits == 8)
          if (!pcm) None
          else {
            val sr    = math.round(fmt.getSampleRate)
            val durMs = math.max(1L, in.getFrameLength * 1000L / math.max(1, sr))
            val bytes = in.readAllBytes()
            var acc   = 0.0
            var n     = 0L
            if (bits == 8) {
              var i = 0
              while (i < bytes.length) {
                val v = ((bytes(i) & 0xff) - 128) / 128.0
                acc += v * v; n += 1; i += 1
              }
            } else {
              val be = fmt.isBigEndian
              var i  = 0
              while (i + 1 < bytes.length) {
                val s =
                  if (be) (bytes(i) << 8) | (bytes(i + 1) & 0xff)
                  else (bytes(i + 1) << 8) | (bytes(i) & 0xff)
                val v = s / 32768.0
                acc += v * v; n += 1; i += 2
              }
            }
            Some(AudioMeta(sr, durMs, if (n == 0) 0.0 else math.sqrt(acc / n)))
          }
        } finally in.close()
      } catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => None
        case _: java.io.IOException                               => None
      }
    }

    /** MPEG audio (MP3) FRAME-HEADER parse — pure JVM, from the public
      * MPEG-1/2 frame-header layout: real container metadata (sample
      * rate, frame-chain duration) without a PCM decode (`rms` is 0 —
      * a header walk sees no samples; full MP3 synthesis stays out of
      * scope, this shrinks the by-design codec gap to sample data
      * only). Skips a leading ID3v2 tag (syncsafe size), then requires
      * TWO chained valid Layer III frames before trusting a sync word
      * (random bytes contain 0xFFE syncs constantly), then walks the
      * whole frame chain: duration = Σ samples-per-frame / sample
      * rate (1152 for MPEG-1 L3, 576 for MPEG-2/2.5). None when no
      * chain is found — callers fall back to the stub.
      */
    def mp3Meta(data: Array[Byte]): Option[AudioMeta] = {
      var off = 0
      if (data.length >= 10 && data(0) == 'I' && data(1) == 'D' &&
          data(2) == '3') {
        val size = ((data(6) & 0x7f) << 21) | ((data(7) & 0x7f) << 14) |
          ((data(8) & 0x7f) << 7) | (data(9) & 0x7f)
        off = 10 + size
      }
      val brV1 = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        224, 256, 320, 0)
      val brV2 = Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
        128, 144, 160, 0)
      val srV1  = Array(44100, 48000, 32000, 0)
      val srV2  = Array(22050, 24000, 16000, 0)
      val srV25 = Array(11025, 12000, 8000, 0)
      // (frameLen, sampleRate, samplesPerFrame) for a Layer III header
      def frameAt(i: Int): Option[(Int, Int, Int)] = {
        if (i < 0 || i + 4 > data.length) return None
        val h = ((data(i) & 0xff) << 24) | ((data(i + 1) & 0xff) << 16) |
          ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
        if ((h & 0xffe00000) != 0xffe00000) return None
        val ver   = (h >> 19) & 3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1
        val layer = (h >> 17) & 3 // 1 = Layer III
        if (ver == 1 || layer != 1) return None
        val brIdx = (h >> 12) & 0xf
        val srIdx = (h >> 10) & 3
        val pad   = (h >> 9) & 1
        if (brIdx == 0 || brIdx == 15 || srIdx == 3) return None
        val v1  = ver == 3
        val br  = (if (v1) brV1 else brV2)(brIdx) * 1000
        val sr  = (if (v1) srV1 else if (ver == 2) srV2 else srV25)(srIdx)
        val spf = if (v1) 1152 else 576
        Some((spf / 8 * br / sr + pad, sr, spf))
      }
      var i     = off
      val limit = math.min(data.length - 4, off + 4096)
      var start = -1
      while (start < 0 && i >= 0 && i <= limit) {
        frameAt(i) match {
          case Some((len, _, _)) if len >= 4 && frameAt(i + len).isDefined =>
            start = i
          case _ => i += 1
        }
      }
      if (start < 0) None
      else {
        var frames  = 0L
        var samples = 0L
        var sr0     = 0
        var p       = start
        var ok      = true
        // a sample-rate CHANGE mid-chain ends the walk: real MP3 streams
        // are constant-rate, so a different-rate "frame" is concatenated
        // garbage — counting its samples against sr0 would corrupt the
        // duration
        while (ok) frameAt(p) match {
          case Some((len, sr, spf)) if len >= 4 && p + len <= data.length &&
              (sr0 == 0 || sr == sr0) =>
            frames += 1; samples += spf; sr0 = sr; p += len
          case _ => ok = false
        }
        if (frames == 0) None
        else Some(AudioMeta(sr0,
          math.max(1L, samples * 1000L / math.max(1, sr0)), 0.0))
      }
    }

    /** FLAC STREAMINFO parse — pure JVM, from the public FLAC container
      * spec (the `mp3Meta` contract for the other ubiquitous audio
      * container): `fLaC` magic, then the mandatory first metadata
      * block (type 0 = STREAMINFO, 34 bytes) carries the sample rate
      * (20 bits) and total inter-channel samples (36 bits) — real
      * rate + duration without a frame decode (`rms` 0, as with the
      * MP3 header walk). None on anything that is not a well-formed
      * FLAC prologue — callers fall back to the stub.
      */
    def flacMeta(data: Array[Byte]): Option[AudioMeta] = {
      if (data.length < 4 + 4 + 34 ||
          data(0) != 'f' || data(1) != 'L' || data(2) != 'a' ||
          data(3) != 'C') return None
      // first metadata block header: 1 bit last-flag, 7 bits type,
      // 24-bit big-endian length — STREAMINFO is mandatory and first
      val blockType = data(4) & 0x7f
      val blockLen = ((data(5) & 0xff) << 16) | ((data(6) & 0xff) << 8) |
        (data(7) & 0xff)
      if (blockType != 0 || blockLen != 34) return None
      val b = 8 // STREAMINFO payload offset
      // bytes 10-17 of the payload: 20-bit sample rate, 3-bit
      // channels-1, 5-bit bps-1, 36-bit total samples
      val sr = ((data(b + 10) & 0xff) << 12) | ((data(b + 11) & 0xff) << 4) |
        ((data(b + 12) & 0xff) >> 4)
      val totalSamples = (((data(b + 13) & 0x0fL) << 32) |
        ((data(b + 14) & 0xffL) << 24) | ((data(b + 15) & 0xffL) << 16) |
        ((data(b + 16) & 0xffL) << 8) | (data(b + 17) & 0xffL))
      if (sr <= 0) None
      else Some(AudioMeta(sr,
        math.max(1L, totalSamples * 1000L / sr), 0.0))
    }

    /** MP4/ISO-BMFF `moov/mvhd` duration walk — pure JVM, from the
      * public ISO 14496-12 box grammar (the last container family that
      * still fell through to the stub). Boxes are
      * [32-bit BE size][4CC type]; size==1 pulls a 64-bit largesize,
      * size==0 means "to end of file". The movie header lives at
      * `moov/mvhd`; version 0 carries 32-bit timescale+duration after
      * 2×32-bit timestamps, version 1 the 64-bit forms after 2×64-bit
      * timestamps. duration_ms = duration·1000/timescale. None unless
      * the file starts with a well-formed top-level box whose type is
      * one of the ISO-BMFF brands (`ftyp`/`moov`/`mdat`/`free`/`wide`/
      * `skip`/`styp`) — callers fall back to the stub.
      */
    def mp4Meta(data: Array[Byte]): Option[VideoMeta] = {
      def be32(off: Int): Long =
        if (off + 4 > data.length) -1L
        else ((data(off) & 0xffL) << 24) | ((data(off + 1) & 0xffL) << 16) |
          ((data(off + 2) & 0xffL) << 8) | (data(off + 3) & 0xffL)
      def be64(off: Int): Long =
        if (off + 8 > data.length) -1L
        else (be32(off) << 32) | be32(off + 4)
      def fourcc(off: Int): String =
        if (off + 4 > data.length) ""
        else new String(data, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      // (payload offset, box end) of each box in [from, until)
      def walk(from: Int, until: Int): Iterator[(String, Int, Int)] =
        new Iterator[(String, Int, Int)] {
          private var off = from
          def hasNext: Boolean = off + 8 <= until
          def next(): (String, Int, Int) = {
            val size0 = be32(off)
            val typ   = fourcc(off + 4)
            val (payload, end) = size0 match {
              case 0 => (off + 8, until) // to end of enclosing scope
              case 1 =>
                val ls = be64(off + 8)
                (off + 16,
                  if (ls < 16) until
                  else math.min(until.toLong, off + ls).toInt)
              case s =>
                (off + 8,
                  if (s < 8) until
                  else math.min(until.toLong, off + s).toInt)
            }
            off = math.max(end, off + 8) // malformed sizes still advance
            (typ, payload, end)
          }
        }
      val brands = Set("ftyp", "moov", "mdat", "free", "wide", "skip", "styp")
      if (data.length < 16 || be32(0) < 8 || !brands.contains(fourcc(4)))
        return None
      walk(0, data.length).collectFirst { case ("moov", p, e) => (p, e) }
        .flatMap { case (moovP, moovE) =>
          walk(moovP, moovE).collectFirst { case ("mvhd", p, _) => p }
        }
        .flatMap { p =>
          if (p >= data.length) None
          else (data(p) & 0xff) match {
            case 0 =>
              val ts  = be32(p + 12) // 4 flags-ish + ctime + mtime
              val dur = be32(p + 16)
              if (ts <= 0 || dur < 0) None
              else Some(VideoMeta(dur * 1000L / ts, ts))
            case 1 =>
              val ts  = be32(p + 20) // 4 + 8 + 8
              val dur = be64(p + 24)
              if (ts <= 0 || dur < 0) None
              else Some(VideoMeta(dur * 1000L / ts, ts))
            case _ => None
          }
        }
    }

    /** WebM/Matroska EBML duration walk — the last video-container
      * family that still fell through to the stub. Pure JVM, from the
      * public EBML/Matroska element grammar: elements are
      * [vint ID][vint size][payload]; ID vints keep their marker bits,
      * size vints strip them, and an all-ones size means "unknown —
      * runs to the end of the enclosing scope" (streamed Segments
      * write exactly that). The walk is `Segment` (0x18538067) →
      * `Info` (0x1549A966) → `TimestampScale` (0x2AD7B1, ns per tick,
      * default 1,000,000) + `Duration` (0x4489, a 4- or 8-byte
      * big-endian IEEE float in TICKS). duration_ms =
      * ticks·tsNs/10⁶ — computed in EXACT Long arithmetic when the
      * tick count is integral (every real muxer's case; keeps the
      * fixture oracle-parity bit-exact), double floor otherwise.
      * Reported `timescale` is ticks per second (10⁹/tsNs), matching
      * the MP4 side's semantics. None unless the blob opens with the
      * EBML magic `1A 45 DF A3` — callers fall back to the stub.
      */
    def webmMeta(data: Array[Byte]): Option[VideoMeta] = {
      if (data.length < 12 || (data(0) & 0xff) != 0x1a ||
          (data(1) & 0xff) != 0x45 || (data(2) & 0xff) != 0xdf ||
          (data(3) & 0xff) != 0xa3) return None
      // vint width from the first byte's leading-zero count (1..8)
      def w(first: Int): Int =
        if (first == 0) -1 else Integer.numberOfLeadingZeros(first) - 23
      // element ID: marker bits KEPT, width capped at 4 per EBML
      def readId(off: Int): Option[(Long, Int)] = {
        if (off >= data.length) return None
        val f = data(off) & 0xff
        val width = w(f)
        if (width < 1 || width > 4 || off + width > data.length) return None
        var v = f.toLong
        var i = 1
        while (i < width) { v = (v << 8) | (data(off + i) & 0xff); i += 1 }
        Some((v, width))
      }
      // data size: marker bit STRIPPED; all-ones payload = unknown (-1)
      def readSize(off: Int): Option[(Long, Int)] = {
        if (off >= data.length) return None
        val f = data(off) & 0xff
        val width = w(f)
        if (width < 1 || width > 8 || off + width > data.length) return None
        val mask    = (1 << (8 - width)) - 1
        var v       = (f & mask).toLong
        var allOnes = (f & mask) == mask
        var i       = 1
        while (i < width) {
          val b = data(off + i) & 0xff
          if (b != 0xff) allOnes = false
          v = (v << 8) | b; i += 1
        }
        Some((if (allOnes) -1L else v, width))
      }
      // elements of [from, until): (id, payloadStart, payloadEnd)
      def children(from: Int, until: Int): Iterator[(Long, Int, Int)] =
        new Iterator[(Long, Int, Int)] {
          private var off  = from
          private var nxt: (Long, Int, Int) = _
          private def advance(): Unit = {
            nxt = null
            if (off < until) for {
              (id, iw) <- readId(off)
              (sz, sw) <- readSize(off + iw)
            } {
              val p = off + iw + sw
              val e =
                if (sz < 0) until // unknown size: to end of scope
                else math.min(until.toLong, p.toLong + sz).toInt
              if (p <= until) { nxt = (id, p, e); off = math.max(e, p) }
            }
          }
          advance()
          def hasNext: Boolean = nxt != null
          def next(): (Long, Int, Int) = { val r = nxt; advance(); r }
        }
      def beUint(from: Int, until: Int): Long = {
        var v = 0L
        var i = from
        while (i < until && i < data.length) { v = (v << 8) | (data(i) & 0xff); i += 1 }
        v
      }
      children(0, data.length)
        .collectFirst { case (0x18538067L, p, e) => (p, e) }
        .flatMap { case (segP, segE) =>
          children(segP, segE).collectFirst { case (0x1549a966L, p, e) => (p, e) }
        }
        .flatMap { case (infoP, infoE) =>
          var tsNs = 1000000L // Matroska default: 1 ms per tick
          var dur  = Option.empty[Double]
          children(infoP, infoE).foreach {
            case (0x2ad7b1L, p, e) if e > p && e - p <= 8 =>
              val v = beUint(p, e)
              if (v > 0) tsNs = v
            case (0x4489L, p, e) if e - p == 4 =>
              dur = Some(java.lang.Float.intBitsToFloat(
                beUint(p, e).toInt).toDouble)
            case (0x4489L, p, e) if e - p == 8 =>
              dur = Some(java.lang.Double.longBitsToDouble(beUint(p, e)))
            case _ => ()
          }
          dur.collect {
            case d if d >= 0 && !d.isNaN && !d.isInfinite =>
              val ms =
                if (d == math.floor(d) && d < 9.0e15 &&
                    d.toLong <= Long.MaxValue / tsNs)
                  d.toLong * tsNs / 1000000L // exact-integer oracle path
                else math.floor(d * tsNs / 1e6).toLong
              // ticks/sec floors at 1: a legal TimestampScale > 10⁹ ns
              // (coarser than one tick per second) must not emit
              // timescale 0 into downstream rate/timing arithmetic
              VideoMeta(ms, math.max(1L, 1000000000L / tsNs))
          }
        }
    }
  }

  // -------------------------------------------------------------------------
  // DataFrame operators (real plumbing)
  // -------------------------------------------------------------------------

  /** Decode image metadata + channel stats — one codec pass per
    * partition stream (mapPartitions, not per-row UDF).
    */
  def decodeImages(media: DataFrame): Dataset[DecodedImage] = {
    implicit val enc = Encoders.product[DecodedImage]
    media.select("media_id", "kind", "data").as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.filter(_.kind == "image").map { r =>
          val m             = FakeCodec.imageMeta(r.data)
          val (mr, mg, mb)  = FakeCodec.channelMeans(r.data)
          DecodedImage(r.media_id, m.width, m.height, m.channels, mr, mg, mb)
        }
      }
  }

  /** Decode with the real JDK codecs where the blob is a recognized
    * format (PNG/JPEG/GIF/BMP), falling back to [[FakeCodec]] per row
    * otherwise — the production entry point once real media flows
    * through; the fixture's synthetic blobs exercise the fallback, real
    * files the ImageIO path (MultimodalSpec decodes a generated PNG).
    * Same mapPartitions batch shape and schema as [[decodeImages]].
    */
  def decodeImagesAuto(media: DataFrame): Dataset[DecodedImage] = {
    implicit val enc = Encoders.product[DecodedImage]
    media.select("media_id", "kind", "data").as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.filter(_.kind == "image").map { r =>
          RealCodecs.decodeImage(r.data) match {
            case Some((m, (mr, mg, mb))) =>
              DecodedImage(r.media_id, m.width, m.height, m.channels, mr, mg, mb)
            case None =>
              val m            = FakeCodec.imageMeta(r.data)
              val (mr, mg, mb) = FakeCodec.channelMeans(r.data)
              DecodedImage(r.media_id, m.width, m.height, m.channels, mr, mg, mb)
          }
        }
      }
  }

  /** Resize images to target dims; returns (media_id, data) with the new
    * blob — the write side would partition by size bucket.
    */
  def resizeImages(media: DataFrame, w: Int, h: Int): DataFrame = {
    val resize = udf((data: Array[Byte]) => FakeCodec.resize(data, w, h))
    media.filter(col("kind") === "image")
      .select(col("media_id"), resize(col("data")).as("data"))
  }

  def decodeAudio(media: DataFrame): Dataset[DecodedAudio] = {
    implicit val enc = Encoders.product[DecodedAudio]
    media.select("media_id", "kind", "data").as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.filter(_.kind == "audio").map { r =>
          val m = FakeCodec.audioMeta(r.data)
          DecodedAudio(r.media_id, m.sample_rate, m.duration_ms, m.rms)
        }
      }
  }

  /** Decode with the real JDK audio stack where the blob is a
    * recognized container (WAV/AIFF/AU via `javax.sound.sampled`, MP3
    * via the [[RealCodecs.mp3Meta]] frame-header walker), falling back
    * to [[FakeCodec]] per row otherwise — the audio twin
    * of [[decodeImagesAuto]]: same mapPartitions batch shape and schema
    * as [[decodeAudio]], so swapping it in changes no plan. The
    * committed fixture's synthetic blobs exercise the fallback (q58 is
    * oracle-identical through either entry); MultimodalSpec drives a
    * real generated WAV and a synthesized MP3 frame chain through the
    * real paths.
    */
  def decodeAudioAuto(media: DataFrame): Dataset[DecodedAudio] = {
    implicit val enc = Encoders.product[DecodedAudio]
    media.select("media_id", "kind", "data").as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.filter(_.kind == "audio").map { r =>
          // flac BEFORE mp3: the fLaC magic check is exact and cannot
          // false-positive on a real MP3, while the MP3 sync-frame walk
          // CAN coincidentally match binary metadata (cover art, vorbis
          // comments) inside a FLAC's first 4 KB and return garbage
          RealCodecs.decodeAudio(r.data)
            .orElse(RealCodecs.flacMeta(r.data))
            .orElse(RealCodecs.mp3Meta(r.data)) match {
            case Some(m) =>
              DecodedAudio(r.media_id, m.sample_rate, m.duration_ms, m.rms)
            case None =>
              val m = FakeCodec.audioMeta(r.data)
              DecodedAudio(r.media_id, m.sample_rate, m.duration_ms, m.rms)
          }
        }
      }
  }

  /** Video metadata decode with real-container preference — the
    * [[decodeAudioAuto]] contract for the video column: a real
    * MP4/ISO-BMFF blob resolves its `moov/mvhd` duration and timescale,
    * a real WebM/Matroska blob its EBML `Info/Duration` ×
    * `TimestampScale` (both pure JVM walks, no frame decode), anything
    * else falls back to the deterministic stub; `real` marks which
    * path served the row so a corpus audit can count genuine
    * containers. One codec pass per partition stream (mapPartitions),
    * same batch shape as the other decoders.
    */
  def decodeVideoAuto(media: DataFrame): Dataset[DecodedVideo] = {
    implicit val enc = Encoders.product[DecodedVideo]
    media.select("media_id", "kind", "data").as(Encoders.product[MediaRow])
      .mapPartitions { rows =>
        rows.filter(_.kind == "video").map { r =>
          RealCodecs.mp4Meta(r.data)
            .orElse(RealCodecs.webmMeta(r.data)) match {
            case Some(m) =>
              DecodedVideo(r.media_id, m.duration_ms, m.timescale, real = true)
            case None =>
              val m = FakeCodec.videoMeta(r.data)
              DecodedVideo(r.media_id, m.duration_ms, m.timescale, real = false)
          }
        }
      }
  }

  /** Frame sampling: explode every Nth frame to its own row — the shape
    * under video dedup/search (each frame then embeds independently).
    */
  def sampleFrames(media: DataFrame, everyNth: Int): Dataset[VideoFrame] = {
    implicit val enc = Encoders.product[VideoFrame]
    media.select("media_id", "kind", "data").as(Encoders.product[MediaRow])
      .flatMap { r =>
        if (r.kind != "video") Iterator.empty
        else FakeCodec.frames(r.data).zipWithIndex.collect {
          case (f, i) if i % everyNth == 0 => VideoFrame(r.media_id, i, f)
        }.iterator
      }
  }

  /** Feature extraction: blob → embedding column, ready for
    * Similarity.bruteForceTopK / lshTopK / cosineNearDupPairs.
    */
  def embedMedia(media: DataFrame, dim: Int = 64): DataFrame = {
    val embed = udf((data: Array[Byte]) => FakeCodec.embed(data, dim))
    media.select(col("media_id").as("vec_id"), embed(col("data")).as("embedding"))
  }

  /** Oracle-portable feature extraction: component j is
    * `(affine_j(md5_32(lower(hex(blob)))) % 2001 − 1000) / 1000` as
    * float — one md5 per blob (staged, so the 64-component array build
    * references the hash attribute, not the md5 subtree) driving the
    * Carter–Wegman affine family ([[graft.functions.PortableHash]]).
    * Every component is an exact integer/1000, so
    * `VectorFunctions.quantize` recovers the integers losslessly and any
    * SQL engine recomputes them from the same blob hex — unlike
    * [[FakeCodec.embed]]'s wrapping xorshift, which engines that raise
    * on signed-64 overflow cannot evaluate. Pure codegen'd Column chain,
    * no UDF; same map-only scan shape as [[embedMedia]].
    */
  def embedMediaPortable(media: DataFrame, dim: Int = 64, seed: Long = 7L): DataFrame = {
    import graft.functions.PortableHash
    val comps = PortableHash.affineConstants(seed, dim).map { ab =>
      ((PortableHash.affine(col("h"), ab) % 2001L - 1000L).cast("double") / 1000.0)
        .cast("float")
    }
    media
      .withColumn("h", PortableHash.md5Hex32(lower(hex(col("data")))))
      .select(col("media_id").as("vec_id"), array(comps: _*).as("embedding"))
  }

  /** Committed parquet media fixture (written once by
    * graft.tools.GenMediaFixture, deterministic): 300 images with
    * structured headers (BE width/height at bytes 0-7, channels-1 at
    * byte 11 — small positive values, so header parsing is sign-free on
    * every engine) + 50 "videos" + 100 "audio" clips. Queries read this
    * instead of
    * synthesizing rows so the DuckDB oracle can read the SAME bytes and
    * verify decode/frame-sample results hash-exactly. The path is
    * `fixtures/media.parquet` under the working directory (the checkout
    * a run starts in); `GRAFT_MEDIA_FIXTURE` overrides it.
    */
  val MediaFixturePath: String = mediaFixturePath(sys.env)

  private[graft] def mediaFixturePath(env: Map[String, String]): String =
    env.getOrElse("GRAFT_MEDIA_FIXTURE",
      new java.io.File("fixtures/media.parquet").getAbsolutePath)

  def mediaFixture(spark: SparkSession): DataFrame = {
    require(new java.io.File(MediaFixturePath).exists,
      s"media fixture $MediaFixturePath is missing: run from the repository " +
        "root, or point GRAFT_MEDIA_FIXTURE at the fixture")
    spark.read.parquet(MediaFixturePath)
  }

  /** Deterministic synthetic media table for tests/bench (seeded). */
  def syntheticMedia(spark: SparkSession, n: Int, kind: String, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      val rnd  = new scala.util.Random(seed + i)
      val size = 64 + rnd.nextInt(512)
      val data = new Array[Byte](size)
      rnd.nextBytes(data)
      MediaRow(i.toLong, kind, data)
    }.toDF()
  }
}
