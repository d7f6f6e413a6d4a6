package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val images = Multimodal.syntheticMedia(spark, 50, "image")
  private lazy val audio  = Multimodal.syntheticMedia(spark, 20, "audio")
  private lazy val videos = Multimodal.syntheticMedia(spark, 10, "video")

  test("decodeImages: schema, coverage, determinism") {
    val out = Multimodal.decodeImages(images)
    assert(out.columns.toSeq == Seq(
      "media_id", "width", "height", "channels", "mean_r", "mean_g", "mean_b"))
    assert(out.count() == 50)
    val a = out.orderBy("media_id").collect()
    val b = Multimodal.decodeImages(images).orderBy("media_id").collect()
    assert(a.sameElements(b)) // codec is a pure function of the bytes
    assert(a.forall(r => r.width >= 1 && r.channels <= 4))
    // non-image rows are ignored
    assert(Multimodal.decodeImages(audio).count() == 0)
  }

  test("resizeImages re-synthesizes blobs at target dims") {
    val out = Multimodal.resizeImages(images, 32, 16).collect()
    assert(out.length == 50)
    for (r <- out) {
      val blob = r.getAs[Array[Byte]]("data")
      val meta = Multimodal.FakeCodec.imageMeta(blob)
      assert(meta.width == 32 && meta.height == 16)
      assert(blob.length == 16 + 32 * 16 * meta.channels)
    }
  }

  test("decodeAudio produces plausible metadata") {
    val out = Multimodal.decodeAudio(audio).collect()
    assert(out.length == 20)
    assert(out.forall(a => a.duration_ms >= 1 && a.rms >= 0.0))
    assert(out.forall(a => Seq(8000, 16000, 22050, 44100).contains(a.sample_rate)))
  }

  test("sampleFrames explodes every Nth frame with stable indices") {
    val all  = Multimodal.sampleFrames(videos, 1)
    val some = Multimodal.sampleFrames(videos, 3)
    val perVideoAll  = all.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perVideoSome = some.groupBy("media_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((id, n) <- perVideoAll)
      assert(perVideoSome(id) == (n + 2) / 3, s"video $id: $n frames → every-3rd")
    assert(some.select("frame_idx").as[Int].collect().forall(_ % 3 == 0))
  }

  test("decodeAudioAuto: real WAV through javax.sound.sampled, synthetic bytes fall back") {
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit signed mono 8000 Hz WAV, 4000 frames = 500 ms, every sample
    // a constant 16384 (= 0.5 normalized) → RMS exactly 0.5
    val pcm = new Array[Byte](4000 * 2)
    var i = 0
    while (i < pcm.length) { pcm(i) = 0x00; pcm(i + 1) = 0x40; i += 2 } // LE 16384
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, 4000L),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val wav = bos.toByteArray

    val fake = Array.fill[Byte](80)(33) // not a real container
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav),
      Multimodal.MediaRow(2L, "audio", fake)
    ).toDF()
    val out = Multimodal.decodeAudioAuto(media).collect().map(d => d.media_id -> d).toMap

    val real = out(1L) // JDK path: container metadata + exact RMS
    assert(real.sample_rate == 8000)
    assert(real.duration_ms == 500L)
    assert(math.abs(real.rms - 0.5) < 1e-9)

    val fb = out(2L) // fallback: identical to the stub decode
    val m  = Multimodal.FakeCodec.audioMeta(fake)
    assert(fb.sample_rate == m.sample_rate && fb.duration_ms == m.duration_ms)
    assert(fb.rms == m.rms)

    // the committed fixture's synthetic audio blobs must all take the
    // fallback (q58's oracle models the stub decode byte-for-byte)
    val fx = Multimodal.mediaFixture(spark).filter($"kind" === "audio")
    val viaAuto = Multimodal.decodeAudioAuto(fx).orderBy("media_id").collect()
    val viaStub = Multimodal.decodeAudio(fx).orderBy("media_id").collect()
    assert(viaAuto.sameElements(viaStub))
  }

  test("mp3Meta: frame-header walk yields real rate/duration, garbage falls back") {
    // synthesize a valid MPEG-1 Layer III frame chain: 160 kbps,
    // 44100 Hz, no padding → frameLen = 144·160000/44100 = 522 bytes;
    // 38 frames = 38·1152 samples → 43776·1000/44100 = 992 ms
    def frame(): Array[Byte] = {
      val f = new Array[Byte](522)
      f(0) = 0xff.toByte
      f(1) = 0xfb.toByte // MPEG-1 (11), Layer III (01), no CRC (1)
      f(2) = 0xa0.toByte // bitrate idx 10 (160k), sr idx 0 (44100), pad 0
      f(3) = 0x00
      java.util.Arrays.fill(f, 4, 522, 0x55.toByte)
      f
    }
    val chain = Array.concat(Seq.fill(38)(frame()): _*)
    // with a leading ID3v2 tag (10-byte header + 100-byte syncsafe body)
    val id3 = new Array[Byte](110)
    id3(0) = 'I'; id3(1) = 'D'; id3(2) = '3'; id3(3) = 4; id3(9) = 100
    val tagged = Array.concat(id3, chain)

    for (blob <- Seq(chain, tagged)) {
      val m = Multimodal.RealCodecs.mp3Meta(blob)
      assert(m.isDefined, "valid frame chain must parse")
      assert(m.get.sample_rate == 44100L)
      assert(m.get.duration_ms == 38L * 1152 * 1000 / 44100)
      assert(m.get.rms == 0.0, "header walk sees no samples")
    }
    // a truncated final frame is dropped, not miscounted
    val truncated = chain.take(chain.length - 100)
    assert(Multimodal.RealCodecs.mp3Meta(truncated).get.duration_ms ==
      37L * 1152 * 1000 / 44100)
    // a sample-rate change mid-chain (concatenated streams / garbage)
    // ends the walk instead of counting foreign samples against the
    // first rate: MPEG-2 22050 Hz frames appended after the 44100 chain
    // must not inflate the duration
    val v2frame = new Array[Byte](417)
    v2frame(0) = 0xff.toByte
    v2frame(1) = 0xf3.toByte // MPEG-2 (10), Layer III (01), no CRC (1)
    v2frame(2) = 0xc0.toByte // bitrate idx 12 (128k), sr idx 0 (22050)
    java.util.Arrays.fill(v2frame, 4, 417, 0x55.toByte)
    val mixed = Array.concat(chain, v2frame, v2frame, v2frame)
    val mm = Multimodal.RealCodecs.mp3Meta(mixed).get
    assert(mm.sample_rate == 44100 &&
      mm.duration_ms == 38L * 1152 * 1000 / 44100,
      s"mixed-rate chain must stop at the rate change, got $mm")
    // a lone sync word in random bytes must NOT parse (two-frame chain
    // requirement), and the auto path must fall back to the stub
    val garbage = Array.tabulate[Byte](600)(i =>
      if (i == 77) 0xff.toByte else if (i == 78) 0xfb.toByte else 33)
    assert(Multimodal.RealCodecs.mp3Meta(garbage).isEmpty)
    val media = Seq(
      Multimodal.MediaRow(1L, "audio", tagged),
      Multimodal.MediaRow(2L, "audio", garbage)).toDF()
    val out = Multimodal.decodeAudioAuto(media).collect()
      .map(d => d.media_id -> d).toMap
    assert(out(1L).sample_rate == 44100L &&
      out(1L).duration_ms == 38L * 1152 * 1000 / 44100)
    val stub = Multimodal.FakeCodec.audioMeta(garbage)
    assert(out(2L).sample_rate == stub.sample_rate &&
      out(2L).duration_ms == stub.duration_ms)
  }

  test("flacMeta: STREAMINFO yields real rate/duration, garbage falls back") {
    // synthesize the FLAC prologue from the public spec: "fLaC" magic,
    // STREAMINFO block header (type 0, length 34), and the 34-byte
    // payload carrying a 20-bit sample rate and 36-bit total samples
    def flac(sr: Int, totalSamples: Long): Array[Byte] = {
      val out = Array.fill[Byte](4 + 4 + 34)(0)
      out(0) = 'f'; out(1) = 'L'; out(2) = 'a'; out(3) = 'C'
      out(4) = 0x00; out(5) = 0; out(6) = 0; out(7) = 34
      val b = 8
      out(b + 10) = ((sr >> 12) & 0xff).toByte
      out(b + 11) = ((sr >> 4) & 0xff).toByte
      out(b + 12) = (((sr & 0xf) << 4) | 0x2).toByte // low bits: channels junk
      out(b + 13) = ((totalSamples >> 32) & 0xf).toByte // top nibble: bps junk=0
      out(b + 14) = ((totalSamples >> 24) & 0xff).toByte
      out(b + 15) = ((totalSamples >> 16) & 0xff).toByte
      out(b + 16) = ((totalSamples >> 8) & 0xff).toByte
      out(b + 17) = (totalSamples & 0xff).toByte
      out
    }
    val m = Multimodal.RealCodecs.flacMeta(flac(44100, 441000L)).get
    assert(m.sample_rate == 44100 && m.duration_ms == 10000 && m.rms == 0.0)
    // a 36-bit-wide sample count (an hour at 96 kHz) survives the parse
    val m2 = Multimodal.RealCodecs.flacMeta(flac(96000, 96000L * 3600)).get
    assert(m2.sample_rate == 96000 && m2.duration_ms == 3600L * 1000)
    // magic without a STREAMINFO block, and non-FLAC bytes: fall back
    assert(Multimodal.RealCodecs.flacMeta("fLaCxxxxyyyy".getBytes).isEmpty)
    assert(Multimodal.RealCodecs.flacMeta(Array.fill[Byte](64)(0x55)).isEmpty)
    // the auto decode path routes a FLAC blob through the real parser
    val media = Seq(Multimodal.MediaRow(1L, "audio", flac(48000, 96000L))).toDF()
    val got = Multimodal.decodeAudioAuto(media).collect().head
    assert(got.sample_rate == 48000 && got.duration_ms == 2000)

    // ORDERING: a FLAC whose metadata bytes (cover art, vorbis tags)
    // coincidentally contain a valid chained MPEG sync pair must still
    // parse as FLAC — the exact fLaC magic wins over the mp3 heuristic
    // frame walk. Craft a real 44.1 kHz MPEG-1 Layer III header pair
    // (0xFFFB9000: 128 kbps, 44100 Hz → frame length 417 bytes) inside
    // a PICTURE-block-shaped tail appended after the STREAMINFO.
    val withPic = {
      val head = flac(22050, 44100L) // non-last STREAMINFO (isLast=0)
      val pic  = Array.fill[Byte](900)(0x41)
      val mp3hdr = Array[Byte](0xff.toByte, 0xfb.toByte, 0x90.toByte, 0x00)
      System.arraycopy(mp3hdr, 0, pic, 10, 4)
      System.arraycopy(mp3hdr, 0, pic, 10 + 417, 4) // chained second frame
      head ++ pic
    }
    assert(Multimodal.RealCodecs.mp3Meta(withPic).nonEmpty,
      "fixture must actually trigger the mp3 false positive")
    val picked = Multimodal.decodeAudioAuto(
      Seq(Multimodal.MediaRow(2L, "audio", withPic)).toDF()).collect().head
    assert(picked.sample_rate == 22050 && picked.duration_ms == 2000,
      s"FLAC must win over the coincidental MP3 sync match: $picked")
  }

  test("decodeImagesAuto: real PNG through ImageIO, synthetic bytes fall back") {
    // build a deterministic 2x2 PNG with known pixel values via the JDK
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x00ff00)
    img.setRGB(0, 1, 0x0000ff); img.setRGB(1, 1, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    val png = bos.toByteArray

    val media = Seq(
      Multimodal.MediaRow(1L, "image", png),
      Multimodal.MediaRow(2L, "image", Array.fill[Byte](64)(33))  // not a real format
    ).toDF()
    val out = Multimodal.decodeImagesAuto(media).collect().map(d => d.media_id -> d).toMap

    val real = out(1L) // ImageIO path: true dims + exact channel means
    assert(real.width == 2 && real.height == 2 && real.channels == 3)
    assert(real.mean_r == (255.0 + 0 + 0 + 255) / 4)
    assert(real.mean_g == (0.0 + 255 + 0 + 255) / 4)
    assert(real.mean_b == (0.0 + 0 + 255 + 255) / 4)

    val fake = out(2L) // fallback: identical to the stub decode
    val m            = Multimodal.FakeCodec.imageMeta(Array.fill[Byte](64)(33))
    val (mr, mg, mb) = Multimodal.FakeCodec.channelMeans(Array.fill[Byte](64)(33))
    assert(fake.width == m.width && fake.height == m.height && fake.channels == m.channels)
    assert(fake.mean_r == mr && fake.mean_g == mg && fake.mean_b == mb)
  }

  test("embedMediaPortable computes the documented md5/affine function exactly") {
    import graft.functions.PortableHash
    val emb = Multimodal.embedMediaPortable(images, dim = 64, seed = 7L)
    assert(emb.columns.toSeq == Seq("vec_id", "embedding"))
    // quantize is lossless on the integer/1000 components
    val got = emb
      .select($"vec_id", graft.functions.VectorFunctions.quantize($"embedding").as("q"))
      .as[(Long, collection.Seq[Long])].collect().toMap
    // recompute driver-side from the same bytes: md5 of the lowercase hex,
    // first 8 hex chars as the base hash, affine family mod 2001 − 1000
    val ab = PortableHash.affineConstants(7L, 64)
    val rows = images.select($"media_id", $"data").as[(Long, Array[Byte])].collect()
    for ((id, data) <- rows) {
      val hexStr = data.map("%02x".format(_)).mkString
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(hexStr.getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16)
      val want = ab.map { case (a, b) => ((h * a + b) & PortableHash.Mask40) % 2001L - 1000L }
      assert(got(id) == want, s"media $id")
    }
    // identical blobs embed identically; the portable top-k finds the clone
    val dup = images.limit(1).withColumn("media_id", lit(999L))
    val withDup = Multimodal.embedMediaPortable(images.unionByName(dup))
    val top = Similarity.bruteForceTopKPortable(withDup, queryId = 999L, k = 1)
      .select("vec_id").as[Long].head()
    assert(top == 0L)
  }

  test("embedMedia feeds the similarity operators end-to-end") {
    val emb = Multimodal.embedMedia(images, dim = 64)
    assert(emb.columns.toSeq == Seq("vec_id", "embedding"))
    assert(emb.select(size($"embedding")).as[Int].head() == 64)
    // identical blobs embed identically → near-dup pair search finds them
    val dup = images.limit(1).withColumn("media_id", lit(999L))
    val withDup = Multimodal.embedMedia(images.unionByName(dup))
    val top = Similarity.bruteForceTopK(withDup, queryId = 999L, k = 1)
      .select("vec_id").as[Long].head()
    assert(top == 0L) // media 0's clone is its own nearest neighbor
  }

  test("mp4Meta: moov/mvhd walk yields real duration (v0 + v1 + 64-bit boxes), garbage falls back") {
    import Multimodal.RealCodecs
    // golden fixtures straight from the committed generator — the same
    // bytes q129's oracle slices by fixed offsets, parsed here by the
    // general box walk
    val v0 = graft.tools.GenMediaFixture.mp4Blob(1100L) // even id -> mvhd v0
    val v1 = graft.tools.GenMediaFixture.mp4Blob(1101L) // odd id -> mvhd v1
    // id 1100: ts=600 (1100%4=0), dur=(1100*37)%100000+600=41300
    assert(RealCodecs.mp4Meta(v0).contains(
      Multimodal.VideoMeta(41300L * 1000 / 600, 600L)))
    // id 1101: ts=1000 (1101%4=1), dur=(1101*37)%100000+1000=41737
    val expTs1  = 1000L
    val expDur1 = (1101L * 37) % 100000L + expTs1
    assert(RealCodecs.mp4Meta(v1).contains(
      Multimodal.VideoMeta(expDur1 * 1000 / expTs1, expTs1)))
    // hand-built variant exercising the 64-bit largesize branch: the
    // moov box declares size==1 + an 8-byte largesize
    val mvhd = java.nio.ByteBuffer.allocate(108)
    mvhd.putInt(108); mvhd.put("mvhd".getBytes("US-ASCII"))
    mvhd.putInt(0); mvhd.putInt(0); mvhd.putInt(0)
    mvhd.putInt(90000); mvhd.putInt(180000) // 2 s at 90 kHz
    val big = java.nio.ByteBuffer.allocate(20 + 16 + 108)
    big.putInt(20); big.put("ftyp".getBytes("US-ASCII"))
    big.put("isom".getBytes("US-ASCII")); big.putInt(0)
    big.put("isom".getBytes("US-ASCII"))
    big.putInt(1); big.put("moov".getBytes("US-ASCII"))
    big.putLong(16 + 108) // largesize includes the 16-byte header
    big.put(mvhd.array())
    assert(RealCodecs.mp4Meta(big.array())
      .contains(Multimodal.VideoMeta(2000L, 90000L)))
    // non-container bytes (the stub blobs, random payloads) fall back
    assert(RealCodecs.mp4Meta(
      graft.tools.GenMediaFixture.blob(1000L, "video")).isEmpty)
    assert(RealCodecs.mp4Meta(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(RealCodecs.mp4Meta(Array.emptyByteArray).isEmpty)
    // truncated mvhd (payload cut before the duration field): no crash,
    // graceful None-or-value — must not throw
    val cut = graft.tools.GenMediaFixture.mp4Blob(1100L).take(40)
    RealCodecs.mp4Meta(cut) // must not throw
  }

  test("webmMeta: EBML walk yields real duration (f32/f64, unknown-size Segment), garbage falls back") {
    import Multimodal.RealCodecs
    // golden fixtures straight from the committed generator — the same
    // bytes q129's oracle slices by fixed offsets, parsed here by the
    // general EBML walk (unknown-size Segment: the streamed-mux form)
    (1150L until 1154L).foreach { id =>
      val tsNs  = Seq(1000000L, 500000L, 2000000L, 250000L)((id % 4).toInt)
      val ticks = (1L << 23) + (id * 37L) % 100000L
      assert(RealCodecs.webmMeta(graft.tools.GenMediaFixture.webmBlob(id))
          .contains(Multimodal.VideoMeta(
            ticks * tsNs / 1000000L, 1000000000L / tsNs)),
        s"id $id: general walk must recover the generator's fields")
    }
    // hand-built variant: 8-byte float Duration, explicit Segment size,
    // TimestampScale AFTER Duration (element order is free in Info)
    val info = java.nio.ByteBuffer.allocate(3 + 8 + 4 + 4)
    info.put(Array(0x44, 0x89, 0x88).map(_.toByte)) // Duration, f64
    info.putDouble(5000.0)                          // 5000 ticks
    info.put(Array(0x2a, 0xd7, 0xb1, 0x84).map(_.toByte))
    info.putInt(2000000)                            // 2 ms per tick
    val seg = java.nio.ByteBuffer.allocate(10 + 4 + 1 + 4 + 1 + info.capacity())
    seg.put(Array(0x1a, 0x45, 0xdf, 0xa3, 0x85, 0x42, 0x82, 0x82)
      .map(_.toByte))
    seg.put("wm".getBytes("US-ASCII"))              // EBML header, DocType "wm"
    seg.put(Array(0x18, 0x53, 0x80, 0x67).map(_.toByte))
    seg.put((0x80 | (5 + info.capacity())).toByte)  // explicit Segment size
    seg.put(Array(0x15, 0x49, 0xa9, 0x66).map(_.toByte))
    seg.put((0x80 | info.capacity()).toByte)
    seg.put(info.array())
    assert(RealCodecs.webmMeta(seg.array())
        .contains(Multimodal.VideoMeta(10000L, 500L)),
      "f64 duration × late TimestampScale: 5000 ticks at 2ms = 10s")
    // a LEGAL TimestampScale coarser than 1 tick/sec (> 1e9 ns) must
    // clamp ticks/sec to 1, never emit timescale 0 into rate math
    val coarse = seg.array().clone()
    // the hand-built layout puts the TimestampScale uint32 last:
    // overwrite it with 2e9 ns per tick
    val tsOff = coarse.length - 4
    java.nio.ByteBuffer.wrap(coarse, tsOff, 4).putInt(2000000000)
    assert(RealCodecs.webmMeta(coarse)
        .contains(Multimodal.VideoMeta(10000000L, 1L)),
      "5000 ticks at 2s each = 1e7 ms, timescale clamped to 1")
    // non-container bytes (stub blobs, MP4s, random payloads) fall back
    assert(RealCodecs.webmMeta(
      graft.tools.GenMediaFixture.blob(1000L, "video")).isEmpty)
    assert(RealCodecs.webmMeta(
      graft.tools.GenMediaFixture.mp4Blob(1100L)).isEmpty)
    assert(RealCodecs.webmMeta(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(RealCodecs.webmMeta(Array.emptyByteArray).isEmpty)
    // truncated mid-Info: no crash, graceful None-or-value
    RealCodecs.webmMeta(
      graft.tools.GenMediaFixture.webmBlob(1150L).take(38)) // must not throw
  }

  test("decodeVideoAuto: real MP4+WebM rows resolve, stub rows fall back, one pass") {
    val got = Multimodal.decodeVideoAuto(Multimodal.mediaFixture(spark))
      .collect().map(v => v.media_id -> v).toMap
    assert(got.size == 90, s"50 stub + 20 MP4 + 20 WebM rows, got ${got.size}")
    (1100L until 1120L).foreach { id =>
      val v = got(id)
      assert(v.real, s"id $id is a real MP4 and must not hit the stub")
      val ts  = Seq(600L, 1000L, 90000L, 48000L)((id % 4).toInt)
      val dur = (id * 37) % 100000L + ts
      assert(v.timescale == ts && v.duration_ms == dur * 1000 / ts)
    }
    (1150L until 1170L).foreach { id =>
      val v = got(id)
      assert(v.real, s"id $id is a real WebM and must not hit the stub")
      val tsNs  = Seq(1000000L, 500000L, 2000000L, 250000L)((id % 4).toInt)
      val ticks = (1L << 23) + (id * 37L) % 100000L
      assert(v.timescale == 1000000000L / tsNs &&
        v.duration_ms == ticks * tsNs / 1000000L)
    }
    (1000L until 1050L).foreach { id =>
      assert(!got(id).real, s"id $id is a stub blob")
      assert(got(id).timescale == 30L)
    }
  }

  test("the media fixture path resolves under the working directory unless overridden") {
    val dflt = Multimodal.mediaFixturePath(Map.empty)
    assert(dflt == new java.io.File(System.getProperty("user.dir"),
        "fixtures/media.parquet").getAbsolutePath,
      s"with GRAFT_MEDIA_FIXTURE unset the fixture must lie under user.dir: $dflt")
    assert(Multimodal.mediaFixturePath(Map("GRAFT_MEDIA_FIXTURE" -> "/data/m.parquet")) ==
      "/data/m.parquet")
  }
}
