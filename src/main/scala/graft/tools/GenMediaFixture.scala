package graft.tools

import graft.operators.Multimodal.MediaRow

/** One-shot generator for the committed media fixture
  * (fixtures/media.parquet). Pure function of the ids — xorshift PRNG, no
  * java.util.Random — so the committed bytes are reproducible.
  *
  * Layout per blob: 16-byte header (big-endian width at 0-3, height at
  * 4-7, channels-1 at byte 11, rest zero; all values small positive so
  * header parsing needs no signed-int mirroring in the oracle), then a
  * pseudo-random payload of ≥ 48 bytes (images) / ≥ 64 bytes (videos,
  * so every video has at least one 64-byte frame).
  */
object GenMediaFixture {

  def blob(id: Long, kind: String): Array[Byte] = {
    var s = id * 2654435761L +
      (kind match { case "video" => 99991L; case "audio" => 31337L; case _ => 7L })
    def nx(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    def pos(m: Int): Int = ((nx() >>> 1) % m).toInt
    val payload = if (kind == "video") 64 + pos(960) else 48 + pos(480)
    val b = new Array[Byte](16 + payload)
    val w  = 16 + pos(2000)
    val h  = 16 + pos(2000)
    val ch = 1 + pos(4)
    b(0) = (w >> 24).toByte; b(1) = (w >> 16).toByte; b(2) = (w >> 8).toByte; b(3) = w.toByte
    b(4) = (h >> 24).toByte; b(5) = (h >> 16).toByte; b(6) = (h >> 8).toByte; b(7) = h.toByte
    b(11) = (ch - 1).toByte
    var i = 16
    while (i < b.length) { b(i) = nx().toByte; i += 1 }
    b
  }

  /** A REAL minimal MP4 prologue (ISO 14496-12): `ftyp` + `moov/mvhd`
    * with a deterministic timescale/duration, then an `mdat` payload of
    * pseudo-random bytes. Even ids get a version-0 mvhd (32-bit
    * duration), odd ids version 1 (64-bit) — both branches of the box
    * walk are exercised by the committed fixture. Byte offsets are
    * FIXED by construction (ftyp 0-19, moov header 20-27, mvhd header
    * 28-35, payload from 36), which is what lets the DuckDB oracle
    * slice the same fields while the library does the general walk.
    */
  def mp4Blob(id: Long): Array[Byte] = {
    val ts: Long  = Seq(600L, 1000L, 90000L, 48000L)((id % 4).toInt)
    val dur: Long = (id * 37L) % 100000L + ts // >= 1 second
    val v1        = id % 2 == 1
    val mvhdLen   = if (v1) 120 else 108
    val out = java.nio.ByteBuffer.allocate(20 + 8 + mvhdLen + 8 + 64)
    def fourcc(s: String): Unit = out.put(s.getBytes("US-ASCII"))
    out.putInt(20); fourcc("ftyp"); fourcc("isom"); out.putInt(0x200)
    fourcc("isom")
    out.putInt(8 + mvhdLen); fourcc("moov")
    out.putInt(mvhdLen); fourcc("mvhd")
    if (v1) {
      out.putInt(0x01000000) // version 1, flags 0
      out.putLong(0L); out.putLong(0L) // ctime, mtime
      out.putInt(ts.toInt); out.putLong(dur)
      out.put(new Array[Byte](120 - 8 - 4 - 16 - 4 - 8)) // rate..next_track
    } else {
      out.putInt(0x00000000)
      out.putInt(0); out.putInt(0)
      out.putInt(ts.toInt); out.putInt(dur.toInt)
      out.put(new Array[Byte](108 - 8 - 4 - 8 - 4 - 4))
    }
    out.putInt(8 + 64); fourcc("mdat")
    var s = id * 2654435761L + 424243L
    def nx(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    (0 until 64).foreach(_ => out.put(nx().toByte))
    out.array()
  }

  /** A REAL minimal WebM prologue (EBML/Matroska): EBML header with
    * DocType "webm", then an unknown-size `Segment` (the streamed-mux
    * form — exercises the to-end-of-scope leg of the walk) holding
    * `Info{TimestampScale, Duration}` and a pseudo-random `Cluster`
    * payload. Duration is a 4-byte big-endian float whose tick count
    * sits in [2²³, 2²⁴) — exactly representable, and with mantissa =
    * ticks − 2²³ the DuckDB oracle recovers the integer from the raw
    * bits with one mask+add, no float reinterpret needed. Byte offsets
    * are FIXED by construction (EBML 0-11, Segment 12-23, Info header
    * 24-28, TimestampScale uint32 at 33, Duration float32 at 40,
    * Cluster from 44), which is what lets the oracle slice the same
    * fields while the library does the general EBML walk.
    */
  def webmBlob(id: Long): Array[Byte] = {
    // ns per tick — all divide 10⁹, so ticks/sec is integral
    val tsNs: Long     = Seq(1000000L, 500000L, 2000000L, 250000L)((id % 4).toInt)
    val durTicks: Long = (1L << 23) + (id * 37L) % 100000L
    var s = id * 2654435761L + 777001L
    def nx(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    val clusterLen = 64 + ((nx() >>> 1) % 63L).toInt // 1-byte vint size
    val out = java.nio.ByteBuffer.allocate(49 + clusterLen)
    out.put(Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte)) // EBML magic
    out.put(0x87.toByte)                                  // header size 7
    out.put(Array(0x42, 0x82, 0x84).map(_.toByte))        // DocType, size 4
    out.put("webm".getBytes("US-ASCII"))
    out.put(Array(0x18, 0x53, 0x80, 0x67).map(_.toByte))  // Segment
    out.put(Array(0x01, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff, 0xff)
      .map(_.toByte))                                     // unknown size
    out.put(Array(0x15, 0x49, 0xa9, 0x66).map(_.toByte))  // Info
    out.put(0x8f.toByte)                                  // size 15
    out.put(Array(0x2a, 0xd7, 0xb1, 0x84).map(_.toByte))  // TimestampScale
    out.putInt(tsNs.toInt)
    out.put(Array(0x44, 0x89, 0x84).map(_.toByte))        // Duration, f32
    out.putFloat(durTicks.toFloat)
    out.put(Array(0x1f, 0x43, 0xb6, 0x75).map(_.toByte))  // Cluster
    out.put((0x80 | clusterLen).toByte)
    (0 until clusterLen).foreach(_ => out.put(nx().toByte))
    out.array()
  }

  def rows: Seq[MediaRow] =
    (0L until 300L).map(i => MediaRow(i, "image", blob(i, "image"))) ++
      (1000L until 1050L).map(i => MediaRow(i, "video", blob(i, "video"))) ++
      // REAL MP4 containers, still kind=video: the frame-sample path
      // (q38) sees only byte length, so these flow through it
      // unchanged, while the metadata path (q129) resolves their real
      // moov/mvhd duration instead of the stub fallback
      (1100L until 1120L).map(i => MediaRow(i, "video", mp4Blob(i))) ++
      // REAL WebM/EBML containers, same contract as the MP4 band:
      // frame-sampling sees only byte length; the metadata path
      // resolves their real Info Duration × TimestampScale
      (1150L until 1170L).map(i => MediaRow(i, "video", webmBlob(i))) ++
      (2000L until 2100L).map(i => MediaRow(i, "audio", blob(i, "audio")))

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(graft.operators.Multimodal.MediaFixturePath)
    val spark = graft.Sessions.local()
    import spark.implicits._
    rows.toDF().coalesce(1).write.mode("overwrite").parquet(out)
    println(s"[gen-media-fixture] wrote ${rows.size} rows to $out")
    spark.stop()
  }
}
