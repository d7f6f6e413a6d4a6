package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.PortableHash
import graft.operators.{Multimodal, Similarity}

import QuerySupport._

/** Media queries over the committed parquet media fixture
  * (fixtures/media.parquet).
  */
object MultimodalQueries extends QueryFamily(Family.Multimodal) {

  // Multimodal pipeline over the committed parquet media fixture
  // (fixtures/media.parquet, written by graft.tools.GenMediaFixture): the
  // decode step is a documented stub (no codecs in this container), but
  // it is a pure function of the blob bytes, so the DuckDB oracle reads
  // the SAME parquet and recomputes header fields / byte-stream means /
  // frame counts via hex-string slicing — full hash check, not rows-only.
  // Means are emitted as floor(mean·1e6) BIGINT (both engines derive the
  // mean from identical integer sums → identical IEEE doubles).
  query("q36_media_decode", oracle = {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      def hexInt(pos: Int) = s"('0x'||substr(hx,$pos,8))::UBIGINT::BIGINT"
      def chanSum(rem: Int) =
        "CAST(list_sum(list_transform(list_filter(range(16, len), " +
          s"i -> i%3=$rem), i -> ('0x'||substr(hx,2*i+1,2))::UBIGINT::BIGINT)) AS BIGINT)"
      def meanE6(s0: String) =
        s"CAST(FLOOR((CAST($s0 AS DOUBLE)/np)*1000000.0) AS BIGINT)"
      s"""WITH m AS (SELECT media_id, hex(data) AS hx, octet_length(data) AS len
         |   FROM $media WHERE kind = 'image' AND media_id < 200),
         | hdr AS (SELECT media_id, hx, len,
         |   GREATEST(1, ${hexInt(1)} % 4096) AS width,
         |   GREATEST(1, ${hexInt(9)} % 4096) AS height,
         |   GREATEST(1, ${hexInt(17)} % 4 + 1) AS channels,
         |   GREATEST(1, (len-16)//3) AS np FROM m),
         | sums AS (SELECT media_id, width, height, channels, np,
         |   ${chanSum(0)} AS rs, ${chanSum(1)} AS gs, ${chanSum(2)} AS bs FROM hdr)
         |SELECT media_id, CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
         | CAST(channels AS BIGINT) AS channels,
         | ${meanE6("rs")} AS mean_r_e6, ${meanE6("gs")} AS mean_g_e6, ${meanE6("bs")} AS mean_b_e6
         |FROM sums ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Multimodal.decodeImages(Multimodal.mediaFixture(s).filter(col("media_id") < 200))
      .toDF()
      .select(
        col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        floor(col("mean_r") * lit(1000000.0)).cast("long").as("mean_r_e6"),
        floor(col("mean_g") * lit(1000000.0)).cast("long").as("mean_g_e6"),
        floor(col("mean_b") * lit(1000000.0)).cast("long").as("mean_b_e6"))
      .orderBy("media_id")
  }

  /** Media-embedding ANN, fully hash-checked: the portable embed derives
    * every component from md5 of the blob hex through the Carter–Wegman
    * affine family (one md5 per blob), so the oracle recomputes the SAME
    * integers from the SAME parquet bytes; ranking uses quantized integer
    * dots (the q51 pattern) and emits the exact `dot` alongside the id.
    */
  query("q37_media_embed_ann", oracle = {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      val ab = PortableHash.affineConstants(7L, 64)
      val al = ab.map(_._1).mkString("[", ",", "]")
      val bl = ab.map(_._2).mkString("[", ",", "]")
      s"""WITH consts AS (SELECT $al::BIGINT[] AS al, $bl::BIGINT[] AS bl),
         | m AS (SELECT media_id AS vec_id,
         |   ('0x'||substr(md5(lower(hex(data))),1,8))::UBIGINT::BIGINT AS h
         |   FROM $media WHERE kind = 'image'),
         | e AS (SELECT vec_id, list_transform(range(0,64),
         |   j -> ((h * al[j+1] + bl[j+1]) & ${PortableHash.Mask40}) % 2001 - 1000) AS q
         |   FROM m, consts),
         | n AS (SELECT vec_id, q,
         |   CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM e),
         | qv AS (SELECT q AS qvec, nrm AS qn FROM n WHERE vec_id = 0),
         | scored AS (SELECT vec_id,
         |   CAST(list_sum(list_transform(range(1,65), i -> q[i]*qvec[i])) AS BIGINT) AS dot,
         |   nrm, qn FROM n, qv WHERE vec_id <> 0)
         |SELECT vec_id, dot FROM scored
         |ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(nrm AS DOUBLE)*CAST(qn AS DOUBLE)) DESC, vec_id
         |LIMIT 10""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    val emb = Multimodal.embedMediaPortable(
      Multimodal.mediaFixture(s).filter(col("kind") === "image"))
    Similarity.bruteForceTopKPortable(emb, queryId = 0L, k = 10)
  }

  query("q38_frame_sample", oracle = {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      s"""SELECT media_id,
         | CAST((CAST(CEIL((octet_length(data)-16)/64.0) AS BIGINT) + 1)//2 AS BIGINT) AS n_frames
         |FROM $media WHERE kind = 'video' ORDER BY media_id"""
        .stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Multimodal.sampleFrames(Multimodal.mediaFixture(s), everyNth = 2)
      .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      .orderBy("media_id")
  }

  /** Audio metadata decode over the fixture's audio clips — the q36
    * pattern for the audio path: the stub codec is a pure byte function,
    * so the oracle recomputes sample rate (header int mod table),
    * integer-floor duration, and the RMS (exact integer sum of squared
    * centered bytes → one sqrt of identical doubles) via hex slicing.
    */
  query("q58_audio_meta", oracle = {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      val byteAt = "('0x'||substr(hx,2*i+1,2))::UBIGINT::BIGINT"
      s"""WITH m AS (SELECT media_id, hex(data) AS hx, octet_length(data) AS len
         |   FROM $media WHERE kind = 'audio'),
         | hdr AS (SELECT media_id, hx, len,
         |   ([8000,16000,22050,44100])[((('0x'||substr(hx,1,8))::UBIGINT::BIGINT % 4) + 1)] AS sr,
         |   GREATEST(1, len-16) AS np FROM m),
         | acc AS (SELECT media_id, sr, len, np,
         |   CAST(list_sum(list_transform(range(16, len),
         |     i -> ($byteAt - 128) * ($byteAt - 128))) AS BIGINT) AS ss FROM hdr)
         |SELECT media_id, CAST(sr AS BIGINT) AS sample_rate,
         | CAST(GREATEST(1, (len-16)*1000 // sr) AS BIGINT) AS duration_ms,
         | CAST(FLOOR(sqrt(CAST(ss AS DOUBLE)/CAST(np AS DOUBLE))*1000000.0) AS BIGINT) AS rms_e6
         |FROM acc ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Multimodal.decodeAudioAuto(Multimodal.mediaFixture(s))
      .toDF()
      .select(
        col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("duration_ms"),
        floor(col("rms") * lit(1000000.0)).cast("long").as("rms_e6"))
      .orderBy("media_id")
  }

  /** Video-container metadata with real-codec preference: the fixture's
    * video rows mix REAL MP4 prologues (ids 1100-1119, half mvhd v0 /
    * half v1) and REAL WebM/EBML prologues (ids 1150-1169,
    * unknown-size Segment) with stub blobs; [[graft.operators
    * .Multimodal.decodeVideoAuto]] resolves the real rows'
    * `moov/mvhd` duration+timescale via the general ISO-BMFF box walk
    * or `Info/Duration` × `TimestampScale` via the general EBML walk,
    * and falls back to the deterministic 30 fps stub for the rest.
    * The oracle re-derives both containers' fields by slicing the
    * generator's fixed layout offsets from the same bytes — the
    * library must land on the identical fields by actually walking
    * the boxes/elements.
    */
  query("q129_video_meta", oracle = {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      def be(off: Int, hexLen: Int) =
        s"('0x'||substr(hx,${2 * off + 1},$hexLen))::UBIGINT::BIGINT"
      // generator layout (GenMediaFixture.mp4Blob): ftyp 0-19, moov
      // header 20-27, mvhd header 28-35, mvhd payload from 36 —
      // version byte 36; v0 timescale@48 duration32@52; v1
      // timescale@56 duration64@60. 'ftyp' at bytes 4-7 = hex
      // '66747970' classifies (stub blob bytes 4-7 are a small BE
      // height, never the ftyp magic).
      // WebM band (GenMediaFixture.webmBlob): EBML magic '1A45DFA3' at
      // byte 0, TimestampScale uint32 at 33, Duration float32 at 40 —
      // the float's tick count sits in [2²³, 2²⁴) by construction, so
      // the integer is (bits & 0x7FFFFF) + 2²³: one mask+add instead
      // of a float reinterpret DuckDB doesn't have.
      s"""WITH m AS (SELECT media_id, hex(data) AS hx, octet_length(data) AS len
         |   FROM $media WHERE kind = 'video'),
         | cls AS (SELECT media_id, hx, len,
         |   substr(hx, 9, 8) = '66747970' AS is_mp4,
         |   substr(hx, 1, 8) = '1A45DFA3' AS is_webm FROM m),
         | mp4 AS (SELECT media_id,
         |   CASE WHEN ${be(36, 2)} = 1 THEN ${be(56, 8)} ELSE ${be(48, 8)} END AS ts,
         |   CASE WHEN ${be(36, 2)} = 1 THEN ${be(60, 16)} ELSE ${be(52, 8)} END AS dur
         |   FROM cls WHERE is_mp4),
         | webm AS (SELECT media_id, ${be(33, 8)} AS tsns,
         |   (${be(40, 8)} & 8388607) + 8388608 AS ticks
         |   FROM cls WHERE is_webm),
         | stub AS (SELECT media_id,
         |   GREATEST(1, CAST(CEIL((len-16)/64.0) AS BIGINT)) AS n
         |   FROM cls WHERE NOT is_mp4 AND NOT is_webm)
         |SELECT media_id, dur*1000//ts AS duration_ms, ts AS timescale,
         | CAST(1 AS BIGINT) AS is_real FROM mp4
         |UNION ALL
         |SELECT media_id, ticks*tsns//1000000 AS duration_ms,
         | 1000000000//tsns AS timescale, CAST(1 AS BIGINT) AS is_real FROM webm
         |UNION ALL
         |SELECT media_id, n*1000//30 AS duration_ms,
         | CAST(30 AS BIGINT) AS timescale, CAST(0 AS BIGINT) AS is_real FROM stub
         |ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Multimodal.decodeVideoAuto(Multimodal.mediaFixture(s))
      .toDF()
      .select(col("media_id"), col("duration_ms"), col("timescale"),
        col("real").cast("long").as("is_real"))
      .orderBy("media_id")
  }
}
