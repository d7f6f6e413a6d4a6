package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity

import QuerySupport._

/** Queries that run a real Structured Streaming query: each drains
  * EAGERLY inside `build` (stage parquet, run the stream, return a
  * checkpointed frame), and most share the oracle of their batch twin
  * (stream ≡ batch).
  */
object StreamingQueries extends QueryFamily(Family.Streaming) {

  /** Structured Streaming sessionization held to the SAME DuckDB oracle
    * as batch q49: the real `flatMapGroupsWithState` pipeline
    * ([[graft.streaming.SessionStream]]) drains the events table as a
    * file stream (close-by-proof in batch 1, close-by-watermark-timeout
    * via a sentinel heartbeat in batch 2), so the oracle gate proves
    * stream/batch parity on every session, not just the spec corpus.
    * µs truncation as in q49 (`ts div 1000` / epoch_us).
    */
  // q49's session semantics without the session_id column (the
  // streaming operator emits sessions, not per-user ordinals); the
  // (user_id, session_start) pair is a total order because a user's
  // sessions cannot overlap
  query("q64_sessions_stream", oracle =
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn FROM events),
        | s AS (SELECT user_id, event_id, tn,
        |   CASE WHEN LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) IS NULL
        |     OR tn - LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) > 1800000000
        |     THEN 1 ELSE 0 END AS is_new FROM e),
        | x AS (SELECT user_id, tn,
        |   SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |   FROM s)
        |SELECT user_id, COUNT(*) AS n_events,
        | MIN(tn) AS session_start, MAX(tn) AS session_end, MAX(tn)-MIN(tn) AS duration_us
        |FROM x GROUP BY user_id, sid ORDER BY user_id, session_start"""
      .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.streaming.SessionStream.drainClosedSessions(
        t(s, d, "events").select(col("user_id"), col("event_id"),
          timestamp_micros(expr("ts div 1000")).as("event_time")))
      .select(col("user_id"), col("n_events"), col("session_start"),
        col("session_end"), col("duration_us"))
      .orderBy("user_id", "session_start")
  }

  /** Streaming exact dedup held to a batch oracle: the real
    * `dropDuplicatesWithinWatermark` pipeline drains the documents
    * table as a file stream ([[graft.streaming.StreamingDedup
    * .drainDedup]]); the emitted fingerprint SET is the deterministic
    * contract (which copy survives is arrival order), and it must equal
    * DuckDB's DISTINCT md5 over the same corpus.
    */
  // the streamed first-seen-wins dedup must emit exactly the distinct
  // fingerprint set (raw md5 — StreamingDedup's identity, not the
  // canonical-form fingerprint)
  query("q71_dedup_stream", oracle =
      """SELECT DISTINCT md5(text) AS fingerprint FROM documents
        |ORDER BY fingerprint""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.streaming.StreamingDedup.drainDedup(
        t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            // +1 day: an event time EQUAL to the initial watermark (epoch
            // 0) is judged late and silently dropped — doc 0 vanished
            timestamp_seconds(col("doc_id") + 86400L).as("event_time")),
        eventTimeCol = "event_time", horizon = "10 hours")
      .select(col("fingerprint"))
      .orderBy("fingerprint")
  }

  /** Streaming sliding-window aggregation held to a batch oracle: the
    * real watermark + `window()` pipeline
    * ([[graft.streaming.MonitorStream.windowedStats]]) drains the
    * events table; a far-future heartbeat advances the watermark so
    * every real window closes and emits. Values are pre-converted to
    * integer cents (the money idiom) and window bounds emitted as epoch
    * µs, so counts/sums/mins/maxes hash-match DuckDB's explicit
    * two-windows-per-event expansion. Completes the streaming triad:
    * custom state (q64), built-in dedup state (q71), windowed aggs
    * (q72).
    */
  // each event belongs to exactly two 1h/30min sliding windows:
  // the slide-aligned start at or before it, and the previous one
  query("q72_windows_stream", oracle = {
      val slideUs = 1800000000L; val winUs = 3600000000L
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS tu, ${centsSql("value")} AS c FROM events),
         | w AS (SELECT event_type, tu, c,
         |   unnest([(tu // $slideUs) * $slideUs, (tu // $slideUs) * $slideUs - $slideUs]) AS ws
         |   FROM e),
         | k AS (SELECT * FROM w WHERE tu >= ws AND tu < ws + $winUs)
         |SELECT ws AS window_start, ws + $winUs AS window_end, event_type,
         | COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS total,
         | MIN(c) AS min_v, MAX(c) AS max_v
         |FROM k GROUP BY ws, event_type ORDER BY window_start, event_type"""
        .stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    val staged = t(s, d, "events")
      .select(col("event_type"), col("ts"), cents(col("value")).as("value"))
    val drained = graft.streaming.FileStreamDrain.drain(
      staged,
      graft.streaming.MonitorStream.windowedStats(_),
      secondBatch = Some(graft.streaming.FileStreamDrain.watermarkCloser(col("ts")) {
        (ss, maxTs) =>
          ss.range(1).select(
            lit("_hb").as("event_type"),
            lit(maxTs + 30L * 86400L * 1000000000L).as("ts"),
            lit(0L).as("value"))
      }))
    drained
      .filter(col("event_type") =!= "_hb")
      .select(
        unix_micros(col("window.start")).as("window_start"),
        unix_micros(col("window.end")).as("window_end"),
        col("event_type"), col("n"), col("total"),
        col("min_v"), col("max_v"))
      .orderBy("window_start", "event_type")
  }

  /** STREAMING incremental view maintenance
    * ([[graft.streaming.IncrementalSink.drainFolded]]): the q86 CDC
    * delta flows through a REAL foreachBatch stream in two micro-batches
    * (base rows, then inserts+retractions), each folded into the state
    * with [[graft.operators.Incremental.maintainSumCount]] and
    * checkpointed — the lakehouse streaming-upsert serving pattern.
    * Batch associativity (IncrementalSpec) makes the final state
    * boundary-independent, so the SAME batch oracle as q86 checks it.
    */
  // the streaming fold over real micro-batches must land on the same
  // state as q86's one-shot maintenance — identical oracle
  query("q87_incr_stream", oracle =
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS sum_c
         |FROM events
         |WHERE event_id % 5 = 0 OR event_id % 7 <> 0
         |GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val ev = t(s, d, "events")
      .select(col("event_id"), col("event_type"), cents(col("value")).as("val_c"))
    val base = ev.filter(col("event_id") % 5 =!= 0)
    val b0 = base.withColumn("sign", lit(1L))
    val b1 = ev.filter(col("event_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(base.filter(col("event_id") % 7 === 0).withColumn("sign", lit(-1L)))
    val cols = Seq(col("event_type"), col("val_c"), col("sign"))
    val zero = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_c",
          org.apache.spark.sql.types.LongType))))
    graft.streaming.IncrementalSink.drainFolded(
        Seq(b0.select(cols: _*), b1.select(cols: _*)), zero,
        (acc, b) => graft.operators.Incremental.maintainSumCount(
          acc, b, Seq("event_type"), "val_c", "sign"))
      .orderBy("event_type")
  }

  /** STREAMING index maintenance — the q87 foreachBatch fold applied
    * to the q95 index algebra: the corpus arrives as a REAL
    * three-micro-batch document stream (two base waves, then
    * inserts + whole-document retractions), each batch tokenized and
    * folded into the tf index with
    * [[graft.operators.Search.maintainTfIndex]] from an EMPTY state.
    * Batch associativity of the underlying (count, sum) algebra makes
    * the final index boundary-independent, so the q95 rebuild oracle
    * checks it row-for-row — the "search index that is never rebuilt,
    * only maintained" serving pattern.
    */
  // the q95 rebuild oracle verbatim: the streamed fold-from-empty must
  // land on the same tf index as a batch rebuild of the effective set
  query("q98_stream_index", session = bucketPruning, oracle =
      """WITH eff AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id % 5 = 0 OR doc_id % 7 <> 0),
        | toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM eff)
        |SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf_t FROM toks
        |WHERE tok <> '' GROUP BY doc_id, tok
        |ORDER BY doc_id, tok""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val b0 = base.filter(col("doc_id") % 2 === 0).withColumn("sign", lit(1L))
    val b1 = base.filter(col("doc_id") % 2 =!= 0).withColumn("sign", lit(1L))
    val b2 = docs.filter(col("doc_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(
        base.filter(col("doc_id") % 7 === 0).withColumn("sign", lit(-1L)))
    val zero = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tf_t",
          org.apache.spark.sql.types.LongType))))
    graft.streaming.IncrementalSink.drainFolded(Seq(b0, b1, b2), zero,
        (acc, b) => graft.operators.Search.maintainTfIndex(acc, b))
      .orderBy("doc_id", "tok")
  }

  /** Stream-stream interval join — the one Structured Streaming
    * operator class the q64/q71/q72/q87/q98 drains didn't cover: each
    * purchase joined to the same user's clicks in the preceding hour,
    * BOTH sides real watermarked streams (a self-join of the drained
    * file stream, the supported stream-stream inner-join shape). The
    * time-range predicate plus the two watermarks is exactly what lets
    * Spark bound join state at 100 TB (each side keeps ~1 h + slack of
    * rows per user instead of the whole stream); in the drain, batch 0
    * carries everything so the inner join emits every pair eagerly and
    * the DuckDB oracle is the plain interval join. µs truncation as in
    * q49/q64.
    */
  // the plain interval join the watermarked stream-stream join must
  // reproduce; µs arithmetic mirrors the Spark side's div-1000
  query("q105_stream_join", oracle =
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |ORDER BY p_id, c_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    val staged = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("event_time"))
    graft.streaming.FileStreamDrain.drain(
        staged,
        ss => {
          val p = ss.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("event_time").as("p_time"))
            .withWatermark("p_time", "1 hour")
          val c = ss.filter(col("event_type") === "click")
            .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("event_time").as("c_time"))
            .withWatermark("c_time", "1 hour")
          p.join(c, col("p_user") === col("c_user") &&
            col("c_time") >= col("p_time") - expr("INTERVAL 1 HOUR") &&
            col("c_time") <= col("p_time"))
        },
        // inner stream-stream join: every match emits in the batch its
        // rows arrive (both sides land in batch 0); the watermark only
        // bounds join state, so the final no-data batch would re-commit
        // all stores to emit nothing — skip it (oracle-gated)
        finalNoDataBatch = false)
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
      .orderBy("p_id", "c_id")
  }

  /** q106's semantics through a REAL Structured Streaming query
    * ([[graft.streaming.StreamingNearDup]]): the batch arrives as a
    * file stream, candidates come from a stream-static join against
    * the persisted band index, pair dedup is watermark-bounded state,
    * verification a second stream-static join. Same oracle as q106 —
    * the gate proves stream ≡ batch for ingestion dedup (the
    * q49/q64 sessionization contract applied to near-dup ingest).
    */
  // stream ≡ batch: the drained streaming ingestion (q108) must emit
  // exactly the batch operator's pair set
  query("q108_neardup_stream", layouts = Seq(Layouts.q106Index),
    oracle = DedupQueries.incrNearDupOracleSql) { (s, d) =>
    Layouts.q106Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"),
        // +1 day: event time equal to the initial watermark (epoch 0)
        // would be judged late and dropped (the q71 lesson)
        timestamp_seconds(col("doc_id") + 86400L).as("event_time"))
    graft.streaming.StreamingNearDup.drainNearDups(
        batch, "graft_q106_bands", "graft_q106_sigs")
      .orderBy("new_doc", "dup_of")
  }

  /** STREAMING ANN serving ([[graft.streaming.AnnServeStream]]): the
    * q107 query batch arriving as TWO micro-batches of a real
    * foreachBatch stream, each answered by its own distributed ranking
    * + pruned cells scan, answers accrued append-only. Queries are
    * independent rows, so the accrued set is row-identical to the
    * one-shot batch — the SAME oracle as q107 gates stream ≡ batch for
    * serving (the q106/q108 ingestion symmetry, serving side).
    */
  // stream ≡ batch for SERVING: micro-batched answers must equal the
  // one-shot batch (queries are independent rows) — q107's oracle
  // verbatim
  query("q110_ann_stream", layouts = Seq(Layouts.ivfCorpus),
    oracle = AnnQueries.q107OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val (path, _) = Layouts.ivfCorpus(s, d)
    def qb(lo: Long, hi: Long) =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("query_id"), col("embedding").as("emb"))
    graft.streaming.AnnServeStream.drainServe(
        Seq(qb(0, 3), qb(3, 5)), path, k = 5, nProbe = 4)
      .orderBy("query_id", "rk")
  }

  /** q111's semantics through a REAL Structured Streaming query
    * ([[graft.streaming.AnnIngestStream]]): the new-vector batch
    * arrives as TWO micro-batches of a foreachBatch stream, each folded
    * into the standing IVF layout keyed on the stream's real batchId
    * (at-least-once delivery → exactly-once index effect via the fold
    * ledger). Assignments are independent rows, so the folded index is
    * identical to the one-shot fold — the SAME oracle as q111 gates
    * stream ≡ batch for index maintenance (the q106/q108 symmetry,
    * serving-index side).
    */
  // stream ≡ batch for index MAINTENANCE: micro-batched folds must
  // yield the identical index (assignments are independent rows) —
  // q111's oracle verbatim
  query("q112_ivf_ingest_stream", oracle = AnnQueries.q111OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q112")
    val newVecs   = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    graft.streaming.AnnIngestStream.drainIngest(
      Seq(newVecs.filter(col("vec_id") % 20 === 0),
          newVecs.filter(col("vec_id") % 20 =!= 0)),
      path, tagPrefix = s"$d#q112")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** q120's semantics through a REAL Structured Streaming query: the
    * new-vector batch arrives as TWO micro-batches of a foreachBatch
    * stream, each PQ-encoded against the STANDING codebooks and folded
    * into the compressed index ([[graft.streaming.AnnIngestStream
    * .drainIngestPq]]); held to q120's oracle VERBATIM — code
    * assignments are independent rows, so micro-batch boundaries are
    * invisible in the final index.
    */
  // stream ≡ batch for compressed-index maintenance — q120's oracle
  // verbatim (code assignments are independent rows)
  query("q121_ivfpq_stream", layouts = Seq(Layouts.q121IvfPq),
    oracle = AnnQueries.q120OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q121IvfPq(s, d)
    val newVecs   = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    graft.streaming.AnnIngestStream.drainIngestPq(
      Seq(newVecs.filter(col("vec_id") % 20 === 0),
          newVecs.filter(col("vec_id") % 20 =!= 0)),
      path, tagPrefix = s"$d#q121")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** q126's semantics through a REAL Structured Streaming query
    * ([[graft.streaming.AnnIngestStream.drainDeletes]]): the takedown
    * id set arrives as TWO micro-batches of a foreachBatch stream,
    * each appending tombstones under a delTag keyed on the stream's
    * real batchId. Tombstones are order-independent duplicate-safe
    * rows, so the live view is identical to the one-shot delete — the
    * SAME oracle as q126 gates stream ≡ batch for index deletion (the
    * q111/q112 symmetry, takedown side). Shares q126's layout: both
    * queries drive it to the same final state (the fold tag and the
    * deleted id set coincide; duplicate tombstones are harmless), so
    * either order, any interleave, and any replay converge.
    */
  query("q128_delete_stream", layouts = Seq(Layouts.q126Ivf),
    oracle = AnnQueries.q126OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q126Ivf(s, d)
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#db0")
    val del = emb.filter(col("vec_id") % 20 === 10).select("vec_id")
    graft.streaming.AnnIngestStream.drainDeletes(
      Seq(del.filter(col("vec_id") % 40 === 10),
          del.filter(col("vec_id") % 40 =!= 10)),
      path, tagPrefix = s"$d#q128")
    Similarity.ivfCellStats(s, path)
  }
}
