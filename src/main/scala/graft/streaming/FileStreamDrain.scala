package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.max
import org.apache.spark.sql.streaming.OutputMode

/** Shared harness for holding streaming operators to batch oracles: run
  * a streaming pipeline over a STATIC frame by staging it as a
  * file-stream source and draining the output through a memory sink.
  *
  * The result is `localCheckpoint`ed before the memory-sink view and
  * scratch files are dropped, so callers get a self-contained DataFrame
  * with no leaked temp views, queries, or directories — safe to call
  * repeatedly in one session (unique sink names).
  */
private[graft] object FileStreamDrain {

  // phase timing for harness-cost work (SPARK_GRAFT_DRAIN_TIMING=1):
  // the drains are pure fixed cost at bench scale, so knowing WHICH
  // phase (stage write / stream start / batch 2 / collect) pays is the
  // difference between tuning and guessing
  private val timing = sys.env.get("SPARK_GRAFT_DRAIN_TIMING").contains("1")
  private[streaming] def phase[A](name: String)(body: => A): A =
    if (!timing) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(
        f"[drain-timing] $name%-14s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

  /** Build a `secondBatch` closure for [[drain]] that closes every real
    * window/session in Append mode: read the staged frame's max event
    * time under `timeExpr` and emit ONE far-future heartbeat row built
    * by `mk(spark, maxTime)`. The scalar rides the stage write itself:
    * [[drain]] attaches an `observe(max(timeExpr))` to the staged
    * frame, so the max is collected by the SAME job that writes batch 0
    * — the dedicated `agg(max).head()` scan this closure used to run
    * (one extra job per drain) is gone. That one observed long is the
    * single sanctioned driver-side scalar in the streaming harnesses,
    * read from the STATIC batch frame (never the stream) — centralized
    * so call sites don't hand-roll driver reads.
    */
  def watermarkCloser(timeExpr: Column)(
      mk: (SparkSession, Long) => DataFrame): WatermarkClose =
    WatermarkClose(timeExpr, mk)

  /** The [[watermarkCloser]] spec [[drain]] folds into its stage write:
    * observe `max(timeExpr)` while writing batch 0, then stage
    * `mk(spark, observedMax)` as the heartbeat batch.
    */
  final case class WatermarkClose(
      timeExpr: Column, mk: (SparkSession, Long) => DataFrame)

  /** @param staged      the static input frame (written once as batch 0)
    * @param pipeline    streaming transform under test
    * @param secondBatch optional heartbeat batch appended as batch 1 (a
    *                    watermark-advancing sentinel built from the
    *                    staged frame's observed max event time)
    * @param finalNoDataBatch whether the pipeline needs the final
    *                    NO-DATA micro-batch (the one that runs after
    *                    the last data batch advanced the watermark —
    *                    where Append-mode aggregates/sessions EMIT
    *                    their watermark-closed results). Pipelines
    *                    that emit on ARRIVAL (inner stream-stream
    *                    joins, dropDuplicatesWithinWatermark — the
    *                    watermark only bounds state) pass `false`:
    *                    the batch would commit every state store once
    *                    more and emit nothing. The oracle parity gate
    *                    holds either way, so a wrong `false` here
    *                    fails the row compare, not silently.
    */
  def drain(
      staged: DataFrame,
      pipeline: DataFrame => DataFrame,
      secondBatch: Option[WatermarkClose] = None,
      finalNoDataBatch: Boolean = true): DataFrame = {
    val spark = staged.sparkSession
    // tmpfs when available: the drain's staging files, offset/commit
    // logs and state-store deltas are all throwaway scratch whose
    // fsyncs otherwise dominate the harness's fixed cost on disk.
    // Capacity-guarded: a default Docker /dev/shm is 64 MB — writable
    // but too small for a staged table — so require real headroom
    // before preferring it over java.io.tmpdir.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (java.nio.file.Files.isWritable(shm) &&
          shm.toFile.getUsableSpace > (4L << 30))
        java.nio.file.Files.createTempDirectory(shm, "graft_stream_drain")
      else java.nio.file.Files.createTempDirectory("graft_stream_drain")
    // four files per batch: the scan of batch 0 parallelizes across
    // them (1 file left the 100k-row scan single-task — measured 10-20%
    // on the triad), while dozens would pay per-file stream-source
    // overhead (measured +2s at 32 files)
    // the heartbeat's max-event-time scalar rides the stage write as an
    // observed metric — one job writes batch 0 AND yields the max, where
    // the closure form paid a second full scan (agg(max).head()) per drain
    val obs = secondBatch.map(_ => new org.apache.spark.sql.Observation())
    val toWrite = (obs, secondBatch) match {
      case (Some(o), Some(wc)) => staged.observe(o, max(wc.timeExpr).as("maxt"))
      case _                   => staged
    }
    phase("stage-write") { toWrite.coalesce(4).write.parquet(s"$dir/b0.parquet") }
    // the staged frame's own schema IS the written schema (we wrote it
    // one line up) — re-reading the footer would cost a listing + job
    val schema = staged.schema
    // BOTH batches are staged before the stream starts (secondBatch is
    // a function of the STATIC frame, never of stream output), so the
    // whole drain runs as one Trigger.AvailableNow pass: no
    // processAllAvailable round-trips, and one fewer no-data
    // micro-batch (the watermark-advance batch between b0 and b1 —
    // each empty batch still costs a full state-store-commit job).
    // Batch boundaries are preserved exactly: maxFilesPerTrigger =
    // |b0 files| and a forced mtime gap make batch 0 = b0, batch 1 =
    // b1 (the file source admits oldest-mtime files first).
    val b0Files = new java.io.File(s"$dir/b0.parquet").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    b0Files.foreach(f => f.setLastModified(f.lastModified() - 120000L))
    val hasSecond = phase("batch1-write") {
      (obs, secondBatch) match {
        case (Some(o), Some(wc)) =>
          val maxAny = o.get("maxt")
          require(maxAny != null,
            "watermarkCloser: staged frame is empty (max event time is " +
              "null) — an empty drain has no watermark to close")
          wc.mk(spark, maxAny.asInstanceOf[Long])
            .coalesce(1).write.parquet(s"$dir/b1.parquet")
          true
        case _ => false
      }
    }
    val name = "graft_stream_drain_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // The drain runs with few shuffle partitions: each stateful
    // operator commits one state store per shuffle partition per
    // micro-batch (delta file + fsync); at the session default 32 that
    // fixed cost dominates these seconds-long parity drains. Results
    // are partition-count-invariant (the oracle compare proves it),
    // and the production entry points (closedSessions, windowedStats,
    // startAlertTableSink on a real stream) inherit the session's own
    // parallelism. The reduced conf lives on a CLONED session (same
    // SparkContext, isolated SQLConf/catalog), so queries planned
    // concurrently on the caller's session never race on it.
    //
    // An eighth of the cores, floor 4: enough tasks that a million-row
    // batch still parallelizes, few enough that state-store commit
    // overhead stays off the floor for the common small drains. Every
    // stateful operator commits one store per shuffle partition per
    // micro-batch, so the tail (1-row / no-data) batches cost ∝ this
    // number: the r20 cores/4 default (8 at 32 cores) vs 4 measured
    // q72 −24 % / q64 −11 % / q105 −10 % on matched calibration
    // (OPTIMIZATION_r21.md; 2 partitions re-lost it on the 100k-row
    // batch-0 scan). Still scale-adaptive for bigger sessions; the
    // driver's 8-core bench point is unchanged (max(4, 8/8) =
    // max(4, 8/4) = 4).
    //
    // Emission-on-arrival pipelines skip the final no-data micro-batch
    // (state eviction only — one more full state-store commit round
    // that can emit nothing); see the finalNoDataBatch param doc.
    val drainSession = graft.Sessions.child(spark,
      Seq("spark.sql.shuffle.partitions" ->
        math.max(4, spark.sparkContext.defaultParallelism / 8).toString) ++
      Option.when(!finalNoDataBatch)(
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"): _*)
    val q = phase("start") {
      pipeline(drainSession.readStream.schema(schema)
          .option("maxFilesPerTrigger", math.max(b0Files.length, 1).toString)
          .parquet(s"$dir/*.parquet"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$dir/_ckpt")
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    try {
      // AvailableNow self-terminates after draining both staged batches
      // plus the final watermark no-data batch (the one that emits
      // timeout-closed sessions / watermark-closed windows)
      phase("drain") { q.awaitTermination() }
      require(!hasSecond || q.recentProgress.exists(_.batchId >= 1),
        "drain ran a single micro-batch for a two-batch fixture — " +
          "cross-batch semantics were not exercised")
      // localCheckpoint materializes the rows, so the returned frame is
      // self-contained and safe to use from the caller's session even
      // though it was planned on the drain clone
      if (timing) q.recentProgress.foreach(p =>
        System.err.println(s"[drain-timing] batch ${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}"))
      phase("collect") { drainSession.table(name).localCheckpoint(true) }
    } finally {
      q.stop()
      drainSession.catalog.dropTempView(name)
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      ()
    }
  }
}
