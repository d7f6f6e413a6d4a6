package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming materialized-view maintenance — the foreachBatch fold:
  * drive a CDC stream through a real Structured Streaming query whose
  * sink FOLDS each micro-batch into an accumulated state table (e.g.
  * [[graft.operators.Incremental.maintainSumCount]]), the lakehouse
  * "streaming upsert into a serving aggregate" pattern. The state is
  * checkpointed after every batch ([[graft.util.Checkpoints.stage]]),
  * so the plan stays O(1) deep no matter how many batches flow — the
  * property that keeps a long-running maintenance stream from growing
  * an unbounded lineage. Pass `checkpointDir` (or set
  * `spark.graft.checkpointDir`) to keep that state on reliable storage
  * so it survives executor loss; the default `localCheckpoint` is for
  * local runs only.
  *
  * Parity harness shape (the [[FileStreamDrain]] contract): the input
  * batches stage as one parquet file each and `maxFilesPerTrigger=1`
  * makes every file a REAL micro-batch, so cross-batch folding is
  * exercised by an actual streaming query, not simulated. The fold
  * must be batch-associative (the IncrementalSpec property) — the
  * final state is then independent of micro-batch boundaries and a
  * batch oracle can check it.
  */
private[graft] object IncrementalSink {

  /** Drain `batches` (written as one file each → one micro-batch each)
    * through a foreachBatch stream, folding into `zero`. Returns the
    * final state, checkpointed and self-contained.
    */
  def drainFolded(
      batches: Seq[DataFrame],
      zero: DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame,
      checkpointDir: Option[String] = None): DataFrame = {
    require(batches.nonEmpty, "at least one input batch required")
    val spark = batches.head.sparkSession
    val ckptDir = checkpointDir.orElse(graft.util.Checkpoints.configured(spark))
    drainFoldedImpl(batches, zero, fold, ckptDir)
  }

  /** Drain `batches` through a foreachBatch stream whose sink is a
    * SIDE EFFECT (an index fold, an external append) rather than a
    * folded accumulator. The sink receives Structured Streaming's REAL
    * `batchId` — the stable identity a retried micro-batch keeps — so
    * an idempotence ledger keyed on it (the
    * [[graft.operators.Similarity.foldIntoIvfIndex]] /
    * [[graft.operators.Dedup.foldIntoMinhashBandIndex]] batch-tag
    * contract) turns foreachBatch's at-least-once delivery into an
    * exactly-once effect.
    */
  def drainEach(
      batches: Seq[DataFrame],
      sink: (DataFrame, Long) => Unit): Unit = {
    require(batches.nonEmpty, "at least one input batch required")
    drive(batches) { (batch, id) => sink(batch, id) }
  }

  private def drainFoldedImpl(
      batches: Seq[DataFrame],
      zero: DataFrame,
      fold: (DataFrame, DataFrame) => DataFrame,
      ckptDir: Option[String]): DataFrame = {
    // AtomicReference, not a var: the fold runs on the stream-execution
    // thread and the result is read on the caller's thread — the
    // progress lock inside processAllAvailable happens to order the
    // two, but the atomic makes the cross-thread handoff explicit
    val acc = new java.util.concurrent.atomic.AtomicReference(
      graft.util.Checkpoints.stage(zero, ckptDir))
    drive(batches) { (batch, _) =>
      // eager checkpoint: materialize the fold NOW, cut the lineage
      acc.set(graft.util.Checkpoints.stage(fold(acc.get(), batch), ckptDir))
    }
    acc.get()
  }

  /** The shared harness: stage each input frame as one parquet file,
    * run a real AvailableNow foreachBatch stream with
    * `maxFilesPerTrigger=1` (one file → one REAL micro-batch), hand
    * each (micro-batch, batchId) to `sink`, clean up the staging dir.
    */
  private def drive(
      batches: Seq[DataFrame])(sink: (DataFrame, Long) => Unit): Unit = {
    val spark = batches.head.sparkSession
    val shm = java.nio.file.Paths.get("/dev/shm")
    val dir =
      if (java.nio.file.Files.isWritable(shm) &&
          shm.toFile.getUsableSpace > (4L << 30))
        java.nio.file.Files.createTempDirectory(shm, "graft_incr_sink")
      else java.nio.file.Files.createTempDirectory("graft_incr_sink")
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$dir/b$i.parquet")
    }
    // cores/4 here, unlike FileStreamDrain's cores/8: this harness has
    // NO state stores (the sink is driver-managed), so there is no
    // per-partition commit tax to shave — the per-batch cost is the
    // fold's real aggregation work, which wants the parallelism. The
    // cores/8 A/B (r21) confirmed the split: q87's aggregation fold
    // lost 20 % while the probe-style drains moved ≤7 %. The child
    // keeps the caller's runtime graft settings, so a fold or delete
    // in the sink runs under the caller's maintenance policy.
    val drainSession = graft.Sessions.child(spark, "spark.sql.shuffle.partitions" ->
      math.max(4, spark.sparkContext.defaultParallelism / 4).toString)
    val q = drainSession.readStream
      .schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/*.parquet")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(batch, id)
        ()
      }
      .option("checkpointLocation", s"$dir/_ckpt")
      // all batch files exist before start, so AvailableNow drains
      // file-per-batch and self-terminates — no processAllAvailable
      // round-trip (no watermark here, so no no-data batches to skip)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
    } finally {
      q.stop()
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
      ()
    }
  }
}
