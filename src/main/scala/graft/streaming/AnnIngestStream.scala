package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** STREAMING vector ingestion — the online form of
  * [[Similarity.foldIntoIvfIndex]]: new embedding vectors arrive as
  * micro-batches of a real Structured Streaming query, and every
  * micro-batch is folded into the standing IVF layout (assigned to the
  * STANDING centroids in one broadcast pass, appended as O(batch) cell
  * files). The q106→q108 ingestion symmetry applied to the serving
  * index: q111 proves the batch fold, q112 proves the SAME index comes
  * out when the batch boundary is a stream's micro-batch boundary.
  *
  * Scale shape (an index tier fed by an embedding stream):
  *  - per micro-batch cost is the q111 contract — |batch|·C broadcast
  *    assignment map work plus an O(batch) append; the corpus cells
  *    are never re-read, and nothing about the standing index rides a
  *    shuffle;
  *  - vector assignments are INDEPENDENT rows (each depends only on
  *    the immutable centroid table), so micro-batch boundaries are
  *    invisible in the final index — fold(b1); fold(b2) ≡
  *    fold(b1 ∪ b2), which is what lets the q111 DuckDB oracle hold
  *    verbatim;
  *  - no streaming state: idempotence lives in the layout's fold
  *    ledger, keyed on Structured Streaming's REAL `batchId` (stable
  *    across micro-batch retries), turning foreachBatch's
  *    at-least-once delivery into an exactly-once index effect —
  *    the production semantics a restart-safe ingestion tier needs.
  */
object AnnIngestStream {

  /** Drain `vecBatches` (each `(vec_id LONG, embedding ARRAY<FLOAT>)`;
    * one micro-batch each) into the staged layout at `path` through a
    * real foreachBatch stream. Fold tags are `s"$tagPrefix#mb$batchId"`
    * — replaying the stream (or a retried micro-batch) no-ops through
    * the layout's persisted fold ledger.
    */
  def drainIngest(
      vecBatches: Seq[DataFrame],
      path: String,
      tagPrefix: String): Unit = {
    require(!tagPrefix.contains("#mb"),
      s"tagPrefix must not contain the batch-tag separator '#mb': '$tagPrefix'")
    IncrementalSink.drainEach(vecBatches, (batch, id) =>
      Similarity.foldIntoIvfIndex(batch, path, batchTag = s"$tagPrefix#mb$id"))
  }

  /** [[drainIngest]] for the COMPRESSED serving index: each micro-batch
    * is PQ-encoded against the layout's standing codebooks and folded
    * via [[Similarity.foldIntoIvfPqIndex]]. Same exactly-once contract
    * (fold ledger keyed on the real `batchId`); per micro-batch the
    * append is |batch| CODE rows — the ingestion tier writes ~2 bytes
    * per vector at the defaults.
    */
  def drainIngestPq(
      vecBatches: Seq[DataFrame],
      path: String,
      tagPrefix: String): Unit = {
    require(!tagPrefix.contains("#mb"),
      s"tagPrefix must not contain the batch-tag separator '#mb': '$tagPrefix'")
    IncrementalSink.drainEach(vecBatches, (batch, id) =>
      Similarity.foldIntoIvfPqIndex(batch, path, batchTag = s"$tagPrefix#mb$id"))
  }

  /** STREAMING deletion — the online form of
    * [[Similarity.deleteFromIvfIndex]] (shared by the IVF and IVF-PQ
    * layouts): takedown/refresh ids arrive as micro-batches (each
    * `(vec_id LONG)`), and every micro-batch appends its tombstones
    * under a delTag keyed on the REAL `batchId`. Tombstones are
    * order-independent, duplicate-safe rows, so micro-batch boundaries
    * are invisible in the served index — delete(b1); delete(b2) ≡
    * delete(b1 ∪ b2), and at-least-once replays converge even without
    * the delete ledger (which just skips the redundant append). The
    * q111→q112 stream≡batch symmetry, deletion side.
    */
  def drainDeletes(
      idBatches: Seq[DataFrame],
      path: String,
      tagPrefix: String): Unit = {
    require(!tagPrefix.contains("#mb"),
      s"tagPrefix must not contain the batch-tag separator '#mb': '$tagPrefix'")
    IncrementalSink.drainEach(idBatches, (batch, id) =>
      Similarity.deleteFromIvfIndex(batch, path, delTag = s"$tagPrefix#mb$id"))
  }
}
