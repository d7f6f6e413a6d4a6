package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** STREAMING ANN serving — the online form of
  * [[Similarity.ivfProbeBatchDf]]: query vectors arrive as micro-
  * batches of a real Structured Streaming query, and every micro-batch
  * is collected, ranked on the driver against the layout's cached
  * centroids and answered by ONE partition-pruned scan of the IVF cells
  * layout, results accruing append-only. The q106→q108 symmetry applied
  * to the serving side: q107 proves the batched operator, q110 proves
  * the SAME answers come out when the batch boundary is a stream's
  * micro-batch boundary.
  *
  * Scale shape (a serving tier fed by a request stream):
  *  - per micro-batch cost is the q107 contract — |batch|·C·dim driver
  *    ranking work under [[Similarity.MaxBatchRankWork]], the cells
  *    scan pruned to the union of probed cells, every shuffle bounded
  *    by the batch, never the corpus;
  *  - queries are INDEPENDENT rows, so micro-batching is pure
  *    amortization — the union of per-batch answers is row-identical
  *    to one big batch (and to N sequential probes; SimilaritySpec
  *    pins both), which is what makes the same DuckDB oracle as q107
  *    hold verbatim;
  *  - no streaming state at all: each batch's answers depend on
  *    nothing before it. The fold in the drain harness is plain
  *    append (the foreachBatch analog of an output sink).
  */
object AnnServeStream {

  /** Drain `queryBatches` (each `(query_id LONG, emb ARRAY<FLOAT>)`;
    * one micro-batch each) against the staged layout at `path` through
    * a real foreachBatch stream. Returns the accrued
    * (query_id, rk, vec_id, dot) answers, checkpointed. A batch probe
    * persists nothing of its own (its probe map is a local relation),
    * so the drain holds no per-batch handles.
    */
  def drainServe(
      queryBatches: Seq[DataFrame],
      path: String,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    require(queryBatches.nonEmpty, "at least one query batch required")
    val spark = queryBatches.head.sparkSession
    import spark.implicits._
    val zero = Seq.empty[(Long, Long, Long, Long)]
      .toDF("query_id", "rk", "vec_id", "dot")
    IncrementalSink.drainFolded(queryBatches, zero, (acc, batch) =>
      acc.unionByName(Similarity.ivfProbeBatchDf(batch.sparkSession, path, batch, k, nProbe)))
  }
}
