package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Bucketing, Dedup, Search, Similarity, Vocabulary, ZOrder}

import QuerySupport.t

/** The pay-once layouts the queries read. These are "pay at ingest,
  * reuse every query" writes by contract: Bench builds them all in
  * warm-up ([[graft.SparkEntry.prepareLayouts]]) so a fresh warehouse
  * does not inflate per-query medians with one-time ingest cost, and
  * each query still calls the layouts it reads (a no-op once built), so
  * Verify and standalone use stay self-contained.
  */
object Layouts {

  /** q75's bucketed join tables: both fact tables `bucketBy(8,
    * orderkey)` + `sortBy`, written once per landed input.
    */
  val q75Tables: Layout[Unit] = new Layout((s, d) => {
    Bucketing.ensureBucketed(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      "graft_q75_lineitem", buckets = 8, bucketCols = Seq("l_orderkey"), srcTag = d)
    Bucketing.ensureBucketed(
      t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      "graft_q75_orders", buckets = 8, bucketCols = Seq("o_orderkey"), srcTag = d)
  })

  /** q84's z-ordered lineitem copy; the value is its path. */
  val q84Path: Layout[String] = new Layout((s, d) => {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_returnflag"))
    ZOrder.ensureZOrdered(li, "l_partkey", "l_suppkey", bits = 20, srcTag = d)
  })

  /** The persisted serving-path indexes for q90–q95
    * ([[graft.operators.Search.ensureIndexes]]): all three index tables
    * built ONCE per landed corpus, bucketed by `tok` — every lexical
    * query reads the bucketed tables (build at ingest, query many),
    * never re-tokenizes the corpus.
    */
  val searchTables: Layout[Unit] = new Layout((s, d) =>
    Search.ensureIndexes(t(s, d, "documents"), srcTag = d))

  /** q100's pair counts: the corpus scan + bigram kernel runs at
    * ingest, the per-query work is marginals + PMI over the (tiny) pair
    * table. Bucketed on `prev` so the left marginal aggregates
    * shuffle-free.
    */
  val q100Pairs: Layout[Unit] = new Layout((s, d) =>
    Bucketing.ensureBucketed(
      Vocabulary.bigramPairCounts(t(s, d, "documents")),
      "graft_q100_pairs", buckets = 8, bucketCols = Seq("prev"), srcTag = d))

  /** The IVF ANN layout over the whole embeddings table (q51, q107,
    * q110), with the corpus-stats sidecar the ANN planners (q47's K,
    * q51's C) read instead of running a per-query count().
    */
  val ivfCorpus: Layout[(String, Int)] = new Layout((s, d) =>
    Similarity.ensureIvfIndex(t(s, d, "embeddings"), srcTag = d))

  // the MinHash band-index lineages over the STANDING corpus (doc_id ≢ 0
  // mod 10, capped at 10k like q23), minhashed and banded once into
  // bk-bucketed tables; the value is the (bands, sigs) table pair

  /** q106's corpus index, which q106/q108 dedup against and keep
    * pristine.
    */
  val q106Index: Layout[(String, String)] = bandIndex("graft_q106")

  /** q109's own copy: q109 folds admitted batch docs into it. */
  val q109Index: Layout[(String, String)] = bandIndex("graft_q109")

  /** q125's own copy: the fold + delete target. */
  val q125Index: Layout[(String, String)] = bandIndex("graft_q125")

  private def bandIndex(tablePrefix: String): Layout[(String, String)] =
    new Layout((s, d) =>
      Dedup.ensureMinhashBandIndex(
        t(s, d, "documents")
          .filter(col("doc_id") < 10000 && col("doc_id") % 10 =!= 0),
        tablePrefix = tablePrefix, srcTag = d))

  // the maintained IVF and IVF-PQ copies over the standing corpus
  // (every 10th vec_id held out); each query's folds and deletes stay
  // in-query: they ARE the measured operation. The value is the
  // layout path and its cell count.

  /** q111/q113/q114/q115's maintained IVF corpus. */
  val q111Ivf: Layout[(String, Int)] = ivf("q111")

  /** q126/q128's IVF layout under deletion. */
  val q126Ivf: Layout[(String, Int)] = ivf("q126")

  /** The one-shot IVF-PQ serving index over the whole table
    * (q118/q119/q122).
    */
  val q118IvfPq: Layout[(String, Int)] = new Layout((s, d) =>
    Similarity.ensureIvfPqIndex(t(s, d, "embeddings"), srcTag = s"$d#q118"))

  /** q120's maintained IVF-PQ corpus. */
  val q120IvfPq: Layout[(String, Int)] = ivfPq("q120")

  /** q121's maintained IVF-PQ corpus (the streamed fold). */
  val q121IvfPq: Layout[(String, Int)] = ivfPq("q121")

  /** q127's IVF-PQ layout under deletion. */
  val q127IvfPq: Layout[(String, Int)] = ivfPq("q127")

  private def ivf(tag: String): Layout[(String, Int)] = new Layout((s, d) =>
    Similarity.ensureIvfIndex(standingVectors(s, d), srcTag = s"$d#$tag"))

  private def ivfPq(tag: String): Layout[(String, Int)] = new Layout((s, d) =>
    Similarity.ensureIvfPqIndex(standingVectors(s, d), srcTag = s"$d#$tag"))

  private def standingVectors(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0)
}
