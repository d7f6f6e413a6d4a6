package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Scale design (100 TB): the query side is always tiny (one vector or a
  * small batch) → broadcast it; the corpus side streams through a
  * map-only cosine scan (brute force) or is pre-bucketed by
  * random-hyperplane LSH so each probe touches ~1/2^bits of the corpus.
  * Top-k uses a single partial-agg-friendly sort-limit, not a global
  * collect.
  */
object Similarity {

  /** Exact brute-force top-k by cosine against the vector with id
    * `queryId`. Broadcast single-row query → map-only scan → global
    * top-k (Spark's TakeOrdered, partial per partition).
    */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    embeddings
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", VectorFunctions.cosineFused(col("embedding"), col("q_embedding")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "cos")
      .limit(k)
  }

  /** Oracle-exact brute-force top-k: same broadcast + map-only scan +
    * TakeOrdered plan as [[bruteForceTopK]], but over fixed-point
    * quantized vectors so the ranking cosine is an IEEE-identical double
    * on every engine (CAST(dot)/sqrt(CAST(nrm)·CAST(qn)) of identical
    * longs — the q51 pattern). Emits the exact integer `dot` so the
    * result is hash-checkable, not just id-checkable.
    */
  def bruteForceTopKPortable(embeddings: DataFrame, queryId: Long, k: Int): DataFrame =
    bruteForceTopKPortableScored(embeddings, queryId, k).select("vec_id", "dot")

  /** [[bruteForceTopKPortable]] that also emits the ranking cosine
    * itself — `CAST(dot)/sqrt(CAST(nrm)·CAST(qn))` of identical longs
    * is the same IEEE double on every engine — for consumers that need
    * the ORDER KEY, not just the ordered ids (rank fusion,
    * [[Hybrid]]).
    */
  def bruteForceTopKPortableScored(
      embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val b = embeddings
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    val qrow = b.filter(col("vec_id") === queryId)
      .select(col("q").as("qvec"), col("nrm").as("qn"))
    b.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow))
      .withColumn("dot", VectorFunctions.qdot(col("q"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * col("qn").cast("double")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot", "cos")
      .limit(k)
  }

  /** Batch exact top-k: for every query vector (small table, broadcast),
    * the k nearest corpus vectors. Window rank per query.
    */
  def bruteForceTopKBatch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus
      .crossJoin(broadcast(queries.select(
        col("vec_id").as("query_id"), col("embedding").as("q_embedding"))))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorFunctions.cosineFused(col("embedding"), col("q_embedding")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  /** LSH-bucketed ANN: corpus pre-hashed into 2^nBits hyperplane buckets;
    * a probe only scans its own bucket (plus Hamming-1 neighbors when
    * multiProbe). At 100 TB the bucketed corpus is written once
    * (partitioned by bucket) and each query is a pruned scan.
    */
  def lshTopK(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nBits: Int = 4,
      seed: Long = 42L,
      dim: Int = 64,
      multiProbe: Boolean = true): DataFrame = {
    val planes = VectorFunctions.seededPlanes(seed, dim, nBits)
    val bucketed = embeddings.withColumn(
      "bucket", VectorFunctions.hyperplaneBucket(col("embedding"), planes))
    val q = bucketed.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"), col("bucket").as("q_bucket"))
    val probeBuckets =
      if (multiProbe)
        explode(array(col("q_bucket") +:
          (0 until nBits).map(i => col("q_bucket").bitwiseXOR(lit(1L << i))): _*))
      else col("q_bucket")
    val probes = q.select(col("q_embedding"), probeBuckets.as("bucket")).distinct()
    bucketed
      .filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), Seq("bucket"))
      .withColumn("cos", VectorFunctions.cosineFused(col("embedding"), col("q_embedding")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "cos")
      .limit(k)
  }

  /** Oracle-checkable LSH ANN: same plan shape as [[lshTopK]] (bucketed
    * probe + broadcast query + top-k) but over fixed-point quantized
    * vectors, so bucket assignment is exact integer arithmetic and the
    * ranking cosine is an IEEE-identical double on every engine
    * (CAST(dot)/sqrt(CAST(na)·CAST(nb)) of identical longs).
    */
  def lshTopKPortable(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nBits: Int = 4,
      seed: Long = 42L,
      dim: Int = 64,
      multiProbe: Boolean = true): DataFrame = {
    val planes = VectorFunctions.quantPlanes(seed, dim, nBits)
    val b = embeddings
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"),
        VectorFunctions.hyperplaneBucketQ(col("q"), planes).as("bucket"),
        VectorFunctions.qdot(col("q"), col("q")).as("nrm"))
    val qrow = b.filter(col("vec_id") === queryId)
      .select(col("q").as("qvec"), col("bucket").as("qb"), col("nrm").as("qn"))
    val probeBuckets =
      if (multiProbe)
        explode(array(col("qb") +:
          (0 until nBits).map(i => col("qb").bitwiseXOR(lit(1L << i))): _*))
      else col("qb")
    val probes = qrow.select(col("qvec"), col("qn"), probeBuckets.as("bucket")).distinct()
    b.filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), Seq("bucket"))
      .withColumn("dot", VectorFunctions.qdot(col("q"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * col("qn").cast("double")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot")
      .limit(k)
  }

  /** IVF (inverted-file) ANN: the corpus is partitioned into `nCentroids`
    * cells by nearest centroid; a query scans only its `nProbe` closest
    * cells. Complements [[lshTopKPortable]]: IVF cells adapt to the data
    * distribution (centroids are corpus vectors) where LSH planes are
    * data-oblivious.
    *
    * Scale shape (100 TB): centroids are a tiny broadcast table;
    * assignment is a map-only broadcast product + partial-agg argmax
    * (one pass over the corpus, no shuffle of the vectors themselves —
    * only the grouped argmax reduction); in production the assigned
    * corpus is written once partitioned by `cent_id`, after which every
    * query is a partition-pruned scan of nProbe/nCentroids of the data.
    *
    * Oracle-exact: all dots are integer arithmetic over quantized
    * vectors; ranking/argmax doubles derive from identical longs
    * (CAST(dot)/sqrt(CAST·CAST)) so every engine orders identically.
    * Centroid choice is deterministic: the vectors with
    * `vec_id < nCentroids` (a seeded sample in production).
    *
    * `nCentroids` has NO default: pass [[nCentroidsForCorpus]] of the
    * corpus count (or a caller-owned constant with its own scale
    * argument) — a frozen built-in constant is exactly the trajectory
    * that made fixed-C probing linear in the corpus (21.5× wall at the
    * 100× scale point before the adaptive-C fix).
    */
  def ivfTopKPortable(
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      nCentroids: Int,
      nProbe: Int = 4): DataFrame = {
    val b = embeddings
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    val cents = b.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("q").as("cvec"), col("nrm").as("cnrm"))
    def cosOf(dot: Column, na: Column, nb: Column): Column =
      dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))
    // argmax centroid per vector: the shared map-only fused kernel
    // (ties → larger cent_id; the oracle mirrors with ORDER BY cos,
    // cent_id) — the inline broadcast-product + struct-max aggregate
    // this was paid a corpus×C row blowup, two SortAggregates and a
    // vector-carrying exchange per QUERY execution
    val assigned = assignToCentroids(b, cents)
    val qrow = b.filter(col("vec_id") === queryId)
      .select(col("q").as("qvec"), col("nrm").as("qn"))
    val probes = cents.crossJoin(broadcast(qrow))
      .withColumn("pcos", cosOf(VectorFunctions.qdot(col("cvec"), col("qvec")),
        col("cnrm"), col("qn")))
      .orderBy(col("pcos").desc, col("cent_id").desc)
      .limit(nProbe)
      .select("cent_id")
    assigned
      .join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow))
      .withColumn("dot", VectorFunctions.qdot(col("q"), col("qvec")))
      .withColumn("cos", cosOf(col("dot"), col("nrm"), col("qn")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot")
      .limit(k)
  }

  /** Build the IVF index as a persistent layout (the production write
    * path the in-query [[ivfTopKPortable]] demonstrates): one corpus-wide
    * pass assigns every quantized vector to its argmax-cosine centroid
    * and writes the cells `partitionBy("cent_id")`; the tiny centroid
    * table lands beside them. After this, every probe is a
    * partition-pruned scan of nProbe/nCentroids of the data — the
    * SimilaritySpec file-count proof shows the executed scan touches
    * only the probed cells' files.
    */
  /** Argmax-cosine centroid assignment (ties → larger cent_id).
    * Shared by the one-shot assignment paths, the fold/ingest paths
    * and the Lloyd refinement loop.
    *
    * MAP-ONLY (r21): the ≤C-row centroid table rides ONE broadcast row
    * (sorted by cent_id — C caps at 65536, ~35 MB of array at the cap,
    * the same bytes the broadcast hash relation carried before) and
    * [[graft.plans.IvfArgmaxCosExpr]] computes the winner per vector
    * in whole-stage codegen. The previous crossJoin ×C +
    * `max(struct(ccos, cent_id))` groupBy paid a corpus-sized
    * aggregation exchange whose rows CARRIED THE QUANTIZED VECTORS
    * (`first(q)`) — at 100 TB every ingested vector rode a shuffle to
    * compute a per-row argmax (guide §2.4). Same winners: identical
    * double arithmetic, SQL NaN ordering and larger-cent_id ties
    * (spec-pinned against [[assignToCentroidsJoinAgg]] full-corpus).
    */
  private[operators] def assignToCentroids(b: DataFrame, cents: DataFrame): DataFrame =
    b.crossJoin(broadcast(
        cents.groupBy().agg(sort_array(collect_list(struct(
          col("cent_id"), col("cvec"), col("cnrm")))).as("_cents"))))
      .withColumn("cent_id",
        graft.plans.IvfArgmaxCosExpr(col("q"), col("nrm"), col("_cents")))
      .select("vec_id", "cent_id", "q", "nrm")

  /** The join+aggregate reference form [[assignToCentroids]] replaced
    * — kept verbatim as the semantic pin for the fused kernel
    * (SimilaritySpec asserts full-fixture-corpus equality, the
    * [[pqAssignments]]/[[pqEncode]] pattern).
    */
  private[operators] def assignToCentroidsJoinAgg(
      b: DataFrame, cents: DataFrame): DataFrame =
    b.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorFunctions.qdot(col("q"), col("cvec")).cast("double") /
          sqrt(col("nrm").cast("double") * col("cnrm").cast("double")))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), col("cent_id"))).getField("cent_id").as("cent_id"),
        first(col("q")).as("q"), first(col("nrm")).as("nrm"))

  /** Lloyd (k-means) refinement of IVF centroids: `iters` rounds of
    * assign-to-nearest / recompute-as-mean over the quantized vectors.
    * Seeded centroids (`vec_id < nCentroids` — arbitrary corpus points)
    * land wherever the ids happen to sit; refinement moves them to the
    * density, which tightens cells and makes a fixed nProbe recall more
    * (the round-4 ask: without this, IVF is a partition scheme, not a
    * quantizer).
    *
    * Scale design: each round is ONE broadcast assignment pass over the
    * corpus (no vector shuffle) plus ONE (cent_id, pos) shuffle of
    * component partial sums — avg is map-side combinable, and the
    * shuffled rows are `nCentroids·dim` triples, independent of corpus
    * size. Component means are re-quantized with `round` so centroids
    * stay exact integer vectors (same arithmetic as every other
    * portable-cosine path); empty cells keep their previous centroid.
    */
  def refineIvfCentroids(b: DataFrame, cents0: DataFrame, iters: Int): DataFrame = {
    var c = cents0
    for (_ <- 1 to iters) {
      val means = assignToCentroids(b, c)
        .select(col("cent_id"), posexplode(col("q")))
        .groupBy("cent_id", "pos")
        .agg(avg(col("col")).as("m"))
        .groupBy("cent_id")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => round(x.getField("m")).cast("long")).as("cvec"))
        .withColumn("cnrm", VectorFunctions.qdot(col("cvec"), col("cvec")))
      c = c.select(col("cent_id"), col("cvec").as("cvec0"), col("cnrm").as("cnrm0"))
        .join(means, Seq("cent_id"), "left")
        .select(col("cent_id"),
          coalesce(col("cvec"), col("cvec0")).as("cvec"),
          coalesce(col("cnrm"), col("cnrm0")).as("cnrm"))
      // truncate the per-round lineage (tiny table); honors
      // spark.graft.checkpointDir for reliable storage at scale
      c = graft.util.Checkpoints.stage(c)
    }
    c
  }

  def buildIvfIndex(
      embeddings: DataFrame,
      path: String,
      nCentroids: Int,
      refineIters: Int = 0): Unit = {
    val b = embeddings
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    val seed = b.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("q").as("cvec"), col("nrm").as("cnrm"))
    val cents =
      if (refineIters <= 0) seed else refineIvfCentroids(b, seed, refineIters)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    assignToCentroids(b, cents)
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/cells")
  }

  /** Probe a [[buildIvfIndex]] layout with a raw query vector: centroid
    * ranking happens driver-side over the ≤nCentroids-row table (a
    * sanctioned tiny collect), then the cells scan is partition-pruned
    * to the chosen nProbe ids. Ranking matches [[ivfTopKPortable]]
    * exactly (quantized integer dots, IEEE-identical cosine ordering).
    */
  def ivfProbe(
      spark: SparkSession,
      path: String,
      queryVec: Seq[Float],
      k: Int,
      nProbe: Int = 4,
      exclude: Option[Long] = None): DataFrame = {
    val (qq, qn, probeIds) = probeCells(spark, path, queryVec, nProbe)
    val qCol = array(qq.map(lit): _*)
    val cells = liveCells(spark, path)
      .filter(col("cent_id").isin(probeIds.toIndexedSeq: _*))
    exclude.fold(cells)(id => cells.filter(col("vec_id") =!= id))
      .withColumn("dot", VectorFunctions.qdot(col("q"), qCol))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * lit(qn.toDouble)))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot")
      .limit(k)
  }

  /** The driver-side half of a single-vector probe of either layout:
    * the query quantized HALF-AWAY-FROM-ZERO, matching
    * VectorFunctions.quantize (Spark SQL round) and the oracle's DuckDB
    * round (math.round is floor(x+0.5), which disagrees on negative
    * halves: -62.5 → -62 vs -63), its squared norm, and the `nProbe`
    * cells whose centroids rank highest by cosine (ties → larger id).
    */
  private def probeCells(spark: SparkSession, path: String,
      queryVec: Seq[Float], nProbe: Int): (Seq[Long], Long, Array[Long]) = {
    val qq = queryVec.map { f =>
      val d = f.toDouble * 1000
      if (d >= 0) math.round(d) else -math.round(-d)
    }
    val qn = qq.map(x => x * x).sum
    val probeIds = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm").collect().map { r =>
        val cv  = r.getAs[collection.Seq[Long]]("cvec")
        val dot = cv.iterator.zip(qq.iterator).map { case (a, b) => a * b }.sum
        val cos = dot.toDouble / math.sqrt(r.getAs[Long]("cnrm").toDouble * qn.toDouble)
        (cos, r.getAs[Long]("cent_id"))
      }.sortBy { case (cos, id) => (-cos, -id) }.take(nProbe).map(_._2)
    (qq, qn, probeIds)
  }

  /** Batched probe of a [[buildIvfIndex]] layout — the serving-
    * throughput shape: N query vectors answered by ONE partition-pruned
    * scan instead of N sequential probes.
    *
    * Centroid ranking is DISTRIBUTED: the query batch becomes a
    * DataFrame, the ≤C-row centroid table is broadcast against it, and
    * a query-partitioned window takes each query's top-nProbe cells —
    * |batch|·C dot products as executor map work (formerly a
    * single-threaded driver loop: ~10¹⁰ driver multiply-adds at the
    * C=65536 clamp × a 10k batch). The probe map (query_id, cent_id,
    * qvec, qn — |batch|·nProbe rows) is staged once and feeds both
    * consumers; the only driver materialization left is the DISTINCT
    * probed cell ids (≤ min(|batch|·nProbe, C) longs — metadata for
    * static partition pruning of the cells scan, same class as
    * [[ivfProbe]]'s sanctioned collect).
    *
    * The cells half is unchanged: the union of probed cells prunes ONE
    * scan, the broadcast probe map fans each scanned row out to only
    * the queries probing its cell, and a query-partitioned window takes
    * each top-k (candidate volume ≈ N·nProbe·√n rows — every shuffle
    * bounded by the batch, never the corpus).
    *
    * Output: (query_id, rk, vec_id, dot), rk = 1-based rank by the
    * portable cosine (identical integer dots + IEEE ordering on every
    * engine — the q51 contract).
    */
  def ivfProbeBatch(
      spark: SparkSession,
      path: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame =
    ivfProbeBatchOwned(spark, path, queries, k, nProbe, excludeSelf)._1

  /** [[ivfProbeBatch]] with a CALLER-OWNED lifetime for the staged
    * probe map (the `tfidfTopKOwned` contract): each batch call stages
    * one tiny (|batch|·nProbe-row) probe-map block so the ranking runs
    * once for its two consumers; a long-lived serving driver answering
    * thousands of batches should consume the result, then `release()`
    * the handle — otherwise one block per call accumulates in executor
    * storage for the life of the session.
    */
  def ivfProbeBatchOwned(
      spark: SparkSession,
      path: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): (DataFrame, graft.util.Checkpoints.Staged) = {
    import spark.implicits._
    ivfProbeBatchDfOwned(spark, path,
      queries.toDF("query_id", "emb"), k, nProbe, excludeSelf)
  }

  /** [[ivfProbeBatch]] over a query DATAFRAME (`query_id` LONG, `emb`
    * ARRAY<FLOAT>) — the batch never rides through the driver at all:
    * queries may come straight off a parquet scan, a streaming
    * micro-batch, or an upstream join. The `Seq` overloads are
    * convenience wrappers over this; prefer this form whenever the
    * batch is already distributed data.
    *
    * Scale contract: every term is bounded by the BATCH or by C, never
    * the corpus — the ranking is |batch|·C map work, the staged probe
    * map is |batch|·nProbe rows, and the driver sees only the ≤C
    * distinct probed cell ids (partition-prune literals). The probe map
    * is BROADCAST to the cells scan, so one batch should stay within
    * broadcast size (~10⁵ queries at typical dims); shard a larger
    * stream of queries into such batches — each pays one pruned scan.
    */
  def ivfProbeBatchDf(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame =
    ivfProbeBatchDfOwned(spark, path, queries, k, nProbe, excludeSelf)._1

  /** [[ivfProbeBatchDf]] with the caller-owned staged-probe-map
    * lifetime (see [[ivfProbeBatchOwned]]).
    */
  def ivfProbeBatchDfOwned(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): (DataFrame, graft.util.Checkpoints.Staged) = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    // same quantization kernel as the corpus side ([[VectorFunctions
    // .quantize]]), so query and centroid arithmetic stay bit-identical
    val qdf = queries
      .select(col("query_id"),
        VectorFunctions.quantize(col("emb")).as("qvec"))
      .withColumn("qn", VectorFunctions.qdot(col("qvec"), col("qvec")))
    val pw = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("cent_id").desc)
    // the |batch|·C ranking sheds qvec/qn BEFORE the window's
    // partitionBy(query_id) exchange — the crossJoin side is map-only
    // (broadcast nested loop), so the qvec array (~550B/row at dim 64)
    // would otherwise ride the full |batch|·C shuffle just to be
    // re-selected after the filter; ranking on (query_id, cent_id,
    // pcos) alone shrinks that exchange ~20×, and the survivors
    // (|batch|·nProbe rows) get qvec/qn back from a broadcast of the
    // |batch|-row query side
    val ranked = qdf.crossJoin(broadcast(cents))
      .withColumn("pcos",
        VectorFunctions.qdot(col("cvec"), col("qvec")).cast("double") /
          sqrt(col("cnrm").cast("double") * col("qn").cast("double")))
      .select(col("query_id"), col("cent_id"), col("pcos"))
      .withColumn("pr", row_number().over(pw))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("cent_id"))
    // staged: the distinct-cells prune below and the candidate join both
    // read the ranking — one |batch|·C pass, not two
    val staged = graft.util.Checkpoints.stageOwned(
      ranked.join(broadcast(qdf), Seq("query_id"))
        .select(col("query_id"), col("cent_id"), col("qvec"), col("qn")))
    val probeMap = staged.df
    val probedCells: Seq[Long] =
      probeMap.select("cent_id").distinct().as[Long].collect().toIndexedSeq
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val cells = liveCells(spark, path)
      .filter(col("cent_id").isin(probedCells: _*))
      .join(broadcast(probeMap), Seq("cent_id"))
    val out =
      (if (excludeSelf) cells.filter(col("vec_id") =!= col("query_id")) else cells)
        .withColumn("dot", VectorFunctions.qdot(col("q"), col("qvec")))
        .withColumn("cos", col("dot").cast("double") /
          sqrt(col("nrm").cast("double") * col("qn").cast("double")))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("query_id"), col("rk"), col("vec_id"), col("dot"))
    (out, staged)
  }

  /** The hyperplane count that keeps expected LSH bucket OCCUPANCY at
    * `targetOccupancy` for an `n`-vector corpus: the smallest K with
    * n/2^K ≤ target. THE scale knob for the bucket-collision pair
    * generators — with K fixed, occupancy grows linearly in the corpus
    * and the candidate join grows quadratically (measured at the sf10
    * scale point: 100× vectors → 196× wall for fixed K=6); with K from
    * this formula, candidates stay ≈ n·target/2 — linear.
    *
    * Integer arithmetic only (ceil-div + bit length), NOT
    * `ceil(log2(…))` — a float log straddles integers differently
    * across libm implementations, and the DuckDB oracle mirrors this
    * exact derivation (`length(bin(M-1))`) so both engines always pick
    * the same K. Clamped to [1, 16]: 16 bits = 65,536 buckets, enough
    * for 2M vectors at occupancy 32; the q47 oracle inlines 16 planes.
    */
  def nBitsForOccupancy(n: Long, targetOccupancy: Int = 32): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val m = (n + targetOccupancy - 1) / targetOccupancy // ceil(n/target)
    val k = if (m <= 1L) 1 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1)
    (k max 1) min 16
  }

  /** The IVF cell count for an `n`-vector corpus: the power of two
    * nearest √n from above — `2^ceil(bitLength(n-1)/2)` — clamped to
    * [4, 65536]. THE scale knob for IVF (the [[nBitsForOccupancy]]
    * pattern applied to cells): with a FIXED cell count, probe cost is
    * a constant fraction nProbe/C of the corpus — linear in n (measured
    * at the sf10 scale point: 21.5× wall at 100× data for fixed C=32).
    * With C ≈ √n, cell size is also ≈ √n, so BOTH per-query costs —
    * ranking C centroids and scanning nProbe cells — grow as √n:
    * sublinear, and balanced against each other (the classic IVF
    * operating point; skewing C either way makes one of the two legs
    * dominate).
    *
    * Integer arithmetic only (bit length, shift — no float log/sqrt),
    * and the DuckDB oracle derives the same C verbatim from COUNT(*)
    * (`1 << ((length(bin(n-1)) + 1) // 2)`), so both engines always
    * seed the same `vec_id < C` centroid set. Clamp ceiling 65536 =
    * 2^16 cells (√n balance up to ~4B vectors); past that a deployment
    * goes hierarchical (coarse quantizer over cells), not wider.
    */
  def nCentroidsForCorpus(n: Long): Int = {
    if (n <= 1L) 4
    else {
      val bl = 64 - java.lang.Long.numberOfLeadingZeros(n - 1) // bitLength(n-1)
      val c  = 1L << ((bl + 1) / 2)
      ((c max 4L) min 65536L).toInt
    }
  }

  // corpus stats already read THIS application (appId|key → count):
  // repeated calls must cost zero file reads / Spark jobs (the
  // Bucketing.validated contract — landed dirs are immutable)
  private val statsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Cheap DATA fingerprint of the frame's input files — (path, length,
    * mtime) per file, md5'd driver-side from FS metadata the scan's
    * FileIndex already listed (no Spark job, no data read). Folded into
    * every layout key so a dataset REGENERATED at the same path with
    * the same schema (new lengths/mtimes — the wiped-and-rebuilt /tmp
    * fixture case) invalidates the staged stats/IVF layout instead of
    * silently serving a stale corpus. Frames with no file inputs
    * (in-memory test data) fingerprint to the empty-digest constant and
    * key on srcTag + schema alone, as before.
    */
  private[operators] def inputFingerprint(df: DataFrame): String = {
    val conf   = df.sparkSession.sessionState.newHadoopConf()
    val digest = java.security.MessageDigest.getInstance("MD5")
    df.inputFiles.sorted.foreach { f =>
      val p  = new org.apache.hadoop.fs.Path(f)
      val st =
        try Some(p.getFileSystem(conf).getFileStatus(p))
        catch { case _: java.io.IOException => None }
      val line =
        st.fold(s"$f|?|?")(s => s"$f|${s.getLen}|${s.getModificationTime}")
      digest.update(line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      digest.update(0.toByte)
    }
    digest.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Layout home: co-located with the SESSION WAREHOUSE (the
    * Bucketing/saveAsTable home), not the global java.io.tmpdir —
    * wiping the warehouse resets these sidecars together with the
    * bucketed tables instead of leaving immortal cross-run state.
    * Local-FS warehouses come back as a plain path (test specs touch
    * markers with java.io.File); remote schemes stay fully qualified.
    */
  private def layoutPath(
      spark: SparkSession, kind: String, key: String): String = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"_graft_layouts/${kind}_${md5Hex(key).take(16)}")
    val uri = p.toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
    else p.toString
  }

  /** The corpus row count as STAGED METADATA: computed once per source
    * tag, persisted as a sidecar `stats.json` beside the layouts, and
    * read back driver-side (a metadata file read, NOT a Spark action).
    * The ANN planners ([[nBitsForOccupancy]] K for the near-dup
    * buckets, [[nCentroidsForCorpus]] C for IVF) derive their knobs
    * from this, so query planning stops costing a `count()` job per
    * invocation — at 100 TB the count comes from the ingest ledger /
    * catalog stats, never a per-query scan. Idempotence key =
    * srcTag + schema (the ensureBucketed contract: landed inputs are
    * immutable snapshots).
    */
  def ensureCorpusStats(
      df: DataFrame, srcTag: String, fp: Option[String] = None): Long = {
    val spark = df.sparkSession
    val key   = s"$srcTag|stats|fp=${fp.getOrElse(inputFingerprint(df))}" +
      s"|${df.schema.catalogString}"
    val memo  = s"${spark.sparkContext.applicationId}|$key"
    Option(statsMemo.get(memo)).getOrElse {
      val dir  = layoutPath(spark, "embstats", key)
      val path = new org.apache.hadoop.fs.Path(dir, "stats.json")
      val fs   = path.getFileSystem(spark.sessionState.newHadoopConf())
      // per-path lock: concurrent first calls count once, and the
      // corrupt-sidecar rewrite below never races a reader
      val n = IndexLifecycle.lockFor(dir).synchronized {
        // tolerant read — a truncated/corrupt/foreign file at the
        // well-known path means RECOUNT AND REPAIR, never a parse crash
        val parsed: Option[Long] =
          try {
            if (!fs.getFileStatus(path).isFile) None
            else {
              val in = fs.open(path)
              val s =
                try new String(in.readAllBytes(),
                  java.nio.charset.StandardCharsets.UTF_8)
                finally in.close()
              """"n"\s*:\s*(\d+)""".r.findFirstMatchIn(s)
                .flatMap(_.group(1).toLongOption)
            }
          } catch { case _: java.io.IOException => None }
        parsed.getOrElse {
          val c = df.count()
          fs.mkdirs(path.getParent)
          val tmp = new org.apache.hadoop.fs.Path(
            dir, s"stats.json.tmp${System.nanoTime()}")
          val out = fs.create(tmp, true)
          try out.write(s"""{"n": $c}""".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          fs.delete(path, false)
          if (!fs.rename(tmp, path))
            throw new java.io.IOException(s"could not promote $tmp -> $path")
          c
        }
      }
      statsMemo.put(memo, n)
      n
    }
  }

  /** Idempotent IVF layout build (the [[Bucketing.ensureBucketed]]
    * contract applied to the [[buildIvfIndex]] path layout): cell count
    * adaptive via [[nCentroidsForCorpus]] of the staged corpus count,
    * written once per source tag, reused by every probe. Returns
    * (layout path, cell count). This is what makes IVF serving scale:
    * the O(n·C) assignment pass is INGEST (pay once, amortized over
    * every query), and each query is centroid ranking (√n rows) plus a
    * partition-pruned scan of nProbe cells (√n rows each) — vs the
    * in-query [[ivfTopKPortable]] demonstrator which re-assigns the
    * corpus per call and therefore must keep C frozen.
    */
  def ensureIvfIndex(
      embeddings: DataFrame,
      srcTag: String): (String, Int) =
    ensureLayout(embeddings, srcTag, "ivf", "")((tmp, c) =>
      buildIvfIndex(embeddings, tmp, nCentroids = c))

  // the layout key of both ensure paths: srcTag + kind + cell count +
  // build params + data fingerprint + schema (one FS-metadata sweep
  // serves both the stats key and the layout key)
  private def ensureLayout(embeddings: DataFrame, srcTag: String,
      kind: String, params: String)(
      build: (String, Int) => Unit): (String, Int) = {
    val spark = embeddings.sparkSession
    val fp    = inputFingerprint(embeddings)
    val c     = nCentroidsForCorpus(ensureCorpusStats(embeddings, srcTag, Some(fp)))
    val key   = s"$srcTag|$kind|c=$c$params|fp=$fp|${embeddings.schema.catalogString}"
    val path  = layoutPath(spark, kind, key)
    promoteBuilt(spark, path, Some(key), path, s"$kind layout")(build(_, c))
    (path, c)
  }

  /** The one build path of a maintained layout (the truncate-and-load
    * leg of [[IndexLifecycle]]): build into a temp sibling and promote
    * it with one directory rename, unless a COMPLETE layout (the
    * active generation's `_SUCCESS`) already stands — then the call is
    * a read and resolves lease-free. Losing a cross-process race to an
    * identical complete layout is benign: the key carries a data
    * fingerprint, so the redundant copy is discarded rather than
    * deleting a layout a concurrent probe may be scanning. `source` is
    * the layout whose crash leftovers are recovered first.
    */
  private def promoteBuilt(spark: SparkSession, path: String,
      memoKey: Option[String], source: String, what: String)(
      build: String => Unit): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs   = dest.getFileSystem(spark.sessionState.newHadoopConf())
    def complete: Boolean = fs.exists(new org.apache.hadoop.fs.Path(
      activeCellsDir(spark, path), "_SUCCESS"))
    IndexLifecycle.guarded(spark, path, memoKey, WriterLease.lockPathFor(path),
        skip = try complete catch { case _: IllegalArgumentException => false }) {
      recoverCells(spark, source)
      if (!complete) {
        val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp${System.nanoTime()}")
        build(tmp.toString)
        if (complete) fs.delete(tmp, true)
        else {
          fs.delete(dest, true)
          if (!fs.rename(tmp, dest)) {
            if (complete) fs.delete(tmp, true) // lost at the wire
            else throw new java.io.IOException(
              s"could not promote $what $tmp -> $dest")
          }
        }
      }
    }
  }

  /** Incremental VECTOR ingestion into a standing [[ensureIvfIndex]]
    * layout — the [[Dedup.foldIntoMinhashBandIndex]] contract applied
    * to the serving index: new vectors are quantized, assigned to the
    * EXISTING centroids (one broadcast pass, O(|batch|·C) executor
    * work), and appended as new cell files — O(|batch|) rows written,
    * the corpus cells never re-read or rewritten, so the next probe
    * serves corpus ∪ batch from the same partition-pruned scan. The
    * maintained index is BY CONSTRUCTION the assignment of every
    * vector to the standing centroids (SimilaritySpec pins fold ≡
    * [[assignToCentroids]] over the union); centroids only move on a
    * full [[ensureIvfIndex]] rebuild (new srcTag / fingerprint), which
    * also serves as small-file compaction after many folds — standard
    * IVF maintenance semantics (insert-into-cell, re-train offline).
    *
    * Idempotent per `batchTag`: folded tags are recorded as marker
    * files under `path/folds/` (md5 of the tag — fs-safe), checked
    * through the Hadoop FileSystem API under the per-layout lock, so a
    * replayed ingestion batch (driver retry, at-least-once upstream) is
    * a no-op in this and in any later process. Caller contract: the
    * batch holds NEW vec_ids only — re-folding an indexed id is the
    * caller's bug, same as any append sink.
    */
  /** The fold's entire DISTRIBUTED half, exposed for the shuffle-probe
    * tooling (p03/p04): quantize the batch, broadcast-assign to the
    * layout's standing centroids, shape for the cell append. ZERO
    * exchanges since the r21 fused argmax kernel — assignment is
    * map-only (the r20 form's one exchange was the argmax groupBy,
    * |batch| rows each CARRYING its quantized vector); the standing
    * corpus cells never ride an exchange either, and the append itself
    * is shuffle-free (partitionBy writes per-task files).
    */
  def foldAssignment(newVecs: DataFrame, path: String): DataFrame = {
    val spark = newVecs.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    val b = newVecs
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    assignToCentroids(b, cents).select("vec_id", "cent_id", "q", "nrm")
  }

  def foldIntoIvfIndex(
      newVecs: DataFrame,
      path: String,
      batchTag: String): Unit =
    foldCells(newVecs, path, batchTag)(foldAssignment(newVecs, path))

  /** The one fold body of both cells layouts: `encoded` is the batch's
    * (vec_id, cent_id, payload…) cell rows. The marker lands AFTER the
    * append (the MinHash fold-ledger order): a crash in between replays
    * the batch — callers needing exactly-once must rebuild, as with any
    * append sink.
    */
  private def foldCells(newVecs: DataFrame, path: String, batchTag: String)(
      encoded: => DataFrame): Unit = {
    val spark = newVecs.sparkSession
    IndexLifecycle.guarded(spark, path, Some(s"$path|fold|$batchTag"),
        WriterLease.lockPathFor(path)) {
      recoverCells(spark, path)
      // the policy check runs under the already-held guard (re-entrant)
      onceForTag(spark, path, "folds", batchTag) {
        IndexLifecycle.requireNotTombstoned(
          tombstonesOf(spark, path, activeCellsDir(spark, path)), newVecs, "vec_id")
        encoded.write.mode("append").partitionBy("cent_id")
          .parquet(activeCellsDir(spark, path))
      }.foreach(_ => maybeAutoCompactCells(spark, path))
    }
  }

  /** The fold/delete ledger of a cells layout: one marker file per tag
    * under `path/<kind>/` (md5 of the tag — fs-safe), read through the
    * Hadoop FileSystem API so a replay is a no-op in this and any later
    * process. Runs `write` and then records the tag unless it is
    * already recorded; returns what `write` returned, if it ran.
    */
  private def onceForTag[T](spark: SparkSession, path: String, kind: String,
      tag: String)(write: => T): Option[T] = {
    val marker = new org.apache.hadoop.fs.Path(path, s"$kind/${md5Hex(tag)}")
    val fs     = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) None
    else {
      val done = write
      fs.mkdirs(marker.getParent)
      val out = fs.create(marker, true)
      try out.write(tag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      Some(done)
    }
  }

  // ---- auto-compaction: the policy that keeps a fold tier healthy ----

  /** The files-per-unit AUTO-COMPACTION policy ([[IndexLifecycle]]
    * "Thresholds"), evaluated after every fold: each fold appends up to
    * one file set per touched cell, so at the default 32 the layout
    * compacts roughly every 32 batches. Cost of the check: ONE
    * recursive listing of the active generation — driver metadata,
    * bounded BECAUSE the policy keeps the file count low. Concurrent
    * probes are SAFE across the promote (ConcurrentMaintenanceSpec
    * drives a slow probe through an auto-compacting fold to pin this).
    */
  private def maybeAutoCompactCells(
      spark: SparkSession, path: String): Unit = {
    val cellsDir = new org.apache.hadoop.fs.Path(activeCellsDir(spark, path))
    val fs = cellsDir.getFileSystem(spark.sessionState.newHadoopConf())
    var files = 0L
    val cells = scala.collection.mutable.HashSet.empty[String]
    try {
      val it = fs.listFiles(cellsDir, true)
      while (it.hasNext) {
        val f = it.next()
        val parent = f.getPath.getParent.getName
        // skip metadata files AND anything under a metadata dir — the
        // generation-scoped `_tombstones/` rows are not cell files
        if (isDataFile(f.getPath.getName) && isDataFile(parent)) {
          files += 1
          cells += parent
        }
      }
    } catch { case _: java.io.IOException => return }
    if (IndexLifecycle.Policy.of(spark).filesPerUnitDue(files, cells.size))
      compactIvfCells(spark, path)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // the one definition of "tombstone/cell DATA file" shared by every
  // reader and the compaction purge — two drifting copies of this
  // predicate would make readers and the purge disagree on which ids
  // are tombstoned
  private[operators] def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  // ---- generation manifest: the atomic cells promote ----
  // A maintained layout's row data lives in a GENERATION directory;
  // `cells.MANIFEST` (one line: the directory's name) is the pointer
  // readers resolve. A layout that has never been compacted has no
  // manifest and resolves to the original `cells/` — so a fresh build
  // costs no extra I/O and old layouts read unchanged. Compaction
  // promotes a NEW generation dir with ONE atomic pointer flip
  // (create-then-rename-overwrite, POSIX/HDFS atomic) — the promote of
  // [[IndexLifecycle]] (reference analog: the delete+recreate
  // visibility hole of the replace strategy, etl/pipeline.py:698-716,
  // which the reference leaves open).

  private val CellsManifest = "cells.MANIFEST"

  // test seam: counts sleeps of the manifest-absence wait loop — the
  // loop must NEVER run on the hot path (manifest present, or cells/
  // standing, or an atomic-flip scheme); a spec pins that the
  // crash-before-first-flip fallback resolves with ZERO retries
  // instead of paying 8×50 ms per resolution, timing-insensitively
  private[graft] val manifestWaitRetries =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def cellsStamp(name: String): Option[Long] =
    IndexLifecycle.parseStamp(name, "cells", "cells.g")

  // manifest I/O goes through the RAW filesystem: on a local
  // ChecksumFileSystem the hidden .crc sidecar is a SECOND file, so a
  // rename-overwrite of the manifest alone leaves readers verifying new
  // bytes against the stale sidecar (observed as ChecksumException
  // under concurrent probes). HDFS checksums internally per block and
  // passes through unchanged; the manifest is one short line, so the
  // lost crc protection is irrelevant.
  private def manifestFs(
      fs: org.apache.hadoop.fs.FileSystem): org.apache.hadoop.fs.FileSystem =
    fs match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }

  /** The ACTIVE generation directory of a maintained layout — the one
    * named by `cells.MANIFEST`, or the original `cells/` for a layout
    * that has never been compacted. Every reader and every fold append
    * resolves through this; benches and specs inspecting physical
    * layout state should too.
    */
  def activeCellsDir(spark: SparkSession, path: String): String = {
    val mf = new org.apache.hadoop.fs.Path(path, CellsManifest)
    val fs = manifestFs(mf.getFileSystem(spark.sessionState.newHadoopConf()))
    // Absence of the manifest normally means "never compacted → cells/".
    // When `cells/` survives, that resolution is ALWAYS legitimate —
    // either the layout was never compacted, or a first-ever compaction
    // crashed before its flip (documented crash contract: old
    // generation stays active, and GC never collects `cells/` while
    // nothing superseded it) — so the hot path resolves immediately
    // with no retry sleeps and no globStatus RPCs. Only when cells/ is
    // ALSO gone does absence need interpretation: on a filesystem whose
    // replace primitive is NOT atomic (any scheme outside the
    // file:/hdfs: legs of [[flipCellsManifest]]) a reader could land
    // inside a delete+rename gap — if generation dirs exist the layout
    // HAS been compacted, so wait the gap out rather than guessing.
    // On file:/hdfs: the flip is atomic, so there is no gap to wait
    // for: manifest absent + cells/ absent + generations present is a
    // TORN layout, refused immediately.
    var exists = fs.exists(mf)
    if (!exists &&
        !fs.exists(new org.apache.hadoop.fs.Path(path, "cells"))) {
      def gensPresent: Boolean = {
        val st =
          fs.globStatus(new org.apache.hadoop.fs.Path(path, "cells.g*"))
        st != null && st.nonEmpty
      }
      val atomicFlip = {
        val s = fs.getUri.getScheme
        s == "file" || s == "hdfs"
      }
      var retries = 0
      while (!exists && !atomicFlip && retries < 8 && gensPresent) {
        Thread.sleep(50L); retries += 1; exists = fs.exists(mf)
        manifestWaitRetries.incrementAndGet()
      }
      // a post-promote layout whose cells/ was GC'd MUST have a
      // manifest — refusing loudly beats silently resolving a
      // generation that may no longer exist
      require(exists || !gensPresent,
        s"layout $path has generation dirs but no $CellsManifest and no " +
          "cells/ fallback (torn or non-atomic promote): refusing to " +
          "guess the active generation")
    }
    val name =
      if (!exists) "cells"
      else {
        val in  = fs.open(mf)
        val raw = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          buf.toString("UTF-8").trim
        } finally in.close()
        // a manifest naming anything but an engine-written generation
        // is corruption — fail fast, never silently read a stale dir
        require(raw == "cells" || raw.matches("cells\\.g\\d+"),
          s"corrupt $CellsManifest under $path: '$raw'")
        raw
      }
    new org.apache.hadoop.fs.Path(path, name).toString
  }

  /** Promote generation dir `gen` (a name under `path`) as the layout's
    * active cells: write the pointer to a temp sibling, then one
    * atomic replace. The replace primitive is SCHEME-specific because
    * Hadoop's rename-with-OVERWRITE is only atomic on HDFS — the
    * AbstractFileSystem default (which RawLocalFs inherits) is
    * delete(dst) THEN rename, leaving a window where the manifest does
    * not exist and a reader would fall back to a stale generation. On
    * `file:` we therefore use java.nio's ATOMIC_MOVE (a POSIX rename(2),
    * atomic w.r.t. concurrent opens); everywhere else the FileContext
    * OVERWRITE rename stands (atomic on HDFS, the deploy target).
    */
  private def flipCellsManifest(
      spark: SparkSession, path: String, gen: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val mf   = new org.apache.hadoop.fs.Path(path, CellsManifest)
    val tmp  = new org.apache.hadoop.fs.Path(
      path, s"$CellsManifest.tmp${System.nanoTime()}")
    val fs  = manifestFs(mf.getFileSystem(conf))
    val out = fs.create(tmp, true)
    try out.write(gen.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // URI scheme, not FileSystem.getScheme: RawLocalFileSystem (the
    // manifestFs unwrap target) throws UnsupportedOperationException on
    // the latter
    if (fs.getUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(fs.makeQualified(mf).toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        mf.toUri, conf)
      fc.rename(fs.makeQualified(tmp), fs.makeQualified(mf),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  // ---- deletion: the tombstone tier of the maintained-index contract ----

  /** The LIVE view of a layout's cells: physical rows minus standing
    * tombstones ([[deleteFromIvfIndex]]). Every probe/stats/rebuild
    * path reads through this, so a delete is SERVED the moment its
    * tombstone lands — no rewrite on the delete path. The tombstone
    * set is bounded between compactions — ENFORCED, not assumed:
    * [[deleteFromIvfIndex]] auto-compacts once the standing set
    * crosses `spark.graft.index.autoCompactTombstoneRows` (default
    * 1M) — so the anti-join build side is an explicit BROADCAST — the cells scan
    * never reshuffles, and the caller's cent_id partition-prune filter
    * still pushes below the join to the scan (left-side predicate).
    */
  def liveCells(spark: SparkSession, path: String): DataFrame = {
    // the manifest promote ([[compactIvfCells]]) leaves no headless
    // window — a reader resolves either the old generation or the new
    // one, both complete. The retry below covers one residual race:
    // resolving a generation whose directory the age-gated GC collects
    // between the manifest read and the parquet listing (a scan that
    // outlived `spark.graft.index.gcStaleHours` re-resolves and reads
    // the current generation). Only path-absence retries — any other
    // analysis error (corrupt layout, bad schema) must fail fast, and
    // a genuinely missing layout costs at most the ~1 s budget once.
    //
    // (cells, tombstones) resolve ATOMICALLY: the tombstone files live
    // INSIDE the generation dir ([[tombstoneDataFiles]]), so whichever
    // generation this read lands on, it applies exactly that
    // generation's standing deletes — a promote racing this
    // construction can not pair old cells with a post-purge tombstone
    // view (served-deleted rows) or vice versa (the PATH_NOT_FOUND
    // the maintenance fuzz caught at seed 31).
    var cells: DataFrame = null
    var gen: String = null
    var attempt = 0
    while (cells == null) {
      try {
        gen = activeCellsDir(spark, path)
        cells = spark.read.parquet(gen)
      } catch {
        case e: org.apache.spark.sql.AnalysisException
            if attempt < 8 &&
              (e.getCondition == "PATH_NOT_FOUND" ||
                String.valueOf(e.getMessage).contains("Path does not exist")) =>
          attempt += 1; Thread.sleep(125L)
      }
    }
    tombstonesOf(spark, path, gen).fold(cells)(t =>
      cells.join(broadcast(t.select("vec_id").distinct()), Seq("vec_id"), "left_anti"))
  }

  // Standing tombstone files of ONE generation: `<gen>/_tombstones/`
  // (the underscore prefix keeps Spark's file index from treating them
  // as cell data), plus the pre-generation-scoped legacy location
  // `<path>/tombstones/` — legacy rows are exactly the UN-consumed
  // deletes of an old-binary layout (its compactions deleted consumed
  // files), so they union in as live deletes everywhere. A dir can
  // exist with ZERO data files (crash windows) — spark.read.parquet on
  // it throws UNABLE_TO_INFER_SCHEMA, so every tombstone read goes
  // through this listing and treats the empty dir as "no tombstones"
  // (the same _/. filter compactIvfCells uses).
  private def tombstoneDataFiles(
      spark: SparkSession, path: String, genDir: String): Seq[String] = {
    def ls(dir: org.apache.hadoop.fs.Path): Seq[String] = {
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(p => isDataFile(p.getName))
        .map(_.toString)
    }
    ls(new org.apache.hadoop.fs.Path(genDir, "_tombstones")) ++
      ls(new org.apache.hadoop.fs.Path(path, "tombstones"))
  }

  private def tombstonesOf(
      spark: SparkSession, path: String, genDir: String): Option[DataFrame] = {
    val tomb = tombstoneDataFiles(spark, path, genDir)
    if (tomb.isEmpty) None else Some(spark.read.parquet(tomb: _*))
  }

  // every standing tombstone file of the layout's ACTIVE generation —
  // the spec-facing resolution (tests must not hardcode the physical
  // location, which moved when tombstones became generation-scoped)
  private[graft] def standingTombstoneFiles(
      spark: SparkSession, path: String): Seq[String] =
    tombstoneDataFiles(spark, path, activeCellsDir(spark, path))

  /** Tombstone DELETION from a maintained [[ensureIvfIndex]] /
    * [[ensureIvfPqIndex]] layout — the missing half of the "never
    * rebuilt, only maintained" contract (the lexical index has folded
    * deletes since q95; reference analog: the replace semantics of
    * `etl/pipeline.py:698-716`). `delIds` (a `vec_id` column) lands as
    * appended rows under `path/tombstones/` — O(|delete|) work,
    * index-size independent; the corpus cells are untouched and every
    * reader ([[liveCells]]) excludes the ids immediately. Physical
    * purge rides [[compactIvfCells]] (or any rebuild), which drops the
    * dead rows and clears the tombstone set in the same pass, so
    * delete∘compact ≡ rebuild-from-remainder (q126/q127 gate this
    * against the oracle; SimilaritySpec pins probe parity).
    *
    * Idempotent per `delTag` (marker under `path/dels/`, the fold-
    * ledger pattern) — and naturally idempotent even WITHOUT the
    * marker: a crash-replayed delete appends duplicate tombstone rows,
    * which anti-join semantics make harmless. Deleting an id that was
    * never indexed is likewise a harmless no-op.
    *
    * Caller contract: re-INSERTING a deleted id (delete X, fold a new
    * X) requires a compaction in between — the fold paths REJECT a
    * batch that intersects standing tombstones, because the old rows
    * are still physically present and the tombstone would kill both
    * versions. Compact purges the old rows and clears the tombstone;
    * after that the id folds as any new id.
    */
  def deleteFromIvfIndex(
      delIds: DataFrame,
      path: String,
      delTag: String): Unit = {
    val spark = delIds.sparkSession
    IndexLifecycle.guarded(spark, path, Some(s"$path|del|$delTag"),
        WriterLease.lockPathFor(path)) {
      recoverCells(spark, path)
      val ids = delIds.select(col("vec_id").cast("long").as("vec_id"))
      onceForTag(spark, path, "dels", delTag) {
        IndexLifecycle.settle(s"delete '$delTag' on $path",
          () => activeCellsDir(spark, path))(g =>
          ids.write.mode("append").parquet(s"$g/_tombstones"))
      }.foreach { gen =>
        // distinct ids, not rows: replayed/overlapping deletes append
        // duplicate tombstone rows, and the broadcast build side every
        // read pays is deduped
        if (IndexLifecycle.Policy.of(spark).tombstoneDebtDue(
            tombstonesOf(spark, path, gen)
              .fold(0L)(_.select("vec_id").distinct().count())))
          compactIvfCells(spark, path)
      }
    }
  }

  /** Cell-occupancy telemetry for a [[buildIvfIndex]] layout — the
    * rebuild advisor: per-cell LIVE vector counts (tombstoned rows
    * excluded — the advisor reasons about servable rows) over the
    * partitioned cells layout. The scan projects only the ids the
    * tombstone anti-join needs (`cent_id` is the partition column).
    * Folds ([[foldIntoIvfIndex]]) never move centroids, so occupancy
    * skew grows monotonically with drift between the ingested corpus
    * and the standing centroids — when max/mean crosses the caller's
    * threshold, rebuild ([[ensureIvfIndex]] under a new srcTag), which
    * re-seeds centroids and compacts in one pass. Shuffle: C rows of
    * (cent_id, partial count) — index-size independent.
    */
  def ivfCellStats(spark: SparkSession, path: String): DataFrame =
    liveCells(spark, path)
      .groupBy(col("cent_id").cast("long").as("cent_id"))
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("cent_id")

  /** Small-file compaction and tombstone purge for a maintained cells
    * layout — the [[IndexLifecycle.compact]] skeleton over the manifest
    * store: every [[foldIntoIvfIndex]] appends one file set per batch,
    * and this rewrites the cells to ~one file per cell (ONE shuffle of
    * the index, the inherent compaction cost; at 100 TB run it per-cell
    * or accept the rebuild, which compacts for free) into a NEW
    * generation dir promoted by one atomic `cells.MANIFEST` pointer
    * flip ([[activeCellsDir]]). Rows, centroids and the fold ledger are
    * untouched — a replayed old batch tag still no-ops after
    * compaction, and probes see identical data (SimilaritySpec pins
    * row equality and probe parity). Schema-agnostic over the cells
    * rows, so the same compactor serves BOTH maintained layouts —
    * [[buildIvfIndex]] (vector cells) and [[buildIvfPqIndex]] (code
    * cells).
    */
  def compactIvfCells(spark: SparkSession, path: String,
      force: Boolean = false): Unit =
    IndexLifecycle.compact(spark, new CellsStore(spark, path), force)

  /** The manifest-directory storage of one cells layout: generations
    * are `cells` / `cells.g<stamp>` dirs identified by their path (as
    * [[activeCellsDir]] renders it), tombstones live in
    * `<gen>/_tombstones/`, the nfiles stamp in `<gen>/_graft_nfiles`,
    * the ledgers in marker dirs beside them.
    */
  private final class CellsStore(spark: SparkSession, path: String)
      extends IndexLifecycle.Store {
    // (active generation's tombstone files incl. legacy-location ones,
    //  every entry of the legacy `<path>/tombstones/` dir)
    type Snapshot = (Seq[String], Seq[org.apache.hadoop.fs.Path])
    private val root = new org.apache.hadoop.fs.Path(path)
    private val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    private val legacyTombDir = new org.apache.hadoop.fs.Path(path, "tombstones")

    def lockKey: String = path
    def leasePath: org.apache.hadoop.fs.Path = WriterLease.lockPathFor(path)
    def recover(): Unit = recoverCells(spark, path)
    def active(): String = activeCellsDir(spark, path)

    // every cells* sibling but the manifest pointer: generations,
    // crashed rewrites, manifest temp files, legacy cells.old* /
    // cells.compact* leftovers (the last three carry no stamp). Last
    // touch = the NEWEST FILE inside (a large rewrite keeps writing
    // part files; the dir's own mtime only reflects top-level entries).
    def generations(): Seq[IndexLifecycle.Generation] =
      (try fs.listStatus(root).toSeq catch { case _: java.io.IOException => Seq.empty })
        .filter(st => st.getPath.getName.startsWith("cells") &&
          st.getPath.getName != CellsManifest)
        .map { st =>
          val n = st.getPath.getName
          new IndexLifecycle.Generation(new org.apache.hadoop.fs.Path(path, n).toString,
            cellsStamp(n), newestMtime(st.getPath, st.getModificationTime))
        }

    private def newestMtime(p: org.apache.hadoop.fs.Path, own: Long): Long = {
      var m = own
      try {
        val it = fs.listFiles(p, true)
        while (it.hasNext) m = math.max(m, it.next().getModificationTime)
      } catch { case _: java.io.IOException => }
      m
    }

    def drop(gen: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(gen), true)

    def hasTombstones(gen: String): Boolean = {
      val (tomb, legacy) = snapshot(gen)
      tomb.nonEmpty || legacy.nonEmpty
    }
    def fileCounts(gen: String): Seq[Long] =
      Seq(countCellDataFiles(fs, new org.apache.hadoop.fs.Path(gen)))
    def stampedCounts(gen: String): Option[Seq[Long]] =
      readNFilesStamp(fs, new org.apache.hadoop.fs.Path(gen))
    def writeStamp(gen: String, counts: Seq[Long]): Unit =
      writeNFilesStamp(fs, new org.apache.hadoop.fs.Path(gen), counts.mkString(","))

    def snapshot(gen: String): Snapshot =
      (tombstoneDataFiles(spark, path, gen),
        if (fs.exists(legacyTombDir)) fs.listStatus(legacyTombDir).toSeq.map(_.getPath)
        else Seq.empty)
    def release(s: Snapshot): Unit = ()

    // ONE shuffle of the index, the inherent compaction cost; the ≤C-row
    // centroid table is the partition count, so each output task holds
    // ~one whole cell and writes ~one file for it
    def rewrite(gen: String, s: Snapshot): String = {
      val out = new org.apache.hadoop.fs.Path(path, s"cells.g${IndexLifecycle.newStamp()}")
      val raw = spark.read.parquet(gen)
      val cells =
        if (s._1.isEmpty) raw
        else raw.join(
          broadcast(spark.read.parquet(s._1: _*).select("vec_id").distinct()),
          Seq("vec_id"), "left_anti")
      val c = spark.read.parquet(s"$path/centroids").count().toInt
      cells.repartition(math.max(c, 1), col("cent_id"))
        .write.partitionBy("cent_id").parquet(out.toString)
      out.toString
    }

    def promote(gen: String): Unit =
      flipCellsManifest(spark, path, new org.apache.hadoop.fs.Path(gen).getName)

    // COPY (never move — old-generation scans keep their own view)
    // every tombstone file the snapshot did not consume; any file
    // visible here landed before the flip
    def forwardLate(old: String, gen: String, s: Snapshot): Unit = {
      val late = tombstoneDataFiles(spark, path, old).filterNot(s._1.toSet)
      if (late.nonEmpty) {
        val dstDir = new org.apache.hadoop.fs.Path(gen, "_tombstones")
        fs.mkdirs(dstDir)
        late.foreach { f =>
          val src = new org.apache.hadoop.fs.Path(f)
          org.apache.hadoop.fs.FileUtil.copy(fs, src, fs,
            new org.apache.hadoop.fs.Path(dstDir, s"fwd_${src.getName}"),
            false, spark.sessionState.newHadoopConf())
        }
        log.warn(s"compactIvfCells($path): forwarded ${late.size} " +
          "late tombstone file(s) from the superseded generation — a " +
          "cross-process delete raced this rewrite outside the writer " +
          "lease")
      }
    }

    // purge only the LEGACY-location files of the snapshot (a one-time
    // migration); the superseded generation's own tombstones stay with
    // its dir. Non-recursive rmdir: fails closed if a cross-process
    // delete committed a tombstone since the listing.
    def consumed(old: String, s: Snapshot): Unit = {
      s._2.foreach(fs.delete(_, false))
      if (s._2.nonEmpty && fs.exists(legacyTombDir) &&
          fs.listStatus(legacyTombDir).isEmpty)
        fs.delete(legacyTombDir, false)
    }
  }

  /** Data files of a cells generation dir (recursive), EXCLUDING the
    * `_tombstones/` side dir and `_`/`.`-prefixed bookkeeping files —
    * the quantity the compaction no-op skip compares against the
    * nfiles stamp. One recursive listing; never a Spark job.
    */
  private def countCellDataFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Long = {
    val it = fs.listFiles(dir, true)
    var n = 0L
    while (it.hasNext) {
      val f    = it.next()
      val name = f.getPath.getName
      val inSide = f.getPath.toString.contains("/_tombstones/")
      if (!inSide && isDataFile(name)) n += 1
    }
    n
  }

  private def nFilesStampPath(gen: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(gen, "_graft_nfiles")

  /** The post-rewrite data-file count a compaction stamped into its
    * generation dir; None for a generation without one (gen-0 layouts,
    * pre-stamp binaries) or a garbled one — those always rewrite.
    */
  private def readNFilesStamp(
      fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path): Option[Seq[Long]] =
    try {
      if (!fs.exists(nFilesStampPath(gen))) None
      else {
        val in = fs.open(nFilesStampPath(gen))
        try IndexLifecycle.parseCounts(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
    } catch {
      // a real FS fault must surface in the log, not silently force rewrites
      case e: java.io.IOException =>
        log.warn(s"readNFilesStamp(${nFilesStampPath(gen)}): ${e.getMessage}")
        None
    }

  private def writeNFilesStamp(
      fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path,
      stamp: String): Unit = {
    // temp-name + rename: fs.create(overwrite) is not atomic, and a
    // crash mid-write must leave either no stamp (always-rewrite) or a
    // complete one — never a truncated file
    val tmp = new org.apache.hadoop.fs.Path(gen, s"._graft_nfiles.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(nFilesStampPath(gen), false)
    if (!fs.rename(tmp, nFilesStampPath(gen))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(
        s"could not promote nfiles stamp $tmp -> ${nFilesStampPath(gen)}")
    }
  }

  /** Housekeeping under the layout guard, run by every maintenance
    * entry point. With the manifest promote there is no crash state to
    * REPAIR, so this is (a) retention ([[IndexLifecycle.retire]] over
    * every cells* sibling: superseded generations, crashed rewrites,
    * legacy `cells.old*`/`cells.compact*` debris), (b) removal of an
    * aged, EMPTY legacy `tombstones/` dir, and (c) the one legacy heal
    * kept for layouts written by the pre-manifest binary: a headless
    * layout (no manifest, no `cells/`) restores its newest `cells.old*`
    * sibling instead of letting ensure* rebuild and silently discard
    * the fold ledger.
    */
  private[operators] def recoverCells(spark: SparkSession, path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val active =
      try activeCellsDir(spark, path)
      catch { case _: java.io.IOException => return }
    val activeP = new org.apache.hadoop.fs.Path(active)
    val exists =
      try fs.exists(activeP) catch { case _: java.io.IOException => return }
    val store = new CellsStore(spark, path)
    if (!exists)
      store.generations().map(g => new org.apache.hadoop.fs.Path(g.id))
        .filter(_.getName.startsWith("cells.old"))
        .sortBy(_.getName).lastOption
        .foreach(old => fs.rename(old, activeP))
    else {
      val cutoff = System.currentTimeMillis() -
        IndexLifecycle.Policy.of(spark).gcStaleHours * 3600 * 1000
      val tombDir = new org.apache.hadoop.fs.Path(path, "tombstones")
      try {
        if (fs.exists(tombDir) && fs.listStatus(tombDir).isEmpty &&
            fs.getFileStatus(tombDir).getModificationTime < cutoff)
          fs.delete(tombDir, false)
      } catch { case _: java.io.IOException => }
      IndexLifecycle.retire(spark, store, Some(active), Set.empty)
    }
  }

  /** Rebuild advisor over a maintained (built + folded) IVF layout:
    * ONE row of integer drift metrics plus the rebuild decision under
    * the caller's thresholds. `skew_permille` = max-cell occupancy over
    * the mean (n/C) in permille — folds never move centroids, so a
    * drifting ingest stream piles into few cells and this ratio grows;
    * `new_mass_permille` = folded fraction of the index — past ~half
    * the corpus, the one-pass rebuild (re-seed, reassign, compact)
    * costs less than the recall it recovers. `corpusN` is the build-
    * time corpus count, INGEST-LEDGER METADATA ([[ensureCorpusStats]]
    * — a memoized sidecar read, never a scan). Plan: the zero-column
    * occupancy scan of [[ivfCellStats]] aggregated to one row, cross-
    * joined with the ≤C-row centroid count — shuffle is C count rows,
    * index-size independent, so an ingestion tier can run this after
    * every fold.
    */
  def ivfRebuildAdvice(
      spark: SparkSession,
      path: String,
      corpusN: Long,
      skewPermilleMax: Long = 2000L,
      newMassPermilleMax: Long = 500L): DataFrame =
    ivfCellStats(spark, path)
      .agg(sum(col("n_vecs")).as("n_vecs"),
        count(lit(1)).as("n_cells"),
        max(col("n_vecs")).as("max_cell"))
      .crossJoin(
        spark.read.parquet(s"$path/centroids").agg(count(lit(1)).as("c")))
      .withColumn("skew_permille",
        expr("(max_cell * c * 1000) div n_vecs"))
      .withColumn("new_mass_permille",
        expr(s"((n_vecs - ${corpusN}L) * 1000) div n_vecs"))
      .withColumn("rebuild",
        when(col("skew_permille") >= skewPermilleMax ||
          col("new_mass_permille") >= newMassPermilleMax, 1L).otherwise(0L))
      .select("n_vecs", "n_cells", "c", "max_cell",
        "skew_permille", "new_mass_permille", "rebuild")

  /** Full IVF rebuild FROM THE INDEX ITSELF — what [[ivfRebuildAdvice]]
    * recommends: re-derive C from the maintained row count, re-seed
    * centroids from the indexed quantized vectors (`vec_id < C`, the
    * [[buildIvfIndex]] seeding rule), reassign every row, and promote
    * the new layout at `dest` with the same temp-sibling atomic rename
    * as [[ensureIvfIndex]]. Reading the CELLS (not the source table)
    * matters at 100 TB: the index is self-contained, so maintenance
    * never re-ingests or re-quantizes the source — and because folds
    * preserve exactly (vec_id, q, nrm), rebuild-from-index ≡
    * build-from-source over the union corpus (SimilaritySpec pins
    * byte-equality of cells and centroids; q115's oracle re-derives
    * the probe from the raw table). Cost: one broadcast assignment
    * pass + the partitioned write — same as the original build, and it
    * compacts fold small-files for free. Idempotent per `dest`
    * (marker + lock), skipped when a promoted layout already exists.
    */
  def rebuildIvfIndex(
      spark: SparkSession, path: String, dest: String): String = {
    promoteBuilt(spark, dest, None, path, "rebuilt IVF layout") { tmp =>
      // rebuild from the LIVE rows: tombstoned ids drop out here, so
      // rebuild-from-index ≡ build-from-remainder and the new layout
      // starts with an empty tombstone set
      val b = liveCells(spark, path)
        .select(col("vec_id"), col("q"), col("nrm"))
      val c = nCentroidsForCorpus(b.count())
      val seeds = b.filter(col("vec_id") < c)
        .select(col("vec_id").as("cent_id"),
          col("q").as("cvec"), col("nrm").as("cnrm"))
      seeds.write.mode("overwrite").parquet(s"$tmp/centroids")
      assignToCentroids(b, spark.read.parquet(s"$tmp/centroids"))
        .write.mode("overwrite").partitionBy("cent_id")
        .parquet(s"$tmp/cells")
    }
    dest
  }

  // ---- product quantization (PQ): m subspaces × ks-codeword books ----

  /** Quantized subvector rows (vec_id, sub, sq, snrm): each vector
    * split into `m` contiguous `subDim`-wide slices of its fixed-point
    * quantization — the PQ working form. Map-only (explode by a
    * literal m-array, slice, fused integer dot); no shuffle.
    */
  private def pqSubvectors(
      embeddings: DataFrame, m: Int, subDim: Int): DataFrame =
    embeddings
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .select(col("vec_id"),
        explode(array((0 until m).map(lit(_)): _*)).as("sub"), col("q"))
      .withColumn("sq", slice(col("q"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("snrm", VectorFunctions.qdot(col("sq"), col("sq")))
      .select("vec_id", "sub", "sq", "snrm")

  /** Per-subspace codebooks (sub, code_id, cvec, cnrm): the first `ks`
    * corpus vectors' subvectors, the same deterministic seeding rule as
    * [[buildIvfIndex]] centroids. m·ks rows — a codebook is FIXED-SIZE
    * compression state (independent of corpus size, unlike IVF's
    * adaptive C), always broadcastable.
    */
  def pqCodebooks(
      embeddings: DataFrame,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): DataFrame =
    pqSubvectors(embeddings.filter(col("vec_id") < ks), m, subDim)
      .select(col("sub"), col("vec_id").as("code_id"),
        col("sq").as("cvec"), col("snrm").as("cnrm"))

  /** Per-(vector, subspace) nearest codeword by EXACT integer squared
    * L2 — ‖a−b‖² = na + nb − 2·dot, all BIGINT, so code assignment is
    * hash-stable on every engine (ties → smaller code_id via the
    * struct-min). Plan: broadcast the m·ks codebook against the
    * map-only subvector rows, then ONE map-side-combinable groupBy of
    * n·m (vec_id, sub, code) triples — the corpus vectors themselves
    * never ride a shuffle.
    */
  def pqAssignments(
      embeddings: DataFrame, m: Int, ks: Int, subDim: Int): DataFrame =
    pqSubvectors(embeddings, m, subDim)
      .join(broadcast(pqCodebooks(embeddings, m, ks, subDim)), Seq("sub"))
      .withColumn("l2", col("snrm") + col("cnrm") -
        lit(2L) * VectorFunctions.qdot(col("sq"), col("cvec")))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("l2"), col("code_id")))
        .getField("code_id").as("code_id"))

  /** The m·ks codebook as ONE broadcastable row: `books` =
    * array<struct<sub, code_id, cvec, cnrm>> sorted ascending by
    * (sub, code_id) — the shape [[graft.plans.PqArgminIdxExpr]]
    * consumes. A codebook is fixed-size compression state (~20 KB at
    * the defaults), so the cross join below is a 1-row broadcast BNL
    * and the corpus side stays map-only.
    */
  private def pqBooksRow(
      embeddings: DataFrame, m: Int, ks: Int, subDim: Int): DataFrame =
    booksRowOf(pqCodebooks(embeddings, m, ks, subDim))

  /** Any (sub, code_id, cvec, cnrm) codebook frame — freshly derived or
    * a STANDING `$path/codebooks` table read back from parquet — as the
    * one sorted broadcast row [[graft.plans.PqArgminIdxExpr]] consumes.
    */
  private def booksRowOf(cb: DataFrame): DataFrame =
    cb.groupBy()
      .agg(sort_array(collect_list(struct(
        col("sub").cast("long").as("sub"), col("code_id"),
        col("cvec"), col("cnrm")))).as("books"))

  /** Codes in ARRAY form — (vec_id, codes: array<bigint> ordered by
    * sub) — via the fused argmin kernel: the shape the layout builders
    * write into IVF-PQ cell files. Map-only over `quantized`
    * (vec_id, q): a 1-row broadcast of the sorted codebook and one
    * [[graft.plans.PqArgminIdxExpr]] pass; the join+agg form this
    * replaces ([[pqAssignments]] + collect_list regroup) pushed
    * n·m·ks rows through a BroadcastHashJoin and TWO corpus-sized
    * aggregation exchanges to compute per-row argmins (guide §1.2 /
    * §2.4 — this is the BUILD path, so at 100 TB that was 256× the
    * corpus through join/agg machinery on every ingest). Codes are
    * identical: same exact BIGINT l2 ordering, ties to the smaller
    * code_id (spec-pinned against the reference in SimilaritySpec).
    */
  private def pqCodesFused(
      quantized: DataFrame, booksRow: DataFrame,
      m: Int, subDim: Int): DataFrame =
    withPqCodes(quantized, booksRow, m, subDim).select("vec_id", "codes")

  /** Append the fused-argmin `codes` column to ANY frame carrying a
    * quantized `q` — the composable form the builders use so cent_id
    * assignment and PQ encoding ride ONE map-only pass (an n-row
    * vec_id join between two now-map-only sides would re-introduce the
    * very exchanges the kernels removed).
    */
  private def withPqCodes(
      df: DataFrame, booksRow: DataFrame, m: Int, subDim: Int): DataFrame =
    df.crossJoin(broadcast(booksRow))
      .withColumn("_ci",
        graft.plans.PqArgminIdxExpr(col("q"), col("books"), m, subDim))
      .withColumn("codes",
        transform(col("_ci"), i =>
          element_at(col("books"), (i + lit(1L)).cast("int"))
            .getField("code_id")))
      .drop("_ci", "books")

  /** PQ encoding: one row per vector with its m codeword ids as wide
    * BIGINT columns (c0..c{m-1}) — at the defaults each 64-float
    * vector compresses to m·log2(ks) bits (4 bytes at the defaults),
    * the form a 100 TB corpus ships to the serving tier.
    *
    * Plan shape (r21): MAP-ONLY over the corpus — quantize, a 1-row
    * broadcast of the sorted codebook, and the fused argmin kernel
    * ([[graft.plans.PqArgminIdxExpr]]); the only exchange left is the
    * output ORDER BY. The previous explode × broadcast-join ×
    * min(struct) × pivot form pushed n·m·ks (=256× the corpus at the
    * defaults) intermediate rows through join+agg machinery and paid
    * two n·m-row aggregation shuffles to compute a per-row argmin —
    * assignments are independent per vector, so none of that crosses
    * rows (guide §1.2/§2.4). Exact same codes: identical BIGINT l2
    * ordering, ties to the smaller code_id (spec-pinned equal to
    * [[pqAssignments]]).
    */
  def pqEncode(
      embeddings: DataFrame,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): DataFrame = {
    val cols = col("vec_id") +: (0 until m).map { s0 =>
      element_at(col("books"),
        (element_at(col("_ci"), s0 + 1) + 1L).cast("int"))
        .getField("code_id").as(s"c$s0")
    }
    embeddings
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .crossJoin(broadcast(pqBooksRow(embeddings, m, ks, subDim)))
      .withColumn("_ci",
        graft.plans.PqArgminIdxExpr(col("q"), col("books"), m, subDim))
      .select(cols: _*)
      .orderBy("vec_id")
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: the query keeps its
    * exact subvectors; each corpus vector is its reconstruction from
    * codewords, so the approximate distance is a SUM OF m TABLE
    * LOOKUPS. Plan: build the m·ks-entry lookup table (query × each
    * codeword's exact squared L2) and broadcast it — the scan then
    * touches only the CODES (n·m int triples, never the vectors), one
    * map-side-combinable sum per vec_id, TakeOrdered top-k. This is
    * the PQ serving contract at 100 TB: vectors stay in cold storage,
    * the hot path reads ~4-byte codes. All-integer arithmetic → ties
    * broken by vec_id identically on every engine.
    */
  def pqAdcTopK(
      embeddings: DataFrame, queryId: Long, k: Int,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): DataFrame = {
    val qs = pqSubvectors(
        embeddings.filter(col("vec_id") === queryId), m, subDim)
      .select(col("sub"), col("sq").as("qv"), col("snrm").as("qn"))
    // one broadcast row carrying BOTH the sorted codebook and the
    // query's per-codeword lookup table in the SAME (sub, code_id)
    // order — (sub, code_id) is unique, so the two sort_arrays align
    // index-for-index and the argmin's winner index reads its ADC
    // contribution directly (r21 map-only shape: the scan touches
    // codes-to-be, never rides a join or an aggregation exchange; the
    // previous form shipped n·m assignment rows through a broadcast
    // LUT join plus a sum shuffle)
    val one = pqCodebooks(embeddings, m, ks, subDim)
      .join(broadcast(qs), Seq("sub"))
      .withColumn("pd", col("qn") + col("cnrm") -
        lit(2L) * VectorFunctions.qdot(col("qv"), col("cvec")))
      .groupBy()
      .agg(
        sort_array(collect_list(struct(
          col("sub").cast("long").as("sub"), col("code_id"),
          col("cvec"), col("cnrm")))).as("books"),
        sort_array(collect_list(struct(
          col("sub").cast("long").as("sub"), col("code_id"),
          col("pd")))).as("lutv"))
    embeddings
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .crossJoin(broadcast(one))
      .withColumn("_ci",
        graft.plans.PqArgminIdxExpr(col("q"), col("books"), m, subDim))
      .withColumn("adist",
        aggregate(col("_ci"), lit(0L), (acc, i) =>
          acc + element_at(col("lutv"), (i + 1L).cast("int")).getField("pd")))
      // a missing query id yields an empty LUT → null codes; the
      // join+agg form it replaces returned no rows there — match it
      .filter(col("adist").isNotNull)
      .select("vec_id", "adist")
      .orderBy(col("adist").asc, col("vec_id"))
      .limit(k)
  }

  // ---- IVF-PQ: partition-pruned cells storing PQ codes ----

  /** Build the composed IVF-PQ layout — THE standard serving design at
    * 100 TB: IVF gives partition pruning (a probe touches nProbe/C of
    * the corpus), PQ gives compression (a pruned cell row is vec_id +
    * m code ids, ~4 bytes of payload at the defaults — the raw vectors
    * never reach the serving tier). Cells hold (vec_id, codes)
    * partitioned by cent_id; the ≤C-row centroid table and the m·ks
    * codebooks land beside them. Build cost: the IVF assignment pass,
    * the PQ assignment pass, and one n-row join of the two id streams
    * — all corpus-linear, pay-once.
    */
  def buildIvfPqIndex(
      embeddings: DataFrame,
      path: String,
      nCentroids: Int,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): Unit = {
    val b = embeddings
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    val cents = b.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"),
        col("q").as("cvec"), col("nrm").as("cnrm"))
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    pqCodebooks(embeddings, m, ks, subDim)
      .write.mode("overwrite").parquet(s"$path/codebooks")
    // ONE map-only pass writes the cells: centroid assignment (fused
    // argmax kernel) and PQ encoding (fused argmin kernel) both ride
    // the same projection over the corpus scan. The previous form paid
    // the n·m·ks codebook join blowup, two corpus-sized aggregation
    // shuffles (pqAssignments + collect_list regroup), the assignment's
    // ×C blowup + vector-carrying groupBy AND an n-row vec_id join to
    // zip the two — at 100 TB, five corpus-scale exchanges on every
    // build, all gone
    withPqCodes(assignToCentroids(b, readCentroids(embeddings, path)),
        pqBooksRow(embeddings, m, ks, subDim), m, subDim)
      .select("vec_id", "cent_id", "codes")
      .write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/cells")
  }

  // read-back of the just-written centroid table so the assignment and
  // the probe rank against the SAME bytes (not a re-planned frame)
  private def readCentroids(embeddings: DataFrame, path: String): DataFrame =
    embeddings.sparkSession.read.parquet(s"$path/centroids")

  /** Idempotent IVF-PQ layout ([[ensureIvfIndex]]'s contract for the
    * composed index): C adaptive from the staged corpus count, keyed by
    * srcTag + data fingerprint + schema, atomic promote.
    */
  def ensureIvfPqIndex(
      embeddings: DataFrame, srcTag: String,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): (String, Int) =
    ensureLayout(embeddings, srcTag, "ivfpq", s"|m=$m|ks=$ks|sd=$subDim")((tmp, c) =>
      buildIvfPqIndex(embeddings, tmp, nCentroids = c,
        m = m, ks = ks, subDim = subDim))

  /** Probe an IVF-PQ layout: [[ivfProbe]]'s driver-side centroid
    * ranking prunes the cells scan to nProbe partitions, then ADC runs
    * as a MAP-ONLY expression — the m·ks lookup table is computed
    * driver-side from the tiny codebook file and inlined as literal
    * arrays, so each scanned row costs m array-index adds, no join, no
    * shuffle beyond the top-k partials. The scan reads (vec_id, codes)
    * only: at 100 TB the serving tier holds ~4 bytes per vector and
    * the exact vectors stay in cold storage (re-rank there if recall
    * demands it). All-BIGINT distances; ties broken by vec_id — the
    * q117 portability contract.
    */
  def ivfPqProbe(
      spark: SparkSession,
      path: String,
      queryVec: Seq[Float],
      k: Int,
      nProbe: Int = 4,
      exclude: Option[Long] = None,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    val (qq, _, probeIds) = probeCells(spark, path, queryVec, nProbe)
    // the ADC lookup table: exact integer ‖q_sub − codeword‖² per
    // (sub, code), from the m·ks-row codebook file — driver metadata
    val lut = Array.fill(m)(collection.mutable.Map.empty[Long, Long])
    spark.read.parquet(s"$path/codebooks").collect().foreach { r =>
      val s0   = r.getAs[Number]("sub").intValue()
      val cv   = r.getAs[collection.Seq[Long]]("cvec")
      val cnrm = r.getAs[Long]("cnrm")
      val qs   = qq.slice(s0 * subDim, s0 * subDim + subDim)
      val dot  = qs.iterator.zip(cv.iterator).map { case (a, b) => a * b }.sum
      val qsn  = qs.map(x => x * x).sum
      lut(s0)(r.getAs[Long]("code_id")) = qsn + cnrm - 2 * dot
    }
    val lutCols = (0 until m).map { s0 =>
      val arr = (0L until lut(s0).keys.max + 1)
        .map(cid => lut(s0).getOrElse(cid, Long.MaxValue / (2 * m)))
      element_at(typedlit(arr), col("codes").getItem(s0).cast("int") + 1)
    }
    val cells = liveCells(spark, path)
      .filter(col("cent_id").isin(probeIds.toIndexedSeq: _*))
    exclude.fold(cells)(id => cells.filter(col("vec_id") =!= id))
      .withColumn("adist", lutCols.reduce(_ + _))
      .orderBy(col("adist").asc, col("vec_id"))
      .select("vec_id", "adist")
      .limit(k)
  }

  /** Incremental ingestion into a standing [[ensureIvfPqIndex]] layout
    * — [[foldIntoIvfIndex]]'s contract for the COMPOSED index: the new
    * batch is PQ-encoded against the STANDING codebooks (broadcast m·ks
    * rows, never re-trained — the PQ analog of never moving centroids)
    * and assigned to the standing IVF centroids, then appended as new
    * cell files of (vec_id, codes). O(|batch|) rows written, corpus
    * cells untouched, idempotent per batchTag via the same fold-ledger
    * markers — so the serving tier ingests vectors at code size
    * (~4 bytes each at the defaults) with zero index rewrites, and
    * drift is governed by the same advisor/rebuild pair as plain IVF.
    */
  /** The IVF-PQ fold's entire DISTRIBUTED half, exposed for the
    * shuffle/plan tooling (p05): quantize the batch, assign to the
    * layout's STANDING centroids and encode against its STANDING
    * codebooks (never re-derived from the batch — the PQ analog of
    * never moving centroids), shaped for the cell append. ZERO
    * exchanges (r21): assignment ([[graft.plans.IvfArgmaxCosExpr]])
    * and encoding ([[graft.plans.PqArgminIdxExpr]]) are both 1-row
    * broadcast attaches fused into one map-only projection — the r20
    * form paid a ×ks codebook join blowup, two batch-sized aggregation
    * shuffles, the assignment's vector-carrying argmax groupBy AND an
    * n-row zip join of the two halves.
    */
  def pqFoldEncoding(
      newVecs: DataFrame, path: String,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    val spark = newVecs.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    val cb = spark.read.parquet(s"$path/codebooks")
    val b = newVecs
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    withPqCodes(assignToCentroids(b, cents), booksRowOf(cb), m, subDim)
      .select("vec_id", "cent_id", "codes")
  }

  def foldIntoIvfPqIndex(
      newVecs: DataFrame,
      path: String,
      batchTag: String,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): Unit =
    foldCells(newVecs, path, batchTag)(pqFoldEncoding(newVecs, path, m, subDim))

  /** Batched probe of an [[ensureIvfPqIndex]] layout — [[
    * ivfProbeBatchDf]]'s serving-throughput shape for the COMPRESSED
    * index: N queries answered by ONE partition-pruned scan of code
    * rows. Centroid ranking is the same distributed |batch|·C pass +
    * per-query window; the ADC lookup table becomes a BROADCAST FRAME
    * (query_id, sub, code_id, pd) of |batch|·m·ks exact integer
    * distances (the distributed analog of the single-probe literal
    * arrays — m·ks ≈ 10³ rows/query at the defaults, so ~10⁴-query
    * batches stay broadcastable; shard beyond that). Scanned code rows fan out
    * only to the queries probing their cell, explode to m (sub, code)
    * pairs, join the LUT map-side, and partial-agg back to one adist
    * per (query, vec) before the per-query top-k window — every
    * exchange bounded by batch·nProbe·cellsize·m SMALL rows, never the
    * corpus, and the scan still reads ~4-byte payloads.
    * Output: (query_id, rk, vec_id, adist), all BIGINT.
    */
  def ivfPqProbeBatchDfOwned(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true,
      m: Int = 4, subDim: Int = 16): (DataFrame, graft.util.Checkpoints.Staged) = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    val qdf = queries
      .select(col("query_id"),
        VectorFunctions.quantize(col("emb")).as("qvec"))
      .withColumn("qn", VectorFunctions.qdot(col("qvec"), col("qvec")))
    val pw = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("cent_id").desc)
    // shed qvec/qn BEFORE the window's partitionBy(query_id) exchange
    // (the ivfProbeBatchDfOwned rationale) — the PQ probe map never
    // needs them back, so no re-join either
    val staged = graft.util.Checkpoints.stageOwned(
      qdf.crossJoin(broadcast(cents))
        .withColumn("pcos",
          VectorFunctions.qdot(col("cvec"), col("qvec")).cast("double") /
            sqrt(col("cnrm").cast("double") * col("qn").cast("double")))
        .select(col("query_id"), col("cent_id"), col("pcos"))
        .withColumn("pr", row_number().over(pw))
        .filter(col("pr") <= nProbe)
        .select(col("query_id"), col("cent_id")))
    val probeMap = staged.df
    val probedCells: Seq[Long] =
      probeMap.select("cent_id").distinct().as[Long].collect().toIndexedSeq
    // the batch LUT: per-query subvectors × the standing codebooks
    val lut = qdf
      .select(col("query_id"),
        explode(array((0 until m).map(lit(_)): _*)).as("sub"), col("qvec"))
      .withColumn("qsv", slice(col("qvec"), col("sub") * subDim + 1, lit(subDim)))
      .withColumn("qsn", VectorFunctions.qdot(col("qsv"), col("qsv")))
      .join(broadcast(spark.read.parquet(s"$path/codebooks")), Seq("sub"))
      .withColumn("pd", col("qsn") + col("cnrm") -
        lit(2L) * VectorFunctions.qdot(col("qsv"), col("cvec")))
      .select("query_id", "sub", "code_id", "pd")
    val cells = liveCells(spark, path)
      .filter(col("cent_id").isin(probedCells: _*))
      .join(broadcast(probeMap), Seq("cent_id"))
    val cand =
      if (excludeSelf) cells.filter(col("vec_id") =!= col("query_id"))
      else cells
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id"))
    val out = cand
      .select(col("query_id"), col("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code_id")))
      .join(broadcast(lut), Seq("query_id", "sub", "code_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("pd")).as("adist"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adist"))
    (out, staged)
  }

  /** [[ivfPqProbeBatchDfOwned]] over an in-memory query batch, staged
    * block released implicitly with the session (convenience form —
    * long-lived serving drivers should use the Owned variant).
    */
  def ivfPqProbeBatch(
      spark: SparkSession,
      path: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    import spark.implicits._
    ivfPqProbeBatchDfOwned(spark, path,
      queries.toDF("query_id", "emb"), k, nProbe, excludeSelf, m, subDim)._1
  }

  /** [[ivfPqProbe]] + EXACT RE-RANK — the full production recipe: the
    * compressed index nominates `kAdc` candidates by ADC (cheap, code-
    * only scan), then the exact vectors for just those ids are fetched
    * from the SOURCE table and re-ranked by the portable quantized
    * cosine. Raw ADC is a coarse sieve on isotropic vectors (IvfPqBench
    * measures recall@10 alone ~0.2); the re-rank recovers exactness for
    * whatever the sieve caught, which rises quickly with kAdc — at the
    * defaults (ks=256 books, kAdc=1000) the measured sf10 ladder
    * reaches 0.985 recall@10, exactly the plain-IVF nProbe=4 pruning
    * ceiling, at 4.3× compression and the same probe latency
    * (BENCH_ivfpq.json); dial ks/kAdc down to trade recall for
    * compression/candidate-lookup cost. Scale shape: the candidate ids are a ≤kAdc
    * driver list (same sanctioned-collect class as the centroid
    * ranking) pushed into the source scan as an `IN` filter — parquet
    * row-group pruning serves a point lookup, or the q75 bucketed
    * layout / a row store at 100 TB; the exact vectors touched are
    * kAdc rows, never the corpus.
    */
  def ivfPqProbeRerank(
      spark: SparkSession,
      path: String,
      embeddings: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      kAdc: Int = 1000,
      nProbe: Int = 4,
      exclude: Option[Long] = None,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    val candIds =
      ivfPqProbe(spark, path, queryVec, kAdc, nProbe, exclude, m, subDim)
      .select("vec_id").collect().map(_.getLong(0)).toIndexedSeq
    val qq = queryVec.map { f =>
      val d = f.toDouble * 1000
      if (d >= 0) math.round(d) else -math.round(-d)
    }
    val qn   = qq.map(x => x * x).sum
    val qCol = array(qq.map(lit): _*)
    embeddings
      .filter(col("vec_id").isin(candIds: _*))
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
      .withColumn("dot", VectorFunctions.qdot(col("q"), qCol))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * lit(qn.toDouble)))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot")
      .limit(k)
  }

  /** Oracle-checkable cosine near-dup pairs: LSH bucket collisions over
    * quantized vectors; the threshold `cos ≥ m/1000` is decided by the
    * exact integer cross-multiplication  dot>0 ∧ den·dot² ≥ num·na·nb
    * with num/den = (m/1000)² reduced — no floating point anywhere.
    *
    * Scale knobs: pass `nBits = nBitsForOccupancy(count)` so bucket
    * occupancy (and with it the quadratic-per-bucket candidate join)
    * stays constant as the corpus grows, and `maxBucketSize` as the
    * skew guard for CLUSTERED corpora — a bucket over the cap (a
    * near-identical pile: boilerplate embeddings) is dropped whole,
    * the same hot-key semantics as the MinHash/winnow caps
    * (SkewStressSpec). Uniform corpora need the bits knob, clustered
    * ones the cap; a 100 TB run wants both.
    */
  def cosineNearDupPairsPortable(
      embeddings: DataFrame,
      minCosineMilli: Int = 400,
      nBits: Int = 6,
      seed: Long = 42L,
      dim: Int = 64,
      maxAbsValue: Double = 1.0,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val (num, den) = cosThresholdFraction(minCosineMilli)
    // overflow guard for the exact integer comparison below: with
    // |v_i| ≤ maxAbsValue the quantized components are ≤ 1000·maxAbsValue,
    // so |dot| ≤ dim·(1000·maxAbsValue)² =: D and the largest product is
    // max(den·dot², num·nrm_l·nrm_r) ≤ max(num,den)·D². Spark WRAPS on
    // signed-64 overflow (silently wrong pairs) while the oracle engine
    // raises — so reject thresholds whose reduced fraction is too fine
    // (e.g. 401 → den=1_000_000) instead of diverging. Thresholds that are
    // multiples of 100 (or any m whose (m/1000)² reduces to a small
    // fraction) always pass.
    val maxDot = (dim.toLong * math.pow(1000.0 * maxAbsValue, 2)).toLong max 1L
    val headroom = Long.MaxValue / maxDot / maxDot
    require(num <= headroom && den <= headroom,
      s"minCosineMilli=$minCosineMilli reduces to $num/$den; with dim=$dim and " +
        s"|value|<=$maxAbsValue the products den*dot^2 / num*nrm_l*nrm_r can exceed " +
        s"2^63 (need num,den <= $headroom). Pick a coarser threshold " +
        "(e.g. a multiple of 100) or reduce dim/maxAbsValue.")
    val planes = VectorFunctions.quantPlanes(seed, dim, nBits)
    // spread before the quantize/bucket/norm kernels — the hyperplane
    // buckets are nBits higher-order-function dot products per row and
    // must not run on the scan's (possibly single) partition; the
    // explicit count is AQE-proof (see Dedup.spread). Measured 2.2 s →
    // 0.9 s at sf0.1.
    val b0 = Dedup.spread(embeddings, "vec_id")
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"),
        VectorFunctions.hyperplaneBucketQ(col("q"), planes).as("bucket"),
        VectorFunctions.qdot(col("q"), col("q")).as("nrm"))
    val b = maxBucketSize.fold(b0) { cap =>
      b0.withColumn("_bn",
          count(lit(1)).over(Window.partitionBy("bucket")))
        .filter(col("_bn") <= cap)
        .drop("_bn")
    }
    val l = b.as("l")
    val r = b.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
      .withColumn("dot", VectorFunctions.qdot(col("l.q"), col("r.q")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(den) >= lit(num) * col("l.nrm") * col("r.nrm"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"), col("dot"))
  }

  /** Multi-table (banded) hyperplane-LSH cosine near-dup pairs — the
    * RECALL answer at scale. A single K-bit table's collision
    * probability for a true near-dup pair is p^K (p = 1 − θ/π per
    * hyperplane), so the occupancy-correct K for a large corpus
    * ([[nBitsForOccupancy]]) drives single-table recall toward zero;
    * OR-ing L independent tables lifts it to 1 − (1 − p^K)^L — the
    * exact analog of MinHash banding (bands = L, rows = K), with the
    * same candidate-set economics: work scales with L·occupancy per
    * vector, recall compounds exponentially in L.
    *
    * Same payload-diet shape as [[graft.operators.Dedup.minhashNearDupPairs]]:
    * the quantized vectors are staged once
    * ([[graft.util.Checkpoints.stage]] — three consumers, kernel runs
    * once), only (vec_id, table, bucket) rides the banding shuffle and
    * the candidate self-join, the per-(table,bucket) cap bounds
    * clustered skew, and surviving distinct pairs re-join the staged
    * vectors for the exact integer threshold verify (identical
    * arithmetic to [[cosineNearDupPairsPortable]], so the two variants'
    * outputs are set-comparable: banded ⊇ single-table on the same K).
    *
    * All L·K planes are drawn from ONE seeded stream and sliced per
    * table — prefix-stable (table t's planes do not depend on L) and
    * independent, with no cross-seed correlation concerns.
    */
  def cosineNearDupPairsBanded(
      embeddings: DataFrame,
      minCosineMilli: Int = 400,
      nTables: Int = 4,
      nBits: Int = 6,
      maxBucketSize: Int = 1000,
      seed: Long = 42L,
      dim: Int = 64,
      maxAbsValue: Double = 1.0,
      checkpointDir: Option[String] = None): DataFrame = {
    val (num, den) = cosThresholdFraction(minCosineMilli)
    val maxDot = (dim.toLong * math.pow(1000.0 * maxAbsValue, 2)).toLong max 1L
    val headroom = Long.MaxValue / maxDot / maxDot
    require(num <= headroom && den <= headroom,
      s"minCosineMilli=$minCosineMilli reduces to $num/$den; products can exceed 2^63 " +
        s"with dim=$dim and |value|<=$maxAbsValue (need num,den <= $headroom)")
    val allPlanes = VectorFunctions.quantPlanes(seed, dim, nTables * nBits)
    val q = graft.util.Checkpoints.stage(
      Dedup.spread(embeddings, "vec_id")
        .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
        .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q"))),
      checkpointDir.orElse(graft.util.Checkpoints.configured(embeddings.sparkSession)))
    val bucketCols = (0 until nTables).map { t =>
      VectorFunctions.hyperplaneBucketQ(col("q"),
        allPlanes.slice(t * nBits, (t + 1) * nBits))
    }
    val banded0 = q
      .select(col("vec_id"), posexplode(array(bucketCols: _*)))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bucket")
    val banded = banded0
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy("tbl", "bucket")))
      .filter(col("_bn") <= maxBucketSize)
      .drop("_bn")
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
        col("l.tbl") === col("r.tbl") && col("l.bucket") === col("r.bucket") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
      .distinct()
    pairs
      .join(q.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("nrm").as("na")), "vec_a")
      .join(q.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("nrm").as("nb")), "vec_b")
      .withColumn("dot", VectorFunctions.qdot(col("qa"), col("qb")))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(den) >= lit(num) * col("na") * col("nb"))
      .select(col("vec_a"), col("vec_b"), col("dot"))
  }

  /** (m/1000)² as a reduced fraction num/den — shared with the oracle SQL
    * so both engines compare identical (overflow-safe) products.
    */
  def cosThresholdFraction(minCosineMilli: Int): (Long, Long) = {
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val num0 = minCosineMilli.toLong * minCosineMilli
    val den0 = 1000000L
    val g    = gcd(num0, den0)
    (num0 / g, den0 / g)
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * restricted to LSH bucket collisions (the scale path — never n²).
    */
  def cosineNearDupPairs(
      embeddings: DataFrame,
      minCosine: Double,
      nBits: Int = 6,
      seed: Long = 42L,
      dim: Int = 64): DataFrame = {
    val planes = VectorFunctions.seededPlanes(seed, dim, nBits)
    val bucketed = embeddings.select(
      col("vec_id"), col("embedding"),
      VectorFunctions.hyperplaneBucket(col("embedding"), planes).as("bucket"))
    val l = bucketed.as("l")
    val r = bucketed.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.vec_id") < col("r.vec_id"))
      .withColumn("cos", VectorFunctions.cosineFused(col("l.embedding"), col("r.embedding")))
      .filter(col("cos") >= minCosine)
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"), col("cos"))
  }

  /** Per-vector symmetric int8 scalar quantization: `q_i =
    * ⌊x_i·127/maxabs + ½⌋` — the standard 4× (fp32) memory reduction
    * for ANN serving, where a 100 TB embedding store becomes 25 TB and
    * integer dot products replace float ones in the scan kernel.
    *
    * Cosine is per-vector scale-invariant, so quantized cosine tracks
    * the original ranking (SimilaritySpec measures recall on the
    * fixture). The arithmetic is deterministic across engines: floats
    * widen to double exactly, then one multiply, one divide, one
    * `floor(·+0.5)` — IEEE-identical everywhere, which makes quantized
    * vectors themselves oracle-checkable (q67), not just their recall.
    *
    * `maxabs` is staged as its own column and referenced twice so
    * CollapseProject cannot inline the O(d) array reduction into the
    * per-element lambda (the O(d²)/row trap). A zero vector quantizes
    * to zeros.
    */
  def quantizeInt8(embeddings: DataFrame, embCol: String = "embedding"): DataFrame =
    embeddings
      .withColumn("_maxabs",
        array_max(transform(col(embCol), x => abs(x.cast("double")))))
      .withColumn("qvec",
        when(col("_maxabs") === 0d,
          transform(col(embCol), _ => lit(0L)))
        .otherwise(transform(col(embCol),
          x => floor(x.cast("double") * lit(127d) / col("_maxabs") + lit(0.5d)))))
      .drop("_maxabs")

  /** Exact top-k over the int8-quantized store ([[quantizeInt8]]):
    * integer dot products in the scan kernel (dot ≤ 127²·dim — no
    * overflow anywhere near dim 10⁶), ranked by the IEEE-identical
    * `CAST(dot)/√(CAST(nrm)·CAST(qn))` double — the q51 ordering
    * pattern, so the int8 serving path is oracle-checkable end-to-end
    * (q68). Per-vector scales cancel in cosine, which is why symmetric
    * per-vector quantization preserves ranking. Zero vectors (nrm = 0)
    * have no cosine and are excluded on both engines.
    */
  def bruteForceTopKInt8(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    // zero-vector exclusion happens on the RAW embedding (maxabs > 0 ⟺
    // the quantized norm is > 0: the max-|x| element always quantizes
    // to ±127). Filtering on the computed nrm column instead lets
    // PushDownPredicate substitute the whole quantize chain into the
    // filter condition — measured as the quantize kernel evaluating 3×
    // per row at sf1.0 (plan showed maxabs recomputed 4× inside the
    // pushed filter).
    def nonZero(df: DataFrame): DataFrame =
      df.filter(array_max(transform(col("embedding"), x => abs(x.cast("double")))) > 0)
    val qrow = quantizeInt8(embeddings.filter(col("vec_id") === queryId))
      .select(col("qvec").as("qv"))
      .withColumn("qn", VectorFunctions.qdot(col("qv"), col("qv")))
    quantizeInt8(nonZero(embeddings.filter(col("vec_id") =!= queryId)))
      .select(col("vec_id"), col("qvec").as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
      .crossJoin(broadcast(qrow))
      .withColumn("dot", VectorFunctions.qdot(col("q"), col("qv")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * col("qn").cast("double")))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot")
      .limit(k)
  }
}
