package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

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
    * (spec-pinned against the test-side
    * `SimilarityOracles.assignToCentroidsJoinAgg` full-corpus).
    */
  private[operators] def assignToCentroids(b: DataFrame, cents: DataFrame): DataFrame =
    b.crossJoin(broadcast(
        cents.groupBy().agg(sort_array(collect_list(struct(
          col("cent_id"), col("cvec"), col("cnrm")))).as("_cents"))))
      .withColumn("cent_id",
        graft.plans.IvfArgmaxCosExpr(col("q"), col("nrm"), col("_cents")))
      .select("vec_id", "cent_id", "q", "nrm")

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
    // centroids are seeded from the ids below nCentroids: with none, the
    // layout would have no centroid, and no later compaction could
    // partition its cells
    if (embeddings.filter(col("vec_id") < nCentroids).isEmpty)
      throw new IllegalArgumentException(
        s"buildIvfIndex: no vec_id below nCentroids = $nCentroids to seed a centroid from")
    val b = embeddings
      .select(col("vec_id"), VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    val seed = b.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cent_id"), col("q").as("cvec"), col("nrm").as("cnrm"))
    val cents =
      if (refineIters <= 0) seed else refineIvfCentroids(b, seed, refineIters)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    writeCells(assignToCentroids(b, cents), path)
  }

  /** The last step of every layout build: the cells, then commit 0 of
    * the layout's [[IndexLog]] — a layout is complete exactly when it
    * has a log.
    */
  private def writeCells(cells: DataFrame, path: String): Unit = {
    cells.write.mode("overwrite").partitionBy("cent_id").parquet(s"$path/cells")
    IndexLog.cells(path).init(cells.sparkSession, "cells")
  }

  /** Probe a [[buildIvfIndex]] layout with a raw query vector: the
    * centroids are ranked on the driver ([[probeCells]]), then the cells
    * scan reads only the chosen nProbe cells. Ranking matches
    * [[ivfTopKPortable]] exactly (quantized integer dots, IEEE-identical
    * cosine ordering).
    */
  def ivfProbe(
      spark: SparkSession,
      path: String,
      queryVec: Seq[Float],
      k: Int,
      nProbe: Int = 4,
      exclude: Option[Long] = None): DataFrame = {
    val p = probeCells(layoutTables(spark, path), Seq(0L -> quantizeQuery(queryVec)), nProbe).head
    val qCol = array(p.q.toSeq.map(lit): _*)
    val cells = liveCells(spark, path, Some(p.cells.toSeq))
    exclude.fold(cells)(id => cells.filter(col("vec_id") =!= id))
      .withColumn("dot", VectorFunctions.qdot(col("q"), qCol))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * lit(p.qn.toDouble)))
      .orderBy(col("cos").desc, col("vec_id"))
      .select("vec_id", "dot")
      .limit(k)
  }

  /** The bound on one batch's driver-side centroid ranking:
    * |batch|·C·dim multiply-adds, 2^28 (≈2.7·10⁸, well under a second
    * of one driver core). It also bounds the probe map a batch ships to
    * the cells scan (|batch|·nProbe·dim longs). A batch past it is
    * refused; shard a larger stream of queries into batches under it —
    * each batch pays one pruned scan.
    */
  val MaxBatchRankWork: Long = 1L << 28

  // one ranked query: its quantized vector, squared norm and probed cells
  private final case class Probe(id: Long, q: Array[Long], qn: Long, cells: Array[Long])

  /** A query vector quantized HALF-AWAY-FROM-ZERO, matching
    * VectorFunctions.quantize (Spark SQL round) and the oracle's DuckDB
    * round (math.round is floor(x+0.5), which disagrees on negative
    * halves: -62.5 → -62 vs -63).
    */
  private[operators] def quantizeQuery(v: Seq[Float]): Array[Long] =
    v.iterator.map { f =>
      val d = f.toDouble * 1000
      if (d >= 0) math.round(d) else -math.round(-d)
    }.toArray

  /** The driver-side ranking of every probe of a maintained layout,
    * single or batched: per quantized query, the `nProbe` cells whose
    * centroids rank highest by cosine in SQL order (NaN first, ties →
    * larger cent_id) — the order the probes' oracle applies.
    */
  private def probeCells(t: LayoutTables, queries: Seq[(Long, Array[Long])],
      nProbe: Int): Seq[Probe] = {
    val work = queries.size.toLong * t.c * t.dim
    require(work <= MaxBatchRankWork,
      s"a batch of ${queries.size} queries against ${t.c} centroids of dim ${t.dim} is " +
        s"$work ranking multiply-adds, over Similarity.MaxBatchRankWork = $MaxBatchRankWork: " +
        s"shard the queries into batches of at most ${MaxBatchRankWork / math.max(1L, t.c.toLong * t.dim)}")
    queries.map { case (id, q) =>
      val qn = q.iterator.map(x => x * x).sum
      val cos = Array.tabulate(t.c) { i =>
        val cv = t.vecs(i)
        var dot = 0L
        var j = 0
        while (j < cv.length && j < q.length) { dot += cv(j) * q(j); j += 1 }
        dot.toDouble / math.sqrt(t.norms(i).toDouble * qn.toDouble)
      }
      val top = Array.range(0, t.c).sortWith { (a, b) =>
        val c = java.lang.Double.compare(cos(a), cos(b))
        c > 0 || (c == 0 && t.ids(a) > t.ids(b))
      }.take(nProbe)
      Probe(id, q, qn, top.map(t.ids(_)))
    }
  }

  // a batch frame (`query_id`, `emb`) on the driver, quantized by the
  // corpus-side kernel itself
  private def collectQueries(queries: DataFrame): Seq[(Long, Array[Long])] =
    queries.select(col("query_id").cast("long"), VectorFunctions.quantize(col("emb")))
      .collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)

  private def probedCells(probes: Seq[Probe]): Seq[Long] = probes.flatMap(_.cells).distinct

  /** Batched probe of a [[buildIvfIndex]] layout — the serving-
    * throughput shape: N query vectors answered by ONE partition-pruned
    * scan instead of N sequential probes. The centroids are ranked on
    * the driver ([[probeCells]], refused past [[MaxBatchRankWork]]);
    * the probe map (query_id, cent_id, qvec, qn — |batch|·nProbe rows)
    * is a local relation, so the call runs no ranking job and persists
    * nothing. The broadcast probe map fans each scanned row of the
    * probed cells ([[liveCells]]) out to the queries probing its cell,
    * and a query-partitioned window takes each top-k — every shuffle
    * bounded by the batch, never the corpus.
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
    ivfProbeQuantized(spark, path, queries.map { case (id, v) => id -> quantizeQuery(v) },
      k, nProbe, excludeSelf)

  /** [[ivfProbeBatch]] over a query DATAFRAME (`query_id` LONG, `emb`
    * ARRAY<FLOAT>) — a parquet scan, a streaming micro-batch or an
    * upstream join. The batch is collected to the driver first (it is
    * quantized there by the corpus-side kernel), so the same
    * [[MaxBatchRankWork]] bound holds.
    */
  def ivfProbeBatchDf(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true): DataFrame =
    ivfProbeQuantized(spark, path, collectQueries(queries), k, nProbe, excludeSelf)

  private val ProbeMapSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("cent_id", LongType), StructField("qvec", ArrayType(LongType)),
    StructField("qn", LongType)))

  private def ivfProbeQuantized(spark: SparkSession, path: String,
      queries: Seq[(Long, Array[Long])], k: Int, nProbe: Int, excludeSelf: Boolean): DataFrame = {
    val probes = probeCells(layoutTables(spark, path), queries, nProbe)
    val probeMap = spark.createDataFrame(probes.flatMap(p =>
      p.cells.toSeq.map(c => Row(p.id, c, p.q.toSeq, p.qn))).asJava, ProbeMapSchema)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    val cells = liveCells(spark, path, Some(probedCells(probes)))
      .join(broadcast(probeMap), Seq("cent_id"))
    (if (excludeSelf) cells.filter(col("vec_id") =!= col("query_id")) else cells)
      .withColumn("dot", VectorFunctions.qdot(col("q"), col("qvec")))
      .withColumn("cos", col("dot").cast("double") /
        sqrt(col("nrm").cast("double") * col("qn").cast("double")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("dot"))
  }

  /** A layout's centroid table — and, for an IVF-PQ layout, its
    * codebooks — as the driver holds them: the rows with their read
    * schemas (so a local frame of them equals the parquet read) and the
    * centroids unpacked for [[probeCells]].
    */
  private[operators] final class LayoutTables(
      cents: (Seq[Row], StructType), books: Option[(Seq[Row], StructType)]) {
    val ids: Array[Long] = cents._1.map(_.getAs[Long]("cent_id")).toArray
    val vecs: Array[Array[Long]] =
      cents._1.map(_.getAs[collection.Seq[Long]]("cvec").toArray).toArray
    val norms: Array[Long] = cents._1.map(_.getAs[Long]("cnrm")).toArray
    def c: Int = ids.length
    def dim: Int = vecs.headOption.fold(0)(_.length)
    def pq: Boolean = books.isDefined
    def centroids(spark: SparkSession): DataFrame = spark.createDataFrame(cents._1.asJava, cents._2)
    def codebooks(spark: SparkSession): DataFrame = spark.createDataFrame(books.get._1.asJava, books.get._2)
    // (sub, code_id, cvec, cnrm) per codeword
    val words = books.toSeq.flatMap(_._1).map(r => (r.getAs[Number]("sub").intValue,
      r.getAs[Long]("code_id"), r.getAs[collection.Seq[Long]]("cvec").toArray, r.getAs[Long]("cnrm")))
  }

  // layout path → (mtime of <path>/centroids, its tables): a rebuild at
  // the same path writes a new centroids dir, so a changed mtime reloads
  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, LayoutTables)]()

  /** The centroids and codebooks of the layout at `path`, collected once
    * per layout build: every later call costs one `getFileStatus`.
    */
  private[operators] def layoutTables(spark: SparkSession, path: String): LayoutTables = {
    val fs    = IndexLog.fsOf(spark, path)
    val cdir  = new org.apache.hadoop.fs.Path(path, "centroids")
    val books = new org.apache.hadoop.fs.Path(path, "codebooks")
    val mtime = fs.getFileStatus(cdir).getModificationTime
    def collected(dir: org.apache.hadoop.fs.Path, cols: String*): (Seq[Row], StructType) = {
      val df = spark.read.parquet(dir.toString).select(cols.map(col): _*)
      (df.collect().toSeq, df.schema)
    }
    Option(layoutCache.get(path)).collect { case (`mtime`, t) => t }.getOrElse {
      val t = new LayoutTables(collected(cdir, "cent_id", "cvec", "cnrm"),
        if (fs.exists(books)) Some(collected(books, "sub", "code_id", "cvec", "cnrm")) else None)
      layoutCache.put(path, mtime -> t)
      t
    }
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
    * Local-FS warehouses come back as a plain path (test specs walk
    * layouts with java.io.File); remote schemes stay fully qualified.
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
    promoteBuilt(spark, path, Some(key), s"$kind layout")(build(_, c))
    (path, c)
  }

  /** The one build path of a maintained layout (the truncate-and-load
    * leg of [[IndexLifecycle]]): build into a temp sibling — the build
    * writes commit 0 of its [[IndexLog]] last — and promote it with one
    * directory rename, unless a COMPLETE layout (one with a log) already
    * stands; then the call is a read and resolves lease-free. A layout
    * dir without a log is an unfinished build and is replaced.
    */
  private def promoteBuilt(spark: SparkSession, path: String,
      memoKey: Option[String], what: String)(build: String => Unit): Unit = {
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs   = IndexLog.fsOf(spark, path)
    def complete: Boolean = IndexLog.cells(path).latestOption(spark).isDefined
    IndexLifecycle.guarded(spark, path, memoKey, skip = complete) {
      if (!complete) {
        val tmp = new org.apache.hadoop.fs.Path(s"$path.tmp${System.nanoTime()}")
        build(tmp.toString)
        fs.delete(dest, true)
        if (!fs.rename(tmp, dest))
          throw new java.io.IOException(s"could not promote $what $tmp -> $dest")
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
    * Idempotent per `batchTag`: the fold commit records the tag in the
    * layout log's fold ledger ([[IndexLog]]), so a replayed ingestion
    * batch (driver retry, at-least-once upstream) is a no-op in this
    * and in any later process; a fold that crashed between its append
    * and its tag commit repairs on replay ([[IndexLifecycle.fold]]).
    * Caller contract: the batch holds NEW
    * vec_ids only — re-folding an indexed id is the caller's bug, same
    * as any append sink.
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
    val cents = layoutTables(newVecs.sparkSession, path).centroids(newVecs.sparkSession)
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
    * (vec_id, cent_id, payload…) cell rows, appended as ONE write — all
    * or nothing — so a crash replay (the tag's intent standing) skips
    * the append when any batch vec_id is already in the generation, and
    * refuses when nothing is and a purge ran in the crash window.
    */
  private def foldCells(newVecs: DataFrame, path: String, batchTag: String)(
      encoded: => DataFrame): Unit = {
    val spark = newVecs.sparkSession
    val store = new CellsStore(spark, path)
    IndexLifecycle.guarded(spark, path, Some(s"$path|fold|$batchTag")) {
      retireCells(spark, path)
      val folded = IndexLifecycle.fold(spark, store, newVecs, batchTag) { cur =>
        val gen = genDir(path, cur.gen)
        val landed = cur.intents(batchTag) && !cellsScan(spark, path, cur.gen, None)
          .select("vec_id").join(broadcast(newVecs.select("vec_id").distinct()), "vec_id").isEmpty
        if (!landed) {
          if (cur.purgewin(batchTag)) throw IndexLifecycle.undecidable(batchTag)
          encoded.write.mode("append").partitionBy("cent_id").parquet(gen)
        }
      }
      if (folded) maybeAutoCompactCells(spark, path)
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
    val gen = new org.apache.hadoop.fs.Path(activeCellsDir(spark, path))
    val (files, cells) =
      try cellFiles(IndexLog.fsOf(spark, path), gen)
      catch { case _: java.io.IOException => return }
    if (IndexLifecycle.Policy.of(spark).filesPerUnitDue(files, cells))
      compactIvfCells(spark, path)
  }

  // the one definition of "tombstone/cell DATA file" shared by every
  // reader and the compaction purge — two drifting copies of this
  // predicate would make readers and the purge disagree on which ids
  // are tombstoned
  private[operators] def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** The ACTIVE generation directory of a maintained layout — the one
    * its latest [[IndexLog]] commit names. Every reader and every fold
    * append resolves through this; benches and specs inspecting
    * physical layout state should too.
    */
  def activeCellsDir(spark: SparkSession, path: String): String =
    genDir(path, IndexLog.cells(path).latest(spark).gen)

  private def genDir(path: String, gen: String): String =
    new org.apache.hadoop.fs.Path(path, gen).toString

  // ---- deletion: the tombstone tier of the maintained-index contract ----

  /** The LIVE view of a layout's cells — of the `cells` ids only, when
    * given: physical rows minus standing tombstones
    * ([[deleteFromIvfIndex]]), so a delete is SERVED the moment its
    * commit lands. The tombstone set is bounded between compactions
    * ([[deleteFromIvfIndex]] auto-compacts past
    * `spark.graft.index.autoCompactTombstoneRows`), so the anti-join
    * build side is an explicit BROADCAST and the cells scan never
    * reshuffles. Both sides are read from driver listings with known
    * schemas: no metadata job.
    *
    * (cells, tombstones) resolve from ONE commit
    * ([[IndexLifecycle.liveRows]]).
    */
  def liveCells(spark: SparkSession, path: String,
      cells: Option[Seq[Long]] = None): DataFrame =
    liveCellsFrom(spark, path, IndexLog.cells(path).latest(spark), cells)

  private[operators] def liveCellsFrom(spark: SparkSession, path: String,
      first: IndexLog.Commit, cells: Option[Seq[Long]] = None): DataFrame =
    IndexLifecycle.liveRows(spark, new CellsStore(spark, path), first)(c =>
      cellsScan(spark, path, c.gen, cells))

  /** The cells of a [[buildIvfIndex]] layout as a scan reads them: the
    * written (vec_id, q, nrm) and the `cent_id` partition column.
    */
  val IvfCellsSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("q", ArrayType(LongType)), StructField("nrm", LongType),
    StructField("cent_id", IntegerType)))

  /** The scan of generation `gen`: the files of the `cells` ids, or of
    * every cell, from one driver walk ([[IndexLifecycle.filesUnder]]),
    * read with the family's cells schema as a pre-listed relation — no
    * partition-discovery job, no schema-inference job. The `cent_id`
    * filter stays on the plan as its partition filter. Throws
    * FileNotFoundException when the generation is gone.
    */
  private def cellsScan(spark: SparkSession, path: String, gen: String,
      cells: Option[Seq[Long]]): DataFrame = {
    val fs   = IndexLog.fsOf(spark, path)
    val root = fs.makeQualified(new org.apache.hadoop.fs.Path(path, gen))
    if (!fs.exists(root)) throw new java.io.FileNotFoundException(root.toString)
    val files = cells.fold(IndexLifecycle.filesUnder(fs, root))(_.distinct.flatMap(id =>
      IndexLifecycle.filesUnder(fs, new org.apache.hadoop.fs.Path(root, s"cent_id=$id"))))
    val scan = IndexLifecycle.preListed(spark, root, files,
      if (layoutTables(spark, path).pq) IvfPqCellsSchema else IvfCellsSchema, Seq("cent_id"))
    cells.fold(scan)(ids => scan.filter(col("cent_id").isin(ids: _*)))
  }

  // every standing tombstone file of the layout's ACTIVE generation —
  // the spec-facing resolution (tests must not hardcode the physical
  // location)
  private[graft] def standingTombstoneFiles(
      spark: SparkSession, path: String): Seq[String] =
    IndexLifecycle.tombstoneFiles(new CellsStore(spark, path), IndexLog.cells(path).latest(spark))

  /** Tombstone DELETION from a maintained [[ensureIvfIndex]] /
    * [[ensureIvfPqIndex]] layout — the missing half of the "never
    * rebuilt, only maintained" contract (the lexical index has folded
    * deletes since q95; reference analog: the replace semantics of
    * `etl/pipeline.py:698-716`). `delIds` (a `vec_id` column) lands as
    * appended rows under `<gen>/_tombstones/`, listed by the delete's
    * commit — O(|delete|) work, index-size independent; the corpus
    * cells are untouched and every reader ([[liveCells]]) excludes the
    * ids once the commit lands. Physical purge rides [[compactIvfCells]]
    * (or any rebuild), which drops the dead rows and clears the
    * tombstone set in the same pass, so delete∘compact ≡
    * rebuild-from-remainder (q126/q127 gate this against the oracle;
    * SimilaritySpec pins probe parity).
    *
    * Idempotent per `delTag` (the log's delete ledger). A crash between
    * the append and the commit leaves unlisted files no reader applies;
    * the replay writes and commits its own. Deleting an id that was
    * never indexed is a harmless no-op.
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
    val store = new CellsStore(spark, path)
    IndexLifecycle.guarded(spark, path, Some(s"$path|del|$delTag")) {
      retireCells(spark, path)
      IndexLifecycle.delete(spark, store, delIds.select(col("vec_id").cast("long").as("vec_id")),
        delTag)(compactIvfCells(spark, path))
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
    * layout — the [[IndexLifecycle.compact]] skeleton over the log
    * store ([[CellsStore]]): every [[foldIntoIvfIndex]] appends one
    * file set per batch, and this rewrites the cells to ~one file per
    * cell (ONE shuffle of the index, the inherent compaction cost; at
    * 100 TB run it per-cell or accept the rebuild, which compacts for
    * free) into a NEW generation dir promoted by one commit. Rows,
    * centroids and the ledgers are untouched — a replayed old batch tag
    * still no-ops after compaction, and probes see identical data
    * (SimilaritySpec pins row equality and probe parity).
    * Schema-agnostic over the cells rows, so the same compactor serves
    * BOTH maintained layouts — [[buildIvfIndex]] (vector cells) and
    * [[buildIvfPqIndex]] (code cells).
    */
  def compactIvfCells(spark: SparkSession, path: String,
      force: Boolean = false): Unit =
    IndexLifecycle.compact(spark, new CellsStore(spark, path), force)

  /** Retention at every maintenance entry ([[IndexLifecycle.retire]]):
    * superseded generations and crashed, uncommitted rewrites. */
  private[operators] def retireCells(spark: SparkSession, path: String): Unit =
    IndexLifecycle.retire(spark, new CellsStore(spark, path),
      Some(IndexLog.cells(path).latest(spark).gen), Set.empty)

  /** The data files of a generation and the number of cells they fall
    * in — one driver walk, never a Spark job; `_tombstones/` and
    * `_`/`.`-prefixed bookkeeping are not cell files.
    */
  private def cellFiles(fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path): (Long, Int) = {
    val files = IndexLifecycle.filesUnder(fs, gen)
    (files.size.toLong, files.map(_.getPath.getParent.getName).distinct.size)
  }

  /** One cells layout as [[IndexLifecycle.Store]]: the layout dir is the
    * lineage root, and its generations are the `cells` /
    * `cells.g<stamp>` dirs.
    */
  private final class CellsStore(spark: SparkSession, path: String)
      extends IndexLifecycle.Store {
    val log: IndexLog = IndexLog.cells(path)
    val idCol = "vec_id"

    def fileCounts(gen: String): Seq[Long] =
      Seq(cellFiles(IndexLog.fsOf(spark, path), new org.apache.hadoop.fs.Path(path, gen))._1)

    // ONE shuffle of the index, the inherent compaction cost; the ≤C-row
    // centroid table is the partition count, so each output task holds
    // ~one whole cell and writes ~one file for it
    def rewrite(snap: IndexLog.Commit, tombstones: Option[DataFrame]): String = {
      val out = log.newGen()
      val cells = IndexLifecycle.live(cellsScan(spark, path, snap.gen, None), tombstones, idCol)
      val c = layoutTables(spark, path).c
      cells.repartition(math.max(c, 1), col("cent_id"))
        .write.partitionBy("cent_id").parquet(genDir(path, out))
      out
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
    * occupancy scan of [[ivfCellStats]] aggregated to one row, beside
    * the centroid count the driver holds — shuffle is C count rows,
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
      .withColumn("c", lit(layoutTables(spark, path).c.toLong))
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
    * (lock + log), skipped when a complete layout already exists.
    */
  def rebuildIvfIndex(
      spark: SparkSession, path: String, dest: String): String = {
    promoteBuilt(spark, dest, None, "rebuilt IVF layout") { tmp =>
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
      writeCells(assignToCentroids(b, spark.read.parquet(s"$tmp/centroids")), tmp)
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
    // the assignment reads back the written centroids, the bytes every
    // probe ranks against
    writeCells(withPqCodes(assignToCentroids(b, embeddings.sparkSession.read.parquet(s"$path/centroids")),
        pqBooksRow(embeddings, m, ks, subDim), m, subDim)
      .select("vec_id", "cent_id", "codes"), path)
  }

  /** The cells of a [[buildIvfPqIndex]] layout as a scan reads them:
    * the written (vec_id, codes) and the `cent_id` partition column.
    */
  val IvfPqCellsSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("codes", ArrayType(LongType)), StructField("cent_id", IntegerType)))

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
    * driver-side from the cached codebooks and inlined as one literal
    * array, so each scanned row costs m array-index adds, no join, no
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
    val t = layoutTables(spark, path)
    val p = probeCells(t, Seq(0L -> quantizeQuery(queryVec)), nProbe).head
    val cells = liveCells(spark, path, Some(p.cells.toSeq))
    exclude.fold(cells)(id => cells.filter(col("vec_id") =!= id))
      .withColumn("adist", adistOf(t, typedlit(adcTable(t, p.q, m, subDim).toSeq), m))
      .orderBy(col("adist").asc, col("vec_id"))
      .select("vec_id", "adist")
      .limit(k)
  }

  // a query's ADC lookup table, flattened by subspace: entry
  // offset(sub) + code_id holds the exact integer ‖q_sub − codeword‖²,
  // from the m·ks-row codebook; a code id absent from its book holds a
  // sentinel no sum of m entries can overflow
  private def adcTable(t: LayoutTables, qq: Array[Long], m: Int, subDim: Int): Array[Long] = {
    val off = adcOffsets(t, m)
    val lut = Array.fill(off(m))(Long.MaxValue / (2 * m))
    t.words.foreach { case (s0, cid, cv, cnrm) =>
      if (s0 < m) {
        val qs = qq.slice(s0 * subDim, s0 * subDim + subDim)
        val dot = qs.iterator.zip(cv.iterator).map { case (a, b) => a * b }.sum
        lut(off(s0) + cid.toInt) = qs.iterator.map(x => x * x).sum + cnrm - 2 * dot
      }
    }
    lut
  }

  // where each subspace's entries start in an ADC table: per sub, its
  // largest code id + 1 entries
  private def adcOffsets(t: LayoutTables, m: Int): Array[Int] = {
    val width = t.words.groupMapReduce(_._1)(_._2.toInt + 1)(math.max)
    require((0 until m).forall(width.contains), s"a codebook has no codeword for some of the $m subspaces")
    (0 to m).map(s0 => (0 until s0).map(width).sum).toArray
  }

  // the ADC distance of a scanned code row: m lookups into `lut`
  private def adistOf(t: LayoutTables, lut: Column, m: Int): Column = {
    val off = adcOffsets(t, m)
    (0 until m).map(s0 =>
      element_at(lut, col("codes").getItem(s0).cast("int") + (off(s0) + 1))).reduce(_ + _)
  }

  /** Incremental ingestion into a standing [[ensureIvfPqIndex]] layout
    * — [[foldIntoIvfIndex]]'s contract for the COMPOSED index: the new
    * batch is PQ-encoded against the STANDING codebooks (broadcast m·ks
    * rows, never re-trained — the PQ analog of never moving centroids)
    * and assigned to the standing IVF centroids, then appended as new
    * cell files of (vec_id, codes). O(|batch|) rows written, corpus
    * cells untouched, idempotent per batchTag via the same fold
    * ledger — so the serving tier ingests vectors at code size
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
    val t = layoutTables(spark, path)
    val b = newVecs
      .select(col("vec_id"),
        VectorFunctions.quantize(col("embedding")).as("q"))
      .withColumn("nrm", VectorFunctions.qdot(col("q"), col("q")))
    withPqCodes(assignToCentroids(b, t.centroids(spark)), booksRowOf(t.codebooks(spark)), m, subDim)
      .select("vec_id", "cent_id", "codes")
  }

  def foldIntoIvfPqIndex(
      newVecs: DataFrame,
      path: String,
      batchTag: String,
      m: Int = 4, ks: Int = 256, subDim: Int = 16): Unit =
    foldCells(newVecs, path, batchTag)(pqFoldEncoding(newVecs, path, m, subDim))

  /** Batched probe of an [[ensureIvfPqIndex]] layout — [[
    * ivfProbeBatch]] for the COMPRESSED index, with the same driver-side
    * ranking. Each query's ADC lookup table (m·ks exact integer
    * distances) rides in its probe-map rows, so a scanned code row sums
    * m lookups map-side, as [[ivfPqProbe]] does; the one shuffle is the
    * per-query top-k window. Output: (query_id, rk, vec_id, adist), all
    * BIGINT.
    */
  def ivfPqProbeBatch(
      spark: SparkSession,
      path: String,
      queries: Seq[(Long, Seq[Float])],
      k: Int,
      nProbe: Int = 4,
      excludeSelf: Boolean = true,
      m: Int = 4, subDim: Int = 16): DataFrame = {
    val t = layoutTables(spark, path)
    val probes = probeCells(t, queries.map { case (id, v) => id -> quantizeQuery(v) }, nProbe)
    val probeMap = spark.createDataFrame(probes.flatMap { p =>
      val lut = adcTable(t, p.q, m, subDim).toSeq
      p.cells.toSeq.map(c => Row(p.id, c, lut))
    }.asJava, PqProbeMapSchema)
    val cells = liveCells(spark, path, Some(probedCells(probes)))
      .join(broadcast(probeMap), Seq("cent_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id"))
    (if (excludeSelf) cells.filter(col("vec_id") =!= col("query_id")) else cells)
      .withColumn("adist", adistOf(t, col("lut"), m))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id"), col("adist"))
  }

  private val PqProbeMapSchema = StructType(Seq(StructField("query_id", LongType),
    StructField("cent_id", LongType), StructField("lut", ArrayType(LongType))))

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
    val qq   = quantizeQuery(queryVec).toSeq
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
