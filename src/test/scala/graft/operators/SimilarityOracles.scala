package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Reference forms of [[Similarity]] kernels that only the specs call:
  * the composed shapes the fused kernels are asserted equal to, and the
  * banded-LSH recall reference.
  */
object SimilarityOracles {

  /** The join+aggregate reference form [[Similarity.assignToCentroids]] replaced
    * — kept verbatim as the semantic pin for the fused kernel
    * (SimilaritySpec asserts full-fixture-corpus equality, the
    * `pqAssignments`/`pqEncode` pattern).
    */
  def assignToCentroidsJoinAgg(
      b: DataFrame, cents: DataFrame): DataFrame =
    b.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorFunctions.qdot(col("q"), col("cvec")).cast("double") /
          sqrt(col("nrm").cast("double") * col("cnrm").cast("double")))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), col("cent_id"))).getField("cent_id").as("cent_id"),
        first(col("q")).as("q"), first(col("nrm")).as("nrm"))

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

  /** Multi-table (banded) hyperplane-LSH cosine near-dup pairs — the
    * RECALL answer at scale. A single K-bit table's collision
    * probability for a true near-dup pair is p^K (p = 1 − θ/π per
    * hyperplane), so the occupancy-correct K for a large corpus
    * ([[Similarity.nBitsForOccupancy]]) drives single-table recall toward zero;
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
    * arithmetic to [[Similarity.cosineNearDupPairsPortable]], so the two variants'
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
    val (num, den) = Similarity.cosThresholdFraction(minCosineMilli)
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
}
