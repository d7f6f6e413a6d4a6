package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float>` embedding columns, built from
  * higher-order `functions._` (`zip_with`, `aggregate`, `transform`) so
  * the arithmetic stays inside Catalyst — no UDF serialization, no
  * Python round-trips, safe to fan out over 100 TB of embeddings.
  *
  * All math is promoted to double before accumulating (float32 partial
  * sums lose precision and de-rank near-ties).
  */
object VectorFunctions {

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Σ aᵢ·bᵢ in double. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), _ * _), lit(0.0), _ + _)

  /** Σ aᵢ² in double (squared L2 norm — avoids a sqrt when only
    * comparing magnitudes).
    */
  def normSq(a: Column): Column =
    aggregate(asDouble(a), lit(0.0), (acc, x) => acc + x * x)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity; null-safe on zero vectors (returns 0.0).
    * functions._ composition — three array passes; kept as the
    * reference implementation the fused expression is tested against.
    */
  def cosine(a: Column, b: Column): Column = {
    val d  = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(d / nn)
  }

  /** Fused one-pass cosine (native codegen expression) — same IEEE
    * result as `cosine` (index-order accumulation), one array walk.
    * The hot path for brute-force ANN scans.
    */
  def cosineFused(a: Column, b: Column): Column =
    graft.plans.CosineSimExpr(a, b)

  /** Random-hyperplane SimHash-style LSH bucket id: sign bits of the dot
    * product against `planes` (deterministic seeded planes generated by
    * the caller), packed into a long. Vectors in the same bucket are
    * near-duplicate candidates — the scale path for ANN: group by bucket
    * instead of the O(n²) cross join.
    */
  def hyperplaneBucket(v: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(v, planeCol) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Deterministic pseudo-random unit-ish hyperplanes (pure function of
    * (seed, dim, n) — xorshift-style LCG, no java.util.Random state).
    */
  def seededPlanes(seed: Long, dim: Int, n: Int): Seq[Seq[Double]] = {
    var s = seed
    def next(): Double = {
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17
      (s.toDouble / Long.MaxValue.toDouble)
    }
    Seq.fill(n)(Seq.fill(dim)(next()))
  }

  // -------------------------------------------------------------------------
  // Fixed-point (quantized integer) variants — for operators whose results
  // must be bit-reproducible in an external SQL oracle. Float accumulation
  // order is engine-specific, but round(f·1000) per element is a pure
  // function of the stored float32, and every downstream dot/norm/threshold
  // is exact long arithmetic (both engines raise no-wraparound-safe widths:
  // |q| ≤ ~10^3, dim 64 → dot ≤ ~10^8, products kept < 2^63).
  // -------------------------------------------------------------------------

  /** Per-element fixed-point quantization: round(f·scale) as long.
    * Both Spark and DuckDB round double ties away from zero.
    */
  def quantize(v: Column, scale: Int = 1000): Column =
    transform(v, f => round(f.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors — native fused
    * expression ([[graft.plans.QdotExpr]]): the HOF composition it
    * replaces ([[qdotComposed]], kept as the parity reference) walks a
    * boxed intermediate array per row and dominated the portable ANN
    * paths at sf1.0. Identical semantics including off-domain inputs
    * (ragged lengths / null elements → NULL), spec-checked.
    */
  def qdot(a: Column, b: Column): Column =
    graft.plans.QdotExpr(a, b)

  /** The higher-order-function reference form of [[qdot]] — spec-tested
    * equal to the fused expression on every input shape.
    */
  def qdotComposed(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)

  /** Quantized hyperplanes: seededPlanes scaled to integer constants.
    * Inlined as literals on BOTH engines (Spark Columns, oracle SQL).
    */
  def quantPlanes(seed: Long, dim: Int, n: Int, scale: Int = 1000): Seq[Seq[Long]] =
    seededPlanes(seed, dim, n).map(_.map(p => math.round(p * scale)))

  /** LSH bucket id from integer sign tests — exact on both engines. */
  def hyperplaneBucketQ(v: Column, planes: Seq[Seq[Long]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(qdot(v, array(p.map(lit): _*)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
}
