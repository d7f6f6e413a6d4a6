package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, TextFunctions}

/** Reference forms of [[Dedup]] kernels that only the specs call: the
  * composed shapes the fused kernels are asserted equal to, and the
  * xxhash64 banding candidate set.
  */
object DedupOracles {

  /** Composed reference form (explode-once + K partial-min aggregates —
    * one md5 per shingle, two integer ops per family member inside the
    * partial aggregation): kept as the equality baseline for the fused
    * kernel and as the shape the DuckDB oracle mirrors directly.
    */
  def minhashSignaturesPortableComposed(
      docs: DataFrame,
      shingleN: Int,
      numHashes: Int,
      seed: Long = 7L): DataFrame = {
    val ab = PortableHash.affineConstants(seed, numHashes)
    val sh = docs
      .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
      .select(col("doc_id"),
        explode_outer(TextFunctions.shinglesFromTokens(col("_tk"), shingleN)).as("shingle"))
      .filter(col("shingle").isNotNull) // outer + post-filter: see contaminationReport
      .select(col("doc_id"), PortableHash.md5Hex32(col("shingle")).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(PortableHash.affine(col("h"), ab(i))).as(s"m$i"))
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: candidate pairs whose signatures collide in ≥1 band.
    * bands·rows must equal the signature length. Scale path: the only
    * shuffles are (band, bandHash) groupings — O(docs·bands) rows of a
    * few bytes, then exact verification on the candidate set only.
    * Identical subtrees on both self-join sides → Spark ReusedExchange
    * computes the signature aggregation once.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4): DataFrame =
    candidatesFromSigs(Dedup.minhashSignatures(docs, shingleN, bands * rows), bands, rows)

  private def candidatesFromSigs(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val banded = bandedSignatures(sigs, bands, rows)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  private def bandedSignatures(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** The original higher-order-function composition, kept as the
    * reference implementation the native expression is asserted
    * against (same role as VectorFunctions.cosine vs CosineSimExpr).
    */
  def simhash64Composed(text: Column): Column = {
    val words = TextFunctions.wordSet(text)
    // Per-word ±1 bit votes as a 64-element array built with
    // compile-time bit indices (shiftright takes a literal Int).
    def bitVotes(w: Column): Column =
      array((0 until 64).map(i =>
        shiftright(xxhash64(w), i).bitwiseAND(1L) * 2L - 1L): _*)
    val votes = aggregate(
      words,
      array_repeat(lit(0L), 64),
      (acc, w) => zip_with(acc, bitVotes(w), _ + _))
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), _ + _)
  }
}
