package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Helpers shared by more than one query family: the fixture reader,
  * the partition spreader, exact integer cents (the Spark side and its
  * DuckDB mirror), the text-statistic and fixed-point vector SQL
  * mirrors, and the bucket-pruning session.
  *
  * Oracle-parity rules used throughout the query families (the gate
  * hash-compares each result against DuckDB's on the same parquet):
  *  - NO DECIMAL (or raw double) columns in any final SELECT: the gate's
  *    hasher renders decimals through a minimal-digits float lens on one
  *    side, so any value with a trailing zero at its scale (520.70 vs
  *    520.7) hash-mismatches even when bit-identical. Money/quantity
  *    doubles are 2-decimal by construction (FIXTURES.md): cast to
  *    DECIMAL(18,2) *first* (exact arithmetic, partition-order-invariant),
  *    then emit integer cents as BIGINT — ×100 for scale 2, ×10000 for
  *    price·(1−disc), ×1e6 for price·(1−disc)·(1+tax). Products are taken
  *    in integer-cents space (long·long) so neither engine widens decimals
  *    past its precision cap;
  *  - ratios are exposed as integer percents (exact), never raw doubles;
  *  - every oracle query carries a total ORDER BY (ties broken by a key);
  *  - integer outputs are pinned to BIGINT on both sides (DuckDB SUM of
  *    BIGINT/CASE yields HUGEINT → always CAST(... AS BIGINT) there).
  */
object QuerySupport {

  private[queries] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/$name.parquet")
    // events.ts has shipped as ns-long, TIMESTAMP and TIMESTAMP_NTZ
    // across fixture generations — normalize to the canonical epoch-ns
    // BIGINT at the scan boundary (see [[graft.util.EventTime]]) so
    // every time kernel downstream stays exact-integer and type-blind.
    if (name == "events") graft.util.EventTime.tsNanos(raw) else raw
  }

  /** Hash-distribute on `key` with an explicit (AQE-proof) partition
    * count before an expensive per-row kernel — regex chains, sketch
    * updates, hash kernels. Same rationale as Dedup.spread: the scan's
    * partitioning (a single partition on single-row-group test files)
    * must not serialize the kernel, and `repartition(col)` without a
    * count gets coalesced back to one partition by AQE.
    */
  private[queries] def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  private[queries] def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact integer cents of a 2-decimal money/quantity double: the
    * double→DECIMAL(18,2) cast rounds half-up identically in Spark and
    * DuckDB, and ×100 of a scale-2 decimal is integral, so the long cast
    * is exact. All downstream arithmetic stays in long space.
    */
  private[queries] def cents(c: Column): Column = (dec2(c) * 100).cast("long")

  /** Mirrors `cents`: exact integer cents of a 2-decimal double. DuckDB's
    * double→DECIMAL cast rounds half-up like Spark's; ×100 of the scale-2
    * decimal is integral so the BIGINT cast is exact. DuckDB widens
    * BIGINT sums to HUGEINT → every SUM below is re-cast to BIGINT.
    */
  private[queries] def centsSql(c: String): String =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  private[queries] def hitsSql(words: Seq[String]): String =
    s"CAST(len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b')) AS BIGINT)"

  private[queries] val tokensSql =
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"

  private[queries] val punctSql =
    "CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT)"

  private[queries] val fingerprintSql =
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  // ---- fixed-point vector mirror (q25/q47): quantize → integer dot ----

  /** Mirrors VectorFunctions.quantize(embedding, 1000). */
  private[queries] val qvecSql =
    "list_transform(embedding, f -> CAST(round(CAST(f AS DOUBLE)*1000) AS BIGINT))"

  /** Mirrors VectorFunctions.qdot (DuckDB list_sum widens → re-cast). */
  private[queries] def qdotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2])) AS BIGINT)"

  // One CHILD session per caller session for the bucket-pruning search
  // queries (q90–q98), which read only the query terms' buckets of the
  // search-index tables: Spark's DisableUnnecessaryBucketedScan
  // heuristic treats a lookup-shaped scan — no join/agg consuming the
  // bucket partitioning — as "unnecessary" and discards the pruning, so
  // these queries plan and execute with the auto-disable OFF. Every
  // other query runs with Spark's default heuristic; q75/q100 need no
  // override — their join/agg consumes the partitioning, so the
  // heuristic keeps the bucketed scan on its own.
  //
  // The child shares the SparkContext + SharedState (catalog, tables,
  // warehouse) and owns a SQLConf carrying the disable PERMANENTLY, so
  // frames built on it plan and execute under the right conf no matter
  // when or how concurrently the caller acts on them; no shared conf is
  // ever mutated. The caller's runtime graft settings are copied at
  // creation (Sessions.child); later changes to them do not reach it.
  // WEAK keys: a program cycling through many short-lived sessions must
  // not have every stopped parent (and its child's SessionState) pinned
  // by this static map for the JVM lifetime — entries evict with the
  // parent session
  private val pruningSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()

  private[queries] val bucketPruning: SparkSession => SparkSession = s =>
    pruningSessions.synchronized {
      Option(pruningSessions.get(s)).getOrElse {
        val ns = graft.Sessions.child(s,
          "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
        pruningSessions.put(s, ns)
        ns
      }
    }
}
