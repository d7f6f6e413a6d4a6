package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

/** Global plan audit over EVERY driver query: an unpartitioned window
  * (`Window.orderBy` with no partition key) drags all rows through one
  * task — the classic 100 TB scale-killer that local tests never feel.
  * The only sanctioned instance is q66's bucket-totals window, which by
  * construction consumes 1/blockSize of the corpus (PackingSpec pins
  * its exact shape). Any new query that introduces one must either
  * restructure (two-level scan, partitioned window) or argue its way
  * into the allowlist here.
  */
class PlanAuditSpec extends SparkSpec {

  private val allowedUnpartitionedWindows = Map(
    "q66_seq_pack" -> 1, // two-level prefix sum: window over bucket totals
    "q123_corpus_prep" -> 1, // same concatPack two-level prefix sum
    "q83_curriculum_shards" -> 1, // same idiom: window over (score, sub-bucket) totals
    "q103_budget_select" -> 1, // same idiom: weight prefix sum over bucket totals
    "q85_stratified_exact" -> 1, // remainder rank over the O(#strata) quota table
    // RRF rank windows run over TakeOrdered top-k LISTS (≤20 rows by
    // construction) — bounded by the query k, never by the corpus
    "q97_hybrid_rrf" -> 2
  )

  test("no query has an unsanctioned unpartitioned window") {
    val offenders = AuditedPlans.of(spark, sf("sf0.001")).flatMap { q =>
      val n = q.plan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }.size
      if (n > allowedUnpartitionedWindows.getOrElse(q.name, 0)) Some(q.name -> n) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned global windows (single-task at scale): $offenders")
  }

  /** The stage-vs-persist rule, pinned structurally (r20 verdict #6 /
    * r21): multi-consumer intermediates on the many-sequential-jobs
    * paths are EAGER stages (q123/q101/q13/q83 read materialized RDDs,
    * never an InMemoryRelation), and any query that does persist() an
    * intermediate (q63's prefix index, CC's edge set) must RELEASE it
    * before returning — an unreleased cache is served by CacheManager
    * plan-matching to the next plan-equal call, which is exactly how
    * q63's r20 bench medians became warm-cache numbers. Both halves in
    * one audit: no returned plan contains an InMemoryRelation, and the
    * session's SQL cache is EMPTY after every query is built.
    */
  test("no query returns a cached plan or leaves the SQL cache non-empty") {
    val offenders = AuditedPlans.of(spark, sf("sf0.001")).flatMap { q =>
      if (q.inMemoryRelations > 0 || q.cacheLeaked)
        Some(s"${q.name}(inMemoryRelations=${q.inMemoryRelations}, cacheLeaked=${q.cacheLeaked})")
      else None
    }
    assert(offenders.isEmpty,
      s"cache-lifetime violations (warm-cache bench hazard): $offenders")
  }
}
