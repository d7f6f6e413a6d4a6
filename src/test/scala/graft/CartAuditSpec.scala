package graft

import org.apache.spark.sql.catalyst.plans.logical.Join

/** Global audit #2: condition-less joins. A cartesian between two big
  * relations is the other classic scale-killer (O(n·m) rows); the only
  * sanctioned instances are query-vector broadcasts — one side is a
  * single row (the ANN probe) or the nCentroids-row centroid table, so
  * the "cartesian" is a BroadcastNestedLoopJoin over a handful of rows.
  * A new condition-less join anywhere else must justify itself here.
  */
class CartAuditSpec extends SparkSpec {

  private val allowedConditionlessJoins = Map(
    "q22_cosine_topk"     -> 1, // 1-row query vector broadcast
    "q37_media_embed_ann" -> 1, // 1-row probe embedding broadcast
    // q51 serves from the staged IVF layout (literal query vector over
    // partition-pruned cells) — zero joins, so no allowance needed
    "q68_ann_int8"        -> 1, // 1-row quantized query broadcast
    "q76_temperature_mix" -> 1, // 1-row global n_min over the per-source
                                // counts (the q42 scalar-subquery shape);
                                // both sides O(#sources), never the corpus
    "q78_tfidf_keywords"  -> 1, // 1-row corpus doc count broadcast into
                                // the (doc, token) tf table (q42 shape)
    "q80_surprisal"       -> 1, // 1-row corpus token total broadcast
                                // into the tf⋈cnt join (q42 shape)
    "q83_curriculum_shards" -> 1, // 1-row corpus size broadcast into the
                                // ranked rows (q42 shape)
    "q85_stratified_exact" -> 1, // 1-row corpus total into the
                                // O(#strata) quota table (q42 shape)
    "q88_neg_samples" -> 1,     // 1-row corpus size broadcast into the
                                // anchor projection (q42 shape)
    "q91_ranked_tfidf" -> 1,    // 1-row corpus size broadcast into the
                                // term-filtered scoring join (q42 shape)
    "q96_bm25" -> 1,            // 1-row (n_docs, avgdl) stats broadcast
                                // into the term-filtered postings (q42 shape)
    "q97_hybrid_rrf" -> 2,      // lexical leg's 1-row n_docs broadcast +
                                // vector leg's 1-row query broadcast
    "q100_pmi_colloc" -> 1,     // 1-row bigram-total broadcast into the
                                // support-filtered pair table (q42 shape)
    "q116_pq_codes" -> 1,       // 1-row sorted-codebook broadcast (fixed-
                                // size compression state, ~20 KB) feeding
                                // the map-only PQ argmin kernel — the r21
                                // pqEncode shape. q117 rides the SAME
                                // 1-row broadcast but needs no allowance:
                                // its adist-isNotNull predicate references
                                // both sides, so the optimizer pushes it
                                // into the join as a condition.
    "q114_ivf_advisor" -> 1     // 1-row occupancy aggregate x 1-row
                                // centroid count — both sides single
                                // rows by construction (the advisor's
                                // one-row metrics join)
  )

  test("no query has an unsanctioned condition-less join") {
    val offenders = AuditedPlans.of(spark, sf("sf0.001")).flatMap { q =>
      val n = q.plan.collect {
        case j: Join if j.condition.isEmpty => j
      }.size
      if (n > allowedConditionlessJoins.getOrElse(q.name, 0)) Some(q.name -> n) else None
    }
    assert(offenders.isEmpty,
      s"condition-less joins outside the sanctioned ANN broadcasts: $offenders")
  }
}
