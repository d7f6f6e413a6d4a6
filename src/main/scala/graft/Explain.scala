package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan inspection: `runMain graft.Explain [--out=PLANS.md] [sfDir]
  * [query...]` prints (or writes) the formatted plan of each named query
  * (default: the headline set). The review loop for "is this the plan
  * I'd want at 100 TB": check PushedFilters, ReadSchema, broadcast vs
  * sort-merge, WholeStageCodegen spans, partial aggregation.
  *
  * With `--out=PLANS.md` the dump is committed per round so plan
  * regressions (a lost broadcast, a new Exchange, a filter that stopped
  * pushing down) surface as git diffs — complementing the two plan-audit
  * specs, which gate only the two known scale-killers. Expression ids
  * (`#123`) and plan ids are normalized out so diffs show plan-SHAPE
  * changes, not counter churn from unrelated queries.
  */
object Explain {

  /** The committed-plan set: scans with pushdown (q15), the broadcast
    * join chain (q03), dedup/LSH kernels (q20/q23/q63), the native
    * as-of join (q50), salted and range joins (q52/q53), sketch
    * aggregates (q57), packing's two-level scan (q66), ANN — the IVF
    * probe's partition-pruned cell scan (q51) and int8 (q68), the
    * bucketed join (q75), the mixing rate join (q76), the Bloom
    * runtime filter (q81 — the probe must sit below the exchange),
    * and the curriculum two-level rank (q83). The map-only repetition
    * profile (q102 — the plan must be a single projection over the
    * scan, zero exchanges) and the budget cut's weight prefix sum
    * (q103). Streaming drains are excluded: their returned frame is a
    * checkpoint scan — the real streaming plan lives inside the drain
    * harness.
    */
  val headline: Seq[String] = Seq(
    "q01_pricing_summary", "q03_nation_revenue", "q15_bbox_parts",
    "q20_fingerprint_dedup", "q22_cosine_topk", "q23_minhash_pairs",
    "q50_asof_native", "q52_salted_join", "q53_range_join",
    "q51_ivf_ann", "q57_hll_distinct", "q63_jaccard_prefix", "q66_seq_pack",
    "q68_ann_int8", "q75_bucketed_join", "q76_temperature_mix",
    "q81_bloom_semi", "q83_curriculum_shards", "q89_bigram_surprisal",
    "q90_lexical_and", "q91_ranked_tfidf", "q92_phrase_query",
    "q96_bm25", "q100_pmi_colloc", "q102_repetition_profile",
    "q103_budget_select", "q106_incr_neardup",
    // batched IVF serving: the plan must show the broadcast probe map +
    // query-partitioned windows over ONE partition-pruned cells scan —
    // no driver-side ranking anywhere
    "q107_ivf_batch",
    // the IVF fold's distributed half (q111/q112 run it inside a write;
    // this probe shape exposes the plan): MAP-ONLY since the r21 fused
    // argmax kernel — a 1-row broadcast of the centroid array and
    // ivf_argmax_cos in the scan's project; ZERO exchanges (the r20
    // form paid a batch-sized argmax groupBy whose rows carried the
    // quantized vectors), the corpus cells appear nowhere
    "p03_ivf_fold_uncapped",
    // the IVF-PQ fold's distributed half (q120/q121 run it inside a
    // write): centroid assignment AND standing-book PQ encoding fused
    // into the same map-only projection — zero exchanges end to end
    "p05_ivfpq_fold_encode",
    // IVF-PQ single probe: a partition-pruned scan of (vec_id, codes)
    // ONLY — no vector column, no join, no aggregate; ADC is m literal
    // array lookups fused into the scan's project, then TakeOrdered
    "q118_ivfpq",
    // batched IVF-PQ serving: ONE pruned code scan + broadcast probe
    // map + broadcast per-query LUT join + map-side-combined adist agg
    // + query-partitioned top-k window
    "q122_ivfpq_batch",
    // the deletion tier (batch legs; q128 is a streaming drain): the
    // takedown path exchanges O(|delete|) — tombstone ids broadcast
    // into the live-view anti-join, the bounded debt count — never
    // O(index); the cells/band scans keep their pruning under it
    "q125_band_delete", "q126_ivf_delete", "q127_ivfpq_delete")

  /** Strip run-dependent counters so committed dumps diff cleanly:
    * expression ids, codegen stage ids, plan ids, temp-view uuids.
    */
  def normalize(plan: String): String =
    plan
      .replaceAll("#\\d+L?", "#x")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : x]")
      .replaceAll("\\[plan_id=\\d+\\]", "[plan_id=x]")
      .replaceAll("cte\\[\\d+\\]", "cte[x]")

  def main(args: Array[String]): Unit = {
    val out = args.collectFirst { case a if a.startsWith("--out=") => a.drop(6) }
    val rest = args.filterNot(_.startsWith("--out="))
    val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (rest.length > 1) rest.tail.toSeq else headline
    // pinned at 4 cores: PLANS.md records local[4] plans
    val spark = Sessions.local(cores = 4, logLevel = "ERROR")
    val all = SparkEntry.queries ++ SparkEntry.probeQueries
    val plans = names.map { n =>
      n -> normalize(all(n)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))).trim
    }
    out match {
      case Some(path) =>
        val header =
          s"""# PLANS — formatted plans of the headline queries
             |
             |Regenerated per round (`sbt "runMain graft.Explain --out=PLANS.md"`,
             |sf0.01) and committed so plan regressions — a lost broadcast, a new
             |Exchange, a filter that stopped pushing down — show up as diffs.
             |Expression/codegen/plan ids are normalized to `x`.
             |""".stripMargin
        val body = plans.map { case (n, p) => s"\n## $n\n\n```\n$p\n```\n" }.mkString
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), header + body)
        println(s"wrote ${names.size} plans to $path")
      case None =>
        plans.foreach { case (n, p) => println(s"\n========== $n ==========\n$p") }
    }
    spark.stop()
  }
}
