package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** What the tombstone-deletion tier costs and saves at scale
  * (`runMain graft.tools.DeletionBench [sfDir]`): for BOTH maintained
  * index families, measure the takedown path end-to-end —
  *
  *   1. steady-state probe wall on the intact index,
  *   2. the delete call itself (tombstone append, O(|delete|)),
  *   3. probe wall with tombstones STANDING (the anti-join tax every
  *      read pays until the next compaction),
  *   4. compaction (physical purge) wall,
  *   5. probe wall after the purge,
  *   6. for contrast: a full rebuild-from-remainder — the cost the
  *      delete path exists to avoid on a 100 TB corpus under
  *      takedown/refresh trickle.
  *
  * Probe RESULTS are pinned by SimilaritySpec/DedupSpec/the
  * MaintenanceFuzzSpec; this tool measures wall only. Prints one JSON
  * line (committed as BENCH_delete.json at round close).
  */
object DeletionBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a  = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def median(runs: Int)(body: => Unit): Double = {
      body // warm
      val ts = (1 to runs).map { _ => timed(body)._2 }.sorted
      ts(ts.length / 2)
    }
    def f(d: Double) = math.round(d * 1000) / 1000.0

    // ---- IVF family ----
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVecs = emb.count()
    val (ivf, _) = Similarity.ensureIvfIndex(emb,
      srcTag = s"$sfDir#delbench${System.nanoTime()}")
    val qv = emb.filter(col("vec_id") === 1L).select("embedding")
      .collect().head.getSeq[Float](0).toSeq
    def ivfProbe(): Unit = {
      val _ = Similarity.ivfProbe(spark, ivf, qv, 10, 4, Some(1L)).count()
    }
    val ivfProbeIntact = median(9)(ivfProbe())
    val delIds = emb.filter(col("vec_id") % 10 === 0).select("vec_id")
    val nDel   = delIds.count()
    val (_, ivfDeleteSec) = timed(
      Similarity.deleteFromIvfIndex(delIds, ivf, delTag = "takedown"))
    val ivfProbeTomb = median(9)(ivfProbe())
    val (_, ivfCompactSec) = timed(Similarity.compactIvfCells(spark, ivf))
    val ivfProbePurged = median(9)(ivfProbe())
    // the avoided cost: rebuilding the index from the remainder
    val (_, ivfRebuildSec) = timed(
      Similarity.ensureIvfIndex(emb.filter(col("vec_id") % 10 =!= 0),
        srcTag = s"$sfDir#delrebuild${System.nanoTime()}"))

    // ---- band-index family ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val prefix = s"graft_delbench${System.nanoTime()}"
    val (_, bandBuildSec) = timed(
      Dedup.ensureMinhashBandIndex(docs, prefix, srcTag = s"$sfDir#db"))
    val (bt, st) = (s"${prefix}_bands", s"${prefix}_sigs")
    val probeDocs = docs.filter(col("doc_id") % 1000 === 7)
    def bandProbe(): Unit = {
      val _ = Dedup.incrementalNearDupPairs(probeDocs, bt, st).count()
    }
    val bandProbeIntact = median(5)(bandProbe())
    val docDelIds = docs.filter(col("doc_id") % 10 === 0).select("doc_id")
    val nDocDel   = docDelIds.count()
    val (_, bandDeleteSec) = timed(Dedup.deleteFromMinhashBandIndex(
      docDelIds, prefix, delTag = "takedown"))
    val bandProbeTomb = median(5)(bandProbe())
    val (_, bandCompactSec) = timed(
      Dedup.compactMinhashBandIndex(spark, prefix))
    val bandProbePurged = median(5)(bandProbe())
    val (_, bandRebuildSec) = timed(Dedup.ensureMinhashBandIndex(
      docs.filter(col("doc_id") % 10 =!= 0),
      s"${prefix}r", srcTag = s"$sfDir#dbr"))

    // ---- post-takedown recall gate (the r17 ask): RECALL_GATE.json
    // covers the PQ default point on an INTACT index; a takedown tier
    // must also hold it on the layout a 10% delete + physical purge
    // leaves behind. Same defaults as the standing gate (ks=256,
    // kAdc=1000, nProbe=4, recall@10), ground truth = brute-force
    // quantized cosine over the REMAINDER. Fails the run (exit != 0)
    // below the floor so a regressed post-purge layout can't ship
    // silently; floor tunable via SPARK_GRAFT_DELBENCH_MIN_RECALL.
    val remainder = emb.filter(col("vec_id") % 10 =!= 0)
    val (pq, _) = Similarity.ensureIvfPqIndex(emb,
      srcTag = s"$sfDir#delpq${System.nanoTime()}")
    Similarity.deleteFromIvfIndex(delIds, pq, delTag = "takedown")
    Similarity.compactIvfCells(spark, pq)
    // deterministic query set (same pattern as the intact-index gate):
    // limit() without an order lets partition arrival order pick the
    // rows, which can flip the committed gate metric between runs on
    // identical code/data
    val recallQs = remainder.filter(col("vec_id") % 10 === 1)
      .orderBy("vec_id").limit(20).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq
    require(recallQs.nonEmpty,
      "post-takedown recall gate: no query vectors in the remainder")
    val recalls = recallQs.map { case (qid, qvec) =>
      val exact = Similarity.bruteForceTopKPortable(remainder, qid, 10)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = Similarity.ivfPqProbeRerank(spark, pq, remainder, qvec,
          k = 10, kAdc = 1000, nProbe = 4, exclude = Some(qid))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      got.count(exact.contains).toDouble / exact.size
    }
    val recallAfterPurge = recalls.sum / recalls.size
    val minRecall = sys.env.get("SPARK_GRAFT_DELBENCH_MIN_RECALL")
      .flatMap(_.toDoubleOption).getOrElse(0.95)

    println(
      s"""{"sf_dir":"$sfDir","ivf":{"n_vecs":$nVecs,"n_deleted":$nDel,""" +
      s""""delete_sec":${f(ivfDeleteSec)},"compact_sec":${f(ivfCompactSec)},""" +
      s""""rebuild_sec":${f(ivfRebuildSec)},"probe_sec_intact":${f(ivfProbeIntact)},""" +
      s""""probe_sec_tombstoned":${f(ivfProbeTomb)},"probe_sec_purged":${f(ivfProbePurged)}},""" +
      s""""band":{"n_docs":$nDocs,"n_deleted":$nDocDel,""" +
      s""""build_sec":${f(bandBuildSec)},"delete_sec":${f(bandDeleteSec)},""" +
      s""""compact_sec":${f(bandCompactSec)},"rebuild_sec":${f(bandRebuildSec)},""" +
      s""""probe_sec_intact":${f(bandProbeIntact)},""" +
      s""""probe_sec_tombstoned":${f(bandProbeTomb)},""" +
      s""""probe_sec_purged":${f(bandProbePurged)}},""" +
      s""""pq_recall_after_purge":${f(recallAfterPurge)},""" +
      s""""pq_recall_min":$minRecall,""" +
      s""""pq_recall_pass":${recallAfterPurge >= minRecall}}""")
    spark.stop()
    require(recallAfterPurge >= minRecall,
      f"post-takedown rerank recall@10 $recallAfterPurge%.3f < $minRecall " +
        "on the compacted layout")
  }
}
