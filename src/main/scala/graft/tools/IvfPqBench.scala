package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Scale evidence for the composed IVF-PQ layout
  * (`runMain graft.tools.IvfPqBench [sfDir] [nQueries] [k] [nProbe]`):
  * against the SAME corpus and the same staged-layout contract, compare
  *
  *   - serving-tier footprint: bytes under `cells/` for the IVF layout
  *     (full quantized vectors ride every probe) vs the IVF-PQ layout
  *     (m code ids per vector) — the compression that lets a 100 TB
  *     corpus's hot index fit a serving fleet;
  *   - steady-state single-probe wall (median over nQueries probes,
  *     each its own driver ranking + pruned scan, warm page cache);
  *   - recall@k of each approximate path vs the exact quantized-cosine
  *     brute ranking (PQ trades recall for footprint — the number that
  *     decides whether to re-rank the ADC top-k' against cold-storage
  *     vectors).
  *
  * Prints one JSON line; tooling only, never on a query path.
  */
object IvfPqBench {
  def main(args: Array[String]): Unit = {
    val sfDir    = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nQueries = args.lift(1).map(_.toInt).getOrElse(20)
    val k        = args.lift(2).map(_.toInt).getOrElse(10)
    val nProbe   = args.lift(3).map(_.toInt).getOrElse(4)
    val ks       = args.lift(4).map(_.toInt).getOrElse(256)
    val kAdcArg  = args.lift(5).map(_.toInt)
    val batchN   = args.lift(6).map(_.toInt).getOrElse(0)
    val spark = graft.Sessions.local()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (ivfPath, c)  = Similarity.ensureIvfIndex(emb, srcTag = sfDir)
    val (pqPath, _)   = Similarity.ensureIvfPqIndex(emb, srcTag = sfDir, ks = ks)

    val ivfBytes = graft.util.LocalFs.dirBytes(Similarity.activeCellsDir(spark, ivfPath))
    val pqBytes  = graft.util.LocalFs.dirBytes(Similarity.activeCellsDir(spark, pqPath))

    val queries = emb.filter(col("vec_id") < nQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)

    // exact reference ranking per query (quantized cosine, the q22
    // contract) for recall
    def exactTop(qid: Long): Set[Long] =
      Similarity.bruteForceTopKPortable(emb, qid, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet

    def timeMedian(run: (Long, Seq[Float]) => Unit): Double = {
      // warm once
      run(queries.head._1, queries.head._2)
      val times = queries.map { case (qid, qv) =>
        val t0 = System.nanoTime()
        run(qid, qv)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times(times.length / 2)
    }

    val ivfSec = timeMedian { (qid, qv) =>
      Similarity.ivfProbe(spark, ivfPath, qv, k, nProbe,
        exclude = Some(qid)).count(); ()
    }
    val pqSec = timeMedian { (qid, qv) =>
      Similarity.ivfPqProbe(spark, pqPath, qv, k, nProbe,
        exclude = Some(qid)).count(); ()
    }

    def recall(probe: (Long, Seq[Float]) => Set[Long]): Double = {
      val rs = queries.map { case (qid, qv) =>
        val ex = exactTop(qid)
        probe(qid, qv).count(ex.contains).toDouble / ex.size
      }
      rs.sum / rs.size
    }
    val ivfRecall = recall { (qid, qv) =>
      Similarity.ivfProbe(spark, ivfPath, qv, k, nProbe, exclude = Some(qid))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val pqRecall = recall { (qid, qv) =>
      Similarity.ivfPqProbe(spark, pqPath, qv, k, nProbe, exclude = Some(qid))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    // mirror the library default (ivfPqProbeRerank's kAdc=1000) so a
    // bare run measures the point a deployment would actually serve
    val kAdc = kAdcArg.getOrElse(1000)
    val rerankRecall = recall { (qid, qv) =>
      Similarity.ivfPqProbeRerank(spark, pqPath, emb, qv, k, kAdc, nProbe,
        exclude = Some(qid))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val rerankSec = timeMedian { (qid, qv) =>
      Similarity.ivfPqProbeRerank(spark, pqPath, emb, qv, k, kAdc, nProbe,
        exclude = Some(qid)).count(); ()
    }

    // optional batched-serving point: batchN queries answered by ONE
    // pruned code scan (the q122 shape) — wall for the whole batch
    val batchedSec = if (batchN <= 0) -1.0 else {
      val bqs = emb.filter(col("vec_id") < batchN)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)
      Similarity.ivfPqProbeBatch(spark, pqPath, bqs.take(2), k, nProbe).count()
      val t0 = System.nanoTime()
      val n  = Similarity.ivfPqProbeBatch(spark, pqPath, bqs, k, nProbe).count()
      val dt = (System.nanoTime() - t0) / 1e9
      require(n > 0); dt
    }

    def f(d: Double) = math.round(d * 1000) / 1000.0
    println(
      s"""{"sf_dir":"$sfDir","n_vecs":${emb.count()},"n_centroids":$c,""" +
      s""""n_queries":$nQueries,"k":$k,"n_probe":$nProbe,"ks":$ks,""" +
      s""""ivf_cells_bytes":$ivfBytes,"pq_cells_bytes":$pqBytes,""" +
      s""""compression":${f(ivfBytes.toDouble / pqBytes)},""" +
      s""""ivf_probe_sec":${f(ivfSec)},"pq_probe_sec":${f(pqSec)},""" +
      s""""ivf_recall_at_$k":${f(ivfRecall)},"pq_recall_at_$k":${f(pqRecall)},""" +
      s""""rerank_k_adc":$kAdc,"rerank_probe_sec":${f(rerankSec)},""" +
      s""""rerank_recall_at_$k":${f(rerankRecall)},""" +
      s""""batch_n":$batchN,"batched_sec":${f(batchedSec)}}""")
    spark.stop()
  }
}
