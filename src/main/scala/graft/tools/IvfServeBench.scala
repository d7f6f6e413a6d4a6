package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Serving-throughput comparison for the staged IVF layout
  * (`runMain graft.tools.IvfServeBench [sfDir] [batchN] [k] [nProbe]`):
  * answer the same `batchN` query vectors (a) with ONE
  * [[Similarity.ivfProbeBatch]] call — one distributed centroid
  * ranking, one partition-pruned cells scan amortized over the whole
  * batch — and (b) with `batchN` sequential [[Similarity.ivfProbe]]
  * calls, each paying its own driver ranking + pruned scan job. Prints
  * one JSON line with both walls and the speedup.
  *
  * This is the number the batched-serving operator (q107) exists for:
  * per-query fixed cost (job scheduling, scan setup) dominates
  * sequential serving, while the batched plan's cost is one scan plus
  * a candidate shuffle bounded by batch·nProbe·√n rows. Both paths
  * produce identical rows (SimilaritySpec pins equality); this tool
  * measures only wall.
  */
object IvfServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir  = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchN = args.lift(1).map(_.toInt).getOrElse(200)
    val k      = args.lift(2).map(_.toInt).getOrElse(10)
    val nProbe = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = graft.Sessions.local()

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (path, c) = Similarity.ensureIvfIndex(emb, srcTag = sfDir)
    val queries = emb.filter(col("vec_id") < batchN)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)

    def drain(df: org.apache.spark.sql.DataFrame): Long = df.count()

    // warm both paths once (codegen, page cache) — the contrast being
    // measured is steady-state serving, not first-call setup
    drain(Similarity.ivfProbeBatch(spark, path, queries.take(2), k, nProbe))
    drain(Similarity.ivfProbe(spark, path, queries.head._2, k, nProbe,
      exclude = Some(queries.head._1)))

    val t0 = System.nanoTime()
    val nBatch = drain(
      Similarity.ivfProbeBatch(spark, path, queries, k, nProbe))
    val batchSec = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    var nSeq = 0L
    queries.foreach { case (qid, vec) =>
      nSeq += drain(
        Similarity.ivfProbe(spark, path, vec, k, nProbe, exclude = Some(qid)))
    }
    val seqSec = (System.nanoTime() - t1) / 1e9

    println(f"""{"sf_dir":"$sfDir","batch_n":$batchN,"k":$k,"n_probe":$nProbe,"n_centroids":$c,"batched_sec":$batchSec%.3f,"sequential_sec":$seqSec%.3f,"speedup":${seqSec / batchSec}%.2f,"rows_batched":$nBatch,"rows_sequential":$nSeq}""")
    spark.stop()
  }
}
