package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Small-file pressure on a fold-heavy IVF layout and what
  * [[Similarity.compactIvfCells]] buys back
  * (`runMain graft.tools.CompactionBench [sfDir] [nBatches]`):
  * build the index on 90% of the corpus, fold the held-out 10% as
  * `nBatches` separate ingestion batches (each appends one file set
  * per touched cell — the long-lived ingestion-tier shape), measure
  * cell-file count and steady-state probe wall, compact, re-measure.
  * Probe results are pinned identical by SimilaritySpec; this tool
  * measures only the file-count collapse and the scan-setup cost it
  * removes. Prints one JSON line.
  */
object CompactionBench {
  def main(args: Array[String]): Unit = {
    val sfDir    = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(20)
    val spark = graft.Sessions.local()

    val emb    = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, c) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"$sfDir#compactbench${System.nanoTime()}")
    // the held-out tenth arrives as nBatches separate ingestion folds —
    // with the AUTO-COMPACTION POLICY DISARMED: this leg measures the
    // accumulated small-file shape, so the default threshold must not
    // quietly compact it mid-measurement at larger nBatches
    spark.conf.set("spark.graft.index.autoCompactFilesPerUnit", "0")
    (0 until nBatches).foreach { i =>
      Similarity.foldIntoIvfIndex(
        emb.filter(col("vec_id") % 10 === 0 &&
          col("vec_id") % (10L * nBatches) === 10L * i),
        path, batchTag = s"cb$i")
    }
    def cellFiles: Int = graft.util.LocalFs.parquetFileCount(Similarity.activeCellsDir(spark, path))
    val qv = emb.filter(col("vec_id") === 1L).select("embedding")
      .collect().head.getSeq[Float](0).toSeq
    def probeMedian(): Double = {
      Similarity.ivfProbe(spark, path, qv, 10, 4, Some(1L)).count() // warm
      val ts = (1 to 9).map { _ =>
        val t0 = System.nanoTime()
        Similarity.ivfProbe(spark, path, qv, 10, 4, Some(1L)).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.length / 2)
    }
    val filesBefore = cellFiles
    val probeBefore = probeMedian()
    val t0 = System.nanoTime()
    Similarity.compactIvfCells(spark, path)
    val compactSec = (System.nanoTime() - t0) / 1e9
    val filesAfter = cellFiles
    val probeAfter = probeMedian()

    // the POLICY leg (r15 ask: the delta via the policy, not a manual
    // call): a second fresh layout ingests the same batches with
    // `spark.graft.index.autoCompactFilesPerUnit` armed — the folds
    // compact THEMSELVES whenever the layout crosses the threshold, so
    // steady-state file count and probe wall stay near the compacted
    // point with zero operator involvement
    val policyThreshold =
      sys.env.getOrElse("SPARK_GRAFT_AUTOCOMPACT_FPC", "4")
    spark.conf.set("spark.graft.index.autoCompactFilesPerUnit",
      policyThreshold)
    val (path2, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"$sfDir#compactpolicy${System.nanoTime()}")
    val tp0 = System.nanoTime()
    (0 until nBatches).foreach { i =>
      Similarity.foldIntoIvfIndex(
        emb.filter(col("vec_id") % 10 === 0 &&
          col("vec_id") % (10L * nBatches) === 10L * i),
        path2, batchTag = s"cp$i")
    }
    val policyFoldSec = (System.nanoTime() - tp0) / 1e9
    spark.conf.unset("spark.graft.index.autoCompactFilesPerUnit")
    def cellFiles2: Int = graft.util.LocalFs.parquetFileCount(Similarity.activeCellsDir(spark, path2))
    def probeMedian2(): Double = {
      Similarity.ivfProbe(spark, path2, qv, 10, 4, Some(1L)).count() // warm
      val ts = (1 to 9).map { _ =>
        val t0 = System.nanoTime()
        Similarity.ivfProbe(spark, path2, qv, 10, 4, Some(1L)).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.length / 2)
    }
    val filesPolicy = cellFiles2
    val probePolicy = probeMedian2()

    def f(d: Double) = math.round(d * 1000) / 1000.0
    println(
      s"""{"sf_dir":"$sfDir","n_vecs":${emb.count()},"n_centroids":$c,""" +
      s""""n_batches":$nBatches,"files_before":$filesBefore,""" +
      s""""files_after":$filesAfter,"compact_sec":${f(compactSec)},""" +
      s""""probe_sec_before":${f(probeBefore)},"probe_sec_after":${f(probeAfter)},""" +
      s""""policy_files_per_cell":$policyThreshold,""" +
      s""""files_policy":$filesPolicy,"probe_sec_policy":${f(probePolicy)},""" +
      s""""policy_fold_total_sec":${f(policyFoldSec)}}""")
    spark.stop()
  }
}
