package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** The escalated connected-components path under the shuffle lens
  * (`runMain graft.tools.CcChainProbe [sfDir]`): chains every document
  * of the fixture into ONE corpus-diameter path — the adversarial
  * shape that pins phase-1 propagation at its 4-round bound and forces
  * the Kiveris large-star/small-star contraction on the label quotient
  * — and prints one JSON line with total shuffle traffic PLUS the
  * per-round quotient telemetry (edges, internal nodes) from the
  * [[graft.operators.Clusters.connectedComponents]] onQuotient hook.
  *
  * What the row proves at 100 TB: the per-round exchange is bounded by
  * the QUOTIENT (which starts ~4× coarser than the input and whose
  * internal-node mass halves every round), not by O(diameter) passes
  * over the full edge set — the r18 verdict's ask #6. Edge count stays
  * ~n by construction (every non-root keeps one parent edge); the
  * shrinking quantity is the internal-node count, 0 at the forest.
  */
object CcChainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/fixtures/sf1.0")
    val spark = graft.Sessions.local()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val n    = docs.count()
    val edges = docs.filter(col("doc_id") < n - 1)
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))

    val wBytes = new LongAdder; val wRecs = new LongAdder
    val rBytes = new LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit = {
        val m = end.taskMetrics
        if (m != null) {
          wBytes.add(m.shuffleWriteMetrics.bytesWritten)
          wRecs.add(m.shuffleWriteMetrics.recordsWritten)
          rBytes.add(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    }
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var total  = 0
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val labels = graft.operators.Clusters.connectedComponents(
      edges,
      onRound = r => total = r,
      onQuotient = (r, e, i) => rounds += ((r, e, i)))
    val (nNodes, nClusters) = {
      val row = labels.agg(count(lit(1)), countDistinct(col("cluster"))).head()
      (row.getLong(0), row.getLong(1))
    }
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(2000) // listener bus is async
    spark.sparkContext.removeSparkListener(listener)
    require(nClusters == 1L,
      s"the chain must collapse to one component, got $nClusters")
    val phase2 = rounds
      .map { case (r, e, i) => s"""{"round":$r,"edges":$e,"internal":$i}""" }
      .mkString("[", ",", "]")
    println(
      f"""{"probe":"p07_cc_longchain","sf_dir":"$sfDir","n_docs":$n,"n_nodes":$nNodes,"rounds_total":$total,"phase2_rounds":${rounds.size},"phase2":$phase2,"shuffle_write_bytes":${wBytes.sum},"shuffle_write_records":${wRecs.sum},"shuffle_read_bytes":${rBytes.sum},"sec":$sec%.3f}""")
    spark.stop()
  }
}
