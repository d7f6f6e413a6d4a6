package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Shuffle-traffic audit: `runMain graft.ShuffleProbe q23_minhash_pairs
  * [sfDir]` runs one `SparkEntry` query under a task-metrics listener
  * and prints ONE JSON line with its total shuffle write/read bytes and
  * records.
  *
  * This is the number the 100 TB question turns on: wall-clock at
  * sf0.1 barely moves when a join payload shrinks 10× (the data fits
  * in page cache), but shuffle bytes scale linearly with the corpus —
  * a diet that drops bytes-per-doc at sf0.1 drops terabytes at the
  * target scale. Used to validate the MinHash candidate-join payload
  * diet (only ids ride the banding shuffle; signatures re-join per
  * surviving pair) and any future exchange-payload work.
  *
  * The query runs once untimed first so one-time layout/codegen work
  * does not pollute the measured pass (same ingest-excluded contract
  * as Bench).
  */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ShuffleProbe <queryName> [sfDir]")
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local()
    SparkEntry.prepareLayouts(spark, sfDir)
    // probeQueries: scale-demo shapes measured by tooling only (e.g.
    // the uncapped incremental-ingestion variants), not driver-gated
    val all = SparkEntry.queries ++ SparkEntry.probeQueries
    val fn = all.getOrElse(name,
      sys.error(s"unknown query $name; known: ${all.keys.toSeq.sorted.mkString(",")}"))

    def run(): Unit = fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    run() // untimed warm pass (layouts, codegen)

    val wBytes = new LongAdder; val wRecs = new LongAdder
    val rBytes = new LongAdder; val tasks = new LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(end: SparkListenerTaskEnd): Unit = {
        val m = end.taskMetrics
        if (m != null) {
          wBytes.add(m.shuffleWriteMetrics.bytesWritten)
          wRecs.add(m.shuffleWriteMetrics.recordsWritten)
          rBytes.add(m.shuffleReadMetrics.totalBytesRead)
          tasks.add(1L)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    run()
    val sec = (System.nanoTime() - t0) / 1e9
    // the listener bus is async: give queued TaskEnd events time to drain
    Thread.sleep(2000)
    spark.sparkContext.removeSparkListener(listener)
    println(f"""{"query":"$name","sf_dir":"$sfDir","shuffle_write_bytes":${wBytes.sum},"shuffle_write_records":${wRecs.sum},"shuffle_read_bytes":${rBytes.sum},"tasks":${tasks.sum},"sec":$sec%.3f}""")
    spark.stop()
  }
}
