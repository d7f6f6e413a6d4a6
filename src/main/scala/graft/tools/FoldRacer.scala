package graft.tools

import org.apache.spark.sql.functions.{col, expr}

import graft.operators.Similarity

/** Cross-PROCESS fold drill for the path-backed IVF family
  * (`runMain`/fork target of WriterLeaseSpec's two-driver fold race).
  * The band family's catalog is process-local, so a true two-JVM fuzz
  * is impossible there — but an IVF layout is a PLAIN DIRECTORY two
  * driver JVMs can genuinely share, which makes the full
  * single-writer contract testable end-to-end: this child opens its
  * own SparkSession and folds `nBatches` disjoint batches (its residue
  * class of `vec_id % mod`, split by `vec_id div mod % nBatches`) into
  * the layout at `layoutPath`, each fold taking the writer lease like
  * any production ingest job. Every fold runs TWICE — the second call
  * no-ops (the in-process memo here; the parent separately replays a
  * child's tag from ITS process, which must no-op on the layout log's
  * fold ledger — cross-process idempotence alongside mutual exclusion). The parent asserts the union landed exactly once.
  */
object FoldRacer {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: FoldRacer <layoutPath> <embParquet> <mod> <residue> <nBatches>")
    val layout = args(0)
    val emb    = args(1)
    val mod    = args(2).toInt
    val res    = args(3).toInt
    val n      = args(4).toInt
    val spark = graft.Sessions.local(s"graft-fold-racer-$res", cores = 2, conf = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-racer-wh").toString,
      // three writers contend on one lineage; folds are seconds each,
      // so a generous bounded wait keeps the drill deterministic
      "spark.graft.index.writerLeaseWaitSeconds" -> "300"))
    try {
      val vecs = spark.read.parquet(emb)
        .filter(col("vec_id") % mod === res)
        .select("vec_id", "embedding")
      (0 until n).foreach { i =>
        val batch = vecs.filter(expr(s"vec_id div $mod") % n === i)
        Similarity.foldIntoIvfIndex(batch, layout, s"racer-$res-$i")
        Similarity.foldIntoIvfIndex(batch, layout, s"racer-$res-$i")
      }
      println(s"FOLDRACER_DONE res=$res")
    } finally spark.stop()
  }
}
