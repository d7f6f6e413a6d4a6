package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}

import graft.operators.{Dedup, Similarity}

/** Cross-PROCESS maintenance drill for both index families (fork target
  * of WriterLeaseSpec's two-driver races). Both store a lineage as a
  * plain directory two driver JVMs can genuinely share, so this child
  * opens its own SparkSession and folds `nBatches` disjoint batches
  * (its residue class of `id % mod`, split by `id div mod % nBatches`)
  * into the lineage, each fold taking the writer lease like any
  * production ingest job. Every fold runs TWICE — the second call
  * no-ops (the in-process memo here; the parent separately replays a
  * child's tag from ITS process, which must no-op on the log's fold
  * ledger). The parent asserts the union landed exactly once.
  *
  *  - `<layoutPath> <embParquet> <mod> <residue> <nBatches>` folds
  *    vectors into an IVF layout;
  *  - `band <warehouseDir> <prefix> <docsParquet> <mod> <residue>
  *    <nBatches>` folds documents into band lineage `prefix` of the
  *    parent's warehouse, registering the pair from the log;
  *  - `band-compact <warehouseDir> <prefix>` force-compacts that
  *    lineage, retiring what the policy selects among the generations
  *    any process wrote.
  */
object FoldRacer {
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("band", wh, prefix, docs, mod, res, n) =>
      race(s"band-$res", Some(wh), docs, "doc_id", "text", mod.toInt, res.toInt, n.toInt)(
        Dedup.foldIntoMinhashBandIndex(_, prefix, _))
    case Seq("band-compact", wh, prefix) =>
      withSession("band-compact", Some(wh)) { spark =>
        Dedup.compactMinhashBandIndex(spark, prefix, force = true)
        println("FOLDRACER_DONE band-compact")
      }
    case Seq(layout, emb, mod, res, n) =>
      race(res, None, emb, "vec_id", "embedding", mod.toInt, res.toInt, n.toInt)(
        Similarity.foldIntoIvfIndex(_, layout, _))
    case _ =>
      sys.error("usage: FoldRacer <layoutPath> <embParquet> <mod> <residue> <nBatches> | " +
        "band <warehouseDir> <prefix> <docsParquet> <mod> <residue> <nBatches> | " +
        "band-compact <warehouseDir> <prefix>")
  }

  // fold this racer's residue class of `src` in `n` batches, each twice
  private def race(name: String, warehouse: Option[String], src: String, id: String,
      payload: String, mod: Int, res: Int, n: Int)(fold: (DataFrame, String) => Unit): Unit =
    withSession(name, warehouse) { spark =>
      val rows = spark.read.parquet(src).filter(col(id) % mod === res).select(id, payload)
      (0 until n).foreach { i =>
        val batch = rows.filter(expr(s"$id div $mod") % n === i)
        fold(batch, s"racer-$res-$i")
        fold(batch, s"racer-$res-$i")
      }
      println(s"FOLDRACER_DONE res=$res")
    }

  // a two-core session on `warehouse` (a fresh temp dir when None);
  // three writers contend on one lineage and folds are seconds each,
  // so a generous bounded lease wait keeps the drill deterministic
  private def withSession(name: String, warehouse: Option[String])(
      body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val spark = graft.Sessions.local(s"graft-fold-racer-$name", cores = 2, conf = Seq(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.warehouse.dir" -> warehouse.getOrElse(
        java.nio.file.Files.createTempDirectory("graft-racer-wh").toString),
      "spark.graft.index.writerLeaseWaitSeconds" -> "300"))
    try body(spark) finally spark.stop()
  }
}
