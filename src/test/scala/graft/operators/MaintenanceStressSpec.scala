package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Property-style randomized MAINTENANCE stress for the two fold+delete
  * index families (the r15 ask): a fixed-seed op sequence interleaving
  * fold, delete, compact, crash-repair-replay and crash-window
  * simulation, driven to rebuild-equality after EVERY op — the live
  * view of the maintained index must always equal a from-scratch
  * derivation over the model's live id set. Catches interaction bugs
  * the per-mechanism specs can't (a purge that eats a standing intent,
  * a heal that resurrects tombstoned rows, a ledger lost across a
  * compact+delete interleave).
  */
class MaintenanceStressSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("band index: randomized fold/delete/compact/crash sequence holds rebuild-equality") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val allIds = docs.select("doc_id").as[Long].collect().toSet
    val baseIds = allIds.filter(_ % 10 < 5)
    val pool = (5 to 9).map(m => allIds.filter(_ % 10 == m)).filter(_.nonEmpty)
    val prefix = "graft_stress_band"
    // compaction promotes generation pairs — resolve at use time
    def bt = Dedup.currentIndexTables(spark, prefix)._1
    def st = Dedup.currentIndexTables(spark, prefix)._2
    Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 10 < 5), prefix,
      srcTag = s"stress-${System.nanoTime()}")

    // the model: which ids the live index must serve
    var indexed = baseIds
    var deleted = Set.empty[Long]
    var nextBatch = 0
    var opN = 0

    def byIds(ids: Set[Long]) =
      docs.filter($"doc_id".isin(ids.toSeq: _*))

    // expected = from-scratch band keys over the live set (the rebuild)
    def verify(): Unit = {
      val live = indexed -- deleted
      val want = Dedup
        .minhashSignaturesPortable(byIds(live), 3, 64, 7L)
        .select($"doc_id", explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
        .as[(Long, String)].collect().toSet
      val got = Dedup.liveIndexTable(spark, bt, bt)
        .select("doc_id", "bk").as[(Long, String)].collect().toSet
      assert(got == want,
        s"op $opN: live view diverged from rebuild (live=${live.size}, " +
          s"got=${got.size} rows, want=${want.size} rows)")
      val gotSigs = Dedup.liveIndexTable(spark, st, bt)
        .select("doc_id").as[Long].collect().toSet
      assert(gotSigs == live, s"op $opN: live sig ids diverged")
    }

    def fold(): Unit = if (nextBatch < pool.size) {
      val ids = pool(nextBatch); nextBatch += 1
      Dedup.foldIntoMinhashBandIndex(byIds(ids), prefix, batchTag = s"f$opN")
      indexed ++= ids
    }

    def crashFold(): Unit = if (nextBatch < pool.size) {
      // the mid-fold crash: intent standing, bands side landed, sigs and
      // ledger lost — then the replay must REPAIR, not double-append
      val ids = pool(nextBatch); nextBatch += 1
      Dedup.bandLog(spark, prefix)
        .commit(spark, "fold-intent")(c => c.copy(intents = c.intents + s"cf$opN"))
      val sigs = Dedup.minhashSignaturesPortable(byIds(ids), 3, 64, 7L)
      sigs.select($"doc_id", explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
        .write.mode("append").format("parquet")
        .bucketBy(8, "bk").sortBy("bk").saveAsTable(bt)
      Dedup.foldIntoMinhashBandIndex(byIds(ids), prefix, batchTag = s"cf$opN")
      indexed ++= ids
    }

    def delete(): Unit = {
      val live = (indexed -- deleted).toSeq.sorted
      if (live.nonEmpty) {
        val ids = rnd.shuffle(live).take(1 + rnd.nextInt(5)).toSet
        Dedup.deleteFromMinhashBandIndex(
          byIds(ids).select("doc_id"), prefix, delTag = s"d$opN")
        deleted ++= ids
      }
    }

    def crashDelete(): Unit = {
      // the mid-delete crash: tombstone files landed, the commit listing
      // them lost — no reader applies them, and the replay writes and
      // commits its own
      val live = (indexed -- deleted).toSeq.sorted
      if (live.nonEmpty) {
        val ids = rnd.shuffle(live).take(1 + rnd.nextInt(3)).toSet
        val log = Dedup.bandLog(spark, prefix)
        byIds(ids).select("doc_id")
          .write.mode("append").parquet(s"${log.root}/${log.latest(spark).gen}/_tombstones")
        Dedup.deleteFromMinhashBandIndex(
          byIds(ids).select("doc_id"), prefix, delTag = s"cd$opN")
        deleted ++= ids
      }
    }

    def compact(): Unit = {
      Dedup.compactMinhashBandIndex(spark, prefix)
      indexed --= deleted
      deleted = Set.empty
    }

    val ops = Seq(fold _, delete _, crashFold _, delete _, compact _,
      crashDelete _, fold _, delete _, compact _, fold _, crashDelete _,
      delete _, compact _)
    ops.foreach { op => opN += 1; op(); verify() }
  }

  test("IVF index: randomized fold/delete/compact/crash sequence holds rebuild-equality") {
    import graft.functions.VectorFunctions
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val allIds = emb.select("vec_id").as[Long].collect().toSet
    val baseIds = allIds.filter(_ % 10 != 0)
    val pool = (0 to 3).map(m => allIds.filter(id => id % 10 == 0 && (id / 10) % 4 == m))
      .filter(_.nonEmpty)
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter($"vec_id" % 10 =!= 0),
      srcTag = s"stress-ivf-${System.nanoTime()}")
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")

    var indexed = baseIds
    var deleted = Set.empty[Long]
    var nextBatch = 0
    var opN = 0

    def byIds(ids: Set[Long]) = emb.filter($"vec_id".isin(ids.toSeq: _*))

    def verify(): Unit = {
      val live = indexed -- deleted
      val want = Similarity.assignToCentroids(
          byIds(live)
            .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
            .withColumn("nrm", VectorFunctions.qdot($"q", $"q")), cents)
        .select($"vec_id", $"cent_id")
        .as[(Long, Long)].collect().toSet
      val got = Similarity.liveCells(spark, path)
        .select($"vec_id", $"cent_id".cast("long"))
        .as[(Long, Long)].collect().toSet
      assert(got == want,
        s"op $opN: live cells diverged from the remainder assignment " +
          s"(got=${got.size}, want=${want.size})")
    }

    def fold(): Unit = if (nextBatch < pool.size) {
      val ids = pool(nextBatch); nextBatch += 1
      Similarity.foldIntoIvfIndex(byIds(ids), path, batchTag = s"f$opN")
      indexed ++= ids
    }

    def delete(): Unit = {
      val live = (indexed -- deleted).toSeq.sorted
      if (live.nonEmpty) {
        val ids = rnd.shuffle(live).take(1 + rnd.nextInt(8)).toSet
        Similarity.deleteFromIvfIndex(
          byIds(ids).select("vec_id"), path, delTag = s"d$opN")
        deleted ++= ids
      }
    }

    def crashDelete(): Unit = {
      val live = (indexed -- deleted).toSeq.sorted
      if (live.nonEmpty) {
        val ids = rnd.shuffle(live).take(1 + rnd.nextInt(4)).toSet
        // tombstones landed, marker lost — replay duplicates harmlessly
        byIds(ids).select($"vec_id")
          .write.mode("append").parquet(
            s"${Similarity.activeCellsDir(spark, path)}/_tombstones")
        Similarity.deleteFromIvfIndex(
          byIds(ids).select("vec_id"), path, delTag = s"cd$opN")
        deleted ++= ids
      }
    }

    def compact(): Unit = {
      Similarity.compactIvfCells(spark, path)
      assert(Similarity.standingTombstoneFiles(spark, path).isEmpty,
        s"op $opN: compaction must clear tombstones")
      indexed --= deleted
      deleted = Set.empty
    }

    def crashCompact(): Unit = {
      // a compaction that dies between its rewrite and its commit: the
      // old generation stays active with its tombstones, the rewrite is
      // an orphan — the next compaction must still purge
      IndexLifecycle.compactRaceHook = Some(_ => throw new IllegalStateException("crash"))
      try intercept[IllegalStateException](Similarity.compactIvfCells(spark, path, force = true))
      finally IndexLifecycle.compactRaceHook = None
      compact()
    }

    val ops = Seq(fold _, delete _, crashDelete _, compact _, fold _,
      delete _, crashCompact _, fold _, crashDelete _, delete _,
      compact _, fold _, delete _)
    ops.foreach { op => opN += 1; op(); verify() }
  }
}
