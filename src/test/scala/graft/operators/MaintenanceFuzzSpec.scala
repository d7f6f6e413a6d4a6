package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

/** Property-style fuzz over the MAINTAINED-INDEX contract (the r15 #7
  * ask): a seeded random sequence of fold / delete / compact /
  * crash-and-replay ops against the band index and the IVF layout,
  * driven to one invariant — the maintained index always equals a
  * from-scratch rebuild over (folded − deleted). The singleton specs
  * (crashed-fold repair, resurrection, compaction heal) each pin ONE
  * interleaving; this spec walks many, because the bugs that slipped
  * previous rounds (sig/band divergence, tombstone resurrection,
  * compaction-crash leftovers) all lived in interleavings nobody wrote
  * a named test for.
  */
class MaintenanceFuzzSpec extends SparkSpec {
  import spark.implicits._

  // ---------- per-run cleanup: a passed run leaves nothing behind ----------

  // an IVF or IVF-PQ layout: its directory (every generation and the
  // log) and its siblings (lease, unfinished builds)
  private def dropLayout(path: String): Unit = {
    val p  = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(p.getParent, s"${p.getName}*")))
      .getOrElse(Array.empty).foreach(st => fs.delete(st.getPath, true))
  }

  // ---------- per-step invariant helpers (listings + one id collect) ----------

  // the retention bound every maintenance op must leave behind
  private def maxStale: Int =
    spark.conf.getOption("spark.graft.index.maxStaleGenerations")
      .flatMap(_.trim.toIntOption).getOrElse(4)

  private def stepFailure(seed: Int, step: Int, what: String, ops: => String): String =
    s"seed=$seed step=$step: $what; ops=$ops"

  // band index: the IVF check's three invariants over the lineage root —
  // live view ≡ model, ≤ maxStale superseded generation dirs, tombstone
  // files only under `<active>/_tombstones/` — plus replay ≡ store: the
  // latest commit's bands and sigs tables and every tombstone file it
  // lists exist, and every pair* dir is named by a retained commit or
  // is an uncommitted rewrite younger than gcStaleHours
  private def checkBandStep(seed: Int, step: Int, prefix: String,
      want: Set[Long], ops: => String): Unit = {
    // sigs hold one row per doc: no distinct, so no shuffle
    val (cb, cs) = Dedup.currentIndexTables(spark, prefix)
    val live = Dedup.liveIndexTable(spark, cs, cb).select("doc_id")
      .as[Long].collect().toSet
    assert(live == want, stepFailure(seed, step,
      s"live sigs ${live.size} ids vs model ${want.size} " +
        s"(extra ${(live -- want).toSeq.sorted.take(5)}, " +
        s"missing ${(want -- live).toSeq.sorted.take(5)})", ops))
    val log = Dedup.bandLog(spark, prefix)
    val fs = new org.apache.hadoop.fs.Path(log.root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val named = log.all(spark).map(_.gen).toSet
    val active = log.latest(spark).gen
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(log.root)).toSeq
      .filter(_.getPath.getName.startsWith("pair"))
    val gens = dirs.map(_.getPath.getName).filter(named)
    if (maxStale > 0)
      assert(gens.count(_ != active) <= maxStale, stepFailure(seed, step,
        s"${gens.count(_ != active)} superseded generations stand " +
          s"(bound $maxStale): ${gens.sorted}", ops))
    val cutoff = System.currentTimeMillis() -
      IndexLifecycle.Policy.of(spark).gcStaleHours * 3600L * 1000L
    dirs.filterNot(d => named(d.getPath.getName)).foreach { d =>
      val newest = (d.getModificationTime +: graft.util.LocalFs
        .walkFiles(new java.io.File(d.getPath.toUri.getPath)).map(_.lastModified())).max
      assert(newest > cutoff, stepFailure(seed, step,
        s"${d.getPath.getName} is named by no retained commit and is older " +
          "than gcStaleHours", ops))
    }
    Seq(cb, cs).foreach(t => assert(spark.catalog.tableExists(t), stepFailure(seed, step,
      s"the latest commit names $t, which does not exist", ops)))
    Seq("bands", "sigs").foreach { t =>
      val dir = new org.apache.hadoop.fs.Path(s"${log.root}/$active/$t")
      assert(fs.exists(dir), stepFailure(seed, step,
        s"the latest commit names $dir, which does not exist", ops))
    }
    Dedup.standingTombstoneFiles(spark, prefix).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      assert(fs.exists(p), stepFailure(seed, step,
        s"the latest commit lists $f, which does not exist", ops))
      assert(p.getParent.getName == "_tombstones" && p.getParent.getParent.getName == active,
        stepFailure(seed, step, s"tombstones outside the active generation $active: $f", ops))
    }
  }

  // IVF / IVF-PQ layout: the same three invariants over the log and the
  // store — live cells ≡ model, ≤ maxStale superseded generation dirs,
  // tombstone files only under `<active>/_tombstones/` — plus replay ≡
  // physical store: the latest commit's generation and every tombstone
  // file it lists exist, and every cells* dir is named by a retained
  // commit or is a crashed rewrite younger than gcStaleHours
  private def checkIvfStep(seed: Int, step: Int, path: String,
      want: Set[Long]): Unit = {
    val live = Similarity.liveCells(spark, path).select("vec_id")
      .as[Long].collect().toSet
    assert(live == want, stepFailure(seed, step,
      s"live cells ${live.size} ids vs model ${want.size} " +
        s"(extra ${(live -- want).toSeq.sorted.take(5)}, " +
        s"missing ${(want -- live).toSeq.sorted.take(5)})", ""))
    val active = new org.apache.hadoop.fs.Path(
      Similarity.activeCellsDir(spark, path)).getName
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val named = IndexLog.cells(path).all(spark).map(_.gen).toSet
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(_.getPath.getName.startsWith("cells"))
    val gens = dirs.map(_.getPath.getName).filter(named)
    if (maxStale > 0)
      assert(gens.count(_ != active) <= maxStale, stepFailure(seed, step,
        s"${gens.count(_ != active)} superseded generations stand " +
          s"(bound $maxStale): ${gens.sorted}", ""))
    val cutoff = System.currentTimeMillis() -
      IndexLifecycle.Policy.of(spark).gcStaleHours * 3600L * 1000L
    dirs.filterNot(d => named(d.getPath.getName)).foreach { d =>
      val newest = (d.getModificationTime +: graft.util.LocalFs
        .walkFiles(new java.io.File(d.getPath.toUri.getPath)).map(_.lastModified())).max
      assert(newest > cutoff, stepFailure(seed, step,
        s"${d.getPath.getName} is named by no retained commit and is older " +
          "than gcStaleHours", ""))
    }
    val latest = IndexLog.cells(path).latest(spark)
    (s"$path/${latest.gen}" +: Similarity.standingTombstoneFiles(spark, path)).foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(f)), stepFailure(seed, step,
        s"commit ${latest.version} names $f, which does not exist", ""))
    }
    val foreign = Similarity.standingTombstoneFiles(spark, path).filterNot { f =>
      val dir = new org.apache.hadoop.fs.Path(f).getParent
      dir.getName == "_tombstones" && dir.getParent.getName == active
    }
    assert(foreign.isEmpty, stepFailure(seed, step,
      s"tombstones outside the active generation $active: ${foreign.take(3)}", ""))
  }

  // ---------- band index (table pairs per generation dir, intent-commit repair) ----------

  private def bandFuzz(seed: Int): Unit = {
    val rnd  = new scala.util.Random(seed)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val run    = s"${seed}_${System.nanoTime()}"
    val prefix = s"graft_fuzz$run"
    val base    = docs.filter($"doc_id" % 6 === 0)
    def batch(i: Int) = docs.filter($"doc_id" % 6 === i)
    val batchIds: Map[Int, Set[Long]] =
      (1 to 5).map(i => i -> batch(i).select("doc_id").as[Long].collect().toSet).toMap
    // docs without a single shingle have no band rows at all
    val indexable: Set[Long] = docs
      .filter(graft.functions.TextFunctions.hasShingles($"text", 3))
      .select("doc_id").as[Long].collect().toSet

    val (bt0, st0) = Dedup.ensureMinhashBandIndex(base, prefix, srcTag = s"fuzz-$run")
    // compaction promotes generation pairs — every physical access
    // resolves the lineage's CURRENT tables at use time
    def bt = Dedup.currentIndexTables(spark, prefix)._1
    def st = Dedup.currentIndexTables(spark, prefix)._2
    assert((bt, st) == ((bt0, st0)), "fresh lineage must resolve to gen 0")
    // driver-side model of what the index must contain
    var folded: Set[Long]  = base.select("doc_id").as[Long].collect().toSet
    var deleted: Set[Long] = Set.empty
    var nextBatch = 1
    var delSeq    = 0
    val ops = scala.collection.mutable.ArrayBuffer.empty[String]

    def doDelete(scope: Set[Long]): Unit = {
      val pick = scope.toSeq.sorted.filter(_ => rnd.nextDouble() < 0.33).toSet
      if (pick.nonEmpty && pick != scope) {
        delSeq += 1
        ops += s"delete(d$delSeq, ${pick.size} ids)"
        Dedup.deleteFromMinhashBandIndex(
          pick.toSeq.toDF("doc_id"), prefix, delTag = s"d$delSeq")
        deleted ++= pick
        // replayed delete tag: idempotent, exercised every time
        Dedup.deleteFromMinhashBandIndex(
          pick.toSeq.toDF("doc_id"), prefix, delTag = s"d$delSeq")
      }
    }

    (1 to 12).foreach { step =>
      rnd.nextInt(4) match {
        case 0 if nextBatch <= 5 => // clean fold
          ops += s"fold(b$nextBatch)"
          Dedup.foldIntoMinhashBandIndex(batch(nextBatch), prefix,
            batchTag = s"b$nextBatch")
          folded ++= batchIds(nextBatch); nextBatch += 1
        case 1 if nextBatch <= 5 => // crash mid-fold, interleave, replay
          val i = nextBatch
          ops += s"crashfold(b$i)"
          Dedup.bandLog(spark, prefix)
            .commit(spark, "fold-intent")(c => c.copy(intents = c.intents + s"b$i"))
          val sigs = Dedup.minhashSignaturesPortable(batch(i), 3, 64, 7L)
          sigs.select($"doc_id",
              explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
            .write.mode("append").format("parquet")
            .bucketBy(8, "bk").sortBy("bk").saveAsTable(bt)
          // in the crash window: maybe a takedown — sometimes wiping
          // the ENTIRE crashed batch, which drives the replay into the
          // once-undecidable region — then ALWAYS compact (the repair
          // contract requires purge before a replay that intersects
          // tombstones)
          val fullWipe = rnd.nextBoolean()
          if (fullWipe) {
            delSeq += 1
            ops += s"delete(d$delSeq, FULL batch b$i)"
            Dedup.deleteFromMinhashBandIndex(
              batchIds(i).toSeq.toDF("doc_id"), prefix, delTag = s"d$delSeq")
            deleted ++= batchIds(i)
          } else if (rnd.nextBoolean())
            doDelete((folded -- deleted) ++ batchIds(i))
          ops += "compact"
          Dedup.compactMinhashBandIndex(spark, prefix)
          ops += s"replay(b$i)"
          if (fullWipe) {
            // the purge ran inside the tag's crash window and nothing
            // of the batch survived: the replay must REFUSE the silent
            // re-append (this used to be the fuzz's excluded region —
            // now it is fenced and exercised)
            val e = intercept[IllegalStateException] {
              Dedup.foldIntoMinhashBandIndex(batch(i), prefix,
                batchTag = s"b$i")
            }
            assert(e.getMessage.contains("undecidable"),
              s"wrong refusal: ${e.getMessage}")
            ops += s"refused(b$i) → refold(b${i}r)"
            // the operator decides explicitly under a fresh tag —
            // here: the batch re-enters the index
            Dedup.foldIntoMinhashBandIndex(batch(i), prefix,
              batchTag = s"b${i}r")
            deleted --= batchIds(i)
          } else
            Dedup.foldIntoMinhashBandIndex(batch(i), prefix,
              batchTag = s"b$i")
          folded ++= batchIds(i); nextBatch += 1
        case 2 if (folded -- deleted).nonEmpty => // takedown trickle
          doDelete(folded -- deleted)
        case _ =>
          ops += "compact"
          Dedup.compactMinhashBandIndex(spark, prefix)
      }
      checkBandStep(seed, step, prefix, (folded -- deleted) & indexable,
        ops.mkString(" → "))
    }

    // final compact makes physical ≡ live, then the invariant:
    // maintained ≡ rebuild-from-remainder, row-for-row on both tables
    Dedup.compactMinhashBandIndex(spark, prefix)
    checkBandStep(seed, 13, prefix, (folded -- deleted) & indexable,
      ops.mkString(" → "))
    val want = folded -- deleted
    val remainder = docs.filter($"doc_id".isin(want.toSeq: _*))
    val (rbt, rst) = Dedup.ensureMinhashBandIndex(
      remainder, s"graft_fuzzref$run", srcTag = s"fuzz-$run")
    def bandsOf(t: String) =
      spark.table(t).select("doc_id", "bk").as[(Long, String)].collect().toSet
    def sigsOf(t: String) =
      spark.table(t).select("doc_id", "sig").as[(Long, Seq[Long])]
        .collect().map { case (d, s) => (d, s.toList) }.toSet
    def diff[A](got: Set[(Long, A)], want: Set[(Long, A)]): String = {
      val extra   = (got -- want).map(_._1).toSeq.sorted
      val missing = (want -- got).map(_._1).toSeq.sorted
      s"extra_docs=${extra.distinct.take(10)} missing_docs=${missing.distinct.take(10)} " +
        s"(+${(got -- want).size}/-${(want -- got).size} rows) ops=${ops.mkString(" → ")}"
    }
    assert(bandsOf(bt) == bandsOf(rbt),
      s"seed=$seed bands diverged: ${diff(bandsOf(bt), bandsOf(rbt))}")
    assert(sigsOf(st) == sigsOf(rst),
      s"seed=$seed sigs diverged: ${diff(sigsOf(st), sigsOf(rst))}")
    // and the index still ANSWERS like the rebuild: same admitted/dup
    // verdicts for a fresh probe batch through the public entry point
    val probe = docs.filter($"doc_id" % 6 === 5).limit(40)
    def pairs(b: String, s: String) =
      Dedup.incrementalNearDupPairs(probe, b, s)
        .select("new_doc", "dup_of", "n_match")
        .as[(Long, Long, Long)].collect().toSet
    assert(pairs(bt, st) == pairs(rbt, rst),
      s"seed=$seed: probe verdicts diverged from the rebuilt index")
    IndexSpecKit.dropBandLineage(spark, prefix)
    IndexSpecKit.dropBandLineage(spark, s"graft_fuzzref$run")
  }

  test("band index: randomized fold/delete/compact/crash ≡ rebuild (seed 11)") {
    bandFuzz(11)
  }
  test("band index: randomized fold/delete/compact/crash ≡ rebuild (seed 29)") {
    bandFuzz(29)
  }

  // ---------- IVF layout (path-backed, rename-promote compaction) ----------

  private def ivfFuzz(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val run = s"${seed}_${System.nanoTime()}"
    val base = emb.filter($"vec_id" % 6 === 0)
    def batch(i: Int) = emb.filter($"vec_id" % 6 === i)
      .select("vec_id", "embedding")
    val batchIds: Map[Int, Set[Long]] =
      (1 to 5).map(i => i -> batch(i).select("vec_id").as[Long].collect().toSet).toMap

    val (path, _) = Similarity.ensureIvfIndex(base, srcTag = s"ivffuzz-$run")
    var folded: Set[Long]  = base.select("vec_id").as[Long].collect().toSet
    var deleted: Set[Long] = Set.empty
    var tombstoned: Set[Long] = Set.empty // standing (un-compacted) tombstones
    var nextBatch = 1
    var delSeq    = 0

    // CONCURRENT probe pressure (the r17 ask): a thread probes the
    // layout continuously while the op sequence folds/deletes/compacts
    // under it — the log promote means every probe must succeed,
    // whatever maintenance lands mid-flight, crashes included.
    val stopProbes = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probeErr   = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val probeCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val qvFuzz = emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    val prober = new Thread(() => {
      try while (!stopProbes.get()) {
        val got = Similarity.ivfProbe(spark, path, qvFuzz.toSeq, k = 5,
          nProbe = 4).select("vec_id").as[Long].collect()
        assert(got.nonEmpty, "concurrent probe returned no rows")
        probeCount.incrementAndGet()
      } catch { case t: Throwable => probeErr.set(t) }
    }, s"fuzz-prober-$seed")
    prober.setDaemon(true)
    prober.start()

    (1 to 10).foreach { step =>
      rnd.nextInt(5) match {
        case 0 if nextBatch <= 5 => // fold a new batch
          Similarity.foldIntoIvfIndex(batch(nextBatch), path,
            batchTag = s"b$nextBatch")
          folded ++= batchIds(nextBatch); nextBatch += 1
        case 1 if (folded -- deleted).nonEmpty => // takedown trickle
          val pick = (folded -- deleted).toSeq.sorted
            .filter(_ => rnd.nextDouble() < 0.33).toSet
          if (pick.nonEmpty) {
            delSeq += 1
            Similarity.deleteFromIvfIndex(
              pick.toSeq.toDF("vec_id"), path, delTag = s"d$delSeq")
            // replayed delete: idempotent (marker + anti-join semantics)
            Similarity.deleteFromIvfIndex(
              pick.toSeq.toDF("vec_id"), path, delTag = s"d$delSeq")
            deleted ++= pick; tombstoned ++= pick
          }
        case 2 => // compaction (purges standing tombstones)
          Similarity.compactIvfCells(spark, path)
          tombstoned = Set.empty
        case 3 =>
          // the crash the log design can have: a compaction that dies
          // between its rewrite and its commit. The old generation
          // stays active with its tombstones; the rewrite is an orphan
          // the retention drops once aged
          val active = Similarity.activeCellsDir(spark, path)
          IndexLifecycle.compactRaceHook =
            Some(_ => throw new IllegalStateException("crash before commit"))
          try intercept[IllegalStateException](
            Similarity.compactIvfCells(spark, path, force = true))
          finally IndexLifecycle.compactRaceHook = None
          assert(Similarity.activeCellsDir(spark, path) == active,
            "a compaction that never committed must not promote")
        case _ => // probe under whatever state stands: k results, no
          // tombstoned id served (the live view is immediate)
          val qv = emb.filter($"vec_id" === 0L).select($"embedding")
            .as[Array[Float]].head()
          val got = Similarity.ivfProbe(spark, path, qv.toSeq, k = 5, nProbe = 4)
            .select("vec_id").as[Long].collect()
          assert(got.length == 5)
          assert(!got.exists(deleted), s"seed=$seed: probe served a deleted id")
      }
      // the check runs beside the prober
      checkIvfStep(seed, step, path, folded -- deleted)
    }

    stopProbes.set(true)
    prober.join(60000)
    assert(probeErr.get() == null,
      s"seed=$seed: concurrent probe failed: ${probeErr.get()}")
    assert(probeCount.get() > 0, s"seed=$seed: prober never ran")

    // the invariant: live cells ≡ assignment of (folded − deleted) to
    // the STANDING centroids (folds never move centroids), and after a
    // final compact the physical cells match too, tombstones cleared
    Similarity.compactIvfCells(spark, path)
    checkIvfStep(seed, 11, path, folded -- deleted)
    val want = folded -- deleted
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    val expected = Similarity.assignToCentroids(
        emb.filter($"vec_id".isin(want.toSeq: _*))
          .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
          .withColumn("nrm", VectorFunctions.qdot($"q", $"q")), cents)
      .select($"vec_id", $"cent_id", $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSet
    val physical = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSet
    assert(physical == expected,
      s"seed=$seed: maintained IVF cells diverged from remainder assignment")
    assert(Similarity.standingTombstoneFiles(spark, path).isEmpty,
      s"seed=$seed: compaction left tombstones standing")
    dropLayout(path)
  }

  test("IVF layout: randomized fold/delete/compact/crash ≡ remainder assignment (seed 13)") {
    ivfFuzz(13)
  }
  test("IVF layout: randomized fold/delete/compact/crash ≡ remainder assignment (seed 37)") {
    ivfFuzz(37)
  }

  // ---------- IVF-PQ layout (code cells, standing-book encode) ----------

  private def pqFuzz(seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val run = s"${seed}_${System.nanoTime()}"
    val base = emb.filter($"vec_id" % 6 === 0)
    def batch(i: Int) = emb.filter($"vec_id" % 6 === i)
    val (path, _) = Similarity.ensureIvfPqIndex(base, srcTag = s"pqfuzz-$run")
    // codes are assigned ONCE (standing books, folds never re-encode):
    // snapshot each row's codes the first time it lands, and require
    // the survivors' codes bit-identical at the end — deletion and
    // compaction must never re-quantize a surviving row
    def snapshot(): Map[Long, Seq[Long]] =
      spark.read.parquet(Similarity.activeCellsDir(spark, path)).select($"vec_id", $"codes")
        .as[(Long, Seq[Long])].collect().map { case (v, c) => v -> c.toList }
        .toMap
    var expected: Map[Long, Seq[Long]] = snapshot()
    var deleted: Set[Long] = Set.empty
    var nextBatch = 1
    var delSeq    = 0

    (1 to 10).foreach { step =>
      rnd.nextInt(4) match {
        case 0 if nextBatch <= 5 =>
          Similarity.foldIntoIvfPqIndex(batch(nextBatch), path,
            batchTag = s"b$nextBatch")
          // replayed fold tag: no-op (no double rows)
          Similarity.foldIntoIvfPqIndex(batch(nextBatch), path,
            batchTag = s"b$nextBatch")
          expected = snapshot() ++ expected // first-landing codes win
          nextBatch += 1
        case 1 if (expected.keySet -- deleted).nonEmpty =>
          val pick = (expected.keySet -- deleted).toSeq.sorted
            .filter(_ => rnd.nextDouble() < 0.33).toSet
          if (pick.nonEmpty) {
            delSeq += 1
            Similarity.deleteFromIvfIndex(
              pick.toSeq.toDF("vec_id"), path, delTag = s"pd$delSeq")
            deleted ++= pick
          }
        case 2 =>
          Similarity.compactIvfCells(spark, path)
        case _ => // ADC probe under whatever state stands
          val qv = emb.filter($"vec_id" === 0L).select($"embedding")
            .as[Array[Float]].head()
          val got = Similarity.ivfPqProbe(spark, path, qv.toSeq, k = 5, nProbe = 4)
            .select("vec_id").as[Long].collect()
          assert(got.length == 5)
          assert(!got.exists(deleted), s"seed=$seed: ADC probe served a deleted id")
      }
      checkIvfStep(seed, step, path, expected.keySet -- deleted)
    }

    Similarity.compactIvfCells(spark, path)
    checkIvfStep(seed, 11, path, expected.keySet -- deleted)
    val want = expected.view.filterKeys(k => !deleted(k)).toMap
    val physical = snapshot()
    assert(physical == want,
      s"seed=$seed: surviving PQ codes diverged (rows ${physical.size} vs ${want.size})")
    assert(Similarity.standingTombstoneFiles(spark, path).isEmpty)
    dropLayout(path)
  }

  test("IVF-PQ layout: randomized fold/delete/compact keeps survivor codes bit-stable (seed 17)") {
    pqFuzz(17)
  }
  test("IVF-PQ layout: randomized fold/delete/compact keeps survivor codes bit-stable (seed 43)") {
    pqFuzz(43)
  }

  // with the tombstone-debt cap ARMED at a tiny threshold, the delete
  // ops inside the random sequences trigger implicit physical purges at
  // fuzz-chosen moments — the rebuild-equality invariants must hold
  // regardless of when the auto-purge fires
  test("fuzz invariants hold with the tombstone-debt auto-purge armed (seed 53)") {
    spark.conf.set("spark.graft.index.autoCompactTombstoneRows", "5")
    try {
      bandFuzz(53)
      ivfFuzz(53)
      pqFuzz(53)
    } finally spark.conf.unset("spark.graft.index.autoCompactTombstoneRows")
  }

  // extended campaign: SPARK_GRAFT_FUZZ_SEEDS=1,2,3 runs every family
  // at each listed seed — a no-op without the env var, so CI cost stays
  // the named-seed set above while a soak session can walk hundreds of
  // interleavings (each seed is a full random op sequence per family)
  test("extended fuzz campaign over SPARK_GRAFT_FUZZ_SEEDS") {
    val seeds = sys.env.get("SPARK_GRAFT_FUZZ_SEEDS").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map(_.toInt)
    // optional soak knob: SPARK_GRAFT_FUZZ_MAXSTALE=1 runs the whole
    // campaign with the generation COUNT bound at its tightest, so the
    // force-retirement path (superseded dirs/pairs deleted regardless
    // of age) is fuzzed against in-flight probes and crash-replays,
    // not just asserted by the deterministic spec
    val tightK = sys.env.get("SPARK_GRAFT_FUZZ_MAXSTALE")
    tightK.foreach(k =>
      spark.conf.set("spark.graft.index.maxStaleGenerations", k))
    // optional soak knob: SPARK_GRAFT_FUZZ_AUTOCOMPACT=<rows> arms the
    // tombstone-debt auto-purge at a tiny threshold for the whole
    // campaign (the named seed-53 test covers one seed; this crosses
    // the implicit-purge timing with MAXSTALE force-retirement — purge
    // compactions fire at fuzz-chosen moments WHILE the count bound is
    // deleting superseded dirs, a pairing neither knob fuzzes alone)
    val autoC = sys.env.get("SPARK_GRAFT_FUZZ_AUTOCOMPACT")
    autoC.foreach(v =>
      spark.conf.set("spark.graft.index.autoCompactTombstoneRows", v))
    try seeds.foreach { s =>
      info(s"extended fuzz seed $s")
      bandFuzz(s); ivfFuzz(s); pqFuzz(s)
    } finally {
      tightK.foreach(_ =>
        spark.conf.unset("spark.graft.index.maxStaleGenerations"))
      autoC.foreach(_ =>
        spark.conf.unset("spark.graft.index.autoCompactTombstoneRows"))
    }
  }
}
