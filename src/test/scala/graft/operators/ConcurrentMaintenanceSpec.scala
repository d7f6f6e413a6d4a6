package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The atomic-promote contract, pinned under real concurrency: a
  * maintained layout's compaction promotes a new generation with one
  * commit of the lineage's log ([[IndexLog]]), so BOTH races that used
  * to need a maintenance window are now safe:
  *
  *   1. a scan already IN FLIGHT when the promote lands keeps reading
  *      the old generation's (still physical) files to completion, and
  *   2. probes CONSTRUCTED at any moment around the promote resolve a
  *      complete generation — old or new, never headless.
  *
  * Under the previous two-rename promote, (1) failed with
  * FileNotFoundException (the files moved under the scan) and (2) had
  * a retry-papered absence window; these tests would have caught both.
  */
class ConcurrentMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("a scan in flight across a compaction promote completes on its generation") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"inflight-${System.nanoTime()}")
    // pile up fold files so the compaction genuinely rewrites the layout
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 20 === 0).select("vec_id", "embedding"), path, "b1")
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 20 === 10).select("vec_id", "embedding"), path, "b2")
    val wantIds = emb.select("vec_id").as[Long].collect().toSet

    val gen0 = Similarity.activeCellsDir(spark, path)
    // plan + START the scan: pulling the first rows forces the file
    // listing, so the iterator now holds the pre-promote generation
    val it = Similarity.liveCells(spark, path)
      .select($"vec_id").as[Long].toLocalIterator()
    val pulled = scala.collection.mutable.ArrayBuffer.empty[Long]
    (1 to 3).foreach(_ => if (it.hasNext) pulled += it.next())
    assert(pulled.size == 3, "test setup: scan must be mid-flight")

    // the promote lands UNDER the in-flight scan
    Similarity.compactIvfCells(spark, path)
    val gen1 = Similarity.activeCellsDir(spark, path)
    assert(gen1 != gen0, "compaction must promote a new generation")
    assert(new java.io.File(new java.net.URI(
        if (gen0.contains(":")) gen0 else s"file:$gen0").getPath).isDirectory
        || new java.io.File(gen0).isDirectory,
      "the superseded generation must remain for the in-flight scan")

    // the scan drains without error and saw exactly its generation's rows
    while (it.hasNext) pulled += it.next()
    assert(pulled.toSet == wantIds,
      s"in-flight scan lost rows: got ${pulled.size}, want ${wantIds.size}")

    // and a probe constructed AFTER the promote reads the new generation
    val fresh = Similarity.liveCells(spark, path)
      .select($"vec_id").as[Long].collect().toSet
    assert(fresh == wantIds)
  }

  test("band index: a probe planned before a compaction promote still answers") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_conc${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 10 =!= 0), prefix,
      srcTag = s"conc-${System.nanoTime()}")
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 10 === 0), prefix, batchTag = "b1")
    val probe = docs.filter($"doc_id" < 50)
    def pairsDf = Dedup.incrementalNearDupPairs(probe, bt, st)
      .select($"new_doc", $"dup_of")
    val want = pairsDf.as[(Long, Long)].collect().toSet
    // plan + START a scan over the pre-promote generation
    val it = pairsDf.as[(Long, Long)].toLocalIterator()
    val pulled = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    if (it.hasNext) pulled += it.next()
    // the promote lands UNDER the in-flight scan: a new generation pair
    // is created and the old one retained (retired one cycle later) —
    // under the old drop-and-recreate rewrite this drain failed with
    // FileNotFoundException
    Dedup.compactMinhashBandIndex(spark, prefix)
    val (cb, cs) = Dedup.currentIndexTables(spark, prefix)
    assert(cb != bt && cs != st, "compaction must promote a new generation")
    assert(spark.catalog.tableExists(bt) && spark.catalog.tableExists(st),
      "the superseded generation must survive for the in-flight scan")
    while (it.hasNext) pulled += it.next()
    assert(pulled.toSet == want, "in-flight probe lost or changed rows")
    // a probe planned AFTER the promote resolves the new generation and
    // answers identically (no deletes happened — pure rewrite)
    assert(pairsDf.as[(Long, Long)].collect().toSet == want)
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("probe threads hammer through auto-compacting folds without error") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"hammer-${System.nanoTime()}")
    val qv = emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err  = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val n    = new java.util.concurrent.atomic.AtomicInteger(0)
    val probers = (1 to 3).map { i =>
      val t = new Thread(() => {
        try while (!stop.get()) {
          val got = Similarity.ivfProbe(spark, path, qv.toSeq, k = 5,
            nProbe = 4).select("vec_id").as[Long].collect()
          assert(got.nonEmpty, "probe returned no rows")
          n.incrementAndGet()
        } catch { case t: Throwable => err.set(t) }
      }, s"hammer-prober-$i")
      t.setDaemon(true); t.start(); t
    }
    // every fold crosses the armed threshold, so each one compacts and
    // PROMOTES while the probers run — the contract under test
    spark.conf.set("spark.graft.index.autoCompactFilesPerUnit", "1")
    try {
      (0 to 3).foreach { i =>
        Similarity.foldIntoIvfIndex(
          emb.filter($"vec_id" % 40 === 10L * i).select("vec_id", "embedding"),
          path, batchTag = s"h$i")
      }
    } finally {
      spark.conf.unset("spark.graft.index.autoCompactFilesPerUnit")
      stop.set(true)
    }
    probers.foreach(_.join(60000))
    assert(err.get() == null, s"concurrent probe failed: ${err.get()}")
    assert(n.get() > 0, "probers never ran")
    // the folds really did compact+promote: the active generation moved
    assert(Similarity.activeCellsDir(spark, path) != s"$path/cells" &&
      !Similarity.activeCellsDir(spark, path).endsWith("/cells"),
      "auto-compaction under the armed threshold must have promoted")
  }

  test("manifest flips never expose the stale cells/ fallback to readers") {
    // the atomicity bug signature: Hadoop's rename-with-OVERWRITE on a
    // local fs is delete-then-rename, so a reader landing in the gap
    // finds NO manifest and silently resolves gen-0 `cells/` — stale by
    // every promote since. The flip now goes through an atomic POSIX
    // rename; readers hammering resolution across repeated promotes
    // must never see the fallback once the first promote landed.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter($"vec_id" % 10 =!= 0),
      srcTag = s"flip-${System.nanoTime()}")
    Similarity.compactIvfCells(spark, path) // first promote: the log names a new generation
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err  = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val n    = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (1 to 4).map { i =>
      val t = new Thread(() => {
        try while (!stop.get()) {
          val dir = Similarity.activeCellsDir(spark, path)
          assert(!dir.endsWith("/cells"),
            s"reader resolved the superseded gen-0 fallback: $dir")
          n.incrementAndGet()
        } catch { case t: Throwable => err.set(t) }
      }, s"flip-reader-$i")
      t.setDaemon(true); t.start(); t
    }
    try (1 to 6).foreach(_ =>
      Similarity.compactIvfCells(spark, path, force = true))
    finally stop.set(true)
    readers.foreach(_.join(60000))
    assert(err.get() == null, s"reader failed: ${err.get()}")
    assert(n.get() > 0, "readers never ran")
  }

  test("band index: two back-to-back promotes keep an in-flight scan alive") {
    // retirement is AGE-GATED: without the gate, the second promote
    // DROPs the generation an in-flight scan planned over (managed
    // table drop deletes its files) — one promote was covered, two in
    // one scan's lifetime were not
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_twice${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 10 =!= 0), prefix,
      srcTag = s"twice-${System.nanoTime()}")
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 10 === 0), prefix, batchTag = "b1")
    val want = spark.table(Dedup.currentIndexTables(spark, prefix)._1)
      .select($"doc_id").distinct().as[Long].collect().toSet
    val it = spark.table(Dedup.currentIndexTables(spark, prefix)._1)
      .select($"doc_id").distinct().as[Long].toLocalIterator()
    val pulled = scala.collection.mutable.ArrayBuffer.empty[Long]
    if (it.hasNext) pulled += it.next()
    // force: the drill needs two REAL promotes under the in-flight
    // scan; the second would otherwise hit the no-op short-circuit
    Dedup.compactMinhashBandIndex(spark, prefix, force = true)
    Dedup.compactMinhashBandIndex(spark, prefix, force = true)
    assert(spark.catalog.tableExists(bt) && spark.catalog.tableExists(st),
      "age gate must keep the scan's generation through BOTH promotes")
    while (it.hasNext) pulled += it.next()
    assert(pulled.toSet == want, "double promote lost the in-flight scan rows")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("compaction retires an aged orphan sigs generation (crashed CTAS)") {
    // a crash between the sigs CTAS and the bands CTAS leaves a
    // generation dir holding a sigs table with no bands twin — invisible
    // to bands-only resolution, and previously invisible to retirement
    // too (leaked forever)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_orph${System.nanoTime()}"
    Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 10 =!= 0), prefix,
      srcTag = s"orph-${System.nanoTime()}")
    val (_, curSigs) = Dedup.currentIndexTables(spark, prefix)
    val orphan = s"${prefix}_sigs_g1"
    val orphanDir = new java.io.File(
      new org.apache.hadoop.fs.Path(Dedup.bandLog(spark, prefix).root).toUri.getPath, "pair.g1")
    spark.sql(s"CREATE TABLE $orphan USING parquet LOCATION '$orphanDir/sigs' " +
      s"AS SELECT * FROM $curSigs")
    assert(spark.catalog.tableExists(orphan) && orphanDir.exists())
    // age-gate 0 = "everything not in keep is old enough" (the spec
    // stand-in for a 24h-old leftover)
    spark.conf.set("spark.graft.index.gcStaleHours", "0")
    try Dedup.compactMinhashBandIndex(spark, prefix)
    finally spark.conf.unset("spark.graft.index.gcStaleHours")
    assert(!spark.catalog.tableExists(orphan) && !orphanDir.exists(),
      "aged orphan sigs generation must be retired by the next compaction")
    // the lineage itself still answers
    val (cb2, cs2) = Dedup.currentIndexTables(spark, prefix)
    assert(spark.table(cb2).count() > 0 && spark.table(cs2).count() > 0)
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("standing generations are COUNT-bounded under a hot promote loop (both families)") {
    // the age gate alone lets a hot compaction loop accumulate one
    // generation per promote for gcStaleHours; the count bound
    // (spark.graft.index.maxStaleGenerations = K) must cap the total
    // at K+1 (active + K superseded) immediately after every promote
    val K = 2
    spark.conf.set("spark.graft.index.maxStaleGenerations", K.toString)
    try {
      // ---- IVF (path-backed) family ----
      val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      val (path, _) = Similarity.ensureIvfIndex(
        emb.filter($"vec_id" % 10 =!= 0),
        srcTag = s"genbound-${System.nanoTime()}")
      // force: the drill exercises the hot PROMOTE loop itself — the
      // no-op short-circuit would otherwise (correctly) skip rewrites
      // 2-6 and never stress the count bound
      (1 to 6).foreach(_ =>
        Similarity.compactIvfCells(spark, path, force = true))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gens = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
        .map(_.getPath.getName)
        .filter(n => n == "cells" || n.matches("cells\\.g\\d+"))
      assert(gens.size <= K + 1,
        s"6 promotes left ${gens.size} generation dirs standing " +
          s"(want <= ${K + 1}): ${gens.sorted.mkString(",")}")
      // the layout still answers in full after the forced retirements
      assert(Similarity.liveCells(spark, path).count() ==
        emb.filter($"vec_id" % 10 =!= 0).count())

      // ---- band-index family ----
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
        .select("doc_id", "text")
      val prefix = s"graft_genbound${System.nanoTime()}"
      Dedup.ensureMinhashBandIndex(docs, prefix,
        srcTag = s"genbound-${System.nanoTime()}")
      (1 to 6).foreach(_ =>
      Dedup.compactMinhashBandIndex(spark, prefix, force = true))
      val standing = new java.io.File(new org.apache.hadoop.fs.Path(
          Dedup.bandLog(spark, prefix).root).toUri.getPath).list().toSeq
        .filter(n => n == "pair" || n.matches("pair\\.g\\d+"))
      assert(standing.size <= K + 1,
        s"6 promotes left ${standing.size} bands generations standing " +
          s"(want <= ${K + 1}): ${standing.sorted.mkString(",")}")
      val (cb, _) = Dedup.currentIndexTables(spark, prefix)
      assert(spark.table(cb).count() > 0)
      IndexSpecKit.dropBandLineage(spark, prefix)
    } finally
      spark.conf.unset("spark.graft.index.maxStaleGenerations")
  }

  test("IVF generation GC selects count-bound victims by numeric stamp, never lexical") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-genorder").toString
    val layout = s"$root/layout"
    val fs = new org.apache.hadoop.fs.Path(layout)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def mkGen(name: String): Unit = {
      val d = new org.apache.hadoop.fs.Path(layout, name)
      fs.mkdirs(d)
      val out = fs.create(new org.apache.hadoop.fs.Path(d, "part-0"), true)
      try out.write(1) finally out.close()
    }
    mkGen("cells.g998"); mkGen("cells.g999"); mkGen("cells.g1000")
    // debris no commit names carries no generation number: age-gated
    // only, never a count-bound victim
    mkGen("cells.old1")
    Seq("cells.g998", "cells.g999", "cells.g1000").zipWithIndex.foreach {
      case (g, v) => assert(IndexLog.cells(layout).write(spark, IndexLog.Commit(v.toLong, g)))
    }
    spark.conf.set("spark.graft.index.maxStaleGenerations", "1")
    try Similarity.retireCells(spark, layout)
    finally spark.conf.unset("spark.graft.index.maxStaleGenerations")
    // numeric: g999 is the newest superseded (kept within K=1), g998
    // the excess (dropped regardless of age). Lexical order would not
    // even class either as older than the g1000 active ('9' > '1'),
    // letting a hot loop accumulate dirs past the bound.
    assert(!fs.exists(new org.apache.hadoop.fs.Path(layout, "cells.g998")),
      "the numerically-oldest superseded generation must be retired")
    assert(fs.exists(new org.apache.hadoop.fs.Path(layout, "cells.g999")),
      "the numerically-newest superseded generation must be kept")
    assert(fs.exists(new org.apache.hadoop.fs.Path(layout, "cells.g1000")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(layout, "cells.old1")),
      "legacy siblings are age-gated only — never count-bound victims")
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("IVF: a delete racing the compaction flip is merged forward — doc stays deleted") {
    // the lost-tombstone race, driven on purpose: a delete lands
    // BETWEEN compactIvfCells' tombstone snapshot and its promote
    // flip (a lease-broken or pre-lease writer — the lease's per-JVM
    // re-entrancy lets the seam replay it on this thread). Its
    // tombstone settles in the generation about to be superseded and
    // its dels marker is written, so without the merge-forward the new
    // generation would serve the doc UNDELETED while the tag replays
    // as a no-op permanently.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfIndex(emb,
      srcTag = s"raceivf-${System.nanoTime()}")
    val victim = emb.select("vec_id").orderBy("vec_id").limit(1)
      .as[Long].head()
    val delTag = s"race-del-${System.nanoTime()}"
    val fired  = new java.util.concurrent.atomic.AtomicInteger(0)
    IndexLifecycle.compactRaceHook = Some { supersededGen =>
      fired.incrementAndGet()
      Similarity.deleteFromIvfIndex(
        Seq(victim).toDF("vec_id"), path, delTag)
      // the racing delete's settle loop resolved the OLD (about to be
      // superseded) generation — the exact stranding precondition
      assert(new org.apache.hadoop.fs.Path(Similarity.activeCellsDir(spark, path)).getName
          == supersededGen,
        "test setup: the delete must land pre-flip")
      ()
    }
    try Similarity.compactIvfCells(spark, path)
    finally IndexLifecycle.compactRaceHook = None
    assert(fired.get() == 1, "the race seam must have fired exactly once")
    val live = Similarity.liveCells(spark, path)
      .select("vec_id").as[Long].collect().toSet
    assert(!live.contains(victim),
      "the racing delete's doc must STAY deleted across the flip")
    assert(live.size == emb.count() - 1,
      "only the racing delete's doc may be excluded")
    // the forwarded tombstone lives in the NEW generation (copy, not
    // move — old-generation scans keep their own view)
    val newGen = Similarity.activeCellsDir(spark, path)
    assert(Similarity.standingTombstoneFiles(spark, path).nonEmpty &&
        newGen != "",
      "the new generation must carry the forwarded tombstone")
    // and the tag's replay is a CORRECT no-op now: marker standing,
    // doc still excluded (the failure mode was 'no-op while undeleted')
    Similarity.deleteFromIvfIndex(Seq(victim).toDF("vec_id"), path, delTag)
    assert(!Similarity.liveCells(spark, path)
        .select("vec_id").as[Long].collect().toSet.contains(victim),
      "the replayed tag must remain effective after the merge-forward")
  }

  test("band index: a delete racing the CTAS promote is forwarded; bands/sigs agree") {
    // the band-family analog: the tombstone snapshot is the commit the
    // compaction started from, whose file list never changes, so a
    // delete committed between the snapshot and the promote must (a)
    // leave the new generation's bands and sigs AGREEING on purged docs
    // (both CTAS passes read the same files) and (b) be forwarded into
    // the new generation's tombstones with its ledger tag kept.
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_racebd${System.nanoTime()}"
    val (bt0, _) = Dedup.ensureMinhashBandIndex(docs, prefix,
      srcTag = s"racebd-${System.nanoTime()}")
    // a PRE-existing delete gives the compaction a non-empty snapshot,
    // exercising the anti-join leg of both CTAS passes
    Dedup.deleteFromMinhashBandIndex(Seq(1L).toDF("doc_id"), prefix,
      delTag = "race-pre")
    val lateTag = s"race-late-${System.nanoTime()}"
    val fired   = new java.util.concurrent.atomic.AtomicInteger(0)
    IndexLifecycle.compactRaceHook = Some { _ =>
      fired.incrementAndGet()
      Dedup.deleteFromMinhashBandIndex(Seq(2L).toDF("doc_id"), prefix,
        delTag = lateTag)
      ()
    }
    try Dedup.compactMinhashBandIndex(spark, prefix)
    finally IndexLifecycle.compactRaceHook = None
    assert(fired.get() == 1, "the race seam must have fired exactly once")
    val (bt, st) = Dedup.currentIndexTables(spark, prefix)
    assert(bt != bt0, "compaction must have promoted a new generation")
    // (a) physical agreement: the CTAS pair consumed ONE materialized
    // snapshot — doc 1 purged from BOTH, doc 2 (the late delete)
    // physically present in BOTH
    val bandDocs = spark.table(bt).select("doc_id").distinct()
      .as[Long].collect().toSet
    val sigDocs = spark.table(st).select("doc_id").distinct()
      .as[Long].collect().toSet
    assert(bandDocs == sigDocs,
      s"bands and sigs must agree on purged docs: " +
        s"bands-only=${bandDocs -- sigDocs}, sigs-only=${sigDocs -- bandDocs}")
    assert(!bandDocs.contains(1L), "the snapshotted delete must be purged")
    assert(bandDocs.contains(2L),
      "the LATE delete is suppressed logically (dels), not purged yet")
    // (b) the live view excludes the late doc and the ledger carries
    // its tag forward into the new generation
    val liveDocs = Dedup.liveIndexTable(spark, bt, bt)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(!liveDocs.contains(2L) && !liveDocs.contains(1L),
      "both deletes must be excluded from the live view post-promote")
    val tags = Dedup.bandLog(spark, prefix).latest(spark).dels
    assert(tags.contains(lateTag),
      s"the late delete's ledger tag must be merged forward: '$tags'")
    // the tag's replay is a CORRECT no-op: doc still excluded
    Dedup.deleteFromMinhashBandIndex(Seq(2L).toDF("doc_id"), prefix,
      delTag = lateTag)
    assert(!Dedup.liveIndexTable(spark, bt, bt).select("doc_id")
        .distinct().as[Long].collect().toSet.contains(2L),
      "the replayed tag must remain effective after the forward")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("two threads racing a stale ensureMinhashBandIndex rebuild do not clobber each other") {
    // the lease's re-entrancy is per-JVM, so WITHOUT the JVM-local
    // lineage lock both threads would enter the rebuild (the second
    // just increments the lease depth) and race DROP TABLE /
    // dropGenerationsExcept / ensureBucketed. With the lock + re-probe
    // the loser reuses the winner's rebuild.
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_racereb${System.nanoTime()}"
    val tag    = s"racereb-${System.nanoTime()}"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val errors  = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (1 to 2).map { _ =>
      new Thread(() => {
        try {
          barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
          results.add(Dedup.ensureMinhashBandIndex(docs, prefix, tag))
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errors.isEmpty,
      s"concurrent rebuilds must not clobber each other: ${errors.peek()}")
    assert(results.size == 2 && results.asScala.toSet.size == 1,
      s"both threads must resolve the SAME generation pair: $results")
    val (bt, st) = results.peek()
    assert(spark.table(bt).select("doc_id").distinct().count() ==
        docs.count() && spark.table(st).count() == docs.count(),
      "the surviving rebuild must be complete")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }
}
