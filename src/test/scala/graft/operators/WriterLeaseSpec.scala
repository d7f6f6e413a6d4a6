package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The cross-process writer contract (single writer per lineage). The
  * lease file is exercised by forging a foreign holder's lease: a live
  * foreign lease must make every maintenance write REFUSE loudly (never
  * silently double-append), a stale one (dead holder, no heartbeat for
  * a full stale window) must be broken and the write proceed, and
  * nested maintenance (a delete's auto-compaction) must re-enter its
  * own lease rather than deadlock. Both index families store a lineage
  * as a directory any driver sharing the warehouse can resolve, so
  * forked driver JVMs (`graft.tools.FoldRacer`) also fold and compact
  * one lineage for real beside this one.
  */
class WriterLeaseSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")
    .select("doc_id", "text")

  test("a live foreign lease makes an IVF fold refuse loudly, not append") {
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter($"vec_id" % 10 =!= 0),
      srcTag = s"lease-ivf-${System.nanoTime()}")
    val before = Similarity.liveCells(spark, path).count()
    val lock = WriterLease.lockPathFor(path)
    WriterLease.plantForeignLease(spark, lock, "9999@otherhost#1")
    spark.conf.set("spark.graft.index.writerLeaseWaitSeconds", "1")
    try {
      val e = intercept[IllegalStateException] {
        Similarity.foldIntoIvfIndex(
          emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding"),
          path, batchTag = s"lease-b-${System.nanoTime()}")
      }
      assert(e.getMessage.contains("9999@otherhost#1"),
        s"refusal must name the holder: ${e.getMessage}")
      assert(Similarity.liveCells(spark, path).count() == before,
        "a refused fold must not have appended anything")
    } finally {
      spark.conf.unset("spark.graft.index.writerLeaseWaitSeconds")
      lock.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(lock, false)
    }
    // lease cleared -> the same fold succeeds and appends exactly once
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding"),
      path, batchTag = s"lease-ok-${System.nanoTime()}")
    assert(Similarity.liveCells(spark, path).count() == emb.count())
  }

  test("a stale foreign lease (dead holder) is broken and the write proceeds") {
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter($"vec_id" % 10 =!= 0),
      srcTag = s"lease-stale-${System.nanoTime()}")
    val lock = WriterLease.lockPathFor(path)
    // holder "died" two stale-windows ago (staleMinutes=1 for the test)
    WriterLease.plantForeignLease(spark, lock, "4242@deadhost#7",
      ageMs = 2 * 60000L)
    spark.conf.set("spark.graft.index.writerLeaseStaleMinutes", "1")
    try {
      Similarity.foldIntoIvfIndex(
        emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding"),
        path, batchTag = s"stale-b-${System.nanoTime()}")
      assert(Similarity.liveCells(spark, path).count() == emb.count(),
        "the fold must have proceeded after breaking the stale lease")
      val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(lock),
        "the broken-and-retaken lease must be released after the fold")
      // the break is a rename-CLAIM (atomic ticket + mtime re-verify on
      // the claimed file — a plain delete would race a contender that
      // broke and re-acquired, destroying a live lock); the claimed
      // carcass must not outlive the break
      val leftovers = Option(fs.globStatus(new org.apache.hadoop.fs.Path(
          lock.getParent, s"${lock.getName}.break*")))
        .map(_.toSeq).getOrElse(Seq.empty)
      assert(leftovers.isEmpty,
        s"stale-break must clean its rename-claim carcass: $leftovers")
    } finally
      spark.conf.unset("spark.graft.index.writerLeaseStaleMinutes")
  }

  test("band index: a live foreign lease refuses fold AND delete, no ledger write") {
    val prefix = s"graft_lease${System.nanoTime()}"
    val (bt, _) = Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 10 =!= 0), prefix,
      srcTag = s"lease-${System.nanoTime()}")
    val rowsBefore = spark.table(bt).count()
    val lock = WriterLease.lockPathFor(Dedup.bandLog(spark, prefix).root)
    WriterLease.plantForeignLease(spark, lock, "1111@peer#3")
    spark.conf.set("spark.graft.index.writerLeaseWaitSeconds", "1")
    try {
      intercept[IllegalStateException] {
        Dedup.foldIntoMinhashBandIndex(
          docs.filter($"doc_id" % 10 === 0), prefix,
          batchTag = s"lb-${System.nanoTime()}")
      }
      intercept[IllegalStateException] {
        Dedup.deleteFromMinhashBandIndex(
          Seq(1L).toDF("doc_id"), prefix,
          delTag = s"ld-${System.nanoTime()}")
      }
      assert(spark.table(bt).count() == rowsBefore,
        "refused writes must leave the index untouched")
      assert(Dedup.standingTombstoneFiles(spark, prefix).isEmpty,
        "a refused delete must not have committed tombstones")
      val c = Dedup.bandLog(spark, prefix).latest(spark)
      assert(c.version == 0L && c.intents.isEmpty && c.dels.isEmpty,
        s"a refused write must not have committed anything: $c")
    } finally {
      spark.conf.unset("spark.graft.index.writerLeaseWaitSeconds")
      lock.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(lock, false)
    }
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("nested maintenance re-enters its own lease (delete -> auto-compaction)") {
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter($"vec_id" =!= 0L),
      srcTag = s"lease-nest-${System.nanoTime()}")
    val gen0 = Similarity.activeCellsDir(spark, path)
    // debt cap 1: the delete itself must trigger compactIvfCells while
    // already holding the lease — a non-re-entrant lease would refuse
    // its own holder here
    spark.conf.set("spark.graft.index.autoCompactTombstoneRows", "1")
    try {
      Similarity.deleteFromIvfIndex(
        emb.filter($"vec_id" % 97 === 1L).select("vec_id"), path,
        delTag = s"nest-${System.nanoTime()}")
    } finally
      spark.conf.unset("spark.graft.index.autoCompactTombstoneRows")
    assert(Similarity.activeCellsDir(spark, path) != gen0,
      "the nested auto-compaction must have promoted")
    val fs = WriterLease.lockPathFor(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(WriterLease.lockPathFor(path)),
      "the lease must be released once the outermost op exits")
  }

  test("TWO real JVMs + this one race the lease: mutual exclusion holds") {
    // the literal two-driver-JVMs case (r18 verdict #2): the band
    // family's catalog is process-local, but the lease itself is pure
    // filesystem — race the actual atomic-create acquire path from two
    // forked JVMs plus this one, each asserting sole ownership through
    // a witness directory inside every hold. Any co-presence writes a
    // VIOLATION marker.
    val dir = java.nio.file.Files.createTempDirectory("graft-lease-race")
    val lock    = new org.apache.hadoop.fs.Path(s"$dir/the.lock")
    val witness = new java.io.File(s"$dir/witness")
    witness.mkdirs()
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val iters   = 15
    def spawn(): Process =
      new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
          "graft.tools.LeaseRacer", lock.toString, witness.toString,
          iters.toString)
        .redirectErrorStream(true).start()
    val kids = Seq(spawn(), spawn())
    // this JVM races through the full withLease path concurrently; give
    // the bounded wait plenty of room — three contenders with 2 s max
    // backoff can transiently starve one past the 30 s default
    spark.conf.set("spark.graft.index.writerLeaseWaitSeconds", "120")
    val fs   = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val self = ProcessHandle.current().pid()
    try (1 to iters).foreach { i =>
      WriterLease.withLease(spark, lock) {
        val others = Option(witness.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("tok_") &&
            f.getName != s"tok_$self")
        assert(others.isEmpty,
          s"iteration $i: another process held the lease concurrently: " +
            others.map(_.getName).mkString(","))
        val tok = new java.io.File(witness, s"tok_$self")
        tok.createNewFile(); Thread.sleep(2L); tok.delete()
        ()
      }
    } finally
      spark.conf.unset("spark.graft.index.writerLeaseWaitSeconds")
    kids.foreach { p =>
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "racer JVM did not finish")
      assert(p.exitValue() == 0 && out.contains("RACER_DONE"),
        s"racer JVM failed (exit ${p.exitValue()}):\n${out.takeRight(1500)}")
    }
    val violations = Option(witness.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("VIOLATION"))
    assert(violations.isEmpty,
      s"mutual exclusion violated: ${violations.map(_.getName).mkString(",")}")
    assert(!fs.exists(lock), "all racers done -> lease fully released")
  }

  test("TWO real driver JVMs fold one IVF lineage concurrently: serialized, nothing lost") {
    // the full end-to-end cross-process contract, not just the lock
    // primitive: an IVF layout is a plain directory two driver JVMs
    // genuinely share (unlike the process-local band catalog), so two
    // forked Spark JVMs plus this one ingest disjoint residue classes
    // of the corpus into the SAME layout simultaneously — every fold
    // takes the lease like any production ingest job. If the lease
    // failed to serialize (or a fold resolved a stale generation),
    // appends would be lost or doubled and the final count would drift.
    val total = emb.count()
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter($"vec_id" % 4 === 3),
      srcTag = s"foldrace-${System.nanoTime()}")
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val embPath = s"${sf()}/embeddings.parquet"
    // child stdout goes to a FILE: a forked Spark JVM logs far more
    // than a pipe buffer holds, and a full pipe would block the child
    // while this JVM is busy folding its own batches
    def spawn(res: Int): (Process, java.io.File) = {
      val out = java.io.File.createTempFile(s"graft-foldracer-$res", ".log")
      val p = new ProcessBuilder(javaBin,
          "-cp", System.getProperty("java.class.path"),
          "graft.tools.FoldRacer", path, embPath, "4", res.toString, "3")
        .redirectErrorStream(true).redirectOutput(out).start()
      (p, out)
    }
    val kids = Seq(spawn(0), spawn(1))
    spark.conf.set("spark.graft.index.writerLeaseWaitSeconds", "300")
    try
      (0 until 3).foreach { i =>
        Similarity.foldIntoIvfIndex(
          emb.filter($"vec_id" % 4 === 2)
            .filter(expr("vec_id div 4") % 3 === i)
            .select("vec_id", "embedding"),
          path, batchTag = s"racer-2-$i")
      }
    finally spark.conf.unset("spark.graft.index.writerLeaseWaitSeconds")
    kids.foreach { case (p, out) =>
      assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS),
        "fold-racer JVM did not finish")
      val log = new String(
        java.nio.file.Files.readAllBytes(out.toPath), "UTF-8")
      assert(p.exitValue() == 0 && log.contains("FOLDRACER_DONE"),
        s"fold-racer failed (exit ${p.exitValue()}):\n${log.takeRight(1500)}")
      out.delete()
    }
    // cross-process idempotence: replaying a CHILD's tag from THIS
    // process must no-op on the filesystem fold marker
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 4 === 0)
        .filter(expr("vec_id div 4") % 3 === 0)
        .select("vec_id", "embedding"),
      path, batchTag = "racer-0-0")
    assert(Similarity.liveCells(spark, path).count() == total,
      "every batch from all three processes must land exactly once")
    val lock = WriterLease.lockPathFor(path)
    val fs   = lock.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(lock), "all writers done -> lease fully released")
  }

  test("scheme contract is ENFORCED: a non-atomic-create scheme refuses by default") {
    // an object-store-like scheme (no atomic create-if-absent) must be
    // refused, not silently degraded to best-effort locking — the
    // docstring caveat as an enforced contract. MockObjectStoreFs is a
    // RawLocalFileSystem wearing a `mock:` scheme, exactly the
    // non-atomic create(overwrite=false) code path an object store hits.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mock.impl", classOf[MockObjectStoreFs].getName)
    val dir  = java.nio.file.Files.createTempDirectory("graft-scheme")
    val lock = new org.apache.hadoop.fs.Path(s"mock:$dir/the.lock")
    val e = intercept[IllegalStateException] {
      WriterLease.withLease(spark, lock) { fail("body must not run") }
    }
    assert(e.getMessage.contains("mock") &&
        e.getMessage.contains("writerLeaseAllowNonAtomic"),
      s"refusal must name the scheme and the escape hatch: ${e.getMessage}")
    // the escape hatch demotes the refusal to a loud warning and the
    // lease proceeds best-effort
    spark.conf.set("spark.graft.index.writerLeaseAllowNonAtomic", "true")
    try {
      var ran = false
      WriterLease.withLease(spark, lock) { ran = true }
      assert(ran, "with the opt-in the lease must proceed best-effort")
      val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
      assert(!fs.exists(lock), "best-effort lease still releases")
    } finally
      spark.conf.unset("spark.graft.index.writerLeaseAllowNonAtomic")
  }

  test("heartbeat cadence is per lease, not frozen at the first acquisition") {
    // lease A is acquired under a LARGE stale window (long interval);
    // lease B, acquired later under a small window, must register its
    // OWN staleMs/4 cadence — under the old single-interval heartbeat B
    // would be refreshed on A's long interval and could exceed its own
    // stale window between beats, letting a contender stale-break a
    // live holder.
    val dir   = java.nio.file.Files.createTempDirectory("graft-beat")
    val lockA = new org.apache.hadoop.fs.Path(s"$dir/a.lock")
    val lockB = new org.apache.hadoop.fs.Path(s"$dir/b.lock")
    val inA   = new java.util.concurrent.CountDownLatch(1)
    val done  = new java.util.concurrent.CountDownLatch(1)
    val ivals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    spark.conf.set("spark.graft.index.writerLeaseStaleMinutes", "120")
    val tA = new Thread(() => {
      WriterLease.withLease(spark, lockA) {
        WriterLease.heldBeatInterval(lockA).foreach(ivals.put("a", _))
        inA.countDown()
        done.await(30, java.util.concurrent.TimeUnit.SECONDS)
        ()
      }
    })
    tA.start()
    assert(inA.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      // B acquires while A is still held, under a 4-minute stale window
      spark.conf.set("spark.graft.index.writerLeaseStaleMinutes", "4")
      WriterLease.withLease(spark, lockB) {
        WriterLease.heldBeatInterval(lockB).foreach(ivals.put("b", _))
        ()
      }
    } finally {
      done.countDown(); tA.join(30000)
      spark.conf.unset("spark.graft.index.writerLeaseStaleMinutes")
    }
    assert(ivals.get("a") == 120L * 60000L / 4,
      s"lease A must beat on its own staleMs/4: ${ivals.get("a")}")
    assert(ivals.get("b") == 4L * 60000L / 4,
      s"lease B must beat on ITS own staleMs/4, not A's: ${ivals.get("b")}")
  }

  test("heartbeat self-heals a live lock that vanished (wrongful break)") {
    // staleMinutes=0 floors the beat interval at the 1 s tick — delete
    // the live holder's lock out from under it (what a wrongful
    // stale-break's rename-claim does to the lock path) and the next
    // beat must re-create it, restoring protection.
    val dir  = java.nio.file.Files.createTempDirectory("graft-heal")
    val lock = new org.apache.hadoop.fs.Path(s"$dir/heal.lock")
    val fs   = lock.getFileSystem(spark.sessionState.newHadoopConf())
    spark.conf.set("spark.graft.index.writerLeaseStaleMinutes", "0")
    try {
      WriterLease.withLease(spark, lock) {
        fs.delete(lock, false)
        assert(!fs.exists(lock), "test setup: lock deleted under the holder")
        val deadline = System.currentTimeMillis() + 10000L
        while (!fs.exists(lock) && System.currentTimeMillis() < deadline)
          Thread.sleep(100L)
        assert(fs.exists(lock),
          "the heartbeat must re-create its own vanished live lock")
        ()
      }
      assert(!fs.exists(lock), "the re-created lock still releases cleanly")
      // and the self-heal must not RESURRECT a released lock: with the
      // 1 s beat cadence still live for several ticks after release,
      // any heartbeat that raced the release's remove+delete must undo
      // its own re-create (the registry re-check) — an orphaned lock
      // here would block every maintenance op on the lineage until a
      // stale break
      Thread.sleep(3000L)
      assert(!fs.exists(lock),
        "no heartbeat tick after release may resurrect the lock")
    } finally
      spark.conf.unset("spark.graft.index.writerLeaseStaleMinutes")
  }

  test("the lease file is released after every successful maintenance op") {
    val prefix = s"graft_rel${System.nanoTime()}"
    Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 3 === 0), prefix,
      srcTag = s"rel-${System.nanoTime()}")
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 3 === 1), prefix,
      batchTag = s"rb-${System.nanoTime()}")
    Dedup.compactMinhashBandIndex(spark, prefix)
    val lock = WriterLease.lockPathFor(Dedup.bandLog(spark, prefix).root)
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(lock), "lease must not outlive the ops that took it")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  // a forked driver JVM running graft.tools.FoldRacer with `args` over
  // this session's warehouse; its log goes to a FILE (a forked Spark JVM
  // logs far more than a pipe buffer holds)
  private def racer(jvmOpts: Seq[String], args: String*): (Process, java.io.File) = {
    val out = java.io.File.createTempFile("graft-foldracer", ".log")
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmOpts ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.tools.FoldRacer") ++ args
    (new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(out).start(), out)
  }

  private def awaitRacer(kid: (Process, java.io.File)): Unit = {
    val (p, out) = kid
    assert(p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS), "fold-racer JVM did not finish")
    val log = new String(java.nio.file.Files.readAllBytes(out.toPath), "UTF-8")
    assert(p.exitValue() == 0 && log.contains("FOLDRACER_DONE"),
      s"fold-racer failed (exit ${p.exitValue()}):\n${log.takeRight(1500)}")
    out.delete()
    ()
  }

  private def warehouse: String = spark.conf.get("spark.sql.warehouse.dir")

  test("TWO real driver JVMs fold one band lineage concurrently: serialized, nothing lost") {
    // the band family's cross-process contract end to end: two forked
    // Spark JVMs plus this one fold disjoint residue classes of the
    // corpus into the SAME lineage, each registering the pair from the
    // log; every batch must land exactly once in both tables
    val prefix = s"graft_bandrace${System.nanoTime()}"
    val docsPath = s"${sf()}/documents.parquet"
    Dedup.ensureMinhashBandIndex(docs.filter($"doc_id" % 4 === 3), prefix,
      srcTag = s"bandrace-${System.nanoTime()}")
    val kids = Seq(0, 1).map(res =>
      racer(Nil, "band", warehouse, prefix, docsPath, "4", res.toString, "3"))
    spark.conf.set("spark.graft.index.writerLeaseWaitSeconds", "300")
    try
      (0 until 3).foreach { i =>
        Dedup.foldIntoMinhashBandIndex(
          docs.filter($"doc_id" % 4 === 2).filter(expr("doc_id div 4") % 3 === i),
          prefix, batchTag = s"racer-2-$i")
      }
    finally spark.conf.unset("spark.graft.index.writerLeaseWaitSeconds")
    kids.foreach(awaitRacer)
    // cross-process idempotence: replaying a CHILD's tag from THIS
    // process must no-op on the log's fold ledger
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 4 === 0).filter(expr("doc_id div 4") % 3 === 0),
      prefix, batchTag = "racer-0-0")
    val sigs = Dedup.minhashSignaturesPortable(docs, 3, 64, 7L)
    val wantBands = sigs.select($"doc_id", explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
      .as[(Long, String)].collect().toSeq
    val wantSigs = sigs.select("doc_id").as[Long].collect().toSeq
    val (bt, st) = Dedup.currentIndexTables(spark, prefix)
    val gotBands = Dedup.liveIndexTable(spark, bt, bt).select("doc_id", "bk")
      .as[(Long, String)].collect().toSeq
    val gotSigs = Dedup.liveIndexTable(spark, st, bt).select("doc_id").as[Long].collect().toSeq
    assert(gotSigs.sorted == wantSigs.sorted,
      s"every batch from all three processes must land exactly once in sigs: " +
        s"${gotSigs.size} rows, ${gotSigs.distinct.size} docs, want ${wantSigs.size}")
    assert(gotBands.sorted == wantBands.sorted,
      s"every batch must land exactly once in bands: ${gotBands.size} rows, want ${wantBands.size}")
    assert(Dedup.bandLog(spark, prefix).latest(spark).folds ==
      (for (r <- 0 to 2; i <- 0 until 3) yield s"racer-$r-$i").toSet)
    val lock = WriterLease.lockPathFor(Dedup.bandLog(spark, prefix).root)
    assert(!lock.getFileSystem(spark.sessionState.newHadoopConf()).exists(lock),
      "all writers done -> lease fully released")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("a compaction in a second driver JVM retires this JVM's superseded pair") {
    // retention lists the lineage root, so a generation this JVM wrote
    // is retired by another process's compaction (the child runs with
    // maxStaleGenerations = 1: one superseded pair may stand)
    val prefix = s"graft_xcompact${System.nanoTime()}"
    Dedup.ensureMinhashBandIndex(docs.filter($"doc_id" % 10 =!= 0), prefix,
      srcTag = s"xcompact-${System.nanoTime()}")
    Dedup.foldIntoMinhashBandIndex(docs.filter($"doc_id" % 10 === 0), prefix,
      batchTag = s"xb-${System.nanoTime()}")
    Dedup.compactMinhashBandIndex(spark, prefix)
    val log = Dedup.bandLog(spark, prefix)
    val root = new org.apache.hadoop.fs.Path(log.root).toUri.getPath
    val mine = log.latest(spark).gen
    val first = new java.io.File(root, "pair")
    assert(mine != "pair" && first.exists(),
      "setup: this JVM's compaction promoted and kept the superseded pair")
    awaitRacer(racer(Seq("-Dspark.graft.index.maxStaleGenerations=1"),
      "band-compact", warehouse, prefix))
    val now = log.latest(spark).gen
    assert(now != mine && now.startsWith("pair.g"), s"the child must have promoted: $now")
    assert(!first.exists(), s"$first must be retired by the second JVM's compaction")
    assert(new java.io.File(root, mine).exists(),
      "the pair the child superseded stands for in-flight scans")
    val (_, st) = Dedup.currentIndexTables(spark, prefix)
    assert(Dedup.liveIndexTable(spark, st, st).count() ==
      Dedup.minhashSignaturesPortable(docs, 3, 64, 7L).count(),
      "the compacted lineage answers in full in this JVM")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }
}
