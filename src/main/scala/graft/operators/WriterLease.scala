package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Cross-PROCESS writer mutual exclusion for a maintained index
  * lineage — the half of the single-writer contract the JVM-local
  * locks of [[IndexLifecycle.guarded]] cannot give. Every
  * maintenance entry point (fold, delete, compact, rebuild) of both
  * index families acquires the lineage's lease before touching its
  * ledger or layout, so two driver JVMs folding the same lineage
  * either SERIALIZE (the second waits out the first's short op) or
  * REFUSE loudly — never the silent double-append / lost-ledger-entry
  * interleaving two writers' appends and log commits would otherwise
  * admit (the log's version CAS catches a lost race, not a duplicate
  * append that preceded it). (Reference
  * analog: the SDE load is single-process by construction,
  * etl/pipeline.py:557-568 — a sharded 100 TB ingest tier is not.)
  *
  * Mechanics: one `_writer.lock` file per lineage, created with the
  * filesystem's ATOMIC create-if-absent primitive ([[createIfAbsent]]:
  * a hard link on `file:`, a rename on HDFS — both one atomic metadata
  * op). The scheme contract is
  * ENFORCED, not just noted: schemes without an atomic
  * create-if-absent (object stores) are REFUSED with a clear message
  * unless `spark.graft.index.writerLeaseAllowNonAtomic=true` opts
  * into loud best-effort degradation — see
  * [[enforceSchemeContract]]. The file body names the holder
  * (`pid@host#bootNanos`) for diagnostics and re-entrancy.
  *
  * Liveness: a holder that dies leaks its lock file; contenders break
  * a lease whose mtime is older than
  * `spark.graft.index.writerLeaseStaleMinutes` (default 120). Long
  * rewrites therefore HEARTBEAT: the holding JVM refreshes the lock's
  * mtime every staleWindow/4 from a daemon thread, so the window
  * bounds crash recovery time, not op duration. Contenders wait up to
  * `spark.graft.index.writerLeaseWaitSeconds` (default 30) for a live
  * lease to clear, then throw — refusal is the designed outcome for
  * true concurrent writers; waiting covers back-to-back short ops.
  *
  * Re-entrancy is per-JVM, not per-thread: maintenance entry points
  * already serialize JVM-locally on the lineage lock BEFORE acquiring
  * the lease, so at most one thread per JVM is inside; nested entry
  * points (a delete's tombstone-debt auto-compaction, a fold's
  * files-per-bucket auto-compaction) see their own holder id in the
  * file and proceed without re-acquiring.
  */
object WriterLease {

  /** This JVM's identity in lock files — stable for the process
    * lifetime, unique across processes and restarts.
    */
  private[graft] val holderId: String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.net.UnknownHostException => "localhost" }
    s"${ProcessHandle.current().pid()}@$host#${System.nanoTime()}"
  }

  // lock paths this JVM currently holds, with nesting depth — guarded
  // by its own monitor (the per-lineage JVM lock already serializes
  // same-lineage callers; this map only coordinates bookkeeping)
  private val held = scala.collection.mutable.Map.empty[String, Int]

  // one daemon heartbeat thread for all held leases: refreshes each
  // lock's mtime so a multi-hour rewrite never goes "stale" while its
  // holder is alive. The REQUIRED beat interval is stored PER LEASE
  // (staleMs/4 as configured at that lease's acquisition) and the
  // thread ticks on a short fixed interval, touching each lease only
  // when its own quarter-window has elapsed — a single interval fixed
  // by whichever lease happened to be acquired first would let a later
  // lease with a SMALLER configured stale window exceed its own window
  // between beats, and a contender would stale-break a lease whose
  // holder is alive (readmitting the two-writer case).
  private case class Beat(path: Path, fs: org.apache.hadoop.fs.FileSystem,
      intervalMs: Long, lastBeat: java.util.concurrent.atomic.AtomicLong)
  private val beats =
    new java.util.concurrent.ConcurrentHashMap[String, Beat]()
  private val HeartbeatTickMs = 1000L
  private val heartbeat = new java.util.concurrent.atomic.AtomicReference[Thread]()
  private def ensureHeartbeat(): Unit = {
    if (heartbeat.get() == null) {
      val t = new Thread(() => {
        while (true) {
          // a stray interrupt must not kill the one thread keeping
          // every held lease alive — swallow and keep beating
          try Thread.sleep(HeartbeatTickMs)
          catch { case _: InterruptedException => }
          val now = System.currentTimeMillis()
          beats.forEach { (k, b) =>
            if (now - b.lastBeat.get() >= b.intervalMs) {
              try {
                b.fs.setTimes(b.path, now, -1)
                b.lastBeat.set(now)
              } catch {
                case _: java.io.FileNotFoundException =>
                  // our LIVE lock vanished — a contender wrongfully
                  // stale-broke it (rename-claim in flight) or an
                  // operator deleted it. Re-create to restore our
                  // protection: if the breaker's re-verify finds the
                  // claim fresh it renames back and loses to our
                  // re-created file (logging loudly on its side); if
                  // a usurper already re-acquired, the create fails
                  // and we can only record that we now run unprotected.
                  if (tryCreate(b.fs, b.path)) {
                    b.lastBeat.set(now)
                    // the OTHER way the path can be absent: withLease's
                    // release ran between our Beat fetch and the
                    // setTimes (beats.remove + delete) — re-creating
                    // then RESURRECTS a released lock as a permanent
                    // orphan that blocks the lineage until a stale
                    // break. Re-check the registry AFTER the create
                    // and undo our own file if the lease is gone.
                    if (!beats.containsKey(k)) {
                      try {
                        if (readHolder(b.fs, b.path).contains(holderId))
                          b.fs.delete(b.path, false)
                      } catch { case _: java.io.IOException => }
                    } else
                      log.warn(s"writer-lease heartbeat: live lock " +
                        s"${b.path} had vanished (wrongful stale-break " +
                        "or external delete) — re-created it")
                  } else
                    log.error(s"writer-lease heartbeat: live lock " +
                      s"${b.path} was taken by another process " +
                      s"(${readHolder(b.fs, b.path).getOrElse("<unreadable>")})" +
                      " — THIS holder's maintenance op is now running " +
                      "UNPROTECTED; expect possible double-writer damage")
                case _: java.io.IOException => // next tick retries
              }
            }
          }
        }
      }, "graft-writer-lease-heartbeat")
      t.setDaemon(true)
      if (heartbeat.compareAndSet(null, t)) t.start()
    }
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger(WriterLease.getClass)

  /** Schemes whose create-if-absent ([[createIfAbsent]]) is genuinely
    * one atomic op: link(2) on `file:`, a single namenode rename on
    * `hdfs:`/`viewfs:`/`webhdfs:`. Object stores (s3a/gs/abfs/oss/...)
    * have no create-if-absent primitive — there it is exists-then-PUT,
    * a check-then-act the whole protocol's safety rests on NOT being.
    */
  private val AtomicCreateSchemes = Set("file", "hdfs", "viewfs", "webhdfs")
  private val nonAtomicWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The lock protocol's scheme contract, ENFORCED rather than noted:
    * on a filesystem without an atomic create-if-absent the lease
    * degrades to best-effort — two writers can both "acquire" — so the
    * default is to REFUSE with a clear message. Deployments that accept
    * the risk (single-writer by construction, or a store with its own
    * conditional-put they layer underneath) opt in via
    * `spark.graft.index.writerLeaseAllowNonAtomic=true`, which demotes
    * the refusal to one loud warning per scheme.
    */
  private def enforceSchemeContract(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, lock: Path): Unit = {
    val scheme = fs.getUri.getScheme
    if (scheme != null && !AtomicCreateSchemes.contains(scheme)) {
      val allow = spark.conf.getOption(
        "spark.graft.index.writerLeaseAllowNonAtomic").contains("true")
      if (!allow)
        throw new IllegalStateException(
          s"writer lease at $lock: filesystem scheme '$scheme' has no " +
            "atomic create-if-absent, so the cross-process writer lock " +
            "would be best-effort (two writers could both acquire and " +
            "silently corrupt the index ledger). Run maintenance for " +
            "this lineage on file:/hdfs:, or set " +
            "spark.graft.index.writerLeaseAllowNonAtomic=true to accept " +
            "best-effort locking (single-writer deployments only)")
      else if (nonAtomicWarned.add(scheme))
        log.warn(s"writer lease: scheme '$scheme' has no atomic " +
          "create-if-absent; proceeding BEST-EFFORT because " +
          "spark.graft.index.writerLeaseAllowNonAtomic=true — " +
          "concurrent maintenance writers on one lineage may not be " +
          "mutually excluded")
    }
  }

  /** The lease file guarding the lineage rooted at `root` (an IVF /
    * IVF-PQ layout dir, a band lineage's dir) — a SIBLING of the root,
    * not a child: ensure/rebuild promote by deleting and renaming the
    * layout dir itself, which must not destroy the lock the promoting
    * writer is holding.
    */
  private[graft] def lockPathFor(root: String): Path = {
    val p = new Path(root)
    new Path(p.getParent, s"${p.getName}._writer.lock")
  }

  /** Run `body` holding the lineage's cross-process lease (acquired
    * at `lock`), re-entrant within this JVM. Throws
    * IllegalStateException naming the holder when another LIVE process
    * holds the lease past the wait budget.
    */
  def withLease[T](spark: SparkSession, lock: Path)(body: => T): T = {
    val key = lock.toString
    val fs  = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val staleMs = IndexLifecycle.confLong(
      spark, "spark.graft.index.writerLeaseStaleMinutes", 120L) * 60000L
    val waitMs = IndexLifecycle.confLong(
      spark, "spark.graft.index.writerLeaseWaitSeconds", 30L) * 1000L
    val acquired = synchronized {
      held.get(key) match {
        case Some(d) => held(key) = d + 1; false
        case None    => true
      }
    }
    if (acquired) {
      enforceSchemeContract(spark, fs, lock)
      acquire(fs, lock, staleMs, waitMs)
      synchronized { held(key) = 1 }
      beats.put(key, Beat(lock, fs, math.max(staleMs / 4, HeartbeatTickMs),
        new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())))
      ensureHeartbeat()
    }
    try body
    finally {
      val release = synchronized {
        val d = held.getOrElse(key, 1) - 1
        if (d <= 0) { held.remove(key); true }
        else { held(key) = d; false }
      }
      if (release) {
        beats.remove(key)
        // only our own lease: a broken-and-retaken lock must not be
        // deleted out from under its new holder
        try {
          if (readHolder(fs, lock).contains(holderId)) fs.delete(lock, false)
        } catch { case _: java.io.IOException => } // stale-broken by the next contender
      }
    }
  }

  private def readHolder(
      fs: org.apache.hadoop.fs.FileSystem, lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(buf.toString("UTF-8").trim)
      } finally in.close()
    } catch { case _: java.io.IOException => None }

  private def tryCreate(
      fs: org.apache.hadoop.fs.FileSystem, lock: Path): Boolean =
    createIfAbsent(fs, lock,
      holderId.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** THE atomic create-if-absent of the maintained indexes — the lease's
    * lock file and every commit of an index lineage's log
    * ([[IndexLog]]): `bytes` land at `path` only if nothing stands
    * there, and the file appears whole or not at all. The bytes go to a
    * temp sibling first; the claim is then ONE atomic metadata op,
    * scheme-specific because Hadoop's local create(overwrite=false) is
    * check-then-create: a hard link on `file:` (link(2) fails with
    * EEXIST), a rename on HDFS (one namenode op that fails if the
    * target exists). Elsewhere the check-then-rename is best-effort —
    * [[enforceSchemeContract]] refuses those schemes by default.
    */
  private[graft] def createIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      path: Path, bytes: Array[Byte]): Boolean = {
    fs.mkdirs(path.getParent)
    val tmp = new Path(path.getParent, s".${path.getName}.${System.nanoTime()}.tmp")
    if (fs.getUri.getScheme == "file") {
      def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
      java.nio.file.Files.write(local(tmp), bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      try { java.nio.file.Files.createLink(local(path), local(tmp)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
      finally java.nio.file.Files.deleteIfExists(local(tmp))
    } else if (fs.exists(path)) false
    else {
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      val won = try fs.rename(tmp, path) catch { case _: java.io.IOException => false }
      if (!won) fs.delete(tmp, false)
      won
    }
  }

  // raw acquire/release, spark-free — the primitives the two-process
  // mutual-exclusion drill (graft.tools.LeaseRacer) races from separate
  // JVMs; withLease adds conf resolution, re-entrancy and heartbeat on
  // top of exactly these
  private[graft] def acquireRaw(fs: org.apache.hadoop.fs.FileSystem,
      lock: Path, staleMs: Long, waitMs: Long): Unit =
    acquire(fs, lock, staleMs, waitMs)

  private[graft] def releaseRaw(
      fs: org.apache.hadoop.fs.FileSystem, lock: Path): Unit = {
    if (readHolder(fs, lock).contains(holderId)) fs.delete(lock, false)
    ()
  }

  private def acquire(fs: org.apache.hadoop.fs.FileSystem, lock: Path,
      staleMs: Long, waitMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + waitMs
    var backoff  = 100L
    while (!tryCreate(fs, lock)) {
      val (holder, age) =
        try {
          val st = fs.getFileStatus(lock)
          (readHolder(fs, lock).getOrElse("<unreadable>"),
            System.currentTimeMillis() - st.getModificationTime)
        } catch {
          // vanished between create-fail and stat — released; retry now
          case _: java.io.FileNotFoundException => ("<released>", -1L)
          case _: java.io.IOException => ("<unreadable>", 0L)
        }
      if (age > staleMs) {
        // dead holder (no heartbeat for a full stale window): break the
        // lease by RENAME-CLAIM, not delete. A plain delete would race
        // a contender that broke and RE-ACQUIRED between our stat and
        // our delete — we would destroy the new holder's LIVE lock and
        // admit two writers, a window as wide as our backoff sleep.
        // The atomic rename is the break ticket (exactly one breaker
        // claims the file; the loser's rename fails), and because
        // rename preserves mtime we re-verify staleness on the CLAIMED
        // file itself — no gap between check and act. A claimed file
        // that turns out fresh is someone's live lock: rename it
        // straight back and keep waiting.
        val claim = new Path(lock.getParent,
          s"${lock.getName}.break${System.nanoTime()}")
        // re-read the mtime IMMEDIATELY before the rename: the first
        // stat may be a whole backoff sleep old, and a live holder's
        // heartbeat landing in that gap would make us rename a FRESH
        // lock away — the claim's mtime re-verify below still catches
        // it, but while the claim is out the lock path is absent and a
        // third contender's tryCreate can slip in. The tight re-stat
        // shrinks that window to the stat→rename instruction gap.
        val freshNow =
          try System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime <= staleMs
          catch { case _: java.io.IOException => false } // vanished/unreadable → retry loop
        val renamed =
          if (freshNow) false // heartbeat arrived — holder is alive, keep waiting
          else
            try fs.rename(lock, claim)
            catch { case _: java.io.IOException => false }
        if (!renamed) {
          // holder proved alive, another breaker claimed first, or the
          // FS errored: back off instead of busy-spinning the
          // stat+rename pair
          Thread.sleep(backoff); backoff = math.min(backoff * 2, 2000L)
        } else {
          val claimedAge =
            try System.currentTimeMillis() -
              fs.getFileStatus(claim).getModificationTime
            catch { case _: java.io.IOException => Long.MaxValue }
          if (claimedAge > staleMs) {
            // genuinely dead — the break stands; drop the carcass and
            // fall through to tryCreate, where breakers race fairly
            try fs.delete(claim, false)
            catch { case _: java.io.IOException => }
          } else {
            // the claimed file is FRESH — someone's LIVE lock: rename
            // it straight back. If the rename-back loses (a new lock
            // now occupies the dest — a third contender slipped into
            // the absence window, or the wronged holder's heartbeat
            // re-created its own file), the original holder's lease
            // cannot be restored from here: say so LOUDLY — silently
            // deleting the claim would erase the only evidence that a
            // live writer is now running unprotected.
            val restored =
              try fs.rename(claim, lock)
              catch { case _: java.io.IOException => false }
            if (!restored) {
              val usurper = readHolder(fs, lock).getOrElse("<unreadable>")
              val wronged = readHolder(fs, claim).getOrElse("<unreadable>")
              if (wronged == usurper)
                // the holder's own heartbeat re-created its lock while
                // we held the claim — protection already restored by
                // the holder itself; the claim is a harmless duplicate
                log.warn(s"writer-lease stale-break of $lock aborted: " +
                  s"holder $wronged was alive and re-created its lock " +
                  "(heartbeat self-heal); dropping the duplicate claim")
              else
                log.error(s"writer-lease stale-break of $lock claimed a " +
                  s"LIVE lease (holder $wronged) and could not restore " +
                  s"it — the lock is now held by $usurper while " +
                  s"$wronged's maintenance op is still running " +
                  "UNPROTECTED; expect possible double-writer damage " +
                  "on this lineage")
              try fs.delete(claim, false)
              catch { case _: java.io.IOException => }
            }
          }
        }
      } else if (age >= 0L && System.currentTimeMillis() >= deadline) {
        throw new IllegalStateException(
          s"writer lease for ${lock.getParent} is held by process " +
            s"$holder (heartbeat ${age / 1000}s ago): concurrent " +
            "maintenance writers on one lineage are refused — " +
            "serialize your ingest jobs per lineage, or raise " +
            "spark.graft.index.writerLeaseWaitSeconds to wait longer")
      } else if (age >= 0L) {
        Thread.sleep(backoff); backoff = math.min(backoff * 2, 2000L)
      }
    }
  }

  // test seam: the registered heartbeat interval of a held lease —
  // pins that refresh cadence is PER LEASE (each lease's own staleMs/4
  // as configured at its acquisition), not frozen at whatever the
  // first-ever lease happened to configure
  private[graft] def heldBeatInterval(lock: Path): Option[Long] =
    Option(beats.get(lock.toString)).map(_.intervalMs)

  // test seam: forge a foreign holder's lease (optionally back-dated)
  // so specs can exercise the refuse/break paths, including a dead or
  // wedged holder, without a second JVM.
  private[graft] def plantForeignLease(spark: SparkSession, lock: Path,
      holder: String, ageMs: Long = 0L): Unit = {
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(lock.getParent)
    val out = fs.create(lock, true)
    try out.write(holder.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (ageMs > 0L)
      fs.setTimes(lock, System.currentTimeMillis() - ageMs, -1)
  }
}
