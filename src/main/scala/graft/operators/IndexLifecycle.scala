package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The ONE lifecycle of the maintained indexes — the MinHash band index
  * ([[Dedup.ensureMinhashBandIndex]]) and the IVF / IVF-PQ cells layouts
  * ([[Similarity.ensureIvfIndex]], [[Similarity.ensureIvfPqIndex]]).
  * Reference analog: the publish semantics of `etl/pipeline.py:698-725`
  * — append for folds, replace for compaction, truncate-and-load for a
  * rebuild. Each family keeps only its storage (catalog-table
  * generations with TBLPROPERTIES ledgers vs. a manifest directory with
  * marker files) behind [[Store]]; the policy is pure functions over
  * [[Policy]] and the step ORDER is written once here. The contract:
  *
  *  - '''Lease scoping.''' Every write (fold, delete, compact, rebuild)
  *    runs inside [[guarded]]: per-application memo check → JVM-local
  *    lock on the lineage key → memo re-check → cross-process
  *    [[WriterLease]] → body → memo add. The lock comes FIRST because
  *    the lease is re-entrant per JVM, not per thread; nested entry
  *    points (a fold's or delete's auto-compaction, a compaction's race
  *    seam) re-enter both. Complete layouts resolve lease-free: an
  *    ensure that finds a complete index is logically a read.
  *  - '''Generations.''' Data lives in generations named by an
  *    epoch-nanos stamp ([[newStamp]]); generation 0 is the unstamped
  *    original. Tombstones live INSIDE their generation, so a reader
  *    resolves (rows, tombstones) from one generation atomically. A
  *    tombstone append re-resolves after writing and re-appends to a
  *    generation that won a concurrent promote ([[settle]]).
  *  - '''Skip.''' A compaction with no standing tombstones and no data
  *    files appended since its generation's own rewrite (the nfiles
  *    stamp) does not rewrite; `force` overrides. The skip and the
  *    promote path share the same [[Store.fileCounts]] and the same
  *    retirement, so they cannot drift apart.
  *  - '''Promote.''' snapshot tombstones → rewrite live rows into an
  *    UNPROMOTED new generation → stamp its file counts → race seam →
  *    promote with ONE atomic metadata op (manifest rename / catalog
  *    property unset) → forward late tombstones → retire. A crash
  *    before the promote leaves the old generation active and the new
  *    one an orphan; after it, the old one is superseded. Nothing needs
  *    repair. A scan already in flight keeps reading its generation.
  *  - '''Late forward.''' Tombstones that landed on the superseded
  *    generation after the snapshot (a writer outside the lease) are
  *    copied into the new generation with their ledger tags.
  *  - '''Retention.''' [[Policy.toRetire]]: the active generation and
  *    the protected set (the one just superseded) always stay; any
  *    other generation goes once its last touch is older than
  *    `gcStaleHours` (0 = no age protection — the rebuild path);
  *    superseded generations (stamp below the active one) beyond the
  *    newest `maxStaleGenerations` go regardless of age. Generations
  *    stamped ABOVE the active one or with no parseable stamp may be a
  *    live rewrite in another process: age-gated only, never
  *    count-forced. An in-flight scan therefore survives
  *    min(gcStaleHours, K promotes).
  *  - '''Thresholds.''' A fold compacts once the layout averages
  *    `autoCompactFilesPerUnit` data files per bucket/cell; a delete
  *    compacts once standing tombstones reach `autoCompactTombstoneRows`
  *    distinct ids (so the broadcast anti-join every read pays stays
  *    small). ≤0 disables either; a malformed value falls back to the
  *    default with a warning. A fold batch that re-inserts a tombstoned
  *    id is refused ([[requireNotTombstoned]]).
  */
object IndexLifecycle {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ---------------- policy: pure, no SparkSession ----------------

  /** The four maintenance settings (`spark.graft.index.*`). */
  final case class Policy(
      autoCompactFilesPerUnit: Int = 32,
      autoCompactTombstoneRows: Int = 1 << 20,
      gcStaleHours: Long = 24L,
      maxStaleGenerations: Int = 4) {

    /** Files-per-unit auto-compaction (units = buckets or cells). */
    def filesPerUnitDue(files: Long, units: Long): Boolean =
      autoCompactFilesPerUnit > 0 && units > 0 &&
        files >= autoCompactFilesPerUnit.toLong * units

    /** Tombstone debt; the distinct-id count is only evaluated when the
      * cap is armed (it costs a Spark job).
      */
    def tombstoneDebtDue(distinctIds: => Long): Boolean =
      autoCompactTombstoneRows > 0 &&
        distinctIds >= autoCompactTombstoneRows.toLong

    /** The generations to drop (see the retention rule above). `active`
      * is None only on the rebuild path, which drops everything.
      */
    def toRetire(gens: Seq[Generation], active: Option[String],
        protect: Set[String], nowMs: Long): Set[String] = {
      val kept = protect ++ active
      val candidates = gens.filterNot(g => kept(g.id))
      val activeStamp = active.flatMap(a => gens.find(_.id == a))
        .flatMap(_.stamp).getOrElse(Long.MaxValue)
      val slots = math.max(0, maxStaleGenerations -
        gens.count(g => protect(g.id) && !active.contains(g.id)))
      val forced: Set[String] =
        if (maxStaleGenerations <= 0) Set.empty
        else candidates.filter(_.stamp.exists(_ < activeStamp))
          .sortBy(g => -g.stamp.get).drop(slots).map(_.id).toSet
      val cutoff = nowMs - gcStaleHours * 3600L * 1000L
      candidates.filter(g =>
        forced(g.id) || gcStaleHours <= 0L || g.touchedMs <= cutoff)
        .map(_.id).toSet
    }
  }

  object Policy {
    val FilesPerUnitKey  = "spark.graft.index.autoCompactFilesPerUnit"
    val TombstoneRowsKey = "spark.graft.index.autoCompactTombstoneRows"
    val GcStaleHoursKey  = "spark.graft.index.gcStaleHours"
    val MaxStaleKey      = "spark.graft.index.maxStaleGenerations"

    def from(lookup: String => Option[String]): Policy = {
      val d = Policy()
      Policy(
        intSetting(FilesPerUnitKey, lookup(FilesPerUnitKey), d.autoCompactFilesPerUnit),
        intSetting(TombstoneRowsKey, lookup(TombstoneRowsKey), d.autoCompactTombstoneRows),
        longSetting(GcStaleHoursKey, lookup(GcStaleHoursKey), d.gcStaleHours),
        intSetting(MaxStaleKey, lookup(MaxStaleKey), d.maxStaleGenerations))
    }

    def of(spark: SparkSession): Policy = from(spark.conf.getOption)
  }

  // settings parsed defensively: a typo'd value degrades to the default
  // with a loud warning instead of throwing inside a fold that already
  // appended. Long for hour-scale knobs, so a value beyond Int that
  // disabled a policy keeps it disabled.
  private def intSetting(key: String, raw: Option[String], default: Int): Int =
    setting(key, raw, default, "an int")(_.toIntOption)

  private def longSetting(key: String, raw: Option[String], default: Long): Long =
    setting(key, raw, default, "a long")(_.toLongOption)

  private def setting[T](key: String, raw: Option[String], default: T,
      kind: String)(parse: String => Option[T]): T =
    raw.fold(default)(v => parse(v.trim).getOrElse {
      log.warn(s"ignoring malformed $key='$v' (not $kind); using default $default")
      default
    })

  def confLong(spark: SparkSession, key: String, default: Long): Long =
    longSetting(key, spark.conf.getOption(key), default)

  /** A standing generation as retention sees it. `touched` (last write,
    * ms) is by-name: storage pays for it (a catalog lookup, a recursive
    * listing) only when the age gate actually needs it.
    */
  final class Generation(val id: String, val stamp: Option[Long],
      touched: => Long) {
    lazy val touchedMs: Long = touched
  }

  /** THE generation-stamp parser: Some(0) for the unstamped generation 0
    * (`name == gen0`), the stamp of `<prefix><digits>`, None for any
    * other name. Ordering is numeric, never lexical: stamps from other
    * processes and hosts can differ in digit width.
    */
  def parseStamp(name: String, gen0: String, prefix: String): Option[Long] =
    if (name == gen0) Some(0L)
    else if (!name.startsWith(prefix)) None
    else {
      val d = name.substring(prefix.length)
      if (d.nonEmpty && d.length <= 19 && d.forall(_.isDigit)) d.toLongOption
      else None
    }

  /** Cross-process-comparable generation stamp: nanoseconds since the
    * EPOCH (wall-clock millis plus a sub-millis nano component).
    * `System.nanoTime` alone is boot-relative — two driver JVMs' stamps
    * would be incomparable, and one JVM's stamps change digit width as
    * uptime grows. Epoch-nanos are 19 digits until 2262 and above any
    * realistic boot-relative stamp, so legacy layouts keep their age
    * order under [[parseStamp]].
    */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  def newStamp(): Long = {
    val raw = System.currentTimeMillis() * 1000000L +
      java.lang.Math.floorMod(System.nanoTime(), 1000000L)
    // monotonic within the process: the sub-millis component wraps
    lastStamp.updateAndGet(prev => math.max(raw, prev + 1))
  }

  /** The no-op compaction decision: nothing to purge and no more data
    * files than the generation's own rewrite stamped. `current` is only
    * evaluated when a stamp exists; a generation without one (gen 0, a
    * garbled stamp) always rewrites.
    */
  def skipCompaction(force: Boolean, hasTombstones: Boolean,
      stamped: Option[Seq[Long]], current: => Seq[Long]): Boolean =
    !force && !hasTombstones && stamped.exists { s =>
      val c = current
      c.length == s.length && c.zip(s).forall { case (n, m) => n <= m }
    }

  /** An nfiles stamp as written by [[compact]] ("n" or "n1,n2"). */
  def parseCounts(v: String): Option[Seq[Long]] = {
    val parts = v.trim.split(",").toSeq.map(_.trim.toLongOption)
    if (parts.forall(_.isDefined)) Some(parts.flatten) else None
  }

  // ---------------- the write guard ----------------

  // writes already applied THIS application (fold/delete tags, complete
  // layouts): a repeated call costs zero catalog or FS roundtrips
  private val memo = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // per-lineage JVM locks (the ResponseCache anti-stampede pattern)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[operators] def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)

  /** Run `body` as a maintenance write (see "Lease scoping"). `skip` is
    * evaluated under the JVM lock before the lease is taken; when it
    * holds, the body is skipped lease-free and the memo still records
    * the call.
    */
  def guarded(spark: SparkSession, lockKey: String, memoKey: Option[String],
      leasePath: Path, skip: => Boolean = false)(body: => Unit): Unit = {
    val key = memoKey.map(k => s"${spark.sparkContext.applicationId}|$k")
    if (!key.exists(memo.contains)) lockFor(lockKey).synchronized {
      if (!key.exists(memo.contains)) {
        if (!skip) WriterLease.withLease(spark, leasePath)(body)
        key.foreach(memo.add)
      }
    }
  }

  // ---------------- tombstones ----------------

  /** Append a tombstone batch to the ACTIVE generation, then re-resolve:
    * a cross-process compaction that promoted in between would strand
    * it in a superseded generation no new reader applies, so re-append
    * to the winner (duplicate rows in the loser are anti-join no-ops).
    * Six promotes inside one delete means a writer is compacting outside
    * the lease: refuse, leaving the tag replayable — the ledger entry or
    * marker is the delete's durability witness and must only follow a
    * settled append. Returns the generation the batch settled in.
    */
  def settle[G](what: String, resolve: () => G)(append: G => Unit): G = {
    var gen     = resolve()
    var settled = false
    var rounds  = 0
    while (!settled && rounds < 6) {
      append(gen)
      val now = resolve()
      settled = now == gen
      gen = now
      rounds += 1
    }
    require(settled,
      s"$what could not settle: the active generation changed through 6 " +
        "consecutive append attempts (a concurrent writer is compacting " +
        "outside the writer lease). The tag is replayable — retry once " +
        "the index is quiescent.")
    gen
  }

  /** The re-insert guard: a fold batch that intersects standing
    * tombstones fails loudly before its append — the old rows are still
    * physical, so the tombstone would kill both versions. One tiny
    * broadcast probe, paid only when tombstones stand at all.
    */
  def requireNotTombstoned(tombstones: Option[DataFrame], batch: DataFrame,
      idCol: String): Unit =
    tombstones.foreach { t =>
      val hit = t.select(idCol)
        .join(broadcast(batch.select(idCol).distinct()), idCol)
        .limit(1).collect()
      require(hit.isEmpty,
        s"fold batch re-inserts tombstoned $idCol ${hit.head.getLong(0)}: " +
          "compact the index first (compaction purges tombstones), then " +
          "re-fold it as new")
    }

  // ---------------- storage + the compaction skeleton ----------------

  /** The storage steps that really differ between the two families.
    * Generation ids are whatever the family's readers resolve (a bands
    * table name, a cells directory path).
    */
  trait Store {
    type Snapshot
    /** The lineage key: JVM lock, logs. */
    def lockKey: String
    def leasePath: Path
    /** Entry housekeeping under the guard (crash heals, GC). */
    def recover(): Unit
    def active(): String
    def generations(): Seq[Generation]
    def drop(gen: String): Unit
    def hasTombstones(gen: String): Boolean
    /** Data files per table of `gen`, as the nfiles stamp records them. */
    def fileCounts(gen: String): Seq[Long]
    def stampedCounts(gen: String): Option[Seq[Long]]
    def writeStamp(gen: String, counts: Seq[Long]): Unit
    def snapshot(gen: String): Snapshot
    def release(s: Snapshot): Unit
    /** Live rows of `gen` minus the snapshot, as a new UNPROMOTED generation. */
    def rewrite(gen: String, s: Snapshot): String
    def promote(gen: String): Unit
    def forwardLate(old: String, gen: String, s: Snapshot): Unit
    /** Post-promote cleanup of the snapshot's legacy-location tombstones. */
    def consumed(old: String, s: Snapshot): Unit
  }

  /** Test seam: runs between a compaction's stamp and its promote with
    * the superseded generation's id — lets a spec land a racing delete
    * in exactly the window the late-tombstone forward closes.
    */
  @volatile private[graft] var compactRaceHook: Option[String => Unit] = None

  /** Compact a lineage (see "Skip" and "Promote" above). */
  def compact(spark: SparkSession, store: Store, force: Boolean,
      skip: => Boolean = false): Unit =
    guarded(spark, store.lockKey, None, store.leasePath, skip) {
      store.recover()
      val cur = store.active()
      if (skipCompaction(force, store.hasTombstones(cur),
          store.stampedCounts(cur), store.fileCounts(cur))) {
        log.info(s"compact(${store.lockKey}): nothing to purge and no " +
          "appends since the last rewrite — skipping")
        // keep the generation superseded most recently, as a promote
        // does: an in-flight scan may still read it
        retire(spark, store, Some(cur), previous(store.generations(), cur).toSet)
      } else {
        val snap = store.snapshot(cur)
        try {
          val gen = store.rewrite(cur, snap)
          store.writeStamp(gen, store.fileCounts(gen))
          compactRaceHook.foreach(_(cur))
          store.promote(gen)
          store.forwardLate(cur, gen, snap)
          store.consumed(cur, snap)
          retire(spark, store, Some(gen), Set(cur))
        } finally store.release(snap)
      }
    }

  private def previous(gens: Seq[Generation], cur: String): Option[String] = {
    val curStamp = gens.find(_.id == cur).flatMap(_.stamp).getOrElse(Long.MaxValue)
    gens.filter(_.stamp.exists(_ < curStamp)).maxByOption(_.stamp.get).map(_.id)
  }

  /** Drop what [[Policy.toRetire]] selects. */
  def retire(spark: SparkSession, store: Store, active: Option[String],
      protect: Set[String], policy: Option[Policy] = None): Unit =
    policy.getOrElse(Policy.of(spark))
      .toRetire(store.generations(), active, protect, System.currentTimeMillis())
      .foreach(store.drop)
}
