package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The ONE lifecycle of the maintained indexes — the MinHash band index
  * ([[Dedup.ensureMinhashBandIndex]]) and the IVF / IVF-PQ cells layouts
  * ([[Similarity.ensureIvfIndex]], [[Similarity.ensureIvfPqIndex]]).
  * Reference analog: the publish semantics of `etl/pipeline.py:698-725`
  * — append for folds, replace for compaction, truncate-and-load for a
  * rebuild. Both families store a lineage one way: a root directory
  * holding the commit log ([[IndexLog]]) and one directory per
  * generation, each with its own `_tombstones/`. So the generation
  * listing, the tombstone dir, dropping a generation and the writer
  * lease are written once here, from the root; a family keeps behind
  * [[Store]] only what differs (how a generation is counted and
  * rewritten, and the band family's catalog entries). The policy is
  * pure functions over [[Policy]], and the fold, delete and compaction
  * steps are written once here. The contract:
  *
  *  - '''Lease scoping.''' Every write (fold, delete, compact, rebuild)
  *    runs inside [[guarded]]: per-application memo check → JVM-local
  *    lock on the lineage root → memo re-check → cross-process
  *    [[WriterLease]] at the root's sibling lock file → body → memo
  *    add. The lock comes FIRST because the lease is re-entrant per JVM,
  *    not per thread; nested entry points (a fold's or delete's
  *    auto-compaction, a compaction's race seam) re-enter both.
  *    Complete lineages resolve lease-free: an ensure that finds a
  *    complete index is logically a read.
  *  - '''Generations.''' Data lives in generation directories under
  *    the root, `<base>` (generation 0) and `<base>.g<stamp>` with an
  *    epoch-nanos stamp ([[newStamp]]). A generation is readable exactly
  *    when the latest commit names it, and (rows, tombstones) resolve
  *    from that one commit. Tombstones are parquet files in the
  *    generation's own tombstone dir, served once a commit lists them
  *    ([[delete]]) and dropped by every read ([[live]]).
  *  - '''Folds.''' An intent commit precedes the append and the tag
  *    commit clears it, so a replay after a crash in between repairs
  *    instead of double-appending ([[fold]]).
  *  - '''Skip.''' A compaction with no standing tombstones and no data
  *    files appended since its generation's own rewrite (the commit's
  *    nfiles stamp) does not rewrite; `force` overrides. The skip and
  *    the promote path share the same [[Store.fileCounts]] and the same
  *    retirement, so they cannot drift apart.
  *  - '''Promote.''' snapshot (the latest commit) → rewrite live rows
  *    into an UNPROMOTED new generation → count its files → race seam →
  *    promote with ONE commit naming the new generation with its stamp,
  *    its forwarded tombstones and the purge window → retire. A crash
  *    before the commit leaves the old generation active and the new
  *    one an orphan the retention drops once aged; after it, the old
  *    one is superseded. Nothing needs repair. A scan already in flight
  *    keeps reading its generation.
  *  - '''Late forward.''' Tombstones committed on the superseded
  *    generation after the snapshot (a writer outside the lease) are
  *    copied into the new generation; their tags are in the ledger.
  *  - '''Retention.''' [[Policy.toRetire]]: the active generation and
  *    the protected set (the one just superseded) always stay; any
  *    other generation goes once its last touch (the last commit naming
  *    it, or for a directory no commit names, its newest file) is older
  *    than `gcStaleHours` (0 = no age protection — the rebuild path);
  *    superseded generations (stamp below the active
  *    one) beyond the newest `maxStaleGenerations` go regardless of age.
  *    Generations stamped ABOVE the active one or with no parseable
  *    stamp may be a live rewrite in another process: age-gated only,
  *    never count-forced. An in-flight scan therefore survives
  *    min(gcStaleHours, K promotes). Commits older than the oldest
  *    standing generation go with them. The listing is the root's, so a
  *    generation any process wrote is retired by any other.
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
    * ms) is by-name: the recursive listing it costs is paid only when the
    * age gate actually needs it.
    */
  final class Generation(val id: String, val stamp: Option[Long],
      touched: => Long) {
    lazy val touchedMs: Long = touched
  }

  /** THE generation-stamp parser: Some(0) for the unstamped generation 0
    * (`name == base`), the stamp of `<base>.g<digits>`, None for any
    * other name. Ordering is numeric, never lexical: stamps from other
    * processes and hosts can differ in digit width.
    */
  def parseStamp(name: String, base: String): Option[Long] =
    if (name == base) Some(0L)
    else if (!name.startsWith(s"$base.g")) None
    else {
      val d = name.substring(base.length + 2)
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

  // ---------------- the write guard ----------------

  // writes already applied THIS application (fold/delete tags, complete
  // layouts): a repeated call costs zero catalog or FS roundtrips
  private val memo = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // per-lineage JVM locks (the ResponseCache anti-stampede pattern)
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[operators] def lockFor(key: String): Object =
    locks.computeIfAbsent(key, _ => new Object)

  /** Run `body` as a maintenance write on the lineage at `root` (see
    * "Lease scoping"). `skip` is evaluated under the JVM lock before the
    * lease is taken; when it holds, the body is skipped lease-free and
    * the memo still records the call.
    */
  def guarded(spark: SparkSession, root: String, memoKey: Option[String],
      skip: => Boolean = false)(body: => Unit): Unit = {
    val key = memoKey.map(k => s"${spark.sparkContext.applicationId}|$k")
    if (!key.exists(memo.contains)) lockFor(root).synchronized {
      if (!key.exists(memo.contains)) {
        if (!skip) WriterLease.withLease(spark, WriterLease.lockPathFor(root))(body)
        key.foreach(memo.add)
      }
    }
  }

  // ---------------- the one storage shape ----------------

  /** Where the tombstone files of generation `gen` live. */
  def tombstoneDir(store: Store, gen: String): Path =
    new Path(new Path(store.log.root, gen), "_tombstones")

  /** Every generation dir under the root (named `<base>*`), committed or
    * not. One no commit names (a crashed rewrite, a leftover of an older
    * naming) is as old as its newest file: a large rewrite writes under a
    * stale dir mtime.
    */
  def generations(spark: SparkSession, store: Store): Seq[Generation] = {
    val fs = IndexLog.fsOf(spark, store.log.root)
    (try fs.listStatus(new Path(store.log.root)).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(store.log.base))
      .map { st =>
        val n = st.getPath.getName
        new Generation(n, parseStamp(n, store.log.base),
          (st +: filesUnder(fs, st.getPath, dataOnly = false)).map(_.getModificationTime).max)
      }
  }

  /** Drop generations `gens`: the store forgets each, then its directory
    * goes whole, tombstones included. */
  def drop(spark: SparkSession, store: Store, gens: Set[String]): Unit = gens.foreach { g =>
    store.dropped(g)
    IndexLog.fsOf(spark, store.log.root).delete(new Path(store.log.root, g), true)
  }

  // ---------------- tombstones and folds ----------------

  /** The tombstone files `c` lists, as paths under its generation. */
  def tombstoneFiles(store: Store, c: IndexLog.Commit): Seq[String] =
    c.tombstones.map(n => new Path(tombstoneDir(store, c.gen), n).toString)

  /** `rows` minus `tombstones` (one `idCol` column), THE tombstone
    * anti-join: the set is bounded between compactions, so the build
    * side is a BROADCAST of the raw rows (a left-anti join ignores
    * duplicates; no distinct, no shuffle) and the scan keeps its layout.
    */
  def live(rows: DataFrame, tombstones: Option[DataFrame], idCol: String): DataFrame =
    tombstones.fold(rows)(t => rows.join(broadcast(t), Seq(idCol), "left_anti"))

  /** `scan` of the generation `first` names minus its tombstones. A
    * generation retired under a slow reader (`scan` throws
    * FileNotFoundException) re-resolves once from the newer commit; with
    * none the lineage is damaged and the read fails. Nothing sleeps.
    */
  def liveRows(spark: SparkSession, store: Store, first: IndexLog.Commit)(
      scan: IndexLog.Commit => DataFrame): DataFrame = {
    def read(c: IndexLog.Commit): Option[DataFrame] =
      try Some(live(scan(c), tombstones(spark, store, c), store.idCol))
      catch { case _: java.io.FileNotFoundException => None }
    read(first).orElse {
      val next = store.log.latest(spark)
      if (next.version > first.version) read(next) else None
    }.getOrElse(throw new java.io.FileNotFoundException(
      s"${store.log.root}: generation ${first.gen} is gone and no newer commit names another"))
  }

  /** The tombstones `c` lists as one frame of the family's one BIGINT
    * id column, None when it lists none. Throws FileNotFoundException
    * when a listed file is gone (its generation was retired).
    */
  def tombstones(spark: SparkSession, store: Store, c: IndexLog.Commit): Option[DataFrame] =
    if (c.tombstones.isEmpty) None
    else {
      val fs = IndexLog.fsOf(spark, store.log.root)
      val root = fs.makeQualified(tombstoneDir(store, c.gen))
      Some(preListed(spark, root, c.tombstones.map(n => fs.getFileStatus(new Path(root, n))),
        StructType(Seq(StructField(store.idCol, LongType)))))
    }

  // ---------------- driver-listed reads ----------------

  /** Every file under `dir` (`_`/`.`-named entries skipped when
    * `dataOnly`; none when `dir` is gone), by `listStatus` alone: the
    * LocatedFileStatus of `listFiles` forks `ls -ld` per file on a local
    * FS without native Hadoop.
    */
  def filesUnder(fs: FileSystem, dir: Path, dataOnly: Boolean = true): Seq[FileStatus] =
    (try fs.listStatus(dir).toSeq catch { case _: java.io.FileNotFoundException => Seq.empty })
      .filter(st => !dataOnly || Similarity.isDataFile(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) filesUnder(fs, st.getPath, dataOnly) else Seq(st))

  /** A parquet scan of `files` under the qualified `root` with `schema`
    * (`partitionCols` from the `col=value` dirs), handed to Spark as a
    * pre-resolved file index: no listing job, no schema-inference job.
    * Given the catalog entry of a bucketed `table`, the scan carries its
    * bucket spec (bucket ids come from the file names) and its name.
    */
  def preListed(spark: SparkSession, root: Path, files: Seq[FileStatus], schema: StructType,
      partitionCols: Seq[String] = Nil, table: Option[CatalogTable] = None): DataFrame = {
    val listed = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Some(files.toArray)
      def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, Some(schema), listed)
    val (parts, data) = schema.partition(f => partitionCols.contains(f.name))
    val relation = HadoopFsRelation(index, StructType(parts), StructType(data),
      table.flatMap(_.bucketSpec), new ParquetFileFormat, Map.empty)(spark)
    table.fold(spark.baseRelationToDataFrame(relation))(t =>
      GraftColumnBridge.ofRows(spark, LogicalRelation(relation, t)))
  }

  /** Delete `ids` (column `idCol`) under `tag`, idempotent per tag (the
    * log's delete ledger): the batch lands as parquet files in the
    * active generation's tombstone dir and is served once the commit
    * listing them lands. A promote that won the commit version (a
    * writer outside the lease) moves the append to the new generation;
    * what landed in the superseded one is never listed, and neither is
    * anything a delete that crashed before its commit wrote. Compacts
    * (`compact`) once standing tombstones reach the debt threshold.
    */
  def delete(spark: SparkSession, store: Store, ids: DataFrame,
      tag: String)(compact: => Unit): Unit =
    if (!store.log.latest(spark).dels(tag)) {
      val written = scala.collection.mutable.Map.empty[String, Seq[String]]
      val c = store.log.commit(spark, "delete") { c =>
        val files = written.getOrElseUpdate(c.gen,
          appendTombstones(spark, ids, tombstoneDir(store, c.gen)))
        c.copy(tombstones = c.tombstones ++ files, dels = c.dels + tag)
      }
      // distinct ids, not rows: overlapping deletes append duplicate
      // tombstone rows
      if (Policy.of(spark).tombstoneDebtDue(
          tombstones(spark, store, c).fold(0L)(_.select(store.idCol).distinct().count())))
        compact
    }

  // append one tombstone batch to `dir`; returns the names of the files
  // this append wrote (the listing's difference)
  private def appendTombstones(spark: SparkSession, ids: DataFrame,
      dir: Path): Seq[String] = {
    val fs = IndexLog.fsOf(spark, dir.toString)
    def names(): Set[String] =
      try fs.listStatus(dir).map(_.getPath.getName).filter(Similarity.isDataFile).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    val before = names()
    ids.write.mode("append").parquet(dir.toString)
    (names() -- before).toSeq.sorted
  }

  /** Fold a batch under `tag`, idempotent per tag (the log's fold
    * ledger), with crash repair: an INTENT commit precedes the family's
    * `append` into the generation of `cur` (the commit the fold began
    * from), and the tag commit clears it. A replay of a tag whose intent
    * still stands (`cur.intents(tag)`) is a crash replay: `append` must
    * probe what landed and re-append only what did not — a Spark append
    * is all-or-nothing — and refuse ([[undecidable]]) when nothing
    * landed and `cur.purgewin(tag)` holds. A batch that re-inserts a
    * standing tombstone is refused before anything is written. Returns
    * whether the batch was folded now.
    */
  def fold(spark: SparkSession, store: Store, batch: DataFrame,
      tag: String)(append: IndexLog.Commit => Unit): Boolean = {
    val cur = store.log.latest(spark)
    if (cur.folds(tag)) false
    else {
      requireNotTombstoned(tombstones(spark, store, cur), batch, store.idCol)
      if (!cur.intents(tag))
        store.log.commit(spark, "fold-intent")(c => c.copy(intents = c.intents + tag))
      append(cur)
      store.log.commit(spark, "fold") { c =>
        require(c.gen == cur.gen, s"fold '$tag' on ${store.log.root}: ${c.gen} was " +
          s"promoted while this fold appended to ${cur.gen} (a writer outside the " +
          "lease). The intent stands — replay the tag to repair.")
        c.copy(folds = c.folds + tag, intents = c.intents - tag, purgewin = c.purgewin - tag)
      }
      true
    }
  }

  /** The refusal of a crash replay no probe can decide: a tombstone
    * purge ran while the tag's intent stood and nothing of the batch is
    * left, so a batch deleted in full and compacted away is
    * indistinguishable from one whose appends never landed. Silently
    * re-appending would resurrect a completed takedown; silently
    * skipping would drop a never-indexed batch.
    */
  def undecidable(tag: String): IllegalStateException =
    new IllegalStateException(
      s"fold replay of crashed tag '$tag' is undecidable: " +
        "a tombstone purge ran while its intent was standing, " +
        "so a batch deleted in full and compacted away is " +
        "indistinguishable from one whose appends never " +
        "landed. Re-submit under a NEW batchTag if the batch " +
        "should (re-)enter the index.")

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

  /** What really differs between the two families; all lineage state
    * lives in `log`, and its root holds the generation directories.
    */
  trait Store {
    /** The lineage's log; its root is also the JVM lock key. */
    def log: IndexLog
    /** The BIGINT id column rows and tombstones are keyed by. */
    def idCol: String
    /** Data files per table of `gen`, as the nfiles stamp records them. */
    def fileCounts(gen: String): Seq[Long]
    /** Live rows of `snap`'s generation minus `tombstones`, as a new
      * UNPROMOTED generation; returns its name.
      */
    def rewrite(snap: IndexLog.Commit, tombstones: Option[DataFrame]): String
    /** Forget generation `gen` before its directory is deleted. */
    def dropped(gen: String): Unit = ()
  }

  /** Test seam: runs between a compaction's rewrite and its promote with
    * the superseded generation's name — lets a spec land a racing delete
    * in exactly the window the late-tombstone forward closes, or crash
    * the compaction before it commits.
    */
  @volatile private[graft] var compactRaceHook: Option[String => Unit] = None

  /** Compact a lineage (see "Skip" and "Promote" above). The latest
    * commit is the snapshot: its generation, tombstones and stamp. A
    * commit never changes, so every pass of the rewrite reads the same
    * tombstone files.
    */
  def compact(spark: SparkSession, store: Store, force: Boolean,
      skip: => Boolean = false): Unit =
    guarded(spark, store.log.root, None, skip) {
      val snap = store.log.latest(spark)
      if (skipCompaction(force, snap.tombstones.nonEmpty, snap.nfiles,
          store.fileCounts(snap.gen))) {
        log.info(s"compact(${store.log.root}): nothing to purge and no " +
          "appends since the last rewrite — skipping")
        // keep the generation superseded most recently, as a promote
        // does: an in-flight scan may still read it
        retire(spark, store, Some(snap.gen), previous(generations(spark, store), snap.gen).toSet)
      } else {
        val gen = store.rewrite(snap, tombstones(spark, store, snap))
        val counts = store.fileCounts(gen)
        compactRaceHook.foreach(_(snap.gen))
        promote(spark, store, snap, gen, counts)
        retire(spark, store, Some(gen), Set(snap.gen))
      }
    }

  // the promote commit. Tombstones committed on the superseded
  // generation after the snapshot (a delete outside the lease) are
  // COPIED into the new one — never moved: old-generation scans keep
  // their own view — and their tags are already in the ledger. A purge
  // records the standing intents in the purge window
  private def promote(spark: SparkSession, store: Store, snap: IndexLog.Commit,
      gen: String, counts: Seq[Long]): Unit =
    store.log.commit(spark, "compact") { c =>
      require(c.gen == snap.gen, s"compact(${store.log.root}): ${c.gen} was " +
        s"promoted while this compaction rewrote ${snap.gen} (a writer outside the lease)")
      val late = c.tombstones.filterNot(snap.tombstones.toSet)
      val fs = IndexLog.fsOf(spark, store.log.root)
      late.foreach { n =>
        org.apache.hadoop.fs.FileUtil.copy(fs, new Path(tombstoneDir(store, snap.gen), n),
          fs, new Path(tombstoneDir(store, gen), s"fwd_$n"), false,
          spark.sessionState.newHadoopConf())
      }
      if (late.nonEmpty)
        log.warn(s"compact(${store.log.root}): forwarded ${late.size} late " +
          "tombstone file(s) from the superseded generation — a delete " +
          "raced this rewrite outside the writer lease")
      c.copy(gen = gen, tombstones = late.map(n => s"fwd_$n"), nfiles = Some(counts),
        purgewin = if (snap.tombstones.isEmpty) c.purgewin else c.purgewin ++ c.intents)
    }

  private def previous(gens: Seq[Generation], cur: String): Option[String] = {
    val curStamp = gens.find(_.id == cur).flatMap(_.stamp).getOrElse(Long.MaxValue)
    gens.filter(_.stamp.exists(_ < curStamp)).maxByOption(_.stamp.get).map(_.id)
  }

  /** Drop what [[Policy.toRetire]] selects, then every commit older than
    * the oldest one naming a generation still standing: no retained
    * commit names a dropped one. A generation's last touch is the time
    * of the last commit naming it; one no commit names is aged by its
    * newest file ([[generations]]).
    */
  def retire(spark: SparkSession, store: Store, active: Option[String],
      protect: Set[String], policy: Option[Policy] = None): Unit = {
    val commits = store.log.all(spark)
    val touched = commits.groupMapReduce(_.gen)(_.timeMs)(math.max)
    val gens = generations(spark, store).map(g =>
      new Generation(g.id, g.stamp, touched.getOrElse(g.id, g.touchedMs)))
    val gone = policy.getOrElse(Policy.of(spark))
      .toRetire(gens, active, protect, System.currentTimeMillis())
    if (gone.nonEmpty) {
      drop(spark, store, gone)
      val standing = gens.map(_.id).toSet -- gone
      commits.find(c => standing(c.gen)).foreach(c => store.log.truncate(spark, c.version))
    }
  }
}
