package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}

/** The commit log of one IVF / IVF-PQ cells layout: `<path>/_log/<N>.json`,
  * one file per commit, each holding the layout's WHOLE lineage state —
  * the active generation dir, its tombstone files (kept in
  * `<gen>/_tombstones/`), the fold and delete tag ledgers, the active
  * generation's nfiles stamp, and the op and time that wrote it. The
  * model is the Delta Lake transaction log (Armbrust et al., PVLDB
  * 13(12), 2020) without replay: a reader reads ONE file.
  *
  * A commit is written with [[WriterLease.createIfAbsent]], so it appears
  * whole or not at all and two writers can never both create version N.
  * Writing commit N+1 IS the promote of [[IndexLifecycle]]; a tag in a
  * ledger is the fold/delete idempotence witness; the stamp is the
  * compaction skip's. A layout without a log is incomplete — the build
  * writes commit 0 last, so `ensure*` rebuilds anything else.
  */
private[graft] object CellsLog {

  /** One commit. `gen` is a generation dir name under the layout
    * (`cells` or `cells.g<stamp>`); `tombstones` are file names under
    * `<gen>/_tombstones/`; `nfiles` is None until a compaction wrote
    * the generation (gen 0 always rewrites).
    */
  final case class Commit(version: Long, gen: String,
      tombstones: Seq[String] = Nil, folds: Set[String] = Set.empty,
      dels: Set[String] = Set.empty, nfiles: Option[Seq[Long]] = None,
      op: String = "build", timeMs: Long = System.currentTimeMillis())

  private val Name = """(\d+)\.json""".r
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def genDir(path: String, c: Commit): String = new Path(path, c.gen).toString

  def tombstoneFiles(path: String, c: Commit): Seq[String] =
    c.tombstones.map(n => new Path(new Path(genDir(path, c), "_tombstones"), n).toString)

  private def logDir(path: String) = new Path(path, "_log")

  // one listing of `_log/`, oldest first
  private def listing(fs: FileSystem, path: String): Seq[(Long, FileStatus)] =
    (try fs.listStatus(logDir(path)).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .flatMap(st => st.getPath.getName match {
        case Name(v) => Some(v.toLong -> st)
        case _       => None
      }).sortBy(_._1)

  // parsed commits per layout, keyed by version and checked against the
  // file's (length, mtime): a commit file never changes, so a reader
  // parses only what the last listing did not already hold; versions a
  // listing no longer shows drop out
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, ((Long, Long), Commit)]]()

  private def load(fs: FileSystem, path: String, listed: Seq[(Long, FileStatus)],
      want: Seq[(Long, FileStatus)]): Seq[Commit] = {
    val have = Option(cache.get(path)).getOrElse(Map.empty)
    val got = want.map { case (v, st) =>
      val id = (st.getLen, st.getModificationTime)
      v -> have.get(v).filter(_._1 == id).getOrElse(id -> parse(fs, st.getPath))
    }
    val keep = listed.map(_._1).toSet
    cache.put(path, have.filter(e => keep(e._1)) ++ got)
    got.map(_._2._2)
  }

  /** The latest commit, or None for a layout without a log. A commit
    * the retention deleted between the listing and the read (its
    * generation GC'd under a slow reader) re-lists once.
    */
  def latestOption(fs: FileSystem, path: String): Option[Commit] = {
    def once(): Option[Commit] = {
      val l = listing(fs, path)
      l.lastOption.map(last => load(fs, path, l, Seq(last)).head)
    }
    try once() catch { case _: java.io.FileNotFoundException => once() }
  }

  def latest(spark: SparkSession, path: String): Commit =
    latestOption(fsOf(spark, path), path).getOrElse(throw new IllegalStateException(
      s"layout $path has no commit log: the build never finished (ensure* rebuilds it)"))

  /** Every retained commit, oldest first. */
  def all(spark: SparkSession, path: String): Seq[Commit] = {
    val fs = fsOf(spark, path)
    val l  = listing(fs, path)
    load(fs, path, l, l)
  }

  /** Start the log of a freshly written layout: commit 0 names
    * `cells`. A build over an old layout replaces its log.
    */
  def init(spark: SparkSession, path: String): Unit = {
    fsOf(spark, path).delete(logDir(path), true)
    require(write(spark, path, Commit(0L, "cells")), s"$path: a concurrent build started its log")
  }

  /** Write `c` as version `c.version`; false if that version exists. */
  def write(spark: SparkSession, path: String, c: Commit): Boolean = {
    val o = mapper.createObjectNode()
    o.put("version", c.version).put("gen", c.gen).put("op", c.op).put("time", c.timeMs)
    Seq("tombstones" -> c.tombstones, "folds" -> c.folds.toSeq.sorted,
        "dels" -> c.dels.toSeq.sorted).foreach { case (k, xs) =>
      val a = o.putArray(k); xs.foreach(x => a.add(x))
    }
    c.nfiles.foreach { n => val a = o.putArray("nfiles"); n.foreach(x => a.add(x)) }
    WriterLease.createIfAbsent(fsOf(spark, path),
      new Path(logDir(path), s"${c.version}.json"), mapper.writeValueAsBytes(o))
  }

  private def parse(fs: FileSystem, file: Path): Commit = {
    val in = fs.open(file)
    val o  = try mapper.readTree(in) finally in.close()
    def strs(k: String) = o.path(k).elements().asScala.map(_.asText).toSeq
    val gen = o.path("gen").asText
    // anything but an engine-written generation is corruption: fail
    // fast, never resolve a foreign directory
    require(gen.matches("cells(\\.g\\d+)?"), s"corrupt commit $file: gen '$gen'")
    Commit(o.path("version").asLong, gen, strs("tombstones"), strs("folds").toSet,
      strs("dels").toSet,
      if (o.has("nfiles")) Some(o.get("nfiles").elements().asScala.map(_.asLong).toSeq)
      else None,
      o.path("op").asText, o.path("time").asLong)
  }

  /** Commit the successor of the latest commit: `next` maps the latest
    * state to the new one. Losing the version to another writer (only
    * one outside the lease can) re-runs `next` on the newer state; six
    * lost rounds refuse, leaving the op's tag replayable.
    */
  def commit(spark: SparkSession, path: String, op: String)(
      next: Commit => Commit): Commit = {
    var rounds = 0
    while (rounds < 6) {
      val cur = latest(spark, path)
      val c = next(cur).copy(version = cur.version + 1, op = op,
        timeMs = System.currentTimeMillis())
      if (write(spark, path, c)) return c
      rounds += 1
    }
    throw new IllegalStateException(
      s"$op on $path lost the next log version 6 times in a row (a " +
        "concurrent writer is committing outside the writer lease). The " +
        "tag is replayable — retry once the index is quiescent.")
  }

  // ---------------- the cells store of IndexLifecycle ----------------

  /** The data files of a generation and the number of cells they fall
    * in — one recursive listing, never a Spark job; `_tombstones/` and
    * `_`/`.`-prefixed bookkeeping are not cell files.
    */
  def cellFiles(fs: FileSystem, gen: Path): (Long, Int) = {
    var files = 0L
    val cells = scala.collection.mutable.HashSet.empty[String]
    val it = fs.listFiles(gen, true)
    while (it.hasNext) {
      val p = it.next().getPath
      if (Similarity.isDataFile(p.getName) && Similarity.isDataFile(p.getParent.getName)) {
        files += 1
        cells += p.getParent.getName
      }
    }
    (files, cells.size)
  }

  private def cellsStamp(name: String): Option[Long] =
    IndexLifecycle.parseStamp(name, "cells", "cells.g")

  /** One cells layout as [[IndexLifecycle.Store]]: generations are
    * `cells` / `cells.g<stamp>` dirs identified by their path (as
    * [[Similarity.activeCellsDir]] renders it); everything else lives in
    * the log.
    */
  final class Store(spark: SparkSession, path: String) extends IndexLifecycle.Store {
    type Snapshot = Commit
    private val fs = fsOf(spark, path)
    private def name(gen: String) = new Path(gen).getName

    def lockKey: String = path
    def leasePath: Path = WriterLease.lockPathFor(path)
    def active(): String = genDir(path, latest(spark, path))

    // every cells* dir under the layout. A generation's last touch is
    // the time of the last retained commit naming it; a dir no commit
    // names (a crashed rewrite) keeps the age gate of its newest file —
    // a large rewrite keeps writing part files under a stale dir mtime
    def generations(): Seq[IndexLifecycle.Generation] = {
      val touched = all(spark, path).groupMapReduce(_.gen)(_.timeMs)(math.max)
      (try fs.listStatus(new Path(path)).toSeq
       catch { case _: java.io.IOException => Seq.empty })
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("cells"))
        .map { st =>
          val n = st.getPath.getName
          new IndexLifecycle.Generation(new Path(path, n).toString, cellsStamp(n),
            touched.getOrElse(n, newestMtime(st)))
        }
    }

    private def newestMtime(dir: FileStatus): Long = {
      var m = dir.getModificationTime
      try {
        val it = fs.listFiles(dir.getPath, true)
        while (it.hasNext) m = math.max(m, it.next().getModificationTime)
      } catch { case _: java.io.IOException => }
      m
    }

    // drop the dirs, then every commit older than the oldest one naming
    // a generation still standing: no retained commit names a dropped one
    def drop(gens: Set[String]): Unit = if (gens.nonEmpty) {
      gens.foreach(g => fs.delete(new Path(g), true))
      val standing = fs.listStatus(new Path(path)).map(_.getPath.getName).toSet
      val commits = listing(fs, path)
      load(fs, path, commits, commits).find(c => standing(c.gen)).foreach { oldest =>
        commits.takeWhile(_._1 < oldest.version).foreach(c => fs.delete(c._2.getPath, false))
      }
    }

    private def at(gen: String): Commit = {
      val c = latest(spark, path)
      require(c.gen == name(gen), s"$path: generation $gen is no longer active (now ${c.gen})")
      c
    }

    def hasTombstones(gen: String): Boolean = at(gen).tombstones.nonEmpty
    def fileCounts(gen: String): Seq[Long] = Seq(cellFiles(fs, new Path(gen))._1)
    def stampedCounts(gen: String): Option[Seq[Long]] = at(gen).nfiles
    def snapshot(gen: String): Snapshot = at(gen)
    def release(s: Snapshot): Unit = ()

    // ONE shuffle of the index, the inherent compaction cost; the ≤C-row
    // centroid table is the partition count, so each output task holds
    // ~one whole cell and writes ~one file for it
    def rewrite(gen: String, s: Snapshot): String = {
      val out = new Path(path, s"cells.g${IndexLifecycle.newStamp()}")
      val raw = spark.read.parquet(gen)
      val cells =
        if (s.tombstones.isEmpty) raw
        else raw.join(
          broadcast(spark.read.parquet(tombstoneFiles(path, s): _*)
            .select("vec_id").distinct()),
          Seq("vec_id"), "left_anti")
      val c = spark.read.parquet(s"$path/centroids").count().toInt
      cells.repartition(math.max(c, 1), col("cent_id"))
        .write.partitionBy("cent_id").parquet(out.toString)
      out.toString
    }

    // the promote commit. Tombstones committed on the superseded
    // generation after the snapshot (a delete outside the lease) are
    // COPIED into the new one — never moved: old-generation scans keep
    // their own view — and their tags ride along in the ledger
    def promote(old: String, gen: String, s: Snapshot, counts: Seq[Long]): Unit =
      commit(spark, path, "compact") { c =>
        require(c.gen == name(old), s"compactIvfCells($path): ${c.gen} was " +
          s"promoted while this compaction rewrote ${name(old)} (a writer outside the lease)")
        val late = c.tombstones.filterNot(s.tombstones.toSet)
        late.foreach { n =>
          org.apache.hadoop.fs.FileUtil.copy(fs, new Path(new Path(old, "_tombstones"), n),
            fs, new Path(new Path(gen, "_tombstones"), s"fwd_$n"), false,
            spark.sessionState.newHadoopConf())
        }
        if (late.nonEmpty)
          log.warn(s"compactIvfCells($path): forwarded ${late.size} late " +
            "tombstone file(s) from the superseded generation — a delete " +
            "raced this rewrite outside the writer lease")
        c.copy(gen = name(gen), tombstones = late.map(n => s"fwd_$n"), nfiles = Some(counts))
      }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
