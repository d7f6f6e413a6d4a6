package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The commit log of one maintained-index lineage: `<root>/_log/<N>.json`,
  * one file per commit, each holding the lineage's WHOLE state — the
  * active generation, its tombstone files, the fold and delete tag
  * ledgers, the fold crash-repair ledgers (intents and the purge
  * window), the active generation's nfiles stamp, the band family's
  * bucket count and validity key, and the op and time that wrote it.
  * The model is the Delta Lake transaction log (Armbrust et al., PVLDB
  * 13(12), 2020) without replay: a reader reads ONE file.
  *
  * Both families store a lineage one way: a root holding `_log/` and one
  * directory per generation, `<base>` (generation 0) or `<base>.g<stamp>`
  * ([[IndexLog.cells]], [[Dedup.bandLog]]). The log is the lineage's only
  * metadata: any process that reads the root can resolve, retire and
  * register it.
  *
  * A commit is written with [[WriterLease.createIfAbsent]], so it appears
  * whole or not at all and two writers can never both create version N.
  * Writing commit N+1 IS the promote of [[IndexLifecycle]]; a tag in a
  * ledger is the fold/delete idempotence witness; the stamp is the
  * compaction skip's. A lineage without a log is incomplete — every
  * build writes commit 0 last, so `ensure*` rebuilds anything else.
  */
private[graft] final case class IndexLog(root: String, base: String) {
  import IndexLog._

  private val genName = s"${java.util.regex.Pattern.quote(base)}(\\.g\\d+)?"

  /** A new generation's name, stamped now ([[IndexLifecycle.newStamp]]). */
  def newGen(): String = s"$base.g${IndexLifecycle.newStamp()}"

  private def dir = new Path(root, "_log")

  // one listing of `_log/`, oldest first
  private def listing(fs: FileSystem): Seq[(Long, FileStatus)] =
    (try fs.listStatus(dir).toSeq
     catch { case _: java.io.FileNotFoundException => Seq.empty })
      .flatMap(st => st.getPath.getName match {
        case Name(v) => Some(v.toLong -> st)
        case _       => None
      }).sortBy(_._1)

  // parsed commits per lineage, keyed by version and checked against the
  // file's (length, mtime): a commit file never changes, so a reader
  // parses only what the last listing did not already hold; versions a
  // listing no longer shows drop out
  private def load(fs: FileSystem, listed: Seq[(Long, FileStatus)],
      want: Seq[(Long, FileStatus)]): Seq[Commit] = {
    val have = Option(cache.get(root)).getOrElse(Map.empty)
    val got = want.map { case (v, st) =>
      val id = (st.getLen, st.getModificationTime)
      v -> have.get(v).filter(_._1 == id).getOrElse(id -> parse(fs, st.getPath))
    }
    val keep = listed.map(_._1).toSet
    cache.put(root, have.filter(e => keep(e._1)) ++ got)
    got.map(_._2._2)
  }

  /** The latest commit, or None for a lineage without a log. A commit
    * the retention deleted between the listing and the read (its
    * generation GC'd under a slow reader) re-lists once.
    */
  def latestOption(spark: SparkSession): Option[Commit] = {
    val fs = fsOf(spark, root)
    def once(): Option[Commit] = {
      val l = listing(fs)
      l.lastOption.map(last => load(fs, l, Seq(last)).head)
    }
    try once() catch { case _: java.io.FileNotFoundException => once() }
  }

  def latest(spark: SparkSession): Commit =
    latestOption(spark).getOrElse(throw new IllegalStateException(
      s"index lineage $root has no commit log: its build never finished (ensure* rebuilds it)"))

  /** Every retained commit, oldest first. */
  def all(spark: SparkSession): Seq[Commit] = {
    val fs = fsOf(spark, root)
    val l  = listing(fs)
    load(fs, l, l)
  }

  /** Start the log of a freshly built lineage: commit 0 names `gen`
    * (with a band lineage's bucket count and validity key). A build over
    * an old lineage replaces its log.
    */
  def init(spark: SparkSession, gen: String, buckets: Option[Int] = None,
      key: Option[String] = None): Unit = {
    clear(spark)
    require(write(spark, Commit(0L, gen, buckets = buckets, key = key)),
      s"$root: a concurrent build started its log")
  }

  /** Delete the log: the lineage is incomplete until [[init]] runs. */
  def clear(spark: SparkSession): Unit = fsOf(spark, root).delete(dir, true)

  /** Delete every commit below `version`. */
  def truncate(spark: SparkSession, version: Long): Unit = {
    val fs = fsOf(spark, root)
    listing(fs).takeWhile(_._1 < version).foreach(c => fs.delete(c._2.getPath, false))
  }

  /** Write `c` as version `c.version`; false if that version exists. */
  def write(spark: SparkSession, c: Commit): Boolean = {
    val o = mapper.createObjectNode()
    o.put("version", c.version).put("gen", c.gen).put("op", c.op).put("time", c.timeMs)
    Seq("tombstones" -> c.tombstones, "folds" -> c.folds.toSeq.sorted,
        "dels" -> c.dels.toSeq.sorted, "intents" -> c.intents.toSeq.sorted,
        "purgewin" -> c.purgewin.toSeq.sorted).foreach { case (k, xs) =>
      val a = o.putArray(k); xs.foreach(x => a.add(x))
    }
    c.nfiles.foreach { n => val a = o.putArray("nfiles"); n.foreach(x => a.add(x)) }
    c.buckets.foreach(o.put("buckets", _))
    c.key.foreach(o.put("key", _))
    WriterLease.createIfAbsent(fsOf(spark, root),
      new Path(dir, s"${c.version}.json"), mapper.writeValueAsBytes(o))
  }

  private def parse(fs: FileSystem, file: Path): Commit = {
    val in = fs.open(file)
    val o  = try mapper.readTree(in) finally in.close()
    def strs(k: String) = o.path(k).elements().asScala.map(_.asText).toSeq
    val gen = o.path("gen").asText
    // anything but an engine-written generation is corruption: fail
    // fast, never resolve a foreign directory or table
    require(gen.matches(genName), s"corrupt commit $file: gen '$gen'")
    Commit(o.path("version").asLong, gen, strs("tombstones"), strs("folds").toSet,
      strs("dels").toSet, strs("intents").toSet, strs("purgewin").toSet,
      if (o.has("nfiles")) Some(o.get("nfiles").elements().asScala.map(_.asLong).toSeq)
      else None,
      if (o.has("buckets")) Some(o.get("buckets").asInt) else None,
      if (o.has("key")) Some(o.get("key").asText) else None,
      o.path("op").asText, o.path("time").asLong)
  }

  /** Commit the successor of the latest commit: `next` maps the latest
    * state to the new one. Losing the version to another writer (only
    * one outside the lease can) re-runs `next` on the newer state; six
    * lost rounds refuse, leaving the op's tag replayable.
    */
  def commit(spark: SparkSession, op: String)(next: Commit => Commit): Commit = {
    var rounds = 0
    while (rounds < 6) {
      val cur = latest(spark)
      val c = next(cur).copy(version = cur.version + 1, op = op,
        timeMs = System.currentTimeMillis())
      if (write(spark, c)) return c
      rounds += 1
    }
    throw new IllegalStateException(
      s"$op on $root lost the next log version 6 times in a row (a " +
        "concurrent writer is committing outside the writer lease). The " +
        "tag is replayable — retry once the index is quiescent.")
  }
}

private[graft] object IndexLog {

  /** One commit. `gen` names a generation directory of the lineage;
    * `tombstones` are file names under that generation's tombstone dir
    * ([[IndexLifecycle.tombstoneDir]]); `intents` are fold tags whose
    * appends may have landed without their tag commit, and `purgewin`
    * those of them a tombstone purge ran under; `nfiles` is None until a
    * compaction wrote the generation (gen 0 always rewrites). A band
    * lineage's commits also carry its bucket count and validity key
    * (`buckets`, `key`): everything its catalog entries need.
    */
  final case class Commit(version: Long, gen: String,
      tombstones: Seq[String] = Nil, folds: Set[String] = Set.empty,
      dels: Set[String] = Set.empty, intents: Set[String] = Set.empty,
      purgewin: Set[String] = Set.empty, nfiles: Option[Seq[Long]] = None,
      buckets: Option[Int] = None, key: Option[String] = None,
      op: String = "build", timeMs: Long = System.currentTimeMillis())

  /** The log of an IVF / IVF-PQ layout: generations `cells`, `cells.g<stamp>`. */
  def cells(path: String): IndexLog = IndexLog(path, "cells")

  private val Name = """(\d+)\.json""".r
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Long, ((Long, Long), Commit)]]()

  def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
}
