package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Executor-loss drill for the reliable-checkpoint path
  * (`runMain graft.tools.CkptFailureDrill <reliable|local> [ckptDir]`).
  *
  * Runs [[graft.operators.Clusters.connectedComponents]] on a
  * `local-cluster[2,1,1024]` master (REAL separate executor JVMs, not
  * threads) over 40 chain components of 25 nodes — ~24 min-label
  * propagation rounds — and kills BOTH executor processes after round 3,
  * mid-run. With `reliable` the per-round lineage cut goes through
  * `df.checkpoint` against `ckptDir` (shared storage here: the local
  * FS both executors mount), so the lost tasks replay from checkpoint
  * files and the run converges to the same labels as a healthy run —
  * printed as `LABELS <md5> n=<count>` + `DRILL_OK`. With `local` the
  * cut is `localCheckpoint`: the dead executor takes its blocks with
  * it, the truncated lineage cannot be replayed, and the job aborts —
  * printed as `DRILL_FAILED <error>`. ClusterFailureSpec launches both
  * modes as child JVMs and asserts exactly that contrast; the md5 is
  * cross-checked against the in-process healthy run.
  *
  * Reference analog: recovery.py:70-398 — resume from checkpoint on
  * worker failure rather than restart from zero.
  */
object CkptFailureDrill {

  /** The drill's graph: 40 chains of 25 nodes (ids c·25+i, edges
    * n→n+1 within a chain). Min-label propagation moves one hop per
    * round, so convergence takes ~24 rounds — the round-3 kill is
    * genuinely mid-run. Expected label of every node: its chain head.
    */
  def chainEdges(spark: SparkSession) =
    spark.range(1000)
      .filter(col("id") % 25 =!= 24)
      .select(col("id").as("a"), (col("id") + 1).as("b"))

  /** Canonical digest of a label table, shared with the spec. */
  def labelDigest(rows: Seq[(Long, Long)]): String = {
    val s = rows.sorted.map { case (id, c) => s"$id:$c" }.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** Kill EVERY live executor JVM (the worker threads in-process
    * relaunch replacements): with both executors dead, every
    * localCheckpoint block is gone — one survivor could happen to hold
    * all 4 tiny partitions and mask the loss — while reliable
    * checkpoint files sit on shared storage for the replacements.
    */
  private def killExecutors(): Unit = {
    import scala.jdk.CollectionConverters._
    val victims = ProcessHandle.current().descendants().iterator().asScala
      .filter(_.info().commandLine()
        .map[Boolean](_.contains("CoarseGrainedExecutorBackend"))
        .orElse(false))
      .toList
    if (victims.isEmpty) throw new IllegalStateException(
      "no CoarseGrainedExecutorBackend child process found to kill")
    victims.foreach { p =>
      System.err.println(s"[drill] killing executor pid=${p.pid()}")
      p.destroyForcibly()
    }
    victims.foreach(_.onExit().join()) // all dead BEFORE the next round
  }

  def main(args: Array[String]): Unit = {
    val mode     = args(0)
    val ckptRoot = args.lift(1)
    require(mode == "reliable" || mode == "local", s"bad mode $mode")
    val spark = graft.Sessions.local(s"graft-ckpt-drill-$mode", cores = 4,
      master = Some("local-cluster[2,1,1024]"))
    if (mode == "reliable")
      spark.conf.set(graft.util.Checkpoints.ConfKey, ckptRoot.get)
    try {
      val labels = graft.operators.Clusters.connectedComponents(
        chainEdges(spark), "a", "b",
        onRound = r => if (r == 3) killExecutors())
      val rows = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      println(s"LABELS ${labelDigest(rows)} n=${rows.size}")
      println("DRILL_OK")
    } catch {
      case e: Throwable =>
        println(("DRILL_FAILED " +
          s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}")
          .replaceAll("\\s+", " ").take(400))
    } finally {
      spark.stop()
    }
  }
}
