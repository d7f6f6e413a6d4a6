package graft

import java.nio.file.{Files, Paths}

import graft.config.Configs
import graft.pipeline.{EtlPipeline, MappingManager}

/** CLI entry point mirroring the reference's `run_etl.py:14-40`:
  * `runMain graft.RunEtl sources.yaml [config.yaml [mappings.yaml]]`.
  * Loads the YAML configs, runs Extract→Stage→Geoprocess→Publish, prints
  * the per-source ledger with each phase call's duration, the per-phase
  * time summed over sources and the phase/status summary (A1), exits 1 if
  * any source errored (continue-on-failure still processes the rest).
  */
object RunEtl {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: RunEtl <sources.yaml> [config.yaml [mappings.yaml]]")
      sys.exit(2)
    }
    def readFile(p: String): String = new String(Files.readAllBytes(Paths.get(p)))
    val sources = Configs.parseSources(readFile(args(0)))
    val cfg = if (args.length > 1) Configs.parseGlobal(readFile(args(1)))
              else graft.config.GlobalConfig()
    val mappings = if (args.length > 2) {
      val (m, s) = Configs.parseMappings(readFile(args(2)))
      new MappingManager(m, s)
    } else new MappingManager(Seq.empty)

    val spark = Sessions.local("graft-etl", master = sys.env.get("SPARK_MASTER"))

    val t0     = System.nanoTime()
    val pipe   = new EtlPipeline(spark, cfg, mappings)
    val ledger = pipe.run(sources)
    val secs   = (System.nanoTime() - t0) / 1e9

    ledger.foreach { r =>
      println(f"[ledger] ${r.phase}%-10s ${r.status}%-5s ${r.source}%-30s ${r.table}%-40s rows=${r.rows}%-8d ms=${r.durationMs}%-7d ${r.error}")
    }
    // sources run concurrently, so a phase's summed time can exceed the wall
    ledger.filter(_.phase != "health").groupBy(_.phase).toSeq.sortBy(_._1).foreach { case (phase, rows) =>
      println(s"[summary] $phase time: ${rows.map(_.durationMs).sum} ms summed over sources")
    }
    pipe.summary.toSeq.sorted.foreach { case ((phase, status), n) =>
      println(s"[summary] $phase/$status: $n")
    }
    println(f"[summary] total wall-clock: $secs%.3f s")
    val failed = ledger.count(_.status == "error")
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[summary] $failed step(s) failed")
      sys.exit(1)
    }
  }
}
