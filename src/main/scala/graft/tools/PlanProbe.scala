package graft.tools

/** Executed-plan dump for ONE query — including the tool-only
  * [[graft.SparkEntry.probeQueries]] shapes Explain's headline set
  * doesn't cover (`runMain graft.tools.PlanProbe <name> [sfDir]`).
  * Executes the frame first (noop sink) so the printed plan is the
  * FINAL AQE plan with runtime statistics, not the initial guess —
  * the right artifact when adjudicating a ShuffleProbe reading.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanProbe <queryName> [sfDir]")
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Sessions.local()
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.probeQueries
    val fn = all.getOrElse(name,
      sys.error(s"unknown query $name; known: ${all.keys.toSeq.sorted.mkString(",")}"))
    val df = fn(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    println("=====PLAN=====")
    println(df.queryExecution.executedPlan.toString)
    spark.stop()
  }
}
