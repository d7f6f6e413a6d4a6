package graft

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Every gated query built once per session for the plan audits
  * (CartAuditSpec, PlanAuditSpec): building a query runs its eager
  * stages, folds and drains, so the three audits share one pass
  * instead of paying it each.
  *
  * The pass starts from an empty SQL cache. Each query's cache check is
  * taken right after that query is built, and a leak is cleared there
  * so the next query is judged on its own.
  */
object AuditedPlans {

  final case class Built(
      name: String,
      plan: LogicalPlan,
      inMemoryRelations: Int,
      cacheLeaked: Boolean)

  // session -> (fixture dir, plans); weak keys let a stopped session go
  private val bySession =
    new java.util.WeakHashMap[SparkSession, (String, Seq[Built])]()

  def of(spark: SparkSession, sfDir: String): Seq[Built] = synchronized {
    val (dir, built) = Option(bySession.get(spark)).getOrElse {
      graft.plans.GraftExtensions.install(spark)
      spark.catalog.clearCache()
      val built = SparkEntry.queries.toSeq.map { case (name, fn) =>
        val plan = fn(spark, sfDir).queryExecution.optimizedPlan
        val cached = plan.collect { case r: InMemoryRelation => r }.size
        val leaked = !GraftColumnBridge.sqlCacheIsEmpty(spark)
        if (leaked) spark.catalog.clearCache() // localize the blame
        Built(name, plan, cached, leaked)
      }
      bySession.put(spark, sfDir -> built)
      sfDir -> built
    }
    require(dir == sfDir, s"plans were built over $dir, not $sfDir")
    built
  }
}
