package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions
import graft.streaming.StateStores

/** The one way to build a SparkSession: every main, the specs and the
  * drain harnesses go through here, so a setting (time zone, AQE, the
  * nanos-as-long scan flag, graft's optimizer rule and functions) is
  * declared once for the whole engine.
  */
object Sessions {

  /** Cores of a root session: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** A root session on `local[cores]` (or `master`, for a deployment
    * or a local cluster) with `cores` shuffle partitions, UTC, AQE on,
    * `nanosAsLong` (events.ts has shipped as TIMESTAMP(NANOS), which
    * Spark 4 rejects otherwise), UI off and graft's extensions. `conf`
    * is applied last, so a caller can override any of these.
    */
  def local(
      appName: String = "graft",
      cores: Int = Sessions.cores,
      master: Option[String] = None,
      logLevel: String = "WARN",
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    GraftExtensions.install(spark)
    spark
  }

  /** A child of `parent`: same SparkContext, catalog and warehouse, own
    * SQL conf. `newSession()` inherits only build-time settings, so the
    * parent's runtime `spark.graft.*` keys (index maintenance, writer
    * lease, checkpoint dir) and its resolved state-store provider are
    * copied across, the extensions installed, and `overrides` applied
    * last.
    */
  def child(parent: SparkSession, overrides: (String, String)*): SparkSession = {
    val spark = parent.newSession()
    parent.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.graft.")) spark.conf.set(k, v)
    }
    StateStores.resolveProvider(parent).foreach(spark.conf.set(StateStores.ProviderKey, _))
    GraftExtensions.install(spark)
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
