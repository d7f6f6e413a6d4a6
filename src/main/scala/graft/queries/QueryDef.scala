package graft.queries

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The workload family a query belongs to: the unit its declarations
  * live in (one `*Queries` object each) and the grouping a per-family
  * profile reports under.
  */
sealed trait Family
object Family {
  case object Relational extends Family
  case object Text       extends Family
  case object Dedup      extends Family
  case object Ann        extends Family
  case object Streaming  extends Family
  case object Geo        extends Family
  case object Multimodal extends Family
}

/** A pay-once layout write (bucketed tables, a z-ordered copy, an index
  * lineage): idempotent per fixture directory, so calling it again is a
  * no-op. A query lists the layouts it reads in [[QueryDef.layouts]] and
  * its body resolves them through the same value, so the warm-up
  * ([[graft.SparkEntry.prepareLayouts]]) builds exactly what the queries
  * reuse.
  */
final class Layout[A](ensure: (SparkSession, String) => A) {
  def apply(s: SparkSession, d: String): A = ensure(s, d)
}

/** One query of the gated query surface.
  *
  * @param build   the plan over the fixture directory `d`
  * @param oracle  the DuckDB SQL the result is hash-compared against;
  *                `None` for a probe shape (tooling only, never gated)
  * @param layouts the pay-once layouts `build` reads
  * @param session the session `build` plans and runs on, derived from
  *                the caller's (identity for all but the bucket-pruning
  *                search queries)
  */
final case class QueryDef(
    name: String,
    family: Family,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    layouts: Seq[Layout[_]] = Nil,
    session: SparkSession => SparkSession = identity) {

  def run(s: SparkSession, d: String): DataFrame = build(session(s), d)
}

/** A family's declarations: each `query` / `probe` call in the object
  * body records one [[QueryDef]], in declaration order. The oracle
  * string is evaluated at that call, so a plain `val` it reads must be
  * declared above it (a later one is still null); `def`s and
  * `lazy val`s may sit anywhere.
  */
abstract class QueryFamily(family: Family) {
  private val declared = ArrayBuffer.empty[QueryDef]

  final def defs: Seq[QueryDef] = declared.toSeq

  protected final def query(
      name: String,
      oracle: String,
      layouts: Seq[Layout[_]] = Nil,
      session: SparkSession => SparkSession = identity)(
      build: (SparkSession, String) => DataFrame): Unit =
    declared += QueryDef(name, family, build, Some(oracle), layouts, session)

  protected final def probe(name: String)(
      build: (SparkSession, String) => DataFrame): Unit =
    declared += QueryDef(name, family, build)
}
