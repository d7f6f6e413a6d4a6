package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AnnQueries, DedupQueries, GeoQueries, MultimodalQueries, QueryDef,
  RelationalQueries, StreamingQueries, TextQueries}

/** Driver contract: the queryable operator surface (SURVEY.md §2) plus the
  * LLM-data-pipeline extensions (dedup / similarity / text analysis).
  *
  * Each query is one [[graft.queries.QueryDef]] declared in its family's
  * `graft.queries.*Queries` object; everything here is a view over those
  * records. The oracle-parity rules the queries follow are on
  * [[graft.queries.QuerySupport]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_nation_revenue")(spark, "/root/testdata/sf0.001")

  /** Every query and probe shape: the gated queries in query-number
    * order, then the probe shapes.
    */
  lazy val defs: Seq[QueryDef] =
    Seq(RelationalQueries, TextQueries, DedupQueries, AnnQueries,
      StreamingQueries, GeoQueries, MultimodalQueries)
      .flatMap(_.defs)
      .sortBy(q => (q.oracle.isEmpty, q.name.drop(1).takeWhile(_.isDigit).toInt))

  private def runners(qs: Seq[QueryDef]): Map[String, (SparkSession, String) => DataFrame] =
    ListMap(qs.map(q => q.name -> (q.run _)): _*)

  /** The gated queries, each on the session it plans and runs on. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    runners(defs.filter(_.oracle.isDefined))

  /** DuckDB oracle SQL (DuckDB dialect) per gated query. */
  lazy val oracleSql: Map[String, String] =
    ListMap(defs.flatMap(q => q.oracle.map(q.name -> _)): _*)

  /** Scale-demo shapes for the probe and plan tooling (ShuffleProbe,
    * Explain): defs without an oracle, never part of the oracle gate.
    */
  lazy val probeQueries: Map[String, (SparkSession, String) => DataFrame] =
    runners(defs.filter(_.oracle.isEmpty))

  /** Builds every pay-once layout the queries read, once each, in
    * registry order. Bench runs this in warm-up so a fresh warehouse does
    * not inflate per-query medians with one-time ingest cost.
    */
  def prepareLayouts(s: SparkSession, d: String): Unit =
    defs.flatMap(_.layouts).distinct.foreach(_(s, d))
}
