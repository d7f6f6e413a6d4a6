package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{GeoFunctions, Geometry}

/** ESRI-REST-style paged source (S4/S5) over canned page files
  * (zero-egress test double for MapServer/FeatureServer `/query`).
  *
  * A layer is a directory of `page-*.json` FeatureCollection pages —
  * exactly what the reference's pagination loop lands per request
  * (rest_api.py:575-637). All pages are read in ONE spark.read over the
  * files the glob resolves to on the driver ([[Globs.resolve]]; each
  * file ≥1 partition → the "pagination" parallelizes away,
  * SURVEY §4 "early termination" dissolves into partitioned reads).
  *
  * Pushdown semantics mirror the server-side query params the reference
  * sends (rest_api.py:189-209):
  *  - whereClause  → post-scan Catalyst filter (T2)
  *  - outFields    → projection (T3)
  *  - bbox         → envelope-intersects prefilter (G3)
  * On a real DSv2 REST connector these become SupportsPushDownFilters /
  * RequiredColumns; over parquet/json landings Catalyst already pushes
  * the same predicates into the scan.
  */
object PagedRestSource {

  final case class Query(
      whereClause: Option[String] = None,     // SQL over promoted property cols
      outFields: Seq[String] = Seq.empty,     // empty = "*"
      bbox: Option[Geometry.BBox] = None,
      resultRecordCount: Option[Int] = None)  // page-size analog → limit

  def readLayer(
      spark: SparkSession,
      layerDir: String,
      query: Query = Query(),
      defaultSrid: Int = 3006): DataFrame = {
    val base = GeoJsonSource.read(spark, s"$layerDir/page-*.json", defaultSrid)
    val afterBbox = query.bbox match {
      case Some(b) =>
        base.filter(GeoFunctions.bboxIntersects(
          col("xmin"), col("ymin"), col("xmax"), col("ymax"), b))
      case None => base
    }
    val afterWhere = query.whereClause match {
      case Some(w) if w.trim.nonEmpty && w.trim != "1=1" => afterBbox.filter(expr(w))
      case _                                             => afterBbox
    }
    val afterFields =
      if (query.outFields.isEmpty) afterWhere
      else {
        val keep = Seq("feature_id", "geom_type", "geometry", "srid",
          "xmin", "ymin", "xmax", "ymax", "_file")
        // project the property map down to the requested fields (T3)
        afterWhere.withColumn("properties",
          map_from_arrays(
            array(query.outFields.map(lit): _*),
            array(query.outFields.map(f => col("properties").getItem(f)): _*)))
          .select((keep.map(col) :+ col("properties")): _*)
      }
    query.resultRecordCount.map(afterFields.limit).getOrElse(afterFields)
  }

  // R5 wiring: layer discovery is the repeated-catalog-request path —
  // every readService over the same service re-asks the server for its
  // layer list, so discoveries inside a TTL window are served from the
  // driver-side ResponseCache (performance.py:435-466 cached_request
  // applied to rest_api.py:74-187 discovery). Entries are O(#services).
  private[sources] val discoveryCache =
    new graft.util.ResponseCache[Seq[Int]](maxSize = 256)

  /** Layer discovery (S5): directory names `layer-<id>` under the service
    * dir — the catalog step before building the read plan, analogous to
    * partition discovery (rest_api.py:74-187). Cached per service path
    * for `ttlSeconds` (source-config knob, performance.py:155 analog);
    * a repeat inside the window never re-lists the service.
    */
  def discoverLayers(serviceDir: String, ttlSeconds: Long = 3600): Seq[Int] =
    discoveryCache.getOrElseUpdate(
      graft.util.ResponseCache.requestKey(serviceDir,
        Map("op" -> "discoverLayers")), Some(ttlSeconds)) {
      val d = new java.io.File(serviceDir)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("layer-"))
        .map(_.getName.stripPrefix("layer-").toInt)
        .sorted.toSeq
    }

  /** Fetch several layers (explicit ids or discover-all) and union them,
    * tagging layer lineage (rest_api.py:351-446 resolution order).
    */
  def readService(
      spark: SparkSession,
      serviceDir: String,
      layerIds: Seq[Int] = Seq.empty,
      query: Query = Query(),
      discoveryTtlSeconds: Long = 3600): DataFrame = {
    val ids = if (layerIds.nonEmpty) layerIds
      else discoverLayers(serviceDir, discoveryTtlSeconds)
    ids.map { id =>
      readLayer(spark, s"$serviceDir/layer-$id", query)
        .withColumn("layer_id", lit(id))
    }.reduce(_ unionByName _)
  }
}
