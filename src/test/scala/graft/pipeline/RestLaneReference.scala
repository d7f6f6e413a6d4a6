package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.geo.{GeoFunctions, Geometry}
import graft.sources.GeoJsonSource

/** The `rest_api` lane as it read before it went through the graft-rest
  * connector: each layer's pages through the JSON reader, then the bbox,
  * `where` and `out_fields` steps as Spark filters and a projection of
  * the property map, and the layers unioned. PipelineSpec compares the
  * connector lane with it row for row.
  */
object RestLaneReference {

  def read(
      spark: SparkSession,
      serviceDir: String,
      layerIds: Seq[Int],
      where: Option[String] = None,
      outFields: Seq[String] = Seq.empty,
      bbox: Option[Geometry.BBox] = None): DataFrame =
    layerIds.map { id =>
      val base = GeoJsonSource.readPaths(spark, Seq(s"$serviceDir/layer-$id/page-*.json"), 3006)
      val afterBbox = bbox.fold(base)(b => base.filter(GeoFunctions.bboxIntersects(
        col("xmin"), col("ymin"), col("xmax"), col("ymax"), b)))
      val afterWhere = where.fold(afterBbox)(w => afterBbox.filter(expr(w)))
      val afterFields =
        if (outFields.isEmpty) afterWhere
        else afterWhere.withColumn("properties",
            map_from_arrays(
              array(outFields.map(lit): _*),
              array(outFields.map(f => col("properties").getItem(f)): _*)))
          .select((Seq("feature_id", "geom_type", "geometry", "srid",
            "xmin", "ymin", "xmax", "ymax", "_file").map(col) :+ col("properties")): _*)
      afterFields.withColumn("layer_id", lit(id))
    }.reduce(_ unionByName _)
}
