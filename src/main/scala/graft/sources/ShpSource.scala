package graft.sources

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.geo.{GeoFunctions, Geometry}
import graft.sources.GpkgSource.Feature

/** Shapefile reader (S9/K3): staged .shp/.dbf/.prj triples → the same
  * normalized feature schema as GeoJsonSource/GpkgSource, so staging,
  * clip, reproject and publish stay format-agnostic.
  *
  * Scale model: `binaryFile` distributes the sibling files; one small
  * groupByKey on the path stem reunites each triple on a single task,
  * which parses locally (staged shapefiles are bounded download
  * artifacts — the reference's model, shapefile_loader.py:56-219). A
  * directory path ingests every shapefile under it in parallel.
  */
object ShpSource {

  private val Exts = Set("shp", "dbf", "prj")

  /** Parse one reunited (stem → ext → bytes) triple into features. */
  def featuresOf(stem: String, parts: Map[String, Array[Byte]]): Iterator[Feature] = {
    val shp = parts.getOrElse("shp",
      throw new NoSuchElementException(s"no .shp for '$stem'"))
    val srid = parts.get("prj")
      .map(b => Shapefile.sridOf(new String(b, "ISO-8859-1"))).getOrElse(0)
    val attrs = parts.get("dbf").map(Shapefile.attributes)
    val (names, rows) = attrs.getOrElse((Seq.empty, Seq.empty))
    Shapefile.geometries(shp).iterator.map { case (recNum, geom) =>
      val props =
        if (recNum <= rows.length)
          names.zip(rows(recNum - 1)).filter(_._2.nonEmpty).toMap
        else Map.empty[String, String]
      Feature(
        _file = stem + ".shp",
        feature_id = recNum.toLong,
        properties = props,
        geom_type = geom.map(_.kind).orNull,
        geometry = geom.map(Geometry.toWkt).orNull,
        srid = srid)
    }
  }

  /** Read every shapefile under `path` (a .shp file, a glob, or a
    * directory) into the normalized feature schema. A .shp file reads
    * its `stem.*` siblings, resolved on the driver ([[Globs.resolve]]).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val glob =
      if (path.toLowerCase.endsWith(".shp")) path.dropRight(4) + ".*" else path
    val bin = spark.read.format("binaryFile").load(Globs.resolve(spark, Seq(glob)): _*)
      .select("path", "content")
      .as(Encoders.tuple(Encoders.STRING, Encoders.BINARY))
      .map { case (p, bytes) =>
        val dot = p.lastIndexOf('.')
        val ext = if (dot < 0) "" else p.substring(dot + 1).toLowerCase
        (p.substring(0, math.max(dot, 0)), ext, bytes)
      }
      .filter(r => Exts.contains(r._2))
    implicit val enc = Encoders.product[Feature]
    val feats = bin.groupByKey(_._1)
      .flatMapGroups((stem, it) =>
        featuresOf(stem, it.map(r => r._2 -> r._3).toMap))
    GeoFunctions.withBboxColumns(feats.toDF())
  }
}
