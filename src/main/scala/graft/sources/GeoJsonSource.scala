package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.geo.GeoFunctions

/** GeoJSON FeatureCollection reader (S9/K1 path): one file or a glob,
  * resolved on the driver ([[Globs.resolve]]) → exploded, normalized
  * feature rows.
  *
  * Schema strategy: `properties` is read as map<string,string> (the
  * reference never declares attribute schemas — SURVEY §1.3) and
  * `geometry` as a RAW JSON STRING — its nesting depth varies per
  * geometry kind, so no static Spark type fits; the WKT conversion
  * happens once here, after which everything downstream is columnar
  * (WKT + bbox doubles).
  *
  * Output schema (FIXTURES.md B1):
  *   feature_id long, properties map<string,string>, geom_type string,
  *   geometry string(WKT), srid int, xmin..ymax double.
  */
object GeoJsonSource {

  /** Static read schema: JSON object-valued fields declared as StringType
    * capture the raw JSON text.
    */
  val featureCollectionSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("crs", StringType),
    StructField("features", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("properties", MapType(StringType, StringType)),
      StructField("geometry", StringType)
    ))))
  ))

  /** EPSG from a GeoJSON crs member (urn:ogc:def:crs:EPSG::3006 /
    * EPSG:3006 / CRS84 forms — ogc_api.py:129-138 normalization).
    */
  def parseSrid(crsJson: String, dflt: Int = 4326): Int = {
    if (crsJson == null) return dflt
    // urn:ogc:def:crs:EPSG::3006 | EPSG:3006 | …/def/crs/EPSG/0/3006
    val epsg = "EPSG(?:/\\d+/|:{1,2})(\\d+)".r
    epsg.findFirstMatchIn(crsJson).map(_.group(1).toInt)
      .getOrElse(if (crsJson.contains("CRS84")) 4326 else dflt)
  }

  def read(spark: SparkSession, path: String, defaultSrid: Int = 4326): DataFrame =
    readPaths(spark, Seq(path), defaultSrid)

  def readPaths(spark: SparkSession, paths: Seq[String], defaultSrid: Int = 4326): DataFrame = {
    val raw = spark.read
      .schema(featureCollectionSchema)
      .option("multiLine", "true")
      .json(Globs.resolve(spark, paths): _*)
      .withColumn("_file", input_file_name())
    val exploded = raw
      .select(col("_file"), col("crs"), posexplode_outer(col("features")))
      .withColumnRenamed("pos", "feature_id")
      .select(
        col("_file"),
        col("feature_id").cast("long"),
        col("col.properties").as("properties"),
        col("col.geometry").as("geometry_json"),
        col("crs"))
    val sridUdf = udf((crs: String) => parseSrid(crs, defaultSrid))
    val withGeom = exploded
      .withColumn("geom_type", GeoFunctions.geojsonType(col("geometry_json")))
      .withColumn("geometry", GeoFunctions.geojsonToWkt(col("geometry_json")))
      .withColumn("srid", sridUdf(col("crs")))
      .drop("geometry_json", "crs")
    GeoFunctions.withBboxColumns(withGeom)
  }
}
