package graft.sources.v2

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.GeoJsonSource

class RestDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private val svc = "src/test/resources/geodata/rest_stub"

  private def restDf = spark.read.format("graft-rest").option("path", svc).load()

  test("reads all layers/pages with the normalized schema") {
    val df = restDf
    assert(df.columns.toSeq == Seq("layer_id", "feature_id", "properties",
      "geom_type", "geometry", "srid", "xmin", "ymin", "xmax", "ymax"))
    assert(df.count() == 5) // 4 in layer-0 (2 pages) + 1 in layer-1
    assert(df.select("layer_id").distinct().as[Int].collect().sorted.toSeq == Seq(0, 1))
    // content parity with the JSON-reader path
    val viaJson = GeoJsonSource.read(spark, s"$svc/layer-0/page-*.json")
    assert(df.filter($"layer_id" === 0).select("geometry").as[String].collect().sorted.toSeq ==
      viaJson.select("geometry").as[String].collect().sorted.toSeq)
  }

  test("filter pushdown: bbox and layer filters reach the scan; residuals stay") {
    val df = restDf.filter(
      $"layer_id" === 0 && $"xmin" >= 17.9 && $"xmax" <= 18.2 &&
        $"properties".getItem("category") === "A")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("PushedFilters=[") && scanDesc.contains("GreaterThanOrEqual(xmin,17.9"),
      s"bbox filter not pushed:\n$scanDesc")
    // properties['category'] is NOT pushable → must not appear in PushedFilters
    assert(!scanDesc.substring(scanDesc.indexOf("PushedFilters=[")).takeWhile(_ != ']').contains("category"))
    // ids 1 and 3 are category A inside the bbox
    assert(df.select($"properties".getItem("id")).as[String].collect().sorted.toSeq == Seq("1", "3"))
  }

  test("column pruning reaches the scan") {
    val df = restDf.select("feature_id", "geom_type")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("ReadSchema=[feature_id,geom_type]"), s"not pruned:\n$scanDesc")
    assert(df.count() == 5)
  }

  test("limit pushdown short-circuits page reading") {
    val df = restDf.limit(2)
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("limit=2"), s"limit not pushed:\n$scanDesc")
    assert(df.count() == 2)
  }

  test("each page is its own partition (pagination → parallel read)") {
    assert(restDf.rdd.getNumPartitions == 3) // 2 pages + 1 page
  }

  test("pushed filters keep SQL semantics: no wrong rows") {
    // string kinds, null-safe equality and a negation of a pushed kind
    assert(restDf.filter(expr("geom_type LIKE 'Zz%'")).count() == 0)
    assert(restDf.filter(expr("contains(geom_type, 'Zz')")).count() == 0)
    assert(restDf.filter(expr("geom_type <=> 'Zz'")).count() == 0)
    assert(restDf.filter(expr("NOT (geom_type LIKE 'Zz%')")).count() == 5)
    // a string kind is evaluated at the scan
    val like = restDf.filter(expr("geom_type LIKE 'Line%'"))
    assert(like.queryExecution.executedPlan.toString.contains("StringStartsWith(geom_type,Line)"))
    assert(like.count() == 1)
    // a null literal keeps a filter in Spark: NOT IN with a null is never true
    val notIn = restDf.filter(expr("NOT (geom_type IN ('Point', CAST(NULL AS STRING)))"))
    assert(notIn.count() == 0)
    // a property-map filter stays residual and is still applied
    assert(restDf.filter(expr("properties['category'] = 'C' OR layer_id = 0")).count() == 5)
  }

  test("_file is a metadata column: out of the default schema, the page file when asked") {
    assert(!restDf.columns.contains("_file"))
    val files = restDf.select("layer_id", "_file").as[(Int, String)].collect()
    assert(files.length == 5)
    assert(files.map { case (l, f) => l -> f.substring(f.indexOf("/layer-") + 1) }.toSet == Set(
      0 -> "layer-0/page-0.json", 0 -> "layer-0/page-1.json", 1 -> "layer-1/page-0.json"))
  }

  test("layer_ids lists only those layers; one without pages fails naming it") {
    val one = spark.read.format("graft-rest").option("path", svc).option("layer_ids", "1").load()
    assert(one.count() == 1)
    val e = intercept[java.io.FileNotFoundException] {
      spark.read.format("graft-rest").option("path", svc).option("layer_ids", "0,3").load().count()
    }
    assert(e.getMessage.contains("layer 3"), e.getMessage)
  }
}
