package graft.pipeline

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.config._
import graft.geo.{GeoFunctions, Geometry}
import graft.sources.{AtomFeedSource, GeoJsonSource, ShpSource}
import graft.sources.v2.RestTable

/** End-to-end pipeline over the reference-shaped fixtures: stage →
  * geoprocess → publish, plus idempotence of truncate-and-load (K5 run
  * twice ⇒ same counts, SURVEY §5 test plan).
  */
class PipelineSpec extends SparkSpec with BeforeAndAfterAll {

  // Every database the suite writes. The warehouse outlives the test
  // JVM, so each is created (adopting a directory left by an earlier
  // run) and dropped with CASCADE first: the first-load tests start
  // from an empty catalog and an empty directory.
  private val databases = Seq(
    "staging_t1", "staging_aoi", "staging_zip", "staging_http",
    "staging_health", "staging_health2", "staging_health3", "staging_multi",
    "staging_gpkg", "staging_shp", "staging_pin", "staging_t3",
    "staging_seq", "staging_conc", "staging_failfast", "staging_ttl",
    "staging_lanes", "staging_gpfail_seq", "staging_gpfail_conc",
    "staging_noaoi_seq", "staging_noaoi_conc", "staging_rest",
    "underlag_test", "underlag_tst2", "underlag_conc", "underlag_dup",
    "underlag_lane", "gng_underlag_x")

  override def beforeAll(): Unit = {
    super.beforeAll()
    databases.foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
      spark.sql(s"DROP DATABASE `$db` CASCADE")
    }
  }

  private val res = "src/test/resources/geodata"

  private val sources = Seq(
    Source(name = "Sample Points", authority = "TEST", sourceType = "file",
      url = s"$res/sample.geojson", stagedDataType = Some("geojson")),
    Source(name = "Rest Layers", authority = "TST2", sourceType = "rest_api",
      url = s"$res/rest_stub",
      raw = Map("where_clause" -> "properties['category'] = 'A'",
        "layer_ids" -> Seq(0, 1))),
    Source(name = "Disabled Source", authority = "OFF", sourceType = "file",
      url = s"$res/sample.geojson", enabled = false))

  test("GeoJSON source: explode + normalize + bbox columns") {
    val df = GeoJsonSource.read(spark, s"$res/sample.geojson")
    assert(df.count() == 2)
    val row = df.filter("properties['id'] = 1").collect().head
    assert(row.getAs[String]("geom_type") == "Point")
    assert(row.getAs[String]("geometry") == "POINT (18.0649 59.3293)")
    assert(row.getAs[Int]("srid") == 3006)
    assert(math.abs(row.getAs[Double]("xmin") - 18.0649) < 1e-9)
  }

  test("GeoJSON source: empty collection & mixed geometry detection") {
    val empty = GeoJsonSource.read(spark, s"$res/empty.geojson")
    assert(empty.filter("geometry is not null").count() == 0)
    val mixed = GeoJsonSource.read(spark, s"$res/mixed.geojson")
    assert(GeoFunctions.detectGeometryType(mixed) == "POLYGON") // mixed → default
    val sample = GeoJsonSource.read(spark, s"$res/rest_stub/layer-0/page-0.json")
    assert(GeoFunctions.detectGeometryType(sample) == "POINT")
  }

  private def restSource(raw: Map[String, Any], url: String = s"$res/rest_stub") =
    Source(name = "Rest Query", authority = "TST", sourceType = "rest_api", url = url, raw = raw)

  test("paged REST source: pages union, where/outFields/bbox pushdown semantics") {
    val pipe = new EtlPipeline(spark)
    val all = pipe.readSource(restSource(Map("layer_ids" -> Seq(0))))
    assert(all.count() == 4) // 2 pages unioned
    val q = Map(
      "where_clause" -> "properties['category'] = 'A'",
      "out_fields" -> "id, name",
      "bbox" -> "17.9, 59.2, 18.2, 59.5")
    val filtered = pipe.readSource(restSource(q + ("layer_ids" -> Seq(0))))
    val rows = filtered.collect()
    // category A ∧ inside bbox → ids 1,3 (4 is cat A but outside bbox)
    assert(rows.map(_.getAs[Map[String, String]]("properties")("id")).sorted.toSeq == Seq("1", "3"))
    assert(rows.head.getAs[Map[String, String]]("properties").keySet == Set("id", "name"))
    // discovery finds both layers
    assert(RestTable.discoverLayers(s"$res/rest_stub") == Seq(0, 1))
    assert(pipe.readSource(restSource(Map.empty)).count() == 5)
  }

  test("REST lane: configured bbox and layer_ids are PushedFilters of the connector scan") {
    val df = new EtlPipeline(spark).readSource(restSource(Map(
      "layer_ids" -> Seq(0, 1), "bbox" -> "17.9, 59.2, 18.2, 59.5",
      "where_clause" -> "properties['category'] = 'A'")))
    val plan = df.queryExecution.executedPlan.toString
    val start = plan.indexOf("PushedFilters=[")
    val pushed = plan.substring(start, plan.indexOf("] ReadSchema=", start))
    assert(pushed.contains("In(layer_id, [0,1]") && pushed.contains("xmax,17.9") &&
      pushed.contains("xmin,18.2") && pushed.contains("ymax,59.2") && pushed.contains("ymin,59.5"),
      s"bbox and layer_ids not pushed:\n$plan")
    // the where clause reads the property map, which the scan cannot
    // evaluate: it stays in Spark
    assert(!pushed.contains("category"), plan)
    assert(df.collect().map(_.getAs[Map[String, String]]("properties")("id")).sorted.toSeq ==
      Seq("1", "3"))
  }

  test("REST lane ≡ the JSON-reader composition, row for row, on every column") {
    val pipe = new EtlPipeline(spark)
    def multiset(rows: Seq[org.apache.spark.sql.Row]) = rows.groupBy(identity).view.mapValues(_.size).toMap
    // the rows the reference has and the lane does not: those with no
    // geometry (the connector emits only features it can parse)
    def compare(url: String, layers: Seq[Int], raw: Map[String, Any],
        where: Option[String] = None, outFields: Seq[String] = Seq.empty,
        bbox: Option[Geometry.BBox] = None): Seq[org.apache.spark.sql.Row] = {
      val lane = pipe.readSource(restSource(raw + ("layer_ids" -> layers), url))
      val ref = RestLaneReference.read(spark, url, layers, where, outFields, bbox)
      assert(lane.schema.map(f => (f.name, f.dataType)) == ref.schema.map(f => (f.name, f.dataType)))
      val (kept, dropped) = ref.collect().toSeq.partition(_.getAs[String]("geometry") != null)
      assert(multiset(lane.collect().toSeq) == multiset(kept), s"$url $raw")
      dropped
    }
    val stubQuery = Map("where_clause" -> "properties['category'] = 'A'",
      "out_fields" -> "id,name", "bbox" -> "17.9,59.2,18.2,59.5")
    assert(compare(s"$res/rest_stub", Seq(0, 1), Map.empty).isEmpty)
    assert(compare(s"$res/rest_stub", Seq(0, 1), stubQuery,
      Some("properties['category'] = 'A'"), Seq("id", "name"),
      Some(Geometry.BBox(17.9, 59.2, 18.2, 59.5))).isEmpty)

    // numeric properties, a JSON null value, a null geometry, an empty page
    val mixed = s"$res/rest_mixed"
    val dropped = compare(mixed, Seq(0, 1), Map.empty)
    // expected difference 1: a feature with no geometry is not emitted
    // (the JSON reader keeps it with null geometry columns);
    // expected difference 2: an empty page emits nothing (posexplode_outer
    // makes it one all-null row)
    assert(dropped.map(r => Option(r.getAs[Map[String, String]]("properties")).map(_("id"))).toSet ==
      Set(Some("3"), None))
    val emptyPageRow = dropped.find(_.getAs[Map[String, String]]("properties") == null).get
    assert(emptyPageRow.getAs[String]("_file").endsWith("layer-0/page-1.json"))
    assert(emptyPageRow.isNullAt(emptyPageRow.fieldIndex("feature_id")))
    // a JSON null property value is a null map value on both readers
    val lane = pipe.readSource(restSource(Map("layer_ids" -> Seq(0, 1)), mixed)).collect()
    val props = lane.map(_.getAs[Map[String, String]]("properties")).map(p => p("id") -> p).toMap
    assert(props("2").contains("value") && props("2")("value") == null)
    assert(props("1")("value") == "2.5" && props("1")("count") == "7" && props("4")("value") == "-0.75")
    assert(lane.map(_.getAs[Int]("srid")).toSet == Set(3006, 4326))
    assert(compare(mixed, Seq(0, 1), Map("where_clause" -> "properties['name'] != 'line'",
      "out_fields" -> Seq("id", "value")), Some("properties['name'] != 'line'"), Seq("id", "value"))
      .map(_.getAs[Map[String, String]]("properties")("id")) == Seq("3"))
  }

  test("REST lane: a configured layer without pages fails the stage, naming the layer") {
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_rest")
    val src = restSource(Map("layer_ids" -> Seq(0, 7)))
    assert(pipe.stageSource(src).isEmpty)
    val err = pipe.results.find(r => r.phase == "stage" && r.status == "error").get.error
    assert(err.contains("layer 7"), err)
  }

  test("malformed list and bbox config fields fail the stage naming the source and field") {
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_rest")
    def stageError(src: Source): String = {
      assert(pipe.stageSource(src).isEmpty)
      pipe.results.filter(r => r.source == src.name && r.phase == "stage")
        .find(_.status == "error").get.error
    }
    for (bad <- Seq("17.9, 59.2, 18.2", "a, b, c, d", Seq(1, 2, 3, 4, 5))) {
      val err = stageError(restSource(Map("bbox" -> bad)).copy(name = s"Bbox $bad"))
      assert(err.contains("bbox") && err.contains(s"Bbox $bad"), err)
    }
    val ogc = Source(name = "Ogc Bbox", authority = "TST", sourceType = "ogc_api",
      url = s"$res/ogc_stub", raw = Map("bbox" -> "1,2,x,4"))
    assert(stageError(ogc).contains("bbox"))
    val ids = stageError(restSource(Map("layer_ids" -> Seq("0", "one"))).copy(name = "Ids"))
    assert(ids.contains("layer_ids") && ids.contains("Ids"), ids)
    // a list-valued bbox parses like the comma-separated one
    assert(pipe.bboxField(restSource(Map("bbox" -> java.util.List.of(1, 2, 3.5, 4)))) ==
      Some(Geometry.BBox(1, 2, 3.5, 4)))
  }

  test("atom feed link extraction dedups preserving order") {
    val xml = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$res/feed.atom")))
    val links = AtomFeedSource.extractLinks(xml)
    assert(links == Seq(
      "https://example.se/data/a.zip",
      "https://example.se/page/a.html",
      "https://example.se/data/b.gpkg"))
    assert(AtomFeedSource.dataLinks(links) ==
      Seq("https://example.se/data/a.zip", "https://example.se/data/b.gpkg"))
  }

  test("full pipeline: stage, geoprocess (clip+reproject), publish; idempotent reload") {
    val cfg = GlobalConfig(
      aoi = Some((17.9, 59.2, 18.2, 59.5)),
      targetSrid = 3006, // fixtures are already 3006; identity projection
      sdeLoadStrategy = "truncate_and_load")
    val pipe = new EtlPipeline(spark, cfg, stagingDb = "staging_t1")
    val ledger = pipe.run(sources)

    // T1: disabled source skipped at stage
    assert(ledger.exists(r => r.source == "Disabled Source" && r.status == "skip"))
    // staged names follow generate_fc_name
    val stagedNames = ledger.filter(r => r.phase == "stage" && r.status == "done").map(_.table)
    assert(stagedNames == Seq("test_sample_points", "tst2_rest_layers"))
    // REST where-clause pushed: only category A rows staged (3 of 5);
    // the table itself is later clipped in place, so assert via the ledger
    assert(ledger.find(r => r.table == "tst2_rest_layers" && r.phase == "stage").get.rows == 3)
    // geoprocess clipped the out-of-bbox feature (id=4 at 30,65)
    val afterGp = spark.table("`staging_t1`.`tst2_rest_layers`")
    assert(afterGp.count() == 2)
    // publish landed in the default-pattern dataset/table
    val pub = ledger.filter(r => r.phase == "publish" && r.status == "done")
    assert(pub.map(_.rows).sum == afterGp.count() + spark.table("`staging_t1`.`test_sample_points`").count())
    assert(spark.catalog.tableExists("`underlag_test`.`test_sample_data`") ||
      spark.catalog.databaseExists("underlag_test"))

    // run again into the same staging database: re-staging over the
    // geoprocessed tables passes the schema pin, and truncate-and-load is
    // idempotent (same counts, no dup rows)
    val pipe2 = new EtlPipeline(spark, cfg, stagingDb = "staging_t1")
    pipe2.run(sources)
    assert(!pipe2.results.exists(_.status == "error"), pipe2.firstErrors())
    val c1 = pipe.results.filter(r => r.phase == "publish" && r.status == "done").map(_.rows)
    val c2 = pipe2.results.filter(r => r.phase == "publish" && r.status == "done").map(_.rows)
    assert(c1 == c2)

    // summary counters (A1)
    assert(pipe.summary(("stage", "done")) == 2L)
    assert(pipe.summary(("stage", "skip")) == 1L)
  }

  test("geoprocess with a CONCAVE polygon AOI: exact clip beats the envelope") {
    // L-shape whose ENVELOPE (17.9..18.2 × 59.2..59.5) contains both
    // category-A points id1 (18.0,59.3) and id3 (18.1,59.4), but whose
    // POLYGON keeps only id1 — id3 sits in the notch (x>18.05 ∧
    // y>59.33). A bbox clip would keep 2 rows; the exact clip keeps 1.
    val lWkt = "POLYGON ((17.9 59.2, 18.2 59.2, 18.2 59.33, " +
      "18.05 59.33, 18.05 59.5, 17.9 59.5, 17.9 59.2))"
    val cfg = GlobalConfig(
      aoiWkt = Some(lWkt),
      targetSrid = 3006,
      sdeLoadStrategy = "truncate_and_load")
    val pipe = new EtlPipeline(spark, cfg, stagingDb = "staging_aoi")
    pipe.run(sources.filter(_.name == "Rest Layers"))
    val after = spark.table("`staging_aoi`.`tst2_rest_layers`").collect()
    assert(after.length == 1, s"exact polygon clip must keep only id1, got ${after.length}")
    assert(after.head.getAs[Map[String, String]]("properties")("id") == "1")
    // the config surface parses the boundary
    val parsed = graft.config.Configs.parseGlobal(
      s"""geoprocessing:
         |  enabled: true
         |  target_srid: 3006
         |  aoi_wkt: "$lWkt"
         |""".stripMargin)
    assert(parsed.aoiWkt.contains(lWkt) && parsed.geoprocessingEnabled)
  }

  test("clipProjectAoi rejects a HOLED AOI at plan time for areal layers") {
    // the polygon-clip kernel rejects holed parts per ROW; the plan-time
    // guard must surface that misconfiguration before any task runs
    val holed = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), " +
      "(4 4, 6 4, 6 6, 4 6, 4 4))"
    val df = graft.geo.GeoFunctions.withBboxColumns(
      spark.range(1).selectExpr(
        "'POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))' AS geometry", "4326 AS srid"))
    val e = intercept[IllegalArgumentException] {
      graft.geo.GeoFunctions.clipProjectAoi(df, holed, 3006)
    }
    assert(e.getMessage.contains("interior rings"))
    // a points/lines-only layer opts out and honors the hole exactly:
    // the point inside the hole clips away, the one outside survives
    val pts = graft.geo.GeoFunctions.withBboxColumns(
      spark.range(2).selectExpr(
        "CASE WHEN id = 0 THEN 'POINT (5 5)' ELSE 'POINT (1 1)' END AS geometry",
        "4326 AS srid"))
    val kept = graft.geo.GeoFunctions
      .clipProjectAoi(pts, holed, 4326, arealSubjects = false)
      .collect()
    assert(kept.length == 1)
    // zero-area (collinear) AOI ring: loud config error, never
    // clip-everything-away
    intercept[IllegalArgumentException] {
      graft.geo.GeoFunctions.clipProjectAoi(
        df, "POLYGON ((0 0, 1 1, 2 2, 0 0))", 3006)
    }
  }

  test("zip source lands, extracts, routes by extension; re-read hits the landing cache") {
    // build an archive with a geojson payload and a distractor entry —
    // the reference's single-resource zip path (file.py:228-371)
    val dir = Files.createTempDirectory("graft_zip_src")
    val zip = dir.resolve("bundle.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zout.putNextEntry(new java.util.zip.ZipEntry("readme.txt"))
    zout.write("not data".getBytes)
    zout.closeEntry()
    zout.putNextEntry(new java.util.zip.ZipEntry("payload/sample.geojson"))
    zout.write(Files.readAllBytes(java.nio.file.Paths.get(s"$res/sample.geojson")))
    zout.closeEntry()
    zout.close()

    val name     = "Zipped Sample"
    val landRoot = Files.createTempDirectory("graft_land_root")
    val src  = Source(name = name, authority = "ZIP", sourceType = "file",
      url = zip.toString, stagedDataType = Some("shapefile_collection"))
    val pipe = new EtlPipeline(spark,
      GlobalConfig(downloadDir = Some(landRoot.toString)), stagingDb = "staging_zip")

    val direct = GeoJsonSource.read(spark, s"$res/sample.geojson").count()
    assert(pipe.readSource(src).count() == direct) // .txt skipped, geojson routed
    val landedZip = landRoot.resolve("zipped_sample").resolve("zipped_sample.zip")
    assert(Files.exists(landedZip))
    val mtime = Files.getLastModifiedTime(landedZip)
    assert(pipe.readSource(src).count() == direct) // second read: cached landing
    assert(Files.getLastModifiedTime(landedZip) == mtime) // not re-streamed

    // a partial cached extraction (crashed run) falls back to re-extract
    val extracted = landRoot.resolve("zipped_sample").resolve("extracted")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(extracted)
    try walk.iterator().asScala.toList.reverse
      .filter(_ != extracted).foreach(Files.delete)
    finally walk.close()
    assert(pipe.readSource(src).count() == direct) // empty dir → re-extracted
  }

  test("an http(s) source lands through the pooled session, then routes as a file (R6)") {
    // the download-then-stage split (file.py:228-371 over
    // http_session.py): an http URL serving a zip archive lands ONCE
    // via Landing.landUrl + graft.util.Http, and the extension routing
    // then reads the landed archive exactly like a local zip source
    val dir = Files.createTempDirectory("graft_http_src")
    val zip = dir.resolve("remote.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    zout.putNextEntry(new java.util.zip.ZipEntry("sample.geojson"))
    zout.write(Files.readAllBytes(java.nio.file.Paths.get(s"$res/sample.geojson")))
    zout.closeEntry()
    zout.close()
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/dl/remote.zip",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        hits.incrementAndGet()
        val bytes = Files.readAllBytes(zip)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val landRoot = Files.createTempDirectory("graft_http_land")
      val src = Source(name = "Http Zip", authority = "WEB", sourceType = "file",
        url = s"$base/dl/remote.zip")
      val pipe = new EtlPipeline(spark,
        GlobalConfig(downloadDir = Some(landRoot.toString)), stagingDb = "staging_http")
      val direct = GeoJsonSource.read(spark, s"$res/sample.geojson").count()
      assert(pipe.readSource(src).count() == direct)
      assert(hits.get() == 1)
      assert(Files.exists(landRoot.resolve("http_zip").resolve("remote.zip")))
      // second read: the landed file serves; the server is never re-asked
      assert(pipe.readSource(src).count() == direct)
      assert(hits.get() == 1)
    } finally server.stop(0)
  }

  test("health preflight ledgers the reference trio before staging; unhealthy gates (A5)") {
    val cfg = GlobalConfig(healthChecksEnabled = true)
    val pipe = new EtlPipeline(spark, cfg, stagingDb = "staging_health")
    val ledger = pipe.run(sources.filterNot(_.enabled)) // no data work
    val health = ledger.filter(_.phase == "health")
    assert(health.map(_.table).sorted == Seq("disk_space", "memory_usage", "system_time"))
    assert(ledger.takeWhile(_.phase == "health").size == 3, "preflight rows come first")
    assert(pipe.summary.keySet.exists(_._1 == "health"))

    // an unhealthy monitor + continue_on_failure=false aborts the run
    val sick = new EtlPipeline(spark,
      GlobalConfig(healthChecksEnabled = true, continueOnFailure = false),
      stagingDb = "staging_health2") {
      override protected def healthMonitor(): graft.util.Health.Monitor = {
        val m = new graft.util.Health.Monitor()
        m.registerCheck("disk_space")(graft.util.Health.diskCheck(
          () => (2.0, 2000000L, 100000000L), () => System.currentTimeMillis()))
        m
      }
    }
    val e = intercept[IllegalStateException] { sick.run(Seq.empty) }
    assert(e.getMessage.contains("Low disk space"))
    // with continue_on_failure (the default), the same monitor only ledgers
    val limping = new EtlPipeline(spark,
      GlobalConfig(healthChecksEnabled = true),
      stagingDb = "staging_health3") {
      override protected def healthMonitor(): graft.util.Health.Monitor = {
        val m = new graft.util.Health.Monitor()
        m.registerCheck("disk_space")(graft.util.Health.diskCheck(
          () => (2.0, 2000000L, 100000000L), () => System.currentTimeMillis()))
        m
      }
    }
    val rows = limping.run(Seq.empty)
    assert(rows.exists(r => r.phase == "health" && r.status == "unhealthy"
      && r.error.contains("Low disk space")))
  }

  test("spark executor liveness check (A5 engine extra)") {
    val ok = graft.util.Health.sparkExecutorsCheck(spark, expected = 1)
    assert(ok.status == "healthy" && ok.details("live").toInt >= 1)
    val degraded = graft.util.Health.sparkExecutorsCheck(spark, expected = 1000)
    assert(degraded.status == "unhealthy")
    assert(graft.util.Health.sparkExecutorsCheck(spark, expected = 0).status == "healthy")
  }

  test("a multi-shapefile archive unions EVERY contained .shp (shapefile_loader.py:90)") {
    // two complete shapefiles (.shp + sidecars) in one zip — the
    // shapefile-collection case; dropping all but the first silently
    // loses data
    val dir = Files.createTempDirectory("graft_zip_multi")
    val zip = dir.resolve("collection.zip")
    val zout = new java.util.zip.ZipOutputStream(Files.newOutputStream(zip))
    Seq("districts.shp", "districts.dbf", "districts.prj",
        "sensors.shp", "sensors.dbf", "sensors.prj").foreach { f =>
      zout.putNextEntry(new java.util.zip.ZipEntry(f))
      zout.write(Files.readAllBytes(java.nio.file.Paths.get(s"$res/../shapedata/$f")))
      zout.closeEntry()
    }
    zout.close()
    val landRoot = Files.createTempDirectory("graft_land_multi")
    val pipe = new EtlPipeline(spark,
      GlobalConfig(downloadDir = Some(landRoot.toString)), stagingDb = "staging_multi")
    val src = Source(name = "Shp Collection", authority = "ZIP", sourceType = "file",
      url = zip.toString, stagedDataType = Some("shapefile_collection"))
    val want =
      ShpSource.read(spark, "src/test/resources/shapedata/districts.shp").count() +
        ShpSource.read(spark, "src/test/resources/shapedata/sensors.shp").count()
    assert(pipe.readSource(src).count() == want,
      "every .shp in the archive must be read and unioned")
  }

  test("publish to a graft-rest applyEdits spool; overwrite truncates the session") {
    val df   = GeoJsonSource.read(spark, s"$res/sample.geojson")
    val dir  = s"${java.nio.file.Files.createTempDirectory("graft_pub_spool")}/svc"
    Publish.publishRestEdits(df, dir)
    def editCount: Long = {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      m.readTree(new java.io.File(s"$dir/edits/_SUCCESS")).get("n_edits").asLong()
    }
    assert(editCount == df.count())
    Publish.publishRestEdits(df.limit(1), dir) // truncate-and-load semantics
    assert(editCount == 1L)
  }

  test("GPKG source stages through the same normalized path (K2/S9)") {
    val gpkg = Source(name = "Parks Gpkg", authority = "GPK", sourceType = "file",
      url = "file://src/test/resources/sample.gpkg", stagedDataType = Some("gpkg"))
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_gpkg")
    val staged = pipe.stageSource(gpkg)
    assert(staged.contains("gpk_parks_gpkg"))
    val df = spark.table("`staging_gpkg`.`gpk_parks_gpkg`")
    assert(df.count() == 160) // both layers: 120 polygons + 40 points
    assert(df.filter("geom_type = 'Polygon'").count() == 120)
    assert(df.select("srid").distinct().collect().map(_.getInt(0)).toSeq == Seq(3006))
  }

  test("shapefile source stages through the same normalized path (K3/S9)") {
    val shp = Source(name = "Districts Shp", authority = "SHP", sourceType = "file",
      url = "file://src/test/resources/shapedata/districts.shp",
      stagedDataType = Some("shapefile"))
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_shp")
    val staged = pipe.stageSource(shp)
    assert(staged.contains("shp_districts_shp"))
    val df = spark.table("`staging_shp`.`shp_districts_shp`")
    assert(df.count() == 22)
    assert(df.filter("geom_type = 'Polygon'").count() == 20)
    assert(df.select("srid").distinct().collect().map(_.getInt(0)).toSeq == Seq(3006))
  }

  test("schema pinning: re-staging with a drifted schema is an error") {
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_pin")
    assert(pipe.stageSource(sources.head).isDefined)
    // same source again: same schema → fine (truncate-and-load overwrite)
    assert(pipe.stageSource(sources.head).isDefined)
    // a source staging DIFFERENT columns under the same fc name → drift error
    val drifted = sources.head.copy(url = s"$res/rest_stub/layer-1/page-0.json")
    val pipe2 = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_pin")
    // pipe2 reuses the already-pinned table name for "Sample Points"
    val out = pipe2.stageSource(drifted)
    // layer-1 page has identical normalized schema, so it stages fine;
    // force drift via an extra column instead
    assert(out.isDefined)
    import org.apache.spark.sql.functions._
    val extra = spark.table("`staging_pin`.`test_sample_points`").withColumn("extra", lit(1))
    extra.createOrReplaceTempView("drift_src")
    val pipe3 = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_pin") {
      override def readSource(s: graft.config.Source) = spark.table("drift_src")
    }
    pipe3.stageSource(sources.head)
    assert(pipe3.results.exists(r => r.status == "error" && r.error.contains("schema drift")))
  }

  test("pipeline continues on per-source failure and ledgers the error") {
    val bad = Source(name = "Broken", authority = "BAD", sourceType = "file",
      url = "/nonexistent/file.geojson")
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_t3")
    val ledger = pipe.run(Seq(bad, sources.head))
    assert(ledger.exists(r => r.source == "Broken" && r.status == "error"))
    assert(ledger.exists(r => r.source == "Sample Points" && r.phase == "stage" && r.status == "done"))
    assert(pipe.firstErrors().nonEmpty)
  }

  // Seven sources: an fc-name collision pair, a disabled source, a read
  // failure and two sources the overlay publishes to one table.
  private val concurrencyMix = Seq(
    sources.head,                                          // test_sample_points
    Source(name = "TEST Sample Points", authority = "TEST", sourceType = "file",
      url = s"$res/rest_stub/layer-1/page-0.json"),        // collides → _1
    sources(2),                                            // disabled
    Source(name = "Broken", authority = "BAD", sourceType = "file",
      url = "/nonexistent/file.geojson"),
    sources(1),                                            // tst2_rest_layers
    Source(name = "Mixed Shapes", authority = "MIX", sourceType = "file",
      url = s"$res/mixed.geojson"),                        // → shared, clips to 0 rows
    Source(name = "Points Copy", authority = "DUP", sourceType = "file",
      url = s"$res/sample.geojson"))                       // → shared, last writer
  private val sharedTarget = new MappingManager(Seq("mix_mixed_shapes", "dup_points_copy")
    .map(fc => OutputMapping(stagingFc = fc, sdeFc = "shared_fc", sdeDataset = "Underlag_CONC")))
  private val clipCfg = GlobalConfig(aoi = Some((17.9, 59.2, 18.2, 59.5)), targetSrid = 3006)

  // the reference: each phase called one source at a time, in order
  private def oneAtATime(pipe: EtlPipeline, srcs: Seq[Source]): Seq[EtlPipeline.LedgerRow] = {
    val staged = srcs.flatMap(s => pipe.stageSource(s).map(s -> _))
    staged.foreach { case (s, fc) => pipe.geoprocess(s, fc) }
    staged.foreach { case (s, fc) => pipe.publishTable(s, fc) }
    pipe.results
  }
  private def rowsOf(table: String): Seq[String] =
    spark.table(table).collect().map(_.toString).toSeq.sorted
  private def published(ledger: Seq[EtlPipeline.LedgerRow]): Map[String, Seq[String]] =
    ledger.filter(r => r.phase == "publish" && r.status == "done").map(_.table).distinct
      .map { t =>
        val (db, table) = Publish.target(t.take(t.lastIndexOf('.')), t.drop(t.lastIndexOf('.') + 1))
        t -> rowsOf(s"`$db`.`$table`")
      }.toMap
  private def stagedTables(db: String, ledger: Seq[EtlPipeline.LedgerRow]): Map[String, Seq[String]] =
    ledger.filter(r => r.phase == "stage" && r.status == "done")
      .map(r => r.table -> rowsOf(s"`$db`.`${r.table}`")).toMap
  private def strip(rows: Seq[EtlPipeline.LedgerRow]) = rows.map(_.copy(durationMs = 0L))

  test("run: concurrent chains give the one-at-a-time ledger, names and published tables") {
    val seq = new EtlPipeline(spark, clipCfg, sharedTarget, "staging_seq")
    oneAtATime(seq, concurrencyMix)
    val seqTables = published(seq.results)

    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    val started, finished = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val conc = new EtlPipeline(spark, clipCfg, sharedTarget, "staging_conc") {
      override def readSource(s: Source) = {
        seen.add((Thread.currentThread().getName, spark.sparkContext.getLocalProperty("graft.test")))
        super.readSource(s)
      }
      override def stageSource(s: Source) = {
        started.put(s.name, System.nanoTime())
        super.stageSource(s)
      }
      override def publishTable(s: Source, fc: String): Unit = {
        super.publishTable(s, fc)
        finished.put(s.name, System.nanoTime())
      }
    }
    spark.sparkContext.setLocalProperty("graft.test", "caller")
    val ledger = try conc.run(concurrencyMix)
      finally spark.sparkContext.setLocalProperty("graft.test", null)

    assert(strip(ledger) == strip(seq.results))
    assert(stagedTables("staging_conc", ledger) == stagedTables("staging_seq", seq.results))
    assert(ledger.filter(r => r.phase == "stage" && r.status == "done").map(_.table) ==
      Seq("test_sample_points", "test_sample_points_1", "tst2_rest_layers",
        "mix_mixed_shapes", "dup_points_copy"))
    assert(ledger.map(_.phase).distinct == Seq("stage", "geoprocess", "publish"))
    assert(ledger.exists(r => r.source == "Broken" && r.status == "error"))
    assert(ledger.filter(_.status == "done").forall(_.durationMs > 0))
    // the later-declared source is the last writer of the shared table
    assert(ledger.count(r => r.table == "Underlag_CONC.shared_fc" && r.status == "done") == 2)
    assert(published(ledger) == seqTables)
    assert(finished.get("Mixed Shapes") <= started.get("Points Copy"),
      "sources publishing to one table must not overlap")
    val shared = seqTables("Underlag_CONC.shared_fc")
    assert(shared.nonEmpty && shared.forall(_.contains("Points Copy")), shared)
    // chains ran on pool threads that inherited the caller's properties
    assert(seen.asScala.map(_._2) == Set("caller"))
    assert(!seen.asScala.map(_._1).contains(Thread.currentThread().getName))
  }

  test("run: a geoprocess failure leaves the unclipped staged table, as one phase at a time does") {
    // a holed AOI fails the clip at plan time for every (possibly areal) layer
    val holed = clipCfg.copy(aoi = None, aoiWkt = Some(
      "POLYGON ((17.9 59.2, 18.2 59.2, 18.2 59.5, 17.9 59.5, 17.9 59.2), " +
        "(18.0 59.3, 18.01 59.3, 18.01 59.31, 18.0 59.31, 18.0 59.3))"))
    val seq = new EtlPipeline(spark, holed, sharedTarget, "staging_gpfail_seq")
    oneAtATime(seq, concurrencyMix)
    val seqTables = published(seq.results)
    val conc = new EtlPipeline(spark, holed, sharedTarget, "staging_gpfail_conc")
    val ledger = conc.run(concurrencyMix)
    assert(strip(ledger) == strip(seq.results))
    val gp = ledger.filter(_.phase == "geoprocess")
    assert(gp.nonEmpty && gp.forall(r => r.status == "error" && r.error.contains("interior rings")), gp)
    val staged = stagedTables("staging_gpfail_conc", ledger)
    assert(staged == stagedTables("staging_gpfail_seq", seq.results))
    // unclipped: every staged row is still there, the out-of-AOI one too
    for (r <- ledger if r.phase == "stage" && r.status == "done")
      assert(staged(r.table).size == r.rows, r)
    assert(staged("tst2_rest_layers").size == 3)
    assert(published(ledger) == seqTables)
  }

  test("run without an AOI: stage writes directly, as one phase at a time does") {
    val noAoi = clipCfg.copy(aoi = None)
    val seq = new EtlPipeline(spark, noAoi, sharedTarget, "staging_noaoi_seq")
    oneAtATime(seq, concurrencyMix)
    val seqTables = published(seq.results)
    val conc = new EtlPipeline(spark, noAoi, sharedTarget, "staging_noaoi_conc")
    val ledger = conc.run(concurrencyMix)
    assert(strip(ledger) == strip(seq.results))
    assert(ledger.filter(_.phase == "geoprocess").forall(_.status == "skip"))
    assert(stagedTables("staging_noaoi_conc", ledger) ==
      stagedTables("staging_noaoi_seq", seq.results))
    assert(published(ledger) == seqTables)
  }

  test("run with continueOnFailure = false rethrows the first declared failure after all chains settle") {
    val srcs = Seq(
      sources.head,
      Source(name = "Broken First", authority = "BAD", sourceType = "file",
        url = "/nonexistent/first.geojson"),
      Source(name = "Points Copy", authority = "DUP", sourceType = "file",
        url = s"$res/sample.geojson"),
      Source(name = "Broken Second", authority = "BAD", sourceType = "file",
        url = "/nonexistent/second.geojson"))
    val pipe = new EtlPipeline(spark, clipCfg.copy(continueOnFailure = false),
      stagingDb = "staging_failfast")
    val e = intercept[Exception](pipe.run(srcs))
    assert(e.getMessage.contains("first.geojson"), e.getMessage)
    val done = pipe.results.filter(_.status == "done").map(r => (r.source, r.phase))
    for (s <- Seq("Sample Points", "Points Copy"); phase <- Seq("stage", "geoprocess", "publish"))
      assert(done.contains((s, phase)), s"$s/$phase did not settle")
    assert(pipe.results.count(_.status == "error") == 2)
    val tables = spark.catalog.listTables("staging_failfast").collect().map(_.name)
    assert(tables.nonEmpty && !tables.exists(_.contains("__gp_tmp")), tables.mkString(","))
  }

  test("run lanes: sources sharing a resource run on one lane, in declared order") {
    assert(EtlPipeline.lanes(Seq(Set("a"), Set.empty[String], Set("b"), Set("a", "c"), Set("c", "b"), Set("d"))) ==
      Seq(Seq(0, 2, 3, 4), Seq(1), Seq(5)))
    assert(EtlPipeline.lanes(Seq.empty[Set[String]]) == Seq.empty)
  }

  test("run starts every lane at once, even with more lanes than cores") {
    // each read waits until every source's read has begun: the latch
    // opens only if all lanes are in flight together
    val n = spark.sparkContext.defaultParallelism + 1
    val latch = new java.util.concurrent.CountDownLatch(n)
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pipe = new EtlPipeline(spark, GlobalConfig(healthChecksEnabled = false),
      stagingDb = "staging_lanes") {
      override def readSource(s: Source) = {
        latch.countDown()
        if (!latch.await(30, java.util.concurrent.TimeUnit.SECONDS)) timedOut.set(true)
        super.readSource(s)
      }
    }
    val srcs = (0 until n).map(i => Source(name = s"Lane $i", authority = "LANE",
      sourceType = "file", url = s"$res/sample.geojson"))
    val ledger = pipe.run(srcs)
    assert(!timedOut.get, s"$n lanes did not all start together")
    assert(ledger.count(r => r.phase == "publish" && r.status == "done") == n, pipe.firstErrors())
  }

  test("mapping overlay: exact, partial, default; sde name split") {
    val custom = Seq(OutputMapping(
      stagingFc = "test_sample_points", sdeFc = "samples", sdeDataset = "Underlag_TEST"))
    val mm = new MappingManager(custom)
    val src = sources.head
    assert(mm.resolve(src, "test_sample_points").sdeFc == "samples")        // exact
    assert(mm.resolve(src, "test_sample").sdeFc == "samples")               // partial (substring)
    val dflt = mm.resolve(src, "unmapped_fc")
    assert(dflt.sdeDataset == "Underlag_TEST" || dflt.sdeDataset == "underlag_test")
    // _get_sde_names split + LSTD special case
    assert(SdeNaming.sdeNames("SKS_naturvarden_point", GlobalConfig()) ==
      ("GNG.Underlag_SKS", "naturvarden_point"))
    assert(SdeNaming.sdeNames("LSTD_gi_betesmark", GlobalConfig()) ==
      ("GNG.Underlag_LstD", "gi_betesmark"))
    assert(SdeNaming.sdeNames("noprefix", GlobalConfig()) == ("GNG.Underlag_MISC", "noprefix"))
  }

  test("publish strategies: replace and append") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "replace") == 2)
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "append") == 4)
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "truncate_and_load") == 2)
    assert(Publish.publish(spark, df, "GNG.Underlag_X", "t1", "replace") == 2)
    intercept[IllegalArgumentException] {
      Publish.publish(spark, df, "GNG.Underlag_X", "t1", "bogus")
    }
  }

  test("config YAML parsing: sources, mappings, global") {
    val srcYaml =
      """sources:
        |  - name: "Test REST"
        |    authority: "TST"
        |    type: "rest_api"
        |    url: "file:///tmp/rest"
        |    enabled: true
        |    staged_data_type: "geojson"
        |    include: ["alpha;beta", "gamma"]
        |    raw: { where_clause: "1=1", layer_ids: [0, 1] }
        |""".stripMargin
    val parsed = Configs.parseSources(srcYaml)
    assert(parsed.length == 1)
    assert(parsed.head.includeStems == Seq("alpha", "beta", "gamma"))
    assert(parsed.head.raw("where_clause") == "1=1")

    val (maps, settings) = Configs.parseMappings(
      """mappings:
        |  - staging_fc: "a_fc"
        |    sde_fc: "fc"
        |    sde_dataset: "Underlag_A"
        |settings:
        |  default_schema: "GNG"
        |""".stripMargin)
    assert(maps.head.sdeDataset == "Underlag_A")
    assert(settings.defaultSchema == "GNG")

    val g = Configs.parseGlobal(
      """sde_schema: "GNG"
        |sde_load_strategy: "replace"
        |geoprocessing:
        |  enabled: true
        |  target_srid: 3010
        |  aoi_bbox: "17.9, 59.2, 18.2, 59.5"
        |sde_authority_mapping:
        |  LSTD: "GNG.Underlag_LstD"
        |paths:
        |  download: "/data/downloads"
        |monitoring:
        |  health_checks:
        |    enabled: true
        |""".stripMargin)
    assert(g.sdeLoadStrategy == "replace")
    assert(g.aoi.contains((17.9, 59.2, 18.2, 59.5)))
    assert(g.downloadDir.contains("/data/downloads"))
    assert(g.healthChecksEnabled) // config.yaml:87-88
    assert(!Configs.parseGlobal("sde_schema: \"X\"\n").healthChecksEnabled)
    // invalid source type rejected
    intercept[IllegalArgumentException] {
      Source(name = "x", authority = "y", sourceType = "carrier_pigeon", url = "u")
    }
  }

  test("cache_ttl parses tolerantly; malformed values fail as named config errors") {
    val pipe = new EtlPipeline(spark, GlobalConfig(), stagingDb = "staging_ttl")
    def src(v: Option[Any]) = Source(name = "TtlSrc", authority = "TST",
      sourceType = "file", url = "x",
      raw = v.fold(Map.empty[String, Any])(x => Map("cache_ttl" -> x)))
    assert(pipe.discoveryTtl(src(None)) == 3600L)          // default
    assert(pipe.discoveryTtl(src(Some(60))) == 60L)        // YAML int
    assert(pipe.discoveryTtl(src(Some("120"))) == 120L)    // string
    assert(pipe.discoveryTtl(src(Some(7200.0))) == 7200L)  // YAML float
    assert(pipe.discoveryTtl(src(Some("3600.0"))) == 3600L)
    val e = intercept[IllegalArgumentException] {
      pipe.discoveryTtl(src(Some("soon")))
    }
    assert(e.getMessage.contains("TtlSrc") && e.getMessage.contains("cache_ttl"),
      s"config error must name the source and field: ${e.getMessage}")
    intercept[IllegalArgumentException] { pipe.discoveryTtl(src(Some(3600.5))) }
  }
}
