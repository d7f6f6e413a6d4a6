package graft.pipeline

import java.util.concurrent.{CompletableFuture, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{GlobalConfig, OutputMapping, Source}
import graft.functions.{Naming => Names}
import graft.geo.{GeoFunctions, Geometry}
import graft.sources.{GeoJsonSource, GpkgSource, ShpSource}
import graft.sources.v2.{RestDataSource, RestTable}

/** The end-to-end config-driven pipeline (SURVEY §3.1):
  * Extract → Stage → Geoprocess → Publish, with the reference's
  * continue-on-failure ledger semantics (R3) and run summary (A1/A3).
  *
  * Execution model: [[run]] runs each source's stage → geoprocess →
  * publish chain as one task on a thread pool with one thread per lane,
  * at most 2 × defaultParallelism (the reference's fan-out over sources,
  * SURVEY §2.8): a chain's cores sit idle for most of its wall time, so
  * every lane starts at once and one source's jobs overlap another's
  * planning, catalog and commit work. The pool is created per run, so
  * its threads inherit the caller's SparkContext local properties (job
  * group, description).
  *
  * Inside a chain that clips, stage does not write: it caches and counts
  * the staged frame and hands it to geoprocess, which writes the staged
  * table once, clipped (no temp table, no copy-back). If the clip or
  * that write fails, geoprocess writes the unclipped frame first, so
  * publish sees the table a one-at-a-time run leaves. Calling the phases
  * one at a time keeps the write-then-clip-in-place path; it is the
  * oracle the chain is tested against.
  *
  * The outcome does not depend on completion order:
  *  - staging names are reserved in declared order before the fan-out,
  *    so they equal a one-at-a-time run's (§7.4);
  *  - the ledger comes back as health rows, then stage, geoprocess and
  *    publish rows, each phase in declared source order;
  *  - sources that publish to the same table, or land into the same
  *    directory, run one after another in declared order, so
  *    last-writer truncate-and-load and append results are unchanged;
  *  - each read is re-run on its own (up to 3 degradation levels);
  *  - with continueOnFailure = false, a failed chain stops (and so do
  *    the later sources on its lane); the earliest-declared source's
  *    failure is rethrown once all chains have settled.
  */
class EtlPipeline( // extensible: override readSource to plug custom readers (S8)
    spark: SparkSession,
    cfg: GlobalConfig = GlobalConfig(),
    mappings: MappingManager = new MappingManager(Seq.empty),
    stagingDb: String = "staging") {

  import EtlPipeline.{Chain, LedgerRow}

  private val ledger    = mutable.ArrayBuffer[LedgerRow]()
  private val usedNames = mutable.Set[String]()
  // the chain `run` is executing on this thread, if any
  private val chain     = new ThreadLocal[Chain]

  def results: Seq[LedgerRow] = ledger.synchronized(ledger.toSeq)

  /** Summary counts per (phase, status) — run_summary.py:10-47. */
  def summary: Map[(String, String), Long] =
    results.groupBy(r => (r.phase, r.status)).map { case (k, v) => k -> v.size.toLong }

  def firstErrors(n: Int = 10): Seq[String] =
    results.filter(_.status == "error").take(n)
      .map(r => s"${r.source}/${r.phase}: ${r.error}")

  // -------------------------------------------------------------------------

  private def record(s: Source, phase: String, status: String, t0: Long,
      table: String = "", rows: Long = 0, error: String = "",
      level: Long = 0L): Unit = {
    val row = LedgerRow(s.name, s.authority, phase, status, table, rows, error, level,
      (System.nanoTime() - t0) / 1000000L)
    val c = chain.get
    if (c != null) c.rows += row else ledger.synchronized(ledger += row)
  }

  private def reserveName(s: Source): String = usedNames.synchronized(
    Names.ensureUniqueName(Names.generateFcName(s.authority, s.name), usedNames))

  /** Extract+read one source into a normalized DataFrame (dispatch on
    * type, HANDLER_MAP semantics — S8). URLs are file://, plain paths,
    * or http(s):// — an HTTP URL lands FIRST through the pooled
    * per-origin session (R6) and the routing below then sees a local
    * file, exactly the reference's download-then-stage split
    * (file.py:228-371).
    */
  def readSource(source: Source): DataFrame = {
    val path = source.url.stripPrefix("file://")
    source.sourceType match {
      case "file" | "atom_feed"
          if source.url.startsWith("http://") || source.url.startsWith("https://") =>
        // S1 over R6: stream the payload once onto local storage via the
        // pooled HTTP session (Landing.landUrl — Content-Disposition
        // naming, per-source cache_ttl re-land window), then recurse so
        // the extension routing below handles the LANDED file.
        val stem = Names.sanitizeForFilename(source.name)
        val landDir = cfg.downloadDir
          .map(java.nio.file.Paths.get(_, stem))
          .getOrElse(java.nio.file.Paths.get(
            sys.props("java.io.tmpdir"), "graft-landing", stem))
        // absent cache_ttl = the reference's land-once cache (io.py:
        // 28-30 — exists ⇒ reuse, no expiry); the discoveryTtl 3600 s
        // default applies to the DISCOVERY response cache only, NOT to
        // landed payloads. A source opts into re-landing by setting
        // cache_ttl explicitly.
        val ttl = source.raw.get("cache_ttl").map(_ => discoveryTtl(source) * 1000L)
        val (landed, _, _) = graft.util.Landing.landUrl(source.url, landDir, ttl)
        readSource(source.copy(url = landed.toString))
      case "file" | "atom_feed" if path.toLowerCase.endsWith(".zip") =>
        // S1+S2→S3: land the archive into a per-source staging subdir
        // (idempotent cached copy, io.py:28-30), extract, then route the
        // contained data file by extension — the reference's
        // _download_and_stage_one path (file.py:228-371: zips default to
        // shapefile collections :280; gpkg/geojson pass through). Re-runs
        // skip both the copy and the extraction.
        val stem = Names.sanitizeForFilename(source.name)
        val landDir = cfg.downloadDir // config.py:69 PathsConfig.download
          .map(java.nio.file.Paths.get(_, stem))
          .getOrElse(java.nio.file.Paths.get(
            sys.props("java.io.tmpdir"), "graft-landing", stem))
        val (landed, _, fromCache) = graft.util.Landing.land(
          () => java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)),
          landDir.resolve(s"$stem.zip"))
        val extractDir = landDir.resolve("extracted")
        val cachedListing =
          if (fromCache && java.nio.file.Files.isDirectory(extractDir)) {
            val walk = java.nio.file.Files.walk(extractDir)
            try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
            finally walk.close()
          } else Nil
        // route preference mirrors the staged_data_type defaults
        // (file.py:280): shapefile collection first, then gpkg, then
        // json. ALL files of the winning class are kept — a shapefile
        // COLLECTION archive holds many .shp and the reference loads
        // every one (shapefile_loader.py:90 globs *.shp and iterates);
        // picking only the first would silently drop data.
        def route(files: Seq[java.nio.file.Path]): Seq[java.nio.file.Path] = {
          def allWith(exts: String*): Seq[java.nio.file.Path] =
            files.filter(p =>
                exts.exists(p.getFileName.toString.toLowerCase.endsWith))
              .sortBy(_.getFileName.toString)
          Seq(allWith(".shp"), allWith(".gpkg"), allWith(".geojson", ".json"))
            .find(_.nonEmpty).getOrElse(Seq.empty)
        }
        // a cached extraction that routes to nothing (e.g. a crashed
        // earlier run left a partial dir) falls back to re-extracting
        val data = Some(route(cachedListing)).filter(_.nonEmpty)
          .getOrElse(route(graft.util.Landing.extractZip(landed, extractDir)))
        if (data.isEmpty) throw new IllegalArgumentException(
          s"archive '$path' contains no stageable data file " +
            "(looked for .shp/.gpkg/.geojson/.json)")
        // recurse per extracted file (routing is now by actual extension,
        // so the archive-level stagedDataType hint is cleared) and union:
        // every reader lands on the same normalized feature schema
        data.map(p =>
            readSource(source.copy(url = p.toString, stagedDataType = None)))
          .reduce(_ unionByName _)
      case "file" | "atom_feed"
          if source.stagedDataType.contains("gpkg") ||
            path.toLowerCase.endsWith(".gpkg") =>
        // GeoPackage staging artifact: direct SQLite-walk reader (no JDBC
        // in this environment), same normalized schema as GeoJSON.
        GpkgSource.read(spark, path)
      case "file" | "atom_feed"
          if source.stagedDataType.contains("shapefile") ||
            path.toLowerCase.endsWith(".shp") =>
        // Shapefile staging artifact: direct .shp/.dbf/.prj decoder,
        // same normalized schema as GeoJSON.
        ShpSource.read(spark, path)
      case "file" | "atom_feed" =>
        GeoJsonSource.read(spark, path)
      case "rest_api" =>
        val configured = listField(source, "layer_ids").map(intItem(source, "layer_ids", _))
        val layers =
          if (configured.nonEmpty) configured
          else RestTable.discoverLayers(path, discoveryTtl(source))
        // named by class: the `graft-rest` short name resolves only where
        // the META-INF service registration is on the classpath, and a
        // classpath of just the compiled main sources (the benchmark's)
        // does not carry it
        val read = spark.read.format(classOf[RestDataSource].getName)
          .option("path", path).option("layer_ids", layers.mkString(",")).load()
        // the server-side query params (rest_api.py:189-209), pushed into
        // the scan where the connector can evaluate them
        val filters = Seq(
          Option.when(configured.nonEmpty)(col("layer_id").isin(configured: _*)),
          bboxField(source).map(b => GeoFunctions.bboxIntersects(
            col("xmin"), col("ymin"), col("xmax"), col("ymax"), b)),
          source.raw.get("where_clause").map(_.toString.trim)
            .filter(w => w.nonEmpty && w != "1=1").map(expr)).flatten
        val outFields = listField(source, "out_fields").filter(_ != "*")
        val geo = Seq("geom_type", "geometry", "srid", "xmin", "ymin", "xmax", "ymax").map(col)
        // out_fields (T3) has always staged `properties` after the bbox
        // columns; kept, so a table pinned by an earlier run does not drift
        val cols =
          if (outFields.isEmpty) Seq(col("_file"), col("feature_id"), col("properties")) ++ geo
          else (col("feature_id") +: geo) ++ Seq(col("_file"), map_from_arrays(
            array(outFields.map(lit): _*),
            array(outFields.map(col("properties").getItem): _*)).as("properties"))
        filters.foldLeft(read)(_ filter _).select(cols :+ col("layer_id"): _*)
      case "ogc_api" =>
        graft.sources.OgcApiSource.readService(spark, path, listField(source, "collections"),
          bboxField(source), discoveryTtlSeconds = discoveryTtl(source))
      case other =>
        throw new IllegalArgumentException(s"no reader for source type '$other'")
    }
  }

  /** Discovery-cache TTL for a source (R5): the `cache_ttl` raw config
    * field when present, else the performance.py:155 default (3600 s).
    * 0 disables caching for the source (every discovery refetches).
    * Parsed tolerantly — YAML loaders hand integers back as Int, Long,
    * Double ("3600.0") or String; an integral float is accepted, and a
    * genuinely malformed value fails as a CONFIG error naming the
    * source and field, not a bare NumberFormatException mid-staging.
    */
  private[pipeline] def discoveryTtl(source: Source): Long =
    source.raw.get("cache_ttl").map { v =>
      val s = v.toString.trim
      s.toLongOption
        .orElse(s.toDoubleOption.collect {
          case d if d.isWhole && math.abs(d) <= Long.MaxValue.toDouble => d.toLong
        })
        .getOrElse(throw configError(source, "cache_ttl", "an integral number of seconds", s))
    }.getOrElse(3600L)

  /** A list-valued raw config field (`layer_ids`, `collections`,
    * `out_fields`, `bbox`): a YAML list or a comma-separated string;
    * absent is empty.
    */
  private[pipeline] def listField(source: Source, field: String): Seq[String] =
    source.raw.get(field) match {
      case None | Some(null)          => Seq.empty
      case Some(l: java.util.List[_]) => l.asScala.map(String.valueOf).toSeq
      case Some(l: Seq[_])            => l.map(String.valueOf)
      case Some(v)                    => v.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }

  private def intItem(source: Source, field: String, item: String): Int =
    item.trim.toIntOption.getOrElse(throw configError(source, field, "a list of integers", item))

  /** The `bbox` raw config field: four numbers, xmin,ymin,xmax,ymax. */
  private[pipeline] def bboxField(source: Source): Option[Geometry.BBox] =
    source.raw.get("bbox").map { v =>
      listField(source, "bbox").map(_.trim.toDoubleOption) match {
        case Seq(Some(x0), Some(y0), Some(x1), Some(y1)) => Geometry.BBox(x0, y0, x1, y1)
        case _ => throw configError(source, "bbox", "four numbers xmin,ymin,xmax,ymax", v)
      }
    }

  private def configError(source: Source, field: String, want: String, got: Any) =
    new IllegalArgumentException(s"source '${source.name}': $field must be $want, got '$got'")

  /** Stage one source: include-filter (T5), fc naming (F4/F6), lineage
    * columns, write to the staging database (K1-K4). Inside [[run]], when
    * geoprocess will clip, the staged frame goes to the chain instead and
    * [[geoprocess]] writes the table once.
    */
  def stageSource(source: Source): Option[String] = {
    val t0 = System.nanoTime()
    if (!source.enabled) { record(source, "stage", "skip", t0); return None } // T1
    val c = chain.get
    // reserved before the read: the name depends only on the declared
    // enabled sources, never on which reads succeed
    val fcName = Option(c).flatMap(_.fcName).getOrElse(reserveName(source))
    var cached: DataFrame = null
    try {
      // the READ is re-run on a failure (degradation levels 1-3); a
      // deterministic failure exhausts the 3 levels and falls
      // through to the continue-on-failure ledger below (recovery.py
      // SKIP floor).
      // Spark defers scan work until an action, so the read is FORCED
      // here (cache + count): a real decode/read failure surfaces INSIDE
      // the re-run — where it can escalate — not later in the table
      // write; the staged write then reads the cached data instead of
      // re-decoding the source.
      val ((staged, count), lvl) = graft.util.Retry.degrading {
        val d = lineage(source, readSource(source))
        d.cache()
        try (d, d.count())
        catch { case e: Throwable => d.unpersist(); throw e }
      }
      cached = staged
      if (lvl > 0) record(source, "stage", "degraded", t0, level = lvl.toLong)
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$stagingDb`")
      if (cfg.pinSchemas && spark.catalog.tableExists(s"`$stagingDb`.`$fcName`")) {
        val existing = spark.table(s"`$stagingDb`.`$fcName`").schema
          .map(f => (f.name, f.dataType)).toSeq
        val incoming = staged.schema.map(f => (f.name, f.dataType)).toSeq
        if (existing != incoming)
          throw new IllegalStateException(
            s"schema drift on $fcName: staged ${incoming.mkString(",")} vs pinned ${existing.mkString(",")}")
      }
      // in a chain that clips, geoprocess writes the table, once, clipped
      val n =
        if (c != null && clips) { c.staged = Some(staged); cached = null; count }
        else {
          writeStaged(fcName, staged)
          spark.table(s"`$stagingDb`.`$fcName`").count() // T7 verification
        }
      record(source, "stage", "done", t0, fcName, n)
      Some(fcName)
    } catch {
      case e: Exception =>
        record(source, "stage", "error", t0, error = String.valueOf(e.getMessage))
        if (!cfg.continueOnFailure) throw e
        None
    } finally {
      if (cached != null) cached.unpersist()
    }
  }

  /** The include-list semi-filter on the landed file stem (T5) and the
    * lineage columns, over one source's read.
    */
  private def lineage(source: Source, read: DataFrame): DataFrame = {
    // the stems are a handful of config strings: isin == broadcast by
    // construction
    val df = source.includeStems match {
      case Seq() => read
      case stems =>
        val stemCol = lower(regexp_replace(
          regexp_extract(col("_file"), "([^/]+)\\.[A-Za-z0-9]+$", 1), "^main\\.", ""))
        read.filter(stemCol.isin(stems.map(_.toLowerCase): _*))
    }
    df.withColumn("source_id", lit(source.name))
      .withColumn("authority", lit(source.authority))
      .drop("_file")
  }

  private def writeStaged(fcName: String, df: DataFrame): Unit = {
    Cleanup.ensureWritable(spark, stagingDb, fcName)
    df.write.mode("overwrite").saveAsTable(s"`$stagingDb`.`$fcName`")
  }

  /** Whether [[geoprocess]] clips: geoprocessing on and an AOI set. */
  private def clips: Boolean =
    cfg.geoprocessingEnabled && (cfg.aoi.isDefined || cfg.aoiWkt.isDefined)

  /** Geoprocess in place (G1+G2, pipeline.py:408-460): skip silently when
    * no AOI is configured — the reference logs and no-ops
    * (pipeline.py:424-429, the 0.001s phase in the shipped run log).
    * Given the staged frame [[stageSource]] handed off inside [[run]], it
    * writes the staged table once, clipped; if the clip or that write
    * fails, the unclipped frame is written first, so the table holds
    * what a one-at-a-time run leaves behind.
    */
  def geoprocess(source: Source, fcName: String): Unit = {
    val t0 = System.nanoTime()
    val handed = Option(chain.get).flatMap(_.takeStaged())
    if (!clips) { record(source, "geoprocess", "skip", t0, fcName); return }
    val tmp = s"${fcName}__gp_tmp"
    try {
      handed match {
        case Some(staged) =>
          try writeStaged(fcName, clip(staged))
          catch {
            case e: Exception =>
              try writeStaged(fcName, staged) catch { case f: Exception => e.addSuppressed(f) }
              throw e
          }
        case None =>
          // in-place replace (Delete + CopyFeatures, geoprocess.py:79-81):
          // stage to temp then overwrite — Spark can't overwrite a table
          // from a plan that reads the same table
          clip(spark.table(s"`$stagingDb`.`$fcName`"))
            .write.mode("overwrite").saveAsTable(s"`$stagingDb`.`$tmp`")
          spark.table(s"`$stagingDb`.`$tmp`").write.mode("overwrite")
            .saveAsTable(s"`$stagingDb`.`$fcName`")
      }
      val n = spark.table(s"`$stagingDb`.`$fcName`").count()
      record(source, "geoprocess", "done", t0, fcName, n)
    } catch {
      case e: Exception =>
        record(source, "geoprocess", "error", t0, fcName, error = String.valueOf(e.getMessage))
        if (!cfg.continueOnFailure) throw e
    } finally handed match {
      case Some(staged) => staged.unpersist()
      case None         => spark.sql(s"DROP TABLE IF EXISTS `$stagingDb`.`$tmp`")
    }
  }

  /** The clipped, reprojected rows of a staged frame, in its column
    * order, so re-staging into the clipped table passes the schema pin.
    */
  private def clip(staged: DataFrame): DataFrame = {
    // exact polygon boundary when configured (the reference's actual
    // PairwiseClip semantics); bbox clip otherwise — same plan shape,
    // only the exact kernel differs
    val clipped = cfg.aoiWkt match {
      case Some(wkt) =>
        GeoFunctions.clipProjectAoi(staged, wkt, cfg.targetSrid)
      case None =>
        val (a, b, c, d) = cfg.aoi.get
        GeoFunctions.clipProject(staged, Geometry.BBox(a, b, c, d), cfg.targetSrid)
    }
    clipped.select(staged.columns.toSeq.map(col): _*)
  }

  /** Publish one staged table through the mapping overlay (K5-K7). */
  def publishTable(source: Source, fcName: String): Unit = {
    val t0 = System.nanoTime()
    try {
      val mapping: OutputMapping = mappings.resolve(source, fcName)
      if (!mapping.enabled) { record(source, "publish", "skip", t0, fcName); return }
      val n = Publish.publish(
        spark, spark.table(s"`$stagingDb`.`$fcName`"),
        mapping.sdeDataset, mapping.sdeFc, cfg.sdeLoadStrategy)
      record(source, "publish", "done", t0, s"${mapping.sdeDataset}.${mapping.sdeFc}", n)
    } catch {
      case e: Exception =>
        record(source, "publish", "error", t0, fcName, error = String.valueOf(e.getMessage))
        if (!cfg.continueOnFailure) throw e
    }
  }

  /** A5 preflight: the reference's default health checks
    * (monitoring.py:250-438) against this driver process and the
    * landing filestore, one ledger row per check (phase `health`,
    * status = the check's band, message in the error column when not
    * healthy). Overridable for custom monitors (the register_check
    * surface).
    */
  protected def healthMonitor(): graft.util.Health.Monitor =
    graft.util.Health.defaultMonitor(
      cfg.downloadDir.map(java.nio.file.Paths.get(_))
        .getOrElse(java.nio.file.Paths.get(".")))

  private def preflight(): Unit = {
    val st = healthMonitor().status()
    ledger.synchronized {
      st.checks.toSeq.sortBy(_._1).foreach { case (name, c) =>
        ledger += LedgerRow("_preflight", "SYS", "health", c.status, name, 0,
          if (c.status == "healthy") "" else c.message)
      }
    }
    // unhealthy aborts unless the run is declared continue-on-failure —
    // the same continue-on-failure rule every staging error rides (R3)
    if (st.status == "unhealthy" && !cfg.continueOnFailure)
      throw new IllegalStateException(
        "preflight health checks unhealthy: " + st.checks.values
          .filter(_.status == "unhealthy").map(_.message).mkString("; "))
  }

  /** The full run (SURVEY §3.1 steps 3-8): one chain per source on a
    * per-run pool; see the class doc for the ordering guarantees.
    */
  def run(sources: Seq[Source]): Seq[LedgerRow] = {
    if (cfg.healthChecksEnabled) preflight()
    val chains = sources.map(s => new Chain(Option.when(s.enabled)(reserveName(s))))
    if (chains.exists(_.fcName.isDefined))
      spark.sql(s"CREATE DATABASE IF NOT EXISTS `$stagingDb`")
    val failures = new Array[Throwable](sources.size)
    def runChain(i: Int): Boolean = {
      val s = sources(i)
      chain.set(chains(i))
      try stageSource(s).foreach { fc => geoprocess(s, fc); publishTable(s, fc) }
      catch { case e: Throwable => failures(i) = e }
      finally { chains(i).takeStaged().foreach(_.unpersist()); chain.remove() }
      failures(i) == null
    }
    val lanes = EtlPipeline.lanes(sources.indices.map(i => resourcesOf(sources(i), chains(i).fcName)))
    val pool = Executors.newFixedThreadPool(math.max(1,
      math.min(lanes.size, EtlPipeline.LanesPerCore * spark.sparkContext.defaultParallelism)))
    try lanes.map(l => CompletableFuture.runAsync(() => l.forall(runChain), pool)).foreach(_.join())
    finally pool.shutdown()
    ledger.synchronized {
      for (phase <- Seq("stage", "geoprocess", "publish"); c <- chains)
        ledger ++= c.rows.filter(_.phase == phase)
    }
    failures.find(_ != null).foreach(e => throw e)
    results
  }

  /** What a source's chain writes that another source's chain may write
    * too: its landing directory (Left) and its publish table (Right).
    */
  private def resourcesOf(s: Source, fcName: Option[String]): Set[Either[String, (String, String)]] =
    fcName.fold(Set.empty[Either[String, (String, String)]]) { fc =>
      val m = mappings.resolve(s, fc)
      Set(Left(Names.sanitizeForFilename(s.name))) ++
        Option.when(m.enabled)(Right(Publish.target(m.sdeDataset, m.sdeFc)))
    }
}

object EtlPipeline {
  /** One ledger row per (source, phase) — the Summary surface (A1):
    * phase ∈ {stage, geoprocess, publish}, status ∈ {done, skip, error};
    * `durationMs` is the wall time of the phase call that wrote it.
    * Top-level (not nested in the class) so the case-class type test
    * needs no outer-instance check.
    */
  final case class LedgerRow(
      source: String, authority: String, phase: String, status: String,
      table: String, rows: Long, error: String, level: Long = 0L,
      durationMs: Long = 0L)

  /** Threads per core in [[EtlPipeline.run]]'s pool: a chain's cores are
    * busy for well under half of its wall time (driver work, catalog
    * calls, commits), so two lanes per core keep them fed.
    */
  private[pipeline] val LanesPerCore = 2

  /** One source's chain inside [[EtlPipeline.run]]: its reserved staging
    * name, the ledger rows it has recorded so far, and the cached staged
    * frame stage has handed to geoprocess, if any.
    */
  private final class Chain(val fcName: Option[String]) {
    val rows = mutable.ArrayBuffer[LedgerRow]()
    var staged: Option[DataFrame] = None

    def takeStaged(): Option[DataFrame] = try staged finally staged = None
  }

  /** Groups source indices into lanes: sources that share a resource are
    * in one lane, in declared order; lanes are ordered by first source.
    */
  private[pipeline] def lanes[K](resources: Seq[Set[K]]): Seq[Seq[Int]] =
    resources.indices.foldLeft(Vector.empty[(Set[K], Vector[Int])]) { (acc, i) =>
      val (shared, rest) = acc.partition(_._1.exists(resources(i)))
      rest :+ shared.foldLeft((resources(i), Vector(i))) {
        case ((r, l), (r2, l2)) => (r ++ r2, l ++ l2)
      }
    }.map(_._2.sorted).sortBy(_.head)
}
