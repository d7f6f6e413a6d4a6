package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.config.{GlobalConfig, Source}
import graft.operators.{Dedup, Similarity}
import graft.pipeline.EtlPipeline

/** The JVM half of the benchmark: `perfbench.Harness <config.json>`.
  *
  * It drives one workload through the program's public entry points and
  * writes raw observations (set-up times, per-operation walls, per-pass
  * walls, check data and, when traced, spans and Spark events) as JSON
  * to the config's `out` path. All metric arithmetic happens in
  * `perfbench/metrics.py`.
  */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val cfg    = mapper.readTree(new java.io.File(args(0)))
    val trace  = cfg.get("trace").asBoolean()
    val cores  = cfg.get("cores").asInt()
    val dirs   = cfg.get("dirs")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", dirs.get("warehouse").asText())
      .config("spark.local.dir", dirs.get("local").asText())
      .config("spark.sql.streaming.checkpointLocation", dirs.get("checkpoint").asText())
      .config("spark.checkpoint.dir", dirs.get("checkpoint").asText())
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    if (trace)
      b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
        .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftExtensions.install(spark)
    val run = new Run(spark, cfg)
    val out = try {
      cfg.get("workload_kind").asText() match {
        case "queries" => new QueryWorkload(run).execute()
        case "etl"     => new EtlWorkload(run).execute()
        case "churn"   => new ChurnWorkload(run).execute()
      }
      run.result
    } finally spark.stop()
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(cfg.get("out").asText()), Run.toJava(out))
  }
}

/** Shared state of one run: the session, the config, the tracer and the
  * observation record the workloads fill.
  */
final class Run(val spark: SparkSession, val cfg: JsonNode) {
  val tracer  = new Tracer(spark.sparkContext)
  val passes  = cfg.get("passes").asInt()
  val trace   = cfg.get("trace").asBoolean()
  val p       = cfg.get("params")
  val record  = mutable.LinkedHashMap[String, Any]()
  val errors  = mutable.ArrayBuffer[String]()
  var attempted = 0L

  private val t0 = System.nanoTime()

  /** Progress line in the JVM log, for diagnosing a slow or failed run. */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%8.2fs] $msg")

  def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Counts one operation; a throw is recorded as a failure, not raised. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  /** Runs `passes` timed passes of `pass`, untraced; when tracing, as
    * many traced passes follow (after the untraced ones only with
    * `untracedWhenTracing`), so the overhead can be computed. `pass`
    * returns its per-operation walls in milliseconds.
    */
  def measure(untracedWhenTracing: Boolean = true)(pass: Int => Seq[(String, Double)]): Unit = {
    def runPasses(from: Int) = (0 until passes).map { i =>
      log(s"pass ${from + i}")
      val t0 = System.nanoTime()
      val ops = pass(from + i)
      Map("wall_ms" -> (System.nanoTime() - t0) / 1e6,
        "ops" -> ops.map { case (n, ms) => Seq(n, ms) })
    }
    if (!trace || untracedWhenTracing) record("passes") = runPasses(0)
    if (trace) {
      val ts = new TraceSession(spark.sparkContext, tracer)
      ts.start()
      val traced = tracer.span("run")(runPasses(passes))
      record("traced_passes") = traced
      record("trace") = ts.stop()
    }
  }

  def result: Map[String, Any] = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwm = status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    record.toMap ++ Map("errors" -> errors.toSeq, "attempted" -> attempted, "vm_hwm_kb" -> hwm)
  }
}

object Run {
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] =>
      val l = new java.util.ArrayList[Any]()
      s.foreach(x => l.add(toJava(x)))
      l
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}

/** query_suite / query_heavy: `SparkEntry.queries` over generated tables. */
final class QueryWorkload(run: Run) {
  import run._

  def execute(): Unit = {
    val d     = p.get("data_dir").asText()
    val names = strs(p.get("queries"))
    val fns   = SparkEntry.queries
    // set-up: the pay-once layouts (bucketed tables, search and ANN indexes)
    record("setup_s") = secondsOf(SparkEntry.prepareLayouts(spark, d))._2
    // untimed warm pass that also captures each result for the oracle check
    val checkDir = p.get("check_dir").asText()
    names.foreach { n =>
      attempt(s"$n (check pass)") {
        fns(n)(spark, d).coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n")
        Files.writeString(Paths.get(s"$checkDir/$n.sql"), SparkEntry.oracleSql(n))
      }
      spark.catalog.clearCache()
    }
    measure() { _ =>
      tracer.span("pass") {
        names.flatMap { n =>
          val t0 = System.nanoTime()
          val ok = tracer.span(s"query:$n") {
            attempt(n)(fns(n)(spark, d).write.format("noop").mode("overwrite").save())
          }
          val ms = (System.nanoTime() - t0) / 1e6
          // outside the timed region: no query may be served from the
          // previous pass's cached relation
          spark.catalog.clearCache()
          ok.map(_ => n -> ms)
        }
      }
    }
  }
}

/** Loopback HTTP file server for the pipeline's http sources, counting
  * requests and bytes served. Its pool is no larger than the core count.
  */
final class FileServer(root: Path, threads: Int) {
  val requests = new AtomicLong()
  val bytes    = new AtomicLong()
  private val server = com.sun.net.httpserver.HttpServer.create(
    new java.net.InetSocketAddress(java.net.InetAddress.getLoopbackAddress, 0), 0)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  server.createContext("/", ex => {
    try {
      val f = root.resolve(ex.getRequestURI.getPath.stripPrefix("/")).normalize()
      if (!f.startsWith(root) || !Files.isRegularFile(f)) {
        ex.sendResponseHeaders(404, -1)
      } else {
        val data = Files.readAllBytes(f)
        ex.sendResponseHeaders(200, data.length.toLong)
        ex.getResponseBody.write(data)
        requests.incrementAndGet()
        bytes.addAndGet(data.length.toLong)
      }
    } finally ex.close()
  })
  server.setExecutor(pool)
  server.start()
  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}

/** etl_refresh: nightly refresh runs of the paper's pipeline. */
final class EtlWorkload(run: Run) {
  import run._

  private final case class Call(source: String, phase: String, ms: Double,
      httpRequests: Long, httpBytes: Long)

  /** The pipeline with each layer call timed and wrapped in a span. */
  private final class TimedPipeline(c: GlobalConfig, db: String, server: FileServer,
      calls: mutable.ArrayBuffer[Call]) extends EtlPipeline(spark, c, stagingDb = db) {
    private def timed[T](s: Source, phase: String)(body: => T): T = {
      val (r0, b0) = (server.requests.get, server.bytes.get)
      val t0 = System.nanoTime()
      val v = tracer.span(s"$phase:${s.name}")(body)
      calls += Call(s.name, phase, (System.nanoTime() - t0) / 1e6,
        server.requests.get - r0, server.bytes.get - b0)
      v
    }
    private var depth = 0
    // readSource recurses for landed and archived sources; time the
    // outermost call, which covers the landing and every member file
    override def readSource(s: Source): DataFrame = {
      depth += 1
      try if (depth == 1) timed(s, "extract")(super.readSource(s)) else super.readSource(s)
      finally depth -= 1
    }
    override def stageSource(s: Source): Option[String] = timed(s, "stage")(super.stageSource(s))
    override def geoprocess(s: Source, fc: String): Unit = timed(s, "geoprocess")(super.geoprocess(s, fc))
    override def publishTable(s: Source, fc: String): Unit = timed(s, "publish")(super.publishTable(s, fc))
  }

  def execute(): Unit = {
    val manifest = new ObjectMapper().readTree(new java.io.File(p.get("manifest").asText()))
    val server = new FileServer(Paths.get(p.get("served_dir").asText()).toAbsolutePath,
      math.max(1, math.min(4, Runtime.getRuntime.availableProcessors())))
    try {
      def source(s: JsonNode): Source = {
        val url = s.get("url").asText()
        Source(name = s.get("name").asText(), authority = s.get("authority").asText(),
          sourceType = s.get("type").asText(),
          url = if (url.startsWith("http:")) server.base + url.stripPrefix("http:") else url,
          stagedDataType = Option(s.get("staged_data_type")).map(_.asText()),
          raw = mapper(s.get("raw")))
      }
      val gcfg = GlobalConfig(
        aoiWkt = Some(manifest.get("aoi_wkt").asText()),
        targetSrid = manifest.get("target_srid").asInt(),
        sdeLoadStrategy = "truncate_and_load",
        downloadDir = Some(p.get("landing_dir").asText()),
        healthChecksEnabled = false)
      // set-up: the first load, which creates the staging and target
      // tables; the refreshes below truncate-and-load the targets
      val srcs = manifest.get("sources").elements().asScala.toSeq.map(source)
      val setupCalls = mutable.ArrayBuffer[Call]()
      record("setup_s") = secondsOf(new TimedPipeline(gcfg, "staging", server, setupCalls)
        .run(srcs))._2
      record("setup_calls") = callRows(setupCalls.toSeq)
      val ledgers = mutable.ArrayBuffer[Seq[Map[String, Any]]]()
      measure() { i =>
        val calls = mutable.ArrayBuffer[Call]()
        // each refresh stages into a fresh staging database: re-staging
        // over a geoprocessed table of the same name fails the pinned-
        // schema check (the clipped table's column order differs)
        val db = s"staging_r$i"
        val pipe = new TimedPipeline(gcfg, db, server, calls)
        attempted += srcs.size
        tracer.span("pass")(pipe.run(srcs))
        spark.sql(s"DROP DATABASE IF EXISTS `$db` CASCADE")
        ledgers += pipe.results.map(r => Map("source" -> r.source, "phase" -> r.phase,
          "status" -> r.status, "table" -> r.table, "rows" -> r.rows, "error" -> r.error))
        record.getOrElseUpdate("calls", mutable.ArrayBuffer[Any]())
          .asInstanceOf[mutable.ArrayBuffer[Any]] += callRows(calls.toSeq)
        // one operation = one pipeline call on one source: stage,
        // geoprocess or publish (extract runs inside stage)
        calls.filter(_.phase != "extract").map(c => s"${c.phase}:${c.source}" -> c.ms).toSeq
      }
      record("ledgers") = ledgers.toSeq
    } finally server.stop()
  }

  private def callRows(calls: Seq[Call]): Seq[Map[String, Any]] =
    calls.map(c => Map("source" -> c.source, "phase" -> c.phase, "ms" -> c.ms,
      "http_requests" -> c.httpRequests, "http_bytes" -> c.httpBytes))

  private def mapper(n: JsonNode): Map[String, Any] =
    if (n == null) Map.empty
    else n.fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isArray) v.elements().asScala.map(x => if (x.isInt) x.asInt() else x.asText()).toSeq
                   else if (v.isInt) v.asInt() else v.asText())
    }.toMap
}

/** index_churn: fold / probe / delete / probe / compact / probe cycles
  * over an IVF index and a MinHash band index.
  */
final class ChurnWorkload(run: Run) {
  import run._
  import spark.implicits._

  def execute(): Unit = {
    val dir     = p.get("data_dir").asText()
    val k       = p.get("k").asInt()
    val nProbe  = p.get("n_probe").asInt()
    val qBatch  = p.get("query_batch").asInt()
    val nBatch  = p.get("batches").asInt()
    val vectors = spark.read.parquet(s"$dir/vectors.parquet")
    val docs    = spark.read.parquet(s"$dir/documents.parquet")
    val corpusV = vectors.filter(col("batch") === -1).select("vec_id", "embedding")
    val corpusD = docs.filter(col("batch") === -1).select("doc_id", "text")
    val queries = spark.read.parquet(s"$dir/queries.parquet").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    val qChunks = queries.grouped(qBatch).toSeq
    val probeDocs = docs.filter(col("batch") === -1 && col("doc_id") % 50 === 0)
      .select("doc_id", "text").cache()
    probeDocs.count()

    val prefix = "churn_band"
    log("setup")
    val (ivf, setupS) = secondsOf {
      Dedup.ensureMinhashBandIndex(corpusD, tablePrefix = prefix, srcTag = dir)
      Similarity.ensureIvfIndex(corpusV, srcTag = dir)._1
    }
    record("setup_s") = setupS

    type Result = Seq[Seq[Long]]
    def ivfProbe(qs: Seq[(Long, Seq[Float])]): Result =
      Similarity.ivfProbeBatch(spark, ivf, qs, k, nProbe, excludeSelf = false)
        .select("query_id", "rk", "vec_id").as[(Long, Long, Long)].collect()
        .toSeq.map(t => Seq(t._1, t._2, t._3)).sortBy(r => (r(0), r(1)))
    def bandProbe(): Result = {
      val (bt, st) = Dedup.currentIndexTables(spark, prefix)
      Dedup.incrementalNearDupPairs(probeDocs, bt, st)
        .select("new_doc", "dup_of").as[(Long, Long)].collect()
        .toSeq.map(t => Seq(t._1, t._2)).sorted(Ordering.Implicits.seqOrdering[Seq, Long])
    }

    /** One probe phase: every query chunk through the IVF index, then
      * the band probe; returns per-call walls and the merged results.
      */
    def probePhase(phase: String): (Seq[(String, Double)], Map[String, Result]) =
      tracer.span(s"probe.$phase") {
        log(s"probe $phase")
        val ops = mutable.ArrayBuffer[(String, Double)]()
        val res = mutable.Map[String, Result]("ivf" -> Seq(), "band" -> Seq())
        def call(kind: String)(body: => Result): Unit = {
          val t0 = System.nanoTime()
          attempt(s"$kind probe ($phase)")(tracer.span(s"call.$kind")(body)).foreach { r =>
            ops += (s"probe.$kind.$phase" -> (System.nanoTime() - t0) / 1e6)
            res(kind) = res(kind) ++ r
          }
        }
        qChunks.foreach(qs => call("ivf")(ivfProbe(qs)))
        call("band")(bandProbe())
        (ops.toSeq, res.toMap)
      }

    def cellFiles(path: String): Long = {
      val walk = Files.walk(Paths.get(Similarity.activeCellsDir(spark, path)))
      try walk.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
      finally walk.close()
    }

    val cycleRows = mutable.ArrayBuffer[Map[String, Any]]()

    /** Maintenance cycle `i` on fold batch `i mod batches`: fold, probe,
      * delete, probe, compact, probe. Returns the operation walls (one
      * operation = one call into the index API: a maintenance step or a
      * batched probe call) and the tombstoned and purged probe results.
      */
    def cycle(i: Int): (Seq[(String, Double)], Map[String, Result], Map[String, Result]) = {
      val b = i % nBatch
      val tag = s"c$i"
      val batchV = vectors.filter(col("batch") === b).select("vec_id", "embedding")
      val batchD = docs.filter(col("batch") === b).select("doc_id", "text")
      val ids    = batchV.select("vec_id")
      val docIds = batchD.select("doc_id")
      val steps  = mutable.LinkedHashMap[String, Double]()
      def step(name: String)(body: => Unit): Unit = {
        log(name)
        val t0 = System.nanoTime()
        attempt(s"$name ($tag)")(tracer.span(name)(body))
        steps(name) = (System.nanoTime() - t0) / 1e6
      }
      tracer.span("cycle") {
        step("ivf.fold")(Similarity.foldIntoIvfIndex(batchV, ivf, s"fold-$tag"))
        step("band.fold")(Dedup.foldIntoMinhashBandIndex(batchD, prefix, s"fold-$tag"))
        val (o1, _) = probePhase("intact")
        // the IVF takedown arrives as a stream of two micro-batches
        step("ivf.delete")(graft.streaming.AnnIngestStream.drainDeletes(
          Seq(ids.filter(col("vec_id") % 2 === 0), ids.filter(col("vec_id") % 2 === 1)),
          ivf, s"del-$tag"))
        step("band.delete")(Dedup.deleteFromMinhashBandIndex(docIds, prefix, s"del-$tag"))
        val (o2, tomb) = probePhase("tombstoned")
        val before = cellFiles(ivf)
        step("ivf.compact")(Similarity.compactIvfCells(spark, ivf))
        step("band.compact")(Dedup.compactMinhashBandIndex(spark, prefix))
        val after = cellFiles(ivf)
        val (o3, purged) = probePhase("purged")
        cycleRows += Map("cycle" -> i, "steps" -> steps.toMap,
          "cell_files_before_compact" -> before, "cell_files_after_compact" -> after,
          "ivf_bytes" -> graft.util.LocalFs.dirBytes(ivf),
          "ivf_active_bytes" -> graft.util.LocalFs.dirBytes(Similarity.activeCellsDir(spark, ivf)))
        (steps.toSeq ++ o1 ++ o2 ++ o3, tomb, purged)
      }
    }

    val (_, reference) = probePhase("before")
    record("reference_ivf") = reference("ivf")
    // a traced run times a second, warm reference probe: the untraced
    // twin of each cycle's closing probe, for the tracing overhead
    if (trace) record("reference_probe_ms") = secondsOf(probePhase("before"))._2 * 1000

    // traced runs skip the untraced cycle (see reference_probe_ms)
    measure(untracedWhenTracing = false) { c =>
      val (ops, tomb, purged) = cycle(c)
      for ((phase, res) <- Seq("tombstoned" -> tomb, "purged" -> purged);
           kind <- Seq("ivf", "band")) {
        attempted += 1
        if (res(kind) != reference(kind))
          errors += s"cycle $c: $kind probe $phase differs from the pre-fold result"
      }
      ops
    }
    record("cycles") = cycleRows.toSeq
  }
}
