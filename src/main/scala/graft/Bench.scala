package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    // production state store for the stateful drains: RocksDB bounds
    // streaming state by local disk, not executor heap, and measured
    // FASTER on the streaming sextet (COVERAGE round 13: 12.1 → 10.4 s).
    // SPARK_GRAFT_STATE_STORE still overrides (resolveProvider's env
    // leg), so `hdfs`-default comparisons stay one env var away.
    if (graft.streaming.StateStores.resolveProvider(spark).isEmpty)
      spark.conf.set(graft.streaming.StateStores.ProviderKey,
        graft.streaming.StateStores.RocksDb)
    // untimed warmup: session/codegen/scheduler spin-up should not be
    // charged to the first query (BASELINE.md: per-query fixed cost is
    // the risk, so one session is reused and primed).
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    // ingest-excluded contract: pay-once LAYOUT writes (bucketed join
    // tables, z-order copy, search indexes) happen here, in warmup.
    // They are "pay at ingest, reuse every query" by design, so a
    // fresh warehouse must not charge them to the first measured
    // iteration of q75/q84/q90-q95 — medians measure query time
    // against the prepared layout. The ensure* calls are idempotent,
    // so the in-query calls below become no-ops.
    SparkEntry.prepareLayouts(spark, sfDir)
    // per-query median-of-N (default 3): this box is shared, and single
    // timings swing up to 8x on seconds-long queries — medians make
    // round-over-round comparison signal instead of noise. Iteration 1
    // also absorbs the one-time codegen cost of each query, so the
    // median reflects steady state.
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    // CALIBRATION pair (r18 verdict ask #4): two pinned probes — one
    // pure-CPU (no IO, no exchange) and one tiny-shuffle — run FIRST
    // and LAST and recorded in every artifact, so round-over-round
    // comparisons can normalize away box drift without a same-box A/B.
    // The r17→r18 1.25x "regression" consumed a whole round's perf
    // signal before a tree-level A/B proved it was the box; these two
    // numbers make that adjudication a division. Median-of-3 each,
    // after a warm run, so the pair itself is noise-resistant.
    def calibrate(): (Double, Double) = {
      def med(body: => Unit): Double = {
        body
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }.sorted
        ts(1)
      }
      val cpu = med {
        // modulo before the sum: 3e7 full-range hashes overflow a
        // long under ANSI; 3e7 · 1e6 stays comfortably inside
        spark.range(0, 30000000L, 1, 1)
          .selectExpr("sum(pmod(xxhash64(id), 1000000))").collect()
        ()
      }
      val shuffle = med {
        spark.range(0, 2000000L)
          .selectExpr("id % 1000 as k")
          .groupBy("k").count()
          .agg(org.apache.spark.sql.functions.sum("count")).collect()
        ()
      }
      (cpu, shuffle)
    }
    val (calCpu0, calShuf0) = calibrate()
    // optional comma-separated name filter for local iteration; the
    // driver sets no filter and benches everything. Unknown names fail
    // loudly — a typo'd filter must never read as a clean (empty) run.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: ${unknown.mkString(",")}")
    }
    val results = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      var err: Option[String] = None
      // iteration order preserved in the JSON (medians hide which
      // iteration a spike hit — shared-box interference diagnosis
      // needs the raw sequence)
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        // noop sink, not count(): count() lets Catalyst prune final
        // projections and EliminateSorts drop ORDER BYs, so projection-heavy
        // queries would be under-measured; noop executes the full plan.
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          // a failed query must be VISIBLE in the JSON, never bench as a
          // ~0s success — a broken build would otherwise read as a speedup
          err = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // measurement-integrity guard (r20 verdict #1): drop any SQL
        // cache a query left behind so iteration N+1 can never be
        // served from iteration N's InMemoryRelation — Spark's
        // CacheManager matches by logical plan, so an unreleased
        // persist() would silently turn the median into a warm-cache
        // time (exactly what inflated q63's r20 number). Outside the
        // timed region; a no-op when queries own their cache lifetime.
        spark.catalog.clearCache()
        dt
      }
      val sorted = times.sorted
      (name, sorted(sorted.size / 2), err, times)
    }
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // an errored query reports null, not its fast-fail time, and is
    // excluded from total — a broken build must never read as a speedup
    val qs = results.map {
        case (k, _, Some(_), _) => s"${jstr(k)}:null"
        case (k, v, None, _)    => s"${jstr(k)}:$v"
      }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e), _) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    // raw per-iteration wall times in run order: a 2x median swing on a
    // shared box is adjudicated from these, not re-benched
    val itersJson = results.map { case (k, _, _, ts) =>
        s"${jstr(k)}:${ts.mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    val nErr = results.count(_._3.isDefined)
    val total = results.collect { case (_, v, None, _) => v }.sum
    // Locale.ROOT: a comma decimal separator would corrupt the JSON
    def r4(v: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, v)
    // the closing calibration pair: first-vs-last also exposes
    // WITHIN-run drift (a box that slowed down mid-capture shows a
    // cpu_last/cpu_first ratio far from 1)
    val (calCpu1, calShuf1) = calibrate()
    val calJson = s""""calibration":{"cpu":[${r4(calCpu0)},${r4(calCpu1)}],"shuffle":[${r4(calShuf0)},${r4(calShuf1)}]}"""
    val fileJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"error_count":$nErr,"iters":$iters,"iterations":$itersJson,$calJson,"sf":"$sfDir"}"""
    // stdout, two lines: first the medians-only line (humans + logs),
    // LAST a ≤400-char summary. The driver's capture keeps only the
    // final 2000 chars of stdout (measured: BENCH_r14/r15/r16 all
    // carry a tail of exactly 2000 and parsed:null) — the 128-query
    // names alone are >2000 chars, so NO per-query line can survive
    // the window; the summary line always does, and the full
    // per-query/per-iteration evidence lives in the file artifact.
    val qsShort = results.map {
        case (k, _, Some(_), _) => s"${jstr(k)}:null"
        case (k, v, None, _)    => s"${jstr(k)}:${r4(v)}"
      }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$qsShort,"errors":$errs,"error_count":$nErr,"iters":$iters,$calJson,"sf":"$sfDir"}""")
    // summary "queries" = the 5 slowest medians (the ones worth
    // watching), count of the omitted rest alongside so the line reads
    // honestly. Errors are CAPPED too (names + 40-char messages, first
    // 5): an error-heavy run would otherwise blow the very window this
    // line exists to fit, exactly when visibility matters most.
    val slowestPairs = results.collect { case (k, v, None, _) => (k, v) }
      .sortBy(-_._2).take(5)
    val slowest = slowestPairs
      .map { case (k, v) => s"${jstr(k)}:${r4(v)}" }
      .mkString("{", ",", "}")
    val errsShort = results.collect { case (k, _, Some(e), _) => (k, e) }
      .take(5)
      .map { case (k, e) => s"${jstr(k)}:${jstr(e.take(40))}" }
      .mkString("{", ",", "}")
    // the canonical committed artifact (r15 ask): the FULL per-query/
    // per-iteration evidence lands in a file — the sf0.1 run refreshes
    // BENCH_sf01_local.json in the repo; other SFs only write when
    // SPARK_GRAFT_BENCH_OUT names a destination, so local iteration at
    // sf0.01 doesn't litter the tree. Partial (SPARK_GRAFT_BENCH_ONLY-
    // filtered) runs never overwrite the full-suite artifact. The
    // default path resolves against the REPO ROOT (nearest ancestor of
    // cwd holding build.sbt), not bare cwd — a bench launched from
    // elsewhere must not scatter the committed evidence or fail on a
    // read-only cwd; if no root is found the write is skipped loudly
    // and SPARK_GRAFT_BENCH_OUT remains the explicit override.
    val sfName = new java.io.File(sfDir).getName
    val outFile: Option[java.nio.file.Path] =
      sys.env.get("SPARK_GRAFT_BENCH_OUT")
        .map(java.nio.file.Paths.get(_))
        .orElse {
          if (sfName == "sf0.1" && only.isEmpty) {
            val root = Iterator.iterate(
                java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
              .takeWhile(_ != null)
              .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
            if (root.isEmpty) System.err.println(
              "graft.Bench: no repo root (build.sbt) above cwd — " +
                "skipping BENCH_sf01_local.json; set SPARK_GRAFT_BENCH_OUT")
            root.map(_.resolve("BENCH_sf01_local.json"))
          } else None
        }
    outFile.foreach { f =>
      java.nio.file.Files.write(f,
        (fileJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // "detail" names the artifact THIS run actually wrote (absent when
    // no file was written) — a hardcoded name would point readers at a
    // stale artifact from some other run/SF
    val detail = outFile
      .map(f => s""","detail":${jstr(f.toString)}""").getOrElse("")
    // stop BEFORE the final println: the driver parses the LAST stdout
    // line as JSON, so nothing — not even a stray shutdown log line —
    // may print after the summary (build.sbt's showSuccess:=false
    // removes sbt's own trailer for the same reason)
    spark.stop()
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","queries":$slowest,"queries_omitted":${results.size - slowestPairs.size},"n_queries":${results.size},"errors":$errsShort,"errors_omitted":${math.max(0, nErr - 5)},"error_count":$nErr,"iters":$iters,$calJson,"sf":"$sfDir"$detail}""")
  }
}
