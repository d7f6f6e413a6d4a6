package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The  quick brown fox jumps over the lazy dog"), // ws/case variant → exact dup
    (3L, "the quick brown fox jumps over the lazy cat"),  // near dup (1 word off)
    (4L, "completely different text about spark engines"),
    (5L, "the quick brown fox jumps over the lazy dog")   // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactDedupSummary clusters canonical-form duplicates, keeps min id") {
    val out = Dedup.exactDedupSummary(docs).collect()
    assert(out.length == 3)
    val cluster = out.find(_.getAs[Long]("n_dups") == 3L).get
    assert(cluster.getAs[Long]("keep_id") == 1L)
  }

  test("exactDedup keeps one row per canonical text") {
    val kept = Dedup.exactDedup(docs).select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 3L, 4L)))
  }

  test("jaccardNearDupPairs finds word-overlap pairs with exact arithmetic") {
    val pairs = Dedup.jaccardNearDupPairs(docs, thresholdPct = 80)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // 1-2-5 have identical word sets (jaccard 1.0); 3 vs 1 is 7/9 ≈ 0.778
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(!pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    val loose = Dedup.jaccardNearDupPairs(docs, thresholdPct = 70)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(loose.contains((1L, 3L)))
  }

  test("jaccardNearDupPairsPrefix is lossless vs brute force and matches the count-agg path") {
    // Deterministic pseudo-random corpus over a 12-word vocabulary:
    // dense overlap structure, the adversarial case for candidate
    // pruning. Brute force = cross join + array_intersect, no pruning.
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val corpus = (0 until 40).map { i =>
      val n = 3 + (i * 7) % 8
      val ws = (0 until n).map(j => vocab((i * 13 + j * 5) % vocab.size)).distinct
      (i.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val sets = corpus.select(col("doc_id"), TextFunctions.wordSet(col("text")).as("ws"))
    for (t <- Seq(30, 50, 80)) {
      val brute = sets.as("a").crossJoin(sets.as("b"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          size(array_intersect(col("a.ws"), col("b.ws"))).cast("long").as("c"),
          size(col("a.ws")).cast("long").as("na"), size(col("b.ws")).cast("long").as("nb"))
        .filter(lit(100L) * col("c") >= lit(t.toLong) * (col("na") + col("nb") - col("c")))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val pruned = Dedup.jaccardNearDupPairsPrefix(corpus, thresholdPct = t)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(pruned == brute, s"threshold $t: pruned ${pruned.size} vs brute ${brute.size}")
      // and full-row agreement (incl. n_common/n_a/n_b) with the
      // count-aggregation path — the two variants share one contract
      val viaCount = Dedup.jaccardNearDupPairs(corpus, thresholdPct = t)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val viaPrefix = Dedup.jaccardNearDupPairsPrefix(corpus, thresholdPct = t)
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(viaPrefix == viaCount)
      // the scale path — persisted index, then the pair join — is the
      // same computation (q63 uses the fused convenience form)
      val idx = Dedup.buildJaccardPrefixIndex(corpus).persist()
      try {
        val viaIndex = Dedup.jaccardPairsFromPrefixIndex(idx, thresholdPct = t)
          .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(viaIndex == viaCount)
      } finally { idx.unpersist(); () }
    }
  }

  test("portable minhash: identical docs agree on all 64 hashes, unrelated skip") {
    val pairs = Dedup.minhashNearDupPairsPortable(docs)
      .select("doc_a", "doc_b", "n_match").as[(Long, Long, Long)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 5L)) == 64L) // identical text → full signature agreement
    assert(!byPair.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("portable minhash signatures: deterministic and 40-bit bounded") {
    val sigs = Dedup.minhashSignaturesPortable(docs, shingleN = 3, numHashes = 64)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(5L)) // same text, same signature
    assert(sigs(1L) != sigs(3L))
    assert(sigs.values.flatten.forall(v => v >= 0 && v <= graft.functions.PortableHash.Mask40))
    val again = Dedup.minhashSignaturesPortable(docs, shingleN = 3, numHashes = 64)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(sigs == again)
  }

  test("fused minhash kernel equals the composed explode+agg form") {
    // hand-built docs (incl. short/blank texts that yield no shingle —
    // both forms must drop them) plus the real corpus
    val edgy = docs.union(Seq((6L, "only two"), (7L, "")).toDF("doc_id", "text"))
    val corpus = spark.read.parquet(s"${sf()}/documents.parquet")
      .select($"doc_id", $"text")
    for (d <- Seq(edgy, corpus)) {
      val fused = Dedup.minhashSignaturesPortable(d, shingleN = 3, numHashes = 64)
        .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
      val composed = DedupOracles.minhashSignaturesPortableComposed(d, shingleN = 3, numHashes = 64)
        .select("doc_id", "sig").as[(Long, Seq[Long])].collect().toMap
      assert(fused == composed)
    }
  }

  test("portable simhash: hamming 0 for identical, small for near-dup, fits 60 bits") {
    val sigs = Dedup.simhashSignatures60(docs)
      .select("doc_id", "sig").as[(Long, Long)].collect().toMap
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 60)))
    assert(sigs(1L) == sigs(5L))
    val pairs = Dedup.simhashNearDupPairsPortable(docs, maxHamming = 16)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 5L)) == 0L)
    assert(byPair.get((1L, 3L)).forall(_ > 0L))
    assert(!byPair.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash candidates find identical docs, skip unrelated") {
    val cands = DedupOracles.minhashCandidatePairs(docs, shingleN = 3, bands = 16, rows = 4)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)) && cands.contains((1L, 5L)))
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashNearDupPairs estimates full agreement for identical docs") {
    val out = Dedup.minhashNearDupPairs(docs).collect()
    val id = out.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 5L).get
    assert(id.getAs[Long]("n_match") == id.getAs[Long]("sig_len"))
  }

  test("simhash: identical texts hash equal; near-dups within small hamming") {
    val sigs = docs.select($"doc_id", Dedup.simhash64($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L) && sigs(1L) == sigs(5L))
    val ham13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val ham14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(ham13 < ham14)
  }

  test("shingles produce distinct word n-grams") {
    val sh = docs.filter($"doc_id" === 1L)
      .select(TextFunctions.shingles($"text", 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh.contains("the quick brown") && sh.contains("over the lazy"))
    assert(sh.length == 7)
  }

  test("winnowNearDupPairs: the fp kernel runs once — the self-join reads a staged materialization") {
    // the former guarantee here was ReusedExchange on the identical
    // subtrees, but that reuse is configuration-dependent: under AQE's
    // broadcast promotion of one join side (observed in the committed
    // q55 plan at sf0.01) the two sides stop being identical exchanges
    // and the whole scan+kernel+window pipeline ran TWICE. The operator
    // now stages the pruned (doc_id, fp) rows, so the pair-join plan
    // must contain no text scan and no explode at all — the kernel
    // lives in the one staging job.
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val df = Dedup.winnowNearDupPairs(docs)
    df.collect() // drive AQE to the final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("isFinalPlan=true"))
    assert(!plan.contains("Scan parquet") && !plan.contains("Generate"),
      s"the winnow kernel pipeline leaked into the pair-join plan (it " +
        s"must run once, in the staging job):\n${plan.take(3000)}")
    assert(plan.contains("Scan ExistingRDD"),
      s"both self-join sides must read the staged fp rows:\n${plan.take(3000)}")
  }

  test("winnowNearDupPairs pairs docs sharing a passage, skips unrelated ones") {
    val passage = "the unique quantum flux capacitor overload sequence begins now"
    val docs = Seq(
      (1L, s"intro text alpha beta. $passage and more trailing words"),
      (2L, s"completely different beginning. $passage closing remarks"),
      (3L, "zzz qqq unrelated gibberish xxyyzz entirely disjoint vocabulary")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDupPairs(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("incremental near-dup equals the crossing pairs of the batch-global run") {
    // ingestion semantics contract: deduping the batch against the
    // persisted corpus index finds EXACTLY the batch↔corpus pairs a
    // from-scratch banding over corpus+batch would (cap high enough
    // that no bucket is dropped on either path)
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch  = docs.filter($"doc_id" % 10 === 0)
    val tag    = s"incdedup-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(corpus, "graft_incspec", srcTag = tag)
    val inc = Dedup.incrementalNearDupPairs(batch, bt, st, maxBucketSize = 100000)
      .select("new_doc", "dup_of", "n_match").as[(Long, Long, Long)].collect().toSet
    val full = Dedup.minhashNearDupPairsPortable(docs, maxBucketSize = 100000)
      .select("doc_a", "doc_b", "n_match").as[(Long, Long, Long)].collect()
    val crossing = full.collect {
      case (a, b, m) if a % 10 == 0 && b % 10 != 0 => (a, b, m)
      case (a, b, m) if a % 10 != 0 && b % 10 == 0 => (b, a, m)
    }.toSet
    assert(inc == crossing, s"incremental=$inc vs crossing=$crossing")
  }

  test("ensureMinhashBandIndex: a repeated call runs ZERO Spark jobs") {
    // the round-14 p01/p02 ShuffleProbe finding: the eager signature
    // staging used to re-spread + re-minhash the whole corpus on every
    // ensure call — one corpus re-hash per query invocation at scale.
    // The validity probe is the latest commit's key, read on the
    // driver: no Spark job.
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val tag = s"zerojob-${System.nanoTime()}"
    Dedup.ensureMinhashBandIndex(docs, "graft_zerojob", srcTag = tag)
    val jobs = IndexSpecKit.jobsOf(spark) {
      Dedup.ensureMinhashBandIndex(docs, "graft_zerojob", srcTag = tag)
      ()
    }
    assert(jobs == 0,
      s"repeated ensure must not touch the corpus, ran $jobs jobs")
  }

  test("foldIntoMinhashBandIndex: fold ≡ rebuild, append-only, idempotent per tag") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val a = docs.filter($"doc_id" % 10 =!= 0)
    val b = docs.filter($"doc_id" % 10 === 0 && $"doc_id" % 20 === 0)
    val c = docs.filter($"doc_id" % 10 === 0 && $"doc_id" % 20 =!= 0)
    val tag = s"foldspec-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(a, "graft_foldspec", srcTag = tag)
    val baseFiles = spark.table(bt).inputFiles.toSet
    Dedup.foldIntoMinhashBandIndex(b, "graft_foldspec", batchTag = "b1")
    // append-only: the corpus bucket files are untouched, new ones land
    val afterFiles = spark.table(bt).inputFiles.toSet
    assert(baseFiles.subsetOf(afterFiles) && afterFiles.size > baseFiles.size,
      "fold must append new bucket files, never rewrite the corpus")
    // idempotent per batchTag (app-level memo): a replay is a no-op
    val n1 = spark.table(bt).count()
    Dedup.foldIntoMinhashBandIndex(b, "graft_foldspec", batchTag = "b1")
    assert(spark.table(bt).count() == n1)
    // a second batch folds incrementally on top
    Dedup.foldIntoMinhashBandIndex(c, "graft_foldspec", batchTag = "b2")
    // fresh-JVM-shaped replay (memo cold, log ledger present):
    // pre-record a tag in the ledger, then fold under it — still a no-op
    val log = Dedup.bandLog(spark, "graft_foldspec")
    assert(log.latest(spark).folds == Set("b1", "b2"))
    log.commit(spark, "fold")(c => c.copy(folds = c.folds + "preburned"))
    val n2 = spark.table(bt).count()
    Dedup.foldIntoMinhashBandIndex(c, "graft_foldspec", batchTag = "preburned")
    assert(spark.table(bt).count() == n2,
      "a tag already in the ledger must not re-append")
    // fold ≡ full rebuild, row-for-row on BOTH tables
    val (rbt, rst) = Dedup.ensureMinhashBandIndex(docs, "graft_foldref", srcTag = tag)
    def bandsOf(t: String) =
      spark.table(t).select("doc_id", "bk").as[(Long, String)].collect().toSet
    def sigsOf(t: String) =
      spark.table(t).select("doc_id", "sig").as[(Long, Seq[Long])]
        .collect().map { case (d, s) => (d, s.toList) }.toSet
    assert(bandsOf(bt) == bandsOf(rbt),
      "folded bands table must equal a from-scratch rebuild over A∪B∪C")
    assert(sigsOf(st) == sigsOf(rst),
      "folded sigs table must equal a from-scratch rebuild over A∪B∪C")
  }

  test("foldIntoMinhashBandIndex: a crashed fold REPAIRS on replay, no double-append") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val a = docs.filter($"doc_id" % 10 =!= 0)
    val b = docs.filter($"doc_id" % 10 === 0)
    val tag = s"crashspec-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(a, "graft_crashspec", srcTag = tag)
    // simulate the crash window: intent recorded, the BANDS append
    // landed (appends are all-or-nothing via the commit protocol), the
    // sigs append and the ledger write never happened — exactly the
    // state a killed driver leaves behind mid-fold
    val log = Dedup.bandLog(spark, "graft_crashspec")
    log.commit(spark, "fold-intent")(c => c.copy(intents = Set("ghost", "crashed")))
    val sigs = Dedup.minhashSignaturesPortable(b, 3, 64, 7L)
    sigs.select($"doc_id", explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
      .write.mode("append").format("parquet")
      .bucketBy(8, "bk").sortBy("bk").saveAsTable(bt)
    val bandsAfterCrash = spark.table(bt).count()
    // replay of the crashed tag: must append ONLY the missing sigs side
    Dedup.foldIntoMinhashBandIndex(b, "graft_crashspec", batchTag = "crashed")
    assert(spark.table(bt).count() == bandsAfterCrash,
      "replay must not re-append the bands side that already landed")
    // repaired state ≡ a from-scratch rebuild over A∪B, on both tables
    val (rbt, rst) = Dedup.ensureMinhashBandIndex(docs, "graft_crashref", srcTag = tag)
    def bandsOf(t: String) =
      spark.table(t).select("doc_id", "bk").as[(Long, String)].collect().toSet
    def sigsOf(t: String) =
      spark.table(t).select("doc_id", "sig").as[(Long, Seq[Long])]
        .collect().map { case (d, s) => (d, s.toList) }.toSet
    assert(bandsOf(bt) == bandsOf(rbt),
      "repaired bands table must equal a from-scratch rebuild")
    assert(sigsOf(st) == sigsOf(rst),
      "repaired sigs table must equal a from-scratch rebuild")
    val c = log.latest(spark)
    assert(c.folds == Set("crashed"))
    // the OTHER crashed tag's standing intent survives this fold — it
    // must still be treated as suspect when ITS replay arrives
    assert(c.intents == Set("ghost"),
      s"unrelated standing intent lost: ${c.intents}")
  }

  test("compactMinhashBandIndex: fewer files, identical rows, ledger survives") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val a = docs.filter($"doc_id" % 10 =!= 0)
    val b = docs.filter($"doc_id" % 10 === 0 && $"doc_id" % 20 === 0)
    val c = docs.filter($"doc_id" % 10 === 0 && $"doc_id" % 20 =!= 0)
    val tag = s"compactspec-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(a, "graft_compactspec", srcTag = tag)
    Dedup.foldIntoMinhashBandIndex(b, "graft_compactspec", batchTag = "b1")
    Dedup.foldIntoMinhashBandIndex(c, "graft_compactspec", batchTag = "b2")
    // compaction PROMOTES a new generation pair — physical reads
    // re-resolve instead of pinning the names ensure returned
    def cur = Dedup.currentIndexTables(spark, "graft_compactspec")
    def files(t: String) = spark.table(t).inputFiles.length
    def bandsOf = spark.table(cur._1).select("doc_id", "bk")
      .as[(Long, String)].collect().toSet
    def sigsOf = spark.table(cur._2).select("doc_id", "sig")
      .as[(Long, Seq[Long])].collect().map { case (d, s) => (d, s.toList) }.toSet
    val probe = docs.filter($"doc_id" < 50)
    def pairs = Dedup.incrementalNearDupPairs(probe, bt, st)
      .select("new_doc", "dup_of", "n_match")
      .as[(Long, Long, Long)].collect().toSet
    val (fb, fs)    = (files(bt), files(st))
    val (rb, rs)    = (bandsOf, sigsOf)
    val pairsBefore = pairs
    Dedup.compactMinhashBandIndex(spark, "graft_compactspec")
    assert(cur._1 != bt && cur._2 != st,
      "compaction must promote a new generation pair")
    assert(spark.catalog.tableExists(bt),
      "the superseded generation must survive one cycle for in-flight scans")
    assert(files(cur._1) < fb && files(cur._2) < fs,
      s"compaction must shrink files: bands $fb->${files(cur._1)}, sigs $fs->${files(cur._2)}")
    assert(bandsOf == rb && sigsOf == rs,
      "compaction must not change a single row")
    // the Bucketing validity key survives: a repeated ensure is a no-op
    // (would DROP and rebuild the tables if the contract were lost)
    val n1 = spark.table(cur._1).count()
    assert(Dedup.ensureMinhashBandIndex(a, "graft_compactspec", srcTag = tag)
        ._1 == cur._1,
      "ensure must resolve (not rebuild) the compacted generation")
    assert(spark.table(cur._1).count() == n1, "ensure must still see the layout current")
    // the fold ledger survives: a replayed tag is still a no-op
    val ledger = Dedup.bandLog(spark, "graft_compactspec").latest(spark).folds
    assert(ledger == Set("b1", "b2"), s"ledger lost: $ledger")
    Dedup.foldIntoMinhashBandIndex(b, "graft_compactspec", batchTag = "b1")
    assert(spark.table(cur._1).count() == n1)
    // and the index still answers: incremental pairs over the compacted
    // tables equal the pre-compaction output
    assert(pairs == pairsBefore,
      "incremental dedup output must be identical after compaction")
  }

  test("compactMinhashBandIndex: a no-op compaction skips the rewrite, an append re-arms it") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_noopc${System.nanoTime()}"
    Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 10 =!= 0), prefix,
      srcTag = s"noopc-${System.nanoTime()}")
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 10 === 0), prefix, batchTag = "nb1")
    // first compaction: real rewrite (appends standing) → promotes
    Dedup.compactMinhashBandIndex(spark, prefix)
    val (g1b, g1s) = Dedup.currentIndexTables(spark, prefix)
    assert(g1b != s"${prefix}_bands", "setup: first compaction must promote")
    // nothing to purge, nothing appended: the rewrite must SKIP — same
    // generation stays active (a scheduled compact at 100 TB must not
    // rewrite the index for nothing)
    Dedup.compactMinhashBandIndex(spark, prefix)
    assert(Dedup.currentIndexTables(spark, prefix) == ((g1b, g1s)),
      "a nothing-to-do compaction must not rewrite/promote")
    // force overrides the short-circuit (the drill escape)
    Dedup.compactMinhashBandIndex(spark, prefix, force = true)
    val (g2b, _) = Dedup.currentIndexTables(spark, prefix)
    assert(g2b != g1b, "force must re-enable the promote")
    // an append re-arms the next compaction…
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 10 === 0), prefix, batchTag = "nb2")
    Dedup.compactMinhashBandIndex(spark, prefix)
    val (g3b, _) = Dedup.currentIndexTables(spark, prefix)
    assert(g3b != g2b, "a fold append must re-arm the rewrite")
    // …and a delete does too (tombstones standing)
    Dedup.deleteFromMinhashBandIndex(
      docs.filter($"doc_id" % 20 === 0).select("doc_id"), prefix,
      delTag = "nd1")
    Dedup.compactMinhashBandIndex(spark, prefix)
    val (g4b, g4s) = Dedup.currentIndexTables(spark, prefix)
    assert(g4b != g3b, "standing tombstones must re-arm the rewrite")
    assert(Dedup.standingTombstoneFiles(spark, prefix).isEmpty,
      "the re-armed rewrite must have purged the tombstones")
    assert(spark.table(g4s).select("doc_id").distinct().count() ==
      docs.filter($"doc_id" % 20 =!= 0).count(),
      "live content after skip/rearm cycles must equal the remainder")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("auto-compaction policy: fold crosses files-per-bucket threshold, output identical") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val a = docs.filter($"doc_id" % 10 =!= 0)
    val tag = s"autocband-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(a, "graft_autocband", srcTag = tag)
    // the policy's compaction PROMOTES a generation — resolve at use time
    def cur = Dedup.currentIndexTables(spark, "graft_autocband")._1
    def files = spark.table(cur).inputFiles.length
    def bandsOf = spark.table(cur).select("doc_id", "bk")
      .as[(Long, String)].collect().toSet
    spark.conf.set("spark.graft.index.autoCompactFilesPerUnit", "0")
    try {
      Dedup.foldIntoMinhashBandIndex(
        docs.filter($"doc_id" % 20 === 0), "graft_autocband", "a1")
      val accumulated = files
      val expect = bandsOf ++ Dedup
        .minhashSignaturesPortable(docs.filter($"doc_id" % 20 === 10), 3, 64, 7L)
        .select($"doc_id", explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
        .as[(Long, String)].collect().toSet
      // armed low, the next fold compacts itself under its own lock
      spark.conf.set("spark.graft.index.autoCompactFilesPerUnit", "1")
      Dedup.foldIntoMinhashBandIndex(
        docs.filter($"doc_id" % 20 === 10), "graft_autocband", "a2")
      assert(files < accumulated,
        s"policy must have auto-compacted (was $accumulated, now $files)")
      assert(bandsOf == expect,
        "auto-compaction must preserve every row incl. the triggering fold")
      // ledger intact: a replayed pre-compact tag still no-ops
      val n = spark.table(cur).count()
      Dedup.foldIntoMinhashBandIndex(
        docs.filter($"doc_id" % 20 === 0), "graft_autocband", "a1")
      assert(spark.table(cur).count() == n)
    } finally spark.conf.unset("spark.graft.index.autoCompactFilesPerUnit")
  }

  test("deleteFromMinhashBandIndex: live views, compact purge ≡ rebuild-from-remainder, re-insert contract") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val a   = docs.filter($"doc_id" % 10 =!= 0)
    val b   = docs.filter($"doc_id" % 10 === 0)
    val del = docs.filter($"doc_id" % 20 === 0 || $"doc_id" % 20 === 3)
      .select("doc_id")
    val tag = s"delspec-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(a, "graft_delspec", srcTag = tag)
    def cur = Dedup.currentIndexTables(spark, "graft_delspec")
    Dedup.foldIntoMinhashBandIndex(b, "graft_delspec", batchTag = "b1")
    Dedup.deleteFromMinhashBandIndex(del, "graft_delspec", delTag = "d1")
    // live probe ≡ probing a from-scratch index over the REMAINDER
    val rem = docs.filter($"doc_id" % 20 =!= 0 && $"doc_id" % 20 =!= 3)
    val (rbt, rst) = Dedup.ensureMinhashBandIndex(rem, "graft_delref", srcTag = tag)
    val probe = docs.filter($"doc_id" < 60)
    def pairs(btn: String, stn: String) =
      Dedup.incrementalNearDupPairs(probe, btn, stn)
        .select("new_doc", "dup_of", "n_match")
        .as[(Long, Long, Long)].collect().toSet
    assert(pairs(bt, st) == pairs(rbt, rst),
      "live probe must equal rebuild-from-remainder")
    // replayed delete: ledger no-op (memo path and preburned-ledger path)
    val log = Dedup.bandLog(spark, "graft_delspec")
    def tombRows = spark.read.parquet(Dedup.standingTombstoneFiles(spark, "graft_delspec"): _*).count()
    val delsN = tombRows
    Dedup.deleteFromMinhashBandIndex(del, "graft_delspec", delTag = "d1")
    log.commit(spark, "delete")(c => c.copy(dels = c.dels + "preburn"))
    Dedup.deleteFromMinhashBandIndex(del, "graft_delspec", delTag = "preburn")
    assert(tombRows == delsN,
      "a tag already in the delete ledger must not re-append")
    // re-inserting a tombstoned doc before compaction: LOUD rejection,
    // and nothing (intent/ledger/rows) recorded for the failed tag
    val e = intercept[IllegalArgumentException] {
      Dedup.foldIntoMinhashBandIndex(
        docs.filter($"doc_id" % 20 === 0), "graft_delspec", batchTag = "bad")
    }
    assert(e.getMessage.contains("compact"))
    assert(!log.latest(spark).intents.contains("bad"),
      "a rejected fold must not leave a standing intent")
    // compaction purges both tables and starts the new generation with
    // no tombstones; content now BYTE-equals the remainder rebuild
    Dedup.compactMinhashBandIndex(spark, "graft_delspec")
    def standingN(): Long = Dedup.standingTombstoneFiles(spark, "graft_delspec").size.toLong
    assert(standingN() == 0,
      "compaction must leave the promoted generation with no standing dels")
    def bandsOf(t: String) =
      spark.table(t).select("doc_id", "bk").as[(Long, String)].collect().toSet
    def sigsOf(t: String) =
      spark.table(t).select("doc_id", "sig").as[(Long, Seq[Long])]
        .collect().map { case (d, s) => (d, s.toList) }.toSet
    assert(bandsOf(cur._1) == bandsOf(rbt),
      "purged bands must equal rebuild-from-remainder")
    assert(sigsOf(cur._2) == sigsOf(rst),
      "purged sigs must equal rebuild-from-remainder")
    // the delete ledger survives the purge: a replayed tag still no-ops
    val dels = log.latest(spark).dels
    assert(dels.contains("d1"), s"delete ledger lost: $dels")
    Dedup.deleteFromMinhashBandIndex(del, "graft_delspec", delTag = "preburn")
    assert(standingN() == 0,
      "a replayed delete tag must not recreate tombstones after the purge")
    // after the purge the docs fold again as new — the replace recipe
    Dedup.foldIntoMinhashBandIndex(
      docs.filter($"doc_id" % 20 === 0), "graft_delspec", batchTag = "b2")
    val (r2bt, r2st) = Dedup.ensureMinhashBandIndex(
      docs.filter($"doc_id" % 20 =!= 3), "graft_delref2", srcTag = tag)
    assert(bandsOf(cur._1) == bandsOf(r2bt) && sigsOf(cur._2) == sigsOf(r2st),
      "re-folded index must equal a rebuild over remainder ∪ re-inserts")
  }

  test("incremental near-dup plan: corpus tables stream, batch side broadcasts") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
        .select("doc_id", "text")
      val tag = s"incplan-${System.nanoTime()}"
      val (bt, st) = Dedup.ensureMinhashBandIndex(
        docs.filter($"doc_id" % 10 =!= 0), "graft_incplan", srcTag = tag)
      val plan = Dedup.incrementalNearDupPairs(
          docs.filter($"doc_id" % 10 === 0), bt, st)
        .queryExecution.executedPlan.toString
      // the skew-cap window consumes the bk bucketing: no hash exchange
      // may sit between the bands scan and its window
      val bandsIdx  = plan.indexOf("graft_incplan_bands")
      val windowIdx = plan.indexOf("Window [count(1)")
      assert(bandsIdx >= 0 && windowIdx >= 0 && windowIdx < bandsIdx,
        "expected the cap window directly over the bands scan")
      assert(!plan.substring(windowIdx, bandsIdx).contains("Exchange hashpartitioning"),
        s"cap window must consume the bucket partitioning, not reshuffle:\n$plan")
      // both corpus-table joins build (broadcast) the batch-derived side
      val joins = "BroadcastHashJoin".r.findAllIn(plan).size
      assert(joins >= 3, s"expected broadcast joins on band + verify paths:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"corpus sides must stream against broadcast batch sides:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("tombstone-debt cap: a mass doc delete triggers band-index compaction") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_debtcap${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(docs, prefix,
      srcTag = s"debtcap-${System.nanoTime()}")
    val key = "spark.graft.index.autoCompactTombstoneRows"
    spark.conf.set(key, "10")
    try {
      Dedup.deleteFromMinhashBandIndex(
        docs.filter($"doc_id" % 60 === 0).select("doc_id"), prefix, "small")
      assert(Dedup.standingTombstoneFiles(spark, prefix).nonEmpty,
        "a sub-cap delete must leave its tombstones standing")
      Dedup.deleteFromMinhashBandIndex(
        docs.filter($"doc_id" % 4 === 1).select("doc_id"), prefix, "mass")
      // over the cap: the delete path compacts — no tombstones stand
      // for the promoted generation (the superseded generation keeps
      // its own for scans still reading it), and both physical tables
      // hold the remainder only
      val (cb, cs) = Dedup.currentIndexTables(spark, prefix)
      assert(Dedup.standingTombstoneFiles(spark, prefix).isEmpty,
        "an over-cap delete must trigger the physical purge")
      val gone = spark.table(cb)
        .filter($"doc_id" % 4 === 1 || $"doc_id" % 60 === 0).count() +
        spark.table(cs)
          .filter($"doc_id" % 4 === 1 || $"doc_id" % 60 === 0).count()
      assert(gone == 0, "purge must drop the tombstoned docs physically")
    } finally spark.conf.unset(key)
    IndexSpecKit.dropBandLineage(spark, prefix)
  }

  test("crash-replay repair does not resurrect docs deleted+compacted in the window") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val a = docs.filter($"doc_id" % 10 =!= 0)
    val b = docs.filter($"doc_id" % 10 === 0)
    val deadIds = b.filter($"doc_id" % 20 === 0).select("doc_id")
    val dead = deadIds.as[Long].collect().toSet
    assert(dead.nonEmpty)
    val tag = s"resurrect-${System.nanoTime()}"
    val (bt, st) = Dedup.ensureMinhashBandIndex(a, "graft_resspec", srcTag = tag)
    // the crash window: intent standing, bands append landed, sigs
    // append and ledger write lost (the crashed-fold spec's shape)
    Dedup.bandLog(spark, "graft_resspec")
      .commit(spark, "fold-intent")(c => c.copy(intents = c.intents + "crashed"))
    val sigs = Dedup.minhashSignaturesPortable(b, 3, 64, 7L)
    sigs.select($"doc_id", explode(Dedup.bandKeyArray($"sig", 16, 4)).as("bk"))
      .write.mode("append").format("parquet")
      .bucketBy(8, "bk").sortBy("bk").saveAsTable(bt)
    // BEFORE the replay arrives: a takedown tombstones part of the
    // crashed batch, and compaction purges the tombstones physically
    Dedup.deleteFromMinhashBandIndex(deadIds, "graft_resspec", delTag = "takedown")
    Dedup.compactMinhashBandIndex(spark, "graft_resspec")
    // replay of the crashed tag: the repair must append only the
    // SURVIVORS to the sigs side — re-appending the full batch would
    // resurrect the deleted docs in signature-verification joins
    Dedup.foldIntoMinhashBandIndex(b, "graft_resspec", batchTag = "crashed")
    val (cb, cs) = Dedup.currentIndexTables(spark, "graft_resspec")
    val sigIds  = spark.table(cs).select("doc_id").as[Long].collect().toSet
    val bandIds = spark.table(cb).select("doc_id").as[Long].collect().toSet
    assert(sigIds.intersect(dead).isEmpty,
      s"deleted docs resurrected in sigs: ${sigIds.intersect(dead).take(5)}")
    assert(sigIds == bandIds, "sigs and bands must converge on one doc set")
    // repaired state ≡ rebuild over the remainder, row-for-row
    val remainder = docs.join(broadcast(deadIds), Seq("doc_id"), "left_anti")
    val (rbt, rst) = Dedup.ensureMinhashBandIndex(
      remainder, "graft_resref", srcTag = tag)
    def bandsOf(t: String) =
      spark.table(t).select("doc_id", "bk").as[(Long, String)].collect().toSet
    def sigsOf(t: String) =
      spark.table(t).select("doc_id", "sig").as[(Long, Seq[Long])]
        .collect().map { case (d, s) => (d, s.toList) }.toSet
    assert(bandsOf(cb) == bandsOf(rbt),
      "repaired bands must equal rebuild-from-remainder")
    assert(sigsOf(cs) == sigsOf(rst),
      "repaired sigs must equal rebuild-from-remainder")
  }

  test("a band lineage keeps its state in one log: tombstones ride the generation dir, no dels tables") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("doc_id", "text")
    val prefix = s"graft_bandlog${System.nanoTime()}"
    val tag    = s"bandlog-${System.nanoTime()}"
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    Dedup.ensureMinhashBandIndex(corpus, prefix, srcTag = tag)
    Dedup.foldIntoMinhashBandIndex(docs.filter($"doc_id" % 10 === 0), prefix, batchTag = "b1")
    Dedup.deleteFromMinhashBandIndex(
      docs.filter($"doc_id" % 20 === 0).select("doc_id"), prefix, delTag = "d1")
    val (bt, _) = Dedup.currentIndexTables(spark, prefix)
    val loc = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(bt, Some("default"))).location.getPath
    // the bands table is the generation dir's `bands/`, and the
    // tombstones sit beside it in the same generation dir
    val gen = new java.io.File(loc).getParentFile
    assert(gen.getName == Dedup.bandLog(spark, prefix).latest(spark).gen &&
      gen.getParent == new org.apache.hadoop.fs.Path(Dedup.bandLog(spark, prefix).root).toUri.getPath)
    val tomb = Dedup.standingTombstoneFiles(spark, prefix)
    assert(tomb.nonEmpty && tomb.forall(f =>
      new org.apache.hadoop.fs.Path(f).toUri.getPath.startsWith(s"$gen/_tombstones/")), tomb)
    spark.catalog.refreshTable(bt)
    assert(!spark.table(bt).inputFiles.exists(_.contains("_tombstones")),
      "the bands scan must never read the tombstone files")
    Dedup.compactMinhashBandIndex(spark, prefix)
    assert(spark.catalog.listTables("default", s"${prefix}_dels*").isEmpty,
      "fold, delete and compact must create no dels table")
    val c = Dedup.bandLog(spark, prefix).latest(spark)
    assert(c.folds == Set("b1") && c.dels == Set("d1") && c.intents.isEmpty &&
      c.nfiles.exists(_.size == 2) && c.tombstones.isEmpty && c.op == "compact")
    // retiring the superseded generation drops its dir, tombstones
    // included, and unregisters its tables (gcStaleHours 0 stands in
    // for a day-old generation)
    spark.conf.set("spark.graft.index.gcStaleHours", "0")
    try Dedup.compactMinhashBandIndex(spark, prefix, force = true)
    finally spark.conf.unset("spark.graft.index.gcStaleHours")
    assert(!gen.exists() && !spark.catalog.tableExists(bt), s"$gen must be gone with its tables")
    // a lineage without a log is incomplete: ensure rebuilds it even
    // though its generation dirs stand
    Dedup.bandLog(spark, prefix).clear(spark)
    val (rb, rs) = Dedup.ensureMinhashBandIndex(corpus, prefix, srcTag = tag)
    assert(rb == s"${prefix}_bands" && Dedup.bandLog(spark, prefix).latest(spark).version == 0L)
    // the schema constants another JVM registers the pair with are the
    // schemas the CTAS wrote
    val root = Dedup.bandLog(spark, prefix).root
    assert(spark.read.parquet(s"$root/pair/bands").schema == Dedup.BandsSchema &&
      spark.read.parquet(s"$root/pair/sigs").schema == Dedup.SigsSchema)
    assert(spark.table(rs).count() ==
      corpus.filter(TextFunctions.hasShingles($"text", 3)).count(),
      "the rebuild must index the corpus alone: no fold, no tombstone")
    IndexSpecKit.dropBandLineage(spark, prefix)
  }
}
