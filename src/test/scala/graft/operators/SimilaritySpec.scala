package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),  // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal
    (3L, Array(-1.0f, 0.0f, 0.0f)), // opposite
    (4L, Array(0.7f, 0.7f, 0.0f))   // 45°
  ).toDF("vec_id", "embedding")

  test("cosine matches hand-computed values") {
    val cos = vecs.filter($"vec_id" === 4L)
      .select(VectorFunctions.cosine($"embedding",
        typedlit(Seq(1.0, 0.0, 0.0))).as("c"))
      .as[Double].head()
    assert(math.abs(cos - math.sqrt(0.5)) < 1e-6)
  }

  test("bruteForceTopK ranks by cosine desc, excludes the query") {
    val top = Similarity.bruteForceTopK(vecs, queryId = 0L, k = 3)
      .select("vec_id").as[Long].collect()
    assert(top.head == 1L)
    assert(top.toSeq == Seq(1L, 4L, 2L))
  }

  test("bruteForceTopKBatch ranks per query") {
    val out = SimilarityOracles.bruteForceTopKBatch(vecs, vecs.filter($"vec_id" <= 1), k = 2)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)].collect()
    assert(out.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq == Seq(1L, 4L))
    assert(out.filter(_._1 == 1L).sortBy(_._3).map(_._2).toSeq == Seq(0L, 4L))
  }

  test("lshTopK on the real embeddings fixture overlaps brute force") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, 0L, 10).select("vec_id").as[Long].collect().toSet
    val approx = Similarity.lshTopK(emb, 0L, 10).select("vec_id").as[Long].collect().toSet
    assert(approx.size == 10)
    // Unclustered random embeddings are LSH's worst case; with 4 bits +
    // multiprobe (~31% of corpus scanned) expect partial overlap only.
    assert((exact intersect approx).size >= 2, s"ANN recall too low: $exact vs $approx")
  }

  test("cosineNearDupPairs finds bucket-colliding high-cosine pairs") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairs(emb, minCosine = 0.95)
    val bad = pairs.filter($"cos" < 0.95).count()
    assert(bad == 0)
  }

  test("portable lshTopK agrees with the float path's top ranks") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val q   = Similarity.lshTopKPortable(emb, 0L, 10)
      .select("vec_id").as[Long].collect()
    assert(q.length == 10 && q.distinct.length == 10 && !q.contains(0L))
    // quantization at 1e-3 must not reorder clear winners: the float
    // path's #1 stays in the portable top set
    val f = Similarity.lshTopK(emb, 0L, 10).select("vec_id").as[Long].collect()
    assert(q.toSet.intersect(f.toSet).size >= 5)
  }

  test("portable cosineNearDupPairs: integer threshold equals the real cosine test") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val pairs = Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    // every emitted pair clears the threshold when checked in floats on
    // the quantized vectors (the exact arithmetic is what the oracle uses)
    val byId = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap.map { case (k, v) => k -> v.map(f => math.round(f * 1000.0).toDouble) }
    pairs.foreach { case (a, b) =>
      val (va, vb) = (byId(a), byId(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cos = dot / math.sqrt(va.map(x => x * x).sum * vb.map(x => x * x).sum)
      assert(cos >= 0.4 - 1e-12, s"pair ($a,$b) below threshold: $cos")
    }
  }

  test("nBitsForOccupancy: exact integer ceil-log2 of n/target, clamped to [1,16]") {
    assert(Similarity.nBitsForOccupancy(0L) == 1)
    assert(Similarity.nBitsForOccupancy(1L) == 1)
    assert(Similarity.nBitsForOccupancy(32L) == 1)      // M=1
    assert(Similarity.nBitsForOccupancy(33L) == 1)      // M=2
    assert(Similarity.nBitsForOccupancy(65L) == 2)      // M=3
    assert(Similarity.nBitsForOccupancy(2000L) == 6)    // sf0.01 count → today's K
    assert(Similarity.nBitsForOccupancy(20000L) == 10)  // sf0.1
    assert(Similarity.nBitsForOccupancy(200000L) == 13) // sf10
    assert(Similarity.nBitsForOccupancy(Long.MaxValue / 2) == 16) // clamp
    // the scale invariant: expected occupancy n/2^K ≤ target when unclamped
    for (n <- Seq(100L, 1000L, 12345L, 999999L, 2000000L)) {
      val k = Similarity.nBitsForOccupancy(n, 32)
      assert(k == 16 || n.toDouble / (1L << k) <= 32.0,
        s"n=$n k=$k occupancy=${n.toDouble / (1L << k)}")
    }
  }

  test("banded cosine pairs: superset of single-table at the same K, every pair exact") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val single = Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400, nBits = 6)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val banded = SimilarityOracles.cosineNearDupPairsBanded(emb, minCosineMilli = 400,
        nTables = 4, nBits = 6, maxBucketSize = 100000)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // table 0 slices the same seeded plane stream the single-table
    // variant draws, so its candidates are a superset by construction
    assert(single.subsetOf(banded),
      s"missing single-table pairs: ${(single diff banded).take(5)}")
    // L=4 tables must lift recall strictly on this corpus (the
    // single-table collision probability at K=6 is ~6%)
    assert(banded.size > single.size,
      s"banded found ${banded.size} pairs, single ${single.size} — no recall lift")
    // precision is exact by construction: re-check every emitted pair's
    // cosine on the quantized vectors
    val byId = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap.map { case (k, v) => k -> v.map(f => math.round(f * 1000.0).toDouble) }
    banded.foreach { case (a, b) =>
      val (va, vb) = (byId(a), byId(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val cos = dot / math.sqrt(va.map(x => x * x).sum * vb.map(x => x * x).sum)
      assert(cos >= 0.4 - 1e-12, s"banded pair ($a,$b) below threshold: $cos")
    }
  }

  test("cosine bucket cap: an identical-vector clique is dropped whole, cold pairs kept") {
    val clique = (0 until 300).map(i => (1000L + i, Array(0.5f, 0.5f, 0.1f)))
    val emb = (vecs.as[(Long, Array[Float])].collect().toSeq ++ clique)
      .toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400,
        nBits = 4, dim = 3, maxBucketSize = Some(50))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists(p => p._1 >= 1000L && p._2 >= 1000L),
      "bucket cap failed: clique pairs leaked")
    val uncapped = Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400,
        nBits = 4, dim = 3)
      .filter($"vec_a" >= 1000L).count()
    assert(uncapped == 300L * 299 / 2, s"expected the full clique quadratic, got $uncapped")
  }

  test("ivfTopKPortable: valid top-k, decent recall vs brute force") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val ivf = Similarity.ivfTopKPortable(emb, 0L, 10, nCentroids = 32, nProbe = 4)
      .select("vec_id").as[Long].collect()
    assert(ivf.length == 10 && ivf.distinct.length == 10 && !ivf.contains(0L))
    val exact = Similarity.bruteForceTopK(emb, 0L, 10).select("vec_id").as[Long].collect().toSet
    // 4 of 32 data-adaptive cells scanned; on unclustered random vectors
    // expect partial recall (the query's own cell always holds its
    // nearest-by-centroid cohort)
    assert(ivf.toSet.intersect(exact).size >= 2,
      s"IVF recall too low: $exact vs ${ivf.toSet}")
  }

  test("ivfTopKPortable with all cells probed equals exhaustive quantized ranking") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val ivf = Similarity.ivfTopKPortable(emb, 0L, 5, nCentroids = 32, nProbe = 32)
      .select("vec_id").as[Long].collect()
    // probing every cell = exhaustive search; hand-compute the expected
    // ranking with the same quantized integer math
    val byId = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .collect().toMap.map { case (k, v) => k -> v.map(f => math.round(f * 1000.0)) }
    val qv = byId(0L)
    def cosQ(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot.toDouble / math.sqrt(a.map(x => x * x).sum.toDouble * b.map(x => x * x).sum.toDouble)
    }
    val expect = byId.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cosQ(v, qv)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(ivf.toSeq == expect,
      s"full-probe IVF must match exhaustive: $expect vs ${ivf.toSeq}")
  }

  test("IVF scale path: cell-partitioned write, probe reads only its cells") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // materialize assignments the way ivfTopKPortable computes them,
    // written once partitioned by cell — the 100 TB layout
    val b = emb.select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("nrm", VectorFunctions.qdot($"q", $"q"))
    val cents = b.filter($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"q".as("cvec"), $"nrm".as("cnrm"))
    val assigned = b.crossJoin(broadcast(cents))
      .withColumn("ccos", VectorFunctions.qdot($"q", $"cvec").cast("double") /
        sqrt($"nrm".cast("double") * $"cnrm".cast("double")))
      .groupBy("vec_id")
      .agg(max(struct($"ccos", $"cent_id")).getField("cent_id").as("cent_id"),
        first($"q").as("q"))
    val dir =
      s"${java.nio.file.Files.createTempDirectory("graft_ivf_idx")}/idx"
    assigned.write.partitionBy("cent_id").parquet(dir)

    val probe = spark.read.parquet(dir).filter($"cent_id".isin(2, 5))
    val scan  = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [cent_id") && scan.contains("IN (2,5)"),
      s"probe must prune partitions:\n$scan")
    val expected = assigned.filter($"cent_id".isin(2, 5)).count()
    assert(probe.count() == expected && expected > 0)

    // file-count proof, not just plan text: the probe's scan selects
    // exactly the nProbe=2 cells' files, strictly fewer than the index's
    // total — at 100 TB this is the difference between reading 2/nCells
    // of the corpus and reading all of it
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect() // execute THIS QueryExecution so its scan metrics populate
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    val probed = scannedFiles(probe)
    val total  = scannedFiles(spark.read.parquet(dir))
    val onDisk = new java.io.File(dir).listFiles()
      .filter(d => d.getName == "cent_id=2" || d.getName == "cent_id=5")
      .map(_.listFiles().count(f => f.getName.endsWith(".parquet"))).sum
    assert(probed == onDisk, s"probe scanned $probed files, cells hold $onDisk")
    assert(probed < total, s"pruning must skip files: $probed vs $total total")
  }

  test("buildIvfIndex + ivfProbe equal the in-query IVF operator") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_ivf_api")}/ivf"
    Similarity.buildIvfIndex(emb, dir, nCentroids = 32)

    val qv = emb.filter($"vec_id" === 0L)
      .select($"embedding").as[Array[Float]].head()
    val got = Similarity.ivfProbe(spark, dir, qv.toSeq, k = 10, nProbe = 4,
        exclude = Some(0L))
      .as[(Long, Long)].collect().toSeq
    val want = Similarity.ivfTopKPortable(emb, queryId = 0L, k = 10,
        nCentroids = 32, nProbe = 4)
      .as[(Long, Long)].collect().toSeq
    assert(got == want, s"index probe must match the in-query IVF: $got vs $want")
  }

  test("IVF recall@10: floor at the operating point, Lloyd non-regression, nProbe monotone") {
    // centroid-QUALITY gate (the file-pruning proof above is layout
    // only). The fixture is ISOTROPIC random (measured: within-label
    // mean cos ≈ cross-label ≈ 0), the worst case for any IVF — there
    // recall is bounded by the probed fraction plus the neighbor/cell
    // correlation, so the gate is (a) an absolute floor at the q51
    // operating point, (b) refinement must not LOSE recall vs the raw
    // seeded centroids (the actual Lloyd-regression catch), (c) recall
    // grows with nProbe. 20 spread queries, mean over their top-10s.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val queryIds = (0 until 20).map(_ * 25L) // 0, 25, …, 475: spread
    val qvecs = emb.filter($"vec_id".isin(queryIds: _*))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val truths = queryIds.map { qid =>
      qid -> Similarity.bruteForceTopKPortable(emb, queryId = qid, k = 10)
        .select("vec_id").as[Long].collect().toSet
    }.toMap
    def meanRecall(dir: String, nProbe: Int): Double =
      queryIds.map { qid =>
        val got = Similarity.ivfProbe(spark, dir, qvecs(qid).toSeq, k = 10,
            nProbe = nProbe, exclude = Some(qid))
          .select("vec_id").as[Long].collect().toSet
        truths(qid).intersect(got).size / 10.0
      }.sum / queryIds.size

    val seedDir = s"${java.nio.file.Files.createTempDirectory("graft_ivf_seed")}/ivf"
    val refDir  = s"${java.nio.file.Files.createTempDirectory("graft_ivf_ref")}/ivf"
    Similarity.buildIvfIndex(emb, seedDir, nCentroids = 32, refineIters = 0)
    Similarity.buildIvfIndex(emb, refDir, nCentroids = 32, refineIters = 2)

    val seed4 = meanRecall(seedDir, 4)
    val ref4  = meanRecall(refDir, 4)
    val ref8  = meanRecall(refDir, 8)
    info(s"recall@10 seeded/4=$seed4 refined/4=$ref4 refined/8=$ref8")
    assert(ref4 >= 0.35, s"refined recall@10 at nProbe=4 collapsed: $ref4")
    assert(ref4 >= seed4 - 0.05, s"Lloyd refinement LOST recall: $ref4 < $seed4")
    assert(ref8 >= ref4, s"recall must grow with nProbe: $ref8 < $ref4")
  }

  test("fused qdot equals the HOF reference on randomized quantized vectors") {
    // the native expression replaced aggregate(zip_with(...)) in every
    // portable path; results must be bit-identical (index-order long
    // sums) — negatives, zeros, and the fixture's real quantized range
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val d = if (i % 3 == 0) 64 else 1 + rnd.nextInt(8)
      (i.toLong,
        Array.fill(d)(rnd.nextLong() % 1000L),
        Array.fill(d)(rnd.nextLong() % 1000L))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
        VectorFunctions.qdot($"a", $"b").as("fused"),
        VectorFunctions.qdotComposed($"a", $"b").as("ref"))
      .filter($"fused" =!= $"ref")
    assert(diff.count() == 0)

    // off-domain inputs too: ragged lengths and null elements must be
    // NULL in both forms (zip_with pads, null poisons the aggregate)
    val ragged = Seq(
      (Array[java.lang.Long](1L, 2L, 3L), Array[java.lang.Long](1L, 2L)),
      (Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](1L, 2L, 3L))
    ).toDF("a", "b")
    val both = ragged.select(
        VectorFunctions.qdot($"a", $"b").as("fused"),
        VectorFunctions.qdotComposed($"a", $"b").as("ref"))
      .collect()
    assert(both.forall(r => r.isNullAt(0) && r.isNullAt(1)),
      s"ragged/null inputs must be NULL in both forms: ${both.mkString(",")}")
  }

  test("cosine near-dup: raising nBits only prunes (the monotone occupancy knob)") {
    // The 100 TB scaling knob documented in COVERAGE.md: bucket count
    // must grow with corpus size to bound per-bucket occupancy. The
    // seeded planes are PREFIX-NESTED (one xorshift stream, planes
    // drawn in order), so an nBits=8 bucket collision implies the
    // nBits=6 one — raising nBits can only drop candidate pairs, never
    // corrupt survivors: found(8) ⊆ found(6), and every found pair
    // passes the same exact integer threshold.
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    def pairSet(nBits: Int): Set[(Long, Long)] =
      Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400, nBits = nBits)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val at6 = pairSet(6)
    val at8 = pairSet(8)
    assert(at8.subsetOf(at6), s"nBits=8 found pairs missing at nBits=6: ${at8 -- at6}")
    // and the planes really are prefix-nested (the property the subset
    // claim rides on)
    assert(VectorFunctions.quantPlanes(42L, 64, 6) ==
      VectorFunctions.quantPlanes(42L, 64, 8).take(6))
  }

  test("quantizeInt8: bounded, sign-preserving, extremes pinned, zero vector safe") {
    val in = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 1.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),  // zero vector
      (3L, Array(-0.003f, 0.001f, 0.002f, -0.001f)) // tiny magnitudes still span ±127
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(in)
      .select("vec_id", "qvec").as[(Long, Seq[Long])].collect().toMap
    assert(q(1L) == Seq(64L, -127L, 32L, 127L)) // ±maxabs pins to ±127
    assert(q(2L) == Seq(0L, 0L, 0L, 0L))
    assert(q(3L).max == 85L && q(3L).min == -127L)
    assert(q.values.flatten.forall(v => v >= -127L && v <= 127L))
    // sign preserved wherever |q| rounds to ≥ 1
    assert(q(3L).zip(Seq(-1, 1, 1, -1)).forall { case (v, s) => v == 0 || v.sign == s })
  }

  test("quantized cosine preserves the exact ranking's top-10 on the fixture") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val qv = Similarity.quantizeInt8(emb).select($"vec_id", $"qvec".as("embedding"))
    val quantized = Similarity.bruteForceTopK(
        qv.select($"vec_id", transform($"embedding", _.cast("float")).as("embedding")),
        0L, 10)
      .select("vec_id").as[Long].collect().toSet
    // int8 cosine is a faithful rank surrogate: ≥ 8/10 recall expected
    assert((exact intersect quantized).size >= 8,
      s"quantized recall too low: $exact vs $quantized")
  }

  test("bruteForceTopKInt8 ranks like the float path with hand-checkable dots") {
    val top = Similarity.bruteForceTopKInt8(vecs, queryId = 0L, k = 3)
      .select("vec_id", "dot").as[(Long, Long)].collect()
    assert(top.map(_._1).toSeq == Seq(1L, 4L, 2L)) // same order as bruteForceTopK
    // q0 → (127,0,0); v1 (0.9,0.1,0) → (127,14,0): dot = 127·127
    assert(top.head._2 == 127L * 127L)
  }

  test("cosThresholdFraction reduces and round-trips") {
    assert(Similarity.cosThresholdFraction(400) == (4L, 25L))
    assert(Similarity.cosThresholdFraction(500) == (1L, 4L))
    assert(Similarity.cosThresholdFraction(333) == (110889L, 1000000L))
  }

  test("refineIvfCentroids converges to planted cluster means and tightens cells") {
    // 4 direction clusters in 8-dim (cluster = id % 4, so the id-based
    // seed picks one member per cluster), with per-vector jitter on a
    // shared dim — each seed is a DISPLACED member, not the mean
    val rows = for {
      i <- 0 until 64
    } yield {
      val c = i % 4
      val v = new Array[Float](8)
      v(c * 2) = 1.0f
      v(7) = 0.05f * (i % 5) // deterministic jitter, shared dim
      (i.toLong, v)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val b = emb
      .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("nrm", VectorFunctions.qdot($"q", $"q"))
    val seed = b.filter($"vec_id" < 4)
      .select($"vec_id".as("cent_id"), $"q".as("cvec"), $"nrm".as("cnrm"))

    def meanAssignedCos(cents: org.apache.spark.sql.DataFrame): Double = {
      val scored = b.crossJoin(org.apache.spark.sql.functions.broadcast(cents))
        .withColumn("ccos", VectorFunctions.qdot($"q", $"cvec").cast("double") /
          sqrt($"nrm".cast("double") * $"cnrm".cast("double")))
        .groupBy("vec_id").agg(max($"ccos").as("best"))
      scored.agg(avg($"best")).as[Double].collect()(0)
    }
    def assignment(cents: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Similarity.assignToCentroids(b, cents)
        .select($"vec_id", $"cent_id").as[(Long, Long)].collect().toMap

    val refined = Similarity.refineIvfCentroids(b, seed, iters = 3)
    // each planted cluster occupies exactly one refined cell, and the 4
    // clusters land in 4 distinct cells
    val byCluster = assignment(refined).groupBy { case (id, _) => id % 4 }
      .map { case (cl, m) => cl -> m.values.toSet }
    assert(byCluster.values.forall(_.size == 1), s"split cluster: $byCluster")
    assert(byCluster.values.flatten.toSet.size == 4, s"merged clusters: $byCluster")
    // moving centroids from displaced members to cell means strictly
    // tightens the quantizer
    val before = meanAssignedCos(seed)
    val after  = meanAssignedCos(refined)
    assert(after > before,
      f"refinement must tighten cells: before=$before%.5f after=$after%.5f")
  }

  test("buildIvfIndex refuses a corpus with no id below nCentroids, writing nothing") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_noseed").resolve("layout").toString
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
      .filter($"vec_id" >= 8)
    val e = intercept[IllegalArgumentException] {
      Similarity.buildIvfIndex(emb, dir, nCentroids = 8)
    }
    assert(e.getMessage.contains("nCentroids = 8"), e.getMessage)
    assert(!new java.io.File(dir).exists())
  }

  test("buildIvfIndex with refineIters writes refined centroids and consistent cells") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_refined").toString
    val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
    Similarity.buildIvfIndex(emb, dir, nCentroids = 8, refineIters = 2)
    val cents = spark.read.parquet(s"$dir/centroids")
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cents.count() == 8)
    // every cell id written is a centroid id, and every vector appears once
    val cellIds = cells.select("cent_id").distinct().as[Long].collect().toSet
    val centIds = cents.select("cent_id").as[Long].collect().toSet
    assert(cellIds.subsetOf(centIds))
    assert(cells.count() == emb.count())
    // cells agree with a fresh assignment against the written centroids
    val b = emb.select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("nrm", VectorFunctions.qdot($"q", $"q"))
    val expect = Similarity.assignToCentroids(b, cents)
      .select($"vec_id", $"cent_id").as[(Long, Long)].collect().toMap
    val got = cells.select($"vec_id", $"cent_id").as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("nCentroidsForCorpus: power-of-two ≈ √n, clamped, integer-exact") {
    // golden points (n → C): the oracle SQL mirrors this table verbatim
    val golden = Seq(
      0L -> 4, 1L -> 4, 2L -> 4, 4L -> 4, 5L -> 4, 16L -> 4,
      17L -> 8, 500L -> 32, 2000L -> 64, 100000L -> 512,
      1000000L -> 1024, Long.MaxValue -> 65536)
    golden.foreach { case (n, want) =>
      assert(Similarity.nCentroidsForCorpus(n) == want,
        s"n=$n: got ${Similarity.nCentroidsForCorpus(n)}, want $want")
    }
    // √n balance: C² within [n, 4n) on the unclamped range (power-of-two
    // rounding up means C ∈ [√n, 2√n))
    Seq(100L, 1234L, 54321L, 999999L).foreach { n =>
      val c = Similarity.nCentroidsForCorpus(n).toLong
      assert(c * c >= n && c * c < 4 * n, s"n=$n C=$c breaks √n balance")
    }
  }

  test("ensureCorpusStats equals count, persists, and skips the recount") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tag = s"statspec-${System.nanoTime()}"
    val n   = Similarity.ensureCorpusStats(emb, srcTag = tag)
    assert(n == emb.count())
    // second call (memo) and a fresh-JVM-shaped call (file) both agree;
    // jobs-run proof: corrupt the source path in a copy — the staged
    // value must still be served (no recount touches the data)
    assert(Similarity.ensureCorpusStats(emb, srcTag = tag) == n)
    // same key (srcTag + schema), different frame: the STAGED count is
    // served, NOT a recount of the new frame — proving repeated calls
    // never touch the data (landed inputs are immutable by contract)
    assert(Similarity.ensureCorpusStats(emb.limit(3), srcTag = tag) == n)
  }

  test("ensureIvfIndex: adaptive C from staged count, idempotent reuse") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet") // n=500
    val tag = s"ivfspec-${System.nanoTime()}"
    val (path, c) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    assert(c == Similarity.nCentroidsForCorpus(500)) // = 32
    val cents = spark.read.parquet(s"$path/centroids")
    assert(cents.count() == c)
    val marker = new java.io.File(s"$path/cells/_SUCCESS")
    val stamp  = marker.lastModified()
    val (path2, c2) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    assert(path2 == path && c2 == c)
    assert(marker.lastModified() == stamp, "idempotent ensure must not rewrite")
    // probing the staged layout equals the in-query operator at the same C
    val qv = emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    val got = Similarity.ivfProbe(spark, path, qv.toSeq, k = 10, nProbe = 4,
        exclude = Some(0L)).as[(Long, Long)].collect().toSeq
    val want = Similarity.ivfTopKPortable(emb, queryId = 0L, k = 10,
        nCentroids = c, nProbe = 4).as[(Long, Long)].collect().toSeq
    assert(got == want)
  }

  test("ivfProbeBatch equals N sequential single probes, in one pruned scan") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tag = s"ivfbatch-${System.nanoTime()}"
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    val qs = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.toSeq) }
    val batch = Similarity.ivfProbeBatch(spark, path, qs, k = 5, nProbe = 4)
      .select($"query_id", $"rk", $"vec_id", $"dot")
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val sequential = qs.flatMap { case (qid, vec) =>
      Similarity.ivfProbe(spark, path, vec, k = 5, nProbe = 4,
          exclude = Some(qid))
        .as[(Long, Long)].collect().toSeq.zipWithIndex
        .map { case ((vid, dot), i) => (qid, (i + 1).toLong, vid, dot) }
    }.sorted
    assert(batch == sequential)
    // one scan serves the batch: the plan reads the cells layout once
    // (its only FileScan — the driver-side ranking feeds in as the
    // probe map's local relation), pruned to the union of probed cells
    val plan = Similarity.ivfProbeBatch(spark, path, qs, k = 5, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(plan).size == 1 &&
      plan.contains("PartitionFilters"), s"expected one pruned cells scan:\n$plan")
  }

  test("ivfProbeBatchDf: a never-collected query frame equals the Seq batch") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tag = s"ivfdf-${System.nanoTime()}"
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    // the DataFrame path: queries come straight off the parquet scan —
    // at no point does the batch itself ride through the driver
    val qdf = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding".as("emb"))
    val viaDf = Similarity.ivfProbeBatchDf(spark, path, qdf, k = 5, nProbe = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val qs = emb.filter($"vec_id" < 5).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1)
      .map { case (id, v) => (id, v.toSeq) }
    val viaSeq = Similarity.ivfProbeBatch(spark, path, qs, k = 5, nProbe = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(viaDf == viaSeq && viaDf.nonEmpty)
  }

  test("ivfProbe quantizes negative halves away from zero, matching batch + oracle") {
    // components k/16 (k odd) make f*1000 an EXACT half-integer
    // (1000/16 = 62.5): Spark/DuckDB round goes away from zero
    // (-62.5 → -63) while math.round is floor(x+0.5) (→ -62) — the
    // sequential probe must agree with the batch path on such corpora
    val vecs = (0L until 8L).map { i =>
      (i, Array.tabulate(4)(j => ((((i + j) % 7).toInt) - 3) / 16.0f))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val tag = s"qround-${System.nanoTime()}"
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    val q = vecs(1)._2.toSeq
    val sequential = Similarity.ivfProbe(spark, path, q, k = 5, nProbe = 4,
        exclude = Some(1L))
      .as[(Long, Long)].collect().toSeq
    val batch = Similarity.ivfProbeBatch(spark, path, Seq((1L, q)), k = 5, nProbe = 4)
      .select($"vec_id", $"dot").as[(Long, Long)].collect().toSeq
    assert(sequential == batch && sequential.nonEmpty,
      "dot values/order must be identical across serving paths on half-integer quanta")
  }

  test("foldIntoIvfIndex: fold ≡ union assignment, append-only, idempotent, servable") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0)
    val tag    = s"ivffold-${System.nanoTime()}"
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = tag)
    def cellFiles: Set[String] =
      graft.util.LocalFs.walkFiles(new java.io.File(Similarity.activeCellsDir(spark, path)))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    val before = cellFiles
    Similarity.foldIntoIvfIndex(batch, path, batchTag = "b1")
    val after = cellFiles
    assert(before.subsetOf(after) && after.size > before.size,
      "fold must append new cell files, never rewrite the corpus cells")
    // fold ≡ from-scratch assignment of corpus ∪ batch to the STANDING
    // centroids — the maintained-index contract
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    val all = emb
      .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("nrm", VectorFunctions.qdot($"q", $"q"))
    val want = Similarity.assignToCentroids(all, cents)
      .select($"vec_id", $"cent_id", $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    val got = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    assert(got == want, "folded cells must equal the union assignment")
    // replay via the app memo: no new files
    Similarity.foldIntoIvfIndex(batch, path, batchTag = "b1")
    assert(cellFiles == after)
    // fresh-JVM-shaped replay (memo cold, tag in the log's ledger):
    // preburn the ledger for a NEW tag, then fold under it — still a no-op
    IndexLog.cells(path).commit(spark, "fold")(c => c.copy(folds = c.folds + "preburned"))
    Similarity.foldIntoIvfIndex(batch, path, batchTag = "preburned")
    assert(cellFiles == after, "a tag already in the fold ledger must not re-append")
    // a folded vector is immediately servable: its own embedding finds it
    val qv = emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    val top = Similarity.ivfProbe(spark, path, qv.toSeq, k = 1, nProbe = 4)
      .as[(Long, Long)].head()
    assert(top._1 == 0L, "the folded vector must be served as its own nearest neighbor")
  }

  test("foldIntoIvfIndex: a crashed fold REPAIRS on replay, no double-append") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 20 === 0).select("vec_id", "embedding")
    val gone   = emb.filter($"vec_id" % 20 === 10).select("vec_id", "embedding")
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"ivfcrash-${System.nanoTime()}")
    val log = IndexLog.cells(path)
    // the crash window: intent committed, the cell append landed (one
    // append is all-or-nothing), the tag commit never happened
    def crash(tag: String, b: org.apache.spark.sql.DataFrame): Unit = {
      log.commit(spark, "fold-intent")(c => c.copy(intents = c.intents + tag))
      Similarity.foldAssignment(b, path)
        .write.mode("append").partitionBy("cent_id").parquet(Similarity.activeCellsDir(spark, path))
    }
    crash("crashed", batch)
    Similarity.foldIntoIvfIndex(batch, path, batchTag = "crashed")
    val ids = Similarity.liveCells(spark, path).select("vec_id").as[Long].collect().toSeq
    assert(ids.size == ids.distinct.size,
      s"replay double-appended ${ids.size - ids.distinct.size} rows")
    assert(ids.toSet == emb.filter($"vec_id" % 20 =!= 10).select("vec_id").as[Long].collect().toSet)
    val c = log.latest(spark)
    assert(c.folds("crashed") && c.intents.isEmpty && c.purgewin.isEmpty)
    // a batch deleted in full and purged inside its crash window leaves
    // nothing to probe: the replay refuses instead of guessing
    crash("gone", gone)
    Similarity.deleteFromIvfIndex(gone.select("vec_id"), path, delTag = "takedown")
    Similarity.compactIvfCells(spark, path)
    assert(log.latest(spark).purgewin == Set("gone"))
    val e = intercept[IllegalStateException](
      Similarity.foldIntoIvfIndex(gone, path, batchTag = "gone"))
    assert(e.getMessage.contains("undecidable"))
  }

  test("compactIvfCells: fewer files, identical rows and probes, ledger survives") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"compact-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 20 === 0), path, "b1")
    Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 20 =!= 0), path, "b2")
    def cellFiles: Int = graft.util.LocalFs.parquetFileCount(Similarity.activeCellsDir(spark, path))
    def rows = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    val qv = emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    def probe = Similarity.ivfProbe(spark, path, qv.toSeq, k = 10, nProbe = 4,
      exclude = Some(0L)).as[(Long, Long)].collect().toSeq
    val (filesBefore, rowsBefore, probeBefore) = (cellFiles, rows, probe)
    Similarity.compactIvfCells(spark, path)
    assert(cellFiles < filesBefore,
      s"compaction must shrink the file count (was $filesBefore, now $cellFiles)")
    assert(rows == rowsBefore, "compaction must not change a single row")
    assert(probe == probeBefore, "probes must be identical after compaction")
    // the fold ledger survives compaction (only cells/ was rewritten):
    // a fresh JVM replaying b1/b2 would still find both tags
    Seq("b1", "b2").foreach { tag =>
      assert(IndexLog.cells(path).latest(spark).folds(tag),
        s"fold ledger entry for $tag must survive compaction")
    }
    val f = cellFiles
    Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 20 === 0), path, "b1")
    assert(cellFiles == f)
  }

  test("compactIvfCells: a no-op compaction skips the rewrite, an append re-arms it") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"noopc-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(batch, path, "nb1")
    // first compaction: appends standing → real rewrite, new generation
    Similarity.compactIvfCells(spark, path)
    val gen1 = Similarity.activeCellsDir(spark, path)
    assert(gen1.contains("cells.g"), "setup: first compaction must promote")
    // nothing to purge, nothing appended since: the rewrite must SKIP
    // (a scheduled compact at 100 TB must not rewrite the index for
    // nothing) — the active generation stays put
    Similarity.compactIvfCells(spark, path)
    assert(Similarity.activeCellsDir(spark, path) == gen1,
      "a nothing-to-do compaction must not rewrite/promote")
    // force overrides the short-circuit (the drill escape)
    Similarity.compactIvfCells(spark, path, force = true)
    val gen2 = Similarity.activeCellsDir(spark, path)
    assert(gen2 != gen1, "force must re-enable the promote")
    // a delete re-arms the next compaction (tombstones standing)…
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 20 === 10).select("vec_id"), path,
      delTag = "nd1")
    Similarity.compactIvfCells(spark, path)
    val gen3 = Similarity.activeCellsDir(spark, path)
    assert(gen3 != gen2, "standing tombstones must re-arm the rewrite")
    // …and the purged generation still answers in full
    assert(Similarity.liveCells(spark, path).select($"vec_id")
        .as[Long].collect().toSet ==
      emb.filter($"vec_id" % 20 =!= 10).select($"vec_id").as[Long]
        .collect().toSet,
      "live content after the skip/re-arm cycle must equal the remainder")
  }

  test("auto-compaction policy: fold crosses files-per-cell threshold, probes identical") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"autocompact-${System.nanoTime()}")
    def cellFiles: Int = graft.util.LocalFs.parquetFileCount(Similarity.activeCellsDir(spark, path))
    def rows = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    val qv = emb.filter($"vec_id" === 0L).select($"embedding")
      .as[Array[Float]].head()
    def probe = Similarity.ivfProbe(spark, path, qv.toSeq, k = 10, nProbe = 4,
      exclude = Some(0L)).as[(Long, Long)].collect().toSeq
    // with the policy armed LOW, a fold that crosses the threshold
    // compacts ITSELF — no operator call; with it disabled (0), folds
    // accumulate files monotonically
    spark.conf.set("spark.graft.index.autoCompactFilesPerUnit", "0")
    try {
      Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 40 === 0), path, "a1")
      Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 40 === 10), path, "a2")
      Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 40 === 20), path, "a3")
      val accumulated = cellFiles
      val (rowsBefore, probeBefore) = (rows, probe)
      spark.conf.set("spark.graft.index.autoCompactFilesPerUnit", "2")
      Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 40 === 30), path, "a4")
      assert(cellFiles < accumulated,
        s"policy must have auto-compacted (was $accumulated files, " +
          s"now $cellFiles after one more fold)")
      val allRows = rows
      assert(allRows.map(_._1).toSet ==
        (rowsBefore.map(_._1) ++ batch.filter($"vec_id" % 40 === 30)
          .select("vec_id").as[Long].collect()).toSet,
        "auto-compaction must preserve every row incl. the triggering fold")
      assert(probe == probeBefore, "probes must be identical after auto-compact")
      // fold ledger intact: replaying a pre-compact tag is still a no-op
      val f = cellFiles
      Similarity.foldIntoIvfIndex(batch.filter($"vec_id" % 40 === 0), path, "a1")
      assert(cellFiles == f)
    } finally spark.conf.unset("spark.graft.index.autoCompactFilesPerUnit")
  }

  test("deleteFromIvfIndex: live views, compact purge, re-insert contract") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"ivfdel-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(batch, path, batchTag = "b1")
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 20 === 10).select("vec_id"), path, delTag = "d1")
    // live content ≡ a from-scratch assignment of the REMAINDER to the
    // standing centroids — fold∘delete ≡ rebuild-from-remainder
    val cents = spark.read.parquet(s"$path/centroids")
      .select("cent_id", "cvec", "cnrm")
    val want = Similarity.assignToCentroids(
        emb.filter($"vec_id" % 20 =!= 10)
          .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
          .withColumn("nrm", VectorFunctions.qdot($"q", $"q")), cents)
      .select($"vec_id", $"cent_id", $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    def live = Similarity.liveCells(spark, path)
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    assert(live == want, "live cells must equal the remainder assignment")
    // stats are live: totals shrink by the delete
    val statsN = Similarity.ivfCellStats(spark, path)
      .agg(sum($"n_vecs")).as[Long].head()
    assert(statsN == want.size.toLong, "cell stats must count live rows only")
    // probes exclude tombstoned ids immediately: vec 10's own embedding
    // no longer finds it, single-probe and batched alike
    val qv10 = emb.filter($"vec_id" === 10L).select($"embedding")
      .as[Array[Float]].head()
    val single = Similarity.ivfProbe(spark, path, qv10.toSeq, k = 5, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(!single.contains(10L), "tombstoned id served by ivfProbe")
    val batched = Similarity.ivfProbeBatch(spark, path,
        Seq((10L, qv10.toSeq)), k = 5, nProbe = 4, excludeSelf = false)
      .select("vec_id").as[Long].collect().toSet
    assert(!batched.contains(10L), "tombstoned id served by ivfProbeBatch")
    // the tombstone anti-join must not cost the probe its partition
    // pruning: the cent_id IN filter still reaches the cells scan
    // (left-side predicate pushes below the LeftAnti broadcast join)
    val probePlan = Similarity
      .ivfProbe(spark, path, qv10.toSeq, k = 5, nProbe = 4)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters: [cent_id"),
      s"tombstoned probe lost partition pruning:\n$probePlan")
    assert(probePlan.contains("LeftAnti"),
      "tombstoned probe must carry the live-view anti-join")
    // replayed delete (marker path): no duplicate tombstone rows
    def tombCount(): Long = {
      val fs = Similarity.standingTombstoneFiles(spark, path)
      if (fs.isEmpty) 0L else spark.read.parquet(fs: _*).count()
    }
    val tombRows = tombCount()
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 20 === 10).select("vec_id"), path, delTag = "d1")
    assert(tombCount() == tombRows)
    // re-inserting a tombstoned id before compaction: LOUD rejection
    val e = intercept[IllegalArgumentException] {
      Similarity.foldIntoIvfIndex(
        emb.filter($"vec_id" % 20 === 10), path, batchTag = "bad")
    }
    assert(e.getMessage.contains("compact"))
    // compaction purges physically and clears the tombstone set; the
    // delete ledger survives
    Similarity.compactIvfCells(spark, path)
    assert(Similarity.standingTombstoneFiles(spark, path).isEmpty,
      "compaction must leave the promoted generation with no standing tombstones")
    val physical = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    assert(physical == want, "compaction must purge exactly the tombstoned rows")
    assert(IndexLog.cells(path).latest(spark).dels("d1"),
      "delete ledger entry must survive compaction")
    // after the purge the id folds again as new — the replace recipe
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 20 === 10), path, batchTag = "b2")
    assert(live.size == want.size + emb.filter($"vec_id" % 20 === 10).count(),
      "re-folded ids must serve again")
    // rebuild-from-index starts the new layout from the LIVE rows
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 20 === 10).select("vec_id"), path, delTag = "d2")
    val rebuilt = Similarity.rebuildIvfIndex(spark, path, s"$path-delrebuilt")
    val rebuiltIds = spark.read.parquet(Similarity.activeCellsDir(spark, rebuilt))
      .select("vec_id").as[Long].collect().toSet
    assert(!rebuiltIds.exists(_ % 20 == 10),
      "rebuild must exclude tombstoned ids")
    assert(Similarity.standingTombstoneFiles(spark, rebuilt).isEmpty)
  }

  test("deleteFromIvfIndex on IVF-PQ: ADC probes and batch probes honor tombstones") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val (path, _) = Similarity.ensureIvfPqIndex(corpus,
      srcTag = s"pqdel-${System.nanoTime()}")
    Similarity.foldIntoIvfPqIndex(batch, path, batchTag = "b1")
    val before = Similarity.liveCells(spark, path).count()
    Similarity.deleteFromIvfIndex(
      emb.filter($"vec_id" % 20 === 10).select("vec_id"), path, delTag = "d1")
    val nDel = emb.filter($"vec_id" % 20 === 10).count()
    assert(Similarity.liveCells(spark, path).count() == before - nDel)
    val qv10 = emb.filter($"vec_id" === 10L).select($"embedding")
      .as[Array[Float]].head()
    val single = Similarity.ivfPqProbe(spark, path, qv10.toSeq, k = 5, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(!single.contains(10L), "tombstoned id served by ivfPqProbe")
    val batched = Similarity.ivfPqProbeBatch(spark, path,
        Seq((10L, qv10.toSeq)), k = 5, nProbe = 4, excludeSelf = false)
      .select("vec_id").as[Long].collect().toSet
    assert(!batched.contains(10L), "tombstoned id served by ivfPqProbeBatch")
    // the rerank path nominates through the live ADC sieve too
    val rer = Similarity.ivfPqProbeRerank(spark, path, emb, qv10.toSeq,
        k = 5, kAdc = 100, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(!rer.contains(10L), "tombstoned id served by ivfPqProbeRerank")
    // PQ fold guard + purge parity
    intercept[IllegalArgumentException] {
      Similarity.foldIntoIvfPqIndex(
        emb.filter($"vec_id" % 20 === 10), path, batchTag = "bad")
    }
    val liveBefore = Similarity.liveCells(spark, path)
      .select($"vec_id").as[Long].collect().toSeq.sorted
    Similarity.compactIvfCells(spark, path)
    assert(Similarity.standingTombstoneFiles(spark, path).isEmpty)
    val phys = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id").as[Long].collect().toSeq.sorted
    assert(phys == liveBefore, "PQ compaction must purge exactly the tombstoned rows")
    Similarity.foldIntoIvfPqIndex(
      emb.filter($"vec_id" % 20 === 10), path, batchTag = "b2")
    assert(Similarity.liveCells(spark, path).count() == before)
  }

  test("streaming deletion ≡ the one-shot delete (q128 shape)") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    val del    = emb.filter($"vec_id" % 20 === 10).select("vec_id")
    def build(tag: String): String = {
      val (p, _) = Similarity.ensureIvfIndex(corpus, srcTag = tag)
      Similarity.foldIntoIvfIndex(batch, p, batchTag = "b1")
      p
    }
    val salt = System.nanoTime()
    // one-shot delete on one layout, two micro-batches on a twin
    val p1 = build(s"sdel-one-$salt")
    Similarity.deleteFromIvfIndex(del, p1, delTag = "d1")
    val p2 = build(s"sdel-stream-$salt")
    graft.streaming.AnnIngestStream.drainDeletes(
      Seq(del.filter($"vec_id" % 40 === 10), del.filter($"vec_id" % 40 =!= 10)),
      p2, tagPrefix = "sd")
    def live(p: String) = Similarity.liveCells(spark, p)
      .select($"vec_id", $"cent_id".cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(live(p2) == live(p1),
      "streamed deletes must serve the same live view as the one-shot")
    // replaying the whole stream is a no-op (ledger markers per batchId)
    def tombRows(): Long = {
      val fs = Similarity.standingTombstoneFiles(spark, p2)
      if (fs.isEmpty) 0L else spark.read.parquet(fs: _*).count()
    }
    val rows = tombRows()
    graft.streaming.AnnIngestStream.drainDeletes(
      Seq(del.filter($"vec_id" % 40 === 10), del.filter($"vec_id" % 40 =!= 10)),
      p2, tagPrefix = "sd")
    assert(tombRows() == rows)
  }

  test("a compaction that dies before its commit leaves its rewrite an orphan retention drops") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"crashcommit-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 10 === 0), path, "b1")
    def rows = Similarity.liveCells(spark, path)
      .select($"vec_id").as[Long].collect().toSeq.sorted
    val before = rows
    val active = Similarity.activeCellsDir(spark, path)
    // the crash the log design can have: the rewrite landed, the
    // commit never did
    IndexLifecycle.compactRaceHook = Some(_ => throw new IllegalStateException("crash"))
    try intercept[IllegalStateException](Similarity.compactIvfCells(spark, path))
    finally IndexLifecycle.compactRaceHook = None
    def dirs = new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("cells")).toSet
    val orphan = dirs - "cells"
    assert(orphan.size == 1, s"the crashed rewrite must stand as one orphan: $dirs")
    assert(Similarity.activeCellsDir(spark, path) == active && rows == before,
      "the old generation must stay active with every row")
    assert(IndexLog.cells(path).latest(spark).folds("b1"), "the fold ledger is untouched")
    // fresh, it may be a live rewrite elsewhere: the age gate keeps it
    Similarity.deleteFromIvfIndex(Seq(-2L).toDF("vec_id"), path, "gc-d0")
    assert(orphan.subsetOf(dirs), "a FRESH uncommitted rewrite must survive retention")
    // aged past gcStaleHours, the next maintenance entry drops it
    val aged = System.currentTimeMillis() - 25L * 3600 * 1000
    java.nio.file.Files.walk(new java.io.File(path, orphan.head).toPath)
      .forEach(f => f.toFile.setLastModified(aged))
    Similarity.deleteFromIvfIndex(Seq(-1L).toDF("vec_id"), path, "gc-d1")
    assert(dirs == Set("cells"), s"the aged orphan must be retired: $dirs")
    assert(rows == before)
  }

  test("a cells layout keeps its lineage in one log: no manifest, markers or stamp files") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfIndex(emb.filter($"vec_id" % 10 =!= 0),
      srcTag = s"logonly-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(emb.filter($"vec_id" % 10 === 0), path, "b1")
    Similarity.deleteFromIvfIndex(emb.filter($"vec_id" % 20 === 10).select("vec_id"),
      path, "d1")
    Similarity.compactIvfCells(spark, path)
    val names = graft.util.LocalFs.walkFiles(new java.io.File(path)).map(_.getName).toSet ++
      new java.io.File(path).listFiles().map(_.getName)
    assert(!names.exists(n => n.contains("MANIFEST") || n == "folds" || n == "dels" ||
        n.contains("_graft_nfiles")),
      s"a fresh layout must hold no pre-log metadata: ${names.toSeq.sorted.take(20)}")
    val c = IndexLog.cells(path).latest(spark)
    assert(c.folds == Set("b1") && c.dels == Set("d1") && c.nfiles.isDefined &&
      c.tombstones.isEmpty && c.op == "compact")
    // a version is created once: a second writer of the same version loses
    assert(!IndexLog.cells(path).write(spark, c.copy(gen = "cells")))
    assert(IndexLog.cells(path).latest(spark) == c)
  }

  test("two writers racing one log version: exactly one wins, whole") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lograce").toString
    (0 until 20).foreach { v =>
      val barrier = new java.util.concurrent.CyclicBarrier(4)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (0 until 4).map { w =>
        new Thread(() => {
          barrier.await()
          if (IndexLog.cells(dir).write(spark, IndexLog.Commit(v.toLong, s"cells.g$w",
              folds = Set(s"writer-$w")))) wins.incrementAndGet()
          ()
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get() == 1, s"version $v: ${wins.get()} writers won")
      val c = IndexLog.cells(dir).latest(spark)
      assert(c.version == v && c.folds == Set(s"writer-${c.gen.stripPrefix("cells.g")}"),
        s"version $v must hold exactly its winner's commit: $c")
    }
  }

  test("retireCells: aged superseded generations and legacy leftovers are GC'd, fresh ones kept") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"gc-${System.nanoTime()}")
    def rows = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id").as[Long].collect().toSeq.sorted
    val before = rows
    // a REAL compaction supersedes the original cells/ generation: the
    // promote commit names a new one, the old dir stays for in-flight
    // scans — it must survive while fresh and go once aged past
    // gcStaleHours
    Similarity.compactIvfCells(spark, path)
    val gen0 = new java.io.File(s"$path/cells")
    assert(gen0.isDirectory,
      "the superseded generation must survive its own promote (in-flight scans)")
    assert(!Similarity.activeCellsDir(spark, path).endsWith("/cells"),
      "after compaction the log must name a new generation")
    // plant leftovers no commit names alongside: everything is
    // age-gated — a fresh dir may be a LIVE cross-process rewrite
    // (lockFor is JVM-local)
    val oldA  = new java.io.File(s"$path/cells.old99999")    // aged leftover
    val cmpL  = new java.io.File(s"$path/cells.compact88888") // live (fresh)
    assert(oldA.mkdir() && cmpL.mkdir(), "test setup: plant stale siblings")
    java.nio.file.Files.write(oldA.toPath.resolve("leftover.parquet"),
      Array[Byte](1, 2, 3))
    val aged = System.currentTimeMillis() - 25L * 3600 * 1000
    java.nio.file.Files.setLastModifiedTime(oldA.toPath.resolve("leftover.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(aged))
    java.nio.file.Files.setLastModifiedTime(oldA.toPath,
      java.nio.file.attribute.FileTime.fromMillis(aged))
    // age the superseded generation too: its last touch is the time of
    // the last commit naming it, so re-date those commits
    val fs = IndexLog.fsOf(spark, path)
    IndexLog.cells(path).all(spark).filter(_.gen == "cells").foreach { c =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/_log/${c.version}.json"), false)
      assert(IndexLog.cells(path).write(spark, c.copy(timeMs = aged)))
    }
    // the next locked maintenance entry garbage-collects the aged ones
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 10 === 0), path, "gc1")
    assert(!oldA.exists() && !gen0.exists(),
      "AGED leftovers and superseded generations must be deleted")
    assert(cmpL.exists(),
      "a FRESH sibling (possibly a live cross-process rewrite) must survive")
    assert(!IndexLog.cells(path).all(spark).exists(_.gen == "cells"),
      "commits naming only dropped generations must be truncated")
    cmpL.delete()
    assert(rows.toSet.subsetOf(spark.read.parquet(Similarity.activeCellsDir(spark, path))
        .select($"vec_id").as[Long].collect().toSet),
      s"GC must not touch the live layout (pre-fold rows: ${before.size})")
  }

  test("rebuildIvfIndex: rebuild-from-index ≡ build-from-source over the union") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0)
    val tag    = s"rebuild-${System.nanoTime()}"
    // maintained: corpus built, batch folded (centroids stale)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = tag)
    Similarity.foldIntoIvfIndex(batch, path, "b0")
    val rebuilt = Similarity.rebuildIvfIndex(spark, path, s"$path-rebuilt")
    // fresh: built from the source table over the same union
    val (fresh, _) = Similarity.ensureIvfIndex(emb, srcTag = s"$tag-fresh")
    def cents(p: String) = spark.read.parquet(s"$p/centroids")
      .select($"cent_id", $"cvec", $"cnrm")
      .as[(Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    def cells(p: String) = spark.read.parquet(Similarity.activeCellsDir(spark, p))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    assert(cents(rebuilt) == cents(fresh),
      "re-seeded centroids must equal the fresh build's")
    assert(cells(rebuilt) == cells(fresh),
      "reassigned cells must equal the fresh build's")
    // idempotent: a second rebuild call is a no-op on the promoted layout
    assert(Similarity.rebuildIvfIndex(spark, path, s"$path-rebuilt") == rebuilt)
    assert(cells(rebuilt) == cells(fresh))
  }

  test("ivfRebuildAdvice: metrics consistent with the occupancy scan") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"advice-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(
      emb.filter($"vec_id" % 10 === 0), path, "b0")
    val occ = Similarity.ivfCellStats(spark, path)
      .as[(Long, Long)].collect()
    val c = spark.read.parquet(s"$path/centroids").count()
    val corpusN = corpus.count()
    val n = occ.map(_._2).sum
    val row = Similarity.ivfRebuildAdvice(spark, path, corpusN)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    val skew = occ.map(_._2).max * c * 1000 / n
    val mass = (n - corpusN) * 1000 / n
    assert(row == ((n, occ.length.toLong, c, occ.map(_._2).max,
      skew, mass, if (skew >= 2000 || mass >= 500) 1L else 0L)))
  }

  test("pqEncode: codebook seeds are their own nearest codeword") {
    val emb   = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val codes = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(codes.length == emb.count())
    codes.foreach { case (_, c0, c1, c2, c3) =>
      Seq(c0, c1, c2, c3).foreach(c => assert(c >= 0 && c < 256)) }
    // a seed's subvectors have squared-L2 zero to their own codeword,
    // the unique minimum (random floats; distinct subvectors)
    codes.filter(_._1 < 256).foreach { case (id, c0, c1, c2, c3) =>
      assert(Seq(c0, c1, c2, c3).forall(_ == id),
        s"seed $id must encode to itself, got ($c0,$c1,$c2,$c3)") }
  }

  test("pqEncode: fused argmin kernel equals the join+agg reference, map-only plan") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    // full-corpus code equality against the composed reference path
    // (pqAssignments: explode × broadcast join × min(struct)) — the
    // r21 rewrite must not move a single code
    val fused = Similarity.pqEncode(emb)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val ref = Similarity.pqAssignments(emb, 4, 256, 16)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (v, rs) =>
        val bySub = rs.map(r => r._2 -> r._3).toMap
        (v, bySub(0), bySub(1), bySub(2), bySub(3))
      }.toSeq.sortBy(_._1)
    assert(fused.toSeq == ref)
    // plan contract: the corpus side is MAP-ONLY — one 1-row broadcast
    // BNL attach, no hash aggregate, no per-codeword row blowup; the
    // only exchange is the output ORDER BY
    val plan = Similarity.pqEncode(emb).queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") || {
      // the codebook build side may aggregate; the corpus side must not:
      // assert by counting — exactly the collect_list build aggregates
      plan.split("HashAggregate").length - 1 <= 2
    }, s"unexpected aggregation on the corpus side:\n$plan")
    assert(plan.contains("pq_argmin_idx"), s"fused kernel missing:\n$plan")
  }

  test("pqAdcTopK: adist is the exact LUT sum over the assigned codes") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val out = Similarity.pqAdcTopK(emb, queryId = 0L, k = 10)
      .as[(Long, Long)].collect().toSeq
    assert(out.size == 10 && !out.exists(_._1 == 0L))
    assert(out == out.sortBy(t => (t._2, t._1)), "ordered by (adist, vec_id)")
    // recompute driver-side from codebooks + assignments
    val cb = Similarity.pqCodebooks(emb)
      .as[(Int, Long, Seq[Long], Long)].collect()
      .map { case (s0, cid, cv, cn) => (s0, cid) -> ((cv, cn)) }.toMap
    val asg = Similarity.pqAssignments(emb, 4, 256, 16)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).map { case (v, rs) => v -> rs.map(r => r._2 -> r._3).toMap }
    val q = emb.filter($"vec_id" === 0L).select("embedding")
      .as[Array[Float]].head()
      .map(f => math.round(f.toDouble * 1000))
    val qsub = (0 until 4).map(s0 => s0 -> q.slice(s0 * 16, s0 * 16 + 16)).toMap
    out.foreach { case (vid, adist) =>
      val manual = (0 until 4).map { s0 =>
        val (cv, cn) = cb((s0, asg(vid)(s0)))
        val qv = qsub(s0)
        val qn = qv.map(x => x * x).sum
        val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
        qn + cn - 2 * dot
      }.sum
      assert(adist == manual, s"vec $vid: adist $adist != manual $manual")
    }
  }

  test("ivfPqProbe: pruned code-only scan, exact ADC distances") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfPqIndex(emb,
      srcTag = s"ivfpq-${System.nanoTime()}")
    val qv = emb.filter($"vec_id" === 0L).select("embedding")
      .as[Array[Float]].head()
    val probe = Similarity.ivfPqProbe(spark, path, qv.toSeq, k = 10,
      nProbe = 4, exclude = Some(0L))
    val plan = probe.queryExecution.executedPlan.toString
    // the serving contract: partition-pruned scan, codes only (the
    // vectors never reach the plan), map-only ADC (no join/aggregate
    // between the scan and the top-k)
    assert(plan.contains("PartitionFilters: [cent_id"),
      s"expected a pruned cells scan:\n$plan")
    assert(plan.contains("codes") && !plan.contains("cvec"),
      s"the scan must read codes, not vectors:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"ADC must be a map-only expression:\n$plan")
    val out = probe.as[(Long, Long)].collect().toSeq
    assert(out.size == 10 && !out.exists(_._1 == 0L))
    assert(out == out.sortBy(t => (t._2, t._1)))
    // distances are the same exact integer LUT sums q117 computes —
    // IVF-PQ results equal the global ADC ranking restricted to the
    // vectors that share the probed cells
    val adc = Similarity.pqAdcTopK(emb, queryId = 0L, k = emb.count().toInt)
      .as[(Long, Long)].collect().toMap
    out.foreach { case (vid, adist) =>
      assert(adc(vid) == adist, s"vec $vid: ivfpq $adist != global ${adc(vid)}")
    }
  }

  test("ivfPqProbeRerank: exact cosines on the ADC candidates, IN-pushdown lookup") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfPqIndex(emb,
      srcTag = s"ivfpqrr-${System.nanoTime()}")
    val qv = emb.filter($"vec_id" === 0L).select("embedding")
      .as[Array[Float]].head()
    val rr = Similarity.ivfPqProbeRerank(spark, path, emb, qv.toSeq,
      k = 10, kAdc = 100, nProbe = 4, exclude = Some(0L))
    // the point lookup must push the candidate ids into the source scan
    val plan = rr.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(vec_id"),
      s"candidate fetch must be an IN-pushdown scan:\n$plan")
    val out = rr.as[(Long, Long)].collect().toSeq
    assert(out.size == 10 && !out.exists(_._1 == 0L))
    // every re-ranked dot is the EXACT brute-force dot for that vector
    val exact = Similarity.bruteForceTopKPortable(emb, 0L, emb.count().toInt)
      .as[(Long, Long)].collect().toMap
    out.foreach { case (vid, dot) =>
      assert(exact(vid) == dot, s"vec $vid: rerank dot $dot != exact ${exact(vid)}")
    }
    // re-ranking a wider ADC sieve can only improve recall vs raw ADC
    val exactTop = Similarity.bruteForceTopKPortable(emb, 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val adcTop = Similarity.ivfPqProbe(spark, path, qv.toSeq, k = 10,
      nProbe = 4, exclude = Some(0L))
      .select("vec_id").as[Long].collect().toSet
    val rrTop = out.map(_._1).toSet
    assert(rrTop.count(exactTop.contains) >= adcTop.count(exactTop.contains),
      "re-rank must not lose recall vs the raw ADC top-k")
  }

  test("foldIntoIvfPqIndex: standing-book encode, servable batch, replay no-op") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0)
    val (path, _) = Similarity.ensureIvfPqIndex(corpus,
      srcTag = s"pqfold-${System.nanoTime()}")
    val corpusRows = spark.read.parquet(Similarity.activeCellsDir(spark, path)).count()
    Similarity.foldIntoIvfPqIndex(batch, path, "b0")
    val cells = spark.read.parquet(Similarity.activeCellsDir(spark, path))
    assert(cells.count() == emb.count(), "every union vector indexed once")
    // folded rows carry codes from the STANDING corpus books: every
    // code must be a corpus-seeded code_id (vec_id < 256, not %10==0)
    val codeIds = cells.select(explode($"codes")).as[Long].collect().toSet
    assert(codeIds.forall(c => c < 256 && c % 10 != 0),
      s"codes must come from the corpus-seeded books, got $codeIds")
    // a folded vector is immediately servable: its own codes are the
    // per-subspace argmins of its exact subvectors, so no other code
    // combination can beat it — it returns as ADC rank 1 (the distance
    // is the quantization residual, NOT zero: ADC compares the exact
    // query to the reconstruction)
    val qv = emb.filter($"vec_id" === 20L).select("embedding")
      .as[Array[Float]].head()
    val top = Similarity.ivfPqProbe(spark, path, qv.toSeq, k = 1, nProbe = 4)
      .as[(Long, Long)].head()
    assert(top._1 == 20L,
      s"folded vec must be its own ADC-nearest, got $top")
    // replayed batch tag is a no-op
    Similarity.foldIntoIvfPqIndex(batch, path, "b0")
    assert(spark.read.parquet(Similarity.activeCellsDir(spark, path)).count() == emb.count())
    assert(corpusRows < emb.count())
    // the shared compactor serves the CODE cells too: fewer files,
    // identical probe
    val before = Similarity.ivfPqProbe(spark, path, qv.toSeq, k = 10, nProbe = 4)
      .as[(Long, Long)].collect().toSeq
    val filesBefore = graft.util.LocalFs.parquetFileCount(Similarity.activeCellsDir(spark, path))
    Similarity.compactIvfCells(spark, path)
    assert(graft.util.LocalFs.parquetFileCount(Similarity.activeCellsDir(spark, path)) < filesBefore)
    val after = Similarity.ivfPqProbe(spark, path, qv.toSeq, k = 10, nProbe = 4)
      .as[(Long, Long)].collect().toSeq
    assert(after == before, "PQ probes must be identical after compaction")
  }

  test("assignToCentroids: fused argmax kernel equals the join+agg reference") {
    // pins the r21 rewrite (IvfArgmaxCosExpr replacing the crossJoin ×C
    // + max(struct(ccos, cent_id)) aggregate): same winner for every
    // fixture vector, including the SQL-NaN-ordering edge (a zero
    // vector has all-NaN cosines and must assign to the LARGEST
    // cent_id, exactly like the struct-max did)
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val b = emb.select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("nrm", VectorFunctions.qdot($"q", $"q"))
    val cents = b.filter($"vec_id" < 64)
      .select($"vec_id".as("cent_id"), $"q".as("cvec"), $"nrm".as("cnrm"))
    val fused = Similarity.assignToCentroids(b, cents)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sortBy(_._1)
    val ref = SimilarityOracles.assignToCentroidsJoinAgg(b, cents)
      .select("vec_id", "cent_id").as[(Long, Long)].collect().sortBy(_._1)
    assert(fused.toSeq == ref.toSeq)
    // carried columns survive for the downstream writers / Lloyd loop
    val cols = Similarity.assignToCentroids(b, cents).columns.toSeq
    assert(cols == Seq("vec_id", "cent_id", "q", "nrm"))
    // a zero-norm vector fails LOUDLY in both forms (the join form's
    // ANSI Divide raised DIVIDE_BY_ZERO; the kernel raises the same
    // ArithmeticException family — cosine against zero is undefined,
    // never a silent NaN winner)
    val zb = Seq((9999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
      .select($"vec_id", VectorFunctions.quantize($"embedding").as("q"))
      .withColumn("nrm", VectorFunctions.qdot($"q", $"q"))
    def rootArithmetic(t: Throwable): Boolean =
      t != null && (t.isInstanceOf[ArithmeticException] ||
        rootArithmetic(t.getCause))
    val zf = intercept[Exception] {
      Similarity.assignToCentroids(zb, cents).select("cent_id").as[Long].head()
    }
    val zr = intercept[Exception] {
      SimilarityOracles.assignToCentroidsJoinAgg(zb, cents).select("cent_id").as[Long].head()
    }
    assert(rootArithmetic(zf) && rootArithmetic(zr),
      s"zero vector must raise arithmetic errors in both forms: $zf / $zr")
    // plan contract: assignment is MAP-ONLY — the only aggregation is
    // the tiny cents-side collect_list build (partial+final), and the
    // corpus rows never ride an exchange
    val plan = Similarity.assignToCentroids(b, cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ivf_argmax_cos"), s"fused kernel missing:\n$plan")
    assert(plan.split("HashAggregate").length - 1 <= 2 &&
      !plan.contains("SortAggregate"),
      s"unexpected aggregation on the corpus side:\n$plan")
  }

  test("IVF-PQ layout codes: fused build+fold equal the driver-side argmin") {
    // pins the r21 builder rewrite (pqCodesFused replacing the
    // pqAssignments join+agg regroup in buildIvfPqIndex AND the
    // standing-book encode in foldIntoIvfPqIndex): every code in the
    // WRITTEN layout — corpus rows and folded rows alike — must equal
    // an independent driver-side argmin over the standing codebooks
    // (exact integer l2, ties to the smaller code_id), computed with
    // no graft plan code at all
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0)
    val (path, _) = Similarity.ensureIvfPqIndex(corpus,
      srcTag = s"pqfused-${System.nanoTime()}")
    Similarity.foldIntoIvfPqIndex(batch, path, "b0")
    val cells = spark.read.parquet(Similarity.activeCellsDir(spark, path))
      .select($"vec_id", $"codes").as[(Long, Seq[Long])].collect().toMap
    val books = spark.read.parquet(s"$path/codebooks")
      .as[(Int, Long, Seq[Long], Long)].collect()
      .groupBy(_._1).map { case (s0, rs) =>
        s0 -> rs.map(r => (r._2, r._3, r._4)).sortBy(_._1) }
    val all = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect()
    assert(cells.size == all.length, "every union vector indexed once")
    all.foreach { case (vid, v) =>
      val q = v.map(f => math.round(f.toDouble * 1000))
      val want = (0 until 4).map { s0 =>
        val qv = q.slice(s0 * 16, s0 * 16 + 16)
        books(s0).map { case (cid, cv, cn) =>
          val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
          (cn - 2L * dot, cid)   // snrm constant per (vec, sub) — drop it
        }.min._2                 // lexicographic: ties -> smaller code_id
      }.toSeq
      assert(cells(vid) == want, s"vec $vid: layout ${cells(vid)} != $want")
    }
  }

  test("ivfPqProbeBatch equals N sequential ADC probes, in one pruned scan") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfPqIndex(emb,
      srcTag = s"ivfpqbatch-${System.nanoTime()}")
    val qs = emb.filter($"vec_id" < 5).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, v.toSeq) }.toSeq.sortBy(_._1)
    val batch = Similarity.ivfPqProbeBatch(spark, path, qs, k = 5, nProbe = 4)
    val plan = batch.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cent_id"),
      s"expected one pruned cells scan:\n$plan")
    val got = batch.as[(Long, Long, Long, Long)].collect().toSeq
      .map { case (q, rk, v, d) => (q, rk, v, d) }.sorted
    val want = qs.flatMap { case (qid, qv) =>
      Similarity.ivfPqProbe(spark, path, qv, k = 5, nProbe = 4,
        exclude = Some(qid))
        .as[(Long, Long)].collect().toSeq.zipWithIndex
        .map { case ((v, d), i) => (qid, (i + 1).toLong, v, d) }
    }.sorted
    assert(got == want, "batched ADC must equal the sequential probes")
  }

  test("streaming vector ingestion ≡ the one-shot fold (q112 shape)") {
    val emb    = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 10 =!= 0)
    val batch  = emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding")
    // one-shot fold on index A
    val (pathA, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"ingestA-${System.nanoTime()}")
    Similarity.foldIntoIvfIndex(batch, pathA, batchTag = "oneshot")
    // streaming fold on index B (same corpus → identical centroids)
    val (pathB, _) = Similarity.ensureIvfIndex(corpus,
      srcTag = s"ingestB-${System.nanoTime()}")
    graft.streaming.AnnIngestStream.drainIngest(
      Seq(batch.filter($"vec_id" % 20 === 0), batch.filter($"vec_id" % 20 =!= 0)),
      pathB, tagPrefix = "t")
    def cells(p: String) = spark.read.parquet(Similarity.activeCellsDir(spark, p))
      .select($"vec_id", $"cent_id".cast("long"), $"q", $"nrm")
      .as[(Long, Long, Seq[Long], Long)].collect().toSeq.sortBy(_._1)
    assert(cells(pathA) == cells(pathB),
      "micro-batch boundaries must be invisible in the folded index")
    // replaying the whole stream re-issues the same batchId tags — the
    // persisted fold ledger makes it a no-op, not a double-append
    graft.streaming.AnnIngestStream.drainIngest(
      Seq(batch.filter($"vec_id" % 20 === 0), batch.filter($"vec_id" % 20 =!= 0)),
      pathB, tagPrefix = "t")
    assert(cells(pathA) == cells(pathB), "a replayed stream must not re-append")
  }

  test("streaming micro-batched ANN serving ≡ the one-shot batch (q110 shape)") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tag = s"annstream-${System.nanoTime()}"
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    def qb(lo: Long, hi: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select($"vec_id".as("query_id"), $"embedding".as("emb"))
    // queries split across two REAL micro-batches, each paying its own
    // ranking + pruned scan, must accrue to exactly the one-shot answer
    val drained = graft.streaming.AnnServeStream
      .drainServe(Seq(qb(0, 3), qb(3, 5)), path, k = 5, nProbe = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val oneShot = Similarity.ivfProbeBatchDf(spark, path, qb(0, 5), k = 5, nProbe = 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(drained == oneShot && drained.nonEmpty)
  }

  test("a batch probe persists nothing") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val tag = s"ivfnopersist-${System.nanoTime()}"
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = tag)
    val qdf = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding".as("emb"))
    def ids(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids()
    assert(Similarity.ivfProbeBatchDf(spark, path, qdf, 5, 4).count() > 0)
    assert(ids() == before, s"a batch probe persisted ${ids() -- before}")
    // a drain checkpoints its own accumulator (once at the start and once
    // per micro-batch): serving through it persists no more than the
    // same drain with a probe-free fold does, nothing per probe
    val batches = Seq(qdf.filter($"query_id" < 2), qdf.filter($"query_id" >= 2))
    val beforeServe = ids()
    assert(graft.streaming.AnnServeStream.drainServe(batches, path, k = 5, nProbe = 4)
      .count() > 0)
    val byServe = ids() -- beforeServe
    val beforeBare = ids()
    val zero = Seq.empty[(Long, Long, Long, Long)].toDF("query_id", "rk", "vec_id", "dot")
    graft.streaming.IncrementalSink.drainFolded(batches, zero, (acc, _) => acc).count()
    val byBare = ids() -- beforeBare
    assert(byServe.size <= byBare.size,
      s"drainServe persisted $byServe; the probe-free drain persisted $byBare")
  }

  test("ivfProbeBatch ≡ its driver-side replay at C=4096") {
    // a large synthetic centroid table (C=4096) with a hand-planted
    // cells layout: the batch must probe EXACTLY the cells an
    // independent replay of the ranking picks — cos ordering, cent_id
    // DESC tie-break, nProbe cut — and serve the identical top-k
    val dir = s"${java.nio.file.Files.createTempDirectory("graft_ivf_dist")}/ivf"
    val rnd = new scala.util.Random(421)
    val dim = 8
    val cents = (0L until 4096L).map { cid =>
      val cv = Seq.fill(dim)(rnd.nextInt(2001).toLong - 1000L)
      (cid, cv, cv.map(x => x * x).sum)
    }
    cents.toDF("cent_id", "cvec", "cnrm").write.parquet(s"$dir/centroids")
    // cells under every 64th centroid only (a sparse layout keeps the
    // partitioned write fast; ranking correctness needs all 4096)
    val cellRows = cents.collect { case (cid, _, _) if cid % 64 == 0 =>
      (0 until 3).map { j =>
        val q = Seq.fill(dim)(rnd.nextInt(2001).toLong - 1000L)
        (100000L + cid * 10 + j, q, q.map(x => x * x).sum, cid)
      }
    }.flatten
    cellRows.toDF("vec_id", "q", "nrm", "cent_id")
      .write.partitionBy("cent_id").parquet(s"$dir/cells")
    IndexLog.cells(dir).init(spark, "cells")
    val queries = (0 until 8).map { i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2f - 1f))
    }
    val nProbe = 6
    val got = Similarity.ivfProbeBatch(spark, dir, queries, k = 4, nProbe = nProbe)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // the replay: a plain sort over every centroid, quantizing as the
    // engine does (half away from zero)
    val expected = queries.flatMap { case (qid, vec) =>
      val qq = Similarity.quantizeQuery(vec).toSeq
      val qn = qq.map(x => x * x).sum
      val probe = cents.map { case (cid, cv, cn) =>
          val dot = cv.iterator.zip(qq.iterator).map { case (a, b) => a * b }.sum
          (dot.toDouble / math.sqrt(cn.toDouble * qn.toDouble), cid)
        }.sortBy { case (cos, id) => (-cos, -id) }.take(nProbe).map(_._2).toSet
      cellRows.filter(r => probe.contains(r._4))
        .map { case (vid, q, nrm, _) =>
          val dot = q.iterator.zip(qq.iterator).map { case (a, b) => a * b }.sum
          (vid, dot, dot.toDouble / math.sqrt(nrm.toDouble * qn.toDouble))
        }
        .sortBy { case (vid, _, cos) => (-cos, vid) }
        .take(4).zipWithIndex
        .map { case ((vid, dot, _), i) => (qid, (i + 1).toLong, vid, dot) }
    }.sorted
    assert(got == expected,
      s"the batch diverged from its replay:\n$got\nvs\n$expected")
  }

  test("a generation GC'd under a reader re-resolves from the newer commit, without sleeping") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val (path, _) = Similarity.ensureIvfIndex(emb,
      srcTag = s"gcreader-${System.nanoTime()}")
    val n = Similarity.liveCells(spark, path).count()
    // a reader resolves commit 0 ...
    val stale = IndexLog.cells(path).latest(spark)
    // ... a promote lands and retention takes the generation it named
    // (a reader slower than gcStaleHours / K promotes)
    Similarity.compactIvfCells(spark, path)
    val fs = IndexLog.fsOf(spark, path)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$path/${stale.gen}"), true))
    // the read of the stale commit re-resolves once from the newer
    // commit: full rows, no retry budget to wait out
    assert(Similarity.liveCellsFrom(spark, path, stale).count() == n)
    // with NO newer commit the damaged layout fails instead of guessing
    assert(fs.delete(new org.apache.hadoop.fs.Path(Similarity.activeCellsDir(spark, path)), true))
    intercept[java.io.FileNotFoundException](Similarity.liveCells(spark, path))
  }

  test("tombstone-debt cap: a mass delete triggers compaction, bounding the broadcast side") {
    val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
    val key = "spark.graft.index.autoCompactTombstoneRows"
    // the same deletes called directly and streamed through the delete
    // drain, whose micro-batches run on a child session: the runtime
    // cap set here must hold on both paths
    val direct: (org.apache.spark.sql.DataFrame, String, String) => Unit =
      Similarity.deleteFromIvfIndex(_, _, _)
    val streamed: (org.apache.spark.sql.DataFrame, String, String) => Unit =
      (ids, path, tag) => graft.streaming.AnnIngestStream.drainDeletes(Seq(ids), path, tag)
    spark.conf.set(key, "10")
    try Seq("direct" -> direct, "streamed" -> streamed).foreach { case (how, delete) =>
      val (path, _) = Similarity.ensureIvfIndex(emb,
        srcTag = s"debtcap-$how-${System.nanoTime()}")
      // under the cap (3 ids vs cap 10): tombstones stand
      delete(emb.filter($"vec_id" % 200 === 0).select("vec_id"), path, "small")
      assert(Similarity.standingTombstoneFiles(spark, path).nonEmpty,
        s"$how: a sub-cap delete must not compact")
      // over the cap: the delete path itself compacts — tombstones
      // purged physically, live view unchanged
      val live = Similarity.liveCells(spark, path).count()
      delete(emb.filter($"vec_id" % 4 === 1).select("vec_id"), path, "mass")
      assert(Similarity.standingTombstoneFiles(spark, path).isEmpty,
        s"$how: an over-cap delete must trigger the physical purge")
      val nMass = emb.filter($"vec_id" % 4 === 1).count()
      assert(Similarity.liveCells(spark, path).count() == live - nMass)
      assert(spark.read.parquet(Similarity.activeCellsDir(spark, path)).count() == live - nMass,
        s"$how: the purge must be physical, not just the live view")
    } finally spark.conf.unset(key)
  }

  test("malformed auto-compaction conf degrades to the default, loudly not fatally") {
    val key = "spark.graft.index.autoCompactFilesPerUnit"
    spark.conf.set(key, "thirty-two")
    try {
      assert(IndexLifecycle.Policy.of(spark).autoCompactFilesPerUnit == 32)
      // and a fold under the malformed conf completes instead of
      // aborting after its append already landed
      val emb = spark.read.parquet(s"${sf()}/embeddings.parquet")
      val (path, _) = Similarity.ensureIvfIndex(
        emb.filter($"vec_id" % 10 =!= 0),
        srcTag = s"badconf-${System.nanoTime()}")
      Similarity.foldIntoIvfIndex(
        emb.filter($"vec_id" % 10 === 0).select("vec_id", "embedding"),
        path, batchTag = "b1")
      assert(Similarity.liveCells(spark, path).count() == emb.count())
    } finally spark.conf.unset(key)
  }
}
