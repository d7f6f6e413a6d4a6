package graft.operators

import org.apache.spark.sql.functions.{array_repeat, lit, transform}

import graft.SparkSpec
import IndexSpecKit.jobsOf

/** Reads of a maintained IVF / IVF-PQ layout run no metadata jobs: the
  * centroids are ranked on the driver against tables collected once per
  * layout build, and a generation is scanned from a driver listing.
  */
class LayoutProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")

  private lazy val queries: Seq[(Long, Seq[Float])] =
    emb.filter($"vec_id" % 31 === 0).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq.sortBy(_._1).take(16)
      .map { case (id, v) => (id, v.toSeq) }

  private def probeJobs(family: String, path: String): Unit = {
    def call(): Seq[(Long, Long, Long, Long)] = (family match {
      case "ivf" => Similarity.ivfProbeBatch(spark, path, queries, k = 10, nProbe = 4)
      case _     => Similarity.ivfPqProbeBatch(spark, path, queries, k = 10, nProbe = 4)
    }).as[(Long, Long, Long, Long)].collect().toSeq
    call() // the first call collects the layout's centroid tables
    var served = Seq.empty[(Long, Long, Long, Long)]
    val intact = jobsOf(spark) { served = call() }
    assert(served.map(_._1).distinct.size == queries.size)
    assert(intact <= 5, s"$family batch probe ran $intact jobs intact")
    val dead = served.head._3
    Similarity.deleteFromIvfIndex(Seq(dead).toDF("vec_id"), path, s"del-$family")
    assert(Similarity.standingTombstoneFiles(spark, path).size == 1)
    val tombstoned = jobsOf(spark) { served = call() }
    assert(!served.exists(_._3 == dead), s"tombstoned $dead served by the $family batch")
    // one more than intact: the broadcast of the raw tombstone rows
    assert(tombstoned <= 4, s"$family batch probe ran $tombstoned jobs with a tombstone standing")
    info(s"$family batch probe: $intact jobs intact, $tombstoned with a tombstone standing")
  }

  test("a batched IVF probe runs at most 5 jobs, intact and with a tombstone standing") {
    probeJobs("ivf", Similarity.ensureIvfIndex(emb, s"jobs-ivf-${System.nanoTime()}")._1)
  }

  test("a batched IVF-PQ probe runs at most 5 jobs, intact and with a tombstone standing") {
    probeJobs("ivfpq", Similarity.ensureIvfPqIndex(emb, s"jobs-pq-${System.nanoTime()}")._1)
  }

  test("a layout rebuilt in place at the same path never serves its old centroids") {
    val path = s"${java.nio.file.Files.createTempDirectory("graft_rebuilt")}/ivf"
    val c = 16
    val qid = queries(1)._1
    def check(corpus: org.apache.spark.sql.DataFrame): Unit = {
      val qv = corpus.filter($"vec_id" === qid).select($"embedding").as[Array[Float]].head()
      val got = Similarity.ivfProbe(spark, path, qv.toSeq, k = 10, nProbe = 4,
          exclude = Some(qid))
        .as[(Long, Long)].collect().toSeq
      val want = Similarity.ivfTopKPortable(corpus, queryId = qid, k = 10,
        nCentroids = c, nProbe = 4).as[(Long, Long)].collect().toSeq
      assert(got == want && got.nonEmpty)
      val cached = Similarity.layoutTables(spark, path)
      val written = spark.read.parquet(s"$path/centroids").select("cent_id", "cvec")
        .as[(Long, Seq[Long])].collect().toMap
      assert(cached.ids.zip(cached.vecs.map(_.toSeq)).toMap == written)
    }
    Similarity.buildIvfIndex(emb, path, nCentroids = c)
    check(emb)
    // the same path rebuilt from another corpus: other centroids
    val flipped = emb.select($"vec_id", transform($"embedding", x => -x * 0.5f).as("embedding"))
    IndexLog.fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(path), true)
    Similarity.buildIvfIndex(flipped, path, nCentroids = c)
    check(flipped)
  }

  test("the cells-schema constants equal the inferred schema of fresh layouts") {
    val (ivf, _) = Similarity.ensureIvfIndex(emb, s"schema-ivf-${System.nanoTime()}")
    val (pq, _) = Similarity.ensureIvfPqIndex(emb, s"schema-pq-${System.nanoTime()}")
    assert(spark.read.parquet(Similarity.activeCellsDir(spark, ivf)).schema ==
      Similarity.IvfCellsSchema)
    assert(spark.read.parquet(Similarity.activeCellsDir(spark, pq)).schema ==
      Similarity.IvfPqCellsSchema)
  }

  test("a batch over the ranking bound is refused, naming the bound") {
    // only the centroid table is read before the refusal: C=65536 (the
    // nCentroidsForCorpus clamp) at dim 8 allows 512 queries a batch
    val path = s"${java.nio.file.Files.createTempDirectory("graft_bound")}/ivf"
    spark.range(65536).select($"id".as("cent_id"),
        array_repeat(lit(1L), 8).as("cvec"), lit(8L).as("cnrm"))
      .write.parquet(s"$path/centroids")
    val max = Similarity.MaxBatchRankWork / (65536L * 8)
    val over = (0L to max).map(i => (i, Seq.fill(8)(0.5f)))
    val e = intercept[IllegalArgumentException](
      Similarity.ivfProbeBatch(spark, path, over, k = 1, nProbe = 1))
    assert(e.getMessage.contains(s"Similarity.MaxBatchRankWork = ${Similarity.MaxBatchRankWork}") &&
      e.getMessage.contains(s"shard the queries into batches of at most $max"), e.getMessage)
    val eDf = intercept[IllegalArgumentException](
      Similarity.ivfProbeBatchDf(spark, path, over.toDF("query_id", "emb"), k = 1, nProbe = 1))
    assert(eDf.getMessage == e.getMessage)
  }

  test("src/main walks no directory with Hadoop listFiles(path, recursive) or listLocatedStatus") {
    // on a local FS without native Hadoop both build a LocatedFileStatus
    // per file, which forks `ls -ld` to read its permissions
    val call = """\.listFiles\([^()]*,[^()]*\)|\.listLocatedStatus\(""".r
    val hits = graft.util.LocalFs.walkFiles(new java.io.File("src/main/scala"))
      .filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }.toList
        finally src.close()
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
