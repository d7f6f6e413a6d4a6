package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Plan guards for the PERSISTED serving-path index
  * ([[Search.ensureIndexes]]) — pins the two guarantees bucketing by
  * `tok` buys, so a regression that silently rebuilds the index per
  * query or loses the bucket layout fails here, not in a 100 TB run:
  *
  *  1. a term lookup reads ONLY the query terms' buckets
  *     (SelectedBucketsCount < total at the scan — on a large corpus
  *     the index behaves like a hash table, not a full scan);
  *  2. per-token rollups (document frequencies) consume the bucket
  *     partitioning with no exchange (the q75 proof pattern).
  */
class SearchIndexPlanSpec extends SparkSpec {

  private val BucketRe = raw"SelectedBucketsCount: (\d+) out of (\d+)".r

  private def withStablePlans[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // the index-lookup queries pin this OFF per query (the child
    // session their QueryDefs run on) so the term lookup keeps its
    // bucketed scan (and with it bucket pruning) even though no
    // operator needs the partitioning — mirror that here
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    }
  }

  test("term lookup prunes to the query terms' buckets at the scan") {
    withStablePlans {
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      Search.ensureIndexes(docs, srcTag = sf())
      val q = Search.andQuery(spark.table(Search.IndexTable), Seq("dup", "join"))
      val plan = q.queryExecution.executedPlan.toString
      BucketRe.findFirstMatchIn(plan) match {
        case Some(m) =>
          val (selected, total) = (m.group(1).toInt, m.group(2).toInt)
          // 2 distinct terms hash into at most 2 of the buckets; a
          // full-scan (selected == total) means pruning regressed
          assert(selected >= 1 && selected <= 2 && total == 8,
            s"expected <=2 of 8 buckets read, got $selected of $total")
        case None =>
          fail(s"no bucket pruning at the index scan:\n$plan")
      }
    }
  }

  test("document frequencies from the persisted index are exchange-free") {
    withStablePlans {
      val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      Search.ensureIndexes(docs, srcTag = sf())
      val dfs = Search.documentFrequencies(spark.table(Search.IndexTable))
      assert(Bucketing.isShuffleFree(dfs),
        s"per-token rollup over the tok-bucketed index must not shuffle:\n" +
          dfs.queryExecution.executedPlan)
    }
  }

  test("persisted index equals a fresh build (the tables are a cache, not a fork)") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    Search.ensureIndexes(docs, srcTag = sf())
    val persisted = spark.table(Search.IndexTable)
      .collect().map(r => (r.getString(r.fieldIndex("tok")), r.getLong(r.fieldIndex("doc_id")))).toSet
    val fresh = Search.buildIndex(docs)
      .collect().map(r => (r.getString(r.fieldIndex("tok")), r.getLong(r.fieldIndex("doc_id")))).toSet
    assert(persisted == fresh)
  }

  test("bucket-pruning queries run on a scoped child session (no shared-conf mutation)") {
    val confKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    // session starts at Spark's default (auto-disable ON)
    spark.conf.set(confKey, "true")
    // an index-lookup query builds on the dedicated child session whose
    // conf carries the disable permanently — the CALLER's session is
    // never touched, so build order and concurrency cannot flip a
    // frame's planning conf out from under it
    val q90 = graft.SparkEntry.queries("q90_lexical_and")(spark, sf())
    assert(spark.conf.get(confKey) == "true",
      "the caller's session conf must not be mutated")
    assert(q90.sparkSession ne spark)
    assert(q90.sparkSession.conf.get(confKey) == "false")
    assert(BucketRe.findFirstMatchIn(q90.queryExecution.executedPlan.toString)
        .exists(m => m.group(1).toInt < m.group(2).toInt),
      "child-session q90 must keep bucket pruning at the scan")
    // a relational query stays on the caller's session under the
    // default heuristic, and its bucketed join still consumes the
    // layout shuffle-free below the join
    val q75 = graft.SparkEntry.queries("q75_bucketed_join")(spark, sf())
    assert(q75.sparkSession eq spark)
    val exchanges = q75.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, // one post-join agg exchange is the designed shape
      s"q75 under the default heuristic grew exchanges:\n${q75.queryExecution.executedPlan}")
  }
}
