package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Dedup, DedupOracles}

class SimHash64ExprSpec extends SparkSpec {
  import spark.implicits._

  test("fused expression equals the composed Column-fold signature") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").limit(200)
    val both = docs.select(
        Dedup.simhash64($"text").as("fused"),
        DedupOracles.simhash64Composed($"text").as("composed"))
      .filter($"fused" =!= $"composed")
    assert(both.count() == 0)
  }

  test("interpreted eval matches codegen (empty, null element, plain)") {
    val df = Seq(
      (1L, Seq("alpha", "beta", "gamma")),
      (2L, Seq.empty[String]),
      (3L, Seq("alpha"))
    ).toDF("id", "words")
    val viaExpr = df.select($"id", SimHash64Expr($"words").as("sig"))
      .as[(Long, Long)].collect().toMap
    // empty word set votes all-negative → signature 0
    assert(viaExpr(2L) == 0L)
    // single word: signature = exactly its positive-bit mask
    val h = df.filter($"id" === 3L)
      .select(xxhash64(element_at($"words", 1))).as[Long].head()
    assert(viaExpr(3L) == h, "single-word simhash must equal the word hash's bit mask")
    assert(viaExpr(1L) != 0L)
  }
}
