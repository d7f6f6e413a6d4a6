package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Planted-skew micro-bench for [[Relational.saltedJoin]]: proves the
  * operator's value on data where it actually matters, since the TPC-H-ish
  * fixtures are uniform and q52 only demonstrates correctness.
  *
  * Setup: a fact table where ONE key holds half of all rows, joined
  * against a 200k-row dim. Broadcast is disabled (salting targets
  * right sides too big to broadcast) and so is AQE's skew-join rewrite
  * (the built-in alternative for the sort-merge case — this bench
  * isolates the pre-salting technique itself, which also applies where
  * AQE can't reach, e.g. deliberate salting before a bucketed write).
  *
  * Run: `sbt "runMain graft.tools.SkewBench"` — prints one JSON line
  * with median-of-3 seconds for the plain shuffle join vs the salted
  * join of the identical inputs, plus the row-count check.
  */
object SkewBench {

  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(cores = 32, conf = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false"))
    import spark.implicits._

    val nFact = 8000000L
    val nDim  = 200000L
    // 50% of fact rows land on key 0; the rest spread uniformly
    val fact = spark.range(nFact)
      .select(
        when(col("id") % 2 === 0, 0L).otherwise(col("id") % nDim).as("k"),
        (col("id") % 97).as("v"))
    val dim = spark.range(nDim)
      .select(col("id").as("k"), (col("id") % 13).as("w"))

    def time(body: => Long): (Double, Long) = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val n  = body
        ((System.nanoTime() - t0) / 1e9, n)
      }
      (runs.map(_._1).sorted.apply(1), runs.head._2)
    }

    // warmup
    fact.join(dim, Seq("k")).agg(sum("v")).collect()

    val (plainSec, plainRows) = time {
      fact.join(dim, Seq("k")).agg(sum(col("v") + col("w")), count(lit(1))).collect()
      fact.join(dim, Seq("k")).count()
    }
    val (saltSec, saltRows) = time {
      Relational.saltedJoin(fact, dim, Seq("k"), numSalts = 8)
        .agg(sum(col("v") + col("w")), count(lit(1))).collect()
      Relational.saltedJoin(fact, dim, Seq("k"), numSalts = 8).count()
    }

    require(plainRows == saltRows, s"row mismatch: $plainRows vs $saltRows")
    println(
      s"""{"bench":"skew_join","plain_sec":$plainSec,"salted_sec":$saltSec,""" +
        s""""rows":$plainRows,"hot_key_share":0.5,"num_salts":8,"iters":3}""")
    spark.stop()
  }
}
