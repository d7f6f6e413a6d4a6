package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{Naming, PortableHash, TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Monitoring, Multimodal, Relational, Sampling, Sessionize, Similarity}
import graft.plans.KmvBuffer.kmvDistinctPreHashed

/** Driver contract: the queryable operator surface (SURVEY.md §2) plus the
  * LLM-data-pipeline extensions (dedup / similarity / text analysis).
  *
  * Oracle-parity rules used throughout (the driver hash-compares against
  * DuckDB on the same parquet):
  *  - NO DECIMAL (or raw double) columns in any final SELECT: the driver's
  *    hasher renders decimals through a minimal-digits float lens on one
  *    side, so any value with a trailing zero at its scale (520.70 vs
  *    520.7) hash-mismatches even when bit-identical. Money/quantity
  *    doubles are 2-decimal by construction (FIXTURES.md): cast to
  *    DECIMAL(18,2) *first* (exact arithmetic, partition-order-invariant),
  *    then emit integer cents as BIGINT — ×100 for scale 2, ×10000 for
  *    price·(1−disc), ×1e6 for price·(1−disc)·(1+tax). Products are taken
  *    in integer-cents space (long·long) so neither engine widens decimals
  *    past its precision cap;
  *  - ratios are exposed as integer percents (exact), never raw doubles;
  *  - every oracle query carries a total ORDER BY (ties broken by a key);
  *  - integer outputs are pinned to BIGINT on both sides (DuckDB SUM of
  *    BIGINT/CASE yields HUGEINT → always CAST(... AS BIGINT) there).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/$name.parquet")
    // events.ts has shipped as ns-long, TIMESTAMP and TIMESTAMP_NTZ
    // across fixture generations — normalize to the canonical epoch-ns
    // BIGINT at the scan boundary (see [[graft.util.EventTime]]) so
    // every time kernel downstream stays exact-integer and type-blind.
    if (name == "events") graft.util.EventTime.tsNanos(raw) else raw
  }

  /** Hash-distribute on `key` with an explicit (AQE-proof) partition
    * count before an expensive per-row kernel — regex chains, sketch
    * updates, hash kernels. Same rationale as Dedup.spread: the scan's
    * partitioning (a single partition on single-row-group test files)
    * must not serialize the kernel, and `repartition(col)` without a
    * count gets coalesced back to one partition by AQE.
    */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact integer cents of a 2-decimal money/quantity double: the
    * double→DECIMAL(18,2) cast rounds half-up identically in Spark and
    * DuckDB, and ×100 of a scale-2 decimal is integral, so the long cast
    * is exact. All downstream arithmetic stays in long space.
    */
  private def cents(c: Column): Column = (dec2(c) * 100).cast("long")

  /** price·(1−discount) in 1e-4 units (both factors exact cents). */
  private def discPriceE4(ep: Column, disc: Column): Column =
    cents(ep) * (lit(100L) - cents(disc))

  /** price·(1−discount)·(1+tax) in 1e-6 units. */
  private def chargeE6(ep: Column, disc: Column, tax: Column): Column =
    discPriceE4(ep, disc) * (lit(100L) + cents(tax))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_nation_revenue")(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------------
  // Relational core
  // ---------------------------------------------------------------------------

  private def q01(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    li.filter(to_date(col("l_shipdate")) <= lit(java.sql.Date.valueOf("1998-09-02")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price"),
        sum(chargeE6(col("l_extendedprice"), col("l_discount"), col("l_tax")))
          .as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private def q02(s: SparkSession, d: String): DataFrame = {
    val c  = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o  = t(s, d, "orders")
      .filter(to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1998-01-01")))
    val li = t(s, d, "lineitem")
      .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("1997-01-01")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("o_date"))
      .agg(sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private def q03(s: SparkSession, d: String): DataFrame = {
    val r  = t(s, d, "region").filter(col("r_name") === "EUROPE")
    val n  = t(s, d, "nation")
    val c  = t(s, d, "customer")
    val o  = t(s, d, "orders")
      .filter(to_date(col("o_orderdate")) >= lit(java.sql.Date.valueOf("1996-01-01")) &&
        to_date(col("o_orderdate")) < lit(java.sql.Date.valueOf("1998-01-01")))
    val li = t(s, d, "lineitem")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  private def q04(s: SparkSession, d: String): DataFrame = {
    val sup = t(s, d, "supplier")
    val li = t(s, d, "lineitem")
      .filter(to_date(col("l_shipdate")) >= lit(java.sql.Date.valueOf("2001-01-01")))
    sup.join(li, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  private def q05(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")
  }

  private def q06(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("total"))
      .orderBy(col("total").desc, col("o_orderkey"))
      .limit(15)

  private def q07(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select("o_orderstatus", "o_orderpriority")
      .distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  private def q08(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem")
    li.filter(col("l_returnflag") === "R")
      .union(li.filter(col("l_returnflag") === "A"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("qty"))
      .orderBy("l_returnflag")
  }

  private def q09(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  private def q10(s: SparkSession, d: String): DataFrame =
    // spread: the two countDistinct aggs expand every row 3× in the
    // scan stage — distribute before the expand
    spread(t(s, d, "lineitem"), "l_orderkey")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  private def q11(s: SparkSession, d: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem:
    // quantity cents break the row_number tie (any remaining ties are
    // output-identical rows, so the assignment is interchangeable).
    val w = Window.partitionBy("l_suppkey")
      .orderBy(to_date(col("l_shipdate")), col("l_orderkey"), col("l_linenumber"),
        cents(col("l_quantity")))
    t(s, d, "lineitem")
      .filter(col("l_suppkey") < 5)
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_qty",
        sum(cents(col("l_quantity"))).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("rn"),
        col("running_qty"))
      .orderBy("l_suppkey", "rn")
  }

  private def q12(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(s, d, "events")
      .withColumn("v", cents(col("value")))
      .withColumn("prev_v", lag(col("v"), 1).over(w))
      .withColumn("delta", col("v") - col("prev_v"))
      .select(col("event_id"), col("user_id"), col("v"), col("prev_v"), col("delta"))
      .orderBy("event_id")
  }

  private def q13(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(cents(col("value"))).as("total_value"),
        min(cents(col("value"))).as("min_value"),
        max(cents(col("value"))).as("max_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  private def q14(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        col("o_orderpriority"))
      .orderBy(col("o_date"), col("o_orderkey"))
      .offset(40)
      .limit(20)

  /** Bbox "spatial" predicate over numeric coordinate columns (G3 form):
    * pushed to the parquet scan as plain min/max comparisons.
    */
  private def q15(s: SparkSession, d: String): DataFrame =
    t(s, d, "part")
      .filter(col("p_size").between(10, 40) &&
        dec2(col("p_retailprice")).between(lit(500), lit(1500)))
      .select(col("p_partkey"), col("p_size").as("x"),
        cents(col("p_retailprice")).as("y"))
      .orderBy("p_partkey")

  private def q16(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("source")).distinct()
      .withColumn("slug", Naming.slugifyCol(col("source")))
      .withColumn("fc_name", Naming.generateFcNameCol(lit("DOCS"), col("source")))
      .withColumn("sde_name", Naming.sanitizeSdeNameCol(col("source")))
      .orderBy("source")

  // ---------------------------------------------------------------------------
  // Text analysis / LLM-data-pipeline
  // ---------------------------------------------------------------------------

  private def q17(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "documents"), "doc_id")
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.punctCount(col("text")).as("n_punct"),
        TextFunctions.stopwordCount(col("text")).as("n_stop"),
        length(col("text")).cast("long").as("n_chars_m"))
      .orderBy("doc_id")

  private def q18(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")

  private def q19(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")

  private def q20(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedupSummary(t(s, d, "documents"))
      .orderBy("fp")

  /** DECISION RECORD — q21 is deliberately quadratic. Exact pairwise
    * Jaccard over a shared-vocabulary corpus has no sub-quadratic exact
    * algorithm on the candidate side (every word is a hot join key and
    * df-pruning would change the answer), so this query is the bounded
    * VERIFIER — fixed doc subset in, exact pairs out — while q23's
    * MinHash-LSH and q48's df-pruned variant are the full-corpus scale
    * paths. Alternatives measured and rejected at sf0.1: collapsing to
    * word-set identity classes (1655 distinct sets / 2000 docs — only a
    * 0.68× join reduction); a global-vocabulary bitmask (fast here, but
    * only because the synthetic corpus has a 31-word vocabulary — it
    * does not survive a real one). What DID land: broadcast build side +
    * explicitly-counted probe repartition inside
    * [[Dedup.jaccardNearDupPairs]], 10 s → 1 s at sf0.1 (the cost was
    * single-partition execution, not the quadratic itself).
    */
  private def q21(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardNearDupPairs(
      t(s, d, "documents").filter(col("doc_id") < 2000), thresholdPct = 80)
      .orderBy("doc_a", "doc_b")

  private def q22(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(t(s, d, "embeddings"), queryId = 0L, k = 20)
      .select(col("vec_id"))

  // LSH near-dup operators, portable (md5-family) variants so the DuckDB
  // oracle reproduces signatures → buckets → pair sets bit-for-bit. The
  // synthetic corpus is LSH's adversarial case — all docs draw on one
  // small vocabulary, so band buckets are hot and the candidate set
  // approaches all-pairs; a real web corpus spreads buckets. Bounded
  // subsets keep bench honest about the operator cost rather than the
  // corpus pathology.
  private def q23(s: SparkSession, d: String): DataFrame =
    Dedup.minhashNearDupPairsPortable(t(s, d, "documents").filter(col("doc_id") < 10000))
      .orderBy("doc_a", "doc_b")

  private def q24(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDupPairsPortable(
      t(s, d, "documents").filter(col("doc_id") < 10000), maxHamming = 16)
      .orderBy("doc_a", "doc_b")

  private def q25(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopKPortable(t(s, d, "embeddings"), queryId = 0L, k = 10)

  /** F9: JSON parse of the open `props` column → typed value → agg.
    * One `from_json` with an explicit schema, not per-key
    * `get_json_object`: the struct parse runs the Jackson tokenizer
    * once per row straight into a typed field (and prunes to the
    * requested keys), where the path form re-parses the document for
    * every extracted key — the difference compounds linearly with the
    * number of keys a real pipeline pulls out.
    */
  private def q26(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("k",
        from_json(col("props"), "k LONG", Map.empty[String, String]).getField("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("total_value"))
      .orderBy("k")

  private def q27(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("month"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("o_totalprice"))).as("total"))
      .orderBy("month")

  /** Conditional aggregation (pivot-style) over order status. */
  private def q28(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy("o_orderpriority")
      .agg(
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
        sum(when(col("o_orderstatus") === "F", cents(col("o_totalprice")))
          .otherwise(lit(0L))).as("f_total"))
      .orderBy("o_orderpriority")

  private def q29(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_quantity"))).as("qty"))
      .filter(col("n_lines") >= 38) // HAVING
      .orderBy("l_partkey")

  private def q30(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  private def q31(s: SparkSession, d: String): DataFrame = {
    val w  = Window.partitionBy("user_id").orderBy("event_id")
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, d, "events")
      .withColumn("first_v", first(cents(col("value"))).over(wf))
      .withColumn("last_v", last(cents(col("value"))).over(wf))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .select(col("event_id"), col("user_id"), col("first_v"), col("last_v"), col("quartile"))
      .orderBy("event_id")
  }

  private def q32(s: SparkSession, d: String): DataFrame =
    t(s, d, "supplier")
      .select(
        col("s_suppkey"),
        upper(col("s_name")).as("uname"),
        substring(col("s_name"), 1, 8).as("prefix"),
        length(col("s_name")).cast("long").as("name_len"),
        regexp_extract(col("s_name"), "(\\d+)", 1).as("digits"),
        concat_ws("-", col("s_name"), col("s_nationkey")).as("tagged"),
        reverse(col("s_name")).as("rev"))
      .orderBy("s_suppkey")

  private def q33(s: SparkSession, d: String): DataFrame = {
    val li = t(s, d, "lineitem").filter(col("l_orderkey") < 500)
    val o  = t(s, d, "orders")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).cast("long").as("ship_y"),
        month(col("l_shipdate")).cast("long").as("ship_m"),
        dayofmonth(col("l_shipdate")).cast("long").as("ship_d"),
        datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
          .cast("long").as("days_to_ship"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
      // — order by every output column so the sort is total.
      .orderBy("l_orderkey", "l_linenumber", "ship_y", "ship_m", "ship_d",
        "days_to_ship")
  }

  /** A6 exact 2σ anomaly flags (Monitoring.exactSigmaAnomalies). */
  private def q34(s: SparkSession, d: String): DataFrame =
    Monitoring.exactSigmaAnomalies(
      t(s, d, "events"), Seq("event_type"), "event_id", "value", sigmas = 2)
      .orderBy("event_type", "event_id")

  private def q35(s: SparkSession, d: String): DataFrame = {
    val key = (round(col("value") * 100).cast("long") * 10000000L + col("event_id"))
    t(s, d, "events")
      .withColumn("k", key)
      .groupBy("event_type")
      .agg(
        max_by(col("event_id"), col("k")).as("max_event"),
        min_by(col("event_id"), col("k")).as("min_event"),
        max(cents(col("value"))).as("max_value"))
      .orderBy("event_type")
  }

  // Multimodal pipeline over the committed parquet media fixture
  // (fixtures/media.parquet, written by graft.tools.GenMediaFixture): the
  // decode step is a documented stub (no codecs in this container), but
  // it is a pure function of the blob bytes, so the DuckDB oracle reads
  // the SAME parquet and recomputes header fields / byte-stream means /
  // frame counts via hex-string slicing — full hash check, not rows-only.
  // Means are emitted as floor(mean·1e6) BIGINT (both engines derive the
  // mean from identical integer sums → identical IEEE doubles).
  private def q36(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeImages(Multimodal.mediaFixture(s).filter(col("media_id") < 200))
      .toDF()
      .select(
        col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        floor(col("mean_r") * lit(1000000.0)).cast("long").as("mean_r_e6"),
        floor(col("mean_g") * lit(1000000.0)).cast("long").as("mean_g_e6"),
        floor(col("mean_b") * lit(1000000.0)).cast("long").as("mean_b_e6"))
      .orderBy("media_id")

  /** Media-embedding ANN, fully hash-checked: the portable embed derives
    * every component from md5 of the blob hex through the Carter–Wegman
    * affine family (one md5 per blob), so the oracle recomputes the SAME
    * integers from the SAME parquet bytes; ranking uses quantized integer
    * dots (the q51 pattern) and emits the exact `dot` alongside the id.
    */
  private def q37(s: SparkSession, d: String): DataFrame = {
    val emb = Multimodal.embedMediaPortable(
      Multimodal.mediaFixture(s).filter(col("kind") === "image"))
    Similarity.bruteForceTopKPortable(emb, queryId = 0L, k = 10)
  }

  private def q38(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.mediaFixture(s), everyNth = 2)
      .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      .orderBy("media_id")

  /** Video-container metadata with real-codec preference: the fixture's
    * video rows mix REAL MP4 prologues (ids 1100-1119, half mvhd v0 /
    * half v1) and REAL WebM/EBML prologues (ids 1150-1169,
    * unknown-size Segment) with stub blobs; [[graft.operators
    * .Multimodal.decodeVideoAuto]] resolves the real rows'
    * `moov/mvhd` duration+timescale via the general ISO-BMFF box walk
    * or `Info/Duration` × `TimestampScale` via the general EBML walk,
    * and falls back to the deterministic 30 fps stub for the rest.
    * The oracle re-derives both containers' fields by slicing the
    * generator's fixed layout offsets from the same bytes — the
    * library must land on the identical fields by actually walking
    * the boxes/elements.
    */
  private def q129(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeVideoAuto(Multimodal.mediaFixture(s))
      .toDF()
      .select(col("media_id"), col("duration_ms"), col("timescale"),
        col("real").cast("long").as("is_real"))
      .orderBy("media_id")

  /** Audio metadata decode over the fixture's audio clips — the q36
    * pattern for the audio path: the stub codec is a pure byte function,
    * so the oracle recomputes sample rate (header int mod table),
    * integer-floor duration, and the RMS (exact integer sum of squared
    * centered bytes → one sqrt of identical doubles) via hex slicing.
    */
  private def q58(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeAudioAuto(Multimodal.mediaFixture(s))
      .toDF()
      .select(
        col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("duration_ms"),
        floor(col("rms") * lit(1000000.0)).cast("long").as("rms_e6"))
      .orderBy("media_id")

  /** Set operations: customers in BUILDING ∩ with-urgent-orders, and
    * nations EXCEPT those with suppliers.
    */
  private def q39(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val o = t(s, d, "orders")
    val building = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(urgent).orderBy("c_custkey")
  }

  private def q40(s: SparkSession, d: String): DataFrame = {
    val n = t(s, d, "nation").select(col("n_nationkey").as("k"))
    val sup = t(s, d, "supplier")
      .filter(dec2(col("s_acctbal")) > 8000) // nations w/o a high-balance supplier
      .select(col("s_nationkey").cast("int").as("k"))
    n.except(sup).orderBy("k")
  }

  /** Correlated EXISTS with an extra predicate (decorrelates to a
    * filtered semi join).
    */
  private def q41(s: SparkSession, d: String): DataFrame = {
    val o  = t(s, d, "orders")
    val li = t(s, d, "lineitem").filter(col("l_quantity") > 45)
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Scalar subquery: orders within 10% of the global max price (max is
    * exact on decimals, unlike avg).
    */
  private def q42(s: SparkSession, d: String): DataFrame = {
    val o      = t(s, d, "orders").withColumn("total", cents(col("o_totalprice")))
    val maxRow = o.agg(max(col("total")).as("mx"))
    o.crossJoin(broadcast(maxRow))
      .filter(col("total") * 10 >= col("mx") * 9)
      .select(col("o_orderkey"), col("total"))
      .orderBy("o_orderkey")
  }

  /** Time functions over events.ts — normalized to epoch-ns BIGINT by
    * [[graft.util.EventTime]] in `t()` whatever the fixture shipped
    * (DuckDB reads the same column with its own timestamp functions).
    */
  private def q43(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .withColumn("event_time", timestamp_micros((col("ts") / 1000).cast("long")))
      .groupBy(hour(col("event_time")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("value"))).as("total_value"))
      .orderBy("hr")

  /** As-of join: each purchase event paired with the user's latest
    * click at-or-before it (point-in-time join — Spark lacks the
    * operator; composed via union + last-over-window, one shuffle).
    */
  private def q44(s: SparkSession, d: String): DataFrame = {
    val ev        = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    Relational.asOfJoin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        carry = Seq("event_id"), tiebreak = "event_id")
      .select(col("event_id"), col("user_id"), col("asof_event_id").as("last_click"))
      .orderBy("event_id")
  }

  /** KMV distinct sketch vs exact. The sketch hashes with the portable
    * md5-derived 60-bit hash (one md5 per value, hex-prefix parse) so the
    * k-th minimum — and therefore the estimate — is reproducible in the
    * DuckDB oracle via row_number over the same hash values.
    */
  private def q45(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "lineitem"), "l_orderkey")
      .withColumn("h", PortableHash.md5Hex60(col("l_partkey").cast("string")))
      .groupBy("l_returnflag")
      .agg(kmvDistinctPreHashed(col("h"), 512, bits = 60).as("kmv_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")

  /** GROUPING SETS over non-hierarchical sets (not expressible as
    * rollup/cube).
    */
  private def q46(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(cents(col("l_quantity"))).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Embedding-cosine near-duplicate pairs via LSH buckets — fixed-point
    * quantized variant so the threshold is exact integer arithmetic and
    * the DuckDB oracle reproduces the pair set bit-for-bit.
    *
    * The bucket width is OCCUPANCY-ADAPTIVE: K =
    * [[Similarity.nBitsForOccupancy]](count) rather than a constant.
    * With K fixed, bucket occupancy grows linearly in the corpus and
    * the candidate join quadratically — the sf10 scale point measured
    * 196× wall at 100× data for fixed K=6; adaptive K holds occupancy
    * at ~32 so candidates stay linear. The derivation is exact integer
    * arithmetic (ceil-div + bit length) that the oracle SQL mirrors
    * verbatim from COUNT(*) (`length(bin(M-1))`), and the 16 inlined
    * oracle planes are a prefix-stable superset of the K the Spark
    * side draws (both sides read the same seeded stream) — so the two
    * engines agree on K, buckets and the pair set at EVERY scale
    * factor, not just the verify one.
    */
  private def q47(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
    // corpus count from the STAGED stats sidecar (one count at ingest,
    // a metadata read ever after) — ANN planning must not cost a
    // per-invocation count() job over the corpus
    val k = Similarity.nBitsForOccupancy(
      Similarity.ensureCorpusStats(emb, srcTag = d), targetOccupancy = 32)
    Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400, nBits = k)
      .orderBy("vec_a", "vec_b")
  }

  /** Jaccard with document-frequency pruning on the FULL corpus: words
    * appearing in > maxDf docs are excluded from candidate generation
    * (they carry no similarity signal and cause the quadratic fan-out)
    * while set sizes stay exact — the realistic full-scale variant of
    * q21, oracle-mirrored including the df cut.
    */
  private def q48(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardNearDupPairs(t(s, d, "documents"), thresholdPct = 5,
        maxDf = Some(100L))
      .orderBy("doc_a", "doc_b")

  /** Gap-based sessionization (30-min gap) over the event stream — all
    * integer arithmetic, one shuffle on user_id. Timestamps are
    * truncated to MICROseconds on both sides (integer `div 1000` over
    * the EventTime-normalized ns longs here, epoch_us in the oracle),
    * the precision every fixture generation can represent.
    */
  private def q49(s: SparkSession, d: String): DataFrame =
    Sessionize.sessionStats(
        t(s, d, "events").select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("tus")),
        keys = Seq("user_id"), tsCol = "tus", tiebreak = "event_id",
        gapUs = 1800000000L) // 30 min in µs
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("session_start"), col("session_end"), col("duration_us"))
      .orderBy("user_id", "session_id")

  /** q44's point-in-time semantics through the native Catalyst operator
    * ([[graft.plans.AsOfJoin]]: LogicalPlan + Strategy + single
    * co-partitioned forward merge, O(1) state per partition) instead of
    * the composed union+window. Same oracle as q44 — the driver gate
    * proves the custom physical operator bit-matches DuckDB's ASOF JOIN.
    */
  private def q50(s: SparkSession, d: String): DataFrame = {
    val ev        = t(s, d, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = ev.filter(col("event_type") === "click")
      .select("event_id", "user_id", "ts")
    graft.plans.AsOfJoin(purchases, clicks,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "ts",
        carry = Seq("event_id"), tiebreak = "event_id")
      .select(col("event_id"), col("user_id"), col("asof_event_id").as("last_click"))
      .orderBy("event_id")
  }

  /** IVF ANN over the embeddings: data-adaptive inverted-file cells
    * (vs q25's data-oblivious LSH planes). Quantized integer dots keep
    * cell assignment + ranking bit-identical in the DuckDB oracle.
    *
    * Serves from the PAY-ONCE layout ([[Similarity.ensureIvfIndex]],
    * warmed by [[prepareLayouts]], the q75/q84 ingest contract) with an
    * OCCUPANCY-ADAPTIVE cell count C = [[Similarity.nCentroidsForCorpus]]
    * (count) ≈ √n — with C frozen at 32, probe cost was a constant 1/8
    * of the corpus (21.5× wall at the 100× scale point); with C ≈ √n
    * both query legs (rank C centroids, scan nProbe cells of ≈√n rows)
    * are sublinear, and the O(n·C) assignment moved to ingest. The
    * oracle derives the same C from COUNT(*) in exact integer
    * arithmetic and replays seed-assign-probe-rank over the raw table,
    * so the gate proves the staged layout serves bit-identical answers.
    * The 1-row query-vector lookup stands in for the user-supplied
    * query vector of a real serving call.
    */
  private def q51(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = d)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    Similarity.ivfProbe(s, path, qv, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Revenue by order priority through [[Relational.saltedJoin]] — the
    * deliberate skew-mitigation shape (per-row salt on the big side,
    * ×salt replicated right side, join on (key, salt)). Salting is
    * semantics-preserving, so the oracle is the plain join: the gate
    * proves the rewrite changes the partitioning, not the answer.
    */
  private def q52(s: SparkSession, d: String): DataFrame =
    Relational.saltedJoin(
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice"),
        t(s, d, "orders").select("o_orderkey", "o_orderpriority")
          .withColumnRenamed("o_orderkey", "l_orderkey"),
        keys = Seq("l_orderkey"), numSalts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).as("revenue_cents"))
      .orderBy("o_orderpriority")

  /** Events per campaign window through [[Relational.rangeJoin]] — the
    * bucketized interval join (explode intervals into coarse buckets,
    * equi-join points on their bucket, refine exactly) instead of the
    * nested-loop plan a bare BETWEEN predicate gets. Windows are 3-day
    * spans derived deterministically from the nation table; days are
    * integer epoch days (ns `div` 86400e9 here, µs // 86400e6 in the
    * oracle — identical after parquet's ns→µs truncation).
    */
  private def q53(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id"), expr("ts div 86400000000000").as("day"))
    val iv = t(s, d, "nation")
      .select(col("n_nationkey").cast("long").as("window_id"),
        (col("n_nationkey") + 19723L).cast("long").as("lo"),
        (col("n_nationkey") + 19725L).cast("long").as("hi"))
    Relational.rangeJoin(ev, iv, "day", "lo", "hi", bucketWidth = 3L)
      .groupBy("window_id")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("window_id")
  }

  /** Subword token cost + winnowing fingerprint stats per document:
    * BPE-ish regex token count (GPT-2-style pretokenizer — the LLM
    * token-cost proxy) and Rabin–Karp/winnowing local fingerprints
    * (distinct per-window hash minima). Pure per-row codegen'd maps;
    * exact long arithmetic both engines.
    */
  private def q54(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").filter(length(col("text")) >= 8)
      // fused native kernel (one codegen'd pass per row — see
      // plans/WinnowFpExpr; spec-asserted equal to the staged
      // charCodes→hashesFromCodes→winnowFromHashes composition)
      .withColumn("wf", graft.plans.WinnowFpExpr(col("text")))
      .select(col("doc_id"),
        TextFunctions.bpeTokenCount(col("text")).as("bpe_tokens"),
        size(col("wf.fps")).cast("long").as("n_fp"),
        col("wf.min_hash").as("min_fp"))
      .orderBy("doc_id")

  /** Passage-level near-dup pairs via winnowing fingerprints (q54's
    * fingerprints driven through the inverted-index + df-pruning shape).
    */
  private def q55(s: SparkSession, d: String): DataFrame =
    Dedup.winnowNearDupPairs(t(s, d, "documents"))
      .orderBy("doc_a", "doc_b")

  /** Exact frequent words through the SpaceSaving sketch: sketch to a
    * candidate superset (provable for any support > N/k), then recount
    * candidates exactly — deterministic output even though the summary
    * itself is arrival-order-dependent. The corpus vocabulary (31) is
    * below k=64, so here the superset is everything; the eviction path
    * is spec-tested on a planted skewed stream.
    */
  private def q56(s: SparkSession, d: String): DataFrame = {
    val words = t(s, d, "documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(length(col("word")) > 0)
    val cands = words
      .agg(graft.plans.SsBuffer.spaceSavingTopK(col("word"), 64).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.item").as("word"))
    words.join(broadcast(cands), Seq("word"), "left_semi")
      .groupBy("word").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 900)
      .orderBy("word")
  }

  /** HLL distinct sketch vs exact (q45's KMV counterpart at 64 bytes of
    * state): portable md5-derived hash, exact-integer register sum, and
    * a literal-mirrored float chain make the estimate itself
    * oracle-checkable — see [[graft.plans.HllDistinct]].
    */
  private def q57(s: SparkSession, d: String): DataFrame =
    spread(t(s, d, "lineitem"), "l_orderkey")
      .withColumn("h", PortableHash.md5Hex60(col("l_partkey").cast("string")))
      .groupBy("l_returnflag")
      .agg(graft.plans.HllDistinct.hllDistinct(col("h"), 6).as("hll_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")

  /** Connected components over q23's MinHash near-dup pairs — the
    * clustering step that turns a pair list into "one survivor per
    * duplicate cluster" ([[graft.operators.Clusters]]). Output is every
    * node in the pair graph labeled with its cluster's minimum doc_id;
    * the oracle recomputes the same fixpoint with a recursive CTE
    * (reachable-minimum over the symmetrized edge set).
    */
  private def q59(s: SparkSession, d: String): DataFrame =
    graft.operators.Clusters.connectedComponents(
        Dedup.minhashNearDupPairsPortable(
          t(s, d, "documents").filter(col("doc_id") < 10000)),
        src = "doc_a", dst = "doc_b")
      .orderBy("id")

  /** Benchmark decontamination report ([[Dedup.contaminationReport]]):
    * documents sharing word 4-grams with a held-out "benchmark" split
    * (doc_id % 10 == 0 — ~10% of the corpus, dense enough that the
    * overlap report has real rows at sf0.01). The broadcast-bench /
    * map-side-semi-join shape is the 100 TB design; the oracle mirrors
    * the shingle definition n-gram for n-gram.
    */
  private def q60(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    Dedup.contaminationReport(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), n = 4)
      .orderBy("doc_id")
  }

  /** PII masking ([[TextFunctions.maskPii]]) over text with
    * deterministically injected PII (an email, a URL with a numeric
    * query, and a phone number derived from doc_id — so every row
    * exercises all three patterns AND the email→URL→number ordering).
    * The oracle interpolates the exact same pattern constants into
    * DuckDB `regexp_replace(..., 'g')`; outputs are the md5 + length of
    * the masked text, so any divergence in any row fails the hash.
    */
  private def q61(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.org or https://example.org/d/"),
          col("doc_id").cast("string"),
          lit("?ref=42 phone +1 (555) 010-"),
          lpad(col("doc_id").cast("string"), 4, "0")).as("text"))
      .withColumn("masked", TextFunctions.maskPii(col("text")))
      .select(col("doc_id"),
        md5(col("masked")).as("masked_md5"),
        length(col("masked")).cast("long").as("masked_len"))
      .orderBy("doc_id")

  /** Gopher-style repetition signals ([[graft.operators.Repetition]]):
    * per-document bigram concentration (`top_gram_pct`) and duplicate
    * share (`dup_gram_pct`) as exact integer percents — the quality
    * filter that catches looping/keyword-spam text before training.
    */
  private def q62(s: SparkSession, d: String): DataFrame =
    graft.operators.Repetition.signals(t(s, d, "documents"), n = 2)
      .orderBy("doc_id")

  /** AllPairs prefix-filtered exact Jaccard — the sparse-corpus scale
    * path of [[graft.operators.Dedup.jaccardNearDupPairsPrefix]]. Same
    * contract (and oracle shape) as q21; bounded tighter because the
    * synthetic corpus's 23%-pair density is the variant's worst case
    * (trade measured in the operator's scaladoc and COVERAGE.md).
    */
  private def q63(s: SparkSession, d: String): DataFrame = {
    // build the prefix index ONCE — the operator's own contract ("the
    // pair join reads the index FOUR times … persist it first at
    // scale"); the fused form re-tokenized the corpus per consumer
    // (8 parquet scans in the committed before-plan). persist(), not
    // an eager stage of the INDEX: the cache materializes lazily
    // inside the pair join's own job (all four consumers share one
    // InMemoryRelation), where staging the index serialized its build
    // in front of the join (2.24 s vs 1.5 s, OPTIMIZATION_r20/r21).
    // OWNED lifetime (r20 verdict #1): the r20 form returned a lazy
    // plan over a never-released persist(), so Spark's CacheManager
    // served every later plan-equal call — bench iterations 2+ — from
    // the live InMemoryRelation, and the median measured a warm cache.
    // Now the pair join is materialized eagerly (Checkpoints.stage)
    // and the index cache is dropped before returning: every call
    // pays the full build, and no cache outlives the query.
    val idx = Dedup.buildJaccardPrefixIndex(
      t(s, d, "documents").filter(col("doc_id") < 500)).persist()
    val pairs = graft.util.Checkpoints.stage(
      Dedup.jaccardPairsFromPrefixIndex(idx, thresholdPct = 80))
    idx.unpersist(blocking = false)
    pairs.orderBy("doc_a", "doc_b")
  }

  /** Structured Streaming sessionization held to the SAME DuckDB oracle
    * as batch q49: the real `flatMapGroupsWithState` pipeline
    * ([[graft.streaming.SessionStream]]) drains the events table as a
    * file stream (close-by-proof in batch 1, close-by-watermark-timeout
    * via a sentinel heartbeat in batch 2), so the driver gate proves
    * stream/batch parity on every session, not just the spec corpus.
    * µs truncation as in q49 (`ts div 1000` / epoch_us).
    */
  private def q64(s: SparkSession, d: String): DataFrame =
    graft.streaming.SessionStream.drainClosedSessions(
        t(s, d, "events").select(col("user_id"), col("event_id"),
          timestamp_micros(expr("ts div 1000")).as("event_time")))
      .select(col("user_id"), col("n_events"), col("session_start"),
        col("session_end"), col("duration_us"))
      .orderBy("user_id", "session_start")

  /** Deterministic 90/5/5 train/val/test split over documents
    * ([[graft.operators.Sampling.hashSplit]]: portable md5 pct-bucket,
    * pure per-id projection — zero shuffles to split 100 TB) with
    * per-split document and word totals.
    */
  private def q65(s: SparkSession, d: String): DataFrame =
    Sampling.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.wordSet(col("text"))).cast("long")).as("n_words"))
      .orderBy("split")

  /** Sequence packing ([[graft.operators.Packing.concatPack]]):
    * concatenate documents in doc_id order, cut every 4096 tokens,
    * report each doc's stream offset and chunk span. The global prefix
    * sum underneath is the two-level scan — the only unpartitioned
    * window runs over bucket totals (1/4096 of the rows), never the
    * corpus.
    */
  private def q66(s: SparkSession, d: String): DataFrame =
    graft.operators.Packing.concatPack(
        // staged (the q103 move): the two-level prefix sum consumes its
        // input twice (bucket totals + join-back), which re-ran the
        // tokenCount kernel over the text on both sides — materialize
        // the 16-byte (doc_id, n_tokens) rows once
        graft.util.Checkpoints.stage(
          t(s, d, "documents")
            .select(col("doc_id"),
              TextFunctions.tokenCount(col("text")).as("n_tokens"))),
        orderCol = "doc_id", weightCol = "n_tokens", budget = 4096L)
      .select(col("doc_id"), col("n_tokens"), col("start_offset"),
        col("chunk_first"), col("chunk_last"))
      .orderBy("doc_id")

  /** Int8 scalar quantization of the embedding store
    * ([[graft.operators.Similarity.quantizeInt8]]) — the quantized
    * vectors are deterministic integers (float→double widening is
    * exact; one multiply, one divide, one floor(·+½)), so the oracle
    * hash-checks the quantization itself via per-vector integer
    * summaries, not a tolerance band.
    */
  private def q67(s: SparkSession, d: String): DataFrame =
    Similarity.quantizeInt8(t(s, d, "embeddings"))
      .select(col("vec_id"),
        array_min(col("qvec")).as("q_min"),
        array_max(col("qvec")).as("q_max"),
        aggregate(col("qvec"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("qvec"), lit(0L), (acc, x) => acc + x * x).as("q_norm2"))
      .orderBy("vec_id")

  /** The int8 serving path end-to-end: top-k by quantized cosine with
    * integer dot products ([[graft.operators.Similarity.bruteForceTopKInt8]]),
    * hash-checked including the exact integer dot values.
    */
  private def q68(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopKInt8(t(s, d, "embeddings"), queryId = 0L, k = 10)

  /** RAG/pretraining chunk prep ([[graft.operators.Chunking]]): 32-token
    * windows every 24 tokens (8-token overlap), chunk text included so
    * the oracle checks the slicing itself, not just the arithmetic.
    */
  private def q69(s: SparkSession, d: String): DataFrame =
    graft.operators.Chunking.slidingWindows(
        t(s, d, "documents"), window = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")

  /** Incremental-ingest diff ([[graft.operators.Delta.snapshotDiff]]):
    * yesterday = documents; today = deterministic edits (every 7th doc
    * appended-to, every 11th dropped, every 13th re-added under a new
    * id) — both engines derive the same synthetic "today", so the diff
    * statuses hash-check. The shuffle carries (id, fingerprint) pairs,
    * never text.
    */
  private def q70(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val today = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("added doc "), col("doc_id").cast("string")).as("text")))
    graft.operators.Delta.snapshotDiff(docs, today)
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }

  /** Streaming exact dedup held to a batch oracle: the real
    * `dropDuplicatesWithinWatermark` pipeline drains the documents
    * table as a file stream ([[graft.streaming.StreamingDedup
    * .drainDedup]]); the emitted fingerprint SET is the deterministic
    * contract (which copy survives is arrival order), and it must equal
    * DuckDB's DISTINCT md5 over the same corpus.
    */
  private def q71(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingDedup.drainDedup(
        t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            // +1 day: an event time EQUAL to the initial watermark (epoch
            // 0) is judged late and silently dropped — doc 0 vanished
            timestamp_seconds(col("doc_id") + 86400L).as("event_time")),
        eventTimeCol = "event_time", horizon = "10 hours")
      .select(col("fingerprint"))
      .orderBy("fingerprint")

  /** Streaming sliding-window aggregation held to a batch oracle: the
    * real watermark + `window()` pipeline
    * ([[graft.streaming.MonitorStream.windowedStats]]) drains the
    * events table; a far-future heartbeat advances the watermark so
    * every real window closes and emits. Values are pre-converted to
    * integer cents (the money idiom) and window bounds emitted as epoch
    * µs, so counts/sums/mins/maxes hash-match DuckDB's explicit
    * two-windows-per-event expansion. Completes the streaming triad:
    * custom state (q64), built-in dedup state (q71), windowed aggs
    * (q72).
    */
  private def q72(s: SparkSession, d: String): DataFrame = {
    val staged = t(s, d, "events")
      .select(col("event_type"), col("ts"), cents(col("value")).as("value"))
    val drained = graft.streaming.FileStreamDrain.drain(
      staged,
      graft.streaming.MonitorStream.windowedStats(_),
      secondBatch = Some(graft.streaming.FileStreamDrain.watermarkCloser(col("ts")) {
        (ss, maxTs) =>
          ss.range(1).select(
            lit("_hb").as("event_type"),
            lit(maxTs + 30L * 86400L * 1000000000L).as("ts"),
            lit(0L).as("value"))
      }))
    drained
      .filter(col("event_type") =!= "_hb")
      .select(
        unix_micros(col("window.start")).as("window_start"),
        unix_micros(col("window.end")).as("window_end"),
        col("event_type"), col("n"), col("total"),
        col("min_v"), col("max_v"))
      .orderBy("window_start", "event_type")
  }

  /** Distributed binned percentiles ([[graft.operators.Monitoring
    * .binnedQuantiles]]): p50/p95/p99 of event value-cents per type in
    * 100-cent bins — the shuffle carries (type, bin) counts, every
    * output an exact integer (the first bin lower bound whose
    * cumulative count reaches p%).
    */
  private def q73(s: SparkSession, d: String): DataFrame =
    Monitoring.binnedQuantiles(
        t(s, d, "events").select(col("event_type"), cents(col("value")).as("vc")),
        keyCols = Seq("event_type"), valueCol = "vc", binWidth = 100L,
        percents = Seq(50, 95, 99))
      .orderBy("event_type")

  /** Corpus-relative OOV quality signal
    * ([[graft.operators.Vocabulary.oovRate]]): each doc scored against
    * the corpus' own top-20 vocabulary (deterministic freq-desc,
    * token-asc tie-break). Two-pass: TakeOrdered vocabulary → broadcast
    * membership probe; the corpus never shuffles on a token key.
    */
  private def q74(s: SparkSession, d: String): DataFrame =
    graft.operators.Vocabulary.oovRate(t(s, d, "documents"), vocabSize = 20)
      .orderBy("doc_id")

  /** §2.10 bucketed layout as a driver query
    * ([[graft.operators.Bucketing.ensureBucketed]]): both fact tables
    * are written `bucketBy(8, orderkey)` + `sortBy` ONCE per landed
    * input (idempotent ingest — reruns over the same source tag skip
    * the rewrite), then the fact⋈fact join consumes the co-located
    * bucket files with NO exchange below the join; at 100 TB that
    * converts the pipeline's dominant network cost into a local merge,
    * reused by every subsequent query on the key. Bucketing is
    * semantics-preserving, so the oracle is the plain DuckDB join
    * (the q52 pattern); BucketingSpec pins the plan shape — with
    * broadcast disabled the whole query contains exactly ONE hash
    * Exchange (the aggregation), zero under the join.
    */
  /** q75's pay-once bucketed ingest, shared with [[prepareLayouts]] so
    * Bench warms exactly the layout the query reuses (arg drift here
    * would silently double-write). */
  private def ensureQ75Tables(s: SparkSession, d: String): Unit = {
    graft.operators.Bucketing.ensureBucketed(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      "graft_q75_lineitem", buckets = 8, bucketCols = Seq("l_orderkey"), srcTag = d)
    graft.operators.Bucketing.ensureBucketed(
      t(s, d, "orders").select(col("o_orderkey"), col("o_orderpriority")),
      "graft_q75_orders", buckets = 8, bucketCols = Seq("o_orderkey"), srcTag = d)
  }

  private def q75(s: SparkSession, d: String): DataFrame = {
    ensureQ75Tables(s, d)
    s.table("graft_q75_lineitem")
      .join(s.table("graft_q75_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Temperature-weighted mixture rebalancing
    * ([[graft.operators.Mixing.temperatureMixT2]]) over the corpus's
    * skewed language distribution: keep the rarest language in full,
    * thin the rest toward shares ∝ √n — the multilingual-pretraining
    * reweighting, T=2. Completes the pretraining data path
    * split (q65) → mix (q76) → pack (q66) → chunk (q69). Output is the
    * per-language audit (rate and kept count), every value exact
    * integer arithmetic (isqrt + md5 permille bucket) so the oracle
    * reproduces acceptance decisions bit-for-bit.
    */
  private def q76(s: SparkSession, d: String): DataFrame =
    graft.operators.Mixing.temperatureMixT2(
        t(s, d, "documents"), sourceCol = "lang", idCol = "doc_id")
      .groupBy(col("lang"), col("rate_pm"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")

  /** A 40-token web-boilerplate header (two exact 20-token chunks)
    * prepended to every document in q77, so the corpus carries the real
    * phenomenon chunk-dedup exists for: shared headers duplicated
    * across every page of a crawl. The oracle interpolates the same
    * constant.
    */
  private val BoilerplateHeader: String =
    "subscribe to our newsletter for updates follow us on social media " +
      "all rights reserved terms of service privacy policy cookie settings " +
      "about contact careers press sitemap help faq support login register " +
      "search menu home back next previous share print download"

  /** CCNet-style cross-document boilerplate removal
    * ([[graft.operators.Boilerplate.dedupStats]]): disjoint 20-token
    * chunks, fingerprinted corpus-wide; a chunk survives only as its
    * fingerprint's first (lowest doc_id, chunk_id) occurrence. The
    * injected header makes every document's first two chunks duplicates
    * of doc 0's — the per-doc kept/dropped tallies are hash-checked
    * against a DuckDB window-rank mirror.
    */
  private def q77(s: SparkSession, d: String): DataFrame =
    graft.operators.Boilerplate.dedupStats(
        t(s, d, "documents").select(col("doc_id"),
          concat(lit(BoilerplateHeader + " "), col("text")).as("text")),
        window = 20)
      .orderBy("doc_id")

  /** Per-document tf·idf keyword extraction
    * ([[graft.operators.Keywords.tfidfTopK]]): top-5 tokens per doc by
    * the exact-integer score `tf · ((10^6·N) div df)`, ties broken on
    * token text — rank, tf, df and score all integer-reproducible in
    * DuckDB.
    */
  private def q78(s: SparkSession, d: String): DataFrame =
    graft.operators.Keywords.tfidfTopK(t(s, d, "documents"), k = 5)
      .orderBy("doc_id", "rnk")

  /** Domain balancing ([[graft.operators.Sampling.perKeyCap]]): at most
    * 10 documents per source, chosen by the deterministic (salt, id)
    * hash order — the absolute per-domain bound that a rate cannot
    * guarantee under skew. The cap binds at every SF (each source has
    * ≥ 25 docs), so the oracle exercises real eviction.
    */
  private def q79(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.perKeyCap(
        t(s, d, "documents"), keyCol = "source", idCol = "doc_id", cap = 10)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")

  /** Unigram surprisal scoring
    * ([[graft.operators.Vocabulary.surprisalScore]]): the LM-free
    * perplexity proxy — tf-weighted mean whole-bit surprisal of each
    * document's tokens under the corpus' own unigram distribution,
    * exact integer arithmetic end to end (see the operator's ⌊log₂⌋
    * precision argument).
    */
  private def q80(s: SparkSession, d: String): DataFrame =
    graft.operators.Vocabulary.surprisalScore(t(s, d, "documents"))
      .orderBy("doc_id")

  /** Bloom runtime-filter semi-join
    * ([[graft.operators.RuntimeFilter.semiJoin]]): revenue of lineitems
    * whose order is URGENT — the selective fact⋈dim semi-join every
    * warehouse query starts with, executed as build-side Bloom bitset →
    * codegen'd `might_contain` pushed into the probe scan → exact
    * left-semi join on the survivors. The Bloom is one-sided, so the
    * result set is EXACTLY the plain semi-join (the DuckDB oracle);
    * RuntimeFilterSpec proves the pruning itself (no false negatives,
    * measured fp rate, scan-stage placement).
    */
  private def q81(s: SparkSession, d: String): DataFrame = {
    val urgent = t(s, d, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    graft.operators.RuntimeFilter.semiJoin(
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_extendedprice"), col("l_discount")),
        "l_orderkey", urgent, "o_orderkey")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        sum(discPriceE4(col("l_extendedprice"), col("l_discount"))).as("revenue"))
      .orderBy("l_returnflag")
  }

  /** CDC merge/upsert ([[graft.operators.Delta.applyChanges]]) — the
    * apply half of the q70 diff⋈apply pair: replay a change set
    * (updates = uppercased text for doc_id ≡ 0 mod 7, inserts = copies
    * at doc_id+10^6 for ≡ 0 mod 13, deletes = ≡ 0 mod 11; delete wins
    * on overlap) onto the documents snapshot and emit the merged
    * corpus keyed by content md5. The oracle replays the same change
    * set relationally (anti-join + unions) — upsert machinery must be
    * invisible in the result.
    */
  private def q82(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val updates = docs
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
      .withColumn("text", upper(col("text")))
      .withColumn("is_delete", lit(false))
    val inserts = docs
      .filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .withColumn("is_delete", lit(false))
    val deletes = docs
      .filter(col("doc_id") % 11 === 0)
      .withColumn("is_delete", lit(true))
    graft.operators.Delta.applyChanges(docs,
        updates.unionByName(inserts).unionByName(deletes), "doc_id", "is_delete")
      .select(col("doc_id"), md5(col("text")).as("content_md5"),
        col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Curriculum sharding ([[graft.operators.Curriculum.shardByScore]]):
    * the corpus ordered by quality score and cut into 10 contiguous
    * near-equal shards (easy→hard pretraining order). Global rank is
    * the q66 two-level prefix sum — the only unpartitioned window runs
    * over (score, sub-bucket) totals (PlanAuditSpec allowlists it);
    * the shard id is the exact-integer NTILE identity, so the DuckDB
    * ROW_NUMBER mirror reproduces every assignment. Output is the
    * per-shard audit (count, quality range, rank range).
    */
  private def q83(s: SparkSession, d: String): DataFrame = {
    // Checkpoints.stage stages the (id, score) projection — 16 B/row —
    // so the regex-heavy score is computed ONCE, not re-derived on both
    // sides of the rank's aggregate/join-back (measured 2x at sf1.0).
    // Same staging a 100 TB run would do by writing the score column;
    // set spark.graft.checkpointDir to keep it on reliable storage.
    val scored = graft.util.Checkpoints.stage(
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("quality")))
    graft.operators.Curriculum.shardByScore(scored, "quality", "doc_id", nShards = 10)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min("quality").as("min_q"), max("quality").as("max_q"),
        min("rn").as("first_rn"), max("rn").as("last_rn"))
      .orderBy("shard")
  }

  /** Z-order layout ([[graft.operators.ZOrder]]): lineitem re-laid on
    * the Morton curve of (l_partkey, l_suppkey), then a 2-d box filter
    * aggregated per return flag. Layout is semantics-free (the q75
    * contract), so the oracle is the plain filter over the original
    * table; ZOrderSpec measures what the layout buys (the z-ordered
    * scan decodes ≤ half the rows of a 1-d sort for the same box) and
    * pins the wrap-don't-fail kernel. The copy is written once per
    * source tag ([[graft.operators.ZOrder.ensureZOrdered]], the
    * ensureBucketed idempotence contract).
    */
  /** q84's pay-once z-ordered copy, shared with [[prepareLayouts]]. */
  private def ensureQ84Path(s: SparkSession, d: String): String = {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_returnflag"))
    graft.operators.ZOrder.ensureZOrdered(
      li, "l_partkey", "l_suppkey", bits = 20, srcTag = d)
  }

  private def q84(s: SparkSession, d: String): DataFrame = {
    val path = ensureQ84Path(s, d)
    s.read.parquet(path)
      .filter(col("l_partkey") <= 50L && col("l_suppkey") <= 5L)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum(cents(col("l_quantity"))).as("qty_c"))
      .orderBy("l_returnflag")
  }

  /** Exact-size stratified sample
    * ([[graft.operators.Sampling.stratifiedExact]]): exactly 100
    * documents allocated across sources by the largest-remainder
    * method (Hare quota) and picked in deterministic (salt, id) hash
    * order within each source — the fixed-size benchmark-split
    * primitive a rate cannot provide. Integer quota/remainder
    * arithmetic plus the portable md5 rank make every allocation and
    * every pick bit-reproducible in the DuckDB mirror.
    */
  private def q85(s: SparkSession, d: String): DataFrame =
    graft.operators.Sampling.stratifiedExact(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        strataCol = "source", idCol = "doc_id", budget = 100L)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")

  /** Incremental aggregate maintenance
    * ([[graft.operators.Incremental.maintainSumCount]]): a per-type
    * (count, cents-sum) materialized view of the events table kept
    * current under a CDC batch — inserts (event_id ≡ 0 mod 5) plus
    * retractions (mod-7 rows of the base period, sign −1) fold in as
    * one delta aggregate merged into the state by group key; the base
    * rows are never rescanned. The oracle aggregates the effective row
    * set directly — maintenance must be invisible in the result.
    */
  private def q86(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id"), col("event_type"), cents(col("value")).as("val_c"))
    val baseRows = ev.filter(col("event_id") % 5 =!= 0)
    val state = baseRows.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("val_c").as("sum_c"))
    val delta = ev.filter(col("event_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(baseRows.filter(col("event_id") % 7 === 0).withColumn("sign", lit(-1L)))
      .select(col("event_type"), col("val_c"), col("sign"))
    graft.operators.Incremental.maintainSumCount(
        state, delta, Seq("event_type"), "val_c", "sign")
      .orderBy("event_type")
  }

  /** STREAMING incremental view maintenance
    * ([[graft.streaming.IncrementalSink.drainFolded]]): the q86 CDC
    * delta flows through a REAL foreachBatch stream in two micro-batches
    * (base rows, then inserts+retractions), each folded into the state
    * with [[graft.operators.Incremental.maintainSumCount]] and
    * checkpointed — the lakehouse streaming-upsert serving pattern.
    * Batch associativity (IncrementalSpec) makes the final state
    * boundary-independent, so the SAME batch oracle as q86 checks it.
    */
  private def q87(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
      .select(col("event_id"), col("event_type"), cents(col("value")).as("val_c"))
    val base = ev.filter(col("event_id") % 5 =!= 0)
    val b0 = base.withColumn("sign", lit(1L))
    val b1 = ev.filter(col("event_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(base.filter(col("event_id") % 7 === 0).withColumn("sign", lit(-1L)))
    val cols = Seq(col("event_type"), col("val_c"), col("sign"))
    val zero = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("sum_c",
          org.apache.spark.sql.types.LongType))))
    graft.streaming.IncrementalSink.drainFolded(
        Seq(b0.select(cols: _*), b1.select(cols: _*)), zero,
        (acc, b) => graft.operators.Incremental.maintainSumCount(
          acc, b, Seq("event_type"), "val_c", "sign"))
      .orderBy("event_type")
  }

  /** Deterministic negative sampling
    * ([[graft.operators.Contrastive.negativeSamples]]): 4 affine-probe
    * negatives per document, same-source candidates excluded (the
    * in-batch-positive contamination guard), self and missing probes
    * dropped rather than re-rolled. Every candidate is exact integer
    * arithmetic over the portable md5 base, so the DuckDB mirror (a
    * 4-way UNION of the probe family) reproduces the pair set
    * bit-for-bit.
    */
  private def q88(s: SparkSession, d: String): DataFrame =
    graft.operators.Contrastive.negativeSamples(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        idCol = "doc_id", groupCol = "source", k = 4)
      .orderBy("doc_id", "j")

  /** Bigram conditional surprisal
    * ([[graft.operators.Vocabulary.bigramSurprisalScore]]): the
    * order-sensitive fluency score q80's bag-of-words surprisal cannot
    * see — whole-bit `⌊log₂ cnt(prev·)⌋ − ⌊log₂ cnt(prev,cur)⌋` under
    * the corpus' own bigram counts, tf-weighted integer mean per
    * document. Same cross-engine floor(log2) exactness argument as
    * q80.
    */
  private def q89(s: SparkSession, d: String): DataFrame =
    graft.operators.Vocabulary.bigramSurprisalScore(t(s, d, "documents"))
      .orderBy("doc_id")

  /** The persisted serving-path indexes for q90–q95
    * ([[graft.operators.Search.ensureIndexes]]): all three index tables
    * built ONCE per landed corpus, bucketed by `tok` — every lexical
    * query reads the bucketed tables (build at ingest, query many),
    * never re-tokenizes the corpus. Idempotent; Bench additionally runs
    * this in warmup so medians exclude the pay-once ingest.
    */
  private def ensureSearchTables(s: SparkSession, d: String): Unit =
    graft.operators.Search.ensureIndexes(t(s, d, "documents"), srcTag = d)

  /** Lexical inverted-index retrieval ([[graft.operators.Search]]):
    * documents containing BOTH a rare term ('dup', ~5% df) and a common
    * one ('join') via the count-intersection AND query over the
    * PERSISTED (tok, doc_id) pair index — the serving-path complement
    * of the ANN family: the term filter prunes to the terms' buckets at
    * the scan (SearchIndexPlanSpec pins it). The oracle re-derives
    * membership from the text itself, so index construction must be
    * lossless.
    */
  private def q90(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    graft.operators.Search.andQuery(s.table(graft.operators.Search.IndexTable),
        Seq("dup", "join"))
      .orderBy("doc_id")
  }

  /** Ranked lexical retrieval ([[graft.operators.Search.rankedQuery]]):
    * top-10 documents for a 3-term query by the exact-integer tf·idf
    * score (q78's idf contract applied to search) — the rare term
    * ('dup') dominates through its ~20× idf, which is the behavior
    * ranking exists for. Ties break on doc_id; every score is BIGINT
    * arithmetic, so the oracle reproduces the full ranking.
    */
  private def q91(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    graft.operators.Search.rankedQuery(
        s.table(graft.operators.Search.TfTable),
        t(s, d, "documents").agg(count(lit(1)).as("n_docs")),
        Seq("dup", "join", "vector"), k = 10)
  }

  /** Phrase retrieval ([[graft.operators.Search.phraseQuery]]):
    * documents containing the exact consecutive phrase "hash join",
    * answered by the adjacency join over the positional index — the
    * positional-intersection plan every lexical engine runs. The
    * oracle re-derives adjacency from the raw token arrays, so the
    * positional index must preserve exact occurrence order.
    */
  private def q92(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    graft.operators.Search.phraseQuery(s.table(graft.operators.Search.PosTable),
        Seq("hash", "join"))
      .orderBy("doc_id")
  }

  /** Proximity retrieval ([[graft.operators.Search.proximityQuery]]):
    * documents where 'dup' and 'join' fall within 2 token positions of
    * each other, either order — the NEAR operator between AND's
    * looseness and a phrase's rigidity. The oracle re-derives
    * positions from the raw token arrays.
    */
  private def q93(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    graft.operators.Search.proximityQuery(s.table(graft.operators.Search.PosTable),
        "dup", "join", maxDist = 2)
      .orderBy("doc_id")
  }

  /** m-of-n boolean retrieval
    * ([[graft.operators.Search.minShouldMatch]]): documents matching at
    * least 2 of {'dup', 'slow', 'vector'} with the matched-term count —
    * the recall/precision dial between AND (n-of-n, q90) and OR
    * (1-of-n). Oracle re-derives per-term membership from raw text and
    * applies the same bar.
    */
  private def q94(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    graft.operators.Search.minShouldMatch(s.table(graft.operators.Search.IndexTable),
        Seq("dup", "slow", "vector"), minMatch = 2)
      .orderBy("doc_id")
  }

  /** Incremental inverted-index maintenance
    * ([[graft.operators.Search.maintainTfIndex]]) — the q86 CDC delta
    * algebra unified with the q90–q94 serving path: the PERSISTED tf
    * index (restricted to the base docs, doc_id ≢ 0 mod 5) absorbs a
    * document delta — inserts (the mod-5 docs) plus whole-document
    * retractions (base docs ≡ 0 mod 7) — by tokenizing ONLY the delta
    * and folding signed counts per (doc_id, tok); zeroed keys leave the
    * index. The oracle is the rebuild itself: the tf index of the
    * effective document set, so delta-fold ≡ rebuild is hash-checked
    * row-for-row.
    */
  private def q95(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val state = s.table(graft.operators.Search.TfTable)
      .filter(col("doc_id") % 5 =!= 0)
    val delta = docs.filter(col("doc_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(
        docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
          .withColumn("sign", lit(-1L)))
    graft.operators.Search.maintainTfIndex(state, delta)
      .orderBy("doc_id", "tok")
  }

  /** BM25-ranked retrieval ([[graft.operators.Search.bm25Query]]):
    * top-10 for the q91 query {'dup','join','vector'} under tf
    * SATURATION + document-LENGTH normalization — the two ranking
    * effects plain tf·idf lacks (a 50-occurrence spam doc no longer
    * drowns a short focused one). k1=6/5, b=3/4 cleared to BIGINT
    * arithmetic, whole-bit idf₂ (q80 ⌊log₂⌋ contract), document length
    * denormalized into the PERSISTED scored posting table (Lucene
    * norms) so scoring touches only the query terms' posting rows.
    */
  private def q96(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    graft.operators.Search.bm25Query(
        s.table(graft.operators.Search.ScoredTable),
        graft.operators.Search.corpusStats(t(s, d, "documents")),
        Seq("dup", "join", "vector"), k = 10)
  }

  /** Hybrid retrieval ([[graft.operators.Hybrid.rrfFuse]]): the q91
    * lexical top-20 and the q22-portable vector top-20 over the SAME
    * corpus (doc_id ≡ vec_id in the fixtures) fused by exact-integer
    * reciprocal-rank fusion — the calibration-free way to combine a
    * keyword score and a cosine, and the shape every RAG serving stack
    * runs. Each leg keeps its own 100 TB scale argument (scan-pushed
    * index lookup / broadcast-query map-only scan); fusion itself
    * ranks two ≤20-row lists. `n_legs` marks the agreement set.
    */
  private def q97(s: SparkSession, d: String): DataFrame = {
    ensureSearchTables(s, d)
    val lex = graft.operators.Search.rankedQuery(
        s.table(graft.operators.Search.TfTable),
        t(s, d, "documents").agg(count(lit(1)).as("n_docs")),
        Seq("dup", "join", "vector"), k = 20)
      .select(col("doc_id"), col("score").as("_ord"))
    val vec = graft.operators.Similarity
      .bruteForceTopKPortableScored(t(s, d, "embeddings"), queryId = 0L, k = 20)
      .select(col("vec_id").as("doc_id"), col("cos").as("_ord"))
    graft.operators.Hybrid.rrfFuse(Seq(lex, vec),
      idCol = "doc_id", ordCol = "_ord", topK = 10)
  }

  /** STREAMING index maintenance — the q87 foreachBatch fold applied
    * to the q95 index algebra: the corpus arrives as a REAL
    * three-micro-batch document stream (two base waves, then
    * inserts + whole-document retractions), each batch tokenized and
    * folded into the tf index with
    * [[graft.operators.Search.maintainTfIndex]] from an EMPTY state.
    * Batch associativity of the underlying (count, sum) algebra makes
    * the final index boundary-independent, so the q95 rebuild oracle
    * checks it row-for-row — the "search index that is never rebuilt,
    * only maintained" serving pattern.
    */
  private def q98(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val b0 = base.filter(col("doc_id") % 2 === 0).withColumn("sign", lit(1L))
    val b1 = base.filter(col("doc_id") % 2 =!= 0).withColumn("sign", lit(1L))
    val b2 = docs.filter(col("doc_id") % 5 === 0).withColumn("sign", lit(1L))
      .unionByName(
        base.filter(col("doc_id") % 7 === 0).withColumn("sign", lit(-1L)))
    val zero = s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("tf_t",
          org.apache.spark.sql.types.LongType))))
    graft.streaming.IncrementalSink.drainFolded(Seq(b0, b1, b2), zero,
        (acc, b) => graft.operators.Search.maintainTfIndex(acc, b))
      .orderBy("doc_id", "tok")
  }

  /** Vocabulary induction ([[graft.operators.Vocabulary.bpePairCounts]]):
    * the top-20 character-pair merge candidates of a BPE round,
    * counted over the (word, frequency) vocabulary rather than the
    * corpus — the factoring that makes distributed BPE feasible. The
    * oracle re-derives pairs by substring over the same vocabulary.
    */
  private def q99(s: SparkSession, d: String): DataFrame =
    graft.operators.Vocabulary.bpePairCounts(t(s, d, "documents"), k = 20)

  /** Collocation mining ([[graft.operators.Vocabulary.collocations]]):
    * top adjacent word pairs by whole-bit PMI with support ≥ 5 — the
    * phrase-mining table query expansion and tokenizer seeding read
    * from. Exact integer arithmetic end to end (per-count ⌊log₂⌋,
    * never products), so the DuckDB oracle hash-matches.
    */
  /** q100's pay-once pair-count ingest, shared with [[prepareLayouts]]:
    * the corpus scan + bigram kernel runs at ingest, the per-query work
    * is marginals + PMI over the (tiny) pair table. Bucketed on `prev`
    * so the left marginal aggregates shuffle-free.
    */
  private def ensureQ100Pairs(s: SparkSession, d: String): Unit =
    graft.operators.Bucketing.ensureBucketed(
      graft.operators.Vocabulary.bigramPairCounts(t(s, d, "documents")),
      "graft_q100_pairs", buckets = 8, bucketCols = Seq("prev"), srcTag = d)

  private def q100(s: SparkSession, d: String): DataFrame = {
    ensureQ100Pairs(s, d)
    graft.operators.Vocabulary.collocationsFromPairs(
      s.table("graft_q100_pairs"), minCount = 5L, k = 30)
  }

  /** Canonical-doc selection ([[graft.operators.Clusters.canonicalize]]):
    * the dedup ACTION on the q59 cluster table — longest member wins its
    * cluster (id tie-break), every member gets a `(keep_id, kept)`
    * verdict. Same pair graph and doc subset as q59/q23.
    */
  private def q101(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").filter(col("doc_id") < 10000)
    // ONE text pass (the q123 move): the MinHash signature and the
    // canonical-ranking text length are computed in the same staged
    // projection — the pre-restructure plan scanned the text column
    // twice (sig staging + canonicalize's length projection). Every
    // doc in a pair has a signature, so the sig-staged rows cover all
    // ids canonicalize ranks.
    import graft.functions.TextFunctions
    // eager stage, not persist() — the lazy-cache A/B lost here too
    // (3.24 s vs 2.75 s median; see the q123 comment)
    val sigsLen = graft.util.Checkpoints.stage(
      spread(docs.filter(TextFunctions.hasShingles(col("text"), 3)), "doc_id")
        .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
        .select(col("doc_id"),
          graft.plans.MinHashSigExpr(
            TextFunctions.shinglesFromTokens(col("_tk"), 3)).as("sig"),
          length(col("text")).cast("long").as("n_chars")))
    graft.operators.Clusters.canonicalizeByLen(
        graft.operators.Clusters.connectedComponents(
          Dedup.minhashNearDupPairsFromSigs(sigsLen.select("doc_id", "sig")),
          src = "doc_a", dst = "doc_b"),
        sigsLen.select(col("doc_id").as("id"), col("n_chars")))
      .orderBy("id")
  }

  /** Full repetition profile ([[graft.operators.Repetition.profile]]):
    * the Gopher rule set (dup 2-/3-gram, top-word, lexical diversity
    * permilles) + drop flag in one map-only pass — the no-shuffle
    * complement of q62's (doc, gram)-aggregated signals; every doc
    * emits a row, exact integers throughout.
    */
  private def q102(s: SparkSession, d: String): DataFrame =
    graft.operators.Repetition.profile(t(s, d, "documents"))
      .orderBy("doc_id")

  /** Token-budget corpus selection ([[graft.operators.Curriculum
    * .selectByBudget]]): the highest-quality ≤15k-token subset, best
    * first by (quality desc, doc_id) — the inclusive cumulative token
    * count comes from the q66/q83 two-level prefix sum (no global
    * sort; the one unpartitioned window runs over bucket totals), and
    * the budget cut reproduces the textbook SQL running-sum exactly.
    */
  private def q103(s: SparkSession, d: String): DataFrame = {
    // q83's staging move: Checkpoints.stage the (id, score, weight)
    // projection — 24 B/row — so the regex-heavy quality/token kernels
    // run ONCE, not on both sides of the prefix sum's aggregate/join
    // (the base is consumed twice in the two-level scan).
    val scored = graft.util.Checkpoints.stage(
      t(s, d, "documents")
        .select(col("doc_id"),
          (-TextFunctions.qualityScore(col("text"))).as("neg_q"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")))
    graft.operators.Curriculum.selectByBudget(scored,
        scoreCol = "neg_q", idCol = "doc_id", weightCol = "n_tokens",
        budget = 15000L)
      .select(col("doc_id"), (-col("neg_q")).as("quality"), col("n_tokens"),
        col("cum_weight").as("cum_tokens"), col("selected"))
      .orderBy("doc_id")
  }

  /** Canonical text normalization ([[TextFunctions.normalizeText]]):
    * NFC composition + control-char strip + whitespace collapse, the
    * cleanup pass that runs before any exact-match operator. The raw
    * column deterministically exercises all three legs (every doc gets
    * a decomposed accent, a control byte and doubled spaces appended),
    * so the hash gate proves real normalization work — DuckDB's
    * `nfc_normalize` + the same RE2 regexes must match byte-for-byte.
    */
  private def q104(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" e\u0301\u0001  x")).as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("n_raw"),
        TextFunctions.normalizeText(col("raw")).as("norm"))
      .select(col("doc_id"), col("n_raw"),
        length(col("norm")).as("n_norm"),
        md5(col("norm")).as("fp"))
      .orderBy("doc_id")

  /** Stream-stream interval join — the one Structured Streaming
    * operator class the q64/q71/q72/q87/q98 drains didn't cover: each
    * purchase joined to the same user's clicks in the preceding hour,
    * BOTH sides real watermarked streams (a self-join of the drained
    * file stream, the supported stream-stream inner-join shape). The
    * time-range predicate plus the two watermarks is exactly what lets
    * Spark bound join state at 100 TB (each side keeps ~1 h + slack of
    * rows per user instead of the whole stream); in the drain, batch 0
    * carries everything so the inner join emits every pair eagerly and
    * the DuckDB oracle is the plain interval join. µs truncation as in
    * q49/q64.
    */
  private def q105(s: SparkSession, d: String): DataFrame = {
    val staged = t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("event_time"))
    graft.streaming.FileStreamDrain.drain(
        staged,
        ss => {
          val p = ss.filter(col("event_type") === "purchase")
            .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
              col("event_time").as("p_time"))
            .withWatermark("p_time", "1 hour")
          val c = ss.filter(col("event_type") === "click")
            .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
              col("event_time").as("c_time"))
            .withWatermark("c_time", "1 hour")
          p.join(c, col("p_user") === col("c_user") &&
            col("c_time") >= col("p_time") - expr("INTERVAL 1 HOUR") &&
            col("c_time") <= col("p_time"))
        },
        // inner stream-stream join: every match emits in the batch its
        // rows arrive (both sides land in batch 0); the watermark only
        // bounds join state, so the final no-data batch would re-commit
        // all stores to emit nothing — skip it (oracle-gated)
        finalNoDataBatch = false)
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"))
      .orderBy("p_id", "c_id")
  }

  /** q106's pay-once corpus band index, shared with [[prepareLayouts]]:
    * the STANDING corpus (doc_id ≢ 0 mod 10, capped at 10k like q23) is
    * minhashed and banded once into bk-bucketed tables.
    */
  private def ensureQ106Index(s: SparkSession, d: String): Unit =
    graft.operators.Dedup.ensureMinhashBandIndex(
      t(s, d, "documents")
        .filter(col("doc_id") < 10000 && col("doc_id") % 10 =!= 0),
      tablePrefix = "graft_q106", srcTag = d)

  /** Incremental near-dup INGESTION
    * ([[graft.operators.Dedup.incrementalNearDupPairs]]): the last-10%
    * batch (doc_id ≡ 0 mod 10) deduped against the persisted band index
    * of the other 90% — only the batch is shingled/hashed, the corpus
    * contributes its compact bucketed band/sig tables consumed in
    * place. The oracle recomputes both sides' signatures from the raw
    * table and replays band-collide → sig-verify, so the gate proves
    * the persisted index serves the same pair set a from-scratch
    * banding would.
    */
  private def q106(s: SparkSession, d: String): DataFrame = {
    ensureQ106Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
    graft.operators.Dedup.incrementalNearDupPairs(
        batch, "graft_q106_bands", "graft_q106_sigs")
      .orderBy("new_doc", "dup_of")
  }

  /** Batched IVF serving ([[Similarity.ivfProbeBatch]]): five query
    * vectors answered by ONE partition-pruned scan of the staged q51
    * index — the serving-throughput shape (per-query probe cost paid
    * once per batch, candidate shuffle bounded by batch·nProbe·cell,
    * never the corpus). The 5-row query collect stands in for a
    * user-supplied query batch. Oracle replays seed-assign, per-query
    * probe ranking and the per-query top-k windows from the raw table.
    */
  private def q107(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = d)
    val qs = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    Similarity.ivfProbeBatch(s, path, qs, k = 5, nProbe = 4)
      .orderBy("query_id", "rk")
  }

  /** q106's semantics through a REAL Structured Streaming query
    * ([[graft.streaming.StreamingNearDup]]): the batch arrives as a
    * file stream, candidates come from a stream-static join against
    * the persisted band index, pair dedup is watermark-bounded state,
    * verification a second stream-static join. Same oracle as q106 —
    * the gate proves stream ≡ batch for ingestion dedup (the
    * q49/q64 sessionization contract applied to near-dup ingest).
    */
  private def q108(s: SparkSession, d: String): DataFrame = {
    ensureQ106Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"),
        // +1 day: event time equal to the initial watermark (epoch 0)
        // would be judged late and dropped (the q71 lesson)
        timestamp_seconds(col("doc_id") + 86400L).as("event_time"))
    graft.streaming.StreamingNearDup.drainNearDups(
        batch, "graft_q106_bands", "graft_q106_sigs")
      .orderBy("new_doc", "dup_of")
  }

  /** q109's base corpus band index — its OWN table prefix: q109 folds
    * admitted batch docs into its index, and q106/q108 must keep
    * deduping against the pristine 90% corpus.
    */
  private def ensureQ109Index(s: SparkSession, d: String): (String, String) =
    graft.operators.Dedup.ensureMinhashBandIndex(
      t(s, d, "documents")
        .filter(col("doc_id") < 10000 && col("doc_id") % 10 =!= 0),
      tablePrefix = "graft_q109", srcTag = d)

  /** The CLOSED ingestion loop (q106 + write-back): dedup the batch
    * against the standing band index, FOLD the admitted survivors back
    * into it ([[graft.operators.Dedup.foldIntoMinhashBandIndex]] — the
    * q95 incremental-index contract applied to the MinHash tables:
    * O(batch) appended bucket files, corpus rows untouched, idempotent
    * per batch tag), and emit the folded index content. The oracle
    * rebuilds the index from scratch over corpus ∪ admitted — with
    * admission itself replayed from raw text — so the gate proves
    * fold ≡ rebuild: the "index that is never rebuilt, only
    * maintained" serving contract for near-dup ingestion.
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    val (bt, st) = ensureQ109Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
    val dup = graft.operators.Dedup.incrementalNearDupPairs(batch, bt, st)
      .select(col("new_doc").as("doc_id")).distinct()
    val admitted = batch.join(dup, Seq("doc_id"), "left_anti")
    graft.operators.Dedup.foldIntoMinhashBandIndex(
      admitted, "graft_q109", batchTag = s"$d#batch0")
    s.table(bt).orderBy("doc_id", "bk")
  }

  /** STREAMING ANN serving ([[graft.streaming.AnnServeStream]]): the
    * q107 query batch arriving as TWO micro-batches of a real
    * foreachBatch stream, each answered by its own distributed ranking
    * + pruned cells scan, answers accrued append-only. Queries are
    * independent rows, so the accrued set is row-identical to the
    * one-shot batch — the SAME oracle as q107 gates stream ≡ batch for
    * serving (the q106/q108 ingestion symmetry, serving side).
    */
  private def q110(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfIndex(emb, srcTag = d)
    def qb(lo: Long, hi: Long) =
      emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        .select(col("vec_id").as("query_id"), col("embedding").as("emb"))
    graft.streaming.AnnServeStream.drainServe(
        Seq(qb(0, 3), qb(3, 5)), path, k = 5, nProbe = 4)
      .orderBy("query_id", "rk")
  }

  /** The CLOSED serving-index loop (the q109 fold contract, vector
    * side): build the IVF layout on the standing corpus (every 10th
    * vec_id held out), FOLD the held-out batch into it
    * ([[graft.operators.Similarity.foldIntoIvfIndex]] — new vectors
    * assigned to the STANDING centroids, O(batch) appended cell files,
    * corpus cells untouched, idempotent per batch tag), then probe the
    * folded index with a BATCH vector's embedding. The oracle rebuilds
    * the assignment from scratch over corpus ∪ batch against the
    * corpus-seeded centroids, so the gate proves fold ≡ rebuild AND
    * that folded vectors are immediately servable — the "index that is
    * never rebuilt, only maintained" contract for ANN serving.
    */
  private def q111(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val batch     = emb.filter(col("vec_id") % 10 === 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q111")
    Similarity.foldIntoIvfIndex(batch, path, batchTag = s"$d#vbatch0")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Cell-occupancy telemetry over the MAINTAINED q111 index (corpus
    * built, batch folded): per-cell vector counts — the rebuild
    * advisor a fold-only ingestion tier watches, since folds never
    * move centroids and drift shows up as occupancy skew. The oracle
    * re-derives the counts from a from-scratch assignment of corpus ∪
    * batch to the corpus-seeded centroids, so green also re-proves the
    * folded index's cell membership, not just its probe results.
    */
  private def q113(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q111")
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#vbatch0")
    Similarity.ivfCellStats(s, path)
  }

  /** The rebuild DECISION over the maintained q111 index: q113's
    * occupancy reduced to one row of integer drift metrics (skew =
    * max-cell/mean occupancy, new-mass = folded fraction) plus the
    * thresholded verdict — what an ingestion tier evaluates after each
    * fold to choose between folding on and a [[q115]] rebuild. The
    * oracle re-derives every metric from a from-scratch union
    * assignment, so the decision itself is hash-gated.
    */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q111")
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#vbatch0")
    val n = Similarity.ensureCorpusStats(corpus, s"$d#q111")
    Similarity.ivfRebuildAdvice(s, path, corpusN = n)
  }

  /** The rebuild ACT: [[graft.operators.Similarity.rebuildIvfIndex]]
    * regenerates the layout FROM THE MAINTAINED INDEX ITSELF (re-seeded
    * centroids from the union, C re-derived from the union count,
    * fold small-files compacted for free), then probes it. The oracle
    * is q51's fresh-build probe over the raw table VERBATIM — green
    * means rebuild-from-index ≡ build-from-source, closing the index
    * lifecycle: build (q51) → fold (q111) → monitor (q113/q114) →
    * rebuild (q115).
    */
  private def q115(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q111")
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#vbatch0")
    val rebuilt = Similarity.rebuildIvfIndex(s, path, s"$path-rebuilt")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfProbe(s, rebuilt, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Product-quantization encoding ([[graft.operators.Similarity
    * .pqEncode]]): every embedding compressed to 4 codeword ids (4
    * subspaces × 16-entry codebooks over the fixed-point quantization,
    * exact integer squared-L2 assignment). The oracle replays the
    * slicing, seeding and argmin in DuckDB — codes are deterministic
    * integers, so the whole compressed corpus is hash-gated.
    */
  private def q116(s: SparkSession, d: String): DataFrame =
    Similarity.pqEncode(t(s, d, "embeddings"))

  /** Asymmetric-distance top-k over the PQ codes ([[graft.operators
    * .Similarity.pqAdcTopK]]): the query keeps exact subvectors, each
    * corpus vector is m table lookups — the scan reads CODES, never
    * vectors. All-BIGINT distances, ties by vec_id.
    */
  private def q117(s: SparkSession, d: String): DataFrame =
    Similarity.pqAdcTopK(t(s, d, "embeddings"), queryId = 0L, k = 10)

  /** The COMPOSED serving layout ([[graft.operators.Similarity
    * .ensureIvfPqIndex]]): IVF partition pruning over cells that store
    * PQ CODES instead of vectors — a probe is the q51 centroid ranking
    * plus a map-only ADC expression (m inlined-literal table lookups
    * per row) over nProbe pruned partitions of ~2-byte payloads. The
    * standard 100 TB ANN design; oracle replays cell membership, code
    * assignment and the lookup-table sum end to end.
    */
  private def q118(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfPqIndex(emb, srcTag = s"$d#q118")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** IVF-PQ with exact re-rank ([[graft.operators.Similarity
    * .ivfPqProbeRerank]]): the compressed index nominates the ADC
    * top-100, whose exact vectors are point-looked-up from the source
    * (an `IN`-pushdown scan of ≤100 rows) and re-ranked by the
    * portable cosine — the recipe that buys PQ's footprint without
    * surrendering exactness on the final k.
    */
  private def q119(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfPqIndex(emb, srcTag = s"$d#q118")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbeRerank(s, path, emb, q, k = 10, kAdc = 100,
      nProbe = 4, exclude = Some(0L))
  }

  /** The MAINTAINED IVF-PQ index (q111's closed loop for the composed
    * layout): build on the standing corpus, fold the held-out batch
    * ([[graft.operators.Similarity.foldIntoIvfPqIndex]] — encoded
    * against the STANDING codebooks and centroids, O(batch) appended
    * code rows, corpus cells untouched, idempotent per batch tag),
    * probe with a batch vector's embedding. The oracle re-derives
    * books, centroids and every code from scratch with corpus-only
    * seeding over the union — fold ≡ rebuild for the compressed
    * serving tier.
    */
  private def q120(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfPqIndex(corpus, srcTag = s"$d#q120")
    Similarity.foldIntoIvfPqIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#pqb0")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** q111's semantics through a REAL Structured Streaming query
    * ([[graft.streaming.AnnIngestStream]]): the new-vector batch
    * arrives as TWO micro-batches of a foreachBatch stream, each folded
    * into the standing IVF layout keyed on the stream's real batchId
    * (at-least-once delivery → exactly-once index effect via the fold
    * ledger). Assignments are independent rows, so the folded index is
    * identical to the one-shot fold — the SAME oracle as q111 gates
    * stream ≡ batch for index maintenance (the q106/q108 symmetry,
    * serving-index side).
    */
  private def q112(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q112")
    val newVecs   = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    graft.streaming.AnnIngestStream.drainIngest(
      Seq(newVecs.filter(col("vec_id") % 20 === 0),
          newVecs.filter(col("vec_id") % 20 =!= 0)),
      path, tagPrefix = s"$d#q112")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Batched serving over the COMPRESSED index ([[graft.operators
    * .Similarity.ivfPqProbeBatch]]): five queries answered by ONE
    * partition-pruned scan of code rows — distributed centroid
    * ranking, a broadcast (query_id, sub, code, dist) lookup-table
    * frame, map-side ADC aggregation, per-query top-k window. q107's
    * serving-throughput shape at PQ footprint.
    */
  private def q122(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfPqIndex(emb, srcTag = s"$d#q118")
    val qs = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    Similarity.ivfPqProbeBatch(s, path, qs, k = 5, nProbe = 4)
      .orderBy("query_id", "rk")
  }

  /** q120's semantics through a REAL Structured Streaming query: the
    * new-vector batch arrives as TWO micro-batches of a foreachBatch
    * stream, each PQ-encoded against the STANDING codebooks and folded
    * into the compressed index ([[graft.streaming.AnnIngestStream
    * .drainIngestPq]]); held to q120's oracle VERBATIM — code
    * assignments are independent rows, so micro-batch boundaries are
    * invisible in the final index.
    */
  private def q121(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfPqIndex(corpus, srcTag = s"$d#q121")
    val newVecs   = emb.filter(col("vec_id") % 10 === 0)
      .select("vec_id", "embedding")
    graft.streaming.AnnIngestStream.drainIngestPq(
      Seq(newVecs.filter(col("vec_id") % 20 === 0),
          newVecs.filter(col("vec_id") % 20 =!= 0)),
      path, tagPrefix = s"$d#q121")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** The END-TO-END corpus-prep flagship: the training-data pipeline's
    * stages COMPOSED into one plan and one oracle — quality gate
    * (q19's integer score, keep ≥ 60) → exact dedup among the
    * survivors (q20's min-doc_id-per-fingerprint) → NEAR-dup removal
    * (q23's banded MinHash pairs over the exact-dedup survivors,
    * q59's connected components, one doc — the min id — per cluster)
    * → contiguous sequence packing of the deduped stream (q66's
    * exclusive prefix sum at budget 4096) → deterministic
    * train/val/test split (q65's hash buckets). Output is the
    * per-document TRAINING MANIFEST (quality, token count, pack
    * offset, first chunk, split) — what a data loader consumes. One
    * oracle hash gates the whole composition, so an off-by-one
    * anywhere in the chain (a doc surviving the wrong gate, an offset
    * shifted by a dropped row) fails the round. Scale shape: each
    * stage is the already-audited operator — the near-dup leg's
    * shuffles stay fingerprint-only (banded keys, id pairs; the text
    * rides no exchange past the signature kernel), and the drop list
    * is O(|duplicates|), broadcast into the anti-join.
    */
  private def q123(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    // ONE text pass (guide-§8 shape: decide with small rows, move heavy
    // bytes never): quality score, exact-dedup fingerprint, token count
    // and the MinHash signature are all computed in a single projection
    // over the spread scan and STAGED as narrow per-doc metadata. The
    // pre-restructure plan re-derived the text pipeline per consumer —
    // four parquet scans of `documents` (quality kernel ×4, fingerprint
    // agg ×2, tokenCount ×2) plus a fifth pass inside the minhash sig
    // staging; every stage below reads the one materialization instead.
    // Signatures are computed for exact-dup rows too (they are dropped
    // one step later) — that waste is bounded by the duplicate rate,
    // while the passes it buys off scale with the whole corpus.
    // eager stage, not persist(): this narrow frame fans out into MANY
    // downstream jobs (exact dedup, banding, CC rounds, packing), and
    // the lazy-cache variant measured SLOWER here (5.10 s vs 3.96 s
    // median — every consumer re-plans and re-derives atop the
    // InMemoryRelation), while for the 4-consumer single-join q63 the
    // cache won; both A/Bs are in OPTIMIZATION_r20.md
    val meta = graft.util.Checkpoints.stage(
      spread(t(s, d, "documents"), "doc_id")
        .select(col("doc_id"), col("text"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 60)
        .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
        .select(col("doc_id"), col("quality"),
          TextFunctions.fingerprint(col("text")).as("fp"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          // null when no 3-shingle exists — same rows the portable
          // pair path's hasShingles pre-filter excluded
          when(size(col("_tk")) >= 3,
            graft.plans.MinHashSigExpr(
              TextFunctions.shinglesFromTokens(col("_tk"), 3))).as("sig")))
    // exact dedup on the staged fingerprints: min-id per fp, semi-join —
    // identical to Dedup.exactDedup but over narrow staged rows
    val keep = meta.groupBy("fp").agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val deduped = meta.join(keep, Seq("doc_id"), "left_semi")
    // near-dup pairs straight from the staged signatures (the q23
    // banding + verify, minus its own sig recompute); drop list and
    // anti-join as in Dedup.nearDedup
    val pairs = graft.operators.Dedup.minhashNearDupPairsFromSigs(
      deduped.filter(col("sig").isNotNull).select("doc_id", "sig"))
    val drop = graft.operators.Clusters.duplicatesToDrop(pairs)
    val survivors = graft.util.Checkpoints.stage(
      deduped.join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "quality", "n_tokens"))
    val packed = graft.operators.Packing.concatPack(
      survivors,
      orderCol = "doc_id", weightCol = "n_tokens", budget = 4096L)
    graft.operators.Sampling.hashSplit(packed, "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("start_offset"), col("chunk_first"), col("split"))
      .orderBy("doc_id")
  }

  /** Polygon-AOI clip under the ORACLE (G1's exact kernel, hash-gated):
    * per document a synthetic point and a 1.5×1.5 square at
    * half-integer centers are clipped against a CONCAVE rectilinear
    * L-shaped AOI through the full production path —
    * [[graft.geo.GeoFunctions.stClipPolygon]]: WKT parse → prepared-AOI
    * cache → ear-clipped triangles → per-triangle Sutherland–Hodgman →
    * dissolve. Because the AOI is rectilinear it decomposes into two
    * disjoint axis rectangles, so DuckDB re-derives containment and the
    * exact clipped area in pure SQL (no spatial extension). Square
    * edges sit at quarter-offsets (n±0.25, n±0.75) against the AOI's
    * integer edges — squares STRADDLE boundaries (and the concave
    * corner), so partial clips of the production kernel are exercised,
    * while no point or edge ever lies ON a boundary, keeping even-odd
    * containment equal to the open-interior test; areas are multiples
    * of 1/16, emitted ×16 as BIGINT (ROUND absorbs the ~1-ulp float
    * residue of the diagonal triangulation cuts).
    */
  private def q124(s: SparkSession, d: String): DataFrame = {
    import graft.geo.GeoFunctions
    // L-shape: [0,60]×[0,40] ∪ [0,30]×[40,80]
    val aoi = "POLYGON ((0 0, 60 0, 60 40, 30 40, 30 80, 0 80, 0 0))"
    val base = t(s, d, "documents").select(col("doc_id"))
      .withColumn("x", (col("doc_id") % 89).cast("double") + lit(0.5))
      .withColumn("y", ((col("doc_id") * 7) % 83).cast("double") + lit(0.5))
    // WKT built from double→string CASTS (Double.toString — always a
    // dot decimal separator), not format_string (locale-dependent
    // java.util.Formatter: a comma-decimal default locale would emit
    // unparseable WKT)
    def xy(cx: Column, cy: Column): Column =
      concat(cx.cast("string"), lit(" "), cy.cast("string"))
    base
      .withColumn("pt", concat(lit("POINT ("), xy(col("x"), col("y")), lit(")")))
      .withColumn("sq", concat(lit("POLYGON (("),
        xy(col("x") - 0.75, col("y") - 0.75), lit(", "),
        xy(col("x") + 0.75, col("y") - 0.75), lit(", "),
        xy(col("x") + 0.75, col("y") + 0.75), lit(", "),
        xy(col("x") - 0.75, col("y") + 0.75), lit(", "),
        xy(col("x") - 0.75, col("y") - 0.75), lit("))")))
      .select(col("doc_id"),
        when(GeoFunctions.stClipPolygon(col("pt"), aoi).isNotNull, 1L)
          .otherwise(0L).as("kept"),
        round(GeoFunctions.stArea(
          GeoFunctions.stClipPolygon(col("sq"), aoi)) * 16).cast("long")
          .as("clip16"))
      .orderBy("doc_id")
  }

  /** q125's own band-index lineage (the fold+delete target — q106/q109
    * keep theirs pristine): same corpus split as q109.
    */
  private def ensureQ125Index(s: SparkSession, d: String): (String, String) =
    graft.operators.Dedup.ensureMinhashBandIndex(
      t(s, d, "documents")
        .filter(col("doc_id") < 10000 && col("doc_id") % 10 =!= 0),
      tablePrefix = "graft_q125", srcTag = d)

  /** DELETION from the maintained MinHash band index
    * ([[graft.operators.Dedup.deleteFromMinhashBandIndex]]) — the
    * takedown/refresh half of the "never rebuilt, only maintained"
    * contract: build on the 90% corpus, fold the admitted batch (the
    * q109 loop), tombstone-DELETE a slice spanning BOTH populations
    * (corpus docs ≡3 mod 20 and folded docs ≡0 mod 20), compact (the
    * physical purge), and emit the index content. The oracle rebuilds
    * from scratch over (corpus ∪ admitted) minus the deleted slice —
    * green proves fold∘delete∘compact ≡ rebuild-from-remainder, byte
    * equality of the maintained index with one never touched by
    * maintenance.
    */
  private def q125(s: SparkSession, d: String): DataFrame = {
    val (bt, st) = ensureQ125Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
    val dup = graft.operators.Dedup.incrementalNearDupPairs(batch, bt, st)
      .select(col("new_doc").as("doc_id")).distinct()
    val admitted = batch.join(dup, Seq("doc_id"), "left_anti")
    graft.operators.Dedup.foldIntoMinhashBandIndex(
      admitted, "graft_q125", batchTag = s"$d#batch0")
    graft.operators.Dedup.deleteFromMinhashBandIndex(
      t(s, d, "documents")
        .filter(col("doc_id") % 20 === 0 || col("doc_id") % 20 === 3)
        .select("doc_id"),
      "graft_q125", delTag = s"$d#del0")
    graft.operators.Dedup.compactMinhashBandIndex(s, "graft_q125")
    // compaction PROMOTES a new generation pair — re-resolve rather
    // than reading the superseded (pre-purge) tables the ensure call
    // returned
    val (curBands, _) =
      graft.operators.Dedup.currentIndexTables(s, "graft_q125")
    s.table(curBands).orderBy("doc_id", "bk")
  }

  /** DELETION from the maintained IVF index
    * ([[graft.operators.Similarity.deleteFromIvfIndex]]): build on the
    * standing corpus, fold the held-out batch (the q111 loop), then
    * tombstone-DELETE half the folded batch (vec_id ≡ 10 mod 20) and
    * emit the per-cell LIVE occupancy. The oracle re-derives the
    * counts from a from-scratch assignment of (corpus ∪ batch) minus
    * the deleted slice to the corpus-seeded centroids — every count
    * shifts if a delete is dropped or over-applied, so the gate pins
    * the tombstone-filtered view exactly (probe parity and the
    * compaction purge are pinned by SimilaritySpec).
    */
  private def q126(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q126")
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#db0")
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 20 === 10).select("vec_id"),
      path, delTag = s"$d#del0")
    Similarity.ivfCellStats(s, path)
  }

  /** DELETION from the maintained IVF-PQ index (the q126 contract for
    * the COMPRESSED tier): build on the corpus, fold the batch
    * (encoded against standing books/centroids), tombstone-delete half
    * the batch, and emit the ENTIRE live index content — (vec_id,
    * cell, all m codes) per surviving vector. The oracle re-derives
    * books, centroids, cell membership and every code from scratch
    * with corpus-only seeding over the remainder, so one hash gates
    * the full compressed-index state under maintenance.
    */
  private def q127(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfPqIndex(corpus, srcTag = s"$d#q127")
    Similarity.foldIntoIvfPqIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#pqd0")
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 20 === 10).select("vec_id"),
      path, delTag = s"$d#del0")
    Similarity.liveCells(s, path)
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"),
        col("codes").getItem(0).as("c0"), col("codes").getItem(1).as("c1"),
        col("codes").getItem(2).as("c2"), col("codes").getItem(3).as("c3"))
      .orderBy("vec_id")
  }

  /** q126's semantics through a REAL Structured Streaming query
    * ([[graft.streaming.AnnIngestStream.drainDeletes]]): the takedown
    * id set arrives as TWO micro-batches of a foreachBatch stream,
    * each appending tombstones under a delTag keyed on the stream's
    * real batchId. Tombstones are order-independent duplicate-safe
    * rows, so the live view is identical to the one-shot delete — the
    * SAME oracle as q126 gates stream ≡ batch for index deletion (the
    * q111/q112 symmetry, takedown side). Shares q126's layout: both
    * queries drive it to the same final state (the fold tag and the
    * deleted id set coincide; duplicate tombstones are harmless), so
    * either order, any interleave, and any replay converge.
    */
  private def q128(s: SparkSession, d: String): DataFrame = {
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Similarity.ensureIvfIndex(corpus, srcTag = s"$d#q126")
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#db0")
    val del = emb.filter(col("vec_id") % 20 === 10).select("vec_id")
    graft.streaming.AnnIngestStream.drainDeletes(
      Seq(del.filter(col("vec_id") % 40 === 10),
          del.filter(col("vec_id") % 40 =!= 10)),
      path, tagPrefix = s"$d#q128")
    Similarity.ivfCellStats(s, path)
  }

  /** Queries whose plans depend on BUCKET PRUNING of the search-index
    * tables (read only the query terms' buckets): Spark's
    * DisableUnnecessaryBucketedScan heuristic treats a lookup-shaped
    * scan — no join/agg consuming the bucket partitioning — as
    * "unnecessary" and discards the pruning, so these queries turn the
    * auto-disable OFF for their own planning + execution. Every other
    * query runs with Spark's default heuristic (the disable used to be
    * session-global in Bench/Verify, overriding AQE's default for the
    * relational queries too); q75/q100 need no override — their
    * join/agg consumes the partitioning, so the heuristic keeps the
    * bucketed scan on its own.
    */
  private val bucketPruningQueries: Set[String] = Set(
    "q90_lexical_and", "q91_ranked_tfidf", "q92_phrase_query",
    "q93_proximity", "q94_min_should_match", "q95_incr_index",
    "q96_bm25", "q97_hybrid_rrf", "q98_stream_index")

  // One CHILD session per caller session for the bucket-pruning
  // queries: same SparkContext + SharedState (catalog, tables,
  // warehouse), own SQLConf carrying the autoBucketedScan disable
  // PERMANENTLY. Frames built on it plan and execute under the right
  // conf no matter when or how concurrently the caller acts on them —
  // the former runtime mutation of the shared session's conf made
  // correctness rest on an undocumented build-then-execute-sequentially
  // contract. The caller's runtime graft settings are copied at
  // creation (Sessions.child); later changes to them do not reach it.
  // WEAK keys: a driver cycling through many short-lived sessions must
  // not have every stopped parent (and its child's SessionState) pinned
  // by this static map for the JVM lifetime — entries evict with the
  // parent session
  private val pruningSessions =
    new java.util.WeakHashMap[SparkSession, SparkSession]()
  private def bucketPruningSession(s: SparkSession): SparkSession =
    pruningSessions.synchronized {
      Option(pruningSessions.get(s)).getOrElse {
        val ns = Sessions.child(s,
          "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false")
        pruningSessions.put(s, ns)
        ns
      }
    }

  /** [[rawQueries]] with the bucket-pruning queries routed onto the
    * dedicated child session; every other query gets the caller's
    * session untouched — no shared conf is ever mutated.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) =>
        fn(if (bucketPruningQueries(name)) bucketPruningSession(s) else s, d)
      }
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "q01_pricing_summary" -> (q01 _),
    "q02_top_orders"      -> (q02 _),
    "q03_nation_revenue"  -> (q03 _),
    "q04_semi_suppliers"  -> (q04 _),
    "q05_anti_customers"  -> (q05 _),
    "q06_topk_orders"     -> (q06 _),
    "q07_distinct_status" -> (q07 _),
    "q08_union_flags"     -> (q08 _),
    "q09_rollup_status"   -> (q09 _),
    "q10_distinct_counts" -> (q10 _),
    "q11_window_running"  -> (q11 _),
    "q12_window_lag_events" -> (q12 _),
    "q13_event_type_stats"  -> (q13 _),
    "q14_page_orders"     -> (q14 _),
    "q15_bbox_parts"      -> (q15 _),
    "q16_names_slug"      -> (q16 _),
    "q17_doc_stats"       -> (q17 _),
    "q18_lang_id"         -> (q18 _),
    "q19_quality"         -> (q19 _),
    "q20_fingerprint_dedup" -> (q20 _),
    "q21_jaccard_pairs"   -> (q21 _),
    "q22_cosine_topk"     -> (q22 _),
    "q23_minhash_pairs"   -> (q23 _),
    "q24_simhash_pairs"   -> (q24 _),
    "q25_lsh_ann"         -> (q25 _),
    "q26_props_json"      -> (q26 _),
    "q27_month_orders"    -> (q27 _),
    "q28_status_pivot"    -> (q28 _),
    "q29_hot_parts"       -> (q29 _),
    "q30_cube_flags"      -> (q30 _),
    "q31_user_windows"    -> (q31 _),
    "q32_supplier_strings" -> (q32 _),
    "q33_ship_dates"      -> (q33 _),
    "q34_value_anomalies" -> (q34 _),
    "q35_argmax_events"   -> (q35 _),
    "q36_media_decode"    -> (q36 _),
    "q37_media_embed_ann" -> (q37 _),
    "q38_frame_sample"    -> (q38 _),
    "q39_intersect_custs" -> (q39 _),
    "q40_except_nations"  -> (q40 _),
    "q41_exists_orders"   -> (q41 _),
    "q42_scalar_subquery" -> (q42 _),
    "q43_hourly_events"   -> (q43 _),
    "q44_asof_clicks"     -> (q44 _),
    "q45_kmv_distinct"    -> (q45 _),
    "q46_grouping_sets"   -> (q46 _),
    "q47_cosine_neardup"  -> (q47 _),
    "q48_jaccard_rarewords" -> (q48 _),
    "q49_sessions"          -> (q49 _),
    "q50_asof_native"       -> (q50 _),
    "q51_ivf_ann"           -> (q51 _),
    "q52_salted_join"       -> (q52 _),
    "q53_range_join"        -> (q53 _),
    "q54_winnow_tokens"     -> (q54 _),
    "q55_winnow_pairs"      -> (q55 _),
    "q56_heavy_hitters"     -> (q56 _),
    "q57_hll_distinct"      -> (q57 _),
    "q58_audio_meta"        -> (q58 _),
    "q59_neardup_clusters"  -> (q59 _),
    "q60_contamination"     -> (q60 _),
    "q61_mask_pii"          -> (q61 _),
    "q62_repetition"        -> (q62 _),
    "q63_jaccard_prefix"    -> (q63 _),
    "q64_sessions_stream"   -> (q64 _),
    "q65_hash_split"        -> (q65 _),
    "q66_seq_pack"          -> (q66 _),
    "q67_quantize_int8"     -> (q67 _),
    "q68_ann_int8"          -> (q68 _),
    "q69_chunks"            -> (q69 _),
    "q70_snapshot_diff"     -> (q70 _),
    "q71_dedup_stream"      -> (q71 _),
    "q72_windows_stream"    -> (q72 _),
    "q73_binned_quantiles"  -> (q73 _),
    "q74_oov_rate"          -> (q74 _),
    "q75_bucketed_join"     -> (q75 _),
    "q76_temperature_mix"   -> (q76 _),
    "q77_chunk_dedup"       -> (q77 _),
    "q78_tfidf_keywords"    -> (q78 _),
    "q79_source_cap"        -> (q79 _),
    "q80_surprisal"         -> (q80 _),
    "q81_bloom_semi"        -> (q81 _),
    "q82_upsert_merge"      -> (q82 _),
    "q83_curriculum_shards" -> (q83 _),
    "q84_zorder_box"        -> (q84 _),
    "q85_stratified_exact"  -> (q85 _),
    "q86_incr_maintain"     -> (q86 _),
    "q87_incr_stream"       -> (q87 _),
    "q88_neg_samples"       -> (q88 _),
    "q89_bigram_surprisal"  -> (q89 _),
    "q90_lexical_and"       -> (q90 _),
    "q91_ranked_tfidf"      -> (q91 _),
    "q92_phrase_query"      -> (q92 _),
    "q93_proximity"         -> (q93 _),
    "q94_min_should_match"  -> (q94 _),
    "q95_incr_index"        -> (q95 _),
    "q96_bm25"              -> (q96 _),
    "q97_hybrid_rrf"        -> (q97 _),
    "q98_stream_index"      -> (q98 _),
    "q99_bpe_pairs"         -> (q99 _),
    "q100_pmi_colloc"       -> (q100 _),
    "q101_canonical_docs"   -> (q101 _),
    "q102_repetition_profile" -> (q102 _),
    "q103_budget_select"    -> (q103 _),
    "q104_normalize_text"   -> (q104 _),
    "q105_stream_join"      -> (q105 _),
    "q106_incr_neardup"     -> (q106 _),
    "q107_ivf_batch"        -> (q107 _),
    "q108_neardup_stream"   -> (q108 _),
    "q109_neardup_fold"     -> (q109 _),
    "q110_ann_stream"       -> (q110 _),
    "q111_ivf_fold"         -> (q111 _),
    "q112_ivf_ingest_stream" -> (q112 _),
    "q113_ivf_cell_stats"   -> (q113 _),
    "q114_ivf_advisor"      -> (q114 _),
    "q115_ivf_rebuild"      -> (q115 _),
    "q116_pq_codes"         -> (q116 _),
    "q117_pq_adc"           -> (q117 _),
    "q118_ivfpq"            -> (q118 _),
    "q119_ivfpq_rerank"     -> (q119 _),
    "q120_ivfpq_fold"       -> (q120 _),
    "q121_ivfpq_stream"     -> (q121 _),
    "q122_ivfpq_batch"      -> (q122 _),
    "q123_corpus_prep"      -> (q123 _),
    "q124_polygon_clip"     -> (q124 _),
    "q125_band_delete"      -> (q125 _),
    "q126_ivf_delete"       -> (q126 _),
    "q127_ivfpq_delete"     -> (q127 _),
    "q128_delete_stream"    -> (q128 _),
    "q129_video_meta"       -> (q129 _)
  )

  /** Pay-once layout ingest: bucketed join tables (q75), the z-ordered
    * copy (q84), the search index tables (q90–q95). These are "pay at
    * ingest, reuse every query" writes by contract, so Bench runs this
    * in WARMUP — a fresh warehouse must not inflate per-query medians
    * with one-time ingest cost. The queries still call the same
    * idempotent ensure* themselves (a no-op after this), so Verify and
    * standalone use stay self-contained.
    */
  def prepareLayouts(s: SparkSession, d: String): Unit = {
    ensureQ75Tables(s, d)
    ensureQ84Path(s, d)
    ensureSearchTables(s, d)
    ensureQ100Pairs(s, d)
    // IVF ANN layout (q51) + the corpus-stats sidecar the ANN planners
    // (q47's K, q51's C) read instead of running a per-query count()
    Similarity.ensureIvfIndex(t(s, d, "embeddings"), srcTag = d)
    // q106's corpus MinHash band index (incremental dedup ingestion)
    ensureQ106Index(s, d)
    // q109's own copy (the fold target — q106's stays pristine)
    ensureQ109Index(s, d)
    // q125's own copy (the fold+DELETE target)
    ensureQ125Index(s, d)
    // q126/q127's maintained layouts under deletion (folds and deletes
    // stay in-query: they ARE the measured operation)
    Similarity.ensureIvfIndex(
      t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0),
      srcTag = s"$d#q126")
    Similarity.ensureIvfPqIndex(
      t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0),
      srcTag = s"$d#q127")
    // the q111/q113/q114/q115 maintained-IVF corpus layout (the folds
    // themselves stay in-query: they ARE the measured operation)
    Similarity.ensureIvfIndex(
      t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0),
      srcTag = s"$d#q111")
    // IVF-PQ layouts: the one-shot serving index (q118/q119/q122) and
    // the maintained corpus copy (q120/q121)
    Similarity.ensureIvfPqIndex(t(s, d, "embeddings"), srcTag = s"$d#q118")
    Similarity.ensureIvfPqIndex(
      t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0),
      srcTag = s"$d#q120")
    Similarity.ensureIvfPqIndex(
      t(s, d, "embeddings").filter(col("vec_id") % 10 =!= 0),
      srcTag = s"$d#q121")
    ()
  }

  /** Scale-demo shapes for the probe/bench tooling ONLY (ShuffleProbe
    * accepts these names; they are NOT part of the driver gate): the
    * UNCAPPED incremental near-dup ingestion — the full batch (10% of
    * all documents, no doc_id cap) deduped against the full corpus
    * index — plus a tenth-batch variant against the SAME corpus index.
    * Together they measure the `Dedup.incrementalNearDupPairs` scale
    * claim: shuffle is bounded by the BATCH (shrinking the batch 10×
    * at constant corpus shrinks shuffle ~10×), and the corpus rows
    * never ride an exchange at all (shuffle records ≪ corpus band
    * rows).
    */
  def probeQueries: Map[String, (SparkSession, String) => DataFrame] = ListMap(
    "p01_incr_neardup_uncapped" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val (bt, st) = graft.operators.Dedup.ensureMinhashBandIndex(
        docs.filter(col("doc_id") % 10 =!= 0), tablePrefix = "graft_p01",
        srcTag = d)
      graft.operators.Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 10 === 0), bt, st)
    }),
    "p02_incr_neardup_tenthbatch" -> ((s: SparkSession, d: String) => {
      val docs = t(s, d, "documents")
      val (bt, st) = graft.operators.Dedup.ensureMinhashBandIndex(
        docs.filter(col("doc_id") % 10 =!= 0), tablePrefix = "graft_p01",
        srcTag = d)
      graft.operators.Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") % 100 === 0), bt, st)
    }),
    // the IVF-fold twins (q111's scale claim): the fold's distributed
    // work for the full 10% vector batch vs a tenth of it, against the
    // SAME standing corpus index — shuffle must track |batch| and the
    // corpus cells must never ride an exchange
    "p03_ivf_fold_uncapped" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val (path, _) = Similarity.ensureIvfIndex(
        emb.filter(col("vec_id") % 10 =!= 0), srcTag = s"$d#p03")
      Similarity.foldAssignment(emb.filter(col("vec_id") % 10 === 0), path)
    }),
    "p04_ivf_fold_tenthbatch" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val (path, _) = Similarity.ensureIvfIndex(
        emb.filter(col("vec_id") % 10 =!= 0), srcTag = s"$d#p03")
      Similarity.foldAssignment(emb.filter(col("vec_id") % 100 === 0), path)
    }),
    // the IVF-PQ fold's distributed half (q120/q121 run it inside a
    // write): standing-centroid assignment AND standing-book PQ
    // encoding fused into one map-only projection — zero exchanges
    "p05_ivfpq_fold_encode" -> ((s: SparkSession, d: String) => {
      val emb = t(s, d, "embeddings")
      val (path, _) = Similarity.ensureIvfPqIndex(
        emb.filter(col("vec_id") % 10 =!= 0), srcTag = s"$d#p05")
      Similarity.pqFoldEncoding(emb.filter(col("vec_id") % 10 === 0), path)
    }),
    // the ESCALATED connected-components path (ClustersSpec's 200-hop
    // chain, scaled to the fixture): every document chained to its
    // neighbor forms ONE corpus-sized path — the adversarial diameter
    // that pins phase-1 propagation at its 4-round bound and forces the
    // Kiveris star contraction on the label quotient. The shuffle row
    // proves the quotient's edge set SHRINKS per round instead of
    // re-shuffling the corpus-diameter graph O(diameter) times.
    "p07_cc_longchain" -> ((s: SparkSession, d: String) => {
      val n = t(s, d, "documents").count()
      val edges = t(s, d, "documents")
        .filter(col("doc_id") < n - 1)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      graft.operators.Clusters.connectedComponents(edges)
        .agg(count(lit(1)).as("n_nodes"),
          countDistinct(col("cluster")).as("n_clusters"))
    })
  )

  // ---------------------------------------------------------------------------
  // DuckDB oracle SQL (ANSI-ish; DuckDB dialect where they differ).
  // regexp_replace in DuckDB needs the 'g' flag (Spark's is global).
  // ---------------------------------------------------------------------------

  /** Mirrors `cents`: exact integer cents of a 2-decimal double. DuckDB's
    * double→DECIMAL cast rounds half-up like Spark's; ×100 of the scale-2
    * decimal is integral so the BIGINT cast is exact. DuckDB widens
    * BIGINT sums to HUGEINT → every SUM below is re-cast to BIGINT.
    */
  private def centsSql(c: String): String =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Mirrors `discPriceE4`: price·(1−disc) in 1e-4 units (pure BIGINT). */
  private val discPriceE4Sql =
    s"${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})"

  /** Mirrors `chargeE6`: price·(1−disc)·(1+tax) in 1e-6 units. */
  private val chargeE6Sql =
    s"$discPriceE4Sql * (100 + ${centsSql("l_tax")})"

  private def hitsSql(words: Seq[String]): String =
    s"CAST(len(regexp_extract_all(lower(text), '\\b(${words.mkString("|")})\\b')) AS BIGINT)"

  private val tokensSql =
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)"

  private val punctSql =
    "CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS BIGINT)"

  private val fingerprintSql =
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  // ---- fixed-point vector mirror (q25/q47): quantize → integer dot ----

  /** Mirrors VectorFunctions.quantize(embedding, 1000). */
  private val qvecSql =
    "list_transform(embedding, f -> CAST(round(CAST(f AS DOUBLE)*1000) AS BIGINT))"

  /** Mirrors VectorFunctions.qdot (DuckDB list_sum widens → re-cast). */
  private def qdotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(list_zip($a, $b), x -> x[1]*x[2])) AS BIGINT)"

  /** Mirrors Similarity.quantizeInt8: CTEs `m` (per-vector maxabs) and
    * `qv` (vec_id, qvec) — shared by q67/q68.
    */
  private val int8QvecCtes =
    """m AS (SELECT vec_id, embedding,
      |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |   FROM embeddings),
      | qv AS (SELECT vec_id,
      |   CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |        ELSE list_transform(embedding,
      |          x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs + 0.5) AS BIGINT)) END AS qvec
      |   FROM m)""".stripMargin.replaceAll("\n", " ")

  /** Mirrors VectorFunctions.hyperplaneBucketQ with the plane constants
    * inlined as literals (same Seq the Spark side uses).
    */
  private def bucketSql(q: String, planes: Seq[Seq[Long]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("list_value(", ",", ")")
      s"(CASE WHEN ${qdotSql(q, lit)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** [[bucketSql]] masked to the first `kCol` planes — the SQL side of
    * q47's occupancy-adaptive bucket width. The plane list is a
    * prefix-stable superset (16 planes from the same seeded stream the
    * Spark side reads), so masking to K reproduces the Spark buckets
    * exactly for any K ≤ 16.
    */
  private def bucketSqlAdaptive(q: String, planes: Seq[Seq[Long]], kCol: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("list_value(", ",", ")")
      s"(CASE WHEN $i < $kCol AND ${qdotSql(q, lit)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private val slugSqlBody = {
    val translated = "lower(translate(source, 'åäöÅÄÖ', 'aaoAAO'))"
    val repl       = s"regexp_replace($translated, '[^\\w\\-]+', '_', 'g')"
    val collapsed  = s"regexp_replace($repl, '__+', '_', 'g')"
    val stripped   = s"regexp_replace($collapsed, '^_+|_+$$', '', 'g')"
    s"CASE WHEN length($stripped) = 0 THEN 'unnamed' ELSE $stripped END"
  }

  private val arcgisSqlBody = {
    val s         = slugSqlBody
    val hyph      = s"regexp_replace($s, '-', '_', 'g')"
    val ascii     = s"regexp_replace($hyph, '[^A-Za-z0-9_]', '_', 'g')"
    val collapsed = s"regexp_replace(regexp_replace($ascii, '__+', '_', 'g'), '^_+|_+$$', '', 'g')"
    val guarded   = s"CASE WHEN regexp_matches($collapsed, '^[0-9]') THEN '_' || $collapsed ELSE $collapsed END"
    val nonEmpty  = s"CASE WHEN length($guarded) = 0 THEN 'unnamed' ELSE $guarded END"
    s"substring($nonEmpty, 1, 128)"
  }

  private val fcNameSqlBody = {
    val auth = "'docs'"
    val prefixed =
      s"CASE WHEN starts_with(lower($arcgisSqlBody), $auth || '_') THEN $arcgisSqlBody " +
        s"ELSE $auth || '_' || $arcgisSqlBody END"
    s"regexp_replace(substring($prefixed, 1, 128), '_+$$', '', 'g')"
  }

  private val sdeSqlBody = {
    val dashed    = "regexp_replace(source, '[-\\s\\.]+', '_', 'g')"
    val swedish   = s"translate($dashed, 'åäö', 'aao')"
    val word      = s"regexp_replace($swedish, '[^\\w]', '_', 'g')"
    val collapsed = s"regexp_replace(regexp_replace($word, '_{2,}', '_', 'g'), '^_+|_+$$', '', 'g')"
    val guarded   = s"CASE WHEN regexp_matches($collapsed, '^[0-9]') THEN 'fc_' || $collapsed ELSE $collapsed END"
    s"CASE WHEN length($guarded) = 0 THEN 'unnamed_fc' ELSE $guarded END"
  }

  private val langIdSql = {
    val cases =
      s"""CASE WHEN greatest(en, de, fr, es, sv) = 0 THEN 'und'
         | WHEN en >= de AND en >= fr AND en >= es AND en >= sv THEN 'en'
         | WHEN de >= fr AND de >= es AND de >= sv THEN 'de'
         | WHEN fr >= es AND fr >= sv THEN 'fr'
         | WHEN es >= sv THEN 'es'
         | ELSE 'sv' END""".stripMargin.replaceAll("\n", " ")
    s"""SELECT doc_id, $cases AS lang_guess FROM (
       | SELECT doc_id,
       |  ${hitsSql(TextFunctions.StopwordsEn)} AS en,
       |  ${hitsSql(TextFunctions.StopwordsDe)} AS de,
       |  ${hitsSql(TextFunctions.StopwordsFr)} AS fr,
       |  ${hitsSql(TextFunctions.StopwordsEs)} AS es,
       |  ${hitsSql(TextFunctions.StopwordsSv)} AS sv
       | FROM documents) ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
  }

  private val qualitySql =
    s"""SELECT doc_id, CAST(greatest(0, 100 - len_pen - punct_pen - stop_bonus) AS BIGINT) AS quality
       |FROM (SELECT doc_id,
       |  CASE WHEN toks < 5 THEN 40 WHEN toks < 20 THEN 10 ELSE 0 END AS len_pen,
       |  CASE WHEN punct_pct > 20 THEN 30 WHEN punct_pct > 10 THEN 10 ELSE 0 END AS punct_pen,
       |  CASE WHEN stop_pct > 0 THEN 0 ELSE 20 END AS stop_bonus
       | FROM (SELECT doc_id, toks,
       |   CASE WHEN chars = 0 THEN 100 ELSE CAST(floor(100.0 * punct / chars) AS BIGINT) END AS punct_pct,
       |   CASE WHEN toks = 0 THEN 0 ELSE CAST(floor(100.0 * stops / toks) AS BIGINT) END AS stop_pct
       |  FROM (SELECT doc_id, $tokensSql AS toks, CAST(length(text) AS BIGINT) AS chars,
       |        $punctSql AS punct, ${hitsSql(TextFunctions.StopwordsEn)} AS stops
       |        FROM documents)))
       |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")

  /** CTE list (no WITH keyword) mirroring
    * [[Dedup.minhashNearDupPairsPortable]] at its q23 call site; ends in
    * `mhp(doc_a, doc_b, n_match)` — the thresholded near-dup pair set.
    * Shared by the q23 oracle (pairs themselves) and the q59 oracle
    * (recursive connected components over the pairs).
    */
  // the banded-MinHash near-dup pair chain over an arbitrary (doc_id,
  // text) source — `src` is interpolated into the FROM clause, so the
  // one-shot queries pass the capped raw table and the q123 flagship
  // passes its exact-dedup-survivor CTE
  private def minhashPairsCtesOver(src: String): String = {
    val ab = PortableHash.affineConstants(7L, 64)
    val minCols = ab.zipWithIndex
      .map { case (c, i) => s"MIN(${PortableHash.affineSql("h", c)}) AS m$i" }
      .mkString(", ")
    val sigList = (0 until 64).map(i => s"m$i").mkString("list_value(", ",", ")")
    val tokSplit = """regexp_split_to_array(trim(lower(text)), '\s+')"""
    s"""toks AS (SELECT doc_id, $tokSplit AS tk FROM $src),
       | sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(0, greatest(len(tk)-2, 0)),
       |   i -> array_to_string(tk[i+1:i+3], ' ')))) AS shingle FROM toks),
       | hb AS (SELECT doc_id, ${PortableHash.md5Hex32Sql("shingle")} AS h FROM sh),
       | sig0 AS (SELECT doc_id, $minCols FROM hb GROUP BY doc_id),
       | sigl AS (SELECT doc_id, $sigList AS sig FROM sig0),
       | banded0 AS (SELECT doc_id, sig, b AS band, array_to_string(sig[b*4+1:b*4+4], ',') AS band_key
       |   FROM sigl CROSS JOIN (SELECT unnest(range(0,16)) AS b)),
       | banded AS (SELECT doc_id, sig, band, band_key FROM
       |   (SELECT *, COUNT(*) OVER (PARTITION BY band, band_key) AS bn FROM banded0) WHERE bn <= 100),
       | cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sig AS sa, r.sig AS sb
       |   FROM banded l JOIN banded r ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
       | m AS (SELECT doc_a, doc_b,
       |   CAST(len(list_filter(list_transform(list_zip(sa, sb), x -> x[1] = x[2]), v -> v)) AS BIGINT) AS n_match
       |   FROM cand),
       | mhp AS (SELECT doc_a, doc_b, n_match FROM m WHERE 100*n_match >= 50*64)"""
      .stripMargin.replaceAll("\n", " ")
  }

  private lazy val minhashPairsCtesSql: String =
    minhashPairsCtesOver("documents WHERE doc_id < 10000")

  def oracleSql: Map[String, String] = ListMap(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty,
         | CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_price,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS sum_disc_price,
         | CAST(SUM($chargeE6Sql) AS BIGINT) AS sum_charge,
         | COUNT(*) AS count_order
         |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
        .stripMargin.replaceAll("\n", " "),
    "q02_top_orders" ->
      s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue
         |FROM customer JOIN orders ON c_custkey = o_custkey
         | JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         | AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         | AND CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
         |GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin.replaceAll("\n", " "),
    "q03_nation_revenue" ->
      s"""SELECT n_name, CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'EUROPE'
         | AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
         | AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin.replaceAll("\n", " "),
    "q04_semi_suppliers" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
        |                    WHERE CAST(l_shipdate AS DATE) >= DATE '2001-01-01')
        |ORDER BY s_suppkey""".stripMargin.replaceAll("\n", " "),
    "q05_anti_customers" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q06_topk_orders" ->
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS total
         |FROM orders ORDER BY total DESC, o_orderkey LIMIT 15""".stripMargin.replaceAll("\n", " "),
    "q07_distinct_status" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin.replaceAll("\n", " "),
    "q08_union_flags" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM (SELECT * FROM lineitem WHERE l_returnflag = 'R'
         |      UNION ALL SELECT * FROM lineitem WHERE l_returnflag = 'A')
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replaceAll("\n", " "),
    "q09_rollup_status" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         | CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total
         |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin.replaceAll("\n", " "),
    "q10_distinct_counts" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),
    "q11_window_running" ->
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
         | CAST(row_number() OVER w AS BIGINT) AS rn,
         | CAST(SUM(${centsSql("l_quantity")}) OVER
         |   (PARTITION BY l_suppkey ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber,
         |    ${centsSql("l_quantity")}
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
         |FROM lineitem WHERE l_suppkey < 5
         |WINDOW w AS (PARTITION BY l_suppkey ORDER BY CAST(l_shipdate AS DATE), l_orderkey, l_linenumber,
         |   ${centsSql("l_quantity")})
         |ORDER BY l_suppkey, rn""".stripMargin.replaceAll("\n", " "),
    "q12_window_lag_events" ->
      s"""SELECT event_id, user_id, ${centsSql("value")} AS v,
         | lag(${centsSql("value")}, 1) OVER
         |   (PARTITION BY user_id ORDER BY event_id) AS prev_v,
         | ${centsSql("value")} - lag(${centsSql("value")}, 1) OVER
         |   (PARTITION BY user_id ORDER BY event_id) AS delta
         |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " "),
    "q13_event_type_stats" ->
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS total_value,
         | CAST(MIN(${centsSql("value")}) AS BIGINT) AS min_value,
         | CAST(MAX(${centsSql("value")}) AS BIGINT) AS max_value,
         | COUNT(DISTINCT user_id) AS n_users
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replaceAll("\n", " "),
    "q14_page_orders" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
        |FROM orders ORDER BY o_date, o_orderkey LIMIT 20 OFFSET 40"""
        .stripMargin.replaceAll("\n", " "),
    "q15_bbox_parts" ->
      s"""SELECT p_partkey, p_size AS x, ${centsSql("p_retailprice")} AS y
         |FROM part WHERE p_size BETWEEN 10 AND 40
         | AND CAST(p_retailprice AS DECIMAL(18,2)) BETWEEN 500 AND 1500
         |ORDER BY p_partkey""".stripMargin.replaceAll("\n", " "),
    "q16_names_slug" ->
      s"""SELECT source, $slugSqlBody AS slug, $fcNameSqlBody AS fc_name, $sdeSqlBody AS sde_name
         |FROM (SELECT DISTINCT source FROM documents) ORDER BY source"""
        .stripMargin.replaceAll("\n", " "),
    "q17_doc_stats" ->
      s"""SELECT doc_id, $tokensSql AS n_tokens, $punctSql AS n_punct,
         | ${hitsSql(TextFunctions.StopwordsEn)} AS n_stop,
         | CAST(length(text) AS BIGINT) AS n_chars_m
         |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q18_lang_id" -> langIdSql,
    "q19_quality" -> qualitySql,
    "q20_fingerprint_dedup" ->
      s"""SELECT $fingerprintSql AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         |FROM documents GROUP BY fp ORDER BY fp""".stripMargin.replaceAll("\n", " "),
    "q21_jaccard_pairs" ->
      """WITH w AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS word
        |           FROM documents WHERE doc_id < 2000),
        |     sizes AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |               FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common, sa.nw AS n_a, sb.nw AS n_b
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_common >= 80 * (sa.nw + sb.nw - n_common)
        |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " "),
    "q22_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(list_zip(embedding, qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(qe, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) AS cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),
    "q23_minhash_pairs" ->
      s"""WITH $minhashPairsCtesSql
         |SELECT doc_a, doc_b, n_match, CAST(64 AS BIGINT) AS sig_len FROM mhp
         |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " "),
    "q24_simhash_pairs" -> {
      val votes = (0 until 60).map(j => s"SUM(((h>>$j)&1)*2-1) AS v$j").mkString(", ")
      val sigSum = (0 until 60)
        .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
      val wordSplit = """regexp_split_to_array(lower(trim(text)), '\s+')"""
      s"""WITH w AS (SELECT doc_id, unnest(list_distinct($wordSplit)) AS word
         |   FROM documents WHERE doc_id < 10000),
         | hs AS (SELECT doc_id, ${PortableHash.md5Hex60Sql("word")} AS h FROM w),
         | v AS (SELECT doc_id, $votes FROM hs GROUP BY doc_id),
         | sigs AS (SELECT doc_id, ($sigSum) AS sig FROM v),
         | banded0 AS (SELECT doc_id, sig, b AS band, ((sig >> (b*15)) & 32767) AS band_val
         |   FROM sigs CROSS JOIN (SELECT unnest(range(0,4)) AS b)),
         | banded AS (SELECT doc_id, sig, band, band_val FROM
         |   (SELECT *, COUNT(*) OVER (PARTITION BY band, band_val) AS bn FROM banded0) WHERE bn <= 100),
         | pairs AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.sig AS sa, r.sig AS sb
         |   FROM banded l JOIN banded r ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM pairs WHERE bit_count(xor(sa, sb)) <= 16 ORDER BY doc_a, doc_b"""
        .stripMargin.replaceAll("\n", " ")
    },
    "q25_lsh_ann" -> {
      val planes = VectorFunctions.quantPlanes(42L, 64, 4)
      val probeList = "list_value(qb, xor(qb,1), xor(qb,2), xor(qb,4), xor(qb,8))"
      s"""WITH b AS (SELECT vec_id, q, ${bucketSql("q", planes)} AS bucket,
         |   ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | qq AS (SELECT q AS qvec, bucket AS qb, nrm AS qn FROM b WHERE vec_id = 0),
         | probes AS (SELECT DISTINCT unnest($probeList) AS bucket FROM qq),
         | cand AS (SELECT b.vec_id, ${qdotSql("b.q", "qq.qvec")} AS dot, b.nrm, qq.qn
         |          FROM b JOIN probes USING (bucket) CROSS JOIN qq WHERE b.vec_id <> 0)
         |SELECT vec_id, dot FROM cand
         |ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(nrm AS DOUBLE)*CAST(qn AS DOUBLE)) DESC, vec_id
         |LIMIT 10""".stripMargin.replaceAll("\n", " ")
    },
    "q26_props_json" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS total_value
         |FROM events GROUP BY k ORDER BY k""".stripMargin.replaceAll("\n", " "),
    "q27_month_orders" ->
      s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month, COUNT(*) AS n,
         | CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS total
         |FROM orders GROUP BY month ORDER BY month""".stripMargin.replaceAll("\n", " "),
    "q28_status_pivot" ->
      s"""SELECT o_orderpriority,
         | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN ${centsSql("o_totalprice")}
         |               ELSE 0 END) AS BIGINT) AS f_total
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),
    "q29_hot_parts" ->
      s"""SELECT l_partkey, COUNT(*) AS n_lines,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM lineitem GROUP BY l_partkey HAVING COUNT(*) >= 38 ORDER BY l_partkey"""
        .stripMargin.replaceAll("\n", " "),
    "q30_cube_flags" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replaceAll("\n", " "),
    "q31_user_windows" ->
      s"""SELECT event_id, user_id,
         | first_value(${centsSql("value")}) OVER
         |   (PARTITION BY user_id ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_v,
         | last_value(${centsSql("value")}) OVER
         |   (PARTITION BY user_id ORDER BY event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v,
         | CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS quartile
         |FROM events ORDER BY event_id""".stripMargin.replaceAll("\n", " "),
    "q32_supplier_strings" ->
      """SELECT s_suppkey, upper(s_name) AS uname, substring(s_name, 1, 8) AS prefix,
        | CAST(length(s_name) AS BIGINT) AS name_len,
        | regexp_extract(s_name, '(\d+)', 1) AS digits,
        | concat_ws('-', s_name, s_nationkey) AS tagged,
        | reverse(s_name) AS rev
        |FROM supplier ORDER BY s_suppkey""".stripMargin.replaceAll("\n", " "),
    "q33_ship_dates" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(year(l_shipdate) AS BIGINT) AS ship_y,
        | CAST(month(l_shipdate) AS BIGINT) AS ship_m,
        | CAST(day(l_shipdate) AS BIGINT) AS ship_d,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS days_to_ship
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_orderkey < 500
        |ORDER BY l_orderkey, l_linenumber, ship_y, ship_m, ship_d, days_to_ship"""
        .stripMargin.replaceAll("\n", " "),
    "q34_value_anomalies" ->
      """WITH s AS (SELECT event_type, event_id,
        |             CAST(round(value*100) AS HUGEINT) AS c FROM events),
        |     g AS (SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(c) AS s1, SUM(c*c) AS q FROM s GROUP BY event_type)
        |SELECT s.event_type, s.event_id, CAST(s.c AS BIGINT) AS v
        |FROM s JOIN g USING (event_type)
        |WHERE (n*c - s1)*(n*c - s1) > 4*(n*q - s1*s1)
        |ORDER BY s.event_type, s.event_id""".stripMargin.replaceAll("\n", " "),
    "q35_argmax_events" ->
      s"""SELECT event_type,
         | arg_max(event_id, CAST(round(value*100) AS BIGINT)*10000000 + event_id) AS max_event,
         | arg_min(event_id, CAST(round(value*100) AS BIGINT)*10000000 + event_id) AS min_event,
         | CAST(MAX(${centsSql("value")}) AS BIGINT) AS max_value
         |FROM events GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),
    "q36_media_decode" -> {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      def hexInt(pos: Int) = s"('0x'||substr(hx,$pos,8))::UBIGINT::BIGINT"
      def chanSum(rem: Int) =
        "CAST(list_sum(list_transform(list_filter(range(16, len), " +
          s"i -> i%3=$rem), i -> ('0x'||substr(hx,2*i+1,2))::UBIGINT::BIGINT)) AS BIGINT)"
      def meanE6(s0: String) =
        s"CAST(FLOOR((CAST($s0 AS DOUBLE)/np)*1000000.0) AS BIGINT)"
      s"""WITH m AS (SELECT media_id, hex(data) AS hx, octet_length(data) AS len
         |   FROM $media WHERE kind = 'image' AND media_id < 200),
         | hdr AS (SELECT media_id, hx, len,
         |   GREATEST(1, ${hexInt(1)} % 4096) AS width,
         |   GREATEST(1, ${hexInt(9)} % 4096) AS height,
         |   GREATEST(1, ${hexInt(17)} % 4 + 1) AS channels,
         |   GREATEST(1, (len-16)//3) AS np FROM m),
         | sums AS (SELECT media_id, width, height, channels, np,
         |   ${chanSum(0)} AS rs, ${chanSum(1)} AS gs, ${chanSum(2)} AS bs FROM hdr)
         |SELECT media_id, CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
         | CAST(channels AS BIGINT) AS channels,
         | ${meanE6("rs")} AS mean_r_e6, ${meanE6("gs")} AS mean_g_e6, ${meanE6("bs")} AS mean_b_e6
         |FROM sums ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    },
    "q37_media_embed_ann" -> {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      val ab = PortableHash.affineConstants(7L, 64)
      val al = ab.map(_._1).mkString("[", ",", "]")
      val bl = ab.map(_._2).mkString("[", ",", "]")
      s"""WITH consts AS (SELECT $al::BIGINT[] AS al, $bl::BIGINT[] AS bl),
         | m AS (SELECT media_id AS vec_id,
         |   ('0x'||substr(md5(lower(hex(data))),1,8))::UBIGINT::BIGINT AS h
         |   FROM $media WHERE kind = 'image'),
         | e AS (SELECT vec_id, list_transform(range(0,64),
         |   j -> ((h * al[j+1] + bl[j+1]) & ${PortableHash.Mask40}) % 2001 - 1000) AS q
         |   FROM m, consts),
         | n AS (SELECT vec_id, q,
         |   CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS nrm FROM e),
         | qv AS (SELECT q AS qvec, nrm AS qn FROM n WHERE vec_id = 0),
         | scored AS (SELECT vec_id,
         |   CAST(list_sum(list_transform(range(1,65), i -> q[i]*qvec[i])) AS BIGINT) AS dot,
         |   nrm, qn FROM n, qv WHERE vec_id <> 0)
         |SELECT vec_id, dot FROM scored
         |ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(nrm AS DOUBLE)*CAST(qn AS DOUBLE)) DESC, vec_id
         |LIMIT 10""".stripMargin.replaceAll("\n", " ")
    },
    "q38_frame_sample" -> {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      s"""SELECT media_id,
         | CAST((CAST(CEIL((octet_length(data)-16)/64.0) AS BIGINT) + 1)//2 AS BIGINT) AS n_frames
         |FROM $media WHERE kind = 'video' ORDER BY media_id"""
        .stripMargin.replaceAll("\n", " ")
    },
    "q58_audio_meta" -> {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      val byteAt = "('0x'||substr(hx,2*i+1,2))::UBIGINT::BIGINT"
      s"""WITH m AS (SELECT media_id, hex(data) AS hx, octet_length(data) AS len
         |   FROM $media WHERE kind = 'audio'),
         | hdr AS (SELECT media_id, hx, len,
         |   ([8000,16000,22050,44100])[((('0x'||substr(hx,1,8))::UBIGINT::BIGINT % 4) + 1)] AS sr,
         |   GREATEST(1, len-16) AS np FROM m),
         | acc AS (SELECT media_id, sr, len, np,
         |   CAST(list_sum(list_transform(range(16, len),
         |     i -> ($byteAt - 128) * ($byteAt - 128))) AS BIGINT) AS ss FROM hdr)
         |SELECT media_id, CAST(sr AS BIGINT) AS sample_rate,
         | CAST(GREATEST(1, (len-16)*1000 // sr) AS BIGINT) AS duration_ms,
         | CAST(FLOOR(sqrt(CAST(ss AS DOUBLE)/CAST(np AS DOUBLE))*1000000.0) AS BIGINT) AS rms_e6
         |FROM acc ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    },
    "q39_intersect_custs" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q40_except_nations" ->
      """SELECT n_nationkey AS k FROM nation
        |EXCEPT SELECT CAST(s_nationkey AS INTEGER) AS k FROM supplier
        |       WHERE CAST(s_acctbal AS DECIMAL(18,2)) > 8000
        |ORDER BY k""".stripMargin.replaceAll("\n", " "),
    "q41_exists_orders" ->
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey""".stripMargin.replaceAll("\n", " "),
    "q42_scalar_subquery" ->
      s"""SELECT o_orderkey, ${centsSql("o_totalprice")} AS total
         |FROM orders
         |WHERE ${centsSql("o_totalprice")} * 10 >=
         |  (SELECT MAX(${centsSql("o_totalprice")}) FROM orders) * 9
         |ORDER BY o_orderkey""".stripMargin.replaceAll("\n", " "),
    "q43_hourly_events" ->
      s"""SELECT CAST(hour(ts) AS BIGINT) AS hr, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS total_value
         |FROM events GROUP BY hr ORDER BY hr""".stripMargin.replaceAll("\n", " "),
    "q44_asof_clicks" ->
      """SELECT p.event_id, p.user_id, c.event_id AS last_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin.replaceAll("\n", " "),
    "q45_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT l_returnflag,
         |   ${PortableHash.md5Hex60Sql("CAST(l_partkey AS VARCHAR)")} AS hv FROM lineitem),
         | r AS (SELECT l_returnflag, hv,
         |   row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
         |   COUNT(*) OVER (PARTITION BY l_returnflag) AS n FROM h),
         | kmv AS (SELECT l_returnflag,
         |   CAST(CASE WHEN MAX(n) < 512 THEN MAX(n)
         |     ELSE FLOOR(511.0 / (CAST(MIN(CASE WHEN rn = 512 THEN hv END) AS DOUBLE)
         |       / 1152921504606846976.0)) END AS BIGINT) AS kmv_parts
         |   FROM r GROUP BY l_returnflag),
         | ex AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
         |        FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, kmv_parts, exact_parts
         |FROM kmv JOIN ex USING (l_returnflag) ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),
    "q46_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty
         |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin.replaceAll("\n", " "),
    "q47_cosine_neardup" -> {
      val planes     = VectorFunctions.quantPlanes(42L, 64, 16)
      val (num, den) = Similarity.cosThresholdFraction(400)
      // kb mirrors Similarity.nBitsForOccupancy(count, 32) in exact
      // integer arithmetic: M = ceil(c/32); K = clamp(bitLength(M-1), 1, 16)
      s"""WITH kb AS (SELECT CASE WHEN ((COUNT(*) + 31) // 32) <= 1 THEN 1
         |   ELSE LEAST(16, length(bin(((COUNT(*) + 31) // 32) - 1))) END AS k
         |   FROM embeddings),
         | b AS (SELECT vec_id, q, ${bucketSqlAdaptive("q", planes, "k")} AS bucket,
         |   ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings), kb),
         | pairs AS (SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
         |   ${qdotSql("l.q", "r.q")} AS dot, l.nrm AS na, r.nrm AS nb
         |   FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT vec_a, vec_b, dot FROM pairs
         |WHERE dot > 0 AND dot*dot*$den >= $num*na*nb
         |ORDER BY vec_a, vec_b""".stripMargin.replaceAll("\n", " ")
    },
    "q48_jaccard_rarewords" ->
      """WITH w AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS word
        |           FROM documents),
        |     rare AS (SELECT word FROM w GROUP BY word HAVING COUNT(*) <= 100),
        |     f AS (SELECT w.doc_id, w.word FROM w JOIN rare USING (word)),
        |     sizes AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |               FROM f a JOIN f b ON a.word = b.word AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common, sa.nw AS n_a, sb.nw AS n_b
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_common >= 5 * (sa.nw + sb.nw - n_common)
        |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " "),
    "q49_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn FROM events),
        | s AS (SELECT user_id, event_id, tn,
        |   CASE WHEN LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) IS NULL
        |     OR tn - LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) > 1800000000
        |     THEN 1 ELSE 0 END AS is_new FROM e),
        | x AS (SELECT user_id, tn,
        |   SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |   FROM s)
        |SELECT user_id, CAST(sid AS BIGINT) AS session_id, COUNT(*) AS n_events,
        | MIN(tn) AS session_start, MAX(tn) AS session_end, MAX(tn)-MIN(tn) AS duration_us
        |FROM x GROUP BY user_id, sid ORDER BY user_id, session_id"""
      .stripMargin.replaceAll("\n", " "),
    "q50_asof_native" ->
      """SELECT p.event_id, p.user_id, c.event_id AS last_click
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin.replaceAll("\n", " "),
    "q51_ivf_ann" -> q51OracleSql,
    "q52_salted_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         | CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS revenue_cents
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority"""
      .stripMargin.replaceAll("\n", " "),
    "q53_range_join" ->
      """WITH iv AS (SELECT CAST(n_nationkey AS BIGINT) AS window_id,
        |   CAST(n_nationkey + 19723 AS BIGINT) AS lo,
        |   CAST(n_nationkey + 19725 AS BIGINT) AS hi FROM nation),
        | e AS (SELECT event_id, epoch_us(ts) // 86400000000 AS day FROM events)
        |SELECT window_id, COUNT(*) AS n_events
        |FROM e JOIN iv ON e.day BETWEEN iv.lo AND iv.hi
        |GROUP BY window_id ORDER BY window_id"""
      .stripMargin.replaceAll("\n", " "),
    "q54_winnow_tokens" -> {
      val pows = TextFunctions.hashPowers(8)
      val hashTerm = pows.zipWithIndex
        .map { case (p, j) => s"CAST(codes[i+$j] AS BIGINT)*$p" }.mkString(" + ")
      val bpe = TextFunctions.BpePattern.replace("'", "''")
      s"""WITH c AS (SELECT doc_id, text,
         |   list_transform(range(1, length(text)+1), i -> ascii(substr(text,i,1)) % 256) AS codes
         |   FROM documents WHERE length(text) >= 8),
         | h AS (SELECT doc_id, text,
         |   list_transform(range(1, length(text)-6), i -> $hashTerm) AS hashes FROM c),
         | w AS (SELECT doc_id, text, hashes,
         |   list_distinct(list_transform(range(1, len(hashes)-2), i -> list_min(hashes[i:i+3]))) AS fps
         |   FROM h)
         |SELECT doc_id,
         |  CAST(length(regexp_extract_all(text, '$bpe')) AS BIGINT) AS bpe_tokens,
         |  CAST(len(fps) AS BIGINT) AS n_fp,
         |  CAST(list_min(hashes) AS BIGINT) AS min_fp
         |FROM w ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    "q55_winnow_pairs" -> {
      val pows = TextFunctions.hashPowers(8)
      val hashTerm = pows.zipWithIndex
        .map { case (p, j) => s"CAST(codes[i+$j] AS BIGINT)*$p" }.mkString(" + ")
      s"""WITH c AS (SELECT doc_id,
         |   list_transform(range(1, length(text)+1), i -> ascii(substr(text,i,1)) % 256) AS codes
         |   FROM documents WHERE length(text) >= 8),
         | h AS (SELECT doc_id,
         |   list_transform(range(1, len(codes)-6), i -> $hashTerm) AS hashes FROM c),
         | w AS (SELECT doc_id, unnest(list_distinct(
         |   list_transform(range(1, len(hashes)-2), i -> list_min(hashes[i:i+3])))) AS fp FROM h),
         | df AS (SELECT fp FROM w GROUP BY fp HAVING COUNT(*) <= 20),
         | p AS (SELECT w.doc_id, w.fp FROM w JOIN df USING (fp))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 3
         |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " ")
    },
    "q56_heavy_hitters" ->
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |   FROM documents)
        |SELECT word, COUNT(*) AS n FROM w WHERE length(word) > 0
        |GROUP BY word HAVING COUNT(*) >= 900 ORDER BY word"""
      .stripMargin.replaceAll("\n", " "),
    "q57_hll_distinct" -> {
      val est = graft.plans.HllDistinct.oracleSql(
        PortableHash.md5Hex60Sql("CAST(l_partkey AS VARCHAR)"),
        "FROM lineitem", Seq("l_returnflag"))
      s"""WITH est AS ($est),
         | ex AS (SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts
         |        FROM lineitem GROUP BY 1)
         |SELECT est.l_returnflag, est.hll_est AS hll_parts, ex.exact_parts
         |FROM est JOIN ex USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin.replaceAll("\n", " ")
    },
    // min-label fixpoint = minimum reachable node over the symmetrized
    // edge set; the recursive CTE's UNION dedup guarantees termination
    "q59_neardup_clusters" ->
      s"""WITH RECURSIVE $minhashPairsCtesSql,
         | edges AS (SELECT doc_a AS a, doc_b AS b FROM mhp
         |           UNION SELECT doc_b, doc_a FROM mhp),
         | reach(id, lbl) AS (
         |   SELECT a, a FROM edges
         |   UNION
         |   SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)
         |SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id ORDER BY id"""
        .stripMargin.replaceAll("\n", " "),
    "q60_contamination" -> {
      // word 4-grams, distinct per doc — mirrors TextFunctions.shingles
      // (split(trim(lower(text)), '\s+'), space-joined windows of 4)
      val tokSplit = """regexp_split_to_array(trim(lower(text)), '\s+')"""
      val grams =
        "list_distinct(list_transform(range(0, greatest(len(tk)-3, 0)), i -> array_to_string(tk[i+1:i+4], ' ')))"
      s"""WITH toks AS (SELECT doc_id, $tokSplit AS tk FROM documents),
         | sh AS (SELECT doc_id, CAST(len($grams) AS BIGINT) AS n_shingles,
         |   unnest($grams) AS shingle FROM toks WHERE len(tk) >= 4),
         | bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
         | train AS (SELECT * FROM sh WHERE doc_id % 10 <> 0)
         |SELECT doc_id, n_shingles, COUNT(*) AS n_overlap,
         | (100*COUNT(*)) // n_shingles AS overlap_pct
         |FROM train SEMI JOIN bench USING (shingle)
         |GROUP BY doc_id, n_shingles ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // the masking chain interpolates the EXACT pattern constants the
    // Spark side compiles (TextFunctions.Pii*Pattern) — same strings,
    // both regex engines, email → URL → number order preserved
    "q61_mask_pii" -> {
      val pii = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.org or https://example.org/d/' || CAST(doc_id AS VARCHAR) || " +
        "'?ref=42 phone +1 (555) 010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0')"
      val masked = s"regexp_replace(regexp_replace(regexp_replace($pii, " +
        s"'${TextFunctions.PiiEmailPattern}', '[EMAIL]', 'g'), " +
        s"'${TextFunctions.PiiUrlPattern}', '[URL]', 'g'), " +
        s"'${TextFunctions.PiiNumPattern}', '[NUM]', 'g')"
      s"""SELECT doc_id, md5(masked) AS masked_md5,
         | CAST(length(masked) AS BIGINT) AS masked_len
         |FROM (SELECT doc_id, $masked AS masked FROM documents)
         |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // bigram positions (NOT distinct — the repetition signal needs the
    // raw sequence), then two integer-percent rollups per doc
    "q62_repetition" -> {
      val tokSplit = """regexp_split_to_array(trim(lower(text)), '\s+')"""
      s"""WITH toks AS (SELECT doc_id, $tokSplit AS tk FROM documents),
         | g AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(tk)-1, 0)),
         |   i -> array_to_string(tk[i+1:i+2], ' '))) AS gram FROM toks WHERE len(tk) >= 2),
         | c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         | (100 * CAST(MAX(c) AS BIGINT)) // CAST(SUM(c) AS BIGINT) AS top_gram_pct,
         | (100 * (CAST(SUM(c) AS BIGINT) - COUNT(*))) // CAST(SUM(c) AS BIGINT) AS dup_gram_pct
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // same oracle shape as q21 — the prefix-filtered variant must
    // reproduce the count-aggregation contract row for row
    "q63_jaccard_prefix" ->
      """WITH w AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS word
        |           FROM documents WHERE doc_id < 500),
        |     sizes AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |               FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common, sa.nw AS n_a, sb.nw AS n_b
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_common >= 80 * (sa.nw + sb.nw - n_common)
        |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " "),
    // q49's session semantics without the session_id column (the
    // streaming operator emits sessions, not per-user ordinals); the
    // (user_id, session_start) pair is a total order because a user's
    // sessions cannot overlap
    "q64_sessions_stream" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tn FROM events),
        | s AS (SELECT user_id, event_id, tn,
        |   CASE WHEN LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) IS NULL
        |     OR tn - LAG(tn) OVER (PARTITION BY user_id ORDER BY tn, event_id) > 1800000000
        |     THEN 1 ELSE 0 END AS is_new FROM e),
        | x AS (SELECT user_id, tn,
        |   SUM(is_new) OVER (PARTITION BY user_id ORDER BY tn, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |   FROM s)
        |SELECT user_id, COUNT(*) AS n_events,
        | MIN(tn) AS session_start, MAX(tn) AS session_end, MAX(tn)-MIN(tn) AS duration_us
        |FROM x GROUP BY user_id, sid ORDER BY user_id, session_start"""
      .stripMargin.replaceAll("\n", " "),
    "q65_hash_split" -> {
      val bucket = graft.operators.Sampling.pctBucketSql("doc_id", "split")
      s"""WITH b AS (SELECT doc_id, text,
         |   CASE WHEN $bucket < 90 THEN 'train'
         |        WHEN $bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split FROM documents)
         |SELECT split, COUNT(*) AS n_docs,
         | CAST(SUM(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')))) AS BIGINT) AS n_words
         |FROM b GROUP BY split ORDER BY split""".stripMargin.replaceAll("\n", " ")
    },
    // exclusive window cumsum in doc_id order == the two-level prefix
    // scan; chunk ids by integer division, empty docs pinned to their
    // boundary chunk via greatest(w, 1)
    "q66_seq_pack" ->
      s"""WITH w AS (SELECT doc_id, $tokensSql AS n_tokens FROM documents),
         | o AS (SELECT doc_id, n_tokens,
         |   COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |   FROM w)
         |SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
         | CAST(start_offset // 4096 AS BIGINT) AS chunk_first,
         | CAST((start_offset + greatest(n_tokens, 1) - 1) // 4096 AS BIGINT) AS chunk_last
         |FROM o ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // identical double arithmetic: widen float exactly, x*127/maxabs,
    // floor(+0.5) — then integer summaries of the quantized vector
    "q67_quantize_int8" ->
      s"""WITH $int8QvecCtes
        |SELECT vec_id, list_min(qvec) AS q_min, list_max(qvec) AS q_max,
        | CAST(list_sum(qvec) AS BIGINT) AS q_sum,
        | CAST(list_sum(list_transform(qvec, x -> x * x)) AS BIGINT) AS q_norm2
        |FROM qv ORDER BY vec_id""".stripMargin.replaceAll("\n", " "),
    // same quantization, then the q51 ordering pattern over integer dots
    "q68_ann_int8" ->
      s"""WITH $int8QvecCtes,
        | b AS (SELECT vec_id, qvec, ${qdotSql("qvec", "qvec")} AS nrm FROM qv),
        | qq AS (SELECT qvec AS qu, nrm AS qn FROM b WHERE vec_id = 0)
        |SELECT vec_id, ${qdotSql("qvec", "qu")} AS dot
        |FROM b CROSS JOIN qq WHERE vec_id <> 0 AND nrm > 0
        |ORDER BY CAST(${qdotSql("qvec", "qu")} AS DOUBLE) /
        |  sqrt(CAST(nrm AS DOUBLE) * CAST(qn AS DOUBLE)) DESC, vec_id
        |LIMIT 10""".stripMargin.replaceAll("\n", " "),
    // DuckDB range() is stop-exclusive like sequence(0, n-1) is
    // stop-inclusive; tk[a:b] slicing is 1-based inclusive and clips
    "q69_chunks" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk,
         |   $tokensSql AS n FROM documents),
         | s AS (SELECT doc_id, tk, n, unnest(range(0, n, 24)) AS tok_start
         |        FROM t WHERE n > 0)
         |SELECT doc_id, tok_start // 24 AS chunk_id, tok_start,
         | least(tok_start + 32, n) AS tok_end,
         | array_to_string(tk[tok_start + 1 : least(tok_start + 32, n)], ' ') AS chunk_text
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin.replaceAll("\n", " "),
    // the synthetic "today" snapshot is derived identically on both
    // engines; statuses compare canonical fingerprints (formatting-only
    // edits are 'unchanged' by design)
    "q70_snapshot_diff" ->
      s"""WITH today AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + 1000000, 'added doc ' || CAST(doc_id AS VARCHAR)
         |  FROM documents WHERE doc_id % 13 = 0),
         | o AS (SELECT doc_id, MIN($fingerprintSql) AS fp FROM documents GROUP BY doc_id),
         | n AS (SELECT doc_id, MIN($fingerprintSql) AS fp FROM today GROUP BY doc_id),
         | j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
         |                   WHEN n.doc_id IS NULL THEN 'removed'
         |                   WHEN o.fp = n.fp THEN 'unchanged'
         |                   ELSE 'changed' END AS status
         |       FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
         |SELECT status, COUNT(*) AS n FROM j GROUP BY status ORDER BY status"""
        .stripMargin.replaceAll("\n", " "),
    // the streamed first-seen-wins dedup must emit exactly the distinct
    // fingerprint set (raw md5 — StreamingDedup's identity, not the
    // canonical-form fingerprint)
    "q71_dedup_stream" ->
      """SELECT DISTINCT md5(text) AS fingerprint FROM documents
        |ORDER BY fingerprint""".stripMargin.replaceAll("\n", " "),
    // each event belongs to exactly two 1h/30min sliding windows:
    // the slide-aligned start at or before it, and the previous one
    "q72_windows_stream" -> {
      val slideUs = 1800000000L; val winUs = 3600000000L
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS tu, ${centsSql("value")} AS c FROM events),
         | w AS (SELECT event_type, tu, c,
         |   unnest([(tu // $slideUs) * $slideUs, (tu // $slideUs) * $slideUs - $slideUs]) AS ws
         |   FROM e),
         | k AS (SELECT * FROM w WHERE tu >= ws AND tu < ws + $winUs)
         |SELECT ws AS window_start, ws + $winUs AS window_end, event_type,
         | COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS total,
         | MIN(c) AS min_v, MAX(c) AS max_v
         |FROM k GROUP BY ws, event_type ORDER BY window_start, event_type"""
        .stripMargin.replaceAll("\n", " ")
    },
    // truncating // matches Spark div; p_lo = lower bound of the first
    // bin whose cumulative count reaches p% of the group
    "q73_binned_quantiles" -> {
      def pLo(p: Int) =
        s"MIN(CASE WHEN 100 * cum >= $p * tot THEN bin * 100 END) AS p${p}_lo"
      s"""WITH b AS (SELECT event_type, ${centsSql("value")} // 100 AS bin, COUNT(*) AS c
         |   FROM events GROUP BY event_type, bin),
         | w AS (SELECT event_type, bin, c,
         |   SUM(c) OVER (PARTITION BY event_type ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         |   SUM(c) OVER (PARTITION BY event_type) AS tot
         |   FROM b)
         |SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n,
         | ${pLo(50)}, ${pLo(95)}, ${pLo(99)}
         |FROM w GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " ")
    },
    // vocabulary = top-20 tokens (freq desc, token asc — total order);
    // floor(100.0·oov/n) of exact ints is correctly rounded identically
    "q74_oov_rate" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        |            FROM documents),
        | t2 AS (SELECT * FROM tok WHERE length(tok) > 0),
        | vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS freq FROM t2
        |           GROUP BY tok ORDER BY freq DESC, tok LIMIT 20)),
        | s AS (SELECT t2.doc_id, COUNT(*) AS n_tok,
        |   CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |   FROM t2 LEFT JOIN vocab v ON t2.tok = v.tok GROUP BY t2.doc_id)
        |SELECT doc_id, n_tok, n_oov,
        | CAST(floor(100.0 * n_oov / n_tok) AS BIGINT) AS oov_pct
        |FROM s ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // bucketing is layout, not semantics: the oracle is the plain join
    "q75_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority"""
        .stripMargin.replaceAll("\n", " "),
    // T=2 temperature mix: isqrt + integer division + md5 permille
    // bucket — every acceptance decision exact in both engines
    "q76_temperature_mix" -> {
      val isq = graft.operators.Mixing.isqrtSql("n_s * n_min")
      val bucket = graft.operators.Mixing.permilleBucketSql("d.doc_id", "mix")
      s"""WITH n AS (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang),
         | mn AS (SELECT MIN(n_s) AS n_min FROM n),
         | r AS (SELECT lang, CAST((1000 * $isq) // n_s AS BIGINT) AS rate_pm FROM n, mn)
         |SELECT d.lang, r.rate_pm, COUNT(*) AS n_kept
         |FROM documents d JOIN r ON d.lang = r.lang
         |WHERE $bucket < r.rate_pm
         |GROUP BY d.lang, r.rate_pm ORDER BY d.lang"""
        .stripMargin.replaceAll("\n", " ")
    },
    // chunking mirrors q69's idiom (trim-split, NO lower — Chunking
    // keeps case); canonical pick = window rank over the fingerprint,
    // equivalent to the Spark side's groupBy-min + equi-join
    "q77_chunk_dedup" -> {
      val tokSplit = """regexp_split_to_array(trim(text), '\s+')"""
      s"""WITH base AS (SELECT doc_id, '$BoilerplateHeader ' || text AS text FROM documents),
         | toks AS (SELECT doc_id, $tokSplit AS tk FROM base WHERE trim(text) <> ''),
         | st AS (SELECT doc_id, tk, unnest(range(0, len(tk), 20)) AS s FROM toks),
         | ch AS (SELECT doc_id, s // 20 AS chunk_id,
         |   md5(array_to_string(tk[s+1:s+20], ' ')) AS fp FROM st),
         | rk AS (SELECT doc_id, chunk_id,
         |   ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_id) AS rn FROM ch)
         |SELECT doc_id, COUNT(*) AS n_chunks,
         | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |FROM rk GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // integer idf: score = tf * ((1e6 * N) div df); both engines rank
    // by (score DESC, tok) — a total order since tok is unique per doc
    "q78_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf_t FROM toks
        |   WHERE tok <> '' GROUP BY doc_id, tok),
        | dfx AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
        | n AS (SELECT COUNT(*) AS n_docs FROM documents),
        | sc AS (SELECT doc_id, tok, tf_t, df_t,
        |   tf_t * ((1000000 * n_docs) // df_t) AS score
        |   FROM tf JOIN dfx USING (tok) CROSS JOIN n),
        | rk AS (SELECT *, ROW_NUMBER() OVER
        |   (PARTITION BY doc_id ORDER BY score DESC, tok) AS rnk FROM sc)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, tok, CAST(tf_t AS BIGINT) AS tf_t,
        | CAST(df_t AS BIGINT) AS df_t, CAST(score AS BIGINT) AS score
        |FROM rk WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin.replaceAll("\n", " "),
    // per-source cap: the same md5 rank order on both sides
    "q79_source_cap" -> {
      val rank = graft.functions.PortableHash
        .md5Hex32Sql("'cap:' || CAST(doc_id AS VARCHAR)")
      s"""WITH rk AS (SELECT source, doc_id,
         |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY $rank, doc_id) AS rn
         | FROM documents)
         |SELECT source, doc_id FROM rk WHERE rn <= 10
         |ORDER BY source, doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // whole-bit surprisal: floor(log2) is exact for counts << 2^40 in
    // both engines (see Vocabulary.surprisalScore), everything else is
    // BIGINT arithmetic with truncating division on both sides
    "q80_surprisal" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf_t FROM toks
        |   WHERE tok <> '' GROUP BY doc_id, tok),
        | c AS (SELECT tok, CAST(SUM(tf_t) AS BIGINT) AS cnt FROM tf GROUP BY tok),
        | t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        | j AS (SELECT doc_id, tf_t,
        |   CAST(floor(log2(CAST(total AS DOUBLE))) AS BIGINT)
        |     - CAST(floor(log2(CAST(cnt AS DOUBLE))) AS BIGINT) AS sbits
        |   FROM tf JOIN c USING (tok) CROSS JOIN t)
        |SELECT doc_id, CAST(SUM(tf_t) AS BIGINT) AS n_tok,
        | CAST(SUM(tf_t * sbits) // SUM(tf_t) AS BIGINT) AS avg_surprisal_bits
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // the Bloom filter is pruning-only (one-sided + exact join after),
    // so the oracle is the PLAIN semi-join — layout/runtime-filter
    // machinery must be invisible in the result
    "q81_bloom_semi" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         | CAST(SUM($discPriceE4Sql) AS BIGINT) AS revenue
         |FROM lineitem
         |WHERE l_orderkey IN
         |  (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
         |GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),
    // relational replay of the same change set: anti-join + unions;
    // delete/update classes are disjoint by construction (mod 11
    // excluded from updates), inserts land on fresh ids
    "q82_upsert_merge" ->
      """WITH base AS (SELECT doc_id, text, lang, source FROM documents),
        | upd AS (SELECT doc_id, upper(text) AS text, lang, source FROM base
        |   WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0),
        | ins AS (SELECT doc_id + 1000000 AS doc_id, text, lang, source FROM base
        |   WHERE doc_id % 13 = 0),
        | del AS (SELECT doc_id FROM base WHERE doc_id % 11 = 0),
        | touched AS (SELECT doc_id FROM upd UNION ALL SELECT doc_id FROM ins
        |   UNION ALL SELECT doc_id FROM del),
        | merged AS (
        |   SELECT * FROM base WHERE doc_id NOT IN (SELECT doc_id FROM touched)
        |   UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT doc_id, md5(text) AS content_md5, lang, source
        |FROM merged ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // textbook ROW_NUMBER + NTILE-identity formulation; the engine's
    // two-level prefix sum must produce the identical global ranks.
    // DuckDB // floors, Spark div truncates — identical on the
    // all-positive rank domain.
    "q83_curriculum_shards" ->
      s"""WITH q AS ($qualitySql),
         | n AS (SELECT COUNT(*) AS n_all FROM q),
         | rk AS (SELECT doc_id, quality,
         |   ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn FROM q),
         | sh AS (SELECT quality, rn,
         |   (rn - 1) * 10 // n_all + 1 AS shard FROM rk CROSS JOIN n)
         |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
         | MIN(quality) AS min_q, MAX(quality) AS max_q,
         | CAST(MIN(rn) AS BIGINT) AS first_rn, CAST(MAX(rn) AS BIGINT) AS last_rn
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin.replaceAll("\n", " "),
    // layout is semantics-free: the oracle filters the ORIGINAL table —
    // the z-ordered copy must return the identical box
    "q84_zorder_box" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         | CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty_c
         |FROM lineitem
         |WHERE l_partkey <= 50 AND l_suppkey <= 5
         |GROUP BY l_returnflag ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\n", " "),
    // largest-remainder apportionment in pure integer arithmetic
    // (quota via //, remainder via %, both truncating on the positive
    // domain in both engines), then the q79 md5 pick order
    "q85_stratified_exact" -> {
      val rank = graft.functions.PortableHash
        .md5Hex32Sql("'strat:' || CAST(doc_id AS VARCHAR)")
      s"""WITH c AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY source),
         | t AS (SELECT CAST(SUM(ns) AS BIGINT) AS nall FROM c),
         | q AS (SELECT source, ns, (100 * ns) // nall AS base,
         |   (100 * ns) % nall AS rem FROM c CROSS JOIN t),
         | l AS (SELECT 100 - CAST(SUM(base) AS BIGINT) AS leftover FROM q),
         | rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rr FROM q),
         | al AS (SELECT source, base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
         |   AS alloc FROM rk CROSS JOIN l),
         | dr AS (SELECT source, doc_id, ROW_NUMBER() OVER
         |   (PARTITION BY source ORDER BY $rank, doc_id) AS rn FROM documents)
         |SELECT dr.source, dr.doc_id FROM dr JOIN al USING (source)
         |WHERE rn <= alloc ORDER BY source, doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // effective set = base minus retracted plus inserts:
    // (%5≠0 AND %7≠0) OR (%5=0)  ⇔  (%5=0) OR (%7≠0)
    "q86_incr_maintain" ->
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS sum_c
         |FROM events
         |WHERE event_id % 5 = 0 OR event_id % 7 <> 0
         |GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),
    // the streaming fold over real micro-batches must land on the same
    // state as q86's one-shot maintenance — identical oracle
    "q87_incr_stream" ->
      s"""SELECT event_type, COUNT(*) AS n,
         | CAST(SUM(${centsSql("value")}) AS BIGINT) AS sum_c
         |FROM events
         |WHERE event_id % 5 = 0 OR event_id % 7 <> 0
         |GROUP BY event_type ORDER BY event_type"""
        .stripMargin.replaceAll("\n", " "),
    // the affine probe family as a 4-way UNION, one branch per j;
    // (doc_id, j) is unique so ORDER BY doc_id, j is total
    "q88_neg_samples" -> {
      val h = graft.functions.PortableHash
        .md5Hex32Sql("'neg:' || CAST(doc_id AS VARCHAR)")
      val branches = graft.functions.PortableHash.affineConstants(7L, 4)
        .zipWithIndex.map { case (ab, j) =>
          s"SELECT doc_id, source, $j AS j, " +
            s"(${graft.functions.PortableHash.affineSql("h", ab)} % n_docs) AS cand " +
            "FROM a CROSS JOIN n"
        }.mkString(" UNION ALL ")
      s"""WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
         | a AS (SELECT doc_id, source, $h AS h FROM documents),
         | c AS ($branches)
         |SELECT c.doc_id, CAST(c.j AS BIGINT) AS j, d.doc_id AS neg_id
         |FROM c JOIN documents d ON d.doc_id = c.cand
         |WHERE d.source <> c.source AND d.doc_id <> c.doc_id
         |ORDER BY c.doc_id, j""".stripMargin.replaceAll("\n", " ")
    },
    // bigram positions via the q77 unnest(range) idiom (1-based array
    // indexing; range(1, len) is empty for single-token docs, matching
    // the Spark side's size >= 2 filter); context counts derive from
    // the bigram table so both engines share one definition
    "q89_bigram_surprisal" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |   FROM documents WHERE trim(text) <> ''),
        | st AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
        | bgp AS (SELECT doc_id, tk[i] AS prev, tk[i+1] AS cur FROM st),
        | tf AS (SELECT doc_id, prev, cur, COUNT(*) AS tf_t FROM bgp
        |   GROUP BY doc_id, prev, cur),
        | cbg AS (SELECT prev, cur, CAST(SUM(tf_t) AS BIGINT) AS cnt_bg FROM tf
        |   GROUP BY prev, cur),
        | cctx AS (SELECT prev, CAST(SUM(cnt_bg) AS BIGINT) AS cnt_ctx FROM cbg
        |   GROUP BY prev),
        | j AS (SELECT doc_id, tf_t,
        |   CAST(floor(log2(CAST(cnt_ctx AS DOUBLE))) AS BIGINT)
        |     - CAST(floor(log2(CAST(cnt_bg AS DOUBLE))) AS BIGINT) AS sbits
        |   FROM tf JOIN cbg USING (prev, cur) JOIN cctx USING (prev))
        |SELECT doc_id, CAST(SUM(tf_t) AS BIGINT) AS n_bigrams,
        | CAST(SUM(tf_t * sbits) // SUM(tf_t) AS BIGINT) AS avg_bigram_bits
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // membership re-derived from the raw text — the index must be a
    // lossless view of the tokenizer
    "q90_lexical_and" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'dup')
        |  AND list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'join')
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // df computed over the HIT rows (same as the engine: df of a term =
    // docs containing it, derived after the term filter)
    "q91_ranked_tfidf" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf_t FROM toks
        |   WHERE tok IN ('dup', 'join', 'vector') GROUP BY doc_id, tok),
        | dfx AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
        | n AS (SELECT COUNT(*) AS n_docs FROM documents),
        | sc AS (SELECT doc_id,
        |   SUM(tf_t * ((1000000 * n_docs) // df_t)) AS score
        |   FROM tf JOIN dfx USING (tok) CROSS JOIN n GROUP BY doc_id)
        |SELECT doc_id, CAST(score AS BIGINT) AS score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " "),
    // adjacency re-derived from the raw 1-based token arrays (q77's
    // unnest(range) idiom): tk[i]='hash' AND tk[i+1]='join'
    "q92_phrase_query" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |   FROM documents WHERE trim(text) <> ''),
        | st AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
        |SELECT DISTINCT doc_id FROM st
        |WHERE tk[i] = 'hash' AND tk[i+1] = 'join'
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // positions re-derived 1-based on both terms; |pa-pb| is
    // base-independent so the Spark side's 0-based index agrees
    "q93_proximity" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |   FROM documents WHERE trim(text) <> ''),
        | st AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks),
        | a AS (SELECT doc_id, i FROM st WHERE tk[i] = 'dup'),
        | b AS (SELECT doc_id, i FROM st WHERE tk[i] = 'join')
        |SELECT DISTINCT a.doc_id FROM a JOIN b USING (doc_id)
        |WHERE abs(a.i - b.i) <= 2 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // per-term membership from raw text, summed against the m-of-n bar
    "q94_min_should_match" -> {
      def has(w: String) =
        s"CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\\s+'), '$w') THEN 1 ELSE 0 END"
      s"""SELECT doc_id,
         | CAST(${has("dup")} + ${has("slow")} + ${has("vector")} AS BIGINT) AS n_matched
         |FROM documents
         |WHERE ${has("dup")} + ${has("slow")} + ${has("vector")} >= 2
         |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // the oracle IS the rebuild: tf index of the effective document set
    // (inserts ∪ base∖deletions) from raw text — delta-fold must equal
    // it row-for-row
    "q95_incr_index" ->
      """WITH eff AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id % 5 = 0 OR doc_id % 7 <> 0),
        | toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM eff)
        |SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf_t FROM toks
        |WHERE tok <> '' GROUP BY doc_id, tok
        |ORDER BY doc_id, tok""".stripMargin.replaceAll("\n", " "),
    // exact-integer BM25: k1=6/5, b=3/4 cleared of fractions
    // (sat = (1e6·44·tf·A) // (20·tf·A + 6·A + 18000·dl), A = milli-token
    // avgdl), whole-bit idf₂ from the odd-integer ratio (2N−2df+1)/(2df+1)
    // — DuckDB // floors, Spark div truncates; every operand here is
    // positive, so they agree. df over the hit rows, like q91.
    "q96_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
        | occ AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf_t FROM occ GROUP BY doc_id, tok),
        | dlx AS (SELECT doc_id, COUNT(*) AS dl FROM occ GROUP BY doc_id),
        | n AS (SELECT COUNT(*) AS n_docs FROM documents),
        | a AS (SELECT greatest((1000 * SUM(dl)) // MAX(n_docs), 1) AS avgdl_x
        |   FROM dlx, n),
        | hits AS (SELECT tf.doc_id, tf.tok, tf.tf_t, dlx.dl
        |   FROM tf JOIN dlx USING (doc_id)
        |   WHERE tf.tok IN ('dup', 'join', 'vector')),
        | dfx AS (SELECT tok, COUNT(*) AS df_t FROM hits GROUP BY tok),
        | sc AS (SELECT doc_id, SUM(
        |     CAST(floor(log2(CAST(greatest(
        |       (2 * n_docs - 2 * df_t + 1) // (2 * df_t + 1), 1) AS DOUBLE))) AS BIGINT)
        |     * ((1000000 * 44 * tf_t * avgdl_x) //
        |        (20 * tf_t * avgdl_x + 6 * avgdl_x + 18000 * dl))) AS score
        |   FROM hits JOIN dfx USING (tok) CROSS JOIN n CROSS JOIN a
        |   GROUP BY doc_id)
        |SELECT doc_id, CAST(score AS BIGINT) AS score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " "),
    // RRF over the q91 lexical top-20 and the q22-portable vector
    // top-20: ranks re-derived per leg, fused as 1000000 // (60 + r).
    // The vector leg's ranking cosine is CAST(dot)/sqrt(CAST·CAST) of
    // identical longs — IEEE-identical on both engines (q51 contract).
    "q97_hybrid_rrf" ->
      s"""WITH toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, COUNT(*) AS tf_t FROM toks
        |   WHERE tok IN ('dup', 'join', 'vector') GROUP BY doc_id, tok),
        | dfx AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
        | n AS (SELECT COUNT(*) AS n_docs FROM documents),
        | lexsc AS (SELECT doc_id,
        |   SUM(tf_t * ((1000000 * n_docs) // df_t)) AS score
        |   FROM tf JOIN dfx USING (tok) CROSS JOIN n GROUP BY doc_id),
        | lexleg AS (SELECT doc_id, score FROM lexsc
        |   ORDER BY score DESC, doc_id LIMIT 20),
        | lexr AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM lexleg),
        | qv AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
        | nv AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm FROM qv),
        | qq AS (SELECT q AS qvec, nrm AS qn FROM nv WHERE vec_id = 0),
        | vecsc AS (SELECT vec_id AS doc_id,
        |   CAST(${qdotSql("q", "qvec")} AS DOUBLE) /
        |     sqrt(CAST(nrm AS DOUBLE) * CAST(qn AS DOUBLE)) AS cos
        |   FROM nv, qq WHERE vec_id <> 0),
        | vecleg AS (SELECT doc_id, cos FROM vecsc
        |   ORDER BY cos DESC, doc_id LIMIT 20),
        | vecr AS (SELECT doc_id,
        |   row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM vecleg),
        | contrib AS (SELECT doc_id, 1000000 // (60 + r) AS c FROM lexr
        |   UNION ALL SELECT doc_id, 1000000 // (60 + r) FROM vecr)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf,
        | CAST(COUNT(*) AS BIGINT) AS n_legs
        |FROM contrib GROUP BY doc_id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " "),
    // the q95 rebuild oracle verbatim: the streamed fold-from-empty must
    // land on the same tf index as a batch rebuild of the effective set
    "q98_stream_index" ->
      """WITH eff AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id % 5 = 0 OR doc_id % 7 <> 0),
        | toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM eff)
        |SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf_t FROM toks
        |WHERE tok <> '' GROUP BY doc_id, tok
        |ORDER BY doc_id, tok""".stripMargin.replaceAll("\n", " "),
    // pairs re-derived by 1-based substring over the same vocabulary;
    // range(1, length) is exclusive-end → i = 1..len-1, like Spark's
    // inclusive sequence(1, length-1)
    "q99_bpe_pairs" ->
      """WITH toks AS (SELECT
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
        | wf AS (SELECT tok, COUNT(*) AS wf FROM toks WHERE tok <> '' GROUP BY tok),
        | pr AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair, wf
        |   FROM (SELECT tok, wf, unnest(range(1, length(tok))) AS i FROM wf
        |         WHERE length(tok) >= 2))
        |SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM pr
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""
        .stripMargin.replaceAll("\n", " "),
    // same per-count floor-log2 form as the engine: never a product,
    // so every term stays inside the 2^40 exactness bound
    "q100_pmi_colloc" ->
      """WITH toks AS (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |   FROM documents WHERE trim(text) <> ''),
        | st AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks),
        | cbg AS (SELECT tk[i] AS prev, tk[i+1] AS cur,
        |   CAST(COUNT(*) AS BIGINT) AS cnt_bg FROM st GROUP BY 1, 2),
        | cl AS (SELECT prev, CAST(SUM(cnt_bg) AS BIGINT) AS cnt_l FROM cbg
        |   GROUP BY prev),
        | cr AS (SELECT cur, CAST(SUM(cnt_bg) AS BIGINT) AS cnt_r FROM cbg
        |   GROUP BY cur),
        | tot AS (SELECT CAST(SUM(cnt_bg) AS BIGINT) AS total FROM cbg)
        |SELECT prev, cur, cnt_bg,
        | CAST(floor(log2(CAST(total AS DOUBLE)))
        |   + floor(log2(CAST(cnt_bg AS DOUBLE)))
        |   - floor(log2(CAST(cnt_l AS DOUBLE)))
        |   - floor(log2(CAST(cnt_r AS DOUBLE))) AS BIGINT) AS pmi_bits
        |FROM cbg JOIN cl USING (prev) JOIN cr USING (cur) CROSS JOIN tot
        |WHERE cnt_bg >= 5
        |ORDER BY pmi_bits DESC, cnt_bg DESC, prev, cur LIMIT 30"""
        .stripMargin.replaceAll("\n", " "),
    // q59's recursive components + longest-member-wins window: the
    // ranking is total within a cluster (n_chars DESC, id ASC on a
    // unique id), so keep_id is deterministic cross-engine
    "q101_canonical_docs" ->
      s"""WITH RECURSIVE $minhashPairsCtesSql,
         | edges AS (SELECT doc_a AS a, doc_b AS b FROM mhp
         |           UNION SELECT doc_b, doc_a FROM mhp),
         | reach(id, lbl) AS (
         |   SELECT a, a FROM edges
         |   UNION
         |   SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id),
         | cc AS (SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id),
         | mem AS (SELECT cc.id, cc.cluster,
         |   CAST(length(d.text) AS BIGINT) AS n_chars
         |   FROM cc JOIN documents d ON d.doc_id = cc.id),
         | keep AS (SELECT cluster, id AS keep_id FROM
         |   (SELECT id, cluster, ROW_NUMBER() OVER (PARTITION BY cluster
         |      ORDER BY n_chars DESC, id ASC) AS rk FROM mem)
         |   WHERE rk = 1)
         |SELECT m.id, m.cluster, k.keep_id,
         |  CAST(m.id = k.keep_id AS BIGINT) AS kept
         |FROM mem m JOIN keep k USING (cluster) ORDER BY m.id"""
        .stripMargin.replaceAll("\n", " "),
    // mirrors Repetition.signals: permilles over lowercased ws tokens,
    // n-grams space-joined (the q60 idiom), max unigram count via a
    // per-row correlated count (semantics, not the Spark fold)
    "q102_repetition_profile" -> {
      val tokSplit = """regexp_split_to_array(trim(lower(text)), '\s+')"""
      def gramsSql(n: Int) =
        s"list_distinct(list_transform(range(0, greatest(len(w)-${n - 1}, 0)), " +
          s"i -> array_to_string(w[i+1:i+$n], ' ')))"
      s"""WITH toks AS (SELECT doc_id,
         |   CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |        ELSE $tokSplit END AS w FROM documents),
         | base AS (SELECT doc_id,
         |   CAST(len(w) AS BIGINT) AS n_words,
         |   CAST(len(list_distinct(w)) AS BIGINT) AS d1,
         |   CAST(greatest(len(w)-1, 0) AS BIGINT) AS n2,
         |   CAST(len(${gramsSql(2)}) AS BIGINT) AS d2,
         |   CAST(greatest(len(w)-2, 0) AS BIGINT) AS n3,
         |   CAST(len(${gramsSql(3)}) AS BIGINT) AS d3,
         |   CAST(coalesce((SELECT MAX(c) FROM
         |     (SELECT COUNT(*) AS c FROM unnest(w) AS t(tok) GROUP BY tok)), 0)
         |     AS BIGINT) AS maxw
         |  FROM toks),
         | sig AS (SELECT doc_id, n_words,
         |   CAST(CASE WHEN n_words <= 0 THEN 0
         |     ELSE 1000 * d1 // n_words END AS BIGINT) AS distinct_permille,
         |   CAST(CASE WHEN n_words <= 0 THEN 0
         |     ELSE 1000 * maxw // n_words END AS BIGINT) AS top_word_permille,
         |   CAST(CASE WHEN n2 <= 0 THEN 0
         |     ELSE 1000 * (n2 - d2) // n2 END AS BIGINT) AS dup2_permille,
         |   CAST(CASE WHEN n3 <= 0 THEN 0
         |     ELSE 1000 * (n3 - d3) // n3 END AS BIGINT) AS dup3_permille
         |  FROM base)
         |SELECT doc_id, n_words, distinct_permille, top_word_permille,
         | dup2_permille, dup3_permille,
         | CAST(CASE WHEN dup2_permille >= 60 OR top_word_permille >= 120
         |   THEN 1 ELSE 0 END AS BIGINT) AS repetitive
         |FROM sig ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    // mirrors Curriculum.selectByBudget at the q103 call site: the
    // textbook running-sum formulation of the two-level prefix sum,
    // quality arithmetic identical to q19's
    "q103_budget_select" ->
      s"""WITH f AS (SELECT doc_id, $tokensSql AS toks,
         |   CAST(length(text) AS BIGINT) AS chars, $punctSql AS punct,
         |   ${hitsSql(TextFunctions.StopwordsEn)} AS stops FROM documents),
         | p AS (SELECT doc_id, toks,
         |   CASE WHEN chars = 0 THEN 100
         |     ELSE CAST(floor(100.0 * punct / chars) AS BIGINT) END AS punct_pct,
         |   CASE WHEN toks = 0 THEN 0
         |     ELSE CAST(floor(100.0 * stops / toks) AS BIGINT) END AS stop_pct
         |  FROM f),
         | q AS (SELECT doc_id, toks AS n_tokens,
         |   CAST(greatest(0, 100
         |     - CASE WHEN toks < 5 THEN 40 WHEN toks < 20 THEN 10 ELSE 0 END
         |     - CASE WHEN punct_pct > 20 THEN 30 WHEN punct_pct > 10 THEN 10 ELSE 0 END
         |     - CASE WHEN stop_pct > 0 THEN 0 ELSE 20 END) AS BIGINT) AS quality
         |  FROM p),
         | c AS (SELECT doc_id, quality, n_tokens,
         |   CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM q)
         |SELECT doc_id, quality, n_tokens, cum_tokens,
         | CAST(CASE WHEN cum_tokens <= 15000 THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM c ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // mirrors TextFunctions.normalizeText: nfc_normalize + the SAME
    // control-char class and \s+ collapse (RE2-portable constants);
    // raw appends chr(769)=U+0301 (combining acute) and chr(1)
    "q104_normalize_text" ->
      s"""WITH r AS (SELECT doc_id,
         |   text || ' e' || chr(769) || chr(1) || '  x' AS raw FROM documents),
         | n AS (SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
         |   trim(regexp_replace(regexp_replace(nfc_normalize(raw),
         |     '${TextFunctions.ControlCharPattern}', '', 'g'), '\\s+', ' ', 'g')) AS norm
         |  FROM r)
         |SELECT doc_id, n_raw, CAST(length(norm) AS BIGINT) AS n_norm,
         | md5(norm) AS fp
         |FROM n ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // the plain interval join the watermarked stream-stream join must
    // reproduce; µs arithmetic mirrors the Spark side's div-1000
    "q105_stream_join" ->
      """SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        |ORDER BY p_id, c_id""".stripMargin.replaceAll("\n", " "),
    // batch (doc_id≡0 mod 10) vs corpus (rest): signatures recomputed
    // from the raw table on BOTH sides, band key = "band:minima" string
    // (mirrors Dedup.bandKeys), corpus-side bucket cap 100, verify
    // ≥ 50% of 64 signature positions — the q23 machinery split into
    // an ingestion direction
    "q106_incr_neardup" -> incrNearDupOracleSql,
    // stream ≡ batch: the drained streaming ingestion (q108) must emit
    // exactly the batch operator's pair set
    "q108_neardup_stream" -> incrNearDupOracleSql,
    "q107_ivf_batch" -> q107OracleSql,
    // stream ≡ batch for SERVING: micro-batched answers must equal the
    // one-shot batch (queries are independent rows) — q107's oracle
    // verbatim
    "q110_ann_stream" -> q107OracleSql,
    // fold ≡ rebuild: the maintained index content vs a from-scratch
    // banding over corpus ∪ admitted (admission replayed from raw text)
    "q109_neardup_fold" -> q109OracleSql,
    // fold ≡ rebuild for the SERVING index: probe of the folded IVF
    // layout vs a from-scratch assignment of corpus ∪ batch to the
    // corpus-seeded centroids (C and seeds from the corpus alone —
    // folding never moves centroids)
    "q111_ivf_fold" -> q111OracleSql,
    // stream ≡ batch for index MAINTENANCE: micro-batched folds must
    // yield the identical index (assignments are independent rows) —
    // q111's oracle verbatim
    "q112_ivf_ingest_stream" -> q111OracleSql,
    // occupancy of the maintained index ≡ group-by of the from-scratch
    // union assignment — re-proves cell MEMBERSHIP, not just probes
    "q113_ivf_cell_stats" -> q113OracleSql,
    // drift metrics + rebuild verdict re-derived from the same union
    // assignment — the DECISION is hash-gated, not just the telemetry
    "q114_ivf_advisor" -> q114OracleSql,
    // rebuild-from-index ≡ build-from-source: q51's fresh-build probe
    // over the raw table, verbatim
    "q115_ivf_rebuild" -> q51OracleSql,
    "q116_pq_codes" -> q116OracleSql,
    "q117_pq_adc"   -> q117OracleSql,
    // cell membership (q51's IVF chain) x code assignment (the PQ
    // chain) x the ADC lookup-table sum, composed end to end
    "q118_ivfpq"    -> q118OracleSql,
    // ADC top-100 candidates re-ranked by the exact portable cosine
    "q119_ivfpq_rerank" -> q119OracleSql,
    // maintained composed index ≡ from-scratch corpus-seeded rebuild
    // over the union — fold ≡ rebuild for the compressed serving tier
    "q120_ivfpq_fold" -> q120OracleSql,
    // stream ≡ batch for compressed-index maintenance — q120's oracle
    // verbatim (code assignments are independent rows)
    "q121_ivfpq_stream" -> q120OracleSql,
    // q107's batched-serving shape at PQ footprint: per-query probes x
    // the per-query ADC lookup-table sum
    "q122_ivfpq_batch" -> q122OracleSql,
    // the composed pipeline: quality gate -> exact dedup -> pack ->
    // split, one hash over the whole manifest
    "q123_corpus_prep" -> q123OracleSql,
    // the L-shaped AOI decomposes into two DISJOINT axis rectangles
    // ([0,60]×[0,40] ∪ [0,30]×[40,80)), so point containment is two
    // open-interval tests (half-integer coords never sit on an integer
    // edge) and the clipped square area is the sum of two axis-rect
    // overlaps — pure SQL, no spatial extension; ×16 lands the
    // quarter-integer areas on exact BIGINTs
    "q124_polygon_clip" ->
      """WITH p AS (SELECT doc_id,
        |  (doc_id % 89) + 0.5 AS x, ((doc_id * 7) % 83) + 0.5 AS y
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN (x > 0 AND x < 60 AND y > 0 AND y < 40)
        |    OR (x > 0 AND x < 30 AND y > 40 AND y < 80)
        |    THEN 1 ELSE 0 END AS BIGINT) AS kept,
        |  CAST(ROUND((
        |    GREATEST(0, LEAST(x + 0.75, 60) - GREATEST(x - 0.75, 0)) *
        |      GREATEST(0, LEAST(y + 0.75, 40) - GREATEST(y - 0.75, 0)) +
        |    GREATEST(0, LEAST(x + 0.75, 30) - GREATEST(x - 0.75, 0)) *
        |      GREATEST(0, LEAST(y + 0.75, 80) - GREATEST(y - 0.75, 40))
        |  ) * 16) AS BIGINT) AS clip16
        |FROM p ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q125_band_delete" -> q125OracleSql,
    "q126_ivf_delete" -> q126OracleSql,
    "q127_ivfpq_delete" -> q127OracleSql,
    "q128_delete_stream" -> q126OracleSql,
    "q129_video_meta" -> {
      val media = s"read_parquet('${Multimodal.MediaFixturePath}/*.parquet')"
      def be(off: Int, hexLen: Int) =
        s"('0x'||substr(hx,${2 * off + 1},$hexLen))::UBIGINT::BIGINT"
      // generator layout (GenMediaFixture.mp4Blob): ftyp 0-19, moov
      // header 20-27, mvhd header 28-35, mvhd payload from 36 —
      // version byte 36; v0 timescale@48 duration32@52; v1
      // timescale@56 duration64@60. 'ftyp' at bytes 4-7 = hex
      // '66747970' classifies (stub blob bytes 4-7 are a small BE
      // height, never the ftyp magic).
      // WebM band (GenMediaFixture.webmBlob): EBML magic '1A45DFA3' at
      // byte 0, TimestampScale uint32 at 33, Duration float32 at 40 —
      // the float's tick count sits in [2²³, 2²⁴) by construction, so
      // the integer is (bits & 0x7FFFFF) + 2²³: one mask+add instead
      // of a float reinterpret DuckDB doesn't have.
      s"""WITH m AS (SELECT media_id, hex(data) AS hx, octet_length(data) AS len
         |   FROM $media WHERE kind = 'video'),
         | cls AS (SELECT media_id, hx, len,
         |   substr(hx, 9, 8) = '66747970' AS is_mp4,
         |   substr(hx, 1, 8) = '1A45DFA3' AS is_webm FROM m),
         | mp4 AS (SELECT media_id,
         |   CASE WHEN ${be(36, 2)} = 1 THEN ${be(56, 8)} ELSE ${be(48, 8)} END AS ts,
         |   CASE WHEN ${be(36, 2)} = 1 THEN ${be(60, 16)} ELSE ${be(52, 8)} END AS dur
         |   FROM cls WHERE is_mp4),
         | webm AS (SELECT media_id, ${be(33, 8)} AS tsns,
         |   (${be(40, 8)} & 8388607) + 8388608 AS ticks
         |   FROM cls WHERE is_webm),
         | stub AS (SELECT media_id,
         |   GREATEST(1, CAST(CEIL((len-16)/64.0) AS BIGINT)) AS n
         |   FROM cls WHERE NOT is_mp4 AND NOT is_webm)
         |SELECT media_id, dur*1000//ts AS duration_ms, ts AS timescale,
         | CAST(1 AS BIGINT) AS is_real FROM mp4
         |UNION ALL
         |SELECT media_id, ticks*tsns//1000000 AS duration_ms,
         | 1000000000//tsns AS timescale, CAST(1 AS BIGINT) AS is_real FROM webm
         |UNION ALL
         |SELECT media_id, n*1000//30 AS duration_ms,
         | CAST(30 AS BIGINT) AS timescale, CAST(0 AS BIGINT) AS is_real FROM stub
         |ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    }
  )

  /** Shared CTE chain of the MinHash-ingestion oracles (q106/q108/q109):
    * signatures, band keys, batch/index split, skew-capped index,
    * candidate band collisions and verified match counts — all
    * recomputed from the raw table, so any gate built on it proves the
    * persisted index serves what a from-scratch banding would.
    */
  private lazy val minhashIngestCtes: String = {
      val ab = PortableHash.affineConstants(7L, 64)
      val minCols = ab.zipWithIndex
        .map { case (c, i) => s"MIN(${PortableHash.affineSql("h", c)}) AS m$i" }
        .mkString(", ")
      val sigList = (0 until 64).map(i => s"m$i").mkString("list_value(", ",", ")")
      val tokSplit = """regexp_split_to_array(trim(lower(text)), '\s+')"""
      s"""WITH toks AS (SELECT doc_id, $tokSplit AS tk FROM documents WHERE doc_id < 10000),
         | sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(0, greatest(len(tk)-2, 0)),
         |   i -> array_to_string(tk[i+1:i+3], ' ')))) AS shingle FROM toks),
         | hb AS (SELECT doc_id, ${PortableHash.md5Hex32Sql("shingle")} AS h FROM sh),
         | sig0 AS (SELECT doc_id, $minCols FROM hb GROUP BY doc_id),
         | sigl AS (SELECT doc_id, $sigList AS sig FROM sig0),
         | bk AS (SELECT doc_id, sig,
         |   CAST(b AS VARCHAR) || ':' || array_to_string(sig[b*4+1:b*4+4], ',') AS bk
         |   FROM sigl CROSS JOIN (SELECT unnest(range(0,16)) AS b)),
         | nb AS (SELECT * FROM bk WHERE doc_id % 10 = 0),
         | ib0 AS (SELECT * FROM bk WHERE doc_id % 10 <> 0),
         | ib AS (SELECT doc_id, sig, bk FROM
         |   (SELECT *, COUNT(*) OVER (PARTITION BY bk) AS bn FROM ib0) WHERE bn <= 100),
         | cand AS (SELECT DISTINCT n.doc_id AS new_doc, i.doc_id AS dup_of,
         |   n.sig AS sa, i.sig AS sb FROM nb n JOIN ib i ON n.bk = i.bk),
         | m AS (SELECT new_doc, dup_of,
         |   CAST(len(list_filter(list_transform(list_zip(sa, sb), x -> x[1] = x[2]), v -> v)) AS BIGINT) AS n_match
         |   FROM cand)""".stripMargin.replaceAll("\n", " ")
    }

  private lazy val incrNearDupOracleSql: String =
    s"""$minhashIngestCtes
       |SELECT new_doc, dup_of, n_match FROM m WHERE 100*n_match >= 50*64
       |ORDER BY new_doc, dup_of""".stripMargin.replaceAll("\n", " ")

  /** q109: the folded index content ≡ a from-scratch rebuild over
    * corpus ∪ admitted, with admission (no verified dup in the capped
    * corpus index) replayed from raw text.
    */
  private lazy val q109OracleSql: String =
    s"""$minhashIngestCtes,
       | dups AS (SELECT DISTINCT new_doc FROM m WHERE 100*n_match >= 50*64)
       |SELECT doc_id, bk FROM (
       |  SELECT doc_id, bk FROM ib0
       |  UNION ALL
       |  SELECT doc_id, bk FROM nb
       |  WHERE doc_id NOT IN (SELECT new_doc FROM dups))
       |ORDER BY doc_id, bk""".stripMargin.replaceAll("\n", " ")

    // the q51 seed-assign machinery with a 5-query batch: per-query
    // probe ranking (cos DESC, cent_id DESC) and per-query top-5
    // windows; rk makes the ORDER BY total
    private lazy val q107OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings),
         | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
         |   WHERE vec_id < (SELECT c FROM nc)),
         | qs AS (SELECT vec_id AS query_id, q AS qvec, nrm AS qn FROM b WHERE vec_id < 5),
         | asg AS (SELECT vec_id, q, nrm, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b CROSS JOIN c),
         | probes AS (SELECT query_id, cent_id FROM (
         |   SELECT qs.query_id, c.cent_id,
         |     row_number() OVER (PARTITION BY qs.query_id ORDER BY
         |       ${cosSql(qdotSql("c.cvec", "qs.qvec"), "c.cnrm", "qs.qn")} DESC,
         |       c.cent_id DESC) AS pr
         |   FROM c CROSS JOIN qs) WHERE pr <= 4),
         | cand AS (SELECT qs.query_id, a.vec_id,
         |     ${qdotSql("a.q", "qs.qvec")} AS dot, a.nrm, qs.qn
         |   FROM asg a JOIN probes p ON a.cent_id = p.cent_id
         |   JOIN qs ON qs.query_id = p.query_id
         |   WHERE a.rn = 1 AND a.vec_id <> qs.query_id),
         | ranked AS (SELECT query_id, vec_id, dot,
         |   CAST(row_number() OVER (PARTITION BY query_id ORDER BY
         |     ${cosSql("dot", "nrm", "qn")} DESC, vec_id) AS BIGINT) AS rk
         |   FROM cand)
         |SELECT query_id, rk, vec_id, dot FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin.replaceAll("\n", " ")
    }

    // the q51 machinery with the INDEX LINEAGE split: C and the seed
    // centroids derive from the CORPUS alone (vec_id % 10 <> 0 — what
    // ensureIvfIndex saw), while the assignment covers corpus ∪ batch
    // (what the folded layout holds). Query = vec 0, a BATCH member:
    // green requires the folded vectors to be both indexed and
    // servable, and the fold to equal this from-scratch rebuild.
    private lazy val q111OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings WHERE vec_id % 10 <> 0),
         | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
         |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
         | qq AS (SELECT q AS qvec, nrm AS qn FROM b WHERE vec_id = 0),
         | asg AS (SELECT vec_id, q, nrm, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b CROSS JOIN c),
         | probes AS (SELECT cent_id FROM c CROSS JOIN qq
         |   ORDER BY ${cosSql(qdotSql("cvec", "qvec"), "cnrm", "qn")} DESC, cent_id DESC
         |   LIMIT 4),
         | cand AS (SELECT a.vec_id, ${qdotSql("a.q", "qq.qvec")} AS dot, a.nrm, qq.qn
         |          FROM asg a JOIN probes USING (cent_id) CROSS JOIN qq
         |          WHERE a.rn = 1 AND a.vec_id <> 0)
         |SELECT vec_id, dot FROM cand
         |ORDER BY ${cosSql("dot", "nrm", "qn")} DESC, vec_id
         |LIMIT 10""".stripMargin.replaceAll("\n", " ")
    }

    // the fresh-build IVF probe over the full table: nc mirrors
    // Similarity.nCentroidsForCorpus(count) in exact integer arithmetic
    // (C = clamp(2^((bitLength(n-1)+1)//2), 4, 65536)); shared by q51
    // (build-from-source) and q115 (rebuild-from-index ≡ it)
    private lazy val q51OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings),
         | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
         |   WHERE vec_id < (SELECT c FROM nc)),
         | qq AS (SELECT q AS qvec, nrm AS qn FROM b WHERE vec_id = 0),
         | asg AS (SELECT vec_id, q, nrm, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b CROSS JOIN c),
         | probes AS (SELECT cent_id FROM c CROSS JOIN qq
         |   ORDER BY ${cosSql(qdotSql("cvec", "qvec"), "cnrm", "qn")} DESC, cent_id DESC
         |   LIMIT 4),
         | cand AS (SELECT a.vec_id, ${qdotSql("a.q", "qq.qvec")} AS dot, a.nrm, qq.qn
         |          FROM asg a JOIN probes USING (cent_id) CROSS JOIN qq
         |          WHERE a.rn = 1 AND a.vec_id <> 0)
         |SELECT vec_id, dot FROM cand
         |ORDER BY ${cosSql("dot", "nrm", "qn")} DESC, vec_id
         |LIMIT 10""".stripMargin.replaceAll("\n", " ")
    }

    // q113's occupancy chain reduced to the one-row advisor: skew =
    // max_cell/(n/C) and new-mass = folded/n, both in integer permille
    // (div truncates identically on both engines), thresholds mirrored
    // from Similarity.ivfRebuildAdvice defaults
    private lazy val q114OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings WHERE vec_id % 10 <> 0),
         | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
         |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
         | asg AS (SELECT vec_id, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b CROSS JOIN c),
         | occ AS (SELECT cent_id, COUNT(*) AS n FROM asg WHERE rn = 1
         |   GROUP BY cent_id),
         | m AS (SELECT
         |   (SELECT COUNT(*) FROM embeddings) AS n_vecs,
         |   (SELECT COUNT(*) FROM occ) AS n_cells,
         |   (SELECT COUNT(*) FROM c) AS c,
         |   (SELECT MAX(n) FROM occ) AS max_cell,
         |   (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 <> 0) AS n_corpus)
         |SELECT n_vecs, n_cells, c, max_cell,
         |  (max_cell * c * 1000) // n_vecs AS skew_permille,
         |  ((n_vecs - n_corpus) * 1000) // n_vecs AS new_mass_permille,
         |  CAST(CASE WHEN (max_cell * c * 1000) // n_vecs >= 2000
         |    OR ((n_vecs - n_corpus) * 1000) // n_vecs >= 500
         |    THEN 1 ELSE 0 END AS BIGINT) AS rebuild
         |FROM m""".stripMargin.replaceAll("\n", " ")
    }

    // shared PQ CTE chain (q116/q117/q118/q119/q120): 4×16-dim slices
    // of the fixed-point quantization, codebooks seeded from the first
    // ks=256 vec_ids OF THE SEED POPULATION (`seedCond` — the full table
    // for the one-shot queries, the standing corpus for the maintained
    // q120 index), argmin by exact integer squared L2
    // (na + nb - 2·dot), ties → smaller code_id — mirrors
    // Similarity.pqAssignments / the fold's standing-codebook encode
    private def pqAsgCtes(seedCond: String = ""): String =
      s"""b AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         | sv AS (SELECT vec_id, s.sub,
         |   list_slice(q, s.sub*16 + 1, s.sub*16 + 16) AS sq
         |   FROM b, (SELECT unnest(generate_series(0, 3)) AS sub) s),
         | sv2 AS (SELECT vec_id, sub, sq, ${qdotSql("sq", "sq")} AS snrm
         |   FROM sv),
         | cb AS (SELECT sub, vec_id AS code_id, sq AS cvec, snrm AS cnrm
         |   FROM sv2 WHERE ${seedCond}vec_id < 256),
         | asg AS (SELECT v.vec_id, v.sub,
         |   (min(struct_pack(
         |     l := (v.snrm + cb.cnrm - 2*${qdotSql("v.sq", "cb.cvec")}),
         |     c := cb.code_id))).c AS code_id, 1 AS rn
         |   FROM sv2 v JOIN cb USING (sub) GROUP BY v.vec_id, v.sub)""".stripMargin

    private lazy val q116OracleSql: String =
      s"""WITH ${pqAsgCtes()}
         |SELECT vec_id,
         |  MAX(CASE WHEN sub = 0 THEN code_id END) AS c0,
         |  MAX(CASE WHEN sub = 1 THEN code_id END) AS c1,
         |  MAX(CASE WHEN sub = 2 THEN code_id END) AS c2,
         |  MAX(CASE WHEN sub = 3 THEN code_id END) AS c3
         |FROM asg WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""
        .stripMargin.replaceAll("\n", " ")

    private lazy val q117OracleSql: String =
      s"""WITH ${pqAsgCtes()},
         | qs AS (SELECT sub, sq AS qv, snrm AS qn FROM sv2 WHERE vec_id = 0),
         | lut AS (SELECT cb.sub, cb.code_id,
         |   (qs.qn + cb.cnrm - 2*${qdotSql("qs.qv", "cb.cvec")}) AS pd
         |   FROM cb JOIN qs USING (sub)),
         | ad AS (SELECT a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adist
         |   FROM asg a JOIN lut l ON a.sub = l.sub AND a.code_id = l.code_id
         |   WHERE a.rn = 1 AND a.vec_id <> 0 GROUP BY a.vec_id)
         |SELECT vec_id, adist FROM ad ORDER BY adist, vec_id LIMIT 10"""
        .stripMargin.replaceAll("\n", " ")

    // IVF pruning (q51's chain) composed with PQ codes (pqAsgCtes) and
    // the ADC lookup-table sum: candidates = vectors whose cell is
    // probed, ranked by Σ_sub lut[sub][code]. `seedCond` picks the
    // seed population: the full table for the one-shot q118/q119, the
    // standing corpus for the maintained q120 index.
    private def ivfPqCtes(seedCond: String = ""): String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      val where = if (seedCond.isEmpty) "" else s" WHERE ${seedCond}TRUE"
      s"""${pqAsgCtes(seedCond)},
         | nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings$where),
         | b2 AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm FROM b),
         | ic AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b2
         |   WHERE ${seedCond}vec_id < (SELECT c FROM nc)),
         | qq AS (SELECT q AS qvec, nrm AS qn FROM b2 WHERE vec_id = 0),
         | iasg AS (SELECT vec_id, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b2 CROSS JOIN ic),
         | probes AS (SELECT cent_id FROM ic CROSS JOIN qq
         |   ORDER BY ${cosSql(qdotSql("cvec", "qvec"), "cnrm", "qn")} DESC, cent_id DESC
         |   LIMIT 4),
         | qs AS (SELECT sub, sq AS qv, snrm AS qn2 FROM sv2 WHERE vec_id = 0),
         | lut AS (SELECT cb.sub, cb.code_id,
         |   (qs.qn2 + cb.cnrm - 2*${qdotSql("qs.qv", "cb.cvec")}) AS pd
         |   FROM cb JOIN qs USING (sub)),
         | ad AS (SELECT a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adist
         |   FROM asg a JOIN lut l ON a.sub = l.sub AND a.code_id = l.code_id
         |   WHERE a.rn = 1 GROUP BY a.vec_id)""".stripMargin
    }

    // q19's quality arithmetic -> q20's keep-set -> q23's banded
    // MinHash pairs over the survivors -> q59's min-label connected
    // components (drop non-min cluster members) -> q66's prefix sum ->
    // q65's hash split, chained as CTEs over the SURVIVORS of each stage
    private lazy val q123OracleSql: String = {
      val bucket = graft.operators.Sampling.pctBucketSql("doc_id", "split")
      s"""WITH RECURSIVE sc AS (SELECT doc_id, text,
         |   CAST(greatest(0, 100 - len_pen - punct_pen - stop_bonus) AS BIGINT) AS quality
         |  FROM (SELECT doc_id, text,
         |   CASE WHEN toks < 5 THEN 40 WHEN toks < 20 THEN 10 ELSE 0 END AS len_pen,
         |   CASE WHEN punct_pct > 20 THEN 30 WHEN punct_pct > 10 THEN 10 ELSE 0 END AS punct_pen,
         |   CASE WHEN stop_pct > 0 THEN 0 ELSE 20 END AS stop_bonus
         |  FROM (SELECT doc_id, text, toks,
         |    CASE WHEN chars = 0 THEN 100 ELSE CAST(floor(100.0 * punct / chars) AS BIGINT) END AS punct_pct,
         |    CASE WHEN toks = 0 THEN 0 ELSE CAST(floor(100.0 * stops / toks) AS BIGINT) END AS stop_pct
         |   FROM (SELECT doc_id, text, $tokensSql AS toks, CAST(length(text) AS BIGINT) AS chars,
         |         $punctSql AS punct, ${hitsSql(TextFunctions.StopwordsEn)} AS stops
         |         FROM documents)))),
         | s0 AS (SELECT doc_id, text, quality FROM sc WHERE quality >= 60),
         | keep AS (SELECT MIN(doc_id) AS doc_id
         |   FROM (SELECT doc_id, $fingerprintSql AS fp FROM s0) GROUP BY fp),
         | dd AS (SELECT s0.doc_id, s0.text, s0.quality
         |   FROM s0 JOIN keep USING (doc_id)),
         | ${minhashPairsCtesOver("dd")},
         | edges AS (SELECT doc_a AS a, doc_b AS b FROM mhp
         |           UNION SELECT doc_b, doc_a FROM mhp),
         | reach(id, lbl) AS (
         |   SELECT a, a FROM edges
         |   UNION
         |   SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id),
         | dropd AS (SELECT id FROM (
         |   SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id)
         |   WHERE cluster <> id),
         | ded AS (SELECT doc_id, quality, $tokensSql AS n_tokens
         |   FROM dd WHERE doc_id NOT IN (SELECT id FROM dropd)),
         | o AS (SELECT doc_id, quality, n_tokens,
         |   COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |   FROM ded)
         |SELECT doc_id, quality, n_tokens,
         |  CAST(start_offset AS BIGINT) AS start_offset,
         |  CAST(start_offset // 4096 AS BIGINT) AS chunk_first,
         |  CASE WHEN $bucket < 90 THEN 'train'
         |       WHEN $bucket < 95 THEN 'val' ELSE 'test' END AS split
         |FROM o ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    }

    private lazy val q122OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH ${pqAsgCtes()},
         | nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings),
         | b2 AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm FROM b),
         | ic AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b2
         |   WHERE vec_id < (SELECT c FROM nc)),
         | qs AS (SELECT vec_id AS query_id, q AS qvec, nrm AS qn FROM b2
         |   WHERE vec_id < 5),
         | iasg AS (SELECT vec_id, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b2 CROSS JOIN ic),
         | probes AS (SELECT query_id, cent_id FROM (
         |   SELECT qs.query_id, ic.cent_id,
         |     row_number() OVER (PARTITION BY qs.query_id ORDER BY
         |       ${cosSql(qdotSql("ic.cvec", "qs.qvec"), "ic.cnrm", "qs.qn")} DESC,
         |       ic.cent_id DESC) AS pr
         |   FROM ic CROSS JOIN qs) WHERE pr <= 4),
         | qsub AS (SELECT vec_id AS query_id, sub, sq, snrm FROM sv2
         |   WHERE vec_id < 5),
         | lut AS (SELECT qsub.query_id, cb.sub, cb.code_id,
         |   (qsub.snrm + cb.cnrm - 2*${qdotSql("qsub.sq", "cb.cvec")}) AS pd
         |   FROM cb JOIN qsub USING (sub)),
         | ad AS (SELECT l.query_id, a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adist
         |   FROM asg a JOIN lut l ON a.sub = l.sub AND a.code_id = l.code_id
         |   WHERE a.rn = 1 GROUP BY l.query_id, a.vec_id),
         | cand AS (SELECT p.query_id, i.vec_id, ad.adist
         |   FROM iasg i JOIN probes p ON i.cent_id = p.cent_id
         |   JOIN ad ON ad.query_id = p.query_id AND ad.vec_id = i.vec_id
         |   WHERE i.rn = 1 AND i.vec_id <> p.query_id),
         | ranked AS (SELECT query_id, vec_id, adist,
         |   CAST(row_number() OVER (PARTITION BY query_id
         |     ORDER BY adist, vec_id) AS BIGINT) AS rk FROM cand)
         |SELECT query_id, rk, vec_id, adist FROM ranked WHERE rk <= 5
         |ORDER BY query_id, rk""".stripMargin.replaceAll("\n", " ")
    }

    private lazy val q120OracleSql: String =
      s"""WITH ${ivfPqCtes("vec_id % 10 <> 0 AND ")}
         |SELECT i.vec_id, ad.adist FROM iasg i
         |JOIN probes USING (cent_id) JOIN ad ON ad.vec_id = i.vec_id
         |WHERE i.rn = 1 AND i.vec_id <> 0
         |ORDER BY ad.adist, i.vec_id LIMIT 10"""
        .stripMargin.replaceAll("\n", " ")

    private lazy val q118OracleSql: String =
      s"""WITH ${ivfPqCtes()}
         |SELECT i.vec_id, ad.adist FROM iasg i
         |JOIN probes USING (cent_id) JOIN ad ON ad.vec_id = i.vec_id
         |WHERE i.rn = 1 AND i.vec_id <> 0
         |ORDER BY ad.adist, i.vec_id LIMIT 10"""
        .stripMargin.replaceAll("\n", " ")

    private lazy val q119OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH ${ivfPqCtes()},
         | cand AS (SELECT i.vec_id FROM iasg i
         |   JOIN probes USING (cent_id) JOIN ad ON ad.vec_id = i.vec_id
         |   WHERE i.rn = 1 AND i.vec_id <> 0
         |   ORDER BY ad.adist, i.vec_id LIMIT 100),
         | rer AS (SELECT b2.vec_id, ${qdotSql("b2.q", "qq.qvec")} AS dot,
         |   b2.nrm, qq.qn FROM b2 JOIN cand USING (vec_id) CROSS JOIN qq)
         |SELECT vec_id, dot FROM rer
         |ORDER BY ${cosSql("dot", "nrm", "qn")} DESC, vec_id LIMIT 10"""
        .stripMargin.replaceAll("\n", " ")
    }

    // q109's fold-equals-rebuild oracle minus the deleted slice: the
    // maintained index after fold∘delete∘compact must BYTE-equal a
    // from-scratch build over (corpus ∪ admitted) \ deleted
    private lazy val q125OracleSql: String =
      s"""$minhashIngestCtes,
         | dups AS (SELECT DISTINCT new_doc FROM m WHERE 100*n_match >= 50*64)
         |SELECT doc_id, bk FROM (
         |  SELECT doc_id, bk FROM ib0
         |  UNION ALL
         |  SELECT doc_id, bk FROM nb
         |  WHERE doc_id NOT IN (SELECT new_doc FROM dups))
         |WHERE doc_id % 20 <> 0 AND doc_id % 20 <> 3
         |ORDER BY doc_id, bk""".stripMargin.replaceAll("\n", " ")

    // q113's occupancy chain over the REMAINDER: corpus-derived C and
    // seeds, union assignment, deleted slice excluded — every count
    // shifts if a tombstone is dropped or over-applied
    private lazy val q126OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings WHERE vec_id % 10 <> 0),
         | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
         |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
         | asg AS (SELECT vec_id, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b CROSS JOIN c WHERE vec_id % 20 <> 10)
         |SELECT cent_id, COUNT(*) AS n_vecs FROM asg WHERE rn = 1
         |GROUP BY cent_id ORDER BY cent_id""".stripMargin.replaceAll("\n", " ")
    }

    // the full live content of the maintained IVF-PQ layout over the
    // remainder: corpus-seeded books and centroids, union encode, the
    // deleted slice excluded — (vec_id, cell, all m codes) hash-gated
    private lazy val q127OracleSql: String =
      s"""WITH ${ivfPqCtes("vec_id % 10 <> 0 AND ")}
         |SELECT i.vec_id, i.cent_id,
         |  MAX(CASE WHEN a.sub = 0 THEN a.code_id END) AS c0,
         |  MAX(CASE WHEN a.sub = 1 THEN a.code_id END) AS c1,
         |  MAX(CASE WHEN a.sub = 2 THEN a.code_id END) AS c2,
         |  MAX(CASE WHEN a.sub = 3 THEN a.code_id END) AS c3
         |FROM iasg i JOIN asg a ON a.vec_id = i.vec_id
         |WHERE i.rn = 1 AND a.rn = 1 AND i.vec_id % 20 <> 10
         |GROUP BY i.vec_id, i.cent_id ORDER BY i.vec_id"""
        .stripMargin.replaceAll("\n", " ")

    // q111's lineage split (corpus-derived C and seeds, union
    // assignment), aggregated to per-cell occupancy instead of probed
    private lazy val q113OracleSql: String = {
      def cosSql(dot: String, na: String, nb: String) =
        s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
      s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
         |   ELSE LEAST(65536, GREATEST(4,
         |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
         |   FROM embeddings WHERE vec_id % 10 <> 0),
         | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
         |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
         | asg AS (SELECT vec_id, cent_id,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY
         |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
         |   FROM b CROSS JOIN c)
         |SELECT cent_id, COUNT(*) AS n_vecs FROM asg WHERE rn = 1
         |GROUP BY cent_id ORDER BY cent_id""".stripMargin.replaceAll("\n", " ")
    }
}
