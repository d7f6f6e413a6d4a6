package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, TextFunctions}
import graft.util.Checkpoints

/** Document deduplication operators for the LLM-data-pipeline surface.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 32-byte key (md5 of the
  *    canonical form) — never on the full text;
  *  - near-dup goes through an *inverted index* (explode token/shingle →
  *    equi-join on the token) or MinHash-LSH banding, never a cross join;
  *  - candidate pruning uses integer arithmetic only (size filters) so
  *    WholeStageCodegen keeps the verify step tight.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Hash-distribute on `key` across the session's default parallelism
    * with an EXPLICIT partition count, so an expensive per-row kernel
    * above it runs on every core. The count matters twice: a bare
    * `repartition(col)` is an AQE coalescing target
    * (REPARTITION_BY_COL), and on a small shuffle AQE folds it back to
    * ONE partition — re-serializing the kernel it was meant to spread
    * (measured at sf0.1: 2.8 s kernel on the scan partition vs 0.42 s
    * distributed); and the local test files are single-row-group
    * parquet, so without the exchange the scan stage itself cannot
    * parallelize. At cluster scale the exchange moves exactly the bytes
    * the kernel reads and buys even balance across skewed files.
    */
  private[operators] def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(key))

  /** One row per distinct canonical text: the surviving doc_id (min) and
    * the duplicate-cluster size. The groupBy key is `fingerprint` (md5),
    * so the shuffle moves 32-byte keys, not documents.
    */
  def exactDedupSummary(docs: DataFrame): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** The deduplicated corpus: keeps the lowest doc_id per fingerprint.
    * Implemented as min-id + self-semi-join rather than a full-row
    * window sort: the shuffle payload stays (fp, doc_id) pairs.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    val keep = exactDedupSummary(docs).select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Exact word-set Jaccard near-duplicate pairs via inverted index.
    *
    * thresholdPct is an integer percent; the test
    * `100·|A∩B| ≥ t·(|A|+|B|−|A∩B|)` is pure integer arithmetic (oracle
    * bit-exact). Candidate generation joins docs sharing ≥1 word —
    * at scale, stopword-like ultra-frequent tokens would fan out, so
    * callers should pre-filter by document-frequency (see maxDf).
    *
    * Join strategy follows the two contracts:
    *  - maxDf=None is the VERIFIER: quadratic by design, so the caller
    *    must bound `docs` to a subset — which makes the exploded word
    *    list broadcastable by construction. Broadcasting it avoids
    *    shuffling on the word key at all (a shared vocabulary makes
    *    every word a skew key: one shuffle partition would absorb a
    *    whole df² block), and the probe side is repartitioned on doc_id
    *    so each word's quadratic block fans out across every core —
    *    NOT left on the scan's partitioning, where a single small
    *    parquet file would serialize the entire join (measured 10× at
    *    sf0.1: 10 s single-partition → 1.0 s).
    *  - maxDf=Some is the SCALE path: df-pruning bounds any key's
    *    fanout at maxDf² and leaves many distinct rare keys, so the
    *    plain shuffle equi-join partitions evenly and nothing needs to
    *    be broadcast-sized.
    *
    * vs [[jaccardNearDupPairsPrefix]]: this count-aggregation form wins
    * when the qualifying-pair DENSITY is high — verify work is
    * Θ(candidate pairs) either way, and here it is a map-side-combining
    * hash agg over narrow (doc_a, doc_b) rows in one codegen stage, no
    * arrays shipped. Measured on the synthetic corpus (31-word
    * vocabulary, 23% of ALL pairs qualify at t=80, sf0.1): 4.9 s here
    * vs 12.5 s prefix-filtered, even though prefix filtering shrinks
    * the candidate join 8×. On a Zipfian real-web corpus the density
    * inverts (≪1% of pairs qualify, huge vocabulary) and the prefix
    * variant is the one that survives scale.
    *
    * EAGER on the verifier path: with maxDf=None this is not a lazy
    * plan builder — the exploded word stream is materialized
    * ([[graft.util.Checkpoints.stage]]) at CALL time, running a real
    * tokenization job. Plan-only callers (explain, plan-shape tests)
    * must pass a bounded input, same contract as
    * [[minhashNearDupPairsPortable]].
    */
  def jaccardNearDupPairs(
      docs: DataFrame,
      thresholdPct: Int,
      maxDf: Option[Long] = None,
      checkpointDir: Option[String] = None): DataFrame = {
    // VERIFIER path only (maxDf=None — bounded input by contract): the
    // exploded (doc_id, word) stream feeds 3-4 plan subtrees (per-doc
    // sizes, both candidate-join sides), and without materialization
    // each re-tokenized the docs from the parquet text (4 scans in the
    // committed q21 before-plan); the bounded input makes the staged
    // stream bounded too. The maxDf SCALE path is deliberately NOT
    // staged: there the stream is corpus-sized, and materializing it
    // costs more than the whitespace re-tokenization it would save —
    // the same economics that keep buildJaccardPrefixIndex's two
    // token passes unstaged.
    val rawWords = docs.select(col("doc_id"),
      explode(TextFunctions.wordSet(col("text"))).as("word"))
    val words =
      if (maxDf.nonEmpty) rawWords
      else Checkpoints.stage(rawWords,
        checkpointDir.orElse(Checkpoints.configured(docs.sparkSession)))
    val filtered = maxDf match {
      case Some(m) =>
        val df = words.groupBy("word").agg(count(lit(1)).as("df"))
          .filter(col("df") <= m).select("word")
        words.join(broadcast(df), Seq("word"))
      case None => words
    }
    val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("nw"))
    val a = (if (maxDf.isEmpty) spread(filtered, "doc_id") else filtered).as("a")
    val b = (if (maxDf.isEmpty) broadcast(filtered) else filtered).as("b")
    val inter = a
      .join(b, col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("nw", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("nw", "n_b"), "doc_b")
      .filter(lit(100L) * col("n_common") >=
        lit(thresholdPct.toLong) * (col("n_a") + col("n_b") - col("n_common")))
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
  }

  /** Exact Jaccard pairs via AllPairs-style PREFIX FILTERING (Bayardo,
    * Ma & Srikant, "Scaling Up All Pairs Similarity Search", WWW'07;
    * Chaudhuri et al.'s SSJoin primitive). Same output contract as
    * [[jaccardNearDupPairs]] — identical rows, exact integer arithmetic
    * — but a candidate-then-verify shape built for sparse-overlap
    * corpora.
    *
    * Candidate generation: sort each doc's tokens by global document
    * frequency (rarest first, word as tie-break — a total order
    * consistent across docs) and index only the first `n − cmin + 1`,
    * where `cmin = ⌈t·n/100⌉` is the smallest intersection any
    * qualifying partner can have (from `c ≥ t·(n_a+n_b)/(100+t)` and
    * `n_b ≥ c`). LOSSLESS: a qualifying pair shares ≥ max(cminA, cminB)
    * tokens, so its globally-rarest common token sits inside BOTH
    * prefixes — the equi-join on prefix tokens cannot miss a true pair
    * (DedupSpec proves set equality against a brute-force cross join).
    * Prefix tokens are by construction the COLD join keys, so no key
    * absorbs a df² block; a size-compatibility conjunct
    * (`100·min(n_a,n_b) ≥ t·max`) prunes further at the join.
    * Survivors are verified exactly: `array_intersect` over the two
    * word arrays (distinct elements by construction).
    *
    * When to use which — measured at sf0.1, 2000 docs, t=80, the
    * ADVERSARIAL corpus for pruning (31-word vocabulary, 23% of all
    * pairs qualify): candidate join 35.8M → 4.5M rows (8×) under
    * prefix filtering, yet end-to-end 12.5 s vs 4.9 s for the
    * count-agg form, because at that density verification dominates
    * and shipping word arrays loses to counting narrow rows. Sparse
    * Zipfian corpora invert that: candidates dominate, and this is
    * the variant that survives 100× scale.
    */
  def jaccardNearDupPairsPrefix(docs: DataFrame, thresholdPct: Int): DataFrame =
    jaccardPairsFromPrefixIndex(buildJaccardPrefixIndex(docs), thresholdPct)

  /** The per-doc index [[jaccardNearDupPairsPrefix]] consumes: one row
    * per doc with its token array in global rarity order (df asc, word
    * asc) and size. Split out because the pair join reads the index
    * FOUR times (both join sides + both verification lookups): at 100 TB
    * the fused form would re-tokenize the corpus four times, so build
    * the index once, persist or write it, and call
    * [[jaccardPairsFromPrefixIndex]] — the same build/probe split as
    * the IVF family (`Similarity.buildIvfIndex`/`ivfProbe`).
    */
  def buildJaccardPrefixIndex(docs: DataFrame): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(TextFunctions.wordSet(col("text"))).as("word"))
    val dfreq = words.groupBy("word").agg(count(lit(1)).as("df"))
    words
      .join(dfreq, "word")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("word")))).as("tw"))
      .select(col("doc_id"), size(col("tw")).cast("long").as("nw"),
        transform(col("tw"), x => x.getField("word")).as("ws"))
  }

  /** Prefix-filtered exact Jaccard pairs over a prebuilt
    * [[buildJaccardPrefixIndex]] frame (persist it first at scale).
    *
    * NO forced broadcast anywhere: the index and the doc→word-array
    * table are both O(corpus), so a mandatory `broadcast()` hint would
    * OOM exactly at the scale this variant exists for. The candidate
    * self-join is a plain shuffle equi-join on the prefix token — cold
    * keys by construction (rarest-first prefixes), so it partitions
    * evenly — and the two verification lookups are plain equi-joins on
    * doc_id. At test scale AQE promotes all three to broadcast joins on
    * its own; at 100 TB they stay shuffles, which is the only shape
    * that survives.
    */
  def jaccardPairsFromPrefixIndex(byDoc: DataFrame, thresholdPct: Int): DataFrame = {
    val t = thresholdPct.toLong
    val pref = byDoc
      .withColumn("cmin", ((lit(t) * col("nw") + 99L) / 100L).cast("long"))
      .select(col("doc_id"), col("nw"),
        explode(slice(col("ws"), lit(1),
          (col("nw") - col("cmin") + 1L).cast("int"))).as("word"))
    val a = pref.as("a")
    val b = pref.as("b")
    val cand = a
      .join(b, col("a.word") === col("b.word") && col("a.doc_id") < col("b.doc_id") &&
        lit(100L) * least(col("a.nw"), col("b.nw")) >=
          lit(t) * greatest(col("a.nw"), col("b.nw")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = byDoc.select(col("doc_id"), col("ws"), col("nw"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("ws").as("wa"), col("nw").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("ws").as("wb"), col("nw").as("n_b")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("wa"), col("wb"))).cast("long"))
      // 100c ≥ t(a+b−c) ⟺ (100+t)c ≥ t(a+b): the single-c form matters
      // because predicate pushdown SUBSTITUTES n_common's defining
      // expression into the filter — one reference means the
      // array_intersect evaluates once per candidate, not twice
      .filter(lit(100L + t) * col("n_common") >= lit(t) * (col("n_a") + col("n_b")))
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
  }

  /** MinHash signatures, one row per doc: `numHashes` independent
    * min-hashes over word `n`-gram shingles.
    *
    * Shape matters for performance: explode shingles ONCE, then 64
    * partial-aggregating `min(xxhash64(seed_i, shingle))` columns.
    * (A per-row `transform(sequence(0,63), i -> array_min(...))` Column
    * re-evaluates the shingle-array construction per hash function —
    * measured 25× slower at sf0.01.) The groupBy gets map-side combine,
    * so the shuffle carries one 8·numHashes-byte row per doc.
    */
  def minhashSignatures(docs: DataFrame, shingleN: Int, numHashes: Int): DataFrame = {
    val sh = docs
      .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
      .select(col("doc_id"),
        explode_outer(TextFunctions.shinglesFromTokens(col("_tk"), shingleN)).as("shingle"))
      .filter(col("shingle").isNotNull) // see contaminationReport: outer + post-filter keeps the inferred size()>0 predicate from sinking below the staging projects
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  private def bandedSignatures(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")

  /** LSH banding: candidate pairs whose signatures collide in ≥1 band.
    * bands·rows must equal the signature length. Scale path: the only
    * shuffles are (band, bandHash) groupings — O(docs·bands) rows of a
    * few bytes, then exact verification on the candidate set only.
    * Identical subtrees on both self-join sides → Spark ReusedExchange
    * computes the signature aggregation once.
    */
  def minhashCandidatePairs(
      docs: DataFrame,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4): DataFrame =
    candidatesFromSigs(minhashSignatures(docs, shingleN, bands * rows), bands, rows)

  private def candidatesFromSigs(sigs: DataFrame, bands: Int, rows: Int): DataFrame = {
    val banded = bandedSignatures(sigs, bands, rows)
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash near-dup pairs: LSH candidates + estimated Jaccard from
    * signature agreement (fraction of matching minhashes).
    *
    * Payload diet (100 TB): the signature table feeds THREE plan
    * subtrees — the band explode plus the two per-pair verify lookups —
    * so it is staged ONCE ([[graft.util.Checkpoints.stage]]; pass
    * `checkpointDir` or set `spark.graft.checkpointDir` for reliable
    * storage at scale) and the banding exchange + candidate self-join
    * carry only thin (doc_id, band, band_hash) rows. The 8·sigLen-byte
    * signatures never ride the O(docs·bands) shuffle or the quadratic
    * candidate join; they are equi-joined back only for pairs that
    * survive banding, the bucket cap and pair-dedup — the same
    * build-once/probe contract as [[buildJaccardPrefixIndex]].
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      minEstJaccardPct: Int = 50,
      maxBucketSize: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = {
    val sigLen = bands * rows
    val sigs = Checkpoints.stage(
      minhashSignatures(docs, shingleN, sigLen),
      checkpointDir.orElse(Checkpoints.configured(docs.sparkSession)))
    val banded0 = sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        xxhash64(slice(col("sig"), b * rows + 1, lit(rows))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
    // Skew guard: a band bucket with B members yields B²/2 candidates but
    // carries almost no signal (it's the LSH analog of a stopword). Cap
    // bucket size — same-key window, so the count rides the join shuffle.
    val wBucket = Window.partitionBy("band", "band_hash")
    val banded = banded0
      .withColumn("_bn", count(lit(1)).over(wBucket))
      .filter(col("_bn") <= maxBucketSize)
      .drop("_bn")
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)).cast("long"))
      .filter(lit(100L) * col("n_match") >= lit(minEstJaccardPct.toLong * sigLen))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        lit(sigLen).cast("long").as("sig_len"))
  }

  // -------------------------------------------------------------------------
  // Portable (oracle-checkable) variants: hashes derived from md5 via
  // PortableHash instead of xxhash64, so an external DuckDB oracle
  // reproduces signatures, buckets and pair sets bit-for-bit. Plan shape
  // is identical to the xxhash64 paths (explode-once + K partial aggs,
  // banding with ReusedExchange, bucket-size skew cap).
  // -------------------------------------------------------------------------

  /** MinHash signatures via the fused native kernel
    * ([[graft.plans.MinHashSigExpr]]): one md5 per shingle and all K
    * running minima inside the projection — no explode, no partial-agg
    * shuffle, the signature is born finished in the scan stage.
    * Spec-asserted equal to [[minhashSignaturesPortableComposed]].
    */
  def minhashSignaturesPortable(
      docs: DataFrame,
      shingleN: Int,
      numHashes: Int,
      seed: Long = 7L): DataFrame =
    // spread BEFORE the kernel: the fused signature expression is the
    // expensive stage (one md5 + K running minima per shingle), and it
    // must not run on the scan's (possibly single) input partition.
    // Tokens are STAGED so the shingle lambda slices an attribute
    // instead of re-splitting the document per position (see
    // TextFunctions.ngramsFromTokens).
    spread(docs.filter(TextFunctions.hasShingles(col("text"), shingleN)), "doc_id")
      .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
      .select(col("doc_id"),
        graft.plans.MinHashSigExpr(
          TextFunctions.shinglesFromTokens(col("_tk"), shingleN), seed, numHashes).as("sig"))

  /** Composed reference form (explode-once + K partial-min aggregates —
    * one md5 per shingle, two integer ops per family member inside the
    * partial aggregation): kept as the equality baseline for the fused
    * kernel and as the shape the DuckDB oracle mirrors directly.
    */
  def minhashSignaturesPortableComposed(
      docs: DataFrame,
      shingleN: Int,
      numHashes: Int,
      seed: Long = 7L): DataFrame = {
    val ab = PortableHash.affineConstants(seed, numHashes)
    val sh = docs
      .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
      .select(col("doc_id"),
        explode_outer(TextFunctions.shinglesFromTokens(col("_tk"), shingleN)).as("shingle"))
      .filter(col("shingle").isNotNull) // outer + post-filter: see contaminationReport
      .select(col("doc_id"), PortableHash.md5Hex32(col("shingle")).as("h"))
    val aggs = (0 until numHashes).map(i =>
      min(PortableHash.affine(col("h"), ab(i))).as(s"m$i"))
    sh.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** Oracle-checkable MinHash-LSH near-dup pairs. The band join key is
    * the band's signature slice rendered as a string (equality on the
    * tuple — same semantics as hashing the band, but engine-neutral).
    *
    * Same payload-diet shape as [[minhashNearDupPairs]]: signatures are
    * staged once and only (doc_id, band, band_key) rides the banding
    * shuffle and candidate join; signatures rejoin per surviving pair.
    * Staging also means the minhash kernel runs exactly once — the
    * three consumers read materialized rows, so no inferred filter or
    * alias substitution can ever re-run it on the scan partition.
    */
  def minhashNearDupPairsPortable(
      docs: DataFrame,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      minEstJaccardPct: Int = 50,
      maxBucketSize: Int = 100,
      seed: Long = 7L,
      checkpointDir: Option[String] = None): DataFrame = {
    val sigs = Checkpoints.stage(
      minhashSignaturesPortable(docs, shingleN, bands * rows, seed),
      checkpointDir.orElse(Checkpoints.configured(docs.sparkSession)))
    minhashNearDupPairsFromSigs(sigs, bands, rows, minEstJaccardPct,
      maxBucketSize, checkpointDir)
  }

  /** The banding + verify half of [[minhashNearDupPairsPortable]], for
    * callers that already hold MATERIALIZED `(doc_id, sig)` signatures
    * (a staged frame or a persisted sig table) — e.g. a corpus-prep
    * pipeline that computed the signatures in the same single text
    * pass as its other per-doc signals. `sigs` is consumed three times
    * (banding + the two per-pair verify joins), so it must be cheap to
    * re-scan; pass a staged frame, never a raw text pipeline.
    *
    * The banded (doc_id, band, band_key) set is itself staged before
    * the self-join: both join sides and the bucket-cap count read ONE
    * materialization instead of re-running the explode + cap window
    * per side (the pre-staging plan duplicated the whole banding
    * pipeline under each side of the join).
    */
  def minhashNearDupPairsFromSigs(
      sigs: DataFrame,
      bands: Int = 16,
      rows: Int = 4,
      minEstJaccardPct: Int = 50,
      maxBucketSize: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = {
    val sigLen = bands * rows
    val banded0 = sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), b =>
        array_join(
          transform(slice(col("sig"), b * rows + 1, lit(rows)), _.cast("string")),
          ","))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
    val wBucket = Window.partitionBy("band", "band_key")
    val banded = Checkpoints.stage(
      banded0
        .withColumn("_bn", count(lit(1)).over(wBucket))
        .filter(col("_bn") <= maxBucketSize)
        .drop("_bn"),
      checkpointDir.orElse(Checkpoints.configured(sigs.sparkSession)))
    val l = banded.as("l")
    val r = banded.as("r")
    val pairs = l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_key") === col("r.band_key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
    pairs
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)).cast("long"))
      .filter(lit(100L) * col("n_match") >= lit(minEstJaccardPct.toLong * sigLen))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        lit(sigLen.toLong).as("sig_len"))
  }

  /** The banding projection shared by the one-shot and incremental
    * MinHash paths: one row per (doc, band) with the band rendered as a
    * single join key `bk` = "band:min1,min2,…" — engine-neutral string
    * equality on the signature slice, and ONE key column so the
    * persisted index can be bucketed (and the join planned) on it.
    */
  private[graft] def bandKeyArray(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat_ws(":", b.cast("string"),
        array_join(
          transform(slice(sig, b * rows + lit(1), lit(rows)),
            _.cast("string")), ",")))

  private def bandKeys(sigs: DataFrame, bands: Int, rows: Int): DataFrame =
    sigs.select(col("doc_id"),
      explode(bandKeyArray(col("sig"), bands, rows)).as("bk"))

  // the tombstone table of ONE band-index GENERATION: `<prefix>_dels`
  // for gen 0, `<prefix>_dels_g<nano>` for a promoted generation — the
  // name derives from the bands table's own generation suffix, so a
  // reader's (bands, sigs, dels) triple resolves ATOMICALLY from the
  // one currentIndexTables call (see [[IndexLifecycle]] "Generations").
  private[graft] def delsTableFor(bandsTable: String): String = {
    val prefix = prefixOf(bandsTable)
    prefix + "_dels" + bandsTable.stripPrefix(s"${prefix}_bands")
  }

  // the standing deletes a reader of `curBands` must apply: the
  // generation's own dels table, plus the base `<prefix>_dels` table
  // when it holds UN-consumed rows. The base table appears in two
  // roles: (a) gen 0's own dels after a compaction promoted past it —
  // its rows were CONSUMED by that rewrite and the table is only
  // retained (age-gated) for scans still reading gen 0, marked
  // `graft.consumed` at promote time so new readers skip it (unioning
  // it would wrongly suppress ids re-folded after the purge); (b) a
  // layout last written by the pre-generation-scoped binary — no
  // marker, rows are live deletes (the old binary deleted files on
  // consumption), union them.
  private[graft] def standingDels(
      spark: SparkSession, curBands: String): Option[DataFrame] = {
    val genDels  = delsTableFor(curBands)
    val baseDels = prefixOf(curBands) + "_dels"
    val sources = (Seq(genDels).filter(spark.catalog.tableExists) ++
      (if (baseDels != genDels && spark.catalog.tableExists(baseDels) &&
           !propsOf(spark, baseDels).contains(Consumed)) Seq(baseDels)
       else Seq.empty))
    if (sources.isEmpty) None
    else Some(sources.map(spark.table).reduce(_ union _))
  }

  /** The lineage prefix of any band/sig index table name — base
    * (`<prefix>_bands`) or generation (`<prefix>_bands_g<nano>`).
    */
  private[graft] def prefixOf(table: String): String =
    table.replaceAll("_(bands|sigs)(_g\\d+)?$", "")

  // the band lineage's ledger keys (all in the ACTIVE bands table's
  // TBLPROPERTIES; copied forward by every compaction)
  private val Folds    = "graft.folds"
  private val Intent   = "graft.folds.intent"
  private val PurgeWin = "graft.folds.purgewin"
  private val Dels     = "graft.dels"
  private val NFiles   = "graft.compact.nfiles"
  private val Consumed = "graft.consumed"
  // set by a compaction's CTAS, unset by its promote: a generation
  // carrying it is not yet readable ([[currentIndexTables]])
  private val Pending  = "graft.pending"

  private def propsOf(spark: SparkSession, table: String): Map[String, String] =
    spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def tagsOf(props: Map[String, String], key: String): Set[String] =
    props.get(key).map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private def setProps(spark: SparkSession, table: String,
      kv: (String, String)*): Unit =
    if (kv.nonEmpty)
      spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES(" + kv.map { case (k, v) =>
        s"'$k'='${v.replace("'", "''")}'" }.mkString(",") + ")")

  private def ledger(tags: Set[String]): String = tags.toSeq.sorted.mkString(",")

  /** Resolve a lineage's CURRENT physical tables — the generation
    * manifest of the table-backed index family (the band-index analog
    * of [[Similarity.activeCellsDir]]). Generation 0 is the unsuffixed
    * pair [[ensureMinhashBandIndex]] writes; each
    * [[compactMinhashBandIndex]] writes a fresh `_g<nano>` pair marked
    * pending, and the PROMOTE EVENT is the one catalog op that unsets
    * the mark on the new bands table (see [[IndexLifecycle]]). Callers
    * may hold any generation's names across maintenance; every read
    * path re-resolves through this.
    */
  def currentIndexTables(
      spark: SparkSession, tablePrefix: String): (String, String) = {
    val cat  = spark.sessionState.catalog
    val base = s"${tablePrefix}_bands"
    def promoted(sfx: String): Boolean =
      sfx.isEmpty || (
        try !cat.getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(base + sfx, Some("default"))).properties.contains(Pending)
        catch { case _: org.apache.spark.sql.AnalysisException => false })
    familySuffixes(spark, tablePrefix, "bands")
      .find(sfx => cat.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(
          s"${tablePrefix}_sigs$sfx", Some("default"))) && promoted(sfx))
      .map(sfx => (s"$base$sfx", s"${tablePrefix}_sigs$sfx"))
      .getOrElse((base, s"${tablePrefix}_sigs"))
  }

  private def bandStamp(sfx: String): Option[Long] =
    IndexLifecycle.parseStamp(sfx, "", "_g")

  // every standing generation suffix of one table family, newest first
  // ("" = the unsuffixed gen-0 pair, always last). Resolution only
  // trusts bands, but retirement must also see ORPHAN sigs/dels
  // generations (a crash between the two CTAS).
  private def familySuffixes(
      spark: SparkSession, tablePrefix: String,
      family: String): Seq[String] = {
    val base = s"${tablePrefix}_$family"
    val gens = spark.sessionState.catalog
      .listTables("default", s"$base*")
      .map(_.table)
      .collect {
        case n if n == base => ""
        case n if n.startsWith(s"${base}_g") &&
            n.stripPrefix(s"${base}_g").forall(_.isDigit) =>
          n.stripPrefix(base)
      }
    gens.filter(_.nonEmpty).sortBy(s => -bandStamp(s).getOrElse(-1L)) ++
      gens.filter(_.isEmpty)
  }

  /** The catalog-table storage of one band lineage: generations are
    * `<prefix>_{bands,sigs,dels}<suffix>` triples identified by their
    * bands table name, ledgers and the nfiles stamp live in the bands
    * TBLPROPERTIES.
    */
  private final class BandStore(spark: SparkSession, prefix: String,
      buckets: Int) extends IndexLifecycle.Store {
    type Snapshot = Option[Checkpoints.Staged]
    private val Families = Seq("bands", "sigs", "dels")
    private def sfxOf(bands: String) = bands.stripPrefix(s"${prefix}_bands")
    private def sigsOf(bands: String) = s"${prefix}_sigs${sfxOf(bands)}"

    def lockKey: String = prefix
    def leasePath: org.apache.hadoop.fs.Path =
      WriterLease.lockPathFor(spark, "default", prefix)
    def recover(): Unit = ()
    def active(): String = currentIndexTables(spark, prefix)._1

    def generations(): Seq[IndexLifecycle.Generation] = {
      val cat = spark.sessionState.catalog
      def created(t: String): Option[Long] =
        try Some(cat.getTableMetadata(org.apache.spark.sql.catalyst
          .TableIdentifier(t, Some("default"))).createTime)
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      Families.flatMap(familySuffixes(spark, prefix, _)).distinct.map { sfx =>
        new IndexLifecycle.Generation(s"${prefix}_bands$sfx", bandStamp(sfx),
          Families.flatMap(f => created(s"${prefix}_$f$sfx")).maxOption.getOrElse(0L))
      }
    }

    def drop(gen: String): Unit =
      Families.foreach(f => spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$f${sfxOf(gen)}"))

    def hasTombstones(gen: String): Boolean = standingDels(spark, gen).isDefined

    // refreshed first: a fold appended by ANOTHER process is invisible
    // in this session's cached file index
    def fileCounts(gen: String): Seq[Long] = Seq(gen, sigsOf(gen)).map { t =>
      spark.catalog.refreshTable(t)
      spark.table(t).inputFiles.length.toLong
    }
    def stampedCounts(gen: String): Option[Seq[Long]] =
      propsOf(spark, gen).get(NFiles).flatMap(IndexLifecycle.parseCounts)
    def writeStamp(gen: String, counts: Seq[Long]): Unit =
      setProps(spark, gen, NFiles -> counts.mkString(","))

    // MATERIALIZED once and reused by both CTAS passes: as a lazy plan
    // it would be evaluated twice, and a cross-process delete landing
    // between the evaluations would make bands and sigs DISAGREE on
    // purged docs. Also the baseline of the late forward.
    def snapshot(gen: String): Snapshot = standingDels(spark, gen).map(d =>
      Checkpoints.stageOwned(d.select("doc_id").distinct(),
        Checkpoints.configured(spark)))
    def release(s: Snapshot): Unit = s.foreach(_.release())

    // both tables drop the snapshot's docs; the new generation starts
    // with NO dels table (the purge is the rewrite). buckets=0 derives
    // the count from the standing table's bucket spec, so a caller-free
    // compaction never re-buckets a lineage (a later fold's append
    // would fail on the mismatch). Sigs first; the bands table is
    // created pending, so neither is readable before the promote, and
    // both then take the copied `graft.*` properties (ledgers, the
    // Bucketing validity key).
    def rewrite(gen: String, s: Snapshot): String = {
      val bk = if (buckets > 0) buckets else bucketCountOf(spark, gen).getOrElse(8)
      val props = propsOf(spark, gen)
      // the purge-window ledger (names only, O(crashed tags)): a purge
      // while a crashed fold's intent stands makes that tag's replay
      // undecidable when nothing of the batch survived — record those
      // tags so the replay refuses (see foldIntoMinhashBandIndex)
      val purgewin =
        if (s.isEmpty) tagsOf(props, PurgeWin)
        else tagsOf(props, PurgeWin) ++ (tagsOf(props, Intent) -- tagsOf(props, Folds))
      val newSfx = s"_g${IndexLifecycle.newStamp()}"
      Seq((sigsOf(gen), s"${prefix}_sigs$newSfx", "doc_id", Map.empty[String, String]),
          (gen, s"${prefix}_bands$newSfx", "bk",
            if (purgewin.nonEmpty) Map(PurgeWin -> ledger(purgewin)) else Map.empty[String, String]))
        .foreach { case (src, destTable, key, extra) =>
          val live = s.fold(spark.table(src))(dels =>
            spark.table(src).join(broadcast(dels.df), Seq("doc_id"), "left_anti"))
          val staged = Checkpoints.stageOwned(live.repartition(bk, col(key)),
            Checkpoints.configured(spark))
          try {
            val view = s"${destTable}_ctas_src"
            staged.df.createOrReplaceTempView(view)
            val pending = if (key == "bk") s" TBLPROPERTIES('$Pending'='true')" else ""
            spark.sql(s"CREATE TABLE $destTable USING parquet " +
              s"CLUSTERED BY ($key) SORTED BY ($key) INTO $bk BUCKETS$pending " +
              s"AS SELECT * FROM $view")
            spark.catalog.dropTempView(view)
          } finally staged.release()
          setProps(spark, destTable,
            (propsOf(spark, src).filter(_._1.startsWith("graft.")) ++ extra).toSeq: _*)
        }
      s"${prefix}_bands$newSfx"
    }

    def promote(gen: String): Unit =
      spark.sql(s"ALTER TABLE $gen UNSET TBLPROPERTIES IF EXISTS ('$Pending')")

    def forwardLate(old: String, gen: String, s: Snapshot): Unit =
      standingDels(spark, old).foreach { cur =>
        val late = s.fold(cur.select("doc_id"))(snap =>
          cur.select("doc_id").join(broadcast(snap.df), Seq("doc_id"), "left_anti"))
        if (!late.isEmpty) {
          val newDels = delsTableFor(gen)
          if (!spark.catalog.tableExists(newDels))
            graft.pipeline.Cleanup.ensureWritable(spark, "default", newDels)
          late.write.mode("append").format("parquet").saveAsTable(newDels)
          val lateTags = tagsOf(propsOf(spark, old), Dels)
          val newTags  = tagsOf(propsOf(spark, gen), Dels)
          if ((lateTags -- newTags).nonEmpty)
            setProps(spark, gen, Dels -> ledger(lateTags ++ newTags))
          log.warn(s"compactMinhashBandIndex($prefix): forwarded late " +
            "tombstone rows from the superseded generation — a " +
            "cross-process delete raced this rewrite outside the " +
            "writer lease")
        }
      }

    // the base `<prefix>_dels` rows were consumed by this rewrite (as
    // gen 0's own dels or a pre-upgrade leftover): MARK the table
    // consumed so new readers skip it; it retires with its generation
    def consumed(old: String, s: Snapshot): Unit =
      if (s.isDefined && spark.catalog.tableExists(s"${prefix}_dels"))
        setProps(spark, s"${prefix}_dels", Consumed -> "true")
  }

  /** The bucket count a lineage was actually built with, read from the
    * catalog's bucket spec — the source of truth every append is
    * validated against, so maintenance rewrites derive from it instead
    * of trusting a default that may not match the build.
    */
  private[graft] def bucketCountOf(
      spark: SparkSession, table: String): Option[Int] = {
    val Array(db, tbl) =
      if (table.contains(".")) table.split("\\.", 2)
      else Array("default", table)
    try {
      if (!spark.catalog.tableExists(s"$db.$tbl")) None
      else spark.sessionState.catalog
        .getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(tbl, Some(db)))
        .bucketSpec.map(_.numBuckets)
    } catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** The LIVE view of a persisted index table (`_bands` or `_sigs`):
    * physical rows minus the lineage's standing tombstones. The
    * tombstone set is bounded between compactions, so the anti-join
    * build side is an explicit BROADCAST — the bucketed scan keeps its
    * layout (broadcast joins preserve child partitioning; the bucket-
    * consuming window above this still plans zero exchanges).
    */
  private[graft] def liveIndexTable(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      bandsTable: String): DataFrame = {
    // re-resolve the lineage's CURRENT generation: the caller may hold
    // names from before a compaction promote, and the superseded pair
    // is retained (then retired) rather than rewritten in place
    val prefix = prefixOf(bandsTable)
    val (curBands, curSigs) = currentIndexTables(spark, prefix)
    val resolved =
      if (prefixOf(table) != prefix) table
      else if (table.startsWith(s"${prefix}_sigs")) curSigs
      else curBands
    val t = spark.table(resolved)
    standingDels(spark, curBands).fold(t)(dels =>
      t.join(broadcast(dels.select("doc_id").distinct()), Seq("doc_id"), "left_anti"))
  }

  /** The skew-capped LIVE view of a persisted band index (tombstoned
    * docs excluded; over-cap buckets — boilerplate piles — dropped
    * whole; the count window consumes the table's `bk` bucketing, no
    * exchange). Shared by the batch and streaming ingestion paths.
    */
  private[graft] def cappedBandIndex(
      spark: org.apache.spark.sql.SparkSession,
      bandsTable: String,
      maxBucketSize: Int): DataFrame =
    liveIndexTable(spark, bandsTable, bandsTable)
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy("bk")))
      .filter(col("_bn") <= maxBucketSize)
      .drop("_bn")

  /** Persisted MinHash band index — the layout behind
    * [[incrementalNearDupPairs]]: the STANDING corpus is shingled,
    * minhashed and banded ONCE, landing as two bucketed tables
    * (`<prefix>_bands` (doc_id, bk) bucketed on `bk`; `<prefix>_sigs`
    * (doc_id, sig) bucketed on `doc_id`) via the
    * [[Bucketing.ensureBucketed]] idempotence contract — pay at ingest,
    * reuse every batch. Returns (bandsTable, sigsTable).
    */
  def ensureMinhashBandIndex(
      docs: DataFrame,
      tablePrefix: String,
      srcTag: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      buckets: Int = 8,
      seed: Long = 7L): (String, String) = {
    val spark      = docs.sparkSession
    val bandsTable = s"${tablePrefix}_bands"
    val sigsTable  = s"${tablePrefix}_sigs"
    // fold the DATA FINGERPRINT into the validity key (the
    // Similarity.inputFingerprint contract): a corpus regenerated at
    // the same path with the same schema — the wiped-and-rebuilt /tmp
    // fixture case — must invalidate the persisted index instead of
    // silently deduping new text against old band/sig tables
    val fpTag = s"$srcTag|fp=${Similarity.inputFingerprint(docs)}"
    // validity is probed with the UNSTAGED plan (schema + catalog props
    // only) against the lineage's CURRENT generation (compaction copies
    // the graft.src key forward): a repeated ensure call costs ZERO
    // corpus work. Staging preserves the plan's schema, so the staged
    // frames below produce the same layout keys the probe checked.
    val rawSigs = minhashSignaturesPortable(docs, shingleN, bands * rows, seed)
    def current(tables: (String, String)): Boolean =
      Bucketing.isCurrent(bandKeys(rawSigs, bands, rows), tables._1,
        buckets, Seq("bk"), fpTag) &&
      Bucketing.isCurrent(rawSigs, tables._2, buckets, Seq("doc_id"), fpTag)
    val cur = currentIndexTables(spark, tablePrefix)
    if (current(cur)) cur
    else {
      // the rebuild is a WRITE: it retires every generation and
      // restarts the lineage at gen 0. Validity is re-probed under the
      // JVM lock, so the loser of a thread race reuses the winner's
      // rebuild instead of redoing (and clobbering) it.
      IndexLifecycle.guarded(spark, tablePrefix, None,
          WriterLease.lockPathFor(spark, "default", tablePrefix),
          skip = current(currentIndexTables(spark, tablePrefix))) {
        // truncate-and-load: every generation of the stale lineage goes
        // — stale tombstones must not suppress freshly indexed docs
        IndexLifecycle.retire(spark, new BandStore(spark, tablePrefix, buckets),
          None, Set.empty, Some(IndexLifecycle.Policy.of(spark).copy(gcStaleHours = 0L)))
        // ... including any orphaned warehouse dir a previous JVM left
        graft.pipeline.Cleanup.ensureWritable(
          spark, "default", delsTableFor(bandsTable))
        // staged so the expensive minhash kernel runs ONCE for both writes
        val sigs = Checkpoints.stage(rawSigs, Checkpoints.configured(spark))
        Bucketing.ensureBucketed(bandKeys(sigs, bands, rows),
          bandsTable, buckets, Seq("bk"), fpTag)
        Bucketing.ensureBucketed(sigs, sigsTable, buckets, Seq("doc_id"), fpTag)
      }
      currentIndexTables(spark, tablePrefix)
    }
  }

  /** Fold an ADMITTED batch into a persisted MinHash band index — the
    * q95 incremental-index contract applied to near-dup ingestion
    * (the append leg of [[IndexLifecycle]]).
    * After [[incrementalNearDupPairs]] admits the batch's
    * non-duplicates, their band/sig rows land as NEW BUCKET FILES
    * appended to the two bucketed tables — O(|batch|) work; the corpus
    * rows are never re-read, re-hashed or rewritten — so the next batch
    * dedups against corpus ∪ admitted. Fold ≡ full rebuild
    * (DedupSpec): folding batch B into index(A) yields tables row-equal
    * to [[ensureMinhashBandIndex]](A ∪ B).
    *
    * Idempotent per `batchTag`: folded tags are recorded in the bands
    * table's TBLPROPERTIES (`graft.folds`), so a replayed ingestion
    * batch (driver retry, at-least-once upstream) is a no-op rather
    * than a double-append. The crash window between the two appends and
    * the ledger write is closed by an INTENT property
    * (`graft.folds.intent`, set before the appends): a replay of a tag
    * whose intent is still standing probes each table for the batch's
    * doc_ids and re-appends only the table whose append never committed
    * (Spark appends are all-or-nothing via the commit protocol), so a
    * crashed fold REPAIRS on replay instead of double-appending — the
    * probe scan is paid only on that crash-replay path, never in the
    * O(|batch|) happy path. A rebuild through [[ensureMinhashBandIndex]]
    * (new srcTag/schema) drops the table and with it the fold ledger —
    * folds always belong to exactly one base lineage. Caller contract:
    * `admitted` holds NEW doc_ids only (admission filtered them);
    * re-folding an id that is already indexed is the caller's bug, same
    * as any append sink.
    */
  def foldIntoMinhashBandIndex(
      admitted: DataFrame,
      tablePrefix: String,
      batchTag: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      buckets: Int = 8,
      seed: Long = 7L): Unit = {
    require(!batchTag.contains(","),
      s"batchTag must not contain ',' (the fold-ledger separator): '$batchTag'")
    val spark = admitted.sparkSession
    // the physical pair resolves UNDER the guard, so a fold never
    // appends to a generation a concurrent compaction is retiring
    IndexLifecycle.guarded(spark, tablePrefix, Some(s"$tablePrefix|fold|$batchTag"),
        WriterLease.lockPathFor(spark, "default", tablePrefix)) {
      val (bandsTable, sigsTable) = currentIndexTables(spark, tablePrefix)
      val props  = propsOf(spark, bandsTable)
      val folded = tagsOf(props, Folds)
      if (!folded.contains(batchTag)) {
        // a standing intent for THIS tag means a previous attempt
        // crashed between its appends and the ledger write — probe each
        // table before re-appending (repair instead of double-append).
        // The intent is a SET (one crashed tag must survive other tags
        // folding in between), trimmed to tags still absent from the
        // ledger so it can't grow past the crash population
        val intents  = tagsOf(props, Intent)
        val suspect  = intents.contains(batchTag)
        // tags whose crash window CONTAINED a tombstone purge — for
        // these, "no batch doc present" no longer means "append never
        // landed"
        val purgewin = tagsOf(props, PurgeWin)
        IndexLifecycle.requireNotTombstoned(
          standingDels(spark, bandsTable), admitted, "doc_id")
        setProps(spark, bandsTable, Intent -> ledger((intents -- folded) + batchTag))
        // owned stage, released once both appends land: an ingestion
        // loop folding batches for the session's lifetime must not
        // accumulate one staged block per batch
        val staged = Checkpoints.stageOwned(
          minhashSignaturesPortable(admitted, shingleN, bands * rows, seed),
          Checkpoints.configured(spark))
        try {
          val sigs = staged.df
          // an append is all-or-nothing (commit protocol), so under a
          // standing intent "any batch doc_id present" ⇔ "that table's
          // append landed" — paid only on the crash-replay path
          def landed(table: String): Boolean = suspect && !spark.table(table)
            .join(broadcast(sigs.select("doc_id").distinct()), "doc_id")
            .isEmpty
          // crash-replay REPAIR must not resurrect deleted docs:
          // between the crash and the replay, batch docs may have been
          // tombstoned and the index compacted (purging the dels
          // table), so the landed sibling now holds only the
          // SURVIVORS — re-appending the full batch to the missing
          // table would diverge sigs from bands and bring deleted
          // signatures back into verification joins. On the suspect
          // path, the missing table gets only the doc_ids the landed
          // sibling still holds (the batch-ids broadcast keeps the
          // probe tiny; paid only on crash-replay). A batch deleted IN
          // FULL and compacted away leaves no survivors at all — that
          // replay is refused below via the purge-window ledger (the
          // standing-tombstone guard covers the uncompacted case
          // loudly), so no silent re-append can resurrect a completed
          // takedown.
          def survivorsOf(sibling: String)(df: DataFrame): DataFrame =
            if (!suspect) df
            else df.join(
              broadcast(spark.table(sibling)
                .join(broadcast(sigs.select("doc_id").distinct()), "doc_id")
                .select("doc_id").distinct()),
              Seq("doc_id"), "left_semi")
          val bandsLanded = landed(bandsTable)
          val sigsLanded  = landed(sigsTable)
          // the UNDECIDABLE region, fenced: when a purge ran inside this
          // tag's crash window and NEITHER side holds any batch doc, a
          // batch deleted in full and physically purged is
          // indistinguishable from one whose appends never landed —
          // silently re-appending would resurrect a completed takedown,
          // silently skipping would drop a never-indexed batch. Refuse
          // loudly and demand an explicit operator decision under a
          // fresh tag (the tag stays poisoned in the intent + purge
          // ledgers).
          if (suspect && purgewin.contains(batchTag) &&
              !bandsLanded && !sigsLanded)
            throw new IllegalStateException(
              s"fold replay of crashed tag '$batchTag' is undecidable: " +
                "a tombstone purge ran while its intent was standing, " +
                "so a batch deleted in full and compacted away is " +
                "indistinguishable from one whose appends never " +
                "landed. Re-submit under a NEW batchTag if the batch " +
                "should (re-)enter the index.")
          // append resolves columns BY NAME and must match the table's
          // bucket spec exactly — same keys/counts as ensureMinhashBandIndex
          if (!bandsLanded) {
            val out = if (sigsLanded) survivorsOf(sigsTable)(bandKeys(sigs, bands, rows))
                      else bandKeys(sigs, bands, rows)
            out.write.mode("append").format("parquet")
              .bucketBy(buckets, "bk").sortBy("bk")
              .saveAsTable(bandsTable)
          }
          if (!sigsLanded) {
            val out = if (bandsLanded) survivorsOf(bandsTable)(sigs) else sigs
            out.write.mode("append").format("parquet")
              .bucketBy(buckets, "doc_id").sortBy("doc_id")
              .saveAsTable(sigsTable)
          }
        } finally staged.release()
        // a tag resolved decidably (something landed → survivors
        // repair) leaves the purge-window ledger
        setProps(spark, bandsTable,
          Folds    -> ledger(folded + batchTag),
          Intent   -> ledger(intents -- folded - batchTag),
          PurgeWin -> ledger(purgewin - batchTag))
        // every fold appends one file set per bucket: compact under the
        // guard this fold already holds once the bands table averages
        // `autoCompactFilesPerUnit` files per bucket
        if (IndexLifecycle.Policy.of(spark).filesPerUnitDue(
            spark.table(bandsTable).inputFiles.length, buckets))
          compactMinhashBandIndex(spark, tablePrefix, buckets)
      }
    }
  }

  /** Tombstone DELETION from a maintained [[ensureMinhashBandIndex]]
    * lineage — [[graft.operators.Similarity.deleteFromIvfIndex]]'s
    * contract for the band index (the replace leg of
    * [[IndexLifecycle]]): `delIds` (a `doc_id` column) appends to the
    * active generation's dels table — O(|delete|) work, the band/sig
    * tables untouched — and every reader ([[liveIndexTable]]) excludes
    * the docs immediately, so the next batch can re-admit text that
    * only the deleted docs duplicated. Physical purge rides
    * [[compactMinhashBandIndex]]: delete∘compact ≡
    * rebuild-from-remainder (q125 gates this against the oracle).
    *
    * Idempotent per `delTag` (ledger in the bands table's
    * `graft.dels` TBLPROPERTIES, the fold-ledger pattern) — and
    * naturally idempotent even without it: a crash between the append
    * and the ledger write replays as duplicate tombstone rows, which
    * anti-join semantics make harmless. Deleting a never-indexed doc
    * is likewise a no-op. Re-INSERTING a deleted doc requires a
    * compaction in between (the fold path rejects batches that
    * intersect standing tombstones — the old rows are still physical).
    */
  def deleteFromMinhashBandIndex(
      delIds: DataFrame,
      tablePrefix: String,
      delTag: String): Unit = {
    require(!delTag.contains(","),
      s"delTag must not contain ',' (the ledger separator): '$delTag'")
    val spark = delIds.sparkSession
    IndexLifecycle.guarded(spark, tablePrefix, Some(s"${tablePrefix}_dels|$delTag"),
        WriterLease.lockPathFor(spark, "default", tablePrefix)) {
      val resolve = () => currentIndexTables(spark, tablePrefix)._1
      if (!tagsOf(propsOf(spark, resolve()), Dels).contains(delTag)) {
        // the graft.dels LEDGER rides the settle loop so the winning
        // bands table records the tag
        val bandsTable = IndexLifecycle.settle(
            s"delete '$delTag' on lineage '$tablePrefix'", resolve) { bt =>
          val delsTable = delsTableFor(bt)
          // first delete of a generation CREATES its dels table — clear
          // any orphaned same-name warehouse dir first
          if (!spark.catalog.tableExists(delsTable))
            graft.pipeline.Cleanup.ensureWritable(spark, "default", delsTable)
          delIds.select(col("doc_id").cast("long").as("doc_id"))
            .write.mode("append").format("parquet").saveAsTable(delsTable)
          setProps(spark, bt, Dels -> ledger(tagsOf(propsOf(spark, bt), Dels) + delTag))
        }
        // distinct ids, not rows: replayed deletes append duplicates
        if (IndexLifecycle.Policy.of(spark).tombstoneDebtDue(
            standingDels(spark, bandsTable)
              .fold(0L)(_.select("doc_id").distinct().count())))
          compactMinhashBandIndex(spark, tablePrefix)
      }
    }
  }

  /** Small-file compaction and tombstone purge for a maintained
    * [[ensureMinhashBandIndex]] lineage — the [[IndexLifecycle.compact]]
    * skeleton over the catalog-table store: every
    * [[foldIntoMinhashBandIndex]] appends one bucket-file set per
    * batch, and this rewrites both tables to ~one file per bucket
    * (aligning the shuffle partitioner with the bucket hash so each
    * writer task holds one whole bucket) as a NEW generation pair
    * carrying every `graft.*` table property — the Bucketing validity
    * key AND the fold/delete ledgers survive, so repeated ensure calls
    * stay zero-cost and a replayed tag still no-ops. Rows are unchanged
    * apart from the purged tombstones (DedupSpec pins row equality and
    * pair-output parity). `buckets` = 0 keeps the lineage's own bucket
    * count; `force` rewrites even when the skip rule holds.
    */
  def compactMinhashBandIndex(
      spark: SparkSession,
      tablePrefix: String,
      buckets: Int = 0,
      force: Boolean = false): Unit =
    IndexLifecycle.compact(spark, new BandStore(spark, tablePrefix, buckets), force,
      skip = !spark.catalog.tableExists(currentIndexTables(spark, tablePrefix)._1))

  /** Incremental near-dup INGESTION: dedup a NEW batch of documents
    * against the persisted band index of the standing corpus — the
    * production path for continuous corpus growth, where re-running the
    * batch-global [[minhashNearDupPairsPortable]] over corpus+batch
    * would re-shingle and re-hash 100 TB to admit a few GB.
    *
    * Scale shape: only the BATCH is shingled/minhashed (the expensive
    * text kernel); the corpus contributes its compact band/sig tables,
    * consumed in place from their bucket files — the corpus TEXT is
    * never re-read, the corpus side never reshuffles (`bk`-bucketed
    * scan straight into the join; the batch side, |batch|·bands rows,
    * is the broadcast/shuffle side), and signature verification joins
    * the surviving pairs back against the `doc_id`-bucketed sig table.
    * The index-side skew cap mirrors the batch variant's: an over-cap
    * bucket (a boilerplate pile) is dropped whole, counted with a
    * shuffle-free window over the bucketed layout. Folding the admitted
    * batch into the index afterwards is [[foldIntoMinhashBandIndex]]
    * (the q95 incremental-index contract; q109 gates fold ≡ rebuild).
    *
    * Output: (new_doc, dup_of, n_match) — batch→corpus matches with
    * ≥ `minEstJaccardPct`% of signature positions agreeing.
    */
  def incrementalNearDupPairs(
      newDocs: DataFrame,
      bandsTable: String,
      sigsTable: String,
      shingleN: Int = 3,
      bands: Int = 16,
      rows: Int = 4,
      minEstJaccardPct: Int = 50,
      maxBucketSize: Int = 100,
      seed: Long = 7L): DataFrame = {
    val spark  = newDocs.sparkSession
    val sigLen = bands * rows
    val newSigs = Checkpoints.stage(
      minhashSignaturesPortable(newDocs, shingleN, sigLen, seed),
      Checkpoints.configured(spark))
    val newBands = bandKeys(newSigs, bands, rows)
    val idx = cappedBandIndex(spark, bandsTable, maxBucketSize)
    val pairs = idx
      .join(broadcast(newBands.select(col("doc_id").as("new_doc"), col("bk"))), "bk")
      .select(col("new_doc"), col("doc_id").as("dup_of"))
      .distinct()
    // verification: the corpus sig table is the STREAMED side (at scale
    // it is the big one); the pairs×batch-sig product — bounded by the
    // batch's candidate fan-out, never the corpus — is the broadcast
    // build side, so the verify pass is a map-only probe over the
    // doc_id-bucketed sig files
    val probe = pairs.join(
      broadcast(newSigs.select(col("doc_id").as("new_doc"), col("sig").as("sig_a"))),
      "new_doc")
    liveIndexTable(spark, sigsTable, bandsTable)
      .select(col("doc_id").as("dup_of"), col("sig").as("sig_b"))
      .join(broadcast(probe), "dup_of")
      .withColumn("n_match",
        size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x)).cast("long"))
      .filter(lit(100L) * col("n_match") >= lit(minEstJaccardPct.toLong * sigLen))
      .select(col("new_doc"), col("dup_of"), col("n_match"))
  }

  /** 60-bit md5 SimHash signatures: explode distinct words, one md5 per
    * word, then 60 sum-aggregated bit votes per doc (map-side combine).
    * 60 bits (15 hex chars) keeps every value — including 1<<59 — positive
    * in engines that raise on signed-64 overflow.
    */
  def simhashSignatures60(docs: DataFrame): DataFrame = {
    // spread before the per-word md5 explode (same rationale as
    // minhashSignaturesPortable — the kernel must leave the scan stage)
    val w = spread(docs, "doc_id")
      .select(col("doc_id"), explode(TextFunctions.wordSet(col("text"))).as("word"))
      .select(col("doc_id"), PortableHash.md5Hex60(col("word")).as("h"))
    val voteAggs = (0 until 60).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j"))
    val bits = (0 until 60).map(j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    w.groupBy("doc_id")
      .agg(voteAggs.head, voteAggs.tail: _*)
      .select(col("doc_id"), bits.reduce(_ + _).as("sig"))
  }

  /** Fused variant of [[simhashSignatures60]]: the whole 60-bit
    * signature in one native pass per row
    * ([[graft.plans.SimHashSig60Expr]]) — no word explode, no 60-vote
    * shuffle; identical output (spec-asserted), so the q24 oracle still
    * mirrors the composed arithmetic. The cheap size() pre-filter
    * mirrors the composed form's explode semantics (wordless docs
    * disappear) without a post-filter on the expensive expression.
    */
  def simhashSignatures60Fused(docs: DataFrame): DataFrame =
    spread(docs, "doc_id")
      .filter(size(TextFunctions.wordSet(col("text"))) > 0)
      .select(col("doc_id"),
        graft.plans.SimHashSig60Expr(TextFunctions.wordSet(col("text"))).as("sig"))

  /** Oracle-checkable SimHash near-dup pairs: 4 bands of 15 bits, bucket
    * cap, exact Hamming verify via popcount of the XOR.
    *
    * The banded (doc_id, sig, band, band_val) set is STAGED before the
    * self-join: without it, each join side replays the whole upstream
    * pipeline — the parquet text scan, the fused SimHash kernel and
    * the bucket-cap window all ran twice (the candidate join duplicates
    * its input subtree; signatures ride the banded rows here, so unlike
    * the MinHash path there is no staged sig frame to damp the replay).
    * One materialization of 4 narrow rows per doc buys scan+kernel+
    * window exactly once at any scale.
    */
  def simhashNearDupPairsPortable(
      docs: DataFrame,
      maxHamming: Int = 16,
      maxBucketSize: Int = 100,
      checkpointDir: Option[String] = None): DataFrame = {
    val withSig = simhashSignatures60Fused(docs)
    val banded0 = withSig.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 15).bitwiseAND(lit(0x7FFFL))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_val")
    val wBucket = Window.partitionBy("band", "band_val")
    val banded = Checkpoints.stage(
      banded0
        .withColumn("_bn", count(lit(1)).over(wBucket))
        .filter(col("_bn") <= maxBucketSize)
        .drop("_bn"),
      checkpointDir.orElse(Checkpoints.configured(docs.sparkSession)))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r,
        col("l.band") === col("r.band") &&
          col("l.band_val") === col("r.band_val") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** 64-bit SimHash over words — the fused native expression (one
    * xxhash64 per word, one pass; see [[graft.plans.SimHash64Expr]] for
    * why this beats the Column-fold composition, which re-hashed every
    * word 64 times).
    */
  def simhash64(text: Column): Column =
    graft.plans.SimHash64Expr(TextFunctions.wordSet(text))

  /** The original higher-order-function composition, kept as the
    * reference implementation the native expression is asserted
    * against (same role as VectorFunctions.cosine vs CosineSimExpr).
    */
  def simhash64Composed(text: Column): Column = {
    val words = TextFunctions.wordSet(text)
    // Per-word ±1 bit votes as a 64-element array built with
    // compile-time bit indices (shiftright takes a literal Int).
    def bitVotes(w: Column): Column =
      array((0 until 64).map(i =>
        shiftright(xxhash64(w), i).bitwiseAND(1L) * 2L - 1L): _*)
    val votes = aggregate(
      words,
      array_repeat(lit(0L), 64),
      (acc, w) => zip_with(acc, bitVotes(w), _ + _))
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0, p).otherwise(lit(0L))),
      lit(0L), _ + _)
  }

  /** Benchmark decontamination report: for every training document, how
    * many of its distinct word n-grams also appear in the benchmark/eval
    * set. Training corpora must be scrubbed of eval n-grams before
    * training, or downstream scores are contaminated; the standard test
    * is exactly this n-gram overlap.
    *
    * Scale design (100 TB): the benchmark side is small by nature (eval
    * suites are thousands of documents, not billions), so its distinct
    * shingle set is BROADCAST — the training corpus is scanned once,
    * map-side semi-joined (zero shuffle of the corpus), and the per-doc
    * overlap count partial-aggregates before the one small shuffle on
    * doc_id. The cheap [[TextFunctions.hasShingles]] pre-filter keeps the
    * expensive shingle array from being built twice (see
    * [[minhashSignaturesPortable]]).
    *
    * Output: doc_id, n_shingles, n_overlap, overlap_pct — only documents
    * with at least one overlapping n-gram (clean docs produce no row).
    */
  def contaminationReport(train: DataFrame, bench: DataFrame, n: Int = 5): DataFrame = {
    val benchSh = bench
      .filter(TextFunctions.hasShingles(col("text"), n))
      .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
      .select(explode(TextFunctions.shinglesFromTokens(col("_tk"), n)).as("shingle"))
      .distinct()
    // explode_outer, NOT explode: explode's inferred `size(sh) > 0`
    // filter is pushed below the spread exchange by alias substitution,
    // re-evaluating the whole n-gram build per row on the scan
    // partition (measured: the entire 5 s of this query at sf0.1). The
    // outer variant infers no filter; the isNotNull below sits ON the
    // generated attribute and cannot sink past the Generate.
    spread(train.filter(TextFunctions.hasShingles(col("text"), n)), "doc_id")
      .withColumn("_tk", TextFunctions.loweredTokens(col("text")))
      .withColumn("sh", TextFunctions.shinglesFromTokens(col("_tk"), n))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode_outer(col("sh")).as("shingle"))
      .filter(col("shingle").isNotNull)
      .join(broadcast(benchSh), Seq("shingle"), "leftsemi")
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_overlap"))
      .withColumn("overlap_pct", expr("(100 * n_overlap) div n_shingles"))
      .select("doc_id", "n_shingles", "n_overlap", "overlap_pct")
  }

  /** Winnowing near-dup pairs: documents sharing ≥ `minShared` winnow
    * fingerprints (char-k-gram rolling-hash window minima — catches
    * copied PASSAGES that word-level Jaccard dilutes away). Inverted
    * index on the fingerprint with document-frequency pruning: a
    * fingerprint present in more than `maxDf` docs is boilerplate and
    * generates no candidates (same hot-key guard as the LSH banders —
    * never all-pairs, and the df cap bounds any single join key's fanout
    * at maxDf², independent of corpus size).
    */
  /** The kernel half of [[winnowNearDupPairs]]: df-pruned
    * (doc_id, fp) winnow fingerprint rows. Split out (un-staged) so the
    * plan-shape audit can probe the kernel-distribution repartition
    * directly; callers should stage the result before any self-join.
    */
  def winnowPrunedFps(
      docs: DataFrame,
      k: Int = 8,
      window: Int = 4,
      maxDf: Int = 20): DataFrame = {
    val fps = spread(docs.filter(length(col("text")) >= k), "doc_id")
      // fused native kernel (plans/WinnowFpExpr) — one pass per row,
      // distributed off the scan partitioning (see spread); outer +
      // post-filter so the inferred size()>0 predicate cannot sink
      // below the exchange and run the kernel on the scan partition
      .select(col("doc_id"),
        explode_outer(graft.plans.WinnowFpExpr.fps(col("text"), k, window)).as("fp"))
      .filter(col("fp").isNotNull)
    // df via a window (not a count+join): pruning then costs ONE
    // evaluation of the expensive winnow subtree
    fps
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= maxDf)
      .drop("df")
  }

  def winnowNearDupPairs(
      docs: DataFrame,
      k: Int = 8,
      window: Int = 4,
      minShared: Int = 3,
      maxDf: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    // STAGED before the self-join: the hoped-for ReusedExchange does
    // NOT survive AQE's broadcast promotion of one side (the committed
    // q55 plan showed the scan + winnow kernel + cap window duplicated
    // under both sides), so materialize the narrow (doc_id, fp) rows
    // once and let both sides read them.
    val pruned = Checkpoints.stage(
      winnowPrunedFps(docs, k, window, maxDf),
      checkpointDir.orElse(Checkpoints.configured(docs.sparkSession)))
    val l = pruned.as("l")
    val r = pruned.as("r")
    l.join(r, col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
      .groupBy(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** End-to-end near-duplicate removal: the API a user actually calls.
    * Takes the corpus plus a near-dup pair set (from any of the pair
    * generators above — [[minhashNearDupPairsPortable]],
    * [[simhashNearDupPairsPortable]], [[winnowNearDupPairs]],
    * [[jaccardNearDupPairs]]), clusters the pairs with
    * [[Clusters.connectedComponents]], and anti-joins the corpus against
    * the non-minimum members of each cluster. Exactly one document (the
    * smallest id) survives per duplicate cluster; singletons never enter
    * the pair graph and are untouched.
    *
    * Scale design (100 TB): the drop list is O(|duplicates|), not
    * O(|corpus|) — the anti-join shuffles only ids on the corpus side
    * (AQE broadcasts the drop list when it is small, the common case).
    */
  def nearDedup(
      corpus: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      src: String = "doc_a",
      dst: String = "doc_b",
      checkpointDir: Option[String] = None): DataFrame = {
    val drop = Clusters.duplicatesToDrop(pairs, src, dst, checkpointDir)
      .withColumnRenamed("doc_id", idCol)
    corpus.join(drop, Seq(idCol), "left_anti")
  }
}
