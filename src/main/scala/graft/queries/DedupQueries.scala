package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.{PortableHash, TextFunctions}
import graft.operators.Dedup

import QuerySupport._

/** Exact and near-duplicate detection over the documents table:
  * fingerprints, Jaccard / MinHash / SimHash / winnowing pairs,
  * clusters, and the maintained MinHash band index (ingest, fold,
  * delete).
  */
object DedupQueries extends QueryFamily(Family.Dedup) {

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

  private[queries] lazy val incrNearDupOracleSql: String =
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

  query("q20_fingerprint_dedup", oracle =
      s"""SELECT $fingerprintSql AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
         |FROM documents GROUP BY fp ORDER BY fp""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Dedup.exactDedupSummary(t(s, d, "documents"))
      .orderBy("fp")
  }

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
  query("q21_jaccard_pairs", oracle =
      """WITH w AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS word
        |           FROM documents WHERE doc_id < 2000),
        |     sizes AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |               FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common, sa.nw AS n_a, sb.nw AS n_b
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_common >= 80 * (sa.nw + sb.nw - n_common)
        |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Dedup.jaccardNearDupPairs(
      t(s, d, "documents").filter(col("doc_id") < 2000), thresholdPct = 80)
      .orderBy("doc_a", "doc_b")
  }

  // LSH near-dup operators, portable (md5-family) variants so the DuckDB
  // oracle reproduces signatures → buckets → pair sets bit-for-bit. The
  // synthetic corpus is LSH's adversarial case — all docs draw on one
  // small vocabulary, so band buckets are hot and the candidate set
  // approaches all-pairs; a real web corpus spreads buckets. Bounded
  // subsets keep bench honest about the operator cost rather than the
  // corpus pathology.
  query("q23_minhash_pairs", oracle =
      s"""WITH $minhashPairsCtesSql
         |SELECT doc_a, doc_b, n_match, CAST(64 AS BIGINT) AS sig_len FROM mhp
         |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Dedup.minhashNearDupPairsPortable(t(s, d, "documents").filter(col("doc_id") < 10000))
      .orderBy("doc_a", "doc_b")
  }

  query("q24_simhash_pairs", oracle = {
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
    }) { (s, d) =>
    Dedup.simhashNearDupPairsPortable(
      t(s, d, "documents").filter(col("doc_id") < 10000), maxHamming = 16)
      .orderBy("doc_a", "doc_b")
  }

  /** Jaccard with document-frequency pruning on the FULL corpus: words
    * appearing in > maxDf docs are excluded from candidate generation
    * (they carry no similarity signal and cause the quadratic fan-out)
    * while set sizes stay exact — the realistic full-scale variant of
    * q21, oracle-mirrored including the df cut.
    */
  query("q48_jaccard_rarewords", oracle =
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
        |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Dedup.jaccardNearDupPairs(t(s, d, "documents"), thresholdPct = 5,
        maxDf = Some(100L))
      .orderBy("doc_a", "doc_b")
  }

  /** Passage-level near-dup pairs via winnowing fingerprints (q54's
    * fingerprints driven through the inverted-index + df-pruning shape).
    */
  query("q55_winnow_pairs", oracle = {
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
    }) { (s, d) =>
    Dedup.winnowNearDupPairs(t(s, d, "documents"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over q23's MinHash near-dup pairs — the
    * clustering step that turns a pair list into "one survivor per
    * duplicate cluster" ([[graft.operators.Clusters]]). Output is every
    * node in the pair graph labeled with its cluster's minimum doc_id;
    * the oracle recomputes the same fixpoint with a recursive CTE
    * (reachable-minimum over the symmetrized edge set).
    */
  // min-label fixpoint = minimum reachable node over the symmetrized
  // edge set; the recursive CTE's UNION dedup guarantees termination
  query("q59_neardup_clusters", oracle =
      s"""WITH RECURSIVE $minhashPairsCtesSql,
         | edges AS (SELECT doc_a AS a, doc_b AS b FROM mhp
         |           UNION SELECT doc_b, doc_a FROM mhp),
         | reach(id, lbl) AS (
         |   SELECT a, a FROM edges
         |   UNION
         |   SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.id)
         |SELECT id, MIN(lbl) AS cluster FROM reach GROUP BY id ORDER BY id"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Clusters.connectedComponents(
        Dedup.minhashNearDupPairsPortable(
          t(s, d, "documents").filter(col("doc_id") < 10000)),
        src = "doc_a", dst = "doc_b")
      .orderBy("id")
  }

  /** Benchmark decontamination report ([[Dedup.contaminationReport]]):
    * documents sharing word 4-grams with a held-out "benchmark" split
    * (doc_id % 10 == 0 — ~10% of the corpus, dense enough that the
    * overlap report has real rows at sf0.01). The broadcast-bench /
    * map-side-semi-join shape is the 100 TB design; the oracle mirrors
    * the shingle definition n-gram for n-gram.
    */
  query("q60_contamination", oracle = {
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
    }) { (s, d) =>
    val docs = t(s, d, "documents")
    Dedup.contaminationReport(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), n = 4)
      .orderBy("doc_id")
  }

  /** AllPairs prefix-filtered exact Jaccard — the sparse-corpus scale
    * path of [[graft.operators.Dedup.jaccardNearDupPairsPrefix]]. Same
    * contract (and oracle shape) as q21; bounded tighter because the
    * synthetic corpus's 23%-pair density is the variant's worst case
    * (trade measured in the operator's scaladoc and COVERAGE.md).
    */
  // same oracle shape as q21 — the prefix-filtered variant must
  // reproduce the count-aggregation contract row for row
  query("q63_jaccard_prefix", oracle =
      """WITH w AS (SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS word
        |           FROM documents WHERE doc_id < 500),
        |     sizes AS (SELECT doc_id, COUNT(*) AS nw FROM w GROUP BY doc_id),
        |     inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |               FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
        |               GROUP BY a.doc_id, b.doc_id)
        |SELECT doc_a, doc_b, n_common, sa.nw AS n_a, sb.nw AS n_b
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE 100 * n_common >= 80 * (sa.nw + sb.nw - n_common)
        |ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
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

  /** CCNet-style cross-document boilerplate removal
    * ([[graft.operators.Boilerplate.dedupStats]]): disjoint 20-token
    * chunks, fingerprinted corpus-wide; a chunk survives only as its
    * fingerprint's first (lowest doc_id, chunk_id) occurrence. The
    * injected header makes every document's first two chunks duplicates
    * of doc 0's — the per-doc kept/dropped tallies are hash-checked
    * against a DuckDB window-rank mirror.
    */
  // chunking mirrors q69's idiom (trim-split, NO lower — Chunking
  // keeps case); canonical pick = window rank over the fingerprint,
  // equivalent to the Spark side's groupBy-min + equi-join
  query("q77_chunk_dedup", oracle = {
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
    }) { (s, d) =>
    graft.operators.Boilerplate.dedupStats(
        t(s, d, "documents").select(col("doc_id"),
          concat(lit(BoilerplateHeader + " "), col("text")).as("text")),
        window = 20)
      .orderBy("doc_id")
  }

  /** Canonical-doc selection ([[graft.operators.Clusters.canonicalize]]):
    * the dedup ACTION on the q59 cluster table — longest member wins its
    * cluster (id tie-break), every member gets a `(keep_id, kept)`
    * verdict. Same pair graph and doc subset as q59/q23.
    */
  // q59's recursive components + longest-member-wins window: the
  // ranking is total within a cluster (n_chars DESC, id ASC on a
  // unique id), so keep_id is deterministic cross-engine
  query("q101_canonical_docs", oracle =
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
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
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
  // batch (doc_id≡0 mod 10) vs corpus (rest): signatures recomputed
  // from the raw table on BOTH sides, band key = "band:minima" string
  // (mirrors Dedup.bandKeys), corpus-side bucket cap 100, verify
  // ≥ 50% of 64 signature positions — the q23 machinery split into
  // an ingestion direction
  query("q106_incr_neardup", layouts = Seq(Layouts.q106Index),
    oracle = incrNearDupOracleSql) { (s, d) =>
    Layouts.q106Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
    graft.operators.Dedup.incrementalNearDupPairs(
        batch, "graft_q106_bands", "graft_q106_sigs")
      .orderBy("new_doc", "dup_of")
  }

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
  // fold ≡ rebuild: the maintained index content vs a from-scratch
  // banding over corpus ∪ admitted (admission replayed from raw text)
  query("q109_neardup_fold", layouts = Seq(Layouts.q109Index), oracle = q109OracleSql) { (s, d) =>
    val (bt, st) = Layouts.q109Index(s, d)
    val batch = t(s, d, "documents")
      .filter(col("doc_id") < 10000 && col("doc_id") % 10 === 0)
    val dup = graft.operators.Dedup.incrementalNearDupPairs(batch, bt, st)
      .select(col("new_doc").as("doc_id")).distinct()
    val admitted = batch.join(dup, Seq("doc_id"), "left_anti")
    graft.operators.Dedup.foldIntoMinhashBandIndex(
      admitted, "graft_q109", batchTag = s"$d#batch0")
    s.table(bt).orderBy("doc_id", "bk")
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
  // the composed pipeline: quality gate -> exact dedup -> pack ->
  // split, one hash over the whole manifest
  query("q123_corpus_prep", oracle = q123OracleSql) { (s, d) =>
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
  query("q125_band_delete", layouts = Seq(Layouts.q125Index), oracle = q125OracleSql) { (s, d) =>
    val (bt, st) = Layouts.q125Index(s, d)
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

  // Scale-demo shapes for the probe and plan tooling (ShuffleProbe,
  // Explain), never gated: the UNCAPPED incremental near-dup ingestion —
  // the full batch (10% of all documents, no doc_id cap) deduped
  // against the full corpus index — plus a tenth-batch variant against
  // the SAME corpus index. Together they measure the
  // `Dedup.incrementalNearDupPairs` scale claim: shuffle is bounded by
  // the BATCH (shrinking the batch 10× at constant corpus shrinks
  // shuffle ~10×), and the corpus rows never ride an exchange at all
  // (shuffle records ≪ corpus band rows).
  probe("p01_incr_neardup_uncapped") { (s, d) =>
    val docs = t(s, d, "documents")
    val (bt, st) = graft.operators.Dedup.ensureMinhashBandIndex(
      docs.filter(col("doc_id") % 10 =!= 0), tablePrefix = "graft_p01",
      srcTag = d)
    graft.operators.Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 10 === 0), bt, st)
  }

  probe("p02_incr_neardup_tenthbatch") { (s, d) =>
    val docs = t(s, d, "documents")
    val (bt, st) = graft.operators.Dedup.ensureMinhashBandIndex(
      docs.filter(col("doc_id") % 10 =!= 0), tablePrefix = "graft_p01",
      srcTag = d)
    graft.operators.Dedup.incrementalNearDupPairs(
      docs.filter(col("doc_id") % 100 === 0), bt, st)
  }

  // the ESCALATED connected-components path (ClustersSpec's 200-hop
  // chain, scaled to the fixture): every document chained to its
  // neighbor forms ONE corpus-sized path — the adversarial diameter
  // that pins phase-1 propagation at its 4-round bound and forces the
  // Kiveris star contraction on the label quotient. The shuffle row
  // proves the quotient's edge set SHRINKS per round instead of
  // re-shuffling the corpus-diameter graph O(diameter) times.
  probe("p07_cc_longchain") { (s, d) =>
    val n = t(s, d, "documents").count()
    val edges = t(s, d, "documents")
      .filter(col("doc_id") < n - 1)
      .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
    graft.operators.Clusters.connectedComponents(edges)
      .agg(count(lit(1)).as("n_nodes"),
        countDistinct(col("cluster")).as("n_clusters"))
  }
}
