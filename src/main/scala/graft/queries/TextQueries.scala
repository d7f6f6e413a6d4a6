package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Sampling

import QuerySupport._

/** Text analysis over the documents table: token statistics,
  * language and quality scoring, tokenizer and vocabulary statistics,
  * sampling and mixing, and the lexical search indexes (q90–q97).
  */
object TextQueries extends QueryFamily(Family.Text) {

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

  query("q17_doc_stats", oracle =
      s"""SELECT doc_id, $tokensSql AS n_tokens, $punctSql AS n_punct,
         | ${hitsSql(TextFunctions.StopwordsEn)} AS n_stop,
         | CAST(length(text) AS BIGINT) AS n_chars_m
         |FROM documents ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    spread(t(s, d, "documents"), "doc_id")
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.punctCount(col("text")).as("n_punct"),
        TextFunctions.stopwordCount(col("text")).as("n_stop"),
        length(col("text")).cast("long").as("n_chars_m"))
      .orderBy("doc_id")
  }

  query("q18_lang_id", oracle = langIdSql) { (s, d) =>
    spread(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_guess"))
      .orderBy("doc_id")
  }

  query("q19_quality", oracle = qualitySql) { (s, d) =>
    spread(t(s, d, "documents"), "doc_id")
      .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** Subword token cost + winnowing fingerprint stats per document:
    * BPE-ish regex token count (GPT-2-style pretokenizer — the LLM
    * token-cost proxy) and Rabin–Karp/winnowing local fingerprints
    * (distinct per-window hash minima). Pure per-row codegen'd maps;
    * exact long arithmetic both engines.
    */
  query("q54_winnow_tokens", oracle = {
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
    }) { (s, d) =>
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
  }

  /** Exact frequent words through the SpaceSaving sketch: sketch to a
    * candidate superset (provable for any support > N/k), then recount
    * candidates exactly — deterministic output even though the summary
    * itself is arrival-order-dependent. The corpus vocabulary (31) is
    * below k=64, so here the superset is everything; the eviction path
    * is spec-tested on a planted skewed stream.
    */
  query("q56_heavy_hitters", oracle =
      """WITH w AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
        |   FROM documents)
        |SELECT word, COUNT(*) AS n FROM w WHERE length(word) > 0
        |GROUP BY word HAVING COUNT(*) >= 900 ORDER BY word"""
      .stripMargin.replaceAll("\n", " ")) { (s, d) =>
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

  /** PII masking ([[TextFunctions.maskPii]]) over text with
    * deterministically injected PII (an email, a URL with a numeric
    * query, and a phone number derived from doc_id — so every row
    * exercises all three patterns AND the email→URL→number ordering).
    * The oracle interpolates the exact same pattern constants into
    * DuckDB `regexp_replace(..., 'g')`; outputs are the md5 + length of
    * the masked text, so any divergence in any row fails the hash.
    */
  // the masking chain interpolates the EXACT pattern constants the
  // Spark side compiles (TextFunctions.Pii*Pattern) — same strings,
  // both regex engines, email → URL → number order preserved
  query("q61_mask_pii", oracle = {
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
    }) { (s, d) =>
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
  }

  /** Gopher-style repetition signals ([[graft.operators.Repetition]]):
    * per-document bigram concentration (`top_gram_pct`) and duplicate
    * share (`dup_gram_pct`) as exact integer percents — the quality
    * filter that catches looping/keyword-spam text before training.
    */
  // bigram positions (NOT distinct — the repetition signal needs the
  // raw sequence), then two integer-percent rollups per doc
  query("q62_repetition", oracle = {
      val tokSplit = """regexp_split_to_array(trim(lower(text)), '\s+')"""
      s"""WITH toks AS (SELECT doc_id, $tokSplit AS tk FROM documents),
         | g AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(tk)-1, 0)),
         |   i -> array_to_string(tk[i+1:i+2], ' '))) AS gram FROM toks WHERE len(tk) >= 2),
         | c AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
         | (100 * CAST(MAX(c) AS BIGINT)) // CAST(SUM(c) AS BIGINT) AS top_gram_pct,
         | (100 * (CAST(SUM(c) AS BIGINT) - COUNT(*))) // CAST(SUM(c) AS BIGINT) AS dup_gram_pct
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    graft.operators.Repetition.signals(t(s, d, "documents"), n = 2)
      .orderBy("doc_id")
  }

  /** Deterministic 90/5/5 train/val/test split over documents
    * ([[graft.operators.Sampling.hashSplit]]: portable md5 pct-bucket,
    * pure per-id projection — zero shuffles to split 100 TB) with
    * per-split document and word totals.
    */
  query("q65_hash_split", oracle = {
      val bucket = graft.operators.Sampling.pctBucketSql("doc_id", "split")
      s"""WITH b AS (SELECT doc_id, text,
         |   CASE WHEN $bucket < 90 THEN 'train'
         |        WHEN $bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split FROM documents)
         |SELECT split, COUNT(*) AS n_docs,
         | CAST(SUM(len(list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')))) AS BIGINT) AS n_words
         |FROM b GROUP BY split ORDER BY split""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Sampling.hashSplit(t(s, d, "documents"), "doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFunctions.wordSet(col("text"))).cast("long")).as("n_words"))
      .orderBy("split")
  }

  /** Sequence packing ([[graft.operators.Packing.concatPack]]):
    * concatenate documents in doc_id order, cut every 4096 tokens,
    * report each doc's stream offset and chunk span. The global prefix
    * sum underneath is the two-level scan — the only unpartitioned
    * window runs over bucket totals (1/4096 of the rows), never the
    * corpus.
    */
  // exclusive window cumsum in doc_id order == the two-level prefix
  // scan; chunk ids by integer division, empty docs pinned to their
  // boundary chunk via greatest(w, 1)
  query("q66_seq_pack", oracle =
      s"""WITH w AS (SELECT doc_id, $tokensSql AS n_tokens FROM documents),
         | o AS (SELECT doc_id, n_tokens,
         |   COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
         |   FROM w)
         |SELECT doc_id, n_tokens, CAST(start_offset AS BIGINT) AS start_offset,
         | CAST(start_offset // 4096 AS BIGINT) AS chunk_first,
         | CAST((start_offset + greatest(n_tokens, 1) - 1) // 4096 AS BIGINT) AS chunk_last
         |FROM o ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
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
  }

  /** RAG/pretraining chunk prep ([[graft.operators.Chunking]]): 32-token
    * windows every 24 tokens (8-token overlap), chunk text included so
    * the oracle checks the slicing itself, not just the arithmetic.
    */
  // DuckDB range() is stop-exclusive like sequence(0, n-1) is
  // stop-inclusive; tk[a:b] slicing is 1-based inclusive and clips
  query("q69_chunks", oracle =
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk,
         |   $tokensSql AS n FROM documents),
         | s AS (SELECT doc_id, tk, n, unnest(range(0, n, 24)) AS tok_start
         |        FROM t WHERE n > 0)
         |SELECT doc_id, tok_start // 24 AS chunk_id, tok_start,
         | least(tok_start + 32, n) AS tok_end,
         | array_to_string(tk[tok_start + 1 : least(tok_start + 32, n)], ' ') AS chunk_text
         |FROM s ORDER BY doc_id, chunk_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Chunking.slidingWindows(
        t(s, d, "documents"), window = 32, stride = 24)
      .orderBy("doc_id", "chunk_id")
  }

  /** Corpus-relative OOV quality signal
    * ([[graft.operators.Vocabulary.oovRate]]): each doc scored against
    * the corpus' own top-20 vocabulary (deterministic freq-desc,
    * token-asc tie-break). Two-pass: TakeOrdered vocabulary → broadcast
    * membership probe; the corpus never shuffles on a token key.
    */
  // vocabulary = top-20 tokens (freq desc, token asc — total order);
  // floor(100.0·oov/n) of exact ints is correctly rounded identically
  query("q74_oov_rate", oracle =
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
        |FROM s ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Vocabulary.oovRate(t(s, d, "documents"), vocabSize = 20)
      .orderBy("doc_id")
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
  // T=2 temperature mix: isqrt + integer division + md5 permille
  // bucket — every acceptance decision exact in both engines
  query("q76_temperature_mix", oracle = {
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
    }) { (s, d) =>
    graft.operators.Mixing.temperatureMixT2(
        t(s, d, "documents"), sourceCol = "lang", idCol = "doc_id")
      .groupBy(col("lang"), col("rate_pm"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  /** Per-document tf·idf keyword extraction
    * ([[graft.operators.Keywords.tfidfTopK]]): top-5 tokens per doc by
    * the exact-integer score `tf · ((10^6·N) div df)`, ties broken on
    * token text — rank, tf, df and score all integer-reproducible in
    * DuckDB.
    */
  // integer idf: score = tf * ((1e6 * N) div df); both engines rank
  // by (score DESC, tok) — a total order since tok is unique per doc
  query("q78_tfidf_keywords", oracle =
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
        |FROM rk WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Keywords.tfidfTopK(t(s, d, "documents"), k = 5)
      .orderBy("doc_id", "rnk")
  }

  /** Domain balancing ([[graft.operators.Sampling.perKeyCap]]): at most
    * 10 documents per source, chosen by the deterministic (salt, id)
    * hash order — the absolute per-domain bound that a rate cannot
    * guarantee under skew. The cap binds at every SF (each source has
    * ≥ 25 docs), so the oracle exercises real eviction.
    */
  // per-source cap: the same md5 rank order on both sides
  query("q79_source_cap", oracle = {
      val rank = graft.functions.PortableHash
        .md5Hex32Sql("'cap:' || CAST(doc_id AS VARCHAR)")
      s"""WITH rk AS (SELECT source, doc_id,
         |   ROW_NUMBER() OVER (PARTITION BY source ORDER BY $rank, doc_id) AS rn
         | FROM documents)
         |SELECT source, doc_id FROM rk WHERE rn <= 10
         |ORDER BY source, doc_id""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    graft.operators.Sampling.perKeyCap(
        t(s, d, "documents"), keyCol = "source", idCol = "doc_id", cap = 10)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
  }

  /** Unigram surprisal scoring
    * ([[graft.operators.Vocabulary.surprisalScore]]): the LM-free
    * perplexity proxy — tf-weighted mean whole-bit surprisal of each
    * document's tokens under the corpus' own unigram distribution,
    * exact integer arithmetic end to end (see the operator's ⌊log₂⌋
    * precision argument).
    */
  // whole-bit surprisal: floor(log2) is exact for counts << 2^40 in
  // both engines (see Vocabulary.surprisalScore), everything else is
  // BIGINT arithmetic with truncating division on both sides
  query("q80_surprisal", oracle =
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
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Vocabulary.surprisalScore(t(s, d, "documents"))
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
  // textbook ROW_NUMBER + NTILE-identity formulation; the engine's
  // two-level prefix sum must produce the identical global ranks.
  // DuckDB // floors, Spark div truncates — identical on the
  // all-positive rank domain.
  query("q83_curriculum_shards", oracle =
      s"""WITH q AS ($qualitySql),
         | n AS (SELECT COUNT(*) AS n_all FROM q),
         | rk AS (SELECT doc_id, quality,
         |   ROW_NUMBER() OVER (ORDER BY quality, doc_id) AS rn FROM q),
         | sh AS (SELECT quality, rn,
         |   (rn - 1) * 10 // n_all + 1 AS shard FROM rk CROSS JOIN n)
         |SELECT CAST(shard AS BIGINT) AS shard, COUNT(*) AS n_docs,
         | MIN(quality) AS min_q, MAX(quality) AS max_q,
         | CAST(MIN(rn) AS BIGINT) AS first_rn, CAST(MAX(rn) AS BIGINT) AS last_rn
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
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

  /** Exact-size stratified sample
    * ([[graft.operators.Sampling.stratifiedExact]]): exactly 100
    * documents allocated across sources by the largest-remainder
    * method (Hare quota) and picked in deterministic (salt, id) hash
    * order within each source — the fixed-size benchmark-split
    * primitive a rate cannot provide. Integer quota/remainder
    * arithmetic plus the portable md5 rank make every allocation and
    * every pick bit-reproducible in the DuckDB mirror.
    */
  // largest-remainder apportionment in pure integer arithmetic
  // (quota via //, remainder via %, both truncating on the positive
  // domain in both engines), then the q79 md5 pick order
  query("q85_stratified_exact", oracle = {
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
    }) { (s, d) =>
    graft.operators.Sampling.stratifiedExact(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        strataCol = "source", idCol = "doc_id", budget = 100L)
      .select(col("source"), col("doc_id"))
      .orderBy("source", "doc_id")
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
  // the affine probe family as a 4-way UNION, one branch per j;
  // (doc_id, j) is unique so ORDER BY doc_id, j is total
  query("q88_neg_samples", oracle = {
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
    }) { (s, d) =>
    graft.operators.Contrastive.negativeSamples(
        t(s, d, "documents").select(col("doc_id"), col("source")),
        idCol = "doc_id", groupCol = "source", k = 4)
      .orderBy("doc_id", "j")
  }

  /** Bigram conditional surprisal
    * ([[graft.operators.Vocabulary.bigramSurprisalScore]]): the
    * order-sensitive fluency score q80's bag-of-words surprisal cannot
    * see — whole-bit `⌊log₂ cnt(prev·)⌋ − ⌊log₂ cnt(prev,cur)⌋` under
    * the corpus' own bigram counts, tf-weighted integer mean per
    * document. Same cross-engine floor(log2) exactness argument as
    * q80.
    */
  // bigram positions via the q77 unnest(range) idiom (1-based array
  // indexing; range(1, len) is empty for single-token docs, matching
  // the Spark side's size >= 2 filter); context counts derive from
  // the bigram table so both engines share one definition
  query("q89_bigram_surprisal", oracle =
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
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Vocabulary.bigramSurprisalScore(t(s, d, "documents"))
      .orderBy("doc_id")
  }

  /** Lexical inverted-index retrieval ([[graft.operators.Search]]):
    * documents containing BOTH a rare term ('dup', ~5% df) and a common
    * one ('join') via the count-intersection AND query over the
    * PERSISTED (tok, doc_id) pair index — the serving-path complement
    * of the ANN family: the term filter prunes to the terms' buckets at
    * the scan (SearchIndexPlanSpec pins it). The oracle re-derives
    * membership from the text itself, so index construction must be
    * lossless.
    */
  // membership re-derived from the raw text — the index must be a
  // lossless view of the tokenizer
  query("q90_lexical_and", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
      """SELECT doc_id FROM documents
        |WHERE list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'dup')
        |  AND list_contains(regexp_split_to_array(trim(lower(text)), '\s+'), 'join')
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // df computed over the HIT rows (same as the engine: df of a term =
  // docs containing it, derived after the term filter)
  query("q91_ranked_tfidf", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
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
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // adjacency re-derived from the raw 1-based token arrays (q77's
  // unnest(range) idiom): tk[i]='hash' AND tk[i+1]='join'
  query("q92_phrase_query", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
      """WITH toks AS (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |   FROM documents WHERE trim(text) <> ''),
        | st AS (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i FROM toks)
        |SELECT DISTINCT doc_id FROM st
        |WHERE tk[i] = 'hash' AND tk[i+1] = 'join'
        |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // positions re-derived 1-based on both terms; |pa-pb| is
  // base-independent so the Spark side's 0-based index agrees
  query("q93_proximity", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
      """WITH toks AS (SELECT doc_id,
        |   regexp_split_to_array(trim(lower(text)), '\s+') AS tk
        |   FROM documents WHERE trim(text) <> ''),
        | st AS (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM toks),
        | a AS (SELECT doc_id, i FROM st WHERE tk[i] = 'dup'),
        | b AS (SELECT doc_id, i FROM st WHERE tk[i] = 'join')
        |SELECT DISTINCT a.doc_id FROM a JOIN b USING (doc_id)
        |WHERE abs(a.i - b.i) <= 2 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // per-term membership from raw text, summed against the m-of-n bar
  query("q94_min_should_match", layouts = Seq(Layouts.searchTables), session = bucketPruning,
    oracle = {
      def has(w: String) =
        s"CASE WHEN list_contains(regexp_split_to_array(trim(lower(text)), '\\s+'), '$w') THEN 1 ELSE 0 END"
      s"""SELECT doc_id,
         | CAST(${has("dup")} + ${has("slow")} + ${has("vector")} AS BIGINT) AS n_matched
         |FROM documents
         |WHERE ${has("dup")} + ${has("slow")} + ${has("vector")} >= 2
         |ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // the oracle IS the rebuild: tf index of the effective document set
  // (inserts ∪ base∖deletions) from raw text — delta-fold must equal
  // it row-for-row
  query("q95_incr_index", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
      """WITH eff AS (SELECT doc_id, text FROM documents
        |   WHERE doc_id % 5 = 0 OR doc_id % 7 <> 0),
        | toks AS (SELECT doc_id,
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM eff)
        |SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf_t FROM toks
        |WHERE tok <> '' GROUP BY doc_id, tok
        |ORDER BY doc_id, tok""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // exact-integer BM25: k1=6/5, b=3/4 cleared of fractions
  // (sat = (1e6·44·tf·A) // (20·tf·A + 6·A + 18000·dl), A = milli-token
  // avgdl), whole-bit idf₂ from the odd-integer ratio (2N−2df+1)/(2df+1)
  // — DuckDB // floors, Spark div truncates; every operand here is
  // positive, so they agree. df over the hit rows, like q91.
  query("q96_bm25", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
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
        |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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
  // RRF over the q91 lexical top-20 and the q22-portable vector
  // top-20: ranks re-derived per leg, fused as 1000000 // (60 + r).
  // The vector leg's ranking cosine is CAST(dot)/sqrt(CAST·CAST) of
  // identical longs — IEEE-identical on both engines (q51 contract).
  query("q97_hybrid_rrf", layouts = Seq(Layouts.searchTables), session = bucketPruning, oracle =
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
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.searchTables(s, d)
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

  /** Vocabulary induction ([[graft.operators.Vocabulary.bpePairCounts]]):
    * the top-20 character-pair merge candidates of a BPE round,
    * counted over the (word, frequency) vocabulary rather than the
    * corpus — the factoring that makes distributed BPE feasible. The
    * oracle re-derives pairs by substring over the same vocabulary.
    */
  // pairs re-derived by 1-based substring over the same vocabulary;
  // range(1, length) is exclusive-end → i = 1..len-1, like Spark's
  // inclusive sequence(1, length-1)
  query("q99_bpe_pairs", oracle =
      """WITH toks AS (SELECT
        |   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok FROM documents),
        | wf AS (SELECT tok, COUNT(*) AS wf FROM toks WHERE tok <> '' GROUP BY tok),
        | pr AS (SELECT substring(tok, CAST(i AS INT), 2) AS pair, wf
        |   FROM (SELECT tok, wf, unnest(range(1, length(tok))) AS i FROM wf
        |         WHERE length(tok) >= 2))
        |SELECT pair, CAST(SUM(wf) AS BIGINT) AS cnt FROM pr
        |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    graft.operators.Vocabulary.bpePairCounts(t(s, d, "documents"), k = 20)
  }

  /** Collocation mining ([[graft.operators.Vocabulary.collocations]]):
    * top adjacent word pairs by whole-bit PMI with support ≥ 5 — the
    * phrase-mining table query expansion and tokenizer seeding read
    * from. Exact integer arithmetic end to end (per-count ⌊log₂⌋,
    * never products), so the DuckDB oracle hash-matches.
    */
  // same per-count floor-log2 form as the engine: never a product,
  // so every term stays inside the 2^40 exactness bound
  query("q100_pmi_colloc", layouts = Seq(Layouts.q100Pairs), oracle =
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
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Layouts.q100Pairs(s, d)
    graft.operators.Vocabulary.collocationsFromPairs(
      s.table("graft_q100_pairs"), minCount = 5L, k = 30)
  }

  /** Full repetition profile ([[graft.operators.Repetition.profile]]):
    * the Gopher rule set (dup 2-/3-gram, top-word, lexical diversity
    * permilles) + drop flag in one map-only pass — the no-shuffle
    * complement of q62's (doc, gram)-aggregated signals; every doc
    * emits a row, exact integers throughout.
    */
  // mirrors Repetition.signals: permilles over lowercased ws tokens,
  // n-grams space-joined (the q60 idiom), max unigram count via a
  // per-row correlated count (semantics, not the Spark fold)
  query("q102_repetition_profile", oracle = {
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
    }) { (s, d) =>
    graft.operators.Repetition.profile(t(s, d, "documents"))
      .orderBy("doc_id")
  }

  /** Token-budget corpus selection ([[graft.operators.Curriculum
    * .selectByBudget]]): the highest-quality ≤15k-token subset, best
    * first by (quality desc, doc_id) — the inclusive cumulative token
    * count comes from the q66/q83 two-level prefix sum (no global
    * sort; the one unpartitioned window runs over bucket totals), and
    * the budget cut reproduces the textbook SQL running-sum exactly.
    */
  // mirrors Curriculum.selectByBudget at the q103 call site: the
  // textbook running-sum formulation of the two-level prefix sum,
  // quality arithmetic identical to q19's
  query("q103_budget_select", oracle =
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
         |FROM c ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
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
  // mirrors TextFunctions.normalizeText: nfc_normalize + the SAME
  // control-char class and \s+ collapse (RE2-portable constants);
  // raw appends chr(769)=U+0301 (combining acute) and chr(1)
  query("q104_normalize_text", oracle =
      s"""WITH r AS (SELECT doc_id,
         |   text || ' e' || chr(769) || chr(1) || '  x' AS raw FROM documents),
         | n AS (SELECT doc_id, CAST(length(raw) AS BIGINT) AS n_raw,
         |   trim(regexp_replace(regexp_replace(nfc_normalize(raw),
         |     '${TextFunctions.ControlCharPattern}', '', 'g'), '\\s+', ' ', 'g')) AS norm
         |  FROM r)
         |SELECT doc_id, n_raw, CAST(length(norm) AS BIGINT) AS n_norm,
         | md5(norm) AS fp
         |FROM n ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
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
  }
}
