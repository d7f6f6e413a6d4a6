package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for the LLM-data-pipeline surface:
  * token counting, punctuation/stopword stats, quality scoring, n-gram
  * language ID, and document fingerprinting.
  *
  * Everything here is a pure `functions._` Column chain (codegen'd, no
  * UDFs) and — deliberately — exact-arithmetic (integer counts, md5,
  * floor of int/int division), so each function is DuckDB-oracle
  * checkable bit-for-bit. Ratios are exposed as scaled integers
  * (percent) instead of doubles to keep hash parity across engines.
  *
  * Scale note: all functions are embarrassingly parallel per-row maps —
  * no shuffle, fully pipelined inside WholeStageCodegen, safe at 100 TB.
  */
object TextFunctions {

  /** ASCII punctuation class, spelled out so Java regex (Spark) and RE2
    * (DuckDB oracle) agree: `\p{Punct}` does not exist in RE2.
    */
  final val PunctClass = "[!-/:-@\\[-`{-~]"

  private def wsTokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count; 0 for empty/blank text. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(wsTokens(text)).cast("long"))

  /** Number of ASCII punctuation characters. */
  def punctCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, PunctClass, ""))).cast("long")

  /** Whole-word occurrences of `words` (case-insensitive). */
  def wordHits(text: Column, words: Seq[String]): Column =
    regexp_count(lower(text), lit("\\b(" + words.mkString("|") + ")\\b")).cast("long")

  final val StopwordsEn = Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "for", "a")
  final val StopwordsDe = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "den", "mit")
  final val StopwordsFr = Seq("le", "la", "les", "et", "est", "une", "des", "du", "que", "pour")
  final val StopwordsEs = Seq("el", "los", "las", "es", "una", "del", "por", "con", "para", "como")
  final val StopwordsSv = Seq("och", "att", "det", "som", "en", "av", "är", "för", "med", "på")

  def stopwordCount(text: Column): Column = wordHits(text, StopwordsEn)

  /** Quality score ∈ [0,100]: 100 − penalties for punctuation-heavy,
    * stopword-free, or too-short text. Exact integer arithmetic. One
    * fused native pass per row ([[graft.plans.QualityScoreExpr]] — the
    * q54/q89/q102 fusion move; the three-regex composition it
    * replaces is kept as [[qualityScoreComposed]] and the differential
    * spec + the q19 oracle hold the two equal).
    */
  def qualityScore(text: Column): Column = graft.plans.QualityScoreExpr(text)

  /** The definitional three-regex formulation of [[qualityScore]] —
    * the differential-test reference, NOT a production path.
    */
  def qualityScoreComposed(text: Column): Column = {
    val toks    = tokenCount(text)
    val chars   = length(text).cast("long")
    val punct   = punctCount(text)
    val stops   = stopwordCount(text)
    // floor(100*punct/chars): exact — IEEE division of exact ints is
    // correctly rounded and both engines floor the same value.
    val punctPct = when(chars === 0, lit(100L))
      .otherwise(floor(lit(100.0) * punct / chars).cast("long"))
    val stopPct = when(toks === 0, lit(0L))
      .otherwise(floor(lit(100.0) * stops / toks).cast("long"))
    val lenPenalty   = when(toks < 5, lit(40L)).when(toks < 20, lit(10L)).otherwise(lit(0L))
    val punctPenalty = when(punctPct > 20, lit(30L)).when(punctPct > 10, lit(10L)).otherwise(lit(0L))
    val stopBonus    = when(stopPct > 0, lit(0L)).otherwise(lit(20L))
    greatest(lit(0L), lit(100L) - lenPenalty - punctPenalty - stopBonus)
  }

  /** Stopword-profile language ID over {en,de,fr,es,sv}; 'und' when no
    * profile matches. Deterministic ties: earlier language in the
    * priority order wins (en > de > fr > es > sv). One fused native
    * pass ([[graft.plans.LangIdExpr]]) instead of five `\b`-regex
    * walks; [[langIdComposed]] is the differential reference.
    */
  def langId(text: Column): Column = graft.plans.LangIdExpr(text)

  /** The definitional five-regex formulation of [[langId]] — the
    * differential-test reference, NOT a production path.
    */
  def langIdComposed(text: Column): Column = {
    val en = wordHits(text, StopwordsEn)
    val de = wordHits(text, StopwordsDe)
    val fr = wordHits(text, StopwordsFr)
    val es = wordHits(text, StopwordsEs)
    val sv = wordHits(text, StopwordsSv)
    when(greatest(en, de, fr, es, sv) === 0, lit("und"))
      .when(en >= de && en >= fr && en >= es && en >= sv, lit("en"))
      .when(de >= fr && de >= es && de >= sv, lit("de"))
      .when(fr >= es && fr >= sv, lit("fr"))
      .when(es >= sv, lit("es"))
      .otherwise(lit("sv"))
  }

  /** Canonical-form document fingerprint: md5 of lower-cased,
    * whitespace-collapsed, trimmed text. The exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Distinct word set (lower-cased) — the 1-gram shingle set for
    * set-similarity (Jaccard) dedup.
    */
  def wordSet(text: Column): Column =
    array_distinct(split(lower(trim(text)), "\\s+"))

  /** BPE-ish subword token pattern (GPT-2-style pretokenizer, ASCII-only
    * so Java regex and RE2 match identically; both are leftmost-first on
    * alternation): contractions, space-prefixed letter runs, digit runs,
    * symbol runs, residual whitespace.
    */
  final val BpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  /** BPE-ish token count — a far better proxy for LLM token cost than
    * whitespace splitting ("don't" → 2, "x=1" → 3). Fused native kernel
    * ([[graft.plans.BpeCountExpr]], one branch-run scan per row);
    * [[bpeTokenCountComposed]] is the regex form it replicates, kept as
    * the differential-spec reference.
    */
  def bpeTokenCount(text: Column): Column = graft.plans.BpeCountExpr(text)

  def bpeTokenCountComposed(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")

  /** Rolling-hash base powers for [[rollingHashes]]: base^(k-1) … base^0.
    * No modulus — codes ≤ 255 and k ≤ 8 keep Σ code·131^j < 2^61, so the
    * arithmetic is exact (and overflow-free) on every engine.
    */
  def hashPowers(k: Int, base: Long = 131L): Seq[Long] =
    Seq.iterate(1L, k)(_ * base).reverse

  /** Character codes (mod 256) as an array column. Stage this (and
    * [[hashesFromCodes]]) with `withColumn` BEFORE consuming it more
    * than once: array-building expressions re-evaluate per reference —
    * a `slice(rollingHashes(...), …)` inside a transform lambda would
    * recompute the whole hash array per window position (O(n³)/row).
    * Materialized attributes keep every step one pass (CollapseProject
    * leaves multiply-referenced non-cheap aliases alone).
    */
  def charCodes(text: Column): Column =
    transform(sequence(lit(1), length(text)),
      i => ascii(text.substr(i, lit(1))) % 256)

  /** Per-position character-k-gram polynomial hashes (Rabin–Karp
    * fingerprint family) over a staged [[charCodes]] array:
    * hash(i) = Σ_j code(i+j)·base^(k-1-j). O(n·k) per row, codegen'd,
    * no shuffle, no UDF.
    */
  def hashesFromCodes(codes: Column, k: Int = 8): Column = {
    val pows = hashPowers(k)
    val nPos = size(codes) - (k - 1)
    when(nPos <= 0, array().cast("array<bigint>")).otherwise(
      transform(sequence(lit(1), nPos),
        i => pows.zipWithIndex.map { case (p, j) =>
          element_at(codes, i + j).cast("long") * p }.reduce(_ + _)))
  }

  /** Convenience single-shot form — ONLY for single-reference use
    * (tests, ad-hoc); in a query, stage [[charCodes]]/[[hashesFromCodes]].
    */
  def rollingHashes(text: Column, k: Int = 8): Column =
    hashesFromCodes(charCodes(text), k)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken): the distinct
    * minima of each `window` of consecutive rolling hashes (pass a
    * STAGED hash array — see [[charCodes]]). Guarantees a shared
    * fingerprint for any k+window−1 char overlap between documents —
    * the standard local document fingerprint for plagiarism-style
    * near-dup detection at corpus scale (fingerprints shuffle, text
    * never does).
    */
  def winnowFromHashes(hashes: Column, window: Int = 4): Column = {
    val nWin = size(hashes) - (window - 1)
    when(nWin <= 0, array().cast("array<bigint>")).otherwise(
      array_distinct(transform(sequence(lit(1), nWin),
        i => array_min(slice(hashes, i, lit(window))))))
  }

  /** Single-shot winnow for single-reference use (tests). */
  def winnowFingerprints(text: Column, k: Int = 8, window: Int = 4): Column =
    winnowFromHashes(rollingHashes(text, k), window)

  /** True when the text yields at least one n-token shingle. Cheap (one
    * regex split) — use as a PRE-filter before a fused signature
    * projection instead of post-filtering `sig IS NOT NULL`, which
    * Catalyst pushes below the Project by alias substitution and thereby
    * evaluates the expensive signature expression twice per row.
    */
  def hasShingles(text: Column, n: Int): Column =
    size(wsTokens(lower(text))) >= n

  /** The lowercased whitespace token array — the staging column for
    * [[ngramsFromTokens]]/[[shinglesFromTokens]]. Stage it with
    * `withColumn` before building n-grams from it.
    */
  def loweredTokens(text: Column): Column = wsTokens(lower(text))

  /** Word n-grams from a PRE-STAGED token array (see [[loweredTokens]]),
    * space-joined, in document order and NOT deduplicated. Empty array
    * when the text has fewer than n tokens (the guard matters:
    * `sequence(0, -1)` is DESCENDING in Spark, and the -1 index would
    * make `slice` throw).
    *
    * Why tokens must be an attribute, not an inline split: Spark never
    * hoists loop-invariant subexpressions out of higher-order-function
    * lambdas, so `slice(split(text), i, n)` re-tokenizes the WHOLE
    * document at every n-gram position — O(tokens²) regex work per row
    * (measured 5 s → 0.6 s on the sf0.1 contamination scan). With a
    * staged attribute the lambda slices an in-memory array.
    */
  def ngramsFromTokens(toks: Column, n: Int): Column = {
    val count = size(toks) - (n - 1)
    when(count <= 0, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), count), i =>
        concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** N-gram shingles from a pre-staged token array, distinct. */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    array_distinct(ngramsFromTokens(toks, n))

  /** Word n-grams of `text` (lowercased). ONLY for single-reference,
    * non-hot-path use: the tokenizer is inlined into the n-gram lambda,
    * so this re-splits the document per position — in any kernel or
    * exploded path, stage [[loweredTokens]] and use
    * [[ngramsFromTokens]] instead.
    */
  def ngrams(text: Column, n: Int): Column =
    ngramsFromTokens(loweredTokens(text), n)

  /** Word n-gram shingles (space-joined), distinct. Same single-use
    * caveat as [[ngrams]] — hot paths stage [[loweredTokens]] first.
    */
  def shingles(text: Column, n: Int): Column = array_distinct(ngrams(text, n))

  /** PII patterns, RE2/DuckDB-portable by construction (plain character
    * classes — no lookaround, no `\p{...}`), so the exact same regex
    * strings run in DuckDB for oracle checking: SparkEntry's
    * `q61_mask_pii` oracle interpolates these constants verbatim.
    */
  val PiiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiUrlPattern   = "https?://[^\\s]+"
  val PiiNumPattern   = "[0-9][0-9 ()+.-]{6,}[0-9]"

  /** Mask common PII shapes — emails, URLs, and long digit runs (phone /
    * account numbers) — with typed placeholders. Order matters: emails
    * first (so an address's digits are gone before the number pass),
    * then URLs, then bare digit runs — a port or path number is masked
    * as part of its URL, never double-masked.
    *
    * Runs as the fused byte-scanner kernel
    * [[graft.plans.PiiMaskExpr]] (one codegen'd expression, no regex
    * engine); [[maskPiiRegex]] is the definitional three-pass
    * `regexp_replace` chain it is spec-checked against, and the
    * DuckDB oracle runs the same three patterns via RE2.
    */
  def maskPii(text: Column): Column = graft.plans.PiiMaskExpr(text)

  /** The definitional regex chain for [[maskPii]] — kept as the
    * differential-test reference (PiiMaskSpec) and for engines where
    * the custom expression is unavailable.
    */
  def maskPiiRegex(text: Column): Column = {
    val email = regexp_replace(text, PiiEmailPattern, "[EMAIL]")
    val url   = regexp_replace(email, PiiUrlPattern, "[URL]")
    regexp_replace(url, PiiNumPattern, "[NUM]")
  }

  /** Control characters to strip during normalization: C0 controls
    * minus \t\n\r (which are whitespace, handled by the collapse), plus
    * DEL. Plain hex classes — RE2/DuckDB-portable like the PII
    * patterns, so the q104 oracle interpolates this constant verbatim.
    */
  final val ControlCharPattern = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Canonical text normalization — the cleanup pass a pretraining
    * corpus runs BEFORE any exact-match operator (fingerprints, token
    * counts, gram sets all silently fracture on un-normalized text):
    * Unicode NFC composition ([[graft.plans.NfcNormalizeExpr]] — Spark
    * has no builtin), control-character strip
    * ([[ControlCharPattern]]), whitespace-run collapse to single
    * spaces, trim. Deterministic and engine-portable: DuckDB's
    * `nfc_normalize` + the same two RE2 regexes reproduce it
    * byte-for-byte (q104's hash gate).
    */
  def normalizeText(text: Column): Column =
    graft.plans.CleanWsExpr(graft.plans.NfcNormalizeExpr(text))
}
