package graft.plans

/** Shared per-row text-kernel primitives for the fused expressions
  * ([[QualityScoreExpr]], [[LangIdExpr]], [[RepetitionStatsExpr]],
  * [[NgramStatsExpr]]): ONE definition of the tokenizer's whitespace
  * class (the `\\s+` of `split(trim(lower(text)), "\\s+")`) and of Java regex `\b`'s word
  * model, so every kernel replicates the composed `functions._` forms
  * identically — the differential specs hold each kernel to its
  * composed reference, and these helpers are where that fidelity
  * lives.
  */
private[plans] object TextKernels {

  /** Java regex `\s` (no UNICODE flag): space, \t, \n, \x0B, \f, \r. */
  def isJavaRegexWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B || cp == '\f' || cp == '\r'

  /** Java regex `\b`'s word class without UNICODE_CHARACTER_CLASS:
    * underscore or any Unicode letter/digit — NOT ASCII `\w`.
    */
  def isBoundWordChar(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  /** Count `\b(word|...)\b`-style hits of each word set over an
    * ALREADY-LOWERED string in one scan. A "hit" is a maximal word run
    * (under `\b`'s model, including the JDK's NON_SPACING_MARK
    * base-character rule — a mark whose nearest non-mark predecessor
    * is a letter/digit extends the run) equal to a member of the set;
    * run identity ≡ regex match because a `\b`-bounded literal can
    * neither start nor end inside a run. `maxLen` (UTF-16 units)
    * short-circuits the substring for long runs; pass the longest
    * member length across all sets.
    */
  def wordRunHits(
      lowered: String,
      sets: Array[java.util.HashSet[String]],
      maxLen: Int): Array[Long] = {
    val hits = new Array[Long](sets.length)
    var runStart = -1
    var baseIsLetterOrDigit = false
    var i = 0
    val n = lowered.length
    while (i < n) {
      val cp = lowered.codePointAt(i)
      val isMark = Character.getType(cp) == Character.NON_SPACING_MARK
      val w = isBoundWordChar(cp) || (isMark && baseIsLetterOrDigit)
      if (w) { if (runStart < 0) runStart = i }
      else if (runStart >= 0) {
        tally(lowered, runStart, i, sets, maxLen, hits)
        runStart = -1
      }
      if (!isMark) baseIsLetterOrDigit = Character.isLetterOrDigit(cp)
      i += Character.charCount(cp)
    }
    if (runStart >= 0) tally(lowered, runStart, n, sets, maxLen, hits)
    hits
  }

  private def tally(
      lowered: String, from: Int, until: Int,
      sets: Array[java.util.HashSet[String]], maxLen: Int,
      hits: Array[Long]): Unit =
    if (until - from <= maxLen) {
      val run = lowered.substring(from, until)
      var k = 0
      while (k < sets.length) {
        if (sets(k).contains(run)) hits(k) += 1
        k += 1
      }
    }

  def toSet(words: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]
    words.foreach(s.add)
    s
  }
}
