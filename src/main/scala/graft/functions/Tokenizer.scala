package graft.functions

import scala.collection.mutable.ArrayBuffer

/** Deterministic, self-contained "BPE-ish" tokenizer.
  *
  * The reference counts tokens with tiktoken `cl100k_base` everywhere
  * (reference: src/utils/document_processing.py:19-23,
  * src/utils/truncation_utils.py:41, src/loaders/webapp_loader.py:163).
  * Offline we need a vocabulary-free stand-in whose counts are *internally
  * consistent* (the same tokenizer drives chunk boundaries, truncation
  * budgets and token stats — matching the reference's single-encoding
  * discipline). Counts differ from tiktoken's; semantics don't.
  *
  * Token rule (chosen so a DuckDB RE2 regex reproduces it exactly, which
  * keeps token-level queries oracle-checkable):
  *   - a run of letters, split every 8 chars   -> `\p{L}{1,8}`
  *   - a run of digits, split every 3 chars    -> `\p{N}{1,3}`
  *   - any other non-whitespace char, alone    -> `[^\p{L}\p{N}\s]`
  *   - whitespace separates tokens and is never a token.
  *
  * Implemented as a manual scanner (no regex) for speed: one pass, no
  * allocation beyond the offsets buffer. ~100 MB/s/core, linear.
  */
object Tokenizer {

  // Whitespace is the EXPLICIT ASCII class [\t\n\x0B\f\r ] rather than
  // \s: Java \s is ASCII-only but includes \x0B while RE2's does not —
  // spelling it out makes scanner, Spark (Java regex) and DuckDB (RE2)
  // agree on every input, ASCII or not. Non-ASCII whitespace (U+3000 etc.)
  // is deliberately a punctuation token in all three.
  val DuckDbTokenRegex =
    "\\p{L}{1,8}|\\p{N}{1,3}|[^\\p{L}\\p{N}\\t\\n\\x0B\\f\\r ]"

  private final val MaxLetterRun = 8
  private final val MaxDigitRun = 3

  // classes mirror the regex exactly: \p{L}, \p{N} (Nd+Nl+No), ASCII ws.
  // CODE POINTS, not chars: both Java regex and DuckDB's RE2 match whole
  // code points, so a supplementary character (emoji, math alphanumerics)
  // must classify as ONE unit here too — per-char scanning would see the
  // two surrogate halves, emit two punctuation tokens where the regexes
  // emit one letter, and break every parity-based oracle on such input.
  // Run LENGTHS count code points for the same reason ({1,8} is 8 code
  // points, not 8 UTF-16 chars).
  @inline private def isLetterCp(cp: Int): Boolean = Character.isLetter(cp)
  @inline private def isDigitCp(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }
  @inline private[functions] def isSpaceCp(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  /** Token [start, end) CHAR offsets into `s` (offsets stay UTF-16 so
    * substring-based consumers are untouched; only classification and
    * run budgets are code-point based). */
  def tokenize(s: String): Array[Int] = {
    val out = new ArrayBuffer[Int](math.max(16, s.length / 4))
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      if (isSpaceCp(cp)) {
        i += Character.charCount(cp)
      } else if (isLetterCp(cp)) {
        var k = i    // current token start (char offset)
        var cnt = 0  // code points in the current token
        var j = i
        var c2 = cp
        var run = true
        while (run) {
          j += Character.charCount(c2)
          cnt += 1
          if (cnt == MaxLetterRun) { out += k; out += j; k = j; cnt = 0 }
          if (j < n) {
            c2 = s.codePointAt(j)
            run = isLetterCp(c2)
          } else run = false
        }
        if (cnt > 0) { out += k; out += j }
        i = j
      } else if (isDigitCp(cp)) {
        var k = i
        var cnt = 0
        var j = i
        var c2 = cp
        var run = true
        while (run) {
          j += Character.charCount(c2)
          cnt += 1
          if (cnt == MaxDigitRun) { out += k; out += j; k = j; cnt = 0 }
          if (j < n) {
            c2 = s.codePointAt(j)
            run = isDigitCp(c2)
          } else run = false
        }
        if (cnt > 0) { out += k; out += j }
        i = j
      } else {
        val w = Character.charCount(cp)
        out += i; out += (i + w)
        i += w
      }
    }
    out.toArray
  }

  /** Number of tokens in `s` — same single pass, no offsets buffer. */
  def countTokens(s: String): Int = {
    if (s == null) return 0
    var count = 0
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      if (isSpaceCp(cp)) {
        i += Character.charCount(cp)
      } else if (isLetterCp(cp)) {
        var cps = 0
        var j = i
        var c2 = cp
        var run = true
        while (run) {
          j += Character.charCount(c2)
          cps += 1
          if (j < n) {
            c2 = s.codePointAt(j)
            run = isLetterCp(c2)
          } else run = false
        }
        count += (cps + MaxLetterRun - 1) / MaxLetterRun
        i = j
      } else if (isDigitCp(cp)) {
        var cps = 0
        var j = i
        var c2 = cp
        var run = true
        while (run) {
          j += Character.charCount(c2)
          cps += 1
          if (j < n) {
            c2 = s.codePointAt(j)
            run = isDigitCp(c2)
          } else run = false
        }
        count += (cps + MaxDigitRun - 1) / MaxDigitRun
        i = j
      } else {
        count += 1
        i += Character.charCount(cp)
      }
    }
    count
  }

  /** Token strings (materialized) — used by token-space operators. */
  def tokens(s: String): Array[String] = {
    val offs = tokenize(s)
    val out = new Array[String](offs.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = s.substring(offs(2 * i), offs(2 * i + 1))
      i += 1
    }
    out
  }

  /** Chunk [firstToken, lastTokenExclusive) spans for a token-window split:
    * windows of `size` tokens advancing by `size - overlap`. Mirrors the
    * reference's splitter contract (chunk<=size, consecutive chunks share
    * `overlap` tokens; reference: src/utils/document_processing.py:246-267,
    * src/loaders/webapp_loader.py:147-211 exact-token mode). */
  def chunkSpans(nTokens: Int, size: Int, overlap: Int): Array[(Int, Int)] = {
    require(size > 0, "chunk size must be > 0")
    require(overlap >= 0 && overlap < size, "0 <= overlap < size required")
    if (nTokens == 0) return Array.empty
    val stride = size - overlap
    val out = new ArrayBuffer[(Int, Int)]
    var start = 0
    var done = false
    while (!done) {
      val end = math.min(start + size, nTokens)
      out += ((start, end))
      if (end >= nTokens) done = true else start += stride
    }
    out.toArray
  }

  /** Number of chunks the span rule produces — closed form, used by the
    * DuckDB oracle: 1 if n<=size else 1+ceil((n-size)/(size-overlap)). */
  def numChunks(nTokens: Int, size: Int, overlap: Int): Int =
    if (nTokens == 0) 0
    else if (nTokens <= size) 1
    else 1 + ((nTokens - size) + (size - overlap) - 1) / (size - overlap)

  /** Truncate `s` to at most `maxTokens` tokens. mode: start|end|smart
    * (smart delegates to start, as in the reference placeholder —
    * src/utils/truncation_utils.py:123-156). Returns (text, originalTokens,
    * keptTokens). */
  def truncate(s: String, maxTokens: Int, mode: String): (String, Int, Int) = {
    val offs = tokenize(s)
    val n = offs.length / 2
    if (n <= maxTokens) return (s, n, n)
    val kept = math.max(0, maxTokens)
    if (kept == 0) return ("", n, 0)
    mode match {
      case "end" =>
        val first = n - kept
        (s.substring(offs(2 * first), offs(2 * (n - 1) + 1)), n, kept)
      case _ => // "start" | "smart"
        (s.substring(offs(0), offs(2 * (kept - 1) + 1)), n, kept)
    }
  }
}
