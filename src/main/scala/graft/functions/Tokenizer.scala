package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

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
  * Implemented once, as a scanner over UTF-8 bytes (no regex, no decode
  * to a `String`): [[of]] copies a text's bytes once and yields every
  * token as a `UTF8String` view of that copy. The `String` entry points
  * ([[tokens]], [[countTokens]]) scan the string's UTF-8 encoding.
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
  // CODE POINTS, not bytes or chars: both Java regex and DuckDB's RE2
  // match whole code points, so a multi-byte character (emoji, math
  // alphanumerics) classifies as ONE unit, and run LENGTHS count code
  // points ({1,8} is 8 code points, not 8 bytes).
  @inline private def isLetterCp(cp: Int): Boolean = Character.isLetter(cp)
  @inline private def isDigitCp(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }
  @inline private[functions] def isSpaceCp(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
      cp == '\f' || cp == '\r'

  // ASCII classes: 0 other, 1 letter, 2 digit, 3 whitespace — the same
  // classes isLetterCp/isDigitCp/isSpaceCp give
  private val AsciiClass: Array[Byte] = Array.tabulate[Byte](128) { c =>
    if (isLetterCp(c)) 1 else if (isDigitCp(c)) 2 else if (isSpaceCp(c)) 3 else 0
  }

  private val Space = UTF8String.fromString(" ")

  /** The tokens of one text: token `i` is `bytes(start(i) until end(i))`.
    * `bytes` is the tokenizer's own copy of the text's UTF-8 (no caller
    * reuses it), so every token and span is a view, not a copy. */
  final class Tokens private[Tokenizer] (val bytes: Array[Byte],
      offsets: Array[Int], val length: Int) {
    def start(i: Int): Int = offsets(2 * i)
    def end(i: Int): Int = offsets(2 * i + 1)
    /** Token `i`. */
    def apply(i: Int): UTF8String = UTF8String.fromBytes(bytes, start(i), end(i) - start(i))
    /** Each token, in order. */
    def foreach(f: UTF8String => Unit): Unit = {
      var i = 0
      while (i < length) { f(apply(i)); i += 1 }
    }
    /** Tokens `[a, b)`, in order. */
    def slice(a: Int, b: Int): Array[Any] = {
      val out = new Array[Any](b - a)
      var i = a
      while (i < b) { out(i - a) = apply(i); i += 1 }
      out
    }
    /** The whole text (malformed UTF-8 as it decodes). */
    def text: UTF8String = UTF8String.fromBytes(bytes)
    /** The text from token `a`'s first byte to token `b - 1`'s last,
      * `a < b`: the source between those tokens, whitespace included. */
    def span(a: Int, b: Int): UTF8String =
      UTF8String.fromBytes(bytes, start(a), end(b - 1) - start(a))
    /** Tokens `[a, b)` joined by single spaces. */
    def joined(a: Int, b: Int): UTF8String =
      UTF8String.concatWs(Space, (a until b).map(apply): _*)
  }

  /** The tokens of `t`, cut from one copy of its bytes. Malformed UTF-8
    * is tokenized as it decodes (each bad sequence a replacement
    * character, as Spark's string functions and `regexp_extract_all` see
    * it): the copy is then the decoded text's re-encoding. */
  def of(t: UTF8String): Tokens = {
    val b = new Array[Byte](t.numBytes)
    t.writeToMemory(b, Platform.BYTE_ARRAY_OFFSET)
    ofOwned(b)
  }

  /** The tokens of `s`'s UTF-8 encoding, in which an unpaired surrogate
    * is `?` — as `UTF8String.fromString` encodes it. */
  def of(s: String): Tokens = ofOwned(s.getBytes(UTF_8))

  private def ofOwned(b: Array[Byte]): Tokens = {
    val k = scan(b)
    if (k != null) k else scan(new String(b, UTF_8).getBytes(UTF_8))
  }

  /** Number of tokens in `t`. */
  def countTokens(t: UTF8String): Int = of(t).length

  /** Number of tokens in `s` (0 for null). */
  def countTokens(s: String): Int = if (s == null) 0 else of(s).length

  /** Token strings of `s`. */
  def tokens(s: String): Array[String] = {
    val k = of(s)
    Array.tabulate(k.length)(k(_).toString)
  }

  /** The scanner: the tokens of `b`, or null when `b` is not well-formed
    * UTF-8. */
  private def scan(b: Array[Byte]): Tokens = {
    val until = b.length
    var out = new Array[Int](math.max(16, until / 2))
    var m = 0
    var run = 0      // class of the open letter (1) or digit (2) run; 0 none
    var runStart = 0
    var runCps = 0   // code points in the open run's current token
    var i = 0
    while (i < until) {
      val b0 = b(i) & 0xFF
      var cp = b0
      var w = 1
      if (b0 >= 0x80) {
        // well-formed sequences only (Unicode Table 3-7): no overlongs,
        // no surrogates, nothing above U+10FFFF
        w = if (b0 < 0xC2) 0 else if (b0 < 0xE0) 2 else if (b0 < 0xF0) 3
            else if (b0 < 0xF5) 4 else 0
        if (w == 0 || i + w > until) return null
        val b1 = b(i + 1) & 0xFF
        val lo = if (b0 == 0xE0) 0xA0 else if (b0 == 0xF0) 0x90 else 0x80
        val hi = if (b0 == 0xED) 0x9F else if (b0 == 0xF4) 0x8F else 0xBF
        if (b1 < lo || b1 > hi) return null
        cp = if (w == 2) b0 & 0x1F else if (w == 3) b0 & 0x0F else b0 & 0x07
        cp = (cp << 6) | (b1 & 0x3F)
        var k = 2
        while (k < w) {
          val bk = b(i + k) & 0xFF
          if ((bk & 0xC0) != 0x80) return null
          cp = (cp << 6) | (bk & 0x3F)
          k += 1
        }
      }
      val cls =
        if (cp < 0x80) AsciiClass(cp).toInt
        else if (isLetterCp(cp)) 1 else if (isDigitCp(cp)) 2 else 0
      if (run != 0 && cls == run) {
        if (runCps == (if (run == 1) MaxLetterRun else MaxDigitRun)) {
          if (m + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
          out(m) = runStart; out(m + 1) = i; m += 2
          runStart = i; runCps = 0
        }
        runCps += 1
      } else {
        if (m + 4 > out.length) out = java.util.Arrays.copyOf(out, out.length * 2)
        if (run != 0) { out(m) = runStart; out(m + 1) = i; m += 2 }
        run = 0
        if (cls == 1 || cls == 2) { run = cls; runStart = i; runCps = 1 }
        else if (cls == 0) { out(m) = i; out(m + 1) = i + w; m += 2 }
      }
      i += w
    }
    if (run != 0) {
      if (m + 2 > out.length) out = java.util.Arrays.copyOf(out, out.length + 2)
      out(m) = runStart; out(m + 1) = until; m += 2
    }
    new Tokens(b, out, m / 2)
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
}
