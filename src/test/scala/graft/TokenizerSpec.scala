package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextKernels, Tokenizer}

class TokenizerSpec extends SparkSpec {

  /** `truncate_tokens`' kernel on a string: (text, original, kept). */
  private def truncate(s: String, max: Int, mode: String): (String, Int, Int) = {
    val r = TextKernels.truncateTokens(UTF8String.fromString(s), max, UTF8String.fromString(mode))
    (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2))
  }

  /** Deterministic stand-in for ScalaCheckPropertyChecks (scalatestplus is
    * not in the offline cache): sample `gen` `n` times from a fixed seed. */
  private def forAll[A](gen: Gen[A], n: Int = 200)(body: A => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(body)
      seed = seed.next
      i += 1
    }
  }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(body: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => body(t._1, t._2))
  private def forAll[A, B, C](ga: Gen[A], gb: Gen[B], gc: Gen[C])(
      body: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(ga, gb, gc))(t => body(t._1, t._2, t._3))

  private val textGen: Gen[String] = Gen.listOf(Gen.frequency(
    (8, Gen.alphaStr.map(_.take(20))),
    (2, Gen.numStr.map(_.take(8))),
    (2, Gen.oneOf(".", ",", "$", "%", "(", ")", "-", "—", "ü", "北")),
    (4, Gen.oneOf(" ", "  ", "\n", "\t")),
  )).map(_.mkString)

  test("countTokens agrees with tokenize offsets") {
    forAll(textGen) { (s: String) =>
      assert(Tokenizer.countTokens(s) == Tokenizer.of(s).length)
      assert(Tokenizer.countTokens(UTF8String.fromString(s)) == Tokenizer.of(s).length)
    }
  }

  test("letter runs split every 8, digit runs every 3") {
    assert(Tokenizer.countTokens("abcdefgh") == 1)
    assert(Tokenizer.countTokens("abcdefghi") == 2)
    assert(Tokenizer.countTokens("a" * 17) == 3)
    assert(Tokenizer.countTokens("123") == 1)
    assert(Tokenizer.countTokens("1234") == 2)
    assert(Tokenizer.countTokens("12.5%") == 4) // "12",".","5","%"
    assert(Tokenizer.countTokens("  \n\t ") == 0)
    assert(Tokenizer.countTokens("") == 0)
  }

  test("supplementary code points: scanner matches the parity regex") {
    // both Java regex and DuckDB RE2 classify whole CODE POINTS — the
    // scanner must too, or astral letters (math-bold Lu, CJK ext-B)
    // split into two punctuation tokens per char and every
    // parity-based oracle diverges on such input
    def regexTokens(s: String): Seq[String] = {
      val m = java.util.regex.Pattern
        .compile(Tokenizer.DuckDbTokenRegex).matcher(s)
      val buf = Seq.newBuilder[String]
      while (m.find()) buf += m.group()
      buf.result()
    }
    val astral = Seq(
      "ab𝐀𝐁cd",      // 6-code-point letter run incl. math-bold Lu
      "😀",                      // emoji (So -> punctuation class)
      "𠄣" + "4世",          // CJK ext-B letter, digit, BMP CJK
      "𝐀" * 9,                  // astral letter run crossing the 8 budget
      "𝟎" * 4,                  // MATHEMATICAL BOLD DIGIT ZERO (Nd) run
      "x😀y 12𝟏",
      "\uD800 lone-high surrogate")        // invalid UTF-16 stays 1 token
    // the scanner reads UTF-8, where an unpaired surrogate is '?' (as
    // UTF8String.fromString encodes it): the regex's tokens, encoded
    def encoded(t: String) =
      new String(t.getBytes(java.nio.charset.StandardCharsets.UTF_8), "UTF-8")
    astral.foreach { s =>
      val fromScanner = Tokenizer.tokens(s).toSeq
      assert(fromScanner == regexTokens(s).map(encoded),
        s"scanner/regex divergence on <$s>: $fromScanner vs ${regexTokens(s)}")
      assert(Tokenizer.countTokens(s) == regexTokens(s).size)
    }
    assert(Tokenizer.tokens("\uD800 lone").toSeq == Seq("?", "lone"))
  }

  test("chunk spans: size/overlap invariants") {
    forAll(Gen.chooseNum(0, 5000), Gen.chooseNum(1, 200), Gen.chooseNum(0, 199)) {
      (n, size, ov0) =>
        val ov = math.min(ov0, size - 1)
        val spans = Tokenizer.chunkSpans(n, size, ov)
        assert(spans.length == Tokenizer.numChunks(n, size, ov))
        if (n > 0) {
          assert(spans.head._1 == 0)
          assert(spans.last._2 == n)
          spans.foreach { case (a, b) => assert(b - a <= size && b > a) }
          spans.sliding(2).foreach {
            case Array((_, e1), (s2, _)) => assert(e1 - s2 == ov || e1 == n)
            case _ =>
          }
        }
    }
  }

  test("chunk texts reconstruct the tokenized source") {
    forAll(textGen, Gen.chooseNum(2, 64)) { (s, size) =>
      val ov = size / 4
      val n = Tokenizer.of(s).length
      val spans = Tokenizer.chunkSpans(n, size, ov)
      // de-overlapped concatenation covers every token exactly once
      val covered = spans.zipWithIndex.flatMap { case ((a, b), i) =>
        (if (i == 0) a else a + ov) until b
      }
      assert(covered.toSeq == (0 until n))
    }
  }

  test("truncate keeps exactly min(n, max) tokens, start and end modes") {
    forAll(textGen, Gen.chooseNum(0, 50)) { (s, max) =>
      for (mode <- Seq("start", "end", "smart")) {
        val (out, orig, kept) = truncate(s, max, mode)
        assert(orig == Tokenizer.countTokens(s))
        assert(kept == math.min(orig, max))
        assert(Tokenizer.countTokens(out) == kept)
        if (orig <= max) assert(out == s)
      }
    }
  }

  test("truncate start is a prefix relation, end a suffix relation") {
    val s = "alpha beta gamma delta epsilon zeta eta theta"
    val (st, _, _) = truncate(s, 3, "start")
    val (en, _, _) = truncate(s, 3, "end")
    assert(s.startsWith(st))
    assert(s.endsWith(en))
    assert(st == "alpha beta gamma")
    assert(en == "zeta eta theta")
  }

  test("split_chunks expression over Spark matches local tokenizer") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val df = spark.createDataFrame(Seq(
      (1L, "the quick brown fox jumps over the lazy dog " * 10),
      (2L, "short"))).toDF("id", "text")
    val chunks = df.select(col("id"),
      split_chunks(col("text"), lit(10), lit(2))).collect()
    val byId = chunks.groupBy(_.getLong(0))
    assert(byId(2L).length == 1)
    val expected1 = Tokenizer.numChunks(
      Tokenizer.countTokens("the quick brown fox jumps over the lazy dog " * 10), 10, 2)
    assert(byId(1L).length == expected1)
    // chunk text retokenizes to token_count
    chunks.foreach { r =>
      assert(Tokenizer.countTokens(r.getString(2)) == r.getInt(3))
    }
  }

  /** Independent greedy reference for the char-costed splitter (C2):
    * plain Scala, no shared code with the expression. */
  private def charChunksRef(text: String, size: Int, ov: Int,
      sep: String): Seq[String] = {
    val units = text.split(java.util.regex.Pattern.quote(sep), -1)
      .filter(_.nonEmpty).toIndexedSeq
    def cost(a: Int, b: Int): Int =
      units.slice(a, b).map(_.length).sum + sep.length * (b - a - 1)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var a = 0
    while (a < units.length) {
      var b = a + 1
      while (b < units.length && cost(a, b + 1) <= size) b += 1
      out += units.slice(a, b).mkString(sep)
      if (b >= units.length) a = units.length
      else {
        var c = b
        while (c > a + 1 && cost(c - 1, b) <= ov) c -= 1
        a = math.max(c, a + 1)
      }
    }
    out.toSeq
  }

  test("split_chunks_chars: property parity with reference + invariants") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    val rnd = new scala.util.Random(42)
    val words = Seq("a", "bb", "ccc", "dddd", "longerunit", "x" * 25, "y" * 120)
    val texts = (1 to 40).map { i =>
      (i.toLong, (1 to (1 + rnd.nextInt(60)))
        .map(_ => words(rnd.nextInt(words.length))).mkString(" "))
    } :+ (98L, "") :+ (99L, "single")
    val df = spark.createDataFrame(texts).toDF("id", "text")
    for ((size, ov) <- Seq((50, 0), (50, 10), (30, 29), (200, 40))) {
      val got = df.select(col("id"),
          split_chunks_chars(col("text"), lit(size), lit(ov), lit(" ")))
        .collect()
        .groupBy(_.getLong(0))
        .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getString(2), r.getInt(3))))
      texts.foreach { case (id, t) =>
        val want = charChunksRef(t, size, ov, " ")
        val have = got.getOrElse(id, Array.empty).toSeq
        assert(have.map(_._1) == want, s"id=$id size=$size ov=$ov")
        // token_count = units in the chunk; oversized chunks are single units
        have.foreach { case (c, n) =>
          assert(c.split(" ").count(_.nonEmpty) == n)
          assert(c.length <= size || n == 1)
        }
      }
    }
  }

  test("term_counts equals explode(regex_tokens) + groupBy count") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.{col, explode}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val viaKernel = docs
      .select(col("doc_id"),
        explode(TextFunctions.term_counts(col("text"))).as(Seq("term", "tf")))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaExplode = docs
      .select(col("doc_id"),
        explode(LegacyOracles.regexTokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaKernel == viaExplode)
    assert(viaKernel.nonEmpty)
  }

  test("bigram_counts equals the transform/explode bigram formulation") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions.{col, explode, expr}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(200)
    val viaKernel = docs
      .select(col("doc_id"),
        explode(TextFunctions.bigram_counts(col("text"))).as(Seq("term", "tf")))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaExplode = docs
      .select(col("doc_id"), LegacyOracles.regexTokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(expr(
        """transform(slice(ts, 1, greatest(size(ts) - 1, 0)),
          |  (t, i) -> concat(t, ' ', element_at(ts, i + 2)))"""
          .stripMargin)).as("term"))
      .groupBy("doc_id", "term").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaKernel == viaExplode)
    assert(viaKernel.nonEmpty)
  }
}
