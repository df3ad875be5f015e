package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{DistinctOverlap, HashKernel, TextFunctions, TextKernels, Tokenizer,
  TokensOf, TruncateTokens, XmlEscape}
import graft.operators.{Dedup, Multimodal, TextAnalysis}

/** The scanner-backed token kernels against the formulations they
  * replaced: `regex_tokens` ([[TokensOf]]) and every other caller of the
  * byte scanner against [[LegacyOracles.regexTokens]] (on every sf0.01
  * document, on generated text interpreted and in generated code, and on
  * malformed UTF-8), the `String` entry points separately,
  * `distinct_overlap` against
  * `size(array_intersect(array_distinct(a), q))`, `xml_escape` against
  * the five chained `replace`s, `has_tokens` against `count_tokens > 0`
  * and `chunk_tokens` against the regex tokens of each window, in
  * generated code (a projection above an exchange or a scan); the token,
  * overlap and escape kernels also interpreted (direct `eval`). */
class TokenKernelsSpec extends SparkSpec {

  private def sample[A](gen: Gen[A], n: Int): Seq[A] = {
    var seed = Seed(7L)
    (0 until n).flatMap { _ =>
      val a = gen.apply(Gen.Parameters.default, seed)
      seed = seed.next
      a
    }
  }

  /** Letter runs longer than 8, digit runs longer than 3, every ASCII
    * whitespace, non-ASCII whitespace, astral letters and digits, emoji,
    * a combining mark, lone surrogates, punctuation. */
  private val pieces: Gen[String] = Gen.frequency(
    (4, Gen.chooseNum(1, 20).map(n => "abcdefghijklmnopqrstuvwxyz".take(n))),
    (2, Gen.chooseNum(1, 20).map(n => "Grüße北京й" * 2 take n)),
    (3, Gen.chooseNum(1, 10).map(n => "0123456789".take(n))),
    (4, Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r", "  ", "　", " ", "\u001C")),
    (2, Gen.chooseNum(1, 10).map(n => "𝐀" * n)),   // MATHEMATICAL BOLD A
    (1, Gen.chooseNum(1, 5).map(n => "𝟎" * n)),    // MATHEMATICAL BOLD DIGIT ZERO
    (1, Gen.oneOf("𠄣", "😀", "é", "Ⅳ", "½")),
    (1, Gen.oneOf("\uD800", "\uDC00", "a\uD800b")),
    (2, Gen.oneOf(".", ",", "$", "%", "(", "-", "—", "&", "<", "'", "\"")))

  private val texts: Seq[String] =
    Seq("", null, " \t\n\u000B\f\r ") ++
      sample(Gen.listOf(pieces).map(_.mkString), 400)

  private def regexEval(s: UTF8String): Any =
    RegExpExtractAll(Literal(s, StringType), Literal(Tokenizer.DuckDbTokenRegex), Literal(0))
      .eval()

  private def strings(a: Any): Seq[String] =
    if (a == null) null
    else { val d = a.asInstanceOf[ArrayData]; (0 until d.numElements).map(d.getUTF8String(_).toString) }

  /** One string column, moved through an exchange so the projection
    * above it is generated code, not folded into a local relation. */
  private def column(values: Seq[String]): DataFrame =
    spark.createDataFrame(values.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "s").repartition(2)

  private def byId(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getLong(0)).toSeq

  test("regex_tokens equals the regex on every sf0.01 document") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    val docs = graft.core.Tables.load(spark, sf01, "documents")
    val diff = docs.filter(not(TextFunctions.regex_tokens(col("text")) <=>
      LegacyOracles.regexTokens(col("text"))))
    assert(diff.count() == 0)
    assert(docs.count() > 0)
  }

  test("regex_tokens equals the regex on generated text, interpreted and generated") {
    texts.foreach { t =>
      val u = if (t == null) null else UTF8String.fromString(t)
      assert(strings(TokensOf(Literal(u, StringType)).eval()) == strings(regexEval(u)),
        s"<$t>")
    }
    val df = column(texts).select(col("id"), TextFunctions.regex_tokens(col("s")).as("a"),
      LegacyOracles.regexTokens(col("s")).as("b"))
    byId(df).foreach(r => assert(r.get(1) == r.get(2), r))
    // same type and nullability as the regex, for a nullable and a
    // non-null input
    val lit1 = lit("x y")
    assert(df.schema("a").copy(name = "b") == df.schema("b"))
    assert(spark.range(1).select(TextFunctions.regex_tokens(lit1).as("a")).schema ==
      spark.range(1).select(LegacyOracles.regexTokens(lit1).as("a")).schema)
  }

  test("regex_tokens equals the regex on malformed UTF-8") {
    val bytes: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
      (4, Gen.oneOf('a', 'b', 'z', '7', ' ', '.', '\n').map(_.toByte)),
      (2, Gen.chooseNum(0x80, 0xBF).map(_.toByte)),             // continuation
      (2, Gen.chooseNum(0xC0, 0xFF).map(_.toByte)),             // leads, invalid leads
      (1, Gen.oneOf(0xE0, 0xED, 0xF0, 0xF4).map(_.toByte))))
      .map(_.toArray)
    val cases = Seq(Array(0xED, 0xA0, 0x80), Array(0xE0, 0x80, 0x80), Array(0xC0, 0xAF),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xC3), Array(0x61, 0xE2, 0x82))
      .map(_.map(_.toByte)) ++ sample(bytes, 400)
    cases.foreach { b =>
      val u = UTF8String.fromBytes(b)
      assert(strings(TextKernels.tokens(u)) == strings(regexEval(u)), b.map(_ & 0xFF).toSeq)
    }
  }

  test("tokens do not alias a reused input buffer") {
    val project = UnsafeProjection.create(Array[DataType](StringType))
    val row = project(InternalRow(UTF8String.fromString("alpha beta")))
    val toks = TextKernels.tokens(row.getUTF8String(0))
    val chunks = TextKernels.chunkTokens(row.getUTF8String(0), 1, 0)
    project(InternalRow(UTF8String.fromString("gamma delt"))) // same buffer
    assert(strings(toks) == Seq("alpha", "beta"))
    assert(strings(chunks.getStruct(1, 2).getArray(1)) == Seq("beta"))
  }

  test("distinct_overlap equals size(array_intersect(array_distinct(a), q))") {
    // shared prefixes (also past 8 bytes), duplicates and nulls on both sides
    val vocab = Gen.frequency((8, Gen.oneOf("a", "ab", "abc", "b", "ba", "spark", "sp", "",
        "abcdefghXY", "abcdefghXZ", "abcdefgh", "ééééé", "ééééa")),
      (1, Gen.const(null: String)))
    val arrays = Gen.chooseNum(0, 8).flatMap(Gen.listOfN(_, vocab))
    val pairs: Seq[(Seq[String], Seq[String])] = Seq((Nil, Nil), (Seq("a"), Nil), (Nil, Seq("a")),
      (Seq("a", "a", "ab"), Seq("a", "a", "ab", "abc")), (Seq("sp"), Seq("spark")),
      (Seq(null, "a"), Seq(null)), (Seq("a"), Seq(null))) ++
      sample(Gen.zip(arrays, arrays), 400)
    val t = ArrayType(StringType)
    def legacy(a: Expression, q: Expression) =
      Size(ArrayIntersect(ArrayDistinct(a), q), legacySizeOfNull = false).eval()
    // and a null array, which gives null
    val nulls: Seq[(Seq[String], Seq[String])] = Seq((null, Seq("a")), (Seq("a"), null))
    for ((a, q) <- pairs ++ nulls) {
      val (ea, eq) = (Literal.create(a, t), Literal.create(q, t))
      assert(DistinctOverlap(ea, eq).eval() == legacy(ea, eq), (a, q))
    }
    val df = spark.createDataFrame(pairs.zipWithIndex.map { case ((a, q), i) => (i.toLong, a, q) })
      .toDF("id", "a", "q").repartition(2)
      .select(col("id"), TextFunctions.distinct_overlap(col("a"), col("q")).as("k"),
        size(array_intersect(array_distinct(col("a")), col("q"))).as("legacy"))
    byId(df).foreach(r => assert(r.get(1) == r.get(2), r))
  }

  test("xml_escape equals the five-replace chain") {
    val chain: Column => Column = c => Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;",
      "\"" -> "&quot;", "'" -> "&apos;")
      .foldLeft(c) { case (x, (f, r)) => replace(x, lit(f), lit(r)) }
    val parts = Gen.oneOf("&", "<", ">", "\"", "'", "&amp;", "&lt;", "&quot;", "&apos;",
      "a", "ü", "😀", " ", "chunk")
    val values = Seq("", null, "plain", "&amp;&lt;\"'") ++
      sample(Gen.listOf(parts).map(_.mkString), 300)
    val df = column(values).select(col("id"), TextFunctions.xml_escape(col("s")).as("k"),
      chain(col("s")).as("legacy"))
    byId(df).foreach(r => assert(r.get(1) == r.get(2), r))
    values.filter(_ != null).foreach(v =>
      assert(XmlEscape(Literal(v)).eval().toString ==
        v.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
          .replace("\"", "&quot;").replace("'", "&apos;")))
  }

  test("has_tokens equals count_tokens > 0") {
    val df = column(texts).select(col("id"), TextFunctions.has_tokens(col("s")).as("k"),
      (TextFunctions.count_tokens(col("s")) > 0).as("legacy"))
    byId(df).foreach(r => assert(r.get(1) == r.get(2), r))
  }

  test("chunk_tokens: each window's tokens are the regex tokens of that window") {
    def regex(s: String): Seq[String] = {
      val m = java.util.regex.Pattern.compile(Tokenizer.DuckDbTokenRegex).matcher(s)
      val b = Seq.newBuilder[String]
      while (m.find()) b += m.group()
      b.result()
    }
    val docs = graft.core.Tables.load(spark, sf, "documents").select("doc_id", "text")
    for ((size, overlap) <- Seq((4, 1), (64, 16), (7, 0))) {
      val rows = docs.select(col("text"),
          TextFunctions.chunk_tokens(col("text"), lit(size), lit(overlap)).as("c"))
        .collect()
      rows.foreach { r =>
        val toks = regex(r.getString(0))
        val want = Tokenizer.chunkSpans(toks.length, size, overlap).toSeq
          .map { case (a, b) => toks.slice(a, b) }
        val got = r.getSeq[Row](1)
        assert(got.map(_.getInt(0)) == want.indices)
        assert(got.map(_.getSeq[String](1)) == want)
      }
    }
  }

  /** The regex's matches in decoded text `s` (as `regexp_extract_all`
    * decodes it): their char spans and token strings. */
  private final class Regex(val s: String) {
    val spans: IndexedSeq[(Int, Int)] = {
      val m = java.util.regex.Pattern.compile(Tokenizer.DuckDbTokenRegex).matcher(s)
      val b = IndexedSeq.newBuilder[(Int, Int)]
      while (m.find()) b += ((m.start, m.end))
      b.result()
    }
    val toks: IndexedSeq[String] = spans.map { case (a, b) => s.substring(a, b) }
    def n: Int = toks.size
    def sub(a: Int, b: Int): String = s.substring(spans(a)._1, spans(b - 1)._2)
    def joined(i: Int, k: Int): String = toks.slice(i, i + k).mkString(" ")
  }

  private def counts(keys: Seq[String]): Map[String, Long] =
    keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def lcs(a: Seq[String], b: Seq[String]): Int = {
    val d = Array.ofDim[Int](a.size + 1, b.size + 1)
    for (i <- a.indices; j <- b.indices)
      d(i + 1)(j + 1) = if (a(i) == b(j)) d(i)(j) + 1 else math.max(d(i)(j + 1), d(i + 1)(j))
    d(a.size)(b.size)
  }

  private def truncation(r: Regex, max: Int, mode: String): Seq[Any] = {
    val n = r.n
    val kept = if (n <= max) n else math.max(0, max)
    val first = if (n > max && mode == "end") n - kept else 0
    val text = if (n <= max) r.s else if (kept == 0) "" else r.sub(first, first + kept)
    Seq(text, n, kept, if (n > 0) kept.toDouble / n else 1.0, kept < n, mode)
  }

  /** A caller of the scanner: its kernel over `s` (and `s2`), and its
    * value from the regex's tokens of the decoded texts. */
  private case class Caller(name: String, kernel: Column, want: (Regex, Regex) => Any)

  private val callers: Seq[Caller] = {
    val (s, s2) = (col("s"), col("s2"))
    def window(mode: String) = Bridge.column(TruncateTokens(Bridge.expression(s),
      Literal(5), Literal(mode), withTokens = true))
    Seq(
      Caller("regex_tokens", TextFunctions.regex_tokens(s), (r, _) => r.toks),
      Caller("count_tokens", TextFunctions.count_tokens(s), (r, _) => r.n),
      Caller("estimate_tokens", TextFunctions.estimate_tokens(s),
        (r, _) => math.ceil(r.n * 1.15).toInt),
      Caller("chunk_tokens", TextFunctions.chunk_tokens(s, lit(7), lit(2)), (r, _) =>
        Tokenizer.chunkSpans(r.n, 7, 2).toSeq.zipWithIndex
          .map { case ((a, b), i) => Seq(i, r.toks.slice(a, b)) }),
      Caller("truncate_tokens start 5",
        TextFunctions.truncate_tokens(s, lit(5), lit("start")), (r, _) => truncation(r, 5, "start")),
      Caller("truncate_tokens end 5",
        TextFunctions.truncate_tokens(s, lit(5), lit("end")), (r, _) => truncation(r, 5, "end")),
      Caller("truncate_tokens smart 0",
        TextFunctions.truncate_tokens(s, lit(0), lit("smart")), (r, _) => truncation(r, 0, "smart")),
      Caller("truncate_tokens start 200",
        TextFunctions.truncate_tokens(s, lit(200), lit("start")), (r, _) => truncation(r, 200, "start")),
      Caller("truncate window end 5", window("end"), (r, _) => {
        val t = truncation(r, 5, "end")
        val kept = t(2).asInstanceOf[Int]
        t :+ r.toks.slice(r.n - kept, r.n)
      }),
      Caller("truncate window start 5", window("start"), (r, _) =>
        truncation(r, 5, "start") :+ r.toks.take(5)),
      Caller("term_counts", TextFunctions.term_counts(s), (r, _) => counts(r.toks)),
      Caller("bigram_counts", TextFunctions.bigram_counts(s),
        (r, _) => counts((0 until r.n - 1).map(r.joined(_, 2)))),
      Caller("shingles", TextFunctions.shingles(s, lit(3)),
        (r, _) => (0 to r.n - 3).map(r.joined(_, 3)).distinct),
      Caller("lcs_tokens", TextFunctions.lcs_tokens(s, s2, lit(16)),
        (r, r2) => if (r2 == null) null else lcs(r.toks.take(16), r2.toks.take(16))),
      Caller("winnow_fingerprints", TextFunctions.winnow_fingerprints(s, lit(3), lit(4)), (r, _) => {
        val hs = (0 to r.n - 3).map(i => HashKernel.xxh64(UTF8String.fromString(r.joined(i, 3))))
        (0 to hs.size - 4).map(p => hs.slice(p, p + 4).min).distinct.sorted
      }),
      Caller("simhash_text", Dedup.simhashText(s), (r, _) =>
        Dedup.simhash64Kernel(new GenericArrayData(r.toks.map(UTF8String.fromString)))),
      Caller("predict_lang", TextAnalysis.predictedLang(s), (r, _) => {
        val langs = TextAnalysis.PredictLang.langs
        val hits = new Array[Int](langs.length)
        r.toks.foreach(t => TextAnalysis.PredictLang.markerToLangs.get(UTF8String.fromString(t))
          .foreach(_.foreach(hits(_) += 1)))
        val best = hits.indices.maxBy(i => (hits(i), -i))
        if (hits(best) == 0) "und" else langs(best)
      }))
  }

  private def norm(v: Any): Any = v match {
    case r: Row => r.toSeq.map(norm)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case q: scala.collection.Seq[_] => q.map(norm).toSeq
    case x => x
  }

  /** Every caller over `df`'s (id, s, s2): in one projection above an
    * exchange, `LegacyOracles.regexTokens` beside them; `split_chunks`
    * (a generator) in its own. With `interpreted`, whole-stage and
    * expression codegen are off, so every kernel runs through `eval`. */
  private def checkCallers(df: DataFrame, interpreted: Boolean = false): Unit = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    if (interpreted) confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val rows = byId(df.repartition(2).select(Seq(col("id"), col("s"), col("s2"),
        LegacyOracles.regexTokens(col("s"))) ++ callers.map(_.kernel): _*))
      assert(rows.nonEmpty)
      rows.foreach { row =>
        val (s, s2) = (row.getString(1), row.getString(2))
        val (r, r2) = (Option(s).map(new Regex(_)).orNull, Option(s2).map(new Regex(_)).orNull)
        if (s != null) assert(row.getSeq[String](3) == r.toks, s"<$s>")
        callers.zipWithIndex.foreach { case (c, i) =>
          assert(norm(row.get(4 + i)) == (if (s == null) null else c.want(r, r2)),
            s"${c.name} on <$s>")
        }
      }
      val chunks = df.repartition(2)
        .select(col("id"), col("s"), TextFunctions.split_chunks(col("s"), lit(7), lit(2)))
        .collect().groupBy(_.getLong(0))
      rows.foreach { row =>
        val s = row.getString(1)
        val want = if (s == null) Nil else {
          val r = new Regex(s)
          Tokenizer.chunkSpans(r.n, 7, 2).toSeq.zipWithIndex
            .map { case ((a, b), i) => Seq(i, r.sub(a, b), b - a) }
        }
        val got = chunks.getOrElse(row.getLong(0), Array.empty[Row]).toSeq
          .map(c => Seq(c.getInt(2), c.getString(3), c.getInt(4))).sortBy(_.head.asInstanceOf[Int])
        assert(got == want, s"split_chunks on <$s>")
      }
    } finally if (interpreted) confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The texts as (id, s, s2), `s2` the next text (for `lcs_tokens`). */
  private def pairs(values: Seq[String]): DataFrame =
    spark.createDataFrame(values.indices.map(i =>
      (i.toLong, values(i), values((i + 1) % values.size)))).toDF("id", "s", "s2")

  private val malformed: Seq[Array[Byte]] = {
    val bytes: Gen[Array[Byte]] = Gen.listOf(Gen.frequency(
      (4, Gen.oneOf('a', 'b', 'z', '7', ' ', '.', '\n').map(_.toByte)),
      (2, Gen.chooseNum(0x80, 0xBF).map(_.toByte)),
      (2, Gen.chooseNum(0xC0, 0xFF).map(_.toByte)),
      (1, Gen.oneOf(0xE0, 0xED, 0xF0, 0xF4).map(_.toByte))))
      .map(_.toArray)
    Seq(Array(0xED, 0xA0, 0x80), Array(0xE0, 0x80, 0x80), Array(0xC0, 0xAF),
      Array(0xF4, 0x90, 0x80, 0x80), Array(0xC3), Array(0x61, 0xE2, 0x82))
      .map(_.map(_.toByte)) ++ sample(bytes, 400)
  }

  test("every scanner caller equals its regex formulation on every sf0.01 document") {
    val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
    val docs = graft.core.Tables.load(spark, sf01, "documents")
      .select("text").collect().map(_.getString(0)).toSeq
    assert(docs.size > 100)
    checkCallers(pairs(docs))
  }

  test("every scanner caller equals its regex formulation on generated text, " +
      "interpreted and generated") {
    checkCallers(pairs(texts))
    checkCallers(pairs(texts), interpreted = true)
  }

  test("every scanner caller equals its regex formulation on malformed UTF-8") {
    val df = spark.createDataFrame(malformed.indices.map(i =>
        (i.toLong, malformed(i), malformed((i + 1) % malformed.size))))
      .toDF("id", "b", "b2")
      .select(col("id"), col("b").cast("string").as("s"), col("b2").cast("string").as("s2"))
    checkCallers(df)
    checkCallers(df, interpreted = true)
  }

  test("perceptual hashes of text payloads count the regex's tokens") {
    val s = spark; import s.implicits._
    val blobs = (texts.filter(_ != null).map(_.getBytes("UTF-8")) ++ malformed)
      .filter(b => Multimodal.decodePixels(b).isEmpty && Multimodal.decodeWavSamples(b).isEmpty)
    val got = Multimodal.perceptualHashes(spark,
        blobs.zipWithIndex.map { case (b, i) => (i.toLong, "image", b) }
          .toDF("doc_id", "media_type", "blob"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    blobs.zipWithIndex.foreach { case (b, i) =>
      val cells = new Array[Long](64)
      new Regex(new String(b, "UTF-8")).toks.foreach(t =>
        cells((HashKernel.xxh64(UTF8String.fromString(t)) & 63L).toInt) += 1)
      assert(got(i.toLong) == Multimodal.aHashBytes(cells.map(c => math.min(255L, c * 16L).toByte)),
        b.map(_ & 0xFF).toSeq)
    }
  }

  test("the String entry points wrap the scanner; an unpaired surrogate is '?' " +
      "as UTF8String.fromString makes it") {
    // String.getBytes(UTF_8) and UTF8String.fromString both encode an
    // unpaired surrogate as '?': the question tokens an ask hands the
    // plan are the ones the regex's tokens became through fromString
    assert(new String("\uD800".getBytes(java.nio.charset.StandardCharsets.UTF_8), "UTF-8") == "?")
    assert(UTF8String.fromString("\uD800").toString == "?")
    texts.filter(_ != null).foreach { t =>
      val viaRegex = new Regex(t).toks
      assert(Tokenizer.tokens(t).toSeq == viaRegex.map(UTF8String.fromString(_).toString), s"<$t>")
      assert(Tokenizer.countTokens(t) == viaRegex.size, s"<$t>")
      assert(Engine.truncationBudget(t, 3000, 500) == math.max(1000, 2500 - viaRegex.size))
      val q = Tokenizer.of(t)
      assert(q.slice(0, q.length).toSeq == viaRegex.map(UTF8String.fromString), s"<$t>")
    }
    assert(Tokenizer.countTokens(null: String) == 0)
  }

  test("one token rule in src/main: no decoded UTF8String reaches Tokenizer, " +
      "no second code-point scanner") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 50)
    // a call into Tokenizer whose argument decodes: `x.toString`,
    // `x.toString()` (generated code) or `new String(bytes, ...)`
    val decoded = """Tokenizer\s*\.\s*\w+\((\s*new\s+String\(|([^()]|\([^()]*\))*\.toString\b)""".r
    // code-point decoding and the token classes live in the scanner only
    val codePoints = Seq("codePointAt", "codePointBefore", "codePoints", "charCount",
      "offsetByCodePoints", "Character.isLetter", "Character.getType", "isDigit(")
    val utf8Leads = Seq("0xC2", "0xE0", "0xF0", "0xF5")
    for (p <- sources) {
      val text = Files.readString(p)
      decoded.findFirstIn(text).foreach(m => fail(s"decoded text handed to Tokenizer in $p: $m"))
      val isScanner = p.endsWith(Paths.get("graft", "functions", "Tokenizer.scala"))
      for (n <- codePoints if text.contains(n) && !(isScanner && n.startsWith("Character.")))
        fail(s"$n in $p")
      for (n <- utf8Leads if !isScanner && text.contains(n)) fail(s"UTF-8 lead byte $n in $p")
    }
    val scanner = Files.readString(root.resolve("graft/functions/Tokenizer.scala"))
    assert("""\bdef\s+scan\b""".r.findAllIn(scanner).size == 1)
    assert("0xF5".r.findAllIn(scanner).size == 1)
  }
}
