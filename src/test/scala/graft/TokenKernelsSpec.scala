package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{DistinctOverlap, TextFunctions, TextKernels, Tokenizer, TokensOf, XmlEscape}

/** The scanner-backed token kernels against the formulations they
  * replaced: `regex_tokens` ([[TokensOf]]) against
  * [[LegacyOracles.regexTokens]], `distinct_overlap` against
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
}
