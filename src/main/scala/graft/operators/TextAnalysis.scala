package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.Tokenizer

/** Text-analysis operators for training-data pipelines: quality scoring,
  * language-ID heuristic, document fingerprinting. All pure column
  * expressions (codegen'd, shuffle-free, oracle-checkable). */
object TextAnalysis {

  def tokensOf(text: Column): Column =
    graft.functions.TextFunctions.regex_tokens(text)

  /** English stopword sample used by the quality score / lang-ID. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  /** Quality features + composite score in [0,1]:
    * length score (tokens/500 capped), stopword ratio, punctuation ratio
    * (inverted), mean token length window. Mirrors the usual doc-quality
    * heuristics (length/punct/stopword ratios). */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val toks = tokensOf(text)
    val n = size(toks).cast("double")
    val stopArr = array(Stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t))).cast("double")
    val nPunct = size(filter(toks, t => t.rlike("^[^\\p{L}\\p{N}]$"))).cast("double")
    val meanLen = when(n > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / n)
      .otherwise(lit(0.0))
    val lengthScore = least(n / 500.0, lit(1.0))
    val stopRatio = when(n > 0, nStop / n).otherwise(lit(0.0))
    val punctRatio = when(n > 0, nPunct / n).otherwise(lit(0.0))
    val meanLenScore = when(meanLen.between(3.0, 8.0), lit(1.0)).otherwise(lit(0.5))
    val quality = round(
      lengthScore * 0.3 + stopRatio * 10.0 * 0.3 + (lit(1.0) - punctRatio) * 0.2
        + meanLenScore * 0.2, 4)
    Seq(
      "n_tokens" -> size(toks),
      "stopword_ratio" -> round(stopRatio, 4),
      "punct_ratio" -> round(punctRatio, 4),
      "mean_token_len" -> round(meanLen, 4),
      "quality" -> least(quality, lit(1.0)))
  }

  /** Gopher-style duplicate-word fraction (the published web-corpus
    * quality rules: Rae et al. 2021 §A1.1 — fraction of repeated units).
    * A pure scalar over one tokenization. */
  def dupWordFrac(text: Column): Column = {
    val toks = tokensOf(text)
    val n = size(toks).cast("double")
    round(when(n > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / n)
      .otherwise(lit(0.0)), 6)
  }

  /** Marker-word language ID: per-language marker lists, predicted language
    * = argmax marker hits (ties -> lexicographically first), 'und' if no
    * marker hits at all. A classic n-gram/profile heuristic reduced to
    * word-profiles (deterministic & oracle-checkable). */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "la", "de", "que", "es"),
    "fr" -> Seq("le", "la", "et", "est", "les"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Single-pass argmax over marker hits (one token scan per doc, a small
    * hash lookup per token — replaces 5 interpreted lambda filters over
    * the token array; semantics identical to the DuckDB oracle's
    * greatest+CASE formulation: max hits, tie -> lexicographically first
    * lang, 'und' when no marker hits). */
  case class PredictLang(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.types.{DataType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any = {
      val hits = new Array[Int](PredictLang.langs.length)
      Tokenizer.of(v.asInstanceOf[UTF8String]).foreach { t =>
        PredictLang.markerToLangs.get(t).foreach(_.foreach(hits(_) += 1))
      }
      var best = 0
      var i = 1
      while (i < hits.length) { if (hits(i) > hits(best)) best = i; i += 1 }
      UTF8String.fromString(
        if (hits(best) == 0) "und" else PredictLang.langs(best))
    }
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression): PredictLang = copy(c)
    override def prettyName: String = "predict_lang"
  }
  object PredictLang {
    // lexicographic order => argmax scan naturally breaks ties toward the
    // lexicographically first language
    val langs: Array[String] = LangMarkers.keys.toArray.sorted
    // a marker word may belong to several languages ('la' is es AND fr):
    // every owning language gets the hit, as in the per-lang filters
    val markerToLangs: Map[org.apache.spark.unsafe.types.UTF8String, Seq[Int]] =
      langs.zipWithIndex.flatMap { case (l, i) =>
        LangMarkers(l).map(m => org.apache.spark.unsafe.types.UTF8String.fromString(m) -> i)
      }.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
  }

  def predictedLang(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      PredictLang(org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** Character-trigram profiles per language, derived deterministically
    * from the marker words (trigrams of the space-padded word, so word
    * boundaries are part of the profile — ' th', 'the', 'he '). */
  val LangTrigramProfiles: Map[String, Seq[String]] = LangMarkers.map {
    case (l, ws) => l -> ws.flatMap { w =>
      val p = s" $w "
      (0 to p.length - 3).map(i => p.substring(i, i + 3))
    }.distinct
  }

  /** All distinct character trigrams of `text` (empty below 3 chars —
    * guarded because sequence(1, n) REVERSES when n < 1). */
  def charTrigrams(text: Column): Column =
    when(length(text) >= 3,
      array_distinct(transform(sequence(lit(1), length(text) - 2),
        i => text.substr(i, lit(3)))))
      .otherwise(array().cast("array<string>"))

  /** Character-n-gram language ID: argmax profile-trigram overlap over
    * the doc's trigram set ('und' when nothing matches, ties to the
    * lexicographically first language). The classic n-gram-profile
    * heuristic, composed entirely from built-ins (distinct + intersect),
    * complementing the word-marker [[predictedLang]]. */
  def predictedLangTrigram(text: Column): Column = {
    val tg = charTrigrams(lower(text))
    val langs = LangTrigramProfiles.keys.toSeq.sorted
    val scores = langs.map { l =>
      l -> size(array_intersect(tg,
        array(LangTrigramProfiles(l).map(lit): _*)))
    }
    val mx = greatest(scores.map(_._2): _*)
    scores.foldLeft(when(mx === 0, "und")) { case (acc, (l, s)) =>
      acc.when(s === mx, l)
    }
  }

  /** Rolling polynomial fingerprint over the first `take` tokens:
    * tokens -> numeric contributions (codepoint of first char + 7*length),
    * then h = fold (h*31 + x) mod 1e9+7. Two explicit steps (map, fold) so
    * the DuckDB oracle (list_transform + list_reduce) is shape-identical. */
  def fingerprint(text: Column, take: Int): Column = {
    val nums = transform(slice(tokensOf(text), 1, take),
      t => (ascii(t) + length(t) * 7).cast("long"))
    aggregate(nums, lit(0L),
      (acc, x) => pmod(acc * 31 + x, lit(1000000007L)))
  }
}
