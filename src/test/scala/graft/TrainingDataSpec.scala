package graft

import org.apache.spark.sql.functions._

import graft.queries.AnalysisQueries

/** Contracts for the training-data-prep ops added on top of the oracle
  * checks: decontamination, sequence packing, unigram-LM scoring. */
class TrainingDataSpec extends SparkSpec {

  test("repetition signals match hand-computed positional coverage") {
    val s = spark; import s.implicits._
    // doc 1: "a b" occurs at pos 1,3,5 (count 3) -> covers {1..6} of 7;
    // all 5-grams distinct -> dup5 = 0
    // doc 2: "x y" and "y z" tie at 3 -> lexicographically smaller
    // "x y" wins, covers {1,2,4,5,7,8} of 11; 5-grams at pos 1&4 and
    // 2&5 repeat -> covered union {1..9} of 11
    val docs = Seq(
      (1L, "a b a b a b c"),
      (2L, "x y z x y z x y z w w")).toDF("doc_id", "text")
    val got = AnalysisQueries.repetitionSignalsOver(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getAs[Long]("n_tokens") == 7)
    assert(r1.getAs[String]("top2_gram") == "a b")
    assert(r1.getAs[Long]("top2_n") == 3)
    assert(r1.getAs[Double]("top2_frac") == 0.857143) // round(6/7, 6)
    assert(r1.getAs[Double]("dup5_frac") == 0.0)
    val r2 = got(2L)
    assert(r2.getAs[Long]("n_tokens") == 11)
    assert(r2.getAs[String]("top2_gram") == "x y")
    assert(r2.getAs[Long]("top2_n") == 3)
    assert(r2.getAs[Double]("top2_frac") == 0.545455) // round(6/11, 6)
    assert(r2.getAs[Double]("dup5_frac") == 0.818182) // round(9/11, 6)
    // a doc below the 5-token floor is excluded, not NULL-padded
    val tiny = Seq((3L, "a b c")).toDF("doc_id", "text")
    assert(AnalysisQueries.repetitionSignalsOver(tiny).count() == 0)
  }

  test("decontaminate: benchmark docs excluded, flag consistent, hits real") {
    val rows = AnalysisQueries.decontaminate(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(1) > 0))
    }
    // benchmark (src0) docs never appear in the output
    val benchIds = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("source") === "src0").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => !benchIds.contains(r.getLong(0))))
    // the 31-term vocabulary guarantees real 5-gram collisions exist
    assert(rows.exists(_.getBoolean(2)))
    // independent recomputation for one contaminated doc
    val docId = rows.filter(_.getBoolean(2)).map(_.getLong(0)).min
    val docs = spark.read.parquet(s"$sf/documents.parquet").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[String]("source")))
    def grams(t: String): Set[String] = {
      val ts = graft.functions.Tokenizer.tokens(t)
      if (ts.length < 5) Set.empty
      else ts.sliding(5).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._3 == "src0").flatMap(d => grams(d._2)).toSet
    val mine = grams(docs.find(_._1 == docId).get._2)
    val want = mine.count(bench.contains)
    val got = rows.find(_.getLong(0) == docId).get.getLong(1)
    assert(got == want.toLong, s"doc $docId: got $got want $want")
  }

  test("pack_bins: greedy invariants per (lang, bucket) group") {
    val rows = AnalysisQueries.packBins(spark, sf).collect()
      .map(r => (r.getString(1), r.getInt(2), r.getLong(0), r.getInt(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(t => (t._1, t._2)).foreach { case ((lang, bucket), g) =>
      val byDoc = g.sortBy(_._3)
      // bins start at 0, never decrease, step by at most 1 in doc order
      assert(byDoc.head._5 == 0)
      byDoc.sliding(2).foreach {
        case Array(a, b) => assert(b._5 - a._5 == 0 || b._5 - a._5 == 1)
        case _ => ()
      }
      // every bin fits the budget unless it is a single oversized doc
      byDoc.groupBy(_._5).foreach { case (bin, members) =>
        val tot = members.map(_._4).sum
        assert(tot <= 128 || members.length == 1,
          s"($lang,$bucket) bin $bin overflows: $tot tokens, ${members.length} docs")
      }
      // greedy: a doc opens a new bin only because it would not have fit
      byDoc.sliding(2).foreach {
        case Array(a, b) if b._5 == a._5 + 1 =>
          val binTot = byDoc.filter(_._5 == a._5).map(_._4).sum
          assert(binTot + b._4 > 128,
            s"($lang,$bucket): doc ${b._3} opened bin ${b._5} but would fit")
        case _ => ()
      }
    }
  }

  test("unigram logprob: bounded above by 0, n_tokens matches count") {
    val rows = AnalysisQueries.unigramLogprob(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) <= 0.0, s"doc ${r.getLong(0)} logprob > 0")
      assert(r.getLong(1) > 0)
    }
    // docs made of only the most common terms score higher than average
    val scores = rows.map(_.getDouble(2))
    assert(scores.max > scores.min) // non-degenerate distribution
  }

  private def docShingles: Map[String, Set[String]] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1)
      .map { case (src, ds) =>
        src -> ds.flatMap { case (_, t) =>
          val ts = graft.functions.Tokenizer.tokens(t)
          if (ts.length < 3) Array.empty[String]
          else ts.sliding(3).map(_.mkString(" ")).toArray
        }.toSet
      }

  test("ngram diversity equals the naive per-source type/token ratio") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val totals = texts.groupBy(_._1).map { case (src, ds) =>
      src -> ds.map(d =>
        math.max(graft.functions.Tokenizer.tokens(d._2).length - 2, 0).toLong)
        .sum
    }
    val types = docShingles
    val got = AnalysisQueries.ngramDiversity(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == totals.keySet)
    got.foreach { case (src, (total, distinct, div)) =>
      assert(total == totals(src), s"$src totals")
      assert(distinct == types(src).size.toLong, s"$src types")
      val want = BigDecimal(distinct.toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(div == want, s"$src ratio")
    }
  }

  test("source overlap equals naive pairwise shingle Jaccard; no cartesian") {
    val sets = docShingles
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size if inter > 0
    } yield {
      val j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      (a, b) -> ((inter.toLong,
        BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }).toMap
    val df = AnalysisQueries.sourceOverlap(spark, sf)
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("split KS statistic equals the naive two-sample computation per lang") {
    val quality = AnalysisQueries.quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val splits = AnalysisQueries.trainSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byLang = splits.filter(_._3 != "val").groupBy(_._2)
    val expected = byLang.map { case (lang, ds) =>
      val tr = ds.filter(_._3 == "train").map(d => quality(d._1)).sorted
      val te = ds.filter(_._3 == "test").map(d => quality(d._1)).sorted
      val values = (tr ++ te).distinct.sorted
      val ks = values.map { x =>
        math.abs(tr.count(_ <= x).toDouble / tr.length
          - te.count(_ <= x).toDouble / te.length)
      }.max
      lang -> ((tr.length.toLong, te.length.toLong,
        BigDecimal(ks).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }
    val got = AnalysisQueries.splitKs(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    got.values.foreach { case (_, _, ks) => assert(ks >= 0.0 && ks <= 1.0) }
  }

  test("split KS drops a stratum whose test split is empty instead of NULL ks") {
    val sess = SparkSpec.spark; import sess.implicits._
    // the same split-hash rule, evaluated in plain JVM code
    def splitOf(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      val frac = java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0
      if (frac < 0.8) "train" else if (frac < 0.9) "val" else "test"
    }
    val trainIds = Iterator.from(0).map(_.toLong)
      .filter(id => splitOf(id) == "train").take(6).toSeq
    val testId = Iterator.from(0).map(_.toLong)
      .find(id => splitOf(id) == "test").get
    val dir = java.nio.file.Files.createTempDirectory("graft_ks").toString
    // lang zz: train-only docs; lang en: both sides present
    val enTrainIds = Iterator.from(2000000).map(_.toLong)
      .filter(id => splitOf(id) == "train").take(3).toSeq
    val docs = trainIds.map(id => (id, s"alpha beta gamma delta $id", "zz",
        "s0", 20L)) ++
      Seq((testId, "alpha beta gamma", "en", "s0", 16L)) ++
      enTrainIds.map(id => (id, "alpha beta", "en", "s0", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = AnalysisQueries.splitKs(spark, dir).collect()
    assert(got.forall(_.getString(0) != "zz"),
      "a stratum with no test docs has no KS row")
    assert(got.exists(_.getString(0) == "en"))
    assert(got.forall(!_.isNullAt(3)), "no NULL ks may survive")
  }

  test("oov rate equals the naive top-16 vocabulary computation") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val allToks = texts.flatMap(d => graft.functions.Tokenizer.tokens(d._2))
    val vocab = allToks.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, n) => (-n, t) }.take(16).map(_._1).toSet
    val expected = texts.flatMap { case (id, t) =>
      val ts = graft.functions.Tokenizer.tokens(t)
      if (ts.isEmpty) None else {
        val oov = ts.count(!vocab.contains(_))
        Some(id -> ((ts.length.toLong, oov.toLong,
          BigDecimal(oov.toDouble / ts.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      }
    }.toMap
    val got = AnalysisQueries.oovRate(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == expected)
    // non-degenerate: the 16-term vocab leaves real OOV mass
    assert(got.values.exists(_._3 > 0.0))
  }

  test("perplexity buckets: balanced terciles per lang, head more fluent than tail") {
    val rows = AnalysisQueries.perplexityBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, g) =>
      val sizes = g.groupBy(_._4).view.mapValues(_.size)
      assert(sizes.keySet.subsetOf(Set("head", "middle", "tail")))
      assert(sizes.values.max - sizes.values.min <= 1,
        s"$lang tercile imbalance: $sizes")
      val mean = (b: String) => {
        val xs = g.filter(_._4 == b).map(_._3); xs.sum / xs.size
      }
      assert(mean("head") > mean("tail"),
        s"$lang: head not more fluent than tail")
    }
    // the grouped ntile never funnels a window to one task (the tiny
    // one-row LM-total aggregate is the only SinglePartition allowed)
    val plan = AnalysisQueries.perplexityBuckets(spark, sf)
      .queryExecution.executedPlan
    val unpartitioned = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"unpartitioned window in:\n$plan")
  }

  test("kmeans: Lloyd objective is non-increasing over rounds") {
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
    def objective(iters: Int): Double =
      graft.operators.Similarity.kmeans(emb, k = 8, iters = iters)
        .agg(sum(col("dist") * col("dist"))).collect()(0).getDouble(0)
    val o0 = objective(0)
    val o1 = objective(1)
    val o2 = objective(2)
    assert(o1 <= o0 + 1e-9, s"round 1 worsened: $o0 -> $o1")
    assert(o2 <= o1 + 1e-9, s"round 2 worsened: $o1 -> $o2")
    assert(o1 < o0) // the planted clusters actually move the centroids
    // every vector is assigned to exactly one live cluster
    val assigned = graft.operators.Similarity.kmeans(emb, 8, 2).collect()
    assert(assigned.length == emb.count())
    assert(assigned.map(_.getInt(1)).distinct.length <= 8)
  }

  test("kmeans matches an independent driver-side Lloyd bit-for-bit") {
    // plain-loop reimplementation sharing no structure with the engine
    // or its generated-CTE oracle. Because the engine pins every float
    // fold order (dims left-to-right, members vec_id-ordered), the
    // naive version folding in the same order must agree EXACTLY.
    val emb = graft.core.Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val k = 8
    var cent: Array[Array[Double]] =
      emb.filter(_._1 < k).sortBy(_._1).map(_._2)
    def assign(v: Array[Double]): (Int, Double) = {
      var bestC = -1; var bestD = Double.MaxValue
      for (c <- 0 until cent.length) {
        var d = 0.0
        var i = 0
        while (i < v.length) {
          val t = v(i) - cent(c)(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; bestC = c } // ties: lowest cluster wins
      }
      (bestC, bestD)
    }
    for (_ <- 1 to 2) {
      val byCluster = emb.map { case (id, v) => (assign(v)._1, id, v) }
        .groupBy(_._1)
      cent = (0 until k).map { c =>
        byCluster.get(c).map { members =>
          val dim = members.head._3.length
          // the engine's TWO-LEVEL fold: vec_id order within
          // KmBlock-sized blocks, blk order across (500 vectors and
          // KmBlock = 256 -> the cross-block level really runs)
          val byBlk = members.groupBy(_._2 / 256L).toSeq.sortBy(_._1)
            .map { case (_, ms) => ms.sortBy(_._2) }
          Array.tabulate(dim) { i =>
            var s = 0.0
            byBlk.foreach { ms =>
              var bs = 0.0
              ms.foreach(m => bs += m._3(i))
              s += bs
            }
            s / members.length
          }
        }.getOrElse(cent(c))
      }.toArray
    }
    val naive = emb.map { case (id, v) =>
      val (c, d) = assign(v)
      (id, c, BigDecimal(math.sqrt(d)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val engine = graft.operators.Similarity.kmeans(
      graft.core.Tables.load(spark, sf, "embeddings"), k, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(engine == naive,
      s"mismatch: ${(engine -- naive).take(3)} vs ${(naive -- engine).take(3)}")
  }

  test("hash64: known vector, codegen path equals kernel") {
    import org.apache.spark.unsafe.types.UTF8String
    // public xxh64 test vector: XXH64("", seed=0) = 0xEF46DB3751D8E999
    assert(graft.functions.HashKernel.xxh64(UTF8String.fromString("")) ==
      java.lang.Long.parseUnsignedLong("EF46DB3751D8E999", 16))
    val samples = Seq("a", "the", "Ünïcødé — 多字节", "x" * 100, "")
    val s2 = spark
    import s2.implicits._
    val viaCol = samples.toDF("s")
      .select(graft.functions.TextFunctions.hash64(col("s")))
      .collect().map(_.getLong(0)).toSeq
    val direct = samples.map(s =>
      graft.functions.HashKernel.xxh64(UTF8String.fromString(s)))
    assert(viaCol == direct)
  }

  test("gopher rules: flags consistent, one doc recomputed naively") {
    val rows = AnalysisQueries.gopherRules(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(9) == (r.getBoolean(5) && r.getBoolean(6)
        && r.getBoolean(7) && r.getBoolean(8)))
    }
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .orderBy(col("doc_id")).limit(1).collect()(0)
    val ts = graft.functions.Tokenizer.tokens(doc.getString(1))
    val r = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(r.getInt(1) == ts.length)
    assert(r.getInt(4) == ts.count(
      graft.operators.TextAnalysis.Stopwords.contains))
    assert(r.getBoolean(5) == (ts.length >= 50 && ts.length <= 100000))
  }

  test("dsir weights match a driver-side naive recomputation") {
    import org.apache.spark.unsafe.types.UTF8String
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val B = 1024
    def buckets(t: String): Seq[Int] = graft.functions.Tokenizer.tokens(t)
      .map(w => (graft.functions.HashKernel.xxh64(
        UTF8String.fromString(w)) & (B - 1)).toInt)
    val perDoc = docs.map { case (id, lang, t) =>
      (id, lang, buckets(t).groupBy(identity).view.mapValues(_.size.toLong).toMap)
    }
    val rcM = perDoc.flatMap(_._3).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val tcM = perDoc.filter(_._2 == "en").flatMap(_._3).groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val tt = tcM.values.sum; val tr = rcM.values.sum
    def lr(b: Int): Double =
      math.log((tcM.getOrElse(b, 0L) + 1.0) / (tt + B).toDouble) -
        math.log((rcM(b) + 1.0) / (tr + B).toDouble)
    val naive = perDoc.map { case (id, _, cnt) =>
      // bucket-ordered fold — the ordered_sum contract
      var w = 0.0
      cnt.toSeq.sortBy(_._1).foreach { case (b, c) => w += c * lr(b) }
      (id, cnt.values.sum,
        BigDecimal(w).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val engine = AnalysisQueries.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(engine == naive,
      s"mismatch: ${(engine -- naive).take(3)} vs ${(naive -- engine).take(3)}")
  }

  test("fertility: per-lang ratios internally consistent and cover corpus") {
    val rows = AnalysisQueries.fertility(spark, sf).collect()
    assert(rows.nonEmpty)
    var totWords = 0L
    rows.foreach { r =>
      val (w, sub, ch) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sub >= w && ch >= sub) // a word is >= 1 piece, a piece >= 1 char
      assert(r.getDouble(4) == BigDecimal(sub.toDouble / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      totWords += w
    }
    val allToks = spark.read.parquet(s"$sf/documents.parquet")
      .collect().map(r => graft.functions.Tokenizer
        .tokens(r.getAs[String]("text")).length.toLong).sum
    assert(totWords == allToks)
  }

  test("pca projection matches an independent driver-side power iteration") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val n = emb.length
    val d = emb.head._2.length
    // the engine's TWO-LEVEL fold tree (blockedMoments + ordered_sum):
    // vec_id order within CovBlock-sized blocks, blk order across —
    // at 500 vectors and CovBlock=256 this really spans 2 blocks, so
    // the cross-block level is exercised, not degenerate
    def foldSum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
    def blockFold(vals: Seq[(Long, Double)]): Double =
      foldSum(vals.groupBy(_._1 / graft.queries.SimilarityQueries.CovBlock)
        .toSeq.sortBy(_._1)
        .map { case (_, xs) => foldSum(xs.sortBy(_._1).map(_._2)) })
    val si = Array.tabulate(d)(i =>
      blockFold(emb.map(e => e._1 -> e._2(i)).toSeq))
    val mu = si.map(_ / n)
    val cm = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = (math.min(i, j), math.max(i, j))
      val sij = blockFold(emb.map(e => e._1 -> e._2(a) * e._2(b)).toSeq)
      (sij - si(a) * si(b) / n) / (n - 1)
    }
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 8) {
      val w = Array.tabulate(d) { i =>
        var s0 = 0.0; var j = 0
        while (j < d) { s0 += cm(i)(j) * v(j); j += 1 }
        s0
      }
      val nrm = math.sqrt(w.foldLeft(0.0)((a, x) => a + x * x))
      v = w.map(_ / nrm)
    }
    val naive = emb.map { case (id, x) =>
      var s0 = 0.0; var i = 0
      while (i < d) { s0 += (x(i) - mu(i)) * v(i); i += 1 }
      (id, BigDecimal(s0).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble + 0.0)
    }.toSet
    val engine = graft.queries.SimilarityQueries.pcaProjection(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(engine == naive,
      s"mismatch: ${(engine -- naive).take(3)} vs ${(naive -- engine).take(3)}")
    // the leading component explains more variance than any raw axis
    val projVar = {
      val ps = naive.toSeq.sortBy(_._1).map(_._2)
      val m = ps.sum / n
      ps.map(x => (x - m) * (x - m)).sum / (n - 1)
    }
    val maxAxisVar = (0 until d).map(i => cm(i)(i)).max
    assert(projVar >= maxAxisVar * 0.99,
      s"projVar $projVar < max axis var $maxAxisVar")
  }

  test("stratified sample matches a naive Hamilton allocation + md5-order pick") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val n = 100L
    val counts = docs.groupBy(_._2).map { case (l, xs) => l -> xs.length.toLong }
    val total = counts.values.sum
    val base = counts.map { case (l, c) => l -> (n * c) / total }
    val leftover = (n - base.values.sum).toInt
    val seats = counts.toSeq
      .sortBy { case (l, c) => (-((n * c) % total), l) }
      .take(leftover).map(_._1).toSet
    val alloc = base.map { case (l, b) => l -> (b + (if (seats(l)) 1L else 0L)) }
    val expected = docs.groupBy(_._2).toSeq.flatMap { case (l, xs) =>
      xs.toSeq.sortBy { case (id, _) => (md5hex(s"42:$id"), id) }
        .take(math.min(alloc(l), xs.length.toLong).toInt)
        .zipWithIndex.map { case ((id, _), i) => (id, l, i + 1) }
    }.toSet
    val got = graft.queries.AnalysisQueries.stratifiedSample(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got == expected,
      s"extra=${(got -- expected).take(3)} missing=${(expected -- got).take(3)}")
  }

  test("length-quality OLS matches a naive driver-side fit per lang") {
    val qual = AnalysisQueries.quality(spark, sf)
      .select("doc_id", "quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val naive = docs.groupBy(_._2).map { case (lang, xs) =>
      val pts = xs.map { case (id, _, nc) => (nc.toDouble, qual(id)) }
      val n = pts.length.toDouble
      val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val syy = pts.map(p => p._2 * p._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val varx = n * sxx - sx * sx; val vary = n * syy - sy * sy
      val cov = n * sxy - sx * sy
      lang -> (cov / varx, cov * cov / (varx * vary))
    }
    val got = AnalysisQueries.lengthQualityFit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(4))).toMap
    assert(got.keySet == naive.keySet)
    got.foreach { case (lang, (slope, r2)) =>
      assert(math.abs(slope - naive(lang)._1) < 1e-6, s"$lang slope")
      assert(math.abs(r2 - naive(lang)._2) < 1e-6, s"$lang r2")
      assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9)
    }
  }

  test("cluster purity: members partition the corpus, purity valid, labels real") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val labels = emb.select("label").distinct().collect()
      .map(_.getInt(0)).toSet
    val n = emb.count()
    val rows = graft.queries.SimilarityQueries.clusterPurity(spark, sf)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rows.map(_._2).sum == n, "cluster sizes must partition the corpus")
    rows.foreach { case (cl, size, maj, purity) =>
      assert(size > 0 && labels.contains(maj), s"cluster $cl")
      assert(purity > 0.0 && purity <= 1.0 + 1e-9, s"cluster $cl: $purity")
      // majority label's share can't be below the uniform floor
      assert(purity >= 1.0 / labels.size - 1e-9)
    }
  }

  test("ngram novelty: rates valid, first-decile novelty dominates the tail") {
    val rows = graft.queries.AnalysisQueries.ngramNovelty(spark, sf)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty && rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (d, nGrams, nNovel, rate) =>
      assert(nNovel >= 0 && nNovel <= nGrams, s"decile $d")
      assert(math.abs(rate - nNovel.toDouble / nGrams) < 1e-6)
    }
    // every distinct gram is novel exactly once
    val distinctGrams = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.operators.Dedup.shingles(col("text"), 3))
        .as("g")).distinct().count()
    assert(rows.map(_._3).sum == distinctGrams)
    // saturation: the earliest decile must be more novel than the last
    assert(rows.head._4 > rows.last._4,
      s"expected decreasing novelty: ${rows.map(_._4).toSeq}")
  }

  test("matryoshka recall: one row per query, n_hit bounded by k, recall = n_hit/k") {
    val rows = graft.queries.SimilarityQueries.matryoshkaRecall(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == rows.map(_._1).distinct.length)
    assert(rows.nonEmpty)
    rows.foreach { case (q, nHit, recall) =>
      assert(nHit >= 0 && nHit <= 5, s"query $q n_hit $nHit")
      assert(math.abs(recall - nHit / 5.0) < 1e-9)
    }
  }

  test("cusum drift: closed form equals the sequential recurrence; shifts alarm") {
    // The production plan computes S+ via the prefix-sum closed form
    // (P_d - min(0, min P_j)) with pointwise float math; this pins it
    // against the textbook recurrence S_d = max(0, S_{d-1} + z_d - k)
    // run sequentially on the driver, on real sf0.001 events.
    val out = queries.AnalysisQueries.cusumDrift(spark, sf)
      .orderBy(col("event_type"), col("day")).collect()
    val byType = out.groupBy(_.getAs[String]("event_type"))
    assert(byType.nonEmpty)
    byType.foreach { case (_, rows) =>
      val xs = rows.map(_.getAs[Long]("x").toDouble)
      val n = xs.length
      val mean = xs.sum / n
      val std = math.sqrt(xs.map(v => (v - mean) * (v - mean)).sum / (n - 1))
      var sp = 0.0; var sm = 0.0
      rows.zip(xs).foreach { case (r, x) =>
        val z = if (std == 0.0) 0.0 else (x - mean) / std
        sp = math.max(0.0, sp + z - 0.5)
        sm = math.max(0.0, sm - z - 0.5)
        // closed form vs recurrence agree to float-reassociation slack
        assert(math.abs(r.getAs[Double]("cusum_up") - sp) < 1e-6,
          s"up ${r.getAs[Double]("cusum_up")} vs $sp")
        assert(math.abs(r.getAs[Double]("cusum_down") - sm) < 1e-6)
      }
    }
    // an injected mean shift must raise the alarm after the changepoint
    checkShiftAlarm()
  }

  private def checkShiftAlarm(): Unit = {
    val d0 = java.time.LocalDate.of(2024, 1, 1)
    val shifted = (0 until 60).map { i =>
      (java.sql.Timestamp.valueOf(d0.plusDays(i).atTime(12, 0)),
        if (i < 40) 100 else 200)
    }.flatMap { case (ts, cnt) => Seq.fill(cnt)((1L, ts, 1L, "shift", 1.0, "{}")) }
    val ev = spark.createDataFrame(shifted)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = java.nio.file.Files.createTempDirectory("cusum").toString
    ev.write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val res = queries.AnalysisQueries.cusumDrift(spark, tmp)
      .orderBy(col("day")).collect()
    // retrospective standardization puts BOTH regimes off the global
    // mean: the low regime drifts the DOWNWARD statistic, the high
    // regime the UPWARD one — assert each fires only on its own side
    assert(res.drop(40).exists(_.getAs[Double]("cusum_up") > 5.0),
      "no upward alarm after a 2x level shift")
    assert(!res.take(40).exists(_.getAs[Double]("cusum_up") > 5.0))
    assert(res.take(40).exists(_.getAs[Double]("cusum_down") > 5.0),
      "low regime should drift the downward statistic")
  }

  test("quality lift: deciles partition the corpus, captured monotone to 1") {
    val rows = queries.AnalysisQueries.qualityLift(spark, sf)
      .orderBy(col("decile")).collect()
    assert(rows.map(_.getAs[Int]("decile")).toSeq == (1 to rows.length))
    val total = rows.map(_.getAs[Long]("n")).sum
    val scored = queries.AnalysisQueries.qualityLr(spark, sf).count()
    assert(total === scored)
    // exact-ntile balance: decile sizes differ by at most 1
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.max - ns.min <= 1)
    val caps = rows.map(_.getAs[Double]("captured"))
    assert(caps.zip(caps.tail).forall { case (a, b) => a <= b + 1e-12 })
    assert(math.abs(caps.last - 1.0) < 1e-9)
    // lift of the FULL population is 1 by construction
    assert(math.abs(rows.last.getAs[Double]("lift") - 1.0) < 1e-9)
    // and a working model ranks positives up: decile-1 rate >= overall
    val overall = rows.map(_.getAs[Long]("n_pos")).sum.toDouble / total
    assert(rows.head.getAs[Double]("pos_rate") >= overall)
  }

  test("source-length KL/JS: non-negative, JS bounded by ln 2, naive parity") {
    val rows = queries.AnalysisQueries.sourceLengthKl(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("kl") >= -1e-9)
      val js = r.getAs[Double]("js")
      assert(js >= -1e-9 && js <= math.log(2.0) + 1e-9)
    }
    // naive recompute for every source from raw buckets
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        least(expr("n_chars div 100"), lit(49L)).as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = docs.length.toDouble
    val qc = docs.groupBy(_._2).view.mapValues(_.size / n).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val mine = docs.filter(_._1 == src)
      val ns = mine.length.toDouble
      val pc = mine.groupBy(_._2).view.mapValues(_.size / ns).toMap
      val kl = pc.map { case (b, p) => p * math.log(p / qc(b)) }.sum
      assert(math.abs(r.getAs[Double]("kl") - kl) < 1e-5, src)
      val js = qc.map { case (b, q) =>
        val p = pc.getOrElse(b, 0.0)
        val m = 0.5 * (p + q)
        (if (p > 0) 0.5 * p * math.log(p / m) else 0.0) +
          0.5 * q * math.log(q / m)
      }.sum
      assert(math.abs(r.getAs[Double]("js") - js) < 1e-5, src)
    }
  }

  test("ab test: arms partition users, z matches naive, null split insignificant") {
    val r = queries.Relational.abTest(spark, sf).collect().head
    val users = graft.core.Tables.load(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === users)
    val (na, nb) = (r.getAs[Long]("n_a").toDouble, r.getAs[Long]("n_b").toDouble)
    val (ca, cb) = (r.getAs[Long]("conv_a").toDouble, r.getAs[Long]("conv_b").toDouble)
    val pooled = (ca + cb) / (na + nb)
    assert(pooled > 0.0 && pooled < 1.0, "outcome must not saturate")
    val se = math.sqrt(pooled * (1 - pooled) * (1 / na + 1 / nb))
    val z = (ca / na - cb / nb) / se
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-5)
    // a pure hash split of one population is a NULL experiment: the
    // test should (almost surely) not fire
    assert(!r.getAs[Boolean]("significant"))
  }

  test("cohen kappa: matches naive from the confusion marginals, in [-1, 1]") {
    val r = queries.Advanced.cohenKappa(spark, sf).collect().head
    val pred = queries.AnalysisQueries.langid(spark, sf)
      .select(col("lang"), col("predicted")).collect()
      .map(x => (x.getString(0), x.getString(1)))
    val n = pred.length.toDouble
    val po = pred.count { case (t, p) => t == p } / n
    val langs = (pred.map(_._1) ++ pred.map(_._2)).distinct
    val pe = langs.map { l =>
      (pred.count(_._1 == l) / n) * (pred.count(_._2 == l) / n)
    }.sum
    assert(math.abs(r.getAs[Double]("po") - po) < 1e-5)
    assert(math.abs(r.getAs[Double]("pe") - pe) < 1e-5)
    val kappa = r.getAs[Double]("kappa")
    assert(math.abs(kappa - (po - pe) / (1 - pe)) < 1e-4)
    assert(kappa >= -1.0 && kappa <= 1.0)
  }

  test("entropy rate: chain rule holds, bounds hold, naive parity per source") {
    val rows = queries.AnalysisQueries.entropyRate(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        LegacyOracles.regexTokens(col("text")).as("ts"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1)))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val hj = r.getAs[Double]("h_joint")
      val hm = r.getAs[Double]("h_marginal")
      val hc = r.getAs[Double]("h_cond")
      // chain rule + information-theory bounds
      assert(math.abs(hj - hm - hc) < 1e-5)
      assert(hc >= -1e-9 && hc <= hj + 1e-9 && hm <= hj + 1e-9)
      // naive recompute
      val bgs = docs.filter(_._1 == src)
        .flatMap { case (_, ts) => ts.zip(ts.drop(1)).map(p => s"${p._1} ${p._2}") }
      val n = bgs.length.toDouble
      assert(r.getAs[Long]("n_bigrams") === bgs.length.toLong)
      def ent(keys: Seq[String]): Double =
        keys.groupBy(identity).values
          .map(g => { val p = g.size / n; -p * math.log(p) }).sum
      assert(math.abs(hj - ent(bgs)) < 1e-5, src)
      assert(math.abs(hm - ent(bgs.map(_.split(' ').head).toSeq)) < 1e-5, src)
    }
  }

  test("fightin words: matches a naive full recomputation's top-k; null split tame") {
    val rows = queries.AnalysisQueries.fightinWords(spark, sf).collect()
    assert(rows.length === 20)
    // naive: full per-term counts from raw tokens
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        LegacyOracles.regexTokens(col("text")).as("ts"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1)))
    val counts = new scala.collection.mutable.HashMap[String, (Long, Long)]
    docs.foreach { case (id, ts) =>
      ts.foreach { t =>
        val (a, b) = counts.getOrElse(t, (0L, 0L))
        counts(t) = if (id % 2 == 0) (a + 1, b) else (a, b + 1)
      }
    }
    val na = counts.values.map(_._1).sum.toDouble
    val nb = counts.values.map(_._2).sum.toDouble
    val v = counts.size
    val al = 0.01; val a0 = v * al
    def score(ya: Long, yb: Long): (Double, Double) = {
      val d = math.log((ya + al) / (na + a0 - ya - al)) -
        math.log((yb + al) / (nb + a0 - yb - al))
      (d, d / math.sqrt(1.0 / (ya + al) + 1.0 / (yb + al)))
    }
    val naiveTop = counts.toSeq
      .map { case (t, (ya, yb)) => (t, ya, yb, score(ya, yb)) }
      .sortBy { case (t, _, _, (_, z)) => (-math.abs(z), t) }
    // selection parity on |z| (ties broken differently are equal-|z| rows)
    val gotTerms = rows.map(_.getAs[String]("term")).toSet
    val cutoff = math.abs(naiveTop(19)._4._2)
    naiveTop.takeWhile { case (_, _, _, (_, z)) =>
      math.abs(z) > cutoff + 1e-12 }.foreach { case (t, _, _, _) =>
      assert(gotTerms.contains(t), s"missing clear-top term $t") }
    rows.foreach { r =>
      val (d, z) = score(r.getAs[Long]("y_a"), r.getAs[Long]("y_b"))
      assert(math.abs(r.getAs[Double]("delta") - d) < 1e-5)
      assert(math.abs(r.getAs[Double]("z") - z) < 1e-5)
      // parity split of one corpus: no term should show real drift
      assert(math.abs(z) < 5.0)
    }
  }

  test("length gini: matches the naive sorted-rank formula per source") {
    val rows = queries.AnalysisQueries.lengthGini(spark, sf).collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val xs = docs.filter(_._1 == src).map(_._2.toDouble).sorted
      val n = xs.length
      assert(r.getAs[Long]("n") === n.toLong)
      val naive = 2.0 * xs.zipWithIndex.map { case (x, i) =>
        (i + 1) * x }.sum / (n * xs.sum) - (n + 1.0) / n
      assert(math.abs(r.getAs[Double]("gini") - naive) < 1e-6, src)
      assert(r.getAs[Double]("gini") >= 0.0 && r.getAs[Double]("gini") < 1.0)
    }
  }

  test("benford: digits partition, chi2 = sum of contribs, expected is Benford") {
    val rows = queries.Relational.benford(spark, sf).collect()
      .sortBy(_.getAs[Int]("digit"))
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    val chi2 = rows.head.getAs[Double]("chi2")
    assert(rows.forall(_.getAs[Double]("chi2") == chi2))
    assert(math.abs(rows.map(_.getAs[Double]("contrib")).sum - chi2) < 1e-3)
    val n = rows.map(_.getAs[Long]("observed")).sum.toDouble
    rows.foreach { r =>
      val d = r.getAs[Int]("digit")
      val expect = n * math.log10(1.0 + 1.0 / d)
      assert(math.abs(r.getAs[Double]("expected") - expect) < 1e-2, s"d=$d")
      assert(r.getAs[Double]("contrib") >= 0.0)
    }
    // expected masses themselves sum to n (Benford probs sum to 1)
    assert(math.abs(rows.map(_.getAs[Double]("expected")).sum - n) < 1e-2)
  }

  test("bootstrap median CI: brackets the exact median, integer-exact ranks") {
    val r = queries.AnalysisQueries.bootstrapMedianCi(spark, sf)
      .collect().head
    assert(r.getAs[Long]("n_replicates") === 200L)
    val lo = r.getAs[Long]("ci_lo")
    val hi = r.getAs[Long]("ci_hi")
    val pt = r.getAs[Long]("point_median")
    assert(lo <= pt && pt <= hi, s"[$lo, $hi] must bracket $pt")
    // the point median is the exact lower median of n_chars
    val vals = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("n_chars")).collect().map(_.getLong(0)).sorted
    val exact = vals((vals.length - 1) / 2)
    assert(pt === exact)
  }

  test("centroid drift: matches a naive per-dimension recomputation") {
    val r = queries.SimilarityQueries.centroidDrift(spark, sf).collect().head
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(x => (x.getLong(0), x.getSeq[Float](1).map(_.toDouble).toArray))
    val (a, b) = vecs.partition(_._1 % 2 == 0)
    assert(r.getAs[Long]("n_a") === a.length)
    assert(r.getAs[Long]("n_b") === b.length)
    val dim = vecs.head._2.length
    def centroid(vs: Array[(Long, Array[Double])]) =
      Array.tabulate(dim)(d => vs.map(_._2(d)).sum / vs.length)
    val (ca, cb) = (centroid(a), centroid(b))
    val l2 = math.sqrt((0 until dim).map(d => math.pow(ca(d) - cb(d), 2)).sum)
    assert(math.abs(r.getAs[Double]("l2_dist") - l2) < 1e-6)
    val dot = (0 until dim).map(d => ca(d) * cb(d)).sum
    val cos = dot / (math.sqrt(ca.map(x => x * x).sum) *
      math.sqrt(cb.map(x => x * x).sum))
    assert(math.abs(r.getAs[Double]("cosine") - cos) < 1e-6)
    val shifts = (0 until dim).map(d => math.abs(ca(d) - cb(d)))
    assert(math.abs(r.getAs[Double]("max_abs_shift") - shifts.max) < 1e-6)
    assert(shifts(r.getAs[Long]("max_shift_dim").toInt) === shifts.max)
  }

  test("bootstrap CI: brackets the point mean, plausible width, exact ranks") {
    val r = queries.AnalysisQueries.bootstrapCi(spark, sf).collect().head
    val point = r.getAs[Double]("point_mean")
    val lo = r.getAs[Double]("ci_lo")
    val hi = r.getAs[Double]("ci_hi")
    assert(r.getAs[Int]("n_replicates") === 200)
    assert(lo < hi)
    assert(lo <= point && point <= hi,
      s"CI [$lo, $hi] must bracket the point mean $point")
    assert(lo <= r.getAs[Double]("mean_of_reps") &&
      r.getAs[Double]("mean_of_reps") <= hi)
    // width sanity: a 95% bootstrap CI of a mean over n docs should be
    // within a loose factor of the CLT 2*1.96*sd/sqrt(n) band
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("n_chars").cast("double")).collect().map(_.getDouble(0))
    val n = docs.length
    val m = docs.sum / n
    val sd = math.sqrt(docs.map(v => (v - m) * (v - m)).sum / (n - 1))
    val clt = 2 * 1.96 * sd / math.sqrt(n.toDouble)
    val width = hi - lo
    assert(width > clt / 3 && width < clt * 3,
      s"CI width $width vs CLT band $clt")
  }

  test("dp counts: deterministic, Laplace-scaled noise, consistent suppression") {
    val a = queries.AnalysisQueries.dpCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val b = queries.AnalysisQueries.dpCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, r) =>
      // keyed-hash noise: identical across runs (no RNG state)
      assert(r.getAs[Double]("noisy_n") === b(k).getAs[Double]("noisy_n"))
      assert(r.getAs[Boolean]("suppressed") ===
        (r.getAs[Double]("noisy_n") < 10.0 ||
          // flag computed on the UNROUNDED noisy value; re-derive slack
          math.abs(r.getAs[Double]("noisy_n") - 10.0) < 1e-3))
    }
    // Laplace(b=1) has E|noise| = 1: the empirical mean abs noise over
    // the cells sits in a loose band (not zero, not wild)
    val absNoise = a.values.map(r =>
      math.abs(r.getAs[Double]("noisy_n") - r.getAs[Long]("true_n"))).toSeq
    val meanAbs = absNoise.sum / absNoise.size
    assert(meanAbs > 0.4 && meanAbs < 2.5, s"mean |noise| $meanAbs")
    // and the noise is not constant (distinct cells draw distinct u)
    assert(absNoise.distinct.size > absNoise.size / 2)
  }

  test("l-diversity: class stats match a naive recomputation") {
    val got = queries.AnalysisQueries.lDiversity(spark, sf).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_mktsegment"), col("c_nationkey"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("band"))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2)))
    val naive = cust.groupBy(_._1).map { case (k, vs) =>
      val bands = vs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      (k, vs.size.toLong, bands.size.toLong, bands.values.max)
    }
    assert(got.size === naive.size)
    naive.foreach { case (k, size, nSens, domN) =>
      val r = got(k)
      assert(r.getAs[Long]("class_size") === size)
      assert(r.getAs[Long]("n_sensitive") === nSens)
      assert(math.abs(r.getAs[Double]("dominant_share") -
        BigDecimal(domN.toDouble / size).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(r.getAs[Boolean]("l_diverse") === (nSens >= 4))
    }
  }
}
