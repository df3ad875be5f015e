package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** 10× scale-frame generator — the measurement companion of
  * `docs/SCALE_NOTES.md`. Builds `<out>/<table>.parquet` as the UNION
  * of `copies` key-offset copies of the source tables, so the heavy
  * catalog queries can be timed at a REAL second scale point instead
  * of arguing scalability from plan shapes alone.
  *
  * Replication discipline (what makes the 10× frame a fair ×10 of the
  * workload rather than a degenerate blow-up):
  *  - Every entity key is offset by `i · (max_key + 1)` per copy, with
  *    FK columns offset by their REFERENCED entity's base, so each copy
  *    is a disjoint, internally consistent sub-universe (graphs become
  *    10 disjoint graphs; sessions stay per-user-sized).
  *  - Name/text payloads are decorrelated across copies: verbatim
  *    copies would make every string its twins' near-duplicate, and
  *    pair-family outputs (edit pairs, near-dup pairs, Hamming pairs)
  *    would scale ~copies²/2 instead of ×copies — measuring a
  *    DIFFERENT workload, not a bigger one. Each copy gets an 8-hex
  *    fmix64 tag (pairwise byte-distance ≥ 4, asserted): part names
  *    get the tag appended (same-name cross-copy variants leave every
  *    ≤2-edit radius), document texts get EVERY token suffixed (shingle
  *    and n-gram spaces become copy-disjoint while within-copy overlap
  *    structure is untouched), customer names are re-derived from the
  *    new key (fixed-width format preserved).
  *  - Embeddings get a per-copy SIGNED PERMUTATION of coordinates (an
  *    orthogonal transform): within-copy inner products are preserved
  *    exactly, cross-copy pairs decorrelate to the base distribution's
  *    own random-pair statistics.
  *  - Dimension tables (region, nation) are NOT replicated — at any
  *    scale they stay the bounded broadcast side.
  *
  * Usage: `runMain graft.ScaleUp <srcSfDir> <outDir> [copies=10] [skew]`;
  * `SPARK_GRAFT_CPUS` defaults to the available processors.
  * Writes only under <outDir> (intended: /tmp — testdata is
  * read-only).
  *
  * Skew mode (`skew` = `zipf`): the key-offset frame is uniform by
  * construction, so salting/AQE-skew claims would stay semantics-only
  * on it. `zipf` realizes the head of a zipf FK distribution — the
  * straggler shape that matters: a deterministic 30% of ALL orders
  * collapse `o_custkey` onto ONE GLOBAL hot customer, 30% of lineitems
  * onto one hot part, 30% of events onto one hot user (selection keyed
  * on fmix-hashed row ids, so it is reproducible and uncorrelated with
  * the payload). GLOBAL, not per-copy: a per-copy hot key carries
  * rows/copies ≈ one average shuffle partition, so hash partitioning
  * absorbs it and there is no straggler to measure (first version of
  * this mode; SkewBench's direct join measured flat). One key holding
  * 30% of the fact table cannot be absorbed by any partition count —
  * that is the shape salting/AQE exist for. Referential integrity
  * holds — the hot key is copy 0's offset of the source table's
  * MINIMUM key, which always exists. Used by [[SkewBench]]; not an
  * oracle frame (the FK distribution is deliberately not the
  * testdata's, and copies share the hot entity). */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "zipf"
    val spark = GraftSession()

    // pairwise-distant copy tags: same-payload variants across copies
    // must not sit within the pair queries' small edit/Hamming radii
    val tags = (0 until copies)
      .map(i => f"${graft.functions.Mix.fmix64(i.toLong) & 0xFFFFFFFFL}%08x")
    for (a <- tags.indices; b <- tags.indices if a < b) {
      val h = tags(a).zip(tags(b)).count { case (x, y) => x != y }
      require(h >= 4, s"copy tags ${tags(a)}/${tags(b)} too close ($h)")
    }

    def base(name: String, key: String): Long =
      core.Tables.load(spark, src, name)
        .agg(max(col(key))).head().getLong(0) + 1L

    val custB = base("customer", "c_custkey")
    val suppB = base("supplier", "s_suppkey")
    val partB = base("part", "p_partkey")
    val orderB = base("orders", "o_orderkey")
    val eventB = base("events", "event_id")
    val userB = base("events", "user_id")
    val docB = base("documents", "doc_id")
    val vecB = base("embeddings", "vec_id")

    def minKey(name: String, key: String): Long =
      core.Tables.load(spark, src, name)
        .agg(min(col(key))).head().getLong(0)
    // zipf head: 30% of FK rows collapse onto THE global hot key
    // (copy 0's source MINIMUM key — guaranteed to exist). The
    // selector hashes the row's own PK so it is deterministic and
    // independent of the FK value being replaced.
    def zipfed(fk: Column, hotKey: Column, idCols: Column*): Column =
      if (!skew) fk
      else when(pmod(hash(idCols: _*), lit(10)) < lit(3), hotKey)
        .otherwise(fk)
    val custMin = if (skew) minKey("customer", "c_custkey") else 0L
    val partMin = if (skew) minKey("part", "p_partkey") else 0L
    val userMin = if (skew) minKey("events", "user_id") else 0L

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val df = core.Tables.load(spark, src, name)
      val un = (0 until copies).map(i => f(df, i)).reduce(_ unionAll _)
      un.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name x$copies written")
    }

    // dimension tables: pass through once
    Seq("region", "nation").foreach { t =>
      core.Tables.load(spark, src, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    replicate("customer") { (df, i) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(i * custB))
        .withColumn("c_name",
          format_string("Customer#%09d", col("c_custkey")))
    }
    replicate("supplier") { (df, i) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(i * suppB))
    }
    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * orderB))
        .withColumn("o_custkey",
          zipfed(col("o_custkey") + lit(i * custB),
            lit(custMin), col("o_orderkey")))
    }
    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * orderB))
        .withColumn("l_partkey",
          zipfed(col("l_partkey") + lit(i * partB),
            lit(partMin),
            col("l_orderkey"), col("l_linenumber")))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * suppB))
    }
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * eventB))
        .withColumn("user_id",
          zipfed(col("user_id") + lit(i * userB),
            lit(userMin), col("event_id")))
    }
    // Per-copy substitution cipher: each copy applies its OWN seeded
    // permutation of [a-z] (mirrored onto [A-Z]) and of [0-9].
    // Bijective per character class, so token boundaries, token/shingle
    // COUNTS, and every within-copy equality structure are EXACTLY the
    // original corpus's (copy 0 IS the original), while cross-copy
    // token spaces are statistically disjoint — the pair-family
    // workloads scale ×copies, not ×copies²/2. (A suffix scheme fails
    // both ways: the tokenizer's run-splitting turns the suffix into
    // extra TOKENS, inflating shingle volume ~3-4×.) Permutations come
    // from a counter-based fmix64 Fisher-Yates, NOT rotation-by-i:
    // rot(lower, 26) is the identity, so a rotation cipher silently
    // re-duplicates copies ≥ 26 against copies 0.. — the 30× frame
    // would include quadratic cross-copy near-dup work the generator
    // is documented to exclude. Pairwise distinctness is asserted.
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val digit = "0123456789"
    def fmix64(x0: Long): Long = {
      var x = x0
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33; x
    }
    // copy 0 = identity (copy 0 IS the original corpus)
    def perm(s: String, copy: Int, cls: Int): String =
      if (copy == 0) s
      else {
        val a = s.toCharArray
        var j = a.length - 1
        while (j > 0) {
          val r = fmix64((copy.toLong << 32) | (cls.toLong << 16) | j)
          val k = java.lang.Math.floorMod(r, j + 1L).toInt
          val t = a(j); a(j) = a(k); a(k) = t
          j -= 1
        }
        new String(a)
      }
    val cipherMaps = (0 until copies)
      .map(i => perm(lower, i, 0) + perm(digit, i, 1))
    require(cipherMaps.distinct.length == copies,
      s"per-copy cipher permutations must be pairwise distinct " +
        s"(copies=$copies collided)")
    // Distinct maps still agree on INDIVIDUAL characters (two random
    // permutations share ~1-2 fixed points), so short tokens can map
    // identically across copies. Bound the overlap instead of assuming
    // it away: any two copies may agree on at most 9 of the 36 mapped
    // characters (measured max for this cipher through copies=40:
    // 7/36, 5 letters-only), so a length-k all-letter token collides
    // across a pair with rate ≤ (5/26)^k — <0.8% at k=3, <0.2% at
    // k=4. Cross-copy token spaces are quantifiably near-disjoint;
    // the residual re-admitted pair work is per-pair O(collision-rate)
    // and cannot bend the ×copies scaling measurably.
    for (a <- cipherMaps.indices; b <- cipherMaps.indices if a < b) {
      val agree = cipherMaps(a).zip(cipherMaps(b))
        .count { case (x, y) => x == y }
      require(agree <= 9,
        s"copies $a/$b share $agree character mappings (>9): cross-copy " +
          s"token spaces would overlap materially")
    }
    replicate("documents") { (df, i) =>
      val pl = perm(lower, i, 0)
      df.withColumn("doc_id", col("doc_id") + lit(i * docB))
        .withColumn("text", translate(col("text"),
          lower + upper + digit,
          pl + pl.toUpperCase + perm(digit, i, 1)))
    }
    // part names take the SAME per-copy cipher as documents.text (the
    // within-copy edit/equality/token structure is exactly copy 0's —
    // translate is bijective per character class), THEN the ≥4-distance
    // tag. The previous tag-only scheme (r14) left cross-copy name
    // PREFIXES identical, so every prefix-derived signature key —
    // PassJoin segments, first-token linkage blocks — collided across
    // ALL copy pairs: measured cross-copy index collisions for
    // rel_edit_pairs were 17M/172M/2.0B at 10/30/100× (×copies² — a
    // faked quadratic candidate cliff, generator bug #4 in the
    // SCALE_NOTES list) while same-copy collisions scaled ×copies.
    replicate("part") { (df, i) =>
      val pl = perm(lower, i, 0)
      df.withColumn("p_partkey", col("p_partkey") + lit(i * partB))
        .withColumn("p_name", concat(
          translate(col("p_name"), lower + upper + digit,
            pl + pl.toUpperCase + perm(digit, i, 1)),
          lit(" " + tags(i))))
    }
    // Per-copy SIGNED PERMUTATION of the embedding coordinates — the
    // vector-space analog of the text cipher. An orthogonal transform
    // preserves every within-copy inner product EXACTLY (copy i's
    // near-dup/top-k workload is float-identical to copy 0's: no
    // arithmetic happens, values are only moved and sign-flipped),
    // while cross-copy pairs decorrelate to the base distribution's own
    // random-pair statistics — measured: the fraction of cross-copy
    // pairs above the 0.35 near-dup threshold equals the within-copy
    // fraction (0.21%), i.e. each copy behaves like a fresh sample of
    // the same distribution. The previous ±0.1 jitter left cross-copy
    // twins at cosine ≈ 0.81 — every twin pair was a genuine near-dup,
    // so threshold-family outputs scaled ×copies²/2 (measured:
    // sim_neardups_rplsh 115× at 10×) — the embedding-space version of
    // the token-suffix mistake this file's header documents.
    val embDim = core.Tables.load(spark, src, "embeddings")
      .select(size(col("embedding"))).head().getInt(0)
    def dimPerm(copy: Int): Array[Int] = {
      val a = Array.range(0, embDim)
      if (copy == 0) return a
      var j = a.length - 1
      while (j > 0) {
        val r = fmix64((copy.toLong << 32) | (2L << 16) | j)
        val k = java.lang.Math.floorMod(r, j + 1L).toInt
        val t = a(j); a(j) = a(k); a(k) = t
        j -= 1
      }
      a
    }
    def dimSign(copy: Int, k: Int): Float =
      if (copy == 0) 1.0f
      else if ((fmix64((copy.toLong << 32) | (3L << 16) | k) & 1L) == 0L) 1.0f
      else -1.0f
    replicate("embeddings") { (df, i) =>
      val p = dimPerm(i)
      df.withColumn("vec_id", col("vec_id") + lit(i * vecB))
        .withColumn("embedding", array((0 until embDim).map { k =>
          (col("embedding").getItem(p(k)) * dimSign(i, k)).cast("float")
        }: _*))
    }
    println(s"[scaleup] done: $out (copies=$copies)")
    spark.stop()
  }
}
