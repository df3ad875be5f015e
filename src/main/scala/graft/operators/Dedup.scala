package graft.operators

import graft.core.Checkpoints.StableOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Tokenizer

/** Deduplication operators for training-data pipelines (north-star scope:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard). All are built from
  * shuffle-conscious primitives:
  *
  *  - exact dedup = hash-groupBy on a content digest (one shuffle on the
  *    digest, never on the text);
  *  - MinHash+LSH = shingle -> signature (partition-local projections) ->
  *    band explode (xB rows of (band, hash, id) — tiny) -> bucket groupBy
  *    -> candidate pairs -> exact-Jaccard verify on the candidates only.
  *    At 100 TB the only shuffle carries (band_idx, band_hash, doc_id);
  *    the quadratic verify runs on the candidate set, which LSH keeps
  *    near-linear;
  *  - SimHash = one custom expression per doc + 16-bit band self-join;
  *  - n-gram Jaccard = blocked pairwise (for bounded blocks / oracles —
  *    the quadratic fallback LSH replaces at scale).
  */
object Dedup {

  /** k-gram token shingles (space-joined), distinct; empty for docs with
    * fewer than k tokens (matches the oracle's range semantics). Single
    * scanner pass via the [[graft.functions.Shingles]] expression. */
  def shingles(text: Column, k: Int): Column =
    graft.functions.TextFunctions.shingles(text, lit(k))

  def tokensOf(text: Column): Column =
    graft.functions.TextFunctions.regex_tokens(text)

  /** Exact Jaccard over two shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** Banded MinHash signature: `bands` band hashes computed in ONE pass
    * over the shingle array (each shingle string hashed once, the hash
    * family derived by mixing — see [[graft.functions.MinHashBands]]). */
  def minhashBands(shingles: Column, numHashes: Int, bands: Int): Column =
    graft.functions.TextFunctions.minhash_bands(
      shingles, lit(numHashes), lit(bands))

  /** LSH candidate pairs from banded signatures: self-match docs sharing
    * any (band_idx, band_hash) bucket. Returns (doc_a, doc_b) with
    * doc_a < doc_b, distinct. */
  def lshCandidates(docsWithBands: DataFrame, idCol: String,
      bandsCol: String): DataFrame = {
    val banded = docsWithBands.select(
      col(idCol),
      posexplode(col(bandsCol)).as(Seq("band_idx", "band_hash")))
    val buckets = banded.groupBy(col("band_idx"), col("band_hash"))
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      // runaway buckets (degenerate hash collisions) are capped: a bucket
      // of m docs yields m(m-1)/2 pairs — bound m to keep the explode
      // sane. Never a silent drop: the observed metric below surfaces the
      // count through graft.core.Metrics' listener.
      .observe("lsh_candidates",
        sum(when(size(col("ids")) > 1000, 1).otherwise(0))
          .as("dropped_hot_buckets"))
      .filter(size(col("ids")) <= 1000)
    buckets.select(explode(pairsOf(col("ids"))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
      .distinct()
  }

  /** Cross-document duplicated SPANS — substring-level dedup in the
    * shape of exact-substring training-data dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better";
    * suffix-array spans re-expressed as maximal runs of shared k-grams):
    *
    *  1. positional k-grams per doc (one explode, token positions kept);
    *  2. a gram is *duplicated* iff it occurs in more than one doc —
    *     detected with `min(doc_id) != max(doc_id)` over a window
    *     partitioned by the gram: ONE shuffle on the gram, O(1) state
    *     per group (no collect_set, no pair enumeration, so unlike the
    *     Jaccard family this needs no document-frequency cap — a gram
    *     in a million docs still contributes one linear partition);
    *  3. per-doc gaps-and-islands (`pos - row_number()`) merges
    *     consecutive duplicated positions into maximal spans.
    *
    * The shuffle/window key is `xxhash64(gram)` — 8 bytes per
    * occurrence, the gram string never leaves the map side.
    * Returns (doc_id, start_pos 1-based, n_grams, span_tokens). */
  /** Token positions (1-based) of k-grams that occur in more than one
    * document: the shared core of [[duplicatedSpans]] and
    * [[spanCoverage]]. Returns (idCol, pos). */
  /** Positional k-gram hash occurrences — one row per (doc, 1-based
    * pos, g), g = xxhash64 of the k-token gram at pos. The gram never
    * leaves the map side: its 64-bit hash is the shuffle/window key
    * (8 bytes/occurrence instead of the k-token string). A collision
    * would need two distinct corpus grams sharing an xxhash64 —
    * ~n^2/2^64, negligible at any corpus size, and deterministic (the
    * oracle gate exercises exactly this plan). ONE definition shared by
    * the span report AND the rewrite, so the gram rule (tokenizer,
    * hash, position base) cannot drift between them. */
  private def gramOccurrences(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol), tokensOf(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("ts")) - (k - 1)),
          i => struct(i.as("pos"),
            xxhash64(concat_ws(" ", slice(col("ts"), i, lit(k)))).as("g")))).as("e"))
      .select(col(idCol), col("e.pos").as("pos"), col("e.g").as("g"))

  private def dupGramPositions(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGram = Window.partitionBy(col("g"))
    gramOccurrences(docs, idCol, textCol, k)
      .withColumn("dup",
        min(col(idCol)).over(byGram) =!= max(col(idCol)).over(byGram))
      .filter(col("dup"))
      .select(col(idCol), col("pos"))
  }

  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val run = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    dupGramPositions(docs, idCol, textCol, k)
      .withColumn("grp", col("pos") - row_number().over(run))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("pos")).cast("long").as("start_pos"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("start_pos"), col("n_grams"),
        (col("n_grams") + (k - 1)).as("span_tokens"))
  }

  /** Per-document duplicated-content fraction — the curation signal the
    * span report feeds ("drop documents whose text is mostly shared"):
    * each duplicated k-gram covers tokens [pos, pos+k-1]; coverage is
    * counted over DISTINCT token positions so adjacent/overlapping grams
    * never double-count. Every doc appears (zero coverage included).
    * Linear: the k-times position explode runs only on duplicated
    * positions. Returns (idCol, n_tokens, dup_tokens, dup_frac). */
  def spanCoverage(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val counts = docs.select(col(idCol),
      size(tokensOf(col(textCol))).cast("long").as("n_tokens"))
    val covered = dupGramPositions(docs, idCol, textCol, k)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
      .groupBy(col(idCol)).agg(count(lit(1)).as("dup_tokens"))
    counts.join(covered, Seq(idCol), "left")
      .na.fill(0L, Seq("dup_tokens"))
      .select(col(idCol), col("n_tokens"), col("dup_tokens"),
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("dup_tokens") * lit(1.0) / col("n_tokens"), 6))
          .as("dup_frac"))
  }

  /** Corpus REWRITE with cross-document duplicated spans removed, keeping
    * the global first occurrence (the Lee et al. 2022 "Deduplicating
    * Training Data" transformation — not just the span report, the actual
    * cleaned text): a token position is dropped iff some duplicated
    * k-gram covers it AND this document is not the gram's minimum-id
    * holder. The min-id holder keeps its text, every later copy loses
    * the shared span; within-document repeats are untouched (the
    * cross-doc `min != max` rule of [[duplicatedSpans]]).
    *
    * Scale shape: the gram pass is [[dupGramPositions]]'s (hash leaves
    * the map side, 8 bytes/occurrence); the drop set anti-joins back on
    * (doc, position); reconstruction is a per-doc sorted fold bounded by
    * document length. Returns every input doc:
    * (idCol, n_tokens, kept_tokens, text_dedup). */
  def spanRewrite(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol), tokensOf(col(textCol)).as("ts"))
    val byGram = Window.partitionBy(col("g"))
    val dropPos = gramOccurrences(docs, idCol, textCol, k)
      .withColumn("own", min(col(idCol)).over(byGram))
      .withColumn("mx", max(col(idCol)).over(byGram))
      .filter(col("own") =!= col("mx") && col(idCol) =!= col("own"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("tpos"))
      .distinct()
    val kept = toks
      .select(col(idCol), posexplode(col("ts")).as(Seq("p0", "tok")))
      .withColumn("tpos", col("p0") + 1)
      .join(dropPos, Seq(idCol, "tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          s => s.getField("tok"))).as("text_dedup"))
    toks.select(col(idCol), size(col("ts")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .na.fill(0L, Seq("kept_tokens")).na.fill("", Seq("text_dedup"))
      .select(col(idCol), col("n_tokens"), col("kept_tokens"),
        col("text_dedup"))
  }

  /** Exact blocked n-gram-Jaccard pairs via a grouped inverted index:
    * explode (block, shingle, doc), group once on (block, shingle) into
    * postings lists, enumerate in-bucket pairs, count shared shingles per
    * pair, then jaccard = c / (|A| + |B| - c). One wide shuffle (the
    * postings groupBy) instead of the two-sided shingle self-join; cost is
    * sum(df^2) over shingles, and `dfCap` bounds the one quadratic hot key
    * a near-stopword shingle would create at 100 TB (a shingle shared by
    * df documents yields df^2/2 pairs; df grows linearly with corpus
    * size). Dropped hot shingles are surfaced via the observed metric
    * `ngram_jaccard.dropped_hot_shingles` — never silent. When the hot
    * keys must be KEPT, `saltHot = true` switches to the skew-salted
    * exact mode (salted sub-buckets + cross-bucket join; zero drops,
    * same pairs, bounded per-task postings).
    *
    * Reference scope: P11/J3 set-similarity semantics (augment_finqa.py's
    * Jaccard components) generalized to corpus self-join. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 3, threshold: Double = 0.3,
      dfCap: Int = 1000, saltHot: Boolean = false): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, blockCol, k, dfCap, saltHot)
      .withColumn("jaccard",
        col("c").cast("double") / (col("n_a") + col("n_b") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Containment near-dups over the same inverted index: score
    * c / min(|A|, |B|) instead of Jaccard. Catches EXCERPT duplication —
    * a short doc quoted wholesale inside a long one has high containment
    * but low Jaccard (the union is dominated by the long doc), so a
    * Jaccard threshold never sees it (Lee et al. 2022 use both). Also
    * emits which member is the contained (smaller-set) one — that's the
    * candidate to drop. Identical plan and df-cap/salting behavior to
    * [[ngramJaccardPairs]]: only the final scoring projection differs. */
  def ngramContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int = 3, threshold: Double = 0.5,
      dfCap: Int = 1000, saltHot: Boolean = false): DataFrame =
    sharedShingleCounts(docs, idCol, textCol, blockCol, k, dfCap, saltHot)
      .withColumn("containment",
        col("c").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment"), 6).as("containment"),
        when(col("n_a") <= col("n_b"), col("doc_a")).otherwise(col("doc_b"))
          .as("contained_id"))

  /** Winnowing fingerprint near-dup pairs (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS scheme; reference corpus-analytics analog:
    * the near-dup detection seam the chunk cache dedups exact-only,
    * src/utils/document_processing.py:60-77). Per doc, the
    * [[graft.functions.WinnowFingerprints]] expression selects the
    * min-hash of every w-window of consecutive k-shingle XXH64s — a
    * ~2/(w+1)-density LOCAL sample with the guarantee that any shared
    * token run of length >= k + w - 1 yields a shared fingerprint. The
    * pair join is then the standard inverted-index postings plan
    * ([[ngramJaccardPairs]] shape) over the SAMPLED fingerprints, so the
    * exchange is ~w/2 x smaller than the full-shingle index at the same
    * guarantee — the 100 TB plagiarism/boilerplate detector.
    *
    * Output per surviving pair: shared-fingerprint count and the
    * containment-style score c / min(|A|, |B|) over fingerprint SETS.
    * Fingerprints hotter than `dfCap` docs (global boilerplate) are
    * dropped with an observed metric, exactly the n-gram index's cap
    * discipline. */
  def winnowingPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 2,
      dfCap: Int = 256): DataFrame = {
    val fps = docs
      .select(col(idCol),
        graft.functions.TextFunctions.winnow_fingerprints(
          col(textCol), lit(k), lit(w)).as("fps"))
      .select(struct(col(idCol).as("id"),
        size(col("fps")).cast("long").as("n")).as("d"), col("fps"))
    fps
      .select(col("d"), explode(col("fps")).as("fp"))
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("d"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .observe("winnowing",
        sum(when(size(col("ds")) > dfCap, 1).otherwise(0))
          .as("dropped_hot_fingerprints"))
      .filter(size(col("ds")) <= dfCap)
      .select(explode(pairsOf(col("ds"))).as("p"))
      .groupBy(col("p._1.id").as("doc_a"), col("p._2.id").as("doc_b"),
        col("p._1.n").as("n_a"), col("p._2.n").as("n_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        round(col("n_shared").cast("double") /
          least(col("n_a"), col("n_b")), 6).as("score"))
  }

  /** Shared core of the exact set-similarity family: per candidate pair
    * (doc_a < doc_b, same block), the shingle-set sizes and the shared
    * distinct-shingle count c. See [[ngramJaccardPairs]] for the plan
    * and skew discussion. */
  private def sharedShingleCounts(docs: DataFrame, idCol: String,
      textCol: String, blockCol: String, k: Int,
      dfCap: Int, saltHot: Boolean): DataFrame = {
    val sh = docs.select(col(blockCol), col(idCol),
      shingles(col(textCol), k).as("sh"))
    val ex = sh.select(col(blockCol),
      struct(col(idCol).as("id"), size(col("sh")).as("n")).as("d"),
      explode(col("sh")).as("shingle"))
    val pairs =
      if (!saltHot) {
        // postings per (block, shingle), sorted by doc id so pair
        // enumeration yields doc_a < doc_b directly
        ex.groupBy(col(blockCol), col("shingle"))
          .agg(sort_array(collect_list(col("d"))).as("ds"))
          .filter(size(col("ds")) > 1)
          .observe("ngram_jaccard",
            sum(when(size(col("ds")) > dfCap, 1).otherwise(0))
              .as("dropped_hot_shingles"))
          .filter(size(col("ds")) <= dfCap)
          .select(explode(pairsOf(col("ds"))).as("p"))
      } else {
        // Skew-salted exact mode: NOTHING is dropped. A df pre-pass
        // finds the hot shingles (df > dfCap — rare by definition, so
        // the hot set broadcasts); their postings split into
        // ceil(df/dfCap) salted sub-buckets keyed by a doc-id hash, so
        // no task ever collects a full hot postings list. A pair sharing
        // a hot shingle lands exactly once: same salt -> within-bucket
        // enumeration; different salts -> the (salt_a < salt_b)
        // cross-bucket join row. The df^2 pair work is inherent to the
        // exact semantics — salting spreads it across s^2 tasks instead
        // of one.
        val hot = broadcast(
          ex.groupBy(col(blockCol), col("shingle"))
            .agg(count(lit(1)).as("df"))
            .filter(col("df") > dfCap)
            .select(col(blockCol), col("shingle"),
              ceil(col("df") / lit(dfCap)).cast("int").as("nsalt")))
        val posts = ex.join(hot, Seq(blockCol, "shingle"), "left")
          .withColumn("nsalt", coalesce(col("nsalt"), lit(1)))
          .withColumn("salt",
            pmod(xxhash64(col("d.id")), col("nsalt")).cast("int"))
          .groupBy(col(blockCol), col("shingle"), col("nsalt"), col("salt"))
          .agg(sort_array(collect_list(col("d"))).as("ds"))
          .observe("ngram_jaccard",
            sum(lit(0)).as("dropped_hot_shingles"))
        val within = posts.filter(size(col("ds")) > 1)
          .select(explode(pairsOf(col("ds"))).as("p"))
        val hotPosts = posts.filter(col("nsalt") > 1)
        val cross = hotPosts
          .select(col(blockCol), col("shingle"), col("salt").as("sa"),
            col("ds").as("dsa"))
          .join(hotPosts.select(col(blockCol), col("shingle"),
            col("salt").as("sb"), col("ds").as("dsb")),
            Seq(blockCol, "shingle"))
          .filter(col("sa") < col("sb"))
          .select(explode(crossPairsOf(col("dsa"), col("dsb"))).as("p"))
        within.unionByName(cross)
      }
    pairs
      .groupBy(col("p._1.id").as("doc_a"), col("p._2.id").as("doc_b"),
        col("p._1.n").as("n_a"), col("p._2.n").as("n_b"))
      .agg(count(lit(1)).as("c"))
  }

  /** Ordered pair expansion over a sorted array: every (x, y) with x
    * before y, as `struct(_1, _2)`. Shared by the postings pair join
    * here, the co-purchase pair table, and the Adamic-Adar wedge
    * expansion. r18: the interpreted higher-order-function nest
    * (kept as the parity oracle `LegacyOracles.pairsOfLegacy` in the
    * test tree) became the fused codegen kernel
    * ([[PairKernels]]) — same struct sequence, whole-stage-codegen
    * participating; PairKernelsParitySpec pins kernel == legacy
    * row-for-row. */
  def pairsOf(ids: Column): Column = PairKernels.pairsOfCol(ids)

  /** All cross pairs between two disjoint postings arrays, each emitted
    * with the smaller doc id first (ids are unique, so strict `<`). */
  private def crossPairsOf(as: Column, bs: Column): Column =
    flatten(transform(as, x => transform(bs, y =>
      when(x.getField("id") < y.getField("id"),
        struct(x.as("_1"), y.as("_2")))
        .otherwise(struct(y.as("_1"), x.as("_2"))))))

  /** Full MinHash-LSH near-dup pipeline: candidates + exact-Jaccard verify.
    * Output: doc_a, doc_b, jaccard (>= threshold only). */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // the shingle table feeds the signature path AND both verify-join
    // sides; Catalyst doesn't CSE across self-joins, so persist it (first
    // action materializes once instead of re-shingling the corpus 3x)
    val withShingles = docs.select(col(idCol),
      shingles(col(textCol), shingleK).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val withSig = withShingles.withColumn("bands",
      minhashBands(col("sh"), numHashes, bands))
    val cands = lshCandidates(withSig, idCol, "bands")
    val left = withShingles.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val right = withShingles.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    val out = cands.join(left, "doc_a").join(right, "doc_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
      // materialize the (small) verified-pair set, then drop the shingle
      // cache — without this every invocation leaks a corpus-sized persist
      // for the life of the session
      .stableCheckpoint()
    withShingles.unpersist(blocking = false)
    out
  }

  /** Connected components over a verified near-dup pair graph — the
    * canonical-representative step a dedup pipeline ends with (keep
    * min-id doc per duplicate cluster, drop the rest).
    *
    * Iterative min-label propagation (Pregel-lite): each round every
    * node takes the min of its own label and its neighbors' labels; stop
    * at fixpoint. Rounds = graph diameter (near-dup clusters are
    * shallow); each round is one equi-join + one map-side-combined min
    * aggregation — the standard scalable formulation (GraphX/large-star
    * semantics without the library). Labels persist across rounds; the
    * pair table is tiny relative to the corpus, so the fixpoint check
    * (one count per round) is cheap.
    *
    * @return (id, cluster) for EVERY doc in `docs` — singletons label
    *         themselves. */
  def connectedComponents(pairs: DataFrame, docs: DataFrame,
      idCol: String, maxIters: Int = 20,
      driverGate: Long = 1L << 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Strategy switch, not an approximation: both paths produce the same
    // min-label components. The VERIFIED near-dup pair set is orders of
    // magnitude smaller than the corpus by construction (LSH/verify
    // prunes it), so at any scale where it fits the gate (default 1M
    // edges) a single-pass union-find beats
    // paying #rounds x (join + agg + fixpoint count) of job overhead.
    // Bigger graphs fall through to the iterative propagation below.
    // One job decides AND fetches: collect gate+1 rows — a separate
    // count() would compute the whole upstream pair pipeline twice.
    if (driverGate > 0 && driverGate < Int.MaxValue) {
      val rows = pairs.select(col("doc_a"), col("doc_b"))
        .limit(driverGate.toInt + 1).collect()
      if (rows.length <= driverGate) {
        val small = driverUnionFind(rows, pairs.schema.fields(0).dataType,
          docs, idCol)
        if (small != null) {
          System.err.println(s"[graft-metrics] connected_components: " +
            s"${rows.length} verified pairs <= gate $driverGate -> " +
            "single-pass union-find")
          return small
        }
      }
    }
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // iterate ONLY over nodes that appear in the pair graph — at corpus
    // scale duplicates are a sliver of the data, and singletons can't
    // change label; they are attached in the final projection instead
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("cluster")), "dst")
        .groupBy(col("src")).agg(min(col("cluster")).as("nmin"))
      // carry the previous label so ONE action both materializes the next
      // labels (into the persist) and returns the convergence signal
      val next = labels.select(col("id"), col("cluster").as("prev"))
        .join(neighborMin.select(col("src").as("id"), col("nmin")), Seq("id"), "left_outer")
        .select(col("id"), col("prev"),
          least(col("prev"), coalesce(col("nmin"), col("prev"))).as("cluster"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val changed = next.filter(col("cluster") =!= col("prev")).count()
      labels.unpersist(blocking = false)
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      // no silent caps: labels are still correct-but-coarser (some
      // clusters not yet merged) — say so instead of pretending fixpoint
      System.err.println(s"[graft-metrics] connected_components: " +
        s"NOT converged after $maxIters rounds (graph deeper than bound)")
    val out = docs.select(col(idCol))
      .join(labels.select(col("id").as(idCol), col("cluster")),
        Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster"))
      .stableCheckpoint()
    labels.unpersist(blocking = false)
    edges.unpersist(blocking = false)
    out
  }

  /** Single-pass union-find over a collected pair set (small-graph path
    * of [[connectedComponents]]; min-id labels, identical output to the
    * iterative formulation). Returns null when the id type has no
    * natural min ordering it knows — caller falls back to the loop. */
  private def driverUnionFind(pairRows: Array[org.apache.spark.sql.Row],
      dt: org.apache.spark.sql.types.DataType,
      docs: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val lt: (Any, Any) => Boolean = dt match {
      case LongType => (a, b) => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case IntegerType => (a, b) => a.asInstanceOf[Int] < b.asInstanceOf[Int]
      case StringType => (a, b) => a.asInstanceOf[String] < b.asInstanceOf[String]
      case _ => return null
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while ({ val p = parent.getOrDefault(r, r); p != r && { r = p; true } }) ()
      var c = x // path compression
      while ({ val p = parent.getOrDefault(c, c); p != c && { parent.put(c, r); c = p; true } }) ()
      r
    }
    pairRows.foreach { row =>
      val (ra, rb) = (find(row.get(0)), find(row.get(1)))
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    // roots are component minima (unions always point larger -> smaller)
    val labels = new java.util.ArrayList[org.apache.spark.sql.Row]()
    parent.keySet().forEach(n => labels.add(org.apache.spark.sql.Row(n, find(n))))
    val spark = docs.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol, dt),
      org.apache.spark.sql.types.StructField("cluster", dt)))
    val labelDf = spark.createDataFrame(labels, schema)
    docs.select(col(idCol))
      .join(broadcast(labelDf), Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("cluster"), col(idCol)).as("cluster"))
  }

  /** Shared SimHash core: per-bit weighted vote of 64-bit token hashes.
    * Token hash = [[graft.core.TokenHash.hash64]] over the token's UTF-8
    * bytes (two murmur3_x86_32 mixes) — byte-based so the `dedup_simhash`
    * oracle replays it exactly in DuckDB SQL. */
  private def simhashVote(n: Int, tokenHash: Int => Long): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = tokenHash(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Static kernel for [[SimHash64]] (callable from generated code).
    * UTF8String.getBytes hands the UTF-8 bytes straight to the hash —
    * no String round-trip. */
  def simhash64Kernel(arr: ArrayData): Long =
    simhashVote(arr.numElements(), { i =>
      val b = arr.getUTF8String(i).getBytes
      graft.core.TokenHash.hash64(b, 0, b.length)
    })

  /** 64-bit SimHash over a token array: per-bit weighted vote of 64-bit
    * token hashes. Custom expression — the 64-counter loop has no efficient
    * composition from built-ins (SURVEY.md §2.11 preference order (b)).
    * Codegen-participating (static kernel call). */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(simhash64Kernel(v.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.simhash64Kernel($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
    override def prettyName: String = "simhash64"
  }

  /** Static kernel for [[SimHashText]] (callable from generated code). */
  def simhashTextKernel(v: UTF8String): Long = {
    val k = Tokenizer.of(v)
    simhashVote(k.length,
      i => graft.core.TokenHash.hash64(k.bytes, k.start(i), k.end(i) - k.start(i)))
  }

  /** Fused text->SimHash: the scanner tokenizer feeds the vote directly —
    * same hash values as `simhash64(regex_tokens(text))` (identical token
    * rule, property of the tokenizer) without the regex pass or the
    * intermediate token array. Codegen-participating (static kernel
    * call). */
  case class SimHashText(child: Expression)
      extends UnaryExpression {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(simhashTextKernel(v.asInstanceOf[UTF8String]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.operators.Dedup.simhashTextKernel($c)")
    override protected def withNewChildInternal(c: Expression): SimHashText = copy(c)
    override def prettyName: String = "simhash_text"
  }

  def simhash64(tokens: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      SimHash64(org.apache.spark.sql.graftbridge.Bridge.expression(tokens)))

  def simhashText(text: Column): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      SimHashText(org.apache.spark.sql.graftbridge.Bridge.expression(text)))

  /** SimHash near-dup pairs: 4x16-bit band blocking + hamming verify. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // both self-join sides derive from sigs; persist the (id, sig) pairs —
    // 16 bytes/doc — so the tokenize+simhash pass runs once, not twice
    val sigs = docs.select(col(idCol), simhashText(col(textCol)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sigs.select(col(idCol), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sig"), 16 * i).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band_idx", "band_key")))
    val a = banded.select(col("band_idx"), col("band_key"),
      col(idCol).as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_idx"), col("band_key"),
      col(idCol).as("doc_b"), col("sig").as("sig_b"))
    val out = a.join(b, Seq("band_idx", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
      .stableCheckpoint() // materialize pairs, then free the sig cache
    sigs.unpersist(blocking = false)
    out
  }
}
