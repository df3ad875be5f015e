package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exactness fuzz for the PassJoin edit-distance blocking
  * (Relational.editDistancePairsOver): on TPC-H data the short-name
  * branch and the l ≈ 9 length boundary are DEAD (min p_name ≈ 15
  * chars), so this spec drives the operator with adversarial synthetic
  * names — tiny alphabet (many near-collisions), lengths 1–14
  * straddling the 9-char long/short split, seeded random edit scripts
  * with inserts/deletes/substitutions placed uniformly (so segment
  * boundaries are hit), duplicates, and multiple p_size blocks — and
  * asserts the result equals the naive cross-join `levenshtein ≤ 2`
  * oracle EXACTLY (same pair set, same distances).
  *
  * The naive oracle is test-only and quadratic by design: 200 names →
  * 19 900 pairs, trivially checkable here, which is precisely why the
  * production plan must never be shaped like it. */
class EditDistanceFuzzSpec extends SparkSpec {

  private def naivePairs(parts: DataFrame): Set[(Long, Long, Int)] = {
    val a = parts.select(col("p_partkey").as("part_a"),
      col("p_name").as("name_a"), col("p_size"))
    val b = parts.select(col("p_partkey").as("part_b"),
      col("p_name").as("name_b"), col("p_size"))
    a.join(b, "p_size").filter(col("part_a") < col("part_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
      .select(col("part_a"), col("part_b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  private def blocked(parts: DataFrame): Set[(Long, Long, Int)] =
    graft.queries.Relational.editDistancePairsOver(parts)
      .select(col("part_a"), col("part_b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def toParts(names: Seq[(String, Int)]): DataFrame = {
    val s = spark; import s.implicits._
    names.zipWithIndex
      .map { case ((n, sz), id) => (id.toLong, n, sz) }
      .toDF("p_partkey", "p_name", "p_size")
      // spread so the blocking runs multi-partition, as in production
      .repartition(4)
  }

  private def check(names: Seq[(String, Int)], label: String): Unit = {
    val parts = toParts(names)
    val exp = naivePairs(parts)
    val got = blocked(parts)
    val missing = exp -- got
    val spurious = got -- exp
    assert(missing.isEmpty && spurious.isEmpty,
      s"$label: missing=${missing.take(5)} spurious=${spurious.take(5)} " +
        s"(|exp|=${exp.size}, |got|=${got.size})")
    // the fixture must actually exercise matches, or the assert is vacuous
    assert(exp.nonEmpty, s"$label: oracle found no pairs — fixture too sparse")
  }

  test("fuzz: random edit scripts over mixed lengths match the naive oracle") {
    val rnd = new scala.util.Random(20260814L)
    val alpha = "abc"
    def randStr(len: Int): String =
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, nEdits: Int): String = {
      var cur = s
      (0 until nEdits).foreach { _ =>
        val op = rnd.nextInt(3)
        val pos = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => // substitute
            cur.updated(pos, alpha(rnd.nextInt(alpha.length)))
          case 1 => // insert
            cur.substring(0, pos) + alpha(rnd.nextInt(alpha.length)) +
              cur.substring(pos)
          case _ if cur.length > 1 => // delete
            cur.substring(0, pos) + cur.substring(pos + 1)
          case _ => cur
        }
      }
      cur
    }
    // base strings at every length 1..14 (short branch, the 9 boundary,
    // long branch), each spawning mutants at edit budgets 0..3 — budget-3
    // mutants land at true distance ≤ 3, so the τ = 2 cut is exercised
    // from both sides
    val names = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    (1 to 14).foreach { len =>
      (0 until 4).foreach { _ =>
        val base = randStr(len)
        names += ((base, 1))
        (0 to 3).foreach(k => names += ((mutate(base, k), 1)))
      }
    }
    check(names.toSeq, "fuzz-mixed")
  }

  test("length boundary: every (la, lb) pair in 7..11 with boundary-straddling edits") {
    // deterministic worst cases around l = 9: prefixes/suffixes/middles
    // of a shared mother string at every length in the band, so pairs
    // cross the long/short split in every combination
    val mother = "abacbcabacbAB"
    val names = scala.collection.mutable.ArrayBuffer[(String, Int)]()
    (7 to 11).foreach { len =>
      names += ((mother.take(len), 1))
      names += ((mother.takeRight(len), 1))
      names += ((mother.substring(1, 1 + len), 1))
      // edits exactly at the 3-segment boundaries of a length-9 split
      val s = mother.take(len)
      names += ((s.updated(0, 'z'), 1))
      if (len >= 4) names += ((s.substring(0, 3) + "z" + s.substring(3), 1))
      if (len >= 7) names += ((s.substring(0, 6) + s.substring(7), 1))
    }
    check(names.toSeq, "boundary")
  }

  test("short strings incl. empty names, duplicates and p_size blocking") {
    val names = Seq(
      ("", 1), ("", 1), // empty names: band value 0 must stay joinable
      ("a", 1), ("a", 1), ("b", 1), ("ab", 1), ("ba", 1), ("abc", 1),
      ("abcd", 1), ("abcde", 1), ("abcdef", 1), ("abcdefg", 1),
      ("abcdefgh", 1), ("abcdefghi", 1), ("aXcdefgh", 1), ("bcdefgh", 1),
      // same names in a different size block: must NOT pair cross-block
      ("a", 2), ("ab", 2), ("abc", 2), ("abcdefgh", 2), ("abcdefghi", 2))
    val parts = toParts(names)
    val exp = naivePairs(parts)
    val got = blocked(parts)
    assert(got == exp, s"short: got ${got.size}, expected ${exp.size}")
    // cross-block leak check: every returned pair shares a p_size
    val sizes = names.zipWithIndex.map { case ((_, sz), id) => id.toLong -> sz }.toMap
    got.foreach { case (a, b, _) =>
      assert(sizes(a) == sizes(b), s"cross-block pair ($a, $b)")
    }
  }

  test("fused signature kernels match the legacy HOF expressions row-for-row") {
    // the r18 EditKernels expressions replace the interpreted
    // array_distinct(transform(filter(flatten(...)))) nest and the
    // index-side transform(sequence(0,2), ...) — this pins the kernel
    // outputs (order included: first-occurrence dedup = array_distinct)
    // against the legacy SQL kept verbatim in Relational, over
    // adversarial lengths, repeated-substring names (forcing real
    // dedup hits), and multi-byte code points (substring addressing)
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20260819L)
    val alpha = "aabbc√é" // skew + 2 multi-byte chars
    val names = (Seq.tabulate(60) { i =>
      val len = 1 + rnd.nextInt(18)
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    } ++ Seq("", "aaaaaaaaa", "aaaaaaaaaa", "ababababab", "√√√√√√√√√√"))
      .zipWithIndex.map { case (n, id) => (id.toLong, n) }
      .toDF("p_partkey", "p_name")
      .withColumn("l", length(col("p_name")))
    val both = names.select(
      graft.operators.EditKernels.probeSignaturesCol(col("p_name"), col("l"))
        .as("k_probe"),
      expr(LegacyOracles.legacyProbeSigsSql).as("e_probe"),
      graft.operators.EditKernels.segmentsCol(col("p_name"), col("l"))
        .as("k_seg"),
      expr(LegacyOracles.legacySegmentsSql).as("e_seg"))
      .collect()
    both.foreach { r =>
      assert(r.get(0) == r.get(1), s"probe sigs diverge: ${r.get(0)} vs ${r.get(1)}")
      assert(r.get(2) == r.get(3), s"segments diverge: ${r.get(2)} vs ${r.get(3)}")
    }
    // the fixture must exercise both a full and a cut enumeration, or
    // the order/dedup assertions are vacuous
    val sizes = both.map(_.getSeq[Any](0).size)
    assert(sizes.exists(_ > 0) && sizes.exists(_ < 39),
      "fixture never exercised the dedup/feasibility cut")
  }

  test("join regime is pinned: shuffled hash build, no broadcast at any estimate") {
    // the shuffle_hash pin exists because the planner's static estimate
    // broadcast the 39×-exploded probe side and hit Spark's 8 GiB hard
    // limit at the 100× frame (and the shuffled regime measured faster
    // at every scale point) — the plan must carry the hinted SHJ and
    // no broadcast even while the inputs look tiny to the planner
    val rnd = new scala.util.Random(20260816L)
    val alpha = "abcd"
    val names = (0 until 120).flatMap { _ =>
      val len = 3 + rnd.nextInt(12)
      val base = (0 until len).map(_ => alpha(rnd.nextInt(4))).mkString
      Seq((base, 1), (base.updated(0, 'z'), 1))
    }
    val parts = toParts(names)
    val exp = naivePairs(parts)
    val pinned = graft.queries.Relational.editDistancePairsOver(parts)
    val got = pinned
      .select(col("part_a"), col("part_b"), col("dist"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(exp.nonEmpty && got == exp,
      s"pinned regime diverged: |exp|=${exp.size}, |got|=${got.size}")
    val plan = pinned.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"signature join must never broadcast an n-proportional side:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the hinted shuffle-hash build:\n$plan")
  }
}
