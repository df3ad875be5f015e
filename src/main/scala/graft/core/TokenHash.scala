package graft.core

/** THE per-token 64-bit hash behind the SimHash signature — standard
  * murmur3_x86_32 over the token's UTF-8 bytes, two independent seeds
  * packed hi/lo. Single-sourced like [[SplitHash]]: the Scala kernel
  * (used by the codegen'd SimHash expressions) and the DuckDB SQL replay
  * (used by the `dedup_simhash` oracle) live together so a change to the
  * hash cannot leave the oracle silently checking a different signature.
  *
  * Byte-based on purpose: hashing UTF-8 bytes (not UTF-16 code units)
  * is what makes an exact SQL replay possible — DuckDB sees the same
  * bytes via `encode(token)`, so the mix replays with plain 32-bit
  * modular arithmetic (UBIGINT masked to 32 bits).
  */
object TokenHash {

  val SeedHi: Int = 0x9747b28c
  val SeedLo: Int = 0x85ebca6b

  /** Standard murmur3_x86_32 over `bytes[from, from + len)`. */
  def murmur3(bytes: Array[Byte], from: Int, len: Int, seed: Int): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h = seed
    val nblocks = len >>> 2
    var i = 0
    while (i < nblocks) {
      val p = from + (i << 2)
      var k = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8) |
        ((bytes(p + 2) & 0xff) << 16) | ((bytes(p + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 1
    }
    val tail = from + (nblocks << 2)
    var k1 = 0
    val rem = len & 3
    if (rem >= 3) k1 ^= (bytes(tail + 2) & 0xff) << 16
    if (rem >= 2) k1 ^= (bytes(tail + 1) & 0xff) << 8
    if (rem >= 1) {
      k1 ^= bytes(tail) & 0xff
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h ^= k1
    }
    h ^= len
    h ^= h >>> 16; h *= 0x85ebca6b
    h ^= h >>> 13; h *= 0xc2b2ae35
    h ^= h >>> 16
    h
  }

  /** The 64-bit token hash: two murmur3 mixes packed (hi << 32) | lo. */
  def hash64(bytes: Array[Byte], from: Int, len: Int): Long =
    (murmur3(bytes, from, len, SeedHi).toLong << 32) |
      (murmur3(bytes, from, len, SeedLo).toLong & 0xffffffffL)

  // ---- DuckDB replay (generated SQL; all 32-bit ops as masked UBIGINT) ----

  private def mulM(a: String, c: Long) =
    s"(($a * $c::UBIGINT) & 4294967295::UBIGINT)"
  private def rotl(x: String, r: Int) =
    s"((($x << $r) & 4294967295::UBIGINT) | ($x >> ${32 - r}))"
  /** The per-block mix as a list_reduce lambda body over (h, k). */
  private val mixBody: String = {
    val k3 = mulM(rotl(mulM("k", 3432918353L), 15), 461845907L)
    s"((${rotl(s"xor(h, $k3)", 13)} * 5::UBIGINT + 3864292196::UBIGINT) & 4294967295::UBIGINT)"
  }
  private def mixK1(t: String) =
    mulM(rotl(mulM(t, 3432918353L), 15), 461845907L)
  /** Fold of the aligned 4-byte little-endian blocks of hex string `hx`
    * (byte length `nb`), starting from `seed`. */
  private def bodyFold(seed: Int): String = {
    val chunks = "list_transform(range(nb // 4), i -> CAST(concat('0x', " +
      "substr(hx, 8*i+7, 2), substr(hx, 8*i+5, 2), substr(hx, 8*i+3, 2), " +
      "substr(hx, 8*i+1, 2)) AS UBIGINT))"
    s"list_reduce(list_prepend(${seed.toLong & 0xffffffffL}::UBIGINT, $chunks), (h, k) -> $mixBody)"
  }

  /** CTE chain replaying [[hash64]] for every row of `$tokCte(doc_id, t)`:
    * emits `$outCte(doc_id, h64 UBIGINT)`, one row per token occurrence.
    * Chain the fmix steps across CTE stages — inlining them would
    * duplicate the whole body fold expression ~8x. */
  def hash64SqlCtes(tokCte: String, outCte: String): String = {
    def both(f: String => String) =
      s"${f("h1")} AS h1, ${f("h2")} AS h2"
    s"""tk0 AS (SELECT doc_id, hex(encode(t)) AS hx, octet_length(encode(t)) AS nb FROM $tokCte),
       |tk1 AS (SELECT doc_id, nb, ${bodyFold(SeedHi)} AS h1, ${bodyFold(SeedLo)} AS h2,
       |  CASE nb % 4 WHEN 0 THEN NULL
       |    WHEN 1 THEN substr(hx, 2*nb-1, 2)
       |    WHEN 2 THEN substr(hx, 2*nb-1, 2) || substr(hx, 2*nb-3, 2)
       |    ELSE substr(hx, 2*nb-1, 2) || substr(hx, 2*nb-3, 2) || substr(hx, 2*nb-5, 2) END AS thx
       |  FROM tk0),
       |tk2 AS (SELECT doc_id, nb, ${both(h =>
          s"CASE WHEN thx IS NULL THEN $h ELSE xor($h, ${mixK1("CAST(concat('0x', thx) AS UBIGINT)")}) END")}
       |  FROM tk1),
       |tk3 AS (SELECT doc_id, ${both(h => s"xor($h, nb::UBIGINT)")} FROM tk2),
       |tk4 AS (SELECT doc_id, ${both(h => s"xor($h, $h >> 16)")} FROM tk3),
       |tk5 AS (SELECT doc_id, ${both(h => mulM(h, 2246822507L))} FROM tk4),
       |tk6 AS (SELECT doc_id, ${both(h => s"xor($h, $h >> 13)")} FROM tk5),
       |tk7 AS (SELECT doc_id, ${both(h => mulM(h, 3266489909L))} FROM tk6),
       |tk8 AS (SELECT doc_id, ${both(h => s"xor($h, $h >> 16)")} FROM tk7),
       |$outCte AS (SELECT doc_id, h1 * 4294967296::UBIGINT + h2 AS h64 FROM tk8)""".stripMargin
  }

  /** CTE chain replaying the SimHash signature over `documents`:
    * tokenize with `re` (the shared Tokenizer parity regex), hash each
    * token occurrence with [[hash64]], per-bit majority vote (bit set iff
    * strictly more ones than zeros — ties clear, matching the kernel's
    * `votes(b) > 0`), pack to a signed BIGINT. Emits `sigs(doc_id,
    * simhash)` covering EVERY document (no-token docs signature to 0,
    * same as the kernel's empty vote). Reused by both the signature
    * oracle and the band-blocked pairs oracle. */
  def simhashSigCtes(re: String): String =
    s"""simtok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '$re')) AS t
       |  FROM documents),
       |${hash64SqlCtes("simtok", "th")},
       |bits AS (
       |  SELECT doc_id, b,
       |    CASE WHEN 2 * SUM(CAST((h64 >> CAST(b AS INTEGER)) & 1::UBIGINT AS BIGINT))
       |              > COUNT(*) THEN 1 ELSE 0 END AS bit
       |  FROM th CROSS JOIN range(64) r(b)
       |  GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN bit = 1
       |        THEN CAST(1::UBIGINT << CAST(b AS INTEGER) AS HUGEINT) ELSE 0 END) AS u
       |  FROM bits GROUP BY doc_id),
       |sigs AS (
       |  SELECT d.doc_id,
       |    CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808
       |         THEN coalesce(s.u, 0) - 18446744073709551616
       |         ELSE coalesce(s.u, 0) END AS BIGINT) AS simhash
       |  FROM documents d LEFT JOIN sig s ON d.doc_id = s.doc_id)""".stripMargin

  /** Full signature query: `(doc_id, simhash)` per document. */
  def simhashDocumentsSql(re: String): String =
    s"""WITH ${simhashSigCtes(re)}
       |SELECT doc_id, simhash FROM sigs""".stripMargin

  /** Band-blocked SimHash near-dup pairs — the full candidate+verify
    * replay: 4x16-bit band keys (arithmetic shift + mask, same bits as
    * the engine's `shiftright(sig, 16*i) & 0xffff` on the signed long),
    * band-bucket self-join, hamming = bit_count(xor) verify, distinct.
    * Deterministic end-to-end, so the "approximate" pairs query gets an
    * exact oracle; only its RECALL (vs all true near-dups) is
    * approximate, which the DedupSpec bound covers. */
  def simhashPairsSql(re: String, maxHamming: Int): String =
    s"""WITH ${simhashSigCtes(re)},
       |bands AS (
       |  SELECT doc_id, simhash, r.b AS band_idx,
       |    (simhash >> (16 * CAST(r.b AS INTEGER))) & 65535 AS band_key
       |  FROM sigs CROSS JOIN range(4) r(b))
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin
}
