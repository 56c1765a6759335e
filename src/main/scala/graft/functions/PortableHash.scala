package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable hash family for the LSH/sketch operators (round-7
  * verdict ask #4): plain modular arithmetic over character codes instead
  * of murmur3/xxhash64, so the ENTIRE signature pipeline — token hash,
  * seeded min-hashes, band signatures, SimHash fingerprints, including
  * every collision — is bit-reproducible in any ANSI-SQL engine. This is
  * what flips q_dedup_near / _bucketed / _cross / _ngram / q_dedup_simhash
  * from "rows-only, hash-family-specific" to full DuckDB hash-match in the
  * correctness gate, the same discipline q_sketch_bloom/q_sketch_cms
  * established (MoreQueries.scala).
  *
  * Arithmetic stays strictly inside signed-64-bit range at every step
  * (DuckDB errors on BIGINT overflow rather than wrapping, so silent
  * wrap-around differences are impossible — any drift would be a loud
  * oracle error):
  *   - base token hash  H < 1e9+7            (31 bits)
  *   - seeded min-hash  H·(a+40503·63)+97·63 < 2.66e18
  *   - band signature   mh·(2^31-1)+mh       < 4.62e18
  *   - SimHash wide     s1·2^31+s2           < 4.62e18  (62-bit space)
  *
  * All builders are pure Column expressions (codegen'd, per-row,
  * shuffle-free); the char-level fold is one array pass per token, after
  * which every seed is O(1) arithmetic per token — the 32-seed signature
  * costs ONE string traversal per token vs 32 murmur3 traversals in the
  * round-3..7 family (measured neutral-to-faster at sf0.1).
  *
  * Every Column builder has a `*Sql` twin returning the SAME formula as a
  * DuckDB SQL fragment; the dedup oracles are assembled from these so the
  * two sides cannot drift independently.
  */
object PortableHash {

  /** Base-hash modulus (char-fold): keeps h·131+c < 1.4e11. */
  val BaseMod = 1000000007L

  /** Char-fold multiplier. */
  val BaseMul = 131L

  /** Min-hash / scramble modulus (Mersenne prime 2^31-1): seeded values
    * stay below 2^31, so a 2-row band signature packs exactly into 62
    * bits with no modular reduction (collision-free combine).
    */
  val SeedMod = 2147483647L

  /** Seed family: a_i = A + AStep·i, b_i = BStep·i (mod SeedMod). A mod
    * SeedMod = 506952114 ≠ 0 and AStep keeps every a_i distinct nonzero
    * for i < 52k, so each seed is a genuine affine permutation of Z_p.
    * Same constants as the q_sketch_bloom/cms family.
    */
  val A = 2654435761L
  val AStep = 40503L
  val BStep = 97L

  /** Character-level polynomial hash of one token:
    * fold h ← (h·131 + code) mod 1e9+7 over the token's characters, init
    * 0 — the native codegen'd [[PortableTokenHash]] expression (a
    * zero-allocation byte fold; ~the cost of a murmur3 pass, vs the
    * Column-HOF reference `HofReferences.tokenHashReference` under
    * src/test that allocates one single-char UTF8String per character).
    * Matches DuckDB's `string_split(t,'')`+`ord` fold on the ASCII corpus (TESTDATA.md: documents text is pure ASCII).
    * Requires GraftFunctions.ensureRegistered (done in Tables.load, so
    * every query path has it).
    */
  def tokenHash(t: Column): Column =
    call_function(GraftFunctions.PortableTokenHashName, t)

  /** tokenHash over every element of a string array (one codegen'd pass). */
  def tokenHashes(toks: Column): Column = transform(toks, t => tokenHash(t))

  /** Seeded min-hash over a pre-hashed token array:
    * min over tokens of (H·(A + AStep·i) + BStep·i) mod (2^31-1).
    */
  def minhash(hs: Column, seed: Int): Column =
    array_min(transform(hs,
      h => (h * lit(A + AStep * seed) + lit(BStep * seed)) % lit(SeedMod)))

  /** 2-row band signature: collision-free 62-bit pack of two min-hashes. */
  def bandSig(mhA: Column, mhB: Column): Column =
    mhA * lit(SeedMod) + mhB

  /** 62-bit SimHash token fingerprint: two independent affine scrambles
    * of the base hash packed as s1·2^31 + s2. 62 bits (vs xxhash64's 64)
    * changes nothing structural: the 4×16-bit chunk cover for hamming ≤ 3
    * still pigeonholes (chunks 0..2 are full, chunk 3 carries bits
    * 48..61).
    */
  val Scramble1Mul = 2654435761L
  val Scramble1Add = 12345L
  val Scramble2Mul = 1779033703L
  val Scramble2Add = 67867967L
  val SimhashBits = 62

  /** Pre-reduction that makes the affine id scrambles overflow-safe for
    * ARBITRARY long ids: `id * Scramble1Mul` overflows int64 once
    * id ≥ 2^63/Scramble1Mul ≈ 3.5e9 — fine for the fixtures (ids <
    * SeedMod = 2^31−1, where this is the identity and every oracle hash
    * is unchanged; id = SeedMod itself maps to 0, the r14 ADVICE
    * off-by-one) but
    * a hard ANSI failure on a corpus with wide id strides (caught by the
    * r14 sf1 scale run: q_graft_closeness_lsh threw ARITHMETIC_OVERFLOW
    * on 2^40-strided vec_ids). Every id-seeded scramble routes through
    * this; the SQL twins mirror [[idModSql]] so both engines compute the
    * same priority at any scale.
    */
  def idMod(id: Column): Column = pmod(id, lit(SeedMod))

  /** SQL twin of [[idMod]] (fixture ids are non-negative, so plain `%`
    * matches pmod).
    */
  def idModSql(id: String): String = s"(($id) % $SeedMod)"

  def wideHash(h: Column): Column = {
    val s1 = (h * lit(Scramble1Mul) + lit(Scramble1Add)) % lit(SeedMod)
    val s2 = (h * lit(Scramble2Mul) + lit(Scramble2Add)) % lit(SeedMod)
    s1 * lit(2147483648L) + s2
  }

  // ---------------------------------------------------------------------
  // DuckDB SQL twins — identical formulas, assembled into the oracles.
  // ---------------------------------------------------------------------

  /** SQL: char-fold hash of token expression `t` (DuckDB lambdas).
    * The CASE guard pins the empty token to 0 (Spark's empty slice →
    * fold init; DuckDB's string_split('','') is [''] whose ord is -1).
    */
  def tokenHashSql(t: String): String =
    s"""CASE WHEN $t = '' THEN 0 ELSE list_reduce(
       |  list_prepend(CAST(0 AS BIGINT),
       |    list_transform(string_split($t, ''), c -> CAST(ord(c) AS BIGINT))),
       |  (h, c) -> (h * $BaseMul + c) % $BaseMod) END""".stripMargin

  /** SQL: seeded min-hash of a BIGINT-list expression `hs` with seed
    * column/expression `i`.
    */
  def minhashSql(hs: String, i: String): String =
    s"list_min(list_transform($hs, h -> (h * ($A + $AStep*$i) + $BStep*$i) % $SeedMod))"

  /** SQL: 62-bit SimHash token fingerprint of BIGINT expression `h`. */
  def wideHashSql(h: String): String =
    s"((($h) * $Scramble1Mul + $Scramble1Add) % $SeedMod) * 2147483648" +
      s" + ((($h) * $Scramble2Mul + $Scramble2Add) % $SeedMod)"
}
