package graft

import graft.functions.PortableHash
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Pins the Spark side of the portable hash family to reference values
  * COMPUTED IN DUCKDB 1.0 (the oracle engine) from the `*Sql` twin
  * fragments — the unit-level guarantee behind the q_dedup_near /
  * _bucketed / _cross / _ngram / q_dedup_simhash hash-match oracles: if
  * either engine's arithmetic drifts (overflow semantics, char coding,
  * fold order), these literals break before the sf0.01 gate does.
  */
class PortableHashSpec extends AnyFunSuite with Matchers with SparkTestBase {

  private def eval(c: org.apache.spark.sql.Column): Any = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    spark.range(1).select(c.as("v")).head.get(0)
  }

  test("native expression == Column-HOF reference on fixture tokens, non-ASCII, and both eval paths") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val toks = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      // BMP samples only: beyond the BMP the HOF reference's split("")
      // yields lone surrogates that UTF8String re-encoding mangles, so
      // only the native fold is well-defined there (corpus is pure ASCII;
      // parity is pinned for ASCII + BMP)
      .union(Seq("", "café", "日本語").toDF("t"))
    val viaNative = toks.select(col("t"), PortableHash.tokenHash(col("t")).as("h"))
    val viaRef = toks.select(col("t").as("t2"), HofReferences.tokenHashReference(col("t")).as("h2"))
    val joined = viaNative.join(viaRef, col("t") === col("t2"))
      .filter(col("h") =!= col("h2"))
    joined.count() shouldBe 0L
    // interpreted (non-codegen) path agrees with codegen
    val u = graft.functions.PortableTokenHash.fold(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello"))
    u shouldBe 856916412L
  }

  test("tokenHash matches DuckDB list_reduce char fold (reference literals)") {
    // reference values from: CASE WHEN t='' THEN 0 ELSE list_reduce(
    //   list_prepend(0::BIGINT, list_transform(string_split(t,''), c -> ord(c)::BIGINT)),
    //   (h,c) -> (h*131+c) % 1000000007) END  -- DuckDB 1.0
    val expected = Seq(
      "hello" -> 856916412L,
      "a" -> 97L,
      "" -> 0L,
      "the quick" -> 486493915L, // space char folds like any other code point
      "Zyx9" -> 204420448L)
    for ((t, h) <- expected)
      withClue(s"tokenHash('$t')") {
        eval(PortableHash.tokenHash(lit(t))) shouldBe h
      }
  }

  test("minhash seeds match DuckDB over a two-token set, across the full seed range") {
    // list_min(list_transform([856916412, 97], h -> (h*(2654435761+40503*i)+97*i) % 2147483647))
    val hs = array(lit(856916412L), lit(97L))
    eval(PortableHash.minhash(hs, 0)) shouldBe 794084881L
    eval(PortableHash.minhash(hs, 5)) shouldBe 1067747476L
    eval(PortableHash.minhash(hs, 63)) shouldBe 29751121L // the ngram family's last seed
  }

  test("bandSig packs two min-hashes collision-free into 62 bits") {
    eval(PortableHash.bandSig(lit(794084881L), lit(1067747476L))) shouldBe 1705284297345188483L
    // injectivity on the packing: (a1,b1) != (a2,b2) => different sigs, because
    // both components are < SeedMod — spot-check the adjacent-value corner
    val near = eval(PortableHash.bandSig(lit(794084881L), lit(1067747477L)))
    val far = eval(PortableHash.bandSig(lit(794084882L), lit(0L)))
    near should not be 1705284297345188483L
    far should not be near
  }

  test("wideHash matches DuckDB and stays inside 62 bits for the max base hash") {
    eval(PortableHash.wideHash(lit(856916412L))) shouldBe 1705310808451304098L
    val maxH = PortableHash.BaseMod - 1
    val v = eval(PortableHash.wideHash(lit(maxH))).asInstanceOf[Long]
    v should be >= 0L
    v should be < (1L << 62)
  }

  test("every intermediate stays below signed-64 overflow at extremes") {
    // the documented bound: max base hash through the last ngram seed (i=63)
    val h = PortableHash.BaseMod - 1
    val prod = h * (PortableHash.A + PortableHash.AStep * 63) + PortableHash.BStep * 63
    prod should be > 0L // no silent Long wrap (DuckDB would error loudly)
    // band sig of two maximal min-hashes
    val mhMax = PortableHash.SeedMod - 1
    (mhMax * PortableHash.SeedMod + mhMax) should be > 0L
  }

  test("tokenHashes over a token array equals per-token tokenHash") {
    val row = spark.range(1)
      .select(PortableHash.tokenHashes(array(lit("hello"), lit("a"), lit(""))).as("hs"))
      .head.getSeq[Long](0)
    row shouldBe Seq(856916412L, 97L, 0L)
  }

  test("idMod makes the affine id scramble overflow-safe at 2^40-strided ids and is the identity below SeedMod") {
    // the r14 sf1 scale run caught closeness throwing ARITHMETIC_OVERFLOW:
    // raw_id * Scramble1Mul leaves int64 once id >= 2^63/Scramble1Mul.
    // Every id-seeded scramble now pre-reduces via idMod — identity on
    // fixture-range ids (oracles untouched), finite at any stride.
    def pr(id: org.apache.spark.sql.Column) =
      ((PortableHash.idMod(id) * PortableHash.Scramble1Mul + PortableHash.Scramble1Add)
        % PortableHash.SeedMod
        * PortableHash.Scramble2Mul + PortableHash.Scramble2Add) % PortableHash.SeedMod
    val wide = (0L to 9L).map(r => r * (1L << 40) + 42L)
    import spark.implicits._
    // ANSI mode would throw on overflow — evaluating proves safety
    val got = wide.toDF("id").select(pr(col("id")).as("p")).collect().map(_.getLong(0))
    got.foreach { p => p should be >= 0L; p should be < PortableHash.SeedMod }
    // identity below SeedMod: the scramble of id equals the scramble of
    // idMod(id) by construction, and fixture ids are < SeedMod
    val small = 12345L
    val direct = ((small * PortableHash.Scramble1Mul + PortableHash.Scramble1Add)
      % PortableHash.SeedMod
      * PortableHash.Scramble2Mul + PortableHash.Scramble2Add) % PortableHash.SeedMod
    Seq(small).toDF("id").select(pr(col("id")).as("p"))
      .head.getLong(0) shouldBe direct
  }
}
