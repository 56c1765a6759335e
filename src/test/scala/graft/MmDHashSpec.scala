package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** graft_dhash56 (the r17 native fused dHash that replaced q_mm_phash's
  * interpreted transform/aggregate chain) must be bit-identical to the
  * kept HOF reference (HofReferences.phashHofHashes) for BOTH variants
  * (original + re-encoded twin) over the fixture corpus, and must run
  * inside whole-stage codegen — the reason it exists.
  */
class MmDHashSpec extends SparkTestBase with Matchers {

  test("graft_dhash56 == the HOF transform/aggregate chain, bit for bit, both variants, all fixture media") {
    GraftFunctions.ensureRegistered(spark)
    val hof = HofReferences.phashHofHashes(spark, sfTiny)
    val dh = (twin: Boolean) =>
      call_function(GraftFunctions.DHash56Name, col("text"), lit(twin))
    val base = Tables.documents(spark, sfTiny).filter(col("doc_id") % 2 === 0)
    val native = base.select(col("doc_id").as("media_id"), dh(false).as("hash"))
      .unionAll(base.select((col("doc_id") + 1000000000L).as("media_id"), dh(true).as("hash")))
    val joined = native.alias("n")
      .join(hof.alias("h"), col("n.media_id") === col("h.media_id"), "full_outer")
      .select(col("n.hash").as("nh"), col("h.hash").as("hh"))
    val r = joined.agg(
        count(lit(1)).as("n"),
        sum(when(col("nh") =!= col("hh")
          || col("nh").isNull =!= col("hh").isNull, 1L).otherwise(0L)).as("mismatch"))
      .collect().head
    r.getLong(0) should be > 0L
    r.getLong(1) shouldBe 0L
  }

  test("graft_dhash56 degenerate inputs match the HOF folds: empty and 1-char text hash to 0, null to 0") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((1, Some("")), (2, Some("x")), (3, None: Option[String]), (4, Some("abc")))
      .toDF("id", "text")
      .select(col("id"),
        call_function(GraftFunctions.DHash56Name, col("text"), lit(false)).as("h"),
        call_function(GraftFunctions.DHash56Name, col("text"), lit(true)).as("ht"))
      .orderBy("id").collect()
    // empty: the HOF's sequence(1, 0) = [1, 0] samples ascii("") = 0 twice → all-equal pix → 0
    df(0).getLong(1) shouldBe 0L
    // 1-char: every pix slot is the same code point → no gradient → 0
    df(1).getLong(1) shouldBe 0L
    df(1).getLong(2) shouldBe 0L
    // null text: the aggregate folds 56 zero terms → 0 (non-null)
    df(2).isNullAt(1) shouldBe false
    df(2).getLong(1) shouldBe 0L
    // 3-char "abc": the a→b sample boundary lands inside a compared pair
    // (pix[21] < pix[22]) so the hash is nonzero — and the twin's +1 at
    // code-point 0 flips exactly that near-tie gradient, the "noise flips
    // only near-tie gradients" property the operator's scaladoc documents
    df(3).getLong(1) should not be 0L
    df(3).getLong(2) should not be 0L
  }

  test("graft_dhash56 runs inside whole-stage codegen") {
    GraftFunctions.ensureRegistered(spark)
    val q = Tables.documents(spark, sfTiny).filter(col("doc_id") % 2 === 0)
      .select(call_function(GraftFunctions.DHash56Name, col("text"), lit(false)).as("h"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    plan should include regex "\\*\\(\\d+\\) Project \\[graft_dhash56"
  }
}
