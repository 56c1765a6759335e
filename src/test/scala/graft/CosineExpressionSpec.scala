package graft

import graft.functions.{GraftFunctions, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** The native CosineSimilarity expression must be bit-identical to the
  * higher-order-function reference (same widening, same accumulation
  * order) and stay inside whole-stage codegen.
  */
class CosineExpressionSpec extends SparkTestBase with Matchers {

  test("native expression == HOF reference, bit for bit") {
    val e = Tables.embeddings(spark, sfTiny)
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1")).filter(col("id1") < 50)
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2")).filter(col("id2") between (50, 100))
    val pairs = a.crossJoin(b)
    val diff = pairs.select(
        (VectorOps.cosine(col("e1"), col("e2")) - HofReferences.cosineHof(col("e1"), col("e2"))).as("d"))
      .agg(max(abs(col("d"))).as("maxd"), count(lit(1)).as("n"))
      .collect().head
    diff.getLong(1) should be > 0L
    diff.getDouble(0) shouldBe 0.0 // exactly
  }

  test("null input yields null; runs inside WholeStageCodegen on a real scan") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((Some(Seq(1.0f, 0.0f)), Some(Seq(1.0f, 0.0f))), (None, Some(Seq(1.0f, 0.0f))))
      .toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("c"))
    val rows = df.collect()
    rows(0).getDouble(0) shouldBe 1.0
    rows(1).isNullAt(0) shouldBe true
    // codegen visible on a parquet-backed plan (a local relation folds away)
    val scanned = Tables.embeddings(spark, sfTiny)
      .select(VectorOps.cosine(col("embedding"), col("embedding")).as("c"))
    scanned.collect()
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
    scanned.queryExecution.executedPlan.toString should
      include regex """\*\(\d+\) Project \[graft_cosine_similarity"""
  }

  test("mismatched dimensions yield null, matching the zip_with HOF twin") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f, 0.0f), Seq(1.0f, 0.0f)))
      .toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("native"),
        HofReferences.cosineHof(col("a"), col("b")).as("hof"))
    val r = df.collect().head
    r.isNullAt(0) shouldBe true
    r.isNullAt(1) shouldBe true
  }

  test("sql-callable after registration") {
    GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_cosine_similarity(array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)), array(CAST(3 AS FLOAT), CAST(4 AS FLOAT)))")
      .collect().head.getDouble(0)
    r shouldBe 1.0 +- 1e-15
  }
}
