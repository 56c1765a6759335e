package graft

import graft.functions.{GraftFunctions, PortableHash, PortablePlanes, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** The r16 native fold expressions (graft_dot / graft_l2sq /
  * graft_plane_bucket / graft_minhashes) must be bit-identical to the
  * higher-order-function references they replaced (same widening, same
  * accumulation order, same null semantics) and run inside whole-stage
  * codegen — the reason they exist (the HOFs are CodegenFallback and
  * allocate per row in the LSH/PQ hot paths).
  */
class NativeFoldsSpec extends SparkTestBase with Matchers {

  test("graft_dot and graft_l2sq == HOF references, bit for bit, on fixture pairs") {
    val e = Tables.embeddings(spark, sfTiny)
    val a = e.select(col("vec_id").as("id1"), col("embedding").as("e1")).filter(col("id1") < 40)
    val b = e.select(col("vec_id").as("id2"), col("embedding").as("e2")).filter(col("id2") between (40, 90))
    val pairs = a.crossJoin(b)
    val diff = pairs.select(
        (VectorOps.dot(col("e1"), col("e2")) - HofReferences.dotHof(col("e1"), col("e2"))).as("dd"),
        (call_function(GraftFunctions.L2SqName, col("e1"), col("e2"))
          - HofReferences.l2sqHof(col("e1"), col("e2"))).as("dl"))
      .agg(max(abs(col("dd"))).as("mdd"), max(abs(col("dl"))).as("mdl"), count(lit(1)).as("n"))
      .collect().head
    diff.getLong(2) should be > 0L
    diff.getDouble(0) shouldBe 0.0
    diff.getDouble(1) shouldBe 0.0
  }

  test("graft_plane_bucket == the chained when(round(dot)) reference on every fixture vector and family") {
    val e = Tables.embeddings(spark, sfTiny)
    for ((tables, bits, family) <- Seq((16, 6, 0L), (24, 5, 0L), (1, 4, 1L))) {
      val mismatches = (0 until tables).map { t =>
        e.select(
            PortablePlanes.bucketCol(col("embedding"), t, bits, family).as("native"),
            HofReferences.bucketColHof(col("embedding"), t, bits, family).as("hof"))
          .filter(col("native") =!= col("hof") || col("native").isNull =!= col("hof").isNull)
          .count()
      }.sum
      withClue(s"(tables=$tables bits=$bits family=$family) ") { mismatches shouldBe 0L }
    }
  }

  test("graft_plane_bucket degenerate inputs: wrong dim, null element, AND null emb all bucket to 0 like the HOF") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq(
        (1, Some(Seq[Option[Float]](Some(1.0f), Some(2.0f)))), // wrong dim (2 != 64)
        (2, None),                                              // null emb
        (3, Some((0 until 64).map(i => Option(i.toFloat)).updated(3, None: Option[Float]).toSeq)) // null element
      ).toDF("id", "emb")
      .select(col("id"),
        PortablePlanes.bucketCol(col("emb"), 0, 6).as("native"),
        HofReferences.bucketColHof(col("emb"), 0, 6).as("hof"))
      .orderBy("id").collect()
    df(0).getInt(1) shouldBe df(0).getInt(2)
    df(0).getInt(1) shouldBe 0
    // r17 (r16 ADVICE): null emb now buckets to 0 EXACTLY like the HOF
    // chain — previously the native expression returned NULL here, which
    // silently dropped null-embedding rows from bucket equi-joins
    df(1).isNullAt(1) shouldBe false
    df(1).getInt(1) shouldBe df(1).getInt(2)
    df(1).getInt(1) shouldBe 0
    df(2).getInt(1) shouldBe df(2).getInt(2)
    df(2).getInt(1) shouldBe 0
  }

  test("graft_simhash_fp == the explode + 62-conditional-sum groupBy reference, bit for bit, on fixture docs") {
    GraftFunctions.ensureRegistered(spark)
    val nb = PortableHash.SimhashBits
    val toks = Tables.documents(spark, sfTiny).select(col("doc_id"),
      graft.functions.Tokenize.tokenSet(col("text")).as("toks"))
    val native = toks.filter(org.apache.spark.sql.functions.size(col("toks")) >= 1)
      .select(col("doc_id"),
        call_function(GraftFunctions.SimhashFpName,
          PortableHash.tokenHashes(col("toks")), lit(nb)).as("fp"))
    val bitSums = (0 until nb).map { i =>
      sum(when(expr(s"(h >> $i) & 1") === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val fpRef = (0 until nb).map { i =>
      when(col(s"b$i") > 0, expr(s"CAST(1 AS BIGINT) << $i")).otherwise(lit(0L))
    }.reduce(_ + _)
    val ref = toks.select(col("doc_id"), explode(col("toks")).as("token"))
      .withColumn("h", PortableHash.wideHash(PortableHash.tokenHash(col("token"))))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fpRef.as("fp"))
    val joined = native.alias("n").join(ref.alias("r"), Seq("doc_id"), "full_outer")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n.fp") =!= col("r.fp")
          || col("n.fp").isNull =!= col("r.fp").isNull, 1L).otherwise(0L)).as("mm"))
      .collect().head
    joined.getLong(0) should be > 0L
    joined.getLong(1) shouldBe 0L
  }

  test("graft_minhashes elements == PortableHash.minhash per seed, bit for bit, on fixture docs") {
    val hs = Tables.documents(spark, sfTiny)
      .select(PortableHash.tokenHashes(graft.functions.Tokenize.tokenSet(col("text"))).as("hs"))
    val n = 32
    val all = call_function(GraftFunctions.MinHashesName, col("hs"), lit(n))
    val mismatches = hs.select(col("hs"), all.as("mh"))
      .select((0 until n).map(i =>
        (col("mh").getItem(i) =!= PortableHash.minhash(col("hs"), i)).cast("int").as(s"m$i")): _*)
      .select((0 until n).map(i => sum(col(s"m$i"))): _*)
      .collect().head.toSeq.map(_.asInstanceOf[Long]).sum
    mismatches shouldBe 0L
  }

  test("graft_minhashes of an empty array is null, matching array_min's per-seed nulls") {
    GraftFunctions.ensureRegistered(spark)
    import spark.implicits._
    val df = Seq((1, Seq.empty[Long]), (2, Seq(12345L)))
      .toDF("id", "hs")
      .select(col("id"),
        call_function(GraftFunctions.MinHashesName, col("hs"), lit(4)).getItem(0).as("native"),
        PortableHash.minhash(col("hs"), 0).as("hof"))
      .orderBy("id").collect()
    df(0).isNullAt(1) shouldBe true
    df(0).isNullAt(2) shouldBe true
    df(1).getLong(1) shouldBe df(1).getLong(2)
  }

  test("graft_window_hashes == explode(ngramShingles)+xxhash64, bit for bit, for n in {2,3,4,20}") {
    import graft.functions.Tokenize
    val toks = Tables.documents(spark, sfTiny)
      .select(col("doc_id"), Tokenize.tokens(col("text")).as("toks"))
    for (n <- Seq(2, 3, 4, 20)) {
      val mismatches = toks.select(
          Tokenize.windowHashes(col("toks"), n).as("native"),
          transform(Tokenize.ngramShingles(col("toks"), n), g => xxhash64(g)).as("hof"))
        .filter(col("native") =!= col("hof")) // element- and order-sensitive array equality
        .count()
      withClue(s"(n=$n) ") { mismatches shouldBe 0L }
    }
  }

  test("graft_window_hashes edge cases: short docs empty, null tokens follow concat_ws, null toks null") {
    GraftFunctions.ensureRegistered(spark)
    import graft.functions.Tokenize
    import spark.implicits._
    val df = Seq(
        (1, Some(Seq[Option[String]](Some("a")))),                       // < n tokens
        (2, None),                                                        // null array
        (3, Some(Seq[Option[String]](Some("a"), None, Some("c"), Some("d")))) // null token
      ).toDF("id", "toks")
      .select(col("id"),
        Tokenize.windowHashes(col("toks"), 3).as("native"),
        transform(Tokenize.ngramShingles(col("toks"), 3), g => xxhash64(g)).as("hof"))
      .orderBy("id").collect()
    df(0).getSeq[Long](1) shouldBe empty
    df(0).getSeq[Long](2) shouldBe empty
    // HOF: when(size(null) >= n, ...) folds to the otherwise-EMPTY branch —
    // the native twin matches (empty, not null)
    df(1).getSeq[Long](1) shouldBe empty
    df(1).getSeq[Long](2) shouldBe empty
    df(2).getSeq[Long](1) shouldBe df(2).getSeq[Long](2)
  }

  test("native folds run inside WholeStageCodegen on a parquet-backed plan") {
    val scanned = Tables.embeddings(spark, sfTiny)
      .select(VectorOps.dot(col("embedding"), col("embedding")).as("d"),
        call_function(GraftFunctions.L2SqName, col("embedding"), col("embedding")).as("l"),
        PortablePlanes.bucketCol(col("embedding"), 0, 6).as("b"))
    scanned.collect()
    val plan = scanned.queryExecution.executedPlan.toString
    plan should include regex """\*\(\d+\) Project \[graft_dot"""
  }
}
