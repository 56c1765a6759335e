package graft

import graft.multimodal.MultimodalOps
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Multimodal plumbing specs: binary schema, deterministic stub decode,
  * partition-preserving batch shape, and the features→vector handoff.
  */
class MultimodalSpec extends SparkTestBase with Matchers {

  test("media table carries an opaque binary payload + typed metadata") {
    val df = MultimodalOps.mediaTable(spark, sfTiny).toDF()
    df.schema("payload").dataType.typeName shouldBe "binary"
    df.schema("media_id").dataType.typeName shouldBe "long"
    df.count() shouldBe 500
    df.select(countDistinct(col("kind"))).collect().head.getLong(0) shouldBe 2
  }

  test("decode is deterministic and computed from payload bytes only") {
    val a = MultimodalOps.mmDecode.query(spark, sfTiny).collect()
    val b = MultimodalOps.mmDecode.query(spark, sfTiny).collect()
    a.toSeq shouldBe b.toSeq
    // checksum/mean consistent with n_chars: n_bytes == document n_chars
    val docs = Tables.documents(spark, sfTiny).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    a.foreach(r => r.getInt(2).toLong shouldBe docs(r.getLong(0)))
  }

  test("mapPartitions stages are narrow: no shuffle before decode") {
    val media = MultimodalOps.mediaTable(spark, sfTiny)
    val decoded = MultimodalOps.decodeAll(media)
    decoded.rdd.getNumPartitions shouldBe media.rdd.getNumPartitions
    val plan = decoded.queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("audio energy: windows are exact RMS over centered bytes, active count matches a hand fold") {
    val media = MultimodalOps.mediaTable(spark, sfTiny)
      .filter(col("kind") === "audio").limit(3).collect()
    media should not be empty
    for (m <- media) {
      val got = MultimodalOps.StubDecoder.audioEnergy(m)
      got should have length m.payload.length / 32
      for ((id, idx, e) <- got) {
        id shouldBe m.media_id
        val expect = math.sqrt(
          m.payload.slice(idx * 32, idx * 32 + 32)
            .map(b => { val v = (b & 0xff) - 128; v.toLong * v }).sum.toDouble / 32)
        e shouldBe expect
      }
    }
  }

  test("resize halves dims and strides the payload") {
    val before = MultimodalOps.mediaTable(spark, sfTiny).filter(col("media_id") === 0).collect().head
    val after = MultimodalOps.resizeAll(MultimodalOps.mediaTable(spark, sfTiny))
      .filter(col("media_id") === 0).collect().head
    after.width shouldBe before.width / 2
    after.payload.length shouldBe (before.payload.length + 1) / 2
  }

  test("frame sampling keeps every 4th frame") {
    val frames = MultimodalOps.mmFrames.query(spark, sfTiny).collect()
    frames should not be empty
    all(frames.map(_.getInt(1) % 4)) shouldBe 0
  }

  test("features feed the vector operators (top-3 similar media)") {
    val rows = MultimodalOps.mmSimilar.query(spark, sfTiny).collect()
    rows.map(_.getLong(0)).distinct.sorted shouldBe Array(0L, 1L, 2L, 3L, 4L)
    all(rows.map(_.getDouble(3))) should (be >= -1.000001 and be <= 1.000001)
  }

  test("phash: every re-encoded twin is recovered (recall 1.0), hamming small") {
    val rows = MultimodalOps.mmPhash.query(spark, sfTiny).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    val nImages = Tables.documents(spark, sfTiny)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0).count()
    // original<->twin pairs (id, id + 1e9): dHash is brightness-shift
    // invariant and the sparse noise flips <= 6 bits, but a twin whose
    // flips land one per 14-bit band is missed — the measured LSH recall
    // price (>= 99.2% at all fixture scales)
    val twinPairs = rows.filter { case (a, b, _) => b == a + 1000000000L }
    assert(twinPairs.length.toLong >= nImages * 98 / 100,
      s"twin recall ${twinPairs.length}/$nImages below 98%")
    all(twinPairs.map(_._3)) should be <= 6L
    info(s"twin recall ${twinPairs.length}/$nImages")
    // any extra pair is a genuine verified near-collision, not noise
    rows.foreach { case (_, _, ham) => assert(ham >= 0 && ham <= 6) }
  }

  test("hammingBands: derived layout matches the probe-proven geometry and scales with n") {
    // the registered q_mm_phash layout is DERIVED, not pinned: at the
    // 5000-media sizing point the rule must reproduce the 4×14 layout
    // measured in PERF.md round 8 (8×7 birthday-collapsed one decade up)
    MultimodalOps.hammingBands(MultimodalOps.PhashCorpusN, 56) shouldBe ((4, 14))
    (MultimodalOps.phashBands, MultimodalOps.phashBandBits) shouldBe ((4, 14))
    // occupancy holds at ×1 and ×10: expected random-collision volume
    // b·n²/2^w stays within occupancy·n at the chosen layout
    for (n <- Seq(MultimodalOps.PhashCorpusN, MultimodalOps.PhashCorpusN * 10)) {
      val (b, w) = MultimodalOps.hammingBands(n, 56)
      val expectedCands = b.toDouble * n * n / math.pow(2, w)
      expectedCands should be <= 4.0 * n
      // and the NEXT-narrower band width would blow the budget (the rule
      // returns the largest feasible b — recall-maximal within budget)
      if (b < 56) {
        val wNext = 56 / (b + 1)
        ((b + 1).toDouble * n * n / math.pow(2, wNext)) should be > 4.0 * n
      }
    }
    // one decade up the rule moves to FEWER, wider bands (log n growth),
    // never to the collapsed 8×7 shape
    val (b10, w10) = MultimodalOps.hammingBands(MultimodalOps.PhashCorpusN * 10, 56)
    b10 should be <= 4
    w10 should be >= 14
  }
}
