package graft

import java.nio.file.Files

import graft.operators.CdcQueries
import graft.streaming.IncrementalScd2
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Incremental SCD2 invariant: closed-segment appends + current-table
  * swaps over a TIME-ordered batch split must reproduce the one-shot
  * q_cdc_scd2 dimension exactly — including suppression across batch
  * seams (a batch opening with the user's current value must not open a
  * new version).
  */
class IncrementalScd2Spec extends SparkTestBase with Matchers {

  test("three time-split batches == one-shot q_cdc_scd2, seam suppression included") {
    val base = Files.createTempDirectory("graft_incscd2").toFile.getAbsolutePath
    val ev = Tables.events(spark, sfTiny)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("us"))
    // time-ordered split (per-user order preserved): global epoch-us terciles
    val bounds = ev.selectExpr(
      "percentile_approx(us, 0.3333, 10000)",
      "percentile_approx(us, 0.6667, 10000)").head
    val (t1, t2) = (bounds.getLong(0), bounds.getLong(1))
    val batches = Seq(
      ev.filter(col("us") <= t1),
      ev.filter(col("us") > t1 && col("us") <= t2),
      ev.filter(col("us") > t2))
    batches.map(_.count()).foreach(c => assert(c > 0, "empty batch — split is degenerate"))
    batches.foreach(b => IncrementalScd2.processBatch(spark, b, base))

    val got = IncrementalScd2.readDimension(spark, base).collect().map(_.toString)
    val want = CdcQueries.cdcScd2.query(spark, sfTiny).collect().map(_.toString)
    got should not be empty
    got.toSeq shouldBe want.toSeq

    // seam suppression really exercised: at least one affected user's batch
    // must have opened with its current value somewhere — i.e. the closed
    // row count is strictly less than a suppression-free fold would give.
    // Weak but sufficient proxy: total versions < total events
    val nVersions = got.length.toLong
    val nEvents = ev.count()
    assert(nVersions < nEvents, "no suppression anywhere — contract untested")
  }

  test("replayed micro-batch is skipped: versions never double-land") {
    val base = Files.createTempDirectory("graft_incscd2_replay").toFile.getAbsolutePath
    val ev = Tables.events(spark, sfTiny)
      .select("user_id", "event_id", "event_type", "ts")
    graft.streaming.IncrementalScd2.processBatch(spark, ev, base, batchId = Some(0L))
    val once = graft.streaming.IncrementalScd2.readDimension(spark, base).count()
    graft.streaming.IncrementalScd2.processBatch(spark, ev, base, batchId = Some(0L))
    graft.streaming.IncrementalScd2.readDimension(spark, base).count() shouldBe once
    new java.io.File(s"$base/closed").listFiles().length shouldBe 1
  }

  test("a batch that fails after its closed write shows none of it; the replay converges") {
    FaultInjectingFileSystem.install(spark)
    val ev = Tables.events(spark, sfTiny)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"),
        expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
          .as("us"))
    val bounds = ev.selectExpr(
      "percentile_approx(us, 0.3333, 10000)",
      "percentile_approx(us, 0.6667, 10000)").head
    val (t1, t2) = (bounds.getLong(0), bounds.getLong(1))
    val batches = Seq(ev.filter(col("us") <= t1),
      ev.filter(col("us") > t1 && col("us") <= t2), ev.filter(col("us") > t2))
    def dimension(base: String) =
      IncrementalScd2.readDimension(spark, base).collect().map(_.toString).toSeq
    val clean = Files.createTempDirectory("graft_incscd2_clean").toFile.getAbsolutePath
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalScd2.processBatch(spark, b, clean, Some(i.toLong)) }
    val faultDir = Files.createTempDirectory("graft_incscd2_fault").toFile.getAbsolutePath
    val fault = s"graftfault://$faultDir"
    FaultInjectingFileSystem.reset()
    try {
      IncrementalScd2.processBatch(spark, batches(0), fault, Some(0L))
      val batch0 = dimension(fault)
      // batch 1's current-table write fails; its closed segment still lands
      FaultInjectingFileSystem.failCreateOnce("/current/v1")
      intercept[Exception] { IncrementalScd2.processBatch(spark, batches(1), fault, Some(1L)) }
      FaultInjectingFileSystem.fired.map(_._1) should contain("failCreate")
      new java.io.File(faultDir, "closed/b1").isDirectory shouldBe true
      IncrementalScd2.committedBatch(spark, fault) shouldBe Some(0L)
      dimension(fault) shouldBe batch0
      IncrementalScd2.processBatch(spark, batches(1), fault, Some(1L))
      IncrementalScd2.processBatch(spark, batches(2), fault, Some(2L))
    } finally FaultInjectingFileSystem.reset()
    dimension(fault) shouldBe dimension(clean)
  }
}
