package graft

import java.nio.file.Files

import graft.operators.{EventQueries, TimeSeriesQueries}
import graft.streaming.IncrementalTrend
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

/** IncrementalTrend: replay the events fixture in micro-batches and
  * assert BOTH state-served surfaces (MK/Sen trend, RFM segmentation)
  * equal their registered one-shot queries EXACTLY — the hourly grain
  * and the per-user triple are associative merges, so incremental ≡
  * batch is an identity.
  */
class IncrementalTrendSpec extends SparkTestBase with Matchers {

  private def rows(df: DataFrame) = df.collect().map(_.toString).toSeq

  private def rawRows = Tables.events(spark, sfTiny)
    .select(col("event_id"), col("user_id"),
      col("event_type").as("g"),
      expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
      (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType).as("x"),
      expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
      (col("value").cast(DecimalType(12, 2)) * 100).cast(LongType).as("m"))

  test("state-served trend + rfm equal their one-shot twins exactly after 3-batch replay") {
    val base = Files.createTempDirectory("graft_inctrend").toFile.getAbsolutePath
    for (i <- 0 until 3)
      IncrementalTrend.processBatch(spark,
        rawRows.filter(abs(hash(col("event_id"))) % 3 === i), base, Some(i.toLong))
    new java.io.File(base).listFiles().count(_.getName.startsWith("v")) shouldBe 3
    rows(IncrementalTrend.serveTrend(spark, base)) shouldBe
      rows(TimeSeriesQueries.tsTrend.query(spark, sfTiny))
    rows(IncrementalTrend.serveRfm(spark, base)) shouldBe
      rows(EventQueries.eventsRfm.query(spark, sfTiny))
    // the maintained MK moments themselves ≡ the one-shot aggregation
    // (r14: serve reads these instead of re-aggregating the grain) —
    // diagnoses a moments-fold defect even where the served output would
    // mask it (e.g. a tie error on a series the sen join drops)
    val hourly = IncrementalTrend.readHourly(spark, base).localCheckpoint()
    rows(IncrementalTrend.readMoments(spark, base)
        .filter(col("n_pairs") > 0).orderBy("g")) shouldBe
      rows(TimeSeriesQueries.momentsFromParts(hourly,
        TimeSeriesQueries.slopeHistFromHourly(hourly)).orderBy("g"))
    // crash replay is a no-op on both surfaces
    val t = rows(IncrementalTrend.serveTrend(spark, base))
    IncrementalTrend.processBatch(spark,
      rawRows.filter(abs(hash(col("event_id"))) % 3 === 1), base, Some(1L))
    new java.io.File(base).listFiles().count(_.getName.startsWith("v")) shouldBe 3
    rows(IncrementalTrend.serveTrend(spark, base)) shouldBe t
  }

  test("a failed grain write throws only after its sibling writes settle; the replay converges") {
    FaultInjectingFileSystem.install(spark)
    val split = (0 until 3).map(i => rawRows.filter(abs(hash(col("event_id"))) % 3 === i))
    val clean = Files.createTempDirectory("graft_inctrend_clean").toFile.getAbsolutePath
    split.zipWithIndex.foreach { case (b, i) =>
      IncrementalTrend.processBatch(spark, b, clean, Some(i.toLong)) }
    val faultDir = Files.createTempDirectory("graft_inctrend_fault").toFile.getAbsolutePath
    val fault = s"graftfault://$faultDir"
    FaultInjectingFileSystem.reset()
    try {
      IncrementalTrend.processBatch(spark, split(0), fault, Some(0L))
      // one of batch 1's six grain writes into generation v1 fails
      FaultInjectingFileSystem.failCreateOnce("/v1/slopes")
      intercept[Exception] { IncrementalTrend.processBatch(spark, split(1), fault, Some(1L)) }
      FaultInjectingFileSystem.fired.map(_._1) should contain("failCreate")
      // no sibling writer is still running into v1 once the batch threw
      def files(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f.getPath)
      def v1Files = files(new java.io.File(faultDir, "v1")).toSet
      val settled = v1Files
      Thread.sleep(1000)
      v1Files shouldBe settled
      IncrementalTrend.committedBatch(spark, fault) shouldBe Some(0L)
      // the replay rewrites v1 with no writer of the failed attempt left
      IncrementalTrend.processBatch(spark, split(1), fault, Some(1L))
      IncrementalTrend.processBatch(spark, split(2), fault, Some(2L))
    } finally FaultInjectingFileSystem.reset()
    rows(IncrementalTrend.serveTrend(spark, fault)) shouldBe
      rows(IncrementalTrend.serveTrend(spark, clean))
    rows(IncrementalTrend.serveRfm(spark, fault)) shouldBe
      rows(IncrementalTrend.serveRfm(spark, clean))
  }

  test("one batch and one serve each read _CURRENT once") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.graftcount.impl", classOf[CountingAbstractFs].getName)
    val local = Files.createTempDirectory("graft_inctrend_opens").toFile.getAbsolutePath
    val base = s"graftcount:$local/state"
    def pointerOpens(f: => Any): Int = {
      CountingFileSystem.reset()
      f
      CountingFileSystem.openedPaths.count(_.endsWith("/_CURRENT"))
    }
    val split = (0 until 2).map(i => rawRows.filter(abs(hash(col("event_id"))) % 2 === i))
    IncrementalTrend.processBatch(spark, split(0), base, Some(0L))
    pointerOpens(IncrementalTrend.processBatch(spark, split(1), base, Some(1L))) shouldBe 1
    pointerOpens(IncrementalTrend.serveTrend(spark, base).collect()) shouldBe 1
  }
}
