package graft

import java.nio.file.Files

import graft.streaming.CurationIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.matchers.should.Matchers

import scala.util.Try

/** The composed pipeline: quiet-close timers (streaming) driving the batch
  * curation stages incrementally, shard by shard. The union of per-close
  * emissions over a multi-batch, boundary-misaligned shard feed must equal
  * the one-shot batch q_pipeline_curate result on the same corpus —
  * including near-dedup drops whose canonical twin lives in an EARLIER
  * shard (the fixture has thousands of such cross-shard pairs at K=125).
  */
class CurationIngestSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private val K = 125L // shard_id = doc_id / K → 4 shards over the 500 docs

  test("s_curate_ingest: per-close curation over a sharded stream == batch q_pipeline_curate") {
    val feed = Files.createTempDirectory("graft_ci_feed").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("graft_ci_ck").toFile.getAbsolutePath
    val base = Files.createTempDirectory("graft_ci_st").toFile.getAbsolutePath

    val all = Tables.documents(spark, sfTiny)
      .withColumn("shard_id", floor(col("doc_id") / K))
      .select("shard_id", "doc_id", "text", "lang")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._2)

    def writeFeed(name: String, rows: Seq[(Long, Long, String, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_ci_w").toFile.getAbsolutePath
      rows.toDF("shard_id", "doc_id", "text", "lang")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, java.nio.file.Paths.get(feed, name))
      ()
    }

    val feedSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shard_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))

    val expected = graft.operators.CurationPipeline.pipelineCurate
      .query(spark, sfTiny).collect().map(_.toSeq.toIndexedSeq: Seq[Any]).toSet
    expected.size should be > 100 // the fixture must exercise real drops

    def curatedCount(): Long =
      Try(CurationIngest.readCurated(spark, base).count()).getOrElse(0L)

    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // shard boundaries deliberately misaligned with micro-batches: batch 1
    // carries all of shard 0 plus half of shard 1
    writeFeed("f1.parquet", all.filter(_._2 < 188))
    val q = CurationIngest.attach(
        spark.readStream.schema(feedSchema).parquet(feed),
        quietMs = 8000L, base)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("250 milliseconds")).start()
    try {
      Thread.sleep(2500)
      curatedCount() shouldBe 0L // nothing curates before a close fires
      writeFeed("f2.parquet", all.filter(d => d._2 >= 188 && d._2 < 375))
      Thread.sleep(2500)
      writeFeed("f3.parquet", all.filter(_._2 >= 375))
      // all four shards eventually go quiet → close → curate
      val deadline = System.currentTimeMillis() + 120000
      while (curatedCount() < expected.size && System.currentTimeMillis() < deadline)
        Thread.sleep(500)
      Thread.sleep(2000) // grace: no shard may curate twice
      val got = CurationIngest.readCurated(spark, base).collect()
        .map(_.toSeq.toIndexedSeq: Seq[Any]).toSet
      CurationIngest.readCurated(spark, base).count() shouldBe expected.size.toLong
      got shouldBe expected
      // the stream's per-shard state cleared on close; the landing zone
      // holds the full corpus for audit/replay
      CurationIngest.readLanding(spark, base).count() shouldBe all.length.toLong
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  /** Shard 0's docs as (shard_id, doc_id, text, lang) feed rows. */
  private def shard0 = Tables.documents(spark, sfTiny)
    .withColumn("shard_id", floor(col("doc_id") / K))
    .filter(col("shard_id") === 0)
    .select("shard_id", "doc_id", "text", "lang")

  /** One handleBatch input: `doc` rows, plus a `close` of `closeShard`. */
  private def tagged(docRows: org.apache.spark.sql.DataFrame, closeShard: Option[Long]) = {
    val d = docRows.select(lit("doc").as("kind"), col("shard_id"), col("doc_id"),
      col("text"), col("lang"), lit(0L).as("n_docs"))
    closeShard match {
      case Some(sid) => d.unionByName(
        Seq(("close", sid, 0L, null: String, null: String, 0L))
          .toDF("kind", "shard_id", "doc_id", "text", "lang", "n_docs"))
      case None => d
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("crash replay of a committed ingest batch lands nothing (docs, state, curated)") {
    val base = Files.createTempDirectory("graft_ci_replay").toFile.getAbsolutePath
    val docs = shard0
    // batch 0 lands shard 0's docs; batch 1 closes (and curates) it
    CurationIngest.handleBatch(spark, tagged(docs, None), base, Some(0L))
    CurationIngest.handleBatch(spark, tagged(docs.limit(0), Some(0L)), base, Some(1L))
    val curated = CurationIngest.readCurated(spark, base)
      .collect().map(_.toString).sorted.toSeq
    curated should not be empty
    val landed = CurationIngest.readLanding(spark, base).count()
    // a foreachBatch retry re-delivers both batches: each must be a no-op
    // (the old append-mode state would double-land docs AND re-curate)
    CurationIngest.handleBatch(spark, tagged(docs, None), base, Some(0L))
    CurationIngest.handleBatch(spark, tagged(docs.limit(0), Some(0L)), base, Some(1L))
    CurationIngest.readCurated(spark, base)
      .collect().map(_.toString).sorted.toSeq shouldBe curated
    CurationIngest.readLanding(spark, base).count() shouldBe landed
    CurationIngest.committedBatch(spark, base) shouldBe Some(1L)
  }

  test("ambiguous CAS on the ingest publish: a landed record reported lost still commits") {
    FaultInjectingFileSystem.install(spark)
    val docs = shard0
    def run(base: String): Unit = {
      CurationIngest.handleBatch(spark, tagged(docs, None), base, Some(0L))
      CurationIngest.handleBatch(spark, tagged(docs.limit(0), Some(0L)), base, Some(1L))
    }
    val clean = Files.createTempDirectory("graft_ci_cas_clean").toFile.getAbsolutePath
    run(clean)
    val faultDir = Files.createTempDirectory("graft_ci_cas_fault").toFile.getAbsolutePath
    val fault = s"graftfault://$faultDir"
    FaultInjectingFileSystem.reset()
    // the log/v0 rename LANDS but reports failure: the readback must
    // claim the commit instead of throwing "lost the publish race"
    FaultInjectingFileSystem.renameLieOnce("/log/v0")
    try {
      run(fault)
      FaultInjectingFileSystem.fired.map(_._1) should contain("renameLie")
    } finally FaultInjectingFileSystem.reset()
    CurationIngest.committedBatch(spark, fault) shouldBe Some(1L)
    sortedRows(CurationIngest.readLanding(spark, fault)) shouldBe
      sortedRows(CurationIngest.readLanding(spark, clean))
    val curated = sortedRows(CurationIngest.readCurated(spark, clean))
    curated should not be empty
    sortedRows(CurationIngest.readCurated(spark, fault)) shouldBe curated
  }
}
