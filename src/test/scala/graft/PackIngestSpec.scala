package graft

import java.nio.file.Files

import graft.multimodal.{ContainerOps, PackStore}
import graft.streaming.PackIngest
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.matchers.should.Matchers

/** Streaming pack-store ingestion: a multi-batch object stream must land
  * exactly once per batch (replays skipped via the note committed in the
  * snapshot pointer), compact on the delta-count cadence, and leave a
  * store whose parsed view equals the batch corpus.
  */
class PackIngestSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  test("s_pack_ingest: multi-batch stream == batch corpus; cadence compaction; replayed batch is a no-op") {
    val srcDir = Files.createTempDirectory("graft_packing_src").toFile.getAbsolutePath
    val cpDir = Files.createTempDirectory("graft_packing_cp").toFile.getAbsolutePath
    val base = Files.createTempDirectory("graft_packing_store").toFile.getAbsolutePath + "/store"

    val objs = ContainerOps.containerTable(spark, sfTiny).filter(_._1 <= 249).cache()
    val want = objs.map { case (id, b) => ContainerOps.ContainerParser.parse(id, b) }
      .collect().map(_.toString).sorted

    // 5 id-sliced files → 5 micro-batches (maxFilesPerTrigger=1)
    for (i <- 0 until 5) {
      val tmp = Files.createTempDirectory(s"graft_packing_w$i").toFile.getAbsolutePath
      objs.filter(o => o._1 >= i * 50 && o._1 < (i + 1) * 50)
        .toDF("media_id", "payload").coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, java.nio.file.Paths.get(srcDir, s"f$i.parquet"))
      Thread.sleep(1100) // distinct mod times → deterministic file order
    }
    objs.unpersist()

    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("payload", BinaryType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").option("latestFirst", "false")
      .parquet(srcDir)
    val q = PackIngest.attach(stream, base, nPacks = 2, maxDeltas = 2, retainSnapshots = 2)
      .option("checkpointLocation", cpDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // the parsed store == the batch corpus, whatever the batch split was
    PackStore.scan(spark, base).collect().map(_.toString).sorted shouldBe want

    // cadence: deltas exceeded maxDeltas once mid-stream → exactly one
    // compaction generation exists and live deltas are back under bound
    val live = PackStore.readCurrent(spark, base)
    live.count(_.dir.contains("/packs/v")) shouldBe 1
    live.count(_.dir.contains("/deltas/d")) should be <= 2
    // retention vacuum really expired pre-compaction snapshots
    an[IllegalArgumentException] should be thrownBy PackStore.readSnapshot(spark, base, 0L)

    // exactly-once: replaying an already-committed batch is a no-op
    val tip = PackStore.latestSnapshotId(spark, base).get
    val replay = objs.toDF("media_id", "payload")
    PackIngest.processBatch(spark, replay, base, batchId = 0L) shouldBe false
    PackIngest.processBatch(spark, replay, base, batchId = 4L) shouldBe false
    PackStore.latestSnapshotId(spark, base).get shouldBe tip
    PackStore.scan(spark, base).collect().map(_.toString).sorted shouldBe want
  }

  test("processBatch counts deltas from its own publish: two snapshot reads per batch") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.graftcount.impl", classOf[CountingAbstractFs].getName)
    val local = Files.createTempDirectory("graft_packing_opens").toFile.getAbsolutePath
    val base = s"graftcount:$local/store"
    def batch(lo: Long) = (lo until lo + 5).map(i => (i, Array.fill[Byte](8)(i.toByte)))
      .toDF("media_id", "payload")
    def snapOpens(batchId: Long): Int = {
      CountingFileSystem.reset()
      PackIngest.processBatch(spark, batch(batchId * 5), base, batchId, maxDeltas = 8) shouldBe true
      CountingFileSystem.openedPaths.count(_.contains("/snapshots/snap-"))
    }
    snapOpens(0L)
    // batch 1 reads snap-0 twice: the replay check's history walk and the
    // publish's tip; the delta count comes from the snapshot it committed
    snapOpens(1L) shouldBe 2
    PackStore.readCurrent(spark, base).count(_.dir.contains("/deltas/d")) shouldBe 2
  }
}
