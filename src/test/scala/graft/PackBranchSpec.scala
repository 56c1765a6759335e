package graft

import java.nio.file.Files

import graft.multimodal.PackStore
import org.scalatest.matchers.should.Matchers

/** Branches on the pack store: fork isolation both ways, strict
  * fast-forward merge (and its typed divergence refusal), parent-vacuum
  * protection of branch-held components, and dropBranch's refusal while
  * merged refs are still live.
  */
class PackBranchSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private def objs(lo: Long, hi: Long) =
    spark.range(lo, hi).as[Long].map(i => (i, s"payload-$i".getBytes("UTF-8")))

  private def freshBase(tag: String): String =
    Files.createTempDirectory(s"graft_packbranch_$tag").toFile.getAbsolutePath + "/store"

  private def idsOf(base: String): Seq[Long] =
    PackStore.scan(spark, base).collect().map(_.media_id).toSeq.sorted

  test("fork isolation: branch writes invisible on main, main writes invisible on branch") {
    val base = freshBase("iso")
    PackStore.initBase(spark, base, objs(0, 50), 2) // main snap 0
    PackStore.createBranch(spark, base, "exp") shouldBe 0L
    PackStore.listBranches(spark, base) shouldBe Seq("exp" -> 0L)

    val bb = PackStore.branchBase(base, "exp")
    PackStore.appendDelta(spark, bb, objs(50, 80))  // branch-only
    PackStore.appendDelta(spark, base, objs(80, 90)) // main-only (diverges!)

    idsOf(base) shouldBe ((0L until 50L) ++ (80L until 90L))
    idsOf(bb) shouldBe (0L until 80L)
    PackStore.scanBranch(spark, base, "exp").count() shouldBe 80
  }

  test("strict fast-forward: merge publishes branch content; diverged parent refuses typed") {
    val base = freshBase("ff")
    PackStore.initBase(spark, base, objs(0, 40), 2)
    PackStore.createBranch(spark, base, "stage")
    val bb = PackStore.branchBase(base, "stage")
    PackStore.appendDelta(spark, bb, objs(40, 70))

    val mergedId = PackStore.mergeBranch(spark, base, "stage")
    mergedId shouldBe 1L
    idsOf(base) shouldBe (0L until 70L)

    // a second branch forked pre-merge now sees a moved parent: refused
    val base2 = freshBase("div")
    PackStore.initBase(spark, base2, objs(0, 40), 2)
    PackStore.createBranch(spark, base2, "late")
    PackStore.appendDelta(spark, base2, objs(90, 95)) // parent moves
    PackStore.appendDelta(spark, PackStore.branchBase(base2, "late"), objs(40, 50))
    val ex = intercept[IllegalStateException](PackStore.mergeBranch(spark, base2, "late"))
    ex.getMessage should include("non-fast-forward")
    // parent content untouched by the refused merge
    idsOf(base2) shouldBe ((0L until 40L) ++ (90L until 95L))
  }

  test("parent vacuum never sweeps dirs a branch still holds; dropBranch gates on merged refs") {
    val base = freshBase("vac")
    PackStore.initBase(spark, base, objs(0, 30), 2)  // main snap 0 (v0 packs)
    PackStore.createBranch(spark, base, "hold")
    val bb = PackStore.branchBase(base, "hold")
    PackStore.appendDelta(spark, bb, objs(30, 60))   // branch delta (branch-owned dir)
    PackStore.mergeBranch(spark, base, "hold")       // main snap 1 -> refs branch dir

    // aggressive parent vacuum: branch-held dirs must survive
    PackStore.vacuum(spark, base, retainSnapshots = 1, orphanGraceMs = 0L)
    idsOf(base) shouldBe (0L until 60L)              // merged view intact
    idsOf(bb) shouldBe (0L until 60L)                // branch still readable

    // drop while main snapshot still references the branch-owned dir: refused
    val ex = intercept[IllegalStateException](PackStore.dropBranch(spark, base, "hold"))
    ex.getMessage should include("still referenced")

    // compaction rehomes the bytes into main packs; then the drop is clean
    PackStore.compact(spark, base, 2)
    PackStore.vacuum(spark, base, retainSnapshots = 1, orphanGraceMs = 0L)
    PackStore.dropBranch(spark, base, "hold")
    PackStore.listBranches(spark, base) shouldBe Seq.empty
    idsOf(base) shouldBe (0L until 60L)
    // released dirs are ordinary orphans for the next vacuum
    PackStore.vacuum(spark, base, retainSnapshots = 1, orphanGraceMs = 0L)
    idsOf(base) shouldBe (0L until 60L)
  }

  test("dropBranch propagates an unreadable parent snapshot instead of reading it as no refs") {
    FaultInjectingFileSystem.install(spark)
    FaultInjectingFileSystem.reset()
    val base = s"graftfault://${freshBase("unreadable")}"
    PackStore.initBase(spark, base, objs(0, 30), 2)  // main snap 0
    PackStore.createBranch(spark, base, "held")
    val bb = PackStore.branchBase(base, "held")
    PackStore.appendDelta(spark, bb, objs(30, 60))   // branch-owned dir
    PackStore.mergeBranch(spark, base, "held")       // main snap 1 refs it
    try {
      // unreadable past readSmallFile's 20 retries: an I/O error, not a
      // vanished or torn snapshot, so it must not count as "no refs"
      FaultInjectingFileSystem.failOpen("store/snapshots/snap-1", 1000)
      an[java.io.IOException] should be thrownBy PackStore.dropBranch(spark, base, "held")
      FaultInjectingFileSystem.fired.map(_._1) should contain("failOpen")
    } finally FaultInjectingFileSystem.reset()
    graft.sources.GraftFs.exists(spark, bb) shouldBe true
    idsOf(base) shouldBe (0L until 60L)              // merged view intact
  }

  test("streaming ingest into a branch, then fast-forward merge (staging pipeline)") {
    import graft.api.implicits._
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val base = freshBase("stream")
    PackStore.initBase(spark, base, objs(0, 20), 2)
    val store = spark.graft.packStore(base)
    val staging = store.createBranch("staging")

    // feed two micro-batches of new objects into the BRANCH only
    val srcDir = Files.createTempDirectory("graft_branchstream_src").toFile.getAbsolutePath
    val cpDir = Files.createTempDirectory("graft_branchstream_cp").toFile.getAbsolutePath
    for (i <- 0 until 2) {
      objs(20 + i * 15, 35 + i * 15).toDF("media_id", "payload").coalesce(1)
        .write.mode("overwrite").parquet(s"$srcDir/part$i")
      val f = new java.io.File(s"$srcDir/part$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, java.nio.file.Paths.get(srcDir, s"f$i.parquet"))
      Thread.sleep(1100)
    }
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("payload", BinaryType)))
    val q = staging.attachStream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "f*.parquet").parquet(srcDir),
        nPacks = 2)
      .option("checkpointLocation", cpDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000) shouldBe true

    // main untouched while the stream landed on the branch
    idsOf(base) shouldBe (0L until 20L)
    idsOf(PackStore.branchBase(base, "staging")) shouldBe (0L until 50L)

    // audit passed: merge publishes the staged corpus in one fast-forward
    store.mergeBranch("staging")
    idsOf(base) shouldBe (0L until 50L)
  }

  test("validation: duplicate name, bad name, empty store, unknown branch") {
    val base = freshBase("val")
    PackStore.initBase(spark, base, objs(0, 10), 1)
    PackStore.createBranch(spark, base, "b1")
    intercept[IllegalStateException](PackStore.createBranch(spark, base, "b1"))
    intercept[IllegalArgumentException](PackStore.createBranch(spark, base, "bad name"))
    intercept[IllegalArgumentException](PackStore.branchForkId(spark, base, "nope"))
    val empty = freshBase("empty")
    intercept[IllegalArgumentException](PackStore.createBranch(spark, empty, "b"))
  }

  test("torn branch (FORK without snapshot 0) fails typed everywhere and is reclaimable") {
    val base = freshBase("torn")
    PackStore.initBase(spark, base, objs(0, 30), 2)
    // simulate a crash between createBranch's two steps: FORK lands,
    // snapshot 0 never does
    graft.sources.GraftFs.writeSmallFileExclusive(
      spark, s"${PackStore.branchBase(base, "torn")}/FORK", "0\n#eof") shouldBe true
    // merge must NOT fast-forward the parent to an empty live set
    val exM = intercept[IllegalStateException](PackStore.mergeBranch(spark, base, "torn"))
    exM.getMessage should include("torn")
    idsOf(base) shouldBe (0L until 30L) // parent content untouched
    // scan must not silently read the torn branch as an empty store
    val exS = intercept[IllegalStateException](PackStore.scanBranch(spark, base, "torn"))
    exS.getMessage should include("torn")
    // a FRESH torn FORK is NOT reclaimed: it may be a CONCURRENT
    // createBranch mid-publish, and deleting its lock would wedge the
    // winner (grace-window guard)
    val exG = intercept[IllegalStateException](PackStore.createBranch(spark, base, "torn"))
    exG.getMessage should include("grace")
    // age the FORK past the grace window (the crashed-in-the-past state)
    val (fs, fq) = graft.sources.GraftFs.resolve(
      spark, s"${PackStore.branchBase(base, "torn")}/FORK")
    fs.setTimes(fq, System.currentTimeMillis() - PackStore.TornReclaimGraceMs - 1000, -1)
    // createBranch reclaims the aged torn name instead of wedging it forever
    PackStore.createBranch(spark, base, "torn") shouldBe 0L
    PackStore.scanBranch(spark, base, "torn").count() shouldBe 30
    // and a HEALTHY name still refuses duplicate creation
    intercept[IllegalStateException](PackStore.createBranch(spark, base, "torn"))
  }
}
