package graft

import java.nio.file.Files

import graft.multimodal.PackStore
import graft.streaming.{PackIngest, PackSubscribe}
import org.scalatest.matchers.should.Matchers

/** Crash-window and interleaving robustness of the pack-store commit
  * protocol — each test pins one failure mode a multi-writer table
  * format must survive:
  *
  *   1. a torn snapshot file (crashed writer) must not wedge the CAS
  *      forever (publish reclaims it);
  *   2. a torn snapshot read must FAIL typed, never parse as a shorter
  *      component list (silent add-drop in a changelog batch);
  *   3. vacuum must not sweep a concurrent writer's staged-but-not-yet-
  *      published dir (grace age), while still reclaiming provably
  *      superseded dirs immediately;
  *   4. compacting a fully-tombstoned store publishes the empty set
  *      instead of crashing;
  *   5. replay detection survives an interleaved note-less publish
  *      between a batch's commit and its replay;
  *   6. a stale CURRENT kept below a vacuum gap by a tag must not hide
  *      the tip;
  *   7. on a `graftfault://` base: an ambiguous CAS (rename landed,
  *      reported failure) on initBase or appendDelta commits once; a
  *      committed snapshot that cannot be read is never reclaimed; an
  *      unreadable tag stops vacuum before any delete; a failed CURRENT
  *      write after a commit is reported, not thrown.
  */
class PackStoreRobustnessSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private def freshBase(tag: String): String =
    Files.createTempDirectory(s"graft_$tag").toFile.getAbsolutePath + "/store"

  private def objs(lo: Long, hi: Long) =
    spark.range(lo, hi).as[Long].map(i => (i, Array[Byte](i.toByte, (i + 1).toByte)))

  private def writeRaw(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  test("a torn snap file (no #eof) cannot livelock publish: the CAS reclaims it and the append lands") {
    val base = freshBase("packtorn")
    PackStore.initBase(spark, base, objs(0, 20), 1) // snap 0
    // simulate a writer that died mid-write under the OLD direct-create
    // protocol: snap-1 exists but never got its #eof terminator
    writeRaw(s"$base/snapshots/snap-1", "#kind=delta\n/nowhere/deltas/d-dead\t0\t9")
    // tip discovery must not trust the torn file...
    PackStore.latestSnapshotId(spark, base) shouldBe Some(0L)
    // ...and a publish must reclaim the wedged slot rather than spin
    PackStore.appendDelta(spark, base, objs(20, 30))
    PackStore.latestSnapshotId(spark, base) shouldBe Some(1L)
    PackStore.scanBytes(spark, base).collect().map(_._1).sorted shouldBe (0L until 30L)
  }

  test("readSnapshot requires the #eof terminator: torn content fails typed, never parses short") {
    val base = freshBase("packeof")
    PackStore.initBase(spark, base, objs(0, 10), 1)
    val full = graft.sources.GraftFs.readSmallFile(spark, s"$base/snapshots/snap-0").get
    full.trim should endWith("#eof")
    // a read torn at a line boundary = valid-looking prefix without #eof
    val torn = full.linesIterator.toSeq.dropRight(1).mkString("\n")
    writeRaw(s"$base/snapshots/snap-0", torn)
    val e = intercept[IllegalStateException](PackStore.readSnapshot(spark, base, 0L))
    e.getMessage should include("incomplete")
    // the changelog path shares the same parse, so a torn snapshot makes
    // the batch THROW (and hence replay) instead of silently dropping adds
    an[IllegalStateException] should be thrownBy
      PackSubscribe.changesFor(spark, base, Seq(0L))
    // restore and confirm the store reads again
    writeRaw(s"$base/snapshots/snap-0", full)
    PackStore.readSnapshot(spark, base, 0L) should have size 1
  }

  test("vacuum grace: a freshly staged unpublished dir survives; superseded dirs still go immediately") {
    val base = freshBase("packgrace")
    PackStore.initBase(spark, base, objs(0, 20), 1)  // snap 0 (dir A)
    val dirA = PackStore.readCurrent(spark, base).head.dir
    PackStore.compact(spark, base, 1)                // snap 1 (dir B) — A now superseded
    // a concurrent writer's staged-but-not-yet-published delta component
    val staged = s"$base/deltas/d-staged"
    objs(100, 110).toDF("media_id", "payload").write.parquet(s"$staged/manifest")
    PackStore.vacuum(spark, base, retainSnapshots = 1) // default grace
    // superseded generation: referenced by the expired snap-0 → gone now
    graft.sources.GraftFs.exists(spark, dirA) shouldBe false
    // never-referenced staged dir: younger than grace → must survive
    graft.sources.GraftFs.exists(spark, staged) shouldBe true
    // an admin sweep with grace 0 is still available and reclaims it
    PackStore.vacuum(spark, base, retainSnapshots = 1, orphanGraceMs = 0L)
    graft.sources.GraftFs.exists(spark, staged) shouldBe false
    PackStore.scanBytes(spark, base).collect().map(_._1).sorted shouldBe (0L until 20L)
  }

  test("compacting a fully-tombstoned store publishes the empty set: no NPE, store stays writable") {
    val base = freshBase("packempty")
    PackStore.initBase(spark, base, objs(0, 15), 1)          // snap 0
    PackStore.deleteIds(spark, base, spark.range(0, 15).as[Long]) // snap 1: all dead
    PackStore.scanBytes(spark, base).collect() shouldBe empty
    PackStore.compact(spark, base, 1)                        // snap 2: empty live set
    PackStore.readCurrent(spark, base) shouldBe empty
    PackStore.scanBytes(spark, base).collect() shouldBe empty
    PackStore.vacuum(spark, base, orphanGraceMs = 0L)        // reclaims tombs + empty gen
    graft.sources.GraftFs.listFiles(spark, s"$base/tombs") shouldBe empty
    // the emptied store accepts new data and reads it back
    PackStore.appendDelta(spark, base, objs(40, 50))
    PackStore.scanBytes(spark, base).collect().map(_._1).sorted shouldBe (40L until 50L)
  }

  test("meta zone maps: a selective predicate opens only qualifying components' meta parquet — and none of the others' files at all") {
    import org.apache.spark.sql.functions.{col, lit}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.graftcount.impl", classOf[CountingAbstractFs].getName)
    val local = Files.createTempDirectory("graft_packzone").toFile.getAbsolutePath
    val base = s"graftcount:$local/store"
    def slice(lo: Long, hi: Long) = objs(lo, hi)
    def meta(lo: Long, hi: Long, kind: String, score: Double) =
      spark.range(lo, hi).toDF("media_id")
        .withColumn("kind", lit(kind)).withColumn("score", lit(score))

    PackStore.initBase(spark, base, slice(0, 50), 2, meta = Some(meta(0, 50, "a", 0.1)))
    PackStore.appendDelta(spark, base, slice(50, 100), meta = Some(meta(50, 100, "b", 0.5)))
    PackStore.appendDelta(spark, base, slice(100, 150), meta = Some(meta(100, 150, "c", 0.9)))
    // every live component carries zone maps on its snapshot line
    PackStore.readCurrent(spark, base).foreach(_.metaStats shouldBe defined)

    // string equality: only the kind='b' component's files are touched
    CountingFileSystem.reset()
    PackStore.scanBytesWhere(spark, base, col("kind") === "b")
      .collect().map(_._1).sorted shouldBe (50L until 100L)
    val opened = CountingFileSystem.openedPaths.filterNot(_.contains("/snapshots/"))
    opened.filter(_.contains("/meta/")).foreach(_ should include("/deltas/"))
    opened.exists(p => p.contains("/packs/v0") || p.contains("/tombs/")) shouldBe false
    // the pruned scan opened exactly one component's meta (of three live)
    opened.filter(_.contains("/meta/")).exists(_.contains("/deltas/")) shouldBe true

    // numeric range: score >= 0.8 reads only the third component's meta
    CountingFileSystem.reset()
    PackStore.scanBytesWhere(spark, base, col("score") >= 0.8)
      .collect().map(_._1).sorted shouldBe (100L until 150L)
    CountingFileSystem.openedPaths.count(p =>
      p.contains("/meta/") && p.contains("/packs/v0")) shouldBe 0

    // schema evolution: a NEW column appears in a later publish; the
    // predicate on it must skip every component that predates the column
    // (their rows are all-NULL there) without opening their meta
    PackStore.appendDelta(spark, base, slice(150, 160),
      meta = Some(meta(150, 160, "d", 0.2).withColumn("lang", lit("en"))))
    CountingFileSystem.reset()
    PackStore.scanBytesWhere(spark, base, col("lang") === "en")
      .collect().map(_._1).sorted shouldBe (150L until 160L)
    CountingFileSystem.openedPaths.filter(_.contains("/meta/"))
      .foreach(_ should not include "/packs/v0")

    // conservatism: an unsupported predicate shape falls back to the
    // unpruned-but-still-correct path (no wrong skips)
    PackStore.scanBytesWhere(spark, base,
      org.apache.spark.sql.functions.length(col("kind")) === 1)
      .collect().map(_._1).sorted shouldBe (0L until 160L)

    // compaction carries merged stats forward: one generation, still pruned
    PackStore.compact(spark, base, 2)
    PackStore.readCurrent(spark, base).foreach(_.metaStats shouldBe defined)
    PackStore.scanBytesWhere(spark, base, col("kind") === "b")
      .collect().map(_._1).sorted shouldBe (50L until 100L)
  }

  test("tip discovery without CURRENT: the listing finds the true tip after 17 publishes and after a retention vacuum") {
    val local = Files.createTempDirectory("graft_packtip").toFile.getAbsolutePath
    val ibase = s"$local/store"
    PackStore.initBase(spark, ibase, objs(0, 5), 1)
    for (i <- 0 until 17) PackStore.appendDelta(spark, ibase, objs(10 + i * 5, 15 + i * 5))
    graft.sources.GraftFs.exists(spark, s"$ibase/CHECKPOINT") shouldBe false
    graft.sources.GraftFs.deleteRecursively(spark, s"$ibase/CURRENT")
    PackStore.latestSnapshotId(spark, ibase) shouldBe Some(17L)
    // vacuum deletes the old snapshots: the listing starts at the highest
    // complete listed snapshot, never at a deleted one
    PackStore.vacuum(spark, ibase, retainSnapshots = 2, orphanGraceMs = 0L)
    graft.sources.GraftFs.deleteRecursively(spark, s"$ibase/CURRENT")
    PackStore.latestSnapshotId(spark, ibase) shouldBe Some(17L)
    PackStore.scanBytes(spark, ibase).collect().length shouldBe (5 + 17 * 5)
  }

  test("a stale CURRENT below a tagged snapshot survives vacuum: the tip is still found and an append lands on it") {
    val base = freshBase("packstalegap")
    PackStore.initBase(spark, base, objs(0, 20), 1) // snap 0
    PackStore.createTag(spark, base, "keep", 0L)
    for (k <- 1 to 3) PackStore.appendDelta(spark, base, objs(10 + k * 10, 20 + k * 10))
    // lost hint advances (reported, never thrown) leave CURRENT at the tag
    graft.sources.GraftFs.writeSmallFileAtomic(spark, s"$base/CURRENT", "0")
    PackStore.vacuum(spark, base, retainSnapshots = 1, orphanGraceMs = 0L) // expires 1, 2
    PackStore.latestSnapshotId(spark, base) shouldBe Some(3L)
    PackStore.appendDelta(spark, base, objs(50, 60))
    PackStore.scanBytes(spark, base).collect().map(_._1).sorted shouldBe (0L until 60L)
  }

  test("replay detection survives an interleaved note-less publish (manual compact between commit and replay)") {
    val base = freshBase("packreplay")
    def batch(lo: Long, hi: Long) = objs(lo, hi).toDF("media_id", "payload")
    PackIngest.processBatch(spark, batch(0, 10), base, batchId = 0L) shouldBe true
    PackIngest.processBatch(spark, batch(10, 20), base, batchId = 1L) shouldBe true
    // an admin compaction (no batch note) lands AFTER the commit — a
    // tip-only replay check would now be blind to batch 1
    PackStore.compact(spark, base, 1)
    PackStore.latest(spark, base).note shouldBe None
    val tip = PackStore.latestSnapshotId(spark, base).get
    PackIngest.processBatch(spark, batch(10, 20), base, batchId = 1L) shouldBe false
    PackIngest.processBatch(spark, batch(0, 10), base, batchId = 0L) shouldBe false
    PackStore.latestSnapshotId(spark, base).get shouldBe tip // nothing double-appended
    PackStore.scanBytes(spark, base).collect().map(_._1).sorted shouldBe (0L until 20L)
    // a genuinely NEW batch still lands
    PackIngest.processBatch(spark, batch(20, 25), base, batchId = 2L) shouldBe true
    PackStore.scanBytes(spark, base).collect().map(_._1).sorted shouldBe (0L until 25L)
  }

  // ---- commit-protocol faults on a graftfault:// base -------------------

  private def faultBase(tag: String): String = {
    FaultInjectingFileSystem.install(spark)
    FaultInjectingFileSystem.reset()
    s"graftfault://${Files.createTempDirectory(s"graft_$tag").toFile.getAbsolutePath}/store"
  }

  private def ids(base: String): Seq[Long] =
    PackStore.scanBytes(spark, base).collect().map(_._1).toSeq.sorted

  test("ambiguous CAS on initBase: a landed snapshot 0 is claimed, not reported as a non-empty store") {
    val base = faultBase("packinitlie")
    FaultInjectingFileSystem.renameLieOnce("/snapshots/snap-0")
    PackStore.initBase(spark, base, objs(0, 20), 1)
    FaultInjectingFileSystem.fired.map(_._1) should contain("renameLie")
    PackStore.latestSnapshotId(spark, base) shouldBe Some(0L)
    PackStore.readCurrent(spark, base) should have size 1
    FaultInjectingFileSystem.reset()
  }

  test("ambiguous CAS on appendDelta: the delta lands once, not twice") {
    val base = faultBase("packappendlie")
    PackStore.initBase(spark, base, objs(0, 20), 1)
    FaultInjectingFileSystem.renameLieOnce("/snapshots/snap-1")
    PackStore.appendDelta(spark, base, objs(20, 30))
    FaultInjectingFileSystem.fired.map(_._1) should contain("renameLie")
    PackStore.latestSnapshotId(spark, base) shouldBe Some(1L)
    PackStore.readCurrent(spark, base).map(_.dir).distinct should have size 2
    PackStore.readCurrent(spark, base) should have size 2
    ids(base) shouldBe (0L until 30L)
    FaultInjectingFileSystem.reset()
  }

  test("a committed snapshot that cannot be read is never reclaimed: the append throws and snap-1 survives") {
    val base = faultBase("packnoreclaim")
    PackStore.initBase(spark, base, objs(0, 20), 1)  // snap 0
    PackStore.appendDelta(spark, base, objs(20, 30)) // snap 1
    // a lost hint advance leaves CURRENT stale, and snap-1 stays
    // unreadable past readSmallFile's retries
    graft.sources.GraftFs.writeSmallFileAtomic(spark, s"$base/CURRENT", "0")
    FaultInjectingFileSystem.failOpen("/snapshots/snap-1", 42)
    an[java.io.IOException] should be thrownBy
      PackStore.appendDelta(spark, base, objs(30, 40))
    FaultInjectingFileSystem.fired.map(_._1) should contain("failOpen")
    FaultInjectingFileSystem.reset()
    graft.sources.GraftFs.exists(spark, s"$base/snapshots/snap-1") shouldBe true
    PackStore.appendDelta(spark, base, objs(30, 40)) // the retry lands on top
    ids(base) shouldBe (0L until 40L)
  }

  test("vacuum stops before any delete when a tag file cannot be read") {
    val base = faultBase("packtagio")
    def named(lo: Long, hi: Long) =
      spark.range(lo, hi).as[Long].map(i => (i, s"payload-$i".getBytes("UTF-8")))
    PackStore.initBase(spark, base, named(0, 20), 1)   // snap 0
    PackStore.createTag(spark, base, "keep", 0L)
    PackStore.compact(spark, base, 1)                  // snap 1
    PackStore.appendDelta(spark, base, named(20, 30))  // snap 2
    FaultInjectingFileSystem.failOpen("/refs/tag-keep", 21)
    an[java.io.IOException] should be thrownBy
      PackStore.vacuum(spark, base, retainSnapshots = 1)
    FaultInjectingFileSystem.fired.map(_._1) should contain("failOpen")
    FaultInjectingFileSystem.reset()
    PackStore.listTags(spark, base) shouldBe Seq("keep" -> 0L)
    PackStore.scanTag(spark, base, "keep").count() shouldBe 20
  }

  test("a failed CURRENT write after a committed publish is reported, not thrown: the append lands once") {
    val base = faultBase("packhint")
    PackStore.initBase(spark, base, objs(0, 20), 1)
    FaultInjectingFileSystem.failCreateOnce(".CURRENT.tmp-")
    PackStore.appendDelta(spark, base, objs(20, 30))
    FaultInjectingFileSystem.fired.map(_._1) should contain("failCreate")
    FaultInjectingFileSystem.reset()
    graft.sources.GraftFs.readSmallFile(spark, s"$base/CURRENT").map(_.trim) shouldBe Some("0")
    PackStore.latestSnapshotId(spark, base) shouldBe Some(1L)
    ids(base) shouldBe (0L until 30L)
  }
}
