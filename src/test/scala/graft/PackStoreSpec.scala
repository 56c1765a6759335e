package graft

import java.nio.file.Files

import graft.multimodal.{ContainerOps, PackStore}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.matchers.should.Matchers

/** Generational pack-store lifecycle specs: immutable components + an
  * atomically-swapped CURRENT pointer must serve identical rows through
  * every state (base / base+deltas / compacted / vacuumed), with pack
  * opens counted by the recording FileSystem to pin the read-amplification
  * claims.
  */
class PackStoreSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private def openedPackFiles(): Set[String] =
    CountingFileSystem.openedPaths.filter(_.contains("pack-")).toSet

  test("lifecycle: deltas merge into the view, compaction bounds opens, vacuum keeps only CURRENT") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.graftcount.impl", classOf[CountingAbstractFs].getName)
    val local = Files.createTempDirectory("graft_packstore").toFile.getAbsolutePath
    val base = s"graftcount:$local/store"

    val objs = ContainerOps.containerTable(spark, sfTiny)
    val want = objs.map { case (id, b) => ContainerOps.ContainerParser.parse(id, b) }
      .collect().map(_.toString).sorted

    // base = ids 0..299 (8 packs), two delta ingests of 100 docs each
    PackStore.initBase(spark, base, objs.filter(_._1 <= 299), ContainerOps.NumPacks) // snap 0
    PackStore.appendDelta(spark, base, objs.filter(o => o._1 > 299 && o._1 <= 399))  // snap 1
    PackStore.appendDelta(spark, base, objs.filter(_._1 > 399))                      // snap 2
    PackStore.readCurrent(spark, base).size shouldBe 3
    PackStore.latestSnapshotId(spark, base) shouldBe Some(2L)

    // merged view == the whole corpus, at base+delta open cost
    CountingFileSystem.reset()
    val merged = PackStore.scan(spark, base).collect().map(_.toString).sorted
    merged shouldBe want
    val preCompactOpens = openedPackFiles()
    preCompactOpens.size shouldBe ContainerOps.NumPacks + 2 // 8 base + 1 + 1 delta packs

    // a range lookup inside the base never opens (or even manifests) a delta
    CountingFileSystem.reset()
    val hit = PackStore.scan(spark, base, Some((100L, 149L))).collect()
    hit.map(_.media_id).toSet shouldBe (100L to 149L).toSet
    val lookupOpens = CountingFileSystem.openedPaths
    lookupOpens.exists(_.contains("/deltas/")) shouldBe false // pruned by CURRENT min/max
    openedPackFiles().size should be < ContainerOps.NumPacks

    // compact: same rows, opens fall back to NumPacks, pointer is single
    PackStore.compact(spark, base, ContainerOps.NumPacks) // snap 3 → a fresh packs/v-* gen
    val live = PackStore.readCurrent(spark, base)
    live.size shouldBe 1
    live.head.dir should include("/packs/v-")
    CountingFileSystem.reset()
    PackStore.scan(spark, base).collect().map(_.toString).sorted shouldBe merged
    openedPackFiles().size shouldBe ContainerOps.NumPacks

    // default vacuum (retain 1): every dir only expired snapshots
    // referenced (base + both deltas) is deleted, the live gen survives,
    // view unchanged
    val doomed = (0L to 2L).flatMap(PackStore.readSnapshot(spark, base, _))
      .map(_.dir).toSet -- live.map(_.dir).toSet
    doomed.size shouldBe 3
    PackStore.vacuum(spark, base)
    doomed.foreach(d => graft.sources.GraftFs.exists(spark, d) shouldBe false)
    graft.sources.GraftFs.exists(spark, live.head.dir) shouldBe true
    an[IllegalArgumentException] should be thrownBy PackStore.readSnapshot(spark, base, 0L)
    PackStore.scan(spark, base).collect().map(_.toString).sorted shouldBe merged
  }

  test("CURRENT swap is atomic: a reader holding the old pointer still resolves old components until vacuum") {
    val local = Files.createTempDirectory("graft_packstore2").toFile.getAbsolutePath
    val base = s"$local/store"
    val objs = ContainerOps.containerTable(spark, sfTiny).filter(_._1 <= 99)
    PackStore.initBase(spark, base, objs, 2)
    val oldComponents = PackStore.readCurrent(spark, base)
    PackStore.compact(spark, base, 2) // swaps CURRENT to v1
    // old components remain fully readable (immutable) until vacuum —
    // the window that makes the swap safe for in-flight readers
    oldComponents.foreach { c =>
      spark.read.parquet(s"${c.dir}/manifest").count() shouldBe 100L
    }
    val newDir = PackStore.readCurrent(spark, base).head.dir
    newDir should include("/packs/v-")
    newDir should not be oldComponents.head.dir
    PackStore.vacuum(spark, base)
    graft.sources.GraftFs.exists(spark, oldComponents.head.dir) shouldBe false
  }

  test("vacuum sweeps dead-attempt orphan pack files out of live components; referenced packs survive") {
    val local = Files.createTempDirectory("graft_packstore4").toFile.getAbsolutePath
    val base = s"$local/store"
    val objs = ContainerOps.containerTable(spark, sfTiny).filter(_._1 <= 99)
    PackStore.initBase(spark, base, objs, 2)
    val comp = PackStore.readCurrent(spark, base).head
    val want = PackStore.scan(spark, base).collect().map(_.toString).sorted

    // simulate a dead task attempt's partial side-effect file
    val orphan = s"${comp.dir}/pack-0-a999.bin"
    graft.sources.GraftFs.writeSmallFileAtomic(spark, orphan, "partial garbage from attempt 999")
    PackStore.scan(spark, base).collect().map(_.toString).sorted shouldBe want // never read

    PackStore.vacuum(spark, base)
    graft.sources.GraftFs.exists(spark, orphan) shouldBe false
    val packsLeft = graft.sources.GraftFs.listFiles(spark, comp.dir)
      .map(_.getPath.getName).filter(_.startsWith("pack-"))
    packsLeft.size shouldBe 2 // exactly the referenced packs
    PackStore.scan(spark, base).collect().map(_.toString).sorted shouldBe want
  }

  test("bloom zone map: a narrow lookup inside a delta's id range but absent from it never reads the delta") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.graftcount.impl", classOf[CountingAbstractFs].getName)
    val local = Files.createTempDirectory("graft_packstore5").toFile.getAbsolutePath
    val base = s"graftcount:$local/store"
    val objs = ContainerOps.containerTable(spark, sfTiny)

    PackStore.initBase(spark, base, objs.filter(_._1 <= 199), 2)
    // delta holds only EVEN ids 300..398 — its [min,max] covers the odds
    PackStore.appendDelta(spark, base, objs.filter(o => o._1 >= 300 && o._1 <= 398 && o._1 % 2 == 0))
    val delta = PackStore.readCurrent(spark, base).find(_.dir.contains("/deltas/")).get
    (delta.minId, delta.maxId) shouldBe ((300L, 398L))

    // a missing odd id the bloom provably rejects (deterministic hashes)
    val miss = (301L to 397L by 2)
      .find(id => !PackStore.IdBloom.mightContain(delta.bloom.get, id)).get
    CountingFileSystem.reset()
    PackStore.scan(spark, base, Some((miss, miss))).count() shouldBe 0L
    // min/max said "maybe", the bloom said "no" — the delta was never touched
    CountingFileSystem.openedPaths.exists(_.contains("/deltas/")) shouldBe false

    // positive control: a present id in the same range still resolves
    val hit = PackStore.scan(spark, base, Some((302L, 302L))).collect()
    hit.map(_.media_id).toSeq shouldBe Seq(302L)
  }

  test("metadata: the meta view tracks live versions; predicate scans never open unqualified packs") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.AbstractFileSystem.graftcount.impl", classOf[CountingAbstractFs].getName)
    val local = Files.createTempDirectory("graft_packstore8").toFile.getAbsolutePath
    val base = s"graftcount:$local/store"
    def objs(lo: Long, hi: Long, ver: Byte) =
      spark.range(lo, hi).as[Long].map(i => (i, Array(ver, i.toByte)))
    def meta(lo: Long, hi: Long, kind: String) =
      spark.range(lo, hi).toDF("media_id").withColumn("kind", lit(kind))

    PackStore.initBase(spark, base, objs(0, 50, 1), 2, meta = Some(meta(0, 50, "a")))
    PackStore.appendDelta(spark, base, objs(50, 100, 1), meta = Some(meta(50, 100, "b")))
    PackStore.upsert(spark, base, objs(40, 45, 2), meta = Some(meta(40, 45, "c")))

    // live metadata: one row per live id, upserted ids carry v2's meta
    val m = PackStore.scanMeta(spark, base).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("kind")).toMap
    m.keySet shouldBe (0L until 100L).toSet
    (0L until 100L).foreach { i =>
      m(i) shouldBe (if (i >= 40 && i < 45) "c" else if (i < 50) "a" else "b")
    }

    // predicate scan returns exactly the matching LIVE versions
    val a = PackStore.scanBytesWhere(spark, base, col("kind") === "a").collect().toMap
    a.keySet shouldBe ((0L until 40L) ++ (45L until 50L)).toSet
    a.values.foreach(_(0) shouldBe 1.toByte)
    PackStore.scanBytesWhere(spark, base, col("kind") === "c")
      .collect().map(_._2(0)).toSet shouldBe Set(2.toByte)

    // pruning proof: a kind='b' scan never opens the base generation's
    // packs — the semi-join kills their manifest entries before any
    // read task forms
    CountingFileSystem.reset()
    PackStore.scanBytesWhere(spark, base, col("kind") === "b").count() shouldBe 50L
    CountingFileSystem.openedPaths
      .filter(_.contains("pack-")).exists(_.contains("/packs/v0")) shouldBe false
  }

  test("deletes: tombstones subtract from scans but not from pre-delete snapshots; compaction drops them physically") {
    val local = Files.createTempDirectory("graft_packstore6").toFile.getAbsolutePath
    val base = s"$local/store"
    val objs = ContainerOps.containerTable(spark, sfTiny).filter(_._1 <= 199)
    PackStore.initBase(spark, base, objs, 2)                                // snap 0
    PackStore.deleteIds(spark, base, spark.range(0, 200, 10).as[Long])      // snap 1: 0,10,...,190
    val survivors = (0L to 199L).filterNot(_ % 10 == 0)

    // live scan subtracts; the pre-delete snapshot still shows everything
    PackStore.scan(spark, base).collect().map(_.media_id).sorted.toSeq shouldBe survivors
    PackStore.scanAt(spark, base, 0).collect().map(_.media_id).sorted.toSeq shouldBe (0L to 199L)
    // narrow lookup of a deleted id: empty, not a resurrection
    PackStore.scan(spark, base, Some((50L, 50L))).count() shouldBe 0L

    // compaction materializes the subtraction: no tombstone component
    // survives, and the rewritten packs physically lack the ids
    PackStore.compact(spark, base, 2)                                       // snap 2
    val live = PackStore.readCurrent(spark, base)
    live.size shouldBe 1
    live.exists(_.dir.contains("/tombs/")) shouldBe false
    PackStore.scan(spark, base).collect().map(_.media_id).sorted.toSeq shouldBe survivors
    PackStore.vacuum(spark, base)
    graft.sources.GraftFs.exists(spark, s"$base/tombs") match {
      case true =>
        graft.sources.GraftFs.resolve(spark, s"$base/tombs")._1
          .listStatus(graft.sources.GraftFs.resolve(spark, s"$base/tombs")._2)
          .length shouldBe 0
      case false => succeed
    }
    PackStore.scan(spark, base).collect().map(_.media_id).sorted.toSeq shouldBe survivors
  }

  test("upserts: one-publish replace is atomic, position-aware (no self-subtraction), and a re-append after delete resurrects") {
    import spark.implicits._
    val local = Files.createTempDirectory("graft_packstore7").toFile.getAbsolutePath
    val base = s"$local/store"
    def objs(lo: Long, hi: Long, ver: Byte) =
      spark.range(lo, hi).as[Long].map(i => (i, Array(ver, i.toByte)))

    PackStore.initBase(spark, base, objs(0, 100, 1), 2)          // snap 0: v1 of 0..99
    PackStore.upsert(spark, base, objs(20, 60, 2))               // snap 1: v2 of 20..59, one publish
    PackStore.latestSnapshotId(spark, base) shouldBe Some(1L)    // atomic: ONE snapshot

    val got = PackStore.scanBytes(spark, base).collect().toMap
    got.keySet shouldBe (0L until 100L).toSet                    // no gap, no dup
    for (i <- 0L until 100L)
      got(i)(0) shouldBe (if (i >= 20 && i < 60) 2.toByte else 1.toByte)
    // time travel still shows v1 everywhere
    PackStore.scanBytes(spark, base, snapshot = Some(0L)).collect().toMap
      .values.map(_(0)).toSet shouldBe Set(1.toByte)

    // upsert can also INSERT: ids 100..109 have no prior version
    PackStore.upsert(spark, base, objs(100, 110, 3))             // snap 2
    PackStore.scanBytes(spark, base).count() shouldBe 110L

    // delete then RE-APPEND: the later append must resurrect (the
    // tombstone only subtracts from components that precede it)
    PackStore.deleteIds(spark, base, spark.range(0, 10).as[Long]) // snap 3
    PackStore.scanBytes(spark, base).count() shouldBe 100L
    PackStore.appendDelta(spark, base, objs(0, 5, 4))             // snap 4
    val after = PackStore.scanBytes(spark, base).collect().toMap
    after.keySet shouldBe ((0L until 5L) ++ (10L until 110L)).toSet
    (0L until 5L).foreach(i => after(i)(0) shouldBe 4.toByte)

    // compaction materializes it all; the view is unchanged
    PackStore.compact(spark, base, 2)
    PackStore.vacuum(spark, base)
    val fin = PackStore.scanBytes(spark, base).collect().toMap
    fin.keySet shouldBe after.keySet
    fin.foreach { case (i, b) => b.toSeq shouldBe after(i).toSeq }
  }

  test("meta schema evolution: later publishes may widen the schema (old rows read null); type changes fail typed") {
    import spark.implicits._
    val local = Files.createTempDirectory("graft_packstore10").toFile.getAbsolutePath
    val base = s"$local/store"
    def objs(lo: Long, hi: Long) =
      spark.range(lo, hi).as[Long].map(i => (i, Array(i.toByte)))

    PackStore.initBase(spark, base, objs(0, 20), 2,
      meta = Some(spark.range(0, 20).toDF("media_id").withColumn("kind", lit("a"))))
    // widened schema: a new score column the base component predates
    PackStore.appendDelta(spark, base, objs(20, 30),
      meta = Some(spark.range(20, 30).toDF("media_id")
        .withColumn("kind", lit("b")).withColumn("score", lit(0.5))))

    val m = PackStore.scanMeta(spark, base)
    m.columns.toSet shouldBe Set("media_id", "kind", "score")
    m.filter(col("score").isNull).count() shouldBe 20L // pre-widening rows
    m.filter(col("score") === 0.5).count() shouldBe 10L
    // predicates over the widened column still prune correctly
    PackStore.scanBytesWhere(spark, base, col("score") >= 0.5)
      .collect().map(_._1).sorted.toSeq shouldBe (20L until 30L)

    // an incompatible TYPE change for an existing column fails typed at
    // plan time — an index column is never silently coerced
    PackStore.appendDelta(spark, base, objs(30, 35),
      meta = Some(spark.range(30, 35).toDF("media_id").withColumn("kind", lit(7))))
    val e = intercept[IllegalArgumentException](PackStore.scanMeta(spark, base))
    e.getMessage should include ("kind")
  }

  test("tail compaction: folds the delta/tomb tail into one delta, base untouched, meta carried, view unchanged") {
    import spark.implicits._
    val local = Files.createTempDirectory("graft_packstore9").toFile.getAbsolutePath
    val base = s"$local/store"
    def objs(lo: Long, hi: Long, ver: Byte) =
      spark.range(lo, hi).as[Long].map(i => (i, Array(ver, i.toByte)))
    def meta(lo: Long, hi: Long, kind: String) =
      spark.range(lo, hi).toDF("media_id").withColumn("kind", lit(kind))

    PackStore.initBase(spark, base, objs(0, 100, 1), 2, meta = Some(meta(0, 100, "base")))
    PackStore.appendDelta(spark, base, objs(100, 130, 1), meta = Some(meta(100, 130, "d1")))
    PackStore.upsert(spark, base, objs(50, 60, 2), meta = Some(meta(50, 60, "up")))
    PackStore.deleteIds(spark, base, spark.range(0, 10).as[Long])
    val before = PackStore.scanBytes(spark, base).collect().toMap
    val beforeMeta = PackStore.scanMeta(spark, base).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("kind")).toMap
    val baseDir = PackStore.readCurrent(spark, base).head.dir

    PackStore.compactTail(spark, base, 1)
    val live = PackStore.readCurrent(spark, base)
    live.head.dir shouldBe baseDir                                     // base NOT rewritten
    live.count(_.dir.contains("/deltas/")) shouldBe 1                  // tail folded to one
    live.count(_.dir.contains("/tombs/")) shouldBe 2                   // tombs republished
    val after = PackStore.scanBytes(spark, base).collect().toMap
    after.keySet shouldBe before.keySet
    after.foreach { case (k, v) => v.toSeq shouldBe before(k).toSeq }
    // the fold carried the tail's metadata; the full view is unchanged
    PackStore.scanMeta(spark, base).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("kind"))
      .toMap shouldBe beforeMeta

    // vacuum after the fold reclaims the pre-fold delta dirs, and a
    // subsequent FULL compaction still drops the tombstones physically
    PackStore.vacuum(spark, base)
    PackStore.compact(spark, base, 2)
    PackStore.readCurrent(spark, base).exists(_.dir.contains("/tombs/")) shouldBe false
    val fin = PackStore.scanBytes(spark, base).collect().toMap
    fin.keySet shouldBe before.keySet
    PackStore.scanMeta(spark, base).collect()
      .map(r => r.getAs[Long]("media_id") -> r.getAs[String]("kind"))
      .toMap shouldBe beforeMeta
  }

  test("time travel: retained snapshots read as-of; expired snapshots fail typed; retention vacuum deletes the rest") {
    val local = Files.createTempDirectory("graft_packstore3").toFile.getAbsolutePath
    val base = s"$local/store"
    val objs = ContainerOps.containerTable(spark, sfTiny).filter(_._1 <= 299)
    def view(ds: org.apache.spark.sql.Dataset[graft.multimodal.ContainerOps.ContainerRow]) =
      ds.collect().map(_.toString).sorted
    def want(hi: Long) = view(objs.filter(_._1 <= hi)
      .map { case (id, b) => ContainerOps.ContainerParser.parse(id, b) })

    PackStore.initBase(spark, base, objs.filter(_._1 <= 99), 2)                     // snap 0
    PackStore.appendDelta(spark, base, objs.filter(o => o._1 > 99 && o._1 <= 199))  // snap 1
    PackStore.compact(spark, base, 2)                                               // snap 2 (≤199)
    PackStore.appendDelta(spark, base, objs.filter(_._1 > 199))                     // snap 3

    // every snapshot reads as-of its publish point, through later rewrites
    view(PackStore.scanAt(spark, base, 0)) shouldBe want(99)
    view(PackStore.scanAt(spark, base, 1)) shouldBe want(199)
    view(PackStore.scanAt(spark, base, 2)) shouldBe want(199)
    view(PackStore.scanAt(spark, base, 3)) shouldBe want(299)

    // retention vacuum: keep snaps 2+3 → the base gen and first delta
    // (referenced only by expired snaps) go; the compacted gen and the
    // post-compaction delta stay (token-named dirs never collided)
    val keep = (2L to 3L).flatMap(PackStore.readSnapshot(spark, base, _)).map(_.dir).toSet
    val gone = (0L to 1L).flatMap(PackStore.readSnapshot(spark, base, _)).map(_.dir).toSet -- keep
    gone.size shouldBe 2
    PackStore.vacuum(spark, base, retainSnapshots = 2)
    gone.foreach(d => graft.sources.GraftFs.exists(spark, d) shouldBe false)
    keep.foreach(d => graft.sources.GraftFs.exists(spark, d) shouldBe true)
    view(PackStore.scanAt(spark, base, 2)) shouldBe want(199)
    view(PackStore.scanAt(spark, base, 3)) shouldBe want(299)
    view(PackStore.scan(spark, base)) shouldBe want(299)
    an[IllegalArgumentException] should be thrownBy PackStore.scanAt(spark, base, 0).collect()
    an[IllegalArgumentException] should be thrownBy PackStore.scanAt(spark, base, 1).collect()
  }
}
