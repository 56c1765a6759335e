package graft

import java.nio.file.Files

import graft.multimodal.{MetaZone, PackStore}
import graft.multimodal.PackStore.{Component, Snapshot}
import graft.sources.GraftFs
import org.apache.spark.sql.functions.lit
import org.scalatest.matchers.should.Matchers

/** The pack store's snapshot log in its established on-disk format:
  * `snapshots/snap-<k>` records (`#kind=`, `#note=`, one tab-separated
  * line of 3, 4 or 5 fields per component, `#eof`) and a digits-only
  * `CURRENT` hint. Stores written before the log moved onto StateLog read
  * back field for field, and new publishes write the same bytes.
  */
class PackLogFormatSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  private def fresh(tag: String): String =
    Files.createTempDirectory(s"graft_packfmt_$tag").toFile.getAbsolutePath + "/store"

  private val B64 = "[A-Za-z0-9+/=]+"
  private val U = "[0-9a-f]{8}"

  test("a store in the established format reads back field for field; a leftover CHECKPOINT is ignored") {
    val base = fresh("read")
    val bloom = Vector.tabulate(64)(i => i * 0x0101010101L)
    val b64 = {
      val buf = java.nio.ByteBuffer.allocate(bloom.length * 8)
      bloom.foreach(buf.putLong)
      java.util.Base64.getEncoder.encodeToString(buf.array())
    }
    val zone = Map("kind" -> MetaZone.ColStat("string", Some("a"), Some("b"), Vector(5L, 9L)))
    def write(name: String, body: String) = GraftFs.writeSmallFileAtomic(spark, s"$base/$name", body)
    write("snapshots/snap-0", "#kind=init\n/data/packs/v0-aa\t0\t99\n#eof")
    write("snapshots/snap-1", "#kind=delta\n#note=batch=7\n/data/packs/v0-aa\t0\t99\n" +
      s"/data/deltas/d-bb\t100\t149\t$b64\n" +
      s"/data/deltas/d-cc\t150\t199\t$b64\t${MetaZone.encode(zone)}\n#eof\n")
    write("snapshots/snap-2", "/data/packs/v1-dd\t0\t199\n#eof") // written before kinds
    write("CURRENT", "1\n")
    write("CHECKPOINT", "0")

    val v0 = Component("/data/packs/v0-aa", 0L, 99L)
    PackStore.snapshotAt(spark, base, 0L) shouldBe Snapshot(0L, "init", None, Seq(v0))
    PackStore.snapshotAt(spark, base, 1L) shouldBe Snapshot(1L, "delta", Some("batch=7"), Seq(v0,
      Component("/data/deltas/d-bb", 100L, 149L, Some(bloom)),
      Component("/data/deltas/d-cc", 150L, 199L, Some(bloom), Some(zone))))
    PackStore.snapshotAt(spark, base, 1L).batch shouldBe Some(7L)
    val tip = Snapshot(2L, "delta", None, Seq(Component("/data/packs/v1-dd", 0L, 199L)))
    PackStore.latest(spark, base) shouldBe tip // the hint walks forward from 1
    // without the hint, the listing finds the tip; the CHECKPOINT plays no part
    GraftFs.deleteRecursively(spark, s"$base/CURRENT")
    PackStore.latest(spark, base) shouldBe tip
    write("CHECKPOINT", "junk")
    PackStore.latest(spark, base) shouldBe tip
  }

  test("blooms encoded in the established format still admit their ids and reject the same misses") {
    // snap-0 of a store over ids 100..149 and the meta zone of a
    // (kind, n) frame {(alpha, 7), (beta, 9)}, both as that format wrote them
    val idBloom = "BAAAAAAQIAAAQQAAABAEAAAAABAAAAACAgAAACAAACAAAAABAQAAAAgAAAABAIAAAAAAAAAAAIACFAEAAAAAAAAAAAAA" +
      "BACIgAAAAABAAAAAAAAQAAAIQIAAAAAAACAIACAAAMAAEAAAAAAAAAAIACAAACAQEAABBAQAAAAAAAAAgAAAABAIAAAAAAAAAIAA" +
      "AAAAggBAAAAAAAIAAAgAAAAAAAAAABCAAAIAAAAAAAQAAAABAAAoAABAgCAAAAAAAAAAAAAIAAAAAAAAAAAAAAAAAAAQAAIAAAoI" +
      "AAIQAAAAAECAAAAAAAAAAAAAAgCAAAAAAAAQAEAAAQgAAAAAAAAAAAAAAAAAAAAAAAAAAACAAAAAAAAAAAAAgIgAAAAAAAAAAADA" +
      "AAAACAAAAAAIBQAAAAIAAAAAAEAAAAAAACAAAAAIAAAgAAACAIAEAAAAGAAIAABBBAAAEKAAAAAAAACAAAAAAAIAAAAAAAAAAAAQ" +
      "AAIAAABAAAAggABCCACAABEAAAAEAAAAAAAACAAAEAAAAAAAAAAAAAEAAAACAAQAAAAgAAAAAAAAAAACAIAAAAAAAAAAAIAAAAAAA" +
      "AAAAAAAAAAAAAgAAEAAIAAAAAAAAQAAgAAgAQAAAAAEBAAAABIAAAAACAAACAAAECIAAAAAAgAAAAAIAAABAAAAAAA="
    val zoneTok = "YTJsdVpBPT0fc3RyaW5nH1lXeHdhR0U9H1ltVjBZUT09H0FBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQU" +
      "FBQUFBQUFBQUFBQUFBQUFBQUFBQ0FBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFnQUFBQUFBQUFBQUFBQUFBQUNBQUFBQUFBQUFB" +
      "QUFBTkFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQT0eYmc9PR9sb25nH053PT0fT1" +
      "E9PR9BQUFBQUFBQUFBQUFFQUFBQUFBQUFBQUFBQUFBQUFDUUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQkFB" +
      "QUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFBQUFCQUFBQUFBQUFBQUFBQUFBQWdBQUFBQUFBQUFBQUFBQU" +
      "FBQUFBQUFBQUFBQUFBQUFBQUFBQUE9"
    val base = fresh("bloom")
    GraftFs.writeSmallFileAtomic(spark, s"$base/snapshots/snap-0",
      s"#kind=init\n/data/packs/v0-aa\t100\t149\t$idBloom\t$zoneTok\n#eof")
    val Seq(comp) = PackStore.readCurrent(spark, base)
    val ids = comp.bloom.get
    ids should have size 64
    all((100L to 149L).map(PackStore.IdBloom.mightContain(ids, _))) shouldBe true
    (150L to 154L).exists(PackStore.IdBloom.mightContain(ids, _)) shouldBe false
    graft.multimodal.Bloom.encode(ids) shouldBe idBloom

    import org.apache.spark.sql.functions.col
    val zone = comp.metaStats.get
    zone("kind").bloom should have size 16
    MetaZone.encode(zone) shouldBe zoneTok
    def excludes(c: org.apache.spark.sql.Column) =
      MetaZone.excludes(zone, org.apache.spark.sql.GraftPlanBridge.columnExpr(c))
    excludes(col("kind") === "alpha") shouldBe false
    excludes(col("kind") === "beta") shouldBe false
    excludes(col("n") === 7L) shouldBe false
    excludes(col("n") === 9L) shouldBe false
    // inside [min, max], rejected by the bloom alone
    excludes(col("kind") === "b") shouldBe true
    excludes(col("n") === 8L) shouldBe true
  }

  test("a publish writes snap-<k> and a digits-only CURRENT in that format") {
    val base = fresh("write")
    def objs(lo: Long, hi: Long) =
      spark.range(lo, hi).as[Long].map(i => (i, Array[Byte](i.toByte)))
    PackStore.initBase(spark, base, objs(0, 20), 1)
    PackStore.appendDelta(spark, base, objs(20, 30), note = Some("batch=3"),
      meta = Some(spark.range(20, 30).toDF("media_id").withColumn("kind", lit("x"))))
    def read(name: String) = GraftFs.readSmallFile(spark, s"$base/$name").get
    val v0 = s"\\S+/packs/v0-$U\t0\t19\t$B64"
    read("snapshots/snap-0") should fullyMatch regex s"#kind=init\n$v0\n#eof"
    read("snapshots/snap-1") should fullyMatch regex
      s"#kind=delta\n#note=batch=3\n$v0\n\\S+/deltas/d-$U\t20\t29\t$B64\t$B64\n#eof"
    read("CURRENT") should fullyMatch regex "1"
    GraftFs.exists(spark, s"$base/CHECKPOINT") shouldBe false
  }
}
