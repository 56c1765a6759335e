package graft

import java.nio.file.Files

import graft.sources.GraftFs
import graft.streaming.{CurationIngest, IncrementalAgg, IncrementalCdc, IncrementalComponents,
  IncrementalDedup, IncrementalDrift, IncrementalIndex, IncrementalMine, IncrementalScd2,
  IncrementalShards, IncrementalSpan, IncrementalStats, IncrementalTrend, IncrementalWinnow}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.scalatest.matchers.should.Matchers

/** The shared state-publication module (graft.streaming.StateLog) as the
  * maintainers use it: the `_CURRENT` hint is only a fast path, record
  * and pointer formats are the ones already on disk, and every log
  * maintainer writes its record with the same keys in the same order.
  */
class StateLogSpec extends SparkTestBase with Matchers {

  private case class LogMaintainer(name: String, ingest: (DataFrame, String, Long) => Unit,
      current: String => Any, layout: String)

  private val U = "[0-9a-f]{8}"

  private def maintainers = Seq(
    LogMaintainer("index", (b, base, id) => IncrementalIndex.processBatch(spark, b, base, Some(id)),
      IncrementalIndex.currentState(spark, _),
      s"stats=stats/v1;segs=b0-$U,b1-$U;batch=1;ndocs=\\d+;tombs="),
    LogMaintainer("span", (b, base, id) => IncrementalSpan.processBatch(spark, b, base, Some(id)),
      IncrementalSpan.currentState(spark, _),
      s"stats=stats/v1-$U;occ=(b0-$U,b1-$U);docs=\\1;batch=1;tombocc=;tombdocs="),
    LogMaintainer("winnow", (b, base, id) => IncrementalWinnow.processBatch(spark, b, base, Some(id)),
      IncrementalWinnow.currentState(spark, _), s"segs=b0-$U,b1-$U;batch=1;tombs="),
    LogMaintainer("dedup", (b, base, id) => IncrementalDedup.processBatch(spark, b, base, Some(id)): Unit,
      IncrementalDedup.currentState(spark, _), s"segs=b0-$U,b1-$U;batch=1;tombs="),
    LogMaintainer("curation", (b, base, id) => CurationIngest.handleBatch(spark,
        b.select(lit("doc").as("kind"), lit(0L).as("shard_id"), col("doc_id"), col("text"),
          col("lang"), lit(0L).as("n_docs")), base, Some(id)),
      CurationIngest.currentState(spark, _), s"segs=b0-$U,b1-$U;batch=1"))

  test("a junk _CURRENT hint reads as absent: every log maintainer falls back to the listing") {
    val docs = Tables.documents(spark, sfTiny).filter(col("doc_id") < 60)
    for (m <- maintainers) withClue(s"maintainer=${m.name} ") {
      val base = Files.createTempDirectory(s"graft_statelog_${m.name}").toFile.getAbsolutePath
      for (i <- 0L to 1L) m.ingest(docs.filter(col("doc_id") % 2 === i), base, i)
      GraftFs.readSmallFile(spark, s"$base/log/v1").get.trim should fullyMatch regex m.layout
      val want = m.current(base)
      for (junk <- Seq("v1#torn", "garbage", "", "v", "v-1", "v0")) withClue(s"hint='$junk' ") {
        GraftFs.writeSmallFileAtomic(spark, s"$base/_CURRENT", junk)
        m.current(base) shouldBe want
      }
      GraftFs.deleteRecursively(spark, s"$base/_CURRENT")
      m.current(base) shouldBe want
    }
  }

  test("a failed hint write after a committed CAS is reported, not thrown: every log maintainer") {
    FaultInjectingFileSystem.install(spark)
    val docs = Tables.documents(spark, sfTiny).filter(col("doc_id") < 60)
    for (m <- maintainers) withClue(s"maintainer=${m.name} ") {
      FaultInjectingFileSystem.reset()
      val base = "graftfault://" +
        Files.createTempDirectory(s"graft_statelog_hint_${m.name}").toFile.getAbsolutePath
      m.ingest(docs.filter(col("doc_id") % 2 === 0), base, 0L)
      FaultInjectingFileSystem.failCreateOnce("._CURRENT.tmp-")
      m.ingest(docs.filter(col("doc_id") % 2 === 1), base, 1L) // committed: returns
      FaultInjectingFileSystem.fired.map(_._1) should contain("failCreate")
      FaultInjectingFileSystem.reset()
      GraftFs.readSmallFile(spark, s"$base/_CURRENT").map(_.trim) shouldBe Some("v0")
      GraftFs.readSmallFile(spark, s"$base/log/v1").get.trim should fullyMatch regex m.layout
    }
  }

  test("log records in the established format parse field for field") {
    def at(body: String): String = {
      val base = Files.createTempDirectory("graft_statelog_rec").toFile.getAbsolutePath
      GraftFs.writeSmallFileAtomic(spark, s"$base/log/v0", body)
      base
    }
    IncrementalIndex.currentState(spark,
      at("stats=stats/v0;segs=b0-aa,c1-bb;batch=3;ndocs=17;tombs=b9-cc")) shouldBe
      IncrementalIndex.IndexState(0L, Some("stats/v0"), Seq("b0-aa", "c1-bb"), Some(3L),
        Some(17L), Seq("b9-cc"))
    // a pre-ndocs, pre-tombs record: the fields read as absent
    IncrementalIndex.currentState(spark, at("stats=stats/v0;segs=b0-aa;batch=-")) shouldBe
      IncrementalIndex.IndexState(0L, Some("stats/v0"), Seq("b0-aa"), None)
    val span = IncrementalSpan.currentState(spark,
      at("stats=stats/v0-dd;occ=c2-aa,b3-bb;docs=c2-aa,b3-bb;batch=3;tombocc=b0-cc;tombdocs=b0-cc"))
    span shouldBe IncrementalSpan.SpanState(0L, Some("stats/v0-dd"), Seq("c2-aa", "b3-bb"),
      Some(3L), Seq("b0-cc"))
    (span.occSegs, span.docSegs, span.docTombs) shouldBe
      ((Seq("c2-aa", "b3-bb"), Seq("c2-aa", "b3-bb"), Seq("b0-cc")))
    IncrementalWinnow.currentState(spark, at("segs=c1-aa,b2-bb;batch=2;tombs=")) shouldBe
      IncrementalWinnow.WinnowState(0L, Seq("c1-aa", "b2-bb"), Some(2L))
    IncrementalDedup.currentState(spark, at("segs=;batch=-;tombs=b0-aa")) shouldBe
      IncrementalDedup.DedupState(0L, Seq.empty, None, Seq("b0-aa"))
    CurationIngest.currentState(spark, at("segs=b0-aa;batch=0")) shouldBe
      CurationIngest.IngestLog(0L, Seq("b0-aa"), Some(0L))
  }

  private case class PointerMaintainer(name: String, ingest: (Int, String, Option[Long]) => Unit,
      committed: String => Option[Long], state: String => DataFrame)

  /** The nine version-pointer maintainers; `ingest(part, base, id)` lands
    * half `part` (0 or 1) of a fixture table.
    */
  private def pointerMaintainers = {
    val events = Tables.events(spark, sfTiny)
    val orders = Tables.orders(spark, sfTiny)
    val docs = Tables.documents(spark, sfTiny)
    val cents = (c: String) => (col(c).cast(DecimalType(12, 2)) * 100).cast(LongType)
    def half(df: DataFrame, key: String, part: Int) = df.filter(pmod(col(key), lit(2)) === part)
    def nodes(part: Int) = spark.range(part * 10L, part * 10L + 10).select(col("id").as("node_id"))
    Seq(
      PointerMaintainer("agg",
        (i, base, id) => IncrementalAgg.processBatch(spark, half(events, "event_id", i), base, id),
        IncrementalAgg.committedBatch(spark, _), IncrementalAgg.readState(spark, _)),
      PointerMaintainer("stats", (i, base, id) => IncrementalStats.processBatch(spark,
          half(orders, "o_orderkey", i).select(col("o_orderstatus").as("grp"),
            cents("o_totalprice").as("v")), base, id),
        IncrementalStats.committedBatch(spark, _), IncrementalStats.readState(spark, _)),
      PointerMaintainer("cdc", (i, base, id) => IncrementalCdc.processBatch(spark,
          half(orders, "o_orderkey", i).select(col("o_orderkey"), lit("U").as("op"),
            col("o_custkey").as("c_custkey"), col("o_totalprice").as("new_price")), base, id),
        IncrementalCdc.committedBatch(spark, _), IncrementalCdc.readState(spark, _)),
      PointerMaintainer("mine", (i, base, id) => IncrementalMine.processBatch(spark,
          half(Tables.lineitem(spark, sfTiny), "l_orderkey", i)
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")), base, id),
        IncrementalMine.committedBatch(spark, _), IncrementalMine.readState(spark, _)._1),
      PointerMaintainer("drift",
        (i, base, id) => IncrementalDrift.processBatch(spark, half(docs, "doc_id", i), base, id),
        IncrementalDrift.committedBatch(spark, _), IncrementalDrift.readCounts(spark, _)),
      PointerMaintainer("scd2", (i, base, id) => IncrementalScd2.processBatch(spark,
          half(events, "user_id", i).select("user_id", "event_id", "event_type", "ts"), base, id),
        IncrementalScd2.committedBatch(spark, _), IncrementalScd2.readDimension(spark, _)),
      PointerMaintainer("components", (i, base, id) => IncrementalComponents.processBatch(spark,
          nodes(i), nodes(i).select(col("node_id").as("a"), (col("node_id") + 1).as("b"))
            .filter(col("b") < i * 10L + 10), base, id),
        IncrementalComponents.committedBatch(spark, _), IncrementalComponents.readState(spark, _)),
      PointerMaintainer("shards", (i, base, id) => IncrementalShards.processBatch(spark,
          half(docs, "doc_id", i).select("doc_id", "n_chars", "text"), base, id),
        IncrementalShards.committedBatch(spark, _), IncrementalShards.readState(spark, _)),
      PointerMaintainer("trend", (i, base, id) => IncrementalTrend.processBatch(spark,
          half(events, "event_id", i).select(col("event_id"), col("user_id"),
            col("event_type").as("g"),
            expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
            cents("value").as("x"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
            cents("value").as("m")), base, id),
        IncrementalTrend.committedBatch(spark, _), IncrementalTrend.readHourly(spark, _)))
  }

  test("the version pointer keeps its v<N>[:batch=<id>] format and carries the tag forward") {
    def files(f: java.io.File): Set[String] =
      if (f.isDirectory) f.listFiles().toSet.flatMap(files) else Set(f.getPath)
    for (m <- pointerMaintainers) withClue(s"maintainer=${m.name} ") {
      val base = Files.createTempDirectory(s"graft_statelog_ptr_${m.name}").toFile.getAbsolutePath
      def pointer = GraftFs.readSmallFile(spark, s"$base/_CURRENT").map(_.trim)
      m.ingest(0, base, Some(4L))
      pointer shouldBe Some("v0:batch=4")
      m.ingest(1, base, None)
      pointer shouldBe Some("v1:batch=4") // a call without an id keeps the tag
      val landed = files(new java.io.File(base))
      m.ingest(0, base, Some(4L)) // replay: no write, no swap
      pointer shouldBe Some("v1:batch=4")
      files(new java.io.File(base)) shouldBe landed
      m.committed(base) shouldBe Some(4L)
      // an untagged pointer written by an older writer still reads
      GraftFs.writeSmallFileAtomic(spark, s"$base/_CURRENT", "v1")
      m.committed(base) shouldBe None
      m.state(base).count() should be > 0L
    }
  }
}
