package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.duration._

import graft.operators.{Refresh, RefresherApp, RefreshResult, RefreshTarget}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, lit, to_date}
import org.scalatest.matchers.should.Matchers

/** Group A behavioral specs (SURVEY.md §5.2(2)): staleness→refresh→fresh,
  * bounded fan-out window, per-target timeout, exit-code fold, target
  * parsing. Mirrors /root/reference/impala-refresher.go semantics.
  */
class RefreshSpec extends SparkTestBase with Matchers {
  import spark.implicits._

  test("E-R1 refresh_table: re-scan sees files added behind the catalog's back") {
    val dir = Files.createTempDirectory("graft_refresh").toFile.getAbsolutePath
    Seq(1L, 2L, 3L).toDF("v").write.mode("overwrite").parquet(dir)
    spark.sql("DROP TABLE IF EXISTS graft_stale_t")
    spark.sql(s"CREATE TABLE graft_stale_t (v BIGINT) USING parquet LOCATION '$dir'")
    spark.table("graft_stale_t").count() shouldBe 3
    // append a file behind the catalog's back
    Seq(4L, 5L).toDF("v").write.mode("append").parquet(dir)
    spark.table("graft_stale_t").count() shouldBe 3 // stale file index
    Refresh.refreshTable(spark, "graft_stale_t")
    spark.table("graft_stale_t").count() shouldBe 5 // fresh after refresh
    spark.sql("DROP TABLE graft_stale_t")
  }

  test("E-R6 refresh_partition: one event_date dir refreshed, re-list cost partition-pruned") {
    // date-partitioned events layout (the PartitionedEvents shape) behind
    // the listing-counting FileSystem so directory listings are observable
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    val local = Files.createTempDirectory("graft_prefresh").toFile.getAbsolutePath
    val base = s"graftcount:$local"
    Tables.events(spark, sfTiny)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), to_date(col("ts")).as("event_date"))
      .filter(col("event_date").isin("2024-01-01", "2024-01-02", "2024-01-03"))
      .write.mode("overwrite").partitionBy("event_date").parquet(base)
    spark.sql("DROP TABLE IF EXISTS graft_pr_events")
    spark.sql(s"""CREATE TABLE graft_pr_events
      (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, event_date DATE)
      USING parquet PARTITIONED BY (event_date) LOCATION '$base'""")
    spark.sql("ALTER TABLE graft_pr_events RECOVER PARTITIONS")
    def dayCount(d: String): Long =
      spark.table("graft_pr_events").filter(col("event_date") === d).count()
    val d1n = dayCount("2024-01-01")
    d1n should be > 0L
    // append a file into the 2024-01-01 dir behind the catalog's back
    Seq((900001L, 1L, "click", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(s"$base/event_date=2024-01-01")
    dayCount("2024-01-01") shouldBe d1n // stale file index
    // Impala parity: refreshing an unknown partition is an error, not a no-op
    an[IllegalArgumentException] should be thrownBy
      Refresh.refreshPartition(spark, "graft_pr_events", Map("event_date" -> "2030-12-31"))
    Refresh.refreshPartition(spark, "graft_pr_events", Map("event_date" -> "2024-01-01"))
    // the refreshed partition sees the new file...
    CountingFileSystem.reset()
    dayCount("2024-01-01") shouldBe d1n + 1
    // ...and paid listing ONLY for its own directory: the re-list after the
    // refresh is partition-pruned (the property that keeps a partition
    // refresh cheap when the table has 10k other partitions)
    val listedDirs = CountingFileSystem.listedPaths.filter(_.contains("event_date="))
    listedDirs should not be empty
    all(listedDirs) should include("event_date=2024-01-01")
    spark.sql("DROP TABLE graft_pr_events")
  }

  /** An unpartitioned parquet table `name` over a fresh directory behind
    * the listing-counting FileSystem, holding 3 rows; returns the local
    * directory. The session's cached data is cleared first: any cached
    * plan sends a refresh down Spark's recaching path.
    */
  private def countedTable(name: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcount.impl", classOf[CountingFileSystem].getName)
    spark.catalog.clearCache()
    val local = Files.createTempDirectory("graft_refresh_list").toFile.getAbsolutePath
    Seq(1L, 2L, 3L).toDF("v").write.mode("overwrite").parquet(s"graftcount:$local")
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name (v BIGINT) USING parquet LOCATION 'graftcount:$local'")
    local
  }

  /** Lands a 2-row parquet file in `dir` behind the catalog's back. */
  private def land(dir: String): Unit =
    Seq(10L, 11L).toDF("v").coalesce(1).write.mode("append").parquet(dir)

  private def listings(local: String): Int = CountingFileSystem.listedPaths.count(_.startsWith(local))

  test("E-R1 refresh_table lists an uncached table not at all and a cached one once") {
    val local = countedTable("graft_list_t")
    land(local)
    CountingFileSystem.reset()
    Refresh.refreshTable(spark, "graft_list_t") // not read yet: its relation is not cached
    listings(local) shouldBe 0
    spark.table("graft_list_t").count() shouldBe 5
    listings(local) shouldBe 1 // the read pays the one listing
    land(local)
    CountingFileSystem.reset()
    Refresh.refreshTable(spark, "graft_list_t") // cached by the read: re-listed in place
    listings(local) shouldBe 1
    CountingFileSystem.reset()
    spark.table("graft_list_t").count() shouldBe 7
    listings(local) shouldBe 1
    spark.sql("DROP TABLE graft_list_t")
  }

  test("E-R1 a DataFrame built before the refresh and run after it sees the new file") {
    val local = countedTable("graft_held_t")
    val held = spark.table("graft_held_t") // analysed: its file index lists the 3 rows' file
    land(local)
    Refresh.refreshTable(spark, "graft_held_t")
    held.count() shouldBe 5
    spark.sql("DROP TABLE graft_held_t")
  }

  test("E-R1 a CACHE TABLE table returns the new count after the refresh") {
    val local = countedTable("graft_cached_t")
    spark.sql("CACHE TABLE graft_cached_t")
    spark.table("graft_cached_t").count() shouldBe 3
    land(local)
    spark.table("graft_cached_t").count() shouldBe 3 // served from the cache
    Refresh.refreshTable(spark, "graft_cached_t")
    spark.table("graft_cached_t").count() shouldBe 5
    spark.sql("UNCACHE TABLE graft_cached_t")
    spark.sql("DROP TABLE graft_cached_t")
  }

  test("E-R1 temp views over a path and persisted views refresh through Spark") {
    val local = countedTable("graft_base_t")
    spark.read.parquet(s"graftcount:$local").createOrReplaceTempView("graft_path_v")
    spark.sql("DROP VIEW IF EXISTS graft_persist_v")
    spark.sql("CREATE VIEW graft_persist_v AS SELECT v FROM graft_base_t")
    spark.table("graft_path_v").count() shouldBe 3
    spark.table("graft_persist_v").count() shouldBe 3
    land(local)
    spark.table("graft_path_v").count() shouldBe 3 // stale file index
    Refresh.refreshTable(spark, "graft_path_v")
    spark.table("graft_path_v").count() shouldBe 5
    spark.table("graft_persist_v").count() shouldBe 3
    Refresh.refreshTable(spark, "graft_persist_v")
    spark.table("graft_persist_v").count() shouldBe 5
    // no partitions to refresh: an unknown partition, as for a partitioned table
    for (name <- Seq("graft_path_v", "graft_persist_v", "graft_base_t"))
      withClue(name) {
        an[IllegalArgumentException] should be thrownBy
          Refresh.refreshPartition(spark, name, Map("v" -> "1"))
      }
    // a temp view shadowing a table of the same name is what the name reads
    spark.read.parquet(s"graftcount:$local").createOrReplaceTempView("graft_base_t")
    spark.table("graft_base_t").count() shouldBe 5
    land(local)
    Refresh.refreshTable(spark, "graft_base_t")
    spark.table("graft_base_t").count() shouldBe 7
    spark.catalog.dropTempView("graft_base_t")
    spark.sql("DROP VIEW graft_persist_v")
    spark.catalog.dropTempView("graft_path_v")
    spark.sql("DROP TABLE graft_base_t")
  }

  test("E-R1 qualified names: default.t and spark_catalog.default.t") {
    val local = countedTable("graft_qual_t")
    spark.table("graft_qual_t").count() shouldBe 3
    land(local)
    Refresh.refreshTable(spark, "default.graft_qual_t")
    spark.table("graft_qual_t").count() shouldBe 5
    land(local)
    Refresh.refreshTable(spark, "spark_catalog.default.graft_qual_t")
    spark.table("graft_qual_t").count() shouldBe 7
    spark.sql("DROP TABLE graft_qual_t")
  }

  test("E-R1 an unknown table throws TABLE_OR_VIEW_NOT_FOUND") {
    for (name <- Seq("graft_no_such_t", "default.graft_no_such_t", "graft_no_such_db.t")) {
      intercept[AnalysisException](Refresh.refreshTable(spark, name))
        .getCondition shouldBe "TABLE_OR_VIEW_NOT_FOUND"
      intercept[AnalysisException](Refresh.refreshPartition(spark, name, Map("d" -> "1")))
        .getCondition shouldBe "TABLE_OR_VIEW_NOT_FOUND"
    }
  }

  test("E-R1 a table whose directory was deleted refreshes, and reads empty") {
    val local = countedTable("graft_gone_t")
    spark.table("graft_gone_t").count() shouldBe 3
    new java.io.File(local).listFiles().foreach(_.delete())
    new java.io.File(local).delete() shouldBe true
    Refresh.refreshTable(spark, "graft_gone_t")
    spark.table("graft_gone_t").count() shouldBe 0
    spark.sql("DROP TABLE graft_gone_t")
  }

  test("E-R6 refresh_partition matches values Hive path-escaping changes; spec errors stay IllegalArgument") {
    val local = Files.createTempDirectory("graft_escaped").toFile.getAbsolutePath
    val slots = Seq("10:00", "a=b", "x/y", "it's")
    slots.map(v => (1L, v, 1)).toDF("v", "slot", "n")
      .write.mode("overwrite").partitionBy("slot", "n").parquet(local)
    spark.sql("DROP TABLE IF EXISTS graft_esc_t")
    spark.sql(s"""CREATE TABLE graft_esc_t (v BIGINT, slot STRING, n INT)
      USING parquet PARTITIONED BY (slot, n) LOCATION '$local'""")
    spark.sql("ALTER TABLE graft_esc_t RECOVER PARTITIONS")
    def slotCount(v: String): Long = spark.table("graft_esc_t").filter(col("slot") === v).count()
    // every value is tried, so a failure names each value that does not refresh
    val outcomes = slots.map { v =>
      slotCount(v) shouldBe 1
      val dir = spark.sessionState.catalog
        .getPartition(TableIdentifier("graft_esc_t"), Map("slot" -> v, "n" -> "1")).location
      Seq(2L).toDF("v").coalesce(1).write.mode("append")
        .parquet(new org.apache.hadoop.fs.Path(dir).toString) // the URI's string re-escapes '%'
      slotCount(v) shouldBe 1 // stale file index
      val error = scala.util.Try(
        Refresh.refreshPartition(spark, "graft_esc_t", Map("slot" -> v, "n" -> "1"))
      ).failed.toOption.map(_.getMessage)
      (v, error, slotCount(v))
    }
    outcomes shouldBe slots.map(v => (v, None, 2L))
    val bad = Seq(
      Map("slot" -> "10:00", "n" -> "2"), // unknown partition
      Map("slot" -> "10:00"), // partial spec
      Map("SLOT" -> "10:00", "n" -> "1"), // wrong-case key
      Map("slot" -> "10:00", "n" -> "1", "x" -> "1"), // extra key
      Map("slot" -> "10%3A00", "n" -> "1")) // the escaped directory name is not the value
    for (spec <- bad)
      withClue(spec) {
        an[IllegalArgumentException] should be thrownBy
          Refresh.refreshPartition(spark, "graft_esc_t", spec)
      }
    spark.sql("DROP TABLE graft_esc_t")
  }

  test("E-R6 refresh_partition with cached data refreshes through Spark and recaches") {
    val local = Files.createTempDirectory("graft_pcache").toFile.getAbsolutePath
    Seq((1L, "a"), (2L, "b")).toDF("v", "p").write.mode("overwrite").partitionBy("p").parquet(local)
    spark.sql("DROP TABLE IF EXISTS graft_pcache_t")
    spark.sql(s"""CREATE TABLE graft_pcache_t (v BIGINT, p STRING)
      USING parquet PARTITIONED BY (p) LOCATION '$local'""")
    spark.sql("ALTER TABLE graft_pcache_t RECOVER PARTITIONS")
    spark.sql("CACHE TABLE graft_pcache_t")
    spark.table("graft_pcache_t").count() shouldBe 2
    land(s"$local/p=a")
    Refresh.refreshPartition(spark, "spark_catalog.default.graft_pcache_t", Map("p" -> "a"))
    spark.table("graft_pcache_t").count() shouldBe 4
    spark.table("graft_pcache_t").filter(col("p") === lit("a")).count() shouldBe 3
    spark.sql("UNCACHE TABLE graft_pcache_t")
    spark.sql("DROP TABLE graft_pcache_t")
  }

  test("E-R2 refresh_fanout: all targets refreshed, parallelism ≤ bound") {
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val action: String => Unit = { _ =>
      val now = inFlight.incrementAndGet()
      maxSeen.accumulateAndGet(now, math.max)
      Thread.sleep(100)
      inFlight.decrementAndGet()
      ()
    }
    val targets = (1 to 8).map(i => RefreshTarget(s"t$i"))
    val results = Refresh.refreshAll(spark, targets, 30.seconds, concurrency = 3, action = action)
    results.size shouldBe 8
    all(results.map(_.ok)) shouldBe true
    maxSeen.get() should be <= 3
    maxSeen.get() should be >= 2 // it actually ran concurrently
  }

  test("E-R3 refresh_timeout: slow target marked failed with duration recorded") {
    val action: String => Unit = {
      case "slow" => Thread.sleep(5000)
      case _      => ()
    }
    val results = Refresh.refreshAll(spark,
      Seq(RefreshTarget("fast"), RefreshTarget("slow")), 500.millis, 0, action)
    val byName = results.map(r => r.target -> r).toMap
    byName("fast").ok shouldBe true
    byName("slow").ok shouldBe false
    byName("slow").error.get should include("timed out")
    byName("slow").durationNanos should be > 0L // deviation: ref leaves 0
  }

  test("E-R3 failures keep the real error message (deviation from ref :59)") {
    val action: String => Unit = _ => throw new IllegalStateException("boom-detail")
    val results = Refresh.refreshAll(spark, Seq(RefreshTarget("x")), 5.seconds, 0, action)
    results.head.ok shouldBe false
    results.head.error.get should include("boom-detail")
  }

  test("E-R4 refresh_report: results surface as a typed Dataset") {
    val res = Seq(
      RefreshResult("a", ok = true, None, 10L),
      RefreshResult("b", ok = false, Some("err"), 20L))
    val ds = Refresh.report(spark, res)
    ds.schema.fieldNames.toSeq shouldBe Seq("target", "ok", "error", "durationNanos")
    ds.collect().toSeq shouldBe res
  }

  test("E-R5 refresh_exitcode: AND-fold ≡ forall (ref :173-180)") {
    Refresh.exitCode(Seq(RefreshResult("a", true, None, 1))) shouldBe 0
    Refresh.exitCode(Seq(
      RefreshResult("a", true, None, 1), RefreshResult("b", false, None, 1))) shouldBe 1
    Refresh.exitCode(Nil) shouldBe 1
  }

  test("R10 target parsing rejects empty segments (deviation from ref :170-172)") {
    Refresh.parseTargets("a, b ,c").map(_.name) shouldBe Seq("a", "b", "c")
    an[IllegalArgumentException] should be thrownBy Refresh.parseTargets("a,,b")
    an[IllegalArgumentException] should be thrownBy Refresh.parseTargets("")
    an[IllegalArgumentException] should be thrownBy Refresh.parseTargets("n1,")
  }

  test("R8/R9 CLI accepts the reference-shaped -table + -nodes invocation (ref :151-160)") {
    val ok = RefresherApp.parseArgs(Array("-table", "t1", "-nodes", "n1, n2,n3"))
    ok.isRight shouldBe true
    val cfg = ok.toOption.get
    cfg.table shouldBe Some("t1")
    cfg.targets.map(_.name) shouldBe Seq("n1", "n2", "n3")
    cfg.timeout shouldBe 60.seconds // ref default, impala-refresher.go:150
    cfg.concurrency shouldBe 0 // ref default = unlimited, :153
  }

  test("R8/R9 CLI requires BOTH -table and -nodes, like ref :157-160") {
    RefresherApp.parseArgs(Array("-table", "t1")).isLeft shouldBe true
    RefresherApp.parseArgs(Array("-nodes", "n1,n2")).isLeft shouldBe true
    RefresherApp.parseArgs(Array.empty[String]).isLeft shouldBe true
  }

  test("R8/R9 CLI rejects a non-integer -timeout or -concurrency with usage, like Go's flag") {
    RefresherApp.parseArgs(Array("-targets", "a", "-timeout", "x")).isLeft shouldBe true
    RefresherApp.parseArgs(Array("-targets", "a", "-concurrency", "x")).isLeft shouldBe true
    RefresherApp.parseArgs(Array("-table", "t1", "-nodes", "n1", "-timeout", "1.5")).isLeft shouldBe true
  }

  test("R8/R9 CLI rejects an unknown flag or a trailing flag with no value") {
    RefresherApp.parseArgs(Array("-targets", "a", "-bogus", "1")).isLeft shouldBe true
    RefresherApp.parseArgs(Array("-table", "t1", "-nodes", "n1", "-timeout")).isLeft shouldBe true
    RefresherApp.parseArgs(Array("-targets", "a", "-concurrency")).isLeft shouldBe true
  }

  test("R8/R9 CLI rejects an empty target segment with usage, not a throw") {
    RefresherApp.parseArgs(Array("-targets", "a,,b")).isLeft shouldBe true
    RefresherApp.parseArgs(Array("-table", "t1", "-nodes", "n1,")).isLeft shouldBe true
  }

  test("R8/R9 CLI engine-native -targets form still parses with flag overrides") {
    val cfg = RefresherApp.parseArgs(
      Array("-targets", "a,b", "-timeout", "5", "-concurrency", "2")).toOption.get
    cfg.table shouldBe None
    cfg.targets.map(_.name) shouldBe Seq("a", "b")
    cfg.timeout shouldBe 5.seconds
    cfg.concurrency shouldBe 2
  }
}
