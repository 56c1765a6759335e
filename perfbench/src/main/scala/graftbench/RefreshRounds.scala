package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Refresh, RefreshResult, RefreshTarget}

/** `refresh`: catalog tables (`CREATE TABLE ... USING parquet LOCATION`)
  * over benchmark-owned copies of the fixture tables, plus `events`
  * partitioned by date and hour. A round lands small parquet files behind
  * the catalog's back in a seeded subset of tables and partitions, runs
  * `Refresh.refreshAll` over every table and every touched partition on a
  * window of nproc, then reads each touched target once and checks its
  * exact row count. An op is one `refreshAll` round; a read is the first
  * read of a touched target after it, which pays the re-list.
  */
final class RefreshRounds(ctx: Ctx) extends Workload {
  import Main.secondsSince
  import RefreshRounds._
  private val spark: SparkSession = ctx.spark
  private var rep = 0
  private var prefix = ""
  private var catalog = ""
  private var pool = ""
  private var partitions = IndexedSeq.empty[String]
  private val counts = scala.collection.mutable.Map.empty[String, Long]
  private var landed = 0
  private var rng: scala.util.Random = _

  private def table(t: String) = s"${prefix}_$t"

  def setup(d: String): Unit = {
    rep += 1
    prefix = s"bench$rep"
    val in = Inputs.link(ctx.opts.inputs, s"$d/in")
    catalog = s"$in/catalog"
    pool = s"$in/pool"
    landed = 0
    rng = new scala.util.Random(ctx.opts.seed)
    counts.clear()
    Files.readAllLines(Paths.get(s"$in/counts.tsv")).forEach { l =>
      val Array(k, v) = l.split("\t"); counts(k) = v.toLong
    }
    TableNames.foreach(t => spark.sql(s"CREATE TABLE ${table(t)} USING parquet LOCATION '$catalog/$t'"))
    spark.sql(s"""CREATE TABLE ${table("events")}
      (event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, event_date STRING, event_hour INT)
      USING parquet PARTITIONED BY (event_date, event_hour) LOCATION '$catalog/events'""")
    spark.sql(s"ALTER TABLE ${table("events")} RECOVER PARTITIONS")
    partitions = counts.keys.filter(_.startsWith("event_date=")).toIndexedSeq.sorted
  }

  /** A few rounds, so the timed rounds start on compiled code paths. */
  def warm(): Unit = (1 to WarmRounds).foreach(_ => round())

  /** Lands one pool file behind the catalog's back, in table `t` or in
    * events partition `part`; returns the target's key.
    */
  private def land(t: String, part: Option[String]): String = {
    landed += 1
    val key = part.getOrElse(t)
    val dst = part.fold(s"$catalog/$t")(p => s"$catalog/events/$p")
    Files.copy(Paths.get(s"$pool/$t.parquet"), Paths.get(dst, f"landed-$landed%06d.parquet"))
    counts(key) += counts(s"pool/$t")
    key
  }

  private def round(): Round = {
    val tables = rng.shuffle(TableNames).take(TablesPerRound).map(t => land(t, None))
    val parts = rng.shuffle(partitions).take(PartitionsPerRound).map(p => land("events", Some(p)))
    val targets = TableNames.map(table) ++ parts.map(p => s"${table("events")}/$p")
    val dispatched = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val t0 = System.nanoTime()
    val (results, cost) = Cost.of(ctx.in("refresh") {
      Refresh.refreshAll(spark, targets.map(RefreshTarget), timeout = TargetTimeout,
        concurrency = ctx.opts.nproc,
        action = name => name.split("/", 2) match {
          case Array(t, spec) =>
            Refresh.refreshPartition(spark, t, spec.split("/").map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v
            }.toMap)
          case Array(t) => Refresh.refreshTable(spark, t)
        },
        onDispatch = name => { dispatched.put(name, System.nanoTime()); () })
    })
    val failed = ArrayBuffer.empty[String]
    results.filterNot(_.ok).foreach(r => failed += s"refresh ${r.target}: ${r.error.getOrElse("failed")}")
    val reads = (tables ++ parts).map { key =>
      val (n, c) = Cost.of(ctx.in("read") {
        key.split("/") match {
          case Array(t) => spark.table(table(t)).count()
          case Array(d, h) => spark.table(table("events"))
            .filter(col("event_date") === d.stripPrefix("event_date=") &&
              col("event_hour") === h.stripPrefix("event_hour=").toInt).count()
        }
      })
      if (n != counts(key)) failed += s"read $key: $n rows, expected ${counts(key)}"
      c
    }
    val waits = dispatched.values().toArray.map(v => (v.asInstanceOf[java.lang.Long].longValue - t0) / 1e9).toSeq
    Round(cost, results, waits, reads, failed.toSeq, parts.map(p => s"${table("events")}/$p").toSet)
  }

  def run(seconds: Double): Outcome = {
    val rounds = ArrayBuffer.empty[Round]
    val errors = ArrayBuffer.empty[String]
    var attempted = 0
    val t0 = System.nanoTime()
    while (secondsSince(t0) < seconds) {
      attempted += 1
      try ctx.withTimeout(Main.OpTimeoutS) { rounds += round() }
      catch { case t: Throwable => errors += s"round $attempted: ${t.getClass.getSimpleName}: ${t.getMessage}" }
    }
    val wall = secondsSince(t0)
    val failed = errors.toSeq ++ rounds.flatMap(_.failed)
    val layers = ctx.trace.fold(Map.empty[String, Double]) { t =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      val n = math.max(1, rounds.length).toDouble
      def dur(p: (Round, RefreshResult) => Boolean) =
        rounds.flatMap(r => r.results.filter(p(r, _)).map(_.durationNanos / 1e9)).toSeq
      Layers.exec(t, _ != "idle", n) ++ Map(
        "exec.jobs" -> t.jobCount(_ != "idle") / n,
        "exec.stages" -> t.stageCount(_ != "idle") / n,
        "sources.fs_list_calls" -> CountingLocalFs.lists.get / n,
        "refresh.table_s" -> Main.quantile(dur((r, x) => !r.partTargets(x.target)), 0.5),
        "refresh.partition_s" -> Main.quantile(dur((r, x) => r.partTargets(x.target)), 0.5),
        "refresh.window_wait_s" -> Main.quantile(rounds.flatMap(_.waits).toSeq, 0.5),
        "refresh.fanout_overhead_s" -> Main.quantile(rounds.map(r =>
          r.cost.wall - r.results.map(_.durationNanos / 1e9).max).toSeq, 0.5),
        "refresh.timeouts" -> rounds.map(_.results.count(_.error.exists(_.contains("timed out")))).sum.toDouble)
    }
    Outcome(rounds.map(_.cost).toSeq, rounds.flatMap(_.reads).toSeq, attempted, failed, wall, layers)
  }
}

object RefreshRounds {
  final case class Round(cost: Cost, results: Seq[RefreshResult],
      waits: Seq[Double], reads: Seq[Cost], failed: Seq[String], partTargets: Set[String])

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")
  val TargetTimeout: FiniteDuration = 60.seconds
  /** Tables and events partitions landed into per round. */
  val TablesPerRound = 2
  val PartitionsPerRound = 3
  val WarmRounds = 10
}
