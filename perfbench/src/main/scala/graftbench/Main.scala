package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Wall and process CPU time of one timed span, in seconds. */
final case class Cost(wall: Double, cpu: Double)

object Cost {
  /** Runs `f` and returns its result with its cost. */
  def of[T](f: => T): (T, Cost) = {
    val (t0, c0) = (System.nanoTime(), Main.cpuNanos())
    val r = f
    (r, Cost(Main.secondsSince(t0), (Main.cpuNanos() - c0) / 1e9))
  }
}

/** What one timed phase produced. `ops` are the costs of the workload's
  * unit ops (a query, a batch absorbed by every maintainer, a refresh
  * round); `reads` are the costs of reading results back. Every op is
  * attempted and checked; a failing one is named in `failed`.
  */
final case class Outcome(ops: Seq[Cost], reads: Seq[Cost], attempted: Int,
    failed: Seq[String], wallS: Double, layers: Map[String, Double],
    accounting: Map[String, Double] = Map.empty)

/** One workload: `setup` prepares its inputs and state in a fresh
  * directory and, where the workload builds artifacts on first use, runs
  * every kind of op once on them (timed as one set-up); `warm` runs more
  * ops, untimed, on the last set-up, so the timed loop starts on compiled
  * code; `run` is the closed loop (one client, the next op starts when the
  * previous one returns).
  */
trait Workload {
  def setup(dir: String): Unit
  def warm(): Unit
  def run(seconds: Double): Outcome
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, inputs: String, nproc: Int, expected: String, scope: String, record: Boolean)

/** Shared context handed to every workload. */
final class Ctx(val spark: SparkSession, val opts: Opts, val trace: Option[Trace]) {
  def in[T](p: String)(f: => T): T = trace match {
    case Some(t) => t.in(spark.sparkContext, p)(f)
    case None => f
  }

  /** Drops memory-pinned state (localCheckpoint / cached blocks) between
    * ops, the same release graft's own timing harness applies.
    */
  def releasePinned(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private val watchdog = Executors.newSingleThreadScheduledExecutor { (r: Runnable) =>
    val t = new Thread(r, "graftbench-watchdog"); t.setDaemon(true); t
  }

  /** Runs `f`, cancelling every running job if it has not returned within
    * `limitS`; the op then fails with the cancellation.
    */
  def withTimeout[T](limitS: Double)(f: => T): T = {
    val job: ScheduledFuture[_] = watchdog.schedule(
      (() => spark.sparkContext.cancelAllJobs()): Runnable, (limitS * 1000).toLong, TimeUnit.MILLISECONDS)
    try f finally job.cancel(false)
  }

  def shutdown(): Unit = watchdog.shutdownNow()
}

object Main {
  val OpTimeoutS = 120.0
  val SetUps = 3

  /** A JSON number with every digit the double carries (locale-free). */
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => c.toString
    } + "\""

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Median op latency of each third of the timed loop, in order: a
    * trend across them means the run was still warming up.
    */
  def thirds(xs: Seq[Double]): Seq[Double] = {
    val k = math.max(1, (xs.length + 2) / 3)
    xs.grouped(k).map(quantile(_, 0.5)).toSeq
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads. The guest kernel leaves out
    * the time its host took the CPU away (steal), which wall time includes.
    */
  def cpuNanos(): Long = os.getProcessCpuTime

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Share of all CPU time of the machine that its host took for others
    * (steal) between two `/proc/stat` readings; every timing rises with it.
    */
  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = a.indices.map(i => b(i) - a(i))
    if (d.sum == 0) 0.0 else d(7).toDouble / d.sum
  }

  def procStat(): Array[Long] =
    new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8).split("\n")(0)
      .trim.split("\\s+").slice(1, 9).map(_.toLong)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
      .split("\n").find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim.split(" ").take(3).mkString("[", ",", "]")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("inputs"), need("nproc").toInt, need("expected"), need("scope"),
      m.get("record").contains("1"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val trace = if (o.trace) Some(new Trace) else None
    val b = SparkSession.builder()
      .master(s"local[${o.nproc}]")
      .config("spark.sql.shuffle.partitions", o.nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
    trace.foreach(_ => b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val ctx = new Ctx(spark, o, trace)
    val w: Workload = o.workload match {
      case "rows" => new Rows(ctx)
      case "maintain" => new Maintain(ctx)
      case "refresh" => new RefreshRounds(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val setupTimes = (1 to SetUps).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"${o.work}/setup-$i")
      secondsSince(t0)
    }
    val tw = System.nanoTime()
    w.warm()
    val warmS = secondsSince(tw)
    trace.foreach { t => org.apache.spark.graftbench.Bus.drain(spark.sparkContext); t.clear() }
    CountingLocalFs.lists.set(0)
    val stat0 = procStat()
    val out = w.run(o.seconds)
    val steal = stealShare(stat0, procStat())
    ctx.shutdown()

    // CPU time per op is a mean: the clock ticks in 10 ms, and steal, which
    // makes wall times jump, does not reach it
    val e2e = Seq(
      "setup_s" -> quantile(setupTimes, 0.5),
      "op_cpu_s" -> mean(out.ops.map(_.cpu)),
      "read_cpu_s" -> mean(out.reads.map(_.cpu)),
      "peak_rss_mb" -> peakRssMb())
    val wall = Seq(
      "op_p50_s" -> quantile(out.ops.map(_.wall), 0.5),
      "read_p50_s" -> quantile(out.reads.map(_.wall), 0.5),
      "ops_per_s" -> out.ops.length / out.wallS)
    def obj(kv: Seq[(String, Double)]) = kv.map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }.mkString("{", ",", "}")
    val stamp = Seq(
      "workload" -> jsonStr(o.workload), "seed" -> o.seed.toString, "nproc" -> o.nproc.toString,
      "loadavg" -> loadAvg(), "setups_s" -> setupTimes.map(num).mkString("[", ",", "]"),
      "warm_s" -> num(warmS), "ops" -> out.ops.length.toString, "reads" -> out.reads.length.toString,
      "op_p50_by_third_s" -> thirds(out.ops.map(_.wall)).map(num).mkString("[", ",", "]"),
      "timed_wall_s" -> num(out.wallS), "timed_steal_share" -> num(steal),
      "failed_ops" -> out.failed.map(jsonStr).mkString("[", ",", "]"),
      "e2e" -> obj(e2e), "wall" -> obj(wall),
      "accounting" -> obj(out.accounting.toSeq.sortBy(_._1)))
    println("GRAFTBENCH_STAMP " + stamp.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}"))
    // values only: perfbench/run.py attaches each metric's unit from BENCHMARK.json
    val metrics = obj(if (o.trace) out.layers.toSeq.sortBy(_._1) else e2e)
    println(s"""GRAFTBENCH_RESULT {"correct":${out.failed.isEmpty},"attempted":${out.attempted},""" +
      s""""failed":${out.failed.length},"metrics":$metrics}""")
    spark.stop()
  }
}
