package graft

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-row layer profile: the one diagnostic main. For each registered
  * row it prints one `PROFILE {json}` line saying where the row's wall
  * time goes:
  *
  *   - `reps_s`, `median_s`: [[BenchUtil.measure]], Bench's own timing
  *     rule (true median, -1 if any rep fails, pinned state released);
  *   - then one more, profiled run of the row, split into layers:
  *     `build_s` / `build_jobs` — inside `fn(spark, sfDir)`, before the
  *     final action (eager checkpoints, artifact fingerprints, listings);
  *     `analysis_s` / `optimization_s` / `planning_s` — the Catalyst
  *     phases of the final action's QueryExecution; `stage_active_s` —
  *     wall time during which at least one of the action's stages ran;
  *     `gap_s` — the rest of the action (driver and scheduler time
  *     between stages); `wall_s` is build plus action;
  *   - the action's `jobs`, `stages`, `tasks` and task totals
  *     (`task_run_s`, `task_cpu_s`, `gc_s`, `shuffle_write_bytes`,
  *     `spill_bytes`, `input_bytes`), and its `final_plan` (the final
  *     adaptive plan);
  *   - `error`, only when the profiled run throws.
  *
  * Same session config and warm-up as Bench, same env vars
  * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS) and
  * defaults. Numbers are printed with Locale.ROOT.
  *
  * Usage: runMain graft.Profile [row ...]  (no rows: every registered row,
  * in sorted order).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val rows = SparkEntry.select(args.toSeq)
    val spark = GraftSession.start(GraftSession.cpus(4))
    try {
      BenchUtil.warmUp(spark)
      rows.foreach { case (n, fn) => println("PROFILE " + row(spark, sfDir, reps, n, fn)) }
    } finally spark.stop()
  }

  /** Profile one row in `spark`; returns the JSON object (no prefix). */
  def row(spark: SparkSession, sfDir: String, reps: Int, name: String,
      fn: (SparkSession, String) => DataFrame): String = {
    val timing = BenchUtil.measure(spark, sfDir, reps, fn)
    val sc = spark.sparkContext
    // drain before attaching, so the listener sees only the profiled run
    GraftPlanBridge.drainListenerBus(sc)
    val l = new Listener
    sc.addSparkListener(l)
    var buildS, actionS = 0.0
    var built: Option[Listener.Totals] = None
    var actionSession: Option[SparkSession] = None
    var error: Option[String] = None
    try {
      val t0 = System.nanoTime()
      val df = try fn(spark, sfDir) finally buildS = (System.nanoTime() - t0) / 1e9
      GraftPlanBridge.drainListenerBus(sc)
      built = Some(l.totals)
      // the action's QueryExecution reports to the session the row built
      // its DataFrame in, which need not be `spark` (newSession rows)
      actionSession = Some(df.sparkSession)
      df.sparkSession.listenerManager.register(l)
      val t1 = System.nanoTime()
      try df.count() finally actionS = (System.nanoTime() - t1) / 1e9
    } catch {
      case NonFatal(e) => error = Some(s"${e.getClass.getName}: ${e.getMessage}")
    } finally {
      try GraftPlanBridge.drainListenerBus(sc)
      finally {
        sc.removeSparkListener(l)
        actionSession.foreach(_.listenerManager.unregister(l))
      }
    }
    BenchUtil.releasePinned(spark)
    val end = l.totals
    // a build that threw ran no action: all it did is build
    val b = built.getOrElse(end)
    val a = end.since(b)
    val phases = a.qe.map(_.tracker.phases).getOrElse(Map.empty)
    def phase(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
    val catalyst = phase("analysis") + phase("optimization") + phase("planning")
    val active = Listener.union(a.stages)
    val finalPlan = a.qe.map { qe =>
      try qe.executedPlan match {
        case p: AdaptiveSparkPlanExec => p.executedPlan.toString
        case p => p.toString
      } catch { case NonFatal(_) => "" }
    }.getOrElse("")
    Json.obj(Seq(
      "row" -> Json.str(name),
      "reps_s" -> timing.reps.map(Json.num).mkString("[", ",", "]"),
      "median_s" -> Json.num(timing.median),
      "wall_s" -> Json.num(buildS + actionS),
      "build_s" -> Json.num(buildS),
      "build_jobs" -> b.jobs.toString,
      "analysis_s" -> Json.num(phase("analysis")),
      "optimization_s" -> Json.num(phase("optimization")),
      "planning_s" -> Json.num(phase("planning")),
      "jobs" -> a.jobs.toString,
      "stages" -> a.stages.length.toString,
      "tasks" -> a.tasks.toString,
      "stage_active_s" -> Json.num(active),
      "gap_s" -> Json.num(actionS - catalyst - active),
      "task_run_s" -> Json.num(a.runMs / 1e3),
      "task_cpu_s" -> Json.num(a.cpuNs / 1e9),
      "gc_s" -> Json.num(a.gcMs / 1e3),
      "shuffle_write_bytes" -> a.shuffleWrite.toString,
      "spill_bytes" -> a.spill.toString,
      "input_bytes" -> a.input.toString,
      "final_plan" -> Json.str(finalPlan)) ++
      error.map(e => "error" -> Json.str(e)))
  }

  /** Running totals of the jobs, stages and tasks the listener bus
    * delivered, plus the last QueryExecution that finished (registered
    * for the final action only, so the action's once the bus is drained).
    */
  private final class Listener extends SparkListener with QueryExecutionListener {
    private var t = Listener.Totals(0, Vector.empty, 0, 0, 0, 0, 0, 0, 0, None)
    def totals: Listener.Totals = synchronized(t)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { t = t.copy(jobs = t.jobs + 1) }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        synchronized { t = t.copy(stages = t.stages :+ ((s, c))) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      synchronized {
        t = if (m == null) t.copy(tasks = t.tasks + 1)
          else t.copy(tasks = t.tasks + 1, runMs = t.runMs + m.executorRunTime,
            cpuNs = t.cpuNs + m.executorCpuTime, gcMs = t.gcMs + m.jvmGCTime,
            shuffleWrite = t.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
            spill = t.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
            input = t.input + m.inputMetrics.bytesRead)
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { t = t.copy(qe = Some(qe)) }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized { t = t.copy(qe = Some(qe)) }
  }

  private object Listener {
    /** Stage spans are (submission, completion) epoch millis. */
    final case class Totals(jobs: Int, stages: Vector[(Long, Long)], tasks: Long,
        runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long, input: Long,
        qe: Option[QueryExecution]) {
      /** What happened after `b` was taken. */
      def since(b: Totals): Totals = Totals(jobs - b.jobs, stages.drop(b.stages.length),
        tasks - b.tasks, runMs - b.runMs, cpuNs - b.cpuNs, gcMs - b.gcMs,
        shuffleWrite - b.shuffleWrite, spill - b.spill, input - b.input, qe)
    }

    /** Seconds covered by the union of the spans. */
    def union(spans: Seq[(Long, Long)]): Double = {
      var total, curS, curE = 0L
      spans.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { total += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      (total + curE - curS) / 1e3
    }
  }

  /** Just enough JSON for one flat line, independent of the default locale. */
  private object Json {
    def num(v: Double): String = "%.4f".formatLocal(Locale.ROOT, v)
    def str(v: String): String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => "\\u%04x".formatLocal(Locale.ROOT, c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  }
}
