package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `rows`: registered rows from `SparkEntry.queries`, one op per row, in a
  * seed-permuted order per pass; the loop runs whole passes until the run
  * time is used. An op is build (the `defs` builder,
  * including its eager jobs), plan (Catalyst + graft's rules, forced on the
  * final DataFrame) and exec (one pass over every output column, folded to
  * a digest that must match the one recorded for the row).
  */
final class Rows(ctx: Ctx) extends Workload {
  import Main.secondsSince
  import Rows.Op
  private val spark: SparkSession = ctx.spark
  private val rows: Seq[String] = Rows.Set
  private val fns: Map[String, (SparkSession, String) => DataFrame] = {
    val all = graft.SparkEntry.queries
    rows.map(r => r -> all.getOrElse(r, throw new IllegalStateException(s"row $r is not registered"))).toMap
  }
  private val expected = Expected.load(ctx.opts.expected, ctx.opts.scope)
  private val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var dir = ""

  /** One op; returns the timings, or the failure reason. */
  private def op(row: String): Either[String, Op] = {
    val (t0, c0) = (System.nanoTime(), Main.cpuNanos())
    try ctx.withTimeout(Main.OpTimeoutS) {
      val df = ctx.in("build")(fns(row)(spark, dir))
      val t1 = System.nanoTime()
      ctx.in("plan")(df.queryExecution.executedPlan)
      val (t2, c2) = (System.nanoTime(), Main.cpuNanos())
      val d = Digest.hex(ctx.in("exec")(Digest(df, ordered = true)))
      val (t3, c3) = (System.nanoTime(), Main.cpuNanos())
      val res = Op(row, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, (t3 - t0) / 1e9,
        (c3 - c0) / 1e9, (c3 - c2) / 1e9)
      if (ctx.opts.record) { recorded(row) = d; Right(res) }
      else expected.get(row) match {
        case Some(e) if e == d => Right(res)
        case Some(e) => Left(s"$row: digest $d, expected $e")
        case None => Left(s"$row: no recorded digest")
      }
    } catch { case t: Throwable => Left(s"$row: ${t.getClass.getSimpleName}: ${t.getMessage}") }
    finally ctx.releasePinned()
  }

  /** Fresh inputs, every fixture table resolved through graft's scan memo,
    * then every row once (artifact builds, fingerprints); a failure here
    * shows again in the timed loop, which runs every row.
    */
  def setup(d: String): Unit = {
    dir = Inputs.link(ctx.opts.inputs, s"$d/sf")
    Seq[(SparkSession, String) => DataFrame](graft.Tables.region, graft.Tables.nation,
      graft.Tables.customer, graft.Tables.supplier, graft.Tables.part, graft.Tables.orders,
      graft.Tables.lineitem, graft.Tables.events, graft.Tables.documents, graft.Tables.embeddings)
      .foreach(_(spark, dir))
    rows.foreach(op)
  }

  def warm(): Unit = (1 to Rows.WarmPasses).foreach(_ => rows.foreach(op))

  def run(seconds: Double): Outcome = {
    val rng = new scala.util.Random(ctx.opts.seed)
    val done = ArrayBuffer.empty[Op]
    val failed = ArrayBuffer.empty[String]
    var attempted = 0
    val t0 = System.nanoTime()
    // whole passes only, so every row weighs the same in every run
    while (secondsSince(t0) < seconds) {
      for (r <- rng.shuffle(rows)) {
        attempted += 1
        op(r) match {
          case Right(o) => done += o
          case Left(why) => failed += why
        }
      }
    }
    val wall = secondsSince(t0)
    if (ctx.opts.record) Expected.save(ctx.opts.expected, ctx.opts.scope, recorded.toSeq)
    val n = math.max(1, done.length).toDouble
    def mean(f: Op => Double) = done.map(f).sum / n
    val accounting = Map(
      "op_wall_s" -> mean(_.wall), "build_s" -> mean(_.build), "plan_s" -> mean(_.plan),
      "exec_s" -> mean(_.exec),
      "unaccounted_s" -> mean(o => o.wall - o.build - o.plan - o.exec))
    val layers = ctx.trace.fold(Map.empty[String, Double]) { t =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      val active = t.stageActiveSeconds(_ == "exec") / n
      Layers.exec(t, _ != "idle", n) ++ Map(
        "operators.build_s" -> mean(_.build),
        "operators.build_jobs" -> t.jobCount(_ == "build") / n,
        "plans.plan_s" -> mean(_.plan),
        "plans.catalyst_s" -> t.catalystSeconds / n,
        "exec.exec_s" -> mean(_.exec),
        "exec.stage_active_s" -> active,
        "exec.gap_s" -> (mean(_.exec) - active),
        "exec.jobs" -> t.jobCount(_ == "exec") / n,
        "exec.stages" -> t.stageCount(_ == "exec") / n,
        "sources.fs_list_calls" -> CountingLocalFs.lists.get / n) ++
        rows.map(r => s"row.$r.wall_s" -> Main.quantile(done.filter(_.row == r).map(_.wall).toSeq, 0.5))
    }
    Outcome(done.map(o => Cost(o.wall, o.cpu)).toSeq, done.map(o => Cost(o.exec, o.execCpu)).toSeq,
      attempted, failed.toSeq, wall, layers,
      accounting ++ Map("stage_active_s" -> layers.getOrElse("exec.stage_active_s", -1.0)))
  }
}

object Rows {
  /** Untimed passes after the set-ups; pass time levels off after about
    * five passes over the rows in one JVM.
    */
  val WarmPasses = 1

  final case class Op(row: String, build: Double, plan: Double, exec: Double, wall: Double,
      cpu: Double, execCpu: Double)

  /** The op set; see perfbench/README.md for how it was chosen. */
  val Set: Seq[String] = Seq(
    "q_agg_gsets",
    "q_join_asof_native",
    "q_scan_csv",
    "q_fn_array",
    "q_dedup_exact",
    "q_stream_dedup",
    "q_mm_audio_segments",
    "q_pipeline_shards",
    "q_sample_reservoir",
    "q_join_full",
    "q_serve_spansource_state")
}
