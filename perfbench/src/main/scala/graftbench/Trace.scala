package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting for the traced run. The benchmark marks which
  * phase of an op its own thread is in (build, plan, exec, ingest, ...);
  * the listener files every job, stage and task under the phase that was
  * current when its job started. Spans are kept in memory and summarised
  * when the run ends.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._
  @volatile private var phase: String = "idle"
  private val stagePhase = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stages = new ConcurrentLinkedQueue[StageSpan]()
  private val tasks = new ConcurrentLinkedQueue[TaskSum]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val planningNs = new AtomicLong()

  /** Runs `f` with every job it starts filed under `p`: the phase rides
    * on the job's local properties, which threads started inside `f`
    * inherit; jobs from older pool threads fall back to the phase current
    * when the listener sees them.
    */
  def in[T](sc: org.apache.spark.SparkContext, p: String)(f: => T): T = {
    val prev = phase
    phase = p
    sc.setLocalProperty(Trace.PhaseKey, p)
    try f finally { phase = prev; sc.setLocalProperty(Trace.PhaseKey, prev) }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(Trace.PhaseKey))).getOrElse(phase)
    e.stageIds.foreach(stagePhase.put(_, p))
    jobs.add(p)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(StageSpan(stagePhase.getOrDefault(i.stageId, "idle"), s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskSum(stagePhase.getOrDefault(e.stageId, "idle"), m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planningNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L): Unit

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Catalyst time over every query execution the listener saw. */
  def catalystSeconds: Double = planningNs.get / 1e9

  def clear(): Unit = { stages.clear(); tasks.clear(); jobs.clear(); planningNs.set(0) }

  def jobCount(p: String => Boolean): Int = jobs.asScala.count(p)

  /** Wall time during which at least one stage of the selected phases ran. */
  def stageActiveSeconds(p: String => Boolean): Double = {
    val iv = stages.asScala.filter(s => p(s.phase)).map(s => (s.start, s.end)).toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  def stageCount(p: String => Boolean): Int = stages.asScala.count(s => p(s.phase))

  def taskTotals(p: String => Boolean): TaskSum =
    tasks.asScala.filter(t => p(t.phase)).foldLeft(TaskSum("", 0, 0, 0, 0, 0, 0)) { (a, t) =>
      TaskSum("", a.runMs + t.runMs, a.cpuNs + t.cpuNs, a.gcMs + t.gcMs,
        a.shuffleWrite + t.shuffleWrite, a.spill + t.spill, a.input + t.input)
    }

  def taskCount(p: String => Boolean): Int = tasks.asScala.count(t => p(t.phase))
}

object Trace {
  val PhaseKey = "graftbench.phase"
  final case class StageSpan(phase: String, start: Long, end: Long)
  final case class TaskSum(phase: String, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, input: Long)
}

/** Local filesystem that counts directory listings: registered as the
  * `file` scheme in the traced run, so every listing graft, Spark's file
  * index and the catalog make goes through it.
  */
class CountingLocalFs extends LocalFileSystem {
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listStatus(p)
  }
}

object CountingLocalFs {
  val lists = new AtomicLong()
}
