package graft

import graft.operators.CurationQueries
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spill-correctness probe: at 100 TB every hash aggregate and
  * sort-merge join WILL exceed execution memory and spill to disk, and
  * correctness must be indifferent to whether a partial aggregate was
  * merged in memory or through a spill file. This probe runs
  * representative shuffle-heavy operators under a starved memory
  * fraction (spark.memory.fraction=0.05 — execution memory a few
  * hundred MB instead of tens of GB) and checks, against the documented
  * expectation in a normally-sized session:
  *
  *   - results are row-for-row identical to the reference run;
  *   - spills actually happened (memory+disk spill bytes from task
  *     metrics) — otherwise the probe proved nothing and says so.
  *
  * Needs its own JVM (memory fraction is fixed at session build), so a
  * test main like RetryProbe; exits nonzero on mismatch.
  * Reference rows come from the same starved session BEFORE starving
  * can matter (memory fraction does not affect results by contract —
  * the cross-session equality is what InvarianceCheck/Verify already pin), so
  * the probe's real assertions are identity across two in-session runs
  * plus the nonzero spill counters.
  * Run: SPARK_DRIVER_MEM=1g sbt 'Test/runMain graft.SpillProbe'
  * (SPARK_GRAFT_SF_DIR, default sf0.1; with the default 8g heap nothing
  * spills at sf0.1 and the probe exits nonzero, a 1g heap makes the
  * sort-merge join spill).
  */
object SpillProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(8)
      // starve execution memory so aggregates/joins must spill
      .config("spark.memory.fraction", "0.05")
      .config("spark.memory.storageFraction", "0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var memSpill = 0L
    @volatile var diskSpill = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          memSpill += t.taskMetrics.memoryBytesSpilled
          diskSpill += t.taskMetrics.diskBytesSpilled
        }
    })

    var failures = 0
    def check(name: String, build: => DataFrame): Unit = {
      val before = (memSpill, diskSpill)
      val a = build.collect().map(_.toString).toSeq
      val b = build.collect().map(_.toString).toSeq
      val spilled = (memSpill - before._1, diskSpill - before._2)
      val ok = a == b && a.nonEmpty
      if (!ok) failures += 1
      println(s"SPILLPROBE $name rows=${a.size} identical=${a == b} " +
        s"mem_spilled_mb=${spilled._1 / 1048576} disk_spilled_mb=${spilled._2 / 1048576}")
    }

    check("boilerplate_shj_agg",
      CurationQueries.boilerplateOn(graft.Tables.documents(spark, sfDir)))
    check("dedup_exact", SparkEntryQuery("q_dedup_exact", spark, sfDir))
    check("sortmerge_join", SparkEntryQuery("q_join_sortmerge", spark, sfDir))
    check("window_rank", SparkEntryQuery("q_win_rank", spark, sfDir))

    println(s"SPILLPROBE total mem_spilled_mb=${memSpill / 1048576} " +
      s"disk_spilled_mb=${diskSpill / 1048576} (zero means the probe proved nothing at this SF)")
    spark.stop()
    if (failures > 0 || (memSpill == 0 && diskSpill == 0)) sys.exit(1)
  }

  private def SparkEntryQuery(name: String, s: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.queries(name)(s, dir)
}
