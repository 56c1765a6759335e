package graft

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** graft.Profile's per-row line and the timing rule it shares with Bench
  * (BenchUtil.measure).
  */
class ProfileSpec extends SparkTestBase with Matchers {
  private val Fields = Seq("row", "reps_s", "median_s", "wall_s", "build_s", "build_jobs",
    "analysis_s", "optimization_s", "planning_s", "jobs", "stages", "tasks",
    "stage_active_s", "gap_s", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "final_plan")

  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)

  private def profile(name: String, reps: Int, fn: (SparkSession, String) => DataFrame): JsonNode =
    parse(Profile.row(spark, sfTiny, reps, name, fn))

  test("a registered row: every field, one reps_s entry per rep, jobs ran inside the wall time, the final plan") {
    val name = "q_agg_gsets"
    val p = profile(name, 3, SparkEntry.queries(name))
    p.fieldNames().asScala.toSet shouldBe Fields.toSet
    p.get("row").asText shouldBe name
    p.get("reps_s").size shouldBe 3
    val reps = p.get("reps_s").elements().asScala.map(_.asDouble).toSeq.sorted
    p.get("median_s").asDouble shouldBe reps(1) +- 1e-4
    p.get("jobs").asLong should be >= 1L
    p.get("stages").asLong should be >= 1L
    p.get("tasks").asLong should be >= 1L
    val wall = p.get("wall_s").asDouble
    wall shouldBe (p.get("build_s").asDouble + p.get("stage_active_s").asDouble +
      p.get("analysis_s").asDouble + p.get("optimization_s").asDouble +
      p.get("planning_s").asDouble + p.get("gap_s").asDouble) +- 1e-3
    p.get("stage_active_s").asDouble should be > 0.0
    p.get("stage_active_s").asDouble should be <= wall
    val plan = p.get("final_plan").asText
    plan should not be empty
    plan should not include ("isFinalPlan=false")
  }

  test("build jobs are counted apart from the action's jobs") {
    val p = profile("checkpointed", 1, (s, _) => {
      val pinned = s.range(0, 1000, 1, 4).withColumn("k", col("id") % 7).localCheckpoint()
      pinned.groupBy("k").count()
    })
    p.get("build_jobs").asLong should be >= 1L
    p.get("jobs").asLong should be >= 1L
    p.get("build_s").asDouble should be > 0.0
    p.has("error") shouldBe false
  }

  test("a row that builds in its own session still reports its action's Catalyst phases and final plan") {
    val p = profile("own_session", 1, (s, _) => {
      val s2 = s.newSession()
      s2.range(0, 1000, 1, 4).groupBy(col("id") % 5).count()
    })
    p.get("final_plan").asText should include ("HashAggregate")
    p.get("final_plan").asText should not include ("isFinalPlan=false")
    (p.get("analysis_s").asDouble + p.get("optimization_s").asDouble +
      p.get("planning_s").asDouble) should be > 0.0
  }

  test("a row that throws reports median_s -1 and an error, like Bench") {
    val inBuild = profile("throws_in_build", 2, (_, _) => throw new IllegalStateException("boom"))
    inBuild.get("median_s").asDouble shouldBe -1.0
    inBuild.get("error").asText should include ("boom")
    inBuild.get("reps_s").size shouldBe 2
    inBuild.get("jobs").asLong shouldBe 0L

    val inAction = profile("throws_in_action", 1,
      (s, _) => s.range(0, 10, 1, 2).filter(raise_error(lit("action boom")).isNull).toDF())
    inAction.get("median_s").asDouble shouldBe -1.0
    inAction.get("error").asText should include ("action boom")
    Fields.foreach(f => inAction.has(f) shouldBe true)
  }

  test("a comma-decimal default locale still prints '.' decimals") {
    val saved = Locale.getDefault
    val line = try {
      Locale.setDefault(Locale.GERMANY)
      Profile.row(spark, sfTiny, 2, "locale",
        (s, _) => s.range(0, 1000, 1, 4).groupBy(col("id") % 3).count())
    } finally Locale.setDefault(saved)
    val p = parse(line)
    p.fieldNames().asScala.toSet shouldBe Fields.toSet
    p.get("median_s").isDouble shouldBe true
    p.get("reps_s").elements().asScala.foreach(_.isDouble shouldBe true)
    p.get("median_s").asDouble should be > 0.0
    line should not include regex ("\"median_s\":-?\\d+,\\d")
  }

  test("BenchUtil.measure: true median for 2 and 3 reps, -1 when any rep throws") {
    def sleeping(ms: Seq[Long]): (SparkSession, String) => DataFrame = {
      val it = ms.iterator
      (s, _) => { Thread.sleep(it.next()); s.range(1).toDF() }
    }
    val two = BenchUtil.measure(spark, sfTiny, 2, sleeping(Seq(400, 50)))
    two.reps should have size 2
    two.reps(0) should be > two.reps(1)                 // run order, not sorted
    two.median shouldBe (two.reps(0) + two.reps(1)) / 2.0
    two.median should be < two.reps(0)                  // not the upper-middle rep

    val three = BenchUtil.measure(spark, sfTiny, 3, sleeping(Seq(600, 0, 300)))
    three.reps should have size 3
    three.median shouldBe three.reps(2)
    three.median shouldBe three.reps.sorted.apply(1)

    var n = 0
    val flaky: (SparkSession, String) => DataFrame = (s, _) => {
      n += 1
      if (n == 2) throw new RuntimeException("rep 2 fails")
      s.range(1).toDF()
    }
    val failed = BenchUtil.measure(spark, sfTiny, 3, flaky)
    failed.median shouldBe -1.0
    failed.reps should have size 3
    n shouldBe 3
  }
}
