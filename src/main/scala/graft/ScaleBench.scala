package graft

/** Scale-slope certification harness (r13 verdict item 1): time the
  * heaviest registered rows at three fixture decades (sf0.01 / sf0.1 /
  * the [[ScaleFixtureGen]]-derived sf1) and report per-row wall clocks
  * plus decade-over-decade ratios, so the "would this hold at 100 TB"
  * claim rests on measured slopes instead of sf0.01→sf0.1 extrapolation
  * alone. Pricing follows Bench exactly (`.count()`, releasePinned
  * between queries, median of reps) so the sf0.1 column is comparable
  * to the committed bench history.
  *
  * Usage: `runMain graft.ScaleBench [out.json] [label=dir ...]`
  * (defaults: SCALE.json, 0.01=/root/testdata/sf0.01,
  * 0.1=/root/testdata/sf0.1, 1=target/sf1).
  */
object ScaleBench {

  /** The 15 heaviest registered rows per the r13 canonical bench — the
    * verdict's plan-audit list plus its named additions, filled to 15
    * from the sorted r13 map. Override with SPARK_GRAFT_SCALE_ROWS
    * (comma-separated) to slope-measure a different tier.
    */
  private val Rows = sys.env.get("SPARK_GRAFT_SCALE_ROWS")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .getOrElse(Seq(
      // q_sim_jaccard_bucketed left the registered bench in r15 (its 69×
      // slope is the r14-measured, scaladoc-declared quadratic bound);
      // q_fn_xml takes its slot — the suite's biggest single line item
      // after the r15 hashed-slice cap, and never decade-measured before
      "q_pipeline_curate", "q_vec_knn_graph_lsh", "q_sim_containment_prefix",
      "q_ts_trend", "q_vec_pq", "q_dedup_near_salted", "q_fn_xml",
      "q_stat_mad", "q_text_boilerplate", "q_vec_knn_graph_incr_lsh",
      "q_text_winnow_spans", "q_text_span_source", "q_stat_spearman",
      "q_dedup_near_bucketed", "q_ann_ivfpq"))

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("SCALE.json")
    val dirs: Seq[(String, String)] =
      if (args.length > 1) args.drop(1).toSeq.map { a =>
        val Array(k, v) = a.split("=", 2); (k, v)
      }
      else Seq("0.01" -> "/root/testdata/sf0.01",
        "0.1" -> "/root/testdata/sf0.1", "1" -> "target/sf1")
    val cpus = GraftSession.cpus(16)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val spark = GraftSession.start(cpus)
    BenchUtil.warmUp(spark)

    val loadStart = BenchUtil.loadAvg()
    // walk sf-major so each decade's artifact builds (scaleTag-keyed
    // indexes) amortize across that decade's reps exactly as in Bench
    val cells: Seq[(String, String, Double)] = dirs.flatMap { case (label, dir) =>
      Rows.map { name =>
        val fn = SparkEntry.queries(name)
        var failed = false
        val times = (1 to reps).map { _ =>
          BenchUtil.releasePinned(spark)
          val t0 = System.nanoTime()
          try { fn(spark, dir).count() } catch { case _: Throwable => failed = true }
          (System.nanoTime() - t0) / 1e9
        }.sorted
        val med =
          if (failed) -1.0
          else if (times.length % 2 == 1) times(times.length / 2)
          else (times(times.length / 2 - 1) + times(times.length / 2)) / 2.0
        println(f"[scale] $label%-5s $name%-28s $med%8.3f s")
        (name, label, med)
      }
    }
    val loadEnd = BenchUtil.loadAvg()

    val labels = dirs.map(_._1)
    val byRow = cells.groupBy(_._1)
    val rowsJson = Rows.map { name =>
      val m = byRow(name).map { case (_, l, t) => l -> t }.toMap
      val walls = labels.map(l => s""""$l":${m(l)}""").mkString(",")
      val ratios = labels.sliding(2).collect {
        case Seq(a, b) if m(a) > 0 && m(b) >= 0 =>
          s""""x${b}_over_$a":${math.rint(m(b) / m(a) * 100) / 100.0}"""
      }.mkString(",")
      s""""$name":{$walls${if (ratios.nonEmpty) "," + ratios else ""}}"""
    }.mkString(",")
    val json = s"""{"metric":"scale_slopes","cpus":"$cpus","reps":$reps,""" +
      s""""dirs":{${dirs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}},""" +
      s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
      s""""rows":{$rowsJson}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
