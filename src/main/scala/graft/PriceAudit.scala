package graft
import org.apache.spark.sql.functions._

/** Count-vs-materialization pricing audit (r12 verdict item 3): Bench
  * prices `.count()`, and Catalyst prunes output-only expression trees
  * under a count — a row whose expensive arithmetic feeds only final
  * output columns benches cheaper than it serves (the r12 bootstrap
  * measured 8.4 s materialized vs ~2 s counted before its repricing).
  * This sweep times every registered query under BOTH sinks:
  *
  *   count: `fn(...).count()` — Bench's convention;
  *   mat:   `fn(...).select(xxhash64(struct(*))).agg(sum)` — every output
  *          column computes per row, one skinny long leaves the executors
  *          (collect would add driver transfer that isn't query cost).
  *          Map-typed outputs hash via to_json (xxhash64 can't hash maps).
  *
  * Prints one line per query (count_s, mat_s, ratio) and a final summary
  * of >2x divergers; findings land in PERF.md. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.PriceAudit"
  */
object PriceAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val selected = SparkEntry.select(args.toSeq)
    val spark = GraftSession.start(GraftSession.cpus(32))
    BenchUtil.warmUp(spark)
    def time(body: => Unit): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }.sorted
      BenchUtil.releasePinned(spark)
      // upper-middle element: for reps=2 this is the max — deliberately
      // conservative for an audit (Bench's k=3 true median differs; the
      // count and mat sides here use the SAME estimator, so ratios hold)
      ts(ts.length / 2)
    }
    val rows = selected
      .flatMap { case (name, fn) =>
        try {
          val tCount = time { fn(spark, sfDir).count(): Unit }
          val tMat = time {
            val df = fn(spark, sfDir)
            def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
              case _: org.apache.spark.sql.types.MapType => true
              case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
              case st: org.apache.spark.sql.types.StructType => st.fields.exists(f => hasMap(f.dataType))
              case _ => false
            }
            val hashable = df.schema.fields.map { f =>
              val c = col(f.name)
              if (hasMap(f.dataType)) to_json(c).as(f.name) else c
            }
            df.select(xxhash64(struct(hashable: _*)).as("__h"))
              .agg(expr("bit_xor(__h)")).collect(): Unit
          }
          val ratio = tMat / math.max(tCount, 1e-9)
          println(f"PRICEAUDIT $name count=$tCount%.3f mat=$tMat%.3f ratio=$ratio%.2f")
          Some((name, tCount, tMat, ratio))
        } catch {
          case t: Throwable =>
            println(s"PRICEAUDIT $name ERROR ${t.getClass.getSimpleName}: ${t.getMessage}")
            None
        }
      }
    val divergers = rows.filter { case (_, c, m, r) => r > 2.0 && m - c >= 0.3 }
      .sortBy { case (_, _, _, r) => -r }
    println(f"PRICEAUDIT SUMMARY n=${rows.length} " +
      f"count_total=${rows.map(_._2).sum}%.1f mat_total=${rows.map(_._3).sum}%.1f " +
      s"divergers_gt2x=${divergers.length}")
    divergers.foreach { case (n, c, m, r) =>
      println(f"PRICEAUDIT DIVERGER $n count=$c%.2f mat=$m%.2f ratio=$r%.2f")
    }
    spark.stop()
  }
}
