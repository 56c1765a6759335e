package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decade certification for the maintainer SERVE family (r14 verdict
  * item 4): none of the 28 slope-certified rows was a q_serve_*_state
  * row — the serve contract (bounded segments via compaction, state
  * reads independent of batch count) was spec'd at fixture scale but
  * never MEASURED under an sf1-scale ingest. This harness runs, per
  * decade (sf0.01 / sf0.1 / the ScaleFixtureGen-derived sf1) and per
  * family (trend, neardup, winnow):
  *
  *  1. a FRESH [[Batches]]-batch ingest into a scratch state dir —
  *     18 batches so IncrementalWinnow's 16-segment auto-compaction
  *     trigger fires mid-ingest exactly as in steady state; trend
  *     batches split BY TIME SLICE (the documented append-by-time
  *     arrival the touched×history cost contract assumes), neardup /
  *     winnow by doc-id hash (content-keyed state is split-invariant);
  *  2. the serve read, twice: `serve_first` (cold FS caches) and
  *     `serve_steady` (the number a serving deployment pays per query).
  *
  * The committed artifact (SCALE_serve.json) carries ingest wall,
  * per-batch mean, both serve walls, and decade-over-decade ratios —
  * the documented bounds are: ingest ~linear per decade (each document/
  * event is extracted once ever; trend pays touched×history per batch),
  * serve independent of batch count (bounded segment count via
  * compaction; trend serve reads a #series-row moments table).
  *
  * Usage: `runMain graft.ServeScaleBench [out.json] [label=dir ...]`.
  */
object ServeScaleBench {

  private val Batches = 18

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("SCALE_serve.json")
    val dirs: Seq[(String, String)] =
      if (args.length > 1) args.drop(1).toSeq.map { a =>
        a.split("=", 2) match {
          case Array(k, v) => (k, v)
          case _ => sys.error(
            s"ServeScaleBench: expected <label>=<dir>, got '$a' (usage: ServeScaleBench [out.json] [sf=dir ...])")
        }
      }
      else Seq("0.01" -> "/root/testdata/sf0.01",
        "0.1" -> "/root/testdata/sf0.1", "1" -> "target/sf1")
    val cpus = GraftSession.cpus(16)
    val spark = GraftSession.start(cpus)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    /** One family cell: fresh state base, Batches-batch ingest, serve ×2. */
    def runFamily(label: String, dir: String, family: String,
        ingest: (String, String) => Unit,
        serve: String => DataFrame,
        extra: String => String): String = {
      val base = graft.sources.GraftFs.qualify(spark,
        s"target/serve-scale/$label/$family")
      graft.sources.GraftFs.deleteRecursively(spark, base)
      BenchUtil.releasePinned(spark)
      val tIngest = timed(ingest(dir, base))
      BenchUtil.releasePinned(spark)
      val tServe1 = timed(serve(base).count())
      BenchUtil.releasePinned(spark)
      val tServe2 = timed(serve(base).count())
      val ex = extra(base)
      println(f"[serve-scale] $label%-5s $family%-8s ingest $tIngest%8.2f s " +
        f"(${tIngest / Batches}%6.3f s/batch)  serve $tServe1%7.3f / $tServe2%7.3f s  $ex")
      s""""$family":{"ingest_s":$tIngest,"batch_mean_s":${tIngest / Batches},""" +
        s""""serve_first_s":$tServe1,"serve_steady_s":$tServe2,"batches":$Batches$ex}"""
    }

    def trendIngest(dir: String, base: String): Unit = {
      val raw = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"),
          col("event_type").as("g"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
            .cast(org.apache.spark.sql.types.LongType).as("x"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
          (col("value").cast(org.apache.spark.sql.types.DecimalType(12, 2)) * 100)
            .cast(org.apache.spark.sql.types.LongType).as("m"))
        .localCheckpoint()
      // time-ordered arrival: slice the hour axis into Batches contiguous
      // windows — the ingest pattern the touched×history contract assumes
      val bounds = raw.agg(min("h"), max("h")).collect().head
      require(!bounds.isNullAt(0),
        s"trendIngest: events table under $dir is empty — nothing to certify")
      val (hMin, hMax) = (bounds.getLong(0), bounds.getLong(1))
      val span = math.max(1L, hMax - hMin + 1)
      for (i <- 0 until Batches) {
        val lo = hMin + span * i / Batches
        val hi = hMin + span * (i + 1) / Batches
        graft.streaming.IncrementalTrend.processBatch(spark,
          raw.filter(col("h") >= lo && col("h") < hi), base, Some(i.toLong))
      }
    }

    def docSplitIngest(process: (DataFrame, String, Option[Long]) => Unit)(
        dir: String, base: String): Unit = {
      val docs = Tables.documents(spark, dir).localCheckpoint()
      for (i <- 0 until Batches)
        process(docs.filter(
          pmod(graft.functions.PortableHash.idMod(col("doc_id")), lit(Batches)) === i),
          base, Some(i.toLong))
    }

    val loadStart = BenchUtil.loadAvg()
    val cells = dirs.map { case (label, dir) =>
      val fams = Seq(
        runFamily(label, dir, "trend", trendIngest,
          b => graft.streaming.IncrementalTrend.serveTrend(spark, b), _ => ""),
        runFamily(label, dir, "neardup",
          docSplitIngest((b, p, id) =>
            graft.streaming.IncrementalDedup.processBatch(spark, b, p, id)),
          b => graft.streaming.IncrementalDedup.readPairs(spark, b), _ => ""),
        runFamily(label, dir, "winnow",
          docSplitIngest((b, p, id) =>
            graft.streaming.IncrementalWinnow.processBatch(spark,
              b.select("doc_id", "text"), p, id)),
          b => graft.streaming.IncrementalWinnow.serveWinnowPairs(spark, b),
          // the auto-compaction proof: live segments stay bounded (< 16)
          // after 18 batches BECAUSE the fold fired mid-ingest
          b => s""","live_segs":${
            graft.streaming.IncrementalWinnow.currentState(spark, b).segs.size}"""))
      s""""$label":{${fams.mkString(",")}}"""
    }
    val loadEnd = BenchUtil.loadAvg()
    val json = s"""{"metric":"serve_scale","cpus":"$cpus","batches":$Batches,""" +
      s""""dirs":{${dirs.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")}},""" +
      s""""loadavg_start":$loadStart,"loadavg_end":$loadEnd,""" +
      s""""decades":{${cells.mkString(",")}}}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
    println(json)
    spark.stop()
  }
}
