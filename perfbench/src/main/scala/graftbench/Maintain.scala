package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.streaming._

/** `maintain`: the five CAS-log maintainers absorb the documents and
  * events in seeded batches. Documents (content-keyed state) are split by
  * a seed-salted doc-id hash; trend rows by seeded cut points on the hour
  * axis, in time order. An op is one batch absorbed by all five; after it
  * every maintainer serves one read. An epoch absorbs all `Batches`
  * batches into fresh state directories; its final serve of each
  * maintainer must equal the same serve over a one-shot state of the same
  * input, which is the maintainers' split-invariance contract.
  */
final class Maintain(ctx: Ctx) extends Workload {
  import Main.secondsSince
  import Maintain._
  private val spark: SparkSession = ctx.spark
  private val seed = ctx.opts.seed

  private var dir = ""
  private var docs: DataFrame = _
  private var trendRows: DataFrame = _
  private var embeddings: DataFrame = _
  private var hourCuts: Array[Long] = _
  private var inputBytes = 0L
  private var oneShot: Map[String, String] = Map.empty

  private def docBatch(lo: Int, hi: Int): DataFrame =
    docs.filter(col("bench_batch") >= lo && col("bench_batch") < hi).drop("bench_batch")

  private def trendBatch(lo: Int, hi: Int): DataFrame =
    trendRows.filter(col("h") >= hourCuts(lo) && col("h") < hourCuts(hi))

  /** Batches [lo, hi) as one input, absorbed by maintainer `m`. */
  private def ingest(m: String, base: String, lo: Int, hi: Int, id: Long): Unit = m match {
    case "index" => IncrementalIndex.processBatch(spark, docBatch(lo, hi), base, Some(id))
    case "span" => IncrementalSpan.processBatch(spark, docBatch(lo, hi).select("doc_id", "text"), base, Some(id))
    case "dedup" => IncrementalDedup.processBatch(spark, docBatch(lo, hi), base, Some(id)): Unit
    case "winnow" => IncrementalWinnow.processBatch(spark, docBatch(lo, hi).select("doc_id", "text"), base, Some(id))
    case "trend" => IncrementalTrend.processBatch(spark, trendBatch(lo, hi), base, Some(id))
  }

  private def serve(m: String, base: String): DataFrame = m match {
    case "index" => IncrementalIndex.serveHybrid(spark, base, embeddings)
    case "span" => IncrementalSpan.serveSpanSource(spark, base)
    case "dedup" => IncrementalDedup.readPairs(spark, base)
    case "winnow" => IncrementalWinnow.serveWinnowPairs(spark, base)
    case "trend" => IncrementalTrend.serveTrend(spark, base)
  }

  private def digest(m: String, base: String): String =
    Digest.hex(Digest(serve(m, base), ordered = false))


  def setup(d: String): Unit = {
    dir = Inputs.link(ctx.opts.inputs, s"$d/sf")
    inputBytes = Inputs.usage(s"$dir/documents.parquet")._1 + Inputs.usage(s"$dir/events.parquet")._1
    embeddings = Tables.embeddings(spark, dir)
    val salt = seed * 0x9E3779B97F4A7C15L
    docs = Tables.documents(spark, dir)
      .withColumn("bench_batch", pmod(xxhash64(col("doc_id"), lit(salt)), lit(Batches.toLong)).cast("int"))
    val cents = col("value").cast(DecimalType(12, 2)) * 100
    trendRows = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type").as("g"),
        expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("h"),
        cents.cast(LongType).as("x"), expr("unix_micros(cast(ts as timestamp))").as("ts_us"),
        cents.cast(LongType).as("m"))
    val b = trendRows.agg(min("h"), max("h")).collect().head
    val (hMin, hMax) = (b.getLong(0), b.getLong(1) + 1)
    val rng = new scala.util.Random(seed)
    val inner = Iterator.continually(hMin + 1 + (rng.nextDouble() * (hMax - hMin - 1)).toLong)
      .distinct.take(Batches - 1).toSeq.sorted
    hourCuts = (hMin +: inner :+ hMax).toArray
  }

  /** A one-shot state of all batches and its serves: the reference every
    * epoch's final serves must equal.
    */
  def warm(): Unit = {
    oneShot = Maintainers.map { m =>
      val base = s"$dir/oneshot/$m"
      ingest(m, base, 0, Batches, 0L)
      m -> digest(m, base)
    }.toMap
  }

  def run(seconds: Double): Outcome = {
    val ops = ArrayBuffer.empty[Cost]
    val reads = ArrayBuffer.empty[Cost]
    val failed = ArrayBuffer.empty[String]
    val ingestS = Maintainers.map(_ -> ArrayBuffer.empty[Double]).toMap
    val serveS = Maintainers.map(_ -> ArrayBuffer.empty[Double]).toMap
    var attempted = 0
    var epoch = -1
    def base(m: String) = s"$dir/epoch-$epoch/$m"
    val t0 = System.nanoTime()
    // whole epochs only: the check needs the state of all batches
    while (secondsSince(t0) < seconds) {
      epoch += 1
      var last = Map.empty[String, String]
      for (k <- 0 until Batches) {
        attempted += 1
        try {
          ops += Cost.of(ctx.withTimeout(Main.OpTimeoutS) {
            Maintainers.foreach { m =>
              val ti = System.nanoTime()
              ctx.in(s"ingest.$m")(ingest(m, base(m), k, k + 1, k.toLong))
              ingestS(m) += secondsSince(ti)
            }
          })._2
          last = Maintainers.map { m =>
            val (d, c) = Cost.of(ctx.withTimeout(Main.OpTimeoutS)(ctx.in(s"serve.$m")(digest(m, base(m)))))
            serveS(m) += c.wall
            reads += c
            m -> d
          }.toMap
        } catch { case t: Throwable => failed += s"epoch $epoch batch $k: ${t.getClass.getSimpleName}: ${t.getMessage}" }
        finally ctx.releasePinned()
      }
      Maintainers.filter(m => last.get(m) != oneShot.get(m))
        .foreach(m => failed += s"$m: epoch $epoch final serve differs from the one-shot state")
    }
    val wall = secondsSince(t0)
    val layers = ctx.trace.fold(Map.empty[String, Double]) { t =>
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      val n = math.max(1, ops.length).toDouble
      val states = Maintainers.map(m => m -> Inputs.usage(base(m))).toMap
      Layers.exec(t, _ != "idle", n) ++ Map(
        "exec.jobs" -> t.jobCount(_ != "idle") / n,
        "exec.stages" -> t.stageCount(_ != "idle") / n,
        "sources.fs_list_calls" -> CountingLocalFs.lists.get / n,
        "streaming.space_amp" -> states.values.map(_._1).sum.toDouble / inputBytes) ++
        Maintainers.flatMap { m =>
          Seq(
            s"streaming.$m.ingest_s" -> Main.quantile(ingestS(m).toSeq, 0.5),
            s"streaming.$m.ingest_jobs" -> t.jobCount(_ == s"ingest.$m") / n,
            s"streaming.$m.serve_s" -> Main.quantile(serveS(m).toSeq, 0.5),
            s"streaming.$m.state_bytes" -> states(m)._1.toDouble,
            s"streaming.$m.state_files" -> states(m)._2.toDouble,
            s"streaming.$m.live_segments" -> BenchAccess.liveSegments(spark, m, base(m)).toDouble)
        }
    }
    Outcome(ops.toSeq, reads.toSeq, attempted, failed.toSeq, wall, layers)
  }
}

object Maintain {
  val Maintainers: Seq[String] = Seq("index", "span", "dedup", "winnow", "trend")
  /** Batches per epoch. */
  val Batches = 2
}
