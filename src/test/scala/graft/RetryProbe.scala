package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

/** Task-retry determinism probe: on a real cluster tasks fail and retry
  * constantly (preemption, spot loss, OOM-kill), and Spark's recovery
  * contract only helps if every operator in this engine is
  * retry-idempotent — a re-executed partition must contribute the SAME
  * rows, or shuffles double-count and aggregates drift. This probe runs
  * under `local[4, 3]` (3 task attempts) and injects a deterministic
  * first-attempt failure into partition 0 of the scan (via
  * TaskContext.attemptNumber — fails every run, succeeds on retry),
  * then asserts collected results are row-for-row identical to the
  * clean run for one representative of each risk class:
  *
  *   - multi-shuffle DF pipeline (boilerplateOn: explode → reused
  *     exchange → shuffle hash join → aggregate);
  *   - exact decimal aggregate (partial-agg re-execution must not
  *     double-count);
  *   - narrow mapPartitions decode (the multimodal batch shape).
  *
  * Prints RETRYPROBE lines; exits nonzero on any mismatch or if the
  * injection never fired (which would mean the probe proved nothing).
  * Run: sbt 'Test/runMain graft.RetryProbe' (SPARK_GRAFT_SF_DIR, default sf0.01).
  */
object RetryProbe {

  /** Wrap a DataFrame so partition 0's first attempt always fails. */
  private def flaky(df: DataFrame): DataFrame = {
    val schema = df.schema
    val rdd = df.rdd.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0) {
        RetryProbe.fired = true
        throw new RuntimeException("RetryProbe: injected first-attempt failure")
      }
      it
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  // local mode = one JVM: a plain static is visible from "executor" threads
  @volatile private var fired = false

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder(4)
      .master("local[4, 3]") // 3 task attempts — retries enabled
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    var failures = 0
    def check(name: String, clean: => DataFrame, injected: => DataFrame): Unit = {
      val want = clean.collect().map(_.toString).toSeq
      fired = false
      val got = injected.collect().map(_.toString).toSeq
      val ok = got == want && fired
      if (!ok) failures += 1
      println(s"RETRYPROBE $name rows=${want.size} injection_fired=$fired identical=${got == want}")
    }

    val docs = Tables.documents(spark, sfDir)
    check("boilerplate_multi_shuffle",
      graft.operators.CurationQueries.boilerplateOn(docs),
      graft.operators.CurationQueries.boilerplateOn(flaky(docs)))

    def agg(d: DataFrame) = d
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(col("n_chars").cast("decimal(18,0)")).cast("double").as("chars"))
      .orderBy("lang")
    check("decimal_partial_agg", agg(docs), agg(flaky(docs)))

    def decode(d: DataFrame) = {
      import spark.implicits._
      d.select(col("doc_id"), col("text"), col("n_chars"))
        .as[(Long, String, Long)]
        .map { case (id, text, n) => (id, text.getBytes("UTF-8").length, n) }
        .toDF("doc_id", "n_bytes", "n_chars")
        .orderBy("doc_id")
    }
    check("narrow_map_decode", decode(docs), decode(flaky(docs)))

    // 4th risk class: side-effect pack write (outside the output-commit
    // protocol). The injected failure kills pack-writer task 0 AFTER its
    // first object hit the file, so the retry must produce a component
    // whose scan equals the clean run, with the dead attempt's partial
    // file left as a vacuum-able orphan — never referenced, never read.
    {
      import graft.multimodal.{ContainerOps, PackStore}
      import spark.implicits._
      val tmp = java.nio.file.Files.createTempDirectory("graft_retry_pack").toFile.getAbsolutePath
      val objs = ContainerOps.containerTable(spark, sfDir).filter(_._1 <= 199)
      val want = objs.map { case (id, b) => ContainerOps.ContainerParser.parse(id, b) }
        .collect().map(_.toString).sorted.toSeq
      PackStore.failFirstWriteAttempt = true
      PackStore.writeFailureFired = false
      try PackStore.initBase(spark, s"$tmp/store", objs, 4)
      finally PackStore.failFirstWriteAttempt = false
      val fired2 = PackStore.writeFailureFired
      val got = PackStore.scan(spark, s"$tmp/store").collect().map(_.toString).sorted.toSeq
      val comp = PackStore.readCurrent(spark, s"$tmp/store").head
      val referenced = spark.read.parquet(s"${comp.dir}/manifest")
        .select("pack_path").distinct.collect()
        .map(r => graft.sources.GraftFs.qualify(spark, r.getString(0))).toSet
      val orphans = graft.sources.GraftFs.listFiles(spark, comp.dir)
        .filter(f => f.getPath.getName.startsWith("pack-") && !referenced.contains(f.getPath.toString))
      PackStore.vacuum(spark, s"$tmp/store")
      val orphansAfter = graft.sources.GraftFs.listFiles(spark, comp.dir)
        .filter(f => f.getPath.getName.startsWith("pack-") && !referenced.contains(f.getPath.toString))
      val ok = got == want && fired2 && orphans.nonEmpty && orphansAfter.isEmpty
      if (!ok) failures += 1
      println(s"RETRYPROBE pack_component_write rows=${want.size} injection_fired=$fired2 " +
        s"identical=${got == want} orphans_before=${orphans.size} orphans_after_vacuum=${orphansAfter.size}")
    }

    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
