package graft.examples

/** End-to-end facade smoke for a fresh checkout (docs/API.md quickstart):
  * read the documents fixture, run three `graft.api` verbs — token count,
  * quality score, the composed curate pipeline — and print a one-line
  * summary. This is the runnable proof behind the library story: a user
  * who `sbt package`s a clean clone and spark-submits this class sees
  * the facade work against plain parquet with no other setup.
  *
  * Usage: `scripts/spark-submit-graft.sh graft.examples.ApiDemo [sfDir]`
  * (default sfDir: /root/testdata/sf0.001).
  */
object ApiDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    // the engine's session (local[4] unless SPARK_GRAFT_CPUS says
    // otherwise), the same under spark-submit and `sbt runMain`
    val spark = graft.GraftSession.start(graft.GraftSession.cpus(4))

    import graft.api.implicits._
    val docs = graft.Tables.documents(spark, dir)

    val enriched = docs.graft.withTokenCount().graft.withQualityScore()
    val nDocs = enriched.count()
    val survivors = docs.graft.curate()
    val nKept = survivors.count()
    val sample = survivors.orderBy("doc_id").limit(3).collect()
      .map(r => r.getAs[Long]("doc_id")).mkString(",")

    println(s"""{"demo":"ApiDemo","dir":"$dir","docs":$nDocs,""" +
      s""""curate_survivors":$nKept,"first_ids":[$sample]}""")
    require(nDocs > 0 && nKept > 0 && nKept <= nDocs,
      "facade demo invariant violated")
    spark.stop()
  }
}
