package graft

import org.apache.spark.sql.SparkSession

/** Partition-count output-order invariance sweep (SURVEY §7.5): the
  * driver runs Verify at its own thread count, so every registered
  * query's OUTPUT ORDER must not depend on parallelism. Runs each named
  * query (all if none named) under local[4]/shuffle=4 and then
  * local[16]/shuffle=16 in separate sessions and diffs the collected
  * row strings POSITIONALLY. Usage:
  *   runMain graft.InvarianceCheck <sfDir> [queryName ...]
  */
object InvarianceCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val rows = SparkEntry.select(args.drop(1).toSeq)
    val names = rows.map(_._1)

    def collectAll(cores: Int): Map[String, Either[String, Seq[String]]] = {
      val spark = GraftSession.start(cores, logLevel = "ERROR")
      val out = rows.map { case (n, fn) =>
        n -> (try Right(fn(spark, sfDir).collect().map(_.toString).toSeq)
          catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}") })
      }.toMap
      spark.stop()
      // a fresh builder after stop() must not resurrect the stopped context
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      out
    }

    val at4 = collectAll(4)
    val at16 = collectAll(16)
    var bad = 0
    names.foreach { n =>
      (at4(n), at16(n)) match {
        case (Right(a), Right(b)) if a == b =>
          println(s"INVARIANCE $n OK (${a.length} rows)")
        case (Right(a), Right(b)) =>
          bad += 1
          val firstDiff = a.zip(b).indexWhere { case (x, y) => x != y }
          println(s"INVARIANCE $n MISMATCH rows=${a.length}/${b.length} firstDiff=$firstDiff")
        case (l, r) =>
          bad += 1
          println(s"INVARIANCE $n ERROR 4=${l.left.toOption.getOrElse("ok")} 16=${r.left.toOption.getOrElse("ok")}")
      }
    }
    println(s"INVARIANCE SUMMARY ${names.length - bad}/${names.length} invariant")
    if (bad > 0) sys.exit(1)
  }
}
