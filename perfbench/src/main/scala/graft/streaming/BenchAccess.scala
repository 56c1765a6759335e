package graft.streaming

import org.apache.spark.sql.SparkSession

/** Read-only view of the maintainers' committed logs for graft-bench: the
  * number of live segments a serve read has to union.
  */
object BenchAccess {
  def liveSegments(s: SparkSession, maintainer: String, base: String): Int = maintainer match {
    case "index" => IncrementalIndex.currentState(s, base).segs.size
    case "span" =>
      val st = IncrementalSpan.currentState(s, base)
      st.occSegs.size + st.docSegs.size
    case "dedup" => IncrementalDedup.currentState(s, base).segs.size
    case "winnow" => IncrementalWinnow.currentState(s, base).segs.size
    // trend publishes one generation per batch behind its pointer
    case "trend" => IncrementalTrend.committedBatch(s, base).size
  }
}
