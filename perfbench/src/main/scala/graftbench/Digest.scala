package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** Output digests computed where the rows are: every output column is
  * projected to its binary row form and hashed on the executors, so the
  * check costs one pass over the result and never collects it.
  */
object Digest {
  private val P = 0x100000001b3L

  private def pow(b: Long, e: Long): Long = {
    var r = 1L
    var x = b
    var n = e
    while (n > 0) { if ((n & 1) == 1) r *= x; x *= x; n >>= 1 }
    r
  }

  /** Runs the DataFrame's physical plan as one SQL execution and folds its
    * rows. `ordered` gives a polynomial hash of the row sequence, which is
    * the same for any partitioning of that sequence; otherwise the hash is
    * a sum and ignores row order. Returns (hash, rows).
    */
  def apply(df: DataFrame, ordered: Boolean): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("graftbench-digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var h = 0L
        var n = 0L
        it.foreach { r =>
          val u = proj(r)
          val x = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          h = if (ordered) h * P + x else h + x
          n += 1
        }
        Iterator((h, n))
      }.collect()
    }
    parts.foldLeft((0L, 0L)) { case ((h, n), (ph, pn)) =>
      (if (ordered) h * pow(P, pn) + ph else h + ph, n + pn)
    }
  }

  def hex(d: (Long, Long)): String = s"${java.lang.Long.toHexString(d._1)}:${d._2}"
}
