package graft.sources

import graft.Tables
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned lakehouse layout of the events fixture — the physical
  * design every 100 TB deployment uses for time-series facts (SURVEY.md
  * §4.2): `events_by_date/event_date=YYYY-MM-DD/part-*.parquet`. Static
  * partition pruning turns date predicates into directory pruning, and
  * dynamic partition pruning (DPP) prunes at runtime from a joined
  * dimension's filter — q_scan_partitioned demonstrates and plan-asserts
  * the latter.
  *
  * The layout is derived from the canonical events fixture once per scale
  * directory (idempotent, `_SUCCESS`-guarded) under `target/` — builder
  * scratch space, not a shipped artifact.
  */
object PartitionedEvents {

  /** Write (once) and return the path of the date-partitioned events copy.
    * Partition column: `event_date` = date(ts). Data columns keep the
    * original event identity so aggregates reconcile exactly with the flat
    * fixture.
    */
  def ensureWritten(spark: SparkSession, dir: String): String =
    GraftFs.artifact(spark, dir, tag => s"target/graft-partitioned/$tag/events_by_date") { base =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), to_date(col("ts")).as("event_date"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("event_date")
        .parquet(base)
    }
}
