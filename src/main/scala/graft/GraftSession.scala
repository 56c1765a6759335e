package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main and every test session
  * builds through [[builder]], and [[cpus]] is the only reader of
  * `SPARK_GRAFT_CPUS`. The builder carries the engine's static defaults
  * — `local[cpus]`, one shuffle partition per core, the UTC session time
  * zone the determinism rules assume, and no UI — so a caller adds only
  * what differs. A user who brings their own session sets the same keys.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** `builder(cpus)`'s session, logging at `logLevel`. */
  def start(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
