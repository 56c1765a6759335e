package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.multimodal.{ContainerOps, MultimodalOps, VideoContainerOps}
import graft.streaming.StreamQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2.B is one QueryDef registered here; the
  * driver runs `queries` through Verify.scala (DuckDB hash-compare on
  * sf0.01) and Bench.scala (sf0.1 timings).
  */
object SparkEntry {
  private def allDefs: Seq[QueryDef] =
    AggQueries.defs ++ RelationalQueries.defs ++ JoinQueries.defs ++ WindowQueries.defs ++
      FunctionQueries.defs ++ TextQueries.defs ++ DedupQueries.defs ++ VectorQueries.defs ++
      StreamQueries.defs ++ MultimodalOps.defs ++ graft.multimodal.ParsedMediaOps.defs ++ ContainerOps.defs ++ graft.multimodal.PackStore.defs ++ VideoContainerOps.defs ++ ExtraQueries.defs ++ SubqueryQueries.defs ++
      MoreQueries.defs ++ CurationPipeline.defs ++ AnalyticsQueries.defs ++ TpchQueries.defs ++
      EventQueries.defs ++ CurationQueries.defs ++ SourceQueries.defs ++
      TimeSeriesQueries.defs ++ CdcQueries.defs ++ SearchQueries.defs ++ GraphQueries.defs ++
      MiningQueries.defs ++ LayoutQueries.defs ++ StatQueries.defs ++ EvalQueries.defs ++
      ServeQueries.defs ++ ResampleQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AggQueries.aggGroupBy.query(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.query).toMap

  /** The rows a main runs: those named, in the given order, or every
    * registered row sorted by name when none is named. An unknown name
    * fails here, before any row runs.
    */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")
    if (names.isEmpty) all.toSeq.sortBy(_._1) else names.map(n => n -> all(n))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
