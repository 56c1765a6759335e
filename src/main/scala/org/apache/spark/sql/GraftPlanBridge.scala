package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` bridge: turn a hand-built [[LogicalPlan]] into a
  * DataFrame. `classic.Dataset.ofRows` is the blessed entry point for
  * libraries that introduce their own logical operators (the same shim
  * every Spark-extension project carries since the API split), plus the
  * listener-bus drain a profiler needs before it reads its listeners;
  * nothing else from the private surface is touched.
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The Catalyst expression tree behind a [[Column]] (Spark 4 removed
    * the public `.expr`). Used for driver-side zone-map pruning, which
    * inspects — never executes — the tree.
    */
  def columnExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Block until every listener event posted so far has been delivered. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
