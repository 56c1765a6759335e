package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Native as-of join — the whole-operator Catalyst extension cell
  * (SURVEY.md §4.2 slot (c)): custom logical plan + planner strategy +
  * physical operator, registered per-session next to the function family in
  * GraftFunctions.ensureRegistered / the GraftSparkExtensions entry point.
  *
  * Semantics (inner as-of): for every left row with non-null keys and
  * timestamp, emit it joined to the LAST right row with equal keys and
  * `right.ts <= left.ts` (DuckDB `ASOF JOIN ... ON k = k AND r.ts <= l.ts`
  * semantics); left rows with no such right row are dropped. Right rows
  * that tie on (keys, ts) are resolved to the last in partition sort order
  * — callers that care must make the payload a function of (keys, ts) or
  * pre-dedup the right side.
  *
  * Why a physical operator instead of the tagged-union window formulation
  * (JoinQueries.joinAsof): the window plan shuffles BOTH sides through one
  * exchange with the unified null-padded schema and sorts click rows
  * carrying dead purchase columns; this operator shuffles each side with
  * its own skinny schema, streams the per-partition merge in O(1) memory
  * (no window buffer), and — because requiredChildDistribution /
  * requiredChildOrdering declare what the merge needs — EnsureRequirements
  * elides the exchange/sort entirely when an input is already partitioned
  * or bucketed by key (asserted in AsOfJoinNativeSpec; impossible to
  * express with the union trick, whose two sides must co-shuffle).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression) extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val resolved: Boolean =
    childrenResolved && (leftKeys ++ rightKeys :+ leftTs :+ rightTs).forall(_.resolved) &&
      leftKeys.map(_.dataType) == rightKeys.map(_.dataType) &&
      leftTs.dataType == rightTs.dataType

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts) =>
      AsOfJoinExec(lk, rk, lts, rts, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join. Children are hash-clustered on the join keys and
  * sorted by (keys, ts); the merge keeps ONE buffered right row (the best
  * match so far for the current key) — per-partition O(left + right) time,
  * O(1) state, no pair blowup and no window buffer.
  */
case class AsOfJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTs: Expression,
    rightTs: Expression,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTs).map(SortOrder(_, Ascending)))

  // Rows stream out in the left child's (key, ts) order, one-to-at-most-one.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTs = leftTs
    val rTs = rightTs
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTs), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTs), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTs.dataType))
      val joined = new JoinedRow
      val resultProj = UnsafeProjection.create(lOut ++ rOut, lOut ++ rOut)

      new Iterator[InternalRow] {
        // Current right cursor (copied — sorter iterators reuse buffers).
        // InternalRow, not UnsafeRow: a child exec whose ordering is already
        // satisfied can feed non-UnsafeRow rows here (no sort inserted), and
        // InternalRow.copy() handles both — same as SortMergeJoinExec.
        private var rRow: InternalRow = _
        private var rKey: UnsafeRow = _
        private var rTsRow: UnsafeRow = _
        // Best match so far and the key it belongs to.
        private var matchRow: InternalRow = _
        private var matchKey: UnsafeRow = _
        private var nextOut: UnsafeRow = _
        advanceRight()

        private def advanceRight(): Unit = {
          rRow = null
          while (rRow == null && rIter.hasNext) {
            val r = rIter.next()
            val k = rKeyProj(r)
            val t = rTsProj(r)
            if (!k.anyNull && !t.isNullAt(0)) {
              rRow = r.copy()
              rKey = k.copy()
              rTsRow = t.copy()
            }
          }
        }

        private def computeNext(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val lRow = lIter.next()
            val lKey = lKeyProj(lRow)
            val lTsV = lTsProj(lRow)
            if (!lKey.anyNull && !lTsV.isNullAt(0)) {
              // Advance the right side past keys below ours, and through
              // rows at our key whose ts is still <= ours (last one wins).
              var cmp = if (rRow == null) 1 else keyOrd.compare(rKey, lKey)
              while (rRow != null && (cmp < 0 || (cmp == 0 && tsOrd.compare(rTsRow, lTsV) <= 0))) {
                if (cmp == 0) { matchRow = rRow; matchKey = rKey }
                advanceRight()
                cmp = if (rRow == null) 1 else keyOrd.compare(rKey, lKey)
              }
              if (matchRow != null && keyOrd.compare(matchKey, lKey) == 0) {
                numOutputRows += 1
                nextOut = resultProj(joined(lRow, matchRow))
              }
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextOut == null) computeNext()
          nextOut != null
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException("empty iterator")
          val out = nextOut
          nextOut = null
          out
        }
      }
    }
  }
}

/** Public builder for the native as-of join. */
object AsOfJoin {

  /** `left ASOF JOIN right ON keys-equal AND right.ts <= left.ts`, keeping
    * the latest matching right row. Column name lists resolve against each
    * side; the two outputs must not share attributes (alias the right side
    * when both derive from one table — self-joins need fresh exprIds, same
    * as Spark's own `Dataset.join` dedup requirement this node doesn't
    * replicate).
    */
  def asof(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTsCol: String, rightTsCol: String): DataFrame = {
    val spark = left.sparkSession
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join sides share attributes — alias the right side's columns first")
    def resolve(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(a => spark.sessionState.analyzer.resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(s"column $name not in ${plan.output.map(_.name)}"))
    GraftPlanBridge.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      leftKeys.map(resolve(lPlan, _)), rightKeys.map(resolve(rPlan, _)),
      resolve(lPlan, leftTsCol), resolve(rPlan, rightTsCol)))
  }
}
