package graft.streaming

import graft.operators.DedupQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental connected-component maintenance — the label-table upkeep a
  * nightly similarity-graph ingest runs: the standing corpus already has
  * min-id component labels (q_graph_components_lsh's persisted table);
  * each arriving micro-batch brings new nodes and the new edges that
  * touch them (the q_vec_knn_graph_incr emission shape), and the
  * maintainer merges them WITHOUT re-running CC over the accumulated
  * edge history.
  *
  * The algebra is edge-addition monotonicity: connectivity gained by a
  * batch can only flow through batch edges, and every old component is
  * already contracted to one label. So per batch:
  *
  *   1. new nodes enter as their own singleton label (re-sent nodes
  *      anti-joined away — idempotent against replays of node rows);
  *   2. batch edges CONTRACT to the label graph (two skinny label joins,
  *      self-loops dropped) — a graph whose size is bounded by the batch
  *      edge count, never the corpus;
  *   3. the proven pointer-jumping CC core runs on the contracted graph
  *      only ([[DedupQueries.connectedComponents]]);
  *   4. every node relabels through its old label's new label (one
  *      broadcast-size join — the contracted result has at most
  *      2·|batch edges| rows).
  *
  * Because old labels are component-min ids, the min over a merged set
  * of labels IS the global min member id — so after any batch split the
  * state equals the one-shot CC over everything seen, exactly
  * (IncrementalComponentsSpec asserts row equality, plus the
  * only-coarsens invariant per batch). State versioning is the
  * [[StateLog]] version pointer: readers
  * never observe a half-written label table.
  *
  * At 100 TB: the label table shuffles once per batch on node_id (and
  * would be bucketed on it); everything batch-sized broadcasts. Edges
  * referencing nodes never seen (out-of-order arrival) are dropped by
  * the contraction inner-join — deliver edges with (or after) their
  * endpoints, the contract the incremental graph maintainer already
  * honors (an edge is emitted by the batch that adds its later
  * endpoint).
  */
object IncrementalComponents {

  private val stateSchema = StructType(Seq(
    StructField("node_id", LongType),
    StructField("component", LongType)))

  /** The committed micro-batch id, if the writer threads one. */
  def committedBatch(s: SparkSession, base: String): Option[Long] =
    StateLog.pointer(s, base).flatMap(_.batch)

  /** Read the current label table (empty before the first batch). */
  def readState(s: SparkSession, base: String): DataFrame =
    StateLog.readGeneration(s, StateLog.pointer(s, base), stateSchema)(v => s"$base/labels/$v")

  /** Absorb one batch: `batchNodes` is (node_id), `batchEdges` is
    * undirected pairs (a, b) touching at least one batch node. Returns
    * the new full label table (node_id, component = min reachable id).
    * Replay-protected via the pointer's batch tag (a re-delivered
    * micro-batch is a no-op; a manual no-id call carries the committed
    * tag forward — the IncrementalDrift discipline).
    */
  def processBatch(s: SparkSession, batchNodes: DataFrame, batchEdges: DataFrame,
      base: String, batchId: Option[Long] = None): DataFrame =
    StateLog.commitFrame(s, base, batchId, stateSchema)(v => s"$base/labels/$v") { st =>
      val fresh = batchNodes.select(col("node_id")).distinct()
        .join(st.select(col("node_id")), Seq("node_id"), "left_anti")
        .select(col("node_id"), col("node_id").as("component"))
      val labels = st.unionByName(fresh).localCheckpoint()
      // contract batch edges to the label graph; self-loops (both endpoints
      // already in one component) carry no new connectivity and drop here
      val la = labels.select(col("node_id").as("a"), col("component").as("ca"))
      val lb = labels.select(col("node_id").as("b"), col("component").as("cb"))
      val contracted = batchEdges.select(col("a"), col("b"))
        .join(la, Seq("a")).join(lb, Seq("b"))
        .filter(col("ca") =!= col("cb"))
        .select(least(col("ca"), col("cb")).as("doc_id1"),
          greatest(col("ca"), col("cb")).as("doc_id2"))
        .distinct()
        .localCheckpoint()
      val touched = contracted.select(col("doc_id1").as("doc_id"))
        .union(contracted.select(col("doc_id2").as("doc_id"))).distinct()
      val merged = DedupQueries.connectedComponents(touched, contracted)
        .select(col("doc_id").as("component"), col("cluster_id").as("merged"))
      labels
        .join(broadcast(merged), Seq("component"), "left")
        .select(col("node_id"),
          coalesce(col("merged"), col("component")).as("component"))
        .localCheckpoint()
    }

  /** Attach to an edge stream whose rows are (a, b) pairs; nodes are the
    * endpoints (first sight of an id creates its singleton label), so a
    * node-only arrival is a self-pair (a, a). Replay-protected.
    */
  def attach(edges: DataFrame, base: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    edges.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      val nodes = batch.select(col("a").as("node_id"))
        .union(batch.select(col("b").as("node_id"))).distinct()
      processBatch(batch.sparkSession, nodes, batch, base, Some(bid)): Unit
    }
}
