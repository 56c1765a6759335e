package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Portable random-hyperplane family for sign-bit LSH over the embedding
  * column — the q_dedup_semantic construction (integer weights in
  * [−9, 9] from the PortableHash affine seed family) generalized to an
  * L-tables × B-bits index, so the BUCKETING ITSELF is reproducible by
  * any engine: Spark and DuckDB compute identical cell ids, which is
  * what lets q_ann_lsh / q_vec_knn_graph_lsh and every graph consumer of
  * the LSH candidate edges carry a full DuckDB oracle instead of a
  * recall-spec-only check (the r8 verdict's "portable-integer-plane ANN
  * oracles" item).
  *
  * Why cross-engine-exact: integer×float32 products are exact in double
  * (4-bit × 24-bit mantissas), both engines fold the 64 terms in index
  * order, and the dot is 6dp-rounded before the sign test so a last-ulp
  * fold difference cannot flip a bucket bit. Discrete ±[0..9] weights
  * are a standard sparse/discrete random-projection family (Achlioptas
  * 2003 — sign-LSH needs only symmetric zero-mean directions, not
  * Gaussians); measured recall vs the float-Gaussian planes it replaces
  * is in PERF.md round 9.
  *
  * The family index is offset from SemDeDup's plane block so the two
  * constructions stay independent.
  */
object PortablePlanes {

  val Dim = 64

  /** Disjoint index block from q_dedup_semantic's planes (which occupy
    * affine indices 0 .. 6·64).
    */
  private val FamilyOffset = 1L << 16

  /** splitmix64 finalizer — the weight derivation needs genuine per-index
    * mixing: the PortableHash affine family (semPlaneWeights' derivation)
    * steps consecutive weights by a CONSTANT (AStep mod 19 = 14) between
    * SeedMod wraps, so its planes are near-periodic shifts of one cyclic
    * pattern — measured mean recall@5 collapsed 0.90 → 0.54 when tried
    * here. Host-side derivation is free to use any mixer because the
    * weights reach BOTH engines as baked integer literals (portability
    * comes from literalization, not from re-deriving in SQL).
    */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Integer weights (as doubles) of plane `h` of table `t` in a
    * `bits`-bit family. `family` selects a disjoint index block so two
    * CONSUMERS (the ANN index, the graph index, the IVF sub-quantizer
    * seed) never share planes — within one family the (t, h) indices are
    * already distinct, but across families with different `bits` the raw
    * indices would collide (e.g. (t=1, h=0, bits=7) and (t=1, h=1,
    * bits=6) both map to index 448), silently correlating operators that
    * should be independent.
    */
  def weights(t: Int, h: Int, bits: Int, family: Long = 0L,
      dim: Int = Dim): IndexedSeq[Double] =
    (0 until dim).map { j =>
      (Math.floorMod(mix(FamilyOffset + (family << 20)
        + (t.toLong * bits + h) * dim + j), 19L) - 9L).toDouble
    }

  /** Sign-signature bucket id of `emb` under table `t`: bit h set when
    * the 6dp-rounded integer-plane dot is > 0. Since r16 this is the
    * native fused PlaneBucket expression (one bits×dim loop per row) —
    * bit-identical to the `bits` chained when(round(dot HOF) > 0) columns
    * it replaces (`HofReferences.bucketColHof` under src/test, the
    * NativeFoldsSpec reference).
    */
  def bucketCol(emb: Column, t: Int, bits: Int, family: Long = 0L): Column =
    call_function(GraftFunctions.PlaneBucketName, emb,
      typedlit((0 until bits).map(h => weights(t, h, bits, family).toSeq).toSeq))

  /** The identical bucket id as a DuckDB SQL fragment over a DOUBLE[]
    * column expression `emb` (the list_inner_product fold matches the
    * Spark-side index-order dot exactly — the q_dedup_semantic proof).
    */
  def bucketSql(emb: String, t: Int, bits: Int, family: Long = 0L): String =
    (0 until bits).map { h =>
      val lst = weights(t, h, bits, family).map(_.toLong).mkString("[", ", ", "]")
      s"(CASE WHEN ROUND(list_inner_product($emb, CAST($lst AS DOUBLE[])), 6) > 0 THEN ${1 << h} ELSE 0 END)"
    }.mkString(" + ")

  /** One `UNION ALL` branch per table: `(sel..., t, b)` rows from
    * relation `from` — the home-bucket relation every LSH oracle starts
    * from.
    */
  def homeBucketsSql(sel: String, from: String, tables: Int, bits: Int): String =
    (0 until tables).map { t =>
      s"SELECT $sel, $t AS t, ${bucketSql("emb", t, bits)} AS b FROM $from"
    }.mkString("\nUNION ALL\n")

  /** The radius-1 multiprobe mask list (0 plus each single bit) as a
    * DuckDB unnest fragment.
    */
  def probeMasksSql(bits: Int): String =
    s"(SELECT unnest([${(0 +: (0 until bits).map(1 << _)).mkString(", ")}]) AS m)"
}
