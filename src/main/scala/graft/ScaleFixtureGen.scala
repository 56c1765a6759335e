package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic upscale of a driver fixture dir (default: sf0.1 → a
  * 10× "sf1" under target/) so the scale-slope harness ([[ScaleBench]])
  * can measure the heaviest registered rows at three decades instead of
  * arguing the 100 TB claim from two (r13 verdict item 1). The driver's
  * generator is not available and /root/testdata is read-only, so the
  * upscale derives from the sf0.1 fixture itself: `factor` replicas,
  * replica 0 verbatim, replicas 1+ transformed so that WITHIN-replica
  * structure (duplicate clusters, join fan-in, vector neighborhoods) is
  * preserved exactly while CROSS-replica rows do not collide — the
  * "10× more shards of the same corpus shape" model, which is what a
  * linear-capacity scale-up of a real corpus looks like:
  *
  *  - relational keys (order/cust/part/supp/doc/vec/event/user ids)
  *    shift by a 2^40 stride per replica — join structure per replica
  *    identical, key spaces disjoint;
  *  - document text gets a per-replica bijective token rename
  *    (t → "x<i>t"): shingle/minhash/winnow structure inside a replica
  *    is isomorphic to the original, while cross-replica token sets are
  *    disjoint (near-dup candidate volume scales LINEARLY, as it would
  *    with 10× of fresh-but-similar data — not quadratically as naive
  *    copies would); n_chars is recomputed from the salted text;
  *  - embeddings get a per-replica ORTHOGONAL transform (dimension
  *    rotation by 7·i plus deterministic sign flips): intra-replica
  *    dot products and hence kNN/IVF structure are isomorphic up to
  *    float-summation reordering (exact in real arithmetic — the
  *    rotation permutes the per-dimension products, so sums agree only
  *    to rounding; ScaleFixtureGenSpec checks at 1e-3/1e-6, and no
  *    bit-equality oracle may be built on the derived fixture),
  *    cross-replica vectors decorrelate so LSH/IVF buckets are not
  *    flooded with artificial near-copies;
  *  - events keep their timestamps (the hourly grain is TIME-bounded by
  *    design — 10× rows raise cell sums, not cell counts, exactly the
  *    documented q_ts_trend contract) with event/user ids shifted;
  *  - region/nation stay 1× (TPC-H fixed dimensions).
  */
object ScaleFixtureGen {

  /** Per-replica key offset: far above any sf0.1 key (< 2^21), far below
    * Long overflow at factor ≤ 2^22.
    */
  private val Stride = 1L << 40

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.start(GraftSession.cpus(16))
    generate(spark, src, out, factor)
    println(s"""{"scale_fixture":"$out","factor":$factor,"src":"$src"}""")
  }

  def generate(s: SparkSession, src: String, out: String, factor: Int): Unit = {
    def read(name: String) = s.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def reps(tf: Int => DataFrame): DataFrame =
      (0 until factor).map(tf).reduce(_ unionByName _)
    def off(c: String, i: Int) = (col(c) + lit(i * Stride)).as(c)

    // fixed dimensions: verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    val orders = read("orders")
    write(reps(i => orders.select(off("o_orderkey", i), off("o_custkey", i),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority"))), "orders")

    val lineitem = read("lineitem")
    write(reps(i => lineitem.select(off("l_orderkey", i), off("l_partkey", i),
      off("l_suppkey", i), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))), "lineitem")

    val customer = read("customer")
    write(reps(i => customer.select(off("c_custkey", i), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))), "customer")

    val supplier = read("supplier")
    write(reps(i => supplier.select(off("s_suppkey", i), col("s_name"),
      col("s_nationkey"), col("s_acctbal"))), "supplier")

    val part = read("part")
    write(reps(i => part.select(off("p_partkey", i), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))), "part")

    val events = read("events")
    write(reps(i => events.select(off("event_id", i), col("ts"),
      off("user_id", i), col("event_type"), col("value"), col("props"))), "events")

    val docs = read("documents")
    write(reps { i =>
      if (i == 0) docs.select("doc_id", "text", "lang", "source", "n_chars")
      else {
        // bijective token rename: intra-replica shingle structure
        // isomorphic, cross-replica token sets disjoint
        val salted = expr(s"array_join(transform(split(text, ' '), t -> concat('x$i', t)), ' ')")
        docs.select(off("doc_id", i), salted.as("text"), col("lang"),
          col("source"), length(salted).cast("long").as("n_chars"))
      }
    }, "documents")

    val emb = read("embeddings")
    write(reps { i =>
      if (i == 0) emb.select("vec_id", "embedding", "label")
      else {
        // orthogonal per-replica transform: rotate dimensions by 7·i and
        // flip deterministic signs — intra-replica cosines exact,
        // cross-replica decorrelated
        val rot = (i * 7) % 64
        val t = s"transform(sequence(0, 63), d -> cast(" +
          s"element_at(embedding, pmod(d + $rot, 64) + 1) * " +
          s"(case when pmod(d * 31 + $i * 13, 2) = 0 then -1.0D else 1.0D end) as float))"
        emb.select(off("vec_id", i), expr(t).as("embedding"), col("label"))
      }
    }, "embeddings")
  }
}
