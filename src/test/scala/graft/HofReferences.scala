package graft

import graft.functions.{PortableHash, PortablePlanes}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The higher-order-function formulations the native expressions
  * replaced, kept as spec references: each native twin must be
  * bit-identical to its reference here (NativeFoldsSpec,
  * CosineExpressionSpec, PortableHashSpec, MmDHashSpec). The HOFs are
  * CodegenFallback and allocate per row, so no query path uses them.
  */
object HofReferences {

  /** Sequential-order double dot product — the reference for
    * `VectorOps.dot`.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Squared L2 norm — the reference for `VectorOps.normSq`. */
  def normSqHof(a: Column): Column = dotHof(a, a)

  /** dot / sqrt(|a|² · |b|²), single sqrt, mirrored exactly in oracle
    * SQL — the reference for `VectorOps.cosine`.
    */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / sqrt(normSqHof(a) * normSqHof(b))

  /** Squared L2 distance — the reference for `VectorQueries.l2sq`. */
  def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double"))
      * (x.cast("double") - y.cast("double"))), lit(0.0), (acc, v) => acc + v)

  /** The `bits` chained when(round(dot) > 0) columns — the reference for
    * `PortablePlanes.bucketCol`.
    */
  def bucketColHof(emb: Column, t: Int, bits: Int, family: Long = 0L): Column =
    (0 until bits).map { h =>
      when(round(dotHof(emb, typedlit(PortablePlanes.weights(t, h, bits, family))), 6) > 0,
        lit(1 << h)).otherwise(lit(0))
    }.reduce(_ + _)

  /** The char fold h ← (h·131 + code) mod 1e9+7 as built-in Columns — the
    * reference for `PortableHash.tokenHash`. `slice(split(t,""), 1,
    * length(t))` takes exactly length(t) single-char elements, robust to
    * Java split's trailing-empty behavior.
    */
  def tokenHashReference(t: Column): Column =
    aggregate(
      slice(split(t, ""), lit(1), length(t)),
      lit(0L),
      (h, c) => (h * lit(PortableHash.BaseMul) + ascii(c)) % lit(PortableHash.BaseMod))

  /** q_mm_phash's hash stage (original + twin) as the interpreted
    * transform/aggregate chain — the reference for the native DHash56.
    */
  def phashHofHashes(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("media_id"),
        expr("transform(sequence(1, length(text)), i -> cast(ascii(substring(text, i, 1)) as bigint))")
          .as("codes"))
    val twins = base.select((col("media_id") + 1000000000L).as("media_id"),
      expr("transform(codes, (x, i) -> x + 10 + CASE WHEN i % 5 = 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END)")
        .as("codes"))
    base.unionAll(twins)
      .withColumn("len", size(col("codes")).cast("long"))
      .withColumn("pix",
        expr("transform(sequence(0, 63), k -> element_at(codes, cast((k * len) div 64 as int) + 1))"))
      .select(col("media_id"), expr(
        """aggregate(sequence(0, 55), cast(0 as bigint), (acc, b) ->
          |  acc + CASE WHEN element_at(pix, cast((b div 7) * 8 + (b % 7) + 2 as int))
          |                  > element_at(pix, cast((b div 7) * 8 + (b % 7) + 1 as int))
          |             THEN shiftleft(cast(1 as bigint), cast(b as int))
          |             ELSE cast(0 as bigint) END)""".stripMargin).as("hash"))
  }
}
