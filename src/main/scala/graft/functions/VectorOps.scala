package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column builders for vector math over ArrayType(FloatType) embeddings.
  *
  * All arithmetic is promoted to double and accumulated sequentially in
  * index order, which makes the result bit-identical to DuckDB's
  * list_inner_product/list_sum over double-cast lists — the property the
  * oracle compare relies on. These functions call native codegen
  * expressions; their higher-order-function references (`dotHof`,
  * `normSqHof`, `cosineHof`) live in `graft.HofReferences` under
  * src/test, where the specs pin them bit for bit.
  */
object VectorOps {
  /** Sequential-order double dot product of two float arrays — the native
    * codegen expression since r16 (bit-identical to `HofReferences.dotHof`
    * under src/test, the HOF reference NativeFoldsSpec pins it against;
    * the HOFs are CodegenFallback and allocate per row).
    */
  def dot(a: Column, b: Column): Column =
    call_function(GraftFunctions.DotName, a, b)

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity via the native codegen expression (bit-identical to
    * `HofReferences.cosineHof` under src/test; one fused loop per row).
    * Requires GraftFunctions.ensureRegistered — done in Tables.load, so
    * every query path has it.
    */
  def cosine(a: Column, b: Column): Column =
    call_function(GraftFunctions.CosineName, a, b)
}
