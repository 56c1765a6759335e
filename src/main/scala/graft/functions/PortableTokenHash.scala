package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd char-fold hash — the hot-path form of
  * `HofReferences.tokenHashReference` (src/test): h ← (h·131 + code) mod 1e9+7 over
  * the string's characters, identical arithmetic to the DuckDB oracle
  * fragment ([[PortableHash.tokenHashSql]]). The Column-HOF formulation
  * (slice ∘ split ∘ aggregate) allocates a single-char UTF8String per
  * character per token; this expression folds over the UTF8String's bytes
  * in place (pure-ASCII fast path — the whole fixture corpus — with a
  * per-UTF-16-code-unit fallback that matches split('')+ascii() on
  * non-ASCII input). PortableHashSpec pins native == HOF == DuckDB.
  */
case class PortableTokenHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects STRING, got ${child.dataType.simpleString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_portable_token_hash"

  override protected def nullSafeEval(input: Any): Any =
    PortableTokenHash.fold(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.PortableTokenHash.fold($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PortableTokenHash {
  /** The fold itself — shared by interpreted eval and generated code
    * (object methods surface as static forwarders for the codegen call).
    */
  def fold(s: UTF8String): Long = {
    val n = s.numBytes()
    var h = 0L
    var i = 0
    var ascii = true
    while (i < n && ascii) {
      val b = s.getByte(i)
      if (b < 0) ascii = false
      else { h = (h * PortableHash.BaseMul + b) % PortableHash.BaseMod; i += 1 }
    }
    if (ascii) h
    else {
      // non-ASCII: fold UTF-16 code units — exactly what split('') + ascii()
      // folds (Java split("") segments by code unit; ascii() of a one-unit
      // string is that unit's value)
      val js = s.toString
      var h2 = 0L
      var j = 0
      while (j < js.length) {
        h2 = (h2 * PortableHash.BaseMul + js.charAt(j)) % PortableHash.BaseMod
        j += 1
      }
      h2
    }
  }
}
