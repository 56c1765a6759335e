package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression: cosine similarity of two float-vector
  * columns (SURVEY.md §7.2).
  *
  * Semantics are bit-identical to the higher-order-function formulation
  * `HofReferences.cosineHof` under src/test (the correctness reference,
  * asserted by CosineExpressionSpec): each float is widened to double and dot / both
  * norms accumulate sequentially in index order; result = dot/sqrt(na*nb).
  * Mismatched dimensions yield NULL — exactly like the HOF twin, where
  * zip_with pads the shorter array with nulls and the null poisons the
  * whole fold.
  *
  * Why native: one fused loop per row inside whole-stage codegen, versus
  * three aggregate/zip_with chains that allocate intermediate arrays — this
  * is the hot inner loop of brute-force kNN and embedding near-dedup, the
  * kind of per-row cost that dominates a 100 TB scan.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two ARRAY<FLOAT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType
  // nullable even for non-null inputs: mismatched dimensions yield NULL
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double) $a.getFloat($i);
         |    double $y = (double) $b.getFloat($i);
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration for the engine's native functions: per-session idempotent
  * registration plus a SparkSessionExtensions hook
  * (`spark.sql.extensions=graft.functions.GraftSparkExtensions`).
  */
object GraftFunctions {
  val CosineName = "graft_cosine_similarity"
  val SortedIntersectName = "graft_sorted_intersect_size"
  val SortedLongIntersectName = "graft_sorted_intersect_size_long"
  val ShinglesName = "graft_shingles"
  val SortedLongIntersectAtLeastName = "graft_sorted_intersect_at_least"
  val PortableTokenHashName = "graft_portable_token_hash"
  val HilbertIndexName = "graft_hilbert_index"
  val JaroWinklerName = "graft_jaro_winkler"
  val DotName = "graft_dot"
  val L2SqName = "graft_l2sq"
  val PlaneBucketName = "graft_plane_bucket"
  val MinHashesName = "graft_minhashes"
  val WindowHashesName = "graft_window_hashes"
  val DHash56Name = "graft_dhash56"
  val FirstEqName = "graft_first_eq"
  val SimhashFpName = "graft_simhash_fp"

  private def binaryBuilder(name: String, mk: (Expression, Expression) => Expression):
      Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case other => throw new IllegalArgumentException(
      s"$name expects 2 arguments, got ${other.size}")
  }

  private val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier(CosineName),
      new ExpressionInfo(classOf[CosineSimilarity].getName, CosineName),
      binaryBuilder(CosineName, CosineSimilarity)),
    (FunctionIdentifier(SortedIntersectName),
      new ExpressionInfo(classOf[SortedIntersectSize].getName, SortedIntersectName),
      binaryBuilder(SortedIntersectName, SortedIntersectSize)),
    (FunctionIdentifier(SortedLongIntersectName),
      new ExpressionInfo(classOf[SortedLongIntersectSize].getName, SortedLongIntersectName),
      binaryBuilder(SortedLongIntersectName, SortedLongIntersectSize)),
    (FunctionIdentifier(ShinglesName),
      new ExpressionInfo(classOf[Shingles].getName, ShinglesName),
      binaryBuilder(ShinglesName, Shingles)),
    (FunctionIdentifier(SortedLongIntersectAtLeastName),
      new ExpressionInfo(classOf[SortedLongIntersectAtLeast].getName, SortedLongIntersectAtLeastName),
      {
        case Seq(a, b, m) => SortedLongIntersectAtLeast(a, b, m)
        case other => throw new IllegalArgumentException(
          s"$SortedLongIntersectAtLeastName expects 3 arguments, got ${other.size}")
      }),
    (FunctionIdentifier(PortableTokenHashName),
      new ExpressionInfo(classOf[PortableTokenHash].getName, PortableTokenHashName),
      {
        case Seq(t) => PortableTokenHash(t)
        case other => throw new IllegalArgumentException(
          s"$PortableTokenHashName expects 1 argument, got ${other.size}")
      }),
    (FunctionIdentifier(HilbertIndexName),
      new ExpressionInfo(classOf[HilbertIndex].getName, HilbertIndexName),
      {
        case Seq(x, y, b) => HilbertIndex(x, y, b)
        case other => throw new IllegalArgumentException(
          s"$HilbertIndexName expects 3 arguments, got ${other.size}")
      }),
    (FunctionIdentifier(JaroWinklerName),
      new ExpressionInfo(classOf[JaroWinkler].getName, JaroWinklerName),
      binaryBuilder(JaroWinklerName, JaroWinkler)),
    (FunctionIdentifier(DotName),
      new ExpressionInfo(classOf[DotProduct].getName, DotName),
      binaryBuilder(DotName, DotProduct)),
    (FunctionIdentifier(L2SqName),
      new ExpressionInfo(classOf[L2Squared].getName, L2SqName),
      binaryBuilder(L2SqName, L2Squared)),
    (FunctionIdentifier(PlaneBucketName),
      new ExpressionInfo(classOf[PlaneBucket].getName, PlaneBucketName),
      binaryBuilder(PlaneBucketName, PlaneBucket)),
    (FunctionIdentifier(MinHashesName),
      new ExpressionInfo(classOf[PortableMinHashes].getName, MinHashesName),
      binaryBuilder(MinHashesName, PortableMinHashes)),
    (FunctionIdentifier(WindowHashesName),
      new ExpressionInfo(classOf[WindowHashes].getName, WindowHashesName),
      binaryBuilder(WindowHashesName, WindowHashes)),
    (FunctionIdentifier(DHash56Name),
      new ExpressionInfo(classOf[DHash56].getName, DHash56Name),
      binaryBuilder(DHash56Name, DHash56)),
    (FunctionIdentifier(FirstEqName),
      new ExpressionInfo(classOf[FirstEqualIndex].getName, FirstEqName),
      binaryBuilder(FirstEqName, FirstEqualIndex)),
    (FunctionIdentifier(SimhashFpName),
      new ExpressionInfo(classOf[SimhashFp].getName, SimhashFpName),
      binaryBuilder(SimhashFpName, SimhashFp)),
  )

  /** Idempotent per-session registration (done in Tables.load, so every
    * query path has it): functions + the sorted-intersect rewrite rule.
    */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) registry.registerFunction(ident, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteSortedIntersect)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteSortedIntersect
    }
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
  }

  def inject(extensions: SparkSessionExtensions): Unit = {
    all.foreach(extensions.injectFunction)
    extensions.injectOptimizerRule(_ => graft.plans.RewriteSortedIntersect)
    extensions.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

/** `spark.sql.extensions` entry point. */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftFunctions.inject(extensions)
}
