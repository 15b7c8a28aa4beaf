package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `cosine_sim(array<float|double>, array<float|double>) -> double` as
  * a native Catalyst expression with whole-stage-codegen support.
  *
  * Motivation (SURVEY.md §4.3 revisited): the built-in way to express a
  * dot product is `aggregate(zip_with(a, b, (x, y) -> x*y), 0D, (s, v)
  * -> s+v)`, but higher-order functions are interpreted per row with
  * closure dispatch per element — on the all-pairs / top-k similarity
  * paths that is the hot loop over (pairs × 64) elements. A fused
  * single-pass expression keeps the loop inside generated Java, stays
  * inside WholeStageCodegen spans, and reads both arrays exactly once.
  *
  * `array<float>` legs are read IN PLACE: the old builder-side
  * `Cast(array<float> → array<double>)` allocated a fresh 64-double
  * array per leg per ROW EVALUATED — on the all-pairs join that is two
  * allocations per PAIR (~3.5 GB of garbage per emb_cosine_pairs run at
  * sf0.1), which made wall time hostage to heap state (observed
  * 0.9–15.4 s on identical code). Element reads widen float→double
  * (exact), so the accumulated result is bit-identical to the cast
  * form; only the garbage is gone.
  *
  * Semantics: single pass accumulating dot, |a|², |b|² in doubles, then
  * `dot / (sqrt(|a|²) * sqrt(|b|²))`; 0.0 when either norm is zero;
  * compares equal to DuckDB's `list_cosine_similarity` after rounding
  * (both accumulate left-to-right in doubles). Arrays of different
  * lengths use the common prefix (embeddings are fixed dim-64, so this
  * never fires on the fixtures).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  // The function builder (GraftExtensions) casts anything that is not
  // already a float/double array; this check guards direct
  // construction. (Spark's ImplicitCastInputTypes machinery uses
  // private[sql] types, so the cast-at-build approach keeps us on the
  // public surface.)
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) | ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim requires array<double> or array<float> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "cosine_sim"

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left.dataType); val rf = isFloat(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      def get(arr: String, t: DataType): String =
        if (isFloat(t)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
      s"""
         |final int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = ${get(x, left.dataType)};
         |  final double $yv = ${get(y, right.dataType)};
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |final double $denom = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($denom == 0.0) ? 0.0 : ($dot / $denom);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}
