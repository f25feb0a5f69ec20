package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native codegen'd cosine similarity over two `array<float>` columns —
  * the hot inner loop of KNN / ANN / embedding near-dup at 100 TB.
  *
  * The composable form (`aggregate(zip_with(...))` in
  * [[graft.operators.Similarity.cosine]]) evaluates an interpreted lambda
  * per element — fine for occasional use, ~10× too slow for a scoring loop
  * that runs |Q|×|corpus| times. This expression emits a single fused Java
  * loop inside whole-stage codegen: one pass accumulating dot product and
  * both norms in doubles (per-element widening, left-to-right — bit-
  * identical to the composable form and to the DuckDB oracle rendering).
  *
  * Spark offers no built-in for this (no SIMD/vector similarity function
  * as of 4.x), so this is the (b)-tier custom-operator route from the
  * design rules: a scalar `Expression` with `doGenCode`, registered via
  * [[graft.GraftExtensions]] / `Tables.ensureFunctions`.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<float>, array<float>), " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    CosineSimilarity.cosine(x.numElements(), x.getFloat, y.numElements(), y.getFloat)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $na = 0.0;
         |double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xi = (double) $a.getFloat($i);
         |  final double $yi = (double) $b.getFloat($i);
         |  $dot += $xi * $yi;
         |  $na += $xi * $xi;
         |  $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {

  /** The `cosine_sim` arithmetic over the common prefix of two vectors
    * of lengths `na` and `nb`, read through `a` and `b`: per-element
    * double widening, one left-to-right pass — what `doGenCode` emits,
    * and what the streaming state folds call on the vectors they hold.
    */
  def cosine(na: Int, a: Int => Float, nb: Int, b: Int => Float): Double = {
    val n = math.min(na, nb)
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      sa += x * x
      sb += y * y
      i += 1
    }
    dot / (math.sqrt(sa) * math.sqrt(sb))
  }
}
