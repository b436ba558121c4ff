// Hosted under org.apache.spark.sql so the expression can implement the
// private[sql] ImplicitCastInputTypes/AbstractDataType contract — the
// standard packaging for third-party Catalyst expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` or `array<double>` columns.
  *
  * One fused loop computes dot product and both squared norms — inside
  * whole-stage codegen, no intermediate `zip_with` array allocation, no
  * lambda-function interpretation. Result is bit-identical to the
  * `aggregate(zip_with(...))` formulation in [[VectorOps.cosine]]: each
  * accumulator is the same left-to-right IEEE double fold, and a zero
  * denominator yields null exactly like Spark's fractional Divide.
  *
  * r17 optimization: `array<float>` is read NATIVELY (each element widened
  * float→double in-register — the exact value the old implicit
  * `cast(array<float> as array<double>)` produced, since float→double
  * widening is lossless). The cast mattered: under a nested-loop join the
  * implicit cast re-allocated and re-converted a 64-element double array
  * for BOTH sides of EVERY pair — it alone roughly doubled the exact
  * bitext tier's A×B pass. Other numeric array types still implicitly
  * cast to array<double> (TypeCollection order), as before. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)),
      TypeCollection(ArrayType(DoubleType), ArrayType(FloatType)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.fold(doubles(a.asInstanceOf[ArrayData], left),
      doubles(b.asInstanceOf[ArrayData], right))

  /** The array widened to doubles: float→double is lossless, so these are
    * exactly the values the generated code reads element by element. */
  private def doubles(d: ArrayData, e: Expression): Array[Double] =
    if (isFloat(e)) d.toFloatArray().map(_.toDouble) else d.toDoubleArray()

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      val getX = if (isFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY = if (isFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $xv = $getX;
         |    double $yv = $getY;
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  import org.apache.spark.sql.classic.ExpressionUtils

  /** The scalar fold behind the interpreted `eval` and behind
    * [[graft.ops.Ivf.probedRescored]]'s corpus pass: dot product and both
    * squared norms accumulated left to right in one loop, the arithmetic
    * the generated code repeats. Null (SQL null) on a dimension mismatch or
    * a zero denominator. */
  def fold(x: Array[Double], y: Array[Double]): java.lang.Double = {
    // dimension mismatch → null, matching the builtins form (zip_with pads
    // with null, which poisons the fold)
    if (x.length != y.length) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < x.length) {
      val xv = x(i); val yv = y(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** Column API for the native expression. */
  def apply(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
