package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `cosine_similarity(a, b)` over two `array<float>` or `array<double>`
  * columns: [[CosineSimilarity.cosine]], one fused loop over dot product
  * and both squared norms, with no intermediate `zip_with` array and no
  * lambda interpretation. The result is bit-identical to the
  * `aggregate(zip_with(...))` formulation in [[graft.vector.VectorOps]]:
  * each accumulator is the same left-to-right IEEE double fold, and a zero
  * denominator yields null exactly like Spark's fractional Divide.
  *
  * `array<float>` is read natively, each element widened float→double in
  * the loop (the exact value an implicit `cast(array<float> as
  * array<double>)` would produce, since the widening is lossless). The
  * cast mattered: under a nested-loop join it re-allocated and
  * re-converted a 64-element double array for both sides of every pair,
  * which alone roughly doubled the exact bitext tier's A×B pass. Other
  * numeric array types implicitly cast to array<double>.
  *
  * The call depends on each side's resolved element type, so this stays an
  * expression: a `RuntimeReplaceable` whose replacement is the static
  * call. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends RuntimeReplaceable with ImplicitCastInputTypes with BinaryLike[Expression] {

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

  override lazy val replacement: Expression =
    Kernels.invoke(CosineSimilarity, DoubleType, "cosine",
      Seq(left -> left.dataType, right -> right.dataType),
      Seq(Literal(isFloat(left)), Literal(isFloat(right))), returnNullable = true)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  import org.apache.spark.sql.classic.ExpressionUtils

  /** Cosine of two arrays, each read as float or double elements: null
    * (SQL null) on a dimension mismatch or a zero denominator. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    // dimension mismatch → null, matching the builtins form (zip_with pads
    // with null, which poisons the fold)
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val yv = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** [[cosine]]'s fold over plain double arrays, for
    * [[graft.ops.Ivf.probedRescored]]'s corpus pass. */
  def fold(x: Array[Double], y: Array[Double]): java.lang.Double = {
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
