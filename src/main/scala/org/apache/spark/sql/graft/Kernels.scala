// The native kernels live under org.apache.spark.sql because a Column is
// turned into a Catalyst expression and back through
// `classic.ExpressionUtils`, and the input-type contract the kernels pass
// along (`AbstractDataType`, `TypeCollection`) is declared there too;
// both are private[sql].
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** The one route from a kernel function to Catalyst: each native kernel is
  * a plain Scala function on an object, called through Spark's
  * `StaticInvoke`. Whole-stage codegen emits a direct static call to it,
  * and the interpreted path invokes the same method, so generated and
  * interpreted code cannot disagree.
  *
  * `inputs` pairs each column with the type it is implicitly cast to
  * (the old expression classes' `inputTypes`). `consts` follow them as
  * literals, so generated code is the same on every run. With
  * `propagateNull` a null input makes the result null without a call;
  * without it the function receives the null and must accept it.
  * `returnNullable` says the function itself may return null. */
private[graft] object Kernels {

  def invoke(kernel: AnyRef, dataType: DataType, fn: String,
             inputs: Seq[(Expression, AbstractDataType)], consts: Seq[Literal] = Nil,
             propagateNull: Boolean = true, returnNullable: Boolean = false): Expression =
    StaticInvoke(kernel.getClass, dataType, fn, inputs.map(_._1) ++ consts,
      inputs.map(_._2) ++ consts.map(_.dataType), propagateNull, returnNullable)

  def column(kernel: AnyRef, dataType: DataType, fn: String,
             inputs: Seq[(Column, AbstractDataType)], consts: Seq[Literal] = Nil,
             propagateNull: Boolean = true, returnNullable: Boolean = false): Column =
    ExpressionUtils.column(invoke(kernel, dataType, fn,
      inputs.map { case (c, t) => (ExpressionUtils.expression(c), t) },
      consts, propagateNull, returnNullable))
}
