package org.apache.spark.sql.graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Inline}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.chunk.Chunkers

/** The SQL generator for the reference's char-window chunker WITH
  * word-boundary bump (chunking/chunkers.py:48-77):
  *
  *   SELECT doc_id, w.chunk_index, w.chunk_text
  *   FROM documents LATERAL VIEW chunk_windows(text, 1200, 120) w
  *
  * Spark's `Inline` over the window structs [[windows]] returns, so
  * Catalyst plans a `Generate` node — streaming, narrow, inside
  * whole-stage codegen — instead of an opaque typed flatMap, and column
  * pruning and filter pushdown still see through the scan below it. Null
  * text or a null size/overlap yields no rows. */
object ChunkWindows {

  private val Window = StructType(Seq(
    StructField("chunk_index", IntegerType, nullable = false),
    StructField("chunk_text", StringType, nullable = false)))

  def windows(text: UTF8String, size: Int, overlap: Int): ArrayData =
    new GenericArrayData(Chunkers.splitTextWindows(text.toString, size, overlap)
      .zipWithIndex.map { case (chunk, i) => InternalRow(i, UTF8String.fromString(chunk)) }
      .toArray[Any])

  /** `chunk_windows(text, size, overlap)`: text must be STRING and
    * size/overlap integral, checked when the call is analyzed. */
  def apply(text: Expression, size: Expression, overlap: Expression): Expression = {
    def integral(dt: DataType): Boolean = dt match {
      case IntegerType | LongType | ShortType | ByteType => true
      case _ => false
    }
    if (text.dataType != StringType || !integral(size.dataType) || !integral(overlap.dataType))
      throw new AnalysisException("DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT", Map(
        "sqlExpr" -> "chunk_windows",
        "msg" -> ("chunk_windows takes (STRING, integral, integral), got " +
          s"(${text.dataType.sql}, ${size.dataType.sql}, ${overlap.dataType.sql})"),
        "hint" -> ""))
    def int(e: Expression): Expression = if (e.dataType == IntegerType) e else Cast(e, IntegerType)
    Inline(Kernels.invoke(this, ArrayType(Window, containsNull = false), "windows",
      Seq(text -> StringType, int(size) -> IntegerType, int(overlap) -> IntegerType)))
  }
}
