package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `sorted_intersect_count(a, b)`: |a ∩ b| for two ASCENDING-SORTED
  * `array<bigint>` columns with distinct, non-null elements, as one
  * two-pointer merge; null when either side is null.
  *
  * This is the hot inner operation of exact-Jaccard verification
  * ([[graft.ops.Dedup]]): `size(array_intersect(a, b))` builds a hash set
  * and an intermediate result array per PAIR, while candidate pairs
  * outnumber documents; the merge does zero allocation and one linear
  * scan. Sorting is paid once per DOCUMENT at set-build time
  * (`sort_array(collect_set(...))`), amortized across every pair the doc
  * appears in.
  *
  * PRECONDITION (caller-enforced, not checked): both arrays sorted
  * ascending with unique elements — the producer is always
  * `sort_array(collect_set(...))`. Unsorted input undercounts silently.
  */
object SortedIntersectCount {

  def intersectCount(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements(); val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  private val Sets = ArrayType(LongType)

  def apply(a: Expression, b: Expression): Expression =
    Kernels.invoke(this, LongType, "intersectCount", Seq(a -> Sets, b -> Sets))

  def apply(a: Column, b: Column): Column =
    Kernels.column(this, LongType, "intersectCount", Seq(a -> Sets, b -> Sets))
}
