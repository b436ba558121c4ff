package graft.vector

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Exact element-wise sum of integer vectors plus count — the
  * merge-order-FREE aggregation buffer behind [[graft.ops.Ivf]] centroids.
  *
  * Long addition is associative and commutative with no rounding, so the
  * result is bit-identical no matter how Spark merges partials across
  * partitions — unlike a double-sum ([[VectorMean]]), whose low bits depend
  * on merge order. Deterministic centroids are what make IVF training
  * reproducible run-to-run and replayable by the DuckDB oracle. */
class VectorSumLong(dim: Int) extends Aggregator[Array[Long], (Array[Long], Long), (Seq[Long], Long)] {

  override def zero: (Array[Long], Long) = (new Array[Long](dim), 0L)

  override def reduce(b: (Array[Long], Long), v: Array[Long]): (Array[Long], Long) = {
    val (sums, n) = b
    require(v.length == dim, s"VectorSumLong(dim=$dim) got a vector of length ${v.length}")
    var i = 0
    while (i < dim) { sums(i) += v(i); i += 1 }
    (sums, n + 1)
  }

  override def merge(a: (Array[Long], Long), b: (Array[Long], Long)): (Array[Long], Long) = {
    val (sa, na) = a; val (sb, nb) = b
    var i = 0
    while (i < dim) { sa(i) += sb(i); i += 1 }
    (sa, na + nb)
  }

  override def finish(r: (Array[Long], Long)): (Seq[Long], Long) = (r._1.toSeq, r._2)

  override def bufferEncoder: Encoder[(Array[Long], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Long], Long)]()
  override def outputEncoder: Encoder[(Seq[Long], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Seq[Long], Long)]()
}
