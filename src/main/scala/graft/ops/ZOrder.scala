package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Z-order (Morton) interleaving — multi-dimensional data LAYOUT for scan
  * pruning. Sorting/range-partitioning a 100 TB table by the interleaved
  * key clusters rows that are close in BOTH dimensions into the same
  * files, so min/max file statistics prune selective 2-D predicates that
  * a single-column sort could only prune on its leading column (the
  * technique behind Delta/Iceberg Z-ORDER clustering; Morton, "A computer
  * oriented geodetic data base", 1966).
  *
  * The key is pure integer bit arithmetic (`>>`, `&`, `*`, `+`) over
  * non-negative inputs, generated as ONE SQL expression string shared
  * verbatim by Spark and the DuckDB oracle — codegen-friendly, no UDF,
  * bit-identical everywhere.
  */
object ZOrder {

  /** SQL text of the interleaved key of `xExpr`/`yExpr` (each masked to
    * `bits` low bits; callers clamp or bucket wider domains first): x's
    * bit i lands at key bit 2i, y's at 2i+1. Valid in Spark SQL and
    * DuckDB alike — keep the generated text dialect-neutral. */
  def zKeySql(xExpr: String, yExpr: String, bits: Int = 16): String = {
    require(bits >= 1 && bits <= 31, s"bits out of range: $bits")
    val terms = (0 until bits).flatMap { i =>
      Seq(s"((($xExpr) >> $i) & 1) * ${1L << (2 * i)}",
          s"((($yExpr) >> $i) & 1) * ${1L << (2 * i + 1)}")
    }
    s"cast(${terms.mkString(" + ")} as bigint)"
  }

  /** The interleaved key as a Column (Spark side of [[zKeySql]]). */
  def zKey(xExpr: String, yExpr: String, bits: Int = 16): Column =
    expr(zKeySql(xExpr, yExpr, bits))
}
