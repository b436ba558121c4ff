package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of graft's native expressions on an EXISTING session (the
  * extensions route, [[graft.GraftExtensions]], only applies at session
  * construction). Hosted under org.apache.spark.sql for sessionState
  * access. */
object GraftFunctions {

  /** The native SQL functions, declared once for both registration
    * routes: name, expression class and builder. */
  val all: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    ("chunk_windows", classOf[ChunkWindows], e => ChunkWindows(e(0), e(1), e(2))),
    ("morton_interleave", classOf[MortonInterleave], e => MortonInterleave(e(0), e(1), e(2))),
    ("sorted_intersect_count", classOf[SortedIntersectCount], e => SortedIntersectCount(e(0), e(1))))

  /** Make `cosine_similarity(a, b)`, `chunk_windows(text, size, ov)`,
    * `morton_interleave(x, y, bits)` and `sorted_intersect_count(a, b)`
    * available to SQL in this session. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf") }
  }

  def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)
}
