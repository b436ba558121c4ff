package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression

/** The native SQL functions, declared once for [[graft.GraftExtensions]],
  * which every session built by [[graft.Sessions]] installs: name, the
  * class that documents it, and builder. */
object GraftFunctions {
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity], e => CosineSimilarity(e(0), e(1))),
    ("chunk_windows", ChunkWindows.getClass, e => ChunkWindows(e(0), e(1), e(2))),
    ("sorted_intersect_count", SortedIntersectCount.getClass, e => SortedIntersectCount(e(0), e(1))))
}
