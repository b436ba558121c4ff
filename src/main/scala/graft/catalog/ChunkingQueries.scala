package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.chunk.Chunkers
import graft.io.Tables
import graft.catalog.Duck._

/** Chunking (C2-C8): character, token and section windows. */
object ChunkingQueries {

  /** The token-window chunk relation (32-stride / 40-token windows) shared
    * by chunk_tokens and pack_sequences — the stride/window constants live
    * here once per engine (mirrored by [[DuckTokenChunks]]). */
  private[catalog] def tokenChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("_toks", split(trim(regexp_replace(col("text"), "\\s+", " ")), " "))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") > 0)
      .withColumn("chunk_index", explode(expr("sequence(0, cast((_n - 1) div 32 as int))")))
      .withColumn("_start", col("chunk_index") * 32)
      .withColumn("n_tokens", least(lit(40), col("_n") - col("_start")).cast("long"))

  val all: Seq[Query] = Seq(
    Query("chunk_fixed", 0.761, (s, dir) =>
      Chunkers.fixedWindowsExpr(Tables.documents(s, dir), "doc_id", "text", 120, 12)
        .orderBy(col("doc_id"), col("chunk_index")),
      """WITH t AS (SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |w AS (SELECT doc_id, t,
        |        unnest(generate_series(0, CAST(1 + greatest(0, ceil((length(t) - 120) / 108.0)) AS INT) - 1)) AS chunk_index
        |      FROM t WHERE length(t) > 0)
        |SELECT doc_id || '::c' || chunk_index AS chunk_id, doc_id, chunk_index,
        |       trim(substring(t, chunk_index * 108 + 1, 120)) AS chunk_text
        |FROM w WHERE trim(substring(t, chunk_index * 108 + 1, 120)) <> ''
        |ORDER BY doc_id, chunk_index""".stripMargin),
    Query("chunk_tokens", 0.92, (s, dir) =>
      tokenChunks(s, dir)
        .select(
          concat(col("doc_id"), lit("::t"), col("chunk_index")).as("chunk_id"),
          col("doc_id"), col("chunk_index"), col("n_tokens"),
          expr("array_join(slice(_toks, _start + 1, 40), ' ')").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_index")),
      s"""WITH $DuckTokenChunks
         |SELECT doc_id || '::t' || chunk_index AS chunk_id, doc_id, chunk_index, n_tokens,
         |       array_to_string(list_slice(toks, chunk_index * 32 + 1, chunk_index * 32 + 40), ' ') AS chunk_text
         |FROM tc ORDER BY doc_id, chunk_index""".stripMargin),
    Query("chunk_generator", 0.603, (s, dir) => {
      // the word-boundary-bump chunker as a native SQL Generator
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
      s.sql(
        """SELECT concat(doc_id, '::g', w.chunk_index) AS chunk_id, doc_id,
          |       w.chunk_index, w.chunk_text
          |FROM graft_docs LATERAL VIEW chunk_windows(text, 120, 12) w
          |ORDER BY doc_id, w.chunk_index""".stripMargin)
    },
      // replays Chunkers.splitTextWindows: after whitespace collapse the
      // only whitespace is ' ', so the ≤40-char word-boundary bump is
      // strpos of the next space; windows advance by (bumped end - overlap)
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, trim(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
        |st AS (
        |  SELECT doc_id, t, length(t) AS n, 0 AS idx, 0 AS s FROM base WHERE length(t) > 0
        |  UNION ALL
        |  SELECT doc_id, t, n, idx + 1, e - 12 AS s FROM (
        |    SELECT *, CASE WHEN s + 120 >= n THEN n
        |                   ELSE s + 120 + (CASE WHEN strpos(substring(t, s + 121, 40), ' ') > 0
        |                                        THEN strpos(substring(t, s + 121, 40), ' ') - 1 ELSE 0 END) END AS e
        |    FROM st) WHERE e < n),
        |w AS (
        |  SELECT doc_id, idx, s,
        |         CASE WHEN s + 120 >= n THEN n
        |              ELSE s + 120 + (CASE WHEN strpos(substring(t, s + 121, 40), ' ') > 0
        |                                   THEN strpos(substring(t, s + 121, 40), ' ') - 1 ELSE 0 END) END AS e, t
        |  FROM st),
        |ch AS (
        |  SELECT doc_id, trim(substring(t, s + 1, e - s)) AS chunk_text,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS chunk_index
        |  FROM w WHERE trim(substring(t, s + 1, e - s)) <> '')
        |SELECT doc_id || '::g' || chunk_index AS chunk_id, doc_id, CAST(chunk_index AS INT) AS chunk_index, chunk_text
        |FROM ch ORDER BY doc_id, chunk_index""".stripMargin)
  )
}
