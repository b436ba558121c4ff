package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.Catalog
import graft.pipelines.Pipelines

/** Driver contract (SURVEY.md §7): one named query per implemented operator
  * from the §2 inventory + north-star extensions, each with a DuckDB oracle
  * where the semantics are ANSI-SQL-expressible. Both maps are views of
  * [[graft.catalog.Catalog]], where each query is declared once beside its
  * oracle, anchor and prep.
  */
object SparkEntry {

  /** Flagship: legacy chunk+embed lifecycle (§3.3) over sf0.001 documents. */
  def entry(spark: SparkSession): DataFrame =
    Pipelines.chunkAndEmbedDocuments(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.byName.map { case (n, q) => n -> q.build }

  /** Oracle SQL (DuckDB dialect) — same tables, same column names/order keys. */
  def oracleSql: Map[String, String] =
    Catalog.byName.map { case (n, q) => n -> q.oracle }
}
