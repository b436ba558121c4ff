package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the query catalog, declared once in its family's file
  * (`catalog/<Family>Queries.scala`): the query, its DuckDB oracle, its
  * bench anchor and any set-up the bench amortizes.
  *
  * @param name   the row's key in the driver contract
  *               (`SparkEntry.queries` / `SparkEntry.oracleSql`)
  * @param anchor the row's pinned bench time in seconds: the median of
  *               the `noop`-sink reps [[graft.Timing]] runs at sf0.1 on
  *               `nproc` cores (BASELINE.md). `graft.Bench` gates each
  *               sf0.1 median at 2x this figure. It changes ONLY with a
  *               BASELINE.md re-pin, in the same change, which records
  *               the old and new value.
  * @param build  the query over the tables of an sf dir
  * @param oracle the DuckDB SQL whose result the query must match exactly,
  *               over the same tables, columns and order keys. Evaluated
  *               lazily, so one oracle may quote another through
  *               [[Catalog]].
  * @param prep   idempotent set-up the bench runs, and times separately,
  *               BEFORE timing the query: work production amortizes across
  *               runs (a corpus index built once and probed by every
  *               increment), so the row measures its steady-state cost.
  *               The query body calls the same builder, so it also runs
  *               without the prep.
  */
final class Query(val name: String, val anchor: Double,
                  val build: (SparkSession, String) => DataFrame,
                  oracleSql: => String,
                  val prep: Option[(SparkSession, String) => Unit]) {
  lazy val oracle: String = oracleSql
}

object Query {
  def apply(name: String, anchor: Double, build: (SparkSession, String) => DataFrame,
            oracle: => String,
            prep: Option[(SparkSession, String) => Unit] = None): Query =
    new Query(name, anchor, build, oracle, prep)
}
