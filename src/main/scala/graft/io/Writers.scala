package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sink operators (SURVEY.md §2.2 K1-K6).
  *
  * The reference writes single local files from driver memory; the Spark
  * formulation writes distributed datasets. Where the reference's format is
  * a presentation detail (one pretty-printed JSON array), the faithful
  * large-scale sink is JSONL/parquet and the single-file shape is kept only
  * behind an explicit `singleFile` flag (coalesce(1) — driver-bottleneck,
  * small outputs only).
  */
object Writers {

  /** K1/K2: JSON(L) sink. `singleFile` mirrors the reference's one-file
    * output (fulltext_enricher.py:97-101) — only for small results. */
  def jsonSink(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode(SaveMode.Overwrite).json(path)
  }

  /** K3/K4: parquet sink for chunk / embedding tables. `bucketCols`
    * partitions the layout so downstream keyed joins and incremental
    * overwrites prune files instead of scanning the world. */
  def parquetSink(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed managed table: pre-hash-partitions (and sorts) the layout on
    * the join/upsert key, so repeated keyed joins between tables bucketed
    * the same way run with ZERO exchanges — the physical backbone of an
    * incremental 100 TB vector/record store, where the per-batch MERGE
    * would otherwise re-shuffle the full corpus every run. Bucketing
    * requires `saveAsTable` (the bucket metadata lives in the catalog). */
  def bucketedTableSink(df: DataFrame, table: String, key: String,
                        numBuckets: Int = 64): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  // Small-file compaction lives in [[GenTable.compact]] since r12: every
  // maintained (rewritten-in-place) table — compaction targets included —
  // commits through the one generation/marker protocol there, replacing
  // the rename-swap that was only crash-safe where rename is atomic.

  /** ORC sink — the columnar alternative when the downstream stack is
    * Hive/ORC-native; same layout options as [[parquetSink]]. (Avro is
    * intentionally absent: the spark-avro connector isn't on this
    * classpath, and parquet/ORC cover the columnar cases.) */
  def orcSink(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** K5: CSV failure side-output (fulltext_skipped.csv). Spark quotes
    * fields properly — the reference's unescaped-comma corruption
    * (SURVEY.md §5) is deliberately not reproduced.
    *
    * Distributed by default: the failure channel is corpus-scale in
    * practice (the reference's observed run skipped 4,353 of 4,545 DOIs —
    * 96% of the input — `data/processed/fulltext_summary.json`), and a
    * mandatory coalesce(1) would serialize all of it through one task.
    * `singleFile` mirrors the reference's one-file CSV only for small
    * results, exactly like [[jsonSink]]. */
  def csvFailureSink(failures: DataFrame, path: String,
                     singleFile: Boolean = false): Unit = {
    val d = if (singleFile) failures.coalesce(1) else failures
    d.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
  }

  /** K6: JSON summary sink — one-row metrics record. */
  def summarySink(summary: DataFrame, path: String): Unit =
    summary.coalesce(1).write.mode(SaveMode.Overwrite).json(path)
}
