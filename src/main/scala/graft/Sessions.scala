package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the engine's deployment posture.
  *
  * Local mode gets core-matched shuffle partitions; cluster mode leans on
  * AQE to coalesce/split at runtime (initial partition count high, skew
  * join on) — the settings that matter when the same plans run against
  * 100 TB on 1000 executors instead of test parquet on local[32].
  */
object Sessions {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    base(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()

  /** Cluster posture (master comes from spark-submit): AQE owns partition
    * counts, skew joins split automatically, scans target ~256 MiB splits. */
  def cluster(): SparkSession =
    base(null)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128m")
      .config("spark.sql.files.maxPartitionBytes", "256m")
      .config("spark.sql.shuffle.partitions", "2000")
      .getOrCreate()

  /** `spark.sql.codegen.cache.maxEntries`: room for every class one
    * pipeline run generates, so a warm run compiles no code.
    *
    * Spark keeps compiled classes in an LRU cache split over 4 segments,
    * and a segment starts evicting at a quarter of this value. Counted
    * with `CodegenMetrics` in the workload benchmark (`perfbench`,
    * local[4]), one run generates 121 distinct classes on `curate` and 96
    * on `ingest_search`; with set-up and checks a JVM holds 126 and 143,
    * and 176 and 193 once the traced mode's own plans join them. At
    * Spark's default of 100 (25 a segment), runs that cycle through the
    * same stages evict most classes before their next use: warm runs
    * recompiled 92 of 121 classes on `curate` and 53 of 96 on
    * `ingest_search`. 1000 keeps even the worst split, all 193 classes in
    * one segment (4 × 193 = 772), clear of eviction; at this value warm
    * runs of both workloads compiled nothing.
    *
    * A static conf, read once when Spark first loads `CodeGenerator`: it
    * takes effect only if the first session in the JVM to generate code
    * was built here. */
  private val CodegenCacheEntries = 1000

  private def base(master: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
    if (master != null) b.master(master) else b
  }
}
