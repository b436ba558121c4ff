package graft

import org.apache.spark.sql.SparkSession
import graft.catalog.Query

/** The one timing rule for catalog rows, shared by `graft.Bench`,
  * `graft.tools.ScaleAudit` and `graft.tools.AqeParity`.
  *
  * A timed run writes the row's whole result to Spark's `noop` sink: the
  * frame `graft.Verify` checks, without Verify's `coalesce(1)`. A
  * `count()` would let Catalyst drop the final Sort and every expression
  * the count does not need, so it would time a different plan.
  *
  * A run of `rows` over one dir:
  *  1. one untimed run of every row over the `sf0.001` dir beside the
  *     measured one (the measured dir when that is absent), so JIT and
  *     whole-stage codegen are paid before timing;
  *  2. each row's prep at the measured dir, timed on its own;
  *  3. [[Rounds]] rounds. Round r times every row before round r+1 times
  *     any, so a host stall lands on one sample of many rows, not on every
  *     sample of one row.
  *
  * Each row reports the median and quartiles of its samples. Between runs,
  * outside the timed window, [[reclaim]] frees what the previous run left
  * behind.
  */
object Timing {

  /** Timed rounds per run: the median of 3 survives one stalled sample.
    * 5 would survive two, but one round of the full catalog at sf0.1 takes
    * about 8 minutes on 4 cores, so a 5-round run would take about 45. */
  private val Rounds = 3

  /** One row's timed samples in seconds, in round order; -1 for a failed
    * rep. Any failed rep fails the row: its median and quartiles read -1. */
  final case class Row(samples: Seq[Double]) {
    def failed: Boolean = samples.exists(_ < 0.0)
    def median: Double = quantile(0.5)
    def q1: Double = quantile(0.25)
    def q3: Double = quantile(0.75)
    /** Successful reps. */
    def n: Int = samples.count(_ >= 0.0)

    /** Linear interpolation between order statistics. */
    private def quantile(p: Double): Double =
      if (failed || samples.isEmpty) -1.0
      else {
        val s = samples.sorted
        val pos = p * (s.size - 1)
        val lo = pos.toInt
        val hi = math.min(lo + 1, s.size - 1)
        s(lo) + (pos - lo) * (s(hi) - s(lo))
      }
  }

  /** A run's prep times (-1 for a failed prep) and its rows, in the order
    * they were given. */
  final case class Run(preps: Map[String, Double], rows: Seq[(String, Row)])

  /** Warm up, prep and time `rows` over the tables in `dir`. */
  def run(spark: SparkSession, rows: Seq[Query], dir: String): Run = {
    val small = new java.io.File(new java.io.File(dir).getAbsoluteFile.getParentFile, "sf0.001")
    val warmDir = if (small.isDirectory) small.getPath else {
      System.err.println(s"[timing] $small absent; warming up against the measured dir $dir")
      dir
    }
    rows.foreach(q => timeOnce(spark, q, warmDir))
    reclaim(spark)
    val preps = timePreps(spark, dir, rows.flatMap(q => q.prep.map(q.name -> _)).toMap)
    val samples = Array.fill(rows.size)(Vector.empty[Double])
    for (_ <- 1 to Rounds; (q, i) <- rows.zipWithIndex) {
      samples(i) :+= timeOnce(spark, q, dir)
      reclaim(spark)
    }
    Run(preps, rows.map(_.name).zip(samples.map(Row(_))))
  }

  /** Seconds to write `q`'s result at `dir` to the `noop` sink; -1 if it
    * throws (the failed-query convention: never a time-to-failure). */
  private def timeOnce(spark: SparkSession, q: Query, dir: String): Double = {
    val t0 = System.nanoTime()
    try {
      q.build(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[timing] ${q.name} @ $dir failed: ${e.getMessage}")
      -1.0
    }
  }

  /** Time each prep step; a failed prep records -1, so the artifact shows
    * when the matching row's number silently includes the build it was
    * meant to amortize (the row re-attempts the build inside its own
    * timed window when the prep artifact is missing). */
  private[graft] def timePreps(spark: SparkSession, dir: String,
                               preps: Map[String, (SparkSession, String) => Unit]): Map[String, Double] =
    preps.map { case (name, prep) =>
      val t0 = System.nanoTime()
      val ok =
        try { prep(spark, dir); true }
        catch { case e: Throwable =>
          System.err.println(s"[timing] prep $name failed: ${e.getMessage}"); false }
      val dt = (System.nanoTime() - t0) / 1e9
      reclaim(spark)
      name -> (if (ok) dt else -1.0)
    }

  /** Free what a run left behind, outside the timed window:
    *  - `clearCache`: rows that persist re-cache on every run, and a later
    *    run could reuse that cache through plan-fragment matching;
    *  - the listener-bus drain: events queued by one run would otherwise
    *    be dispatched on the driver during the next run's timed window;
    *  - `System.gc()`: pinned blocks (`Pin`) and broadcasts are released
    *    by the `ContextCleaner` only when driver GC collects their frames,
    *    and under a large heap that may not happen for the whole run. */
  private def reclaim(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    System.gc()
  }
}
