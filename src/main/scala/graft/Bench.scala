package graft
import graft.catalog.Catalog
import graft.Timing.Row
/** The bench of record: every selected catalog row timed by [[Timing]] at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) on `Sessions.local(SPARK_GRAFT_CPUS)`.
  * At sf0.1 each row's median is gated at 2x its [[graft.catalog.Query.anchor]]. */
object Bench {
  /** Per-query 2x-gate breaches as data: each entry is
    * "query:anchor:median:ratio" for a successfully measured row whose
    * median exceeds 2x its anchor. Empty = every row inside the gate. */
  private[graft] def gateExceedances(rows: Seq[(String, Row)]): Seq[String] =
    (for ((n, r) <- rows if !r.failed; q <- Catalog.byName.get(n) if r.median / q.anchor > 2.0)
      // Locale.ROOT: the default locale would render comma decimals on
      // e.g. de_DE hosts inside the persisted artifact of record
      yield String.format(java.util.Locale.ROOT, "%s:%.2f:%.3f:%.2f",
        n, Double.box(q.anchor), Double.box(r.median), Double.box(r.median / q.anchor))).sorted

  /** Millisecond precision: the anchors are pinned to the millisecond,
    * and 9-decimal doubles made the full line overflow a captured console
    * tail. -1 sentinels pass through unrounded. */
  private def ms3(v: Double): String =
    if (v < 0.0) v.toString
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => Verify.jsonStr(k) + ":" + v }.mkString("{", ",", "}")

  /** Round r's total: the summed successful samples of round r. A later
    * round slower than the first by more than the rounds' spread is
    * in-run inflation. */
  private def roundTotals(rows: Seq[(String, Row)]): String = {
    val rounds = rows.map(_._2.samples.size).maxOption.getOrElse(0)
    (0 until rounds).map(r => ms3(rows.flatMap(_._2.samples.lift(r)).filter(_ >= 0.0).sum))
      .mkString("[", ",", "]")
  }

  /** The gate applies to sf0.1 only, matched on the dir's basename so
    * `.../not-sf0.1` is not read as anchored: anchors are absolute sf0.1
    * seconds. */
  private def exceedances(rows: Seq[(String, Row)], sfDir: String): String = {
    val isSf01 = sfDir.replaceAll("/+$", "").split('/').last == "sf0.1"
    (if (isSf01) gateExceedances(rows) else Nil).map(Verify.jsonStr).mkString("[", ",", "]")
  }

  private def total(rows: Seq[(String, Row)]): Double =
    rows.map(_._2).filterNot(_.failed).map(_.median).sum

  /** The full record: each row's median (`queries`), quartiles and
    * successful sample count, the prep times and the per-round totals. */
  private[graft] def renderJson(run: Timing.Run, sfDir: String): String = {
    val rows = run.rows
    val qs = obj(rows.map { case (n, r) => n -> ms3(r.median) })
    val iqr = obj(rows.map { case (n, r) => n -> s"[${ms3(r.q1)},${ms3(r.q3)}]" })
    val ns = obj(rows.map { case (n, r) => n -> r.n.toString })
    val ps = obj(run.preps.toSeq.map { case (n, v) => n -> ms3(v) })
    s"""{"metric":"total","value":${ms3(total(rows))},"unit":"sec","queries":$qs,"quartiles":$iqr,"samples":$ns,"rounds":${roundTotals(rows)},"prep":$ps,"sf":${Verify.jsonStr(sfDir)},"gate_exceedances":${exceedances(rows, sfDir)}}"""
  }

  /** Compact summary marker: total, n, per-round totals, gate
    * breaches, failures and the slowest 10, in one short line printed
    * LAST so no tail window of the console truncates it. The full record
    * rides the "total" line and BENCH_LOCAL.json. */
  private[graft] def renderSummary(run: Timing.Run, sfDir: String): String = {
    val rows = run.rows
    val failed = rows.collect { case (n, r) if r.failed => Verify.jsonStr(n) }
      .mkString("[", ",", "]")
    val slowest = obj(rows.filterNot(_._2.failed).sortBy(-_._2.median).take(10)
      .map { case (n, r) => n -> ms3(r.median) })
    s"""{"metric":"summary","total":${ms3(total(rows))},"n":${rows.size},"rounds":${roundTotals(rows)},"sf":${Verify.jsonStr(sfDir)},"gate_exceedances":${exceedances(rows, sfDir)},"failed":$failed,"slowest":$slowest}"""
  }

  /** Persist the identical JSON line to a file (default `BENCH_LOCAL.json`
    * in the working directory — the repo root under sbt's forked run), so
    * the full per-query record survives regardless of how much of the
    * console the driver captures (r6 lost 40/105 rows to tail
    * truncation). Overwritten per run; committed per round. */
  private[graft] def writeLocal(json: String,
                                path: String = sys.env.getOrElse(
                                  "SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")): Unit =
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $path: ${e.getMessage}") }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    // dev loop: SPARK_GRAFT_ONLY=q1_agg,dedup_incremental times just those
    val run = Timing.run(spark, Catalog.selected.values.toSeq, sfDir)
    val json = renderJson(run, sfDir)
    println(json)
    writeLocal(json)
    spark.stop()
    // Re-emit after stop: Spark's async shutdown noise printed after the
    // first line can push it out of a captured console tail, so the line
    // prints again, followed by the compact summary as the very last line.
    Thread.sleep(3000)
    println(json)
    println(renderSummary(run, sfDir))
    Console.out.flush()
  }
}
