package graft.tools

import graft.Timing
import graft.catalog.Catalog

/** AQE parity check for the hot query family: times each query with
  * adaptive execution ON (plus skew-join handling, the production 100 TB
  * posture) and OFF, in the same JVM and window.
  *
  * Why this exists: PlanShapeSpec pins the static plan shapes with AQE
  * DISABLED (exchange counts are inspectable there), and `graft.Bench`
  * runs the session default (AQE on in Spark 3.2+). This tool closes the
  * loop between the two: it demonstrates the plan-shape claims don't
  * depend on AQE being off — the adaptive re-planner, including
  * skewedJoin splitting, neither degrades the hot family nor changes its
  * results. Recorded side-by-side in BASELINE.md.
  *
  * With no args it runs the top-15-by-anchor family (derived from the
  * catalog's anchors at runtime, so it tracks re-pins). Each mode is timed
  * by [[graft.Timing]], the rule `graft.Bench` uses, so both modes time the
  * materialized result after the same warm-up and preps; each cell reports
  * its median. Before timing, each mode counts each row's result once,
  * untimed: AQE must not change it (the tool throws). The full record
  * goes to `AQE_LOCAL.json` (override: SPARK_GRAFT_AQE_OUT). Drift rule
  * (see BASELINE.md): any on/off ratio outside [0.5, 1.5] in a quiet
  * window, or any row-count inequality, is an AQE-sensitive plan
  * regression — diff against the previous AQE_*.json.
  *
  * Usage: runMain graft.tools.AqeParity [q1,q2,... | top<K>] [sfDir] [k=v,k=v...]
  * Defaults: top15 at sf0.1. The optional 3rd arg is a list of extra SQL
  * confs applied in the ON mode only — the isolation knob for chasing an
  * AQE-sensitive row (e.g.
  * `spark.sql.adaptive.coalescePartitions.enabled=false`).
  */
object AqeParity {
  /** The K largest-anchor queries in the catalog — the rows where an
    * AQE-sensitive plan regression would cost the most. */
  private[tools] def topByAnchor(k: Int): Seq[String] =
    Catalog.all.sortBy(q => (-q.anchor, q.name)).take(k).map(_.name)

  def main(args: Array[String]): Unit = {
    val spec = if (args.length > 0) args(0) else "top15"
    val names: Seq[String] =
      if (spec.matches("top\\d+")) topByAnchor(spec.drop(3).toInt)
      else spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val onConfs: Seq[(String, String)] =
      (if (args.length > 2) args(2) else "").split(",").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }.toSeq
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    // AQE off first, then on: if ambient load ramps DURING the run it
    // inflates the on-mode (the mode under test), never flatters it
    val modes = for (aqe <- Seq(false, true)) yield {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe.toString)
      onConfs.foreach { case (k, v) =>
        if (aqe) spark.conf.set(k, v) else spark.conf.unset(k) }
      val counts = names.map(n => n -> Catalog(n).build(spark, dir).count()).toMap
      val run = Timing.run(spark, names.map(Catalog(_)), dir)
      run.preps.foreach { case (n, t) => println(f"PREP   $n $t%.2f s") }
      val mode = if (aqe) "on " else "off"
      val medians = run.rows.map { case (n, r) =>
        println(f"AQE $mode $n%-24s reps=${r.samples.map(t => f"$t%.2f").mkString(",")} median=${r.median}%.2f rows=${counts(n)}")
        n -> r.median
      }.toMap
      (medians, counts)
    }
    val Seq((off, offRows), (on, onRows)) = modes
    for (n <- names) {
      require(offRows(n) == onRows(n), s"$n: AQE changed the row count ${offRows(n)} -> ${onRows(n)}")
      println(f"PARITY $n%-24s off=${off(n)}%.2f on=${on(n)}%.2f ratio=${on(n) / off(n)}%.2f rows_equal=true")
    }
    val qs = names.map { n =>
      f""""$n":{"off":${off(n)}%.3f,"on":${on(n)}%.3f,"ratio":${on(n) / off(n)}%.3f,"rows":${offRows(n)}}"""
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"aqe_parity","sf":${graft.Verify.jsonStr(dir)},"queries":$qs}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_AQE_OUT", "AQE_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[aqe] could not write $out: ${e.getMessage}") }
    println(json)
    spark.stop()
  }
}
