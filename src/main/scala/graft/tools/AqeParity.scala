package graft.tools

import graft.catalog.Catalog

/** AQE parity check for the hot query family: times each query with
  * adaptive execution ON (plus skew-join handling, the production 100 TB
  * posture) and OFF, in the same JVM and window, min-of-N per cell.
  *
  * Why this exists: PlanShapeSpec pins the static plan shapes with AQE
  * DISABLED (exchange counts are inspectable there), and `graft.Bench`
  * runs the session default (AQE on in Spark 3.2+). This tool closes the
  * loop between the two: it demonstrates the plan-shape claims don't
  * depend on AQE being off — the adaptive re-planner, including
  * skewedJoin splitting, neither degrades the hot family nor changes its
  * results. Recorded side-by-side in BASELINE.md.
  *
  * Since r12 this is a PER-ROUND ARTIFACT: with no args it runs the
  * top-15-by-anchor family (derived from the catalog's anchors at
  * runtime, so it tracks re-pins), amortizes persisted builds through
  * each row's `prep` exactly like `graft.Bench`, and writes the
  * full record to `AQE_LOCAL.json` (override: SPARK_GRAFT_AQE_OUT) —
  * copied to `AQE_r<N>.json` beside the round's BENCH. Drift rule (see
  * BASELINE.md): any on/off ratio outside [0.5, 1.5] in a quiet window,
  * or any row-count inequality (the tool throws), is an AQE-sensitive
  * plan regression — diff against the previous round's AQE_r*.json.
  *
  * Usage: runMain graft.tools.AqeParity [q1,q2,... | top<K>] [sfDir] [reps]
  *          [k=v,k=v...]
  * Defaults: top15 at sf0.1, 3 reps. The optional 4th arg is a list of
  * extra SQL confs applied in the ON mode only — the isolation knob for
  * chasing an AQE-sensitive row (e.g.
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
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    def reclaim(): Unit = { spark.catalog.clearCache(); System.gc() }
    val small = "/root/testdata/sf0.001"
    val warmDir = if (new java.io.File(small).isDirectory) small else dir
    for (n <- names) Catalog(n).build(spark, warmDir).count()
    // amortize persisted artifacts (minhash index, IVF model, DSIR weights)
    // exactly like graft.Bench: both modes then time the steady-state probe
    for (n <- names; prep <- Catalog(n).prep) {
      val t0 = System.nanoTime()
      prep(spark, dir)
      println(f"PREP   $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    reclaim()
    // AQE off first, then on: if ambient load ramps DURING the run it
    // inflates the on-mode (the mode under test), never flatters it
    val onConfs: Seq[(String, String)] =
      (if (args.length > 3) args(3) else "").split(",").filter(_.contains("="))
        .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }.toSeq
    val results = for (aqe <- Seq(false, true); n <- names) yield {
      spark.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqe.toString)
      onConfs.foreach { case (k, v) =>
        if (aqe) spark.conf.set(k, v) else spark.conf.unset(k) }
      val counts = collection.mutable.Set.empty[Long]
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        counts += Catalog(n).build(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        reclaim()
        dt
      }
      require(counts.size == 1, s"$n row count unstable across reps: $counts")
      println(f"AQE ${if (aqe) "on " else "off"} $n%-24s reps=${ts.map(t => f"$t%.2f").mkString(",")} min=${ts.min}%.2f rows=${counts.head}")
      (n, aqe, ts.min, counts.head)
    }
    val rows = for (n <- names) yield {
      val off = results.find(r => r._1 == n && !r._2).get
      val on = results.find(r => r._1 == n && r._2).get
      require(off._4 == on._4, s"$n: AQE changed the row count ${off._4} -> ${on._4}")
      println(f"PARITY $n%-24s off=${off._3}%.2f on=${on._3}%.2f ratio=${on._3 / off._3}%.2f rows_equal=true")
      (n, off._3, on._3, off._4)
    }
    val qs = rows.map { case (n, off, on, cnt) =>
      f""""$n":{"off":$off%.3f,"on":$on%.3f,"ratio":${on / off}%.3f,"rows":$cnt}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"aqe_parity","sf":"$dir","reps":$reps,"queries":$qs}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_AQE_OUT", "AQE_LOCAL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[aqe] could not write $out: ${e.getMessage}") }
    println(json)
    spark.stop()
  }
}
