package graft.tools

import graft.catalog.Catalog

/** Min-of-N scale-linearity audit harness: times a set of queries across a
  * set of SF directories IN THE SAME JVM AND WINDOW, so per-decade slopes
  * are computed from table-comparable numbers (the r10 audit's protocol,
  * now as a tool instead of a hand-driven loop).
  *
  * Usage:
  *   runMain graft.tools.ScaleAudit <q1,q2,...> <dir1,dir2,...> [reps]
  * e.g.
  *   runMain graft.tools.ScaleAudit dedup_neardup,curation_full \
  *     /root/testdata/sf0.1,fixtures/stress/sf1 3
  *
  * Protocol (same as graft.Bench): one untimed warmup pass per query at
  * sf0.001 (codegen/JIT), clearCache+GC between every timed run (the
  * localCheckpoint-block accumulation hazard), min-of-reps reported per
  * (query, dir). Output: one `AUDIT` line per cell with all reps and the
  * min, then a `SLOPES` block of per-decade log10 exponents between
  * consecutive dirs (assumed 10× apart).
  */
object ScaleAudit {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.tools.ScaleAudit <q1,...> <dir1,...> [reps]")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dirs = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 3
    // optional 4th arg: comma list of the dirs' numeric scale factors
    // (e.g. "0.1,1,3") — slopes then normalize by the TRUE spacing
    // log(sf_hi/sf_lo) instead of assuming consecutive dirs are 10×
    // apart (the sf1→sf3 cells of the r11 asymptote check read ~0.43×
    // low under that assumption)
    val sfs: Option[Array[Double]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim.toDouble)) else None
    sfs.foreach { f =>
      require(f.length == args(1).split(",").count(_.trim.nonEmpty),
        "scale-factor list must align with the dir list")
      require(f.forall(_ > 0.0), s"scale factors must be positive: ${f.mkString(",")}")
      require(f.sliding(2).forall(p => p.length < 2 || p(1) > p(0)),
        s"scale factors must be strictly increasing: ${f.mkString(",")}")
    }
    val unknown = names.filterNot(Catalog.byName.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.Sessions.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    // posture injection: SPARK_GRAFT_SESSION_CONF="k=v;k2=v2" sets session
    // confs before any query runs — how a sweep measures a row under its
    // production posture (e.g. graft.streaming.stateStore=rocksdb;
    // graft.streaming.statePartitions=32) beside the default one
    // blank segments (trailing/doubled ';') are skipped; a non-blank
    // segment with no '=' fails FAST with its text — the old
    // `val Array(k, v) = …` destructure threw a bare MatchError that
    // aborted the audit with no hint which segment was malformed
    sys.env.get("SPARK_GRAFT_SESSION_CONF").foreach(_.split(";").foreach { kv =>
      if (kv.trim.nonEmpty) kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v.trim)
        case _ => sys.error(s"SPARK_GRAFT_SESSION_CONF segment has no '=': '$kv'")
      }
    })
    def reclaim(): Unit = {
      spark.catalog.clearCache()
      org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
      System.gc()
    }
    val small = "/root/testdata/sf0.001"
    val warmDir = if (new java.io.File(small).isDirectory) small else dirs.head
    for (n <- names) {
      try Catalog(n).build(spark, warmDir).count()
      catch { case e: Throwable => System.err.println(s"[audit] warmup $n failed: ${e.getMessage}") }
    }
    reclaim()
    // dirs outermost so each (query, dir) cell's reps are contiguous — the
    // min-of-N is over one quiet-or-not micro-window, not three spread ones
    // a failed rep records -1, NEVER its time-to-failure: a fail-fast
    // query reading as "fast at the bigger SF" is exactly the artifact
    // corruption the r9 bench taught (its 16 broken queries deflated the
    // round total) — a cell with any failure is reported FAILED and
    // excluded from the slope table
    val mins = collection.mutable.Map.empty[(String, String), Double]
    for (dir <- dirs; n <- names) {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { Catalog(n).build(spark, dir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[audit] $n @ $dir failed: ${e.getMessage}"); false }
        val dt = (System.nanoTime() - t0) / 1e9
        reclaim()
        if (ok) dt else -1.0
      }
      if (ts.contains(-1.0)) {
        mins((n, dir)) = -1.0
        println(f"AUDIT $n%-28s $dir%-40s FAILED (${ts.count(_ < 0)}/$reps reps threw)")
      } else {
        mins((n, dir)) = ts.min
        println(f"AUDIT $n%-28s $dir%-40s reps=${ts.map(t => f"$t%.2f").mkString(",")} min=${ts.min}%.2f")
      }
    }
    println("SLOPES (per-decade log10 exponent between consecutive dirs; 1.00 = linear)")
    for (n <- names; i <- 1 until dirs.length) {
      val (lo, hi) = (mins((n, dirs(i - 1))), mins((n, dirs(i))))
      val decades = sfs.map(f => math.log10(f(i) / f(i - 1))).getOrElse(1.0)
      if (lo < 0 || hi < 0)
        println(f"SLOPE $n%-28s ${dirs(i - 1)}→${dirs(i)} SKIPPED (failed cell)")
      else
        println(f"SLOPE $n%-28s ${dirs(i - 1)}→${dirs(i)} ${math.log10(hi / lo) / decades}%.2f  ($lo%.2f → $hi%.2f s)")
    }
    spark.stop()
  }
}
