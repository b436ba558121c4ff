package graft.tools

import graft.Timing
import graft.catalog.Catalog

/** Scale-linearity audit: times a set of queries across a set of SF
  * directories IN THE SAME JVM AND WINDOW, so per-decade slopes are
  * computed from table-comparable numbers.
  *
  * Usage:
  *   runMain graft.tools.ScaleAudit <q1,q2,...> <dir1,dir2,...> [sf1,sf2,...]
  * e.g.
  *   runMain graft.tools.ScaleAudit dedup_neardup,curation_full \
  *     .../testdata/sf0.1,fixtures/stress/sf1
  *
  * Each dir is timed by [[graft.Timing]], the rule `graft.Bench` uses.
  * Output: one `AUDIT` line per (query, dir) cell with its samples, median
  * and quartiles, then a `SLOPES` block of per-decade log10 exponents of
  * the medians between consecutive dirs: 10x apart, or as far apart as the
  * optional scale-factor list says.
  */
object ScaleAudit {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.tools.ScaleAudit <q1,...> <dir1,...> [sf1,...]")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val dirs = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    // optional 3rd arg: comma list of the dirs' numeric scale factors
    // (e.g. "0.1,1,3") — slopes then normalize by the TRUE spacing
    // log(sf_hi/sf_lo) instead of assuming consecutive dirs are 10×
    // apart (the sf1→sf3 cells of the r11 asymptote check read ~0.43×
    // low under that assumption)
    val sfs: Option[Array[Double]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim.toDouble)) else None
    sfs.foreach { f =>
      require(f.length == dirs.length, "scale-factor list must align with the dir list")
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
    // a cell with any failed rep reads -1 and is left out of the slopes:
    // a fail-fast query must never read as "fast at the bigger SF"
    val medians = (for {
      dir <- dirs.toSeq
      (n, r) <- Timing.run(spark, names.toSeq.map(Catalog(_)), dir).rows
    } yield {
      val reps = r.samples.map(t => f"$t%.2f").mkString(",")
      if (r.failed)
        println(f"AUDIT $n%-28s $dir%-40s FAILED (${r.samples.size - r.n}/${r.samples.size} reps threw)")
      else
        println(f"AUDIT $n%-28s $dir%-40s reps=$reps median=${r.median}%.2f q1=${r.q1}%.2f q3=${r.q3}%.2f")
      (n, dir) -> r.median
    }).toMap
    println("SLOPES (per-decade log10 exponent between consecutive dirs; 1.00 = linear)")
    for (n <- names; i <- 1 until dirs.length) {
      val (lo, hi) = (medians((n, dirs(i - 1))), medians((n, dirs(i))))
      val decades = sfs.map(f => math.log10(f(i) / f(i - 1))).getOrElse(1.0)
      if (lo < 0 || hi < 0)
        println(f"SLOPE $n%-28s ${dirs(i - 1)}→${dirs(i)} SKIPPED (failed cell)")
      else
        println(f"SLOPE $n%-28s ${dirs(i - 1)}→${dirs(i)} ${math.log10(hi / lo) / decades}%.2f  ($lo%.2f → $hi%.2f s)")
    }
    spark.stop()
  }
}
