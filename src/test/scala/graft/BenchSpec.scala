package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("timePreps records -1 for a failed prep, elapsed seconds for a good one") {
    var ran = 0
    val out = Bench.timePreps(spark, "unused-dir", Map(
      "good" -> ((_, _) => { ran += 1; () }),
      "bad" -> ((_, _) => sys.error("synthetic prep failure"))))
    assert(ran == 1, "good prep executed")
    assert(out("good") >= 0.0, "successful prep reports its elapsed time")
    assert(out("bad") == -1.0,
      "failed prep must report -1 (failed-query convention), not its time-to-failure — " +
        "otherwise a broken index build masquerades as a fast prep while the query " +
        "silently re-times the build")
  }

  test("drift ratios: whole-run and median vs anchors; failed and un-anchored rows excluded") {
    // q1_agg anchor 0.45 (re-pinned r15), jats_parse anchor 0.14 —
    // measured at exactly 2x and 4x; a failed row (-1) and a query with
    // no anchor must not skew it
    val (whole, median) = Bench.drift(Map(
      "q1_agg" -> 0.90, "jats_parse" -> 0.56,
      "bib_scan" -> -1.0, "some_new_query" -> 99.0))
    assert(math.abs(whole - (0.90 + 0.56) / (0.45 + 0.14)) < 1e-9)
    assert(math.abs(median - 3.0) < 1e-9, "median of (2x, 4x) is 3x")
    assert(Bench.drift(Map("no_anchor" -> 1.0)) == ((-1.0, -1.0)),
      "nothing anchored measured -> sentinel, not a crash")
  }

  test("bench JSON persists to a file, parses, and covers every query with drift fields") {
    // the r6 failure mode: the driver's console capture clipped 40/105
    // per-query rows. The file is the durable record — synthesize a result
    // for EVERY SparkEntry query, render, write, parse back with Jackson.
    val results = SparkEntry.queries.keySet.map(_ -> 0.5).toMap
    val preps = Map("dedup_incremental_indexed" -> 1.0)
    val json = Bench.renderJson(results, preps, "/root/testdata/sf0.1")
    val path = java.nio.file.Files.createTempDirectory("graft_bench_local")
      .resolve("BENCH_LOCAL.json").toString
    Bench.writeLocal(json, path)
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    assert(root.get("metric").asText() == "total")
    val qs = root.get("queries")
    SparkEntry.queries.keySet.foreach(n =>
      assert(qs.has(n) && qs.get(n).isNumber, s"query $n missing from the persisted bench JSON"))
    assert(root.get("prep").get("dedup_incremental_indexed").asDouble() == 1.0)
    assert(root.get("drift_whole_run").asDouble() > 0.0, "sf0.1 run self-reports drift")
    assert(root.get("drift_median").asDouble() > 0.0)
    // a non-anchored scale factor must NOT report drift against sf0.1 anchors
    val other = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderJson(results, preps, "/root/testdata/sf0.01"))
    assert(other.get("drift_whole_run").asDouble() == -1.0)
    // basename match, not suffix match: .../not-sf0.1 is NOT the anchored dir
    val sneaky = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderJson(results, preps, "/root/testdata/not-sf0.1"))
    assert(sneaky.get("drift_whole_run").asDouble() == -1.0,
      "a dir merely ENDING in sf0.1 must not report drift vs the sf0.1 anchors")
    // a path containing JSON-hostile characters must still render valid JSON
    val hostile = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderJson(results, preps, """/tmp/we"ird\dir"""))
    assert(hostile.get("sf").asText() == """/tmp/we"ird\dir""")
  }

  test("stallRetry: re-measures only anchored 2x-gate breaches, records the min, keeps the trail") {
    // no anchor -> never retries (unanchored and non-sf0.1 rows)
    assert(Bench.stallRetry(9.0, None, maxExtra = 2)(() => fail("must not run")) == ((9.0, Seq.empty)))
    // under the gate -> never retries (steady-state rows stay single-shot)
    assert(Bench.stallRetry(0.9, Some(0.5), 2)(() => fail("must not run")) == ((0.9, Seq.empty)))
    // a failed row (-1) is not retried: the failure is the record
    assert(Bench.stallRetry(-1.0, Some(0.5), 2)(() => fail("must not run")) == ((-1.0, Seq.empty)))
    // one stalled reading, clean retry -> min recorded, trail keeps the retry
    assert(Bench.stallRetry(15.6, Some(4.54), 2)(() => 4.3) == ((4.3, Seq(4.3))))
    // a GENUINE regression breaches on every rep: after maxExtra retries the
    // recorded min still exceeds the gate, so gateExceedances still fires
    var n = 0
    val (dt, trail) = Bench.stallRetry(12.0, Some(1.0), 2)(() => { n += 1; 11.0 + n })
    assert(dt == 12.0 && trail == Seq(12.0, 13.0) && n == 2,
      "bounded: a real slowdown costs at most maxExtra extra reps and STAYS a breach")
    // second retry wins when the stall spans the first retry too
    var k = 0
    assert(Bench.stallRetry(15.0, Some(4.0), 2)(() => { k += 1; if (k == 1) 14.0 else 4.2 })
      == ((4.2, Seq(14.0, 4.2))))
    // a retry rep that FAILS records -1 (failed-query convention): the row
    // is only as honest as its worst rep, same as min-of-N rows
    assert(Bench.stallRetry(15.0, Some(4.0), 2)(() => -1.0) == ((-1.0, Seq(-1.0))))
  }

  test("stall_retries rides both JSON markers and parses back") {
    val results = Map("q1_agg" -> 0.45, "curation_full" -> 4.3)
    val retries = Map("curation_full" -> Seq(15.605, 4.3))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderJson(results, Map(), "/root/testdata/sf0.1", retries))
    val tr = root.get("stall_retries").get("curation_full")
    assert(tr.isArray && tr.size() == 2 && tr.get(0).asDouble() == 15.605 &&
      tr.get(1).asDouble() == 4.3,
      "the full trail (stalled reading first) is on record in the artifact")
    val sroot = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderSummary(results, "/root/testdata/sf0.1", retries))
    assert(sroot.get("stall_retries").get("curation_full").size() == 2)
    // no retries -> empty object, field always present
    val clean = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Bench.renderJson(results, Map(), "/root/testdata/sf0.1"))
    assert(clean.get("stall_retries").isObject && clean.get("stall_retries").size() == 0)
  }
}
