package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.Timing.{Row, Run}
import graft.catalog.Catalog

class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  test("timePreps records -1 for a failed prep, elapsed seconds for a good one") {
    var ran = 0
    val out = Timing.timePreps(spark, "unused-dir", Map(
      "good" -> ((_, _) => { ran += 1; () }),
      "bad" -> ((_, _) => sys.error("synthetic prep failure"))))
    assert(ran == 1, "good prep executed")
    assert(out("good") >= 0.0, "successful prep reports its elapsed time")
    assert(out("bad") == -1.0,
      "failed prep must report -1 (failed-query convention), not its time-to-failure — " +
        "otherwise a broken index build masquerades as a fast prep while the query " +
        "silently re-times the build")
  }

  test("a row reports its samples' median and quartiles; any failed rep fails the row") {
    // two stalled samples out of five move neither the median nor the quartiles far
    val stalled = Row(Seq(0.50, 9.0, 0.40, 0.45, 12.0))
    assert(stalled.median == 0.50 && stalled.q1 == 0.45 && stalled.q3 == 9.0 && stalled.n == 5)
    // quartiles interpolate between order statistics
    val even = Row(Seq(4.0, 1.0, 3.0, 2.0))
    assert(even.median == 2.5 && even.q1 == 1.75 && even.q3 == 3.25)
    val failed = Row(Seq(0.5, -1.0, 0.5, 0.5, 0.5))
    assert(failed.failed && failed.median == -1.0 && failed.q1 == -1.0 && failed.q3 == -1.0)
    assert(failed.n == 4, "the sample count is the successful reps")
  }

  test("the 2x gate applies to each row's median against its anchor") {
    val a = Catalog("q1_agg").anchor
    val stalls = Row(Seq(a, 10 * a, a, 10 * a, a))
    val slow = Row(Seq(3 * a, 3 * a, a, 3 * a, 3 * a))
    assert(Bench.gateExceedances(Seq("q1_agg" -> stalls)).isEmpty,
      "two stalled samples do not breach: the median is the anchor")
    val Seq(breach) = Bench.gateExceedances(Seq("q1_agg" -> slow))
    assert(breach.startsWith("q1_agg:") && breach.endsWith(":3.00"), breach)
    assert(Bench.gateExceedances(Seq(
      "q1_agg" -> Row(Seq(9 * a, -1.0, 9 * a)), "not_a_query" -> slow)).isEmpty,
      "failed rows and names outside the catalog are not gated")
  }

  test("bench JSON persists to a file and covers each query's median, quartiles, samples") {
    // the durable record: synthesize a result for EVERY catalog row,
    // render, write, parse back with Jackson
    val rows = SparkEntry.queries.keySet.toSeq.sorted.map(_ -> Row(Seq(0.4, 0.5, 0.6)))
    val run = Run(Map("dedup_incremental_indexed" -> 1.0), rows)
    val json = Bench.renderJson(run, "data/sf0.1")
    val path = java.nio.file.Files.createTempDirectory("graft_bench_local")
      .resolve("BENCH_LOCAL.json").toString
    Bench.writeLocal(json, path)
    val root = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    assert(root.get("metric").asText() == "total")
    SparkEntry.queries.keySet.foreach { n =>
      assert(root.get("queries").get(n).asDouble() == 0.5, s"query $n missing its median")
      val iqr = root.get("quartiles").get(n)
      assert(iqr.get(0).asDouble() == 0.45 && iqr.get(1).asDouble() == 0.55, s"query $n quartiles")
      assert(root.get("samples").get(n).asInt() == 3, s"query $n sample count")
    }
    assert(root.get("prep").get("dedup_incremental_indexed").asDouble() == 1.0)
    assert(root.get("rounds").size() == 3)
    assert(math.abs(root.get("rounds").get(1).asDouble() - 0.5 * rows.size) < 1e-3)
    assert(root.get("gate_exceedances").isArray)
    // a path containing JSON-hostile characters must still render valid JSON
    val hostile = mapper.readTree(Bench.renderJson(run, """/tmp/we"ird\dir"""))
    assert(hostile.get("sf").asText() == """/tmp/we"ird\dir""")
    val summary = mapper.readTree(Bench.renderSummary(run, "data/sf0.1"))
    assert(summary.get("n").asInt() == rows.size && summary.get("failed").size() == 0)
  }

  test("the gate reads sf0.1 anchors only in a dir named sf0.1") {
    val run = Run(Map.empty, Seq("q1_agg" -> Row(Seq.fill(5)(100.0))))
    def exceedances(dir: String) =
      mapper.readTree(Bench.renderSummary(run, dir)).get("gate_exceedances").size()
    assert(exceedances("data/sf0.1") == 1)
    assert(exceedances("data/sf0.01") == 0)
    assert(exceedances("data/not-sf0.1") == 0,
      "a dir merely ENDING in sf0.1 is not the anchored dir")
  }

  test("the timed run writes each row's full plan: root operator, Sort and every column") {
    // at sf0.001 the timing rule runs these rows; a listener captures the
    // plan each run writes. A count() writes nothing: it runs an Aggregate
    // root without the Sort (q1_agg), most of the plan (eval_retrieval) and
    // the byte_at expressions (multimodal_phash).
    val names = Seq("q1_agg", "eval_retrieval", "multimodal_phash")
    val writes = ArrayBuffer.empty[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Seq(qe.optimizedPlan, qe.analyzed).flatMap(_.collect { case w: V2WriteCommand => w.query })
          .headOption.foreach(q => writes.synchronized(writes += q))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      for (n <- names) {
        writes.synchronized(writes.clear())
        val Seq((_, row)) = Timing.run(spark, Seq(Catalog(n)), TestSpark.sf0001).rows
        assert(!row.failed && row.n >= 3, s"$n: $row")
        val expected = Catalog(n).build(spark, TestSpark.sf0001).queryExecution.optimizedPlan
        val seen = writes.synchronized(writes.toList)
        // the warm-up and every timed rep write the result
        assert(seen.size == 1 + row.samples.size, s"$n: ${seen.size} result writes captured")
        seen.foreach { plan =>
          assert(plan.nodeName == expected.nodeName,
            s"$n: the timed plan's root is ${plan.nodeName}, the query's is ${expected.nodeName}")
          assert(plan.nodeName == "Sort", s"$n: the final orderBy was pruned")
          assert(plan.output.map(_.name) == expected.output.map(_.name), s"$n lost columns")
          assert(!plan.isInstanceOf[Aggregate], s"$n: the timed plan is a count")
          assert(plan.treeString.length >= expected.treeString.length * 9 / 10,
            s"$n: the timed plan is smaller than the query's")
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
