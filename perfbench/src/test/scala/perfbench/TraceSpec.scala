package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, name: String, parent: Int, start: Double, end: Double) =
    Span(id, name, parent, (start * 1e9).toLong, (end * 1e9).toLong, (start * 1e3).toLong, (end * 1e3).toLong, -1L)

  test("self time subtracts child spans, and self times add up to the top-level spans") {
    val spans = Seq(
      span(0, "outer", -1, 0.0, 10.0),
      span(1, "a", 0, 1.0, 3.0),
      span(2, "b", 0, 4.0, 8.0),
      span(3, "b.inner", 2, 5.0, 6.5),
      span(4, "after", -1, 11.0, 12.0))
    val self = Tracer.selfSeconds(spans)
    assert(math.abs(self(0) - 4.0) < 1e-9)
    assert(math.abs(self(1) - 2.0) < 1e-9)
    assert(math.abs(self(2) - 2.5) < 1e-9)
    assert(math.abs(self(3) - 1.5) < 1e-9)
    assert(math.abs(self.values.sum - spans.filter(_.parent < 0).map(_.durS).sum) < 1e-9)
  }

  test("spans of one name are summed, driver time is self time with no task running") {
    val spans = Seq(span(0, "x", -1, 0.0, 2.0), span(1, "x", -1, 3.0, 4.0))
    val tasks = Seq(
      TaskFacts("perfbench-span-0", 1, 500, 1500, 1000, 2000000000L, 1048576L, 0L, 7L),
      TaskFacts("perfbench-span-0", 1, 1000, 1800, 800, 1000000000L, 0L, 0L, 3L),
      TaskFacts("perfbench-span-1", 2, 3000, 3500, 500, 500000000L, 0L, 0L, 0L))
    val m = Tracer.layerMetrics(spans, tasks, Map("perfbench-span-0" -> 2, "perfbench-span-1" -> 1))
    assert(math.abs(m("x.self_s") - 3.0) < 1e-9)
    assert(math.abs(m("x.cpu_s") - 3.5) < 1e-9)
    assert(math.abs(m("x.driver_s") - (3.0 - 1.3 - 0.5)) < 1e-9)
    assert(m("x.jobs") == 3.0)
    assert(m("x.rows_out") == 10.0) // no recorded rows: the rows its tasks wrote
    assert(m("x.shuffle_mb") == 1.0)
  }

  test("interval union merges overlaps and clips to the span") {
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 100L) == 25L)
    assert(Tracer.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 8L, 25L) == 12L)
    assert(Tracer.unionMs(Nil, 0L, 10L) == 0L)
  }

  test("task skew is max over median in the stage with the most task time") {
    val t = Seq(10L, 10L, 30L).map(r => TaskFacts("", 1, 0, r, r, 0, 0, 0, 0)) ++
      Seq(1L, 1L).map(r => TaskFacts("", 2, 0, r, r, 0, 0, 0, 0))
    assert(Tracer.taskSkew(t) == 3.0)
  }
}
