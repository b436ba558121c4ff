package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val bench = graft.io.JsonTree.parse(
    new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")).asInstanceOf[Map[String, Any]]

  private def declared(key: String): Seq[(String, String)] =
    bench(key).asInstanceOf[List[Map[String, Any]]].map(m => m("name").toString -> m("unit").toString)

  test("every end-to-end metric the benchmark emits is declared, with its unit") {
    assert(Metrics.EndToEnd.toMap == declared("end_to_end").toMap)
  }

  test("every per-layer metric the traced run emits is declared, with its unit") {
    assert(Metrics.PerLayer.map(_._1).distinct.size == Metrics.PerLayer.size)
    assert(Metrics.PerLayer.toMap == declared("per_layer").toMap)
  }

  test("every workload is declared and the command runs the benchmark") {
    val names = bench("workloads").asInstanceOf[List[Map[String, Any]]].map(_("name").toString)
    assert(names == Workloads.Names)
    assert(bench("command") == List("python3", "perfbench/run.py"))
  }
}
