package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Sort, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFiles}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The timed actions write the program's real sinks, and the plan each
  * sink writes is the full result plan: the root operator and the
  * projected expressions survive (a `.count()` action would prune both). */
class SinkPlanSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = graft.Sessions.local(2)
  private val writes = ArrayBuffer.empty[(String, LogicalPlan)]
  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Seq(qe.optimizedPlan, qe.analyzed).flatMap(_.collect { case i: InsertIntoHadoopFsRelationCommand => i })
        .headOption.foreach { i =>
          // planned writes wrap the query in a WriteFiles node
          val query = i.query match { case w: WriteFiles => w.child; case q => q }
          writes.synchronized(writes += (i.outputPath.getName -> query))
        }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.listenerManager.register(listener)
  }

  private val dirs = ArrayBuffer.empty[java.nio.file.Path]
  private def tmp(prefix: String) = { val d = Files.createTempDirectory(prefix); dirs += d; d }

  override def afterAll(): Unit = {
    spark.stop()
    dirs.foreach(d => Gen.deleteRecursively(d.toFile))
  }

  private val off = Tracer(spark, enabled = false)

  /** Set up and run `wl` once, untraced; its writes by sink directory. */
  private def runOnce(wl: Workload): Map[String, LogicalPlan] = {
    writes.synchronized(writes.clear())
    wl.setup(off)
    wl.run(off)
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val (attempted, failed, problems) = wl.check()
    assert(attempted >= 1 && failed == 0, problems.mkString("; "))
    writes.synchronized(writes.toMap)
  }

  private def assertFullPlan(sinks: Map[String, LogicalPlan], dir: java.nio.file.Path, name: String): LogicalPlan = {
    val plan = sinks.getOrElse(name, fail(s"no write to sink '$name' (saw ${sinks.keys.mkString(", ")})"))
    val written = spark.read.format(if (name == "failures") "csv" else if (name == "records" || name == "summary") "json" else "parquet")
      .option("header", "true").load(dir.resolve("out").resolve(name).toString)
    assert(written.count() > 0, s"sink '$name' is empty")
    assert(plan.output.map(_.name).toSet == written.columns.toSet, s"sink '$name' lost columns")
    assert(!(plan.isInstanceOf[Aggregate] && plan.output.size == 1), s"sink '$name' writes a count")
    plan
  }

  test("the resume lifecycle writes records, failures, summary and a fresh vector table") {
    val dir = tmp("perfbench-delta")
    val sinks = runOnce(new IngestDelta(spark, dir, 2L, nPrior = 60, nNew = 30, nChanged = 5))
    Seq("records", "failures", "summary").foreach(assertFullPlan(sinks, dir, _))
    val table = assertFullPlan(sinks, dir, "vectors")
    assert(table.output.map(_.name).contains("embedding"))
  }

  test("the curation funnel writes its ordered mix with every projected expression") {
    val dir = tmp("perfbench-curate")
    val mix = assertFullPlan(runOnce(new Curate(spark, dir, 3L, nDocs = 600, nSources = 5)), dir, "mix")
    assert(mix.isInstanceOf[Sort], s"the final orderBy was pruned: root is ${mix.nodeName}")
    assert(mix.exists {
      case w: Window => w.windowExpressions.exists(_.name == "cum_tokens")
      case _ => false
    }, "the projected cum_tokens window was pruned")
  }

  test("ingest_search resumes the lifecycle, then its requests return ranked top-10 neighbours") {
    val dir = tmp("perfbench-ingest-search")
    val wl = new IngestSearch(
      new IngestDelta(spark, dir.resolve("ingest"), 2L, nPrior = 60, nNew = 30, nChanged = 5),
      new Retrieve(spark, dir.resolve("search"), 4L, n = 400, requestsPerRun = 2, queriesPerRequest = 2))
    val sinks = runOnce(wl)
    assert(Set("records", "failures", "summary", "vectors").subsetOf(sinks.keySet))
    // one lifecycle and two searches, each checked
    assert(wl.check()._1 == 3)
    assert(wl.search.recall > 0.5)
  }
}
