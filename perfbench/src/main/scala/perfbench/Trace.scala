package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One recorded span: a call into a layer, timed from the benchmark. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
                      startMs: Long, endMs: Long, rowsOut: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Per-task facts the listener keeps, keyed to the span whose job group ran it. */
final case class TaskFacts(group: String, stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
                           cpuNs: Long, shuffleWriteBytes: Long, diskSpillBytes: Long, recordsWritten: Long)

/** Attributes task metrics to spans through the job group, which the
  * tracer sets to the innermost open span before each call. */
final class TaskListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val tasks = ArrayBuffer.empty[TaskFacts]
  private val jobs = scala.collection.mutable.Map.empty[String, Int]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobs(g) = jobs.getOrElse(g, 0) + 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, group(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskFacts(stageGroup.getOrDefault(e.stageId, ""), e.stageId,
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.outputMetrics.recordsWritten)
    }
  }

  def snapshot(): (Seq[TaskFacts], Map[String, Int]) = synchronized((tasks.toList, jobs.toMap))

  def reset(): Unit = synchronized { tasks.clear(); jobs.clear() }
}

/** Span recorder. Disabled, every call is a plain pass-through, so the
  * timed run executes exactly the program's lazy plans. Enabled, each
  * layer call runs in its own job group and its DataFrame output is
  * materialized inside the span, so the span holds its own work. */
final class Tracer private (spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  val listener = new TaskListener
  if (enabled) sc.addSparkListener(listener)

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Int, Long, Long)] // id, name, parent, startNs, startMs
  private var nextId = 0
  private val rows = scala.collection.mutable.Map.empty[Int, Long]
  private var lastClosed = -1

  private def groupOf(id: Int) = s"perfbench-span-$id"

  /** Time `body` as span `name` (nested under any open span). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, parent, System.nanoTime(), System.currentTimeMillis()) :: open
      sc.setJobGroup(groupOf(id), name)
      try body
      finally {
        val endNs = System.nanoTime(); val endMs = System.currentTimeMillis()
        val (_, _, _, s0, m0) = open.head
        open = open.tail
        spans += Span(id, name, parent, s0, endNs, m0, endMs, 0L)
        lastClosed = id
        open.headOption match {
          case Some((p, pn, _, _, _)) => sc.setJobGroup(groupOf(p), pn)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Inside a span: materialize a layer's output when tracing, so the
    * span holds the work and later spans read the result. */
  def keep(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val m = df.persist(StorageLevel.MEMORY_AND_DISK)
      m.write.format("noop").mode("overwrite").save()
      m
    }

  /** A layer call returning a DataFrame: materialized inside the span when
    * tracing, its row count recorded outside it. */
  def layer(name: String)(body: => DataFrame): DataFrame =
    if (!enabled) body
    else {
      val out = span(name)(keep(body))
      rowsOut(out.count())
      out
    }

  /** Record output rows of the span that closed last; evaluated only when
    * tracing. Spans with no recorded rows report the rows their tasks wrote. */
  def rowsOut(n: => Long): Unit = if (enabled) rows(lastClosed) = rows.getOrElse(lastClosed, 0L) + n

  def reset(): Unit = {
    spans.clear(); rows.clear(); listener.reset()
  }

  /** Closed spans of this rep, with recorded row counts, after the
    * listener bus has delivered every task event. */
  def collect(): (Seq[Span], Seq[TaskFacts], Map[String, Int]) = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    val (t, j) = listener.snapshot()
    (spans.toList.map(s => s.copy(rowsOut = rows.getOrElse(s.id, -1L))).sortBy(_.id), t, j)
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  def apply(spark: SparkSession, enabled: Boolean): Tracer = new Tracer(spark, enabled)

  /** Self time: the span's duration minus the part its child spans cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    spans.map(s => s.id -> (s.durS - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Total length of the union of [start, end] intervals, clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    clipped.foreach { case (a, b) =>
      if (curB < 0 || a > curB) { if (curB >= 0) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB >= 0) total += curB - curA
    total
  }

  /** Per-layer figures of one traced rep, summed over every span of a
    * name: `.self_s`, `.cpu_s`, `.driver_s`, `.jobs`, `.rows_out`,
    * `.shuffle_mb` and `.spill_mb`. */
  def layerMetrics(spans: Seq[Span], tasks: Seq[TaskFacts], jobs: Map[String, Int]): Map[String, Double] = {
    val self = selfSeconds(spans)
    val byGroup = tasks.groupBy(_.group)
    spans.groupBy(_.name).flatMap { case (name, ss) =>
      val ts = ss.flatMap(s => byGroup.getOrElse(s"perfbench-span-${s.id}", Nil))
      val selfS = ss.map(s => self(s.id)).sum
      val busyS = ss.map { s =>
        unionMs(byGroup.getOrElse(s"perfbench-span-${s.id}", Nil).map(t => (t.launchMs, t.finishMs)),
          s.startMs, s.endMs) / 1e3
      }.sum
      val mb = 1024.0 * 1024.0
      Map(
        s"$name.self_s" -> selfS,
        s"$name.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        s"$name.driver_s" -> math.max(0.0, selfS - busyS),
        s"$name.jobs" -> ss.map(s => jobs.getOrElse(s"perfbench-span-${s.id}", 0)).sum.toDouble,
        s"$name.rows_out" -> ss.map { s =>
          if (s.rowsOut >= 0) s.rowsOut
          else byGroup.getOrElse(s"perfbench-span-${s.id}", Nil).map(_.recordsWritten).sum
        }.sum.toDouble,
        s"$name.shuffle_mb" -> ts.map(_.shuffleWriteBytes).sum / mb,
        s"$name.spill_mb" -> ts.map(_.diskSpillBytes).sum / mb)
    }
  }

  /** Max over median task run time in the stage with the most task time. */
  def taskSkew(tasks: Seq[TaskFacts]): Double = {
    val stages = tasks.groupBy(_.stageId).values.filter(_.size >= 2)
    if (stages.isEmpty) 1.0
    else {
      val heavy = stages.maxBy(_.map(_.runMs).sum)
      val runs = heavy.map(_.runMs.toDouble).sorted
      val med = Stats.median(runs)
      if (med <= 0) 1.0 else runs.last / med
    }
  }
}
