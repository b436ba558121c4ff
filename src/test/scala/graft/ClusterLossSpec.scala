package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerExecutorRemoved}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Executor loss on a multi-JVM `local-cluster[2,1,1024]`: a pinned frame
  * whose blocks die with their executor must be recomputed, not fail the
  * job. Runs in its own forked JVM (see `Test / testGrouping` in build.sbt),
  * which sets `SPARK_HOME` for the standalone workers; the executors load
  * this build's class directories through `spark.executor.extraClassPath`.
  * The session is `Sessions.cluster`, the posture these pins serve. */
class ClusterLossSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ClusterLossSpec._

  private val marks = Files.createTempDirectory("graft_cluster_loss")

  lazy val spark: SparkSession = {
    val classDirs = Seq(getClass, graft.ops.Dedup.getClass)
      .map(c => new File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getPath).distinct
    sys.props("spark.master") = "local-cluster[2,1,1024]"
    sys.props("spark.executor.extraClassPath") = classDirs.mkString(File.pathSeparator)
    // any free executor takes any task, so both executors run every stage
    sys.props("spark.locality.wait") = "0"
    val s = Sessions.cluster()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Where the blocks of the first RDD stored while registered live (two
    * consumers computing one partition at once store it on both their
    * executors), and which executors have been removed. */
  private class BlockWatch extends SparkListener {
    @volatile private var rdd: Option[Int] = None
    @volatile var first: Option[String] = None
    val holders: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    val removed: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD && info.storageLevel.isValid) synchronized {
        val id = info.blockId.asRDDId.get.rddId
        if (rdd.isEmpty) { rdd = Some(id); first = Some(info.blockManagerId.executorId) }
        if (rdd.contains(id)) holders.add(info.blockManagerId.executorId)
      }
    }
    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
      removed.add(e.executorId)
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Block until two executors are registered (the driver is listed too). */
  private def awaitTwoExecutors(): Unit = {
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3) {
      assert(System.nanoTime() < deadline, "executors did not register")
      Thread.sleep(100)
    }
  }

  test("Graph.pageRank: the reused edge table survives losing its executor") {
    import spark.implicits._
    val edges = (0L until 300L).flatMap(v => Seq((v, (v * 7 + 1) % 300), (v, (v * 13 + 5) % 300)))
      .toDF("src", "dst")
    val nodeIds = (0L until 300L).toDF("node")
    awaitTwoExecutors()
    val undisturbed = rows(graft.ops.Graph.pageRank(nodeIds, edges))
    // the node table is first read after the edge table's first job (the
    // out-degree pin) and before the rank loop: reading it stops the JVM
    // of the executor that stored the first edge block
    val target = marks.resolve("victim")
    val watch = new BlockWatch {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
        super.onBlockUpdated(e)
        first.foreach(id => if (!Files.exists(target)) Files.writeString(target, id))
      }
    }
    spark.sparkContext.addSparkListener(watch)
    try {
      val halting = udf(haltOnce(target.toString, marks.resolve("halted").toString))
      val nodes = nodeIds.repartition(4).select(halting(col("node")).as("node"))
      assert(rows(graft.ops.Graph.pageRank(nodes, edges)) == undisturbed)
      assert(Files.exists(marks.resolve("halted")), "no executor was lost")
    } finally spark.sparkContext.removeSparkListener(watch)
  }

  test("Dedup.nearDuplicates: the pinned fused aggregate survives losing its executor") {
    val docs = graft.io.Tables.documents(spark, TestSpark.sf0001).select("doc_id", "text")
    awaitTwoExecutors()
    val undisturbed = rows(graft.ops.Dedup.nearDuplicates(docs, "doc_id", "text"))
    assert(undisturbed.nonEmpty)
    val watch = new BlockWatch
    spark.sparkContext.addSparkListener(watch)
    try {
      val result = graft.ops.Dedup.nearDuplicates(docs, "doc_id", "text")
      assert(rows(result) == undisturbed) // the pin's first job stores its blocks
      val victims = watch.holders.asScala.toSet
      assert(victims.nonEmpty, "no pinned block was stored")
      // every copy of the pinned blocks goes: a task on each holder stops
      // its JVM, and the standalone master launches replacements
      halt(spark.sparkContext, victims)
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!victims.forall(watch.removed.contains)) {
        assert(System.nanoTime() < deadline, s"executors $victims were not removed")
        Thread.sleep(100)
      }
      awaitTwoExecutors()
      // a new query over the result plans new shuffles, so its stages read
      // the pin again, lost block included
      assert(rows(result.select(result.columns.map(col): _*)) == undisturbed)
    } finally spark.sparkContext.removeSparkListener(watch)
  }
}

object ClusterLossSpec {
  /** Stops the JVM of each executor in `victims` from inside a task. The
    * job fails when every attempt of a task lands on a victim; that is
    * expected, so its outcome is ignored. */
  def halt(sc: SparkContext, victims: Set[String]): Unit =
    scala.util.Try(sc.parallelize(1 to 16, 16).foreach { _ =>
      if (victims.contains(SparkEnv.get.executorId)) Runtime.getRuntime.halt(1)
    })

  @volatile private var waited = false

  /** A UDF body that, the first time it runs on the executor named in
    * `target` (an executor JVM waits once, up to 10 s, for the driver to
    * name one), records `halted` and stops that executor's JVM. Elsewhere
    * it is the identity. */
  def haltOnce(target: String, halted: String): Long => Long = { (v: Long) =>
    val t = Paths.get(target)
    if (!waited) {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!Files.exists(t) && System.nanoTime() < deadline) Thread.sleep(50)
      waited = true
    }
    val here = SparkEnv.get.executorId
    if (Files.exists(t) && Files.readString(t) == here && !Files.exists(Paths.get(halted))) {
      Files.writeString(Paths.get(halted), here)
      Runtime.getRuntime.halt(1)
    }
    v
  }
}
