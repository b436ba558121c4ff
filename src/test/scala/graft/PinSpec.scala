package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Pin
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class PinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Messages the `DAGScheduler` logs while `body` runs, with their
    * exceptions' messages appended. */
  private def schedulerLog(body: => Unit): Seq[String] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("pin-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage +
          Option(e.getThrown).map(t => s": ${t.getMessage}").getOrElse(""))
    }
    val logger = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[CoreLogger]
    appender.start()
    logger.addAppender(appender)
    try body
    finally { logger.removeAppender(appender); appender.stop() }
    seen.asScala.toSeq
  }

  test("pins read by concurrently materialized stages keep their plans' SQL metrics alive") {
    // bitextMineBlocked pins the in-cell pair relation, which marginTail's
    // top-k and margin aggregates read in stages AQE materializes at once
    // (shuffle stages beside broadcast jobs); scored is pinned in turn and
    // read by two window stages. A pin that drops its lineage when the
    // first of those jobs ends leaves the others reporting SQL-metric
    // updates to accumulators a GC has collected.
    val emb = spark.read.parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    val gc = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = System.gc()
    }
    spark.sparkContext.addSparkListener(gc)
    var n = 0L
    val log = try schedulerLog {
      n = graft.ops.Mining.bitextMineAuto(emb, "vec_id", "embedding",
        col("vec_id") % 2 === 0, 4, 10000L).collect().length
    } finally spark.sparkContext.removeSparkListener(gc)
    assert(n > 0)
    val lost = log.filter(_.contains("accumulator"))
    assert(lost.isEmpty, lost.take(3).mkString(s"${lost.size} lost metric updates:\n", "\n", ""))
  }

  test("downstream a pin plans exactly as a lazy local checkpoint does") {
    val df = spark.range(0, 1000).select((col("id") % 10).as("k"), col("id").as("v"))
      .repartition(4, col("k"))
    def shape(pinned: DataFrame): String =
      pinned.groupBy("k").agg(sum("v")).queryExecution.executedPlan.toString
        .replaceAll("#\\d+", "").replaceAll("plan_id=\\d+", "")
    val viaPin = shape(Pin(df))
    assert(viaPin.contains("Scan ExistingRDD"), viaPin)
    assert(viaPin == shape(df.localCheckpoint(false)))
  }

  test("truncate cuts the lineage; a pin keeps it") {
    val df = spark.range(0, 1000).groupBy((col("id") % 10).as("k")).count()
    def lineage(d: DataFrame) = d.queryExecution.toRdd.toDebugString
    assert(lineage(Pin.truncate(df)).contains("LocalCheckpointRDD"))
    assert(!lineage(Pin.truncate(df)).contains("ShuffledRowRDD"))
    assert(lineage(Pin(df)).contains("ShuffledRowRDD"))
  }
}
