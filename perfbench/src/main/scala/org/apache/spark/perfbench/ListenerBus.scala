package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a traced rep must see every task
  * event of its spans before it reads them. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
