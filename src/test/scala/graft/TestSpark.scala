package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM, built as production
  * builds it ([[Sessions.local]]), so the suite runs the shipped confs. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val fixtures = "/root/repo/fixtures"
}
