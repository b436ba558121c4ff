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

  /** `body` with whole-stage codegen off and every expression interpreted
    * (`spark.sql.codegen.factoryMode=NO_CODEGEN`): the path Spark falls
    * back to when generated code fails to compile. Frames must be built
    * inside `body`, since a frame plans once. */
  def withoutCodegen[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
