package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A warm pipeline run compiles no code: every class it generates is still
  * in Spark's codegen cache from the run before ([[Sessions]] sizes it). */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(name: String): Unit = {
    SparkEntry.queries(name)(spark, TestSpark.sf0001).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  for (name <- Seq("curation_full", "pipeline_fulltext"))
    test(s"a second $name run compiles no code") {
      run(name)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(name)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles == 0)
    }
}
