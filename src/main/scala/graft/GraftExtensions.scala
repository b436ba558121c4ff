package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graft.GraftFunctions

/** SparkSessionExtensions entry point for the engine's native SQL
  * functions. [[Sessions]] installs it in every session it builds; any
  * other session takes it through configuration:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or: SparkSession.builder().withExtensions(new GraftExtensions) */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)) }
}
