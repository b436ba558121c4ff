package graft.tools

/** Replicates the driver's entry() smoke check (rows > 0 at sf0.001). */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val n = graft.SparkEntry.entry(spark).count()
    println(s"ENTRY rows=$n")
    spark.stop()
    if (n == 0) sys.exit(1) // mirror the driver: zero rows is a failure
  }
}
