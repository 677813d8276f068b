package graft

/** Prints the formatted physical plan of SparkEntry queries on the
  * session Bench runs them on (same thread count, same config).
  * Usage: runMain graft.ExplainOne <sfDir> <query>... */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session(Bench.cpuCounts()._2)
    args.drop(1).foreach { name =>
      println(s"==== $name ====")
      println(SparkEntry.queries(name)(spark, args(0)).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
