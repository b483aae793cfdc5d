package graft

/** Dev tool: print formatted physical plans for selected queries
  * (usage: runMain graft.Explain <sfDir> <query...>). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val which = if (args.length > 1) args.drop(1).toSeq else Seq("fwd_geocode", "reverse_pip")
    val spark = GraftSession.get()
    SparkEntry.eachQuery(spark, sfDir, which) { (name, df) =>
      println(s"========== $name ==========")
      println(df().queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
