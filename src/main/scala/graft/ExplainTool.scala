package graft

/** Dev tool: print the formatted physical plan for named queries —
  * `runMain graft.ExplainTool <sfDir> <query> [query ...]`. Used to
  * audit pushdown (PushedFilters/ReadSchema), join strategies and
  * shuffle counts per round. */
object ExplainTool {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = ToolSession(defaultCpus = 8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
