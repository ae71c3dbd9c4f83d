package graft

/** Dev tool: print the formatted physical plan of any registered
  * query — used to audit pushdown (PushedFilters / ReadSchema),
  * broadcast choices, and codegen stage boundaries.
  * Usage: runMain graft.ExplainQ <query_key> [sfDir]
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local(8)
    val df = SparkEntry.queries(args(0))(spark, sfDir)
    df.explain("formatted")
    // run the action through df's own QueryExecution (a `noop` write
    // plans its own), so its adaptive plan is final and shows the
    // post-AQE codegen stages (* markers)
    df.queryExecution.toRdd.foreach(_ => ())
    println(df.queryExecution.executedPlan.toString.split("\n").take(60).mkString("\n"))
    spark.stop()
  }
}
