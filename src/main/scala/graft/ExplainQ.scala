package graft

/** Dev tool: print the formatted physical plan of registered queries
  * — used to audit pushdown (PushedFilters / ReadSchema), broadcast
  * choices, and codegen stage boundaries.
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.ExplainQ <query_key…>
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    for (name <- args) {
      println(s"== $name")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
      // run the action through df's own QueryExecution (a `noop` write
      // plans its own), so its adaptive plan is final and shows the
      // post-AQE codegen stages (* markers)
      df.queryExecution.toRdd.foreach(_ => ())
      println(df.queryExecution.executedPlan.toString.split("\n").take(60).mkString("\n"))
      CacheScope.releaseAll(spark): Unit
    }
    spark.stop()
  }
}
