package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Dev-only head-to-head for the stats-gated TopKRewrite dispatch
  * (PLANS.md's r11 regime measurement, re-run with the gate): 3×sf0.1
  * lineitem with a KMV sidecar on both partition keys, top-3 per
  * SUPPLIER (the win regime — the gate must keep the heap) and top-3
  * per ORDER (the measured loss regime — the gate must keep the
  * window), each timed min-of-2 warmed with the gate on vs off.
  *
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.TopKGateBench
  */
object TopKGateBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)

    val dir = Scratch.cachedArtifact("graft_topkgate", sfDir) { tableDir =>
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_linenumber")
      li.union(li.withColumn("l_orderkey", col("l_orderkey") + 10000000L))
        .union(li.withColumn("l_orderkey", col("l_orderkey") + 20000000L))
        .repartition(8).write.parquet(tableDir)
      graft.sources.FileStats.build(spark, tableDir, cols = Nil,
        kmvCols = Seq("l_orderkey", "l_suppkey"))
    }

    def q(key: String) = spark.read.parquet(dir)
      .selectExpr("*",
        s"row_number() OVER (PARTITION BY $key " +
          "ORDER BY l_extendedprice DESC, l_linenumber DESC, l_orderkey DESC) AS rn")
      .where(col("rn") <= 3)

    def time(key: String): (Double, String) = {
      val plan = q(key).queryExecution.executedPlan.toString
      val shape = if (plan.contains("Window")) "window" else "heap"
      val ts = (0 to 2).map { _ =>
        val t0 = System.nanoTime()
        q(key).count(): Unit
        (System.nanoTime() - t0) / 1e9
      }
      (ts.tail.min, shape)
    }

    for (key <- Seq("l_suppkey", "l_orderkey")) {
      spark.conf.set("spark.graft.topK.statsGate", "true")
      val (tOn, sOn) = time(key)
      spark.conf.set("spark.graft.topK.statsGate", "false")
      val (tOff, sOff) = time(key)
      spark.conf.set("spark.graft.topK.statsGate", "true")
      println(f"TOPKGATE key=$key gateOn=$sOn%s ${tOn}%.2fs gateOff=$sOff%s ${tOff}%.2fs")
    }
    spark.stop()
  }
}
