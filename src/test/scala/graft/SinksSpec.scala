package graft

import org.apache.spark.sql.functions._

import graft.sources.Sinks
import graft.tools.Scratch

/** Sink layout behaviors that matter at scale: partition pruning on
  * partitioned writes, shuffle-free joins on bucketed writes. */
class SinksSpec extends SparkSpec {

  test("partitioned write prunes partitions on read") {
    val dir = Scratch.tempDir("graft_part")
    val ev = Tables.events(spark, SfDir)
    Sinks.writePartitioned(ev, dir, Seq("event_type"))

    val back = spark.read.parquet(dir).where(col("event_type") === "click")
    assert(back.count() == ev.where(col("event_type") === "click").count())
    // pruning proof: the scan's partition filters catch the predicate
    val scan = back.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("event_type"),
      s"expected partition filters in scan:\n$scan")
  }

  test("bucketed tables join without a shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = Tables.transfers(spark, SfDir)
      Sinks.writeBucketed(t.where(col("wallet") % 2 === 0), "graft_bucket_a",
        bucketCols = Seq("wallet"), numBuckets = 8, sortCols = Seq("wallet"))
      Sinks.writeBucketed(t.where(col("wallet") % 2 === 1).select(col("wallet"), col("net_transfers")),
        "graft_bucket_b", bucketCols = Seq("wallet"), numBuckets = 8, sortCols = Seq("wallet"))

      val joined = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), Seq("wallet"))
      joined.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("profits window chain over the bucketed transfers table runs with zero Exchange") {
    import org.apache.spark.sql.expressions.Window
    try {
      // the q44 layout: fact table bucketed on the window partition key
      Sinks.writeBucketed(
        Tables.transfersWithBalance(spark, SfDir).drop("transfer_sequence"),
        "graft_twb_spec", bucketCols = Seq("asset", "wallet"), numBuckets = 8,
        sortCols = Seq("asset", "wallet", "date"))
      val w = Window.partitionBy("asset", "wallet").orderBy("date")
      // the flagship's per-wallet window chain (running inflows +
      // sequence) — on the shuffled layout this is the ONE fact
      // exchange q10 pays; on the bucketed layout it must vanish
      val chained = spark.table("graft_twb_spec")
        .withColumn("inflows_cum", sum(greatest(col("net_transfers"), lit(0.0))).over(w))
        .withColumn("seq", count(lit(1)).over(w))
      chained.count()
      val plan = chained.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed window chain should not shuffle:\n$plan")
    } finally {
      Sinks.dropTable(spark, "graft_twb_spec")
    }
  }

  test("Profits.walletProfits over the bucketed transfers table: no Exchange on the fact side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    try {
      // the q44 layout, read by the real flagship operator
      Sinks.writeBucketed(
        Tables.transfersWithBalance(spark, SfDir).drop("transfer_sequence"),
        "graft_twb_profits_spec", bucketCols = Seq("asset", "wallet"), numBuckets = 8,
        sortCols = Seq("asset", "wallet", "date"))
      val profits = graft.operators.Profits.walletProfits(
        spark.table("graft_twb_profits_spec"), Tables.prices(spark, SfDir))
      profits.collect()
      def children(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => p.children
      }
      // root-to-scan path of the bucketed table: the fact side (the
      // price side's exchanges sit behind broadcasts, off this path)
      def factPath(p: SparkPlan): Option[List[SparkPlan]] = p match {
        case s: FileSourceScanExec
            if s.tableIdentifier.exists(_.table == "graft_twb_profits_spec") => Some(List(s))
        case _ => children(p).iterator.map(factPath).collectFirst { case Some(path) => p :: path }
      }
      val plan = profits.queryExecution.executedPlan
      val path = factPath(plan).getOrElse(fail(s"bucketed scan not found:\n$plan"))
      assert(!path.exists(_.isInstanceOf[ShuffleExchangeExec]),
        s"the bucketed fact side should not shuffle:\n$plan")
    } finally {
      Sinks.dropTable(spark, "graft_twb_profits_spec")
    }
  }

  test("writeShards lands one sorted file per shard and loses no rows") {
    val assigned = SparkEntry.q59ShardAssign(spark, SfDir)
    val out = Scratch.tempDir("graft_shards")
    try {
      Sinks.writeShards(assigned, out, "shard", nShards = 8,
        orderCols = Seq("scramble", "doc_id"))
      val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard="))
      assert(dirs.nonEmpty, "no shard directories written")
      // exactly one data file per shard directory
      dirs.foreach { d =>
        val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"${d.getName} has ${files.length} files, want 1")
      }
      val back = spark.read.parquet(out)
      assert(back.count() == assigned.count(), "round-trip lost rows")
      // within each file, rows are physically in scramble order —
      // read WITHOUT a sort and check monotonicity per file
      import org.apache.spark.sql.functions.{col, input_file_name, lag, monotonically_increasing_id}
      // materialize file/row-order first (window specs reject
      // nondeterministic expressions directly in partitionBy/orderBy)
      val tagged = back
        .withColumn("__file", input_file_name())
        .withColumn("__rid", monotonically_increasing_id())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__file").orderBy("__rid")
      val disordered = tagged
        .withColumn("__prev", lag("scramble", 1).over(w))
        .where(col("__prev") > col("scramble"))
        .count()
      assert(disordered == 0, "a shard file is not in scramble order")
    } finally {
      Sinks.deleteRecursively(java.nio.file.Paths.get(out))
    }
  }
}
