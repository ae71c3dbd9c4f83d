package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.MatViews
import graft.tools.Scratch

/** Automatic materialized-view matching (plans/ViewMatchRewrite +
  * sources/MatViews): aggregates contained by a registered view must
  * produce IDENTICAL rows with the rule on and off while the
  * rewritten plan scans the VIEW's path and never the facts; subset
  * grouping, grain-column slices, count/sum/min/max compensation,
  * NULL group keys. Guards: unregistered measures, non-grain
  * filters, non-grain grouping, distinct aggregates all keep the
  * fact scan. */
class ViewMatchRewriteSpec extends SparkSpec {

  private var factsPath: String = _
  private var mvPath: String = _

  private def setup(): Unit = {
    if (factsPath != null) return
    val root = Scratch.tempDir("graft_mv_spec")
    factsPath = s"$root/facts.parquet"
    mvPath = s"$root/mv.parquet"
    val sess = spark
    import sess.implicits._
    Seq(
      (Some("a"), 1L, 10L, "2024-01-01"),
      (Some("a"), 1L, 20L, "2024-01-02"),
      (Some("a"), 2L, 5L, "2024-01-01"),
      (Some("b"), 1L, 7L, "2024-01-03"),
      (None: Option[String], 3L, 42L, "2024-01-01"), // NULL group key
      (Some("b"), 2L, 11L, "2024-01-02"))
      .toDF("asset", "bucket", "v", "day")
      .write.mode("overwrite").parquet(factsPath)
    MatViews.build(spark, factsPath, mvPath,
      groupCols = Seq("asset", "bucket"),
      sums = Map("sum_v" -> col("v")),
      countCol = Some("cnt"),
      mins = Map("min_v" -> col("v")),
      maxs = Map("max_v" -> col("v"))): Unit
    spark.read.parquet(factsPath).createOrReplaceTempView("mv_facts")
  }

  private def withRuleOff[A](body: => A): A =
    withoutRule(classOf[graft.plans.ViewMatchRewrite])(body)

  /** The executed plan, then every file the query reads, by full path:
    * the plan string cuts a scan's location after
    * `spark.sql.maxMetadataStringLength` (100) characters, and a
    * run-scoped temp dir's name alone is ~70. */
  private def scans(df: DataFrame): String =
    (df.queryExecution.executedPlan.toString +: df.inputFiles).mkString("\n")

  private def agree(sql: String): Unit = {
    val on = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    val off = withRuleOff(spark.sql(sql).collect().map(_.toString).sorted.toSeq)
    assert(on == off, s"on=$on off=$off for:\n$sql")
  }

  test("subset grouping + slice answer from the view; the fact scan disappears") {
    setup()
    val sql =
      """SELECT asset, count(*) AS n, sum(v) AS sv, min(v) AS lo, max(v) AS hi
        |FROM mv_facts WHERE bucket <= 2 GROUP BY asset""".stripMargin
    agree(sql)
    // hand expectation (NULL asset kept as its own group; bucket=3 row sliced out)
    val got = spark.sql(sql).collect()
      .map(r => (if (r.isNullAt(0)) "∅" else r.getString(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map("a" -> ((3L, 35L, 5L, 20L)), "b" -> ((2L, 18L, 7L, 11L))),
      s"got=$got")

    val onPlan = scans(spark.sql(sql))
    val offPlan = withRuleOff(scans(spark.sql(sql)))
    assert(offPlan.contains("facts.parquet"), s"facts not scanned with rule off:\n$offPlan")
    assert(!onPlan.contains("facts.parquet") && onPlan.contains("mv.parquet"),
      s"rewritten plan still scans the facts:\n$onPlan")
  }

  test("exact-grain match and a group-col alias both rewrite") {
    setup()
    val sql =
      """SELECT asset AS a, bucket, sum(v) AS sv
        |FROM mv_facts GROUP BY asset, bucket""".stripMargin
    agree(sql)
    assert(!scans(spark.sql(sql)).contains("facts.parquet"))
  }

  test("guards: unmatched shapes keep the fact scan") {
    setup()
    def keepsFacts(sql: String): Unit = {
      assert(scans(spark.sql(sql)).contains("facts.parquet"),
        s"unexpected rewrite for:\n$sql")
      agree(sql) // and semantics never change either way
    }
    // sum over a DIFFERENT expression than the registered measure
    keepsFacts("SELECT asset, sum(v + 1) AS s FROM mv_facts GROUP BY asset")
    // filter on a non-grain column
    keepsFacts("SELECT asset, sum(v) AS s FROM mv_facts WHERE v > 5 GROUP BY asset")
    // grouping on a non-grain column
    keepsFacts("SELECT day, sum(v) AS s FROM mv_facts GROUP BY day")
    // distinct aggregate is not decomposable
    keepsFacts("SELECT asset, count(DISTINCT bucket) AS s FROM mv_facts GROUP BY asset")
    // avg is not a registered compensation
    keepsFacts("SELECT asset, avg(v) AS s FROM mv_facts GROUP BY asset")
  }

  test("an unregistered path is never rewritten") {
    setup()
    val other = factsPath.replace("facts.parquet", "other.parquet")
    spark.read.parquet(factsPath).write.mode("overwrite").parquet(other)
    spark.read.parquet(other).createOrReplaceTempView("mv_other")
    assert(scans(spark.sql(
      "SELECT asset, sum(v) AS s FROM mv_other GROUP BY asset"))
      .contains("other.parquet"))
  }

  test("q125: the registry query never scans the fact file") {
    val df = SparkEntry.q125ViewMatch(spark, SfDir)
    val plan = scans(df)
    assert(!plan.contains("events.parquet") && plan.contains("graft_q125_mv"),
      s"q125 still scans the facts:\n$plan")
    // and the rewritten answer equals the direct fact-scan aggregate
    val direct = withRuleOff(SparkEntry.q125ViewMatch(spark, SfDir)
      .collect().map(_.toString).sorted.toSeq)
    assert(df.collect().map(_.toString).sorted.toSeq == direct)
  }

  private var jFactsPath: String = _
  private var jDimPath: String = _
  private var jMvPath: String = _

  private def setupJoin(): Unit = {
    if (jFactsPath != null) return
    val root = Scratch.tempDir("graft_mv_join_spec")
    jFactsPath = s"$root/jfacts.parquet"
    jDimPath = s"$root/jdim.parquet"
    jMvPath = s"$root/jmv.parquet"
    val sess = spark
    import sess.implicits._
    Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L), (4L, 100L)) // fk=4: no dim
      .toDF("fk", "v").write.mode("overwrite").parquet(jFactsPath)
    Seq((1L, "east"), (2L, "east"), (3L, "west"), (5L, "north")) // dk=5: no facts
      .toDF("dk", "region").write.mode("overwrite").parquet(jDimPath)
    MatViews.buildJoin(spark, jFactsPath, jDimPath,
      leftKeys = Seq("fk"), rightKeys = Seq("dk"),
      mvPath = jMvPath, groupCols = Seq("region", "dk"),
      sums = Map("sum_v" -> col("v")), countCol = Some("cnt")): Unit
    spark.read.parquet(jFactsPath).createOrReplaceTempView("jmv_facts")
    spark.read.parquet(jDimPath).createOrReplaceTempView("jmv_dim")
  }

  test("join view: a star rollup answers the facts-joins-dim aggregate") {
    setupJoin()
    val sql =
      """SELECT region, count(*) AS n, sum(v) AS sv
        |FROM jmv_facts JOIN jmv_dim ON fk = dk
        |WHERE region <> 'north' GROUP BY region""".stripMargin
    agree(sql)
    val got = spark.sql(sql).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // inner join drops fk=4 (no dim) and dk=5 (no facts)
    assert(got == Map("east" -> ((3L, 35L)), "west" -> ((1L, 7L))), s"got=$got")
    val plan = scans(spark.sql(sql))
    assert(!plan.contains("jfacts.parquet") && !plan.contains("jdim.parquet")
      && plan.contains("jmv.parquet"),
      s"join view not matched:\n$plan")
  }

  test("join view: the swapped orientation and a dim-key slice also match") {
    setupJoin()
    val sql =
      """SELECT region, sum(v) AS sv
        |FROM jmv_dim JOIN jmv_facts ON dk = fk
        |WHERE dk <= 2 GROUP BY region""".stripMargin
    agree(sql)
    val got = spark.sql(sql).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("east" -> 35L), s"got=$got")
    assert(!scans(spark.sql(sql)).contains("jfacts.parquet"))
  }

  test("join view guards: wrong keys, outer joins, non-grain filters keep the scans") {
    setupJoin()
    def keepsFacts(sql: String): Unit = {
      assert(scans(spark.sql(sql)).contains("jfacts.parquet"),
        s"unexpected rewrite for:\n$sql")
      agree(sql)
    }
    // join on a non-registered key pair
    keepsFacts(
      """SELECT region, sum(v) AS sv FROM jmv_facts JOIN jmv_dim ON v = dk
        |GROUP BY region""".stripMargin)
    // outer join: the view materialized INNER semantics
    keepsFacts(
      """SELECT region, sum(v) AS sv FROM jmv_facts LEFT JOIN jmv_dim ON fk = dk
        |GROUP BY region""".stripMargin)
    // filter on a fact measure column (not grain)
    keepsFacts(
      """SELECT region, sum(v) AS sv FROM jmv_facts JOIN jmv_dim ON fk = dk
        |WHERE v > 6 GROUP BY region""".stripMargin)
    // an extra non-equi join condition
    keepsFacts(
      """SELECT region, sum(v) AS sv FROM jmv_facts JOIN jmv_dim ON fk = dk AND v > dk
        |GROUP BY region""".stripMargin)
  }

  test("q126: the registry query answers from the star rollup, scans and join gone") {
    val df = SparkEntry.q126JoinViewMatch(spark, SfDir)
    val plan = scans(df)
    assert(!plan.contains("orders.parquet") && !plan.contains("customer.parquet")
      && plan.contains("graft_q126_mv") && !plan.contains("Join"),
      s"q126 still scans/joins the base tables:\n$plan")
    val direct = withRuleOff(SparkEntry.q126JoinViewMatch(spark, SfDir)
      .collect().map(_.toString).sorted.toSeq)
    assert(df.collect().map(_.toString).sorted.toSeq == direct)
  }

  test("continuous view: an AggTableSink-maintained table answers declared SQL at each tick") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.AggTableSink
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._

    val root = Scratch.tempDir("graft_mv_stream")
    val liveFacts = s"$root/facts.parquet"
    val viewRoot = s"$root/view"
    val mem = MemoryStream[(String, Double)]
    val query = AggTableSink.start(
      mem.toDF().toDF("asset", "v")
        .withColumn("v_d", round(col("v"), 6).cast("decimal(18,6)")),
      viewRoot, Seq("asset"), Seq("v_d"), "cnt")
    val sql =
      """SELECT asset, count(*) AS n,
        |  CAST(sum(CAST(round(v, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sv
        |FROM mv_live_facts GROUP BY asset""".stripMargin
    val ticks = Seq(
      Seq(("a", 1.5), ("b", 2.0), ("a", 3.25)),
      Seq(("b", 4.0), ("c", 0.5)))
    try {
      var registered = false
      ticks.foreach { t =>
        // one ingest feeds both: facts land in the lake, the sink
        // maintains the rollup — the continuous-MV loop
        t.toDF("asset", "v").write.mode("append").parquet(liveFacts)
        mem.addData(t); query.processAllAvailable()
        if (!registered) {
          MatViews.register(spark, liveFacts, viewRoot, Seq("asset"),
            sums = Map("v_d" -> round(col("v"), 6).cast("decimal(18,6)")),
            countCol = Some("cnt"), publish = true): Unit
          registered = true
        }
        // re-resolve the file listing each tick (a cached temp view
        // would pin the first tick's files on the DIRECT path too)
        spark.read.parquet(liveFacts).createOrReplaceTempView("mv_live_facts")
        val on = spark.sql(sql)
        assert(!scans(on).contains("facts.parquet"),
          s"matched query still scans the facts:\n${scans(on)}")
        val got = on.collect().map(_.toString).sorted.toSeq
        val direct = withRuleOff(
          spark.sql(sql).collect().map(_.toString).sorted.toSeq)
        assert(got == direct, s"tick diverged: view=$got facts=$direct")
      }
    } finally query.stop()
    MatViews.deregister(liveFacts)
  }

  test("the view stays matched after AggTableSink-style re-publication") {
    setup()
    // a maintenance tick rewrites the view bytes; the registration —
    // path + measure definitions — is unchanged and keeps serving
    val newRows = spark.read.parquet(factsPath)
      .groupBy("asset", "bucket")
      .agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"),
        min("v").as("min_v"), max("v").as("max_v"))
    newRows.write.mode("overwrite").parquet(mvPath)
    agree("SELECT asset, sum(v) AS sv FROM mv_facts GROUP BY asset")
    assert(!scans(spark.sql(
      "SELECT asset, sum(v) AS sv FROM mv_facts GROUP BY asset"))
      .contains("facts.parquet"))
  }
}
