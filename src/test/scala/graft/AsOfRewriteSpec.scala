package graft

import org.apache.spark.sql.DataFrame

/** The injected as-of rewrite (plans/AsOfRewrite): the join+MAX/
  * max_by antipattern must produce IDENTICAL rows with the rule on
  * and off — duplicate probes collapsed, no-match groups dropped,
  * null keys and null times excluded — while the rewritten physical
  * plan replaces the equi join + aggregate with the union+window
  * as-of form. Guards: strict inequality, foreign aggregates, and
  * left-side aggregate references all leave the plan untouched. */
class AsOfRewriteSpec extends SparkSpec {

  private def mkPanels(): Unit = {
    val sess = spark
    import sess.implicits._
    Seq(
      (Some("a"), Some(10L)), (Some("a"), Some(10L)), // duplicate probe row
      (Some("a"), Some(5L)),
      (Some("b"), Some(7L)),                          // no quote at-or-before 7
      (None: Option[String], Some(10L)),              // null key never matches
      (Some("c"), Some(10L)),                         // key with no quotes at all
      (Some("a"), None: Option[Long]))                // null probe time
      .toDF("pk", "pt").createOrReplaceTempView("asof_probes")
    Seq(
      (Some("a"), Some(3L), Some(30.0)),
      (Some("a"), Some(8L), Some(80.0)),
      (Some("a"), Some(10L), Some(100.0)),            // inclusive match
      (Some("b"), Some(9L), Some(90.0)),
      (None: Option[String], Some(1L), Some(1.0)),    // null-keyed quote
      (Some("a"), None: Option[Long], Some(99.0)))    // null quote time
      .toDF("qk", "qt", "v").createOrReplaceTempView("asof_quotes")
  }

  private val backwardSql =
    """SELECT pk, pt, max(qt) AS mt, max_by(v, qt) AS mv
      |FROM asof_probes JOIN asof_quotes
      |  ON qk = pk AND qt <= pt
      |GROUP BY pk, pt""".stripMargin

  private def rows(df: DataFrame): Set[(String, Long, Long, Double)] =
    df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  private def withRuleOff[A](body: => A): A =
    withoutRule(classOf[graft.plans.AsOfRewrite])(body)

  test("backward: rule on ≡ rule off ≡ hand expectation; plan loses the join") {
    mkPanels()
    val vanilla = withRuleOff(rows(spark.sql(backwardSql)))
    val rewritten = rows(spark.sql(backwardSql))
    val expected = Set(
      ("a", 10L, 10L, 100.0),  // inclusive, duplicate probes collapsed
      ("a", 5L, 3L, 30.0))     // b/c/null-key/null-time groups dropped
    assert(vanilla == expected, s"vanilla=$vanilla")
    assert(rewritten == expected, s"rewritten=$rewritten")

    val offPlan = withRuleOff(spark.sql(backwardSql).queryExecution.executedPlan.toString)
    val onPlan = spark.sql(backwardSql).queryExecution.executedPlan.toString
    assert(offPlan.contains("SortMergeJoin") || offPlan.contains("BroadcastHashJoin") ||
      offPlan.contains("ShuffledHashJoin"), s"no equi join with the rule off:\n$offPlan")
    assert(!onPlan.contains("SortMergeJoin") && !onPlan.contains("BroadcastHashJoin") &&
      !onPlan.contains("ShuffledHashJoin") && !onPlan.contains("NestedLoop"),
      s"a join survived the rewrite:\n$onPlan")
    assert(onPlan.contains("Window"), s"no window in the rewritten plan:\n$onPlan")
  }

  test("forward: min/min_by over qt >= pt rewrites and agrees") {
    mkPanels()
    val sql =
      """SELECT pk, pt, min(qt) AS mt, min_by(v, qt) AS mv
        |FROM asof_probes JOIN asof_quotes
        |  ON qk = pk AND qt >= pt
        |GROUP BY pk, pt""".stripMargin
    val vanilla = withRuleOff(rows(spark.sql(sql)))
    val rewritten = rows(spark.sql(sql))
    val expected = Set(
      ("a", 10L, 10L, 100.0),
      ("a", 5L, 8L, 80.0),
      ("b", 7L, 9L, 90.0))
    assert(vanilla == expected && rewritten == expected,
      s"vanilla=$vanilla rewritten=$rewritten")
    assert(spark.sql(sql).queryExecution.executedPlan.toString.contains("Window"))
  }

  test("guards: strict inequality, foreign aggregates, left-side refs stay unrewritten") {
    mkPanels()
    def keepsJoin(sql: String): Unit = {
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
        plan.contains("ShuffledHashJoin"), s"rule fired on an ineligible shape:\n$plan")
    }
    // strict < is not the inclusive as-of contract
    keepsJoin(
      """SELECT pk, pt, max(qt) AS mt FROM asof_probes JOIN asof_quotes
        |  ON qk = pk AND qt < pt GROUP BY pk, pt""".stripMargin)
    // count(*) is not an as-of aggregate
    keepsJoin(
      """SELECT pk, pt, max(qt) AS mt, count(*) AS n
        |FROM asof_probes JOIN asof_quotes
        |  ON qk = pk AND qt <= pt GROUP BY pk, pt""".stripMargin)
    // max over the WRONG side
    keepsJoin(
      """SELECT pk, max(pt) AS mp FROM asof_probes JOIN asof_quotes
        |  ON qk = pk AND qt <= pt GROUP BY pk""".stripMargin)
    // direction mismatch: forward inequality with a backward aggregate
    keepsJoin(
      """SELECT pk, pt, max(qt) AS mt FROM asof_probes JOIN asof_quotes
        |  ON qk = pk AND qt >= pt GROUP BY pk, pt""".stripMargin)
  }

  test("q119 ≡ the AsOfJoin operator called directly") {
    import org.apache.spark.sql.functions._
    val declared = SparkEntry.q119DeclaredAsOf(spark, SfDir)
    val direct = graft.operators.AsOfJoin.asOf(
        Tables.transfers(spark, SfDir).select("asset", "wallet", "date").distinct(),
        Tables.prices(spark, SfDir)
          .select(col("asset"), col("date").as("pdate"), col("price")),
        keys = Seq("asset"), probeTime = "date", quoteTime = "pdate",
        payload = Seq("price"))
      .where(col("pdate").isNotNull)
      .select(col("asset"), col("wallet"), col("date"),
        col("pdate").as("price_date"), col("price"))
    assert(declared.count() > 0)
    assert(declared.exceptAll(direct).count() == 0 &&
      direct.exceptAll(declared).count() == 0,
      "declared-SQL rewrite diverges from the direct operator call")
  }
}
