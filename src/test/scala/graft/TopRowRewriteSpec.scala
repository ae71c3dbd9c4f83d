package graft

import org.apache.spark.sql.DataFrame

/** The injected per-group top-N rule's k = 1 branch (plans/TopKRewrite):
  * `row_number() = 1` over a window must produce IDENTICAL rows with
  * the rule on and off — null partition keys kept as their own group,
  * null order keys placed by the default null ordering, both ASC and
  * DESC directions — while the rewritten physical plan replaces the
  * window sort with a `min_by`/`max_by` aggregate. Guards: rn = 2, extra
  * window columns, mixed sort directions, non-default null placement,
  * and filters touching other columns all leave the plan untouched. */
class TopRowRewriteSpec extends SparkSpec {

  private def mkPanel(): Unit = {
    val sess = spark
    import sess.implicits._
    Seq(
      (Some(1L), Some(10L), "a", 1.0),
      (Some(1L), Some(5L), "b", 2.0),   // first for k=1 asc
      (Some(1L), Some(20L), "c", 3.0),
      (Some(2L), Some(7L), "d", 4.0),   // singleton group
      (None: Option[Long], Some(3L), "e", 5.0),  // null key group
      (None: Option[Long], Some(1L), "f", 6.0),  // first for null key
      (Some(3L), None: Option[Long], "g", 7.0),  // null order: first ASC (nulls first)
      (Some(3L), Some(2L), "h", 8.0))
      .toDF("k", "t", "s", "v").createOrReplaceTempView("toprow_ev")
  }

  private def sqlFor(dir: String): String =
    s"""SELECT k, t, s, v FROM (
       |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t $dir) AS rn
       |  FROM toprow_ev
       |) WHERE rn = 1""".stripMargin

  private def rows(df: DataFrame): Set[(Option[Long], Option[Long], String, Double)] =
    df.collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getString(2), r.getDouble(3))
    }.toSet

  private def withRuleOff[A](body: => A): A =
    withoutRule(classOf[graft.plans.TopKRewrite])(body)

  private def planOf(sql: String): String =
    spark.sql(sql).queryExecution.executedPlan.toString

  test("asc: rule on ≡ rule off ≡ hand expectation; plan loses the window sort") {
    mkPanel()
    val expected = Set(
      (Some(1L), Some(5L), "b", 2.0),
      (Some(2L), Some(7L), "d", 4.0),
      (None: Option[Long], Some(1L), "f", 6.0),
      (Some(3L), None: Option[Long], "g", 7.0)) // ASC = NULLS FIRST
    val vanilla = withRuleOff(rows(spark.sql(sqlFor("ASC"))))
    val rewritten = rows(spark.sql(sqlFor("ASC")))
    assert(vanilla == expected, s"vanilla=$vanilla")
    assert(rewritten == expected, s"rewritten=$rewritten")

    val offPlan = withRuleOff(planOf(sqlFor("ASC")))
    val onPlan = planOf(sqlFor("ASC"))
    assert(offPlan.contains("Window"), s"no window with the rule off:\n$offPlan")
    assert(!onPlan.contains("Window"), s"window survived the rewrite:\n$onPlan")
    // the scale argument: map-side partial aggregation collapses each
    // mapper's rows to one candidate per group BEFORE the exchange
    assert(onPlan.contains("partial_min_by"),
      s"no map-side partial aggregation in the rewritten plan:\n$onPlan")
  }

  test("desc: DESC NULLS LAST picks the max; rewrites and agrees") {
    mkPanel()
    val expected = Set(
      (Some(1L), Some(20L), "c", 3.0),
      (Some(2L), Some(7L), "d", 4.0),
      (None: Option[Long], Some(3L), "e", 5.0),
      (Some(3L), Some(2L), "h", 8.0)) // DESC = NULLS LAST → non-null wins
    val vanilla = withRuleOff(rows(spark.sql(sqlFor("DESC"))))
    val rewritten = rows(spark.sql(sqlFor("DESC")))
    assert(vanilla == expected && rewritten == expected,
      s"vanilla=$vanilla rewritten=$rewritten")
    assert(!planOf(sqlFor("DESC")).contains("Window"))
  }

  test("multi-column order and a kept rn output rewrite exactly") {
    mkPanel()
    val sql =
      """SELECT k, s, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t, v) AS rn
        |  FROM toprow_ev
        |) WHERE rn <= 1""".stripMargin
    val vanilla = withRuleOff(spark.sql(sql).collect().toSet)
    val rewritten = spark.sql(sql).collect().toSet
    assert(vanilla == rewritten, s"vanilla=$vanilla rewritten=$rewritten")
    assert(rewritten.forall(_.getInt(2) == 1))
    assert(!planOf(sql).contains("Window"))
  }

  test("a k = 1 bound beside a looser one collapses to k = 1: rewritten, rule on ≡ rule off") {
    mkPanel()
    for (bound <- Seq("rn = 1 AND rn <= 5", "rn <= 1 AND rn < 4")) {
      val sql =
        s"""SELECT k, t, s, v FROM (
           |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
           |  FROM toprow_ev) WHERE $bound""".stripMargin
      val vanilla = withRuleOff(rows(spark.sql(sql)))
      val rewritten = rows(spark.sql(sql))
      assert(vanilla == rewritten && rewritten.size == 4,
        s"$bound: vanilla=$vanilla rewritten=$rewritten")
      val plan = planOf(sql)
      assert(!plan.contains("Window") && plan.contains("partial_min_by"),
        s"$bound kept its window:\n$plan")
    }
  }

  test("guards: ineligible shapes keep their window") {
    mkPanel()
    def keepsWindow(sql: String): Unit = {
      val plan = planOf(sql)
      assert(plan.contains("Window"), s"unexpected rewrite for:\n$sql\n$plan")
      // and the rewrite being off changes nothing
      assert(withRuleOff(spark.sql(sql).collect().toSet) == spark.sql(sql).collect().toSet)
    }
    // rank 2 is not the first row
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM toprow_ev) WHERE rn = 2""".stripMargin)
    // a second window column would be lost by grouping
    keepsWindow(
      """SELECT k, s, cnt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn,
        |         count(*) OVER (PARTITION BY k) AS cnt
        |  FROM toprow_ev) WHERE rn = 1""".stripMargin)
    // mixed sort directions have no struct-comparison equivalent
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t ASC, v DESC) AS rn
        |  FROM toprow_ev) WHERE rn = 1""".stripMargin)
    // non-default null placement
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t ASC NULLS LAST) AS rn
        |  FROM toprow_ev) WHERE rn = 1""".stripMargin)
    // filter touches a non-rn column
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM toprow_ev) WHERE rn = 1 AND v > 2.0""".stripMargin)
    // rank() admits ties — not row_number
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, rank() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM toprow_ev) WHERE rn = 1""".stripMargin)
  }

  test("declared ≡ the direct operator call (WindowOps.dedupeFirst)") {
    mkPanel()
    import org.apache.spark.sql.functions.col
    val direct = graft.operators.WindowOps.dedupeFirst(
        spark.table("toprow_ev"), keys = Seq("k"), order = Seq(col("t"), col("v")))
      .select("k", "t", "s", "v")
    val declared = spark.sql(
      """SELECT k, t, s, v FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t, v) AS rn
        |  FROM toprow_ev) WHERE rn = 1""".stripMargin)
    assert(rows(direct) == rows(declared))
  }
}
