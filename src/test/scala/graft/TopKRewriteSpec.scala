package graft

import org.apache.spark.sql.DataFrame

import graft.tools.Scratch

/** The injected per-group top-N rule's k ≥ 2 branch (plans/TopKRewrite):
  * `row_number() <= k` over a window must produce IDENTICAL rows —
  * rank column included — with the rule on and off, while the
  * rewritten physical plan replaces the window sort with a bounded
  * top-k aggregate plus explode. Guards: k beyond `TopKRewrite.MaxK`,
  * extra window columns, mixed sort directions, and non-rn filter
  * conjuncts all keep their window; the KMV stats gate keeps it for
  * tables whose sidecar says groups ≈ rows. */
class TopKRewriteSpec extends SparkSpec {

  private def mkPanel(): Unit = {
    val sess = spark
    import sess.implicits._
    Seq(
      (Some(1L), Some(10L), "a", 1.0),
      (Some(1L), Some(5L), "b", 2.0),
      (Some(1L), Some(20L), "c", 3.0),
      (Some(1L), Some(7L), "d", 4.0),
      (Some(2L), Some(7L), "e", 5.0),   // singleton group: k > |group|
      (None: Option[Long], Some(3L), "f", 6.0),
      (None: Option[Long], Some(1L), "g", 7.0),
      (Some(3L), None: Option[Long], "h", 8.0),  // null order key
      (Some(3L), Some(2L), "i", 9.0),
      (Some(3L), Some(4L), "j", 10.0))
      .toDF("k", "t", "s", "v").createOrReplaceTempView("topk_ev")
  }

  private def sqlFor(dir: String, bound: String): String =
    s"""SELECT k, t, s, v, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t $dir) AS rn
       |  FROM topk_ev
       |) WHERE $bound""".stripMargin

  private def rows(df: DataFrame): Set[(Option[Long], Option[Long], String, Double, Int)] =
    df.collect().map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getString(2), r.getDouble(3), r.getInt(4))
    }.toSet

  private def withRuleOff[A](body: => A): A =
    withoutRule(classOf[graft.plans.TopKRewrite])(body)

  private def planOf(sql: String): String =
    spark.sql(sql).queryExecution.executedPlan.toString

  test("asc rn <= 2: on ≡ off ≡ hand expectation, ranks restored; plan swaps window for bounded heap") {
    mkPanel()
    val expected = Set(
      (Some(1L), Some(5L), "b", 2.0, 1),
      (Some(1L), Some(7L), "d", 4.0, 2),
      (Some(2L), Some(7L), "e", 5.0, 1),
      (None: Option[Long], Some(1L), "g", 7.0, 1),
      (None: Option[Long], Some(3L), "f", 6.0, 2),
      (Some(3L), None: Option[Long], "h", 8.0, 1), // ASC = NULLS FIRST
      (Some(3L), Some(2L), "i", 9.0, 2))
    val q = sqlFor("ASC", "rn <= 2")
    val vanilla = withRuleOff(rows(spark.sql(q)))
    val rewritten = rows(spark.sql(q))
    assert(vanilla == expected, s"vanilla=$vanilla")
    assert(rewritten == expected, s"rewritten=$rewritten")

    val offPlan = withRuleOff(planOf(q))
    val onPlan = planOf(q)
    assert(offPlan.contains("Window"), s"no window with the rule off:\n$offPlan")
    assert(!onPlan.contains("Window"), s"window survived the rewrite:\n$onPlan")
    // the scale argument: each mapper ships at most k candidates per
    // group — a partial bounded-heap aggregate feeds the exchange
    assert(onPlan.contains("partial_collect_top_k"),
      s"no map-side partial top-k in the rewritten plan:\n$onPlan")
    assert(onPlan.contains("Generate"), s"no explode restoring rows:\n$onPlan")
  }

  test("desc rn < 4 (= rn <= 3): DESC NULLS LAST, equal results and ranks") {
    mkPanel()
    val q = sqlFor("DESC", "rn < 4")
    val vanilla = withRuleOff(rows(spark.sql(q)))
    val rewritten = rows(spark.sql(q))
    assert(vanilla == rewritten, s"vanilla=$vanilla rewritten=$rewritten")
    // group 3 DESC: 4 ("j"), 2 ("i"), then the null order key LAST
    assert(rewritten.contains((Some(3L), Some(4L), "j", 10.0, 1)))
    assert(rewritten.contains((Some(3L), None, "h", 8.0, 3)))
    assert(!planOf(q).contains("Window"))
  }

  test("multi-column order, projected subset, redundant bounds") {
    mkPanel()
    val sql =
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t, v) AS rn
        |  FROM topk_ev
        |) WHERE rn <= 2 AND rn <= 5""".stripMargin
    val vanilla = withRuleOff(spark.sql(sql).collect().toSet)
    val rewritten = spark.sql(sql).collect().toSet
    assert(vanilla == rewritten && rewritten.nonEmpty)
    assert(!planOf(sql).contains("Window"))
  }

  test("guards: ineligible shapes keep their window") {
    mkPanel()
    def keepsWindow(sql: String): Unit = {
      val plan = planOf(sql)
      assert(plan.contains("Window"), s"unexpected rewrite for:\n$sql\n$plan")
      assert(withRuleOff(spark.sql(sql).collect().toSet) == spark.sql(sql).collect().toSet)
    }
    // an exact rank is a slice, not a prefix
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM topk_ev) WHERE rn = 2""".stripMargin)
    // a second window column would be lost by grouping
    keepsWindow(
      """SELECT k, s, cnt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn,
        |         count(*) OVER (PARTITION BY k) AS cnt
        |  FROM topk_ev) WHERE rn <= 2""".stripMargin)
    // mixed sort directions have no struct-comparison equivalent
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t ASC, v DESC) AS rn
        |  FROM topk_ev) WHERE rn <= 2""".stripMargin)
    // filter touches a non-rn column
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM topk_ev) WHERE rn <= 2 AND v > 2.0""".stripMargin)
    // rank() admits ties — not row_number
    keepsWindow(
      """SELECT k, s FROM (
        |  SELECT *, rank() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM topk_ev) WHERE rn <= 2""".stripMargin)
    // k beyond the heap bound: the window sort is the better plan and
    // the rule must stand aside
    keepsWindow(
      s"""SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM topk_ev) WHERE rn <= ${graft.plans.TopKRewrite.MaxK + 1}""".stripMargin)
  }

  test("rn <= 1 belongs to TopRowRewrite: still no window, via min_by not a heap") {
    mkPanel()
    val sql =
      """SELECT k, s FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY t) AS rn
        |  FROM topk_ev) WHERE rn <= 1""".stripMargin
    val plan = planOf(sql)
    assert(!plan.contains("Window") && plan.contains("min_by") &&
      !plan.contains("collect_top_k"), plan)
  }

  test("stats gate: the KMV sidecar flips the dispatch in the groups≈rows regime") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val root = Scratch.tempDir("graft_topk_gate")
    try {
      // leaderboard regime: 8 groups × 500 rows — rows-per-group 500
      val lead = s"$root/lead"
      (0 until 4000).map(i => (i.toLong % 8, i.toLong, i.toDouble))
        .toDF("g", "t", "v").repartition(4).write.parquet(lead)
      graft.sources.FileStats.build(spark, lead, cols = Nil, kmvCols = Seq("g"))
      // churn regime: near-unique key — rows-per-group ≈ 1
      val churn = s"$root/churn"
      (0 until 4000).map(i => (i.toLong, i.toLong % 7, i.toDouble))
        .toDF("g", "t", "v").repartition(4).write.parquet(churn)
      graft.sources.FileStats.build(spark, churn, cols = Nil, kmvCols = Seq("g"))

      def q(path: String) = spark.read.parquet(path)
        .selectExpr("g", "t", "v",
          "row_number() OVER (PARTITION BY g ORDER BY t, v) AS rn")
        .where(col("rn") <= 3)

      val leadPlan = q(lead).queryExecution.executedPlan.toString
      assert(!leadPlan.contains("Window") &&
        leadPlan.contains("partial_collect_top_k"),
        s"leaderboard regime must keep the heap:\n$leadPlan")
      val churnPlan = q(churn).queryExecution.executedPlan.toString
      assert(churnPlan.contains("Window"),
        s"groups≈rows must keep the codegen'd window sort:\n$churnPlan")
      // the gate changes PLANS only — both regimes' rows match rule-off
      val churnRows = q(churn).collect().map(_.toSeq).toSet
      val leadRows = q(lead).collect().map(_.toSeq).toSet
      val (churnOff, leadOff) = withRuleOff(
        (q(churn).collect().map(_.toSeq).toSet,
          q(lead).collect().map(_.toSeq).toSet))
      assert(churnRows == churnOff && leadRows == leadOff)
      // the same churn data without a sidecar: the unconditional
      // rewrite returns
      val churnBare = s"$root/churn_bare"
      (0 until 4000).map(i => (i.toLong, i.toLong % 7, i.toDouble))
        .toDF("g", "t", "v").repartition(4).write.parquet(churnBare)
      assert(!q(churnBare).queryExecution.executedPlan.toString.contains("Window"),
        "a churn table without a sidecar must get the unconditional rewrite")
      // a table WITHOUT a sidecar keeps default-ON (unknown ≠ gated)
      val bare = s"$root/bare"
      (0 until 100).map(i => (i.toLong, i.toLong, i.toDouble))
        .toDF("g", "t", "v").write.parquet(bare)
      assert(!q(bare).queryExecution.executedPlan.toString.contains("Window"))
    } finally graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("stats-cache keys on the sidecar LISTING: a rewrite inside one dir-mtime tick still flips the gate") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val root = Scratch.tempDir("graft_topk_sig")
    try {
      val t = s"$root/t"
      // churn regime first: near-unique key → the gate keeps the Window
      (0 until 4000).map(i => (i.toLong, i.toLong % 7, i.toDouble))
        .toDF("g", "t", "v").repartition(4).write.parquet(t)
      graft.sources.FileStats.build(spark, t, cols = Nil, kmvCols = Seq("g"))
      def q() = spark.read.parquet(t)
        .selectExpr("g", "t", "v",
          "row_number() OVER (PARTITION BY g ORDER BY t, v) AS rn")
        .where(col("rn") <= 3)
      assert(q().queryExecution.executedPlan.toString.contains("Window"),
        "churn sidecar must gate the rewrite off (and warm the cache)")
      val statsDir = java.nio.file.Paths.get(
        graft.sources.FileStats.statsPath(t))
      val m0 = java.nio.file.Files.getLastModifiedTime(statsDir)
      // rewrite the data to the leaderboard regime, rebuild the
      // sidecar, then PIN the sidecar directory's mtime back to the
      // first observation — the same-tick rewrite (local FS) and the
      // synthetic-mtime case (object stores) a directory-mtime cache
      // key cannot distinguish from "unchanged"
      (0 until 4000).map(i => (i.toLong % 8, i.toLong, i.toDouble))
        .toDF("g", "t", "v").repartition(4)
        .write.mode("overwrite").parquet(t)
      graft.sources.FileStats.build(spark, t, cols = Nil, kmvCols = Seq("g"))
      java.nio.file.Files.setLastModifiedTime(statsDir, m0)
      val plan = q().queryExecution.executedPlan.toString
      assert(!plan.contains("Window") && plan.contains("partial_collect_top_k"),
        s"a sidecar rewrite inside one dir-mtime tick must flip the gate:\n$plan")
    } finally graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("stats gate reaches GraftCatalog-served tables (DSv2 scan, live version sidecar)") {
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.functions.col
    val root = Scratch.tempDir("graft_topk_cat")
    try {
      // churn regime published through the catalog protocol, stats on
      // the LIVE version dir (where maintenance builds them)
      val tdir = s"$root/churn"
      graft.sources.Publish.publish(
        (0 until 4000).map(i => (i.toLong, i.toLong % 7, i.toDouble))
          .toDF("g", "t", "v"), tdir): Unit
      val live = graft.sources.Publish.currentVersion(tdir).get
      graft.sources.FileStats.build(spark, s"$tdir/v=$live",
        cols = Nil, kmvCols = Seq("g"))
      val cat = s"gtopk${System.nanoTime() % 1000}"
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.root", root)
      val sql =
        s"""SELECT g, t, v, rn FROM (
           |  SELECT *, row_number() OVER (PARTITION BY g ORDER BY t, v) AS rn
           |  FROM $cat.churn) WHERE rn <= 3""".stripMargin
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(plan.contains("Window"),
        s"the catalog-served churn table must keep the window sort:\n$plan")
      // …and the gate is the reason: the same data published without
      // a sidecar gets the heap
      graft.sources.Publish.publish(
        (0 until 4000).map(i => (i.toLong, i.toLong % 7, i.toDouble))
          .toDF("g", "t", "v"), s"$root/churn_bare"): Unit
      assert(!spark.sql(sql.replace(s"$cat.churn", s"$cat.churn_bare"))
        .queryExecution.executedPlan.toString.contains("Window"))
    } finally graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
