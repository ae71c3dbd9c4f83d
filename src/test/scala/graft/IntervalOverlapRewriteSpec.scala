package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The injected optimizer rule (plans/IntervalOverlapRewrite): a raw
  * interval-overlap theta join must produce IDENTICAL rows with the
  * rule on and off — including empty, null-bound, and mega-span
  * intervals routed through the compensation branches — while the
  * rewritten physical plan gains an equi join where vanilla Spark has
  * only BroadcastNestedLoop. */
class IntervalOverlapRewriteSpec extends SparkSpec {

  // planted interval panels: mostly short valid intervals, plus the
  // adversarial tail the compensation branches exist for
  private def leftPanel: DataFrame = {
    val sess = spark
    import sess.implicits._
    val shorts = (0L until 600L).map(i => (i, i * 7 % 5000, i * 7 % 5000 + i % 40))
    val weird = Seq(
      (9001L, 50L, 20L),                      // empty: lo > hi
      (9002L, 4000L, 4000L),                  // degenerate point
      (9003L, 0L, 1000000L))                  // mega-span
    (shorts ++ weird).toDF("l_id", "l_lo", "l_hi")
  }

  private def rightPanel: DataFrame = {
    val sess = spark
    import sess.implicits._
    val shorts = (0L until 500L).map(i => (i + 100000L, i * 11 % 5000, i * 11 % 5000 + i % 25))
    val weird = Seq((200001L, 900L, 100L), (200002L, 2500L, 2500L))
    val df = (shorts ++ weird).toDF("r_id", "r_lo", "r_hi")
    // null bounds: the original theta join drops them (null condition)
    df.unionByName(Seq((300001L, None: Option[Long], Some(10L)))
      .toDF("r_id", "r_lo", "r_hi"))
  }

  private def overlapJoin(): DataFrame =
    leftPanel.join(rightPanel,
      col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))

  private def withRuleOff[A](body: => A): A =
    withoutRule(classOf[graft.plans.IntervalOverlapRewrite])(body)

  private def rowsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("l_id", "r_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("rewrite on ≡ rewrite off, including empty/null/mega intervals") {
    val vanilla = withRuleOff(rowsOf(overlapJoin()))
    val rewritten = rowsOf(overlapJoin())
    assert(vanilla.nonEmpty, "planted panels produced no overlaps")
    assert(rewritten == vanilla,
      s"rule changed results: only-vanilla=${(vanilla -- rewritten).take(5)} " +
        s"only-rewritten=${(rewritten -- vanilla).take(5)}")
    // the adversarial rows do real work: the empty interval matches
    // nothing, the mega-span matches nearly everything
    assert(!vanilla.exists(_._1 == 9001L))
    assert(vanilla.count(_._1 == 9003L) > 400)
  }

  test("the rewritten plan joins on an equi key instead of pure nested-loop") {
    val vanillaPlan = withRuleOff(overlapJoin().queryExecution.executedPlan.toString)
    val rewrittenPlan = overlapJoin().queryExecution.executedPlan.toString
    assert(vanillaPlan.contains("BroadcastNestedLoopJoin"))
    assert(!vanillaPlan.contains("SortMergeJoin") && !vanillaPlan.contains("BroadcastHashJoin"))
    assert(rewrittenPlan.contains("SortMergeJoin") || rewrittenPlan.contains("BroadcastHashJoin"),
      s"no equi join in the rewritten plan:\n$rewrittenPlan")
  }

  test("an equi conjunct disables the rewrite (hash join already handles it)") {
    val sess = spark
    import sess.implicits._
    val l = Seq((1L, 0L, 10L), (2L, 5L, 6L)).toDF("l_k", "l_lo", "l_hi")
    val r = Seq((1L, 3L, 20L), (2L, 100L, 200L)).toDF("r_k", "r_lo", "r_hi")
    val j = l.join(r, col("l_k") === col("r_k") &&
      col("l_lo") <= col("r_hi") && col("r_lo") <= col("l_hi"))
    // eligible-looking bounds, but the equi key must win: plan keeps
    // ONE ordinary equi join, no bin plumbing
    val plan = j.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__bin"), s"rule fired despite an equi key:\n$plan")
    assert(j.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("point-in-interval shape (shared bound attribute) rewrites too") {
    val sess = spark
    import sess.implicits._
    val points = (0L until 2000L).map(i => (i, i * 13 % 9000)).toDF("p_id", "p")
    val ivals = (0L until 300L).map(i => (i + 50000L, i * 31 % 9000, i * 31 % 9000 + i % 50))
      .toDF("i_id", "i_lo", "i_hi")
    def joined() = points.join(ivals, col("i_lo") <= col("p") && col("p") <= col("i_hi"))
    val vanilla = withRuleOff(
      joined().select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val rewritten = joined().select("p_id", "i_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(vanilla.nonEmpty && rewritten == vanilla)
    assert(joined().queryExecution.executedPlan.toString.contains("Join"))
  }
}
