package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Largest-remainder (Hamilton) APPORTIONMENT — split an integer
  * budget across keys proportionally to integer weights, exactly:
  * every key gets floor(budget · w / W), and the seats the floors
  * left unfilled go one each to the largest remainders (ties on
  * remainder break by key ASC — deterministic, so the result is
  * oracle-checkable). The targets sum to the budget EXACTLY by
  * construction — the property float rounding cannot give and the
  * reason mixture budgeting needs apportionment, not multiplication.
  *
  * The input is a BOUNDED key-grain relation (languages, domains,
  * sources — the caller aggregates the corpus first), so the rank
  * and total windows run over k rows — the documented k-row
  * exception to the no-global-window rule; the corpus never passes
  * through this operator. */
object Apportion {

  /** @param weightCol non-negative integral weights (a zero-weight
    *   key receives only remainder seats, i.e. normally 0). The
    *   exact-sum property requires at least one POSITIVE weight —
    *   with every weight zero there is no proportion to follow and
    *   each key receives at most one remainder seat.
    * @return input columns + `outCol` (the key's integer share;
    *   Σ outCol = budget exactly when Σ weights > 0) */
  def largestRemainder(
      df: DataFrame,
      keyCol: String,
      weightCol: String,
      budget: Long,
      outCol: String = "target"): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    // NB: Spark resolves column names case-INSENSITIVELY — the weight
    // and its total need names that differ beyond case.
    // __num = w · budget is computed in decimal(38,0), NOT long: at
    // corpus scale (word counts ~1e13 × token budgets ~1e12) the long
    // product wraps silently under non-ANSI Spark and the wrong
    // apportionment would still pass a sum-to-budget check. decimal
    // `div`/`%` by the long total floor-divide exactly (operands
    // non-negative), and __base/__rem fit back in long by
    // construction (__base ≤ budget, __rem < __wtot). The documented
    // non-negativity contract is ENFORCED per row (assert_true rides
    // the same projection — no extra pass): a negative weight would
    // otherwise skew every other key's share with no visible error.
    // The grand totals (Σw, Σbase) ride 1-row aggregates broadcast
    // back onto the key grain, NOT unpartitioned windows: same values,
    // but map-side partial aggregation replaces the move-everything-
    // to-one-partition WindowExec (and its warning — which this repo
    // treats as a real defect signal, see QueriesSpec).
    val weighted = df
      .withColumn("__w", col(weightCol).cast("long"))
      .withColumn("__w", when(assert_true(col("__w") >= 0,
        lit(s"Apportion.largestRemainder: negative weight in $weightCol"))
        .isNull, col("__w")))
    val wtot = weighted.agg(greatest(
      coalesce(sum(col("__w")), lit(0L)), lit(1L)).as("__wtot"))
    val withTotals = weighted
      .crossJoin(broadcast(wtot))
      .withColumn("__num", col("__w").cast("decimal(38,0)") * lit(budget))
      .withColumn("__base", expr("CAST(__num div __wtot AS BIGINT)"))
      .withColumn("__rem", expr("CAST(__num % __wtot AS BIGINT)"))
    val seatsLeft = withTotals.agg(
      (lit(budget) - coalesce(sum(col("__base")), lit(0L))).as("__left"))
    // the remainder rank stays a window — but over the BOUNDED key
    // grain only (languages/domains/sources; the caller aggregated
    // the corpus first), the documented k-row exception pinned in
    // QueriesSpec's allowlist
    val ranked = withTotals
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__rem").desc, col(keyCol).asc)).cast("long"))
      .crossJoin(broadcast(seatsLeft))
    ranked
      .withColumn(outCol,
        col("__base") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
      .drop("__w", "__wtot", "__num", "__base", "__rem", "__rk", "__left")
  }
}
