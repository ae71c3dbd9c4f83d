package graft

import java.sql.Date
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SortExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Profits

/** q10 (operators.Profits): the per-(asset, wallet) pass that runs
  * steps 3-6 against the window/union chain it replaced, on hostile
  * pairs and on the sf0.001 flagship input; and the plan shape the
  * pass buys q10. */
class ProfitsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The removed steps 1-6, verbatim: persisted merge, imputation
    * branch, union, and the row_number / inflow / lag / cumsum windows. */
  private def windowChain(transfers: DataFrame, prices: DataFrame): DataFrame = {
    val firstPrices = prices
      .groupBy("asset")
      .agg(
        min("date").as("first_price_date"),
        min_by(col("price"), col("date")).as("first_price"))

    val withFirst = transfers
      .join(prices, Seq("asset", "date"), "left")
      .join(broadcast(firstPrices), Seq("asset"), "left")
      .transform(graft.CacheScope.persisted(_))

    val wPair = Window.partitionBy("asset", "wallet")
    val wDesc = Window.partitionBy("asset", "wallet").orderBy(col("date").desc)
    val imputed = withFirst
      .withColumn(
        "__active_fpd",
        max(when(col("date") === col("first_price_date"), 1).otherwise(0)).over(wPair))
      .where(col("date") < col("first_price_date") && col("__active_fpd") === 0)
      .withColumn("__rn", row_number().over(wDesc))
      .where(col("__rn") === 1)
      .select(
        col("asset"),
        col("wallet"),
        col("first_price_date").as("date"),
        col("balance").as("net_transfers"),
        col("balance"),
        col("first_price").as("price"))

    val priced = withFirst
      .where(col("price").isNotNull)
      .select("asset", "wallet", "date", "net_transfers", "balance", "price")
    val combined = priced.unionByName(imputed)

    val wAsc = Window.partitionBy("asset", "wallet").orderBy("date")
    val rebased = combined
      .withColumn("__rn", row_number().over(wAsc))
      .withColumn(
        "net_transfers",
        when(col("__rn") === 1, col("balance")).otherwise(col("net_transfers")))
      .drop("__rn")

    val preInflowFiltered = rebased
      .withColumn(
        "__inflows_cum",
        sum(greatest(col("net_transfers"), lit(0.0))).over(wAsc))
      .where(col("__inflows_cum") > 0)
      .drop("__inflows_cum")

    val prevPrice   = coalesce(lag("price", 1).over(wAsc), col("price"))
    val prevBalance = coalesce(lag("balance", 1).over(wAsc), lit(0.0))

    preInflowFiltered
      .withColumn("profits_change", (col("price") - prevPrice) * prevBalance)
      .withColumn("profits_cumulative", sum("profits_change").over(wAsc))
      .withColumn("usd_balance", col("balance") * col("price"))
      .withColumn("usd_net_transfers", col("net_transfers") * col("price"))
      .withColumn(
        "usd_inflows",
        when(col("usd_net_transfers") > 0, col("usd_net_transfers")).otherwise(lit(0.0)))
      .withColumn("usd_inflows_cumulative", sum("usd_inflows").over(wAsc))
      .select(
        col("asset"),
        col("wallet"),
        col("date"),
        round(col("profits_change"), 6).as("profits_change"),
        round(col("profits_cumulative"), 6).as("profits_cumulative"),
        round(col("usd_balance"), 6).as("usd_balance"),
        round(col("usd_net_transfers"), 6).as("usd_net_transfers"),
        round(col("usd_inflows"), 6).as("usd_inflows"),
        round(col("usd_inflows_cumulative"), 6).as("usd_inflows_cumulative"))
  }

  /** Rows as a multiset, doubles by their bits (-0.0 ≠ 0.0, NaN = NaN). */
  private def bag(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }).groupBy(identity).map { case (k, v) => k -> v.size }

  private def assertSameAsChain(transfers: DataFrame, prices: DataFrame): Map[Seq[Any], Int] = {
    try {
      val got = bag(Profits.walletProfits(transfers, prices))
      val want = bag(windowChain(transfers, prices))
      assert(got == want,
        s"pass-only=${got.keySet.diff(want.keySet).take(5)} chain-only=${want.keySet.diff(got.keySet).take(5)}")
      got
    } finally CacheScope.releaseAll(spark)
  }

  private val day0 = LocalDate.of(2024, 1, 1)
  private def d(i: Int): Date = Date.valueOf(day0.plusDays(i))

  private val transferSchema = StructType(Seq(
    StructField("asset", StringType), StructField("wallet", LongType),
    StructField("date", DateType), StructField("net_transfers", DoubleType),
    StructField("balance", DoubleType)))
  private val priceSchema = StructType(Seq(
    StructField("asset", StringType), StructField("date", DateType),
    StructField("price", DoubleType)))

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  test("per-pair kernel ≡ the window/union chain") {
    val NaN = Double.NaN
    def t(a: String, w: java.lang.Long, day: Integer, net: java.lang.Double,
        bal: java.lang.Double): Row =
      Row(a, w, if (day == null) null else d(day), net, bal)

    val transfers = Seq(
      // "a" is priced from day 10, with no price on days ≡ 6 (mod 7)
      // 1: pre-price history, no row on day 10 → day 5's balance imputed
      t("a", 1L, 3, 4.0, 4.0), t("a", 1L, 5, 2.0, 6.0),
      t("a", 1L, 12, -1.0, 5.0), t("a", 1L, 15, 3.0, 8.0),
      // 2: pre-price history AND a row on day 10 → no imputation
      t("a", 2L, 4, 7.0, 7.0), t("a", 2L, 10, 1.0, 8.0), t("a", 2L, 11, -8.0, 0.0),
      // 3: only pre-price history → the imputed row alone
      t("a", 3L, 1, 2.5, 2.5), t("a", 3L, 2, 1.5, 4.0),
      // 4: a null date, a null net_transfers, a null balance
      t("a", 4L, null, 9.0, 9.0), t("a", 4L, 11, null, 3.0), t("a", 4L, 12, 2.0, null),
      t("a", 4L, 13, 1.0, 6.0), t("a", 4L, 17, 3.0, 2.0), t("a", 4L, 18, null, null),
      // 5: negative-first prefix the inflow filter drops
      t("a", 5L, 11, -3.0, -3.0), t("a", 5L, 12, -2.0, -5.0), t("a", 5L, 13, 0.0, -5.0),
      t("a", 5L, 14, 6.0, 1.0), t("a", 5L, 15, -1.0, 0.0), t("a", 5L, 16, 2.0, 2.0),
      // 6: -0.0 amounts (no inflow), then a NaN inflow (greatest: kept)
      t("a", 6L, 11, -0.0, -0.0), t("a", 6L, 12, -0.0, 0.0), t("a", 6L, 14, NaN, 1.0),
      t("a", 6L, 15, -5.0, NaN), t("a", 6L, 16, 1.0, 2.0),
      // 7: a pre-price row with a null balance → imputed null balance
      t("a", 7L, 2, 1.0, null), t("a", 7L, 11, 1.0, 2.0),
      // 8: a row only on a price-less day, then priced rows
      t("a", 8L, 13, 5.0, 5.0), t("a", 8L, 14, 1.0, 6.0),
      // null wallet is a pair of its own
      t("a", null, 5, 1.0, 1.0), t("a", null, 19, 1.0, 2.0),
      // "b" has no prices at all
      t("b", 1L, 1, 5.0, 5.0), t("b", 1L, 20, 1.0, 6.0),
      // "c": its first price is null; price NaN and -0.0 on later days
      t("c", 1L, 1, 3.0, 3.0), t("c", 1L, 11, 1.0, 4.0), t("c", 1L, 12, 1.0, 5.0),
      t("c", 1L, 13, 2.0, 7.0), t("c", 1L, 14, -0.0, 7.0),
      t("c", 2L, 10, 3.0, 3.0), t("c", 2L, 12, 1.0, 4.0),
      // null asset
      t(null, 1L, 12, 1.0, 1.0)) ++
      // 9: one pair with 10,000 rows
      (0 until 10000).map(i => t("a", 9L, 10 + i, if (i % 5 == 4) -1.0 else 1.0, i + 1.0))

    val prices =
      (10 until 10020).filter(_ % 7 != 6).map(i => Row("a", d(i), 1.0 + (i % 13) * 0.37)) ++
        Seq(Row("c", d(10), null), Row("c", d(11), 2.0), Row("c", d(12), NaN),
          Row("c", d(13), -0.0), Row("c", d(14), 3.0))

    val got = assertSameAsChain(frame(transfers, transferSchema), frame(prices, priceSchema))

    // the cases above really happen, not just agree
    val byPair = got.keys.groupBy(k => (k(0), k(1)))
    def dates(a: String, w: java.lang.Long): Set[Any] =
      byPair.getOrElse((a, w), Nil).map(_(2)).toSet
    assert(dates("a", 1L) == Set(d(10), d(12), d(15)), "imputed on the first price date")
    assert(dates("a", 2L) == Set(d(10), d(11)), "a row on the first price date: no imputation")
    assert(dates("a", 3L) == Set(d(10)), "only pre-price history: the imputed row")
    assert(dates("a", 5L) == Set(d(14), d(15), d(16)), "negative prefix dropped")
    assert(dates("a", 6L) == Set(d(14), d(15), d(16)), "-0.0 is no inflow; NaN is one")
    assert(!byPair.keys.exists(_._1 == "b"), "an asset with no prices yields nothing")
    assert(dates("c", 1L).contains(d(10)), "imputed with a null first price")
    assert(got.filter(_._1.take(2) == Seq("a", 9L)).values.sum ==
      (10 until 10010).count(_ % 7 != 6), "the long pair keeps every priced row")
  }

  test("per-pair kernel ≡ the window/union chain on the flagship input") {
    assertSameAsChain(
      Tables.transfersWithBalance(spark, SfDir).drop("transfer_sequence"),
      Tables.prices(spark, SfDir))
  }

  test("q10's plan: one (asset, wallet) exchange, no cache, union or extra window") {
    val pendingBefore = CacheScope.pending(spark)
    val q10 = SparkEntry.q10WalletProfits(spark, SfDir)
    q10.collect()
    val plan = q10.queryExecution.executedPlan
    def names(es: Seq[Expression]) =
      es.map { case a: Attribute => a.name; case e => e.sql }
    val pairExchanges = collectWithSubqueries(plan) {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }.collect { case h: HashPartitioning if names(h.expressions) == Seq("asset", "wallet") => h }
    assert(pairExchanges.size == 1, s"one hashpartitioning(asset, wallet) exchange:\n$plan")
    assert(collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.isEmpty,
      s"no InMemoryRelation:\n$plan")
    assert(collectWithSubqueries(plan) { case u: UnionExec => u }.isEmpty, s"no Union:\n$plan")
    val windows = collectWithSubqueries(plan) { case w: WindowExec => w }
    assert(windows.size == 1, s"only the balance window:\n$plan")
    assert(names(windows.head.partitionSpec) == Seq("asset", "wallet"))
    assert(windows.head.windowExpression.map(_.toAttribute.name).contains("balance"),
      s"only the balance window:\n$plan")
    assert(collectWithSubqueries(plan) { case s: SortExec => s }.size == 1,
      s"only the balance window's sort:\n$plan")
    assert(CacheScope.pending(spark) == pendingBefore, "walletProfits registers no cache")
  }
}
