package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Flagship operator: wallet-level profitability.
  *
  * Re-expresses the reference's core_coin_wallet_profits pipeline
  * (core_coin_wallet_profits.py:235-634) — which runs per-batch in
  * pandas with manual memory management — as one Spark plan over the
  * full dataset:
  *
  *   1. left-join daily transfers × daily prices        (merge_prices_and_transfers)
  *   2. attach each asset's first price date/value      (add_first_price_info)
  *   3. impute a synthetic transfer-in on the first
  *      price date for wallets whose history predates
  *      price coverage                                  (create_imputed_records)
  *   4. rewrite each pair's earliest record to a full
  *      balance transfer-in, drop pre-price rows        (append_imputed_records)
  *   5. drop rows before the first positive inflow      (filter_pre_inflow_records)
  *   6. lag/cumsum profit math                          (calculate_wallet_profitability)
  *
  * Steps 1-2 are SQL joins; steps 3-6 are ONE forward pass per
  * (asset, wallet) over its date-sorted rows ([[PairPass]]), run
  * through `flatMapSortedGroups`; the final `round(…, 6)` is SQL again.
  *
  * Scale notes: both price joins are broadcast (per-asset daily prices
  * and a per-asset aggregate), so the fact side is never shuffled for
  * them and keeps its (asset, wallet) clustering and date order. The
  * pass needs exactly that clustering and order. The running-balance
  * window upstream of q10 provides both, so q10 adds no Exchange and
  * no Sort; a table bucketed on (asset, wallet) (q44) provides the
  * clustering, so it adds only a per-bucket Sort. Each pair holds only
  * a few rows at realistic scale: a window chain pays its frame setup
  * once per pair per window, while the pass keeps a constant amount of
  * state per pair and buffers no rows, so a heavy pair streams too.
  * Nothing is persisted; no driver-side batching.
  */
object Profits {

  /** @param transfers (asset, wallet, date, net_transfers, balance),
    *                  at most one row per (asset, wallet, date) —
    *                  the grain the reference's daily transfers table
    *                  has and the result is defined on (precondition)
    * @param prices    (asset, date, price), at most one row per
    *                  (asset, date)
    * @return per (asset, wallet, date): profits_change,
    *         profits_cumulative, usd_balance, usd_net_transfers,
    *         usd_inflows, usd_inflows_cumulative
    */
  def walletProfits(transfers: DataFrame, prices: DataFrame): DataFrame = {
    // ---- step 2 first: first price info per asset — ONE aggregation
    //      (min_by), no self-join, broadcast-size result
    val firstPrices = prices
      .groupBy("asset")
      .agg(
        min("date").as("first_price_date"),
        min_by(col("price"), col("date")).as("first_price"))

    // ---- step 1: merge. Both sides broadcast, so the transfers side
    //      keeps the (asset, wallet) clustering and date order the pass
    //      below requires; column order fixes PairPass's ordinals.
    val withFirst = transfers
      .join(broadcast(prices), Seq("asset", "date"), "left")
      .join(broadcast(firstPrices), Seq("asset"), "left")
      .select(
        col("asset"), col("wallet"), col("date"),
        col("net_transfers").cast(DoubleType).as("net_transfers"),
        col("balance").cast(DoubleType).as("balance"),
        col("price").cast(DoubleType).as("price"),
        col("first_price_date"),
        col("first_price").cast(DoubleType).as("first_price"))

    // ---- steps 3-6: one forward pass per (asset, wallet)
    val inSchema = withFirst.schema
    val outSchema = StructType(inSchema.fields.take(3) ++ PairPass.Outputs.map(
      StructField(_, DoubleType, nullable = true)))
    val profits = withFirst
      .groupBy("asset", "wallet")
      .as[Row, Row](Encoders.row(StructType(inSchema.fields.take(2))), Encoders.row(inSchema))
      .flatMapSortedGroups(col("date"))((_: Row, rows: Iterator[Row]) => new PairPass(rows))(
        Encoders.row(outSchema))
      .toDF()

    profits.select(
      (col("asset") +: col("wallet") +: col("date") +:
        PairPass.Outputs.map(c => round(col(c), 6).as(c))): _*)
  }

  /** Steps 3-6 over one (asset, wallet) pair's rows, sorted by date
    * ascending (nulls first), reproducing the window/union formulation
    * this replaced:
    *
    *   - rows with a null date or first price date are dropped, and
    *     so are rows on or after the first price date with no price;
    *   - rows before the first price date only feed imputation: if the
    *     pair has no row ON the first price date, the latest of them
    *     becomes (first_price_date, net = balance, balance,
    *     first_price), emitted ahead of every priced row;
    *   - the first emitted row's net_transfers becomes its balance;
    *   - a row is kept while the running sum of greatest(net, 0.0) is
    *     > 0 (SQL ordering: NaN is greatest, -0.0 equals 0.0);
    *   - lag(price)/lag(balance) read the previous KEPT row, with the
    *     window's coalesce fallbacks (current price, 0.0);
    *   - running sums skip nulls, stay null until their first non-null
    *     term and add in date order from 0.0 — Spark's Sum — so the
    *     results are bit-identical to the window functions'.
    *
    * Input ordinals follow [[walletProfits]]'s select. State is a
    * constant number of fields; at most one input row is held, behind
    * the imputed record. Dates are compared through their external
    * type (java.sql.Date or java.time.LocalDate, both Comparable).
    */
  private[operators] final class PairPass(rows: Iterator[Row]) extends Iterator[Row] {
    import PairPass._

    private var out: Row = null
    // a priced row queued behind the imputed record it triggered
    private var held: Row = null
    // the latest row before the first price date: its balance imputes
    private var lastPre: Row = null
    // a row on/after the first price date has been seen: imputation decided
    private var settled = false

    private var emitted = false
    private var inflows = 0.0
    private var prevPrice: java.lang.Double = null
    private var prevBalance: java.lang.Double = null
    private var profitsCum: java.lang.Double = null
    private var usdInflowsCum: java.lang.Double = null

    def hasNext: Boolean = {
      while (out == null && advance()) {}
      out != null
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("PairPass exhausted")
      val r = out
      out = null
      r
    }

    /** Consumes the held row, one input row or the end of input; false
      * once nothing is left. */
    private def advance(): Boolean = {
      if (held != null) {
        out = emitPriced(held)
        held = null
        true
      } else if (rows.hasNext) {
        val r = rows.next()
        if (!r.isNullAt(DATE) && !r.isNullAt(FPD)) {
          val cmp = r.get(DATE).asInstanceOf[Comparable[Any]].compareTo(r.get(FPD))
          if (cmp < 0) lastPre = r
          else {
            if (!settled) {
              settled = true
              if (cmp > 0 && lastPre != null) out = emitImputed()
            }
            if (!r.isNullAt(PRICE)) {
              if (out == null) out = emitPriced(r) else held = r
            }
          }
        }
        true
      } else if (!settled && lastPre != null) {
        settled = true
        out = emitImputed()
        true
      } else false
    }

    private def emitPriced(r: Row): Row =
      emit(r, r.get(DATE), nullableDouble(r, NET), nullableDouble(r, BALANCE),
        nullableDouble(r, PRICE))

    private def emitImputed(): Row = {
      val balance = nullableDouble(lastPre, BALANCE)
      emit(lastPre, lastPre.get(FPD), balance, balance, nullableDouble(lastPre, FIRST_PRICE))
    }

    /** Rebase, inflow filter and profit math for one emitted row;
      * null when the inflow filter drops it. */
    private def emit(r: Row, date: Any, net0: java.lang.Double,
        balance: java.lang.Double, price: java.lang.Double): Row = {
      val net = if (!emitted) balance else net0
      emitted = true
      // greatest(net, 0.0): null → 0.0; NaN and -0.0 stay
      inflows += (if (net == null || net < 0.0) 0.0 else net.doubleValue)
      if (!(inflows > 0.0 || inflows.isNaN)) return null

      val profitsChange: java.lang.Double =
        if (price == null) null
        else {
          val p = price.doubleValue
          val lagP = if (prevPrice == null) p else prevPrice.doubleValue
          val lagB = if (prevBalance == null) 0.0 else prevBalance.doubleValue
          (p - lagP) * lagB
        }
      if (profitsChange != null) profitsCum = plus(profitsCum, profitsChange)
      val usdBalance = times(balance, price)
      val usdNet = times(net, price)
      val usdInflows: java.lang.Double =
        if (usdNet != null && (usdNet > 0.0 || usdNet.isNaN)) usdNet else 0.0
      usdInflowsCum = plus(usdInflowsCum, usdInflows)
      prevPrice = price
      prevBalance = balance
      Row(r.get(ASSET), r.get(WALLET), date,
        profitsChange, profitsCum, usdBalance, usdNet, usdInflows, usdInflowsCum)
    }
  }

  private[operators] object PairPass {
    val ASSET = 0; val WALLET = 1; val DATE = 2; val NET = 3; val BALANCE = 4
    val PRICE = 5; val FPD = 6; val FIRST_PRICE = 7

    val Outputs: Seq[String] = Seq("profits_change", "profits_cumulative", "usd_balance",
      "usd_net_transfers", "usd_inflows", "usd_inflows_cumulative")

    private def nullableDouble(r: Row, i: Int): java.lang.Double =
      if (r.isNullAt(i)) null else r.getDouble(i)

    private def times(a: java.lang.Double, b: java.lang.Double): java.lang.Double =
      if (a == null || b == null) null else a.doubleValue * b.doubleValue

    /** Spark's Sum update for a non-null term: coalesce(sum, 0.0) + x. */
    private def plus(sum: java.lang.Double, x: java.lang.Double): java.lang.Double =
      (if (sum == null) 0.0 else sum.doubleValue) + x.doubleValue
  }
}
