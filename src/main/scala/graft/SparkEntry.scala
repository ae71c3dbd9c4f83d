package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.operators._
import graft.similarity.{Ann, Dedup, Overlap, Pq}
import graft.text.TextOps
import graft.multimodal.Multimodal
import graft.sources.{Ingest, LayoutAdvisor}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every query key has a DuckDB oracle in [[SparkEntry.oracleSql]] with
  * IDENTICAL output column names; float outputs are rounded on both
  * sides. The shared events→transfers/prices mapping lives in
  * [[Tables]] and is restated as CTEs inside each oracle.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q10WalletProfits(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------
  // shared oracle CTEs (events → transfers/prices mapping)
  // ---------------------------------------------------------------
  /** The PQ training loop (q115/q116 oracles): stride-seeded init +
    * TWO Lloyd rounds, each an assign/update CTE block — the full
    * iterative algorithm re-derived by DuckDB (the q84 chained-CTE
    * posture applied to k-means). */
  private val pqTrainingCte =
    """v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings
      |),
      |sv AS (
      |  SELECT vec_id, CAST(g.s AS INT) AS sub,
      |    e[g.s*8+1 : g.s*8+8] AS subvec
      |  FROM v, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS s) g
      |),
      |seeds AS (
      |  SELECT vec_id, CAST(rk - 1 AS INT) AS code FROM (
      |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
      |    FROM embeddings)
      |  WHERE rk <= 16
      |),
      |cb0 AS (
      |  SELECT sub, code, list_transform(subvec, x -> round(x, 6)) AS cvec
      |  FROM sv JOIN seeds USING (vec_id)
      |),
      |sc0 AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |    round(list_dot_product(s.subvec, s.subvec)
      |      - 2.0 * list_dot_product(s.subvec, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec), 6) AS d
      |  FROM sv s JOIN cb0 c USING (sub)
      |),
      |as0 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
      |    FROM sc0) WHERE rk = 1
      |),
      |up0 AS (
      |  SELECT a.sub, a.code, g.i AS pos, round(AVG(s.subvec[g.i]), 6) AS c
      |  FROM as0 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub,
      |    LATERAL (SELECT UNNEST(generate_series(1, 8)) AS i) g
      |  GROUP BY 1, 2, 3
      |),
      |uv0 AS (SELECT sub, code, list(c ORDER BY pos) AS newvec FROM up0 GROUP BY 1, 2),
      |cb1 AS (
      |  SELECT c.sub, c.code, COALESCE(u.newvec, c.cvec) AS cvec
      |  FROM cb0 c LEFT JOIN uv0 u USING (sub, code)
      |),
      |sc1 AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |    round(list_dot_product(s.subvec, s.subvec)
      |      - 2.0 * list_dot_product(s.subvec, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec), 6) AS d
      |  FROM sv s JOIN cb1 c USING (sub)
      |),
      |as1 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
      |    FROM sc1) WHERE rk = 1
      |),
      |up1 AS (
      |  SELECT a.sub, a.code, g.i AS pos, round(AVG(s.subvec[g.i]), 6) AS c
      |  FROM as1 a JOIN sv s ON s.vec_id = a.vec_id AND s.sub = a.sub,
      |    LATERAL (SELECT UNNEST(generate_series(1, 8)) AS i) g
      |  GROUP BY 1, 2, 3
      |),
      |uv1 AS (SELECT sub, code, list(c ORDER BY pos) AS newvec FROM up1 GROUP BY 1, 2),
      |cb2 AS (
      |  SELECT c.sub, c.code, COALESCE(u.newvec, c.cvec) AS cvec
      |  FROM cb1 c LEFT JOIN uv1 u USING (sub, code)
      |)""".stripMargin

  /** Parametric form of [[pqTrainingCte]]'s Lloyd chain for oracles
    * that train on a DERIVED vector relation (q122 trains the fine
    * codebook on coarse-cell RESIDUALS): emits `{p}sv`, `{p}seeds`,
    * `{p}cb0..cb2` over `src(vec_id, e)` with the exact same
    * arithmetic (stride seeds, round-6 init and updates, argmin on
    * (round(d,6), code), empty cells keep their centroid). */
  private def pqTrainCteGen(p: String, src: String, m: Int, dsub: Int, k: Int): String = {
    def dist(s: String, c: String) =
      s"round(list_dot_product($s, $s) - 2.0 * list_dot_product($s, $c)" +
        s" + list_dot_product($c, $c), 6)"
    val rounds = (0 until 2).map { i =>
      s"""${p}sc$i AS (
         |  SELECT s.vec_id, s.sub, c.code, ${dist("s.subvec", "c.cvec")} AS d
         |  FROM ${p}sv s JOIN ${p}cb$i c USING (sub)
         |),
         |${p}as$i AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
         |    FROM ${p}sc$i) WHERE rk = 1
         |),
         |${p}up$i AS (
         |  SELECT a.sub, a.code, g.i AS pos, round(AVG(s.subvec[g.i]), 6) AS c
         |  FROM ${p}as$i a JOIN ${p}sv s ON s.vec_id = a.vec_id AND s.sub = a.sub,
         |    LATERAL (SELECT UNNEST(generate_series(1, $dsub)) AS i) g
         |  GROUP BY 1, 2, 3
         |),
         |${p}uv$i AS (
         |  SELECT sub, code, list(c ORDER BY pos) AS newvec FROM ${p}up$i GROUP BY 1, 2
         |),
         |${p}cb${i + 1} AS (
         |  SELECT c.sub, c.code, COALESCE(u.newvec, c.cvec) AS cvec
         |  FROM ${p}cb$i c LEFT JOIN ${p}uv$i u USING (sub, code)
         |)""".stripMargin
    }.mkString(",\n")
    s"""${p}sv AS (
       |  SELECT vec_id, CAST(g.s AS INT) AS sub,
       |    e[g.s*$dsub+1 : g.s*$dsub+$dsub] AS subvec
       |  FROM $src, LATERAL (SELECT UNNEST(generate_series(0, ${m - 1})) AS s) g
       |),
       |${p}seeds AS (
       |  SELECT vec_id, CAST(rk - 1 AS INT) AS code FROM (
       |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
       |    FROM $src)
       |  WHERE rk <= $k
       |),
       |${p}cb0 AS (
       |  SELECT sub, code, list_transform(subvec, x -> round(x, 6)) AS cvec
       |  FROM ${p}sv JOIN ${p}seeds USING (vec_id)
       |),
       |$rounds""".stripMargin
  }

  /** The COARSE quantizer for q117's oracle: the same two-round
    * Lloyd loop as [[pqTrainingCte]] at m=1 over the full dimension
    * (plain k-means, K=8 cells) — seeds shared with the fine loop's
    * stride sample (codes 0..7 are the 8 smallest vec_ids). */
  private val pqCoarseCte =
    """sv1 AS (
      |  SELECT vec_id, CAST(0 AS INT) AS sub, e[1:64] AS subvec FROM v
      |),
      |cseeds AS (SELECT vec_id, code FROM seeds WHERE code < 8),
      |ccb0 AS (
      |  SELECT sub, code, list_transform(subvec, x -> round(x, 6)) AS cvec
      |  FROM sv1 JOIN cseeds USING (vec_id)
      |),
      |csc0 AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |    round(list_dot_product(s.subvec, s.subvec)
      |      - 2.0 * list_dot_product(s.subvec, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec), 6) AS d
      |  FROM sv1 s JOIN ccb0 c USING (sub)
      |),
      |cas0 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
      |    FROM csc0) WHERE rk = 1
      |),
      |cup0 AS (
      |  SELECT a.sub, a.code, g.i AS pos, round(AVG(s.subvec[g.i]), 6) AS c
      |  FROM cas0 a JOIN sv1 s ON s.vec_id = a.vec_id AND s.sub = a.sub,
      |    LATERAL (SELECT UNNEST(generate_series(1, 64)) AS i) g
      |  GROUP BY 1, 2, 3
      |),
      |cuv0 AS (SELECT sub, code, list(c ORDER BY pos) AS newvec FROM cup0 GROUP BY 1, 2),
      |ccb1 AS (
      |  SELECT c.sub, c.code, COALESCE(u.newvec, c.cvec) AS cvec
      |  FROM ccb0 c LEFT JOIN cuv0 u USING (sub, code)
      |),
      |csc1 AS (
      |  SELECT s.vec_id, s.sub, c.code,
      |    round(list_dot_product(s.subvec, s.subvec)
      |      - 2.0 * list_dot_product(s.subvec, c.cvec)
      |      + list_dot_product(c.cvec, c.cvec), 6) AS d
      |  FROM sv1 s JOIN ccb1 c USING (sub)
      |),
      |cas1 AS (
      |  SELECT vec_id, sub, code FROM (
      |    SELECT vec_id, sub, code,
      |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
      |    FROM csc1) WHERE rk = 1
      |),
      |cup1 AS (
      |  SELECT a.sub, a.code, g.i AS pos, round(AVG(s.subvec[g.i]), 6) AS c
      |  FROM cas1 a JOIN sv1 s ON s.vec_id = a.vec_id AND s.sub = a.sub,
      |    LATERAL (SELECT UNNEST(generate_series(1, 64)) AS i) g
      |  GROUP BY 1, 2, 3
      |),
      |cuv1 AS (SELECT sub, code, list(c ORDER BY pos) AS newvec FROM cup1 GROUP BY 1, 2),
      |ccb2 AS (
      |  SELECT c.sub, c.code, COALESCE(u.newvec, c.cvec) AS cvec
      |  FROM ccb1 c LEFT JOIN cuv1 u USING (sub, code)
      |)""".stripMargin

  private val transfersCte =
    """transfers AS (
      |  SELECT event_type AS asset, user_id AS wallet, CAST(ts AS DATE) AS date,
      |         SUM(CASE WHEN event_id % 3 = 0 THEN -value ELSE value END) AS net_transfers
      |  FROM events GROUP BY 1, 2, 3
      |)""".stripMargin

  private val balancesCte =
    """balances AS (
      |  SELECT asset, wallet, date, net_transfers,
      |         SUM(net_transfers) OVER (PARTITION BY asset, wallet ORDER BY date) AS balance,
      |         COUNT(net_transfers) OVER (PARTITION BY asset, wallet ORDER BY date) AS transfer_sequence
      |  FROM transfers
      |)""".stripMargin

  private val pricesCte =
    """prices AS (
      |  SELECT event_type AS asset, CAST(ts AS DATE) AS date, ROUND(MAX(value), 6) AS price
      |  FROM events
      |  WHERE CAST(ts AS DATE) >= (SELECT CAST(MIN(ts) AS DATE) + INTERVAL 7 DAY FROM events)
      |  GROUP BY 1, 2
      |)""".stripMargin

  // ---------------------------------------------------------------
  // queries
  // ---------------------------------------------------------------

  /** q1: grouped multi-aggregate scan (TPC-H Q1 shape). */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** q2: row_number keep-first dedupe (core_coin_market_data.py:54-58). */
  def q2DedupeRank(spark: SparkSession, dir: String): DataFrame =
    WindowOps.dedupeFirst(
      Tables.events(spark, dir),
      keys = Seq("user_id", "event_type"),
      order = Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"), col("value"))

  /** q3: running balance + transfer sequence (core_coin_wallet_transfers.py:178-191). */
  def q3RunningBalance(spark: SparkSession, dir: String): DataFrame =
    Tables.transfersWithBalance(spark, dir)
      .select(
        col("asset"), col("wallet"), col("date"),
        round(col("net_transfers"), 6).as("net_transfers"),
        round(col("balance"), 6).as("balance"),
        col("transfer_sequence"))

  /** q4: calendar gap-fill + ffill + days_imputed (core_coin_market_data.py:196-280). */
  def q4GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).as("price"), count(lit(1)).as("volume"))
      // ~70% of days per asset kept: deterministic synthetic gaps
      .where((dayofmonth(col("date")) + length(col("asset"))) % 10 < 7)
    GapFill.fillDaily(daily, Seq("asset"), "date", Seq("price"), Seq("volume"))
      .select(col("asset"), col("date"), col("price"), col("volume"), col("days_imputed"))
  }

  /** q5: single-day dip removal (core_coin_market_data.py:141-194). */
  def q5DipRemoval(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(min("value"), 6).as("price"))
    Outliers.removeSingleDayDips(daily, Seq("asset"), "date", "price",
      dipThreshold = 0.8, recoveryThreshold = 0.9)
  }

  /** q6: multi-exclusion-list anti-join (core_coin_wallet_transfers.py:224-303). */
  def q6ExclusionAntijoin(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.transfers(spark, dir)
    val errorWallets = Tables.events(spark, dir)
      .where(col("event_type") === "error")
      .groupBy(col("user_id").as("wallet"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= 16)
      .select("wallet")
    val patternWallets = t.select("wallet").distinct().where(col("wallet") % 5 === 0)
    t.join(errorWallets, Seq("wallet"), "left_anti")
      .join(patternWallets, Seq("wallet"), "left_anti")
      .groupBy("wallet")
      .agg(count(lit(1)).as("n_rows"), round(sum("net_transfers"), 6).as("total_net"))
  }

  /** q7: negative-balance cohort filter (core_coin_wallet_transfers.py:306-390). */
  def q7NegativeBalanceCohort(spark: SparkSession, dir: String): DataFrame =
    Balances.negativeBalanceCohortFilter(
      Tables.transfersWithBalance(spark, dir),
      keyCol = "asset", walletCol = "wallet", balanceCol = "balance",
      tolerance = 0.1, maxNegativeShare = 0.6)
      .select(
        col("asset"), col("wallet"), col("date"),
        round(col("net_transfers"), 6).as("net_transfers"),
        round(col("balance"), 6).as("balance"))

  /** q8: whale-size bucket daily counts (dreambot_whale_chart.py:370-436). */
  def q8WhaleBuckets(spark: SparkSession, dir: String): DataFrame = {
    val balances = Tables.transfersWithBalance(spark, dir)
      .select("asset", "wallet", "date", "balance")
    val dense = GapFill.fillDaily(balances, Seq("asset", "wallet"), "date",
      ffillCols = Seq("balance"), zeroCols = Seq.empty)
    Balances.whaleCounts(dense, "asset", "date", "balance",
      smallMax = 50.0, whaleMin = 300.0)
  }

  /** q9: stable dense ID assignment (core_coin_wallet_transfers.py:410-480). */
  def q9StableIds(spark: SparkSession, dir: String): DataFrame =
    WindowOps.stableIds(
      Tables.events(spark, dir).select(col("user_id").as("wallet")),
      key = "wallet", idName = "wallet_id")

  /** q10 FLAGSHIP: wallet profitability (core_coin_wallet_profits.py:235-634). */
  def q10WalletProfits(spark: SparkSession, dir: String): DataFrame =
    Profits.walletProfits(
      Tables.transfersWithBalance(spark, dir).drop("transfer_sequence"),
      Tables.prices(spark, dir))

  /** q11: two-source union with anti-join precedence (core_coin_market_data.py:59-117). */
  def q11MultisourceUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sourceA = ev.where(col("event_id") % 2 === 0)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).as("price"))
      .withColumn("data_source", lit("a"))
    val sourceB = ev.where(col("event_id") % 5 === 0)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).as("price"))
      .withColumn("data_source", lit("b"))
    sourceA.unionByName(sourceB.join(sourceA.select("asset", "date"), Seq("asset", "date"), "left_anti"))
  }

  /** q12: join+filter+agg+topk (TPC-H Q3 shape; pushdown + AQE-chosen
    * join strategy — customer is NOT hint-broadcast: at 100 TB it is
    * a fact-sized table, and AQE will still broadcast it at small SF
    * once the mktsegment filter shrinks it below the threshold). */
  def q12ShippingPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .where(col("c_mktsegment") === "BUILDING" &&
        col("o_orderdate") < lit("1999-01-01") && col("l_shipdate") > lit("1996-01-01"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey"), col("revenue"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("o_orderpriority"))

  /** q13: multi-join star aggregate (TPC-H Q5 shape; join ordering).
    * Only the bounded dims (nation, region) carry broadcast hints;
    * supplier/customer scale with the fact side, so their strategy is
    * left to AQE. */
  def q13MarketShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))

  /** q14: per-key first-value extraction (core_coin_wallet_profits.py:315-345). */
  def q14FirstPrice(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.prices(spark, dir)
    WindowOps.dedupeFirst(p, Seq("asset"), Seq(col("date")))
      .select(col("asset"), col("date").as("first_price_date"), col("price").as("first_price"))
  }

  /** q15: event daily rollup (batch twin of streaming.EventRollup). */
  def q15DailyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("date"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("sum_value"),
        round(min("value"), 6).as("min_value"),
        round(max("value"), 6).as("max_value"))

  // ---------------------------------------------------------------
  // §2b LLM-training-data operators
  // ---------------------------------------------------------------

  /** q16: exact dedupe via content hash groupBy. */
  def q16DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  /** q17: 3-gram shingle Jaccard near-dup pairs (threshold 0.8).
    * maxDf=20 caps the inverted-index join's key multiplicity (a
    * stop-phrase shingle can no longer contribute df² pairs to one
    * shuffle key); the full-intersection verify keeps the pair set
    * bit-identical to the uncapped oracle at every tested SF. */
  def q17DedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(spark, dir), "doc_id", "text",
      n = 3, threshold = 0.8, maxDf = 20)

  /** q18: MinHash+LSH banding candidate pairs (rows-only). */
  def q18DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(spark, dir), "doc_id", "text")

  /** q19: 64-bit SimHash + hamming-band dedupe (rows-only). */
  def q19DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text", maxHamming = 3)

  /** q50: the 128-bit scale form of q19 — 32-bit bands put random
    * band-collision candidate mass at n²/2³² instead of n²/2¹⁶, the
    * remedy for q19's measured super-linear slope (PLANS.md sf-sweep;
    * same band-width-grows-with-log-n law as lshBits). Same hamming
    * budget over more bits = a sharper similarity bar, so the pair
    * set is a near-subset of q19's, not identical — rows-only, with
    * the collision-mass property spec-asserted on a planted corpus. */
  def q50DedupSimhashWide(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
      maxHamming = 3, numBits = 128)

  /** q20: brute-force cosine top-5 neighbors. */
  def q20KnnCosine(spark: SparkSession, dir: String): DataFrame =
    Ann.bruteForceKnn(Tables.embeddings(spark, dir), "vec_id", "embedding", k = 5)

  /** q21: random-hyperplane LSH-bucketed ANN top-5 (rows-only).
    * Bits auto-scale with n, tables auto-scale with bits to hold a
    * 95% candidate-recall design point, Hamming-1 multi-probe (r3:
    * the fixed 4-bit r2 config measured slope 1.4 in the sf-sweep). */
  def q21LshKnn(spark: SparkSession, dir: String): DataFrame =
    Ann.lshKnn(Tables.embeddings(spark, dir), "vec_id", "embedding", k = 5)

  /** q187: ANN recall harness ([[similarity.Ann.recallAtK]]) — the
    * retrieval-eval job a pipeline ships beside its index: per query
    * vector, how much of the exact brute-force top-5 (q20) the
    * auto-tuned multi-probe LSH index (q21) actually returned,
    * integer-ppm recall by floor division. Rows-only (the LSH side
    * is seeded-hash); AnnRecallSpec pins the harness itself —
    * exact-vs-exact is 1e6 ppm for every query by construction, and
    * the registry corpus's measured LSH recall floor is asserted so
    * the gate is never vacuous. One top-k-grain equi-join + two
    * k-bounded aggregates: |queries|·k rows at any scale. */
  def q187AnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Ann.recallAtK(
      Ann.bruteForceKnn(emb, "vec_id", "embedding", k = 5),
      Ann.lshKnn(emb, "vec_id", "embedding", k = 5))
  }

  /** q188: BPE token-id streams ([[text.Bpe.encodeIds]]) — the
    * artifact training actually consumes: every document as its
    * in-order sequence of vocabulary ids (what sequence packing /
    * context-window assembly take as input; q184's counts are this
    * stream's lengths). Merges come from the PUBLISHED merge table
    * (q184's stored posture), the vocabulary from q185's derivation;
    * position is the 1-based index of the doc's flattened per-word
    * symbol lists — computed narrowly in one expression (r15: the
    * per-doc row_number window this replaced cost a token-grain sort
    * exchange), never a global sort. The oracle
    * re-derives merges, vocabulary, AND the ordered stream (list
    * index over range(len) — order by construction), so the hash
    * covers every document's exact token sequence. */
  def q188BpeTokenStream(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.encodeIds(docs, "doc_id", "text", merges,
      graft.text.Bpe.vocabularyFromMerges(docs, "doc_id", "text", merges))
  }

  /** q189: context-window assembly ([[text.Bpe.contextWindows]]) —
    * the final artifact between q188's per-document token streams and
    * the training loader: streams packed into 512-token-budget
    * windows per q158's shard/scramble keys, every token placed at
    * its absolute window position (offset of its document's
    * predecessors + its in-doc position). The composition is where
    * the bugs live — a packing that disagrees with the stream about
    * one document's length shifts every later token in the window —
    * so lengths come FROM the stream and the oracle re-derives
    * tokenization, packing recurrence (recursive CTE), and placement
    * together: the hash covers every token's (shard, window,
    * position) at once. */
  def q189ContextWindows(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.contextWindows(docs, "doc_id", "text", merges,
      shards = 8, budget = 512L)
  }

  /** q190: tokenizer FERTILITY by language ([[text.Bpe.fertility]]) —
    * the standard cross-lingual tokenizer-eval metric (tokens per
    * word, ppm): a tokenizer trained on one language family bills
    * others at a worse rate, and a token-budgeted training mixture
    * (q74) silently re-weights languages by exactly this ratio — the
    * number a mixture designer must read before setting domain caps.
    * One stored-merges encode pass, one join to the language label,
    * one |languages|-grain aggregate; ppm by truncating division on
    * non-negatives (= floor = DuckDB `//`), so the hash is exact. */
  def q190TokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.fertility(docs, "doc_id", "text", "lang", merges)
  }

  /** Candidate vocabulary truncation points for q191 — spanning the
    * testdata vocabulary size (|alphabet| + 8 merges ≈ 32) so the
    * curve has both a climbing region and its saturated tail at
    * every SF. */
  private val VocabCuts: Seq[Long] = Seq(2L, 4L, 8L, 16L, 32L, 64L)

  /** q191: truncated-vocabulary COVERAGE ([[text.Bpe.coverage]]) —
    * the embedding-table-sizing curve: for each candidate cut m, the
    * ppm of corpus token occurrences the top-m vocabulary ids cover.
    * The id order is q185's own (count DESC, symbol ASC), so
    * coverage(m) is the best any m-row truncation can do; cuts above
    * |vocab| saturate at 1e6 (the flat tail is part of the answer).
    * All arithmetic happens at the driver-bounded vocabulary grain;
    * the corpus contributes through the one bounded word aggregate
    * the stored-merges vocabulary derivation already runs. */
  def q191VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.coverage(docs, "doc_id", "text", merges, VocabCuts)
  }

  /** q194: token-budget APPORTIONMENT by language
    * ([[text.Bpe.tokenBudget]]) — the mixture-planning step q190's
    * fertility numbers feed: split a global training token budget
    * (1M here) across languages proportionally to WORD mass (raw
    * token counts would hand fertile-tokenizing languages extra share
    * for the same content), integer-exactly via largest-remainder
    * apportionment — per-language targets sum to the budget EXACTLY,
    * the property float shares cannot give, and remainder ties break
    * deterministically so both engines allocate the same seats. One
    * stored-merges encode pass, one |languages|-grain aggregate; the
    * apportionment windows run at that bounded grain (the documented
    * k-row exception). */
  def q194TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.tokenBudget(docs, "doc_id", "text", "lang", merges,
      budget = 1000000L)
  }

  /** The S41/S42 maintained-stats artifact: the corpus ingested in
    * three disjoint batches through [[graft.streaming.EvalStatsStream]]
    * under a version-1 tokenizer published from the same corpus at
    * q194's rounds — so the folded word/token masses equal the
    * one-shot corpus aggregate exactly (the S41 additive identity)
    * and q198 hash-shares q194's oracle. */
  private def evalStatsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_evstat", dir) { root =>
      val docs = Tables.documents(spark, dir)
      graft.streaming.TokenizerStream.publish(
        docs, "doc_id", "text", rounds = 8, s"$root/tok")
      (0L until 3L).foreach { b =>
        graft.streaming.EvalStatsStream.applyBatch(
          docs.where(pmod(col("doc_id"), lit(3L)) === b), b,
          "doc_id", "text", "lang", s"$root/tok", s"$root/stats"): Unit
      }
    }

  /** q198: token-budget apportionment from MAINTAINED stats
    * ([[graft.streaming.EvalStatsStream.tokenBudgetView]], S42) —
    * q194's mixture plan computed from the ingest-maintained
    * per-(version, language) word masses instead of a corpus
    * re-encode: the production posture where planning runs vastly
    * outnumber ingest runs and the replanning input is a
    * |versions × languages|-grain table. Shares q194's oracle hash
    * verbatim — the S41 additive identity makes the folded masses
    * equal the one-shot aggregate, and the apportionment is a pure
    * function of those masses. */
  def q198TokenBudgetStored(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EvalStatsStream.tokenBudgetView(
      spark, s"${evalStatsRoot(spark, dir)}/stats",
      tokVersion = 1L, budget = 1000000L)

  /** q201: TEMPERATURE-scaled token budget
    * ([[text.Bpe.tokenBudgetTempered]]) — the standard multilingual
    * rebalancing (exponent smoothing, α = 1/2): budget ∝ raw word
    * mass starves tail languages, so the mixture weights are integer
    * SQUARE ROOTS of the word masses — IEEE sqrt floor-corrected to
    * exactness with division-form ±1 checks (never squares → no Long
    * wrap), so the whole tempered plan is hash-checkable where a
    * float pow() would drift between engines. Same scale shape and
    * exact-sum apportionment as q194. */
  def q201TokenBudgetTempered(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.tokenBudgetTempered(docs, "doc_id", "text", "lang",
      merges, budget = 1000000L)
  }

  /** q202: SLIDING-WINDOW eval layout ([[text.Bpe.evalWindows]]) —
    * the standard long-document perplexity-eval shape: overlapping
    * (W=512, S=256) windows where every token is scored exactly once
    * with ≥ W−S tokens of left context (the head has all that
    * exists). Per-window numbers are closed forms of the stored-
    * merges token count — no token explode; row mass is Σ L/S
    * windows and the only corpus pass is the encode. */
  def q202EvalWindows(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.evalWindows(docs, "doc_id", "text", merges,
      windowSize = 512L, stride = 256L)
  }

  /** q206: WORDPIECE segmentation ([[text.Bpe.wordpieceSegment]]) —
    * greedy longest-match against the stored-merges vocabulary (the
    * BERT tokenizer family's algorithm, completing the trained-
    * tokenizer set beside BPE): per position take the longest
    * vocabulary symbol, UNK (id 0) advances one character. Runs at
    * the DISTINCT-WORD grain with the driver-bounded vocabulary
    * broadcast; ids shared with the BPE path. The oracle re-derives
    * the vocabulary and replays the greedy scan as a per-row
    * recursion — every segment under the hash. */
  def q206WordpieceSegment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.wordpieceSegment(docs, "doc_id", "text", merges,
      maxLen = 8)
  }

  /** q207: unigram-style VITERBI segmentation
    * ([[text.Bpe.viterbiSegment]]) — the SentencePiece family's
    * decode rule with an integer-exact objective: maximize total
    * symbol weight (occurrence counts — the monotone integer
    * stand-in for float log-probs), ties → fewer tokens → earliest
    * split. GLOBAL where q206's greedy is local; same distinct-word
    * grain and bounded broadcast. The oracle replays the identical
    * DP as a per-row recursion. */
  def q207ViterbiSegment(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.viterbiSegment(docs, "doc_id", "text", merges,
      maxLen = 8)
  }

  /** q208: per-source DISTRIBUTION-DRIFT monitor
    * ([[graft.text.Drift.sourceDrift]]) — each source's hashed-gram
    * profile against the curated reference slice (lang='en'),
    * total-variation distance in integer-exact ppm, alert at 15%.
    * The ops complement of q170's DSIR selection: q170 prices
    * documents against the target distribution; q208 watches the
    * FEEDS so a drifting crawl is caught at the source grain before
    * curation ever sees its documents. */
  def q208SourceDrift(spark: SparkSession, dir: String): DataFrame =
    graft.text.Drift.sourceDrift(Tables.documents(spark, dir),
      "text", "source", refPred = col("lang") === "en",
      buckets = 256, alertPpm = 150000L)

  /** q209: TIME-WINDOWED drift monitor ([[graft.text.Drift.sourceDrift]]
    * with the week as the observation grain) — each calendar week's
    * event-content profile (event_type + props grams) against the
    * first-week-of-month reference slice, TV in integer-exact ppm.
    * q208 asks "which FEED rotted"; q209 asks "WHEN did the mix
    * move" — the other axis a feed-health job slices, and the same
    * bounded machinery serves it (windows are just another source
    * label, so the wire stays ≤ |windows|·2·B rows). Week id =
    * ⌊epoch_days/7⌋ — integer arithmetic both engines floor
    * identically; the reference is a fixed label (days < 2024-01-08),
    * deliberately NOT week-aligned: a reference is a curated slice,
    * not a holdout. */
  def q209WindowDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      concat(col("event_type"), lit(" "), col("props")).as("text"),
      floor(datediff(to_date(col("ts")),
        lit(java.sql.Date.valueOf("1970-01-01"))) / 7)
        .cast("bigint").as("window_id"),
      (to_date(col("ts")) < lit(java.sql.Date.valueOf("2024-01-08")))
        .as("is_ref"))
    graft.text.Drift.sourceDrift(ev, "text", "window_id",
      refPred = col("is_ref"), buckets = 256, alertPpm = 40000L)
      .withColumnRenamed("source", "window_id")
  }

  /** q210: WITHIN-LANGUAGE drift monitor
    * ([[graft.text.Drift.groupedDrift]]) — each (source, language)
    * slice against its LANGUAGE's whole-corpus profile. q208's global
    * English reference saturates on every non-English grain
    * (measuring the label, not the rot); the keyed reference asks the
    * question that matters for a multilingual corpus: "is source X's
    * German weird German?". Reference per group = the union of every
    * source's contribution to that language, so a language's sole
    * contributor reports exactly 0 ppm. Same integer-exact TV, same
    * bounded |sources|·|langs|·B wire. */
  def q210LangDrift(spark: SparkSession, dir: String): DataFrame =
    graft.text.Drift.groupedDrift(Tables.documents(spark, dir),
      "text", "source", "lang", buckets = 256, alertPpm = 300000L)
      .withColumnRenamed("group", "lang")

  /** q211: EDIT-DISTANCE near-dup verification
    * ([[graft.similarity.Dedup.editNearDupPairs]]) — the exact
    * character-level verifier atop the fuzzy-dedup ladder: blocked
    * candidate pairs scored by Levenshtein, kept at ≥ 30% integer-ppm
    * similarity. Shingle Jaccard (q17) treats documents as token
    * sets; this is the stage that prices every single-character edit,
    * catching templated rewrites token sets miss. */
  def q211EditNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.similarity.Dedup.editNearDupPairs(Tables.documents(spark, dir),
      "doc_id", "text", lenBucket = 64, minSimPpm = 300000L)

  /** q213: QUALITY-AWARE canonical selection
    * ([[graft.similarity.Dedup.keepersFromEdges]] +
    * [[graft.text.TextOps.qualityScore]]) — the curation refinement
    * of q43: min-id keepers answer "which copy is canonical" with an
    * arbitrary tiebreak, but a real pipeline keeps the BEST copy —
    * per near-dup cluster, the member with the highest q23 quality
    * score (ties to the lowest id). Clusters come from the exact
    * df-capped Jaccard edge set (the q43 correctness control, so the
    * whole chain stays SQL-oracle-checkable); the canonical pick is
    * one max-struct aggregation on the cluster grain + one join back
    * — no window sort. */
  def q213CanonicalKeepers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = graft.similarity.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, maxDf = 20).select("doc_a", "doc_b")
    val clusters = graft.similarity.Dedup
      .keepersFromEdges(docs, "doc_id", edges, maxIters = 20)
      .select(col("doc_id"), col("keeper_id").as("cluster_id"))
    val scored = graft.text.TextOps.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_score_ppm"))
    // persisted: BOTH the canonical-pick aggregate and the final join
    // consume this — unpersisted, the cluster labels AND the regex
    // quality pass re-derived once per consumer (r15-opt, guide §1.2)
    val joined = graft.CacheScope.persisted(
      clusters.join(scored, Seq("doc_id")))
    // per-cluster argmax by (quality DESC, id ASC) as one max-struct
    // aggregate — negated id makes the lexicographic max break ties
    // toward the LOWEST id; no window, partial map-side combine
    val canon = joined
      .groupBy("cluster_id")
      .agg(max(struct(col("quality_score_ppm").as("q"),
        (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("canonical_id"),
        col("m.q").as("canonical_quality_ppm"))
    joined.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        col("canonical_quality_ppm"),
        when(col("doc_id") === col("canonical_id"), 1).otherwise(0)
          .cast("int").as("is_canonical"))
      .orderBy("doc_id")
  }

  /** q212: SOURCE-CALIBRATED quality
    * ([[graft.text.TextOps.calibratedQuality]]) — q23's heuristic
    * score mapped to its source-relative rank in exact ppm, so one
    * global cut line means the same thing on every feed. The rank is
    * the two-pass distributed PrefixSum.globalRowNumber, not a
    * per-source window sort. */
  def q212CalibratedQuality(spark: SparkSession, dir: String): DataFrame =
    graft.text.TextOps.calibratedQuality(Tables.documents(spark, dir),
      "doc_id", "text", "source")

  /** q205: MIXTURE-TEMPERATURE sweep ([[text.Bpe.mixtureSweep]]) —
    * q201 extended across the integer-exact α ladder {0, 1/4, 1/2, 1}
    * (uniform / isqrt∘isqrt / isqrt / raw): one apportionment row per
    * (α, language) answering how hard the mixture should rebalance
    * toward the tail. One corpus encode; each α is a k-row
    * apportionment over the shared aggregate (the q199 sweep shape).
    * α = 1 reproduces q194's plan row-for-row — pinned in spec. */
  def q205MixtureSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.mixtureSweep(docs, "doc_id", "text", "lang", merges,
      budget = 1000000L)
  }

  /** q200: quality-CURRICULUM ordering ([[text.Curriculum.phaseOrder]])
    * — the training-schedule step: rank every document by q23's exact
    * integer quality score, cut the top quarter as the ANNEAL set,
    * and emit a global epoch position that consumes the bulk phase
    * first and the anneal set last, seeded-scrambled within each
    * phase (q196's reproducible-shuffle rationale). Both ranks are
    * the distributed two-pass global row number — never a single-task
    * window; the anneal cutoff is a BigInt-exact driver scalar from
    * the rank's free total. The oracle re-derives score, rank,
    * cutoff, phase, and the FULL permutation. */
  def q200CurriculumOrder(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curriculum.phaseOrder(
      Tables.documents(spark, dir), "doc_id", "text",
      annealPpm = 250000L, seed = 1L)

  /** The published per-document quality-score table — scoring runs
    * once, plans re-rank the stored table (the q178 stored-score
    * posture applied to the curriculum family). */
  private def qualityScoreTable(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_qscore", dir) { tableDir =>
      graft.text.TextOps.qualityScore(
          Tables.documents(spark, dir), "doc_id", "text")
        .select(col("doc_id"), col("quality_score_ppm"))
        .write.parquet(tableDir)
    }

  /** q204: DATA-CONSTRAINED repeat allocation
    * ([[text.Curriculum.repeatAllocation]]) — the epochs-and-
    * remainder plan for a token budget LARGER than the corpus
    * (the data-constrained scaling regime: bounded repetition keeps
    * near-fresh value): every document repeats min(cap, budget div
    * corpusTokens) times, and the leftover fills with one extra
    * repeat per document in seeded scramble order while the whole
    * document fits — never overshooting the budget, engine-exact.
    * One encode pass, one distributed global running sum; the budget
    * here (3× corpus at cap 4) exercises the remainder path at every
    * SF. */
  def q204RepeatAllocation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // the budget scalar reads its own (cheap, native-kernel) encode
    // pass; the allocation persists its filtered length table once,
    // so the running sum's sampler never re-encodes. Zero-token docs
    // contribute 0 to the sum and are filtered inside the
    // allocation, so the budget is unchanged.
    val lens = graft.text.Bpe.encode(docs, "doc_id", "text", merges)
      .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
    val corpusTokens = lens.agg(sum("n_tokens")).head.getLong(0)
    graft.text.Curriculum.repeatAllocationFromLengths(lens, "doc_id",
      budget = corpusTokens * 3L + corpusTokens / 2L, maxRepeats = 4L,
      seed = 1L)
  }

  /** q203: curriculum ordering from the STORED score table
    * ([[text.Curriculum.orderFromScores]]) — q200's schedule computed
    * without touching the corpus text: scoring runs once at ingest
    * and is published; a seed change or anneal-fraction sweep
    * re-plans over (id, score) rows only. Shares q200's oracle hash
    * (the stored table IS the scoring pass's output). */
  def q203CurriculumStored(spark: SparkSession, dir: String): DataFrame =
    graft.text.Curriculum.orderFromScores(
      spark.read.parquet(qualityScoreTable(spark, dir)), "doc_id",
      annealPpm = 250000L, seed = 1L)

  /** q196: deterministic EPOCH ordering ([[text.Bpe.epochOrder]]) —
    * the loader's last mile over q189's windows: a training epoch
    * consumes windows in a seeded pseudo-random order (fixed-order
    * consumption correlates neighboring batches with corpus layout; a
    * float rand() is irreproducible across engines and retries). Each
    * window keys a Knuth-style integer scramble of (shard, seq_id,
    * seed); epoch position is its GLOBAL rank via the two-pass
    * distributed row number — the window-index grain is corpus
    * tokens / budget, far too large for a single-task window at
    * 100 TB. Same seed replays bit-identically (the oracle proves it:
    * DuckDB re-derives tokenization, packing, the scramble, and the
    * full permutation); re-seeding permutes epochs. */
  def q196EpochOrder(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.epochOrder(docs, "doc_id", "text", merges,
      shards = 8, budget = 512L, seed = 1L)
  }

  /** q197: WINDOW EXPORT roundtrip — q189's packed windows handed to
    * the loader as q156's shard-tree JSONL (one writer per shard →
    * file count engine-reproducible as ceil(rows/cap); a trainer
    * points its loader at `shard=N/` directly). The query aggregates
    * the READ-BACK files per (shard, window): token count, distinct
    * docs, an order-sensitive placement checksum (Σ token_id ·
    * win_pos — a token at the wrong position moves it), and the
    * per-shard file count from the export manifest; the oracle
    * re-derives all of it from the SOURCE table through the full
    * tokenize/pack/place chain — the export must be LOSSLESS for the
    * hash to close. */
  private def windowExportRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_winexp", dir) { outDir =>
      val merges = graft.sources.Publish
        .read(spark, bpeMergesRoot(spark, dir))
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.sources.Export.writeJsonlShards(
        graft.text.Bpe.contextWindows(Tables.documents(spark, dir),
            "doc_id", "text", merges, shards = 8, budget = 512L)
          .repartition(col("shard")),
        "shard", outDir, maxRecordsPerFile = 4096L)
    }

  def q197WindowExport(spark: SparkSession, dir: String): DataFrame = {
    val out = windowExportRoot(spark, dir)
    val back = graft.sources.Export.readJsonlShards(spark, out,
      "seq_id LONG, win_pos LONG, doc_id LONG, token_id LONG")
    val files = graft.sources.Export.manifest(spark, out)
      .groupBy("shard").agg(count(lit(1)).as("n_files"))
    back.groupBy("shard", "seq_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"),
        sum(col("token_id") * col("win_pos")).as("placement_sum"))
      .join(files, Seq("shard"))
      .select(col("shard"), col("seq_id"), col("n_tokens"), col("n_docs"),
        col("placement_sum"), col("n_files"))
  }

  /** Candidate window budgets for q192 — bracketing the corpus's
    * per-doc token lengths (~200 at every SF) so the curve shows both
    * regimes: small budgets where single documents overflow (padding
    * → 0 from the overflow side) and large ones where tail windows
    * under-fill. */
  private val PackBudgets: Seq[Long] = Seq(128L, 256L, 512L, 1024L)

  /** q192: PACKING-EFFICIENCY curve ([[text.Bpe.packingEfficiency]])
    * — the budget-tuning eval beside q191's vocab-sizing curve: for
    * each candidate context-window budget, how many windows the
    * corpus packs into (q189's next-fit, same shard keys) and what
    * ppm of their capacity is padding — the attention mass a loader
    * wastes at that budget. One stream aggregate feeds every
    * budget's |docs|-grain packing; the oracle unrolls one recursive
    * next-fit CTE per budget and UNION ALLs the curve, so every
    * window count and padding ratio sits under the hash. */
  def q192PackingEfficiency(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.packingEfficiency(docs, "doc_id", "text", merges,
      shards = 8, budgets = PackBudgets)
  }

  /** q199: the PACKING-ORDER sweep ([[text.Bpe.packingOrderSweep]]) —
    * q192's padding curve crossed with the intra-shard placement
    * policies (arrival scramble / shortest-first / longest-first).
    * First-fit-decreasing's classic guarantee does NOT transfer to
    * next-fit — on this corpus `dec` loses to arrival at budget 512
    * and wins at 128 — so the policy choice is an empirical,
    * per-budget call and this sweep is the eval that makes it: one
    * corpus encode (persisted stream) feeds |policies| × |budgets|
    * per-shard O(n) folds; every (policy, budget) curve row sits
    * under the oracle hash (the generated SQL re-derives each
    * policy's total order and recurrence). */
  def q199PackingOrderSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.packingOrderSweep(docs, "doc_id", "text", merges,
      shards = 8, budgets = PackBudgets)
  }

  /** q22: whitespace + BPE-ish regex token counts. */
  def q22TokenCount(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(Tables.documents(spark, dir), "doc_id", "text")

  /** q23: doc quality scoring (char-class + stopword ratios). */
  def q23QualityScore(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(Tables.documents(spark, dir), "doc_id", "text")

  /** q24: stopword-heuristic language ID vs the labeled lang. */
  def q24LangId(spark: SparkSession, dir: String): DataFrame =
    TextOps.langId(Tables.documents(spark, dir), "doc_id", "text", "lang")

  /** q25: rolling polynomial document fingerprint. */
  def q25Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(Tables.documents(spark, dir), "doc_id", "text")

  /** q26: embedding-cosine near-dup pairs (threshold 0.4 — the
    * synthetic embeddings' max pairwise cosine is ~0.6). Bound to the
    * Cauchy–Schwarz-screened exact scan ([[graft.similarity.Ann
    * .cosinePairsScreened]]): the screen only discards pairs PROVABLY
    * below the threshold, so the pair set — and the DuckDB oracle
    * hash — is identical to the naive all-pairs broadcast BNLJ
    * ([[graft.similarity.Ann.cosinePairs]]), which stays a spec-only
    * correctness control (AnnSpec pins screened ≡ naive). The naive
    * form broadcasts the whole collection to every task — fatal at
    * 100× and 3.4× slower even at sf0.1, so the registry benches the
    * form a cluster would actually run. */
  def q26EmbeddingDedup(spark: SparkSession, dir: String): DataFrame =
    Ann.cosinePairsScreened(Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = 0.4)

  /** q27: multimodal metadata extraction (rows-only). Video rows
    * carry real AVI containers and decode true header dims via
    * Riff.parseAvi; image/audio text-backed payloads take the
    * deterministic stub (their real codecs are spec-proven on
    * synthesized PNG/WAV payloads). */
  def q27MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractMetadata(
      Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text"))

  // ---------------------------------------------------------------
  // §2c ingestion-side operators (sources/sinks surface)
  // ---------------------------------------------------------------

  /** q28: JSON normalization + typed aggregation over events.props
    * (coingecko_parse_json-style blob parsing, distributed). */
  def q28JsonNormalize(spark: SparkSession, dir: String): DataFrame =
    Ingest.parseJson(Tables.events(spark, dir), "props", "k INT")
      .groupBy(col("event_type"), (col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), sum("k").as("sum_k"))

  /** q29: incremental upsert — newest row per key across an existing
    * table and an update batch (dune_transfers_updates-style). */
  def q29IncrementalUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val existing = ev.where(col("event_id") % 2 === 0)
    val updates = ev.where(col("event_id") % 2 === 1)
    Ingest.keepLatest(existing, updates,
      keys = Seq("user_id", "event_type"),
      versionCols = Seq(col("ts"), col("event_id")))
      .select("user_id", "event_type", "event_id", "value")
  }

  /** q30: two-source entity resolution with coalesce precedence
    * (core_coins multi-source rebuild). */
  def q30EntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def src(m: Int): DataFrame = ev.where(col("event_id") % 2 === m)
      .groupBy(col("user_id"))
      .agg(
        round(max("value"), 6).as("max_value"),
        to_date(min("ts")).as("first_seen"),
        count(lit(1)).as("n_events"))
      // sparse field: only "rich" profiles carry it, so coalesce matters
      .withColumn("max_value", when(col("n_events") >= 10, col("max_value")))
      .drop("n_events")
    Ingest.coalesceSources(src(0), src(1), keys = Seq("user_id"),
      valueCols = Seq("max_value", "first_seen"))
  }

  /** q31: IVF-partitioned ANN top-5 (seeded kmeans cells, nprobe=3;
    * rows-only). Cell count auto-scales as n/targetCellRows (r3: the
    * fixed 16-cell r2 config measured slope 1.64 in the sf-sweep —
    * candidate mass n²·nprobe/C needs C ∝ n to stay linear). */
  def q31IvfKnn(spark: SparkSession, dir: String): DataFrame =
    Ann.ivfKnn(Tables.embeddings(spark, dir), "vec_id", "embedding", k = 5)

  /** q32: composed near-dup pipeline — LSH candidates → Jaccard
    * verify → min-label clustering → keeper per doc (rows-only). */
  def q32NearDupKeepers(spark: SparkSession, dir: String): DataFrame =
    Dedup.nearDupKeepers(Tables.documents(spark, dir), "doc_id", "text")

  /** q33: balance-over-supply exclusion
    * (core_coin_wallet_transfers.py:334-385); supply dim derived
    * deterministically per asset. */
  def q33SupplyOverage(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.transfersWithBalance(spark, dir).drop("transfer_sequence")
    val supply = b.groupBy("asset").agg(round(max("balance") * 0.9, 6).as("supply"))
    Balances.supplyOverageFilter(b, supply, "asset", "wallet", "balance", "supply",
      maxOverageWallets = 3)
      .select(
        col("asset"), col("wallet"), col("date"),
        round(col("net_transfers"), 6).as("net_transfers"),
        round(col("balance"), 6).as("balance"))
  }

  /** q34: gap-based sessionization of the event stream (30-min
    * timeout; batch form of Structured Streaming's session_window). */
  def q34Sessionize(spark: SparkSession, dir: String): DataFrame =
    Sessionize.sessions(
      Tables.events(spark, dir), "user_id", "ts",
      order = Seq(col("ts"), col("event_id")))

  /** q35: statistical rollup per event type — interpolated exact
    * percentiles + moments (macro_trends-style distribution stats). */
  def q35Percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("value"), 6).as("mean_value"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        round(stddev_samp(col("value")), 6).as("stddev_value"))

  /** q36: 7-day moving average + extrema over the daily price series
    * (market-data smoothing on the reference's daily grain). */
  def q36MovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).as("price"))
    val w7 = Window.partitionBy("asset").orderBy("date").rowsBetween(-6, 0)
    daily
      .withColumn("ma7", round(avg("price").over(w7), 6))
      .withColumn("min7", round(min("price").over(w7), 6))
      .withColumn("max7", round(max("price").over(w7), 6))
      .withColumn("n7", count(lit(1)).over(w7))
  }

  /** q37: pairwise Pearson correlation between asset daily price
    * series. The self-join is blocked over the asset-pair space: each
    * side carries its own asset bucket plus an exploded probe bucket,
    * so the shuffle key is (date, bucket_a, bucket_b) — B² keys per
    * date instead of ONE, and a single date's assets² pair work can
    * never land in one task (the r2 plan shuffled on bare `date`:
    * parallelism capped at |dates|, per-key work assets²). Each
    * unordered pair still joins exactly once (probe = partner's actual
    * bucket on both sides), so the result — and the oracle — are
    * unchanged. Replication cost is B rows per daily point per side;
    * B is DERIVED from the measured asset count as
    * √(assets² / target-task-pairs) = assets/√targetPairs (floored at
    * 2 so the key never degenerates to bare date) — a hardcoded B
    * would let per-task pair work grow quadratically in assets again
    * at 100×. The daily aggregate is PERSISTED before the probe: the
    * distinct-count action materializes the cache, so the probe, the
    * join's left side, and its right side all share ONE scan+aggregate
    * of the events fact table (unpersisted plans would scan it three
    * times — the r4 advice). Cache lifecycle: the entry registers
    * with [[CacheScope]]; Bench/Verify release between queries via
    * CacheScope.releaseAll, and a long-lived session embedding this
    * query should do the same — or accept a warm daily aggregate for
    * repeat invocations (it is the query's own input, not scratch). */
  def q37PriceCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).as("price"))
      .transform(CacheScope.persisted(_))
    val assets = daily.select("asset").distinct().count()
    // target ≈ 4096 pair-evaluations per (date, bucket_a, bucket_b) key
    val B = math.max(2, math.ceil(assets / math.sqrt(4096.0)).toInt)
    val bucketed = daily
      .withColumn("__g", pmod(xxhash64(col("asset")), lit(B)).cast("int"))
      .withColumn("__pg", explode(array((0 until B).map(i => lit(i)): _*)))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.date") === col("b.date") &&
          col("a.__pg") === col("b.__g") && col("b.__pg") === col("a.__g") &&
          col("a.asset") < col("b.asset"))
      .groupBy(col("a.asset").as("asset_a"), col("b.asset").as("asset_b"))
      .agg(
        count(lit(1)).as("n_days"),
        round(corr(col("a.price"), col("b.price")), 6).as("price_corr"))
  }

  /** q38: cohort retention — users grouped by first-seen date, D1/D7
    * return rates (daily-grain user analytics over the event stream). */
  def q38Retention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("date"))
      .distinct()
    val first = act.groupBy("user_id").agg(min("date").as("cohort_date"))
    act.join(first, Seq("user_id"))
      .groupBy("cohort_date")
      .agg(
        countDistinct("user_id").as("n_users"),
        countDistinct(when(datediff(col("date"), col("cohort_date")) === 1, col("user_id")))
          .as("d1_retained"),
        countDistinct(when(datediff(col("date"), col("cohort_date")) === 7, col("user_id")))
          .as("d7_retained"))
  }

  /** q39: ordered funnel conversion signup → view → purchase (each
    * step strictly after the previous one's first occurrence). */
  def q39Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def firstAfter(evType: String, prev: DataFrame, prevTs: String, outTs: String): DataFrame =
      ev.where(col("event_type") === evType)
        .join(prev, Seq("user_id"))
        .where(col("ts") > col(prevTs))
        .groupBy("user_id")
        .agg(min("ts").as(outTs))
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val s2 = firstAfter("view", s1, "t1", "t2")
    val s3 = firstAfter("purchase", s2.select("user_id", "t2"), "t2", "t3")
    s1.join(s2.select(col("user_id"), col("t2")), Seq("user_id"), "left")
      .join(s3.select(col("user_id"), col("t3")), Seq("user_id"), "left")
      .agg(
        count(col("t1")).as("n_signup"),
        count(col("t2")).as("n_viewed_after_signup"),
        count(col("t3")).as("n_purchased_after_view"))
  }

  /** q40: top-5 TF-IDF terms per document (inverted-index build). */
  def q40Tfidf(spark: SparkSession, dir: String): DataFrame =
    TextOps.topTfidfTerms(Tables.documents(spark, dir), "doc_id", "text", k = 5)

  /** q41: scale-safe embedding near-dup — screened blocked exact pair
    * scan (q26's all-pairs form is its correctness oracle, and the
    * DuckDB oracle below IS q26's). The r2 LSH route is retired HERE
    * because τ=0.4 is below LSH's viability floor: the testdata is
    * isotropic (pair cosines ~N(0, 1/64); 776 of sf0.1's 920 pairs sit
    * in [0.40,0.45)), per-bit agreement at the boundary is 0.631 vs
    * 0.5 random, and any hyperplane-LSH point with near-zero miss AND
    * sub-all-pairs candidates needs ≥(2·0.631)^b ≥ 13 ⇒ b ≥ 12 ⇒
    * ~2300 tables — 14× brute-force compute in hashing alone
    * (PLANS.md). The screened scan instead GUARANTEES q26's pair set
    * (Cauchy–Schwarz screen, no probability) with measured candidates
    * ~10% of all-pairs; [[graft.similarity.Ann.nearDupPairsLsh]]
    * remains the production route at τ ≳ 0.7 and auto-tunes its
    * operating point (AnnSpec exercises it at τ=0.9 on planted
    * near-dups where its candidate mass is provably sub-all-pairs). */
  def q41EmbeddingNeardupScale(spark: SparkSession, dir: String): DataFrame =
    Ann.cosinePairsScreened(Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = 0.4)

  /** q42: incremental refresh composed end-to-end — stage a
    * partitioned base table (newest-per-key of the even-id half),
    * upsert the odd-id rows of a subset of event types, dynamic-
    * partition-overwrite ONLY the touched partitions, read the table
    * back (dune_transfers_updates' DELETE+INSERT;
    * coingecko_market_data.py:317-380). IngestSpec proves untouched
    * partition files are byte-identical after the refresh. */
  def q42IncrementalRefresh(spark: SparkSession, dir: String): DataFrame = {
    // built once per (run, SF) by tools.Scratch, so the refresh side
    // effect runs once and repeat calls read the table; the staging
    // sibling carries the table's run-scoped name and goes with it
    val tableDir = graft.tools.Scratch.cachedArtifact("graft_q42", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      val keys = Seq("user_id", "event_type")
      val version = Seq(col("ts"), col("event_id"))
      val base = WindowOps.dedupeFirst(
        ev.where(col("event_id") % 2 === 0), keys, version.map(_.desc))
      // updates touch only event types of even name length — the odd-
      // length types' partitions must survive the refresh untouched
      val updates = ev.where(
        col("event_id") % 2 === 1 && length(col("event_type")) % 2 === 0)
      graft.sources.Sinks.writePartitioned(base, tableDir, Seq("event_type"))
      Ingest.incrementalRefresh(tableDir, updates,
        keys, version, Seq("event_type"), tableDir + "_stage")
    }
    spark.read.parquet(tableDir).select("user_id", "event_type", "event_id", "value")
  }

  /** q43: near-dup keeper assignment over the EXACT n-gram Jaccard
    * edge set — same min-label clustering as q32, but the edges are
    * fully deterministic, so the keeper table is hash-checkable
    * against a DuckDB recursive-CTE connected-components oracle
    * (q32's LSH-candidate edges stay the scale path). */
  def q43NeardupKeepersExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, maxDf = 20).select("doc_a", "doc_b")
    Dedup.keepersFromEdges(docs, "doc_id", edges, maxIters = 20)
  }

  /** q46: video frame sampling over the binary media table — one
    * video row fans out to 4 frame rows. REAL container path: the
    * media table muxes video payloads into genuine AVI containers
    * (Riff.muxMjpeg), and sampling walks the parsed idx1 frame index
    * to true byte offsets/lengths (RiffSpec round-trips the codec).
    * Rows-only: binary plumbing has no SQL oracle. */
  def q46FrameSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(
      Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text"))

  /** q45: the 100 TB form of q35 — approx_percentile (a mergeable
    * KLL-style sketch: map-side partial sketches, one small merge per
    * group) instead of exact `percentile`, whose per-group state is
    * every value. Accuracy 10000 bounds rank error at n/10000;
    * AnalyticsInvariantsSpec bounds the drift against exact q35.
    * Approximate by construction → rows-only check, no SQL oracle. */
  def q45PercentilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("value"), 6).as("mean_value"),
        round(expr("approx_percentile(value, 0.5, 10000)"), 6).as("p50_approx"),
        round(expr("approx_percentile(value, 0.9, 10000)"), 6).as("p90_approx"),
        round(expr("approx_percentile(value, 0.99, 10000)"), 6).as("p99_approx"))

  /** q49: the tiled distributed form of q41's screened exact scan —
    * maxCompactRows=0 forces the block-tiled shuffle kernel, the shape
    * the operator takes when the collection cannot be broadcast
    * (B = O(√tasks) blocks, each row shuffled to B tiles, one tile per
    * task). Registering it separately hash-checks the 100 TB code
    * path against the same q26 oracle at every gate SF, instead of
    * only spec-checking it at sf0.001, and benches the kernel's
    * shuffle overhead next to q41's broadcast form. */
  def q49EmbeddingNeardupTiled(spark: SparkSession, dir: String): DataFrame =
    Ann.cosinePairsScreened(Tables.embeddings(spark, dir), "vec_id", "embedding",
      threshold = 0.4, maxCompactRows = 0)

  /** Planted pathological skew: 30% of the event rows remapped to ONE
    * hot wallet (the whale-wallet shape of the reference's
    * core_coin_wallet_transfers, where a handful of whale coins
    * dominate the transfer stream), joined against a per-wallet dim.
    * Both q47/q48 hint the dim side `merge` because the modeled
    * scenario is a dim too large to broadcast — at test SFs the
    * planner would otherwise broadcast it and no skewed shuffle would
    * exist to demonstrate anything. */
  private def skewFactDim(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(spark, dir)
    val fact = ev.select(
      when(col("event_id") % 10 < 3, lit(0L)).otherwise(col("user_id")).as("wallet"),
      col("event_id"), col("value"))
    val dim = fact.select("wallet").distinct()
      .withColumn("tier", pmod(col("wallet"), lit(7L)))
    (fact, dim)
  }

  /** q47: [[operators.Salting.saltedJoin]] under real skew — the hot
    * wallet's rows spread across 8 salt partitions instead of landing
    * in one task. Result is row-identical to the plain join (q48
    * shares this oracle; OperatorInvariantsSpec asserts equality), so
    * the pair's bench times are a like-for-like skew-mitigation
    * measurement. AQE's skew-join split handles this case at 100 TB
    * only once a partition crosses its size threshold and only for
    * sort-merge joins; explicit salting is the plan-level guarantee. */
  def q47SkewJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = skewFactDim(spark, dir)
    Salting.saltedJoin(fact, dim.hint("merge"), Seq("wallet"), salts = 8)
      .groupBy("tier")
      .agg(count(lit(1)).as("n_rows"), round(sum("value"), 6).as("total_value"))
  }

  /** q48: the unsalted control for q47 — same planted-skew join, hot
    * key in a single shuffle partition. Shares q47's oracle. */
  def q48SkewJoinPlain(spark: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = skewFactDim(spark, dir)
    fact.join(dim.hint("merge"), Seq("wallet"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_rows"), round(sum("value"), 6).as("total_value"))
  }

  /** q44: the flagship rerun over a bucketed layout — materialize
    * transfers+balances bucketed on (asset, wallet), then run the
    * profits pipeline reading the bucketed table: the fact side's
    * per-pair pass needs ZERO Exchange (SinksSpec proves it), which is
    * how the daily 100 TB profits rebuild avoids re-shuffling the
    * fact table every run. Result is identical to q10 (same oracle). */
  def q44WalletProfitsBucketed(spark: SparkSession, dir: String): DataFrame = {
    // materialize once per (session, sfDir) — the recurring run reads
    // the bucketed table without paying the write again, which is the
    // cost profile bucketing exists to buy (a fresh session re-creates
    // the table; content is deterministic from dir)
    val table = "graft_twb_bucketed_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    if (!spark.catalog.tableExists(table))
      graft.sources.Sinks.writeBucketed(
        Tables.transfersWithBalance(spark, dir).drop("transfer_sequence"),
        table, bucketCols = Seq("asset", "wallet"), numBuckets = 8,
        sortCols = Seq("asset", "wallet", "date"))
    Profits.walletProfits(spark.table(table), Tables.prices(spark, dir))
  }

  /** q51: backward as-of price join — every transfer row priced with
    * the most recent quote at-or-before its date. The quote series is
    * deliberately SPARSIFIED (every-third-day quotes) so the lookup is
    * a genuine as-of walk, not a same-day equi-join; transfers before
    * the first surviving quote come back with null price (the
    * pre-price history the reference's imputation handles). One hash
    * shuffle on asset — see [[operators.AsOfJoin]] for why the
    * union+window form is the 100 TB shape. Oracle: DuckDB's native
    * ASOF LEFT JOIN, an independent engine's implementation of the
    * same semantics. */
  def q51AsofPriceJoin(spark: SparkSession, dir: String): DataFrame = {
    val probes = Tables.transfers(spark, dir)
    val quotes = Tables.prices(spark, dir)
      .where(dayofmonth(col("date")) % 3 === 0)
      .select(col("asset"), col("date").as("price_date"), col("price"))
    AsOfJoin.asOf(probes, quotes, Seq("asset"), "date", "price_date", Seq("price"))
  }

  /** q52: point-in-interval range join — every event joined to each
    * "campaign" window whose [lo, hi] date range contains it, then
    * rolled up per campaign. Campaign windows are derived
    * deterministically from `orders` keys (contiguous 0..N-1) mapped
    * into the events' date range, so both engines build the identical
    * interval set. The naive BETWEEN join has no equi key — Spark
    * executes it as a BroadcastNestedLoop (single task once the
    * interval side outgrows the broadcast ceiling); [[operators
    * .RangeJoin]] manufactures the equi key by bin-bucketing the date
    * axis, so Catalyst sees an ordinary equi-join + residual filter.
    * binWidth=8 days ≈ the typical window length (2–8 days) keeps
    * interval replication ≤ 2 rows. Oracle: DuckDB evaluates the
    * plain BETWEEN form. */
  def q52RangeCampaignJoin(spark: SparkSession, dir: String): DataFrame = {
    val points = Tables.events(spark, dir)
      .select(col("user_id"), col("value"),
        unix_date(to_date(col("ts"))).as("day"))
    val anchor = to_date(lit("2024-01-01"))
    val cIdx = expr("o_orderkey div 300")
    val campaigns = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 300 === 0)
      .select(
        col("o_orderkey").as("campaign_id"),
        unix_date(date_add(anchor, (cIdx % 28).cast("int"))).as("lo_day"),
        unix_date(date_add(anchor, (cIdx % 28 + cIdx % 7 + 1).cast("int"))).as("hi_day"))
    RangeJoin.pointInInterval(points, campaigns, "day", "lo_day", "hi_day", binWidth = 8)
      .groupBy("campaign_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 6).as("total_value"))
  }

  /** q53: multi-grain rollup — (type, day), (type), and grand-total
    * grains in ONE pass via `rollup` + `grouping_id`. The Expand
    * operator emits one replica per grain BEFORE the partial
    * aggregate, so map-side combine collapses each grain locally and
    * the shuffle carries ≤ |grains|·|groups| rows — at 100 TB this
    * replaces N separate scans of the fact table (the reference
    * rebuilds daily/coin/total grains as separate queries) with one.
    * Oracle: DuckDB GROUP BY ROLLUP + GROUPING_ID (verified to share
    * Spark's bitmask convention). */
  def q53RollupGrains(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("date"), col("value"))
      .rollup("event_type", "date")
      .agg(
        grouping_id().as("grain"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("sum_value"),
        round(avg("value"), 6).as("avg_value"))

  /** q54: long→wide pivot of daily per-type value sums (the
    * reference's whale-chart pivot: dreambot_whale_chart.py pivots
    * daily balances to one column per bucket before charting). Pivot
    * values are EXPLICIT — Spark otherwise runs a separate distinct
    * job to discover them, an extra fact-table scan that matters at
    * 100 TB; with fixed values the plan is a single groupBy over
    * conditional aggregates (exactly the oracle's CASE WHEN form). */
  def q54PivotDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("date"), col("event_type"), col("value"))
      .groupBy("date")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum("value"), 6))

  /** q55: deterministic stratified sampling — per-stratum keep rates
    * (5% of clicks … 100% of signups: downsample the head, keep the
    * tail, the standard class-rebalance step for training data). The
    * keep decision is a pure hash predicate on (event_id, user_id) —
    * no RNG, no `sample()` (whose seed is partition-dependent and
    * irreproducible under repartitioning), so the sample is stable
    * across runs, partitionings, AND engines — the DuckDB oracle
    * evaluates the identical arithmetic. Ids are pre-reduced mod a
    * prime BEFORE the Knuth multiply so the product stays inside
    * int64 for ANY id (raw id × 2654435761 overflows past id ≈
    * 3.5e9 — an ANSI ArithmeticException at exactly the 100 TB scale
    * the predicate must survive; xxhash64 would mix better but has no
    * DuckDB twin, and the oracle IS the point of this arithmetic).
    * Filter is codegen'd and pushdown-eligible: at 100 TB the scan
    * itself skips non-sampled row groups where stats allow. */
  def q55StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = typedLit(Map(
      "click" -> 50L, "view" -> 100L, "error" -> 200L,
      "purchase" -> 500L, "signup" -> 1000L))
    val mix = pmod(col("event_id"), lit(1000003L)) * lit(2654435761L) +
      pmod(col("user_id"), lit(1000003L))
    Tables.events(spark, dir)
      .where(pmod(mix, lit(1000L)) <
        coalesce(element_at(rate, col("event_type")), lit(0L)))
      .select(col("event_id"), col("event_type"), col("user_id"),
        round(col("value"), 6).as("value"))
  }

  /** q56: approximate distinct counts per stratum — HyperLogLog++
    * (`approx_count_distinct`) and a Datasketches HLL sketch column
    * (`hll_sketch_agg` → estimate). Both are MERGEABLE sketches with
    * map-side partials: the shuffle carries one ~KB sketch per
    * (partition, group) instead of the distinct-key set, which is the
    * only form of COUNT(DISTINCT) that survives 100 TB (exact
    * count-distinct shuffles every key). Rows-only gate (sketch
    * estimates are engine-specific); AnalyticsInvariantsSpec bounds
    * the relative error against the exact count and proves sketch
    * mergeability (daily sketches unioned ≡ direct sketch). */
  def q56ApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_rows"),
        approx_count_distinct("user_id").as("approx_users"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("hll_users"))

  /** q57: the analytic-window function suite over per-asset daily
    * price series — lag/lead, ntile, percent_rank, cume_dist,
    * first/nth_value — one window spec, one sort, zero joins (the
    * reference computes lag/lead/first_value piecemeal across
    * core_coin_market_data and wallet_profits; this is the
    * consolidated single-pass form). All functions share ONE
    * (asset)-hash shuffle + per-partition sort; at 100 TB the only
    * scaling axis is per-asset series length, same as q3/q36. */
  def q57WindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).as("price"))
    val w = Window.partitionBy("asset").orderBy("date")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(
      col("asset"), col("date"), col("price"),
      round(lag("price", 1).over(w), 6).as("prev_price"),
      round(lead("price", 1).over(w), 6).as("next_price"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"),
      round(first("price").over(run), 6).as("first_price"),
      round(nth_value(col("price"), 2).over(run), 6).as("second_price"))
  }

  /** q58: sliding-window document chunking (context-window prep) —
    * every document fanned out into 200-char chunks on a 150-char
    * stride. See [[text.TextOps.chunkDocs]]; oracle reproduces the
    * fan-out with DuckDB GENERATE_SERIES + SUBSTRING. */
  def q58DocChunks(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocs(Tables.documents(spark, dir), "doc_id", "text",
      chunkSize = 200, stride = 150)

  /** q59: deterministic shard assignment — the training-data
    * interleave/shuffle step. Every document gets a pseudo-random but
    * REPRODUCIBLE global order (multiplicative scramble of its id, no
    * RNG, no partition-dependent seed) and from it a shard and a
    * within-shard position. The write path is
    * `repartition(shard)` + `sortWithinPartitions(pos)` +
    * `partitionBy(shard)` — one shuffle, each shard written as one
    * sorted run; at 100 TB shards stream out in parallel with no
    * global sort (the scramble IS the shuffle; a total ORDER BY would
    * serialize). The registry query materializes the assignment; the
    * oracle replays the identical arithmetic. */
  def q59ShardAssign(spark: SparkSession, dir: String): DataFrame = {
    val nShards = 8
    // pre-reduce mod a prime so the multiply can't overflow int64 at
    // any doc_id (see q55); ids colliding mod 1000003 tie-break on
    // doc_id, so the order stays total
    val scramble = pmod(
      pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    val shard = pmod(col("scramble"), lit(nShards.toLong))
    val w = Window.partitionBy("shard").orderBy("scramble", "doc_id")
    Tables.documents(spark, dir)
      .select(col("doc_id"), scramble.as("scramble"))
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  /** q60: per-source quota cap ("domain cap") — keep at most K
    * documents per source, preferring longer documents (the
    * per-domain page cap every web-scale corpus applies so one site
    * cannot dominate training). Same WindowGroupLimit shape as q2:
    * Spark pushes the rank filter into a per-partition top-K before
    * the shuffle, so the exchange carries ≤ K rows per (partition,
    * source) — the 100 TB cost is the scan, not the sort. */
  def q60DomainCap(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("quota_rank", row_number().over(w))
      .where(col("quota_rank") <= k)
  }

  /** q61: benchmark decontamination — training docs sharing ≥ 5
    * distinct 3-gram shingles with the (stand-in) eval set
    * `doc_id % 20 == 0`. See [[similarity.Dedup.decontaminate]] for
    * the plan and the n=8..13 production grain; measured here the
    * real contaminated pairs share 78+ shingles vs ≤ 3 background
    * overlap, so the threshold has a 25× separation margin.
    * maxDf=100 engages the train-side rare/hot decomposition (the
    * small-n safety rail: a stopword shingle joins against candidate
    * pairs, not the whole eval side); copied benchmark text has low
    * df, so the pair set — and the exact raw-shingle DuckDB oracle —
    * is unchanged at every tested SF. */
  def q61Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.decontaminate(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3, minShared = 5, maxDf = 100)
  }

  /** q90: q61's decontamination through the bloom pre-filter — the
    * eval side's shingle hashes become ONE bounded filter
    * (graft_bloom_agg), the train scan keeps bloom-positive shingles
    * only, and the exact join runs on the survivors. Same pairs, same
    * counts, same oracle SQL as the exact semantics (false positives
    * die in the join; false negatives are impossible), but the join
    * shuffle carries |matches| + fpp·|train| rows instead of every
    * train shingle — at a TB corpus against an MB benchmark that is
    * the difference between shuffling the corpus and shuffling
    * (almost) nothing. See [[similarity.Dedup.decontaminateBloom]]. */
  def q90DecontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.decontaminateBloom(
      docs.where(col("doc_id") % 20 =!= 0),
      docs.where(col("doc_id") % 20 === 0),
      "doc_id", "text", n = 3, minShared = 5)
  }

  /** q91: deterministic PRIORITY SAMPLING (Duffield–Lund–Thorup) —
    * weight-proportional without-replacement draws of k docs per
    * source, with the scheme's unbiased subset-sum estimator
    * (est_weight = max(w, τ), τ = the (k+1)-th priority). Priority
    * q_i = w_i/u_i with u_i hash-uniform; top-k by priority IS the
    * sample. Two determinism decisions make this hash-oracle-able
    * where the textbook scheme is not:
    *   - u_i comes from the engine-reproducible mod-prime mix (the
    *     q55/q74 posture), not a RNG — same doc, same draw, in any
    *     engine;
    *   - the priority is ONE exact integer-valued multiply (w·10⁶ <
    *     2⁵³) and ONE division — IEEE requires division to be
    *     correctly rounded, so Spark and DuckDB produce bit-identical
    *     doubles. The E-S formulation (u^(1/w)) needs pow/ln, which
    *     no standard requires correctly rounded — a one-ulp libm
    *     disagreement could flip a rank at the cutoff. Priority
    *     sampling has the strictly-safer arithmetic profile AND the
    *     better estimator story, which is why it is the form shipped.
    * Plan: narrow scan-side arithmetic, one rank window kept ≤ k+1 by
    * the WindowGroupLimit pushdown (q81's shape), a |sources|-row
    * broadcast τ table — no data-sized shuffle beyond the window's
    * own source-hash exchange. */
  def q91PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    val k = 10
    val pr = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        greatest(col("n_chars"), lit(1L)).as("weight"),
        (((col("doc_id") % 1000003L) * 2654435761L) % 1000000L + 1L).as("__m"))
      .withColumn("priority",
        col("weight").cast("double") * lit(1000000.0d) / col("__m").cast("double"))
    val w = Window.partitionBy("source")
      .orderBy(col("priority").desc, col("doc_id").asc)
    val kept = pr.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k + 1)
    val tau = kept.groupBy("source")
      .agg(when(max("rk") === k + 1, min("priority")).as("tau"))
    kept.where(col("rk") <= k)
      .join(broadcast(tau), Seq("source"))
      .select(col("source"), col("doc_id"), col("weight"), col("priority"),
        coalesce(greatest(col("weight").cast("double"), col("tau")),
          col("weight").cast("double")).as("est_weight"))
  }

  /** q92: trailing-7-day correlation per pair per day from a
    * MERGEABLE CO-MOMENT TABLE — the q86/q87 sketch-table posture
    * applied to pair statistics, closing the family: HLL merges
    * cardinalities, KLL merges ranks, this merges correlations. One
    * fact pass builds the daily table at (date, pair) grain holding
    * (n, Σx, Σy, Σxy, Σx², Σy²); any trailing window is then a
    * |days·pairs|-row range merge that SUMS the moments — never a
    * fact re-scan, and the window width never multiplies fact-table
    * work (the naive form re-joins the daily prices per window).
    *
    * The moments are DECIMAL, not double, and that is the point: sum
    * order varies with partitioning, so double partials would make
    * the stored table's bytes run-dependent — decimal addition is
    * exact and commutative, giving the same deterministic-bytes
    * story as q84's integer ranks and the KLL sketch's fixed coins
    * (prices enter rounded at 1e-6, so decimal(18,6) loses nothing;
    * products at (37,12) and sums at (38,12) cannot overflow this
    * panel by ~30 orders of magnitude). Pearson's r then comes out
    * of the exact sums in double (the only non-exact step), clamped
    * and NULLed like q88, rounded at 1e-6 — the q37 cross-engine
    * margin, protecting against the one remaining drift source
    * (decimal→double casts are correctly rounded per IEEE, but the
    * few double multiplies after them each round once). Pairwise
    * semantics per window: a pair contributes a day's moment row
    * only when both assets traded that day (q89's in-row pair
    * generation — no join in the build), and the output grain is the
    * pair's own observed days (q85's per-observed-day posture): a
    * trailing estimate exists exactly where the pair printed. */
  def q92CorrWindow(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("date"), col("event_type").as("asset"), col("value"))
      .groupBy("date", "asset")
      .agg(round(max("value"), 6).cast("decimal(18,6)").as("price"))
    val byDate = daily.groupBy("date")
      .agg(collect_list(struct(col("asset"), col("price"))).as("xs"))
    // the daily co-moment table — at 100 TB this is what gets STORED
    val moments = byDate.select(col("date"), explode(expr(
        """flatten(transform(xs, a ->
          |  filter(
          |    transform(xs, b -> if(a.asset < b.asset,
          |      struct(a.asset as asset_a, b.asset as asset_b,
          |             a.price as pa, b.price as pb),
          |      null)),
          |    p -> p is not null)))""".stripMargin)).as("p"))
      .select(col("date"), col("p.asset_a"), col("p.asset_b"),
        lit(1L).as("n"),
        col("p.pa").as("sx"), col("p.pb").as("sy"),
        (col("p.pa") * col("p.pb")).as("sxy"),
        (col("p.pa") * col("p.pa")).as("sxx"),
        (col("p.pb") * col("p.pb")).as("syy"))
    // trailing merge on the aggregated table (q86's range-join shape,
    // keyed by pair): decimal sums are EXACT, so any chop of the
    // window merges to the same moments
    val win = moments.as("d")
      .join(moments.as("s"),
        col("s.asset_a") === col("d.asset_a") &&
          col("s.asset_b") === col("d.asset_b") &&
          col("s.date").between(date_sub(col("d.date"), 6), col("d.date")))
      .groupBy(col("d.date").as("day"),
        col("d.asset_a").as("asset_a"), col("d.asset_b").as("asset_b"))
      .agg(sum(col("s.n")).as("n_days"),
        sum(col("s.sx")).as("sx"), sum(col("s.sy")).as("sy"),
        sum(col("s.sxy")).as("sxy"),
        sum(col("s.sxx")).as("sxx"), sum(col("s.syy")).as("syy"))
    // Pearson from exact moments; double only here, same op order as
    // the oracle, variance clamped at 0 so FP residue cannot sqrt(<0)
    val nd = col("n_days").cast("double")
    def d(c: String) = col(c).cast("double")
    val va = greatest(nd * d("sxx") - d("sx") * d("sx"), lit(0.0d))
    val vb = greatest(nd * d("syy") - d("sy") * d("sy"), lit(0.0d))
    win.select(col("day"), col("asset_a"), col("asset_b"), col("n_days"),
      round(try_divide(nd * d("sxy") - d("sx") * d("sy"),
        sqrt(va) * sqrt(vb)), 6).as("corr7"))
  }

  /** q93: SCD Type-2 dimension history ([[operators.Scd.scd2History]])
    * — the lineage-keeping sibling of the reference's keep-latest
    * upsert (dune DELETE+INSERT keeps only the newest state; SCD2
    * keeps every state with its validity interval). Change stream =
    * each wallet's CLOSING activity tier per day (daily close via the
    * q2 row_number dedupe, tier = low/mid/high buckets of the closing
    * value — coarse on purpose, so the no-op-suppression step does
    * real work: consecutive same-tier days merge into ONE version
    * interval). Output: versioned intervals with half-open
    * [valid_from, valid_to) bounds and the is_current flag. Plan: the
    * dedupe window shuffles on (wallet, day), then both SCD window
    * passes share one (wallet) exchange and ONE sort — version
    * numbering and interval close-out are the same sort order.
    * Oracle: identical window chain in DuckDB. */
  def q93Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dayW = Window.partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("ts").desc, col("event_id").desc)
    val closing = ev
      .withColumn("__rn", row_number().over(dayW))
      .where(col("__rn") === 1)
      .select(
        col("user_id").as("wallet"),
        to_date(col("ts")).as("date"),
        when(col("value") < 25, "low")
          .when(col("value") < 75, "mid")
          .otherwise("high").as("tier"))
    Scd.scd2History(closing, Seq("wallet"), "date", Seq("tier"))
      .select("wallet", "version", "tier", "valid_from", "valid_to", "is_current")
  }

  /** q94: snapshot differencing / CDC extract
    * ([[operators.Scd.snapshotDiff]]) — recover the incremental change
    * feed BETWEEN two full snapshots: per-wallet activity profiles
    * where the old snapshot misses a planted key range (→ inserts),
    * the new snapshot drops another (→ deletes), and the odd-id
    * events only the new snapshot includes shift nearly every shared
    * profile (→ updates). This is the consumer-side complement of
    * [[sources.Publish]]: versions are immutable FULL snapshots, so
    * diffing v=N against v=N+1 (via [[sources.Publish.readVersion]])
    * yields exactly this feed — storage stays simple (no delta log),
    * CDC becomes a query. Plan: two fact aggregations + one
    * full-outer shuffle join on the key; classification is null-safe
    * column algebra inside codegen. Oracle: FULL OUTER JOIN +
    * IS DISTINCT FROM classification. */
  def q94SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def snap(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("total_value"))
    val oldSnap = snap(ev.where(col("event_id") % 2 === 0 && col("user_id") % 50 =!= 3))
    val newSnap = snap(ev.where(col("user_id") % 50 =!= 7))
    Scd.snapshotDiff(oldSnap, newSnap, Seq("user_id"), Seq("n_events", "total_value"))
  }

  /** q95: maximum drawdown per asset — the canonical risk statistic
    * over the daily price series (the chart-serving sibling of q70's
    * OHLC: the reference's market-data stack feeds exactly this kind
    * of per-coin risk panel). Running peak via an unbounded-preceding
    * window max, drawdown = (peak − price)/peak ROUNDED at 1e-6
    * before the argmax so the trough pick orders on values both
    * engines agree on bit-for-bit (the rank tie-breaks by date, so
    * equal-drawdown days resolve deterministically). Plan: ONE hash
    * exchange on asset serves both window passes (same partition and
    * sort key — Catalyst reuses the sort), and the WindowGroupLimit
    * pushdown keeps the rank scan at one row per asset. peak > 0 by
    * construction here (prices are positive); a library caller with
    * zero prices would want try_divide. */
  def q95Drawdown(spark: SparkSession, dir: String): DataFrame = {
    val prices = Tables.prices(spark, dir)
    val wRun = Window.partitionBy("asset").orderBy("date")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = prices
      .withColumn("peak", max("price").over(wRun))
      .withColumn("dd", round((col("peak") - col("price")) / col("peak"), 6))
    val wPick = Window.partitionBy("asset")
      .orderBy(col("dd").desc, col("date").asc)
    dd.withColumn("__rk", row_number().over(wPick))
      .where(col("__rk") === 1)
      .select(col("asset"), col("dd").as("max_drawdown"),
        col("date").as("trough_date"),
        col("peak").as("peak_price"),
        col("price").as("trough_price"))
  }

  /** q96: trailing-28-day rolling anomaly scan — the WINDOWED form of
    * q76's global z-score fences (a global mean is blind to regime
    * changes; monitoring flags deviations from the RECENT baseline).
    * The determinism posture is q92's: the range window sums DECIMAL
    * price moments (exact, commutative — frame-evaluation order
    * cannot change the bytes), and mean/stddev/z emerge in double
    * only at the end, identical operation order both engines, rounded
    * at 1e-6. The anomaly flag compares the ROUNDED z — both engines
    * flag from identical inputs. Plan: one fact pass to daily grain,
    * then the window runs on the |assets·days|-row aggregate with one
    * (asset) exchange; the 28-day width is a range frame over the
    * epoch-day integer, never a fact-table fan-out. Windows need ≥ 8
    * observations before they judge (cold-start suppression). */
  def q96RollingAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg(round(max("value"), 6).cast("decimal(18,6)").as("price"))
      .withColumn("day_i", datediff(col("date"), lit("1970-01-01").cast("date")))
    val w = Window.partitionBy("asset").orderBy("day_i").rangeBetween(-27, 0)
    val stats = daily
      .withColumn("n_window", count(lit(1)).over(w))
      .withColumn("sx", sum("price").over(w))
      .withColumn("sxx", sum(col("price") * col("price")).over(w))
    val nd = col("n_window").cast("double")
    def d(c: String) = col(c).cast("double")
    val mean = d("sx") / nd
    val variance = greatest(
      (nd * d("sxx") - d("sx") * d("sx")) / (nd * (nd - lit(1.0d))), lit(0.0d))
    val z = round(try_divide(d("price") - mean, sqrt(variance)), 6)
    stats.where(col("n_window") >= 8)
      .select(col("asset"), col("date"), d("price").as("price"),
        col("n_window"),
        round(mean, 6).as("mean_28d"),
        round(sqrt(variance), 6).as("stddev_28d"),
        z.as("zscore"),
        (abs(z) > 3.0d).as("is_anomaly"))
  }

  /** q97: incremental view maintenance ([[operators.Ivm.applyDiff]])
    * — maintain a tier-level aggregate (users, events, total value
    * per activity tier) ACROSS a snapshot change by merging the
    * change feed into the old aggregate instead of re-aggregating
    * the new snapshot: retract each changed row's old measures from
    * its old tier, assert its new measures into its new tier. The
    * tier is DERIVED from a measure (event count), so the planted
    * snapshot change (q94's key ranges plus the odd-id events only
    * the new snapshot includes) migrates most users across tiers —
    * the feed's group columns do real work, not just its measures.
    * Exactness: total_value ACCUMULATES as DECIMAL, so retract/assert
    * is exact and commutative and the maintained table equals the
    * full re-aggregation BIT-FOR-BIT; the final column is then
    * presented as DOUBLE (one correctly-rounded IEEE cast of
    * identical decimal values on both engines) because the gate's two
    * read paths stringify a decimal column differently (pyarrow keeps
    * scale-6 text, DuckDB's df() renders the float) — r7 failed
    * q97's hash on exactly that, with bytes proven equal. Oracle:
    * DuckDB computes the full re-aggregation of the new snapshot
    * directly — the hash match IS the maintenance-correctness proof
    * (the q90 posture: the oracle states the semantics, the plan
    * earns its shape). Plan: the
    * merge is a 3-way union (|tiers| base + 2×|changes| feed rows)
    * into one hash aggregation — the fact table feeds the snapshots
    * here only because the demo derives them; a maintained
    * deployment reads base and feed from storage and never re-scans
    * facts. */
  def q97IvmAggregate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def snap(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)")).as("total_value"))
      .withColumn("tier",
        when(col("n_events") < 60, "small")
          .when(col("n_events") < 72, "mid")
          .otherwise("large"))
    val oldSnap = snap(ev.where(col("event_id") % 2 === 0 && col("user_id") % 50 =!= 3))
    val newSnap = snap(ev.where(col("user_id") % 50 =!= 7))
    val base = oldSnap.groupBy("tier").agg(
      count(lit(1)).as("n_users"),
      sum("n_events").as("n_events"),
      sum("total_value").as("total_value"))
    val feed = Scd.snapshotDiff(oldSnap, newSnap, Seq("user_id"),
      Seq("tier", "n_events", "total_value"))
    Ivm.applyDiff(base, feed, Seq("tier"),
      Seq("n_events", "total_value"), "n_users")
      .withColumn("total_value", col("total_value").cast("double"))
  }

  /** q98: interval-overlap join + allocation
    * ([[operators.RangeJoin.intervalOverlap]]) — apportion each
    * campaign's budget across the wallet activity-tier REGIMES that
    * overlapped it in time: q93's SCD2 validity intervals (open ones
    * closed at the day after the last observed date) overlap-joined
    * against q52's campaign windows, overlap measured in inclusive
    * days, budget split proportionally. The join has NO equi key —
    * the naive plan is a BroadcastNestedLoop — so both interval sets
    * replicate to 8-day bins and meet in an ordinary equi-join; a
    * pair shares several bins, so the rewrite dedupes STRUCTURALLY
    * (keep the pair only in the bin holding the overlap's start)
    * instead of paying a distinct shuffle. Allocation is exact
    * integer milli-units via floor division (the q23 ppm posture:
    * DuckDB `//` floors where Spark `div` truncates, coinciding on
    * the all-positive operands here) — no float division, no
    * rounding-boundary hazard. Oracle: plain theta join + identical
    * integer arithmetic. */
  def q98IntervalAllocation(spark: SparkSession, dir: String): DataFrame = {
    val hist = q93Scd2History(spark, dir)
    val maxDay = Tables.events(spark, dir)
      .agg(max(to_date(col("ts"))).as("max_date"))
    val tiers = hist.crossJoin(broadcast(maxDay))
      .select(col("wallet"), col("tier"),
        unix_date(col("valid_from")).cast("long").as("t_lo"),
        (unix_date(coalesce(col("valid_to"), date_add(col("max_date"), 1)))
          .cast("long") - 1).as("t_hi"))
    val anchor = to_date(lit("2024-01-01"))
    val cIdx = expr("o_orderkey div 300")
    val campaigns = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 300 === 0)
      .select(
        col("o_orderkey").as("campaign_id"),
        unix_date(date_add(anchor, (cIdx % 28).cast("int"))).cast("long").as("c_lo"),
        unix_date(date_add(anchor, (cIdx % 28 + cIdx % 7 + 1).cast("int"))
          ).cast("long").as("c_hi"))
    val pairs = RangeJoin.intervalOverlap(tiers, campaigns,
        "t_lo", "t_hi", "c_lo", "c_hi", binWidth = 8)
      .withColumn("od",
        least(col("t_hi"), col("c_hi")) - greatest(col("t_lo"), col("c_lo")) + lit(1L))
    val wCampaign = Window.partitionBy("campaign_id")
    pairs.groupBy("campaign_id", "tier")
      .agg(count(lit(1)).as("n_intervals"), sum("od").as("overlap_days"))
      .withColumn("campaign_days", sum("overlap_days").over(wCampaign))
      .withColumn("budget", (col("campaign_id") % 7 + 1) * lit(1000L))
      .withColumn("allocated_milli", call_function("div",
        col("budget") * col("overlap_days") * lit(1000L), col("campaign_days")))
      .select("campaign_id", "tier", "n_intervals", "overlap_days", "allocated_milli")
  }

  /** q99: PII detection + redaction scan ([[text.TextOps.piiScrub]])
    * — the scrubbing pass of corpus curation: emails, NANP phone
    * numbers, and dotted-quad IPv4s counted and replaced with
    * placeholder tokens in ONE narrow codegen'd pass (`regexp_count`
    * + `regexp_replace`, no shuffle at any scale). The synthetic
    * corpus carries no PII, so deterministic spans are PLANTED from
    * doc_id (the q47/q52 planted-input pattern) — including a decoy
    * suffix (`ver 1.2 by a@b desk`) that must SURVIVE: a 2-octet
    * version string is not an IP and a TLD-less `a@b` is not an
    * email, so the oracle checks precision, not just recall. Every
    * pattern stays inside the Java-regex ∩ RE2 subset (classes,
    * bounded quantifiers, `\b`; no lookaround/backreferences), which
    * is what lets DuckDB re-run the IDENTICAL pattern strings and
    * hash-match the redacted text itself. Patterns apply in sequence
    * over progressively redacted text (email before IPv4, so an
    * email's host-part can't double-count). */
  def q99PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    def s(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("string")
    val planted = Tables.documents(spark, dir).select(d, concat(
      col("text"),
      when(d % 3 === 0,
        concat(lit(" mail u"), s(d), lit("@ex"), s(d % 10), lit(".org")))
        .otherwise(lit("")),
      when(d % 5 === 0,
        concat(lit(" call 415-"), lpad(s(d % 1000), 3, "0"),
          lit("-"), lpad(s(d % 10000), 4, "0")))
        .otherwise(lit("")),
      when(d % 7 === 0,
        concat(lit(" host 10."), s(d % 256), lit(".0."), s((d * 7) % 256)))
        .otherwise(lit("")),
      when(d % 2 === 0, lit(" ver 1.2 by a@b desk")).otherwise(lit("")))
      .as("text"))
    TextOps.piiScrub(planted, "doc_id", "text")
  }

  /** q100: Z-order data skipping ([[graft.sources.ZOrder]]) — the
    * lakehouse stats-manifest pattern: events clustered along the
    * Morton curve of (user_id, value) into ~32 files with a per-file
    * min/max stats table, then a 2-D box predicate answered by
    * reading ONLY the files whose stats box intersects it. Pruning is
    * an optimization, never semantics: the predicate re-applies to
    * the surviving rows, so the DuckDB oracle (same filter +
    * aggregate over the WHOLE table) hash-checks that skipping
    * dropped no needed file — a stats bug cannot pass the gate. The
    * layout is built once per (run, SF) by tools.Scratch (the q42
    * lifecycle); a recurring 100 TB deployment pays the clustering
    * shuffle at write time and every box query thereafter reads
    * O(selectivity) files instead of the table. Sums accumulate as
    * decimal (exact, order-independent) and present as double (the
    * q97 posture — a decimal OUTPUT column trips the gate's
    * asymmetric decimal stringification, r7's only hash misses). */
  // z-ordered + bloom-indexed copy of events, built once per
  // (run, SF) — shared by q100 (box pruning) and q101 (point
  // lookup); the curve dims and the bloom key index DIFFERENT
  // columns on one layout, which is the point of the stats manifest
  private def zIndexedEvents(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_zidx", dir) { tableDir =>
      graft.sources.ZOrder.writeZOrdered(
        Tables.events(spark, dir), tableDir,
        colA = "user_id", colB = "value", bits = 8, numFiles = 32,
        keyCol = Some("event_id"))
    }

  def q100ZorderPrune(spark: SparkSession, dir: String): DataFrame = {
    val table = zIndexedEvents(spark, dir)
    graft.sources.ZOrder.prunedRead(spark, table, 3L, 7L, 20.0, 80.0)
      .where(col("user_id").between(3, 7) && col("value").between(20.0, 80.0))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q101: bloom point-lookup over the same z-ordered layout
    * ([[graft.sources.ZOrder.prunedReadByKeys]]) — the skipping case
    * min/max boxes CANNOT serve: after the z-shuffle a sequential
    * event_id is uncorrelated with the curve dims, so every file's
    * id range spans nearly the whole domain and box pruning keeps
    * everything; the per-file bloom column (graft_bloom_agg over
    * xxhash64(event_id), built into the `_zstats` manifest at write
    * time) prunes to ~1 file per probed key + fpp stragglers. False
    * positives only add file reads (the predicate re-applies), false
    * negatives are impossible — so the full-table DuckDB oracle
    * hash-checks the pruning, q100's integrity posture. At 100 TB
    * this is the needle-in-haystack path: O(keys) file reads instead
    * of a table scan, off a driver-sized manifest. */
  def q101BloomLookup(spark: SparkSession, dir: String): DataFrame =
    graft.sources.ZOrder
      .prunedReadByKeys(spark, zIndexedEvents(spark, dir), Seq(5L, 123L, 456L))
      .where(col("event_id").isin(5L, 123L, 456L))
      .select("event_id", "event_type", "user_id", "value")

  /** q103: quantile-bucketed Z-order
    * ([[graft.sources.ZOrder.writeZOrderedQuantile]]) — q100's box
    * pruning over the exact-RANK bucket layout, closing ZOrder's
    * documented skewed-column trade: rank buckets split row MASS
    * uniformly (PrefixSum two-pass scan, no single-task window, no
    * driver quantile array), so a heavy-hitter value can no longer
    * collapse the table into one giant file. Read paths are shared
    * with q100 verbatim — stats still store true column min/max — and
    * the full-scan oracle hash-checks that pruning over the new
    * layout drops nothing (ZOrderSpec carries the balance proof on a
    * planted 90%-skew column, where the affine layout degenerates). */
  private def zqIndexedEvents(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_zqidx", dir) { tableDir =>
      graft.sources.ZOrder.writeZOrderedQuantile(
        Tables.events(spark, dir), tableDir,
        colA = "user_id", colB = "value", tieBreaker = "event_id",
        bits = 8, numFiles = 32)
    }

  def q103ZorderQuantile(spark: SparkSession, dir: String): DataFrame = {
    val table = zqIndexedEvents(spark, dir)
    graft.sources.ZOrder.prunedRead(spark, table, 10L, 20L, 30.0, 60.0)
      .where(col("user_id").between(10, 20) && col("value").between(30.0, 60.0))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q104: small-file compaction roundtrip
    * ([[graft.sources.Compact]]) — the versioned-table maintenance
    * loop end-to-end: the events table published as a deliberately
    * fragmented 64-file version, bin-packed into ~target-size files
    * as a NEW atomic Publish version (one broadcast-join + one range
    * repartition pass; shuffle = the bytes being compacted), then the
    * fragmented version vacuumed. The query aggregates the LIVE
    * (compacted) table; the DuckDB oracle aggregates the ORIGINAL
    * events — the hash match proves layout maintenance changed not
    * one row (the q100 posture: maintenance must be invisible to the
    * gate). Built once per (run, SF) by tools.Scratch. */
  private def compactedEventsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_compact", dir) { tableDir =>
      graft.sources.Publish.publish(
        Tables.events(spark, dir).repartition(64), tableDir): Unit
      graft.sources.Compact.compactPublished(
        spark, tableDir, targetBytes = 64L * 1024 * 1024): Unit
      graft.sources.Publish.vacuum(tableDir, keep = 0): Unit
    }

  def q104CompactRoundtrip(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Publish.read(spark, compactedEventsRoot(spark, dir))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))

  /** q105: INCREMENTAL compaction roundtrip
    * ([[graft.sources.Compact.compactPublishedIncremental]]) — the
    * Delta-OPTIMIZE cost model on q104's maintenance loop: a mixed
    * layout (2 well-sized files + 30 fragments, staged through
    * `publishStaged`) is compacted by carrying the big files
    * BYTE-IDENTICALLY and rewriting only the fragments — maintenance
    * cost ∝ fragmentation, not table size; at 100 TB with 0.1% daily
    * fragmentation that is a 1000× scan difference. The assembled
    * version rides the same validate→promote path, the fragmented
    * version is vacuumed, and the live table's aggregate is
    * hash-checked against a full-scan oracle over the ORIGINAL
    * events (the q104 posture). CompactSpec carries the
    * byte-identity (SHA-256) and carried/rewritten-count proofs. */
  private def incCompactRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_icompact", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      graft.sources.Publish.publishStaged(spark, tableDir) { staging =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staging)): Unit
        ev.where(col("event_id") % 10 =!= 0).repartition(2)
          .write.mode("append").parquet(staging)
        ev.where(col("event_id") % 10 === 0).repartition(30)
          .write.mode("append").parquet(staging)
      }: Unit
      graft.sources.Compact.compactPublishedIncremental(
        spark, tableDir, targetBytes = 256L * 1024): Unit
      graft.sources.Publish.vacuum(tableDir, keep = 0): Unit
    }

  def q105IncrementalCompact(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Publish.read(spark, incCompactRoot(spark, dir))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(min("value"), 6).as("min_value"),
        round(max("value"), 6).as("max_value"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))

  /** q106: generic per-file stats pruning
    * ([[graft.sources.FileStats]]) — the skipping layer detached from
    * the Z curve: a plain TIME-CLUSTERED events layout (range
    * partition on ts — the layout event data lands in naturally) gets
    * a schema-driven `_fstats` manifest (min/max/null-count per named
    * column, bloom per named key) built in one read-back scan, and a
    * week-range query reads only the files whose ts-range intersects
    * it. Same integrity posture as q100/q101: the predicate
    * re-applies, the full-scan oracle hash-checks that pruning
    * dropped nothing. FileStatsSpec carries the stat-correctness,
    * all-null-file, bloom, and conjunction proofs. */
  private def statsIndexedEvents(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_fstats", dir) { tableDir =>
      Tables.events(spark, dir)
        .repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
        .write.parquet(tableDir)
      graft.sources.FileStats.build(spark, tableDir,
        cols = Seq("ts", "value"), keyCols = Seq("event_id"))
    }

  def q106StatsPrune(spark: SparkSession, dir: String): DataFrame = {
    val table = statsIndexedEvents(spark, dir)
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-17 00:00:00")
    graft.sources.FileStats
      .prunedRead(spark, table, Seq(graft.sources.FileStats.Between("ts", lo, hi)))
      .where(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q107: quantified sequence measures — the `A B* C` MATCH_RECOGNIZE
    * shape with aggregates over the quantified middle: every signup
    * anchor binds its first purchase within 10 days (q102's one-step
    * chain), and the instance MEASURES the views strictly between
    * anchor and purchase — count, first, last — with nulls for
    * unmatched instances (no purchase in gap). The Spark-first trick
    * is that `count(B) in (t0, tC)` needs NO per-anchor interval
    * join: build the per-user RUNNING view count once (one keyed
    * window), then two backward as-of lookups against that series
    * (at tC−1µs and at t0) difference to the exact interval count —
    * and the tC−1µs lookup's payload is simultaneously the LAST view
    * in the interval, while one forward as-of at t0+1µs (capped
    * below tC) is the FIRST. Four keyed shuffles total, each the
    * union+window as-of plan — nothing fans out per instance. Oracle
    * re-derives with a direct interval join + COUNT/MIN/MAX. */
  def q107FunnelMeasures(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val inst = Sequence.funnelInstances(
        ev, Seq("user_id"), "ts",
        anchorPredicate = col("event_type") === "signup",
        anchorCols = Seq("event_id"),
        steps = Seq(Sequence.Step("tc", col("event_type") === "purchase",
          10L * 86400000000L)))
      .withColumnRenamed("event_id", "anchor_id")
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"))
    val vcount = views.withColumn("cnt",
      count(lit(1)).over(Window.partitionBy("user_id").orderBy("vts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    val matched = inst.where(col("tc").isNotNull)
    val dead = inst.where(col("tc").isNull).select(
      col("anchor_id"), col("user_id"), col("t0"), col("tc"),
      lit(null).cast("long").as("views_between"),
      lit(null).cast("timestamp").as("first_view"),
      lit(null).cast("timestamp").as("last_view"))

    // views ≤ tC−1µs ≡ views < tC; the same lookup's time payload is
    // the last view in the open interval (nulled below if ≤ t0)
    val atC = AsOfJoin.asOf(
        matched.withColumn("__pc", col("tc") - expr("INTERVAL 1 MICROSECOND")),
        vcount, Seq("user_id"), "__pc", "vts", Seq("cnt"))
      .withColumnRenamed("vts", "lv").withColumnRenamed("cnt", "cntC")
    val at0 = AsOfJoin.asOf(
        atC.withColumn("__p0", col("t0")),
        vcount, Seq("user_id"), "__p0", "vts", Seq("cnt"))
      .withColumnRenamed("vts", "v0").withColumnRenamed("cnt", "cnt0")
    val fwd = AsOfJoin.asOfForward(
      at0.withColumn("__pf", col("t0") + expr("INTERVAL 1 MICROSECOND")),
      views.withColumnRenamed("vts", "fv"),
      Seq("user_id"), "__pf", "fv", Nil)

    fwd.select(
        col("anchor_id"), col("user_id"), col("t0"), col("tc"),
        (coalesce(col("cntC"), lit(0L)) - coalesce(col("cnt0"), lit(0L)))
          .as("views_between"),
        when(col("fv") < col("tc"), col("fv")).as("first_view"),
        when(col("lv") > col("t0"), col("lv")).as("last_view"))
      .unionByName(dead)
  }

  /** q108: DECLARED-SQL range join under the injected optimizer rule
    * ([[graft.plans.IntervalOverlapRewrite]]) — the q98 shape written
    * the way a SQL user writes it: a bare interval-overlap theta join
    * (`t.lo <= c.hi AND c.lo <= t.hi`, no equi key) over temp views,
    * which vanilla Spark can only plan as BroadcastNestedLoop. The
    * injected pre-CBO rule rewrites it into the bin equi-join with
    * exact compensation branches, so the DECLARED query gets the
    * operator's scale plan — and this registry entry hash-checks the
    * rewrite against a DuckDB oracle running the same theta join
    * verbatim (the strongest form of "the rule is semantics-
    * preserving"). Intervals: per-user activity span in epoch days;
    * campaigns: q98's order-derived windows. */
  def q108DeclaredRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(col("user_id").as("wallet"))
      .agg(
        unix_date(min(to_date(col("ts")))).cast("long").as("w_lo"),
        unix_date(max(to_date(col("ts")))).cast("long").as("w_hi"))
      .createOrReplaceTempView("graft_q108_spans")
    val anchor = to_date(lit("2024-01-01"))
    val cIdx = expr("o_orderkey div 300")
    Tables.orders(spark, dir)
      .where(col("o_orderkey") % 300 === 0)
      .select(
        col("o_orderkey").as("campaign_id"),
        unix_date(date_add(anchor, (cIdx % 28).cast("int"))).cast("long").as("c_lo"),
        unix_date(date_add(anchor, (cIdx % 28 + cIdx % 7 + 1).cast("int"))
          ).cast("long").as("c_hi"))
      .createOrReplaceTempView("graft_q108_campaigns")
    spark.sql(
      """SELECT campaign_id,
        |  COUNT(*) AS n_wallets,
        |  SUM(LEAST(w_hi, c_hi) - GREATEST(w_lo, c_lo) + 1) AS overlap_days
        |FROM graft_q108_spans w
        |JOIN graft_q108_campaigns c
        |  ON w.w_lo <= c.c_hi AND c.c_lo <= w.w_hi
        |GROUP BY campaign_id""".stripMargin)
  }

  /** q109: cross-dataset overlap estimation from KMV sketch tables
    * ([[similarity.Overlap]]) — the set-operation cardinality HLL
    * cannot answer: "how much of corpus B is already in corpus A?",
    * estimated from |sets|·k sketch rows instead of the exact
    * cross-corpus join. Three overlapping datasets are carved from
    * the 20 sources (A = src0–9, B = src5–14, C = src10–19 — B
    * genuinely shares half its documents with each neighbor), k = 64.
    * Unlike seeded-sketch designs, the WHOLE pipeline is
    * deterministic and cross-engine (md5-derived 60-bit content
    * hash, integer ranks, estimate divisions in identical IEEE
    * order), so union/Jaccard/intersection ESTIMATES themselves sit
    * under the hash gate — DuckDB re-derives them bit-for-bit.
    * OverlapSpec carries the mergeability and accuracy proofs. */
  def q109KmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val idx = substring(col("source"), 4, 10).cast("int")
    val members = Tables.documents(spark, dir)
      .select(idx.as("i"), col("text"))
      .select(explode(array(
        when(col("i") < 10, "A"),
        when(col("i") >= 5 && col("i") < 15, "B"),
        when(col("i") >= 10, "C"))).as("set_id"), col("text"))
      .where(col("set_id").isNotNull)
    Overlap.pairwiseOverlap(
      Overlap.kmvTable(members, "set_id", "text", 64), 64)
  }

  /** q110: stats-manifest maintenance through compaction
    * ([[graft.sources.FileStats.buildIncremental]]) — the manifest
    * twin of q105: after an incremental compaction, stat rows whose
    * data files were CARRIED re-point to the new version dir with
    * values untouched and nothing re-read; only the re-binned
    * fragments are scanned. Manifest upkeep thereby costs what the
    * compaction cost — ∝ fragmentation, not table size — and the old
    * version can be vacuumed because nothing references its paths
    * anymore. The query proves the loop end-to-end: fragmented
    * publish → stats → incremental compact → incremental stats
    * refresh → vacuum → a value-range pruned aggregate over the
    * refreshed manifest, hash-checked against a full-scan oracle. */
  private def statsMaintRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_smaint", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      graft.sources.Publish.publishStaged(spark, tableDir) { staging =>
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(staging)): Unit
        ev.where(col("event_id") % 10 =!= 0).repartition(2)
          .write.mode("append").parquet(staging)
        ev.where(col("event_id") % 10 === 0).repartition(30)
          .write.mode("append").parquet(staging)
      }: Unit
      val v1 = graft.sources.Publish.currentVersion(tableDir).get
      val v1Dir = s"$tableDir/v=$v1"
      graft.sources.FileStats.build(spark, v1Dir,
        cols = Seq("value"), keyCols = Seq("event_id"))
      graft.sources.Compact.compactPublishedIncremental(
        spark, tableDir, targetBytes = 256L * 1024): Unit
      val v2 = graft.sources.Publish.currentVersion(tableDir).get
      graft.sources.FileStats.buildIncremental(spark, s"$tableDir/v=$v2",
        cols = Seq("value"), keyCols = Seq("event_id"),
        priorFrom = Some(v1Dir)): Unit
      graft.sources.Publish.vacuum(tableDir, keep = 0): Unit
    }

  def q110StatsMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val root = statsMaintRoot(spark, dir)
    val live = s"$root/v=${graft.sources.Publish.currentVersion(root).get}"
    graft.sources.FileStats
      .prunedRead(spark, live,
        Seq(graft.sources.FileStats.Between("value", 20.0, 60.0)))
      .where(col("value") >= 20.0 && col("value") <= 60.0)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q111: nearest-centroid label screening — the label-quality
    * check a training-data pipeline runs before trusting its labels:
    * classify every embedding by the nearest class mean (squared
    * euclidean via ‖x‖² − 2x·c + ‖c‖², the q63 centroids in wide
    * form) and emit the (label, predicted) confusion matrix; off-
    * diagonal mass IS the mislabel-screen review population. Plan:
    * centroids are |labels| rows → broadcast; the scan is one pass
    * with the codegen'd graft_dot; argmin = min(struct(score, cand))
    * — no window, no shuffle beyond the final tiny aggregate.
    * Cross-engine exactness: centroids round at 1e-6 FIRST (the q63
    * posture — identical inputs), then float→double widening is
    * exact and both engines run the same index-order dot loops, so
    * scores are bit-identical and the (score, cand) argmin needs no
    * tolerance. */
  def q111LabelScreen(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cent = emb
      .select(col("label").as("cand"), posexplode(col("embedding")))
      .groupBy("cand", "pos").agg(round(avg("col"), 6).as("c"))
      .groupBy("cand").agg(
        expr("transform(array_sort(collect_list(struct(pos, c))), s -> s.c)")
          .as("cv"))
      .withColumn("cc", call_function("graft_dot", col("cv"), col("cv")))
    val x = emb.select(col("vec_id"), col("label"),
        expr("transform(embedding, v -> cast(v as double))").as("xd"))
      .withColumn("xx", call_function("graft_dot", col("xd"), col("xd")))
    x.crossJoin(broadcast(cent))
      .withColumn("score",
        col("xx") - lit(2.0d) * call_function("graft_dot", col("xd"), col("cv"))
          + col("cc"))
      .groupBy("vec_id", "label")
      .agg(min(struct(col("score"), col("cand"))).as("m"))
      .groupBy(col("label"), col("m.cand").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** q112: 3-dimensional z-order + the generic stats manifest
    * ([[graft.sources.ZOrder.zValueN]] + [[graft.sources.FileStats]])
    * — the two r8 skipping layers COMPOSED: events clustered along
    * the k=3 Morton curve of (user bucket, value bucket, epoch-day
    * bucket), with pruning served by FileStats' schema-driven
    * `_fstats` sidecar instead of ZOrder's bespoke 2-D `_zstats` —
    * one manifest format across layouts (the r9-ranked adapter,
    * closed). A 3-D box (user × value × week) then reads only files
    * whose three stat ranges all intersect it; the same full-scan
    * oracle posture as q100/q106 hash-checks losslessness. At 100 TB
    * this is the dashboard-slice shape: every dimension selective,
    * no single dimension selective ENOUGH — the curve bounds all
    * three per file where any linear layout bounds one. */
  private def z3IndexedEvents(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_z3idx", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      val bounds = ev.agg(
        min("user_id").as("lu"), max("user_id").as("hu"),
        min("value").as("lv"), max("value").as("hv"),
        min(unix_date(to_date(col("ts")))).as("ld"),
        max(unix_date(to_date(col("ts")))).as("hd")).collect()(0)
      import graft.sources.ZOrder.{affineBucket, zValueN}
      ev.withColumn("__z", zValueN(Seq(
          affineBucket(col("user_id"), lit(bounds.get(0)), lit(bounds.get(1)), 6),
          affineBucket(col("value"), lit(bounds.get(2)), lit(bounds.get(3)), 6),
          affineBucket(unix_date(to_date(col("ts"))).cast("long"),
            lit(bounds.get(4)), lit(bounds.get(5)), 6)), 6))
        .repartitionByRange(32, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(tableDir)
      graft.sources.FileStats.build(spark, tableDir,
        cols = Seq("user_id", "value", "ts"))
    }

  def q112Zorder3Prune(spark: SparkSession, dir: String): DataFrame = {
    val table = z3IndexedEvents(spark, dir)
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    import graft.sources.FileStats.Between
    graft.sources.FileStats.prunedRead(spark, table, Seq(
        Between("user_id", 5L, 40L),
        Between("value", 25.0, 75.0),
        Between("ts", lo, hi)))
      .where(col("user_id").between(5, 40) && col("value").between(25.0, 75.0)
        && col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q113: sequence ALTERNATION — the `(B|C) then C` chain: step
    * predicates are arbitrary Columns, so alternation is just an
    * isin() predicate; this registry entry exercises it under the
    * hash gate (the operator supported it from day one — q102 only
    * demoed type equality). An engagement event (view OR purchase)
    * within 3 days, then a purchase within 7 days of it — note a
    * purchase may legally bind BOTH steps' roles across different
    * instances, and the strictly-after rule keeps one event from
    * binding both steps of the same instance. */
  def q113FunnelAlternation(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Sequence.funnelInstances(
        ev, Seq("user_id"), "ts",
        anchorPredicate = col("event_type") === "signup",
        anchorCols = Seq("event_id"),
        steps = Seq(
          Sequence.Step("t1", col("event_type").isin("view", "purchase"),
            3L * 86400000000L),
          Sequence.Step("t2", col("event_type") === "purchase",
            7L * 86400000000L)))
      .select(
        col("event_id").as("anchor_id"), col("user_id"),
        col("t0"), col("t1"), col("t2"),
        (lit(1L) + when(col("t1").isNotNull, 1L).otherwise(0L)
          + when(col("t2").isNotNull, 1L).otherwise(0L)).as("steps_done"))
  }

  /** q114: LONGEST-match sequence binding
    * ([[operators.Sequence.funnelInstancesLongest]]) — the greedy
    * counterpart of q102: each step binds the LAST qualifying event
    * in its window `(prev, prev+gap]` (one BACKWARD as-of at the
    * window deadline per step — still a single keyed shuffle each),
    * and an out-of-window qualifier cannot fail an instance that has
    * an in-window one. Oracle: MAX over the window in SQL, the
    * mirror of q102's MIN-then-gate. */
  def q114FunnelLongest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Sequence.funnelInstancesLongest(
        ev, Seq("user_id"), "ts",
        anchorPredicate = col("event_type") === "signup",
        anchorCols = Seq("event_id"),
        steps = Seq(
          Sequence.Step("t1", col("event_type") === "view", 3L * 86400000000L),
          Sequence.Step("t2", col("event_type") === "purchase", 7L * 86400000000L)))
      .select(
        col("event_id").as("anchor_id"), col("user_id"),
        col("t0"), col("t1"), col("t2"),
        (lit(1L) + when(col("t1").isNotNull, 1L).otherwise(0L)
          + when(col("t2").isNotNull, 1L).otherwise(0L)).as("steps_done"))
  }

  /** q115: product-quantization codebook ([[similarity.Pq]]) — the
    * compressed-domain embedding index's training step: d=64 vectors
    * split into m=8 sub-spaces, K=16 centroids each, TWO Lloyd
    * rounds from a vec_id-stride init. The q111 determinism posture
    * extended to an ITERATIVE algorithm: no RNG, index-order dot
    * products, argmin on (round(dist,6), code), centroids rounded at
    * 1e-6 between rounds — so DuckDB re-derives the entire training
    * loop (chained CTEs, one block per Lloyd round) and the CODEBOOK
    * ITSELF is hash-gated, where PQ implementations normally settle
    * for recall specs. Emitted long-form (sub, code, dim, c). */
  private val PqM = 8
  private val PqDsub = 8
  private val PqK = 16

  private def pqCodebook(spark: SparkSession, dir: String): DataFrame =
    Pq.trainCodebook(Tables.embeddings(spark, dir), "vec_id", "embedding",
      m = PqM, dsub = PqDsub, k = PqK, iters = 2)

  def q115PqCodebook(spark: SparkSession, dir: String): DataFrame =
    pqCodebook(spark, dir)
      .select(col("sub"), col("code"), posexplode(col("cvec")))
      .select(col("sub"), col("code"), col("pos").as("dim"), col("col").as("c"))

  /** q116: PQ asymmetric-distance kNN — the search step over q115's
    * codebook: every vector stored as m=8 one-byte codes, each probe
    * building its |m·K| lookup table once and scanning CODES, never
    * vectors (64 floats → 8 bytes is what lets an embedding index
    * fit memory at corpus scale). ADC distances round at 1e-6 (the
    * r1 rule: sum order differs across engines), rank ties break on
    * vec_id — the top-5 lists are hash-gated end-to-end through the
    * same chained-CTE oracle. */
  def q116PqAdcKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codebook = pqCodebook(spark, dir)
    val codes = Pq.assign(
      Pq.subVectors(emb, "vec_id", "embedding", PqM, PqDsub), codebook, "vec_id")
    val probes = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Pq.adcKnn(probes, "probe_id", "embedding", codes, "vec_id",
      codebook, PqM, PqDsub, topK = 5)
  }

  /** q117: IVF-PQ kNN — the production ANN composition: a COARSE
    * quantizer (plain k-means = [[similarity.Pq.trainCodebook]] with
    * m=1 over the full dimension, K=8 cells) routes each probe to
    * its nprobe=2 nearest cells, and q116's ADC machinery ranks only
    * the CANDIDATES living in those cells — the scan touches codes
    * of a cell subset instead of the corpus, which is the
    * IVF(ADC) recall/latency dial every production vector index
    * exposes. Both quantizers, the routing, and the restricted ADC
    * rank are the same deterministic cross-engine algebra, so the
    * composed top-5 lists hash-gate through an oracle that re-runs
    * BOTH k-means loops (coarse + fine) in chained CTEs. */
  def q117IvfPqKnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val coarse = Pq.trainCodebook(emb, "vec_id", "embedding",
      m = 1, dsub = PqM * PqDsub, k = 8, iters = 2)
    val cells = Pq.assign(
        Pq.subVectors(emb, "vec_id", "embedding", 1, PqM * PqDsub),
        coarse, "vec_id")
      .select(col("vec_id"), col("code").as("cell"))
    val fine = pqCodebook(spark, dir)
    val codes = Pq.assign(
      Pq.subVectors(emb, "vec_id", "embedding", PqM, PqDsub), fine, "vec_id")
    val probes = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val pcells = Pq.subVectors(probes, "probe_id", "embedding", 1, PqM * PqDsub)
      .join(broadcast(coarse), Seq("sub"))
      .withColumn("d", round(Pq.sqDist(col("subvec"), col("cvec")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("d"), col("code"))))
      .where(col("rk") <= 2)
      .select(col("probe_id"), col("code").as("cell"))
    val cand = pcells.join(cells, Seq("cell")).select("probe_id", "vec_id")
    Pq.adcRankWithin(cand, probes, "probe_id", "embedding",
      codes, "vec_id", fine, PqM, PqDsub, topK = 5)
  }

  /** q118: incremental PQ re-encode under codebook drift
    * ([[similarity.Pq.driftReencode]]) — the q110 maintenance story
    * applied to an ML index: a codebook retrain (here: the SECOND
    * Lloyd round refining the first round's codebook — genuine
    * drift, same seeds, so cell identities are comparable) must not
    * force a corpus re-encode. Cells whose centroid moved ≤ τ=0.002
    * (‖Δc‖² at 1e-6, the measured cb1→cb2 movement median splits
    * ~26–55% of cells across SFs) carry their codes BIT-IDENTICALLY
    * with no vector read; only members of moved cells re-enter
    * assignment, per (vector, sub-space) pair. Output = the complete
    * refreshed codes table + provenance flag, hash-gated through an
    * oracle that re-derives movement, carry, and re-assignment from
    * the training loop's own cb1/as1/cb2 CTEs. PqSpec pins the τ=0
    * (≡ full re-encode) and τ=∞ (≡ carry-everything) edges. */
  def q118PqDriftReencode(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // ONE 2-round training supplies both codebooks: its round-1 state
    // IS the old iters=1 training bit-for-bit (deterministic seeds +
    // arithmetic — Pq.trainCodebookStates), so the separate 1-iter
    // retrain and its sub-vector persist fill are gone (3 Lloyd
    // rounds → 2 for identical output)
    val states = Pq.trainCodebookStates(emb, "vec_id", "embedding",
      PqM, PqDsub, PqK, iters = 2)
    val oldCb = states(1)
    val newCb = states(2)
    val oldCodes = Pq.assign(
      Pq.subVectors(emb, "vec_id", "embedding", PqM, PqDsub), oldCb, "vec_id")
    Pq.driftReencode(emb, "vec_id", "embedding", oldCodes, oldCb, newCb,
      PqM, PqDsub, tau = 0.002)
  }

  /** q119: DECLARED-SQL as-of join under the injected optimizer rule
    * ([[graft.plans.AsOfRewrite]]) — the q51 price lookup written
    * the way a SQL user without ASOF JOIN writes it: self-join on
    * the key with `p.pdate <= t.date`, then per-group `max(pdate)` +
    * `max_by(price, pdate)`. Vanilla Spark plans the join as a hash
    * join whose probe rows pair with their key's ENTIRE earlier
    * quote history before the aggregate discards all but one row —
    * the per-key cross product that kills long quote series. The
    * injected pre-CBO rule rewrites the whole Aggregate-over-Join
    * into AsOfJoin's single-shuffle union+window plan; this entry
    * hash-checks the rewrite against DuckDB running the SAME
    * antipattern SQL verbatim (the q108 posture: the strongest form
    * of "the rule preserves semantics"). Quote times are unique per
    * (asset, date) by construction, so max_by is tie-free and
    * deterministic on both engines. */
  def q119DeclaredAsOf(spark: SparkSession, dir: String): DataFrame = {
    Tables.transfers(spark, dir)
      .select(col("asset"), col("wallet"), col("date"))
      .createOrReplaceTempView("graft_q119_transfers")
    Tables.prices(spark, dir)
      .select(col("asset"), col("date").as("pdate"), col("price"))
      .createOrReplaceTempView("graft_q119_prices")
    spark.sql(
      """SELECT t.asset, t.wallet, t.date,
        |  max(p.pdate) AS price_date,
        |  max_by(p.price, p.pdate) AS price
        |FROM graft_q119_transfers t
        |JOIN graft_q119_prices p
        |  ON p.asset = t.asset AND p.pdate <= t.date
        |GROUP BY t.asset, t.wallet, t.date""".stripMargin)
  }

  /** q120: workload-driven layout advisor
    * ([[sources.LayoutAdvisor]]) — pick the z-order/clustering
    * dimension set from a MEASURED workload instead of a guess: a
    * deterministic order-key-derived workload sample (range
    * predicates over user/value/day, each query predicating a
    * different dim subset) is scored against every candidate layout
    * by measured per-dim selectivity, cost = multiplicative box
    * pruning over clustered dims. All ranking algebra is integer
    * (exact counts, shared denominator N³, decimal sums) so the full
    * advisor output — scores AND ranks — hash-gates against DuckDB
    * re-deriving the cost model; the lone float op is the presented
    * fraction (one division, round 6). LayoutAdvisorSpec validates
    * the model EMPIRICALLY: files actually read under FileStats
    * pruning follow the advisor's ranking on a materialized layout. */
  // the measured workload q120/q123 share: an order-key-derived panel
  // of range predicates over user/value/day, each query predicating a
  // different dim subset
  private def advisorWorkload(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir).where(col("o_orderkey") % 997 === 0)
      .select(col("o_orderkey").as("query_id"),
        expr("o_orderkey div 997").as("k"))
    val epoch0 = lit(19723L) // unix_date(2024-01-01), the events epoch
    val wU = base.where(col("k") % 2 === 0).select(col("query_id"),
      lit("user").as("dim"),
      ((col("k") * 13) % 120).cast("double").as("lo"),
      ((col("k") * 13) % 120 + 3 + col("k") % 12).cast("double").as("hi"))
    val wV = base.where(col("k") % 3 > 0).select(col("query_id"),
      lit("value").as("dim"),
      ((col("k") * 7) % 480).cast("double").as("lo"),
      ((col("k") * 7) % 480 + 10 + col("k") % 40).cast("double").as("hi"))
    val wD = base.where(col("k") % 5 > 0).select(col("query_id"),
      lit("day").as("dim"),
      (epoch0 + col("k") % 24).cast("double").as("lo"),
      (epoch0 + col("k") % 24 + col("k") % 6).cast("double").as("hi"))
    wU.unionByName(wV).unionByName(wD)
  }

  private val advisorDims = Seq(
    "user" -> col("user_id"), "value" -> col("value"),
    "day" -> unix_date(to_date(col("ts"))))

  /** Test-only accessor: LayoutAdvisorSpec re-derives q123's choice. */
  private[graft] def advisorWorkloadForTest(
      spark: SparkSession, dir: String): DataFrame = advisorWorkload(spark, dir)

  def q120LayoutAdvisor(spark: SparkSession, dir: String): DataFrame =
    LayoutAdvisor.advise(
      Tables.events(spark, dir), advisorDims, advisorWorkload(spark, dir),
      Seq(Seq("user"), Seq("value"), Seq("day"), Seq("user", "value"),
        Seq("user", "day"), Seq("value", "day"), Seq("user", "value", "day")))

  /** q123: the advisor DRIVING the layout — q120's recommendation fed
    * straight into the z-order writer, closing the loop from measured
    * workload to physical bytes. Candidate layouts are capped at TWO
    * curve dimensions (each added dim halves the interleave bits — and
    * under q120's multiplicative cost model the full dim set is a
    * degenerate always-winner; the cap is both the practical z-order
    * guidance and what makes the choice DATA-DRIVEN), the rank-1
    * layout_id is a one-row driver probe (the q61 bounded-collect
    * posture), and events are clustered along the Morton curve of the
    * CHOSEN dims with the generic `_fstats` manifest built over all
    * three predicate columns. The registry query then answers a 3-D
    * box off the advised layout via stats pruning and carries the
    * chosen layout_id in its output — so the DuckDB oracle re-derives
    * BOTH the advisor's exact integer ranking (q120's CTE chain over
    * the 6 capped layouts) AND the full-scan aggregate: a wrong
    * choice, a lossy prune, or a drifted cost model all break the
    * hash. At 100 TB this is the nightly re-layout decision run as a
    * query: advisor on a sample, one clustering shuffle at write
    * time, every box query thereafter reads O(selectivity) files. */
  def q123AdvisedLayout(spark: SparkSession, dir: String): DataFrame = {
    val capped = Seq(Seq("user"), Seq("value"), Seq("day"),
      Seq("user", "value"), Seq("user", "day"), Seq("value", "day"))
    val best = LayoutAdvisor.advise(
        Tables.events(spark, dir), advisorDims, advisorWorkload(spark, dir),
        capped)
      .where(col("rank") === 1).select("layout_id")
      .collect()(0).getString(0)

    val table = graft.tools.Scratch.cachedArtifact(
      s"graft_q123_${best.replace("+", "_")}", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      val dimCols = advisorDims.toMap.view.mapValues(_.cast("double")).toMap
      val chosen = best.split('+').toSeq
      val aggs = chosen.flatMap(d =>
        Seq(min(dimCols(d)).as(s"lo_$d"), max(dimCols(d)).as(s"hi_$d")))
      val b = ev.agg(aggs.head, aggs.tail: _*).collect()(0)
      import graft.sources.ZOrder.{affineBucket, zValueN}
      val bits = if (chosen.length == 1) 12 else 9
      val zcols = chosen.zipWithIndex.map { case (d, i) =>
        affineBucket(dimCols(d), lit(b.get(2 * i)), lit(b.get(2 * i + 1)), bits)
      }
      ev.withColumn("__z", zValueN(zcols, bits))
        .repartitionByRange(32, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.parquet(tableDir)
      graft.sources.FileStats.build(spark, tableDir,
        cols = Seq("user_id", "value", "ts"))
    }

    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-21 00:00:00")
    import graft.sources.FileStats.Between
    graft.sources.FileStats.prunedRead(spark, table, Seq(
        Between("user_id", 5L, 40L),
        Between("value", 25.0, 75.0),
        Between("ts", lo, hi)))
      .where(col("user_id").between(5, 40) && col("value").between(25.0, 75.0)
        && col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
      .withColumn("layout_id", lit(best))
  }

  /** q122: IVF-PQ with RESIDUAL encoding — the standard accuracy
    * refinement over q117 (Jégou et al. §IV): the fine codebook is
    * trained on x − c_cell(x) instead of raw vectors (residuals
    * concentrate around the origin, so the same 8×16 code budget
    * quantizes them with far less error), and each probe builds a
    * PER-PROBED-CELL lookup table from ITS residual against that
    * cell. Everything stays the repo's deterministic cross-engine
    * algebra — the residual subtraction is one IEEE op per element
    * over the float-exact cast and 1e-6-rounded centroids — so BOTH
    * Lloyd loops (coarse on raw vectors, fine on residuals), the
    * routing, the per-cell LUTs, and the composed top-5 lists
    * hash-gate through an oracle whose fine chain is generated
    * parametrically over the residual relation
    * ([[pqTrainCteGen]]). Plan: identical shuffle shape to q117 plus
    * one broadcast (coarse centroids into the residual map) — the
    * candidate scan still touches codes of probed cells only. */
  def q122ResidualIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val D = PqM * PqDsub
    val coarse = Pq.trainCodebook(emb, "vec_id", "embedding", 1, D, 8, 2)
    val cells = Pq.assign(
        Pq.subVectors(emb, "vec_id", "embedding", 1, D), coarse, "vec_id")
      .select(col("vec_id"), col("code").as("cell"))
    // persisted: the residual relation (emb ⋈ cells ⋈ coarse) feeds
    // BOTH the fine training's sub-vector persist and the codes
    // assign — unpersisted, the cell join ran once per consumer
    val resid = graft.CacheScope.persisted(
      Pq.residuals(emb, "vec_id", "embedding", cells, coarse))
    val fine = Pq.trainCodebook(resid, "vec_id", "e", PqM, PqDsub, PqK, 2)
    val codes = Pq.assign(
      Pq.subVectors(resid, "vec_id", "e", PqM, PqDsub), fine, "vec_id")

    val probes = emb.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val pcells = Pq.subVectors(probes, "probe_id", "embedding", 1, D)
      .join(broadcast(coarse), Seq("sub"))
      .withColumn("d", round(Pq.sqDist(col("subvec"), col("cvec")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("d"), col("code"))))
      .where(col("rk") <= 2)
      .select(col("probe_id"), col("code").as("cell"))
    val presid = Pq.residuals(probes, "probe_id", "embedding", pcells, coarse)
      .select(struct(col("probe_id"), col("cell")).as("pc"), col("e"))
    val lut = Pq.subVectors(presid, "pc", "e", PqM, PqDsub)
      .join(broadcast(fine), Seq("sub"))
      .select(col("pc.probe_id").as("probe_id"), col("pc.cell").as("cell"),
        col("sub"), col("code"),
        Pq.sqDist(col("subvec"), col("cvec")).as("pd"))
    val cand = pcells.join(cells, Seq("cell"))
      .select("probe_id", "cell", "vec_id")
    cand.join(codes, Seq("vec_id"))
      .join(lut, Seq("probe_id", "cell", "sub", "code"))
      .groupBy("probe_id", "vec_id")
      .agg(round(sum("pd"), 6).as("adist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("adist"), col("vec_id"))))
      .where(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("vec_id"), col("adist"))
  }

  /** q121: multi-table snapshot-consistent publication
    * ([[sources.Catalog]], S23's batch face) — two derived tables
    * (per-asset and per-wallet totals over the same facts) published
    * through TWO catalog snapshots, with a TORN third publish
    * planted (a by_asset version with doubled totals lands via
    * Publish but no catalog flip — the crash window) and a vacuum
    * reaping it plus the old snapshot. The query reads BOTH tables
    * through the live catalog and emits a cross-table
    * reconciliation: per-asset rows plus the by_wallet grand total
    * and an exact-decimal consistency flag. If the catalog ever
    * exposed the torn version, the stale snapshot, or tables at
    * different horizons, totals and flag diverge and the hash
    * catches it — the oracle re-derives everything from events
    * directly (the q80 pointer-resolution posture, lifted to N
    * tables). Sums accumulate as DECIMAL (chop-invariant, the q97
    * posture), presented double. */
  def q121CatalogRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    def facts(): DataFrame = Tables.events(spark, dir).select(
      col("event_type").as("asset"), col("user_id").as("wallet"),
      round(col("value"), 6).cast("decimal(18,6)").as("v"))
    def byAsset(f: DataFrame): DataFrame = f.groupBy("asset")
      .agg(count(lit(1)).as("n_events"), sum("v").as("t"))
    def byWallet(f: DataFrame): DataFrame = f.groupBy("wallet")
      .agg(count(lit(1)).as("n_events"), sum("v").as("t"))
    val root = graft.tools.Scratch.cachedArtifact("graft_q121", dir) { tableDir =>
      val part = facts().where(col("wallet") % 2 === 0)
      graft.sources.Catalog.publishAll(spark, tableDir,
        Map("by_asset" -> byAsset(part), "by_wallet" -> byWallet(part))): Unit
      graft.sources.Catalog.publishAll(spark, tableDir,
        Map("by_asset" -> byAsset(facts()), "by_wallet" -> byWallet(facts()))): Unit
      // the crash window: a garbage by_asset version lands, no flip
      graft.sources.Publish.publish(
        byAsset(facts()).withColumn("t", col("t") * 2),
        java.nio.file.Paths.get(tableDir, "tables", "by_asset").toString): Unit
      graft.sources.Catalog.vacuum(tableDir, keep = 1): Unit
    }
    val a = graft.sources.Catalog.read(spark, root, "by_asset")
    val w = graft.sources.Catalog.read(spark, root, "by_wallet")
    val grands = w.agg(sum("t").as("wt"))
      .crossJoin(a.agg(sum("t").as("at")))
    a.crossJoin(broadcast(grands))
      .select(col("asset"), col("n_events"),
        col("t").cast("double").as("total_value"),
        col("wt").cast("double").as("wallet_total"),
        (col("wt") === col("at")).as("consistent"))
  }

  /** q124: DECLARED-SQL keep-one-per-group dedupe under the injected
    * optimizer rule ([[graft.plans.TopRowRewrite]]) — q2's dedupe
    * written the way every SQL user writes it: `row_number() OVER
    * (PARTITION BY … ORDER BY …)` in a subquery, `WHERE rn = 1`
    * outside. Vanilla Spark plans a full window sort — every event
    * row crosses the exchange and gets sorted by (keys, ts, id); at
    * 100 TB the sort IS the query. The injected pre-CBO rule
    * rewrites Filter-over-Window into a `min_by(struct(payload),
    * struct(order))` aggregation with map-side PARTIAL aggregation:
    * the exchange carries one candidate row per (mapper, group) and
    * the reduce side touches |groups| rows — Flink's `Deduplicate`
    * operator, arrived at from declared Spark SQL. The (ts,
    * event_id) tiebreak is unique, so the pick is deterministic and
    * this entry hash-checks against DuckDB running the SAME
    * antipattern SQL verbatim (the q119 posture — the strongest form
    * of "the rule preserves semantics"). */
  /** q125: automatic materialized-view matching
    * ([[graft.plans.ViewMatchRewrite]] + [[sources.MatViews]]) — the
    * dashboard query written against the FACTS answers from a
    * registered |groups|-row rollup. A view at the (event_type,
    * user_id) grain — decimal value sums, counts, max — is built once
    * and registered for the raw events path; the declared SQL then
    * groups by event_type alone with a user slice, and the injected
    * rule rewrites it to the view: subset grouping re-aggregates the
    * grain rows, the slice predicate re-applies verbatim (it touches
    * grain columns only), count compensates as sum-of-counts, the
    * decimal sum as sum-of-sums (exact — the posture that keeps this
    * under the hash gate), max as max-of-maxes; the 100 TB fact scan
    * vanishes from the plan. This is Calcite/BigQuery/Snowflake's
    * automatic view matching composed with graft's own maintenance
    * story — [[streaming.AggTableSink]] maintains exactly this table
    * shape incrementally, so facts are scanned once per tick and
    * every contained rollup thereafter costs O(|view|). The DuckDB
    * oracle computes straight from events: a stale view, a wrong
    * compensation, or a dropped NULL group all break the hash. */
  def q125ViewMatch(spark: SparkSession, dir: String): DataFrame = {
    val src = s"$dir/events.parquet"
    val sumExpr = round(col("value"), 6).cast("decimal(18,6)")
    val mvPath = graft.tools.Scratch.cachedArtifact("graft_q125_mv", dir) { tableDir =>
      graft.sources.MatViews.build(spark, src, tableDir,
        groupCols = Seq("event_type", "user_id"),
        sums = Map("sum_v" -> sumExpr),
        countCol = Some("cnt"),
        maxs = Map("max_v" -> col("value"))): Unit
    }
    // the registry is JVM-memory: re-assert on every call (a cache
    // hit skips the build closure, and build also registers)
    graft.sources.MatViews.register(spark, src, mvPath,
      groupCols = Seq("event_type", "user_id"),
      sums = Map("sum_v" -> sumExpr),
      countCol = Some("cnt"),
      maxs = Map("max_v" -> col("value"))): Unit
    spark.read.parquet(src).createOrReplaceTempView("graft_q125_events")
    spark.sql(
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  max(value) AS max_value
        |FROM graft_q125_events
        |WHERE user_id BETWEEN 10 AND 60
        |GROUP BY event_type""".stripMargin)
  }

  /** q126: JOIN-aware view matching ([[graft.plans.ViewMatchRewrite]]
    * + [[sources.MatViews.buildJoin]]) — the star-schema rollup:
    * a view over orders ⋈ customer pre-joined and pre-aggregated at
    * the (mktsegment, nationkey) grain answers the declared
    * revenue-by-segment dashboard query with BOTH scans AND the join
    * gone from the plan. Matching is Calcite's join-derivability in
    * its conservative form: inner equi-join on exactly the
    * registered key pairs (either orientation; implied IsNotNull(key)
    * conjuncts dropped — the view materialized inner semantics),
    * disjoint pruned output names, filters and grouping over grain
    * columns (a slice mirrored across the join by constraint
    * propagation maps back through the key-pair alias). At 100 TB
    * the win compounds: the fact scan AND the dimension shuffle/
    * broadcast both disappear — the query costs O(|segments ×
    * nations|). Oracle: DuckDB runs the join + aggregate verbatim
    * over the base tables; a wrong join match, dropped inner-join
    * row, or bad compensation breaks the hash. */
  def q126JoinViewMatch(spark: SparkSession, dir: String): DataFrame = {
    val ordersPath = s"$dir/orders.parquet"
    val custPath = s"$dir/customer.parquet"
    val priceExpr = round(col("o_totalprice"), 2).cast("decimal(18,2)")
    val mvPath = graft.tools.Scratch.cachedArtifact("graft_q126_mv", dir) { tableDir =>
      graft.sources.MatViews.buildJoin(spark, ordersPath, custPath,
        leftKeys = Seq("o_custkey"), rightKeys = Seq("c_custkey"),
        mvPath = tableDir,
        groupCols = Seq("c_mktsegment", "c_nationkey"),
        sums = Map("sum_price" -> priceExpr),
        countCol = Some("cnt")): Unit
    }
    graft.sources.MatViews.registerJoin(spark, ordersPath, custPath,
      leftKeys = Seq("o_custkey"), rightKeys = Seq("c_custkey"),
      mvPath = mvPath,
      groupCols = Seq("c_mktsegment", "c_nationkey"),
      sums = Map("sum_price" -> priceExpr),
      countCol = Some("cnt")): Unit
    spark.read.parquet(ordersPath).createOrReplaceTempView("graft_q126_orders")
    spark.read.parquet(custPath).createOrReplaceTempView("graft_q126_customer")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM graft_q126_orders JOIN graft_q126_customer
        |  ON o_custkey = c_custkey
        |WHERE c_nationkey <= 12
        |GROUP BY c_mktsegment""".stripMargin)
  }

  /** q127: deletion vectors ([[graft.sources.Deletes]]) — row-level
    * deletes on a published table WITHOUT rewriting data files, the
    * lake answer to the reference's BigQuery DELETE+INSERT refresh
    * (core_coin_wallet_profits' update loop) when the doomed rows
    * are scattered across immutable files. Two stacked deletes (a
    * takedown-shaped predicate, then a user purge) each commit a NEW
    * Publish version whose data files are carried BY IDENTITY —
    * DeletesSpec proves the SHA-256s — with only the `_deletes`
    * position sidecar growing; the read path streams untouched files
    * join-free and anti-joins only sidecar-listed files against the
    * broadcast vector. At 100 TB a 1%-scattered compliance delete is
    * a sidecar write instead of a full-table rewrite, and
    * [[graft.sources.Deletes.materialize]] folds the vector back in
    * at a cost ∝ touched files when maintenance chooses. The oracle
    * re-derives the post-delete aggregate from a full scan with the
    * predicates negated — a position off by one, a file carried
    * wrong, or a delete leaking across versions breaks the hash. */
  private def deletedEventsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_dvevents", dir) { tableDir =>
      graft.sources.Publish.publish(
        Tables.events(spark, dir).repartition(8), tableDir): Unit
      graft.sources.Deletes.deleteFromPublished(spark, tableDir,
        col("event_type") === "error" && col("value") > 50.0): Unit
      graft.sources.Deletes.deleteFromPublished(spark, tableDir,
        col("user_id") % 100 === 37): Unit
    }

  def q127DeleteVectors(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Deletes
      .readPublished(spark, deletedEventsRoot(spark, dir))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))

  /** q128: MERGE INTO ([[graft.sources.Merge]]) — the reference's
    * DELETE+INSERT refresh (dune_transfers_updates stages a delta,
    * then replaces matched keys inside BigQuery) as a copy-on-write
    * version commit: a delta with all three MERGE actions (updates
    * doubling matched values, a matched-delete for low-value rows,
    * inserts minting new event ids) lands by rewriting ONLY the
    * files holding a matched key — candidates come from q106's
    * `_fstats` bloom manifest probed driver-side, the exact overlap
    * reads just the key column of the candidates, and untouched
    * files carry byte-identically (MergeSpec proves the SHA-256s and
    * the pruning). At 100 TB a 1 GB delta costs O(delta ∩ files),
    * never a table scan. The oracle re-derives the same MERGE
    * relationally (left join + CASE + anti-union) — a wrong match, a
    * resurrected delete, or a dropped carried file breaks the hash. */
  private def mergedEventsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_mergeevents", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      val v1 = graft.sources.Publish.publish(ev.repartition(8), tableDir)
      graft.sources.FileStats.build(spark,
        java.nio.file.Paths.get(tableDir).resolve(s"v=$v1").toString,
        cols = Seq("event_id"), keyCols = Seq("event_id"))
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      val updates = ev.where(col("event_id") % 11 === 0)
        .withColumn("value", round(col("value"), 6) * 2)
        .select(cols.map(col): _*)
      val inserts = ev.where(col("event_id") % 13 === 0)
        .withColumn("event_id", col("event_id") + 100000000L)
        .withColumn("user_id", col("user_id") + 1000000L)
        .select(cols.map(col): _*)
      graft.sources.Merge.mergeIntoPublished(spark, tableDir,
        updates.unionByName(inserts),
        keys = Seq("event_id"),
        set = Map("value" -> graft.sources.Merge.s("value")),
        deleteWhen = Some(col("value") < 10.0)): Unit
    }

  def q128MergeInto(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Publish.read(spark, mergedEventsRoot(spark, dir))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))

  /** q129: join-view IVM ([[operators.Ivm.applyJoinDiff]]) — the
    * maintained star rollup (orders ⋈ customer, grouped by market
    * segment) kept exact while BOTH sides change: order deletes and
    * price updates on the fact, plus a dimension-attribute rewrite
    * that migrates every joined fact row between groups. The delta
    * identity L₁⋈R₁ − L₀⋈R₀ = ΔL⋈R₀ + L₁⋈ΔR means the unchanged fact
    * mass is never re-joined — two delta-sized keyed joins plus one
    * |groups|-row merge, against DECIMAL measures so the maintained
    * table equals a full recompute BIT-FOR-BIT. The oracle IS that
    * recompute over the new snapshots: a missed cross term, a wrong
    * sign, or an unmigrated group breaks the hash. At 100 TB the
    * fact table re-joins only against the broadcastable dimension
    * delta; the nightly full re-join this replaces scans everything.
    * Bench pricing: this entry's wall time is dominated by DERIVING
    * the two diffs from full snapshots so the demo is
    * self-contained — production feeds arrive as deltas (q138/S26)
    * and pay only the delta-sized apply. */
  def q129JoinIvm(spark: SparkSession, dir: String): DataFrame = {
    val price = round(col("o_totalprice"), 2).cast("decimal(18,2)")
    val lOld = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 4 =!= 1)
      .select(col("o_orderkey"), col("o_custkey"), price.as("price"))
    val lNew = Tables.orders(spark, dir)
      .where(col("o_orderkey") % 17 =!= 3)
      .select(col("o_orderkey"), col("o_custkey"),
        // ×2 on the DECIMAL, not ×1.5 on the double: a .xx5 tie under
        // float ROUND breaks cross-engine parity; decimal doubling is
        // exact on both engines
        when(col("o_orderkey") % 10 === 0,
          (price * lit(2)).cast("decimal(18,2)"))
          .otherwise(price).as("price"))
    val rOld = Tables.customer(spark, dir)
      .where(col("c_custkey") % 9 =!= 4)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val rNew = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        when(col("c_custkey") % 15 === 0, lit("MIGRATED"))
          .otherwise(col("c_mktsegment")).as("seg"))
    def agg(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, col("o_custkey") === col("c_custkey"))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_orders"), sum("price").as("price"))
    Ivm.applyJoinDiff(
        agg(lOld, rOld),
        Scd.snapshotDiff(lOld, lNew, Seq("o_orderkey"), Seq("o_custkey", "price")),
        lNew,
        Scd.snapshotDiff(rOld, rNew, Seq("c_custkey"), Seq("seg")),
        rOld,
        leftKey = "o_custkey", rightKey = "c_custkey",
        groupCols = Seq("seg"), sumCols = Seq("price"), countCol = "n_orders")
      .select(col("seg"), col("n_orders"),
        col("price").cast("double").as("total_price"))
  }

  /** q130: image near-dup ([[graft.multimodal.ImageDedup]]) — the
    * curation family's perceptual-image side: every video doc's first
    * frame decodes through the REAL container+JPEG path (Riff walk,
    * the q75 machinery), block-averages into a 9×8 grid, and emits a
    * 64-bit dHash; pairs come from simhash-style banding (exact
    * recall at the hamming threshold by pigeonhole — proven vs brute
    * force in ImageDedupSpec) plus one xor+bit_count verify per
    * candidate. Rows-only (no SQL engine decodes JPEG); the spec
    * pins gradient semantics, brightness invariance, re-encode
    * robustness, and that the corpus's exact-dup documents collapse
    * to hamming-0 pairs through the real codec. At 100 TB the decode
    * is a narrow batched map and the pair join moves 4 (id, long)
    * rows per image — raster bytes never shuffle. */
  def q130ImageNeardup(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMediaTable(
      Tables.documents(spark, dir), "doc_id", "text")
    graft.multimodal.ImageDedup.dHashPairs(
      graft.multimodal.ImageDedup.imageDHashes(media),
      "doc_id", "dhash", maxHamming = 2)
  }

  /** q175: audio near-dup ([[graft.multimodal.Multimodal
    * .audioFingerprints]]) — the perceptual-AUDIO side of the
    * curation family, completing the modality set (q130 images, this
    * audio): the corpus's audio docs re-mux as REAL 8-bit PCM WAVs
    * (text bytes as samples — near-dup texts become near-dup
    * waveforms), decode through the real javax.sound codec, and
    * fingerprint as the 64-bit dHash of the energy ENVELOPE (65
    * integer window sums, one adjacent-gradient bit each,
    * cross-multiplied so every bit is an exact integer decision);
    * pairs ride the SAME pigeonhole banding as q130. Rows-only (no
    * SQL engine decodes WAV); the spec pins codec round-trip
    * identity, gain invariance, envelope sensitivity, and that
    * exact-dup documents collapse to hamming-0 through the real
    * codec. At 100 TB the decode is a narrow batched map and the
    * pair join moves (id, long) rows — PCM bytes never shuffle. */
  def q175AudioNeardup(spark: SparkSession, dir: String): DataFrame = {
    val audio = Multimodal.asAudioTable(
      Tables.documents(spark, dir), "doc_id", "text")
    graft.multimodal.ImageDedup.dHashPairs(
      Multimodal.audioFingerprints(audio).where(col("decoded")),
      "doc_id", "afp", maxHamming = 2)
  }

  /** q176: audio band near-dup ([[graft.multimodal.Multimodal
    * .audioBandFingerprints]]) — q175's frequency-domain depth: per
    * window, integer Goertzel power at three fixed bands (2·cos ω ∈
    * {1, 0, −1}), fingerprinted as the dominant-band TRANSITION bits,
    * so a melody pitch-shifted across the band set collapses to
    * hamming 0 where the envelope dHash scatters (AudioBandDedupSpec's
    * planted cluster); pairs ride q130's pigeonhole banding. Rows-only
    * (no SQL engine decodes WAV); the same narrow batched decode map —
    * PCM bytes never shuffle, the pair join moves (id, long) rows. */
  def q176AudioBandNeardup(spark: SparkSession, dir: String): DataFrame = {
    val audio = Multimodal.asAudioTable(
      Tables.documents(spark, dir), "doc_id", "text")
    graft.multimodal.ImageDedup.dHashPairs(
      Multimodal.audioBandFingerprints(audio).where(col("decoded")),
      "doc_id", "bfp", maxHamming = 2)
  }

  /** q180: video perceptual near-dup
    * ([[graft.multimodal.Multimodal.videoNearDupPairs]]) — the video
    * member completing the perceptual family (q130 images, q175/q176
    * audio, THIS): corpus docs re-mux as real MJPEG AVIs with planted
    * brightness-variant clusters (same footage, different exposure —
    * dHash's gradient bits survive the shift through the REAL JPEG
    * codec), per-sampled-frame dHashes band exactly like q130, and
    * two videos pair iff EVERY frame position matches — an inserted
    * scene breaks the pair. Rows-only (no SQL engine decodes AVI);
    * the spec pins cluster collapse, cross-base separation, the
    * sequence rule, and stub totality. At 100 TB: decode is a narrow
    * batched map, the pair join moves (id, int, long) frame-hash
    * rows — raster bytes never shuffle. */
  def q180VideoNeardup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.videoNearDupPairs(
      Multimodal.asVideoTable(Tables.documents(spark, dir), "doc_id", "text"))

  /** q193: video SCENE-CHANGE detection + keyframe selection
    * ([[graft.multimodal.Multimodal.sceneChanges]]) — the curation
    * step between decode and training-data sampling: uniform frame
    * sampling (q46) wastes budget re-sampling one long scene and
    * misses short ones; sampling at scene boundaries keeps each
    * distinct shot once. Consecutive-frame dHash hamming above the
    * intra-scene band marks a boundary; each frame reports its scene
    * id and whether it is its scene's keyframe. The corpus re-muxes
    * as real MJPEG clips with PLANTED scene structure (scene length
    * 1 + doc_id % 3; intra-scene frames render bit-identical through
    * the real JPEG codec, boundaries re-key every dHash cell), so the
    * spec asserts exact recovery of every boundary at every SF.
    * Rows-only (no SQL engine decodes AVI/JPEG); scale shape is
    * q180's — decode is a narrow batched map, the lag/cumsum windows
    * partition by document, rasters never shuffle. */
  def q193SceneChanges(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sceneChanges(
      Multimodal.asSceneVideoTable(Tables.documents(spark, dir), "doc_id", "text"))

  /** q195: scene-budgeted KEYFRAME sampling
    * ([[graft.multimodal.Multimodal.sampleKeyframes]]) — q193's
    * consumer: up to 4 frames per clip, keyframes (scene openers)
    * first, earliest non-keyframes filling the remainder — so when
    * the budget covers the scene count EVERY scene contributes a
    * frame, the property uniform sampling (q46) cannot give (a long
    * scene eats a uniform budget and short shots vanish). Totally
    * ordered rank → deterministic sample sets, pinned exactly against
    * the planted scene structure in SceneChangeSpec. Rows-only
    * (binary decode, q193's posture). */
  def q195KeyframeSample(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleKeyframes(
      Multimodal.asSceneVideoTable(Tables.documents(spark, dir), "doc_id", "text"))

  /** q181: INCREMENTAL media near-dup
    * ([[graft.multimodal.ImageDedup.incrementalDHashPairs]]) — q166's
    * crawl-ingest posture carried to the PERCEPTUAL family: the
    * corpus (2/3 of documents, rendered as real MJPEG clips with
    * q180's planted brightness clusters) decodes and
    * fingerprints ONCE and its `(doc_id, dhash)` table is published
    * as a maintained index under the commit protocol; per batch the
    * held-out third decodes only ITSELF, bands both sides at join
    * time (narrow column algebra over (id, long) rows — the media
    * bytes never shuffle), equi-joins the index on `(band, sig)` and
    * hamming-verifies each candidate. Admitted batches append their
    * fingerprints via `Txn.append` (cost ∝ batch) — which is what
    * "maintained" means at 100 TB: a crawl pipeline ingesting media
    * re-decodes nothing it already admitted. Rows-only (no SQL
    * engine decodes JPEG); IncrementalMediaDedupSpec pins (a)
    * incremental pairs ≡ the corpus×batch cross slice of a
    * from-scratch run for ALL THREE perceptual fingerprint families
    * (image dHash, audio envelope, audio band-energy) and (b)
    * append-maintained index ≡ full re-fingerprint, so the registry
    * gate is rows>0 while the semantics are spec-exact. */
  private def mediaNearDupIndex(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_mndidx", dir) { root =>
      val corpus = Multimodal.asVideoTable(
        Tables.documents(spark, dir).where(col("doc_id") % 3 =!= 0),
        "doc_id", "text")
      graft.sources.Publish.publish(
        graft.multimodal.ImageDedup.imageDHashes(corpus), root): Unit
    }

  def q181IncrementalMediaNeardup(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.sources.Publish.read(spark, mediaNearDupIndex(spark, dir))
    val batch = Multimodal.asVideoTable(
      Tables.documents(spark, dir).where(col("doc_id") % 3 === 0),
      "doc_id", "text")
    graft.multimodal.ImageDedup.incrementalDHashPairs(
      idx, graft.multimodal.ImageDedup.imageDHashes(batch),
      "doc_id", "dhash", maxHamming = 2)
  }

  /** q182: corpus-level segment dedup
    * ([[text.TextOps.segmentDedup]]) — CCNet/RefinedWeb boilerplate
    * removal at the sub-document grain: any 12-token segment
    * repeating more than twice across the corpus is cut out of EVERY
    * document carrying it; each doc's unique prose survives and
    * reassembles in order. The testdata corpus carries naturally
    * repeating segments at every SF (11–13 over-frequency segments
    * at sf0.001/sf0.01), so the gate is never vacuous. Segments
    * materialize inside the token array (one narrow pass — tokens
    * never duplicate per segment); frequency is one exact hash agg
    * on segment text; reassembly is a struct-sorted collect per doc.
    * The oracle re-derives the identical segmentation, frequency
    * cut, and ordered reassembly, so the hash covers the CLEANED
    * TEXT itself. */
  def q182SegmentDedup(spark: SparkSession, dir: String): DataFrame =
    TextOps.segmentDedup(Tables.documents(spark, dir), "doc_id", "text",
      segLen = 12, maxFreq = 2)

  /** q183: BPE merge training ([[text.Bpe.trainMerges]]) — the
    * tokenizer-construction step of an LLM data pipeline: from
    * characters, repeatedly fuse the corpus's most frequent adjacent
    * symbol pair; the ordered merge list IS the tokenizer. The corpus
    * collapses to the bounded (word, count) grain first (the real-
    * trainer trick), so all 8 rounds iterate over that relation —
    * per round one narrow zip_with pair expansion, one small weighted
    * agg, a 1-row argmax to the driver (the PQ-codebook Lloyd
    * posture), one codegen'd literal replace. Oracle-carrying where
    * real trainers aren't comparable: ties break (count DESC, l ASC,
    * r ASC) and merge application is one leftmost non-overlapping
    * literal replace — semantics identical in Java and DuckDB — and
    * the oracle SQL is GENERATED with the rounds unrolled as CTEs
    * ([[text.Bpe.oracleSql]]), so the hash covers the actual learned
    * merges (e.g. e+r→er, then p+ar→par at sf0.001). */
  def q183BpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.trainMerges(Tables.documents(spark, dir), "doc_id", "text",
      rounds = 8)

  /** q184: BPE encode ([[text.Bpe.encode]] over PUBLISHED merges) —
    * the APPLY side of q183's tokenizer, and the number a data
    * pipeline actually bills by: context-window budgeting, token
    * accounting, and packing consume ENCODED lengths, not
    * characters. The 8-round merge list trains ONCE and publishes
    * under the commit protocol (the q178/q179 storage posture —
    * encode jobs vastly outnumber train jobs); every encode run
    * reads the stored list, and encoding is ONE narrow map pass
    * through the native merge kernel (`graft_bpe_tokens`) — each
    * word char-splits and the replaces apply in merge order, word
    * boundaries structurally hard. No shuffle, no explode, no
    * join at any scale. Oracle: the generated q183 CTE chain learns
    * the same merges, applies the same replace chain at the (doc,
    * word) grain, and LEFT JOINs for totality — the hash covers
    * every document's exact post-merge token count (compression =
    * n_chars_sym − n_bpe_tokens, integer-exact). */
  private def bpeMergesRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_bpemrg", dir) { root =>
      graft.sources.Publish.publish(
        graft.text.Bpe.trainMerges(Tables.documents(spark, dir),
          "doc_id", "text", rounds = 8), root): Unit
    }

  def q184BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    // the q178/q179 storage posture for the tokenizer family: train
    // ONCE, publish the merge table, every encode run reads the
    // stored list (encode jobs vastly outnumber train jobs; the
    // merge list is the tokenizer ARTIFACT, not a per-run derivation)
    val merges = graft.sources.Publish
      .read(spark, bpeMergesRoot(spark, dir))
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.encode(Tables.documents(spark, dir), "doc_id", "text", merges)
  }

  /** q185: BPE vocabulary ([[text.Bpe.vocabulary]]) — the artifact
    * q183's training actually ships: every symbol surviving the 8
    * merge rounds with its corpus occurrence count and its dense
    * token id (rank by count DESC, symbol ASC — the deterministic id
    * assignment an embedding table is sized against). Completes the
    * tokenizer family: q183 learns the merges, THIS is the vocab
    * artifact, q184 bills the corpus in it. The vocabulary grain is
    * driver-bounded (|alphabet| + ≤ rounds merged symbols), so the
    * id window runs over a few dozen rows — the documented k-row
    * exception; the corpus aggregates at the bounded word grain
    * first. Oracle: the generated q183 CTE chain, final-state
    * symbols aggregated and ranked identically. */
  def q185BpeVocab(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.vocabulary(Tables.documents(spark, dir), "doc_id", "text",
      rounds = 8)

  /** q186: PRE-TOKENIZED BPE training ([[text.Bpe.trainMerges]] with
    * `pretokenize = true`) — q183 the way GPT-style trainers actually
    * run it: merge units are [[text.TextOps.BpeishPattern]] classes
    * (letter runs / digit runs / single marks), so a merge can NEVER
    * cross a class boundary — punctuation does not fuse into words
    * and version strings split into their runs (BpeSpec pins a
    * corpus where whitespace-mode fuses '.' into a word and
    * pre-tokenized mode provably cannot). The synthetic corpus is
    * space-clean lowercase, so each doc gains a deterministic
    * doc_id-derived version/punctuation tail (the q131 planted-input
    * pattern) — the classes have something real to separate, at
    * every SF. Same bounded-grain loop, argmax, and replace
    * semantics as q183; the generated oracle extracts the identical
    * units (regexp_extract_all in the Java ∩ RE2 subset) and
    * re-learns the identical merges. */
  private val bpeDecorTailSql: String =
    " v' || CAST(doc_id % 7 AS VARCHAR) || '.' || " +
      "CAST(doc_id % 13 AS VARCHAR) || ', (rev-' || " +
      "CAST(doc_id % 4 AS VARCHAR) || '!)"

  private def bpeDecorated(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"), lit(" v"),
        (col("doc_id") % 7).cast("string"), lit("."),
        (col("doc_id") % 13).cast("string"), lit(", (rev-"),
        (col("doc_id") % 4).cast("string"), lit("!)")).as("text"))

  def q186BpePretokenized(spark: SparkSession, dir: String): DataFrame =
    graft.text.Bpe.trainMerges(bpeDecorated(spark, dir), "doc_id", "text",
      rounds = 8, pretokenize = true)

  /** q131: HTML → text extraction ([[text.TextOps.stripHtml]]) — the
    * boilerplate strip every web-crawl corpus runs before quality
    * scoring and dedup. The synthetic corpus is plain text, so half
    * the docs get a deterministic HTML wrap (head with style+script
    * blocks, heading, paragraph markup, a comment, and entity-escaped
    * tail — the q99 planted-input pattern) and the other half pass
    * through as the plain-text case. Every pattern lives in the
    * Java-regex ∩ RE2 subset, so the oracle re-runs the IDENTICAL
    * strip pipeline and the hash covers the EXTRACTED TEXT itself —
    * a leaked script body, a double-unescaped entity, or a
    * mis-ordered stage breaks it. Narrow codegen'd column algebra:
    * one corpus pass, no shuffle at any scale. */
  def q131HtmlStrip(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = Tables.documents(spark, dir).select(d,
      when(d % 2 === 0, concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script src=\"x.js\">var x=1;</script></head><body><h1>Doc "),
        d.cast("string"),
        lit("</h1><p class=\"lead\">"), col("text"),
        lit("</p><!-- footer --><p>&amp; &lt;tag&gt; B&#39;s&nbsp;end</p>" +
          "</body></html>")))
        .otherwise(col("text")).as("text"))
    TextOps.stripHtml(planted, "doc_id", "text")
  }

  /** q132: write-audit-publish ([[graft.sources.Wap]]) — the
    * reference's dbt tests run AFTER its BigQuery refreshes (red
    * means readers already saw the bad rows); here the same
    * predicates gate the pointer flip itself. A planted corruption
    * (every 41st event's value forced negative) meets three
    * severities: a fail expectation that holds (type present), a
    * warn expectation counted into the manifest, and a drop
    * expectation that quarantines the corrupted rows to a `_rejects`
    * sidecar while the clean slice publishes — audit counts riding
    * the SAME atomic commit as the data. The oracle re-derives the
    * clean-slice aggregate (planted predicate negated): a leaked
    * reject, a dropped clean row, or a pointer flip on red breaks
    * the hash. WapSpec carries abort/quarantine/manifest proofs.
    * One audit pass (all counts in one aggregate), one filtered
    * write each side — no shuffle beyond the final fold at any
    * scale. */
  private def wapEventsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_wapevents", dir) { tableDir =>
      val planted = Tables.events(spark, dir)
        .withColumn("value",
          when(col("event_id") % 41 === 0, lit(-1.0)).otherwise(col("value")))
      graft.sources.Wap.publishWithExpectations(spark, tableDir, planted, Seq(
        graft.sources.Wap.Expectation.fail("has_type", col("event_type").isNotNull),
        graft.sources.Wap.Expectation.warn("value_cap", col("value") <= 95.0),
        graft.sources.Wap.Expectation.drop("nonneg", col("value") >= 0.0))): Unit
    }

  def q132WapPublish(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Publish.read(spark, wapEventsRoot(spark, dir))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))

  /** q133: layout evolution under one manifest
    * ([[graft.sources.FileStats]] over a MIXED-clustering version) —
    * the Iceberg partition-evolution story on graft's sidecar
    * machinery: a table whose clustering changed mid-life (half the
    * files time-clustered, half user-clustered — the layout history
    * append-heavy tables actually accrete) served by ONE read path,
    * because `_fstats` is per-FILE geometry with no layout schema to
    * outgrow. A (ts × user) box prunes each epoch by ITS OWN
    * clustering dimension and the conjunction intersects
    * (FileStatsSpec's evolution case proves both epochs prune); the
    * predicate re-applies, so the full-scan oracle hash-checks that
    * serving two layouts through one manifest drops nothing. At
    * 100 TB this is what makes re-clustering a ROLLING operation —
    * no stop-the-world rewrite before the new layout can be
    * queried. */
  private def evoEventsTable(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_evoevents", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      ev.where(col("event_id") % 2 === 0)
        .repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
        .write.mode("append").parquet(tableDir)
      ev.where(col("event_id") % 2 === 1)
        .repartitionByRange(8, col("user_id")).sortWithinPartitions("user_id")
        .write.mode("append").parquet(tableDir)
      graft.sources.FileStats.build(spark, tableDir,
        cols = Seq("ts", "user_id", "value"))
    }

  def q133LayoutEvolution(spark: SparkSession, dir: String): DataFrame = {
    val table = evoEventsTable(spark, dir)
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-22 00:00:00")
    // box bounds valid at EVERY SF (sf0.001's user universe is 0–14;
    // a 40–90 box returns zero rows there and fails the rows>0 gate —
    // the q88 late-addition lesson, relearned)
    graft.sources.FileStats.prunedRead(spark, table, Seq(
        graft.sources.FileStats.Between("ts", lo, hi),
        graft.sources.FileStats.Between("user_id", 4L, 11L)))
      .where(col("ts") >= lit(lo) && col("ts") <= lit(hi) &&
        col("user_id").between(4, 11))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q134: snapshot expiration / time-travel retention
    * ([[graft.sources.Publish.expireVersions]]) — the lake's history
    * is USEFUL state (time travel, CDC via snapshot-diff) but not
    * free state; the first-class policy is Iceberg's expireSnapshots
    * contract: keep the live version, the newest keepLast, anything
    * inside the keepWithin time window, and anything a catalog
    * snapshot pins. Here a three-version history (two dated slices,
    * then the full table) expires under keepLast=2: v1 reaps, v2
    * SURVIVES as time-travel history, and the query exercises exactly
    * what retention must preserve — the live read, a version-pinned
    * historical read, and their version-over-version delta — plus the
    * on-disk version count folded in as a column, so a policy that
    * reaps too little (v1 alive → 3) or too much (v2 gone → the read
    * throws) breaks the gate either way. Oracle re-derives both
    * slices from the raw events. RetentionSpec carries the
    * keepWithin window, pinned-set, and catalog-integration proofs.
    * At 100 TB: expiration is pointer/manifest work — the only data
    * I/O is deleting unreferenced version dirs. */
  private def retentionRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_retention", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      def cut(ts: String): DataFrame =
        ev.where(col("ts") < lit(java.sql.Timestamp.valueOf(ts)))
      graft.sources.Publish.publish(cut("2024-01-10 00:00:00"), tableDir): Unit
      graft.sources.Publish.publish(cut("2024-01-20 00:00:00"), tableDir): Unit
      graft.sources.Publish.publish(ev, tableDir): Unit
      val reaped = graft.sources.Publish.expireVersions(tableDir, keepLast = 2)
      require(reaped == Seq(1L), s"retention policy reaped $reaped, expected [1]")
    }

  def q134Retention(spark: SparkSession, dir: String): DataFrame = {
    val root = retentionRoot(spark, dir)
    val live = graft.sources.Publish.read(spark, root)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_live"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_live"))
    val prior = graft.sources.Publish.readVersion(spark, root, 2L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_prior"))
    val nVersions = graft.sources.Publish
      .listVersions(java.nio.file.Paths.get(root)).size.toLong
    live.join(prior, Seq("event_type"), "left")
      .select(col("event_type"), col("n_live"), col("sum_live"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        (col("n_live") - coalesce(col("n_prior"), lit(0L))).as("n_new"),
        lit(nVersions).as("n_versions"))
  }

  /** q135: MERGE schema evolution ([[graft.sources.Merge]] with
    * `evolveSchema` + [[graft.sources.Publish.readConformed]]) — the
    * Delta autoMerge story: a source delta carrying a column the
    * target never had (an upstream API adding a field mid-life, the
    * reference's coingecko payloads growing keys) WIDENS the table in
    * the same copy-on-write commit. The design decision is the carry
    * strategy: untouched files stay byte-identical at the OLD width
    * (a 1 GB delta must not rewrite 100 TB to add a column), the
    * version manifest — written under mergeSchema — records the
    * widened schema as the authority, and reads conform to it
    * (missing columns surface as NULL, union-by-name). Matched-ness,
    * not file membership, decides values: matched rows take the
    * source's new-column value, everything else reads NULL — so the
    * semantics are file-layout-independent and the oracle is purely
    * relational (left join + CASE + anti-union, the q128 posture).
    * MergeSpec carries the byte-identity-at-old-width, manifest
    * schema, and conformed-read proofs. */
  private def mergeEvoRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_mergeevo", dir) { tableDir =>
      val o = Tables.orders(spark, dir)
      val price = round(col("o_totalprice"), 2).cast("decimal(18,2)")
      val target = o.where(col("o_orderkey") % 3 =!= 0)
        .select(col("o_orderkey"), col("o_custkey"), price.as("price"))
      graft.sources.Publish.publish(target.repartition(4), tableDir): Unit
      val source = o.where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (price * 2).cast("decimal(18,2)").as("price"),
          col("o_orderpriority").as("prio"))
      graft.sources.Merge.mergeIntoPublished(spark, tableDir, source,
        keys = Seq("o_orderkey"),
        set = Map("price" -> graft.sources.Merge.s("price"),
          "prio" -> graft.sources.Merge.s("prio")),
        evolveSchema = true): Unit
    }

  def q135MergeEvolution(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Publish.readConformed(spark, mergeEvoRoot(spark, dir))
      .groupBy(coalesce(col("prio"), lit("(none)")).as("prio"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("price")).cast("double").as("sum_price"))

  /** q136: categorical layout advice from KMV distinct-count sketches
    * ([[sources.FileStats]] `kmvCols` +
    * [[sources.LayoutAdvisor.adviseFromStats]] `catDims`) — the range
    * cost model (q120/q123) is blind to STRING/dictionary dimensions:
    * a workload slicing `domain = 'x'` has no [lo, hi] to intersect.
    * The manifest now carries a per-file KMV sketch (the file's k
    * smallest distinct 60-bit content hashes — [[similarity.Overlap]]'s
    * estimator brought to the skipping layer), and an equality
    * predicate on a clustered categorical dim scores as
    * n_rows/ndv per file under uniform key frequency. Everything in
    * the chain is cross-engine re-derivable — md5-derived hashes,
    * integer ranks, the estimate division in identical IEEE order —
    * so unlike the range variant (deterministic but estimate-bound to
    * Spark's file split), the artifact here pins file boundaries to a
    * deterministic partition column (`part = user_id % 4`, one file
    * per part) and the FULL advisor output — per-file ndv sketches
    * through exact integer ranking — hash-gates against DuckDB
    * re-deriving it from the raw events (the q120 CTE chain with KMV
    * selectivities). The single-dim ranking is genuinely data-driven:
    * the user dim out-ranks the 5-value event_type exactly where the
    * per-file user population outnumbers the type dictionary (sf0.01
    * up; at sf0.001's 15 users the types win) — both engines agree
    * because both derive it from the data. At 100 TB: re-scoring a
    * workload over string dims costs a |files|·k-row manifest read,
    * never a table scan. */
  private def catStatsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_catstats", dir) { tableDir =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("event_type").as("etype"),
          col("user_id"), (col("user_id") % 4).as("part"))
        .repartition(4, col("part"))
        .write.partitionBy("part").parquet(tableDir)
      graft.sources.FileStats.build(spark, tableDir,
        cols = Nil, kmvCols = Seq("etype", "user_id"))
    }

  def q136CatAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val table = catStatsRoot(spark, dir)
    val sess = spark
    import sess.implicits._
    // equality-predicate workload: which dim each query slices on
    // (the uniform-frequency estimate is value-independent)
    val workload = Seq(
      (1L, "etype"), (2L, "uid"), (3L, "etype"), (3L, "uid"), (4L, "uid"))
      .toDF("query_id", "dim")
      .withColumn("lo", lit(0.0)).withColumn("hi", lit(0.0))
    LayoutAdvisor.adviseFromStats(spark, table,
      dims = Nil, workload = workload,
      layouts = Seq(Seq("etype"), Seq("uid"), Seq("etype", "uid")),
      catDims = Seq("etype" -> "etype", "uid" -> "user_id"))
  }

  /** q137: time travel BY TIMESTAMP, snapshot-consistent
    * ([[graft.sources.Catalog.readAsOf]] over the `committed_at`
    * manifests that q134's retention machinery made first-class) —
    * the AS OF query every lakehouse exposes, at the CATALOG grain:
    * one `asOfMs` resolves every table against the SAME snapshot, so
    * an as-of join across tables is consistent by construction
    * (per-table timestamp resolution could pair a pre-flip facts
    * table with a post-flip rates table when their publishes
    * straddled the commit — exactly the reconciliation hazard the
    * catalog exists to close, q121's argument extended to the time
    * axis). The artifact publishes two snapshots whose RATES dim
    * doubles between them; the query reads (facts, rates) as-of
    * snapshot 1's commit time and currently, emitting rate-weighted
    * sums — a resolver that mixed snapshots (old facts, new rates)
    * doubles wsum_old and breaks the hash. Oracle re-derives both
    * consistent states relationally. RetentionSpec covers the
    * boundary semantics (before-first throws, between-commits picks
    * the earlier, expiration shrinks the answerable horizon). */
  private def asOfCatalogRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_asofcat", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      val cut = ev.where(
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
      val types = ev.select("event_type").distinct()
      graft.sources.Catalog.publishAll(spark, tableDir, Map(
        "facts" -> cut, "rates" -> types.withColumn("rate", lit(1)))): Unit
      // commit times are ms-resolution; keep the two snapshots
      // strictly ordered so as-of at t1 can never see snapshot 2
      Thread.sleep(30)
      graft.sources.Catalog.publishAll(spark, tableDir, Map(
        "facts" -> ev, "rates" -> types.withColumn("rate", lit(2)))): Unit
    }

  def q137CatalogAsOf(spark: SparkSession, dir: String): DataFrame = {
    val root = asOfCatalogRoot(spark, dir)
    val t1 = graft.sources.Catalog.snapshotTimeMs(root, 1L)
    def weighted(facts: DataFrame, rates: DataFrame,
        nCol: String, wCol: String): DataFrame =
      facts.join(broadcast(rates), Seq("event_type"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as(nCol),
          sum(round(col("value"), 6).cast("decimal(18,6)") * col("rate"))
            .cast("double").as(wCol))
    val old = weighted(
      graft.sources.Catalog.readAsOf(spark, root, "facts", t1),
      graft.sources.Catalog.readAsOf(spark, root, "rates", t1),
      "n_old", "wsum_old")
    val cur = weighted(
      graft.sources.Catalog.read(spark, root, "facts"),
      graft.sources.Catalog.read(spark, root, "rates"),
      "n_new", "wsum_new")
    old.join(cur, Seq("event_type"))
  }

  /** q138: change-data-feed reader ([[operators.Scd.changeFeedBetween]])
    * — the CONSUMER API for everything the write path produces: a
    * three-commit history mixing the write paths (a plain publish, a
    * MERGE with updates + an insert gate + matched-deletes, then a
    * deletion-vector version) read back as ONE feed of
    * insert/update/delete rows with `from_version`/`to_version`
    * lineage — Delta's `table_changes` recovered from the immutable
    * snapshot layout alone, DV versions read through their sidecar so
    * a DV-deleted row surfaces as the delete it semantically is.
    * Each step is one full-outer key join; lineage is what makes the
    * feed resumable one step per downstream tick at 100 TB. Prices
    * present as double (the q97 decimal-output lesson). Oracle
    * re-derives all three states and both diffs relationally. */
  private def changeFeedRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_cdfeed", dir) { tableDir =>
      val o = Tables.orders(spark, dir)
      val price = round(col("o_totalprice"), 2).cast("decimal(18,2)")
      graft.sources.Publish.publish(
        o.where(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), price.as("price"))
          .repartition(4), tableDir): Unit
      val source = o.where(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"),
          (price * 2).cast("decimal(18,2)").as("price"),
          (col("o_orderkey") % 10 === 5).as("doom"))
      graft.sources.Merge.mergeIntoPublished(spark, tableDir, source,
        keys = Seq("o_orderkey"),
        set = Map("price" -> graft.sources.Merge.s("price")),
        deleteWhen = Some(graft.sources.Merge.s("doom")),
        insertWhen = Some(!col("doom"))): Unit
      graft.sources.Deletes.deleteFromPublished(spark, tableDir,
        col("o_orderkey") % 11 === 0): Unit
    }

  def q138ChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val root = changeFeedRoot(spark, dir)
    Scd.changeFeedBetween(spark, root, 1L, 3L,
        keys = Seq("o_orderkey"), valueCols = Seq("price"))
      .select(col("o_orderkey"), col("change_type"),
        col("old_price").cast("double").as("old_price"),
        col("new_price").cast("double").as("new_price"),
        col("from_version"), col("to_version"))
  }

  /** q139: optimistic concurrency under a REAL race
    * ([[graft.sources.Txn]] + [[graft.sources.Publish.publishStagedIf]])
    * — the multi-writer story: every mutation here is
    * read-modify-write (derive from live, stage, commit), and the
    * plain protocol loses updates under concurrency (writer B derives
    * from v5 while A commits v6; B's blind commit takes v7 and A's
    * change is gone — the rename race only catches same-number
    * collisions). The CAS commits iff the live pointer still reads
    * the transaction's base; conflicts rebase by RE-DERIVATION
    * (always sound — every transform re-reads live), the
    * Delta/Iceberg commit loop with the conflict analysis it can't
    * get wrong. The artifact races THREE concurrent appenders over
    * disjoint event slices through Txn.append: whatever the
    * interleaving, the serialized outcome is deterministic — base ∪
    * all three slices, exactly 4 versions — so the race itself sits
    * under the hash gate: a lost update drops a slice's rows, a
    * double-commit inflates the version count, either breaks it.
    * TxnSpec adds the CAS refusal, the bootstrap race, the
    * lost-update negative control (latched interleave of the
    * UNCHECKED path, proving the hazard is real), and stale-lock
    * breaking. */
  private def txnRaceRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_txnrace", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      def slice(r: Int): DataFrame = ev
        .where(col("event_id") % 4 === r)
        .select("event_id", "event_type", "value")
      graft.sources.Publish.publish(slice(0), tableDir): Unit
      val threads = (1 to 3).map { r =>
        new Thread(() => { graft.sources.Txn.append(spark, tableDir, slice(r)): Unit })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      require(graft.sources.Publish.currentVersion(tableDir).contains(4L),
        s"expected 4 committed versions, found ${graft.sources.Publish.currentVersion(tableDir)}")
    }

  def q139TxnAppends(spark: SparkSession, dir: String): DataFrame = {
    val root = txnRaceRoot(spark, dir)
    val nVersions = graft.sources.Publish
      .listVersions(java.nio.file.Paths.get(root)).size.toLong
    graft.sources.Publish.read(spark, root)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
      .withColumn("n_versions", lit(nVersions))
  }

  /** q140: verbatim-span (substring-granular) dedup
    * ([[similarity.Dedup.verbatimSpans]]) — the curation tier
    * document-level dedup can't express: per document, every maximal
    * token span whose 8-gram windows all recur verbatim in another
    * document, merged to islands via [[operators.Intervals.merge]]
    * and measured as a dup fraction — the span-removal population of
    * Lee et al.'s training-data dedup, over the corpus's planted
    * copy clusters. One corpus pass to (doc, pos, hash) rows, one
    * 8-byte-key shuffle for the cross-doc test, islands over the
    * surviving minority — and unlike every other dedup DETECTOR in
    * the registry, the whole chain is md5/integer-exact, so the
    * spans themselves hash-gate against DuckDB re-deriving shingles,
    * recurrence, and the island merge. */
  def q140VerbatimSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.verbatimSpans(Tables.documents(spark, dir), "doc_id", "text", n = 8)

  /** q141: semantic dedup ([[similarity.Dedup.semanticDedup]] —
    * SemDeDup, Abbas et al.): k-means-cluster the embedding space
    * (the VERIFIED deterministic Lloyd loop, m=1, K=8, 2 rounds),
    * then prune near-duplicates WITHIN each cluster by cosine ≥ 0.4,
    * keeping the lowest id per dominated vector — the pair workload
    * drops from n² to Σ|cell|², the paper's trade (a cross-cluster
    * near-dup pair is missed by design). Every stage is
    * engine-reproducible — the training CTEs are q117's coarse loop
    * verbatim, cosine is the q26 parity, the keep rule is one
    * EXISTS — so cluster assignments AND the keeper verdicts
    * themselves hash-gate against DuckDB re-deriving the whole
    * chain. At 100 TB this is the curation pass document-level and
    * span-level dedup can't make: re-phrased copies with no shared
    * tokens collapse in embedding space. */
  def q141SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.semanticDedup(Tables.embeddings(spark, dir),
      "vec_id", "embedding", d = PqM * PqDsub, kCells = 8, tau = 0.4)

  /** q142: semi-structured VARIANT extraction (Spark 4 VariantType —
    * `parse_json` / `variant_get` / `try_variant_get`): the modern
    * lakehouse answer to JSON columns (the reference's coingecko
    * payloads, q28's `props`): parse ONCE into the shredded binary
    * encoding, then typed path access at column speed — no
    * per-access string re-parse, no schema lock-in. The corpus's
    * props is a single int key, so a nested document (object +
    * array + the planted-input posture of q131) is constructed
    * deterministically from base columns, parsed to variant, and
    * read back through typed paths: nested object fields, array
    * indexing, a missing path through try_variant_get (NULL, never
    * throw). The oracle needs no JSON at all — it re-derives every
    * extracted value from the base columns, so the hash covers the
    * WHOLE variant round-trip: a mis-parse, wrong path navigation,
    * or type-coercion drift breaks the sums. One codegen'd pass, no
    * shuffle before the final |types|-row aggregate. */
  def q142VariantExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val doc = concat(
      lit("{\"meta\":{\"type\":\""), col("event_type"),
      lit("\",\"day\":"), dayofmonth(col("ts")),
      lit("},\"vals\":["), round(col("value"), 2),
      lit(","), col("user_id") % 10,
      lit("]}"))
    ev.withColumn("v", parse_json(doc))
      .select(
        expr("variant_get(v, '$.meta.type', 'string')").as("vtype"),
        expr("variant_get(v, '$.meta.day', 'int')").as("day"),
        expr("variant_get(v, '$.vals[0]', 'double')").as("v0"),
        expr("variant_get(v, '$.vals[1]', 'long')").as("v1"),
        expr("try_variant_get(v, '$.absent.path', 'long')").as("miss"))
      .groupBy("vtype")
      .agg(
        count(lit(1)).as("n_events"),
        sum("day").as("sum_day"),
        sum(col("v0").cast("decimal(18,2)")).cast("double").as("sum_v0"),
        sum("v1").as("sum_v1"),
        count(col("miss")).as("n_missing"))
  }

  /** q143: the SQL front door with standard time-travel syntax
    * ([[graft.sources.GraftCatalog]] — a DSv2 TableCatalog over the
    * Publish version layout): the q134 retention table queried as
    * PLAIN SQL — live pointer, `VERSION AS OF 2`, and `TIMESTAMP AS
    * OF` at v2's commit instant all through one registered catalog,
    * joined into the version-over-version delta. Resolution maps
    * straight onto readVersion/readAsOf (manifest `committed_at`);
    * the scan is Spark's native ParquetTable (vectorized, pushed
    * filters) under the MANIFEST schema. The version and timestamp
    * legs must agree with each other and with the oracle re-deriving
    * both slices from raw events — a resolver drift on either axis
    * breaks the hash. GraftCatalogSpec carries evolution-schema
    * conformance, DV refusal, SHOW TABLES, and write refusal. */
  def q143SqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = retentionRoot(spark, dir)
    val parent = java.nio.file.Paths.get(root).getParent.toString
    val tname = java.nio.file.Paths.get(root).getFileName.toString
    // catalog instances cache their root at first reference — key the
    // name on the artifact's run-scoped directory name so each artifact
    // gets its own catalog (the q143 lesson)
    val cat = "gtt" + (tname.hashCode.toLong & 0xffffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    val t2 = java.time.Instant
      .ofEpochMilli(graft.sources.Publish.commitTimeMs(root, 2L))
      .toString.replace("T", " ").stripSuffix("Z")
    spark.sql(
      s"""SELECT l.event_type, l.n_live, p.n_prior,
         |  l.n_live - p.n_prior AS n_new, ts.n_at_ts
         |FROM (SELECT event_type, count(*) AS n_live
         |      FROM $cat.`$tname` GROUP BY event_type) l
         |JOIN (SELECT event_type, count(*) AS n_prior
         |      FROM $cat.`$tname` VERSION AS OF 2 GROUP BY event_type) p
         |  USING (event_type)
         |JOIN (SELECT event_type, count(*) AS n_at_ts
         |      FROM $cat.`$tname` TIMESTAMP AS OF '$t2' GROUP BY event_type) ts
         |  USING (event_type)""".stripMargin)
  }

  /** q144: SQL MERGE INTO through the catalog
    * ([[graft.plans.RowLevelSqlBridge]]) — the reference's
    * DELETE+INSERT refresh (dune_transfers_updates; the full-rebuild
    * exclusion shape of core_coin_wallet_transfers.py:224-303) as ONE
    * standard SQL statement run end-to-end: a five-clause MERGE
    * (conditional matched DELETE, matched UPDATE, conditional NOT
    * MATCHED INSERT with an explicit VALUES list, and the NOT MATCHED
    * BY SOURCE full-sync DELETE branch) executes against a live
    * GraftCatalog table and commits through the same copy-on-write
    * version protocol as the API merge (q128). The oracle re-derives
    * the post-mutation state relationally (left join + CASE + filter
    * + anti-union) from the ORIGINAL events table — a wrong clause
    * order, a leaked by-source delete, or a value drifted through the
    * bridge's expression rebinding breaks the hash. Decimal-exact
    * arithmetic on both engines (the q97/q100 posture). */
  private def sqlCatalogFor(spark: SparkSession, tableDir: String, tag: String): (String, String) = {
    val parent = java.nio.file.Paths.get(tableDir).getParent.toString
    val tname = java.nio.file.Paths.get(tableDir).getFileName.toString
    // catalog instances cache their root at first reference — key the
    // name on the artifact's run-scoped directory name so each artifact
    // gets its own catalog (the q143 lesson)
    val cat = tag + (tname.hashCode.toLong & 0xffffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    (cat, tname)
  }

  private def sqlMergedEventsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_sqlmerge", dir) { tableDir =>
      graft.sources.Publish.publish(
        Tables.events(spark, dir).repartition(8), tableDir): Unit
      val (cat, tname) = sqlCatalogFor(spark, tableDir, "gsm")
      val ev = Tables.events(spark, dir)
      // disjoint op assignment (%13 wins) keeps the source key-unique,
      // the MERGE ambiguity contract
      val updDel = ev
        .where(col("event_id") % 11 === 0 || col("event_id") % 13 === 0)
        .select(col("event_id"),
          when(col("event_id") % 13 === 0, "D").otherwise("U").as("op"),
          (round(col("value"), 6).cast("decimal(18,6)") * 2)
            .cast("double").as("new_value"),
          col("ts"), col("user_id"), col("event_type"), col("value"), col("props"))
      val ins = ev.where(col("event_id") % 17 === 0)
        .select((col("event_id") + 200000000L).as("event_id"),
          lit("I").as("op"), col("value").as("new_value"),
          col("ts"), (col("user_id") + 2000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
      updDel.unionByName(ins).createOrReplaceTempView("graft_q144_src")
      spark.sql(
        s"""MERGE INTO $cat.`$tname` t USING graft_q144_src s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND s.op = 'D' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET value = s.new_value
           |WHEN NOT MATCHED AND s.op = 'I' THEN
           |  INSERT (event_id, ts, user_id, event_type, value, props)
           |  VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)
           |WHEN NOT MATCHED BY SOURCE AND t.user_id % 1000 = 77 THEN DELETE
           |""".stripMargin): Unit
    }

  def q144SqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val (cat, tname) = sqlCatalogFor(spark, sqlMergedEventsRoot(spark, dir), "gsm")
    spark.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |    AS sum_value
         |FROM $cat.`$tname` GROUP BY event_type""".stripMargin)
  }

  /** q145: SQL DELETE + UPDATE through the catalog
    * ([[graft.plans.RowLevelSqlBridge]] → the copy-on-write
    * [[graft.sources.Updates]] operators) — the remaining row-level
    * verbs as plain SQL statements against a live table: a takedown-
    * shaped DELETE, then an UPDATE rescaling a user cohort's values,
    * each committing a pruned file rewrite as its own version (only
    * files holding an affected row rewrite; the rest carry
    * byte-identically, RowLevelSqlSpec proves the SHA-256s). The
    * oracle re-derives the final state with the predicate negated and
    * the SET expression as a CASE — decimal-exact on both engines. */
  private def sqlRowWritesRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_sqlrow", dir) { tableDir =>
      graft.sources.Publish.publish(
        Tables.events(spark, dir).repartition(8), tableDir): Unit
      val (cat, tname) = sqlCatalogFor(spark, tableDir, "gsr")
      spark.sql(
        s"DELETE FROM $cat.`$tname` WHERE event_type = 'error' AND value > 50.0"): Unit
      spark.sql(
        s"""UPDATE $cat.`$tname`
           |SET value = CAST(CAST(round(value, 6) AS DECIMAL(18,6)) * 3 AS DOUBLE)
           |WHERE user_id % 10 = 3""".stripMargin): Unit
    }

  def q145SqlRowWrites(spark: SparkSession, dir: String): DataFrame = {
    val (cat, tname) = sqlCatalogFor(spark, sqlRowWritesRoot(spark, dir), "gsr")
    spark.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |    AS sum_value
         |FROM $cat.`$tname` GROUP BY event_type""".stripMargin)
  }

  /** q146: exact triangle counting
    * ([[operators.GraphOps.triangleCounts]]) — the third classic
    * graph shape next to BFS (q83) and PageRank (q84), over the
    * supplier co-fulfillment graph: suppliers are adjacent when they
    * both ship high-quantity lines (> 45) of the same order. Edge
    * derivation is q89's in-row pair generation — per-order supplier
    * sets are bounded (≤ 7 lineitems per order by construction), so
    * ONE shuffle on the order key replaces the lineitem self-join the
    * oracle states. Counting is degree-ordered compact-forward: each
    * triangle materializes exactly once at its (deg, id)-minimal
    * vertex, hub fan-out capped at out-degree ≤ O(√m) — the bound
    * that keeps a skewed degree distribution from going quadratic at
    * corpus scale. Integer-exact, so the DuckDB three-way self-join
    * re-derives it verbatim (orientation changes the PLAN, never the
    * triangle set). */
  def q146TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    val hi = Tables.lineitem(spark, dir)
      .where(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_suppkey"))
    val edges = hi.groupBy("l_orderkey")
      .agg(array_sort(collect_set(col("l_suppkey"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |    y -> struct(x as src, y as dst))))""".stripMargin)).as("e"))
      .select(col("e.src"), col("e.dst"))
    GraphOps.triangleCounts(edges)
      .select(col("node").as("supplier"), col("degree"), col("n_triangles"))
  }

  /** q147: incremental SCD2 apply-changes
    * ([[operators.Scd.scd2Apply]]) — the APPLY CHANGES maintenance
    * step over q93's dimension: history built from changes through
    * 2024-01-20, then the remaining days applied as a batch.
    * Untouched wallets carry verbatim (anti-join, no window work);
    * touched wallets rebuild per-key, which is what gets the
    * boundary right — a batch day restating the wallet's current
    * tier opens NO version (no-op suppression crosses the split).
    * The oracle is the FULL recompute (q93's SQL over the whole
    * range): the gate literally checks
    * apply(history(base), batch) ≡ history(base ∪ batch). */
  def q147Scd2Apply(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val dayW = Window.partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("ts").desc, col("event_id").desc)
    val closing = ev
      .withColumn("__rn", row_number().over(dayW))
      .where(col("__rn") === 1)
      .select(
        col("user_id").as("wallet"),
        to_date(col("ts")).as("date"),
        when(col("value") < 25, "low")
          .when(col("value") < 75, "mid")
          .otherwise("high").as("tier"))
      .transform(graft.CacheScope.persisted(_))
    val split = lit("2024-01-20").cast("date")
    val dim = Scd.scd2History(
      closing.where(col("date") <= split), Seq("wallet"), "date", Seq("tier"))
      .select("wallet", "tier", "version", "valid_from", "valid_to", "is_current")
    Scd.scd2Apply(dim, closing.where(col("date") > split),
        Seq("wallet"), "date", Seq("tier"))
      .select(col("wallet"), col("version").cast("long").as("version"),
        col("tier"), col("valid_from"), col("valid_to"), col("is_current"))
  }

  /** q148: Unicode text canonicalization
    * ([[text.TextOps.normalizeText]]) — NFC composition (the native
    * [[functions.NfcNormalize]] expression; Spark has no built-in),
    * control-char strip, whitespace collapse, trim: the byte-identity
    * pass that runs BEFORE every hashing/shingling operator, because
    * composed `é` and decomposed `e`+U+0301 are the same text but
    * different shingles. One codegen'd narrow pass, no shuffle;
    * DuckDB's `nfc_normalize` is the UAX #15 twin, so the oracle
    * hash-checks the normalized text itself. */
  def q148TextNormalize(spark: SparkSession, dir: String): DataFrame =
    TextOps.normalizeText(Tables.documents(spark, dir), "doc_id", "text")

  /** q149: exact exponentially-weighted moving average — the decayed
    * sibling of q36's flat moving average, with the q92/q96
    * determinism posture pushed all the way: half-life = 1 day, so
    * the weight of a price `d` days back is 2^(15−d) — INTEGER —
    * and numerator/denominator accumulate as exact commutative
    * integer sums over micro-unit prices (decimal→micro cast, never
    * a float multiply: double→long truncates in Spark but rounds in
    * DuckDB). A weight that halves per calendar day dies to <0.01%
    * past 15 days, so the 16-day truncation IS the semantics, not an
    * approximation of an infinite recurrence — which is what makes
    * an independent engine re-derive identical bits. Plan: one fact
    * pass to the |assets·days| daily grain, then the trailing merge
    * rides [[operators.RangeJoin.pointInInterval]]'s bin rewrite
    * (r15, the r14-verdict cleanup): each day is an interval
    * [day−15, day] and each observation a point, joined on
    * (asset, bin) at binWidth 16 — candidates per day are the ≤2
    * bins' ≤32 observations, so the merge is O(|days|·w) per asset
    * where the bare asset-keyed band join materialized O(|days|²)
    * pairs before its filter. Same rows out (the band re-applies),
    * so the oracle — the naive trailing join + identical integer
    * arithmetic — is unchanged, and the hash proves the rewrite
    * semantics-free; RangeJoinSpec pins the plan shape. */
  def q149Ewma(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg((round(max("value"), 6).cast("decimal(18,6)") * 1000000L)
        .cast("long").as("micro"))
      .withColumn("day_i", datediff(col("date"), lit("1970-01-01").cast("date")))
      .transform(graft.CacheScope.persisted(_))
    val r = daily.select(
      col("asset"), col("day_i").as("r_day"), col("micro").as("r_micro"))
    val itv = daily.select(col("asset"), col("date"),
      (col("day_i") - 15L).as("lo_day"), col("day_i").cast("long").as("hi_day"))
    graft.operators.RangeJoin.pointInInterval(
        r, itv, pointCol = "r_day", loCol = "lo_day", hiCol = "hi_day",
        binWidth = 16L, extraKeys = Seq("asset"))
      .withColumn("w", expr("shiftleft(1L, 15 - cast(hi_day - r_day as int))"))
      .groupBy(col("asset"), col("date"))
      .agg(
        sum(col("w") * col("r_micro")).as("num"),
        sum(col("w")).as("den"),
        count(lit(1)).as("n_obs"))
      .select(col("asset"), col("date"), col("n_obs"),
        round(col("num").cast("double") / col("den").cast("double") / 1e6, 6)
          .as("ewma"))
  }

  /** q177: exact trailing Holt smoothing
    * ([[graft.operators.LinearRecurrence]]) — q149's determinism
    * posture lifted from the scalar EWMA recurrence to Holt's
    * level+trend matrix recurrence (α = β = ½): 4A and 4c are integer,
    * so every lag's level/trend weight is an exact integer over the
    * common denominator 4^16, computed once by exact BigInt matrix
    * powers and shared VERBATIM with the oracle (the hash gates the
    * windowed-sum machinery; the spec gates the weights against the
    * sequential recurrence itself — exact for series shorter than the
    * window, where truncation drops nothing). Accumulation is
    * decimal(38,0) ↔ HUGEINT (Σ|W|·micro brushes Long range — the q97
    * rule), one double division at the very end. Same plan as q149:
    * daily grain once, then the trailing merge rides the RangeJoin
    * bin rewrite — O(|days|·w) candidates per asset. */
  def q177HoltTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("asset"), to_date(col("ts")).as("date"))
      .agg((round(max("value"), 6).cast("decimal(18,6)") * 1000000L)
        .cast("long").as("micro"))
      .withColumn("day_i", datediff(col("date"), lit("1970-01-01").cast("date")))
    graft.operators.LinearRecurrence.holtSmooth(
      daily, "asset", "day_i", "micro", w = 16)
  }

  /** q150: Hilbert-curve data skipping
    * ([[graft.sources.ZOrder.writeHilbert]] +
    * [[graft.functions.HilbertIndex2D]]) — q100's box query over the
    * BETTER-LOCALITY curve: every unit step of the Hilbert curve is
    * grid-adjacent where Morton jumps across half the grid at
    * quadrant seams, so one file's contiguous curve run covers a more
    * compact rectangle and a box intersects fewer stat boxes
    * (ZOrderSpec measures the panel head-to-head). Stats manifest,
    * read path, and pruning contract are shared with q100 VERBATIM —
    * only the write-side curve changed — and so is the oracle: the
    * same full-scan aggregate hash-checks that skipping over the new
    * layout dropped no needed file. */
  private def hilbertIndexedEvents(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_hidx", dir) { tableDir =>
      graft.sources.ZOrder.writeHilbert(
        Tables.events(spark, dir), tableDir,
        colA = "user_id", colB = "value", bits = 8, numFiles = 32)
    }

  def q150HilbertPrune(spark: SparkSession, dir: String): DataFrame = {
    val table = hilbertIndexedEvents(spark, dir)
    graft.sources.ZOrder.prunedRead(spark, table, 3L, 7L, 20.0, 80.0)
      .where(col("user_id").between(3, 7) && col("value").between(20.0, 80.0))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
  }

  /** q151: BM25 ranked retrieval ([[text.TextOps.bm25Rank]]) — the
    * query-side complement of q40's TF-IDF: score every document
    * against a fixed query ("merge window scan") with Lucene's BM25
    * (saturating tf, length normalization), return the top 10.
    * Determinism: per-term contributions are single identically-
    * associated float expressions rounded to 9 and summed as DECIMAL
    * — the top-k cut ranks on exact decimal + doc id, never float
    * summation order; k1+1 is an engine-side addition on BOTH sides
    * because 1.2+1.0 lands exactly on a rounding midpoint. Oracle
    * re-derives the identical pipeline in DuckDB. */
  def q151Bm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25Rank(Tables.documents(spark, dir), "doc_id", "text",
      Seq("merge", "window", "scan"), k = 10)

  /** q179: hard-negative mining over the PUBLISHED BM25 index
    * ([[text.TextOps.bm25Index]] →
    * [[text.TextOps.hardNegativesFromIndex]]) — the retriever-
    * training prep step in its production posture: the corpus is
    * tokenized ONCE into a (doc, term, tf, dl, fp) index published
    * under the commit protocol (the q166/q178 storage posture), and
    * each mining run is joins over the STORED table — no per-run
    * corpus-sized cache, no re-tokenization; crawl batches extend
    * the index via `Txn.append` because every index row is a per-doc
    * quantity (Bm25IndexSpec pins append ≡ rebuild). For each query
    * document (every 97th doc), the top-5 BM25-similar corpus
    * documents that are neither the query nor share its rolling-hash
    * fingerprint (textual duplicates are FALSE negatives — excluded
    * before the cut, so ranks are dense over true negatives). Query
    * terms restrict the postings by a JOIN (never isin literals —
    * queries are data-sized); q151's exact determinism recipe per
    * contribution; top-k is a per-query keyed window, never a global
    * sort. */
  private def bm25IndexRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_bm25idx", dir) { root =>
      graft.sources.Publish.publish(
        TextOps.bm25Index(Tables.documents(spark, dir), "doc_id", "text"),
        root): Unit
    }

  def q179HardNegatives(spark: SparkSession, dir: String): DataFrame =
    TextOps.hardNegativesFromIndex(
      graft.sources.Publish.read(spark, bm25IndexRoot(spark, dir)),
      "doc_id", queryPred = col("doc_id") % 97 === 0, k = 5)

  /** q152: event-transition matrix — first-order Markov path
    * analysis over the per-user event stream (the clickstream
    * "what follows what" table every product-analytics stack keeps):
    * next event via ONE lead() window pass (single (user) hash
    * exchange), then transition counts and probabilities per
    * (from, to) pair. Probabilities are integer ppm by FLOOR
    * division (`div`, positive operands — coincides with DuckDB
    * `//`), the q23/q74 exact-arithmetic posture: no float division,
    * bit-identical cross-engine. Terminal events (no successor) are
    * excluded — rows are TRANSITIONS. */
  def q152TransitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy("from_type")
    trans
      .withColumn("row_total", sum("n").over(byFrom))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div row_total").as("p_ppm"))
  }

  /** q153: last-touch attribution — every purchase attributed to the
    * most recent at-or-before touch event (click/view/signup) of the
    * same user, rolled up to attributed revenue per touch type. The
    * marketing-attribution shape, and a SECOND SEMANTIC consumER of
    * the as-of machinery: q51 prices transfers off a quote series,
    * this binds conversions to causes — same
    * [[operators.AsOfJoin.asOf]] union+window core, ONE keyed
    * shuffle, no per-user cross product. Ties at one timestamp
    * resolve by the operator's documented greatest-payload rule,
    * which the oracle mirrors as (ts, type, id) DESC ranking over
    * the quadratic theta join the Spark plan exists to avoid.
    * Unattributed purchases (no prior touch) report as 'organic'. */
  def q153Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        round(col("value"), 6).cast("decimal(18,6)").as("revenue"))
    val touches = ev.where(col("event_type").isin("click", "view", "signup"))
      .select(col("user_id"), col("ts").as("touch_ts"),
        col("event_type").as("touch_type"), col("event_id").as("touch_eid"))
    AsOfJoin.asOf(purchases, touches,
        keys = Seq("user_id"), probeTime = "ts", quoteTime = "touch_ts",
        payload = Seq("touch_type", "touch_eid"))
      .groupBy(coalesce(col("touch_type"), lit("organic")).as("touch_type"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(col("revenue")).cast("double").as("attributed_revenue"))
  }

  /** q154: the maintenance loop as SQL — q104's
    * publish→fragment→compact→vacuum cycle driven entirely by `CALL`
    * statements through the catalog ([[graft.sources.GraftProcedures]],
    * Spark 4's DSv2 ProcedureCatalog — the Iceberg `CALL system.…`
    * shape): three CAS appends fragment the table, `CALL compact`
    * runs the INCREMENTAL rewrite (cost ∝ fragmentation, replay
    * marker carried), `CALL vacuum` reaps history, and the final
    * read goes through the same SQL catalog. The oracle is the plain
    * events aggregate — maintenance must be byte-lossless however
    * many versions it flipped, so the hash IS the loop's correctness
    * proof (q104's posture, now at the SQL surface). */
  private def sqlMaintRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_sqlmaint", dir) { tableDir =>
      val ev = Tables.events(spark, dir)
      graft.sources.Publish.publish(
        ev.where(col("event_id") % 4 === 0).repartition(5), tableDir): Unit
      (1 to 3).foreach { i =>
        graft.sources.Txn.append(spark, tableDir,
          ev.where(col("event_id") % 4 === i).repartition(5)): Unit
      }
      val (cat, tname) = sqlCatalogFor(spark, tableDir, "gmt")
      spark.sql(
        s"CALL $cat.compact(`table` => '$tname', target_mb => 64)"): Unit
      spark.sql(s"CALL $cat.vacuum(`table` => '$tname', keep => 0)"): Unit
    }

  def q154SqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val (cat, tname) = sqlCatalogFor(spark, sqlMaintRoot(spark, dir), "gmt")
    spark.sql(
      s"""SELECT event_type, count(*) AS n_events,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |    AS sum_value
         |FROM $cat.`$tname` GROUP BY event_type""".stripMargin)
  }

  /** q155: SQL DDL through the catalog ([[graft.sources.GraftCatalog]]
    * create/alter/drop) — the table LIFECYCLE as plain SQL, every verb
    * riding the commit protocol: CREATE TABLE AS SELECT publishes an
    * empty schema version then appends the query result (both CAS
    * commits), ALTER TABLE ADD COLUMNS widens the manifest
    * METADATA-ONLY (live files carry byte-identically plus one empty
    * wide footer; old rows read the new column as NULL through the
    * readConformed contract), INSERT INTO lands wide rows next to the
    * narrow carries, and DROP TABLE retires a scratch sibling. The
    * final aggregate groups BY the evolved column, so the hash gate
    * covers exactly the NULL-conformance story: DuckDB re-derives the
    * CTAS slice (src NULL) ∪ the wide inserts (src 'late'). */
  private def sqlDdlRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_sqlddl", dir) { tableDir =>
      val (cat, tname) = sqlCatalogFor(spark, tableDir, "gdd")
      Tables.events(spark, dir).createOrReplaceTempView("graft_q155_events")
      spark.sql(
        s"""CREATE TABLE $cat.`$tname` AS
           |SELECT event_id, event_type, user_id, value
           |FROM graft_q155_events WHERE event_id % 3 = 0""".stripMargin): Unit
      spark.sql(s"CREATE TABLE $cat.`${tname}_scratch` (x BIGINT)"): Unit
      spark.sql(s"DROP TABLE $cat.`${tname}_scratch`"): Unit
      spark.sql(s"ALTER TABLE $cat.`$tname` ADD COLUMNS (src STRING)"): Unit
      spark.sql(
        s"""INSERT INTO $cat.`$tname`
           |SELECT event_id, event_type, user_id, value, 'late' AS src
           |FROM graft_q155_events WHERE event_id % 3 = 1""".stripMargin): Unit
    }

  def q155SqlDdl(spark: SparkSession, dir: String): DataFrame = {
    val (cat, tname) = sqlCatalogFor(spark, sqlDdlRoot(spark, dir), "gdd")
    spark.sql(
      s"""SELECT event_type, src, count(*) AS n_events,
         |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
         |    AS sum_value
         |FROM $cat.`$tname` GROUP BY event_type, src""".stripMargin)
  }

  /** q156: training-data export round-trip ([[graft.sources.Export]])
    * — the hand-off step after curation: q59's deterministic shard
    * assignment routes documents into size-capped JSONL shard
    * directories (`partitionBy` write, `maxRecordsPerFile` splitting
    * inside the writer — no per-shard repartition beyond the single
    * shard-routing shuffle that makes file counts deterministic),
    * plus a driver-bounded file manifest. The gated output re-READS
    * the export under the pinned schema and aggregates per shard:
    * doc counts, distinct sources, post-round-trip char mass, and
    * the SUM OF ROLLING-HASH FINGERPRINTS of the round-tripped text
    * (q25's engine-parity formula) — a JSON escaping bug, a dropped
    * line, or a mangled unicode point all break the hash; n_files
    * pins the size cap (ceil(n/25) per shard). The oracle re-derives
    * everything from the source table: the export must be LOSSLESS. */
  private def exportShardsRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_export", dir) { outDir =>
      val scramble = pmod(
        pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
      graft.sources.Export.writeJsonlShards(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"), pmod(scramble, lit(8L)).as("shard"))
          // one writer per shard → file count = ceil(rows/cap),
          // engine-reproducible (and the write stays one shuffle)
          .repartition(col("shard")),
        "shard", outDir, maxRecordsPerFile = 25L)
    }

  private def splitExportRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_split_export", dir) { outDir =>
      val scramble = pmod(
        pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
      graft.sources.Export.writeSplitShards(
        Splits.groupedSplit(Tables.documents(spark, dir), "source",
            seed = 7L, permille = (800, 900))
          .select(col("doc_id"), col("text"), col("lang"), col("source"),
            col("n_chars"), col("split"), pmod(scramble, lit(4L)).as("shard"))
          // one writer per (split, shard) → file count = ceil(rows/cap)
          .repartition(col("split"), col("shard")),
        "split", "shard", outDir, maxRecordsPerFile = 25L)
    }

  /** q174: split-aware training export — q173's leakage-free labels
    * routed through [[graft.sources.Export.writeSplitShards]] into a
    * `split=…/shard=…` JSONL tree (the directory layout a trainer
    * points its loaders at), then the gated aggregate re-READS the
    * tree and reconciles per (split, shard): doc counts, distinct
    * sources, rolling-hash fingerprint mass (q156's losslessness
    * gate — an escaping bug anywhere breaks the hash), and the
    * manifest's file counts against the 25-doc cap. The oracle
    * re-derives the SPLIT WALL and the shard routing from the source
    * table: one document on the wrong side of train/test breaks the
    * hash. */
  def q174SplitExport(spark: SparkSession, dir: String): DataFrame = {
    val out = splitExportRoot(spark, dir)
    val back = graft.sources.Export.readSplitShards(spark, out,
      "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    val files = graft.sources.Export.splitManifest(spark, out)
      .groupBy("split", "shard").agg(count(lit(1)).as("n_files"))
    back.groupBy("split", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(graft.text.TextOps.fingerprintCol(col("text"))).as("fp_sum"))
      .join(files, Seq("split", "shard"))
      .select(col("split"), col("shard"), col("n_docs"), col("n_sources"),
        col("fp_sum"), col("n_files"))
  }

  def q156ExportShards(spark: SparkSession, dir: String): DataFrame = {
    val out = exportShardsRoot(spark, dir)
    val back = graft.sources.Export.readJsonlShards(spark, out,
      "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    val files = graft.sources.Export.manifest(spark, out)
      .groupBy("shard").agg(count(lit(1)).as("n_files"))
    back.groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(length(col("text"))).as("sum_chars"),
        sum(graft.text.TextOps.fingerprintCol(col("text"))).as("fp_sum"))
      .join(files, Seq("shard"))
      .select(col("shard"), col("n_docs"), col("n_sources"),
        col("sum_chars"), col("fp_sum"), col("n_files"))
  }

  /** q157: sequence packing ([[operators.Packing.packNextFit]]) — the
    * context-window-filling step between curation and the training
    * loader: documents pack greedily (next-fit, order-preserving)
    * into 2048-char-budget sequences within their q59 shard. The
    * packing recurrence is a linear fold the DuckDB oracle re-runs
    * as a recursive CTE, so every sequence boundary sits under the
    * hash gate — one early or late bin close anywhere in a shard
    * shifts every downstream seq_id and breaks the hash. */
  def q157SequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val scramble = pmod(
      pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), scramble.as("scramble"),
        pmod(scramble, lit(8L)).as("shard"))
    graft.operators.Packing
      .packNextFit(docs, "shard", "scramble", "doc_id", "n_chars", budget = 2048L)
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("used_chars"))
  }

  /** q158: TOKEN-grain sequence packing with loader offsets — q157's
    * recurrence over q22's BPE-ish token counts (the budget a
    * training loader actually packs against) plus each document's
    * token OFFSET within its sequence (the index column that makes
    * the q156 export directly consumable: sequence = concat of docs
    * at their offsets). The offset is a plain windowed prefix sum
    * WITHIN the packed sequence — the sequential recurrence decides
    * only the bin boundaries; inside a bin the order is known, so
    * offsets stay declarative. Doc-grain output: every assignment
    * AND offset sits under the hash gate. */
  def q158TokenPacking(spark: SparkSession, dir: String): DataFrame = {
    val scramble = pmod(
      pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(graft.text.TextOps.BpeishPattern))
          .cast("long").as("n_tokens"),
        scramble.as("scramble"), pmod(scramble, lit(8L)).as("shard"))
    val packed = graft.operators.Packing
      .packNextFit(docs, "shard", "scramble", "doc_id", "n_tokens", budget = 256L)
    val w = Window.partitionBy("shard", "seq_id")
      .orderBy("scramble", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    packed.join(docs.select("doc_id", "scramble"), "doc_id")
      .withColumn("offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("shard"), col("seq_id"), col("doc_id"),
        col("n_tokens"), col("offset"))
  }

  /** q161: the loader-facing sequence index
    * ([[operators.Packing.sequenceIndex]]) — the seek table that
    * makes the q156/q158 export directly consumable at scale: one
    * row per (shard, packed sequence) with document count, token
    * total, and the sequence's token START OFFSET within its shard,
    * so a training job seeks to sequence k of shard s without
    * listing or scanning the corpus (Export.manifest's driver-sized
    * file index, lifted to the token grain). Index rows ∝ sequences
    * (corpus tokens / budget); the aggregate and prefix-sum window
    * ride the SAME shard key the packing recurrence shuffled on.
    * Oracle re-runs q158's recursive-CTE packing and derives the
    * index relationally — a single mis-binned document anywhere
    * shifts n_docs, seq_tokens, AND every later seq_start. */
  def q161SequenceIndex(spark: SparkSession, dir: String): DataFrame = {
    val scramble = pmod(
      pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000007L))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_count(col("text"), lit(graft.text.TextOps.BpeishPattern))
          .cast("long").as("n_tokens"),
        scramble.as("scramble"), pmod(scramble, lit(8L)).as("shard"))
    val packed = graft.operators.Packing
      .packNextFit(docs, "shard", "scramble", "doc_id", "n_tokens", budget = 256L)
    graft.operators.Packing.sequenceIndex(packed, "shard", "seq_id", "n_tokens")
      .select(col("shard"), col("seq_id"), col("n_docs"),
        col("seq_tokens"), col("seq_start"))
  }

  /** q162: the advisor FEEDBACK LOOP under the hash gate
    * ([[graft.sources.LayoutAdvisor.reclusterAdvice]]) — advise,
    * apply, MEASURE, re-advise: the piece that turns one-shot layout
    * advice (q120/q123/q136) into autonomous maintenance. Phase
    * `before` is a day-bucketed layout serving a user-box workload:
    * MEASURED scan (the `_fstats` candidate arithmetic the pruning
    * read path itself runs — every file's user span covers every
    * box) is ~3N while the PREDICTED best layout's modeled scan is a
    * fraction of N, and the gain amortized over 4 workload runs
    * clears the 2N rewrite floor → `recluster = true`. Phase `after`
    * re-runs the SAME call over the user-bucketed rewrite: boxes
    * align with file ranges, measured equals the model exactly, gain
    * 0 → `keep` — the loop's fixed point, so a maintenance daemon
    * polling this verdict converges instead of thrashing. Every
    * number is integer arithmetic over |files|-row manifests (BigInt
    * products, truncating division on non-negatives = floor), so the
    * oracle re-derives the DECISIONS themselves — file geometry is
    * deterministic by construction (one file per bucket expression),
    * which is what lets DuckDB reconstruct per-file stats
    * relationally. */
  private def reclusterRoots(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_reclust", dir) { root =>
      val ev = Tables.events(spark, dir).select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_i"))
      val maxU = ev.agg(max("user_id")).head.getLong(0)
      val w = maxU / 8 + 1
      val before = java.nio.file.Paths.get(root, "before").toString
      ev.withColumn("fb", pmod(col("day_i"), lit(8L)))
        .coalesce(1).write.partitionBy("fb").parquet(before)
      graft.sources.FileStats.build(spark, before,
        cols = Seq("user_id", "day_i"))
      val after = java.nio.file.Paths.get(root, "after").toString
      ev.withColumn("fb", expr(s"user_id div $w"))
        .coalesce(1).write.partitionBy("fb").parquet(after)
      graft.sources.FileStats.build(spark, after,
        cols = Seq("user_id", "day_i"))
    }

  def q162ReclusterLoop(spark: SparkSession, dir: String): DataFrame = {
    val root = reclusterRoots(spark, dir)
    val maxU = Tables.events(spark, dir).agg(max("user_id")).head.getLong(0)
    val w = maxU / 8 + 1
    val workload = Seq(
      (1L, "user", w, 2 * w - 1),
      (2L, "user", 2 * w, 4 * w - 1),
      (3L, "user", 6 * w, 7 * w - 1))
    val dims = Seq("user" -> "user_id", "day" -> "day_i")
    val layouts = Seq(Seq("user"), Seq("day"))
    val sess = spark
    import sess.implicits._
    Seq("before", "after").map { phase =>
      val a = graft.sources.LayoutAdvisor.reclusterAdvice(
        spark, java.nio.file.Paths.get(root, phase).toString,
        dims, workload, layouts, amortizeRuns = 4L)
      (phase, a.bestLayout, a.measuredRows, a.predictedRows,
        a.tableRows, a.recluster)
    }.toDF("phase", "best_layout", "measured_rows", "predicted_rows",
      "table_rows", "recluster")
  }

  /** q163: hybrid retrieval via reciprocal-rank fusion
    * ([[operators.TopK.rrfFuse]] over q151's BM25 leg and
    * [[similarity.Ann.singleQueryKnn]]'s vector leg) — the serving
    * pattern every RAG / retrieval stack runs: lexical and vector
    * rankings have incomparable score scales, so fusion is
    * RANK-based — each leg contributes 1/(60+rank) and ids re-rank
    * by the sum (Cormack et al.'s RRF, the default hybrid merge).
    * Both legs are top-50 lists with exact-decimal internal cuts
    * (BM25 contributions round(9)→decimal, cosine round(6) with id
    * tiebreaks), reciprocal terms round(9)→DECIMAL(18,9) so the
    * fused order is exact, and the final cut is (decimal score DESC,
    * id). The oracle re-derives both legs (q151's CTE verbatim at
    * k=50; the q20 cosine parity against vec 0's embedding) and the
    * fusion — a single rank shift in EITHER leg moves a reciprocal
    * term and breaks the hash. Scale: fusion cost is |legs|·k rows;
    * the legs themselves are the priced operators (q151, q20). */
  def q163HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val lex = TextOps.bm25Rank(Tables.documents(spark, dir),
        "doc_id", "text", Seq("merge", "window", "scan"), k = 50)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val vec = graft.similarity.Ann.singleQueryKnn(
        Tables.embeddings(spark, dir), "vec_id", "embedding",
        queryId = 0L, k = 50)
      .select(col("vec_id").as("id"), col("rank"))
    graft.operators.TopK.rrfFuse(
      Seq("lex" -> lex, "vec" -> vec), "id", "rank", k0 = 60, topK = 20)
  }

  /** q165: the corpus DATA CARD ([[text.TextOps.corpusCard]]) — the
    * per-source datasheet a training-data release ships: doc/token
    * counts, language spread, corpus-wide exact-dup membership, the
    * short-doc fraction, mean quality — every column exact integer
    * arithmetic over the q22/q23/q25 primitives, so the card itself
    * hash-gates (a data card whose numbers silently drift is worse
    * than none). One corpus scan, one 8-byte dup-key aggregate join,
    * one \|sources\|-row card. */
  def q165DataCard(spark: SparkSession, dir: String): DataFrame =
    TextOps.corpusCard(Tables.documents(spark, dir),
      "doc_id", "text", "source", "lang")

  /** q164: INCREMENTAL exact dedup against the published corpus
    * ([[graft.similarity.Dedup.incrementalNew]]) — the daily-ingest
    * dedup shape: admit only batch documents whose fingerprint is
    * not already in the corpus WITHOUT re-scanning the corpus. The
    * corpus is fingerprint-range-clustered with an `_fstats`
    * manifest, so the batch's distinct keys bin-join against the
    * \|files\|-row (min, max) intervals (RangeJoin — cost
    * \|batch\|+\|files\|, never per-file bloom probes of every key)
    * and only colliding-range files are read back for the EXACT
    * verify anti-join. Range over-approximation only adds candidate
    * files, never a wrong row — the result is row-identical to the
    * full anti-join the oracle states (pruning is an optimization,
    * the q100 contract applied to dedup; DedupSpec measures the
    * pruning and pins the equivalence). The artifact's corpus is 2/3
    * of documents; the batch is ALL documents, so survivors are the
    * held-out third minus any document whose text (hence
    * fingerprint) duplicates a corpus document — the planted-dup
    * population the incremental gate exists to catch. */
  private def incDedupCorpus(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_incdedup", dir) { root =>
      Tables.documents(spark, dir)
        .where(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
        .repartitionByRange(8, col("fp")).sortWithinPartitions("fp")
        .write.parquet(root)
      graft.sources.FileStats.build(spark, root, cols = Seq("fp"))
    }

  def q164IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val root = incDedupCorpus(spark, dir)
    val batch = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
    graft.similarity.Dedup.incrementalNew(spark, root, batch, "fp")
      .select(col("doc_id"), col("fp"))
  }

  /** q166: INCREMENTAL near-dup against the published corpus
    * ([[graft.similarity.Dedup.incrementalNearDupPairs]]) — q164's
    * crawl-ingest shape at the NEAR-dup grain. The corpus (2/3 of
    * documents) is MinHash-signed ONCE and its `(doc_id, band, sig)`
    * signature table ([[graft.similarity.Dedup.bandSignatures]])
    * published as a maintained index under the commit protocol;
    * per batch the held-out third signs only ITSELF and equi-joins
    * the index on `(band, sig)` — one index scan, batch side
    * broadcast-able, the corpus text never re-shingled. Admitted
    * batches append their signatures via `Txn.append` (cost ∝
    * batch), which is what "maintained" means at 100 TB: index
    * growth rides the versioned-commit appends, not recomputes.
    * Rows-only (q18's posture — seeded minhash has no SQL twin);
    * IncrementalNearDupSpec pins (a) incremental pairs ≡ the
    * corpus×batch cross slice of a from-scratch corpus ∪ batch LSH
    * run and (b) append-maintained index ≡ full re-sign, so the
    * registry entry's gate is rows>0 while the semantics are
    * spec-exact. */
  private def nearDupIndex(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_ndidx", dir) { root =>
      val corpus = Tables.documents(spark, dir).where(col("doc_id") % 3 =!= 0)
      graft.sources.Publish.publish(
        graft.similarity.Dedup.bandSignatures(corpus, "doc_id", "text"), root): Unit
    }

  def q166IncrementalNeardup(spark: SparkSession, dir: String): DataFrame = {
    val idx = graft.sources.Publish.read(spark, nearDupIndex(spark, dir))
    val batch = Tables.documents(spark, dir).where(col("doc_id") % 3 === 0)
    graft.similarity.Dedup.incrementalNearDupPairs(idx, batch, "doc_id", "text")
  }

  /** q167: OBSERVED-workload advice
    * ([[graft.sources.WorkloadCapture]] →
    * [[graft.sources.LayoutAdvisor.reclusterAdvice]]) — q162's
    * feedback loop fed by what users actually RAN instead of a
    * hand-declared workload. A QueryExecutionListener captures the
    * optimized-plan scan predicates of three planted queries over the
    * day-bucketed `before` layout (a BETWEEN, a second BETWEEN, and a
    * half-open `>= / <` pair that must close to the same inclusive
    * box), folds them into reclusterAdvice's `(query_id, dim, lo,
    * hi)` shape, and the SAME manifest arithmetic q162 gates then
    * runs on the captured rows. Because the planted predicates are
    * the q162 `before` workload, the oracle re-derives BOTH halves
    * relationally: the captured ranges (what the listener must have
    * seen) and the advice (what the arithmetic must conclude) —
    * capture → advise is hash-gated end to end, not just smoke-run.
    * The capture itself is O(plan) driver work per query; nothing
    * here scales with data. */
  def q167ObservedAdvice(spark: SparkSession, dir: String): DataFrame = {
    val root = reclusterRoots(spark, dir)
    val before = java.nio.file.Paths.get(root, "before").toString
    val maxU = Tables.events(spark, dir).agg(max("user_id")).head.getLong(0)
    val w = maxU / 8 + 1
    val dims = Seq("user" -> "user_id", "day" -> "day_i")
    val cap = new graft.sources.WorkloadCapture(before, dims)
    spark.listenerManager.register(cap)
    try {
      val t = spark.read.parquet(before)
      t.where(col("user_id").between(w, 2 * w - 1)).count(): Unit
      t.where(col("user_id").between(2 * w, 4 * w - 1)).count(): Unit
      t.where(col("user_id") >= 6 * w && col("user_id") < 7 * w).count(): Unit
      require(cap.awaitCount(3), "listener bus never delivered the planted executions")
    } finally spark.listenerManager.unregister(cap)
    val workload = cap.capturedWorkload
    val a = graft.sources.LayoutAdvisor.reclusterAdvice(
      spark, before, dims, workload, Seq(Seq("user"), Seq("day")), amortizeRuns = 4L)
    val sess = spark
    import sess.implicits._
    workload.toDF("query_id", "dim", "lo", "hi")
      .withColumn("best_layout", lit(a.bestLayout))
      .withColumn("measured_rows", lit(a.measuredRows))
      .withColumn("predicted_rows", lit(a.predictedRows))
      .withColumn("table_rows", lit(a.tableRows))
      .withColumn("recluster", lit(a.recluster))
  }

  /** q168: the exact-dedup admission gate at the SQL surface —
    * `CALL cat.admit_batch(table => 'corpus', batch => 'batch1',
    * key => 'fp')` runs q164's manifest-pruned incremental anti-join
    * as a catalog maintenance verb: batch rows collapse to one
    * deterministic representative per key (min over the row struct),
    * survivors append through the CAS commit, and the `_fstats`
    * manifest refreshes INCREMENTALLY so the next admit's pruning
    * sees the keys this one added. The artifact calls the procedure
    * TWICE with the same staged batch and publishes both verdict
    * rows: call 1 admits exactly the held-out distinct fingerprints
    * (version 1→2), call 2 admits ZERO at the unchanged version —
    * the idempotence hash-gates manifest freshness itself (a stale
    * manifest would re-admit call 1's keys and break every number).
    * The oracle re-derives the fingerprints, both verdict rows, and
    * the final corpus count relationally. */
  private def admitCat(spark: SparkSession, root: String): String = {
    val cat = "gad" + (java.nio.file.Paths.get(root).getFileName.toString
      .hashCode.toLong & 0xffffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  private def sqlAdmitRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_sqladmit", dir) { root =>
      val docs = Tables.documents(spark, dir)
        .select(col("doc_id"), TextOps.fingerprintCol(col("text")).as("fp"))
      graft.sources.Publish.publish(
        docs.where(col("doc_id") % 3 =!= 0), s"$root/corpus"): Unit
      graft.sources.Publish.publish(docs, s"$root/batch1"): Unit
      val cat = admitCat(spark, root)
      val call = s"CALL $cat.admit_batch(`table` => 'corpus', " +
        "batch => 'batch1', key => 'fp')"
      val r1 = spark.sql(call).withColumn("call_seq", lit(1L))
      val r2 = spark.sql(call).withColumn("call_seq", lit(2L))
      graft.sources.Publish.publish(r1.unionByName(r2), s"$root/verdicts"): Unit
    }

  def q168SqlAdmit(spark: SparkSession, dir: String): DataFrame = {
    val root = sqlAdmitRoot(spark, dir)
    val cat = admitCat(spark, root)
    spark.sql(
      s"""SELECT v.call_seq, v.n_batch, v.n_admitted, v.n_rejected, v.version,
         |  (SELECT count(*) FROM $cat.corpus) AS corpus_rows
         |FROM $cat.verdicts v""".stripMargin)
  }

  /** q169: DOUBLE-ENTRY ledger netting — the reference's Ethereum
    * transfer-cohort build (ethereum_transfers_updates.py:225-250):
    * each transfer explodes into BOTH counterparty legs (+amount at
    * the receiver, −amount at the sender), then daily net position
    * per (date, wallet, token) keeps only non-zero nets (`HAVING
    * SUM(value) <> 0`). q3 signs one party's ledger; this is the
    * whole-market form where every row posts to two accounts — a
    * wallet both sending and receiving identical totals on a day
    * (including self-transfers) nets to zero and drops on BOTH
    * engines because amounts are exact decimals (the q97/q100
    * posture: decimal accumulate, double present). Plan: the union
    * is narrow (no shuffle), netting is ONE map-side-combined hash
    * aggregate on the (date, wallet, token) key — at 100 TB the
    * explode doubles rows into the combiner, not the wire. The
    * counterparty is derived arithmetically (`(user_id + 7·event_id)
    * mod 997`) so both engines see the same transfer graph at every
    * SF. */
  def q169LedgerNet(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.events(spark, dir).select(
      to_date(col("ts")).as("date"),
      col("user_id").as("from_w"),
      pmod(col("user_id") + col("event_id") * 7, lit(997)).as("to_w"),
      col("event_type").as("token"),
      round(col("value"), 6).cast("decimal(18,6)").as("amount"))
    t.select(col("date"), col("to_w").as("wallet"), col("token"), col("amount"))
      .unionByName(t.select(col("date"), col("from_w").as("wallet"),
        col("token"), (-col("amount")).as("amount")))
      .groupBy("date", "wallet", "token")
      .agg(sum("amount").as("net"))
      .where(col("net") =!= 0)
      .select(col("date"), col("wallet"), col("token"),
        col("net").cast("double").as("net_amount"))
  }

  /** q170: DSIR importance reweighting ([[graft.text.Importance]]) —
    * hashed-n-gram distribution matching against a target slice
    * (here: the `lang = 'en'` documents), top-100 by importance
    * weight. The curation tier between per-doc heuristics (q23/q72)
    * and embedding-space methods (q141): corpus-level statistics,
    * counting-only cost. Every hash is exact integer arithmetic and
    * every log-ratio is one rounded-decimal term, so the weights —
    * and therefore the SELECTION — hash-gate against DuckDB
    * re-deriving the whole chain. */
  def q170ImportanceSelect(spark: SparkSession, dir: String): DataFrame =
    graft.text.Importance.importanceSelect(
      Tables.documents(spark, dir), "doc_id", "text",
      targetPred = col("lang") === "en", buckets = 512, k = 100)

  /** q171: the declared `row_number() <= k` top-k-per-group idiom —
    * per-user top-3 purchases by (value, event_id) — rewritten by the
    * injected [[graft.plans.TopKRewrite]] into a bounded-heap
    * aggregate + explode (map-side partial: each mapper ships ≤ k
    * candidates per group instead of every row through the window
    * exchange+sort; Flink's Rank rewrite). The reference materializes
    * exactly this shape for its per-coin wallet leaderboards
    * (dreambot_whale_chart.py:370-436). The rank column itself is in
    * the gated output, so the heap's rank restoration — not just the
    * row SET — must match DuckDB running the window verbatim; the
    * (value DESC, event_id DESC) order is a total order, so ranks are
    * deterministic on both engines. */
  def q171DeclaredTopK(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("graft_q171_events")
    spark.sql(
      """SELECT user_id, event_id, rn,
        |       CAST(round(value, 6) AS DOUBLE) AS amount FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY value DESC, event_id DESC) AS rn
        |  FROM graft_q171_events WHERE event_type = 'purchase'
        |) WHERE rn <= 3""".stripMargin)
  }

  /** q172: CCNet-style LM perplexity filter
    * ([[graft.text.Perplexity]]) — bigram LM trained on the `lang =
    * 'en'` reference slice, every document scored by mean −ln P and
    * binned head/middle/tail. The fluency tier of the curation
    * ladder; exact-integer counts + rounded-decimal per-bigram terms
    * put the scores AND the tercile labels under the hash gate. */
  def q172PerplexityFilter(spark: SparkSession, dir: String): DataFrame =
    graft.text.Perplexity.lmScore(
      Tables.documents(spark, dir), "doc_id", "text",
      referencePred = col("lang") === "en")

  /** q178: perplexity terciles over a STORED score table —
    * [[graft.text.Perplexity.terciles]] run the way a production
    * pipeline would (the PLANS.md r12 posture): the LM scoring pass
    * writes its `(id, n_bigrams, __ce)` table to parquet ONCE (an
    * AQE-planned Dataset write — built once per (run, SF) by
    * tools.Scratch, the q42/q100 lifecycle), and the distributed rank's .rdd
    * passes read that plain scan instead of re-running the model
    * joins without AQE. Same rows as q172 bit-for-bit, so the SAME
    * oracle hash-gates both — the pair proves the rank stage is
    * storage-agnostic and prices the two postures side by side. */
  private def perplexityScoreTable(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_pplx", dir) { tableDir =>
      val docs = Tables.documents(spark, dir)
      val (rb, vc) = graft.text.Perplexity.trainBigramModel(
        docs.where(col("lang") === "en"), "doc_id", "text")
      graft.text.Perplexity.scoreAgainst(docs, "doc_id", "text", rb, vc)
        .write.parquet(tableDir)
    }

  def q178PerplexityRankStored(spark: SparkSession, dir: String): DataFrame =
    graft.text.Perplexity.terciles(
      spark.read.parquet(perplexityScoreTable(spark, dir)), "doc_id")

  /** q173: leakage-free grouped train/val/test split
    * ([[graft.operators.Splits]]) — every document's SOURCE hashes to
    * one split, so near-duplicates within a source can never straddle
    * the train/test wall; per-split doc/char rollup makes the gated
    * output both the label assignment and the fraction accounting. */
  def q173GroupedSplit(spark: SparkSession, dir: String): DataFrame =
    Splits.groupedSplit(Tables.documents(spark, dir), "source",
        seed = 7L, permille = (800, 900))
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_sources"), sum("n_docs").as("n_docs"),
        sum("n_chars").as("n_chars"))

  /** q159: the change data feed at the SQL surface — q138's
    * publish→MERGE→DV history served as `FROM cat.`t$$changes``
    * ([[graft.sources.GraftCatalog]]'s third metadata table, the
    * Delta `table_changes` / Iceberg changelog-scan shape). Unlike
    * `t$history`/`t$files` the feed is DATA-sized, so the relation is
    * a distributed scan (a DSv2 V1Scan bridge over the
    * [[graft.operators.Scd.changeFeedBetween]] plan — the diffs'
    * joins run on executors, nothing materializes driver-side), and
    * the `WHERE from_version >= 1 AND to_version <= 3` bounds PUSH
    * into the step range: only the asked snapshots are read and
    * diffed, which is what makes one-step-per-tick incremental
    * consumption work from SQL at 100 TB. Feed keys are declared as
    * catalog configuration (`…changes.<table>.keys`); a bound past
    * the vacuumed retention horizon refuses rather than serving a
    * silently truncated feed (GraftCatalogSpec). Same oracle as q138
    * — the API and SQL surfaces must agree hash-for-hash. */
  def q159SqlChanges(spark: SparkSession, dir: String): DataFrame = {
    val root = changeFeedRoot(spark, dir)
    val parent = java.nio.file.Paths.get(root).getParent.toString
    val tname = java.nio.file.Paths.get(root).getFileName.toString
    val cat = "gch" + (tname.hashCode.toLong & 0xffffffffL)
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", parent)
    spark.conf.set(s"spark.sql.catalog.$cat.changes.$tname.keys", "o_orderkey")
    spark.sql(
      s"""SELECT o_orderkey, change_type,
         |  CAST(old_price AS DOUBLE) AS old_price,
         |  CAST(new_price AS DOUBLE) AS new_price,
         |  from_version, to_version
         |FROM $cat.`$tname$$changes`
         |WHERE from_version >= 1 AND to_version <= 3""".stripMargin)
  }

  /** q160: the POST-GATE SNAPSHOT of a multi-table write-audit-publish
    * ([[graft.streaming.CatalogWapStream.applyBatch]]) under the hash
    * gate — a star ingest (orders facts, customer dims) where every
    * gate the snapshot-grain audit applies is re-derived relationally
    * by the oracle: the dims' own drop expectation (non-negative
    * balance), the facts' drop expectation (price floor), and the
    * REFERENTIAL drop checked against the CLEANED dims — a fact whose
    * customer was quarantined by the dim's own expectation must land
    * in `_rejects` as dangling, not publish (the r9-advice scenario,
    * now oracle-checked end-to-end, not just spec-checked). Output =
    * all three members of the committed snapshot (facts, dims, and
    * the `_rejects` quarantine with its violation names), so a gate
    * that over- or under-drops any row on any member breaks the
    * hash. */
  private def wapSnapshotRoot(spark: SparkSession, dir: String): String =
    graft.tools.Scratch.cachedArtifact("graft_wapsnap", dir) { root =>
      import graft.sources.Wap
      import graft.streaming.CatalogWapStream
      val cust = Tables.customer(spark, dir)
      val derive = Map[String, (Option[DataFrame], DataFrame) => DataFrame](
        "facts" -> ((_, b) => b.select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice"), 2).cast("decimal(18,2)").as("price"))),
        "dims" -> ((_, _) => cust.select(col("c_custkey"),
          round(col("c_acctbal"), 2).cast("decimal(18,2)").as("bal"))))
      val exps = Map(
        "facts" -> Seq(Wap.Expectation.drop("not_low", col("price") >= 2000)),
        "dims" -> Seq(Wap.Expectation.drop("bal_nonneg", col("bal") >= 0)))
      val refs = Seq(CatalogWapStream.Referential(
        "fact_has_dim", "facts", Seq("o_custkey"), "dims", Seq("c_custkey"),
        Wap.Severity.Drop))
      CatalogWapStream.applyBatch(
        Tables.orders(spark, dir), 0L, root, derive, exps, refs): Unit
    }

  def q160WapSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val root = wapSnapshotRoot(spark, dir)
    val facts = graft.sources.Catalog.read(spark, root, "facts")
      .select(lit("facts").as("member"), col("o_orderkey").as("k"),
        col("price").cast("double").as("val"))
    val dims = graft.sources.Catalog.read(spark, root, "dims")
      .select(lit("dims").as("member"), col("c_custkey").as("k"),
        col("bal").cast("double").as("val"))
    val rej = graft.sources.Catalog.read(spark, root,
        graft.streaming.CatalogWapStream.RejectsTable)
      .select(
        concat(lit("rej."), array_join(col("violated"), "+")).as("member"),
        coalesce(
          get_json_object(col("row_json"), "$.o_orderkey"),
          get_json_object(col("row_json"), "$.c_custkey"))
          .cast("long").as("k"),
        lit(null).cast("double").as("val"))
    facts.unionByName(dims).unionByName(rej)
  }

  def q124DeclaredDedupe(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir).createOrReplaceTempView("graft_q124_events")
    spark.sql(
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts, event_id) AS rn
        |  FROM graft_q124_events
        |) WHERE rn = 1""".stripMargin)
  }

  /** q102: funnel INSTANCES — MATCH_RECOGNIZE-lite over the event
    * stream ([[operators.Sequence.funnelInstances]]). q39 already
    * answers the USER grain (does a user ever convert?); this is the
    * instance grain MATCH_RECOGNIZE would give: EVERY signup event
    * anchors its own chain, binding the first strictly-later view
    * within 3 days, then the first strictly-later purchase within 7
    * days of the view — no backtracking, nulls from the first failed
    * step onward. Plan: one forward as-of join (single keyed shuffle,
    * the q65 union+window form) per step, so the chain never pays a
    * per-user cross product. Step times + exact integer microsecond
    * durations come out; the oracle re-derives each binding with a
    * min-over-qualifying-events join and the same gap arithmetic. */
  def q102FunnelInstances(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    Sequence.funnelInstances(
        ev, Seq("user_id"), "ts",
        anchorPredicate = col("event_type") === "signup",
        anchorCols = Seq("event_id"),
        steps = Seq(
          Sequence.Step("t1", col("event_type") === "view", 3L * 86400000000L),
          Sequence.Step("t2", col("event_type") === "purchase", 7L * 86400000000L)))
      .select(
        col("event_id").as("anchor_id"), col("user_id"),
        col("t0"), col("t1"), col("t2"),
        (unix_micros(col("t1")) - unix_micros(col("t0"))).as("dur01_us"),
        (unix_micros(col("t2")) - unix_micros(col("t1"))).as("dur12_us"),
        (lit(1L) + when(col("t1").isNotNull, 1L).otherwise(0L)
          + when(col("t2").isNotNull, 1L).otherwise(0L)).as("steps_done"))
  }

  /** q62: budget-bounded batch selection — per-wallet activity
    * totals, a GLOBAL running total ordered smallest-first, and the
    * prefix that fits a 5000-event ingestion budget (the reference's
    * Dune batching: retrieve_dune_transfer_data.py:205 computes
    * `sum(transfer_records) over (order by transfer_records)` and
    * takes coins until the batch cap). The naive plan is a
    * single-task global window; [[operators.PrefixSum]] replaces it
    * with range-repartition + per-partition windows + an exclusive
    * scan over the ≤32 partition totals — the two-pass parallel
    * prefix sum. Oracle evaluates the plain global window. */
  def q62BudgetPrefix(spark: SparkSession, dir: String): DataFrame = {
    val wallets = Tables.events(spark, dir)
      .groupBy(col("user_id").as("wallet"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("total_value"))
    PrefixSum.globalRunningSum(wallets, Seq("n_events", "wallet"),
        "n_events", "records_running_total")
      .withColumn("in_batch", col("records_running_total") <= 5000L)
  }

  /** q63: per-label embedding centroids in LONG form (label, dim,
    * centroid, n_vectors) — the distributed mean-vector build that
    * seeds IVF cells ([[similarity.Ann]] computes the same shape
    * internally) and powers class prototypes / nearest-class-mean
    * classification over a labeled corpus. posexplode fans each
    * vector into 64 (dim, value) rows, but partial aggregation
    * collapses them map-side — the shuffle carries ≤ labels × dims
    * rows per task, NOT rows × dims; at 100 TB the cost is the scan.
    * Long form keeps the oracle an exact row-set compare (array
    * columns would turn the check into string-formatting parity). */
  def q63LabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(
        round(avg("x"), 6).as("centroid"),
        count(lit(1)).as("n_vectors"))

  /** q64: audio metadata extraction over the media table — REAL
    * WAV/AIFF/AU header decode via the JDK's javax.sound.sampled
    * (the testdata's text-backed payloads take the deterministic
    * stub; OperatorInvariantsSpec round-trips a synthesized WAV
    * through the real path). Rows-only gate: binary plumbing has no
    * SQL re-derivation. */
  def q64AudioMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioMetadata(
      Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text"))

  /** q65: FORWARD as-of join — every transfer priced with the
    * EARLIEST quote at-or-after its date (the "next available quote"
    * direction: how a settlement system prices activity that precedes
    * the first quote — exactly the rows q51's backward walk leaves
    * null). Same sparsified quote series as q51. Oracle: DuckDB has
    * no forward ASOF, so it evaluates the time-reversal identity on
    * negated epoch days with its native backward ASOF — an
    * independent engine confirming the identity the operator uses. */
  def q65AsofForwardJoin(spark: SparkSession, dir: String): DataFrame = {
    val probes = Tables.transfers(spark, dir)
    val quotes = Tables.prices(spark, dir)
      .where(dayofmonth(col("date")) % 3 === 0)
      .select(col("asset"), col("date").as("price_date"), col("price"))
    AsOfJoin.asOfForward(probes, quotes, Seq("asset"), "date", "price_date", Seq("price"))
  }

  /** q66: arbitrary GROUPING SETS — the grain combination `rollup`
    * cannot express: (type, day) detail, per-type totals, AND
    * per-day totals in one pass, skipping the grand total. Same
    * Expand→partial-agg plan as q53 (shuffle ≤ grains × groups), one
    * scan instead of three. The (day)-alone grain is the reference's
    * "daily across all coins" rollup that a (type, day) rollup
    * cannot produce. */
  def q66GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("date"), col("value"))
    base.groupingSets(
        Seq(Seq(col("event_type"), col("date")), Seq(col("event_type")), Seq(col("date"))),
        col("event_type"), col("date"))
      .agg(
        grouping_id().as("grain"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 6).as("sum_value"))
  }

  /** q67: relational set operations at (user, day) grain — days a
    * user both viewed AND purchased (INTERSECT), and error days with
    * no view or purchase (EXCEPT chain); both DISTINCT semantics,
    * matching the SQL defaults. Spark plans INTERSECT / EXCEPT as
    * left-semi / left-anti joins over a hash shuffle — the same
    * single-exchange shape as the joins they sugar, worth pinning
    * because users reach for the SQL forms directly. (User grain is
    * degenerate here: every user eventually does everything; the day
    * grain keeps both cohorts non-trivial at every SF.) */
  def q67SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    def days(t: String) = ev.where(col("event_type") === t).select("user_id", "day")
    val engaged = days("purchase").intersect(days("view"))
    val errorOnly = days("error").distinct()
      .except(days("purchase")).except(days("view"))
    engaged.withColumn("cohort", lit("view_and_purchase_day"))
      .unionByName(errorOnly.withColumn("cohort", lit("error_only_day")))
      .groupBy("cohort").agg(count(lit(1)).as("n_user_days"))
  }

  /** q68: structured-string parsing — split the composite
    * o_orderpriority code ("1-URGENT") into its rank and label and
    * aggregate per component (the reference parses cohort numbers and
    * dates out of table-id strings the same way:
    * ethereum_transfers_updates.py:152 SPLITs table_id and casts the
    * pieces). Pure codegen'd string ops at scan speed; the parse
    * NEVER uses a UDF. */
  def q68PriorityParse(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        split(col("o_orderpriority"), "-").getItem(0).cast("int").as("priority_rank"),
        split(col("o_orderpriority"), "-").getItem(1).as("priority_label"),
        col("o_totalprice"))
      .groupBy("priority_rank", "priority_label")
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))

  /** q69: time-weighted average price over a SPARSE quote series —
    * each quote weighted by the days it was the live price (lead-date
    * gap; the final quote holds 1 day). This is the financially
    * correct mean for irregular series (a plain AVG over-weights
    * dense quoting periods) and the aggregate the reference's
    * market-data consumers derive from gap-filled dailies — computed
    * here WITHOUT materializing the dense calendar: the lead-gap
    * weighting is algebraically identical to forward-fill-then-AVG
    * but shuffles |quotes| rows instead of |assets|×|days|. */
  def q69Twap(spark: SparkSession, dir: String): DataFrame = {
    val quotes = Tables.prices(spark, dir)
      .where(dayofmonth(col("date")) % 3 === 0)
    val w = Window.partitionBy("asset").orderBy("date")
    quotes
      .withColumn("hold_days",
        coalesce(datediff(lead("date", 1).over(w), col("date")), lit(1)).cast("long"))
      .groupBy("asset")
      .agg(
        round(sum(col("price") * col("hold_days")) / sum("hold_days"), 6).as("twap"),
        count(lit(1)).as("n_quotes"),
        sum("hold_days").as("days_covered"))
  }

  /** q70: weekly OHLC candles per asset over the daily price series —
    * open/close via min_by/max_by on the date (one pass, no
    * row_number window), high/low plain extrema; the chart-serving
    * aggregate of the reference's market-data stack. Monday-start
    * weeks in both engines (verified). */
  def q70WeeklyOhlc(spark: SparkSession, dir: String): DataFrame =
    Tables.prices(spark, dir)
      .groupBy(col("asset"),
        date_trunc("week", col("date")).cast("date").as("week"))
      .agg(
        round(min_by(col("price"), col("date")), 6).as("open"),
        round(max("price"), 6).as("high"),
        round(min("price"), 6).as("low"),
        round(max_by(col("price"), col("date")), 6).as("close"),
        count(lit(1)).as("n_days"))

  /** q71: data-quality check suite — the runtime mirror of the
    * reference's dbt test artifacts (dbt_dreamsdata/tests; the
    * per-rule mapping is documented on [[graft.checks.Checks]]). One
    * (rule, n_violations) row per rule — the audit artifact a
    * scheduled pipeline records per run. Counts are live, not vacuous:
    * the synthetic transfer signs produce genuinely negative balances
    * (the same rows q7 cohorts), and the price calendar has real
    * per-asset gaps for noDateGaps to find. */
  def q71QualityChecks(spark: SparkSession, dir: String): DataFrame = {
    import graft.checks.Checks
    // the suite reads balances 3× and transfers 2× across rules;
    // persist the shared derived tables so the events fact table is
    // scanned once per input, not once per rule — Spark's runtime
    // exchange reuse does NOT dedupe union branches whose operator
    // trees differ above a shared scan (measured: zero ReusedQueryStage
    // without the persist). Lifecycle via CacheScope like every
    // operator-internal persist.
    val balances = CacheScope.persisted(Tables.transfersWithBalance(spark, dir))
    val transfers = CacheScope.persisted(Tables.transfers(spark, dir))
    // derived "total supply" dimension: all inflows ever minted per
    // asset — an upper bound no single wallet's balance can exceed, so
    // the rule doubles as an internal-consistency proof
    val supply = transfers.groupBy(col("asset").as("s_asset"))
      .agg(sum(when(col("net_transfers") > 0, col("net_transfers")).otherwise(0))
        .as("total_supply"))
    val latest = Checks.latestPerKey(balances, Seq("asset", "wallet"), "date")
    Checks.summarize(Seq(
      "balance_negative" -> Checks.nonNegative(balances, "balance", 0.1),
      "balance_over_supply" -> Checks.boundedByDim(
        latest, "asset", "balance", supply, "s_asset", "total_supply"),
      "orders_customer_fk" -> Checks.orphans(
        Tables.orders(spark, dir), Seq("o_custkey"),
        Tables.customer(spark, dir), Seq("c_custkey")),
      "price_date_gaps" -> Checks.noDateGaps(
        Tables.prices(spark, dir), Seq("asset"), "date"),
      "discount_in_range" -> Checks.expectNone(
        Tables.lineitem(spark, dir), col("l_discount") < 0 || col("l_discount") > 1),
      "sequence_increasing" -> Checks.strictlyIncreasing(
        balances, Seq("asset", "wallet"), "date", "transfer_sequence"),
      "transfers_unique_key" -> Checks.uniqueKey(
        transfers, Seq("asset", "wallet", "date"))))
  }

  /** q72: Gopher-style word-level quality gates over documents — see
    * [[text.TextOps.gopherQuality]]. The keep flag composes the
    * published thresholds; downstream corpora filter on it the way
    * q60 caps domains. */
  def q72QualityGopher(spark: SparkSession, dir: String): DataFrame =
    TextOps.gopherQuality(Tables.documents(spark, dir), "doc_id", "text")

  /** q73: repetitive-document stats over word 2-grams — see
    * [[text.TextOps.repetitionStats]]. Duplicate-gram mass and
    * top-gram share in exact ppm, with the C4/Gopher-style
    * `repetitive` flag. */
  def q73RepetitionFilter(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionStats(Tables.documents(spark, dir), "doc_id", "text")

  /** q74: budget-driven mixture sampling — per-source admission rates
    * DERIVED from the data (rate = char budget / source size, capped
    * at 1) instead of q55's fixed strata rates; the admission
    * predicate is the same engine-reproducible mod-prime Knuth mix,
    * so DuckDB re-derives the exact sample. Plan shape: one tiny
    * per-source aggregate broadcast back onto the fact scan — at
    * 100 TB the rates table is KBs and the sample is a single
    * filtered pass, no shuffle of the corpus. */
  def q74BudgetMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
    val rates = docs.groupBy("source")
      .agg(sum("n_chars").as("__tot"))
      .select(col("source"),
        least(lit(1000000L), expr("(5000 * 1000000L) div __tot")).as("rate_ppm"))
    docs.join(broadcast(rates), "source")
      .where(pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(1000000L)) <
        col("rate_ppm"))
      .select("doc_id", "source", "n_chars", "rate_ppm")
  }

  /** q79: WEEKLY-grain calendar fill — the grain-generalized form of
    * q4 (the reference hardcodes daily; GapFill.fill takes the grain
    * as a parameter). Weekly closes sparsified deterministically
    * (~2/3 kept), then filled on the 7-day lattice from each asset's
    * first kept week to the global max, forward-filling the close
    * with a periods_imputed streak. Same plan shape as q4 — the
    * explode is bounded by calendar span, the only shuffle is the
    * per-key window. */
  def q79GapFillWeekly(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.prices(spark, dir)
      .groupBy(col("asset"), date_trunc("week", col("date")).cast("date").as("week"))
      .agg(round(max_by(col("price"), col("date")), 6).as("close"))
      .where((dayofmonth(col("week")) + length(col("asset"))) % 3 =!= 0)
    GapFill.fill(weekly, Seq("asset"), "week", ffillCols = Seq("close"),
      zeroCols = Nil, grain = "week")
      .select(col("asset"), col("week"), col("close"), col("periods_imputed"))
  }

  /** q81: exact heavy hitters — top-5 users per event type by event
    * count (the whale question of dreambot_whale_chart.py as a
    * generic operator). One hash shuffle compresses the fact table to
    * (type, user) counts; the rank stays ≤ k via the WindowGroupLimit
    * pushdown — no global sort, no driver hop. See
    * [[operators.TopK]] for when the sketch form replaces this. */
  def q81HeavyHitters(spark: SparkSession, dir: String): DataFrame =
    TopK.exact(Tables.events(spark, dir), Seq("event_type"), "user_id", 5)
      .select(col("event_type"), col("user_id"), col("cnt"), col("rk"))

  /** q82: the sketch form of q81 — count-min estimates for the exact
    * top-k candidates. Deterministic (fixed seed) but rows-only: no
    * SQL engine re-derives a count-min sketch; TopKSpec proves the
    * one-sided error bound (cnt ≤ est ≤ cnt + eps·N at the configured
    * confidence) and partial-merge equality instead. */
  def q82HeavyHittersSketch(spark: SparkSession, dir: String): DataFrame =
    TopK.countMinEstimates(Tables.events(spark, dir), "event_type", "user_id", 5)
      .select("event_type", "user_id", "cnt", "rk", "est_cnt")

  /** q83: multi-source BFS over the customer–supplier bipartite graph
    * (edge = "this customer ordered from this supplier", derived by
    * the orders×lineitem join): minimum hop distance from the seed
    * customers, bounded at 4 hops. Iterative frontier expansion with
    * per-round lineage truncation ([[operators.GraphOps]]); oracle =
    * a bounded recursive CTE re-deriving the same levels — exact
    * because hop counts are integers, the same reason q43's
    * connected-components oracle works. */
  def q83GraphDistance(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))
    val seeds = Tables.customer(spark, dir)
      .where(col("c_custkey") % 50 === 0)
      .select(concat(lit("c:"), col("c_custkey")).as("node"))
    GraphOps.hopDistances(edges, seeds, maxHops = 4)
  }

  /** q84: deterministic fixed-point PageRank over the q83
    * customer↔supplier graph — the reference ranks wallets/coins by
    * aggregate measures (core_coin_wallet_profits.py's cohort
    * rankings); centrality over the transaction graph is the
    * graph-native form of the same question. Integer fixed-point
    * arithmetic makes the iterative float computation exactly
    * oracle-able (see [[operators.GraphOps.pageRank]]); the oracle
    * re-derives all four rounds as chained CTEs. */
  def q84PageRank(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))
    GraphOps.pageRank(edges, iterations = 4)
  }

  /** q85: EXACT trailing-7-day distinct users per observed day — the
    * rolling form of the reference's daily wallet counts
    * (dreambot_whale_chart/main.py:386,1014 aggregates per-day wallet
    * counts by size; product dashboards ask the same question over a
    * trailing window). The naive form — count(distinct) per day over
    * a 7-day self-join — multiplies the fact table by the window
    * width; this form is linear: distinct (user, day) pairs, each
    * user's [day, day+6] coverage intervals MERGED per user
    * ([[operators.Intervals.merge]] — one user-keyed window pass),
    * exploded back to at most 7 days per active day, so every
    * (user, day) lands exactly once and a plain count finishes it.
    * The 7-day constant never appears as join fan-out on facts, only
    * as bounded explode width on deduplicated pairs. */
  def q85RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .transform(CacheScope.persisted(_))
    val merged = Intervals.merge(
      pairs.withColumn("cover_end", date_add(col("day"), 6)),
      keys = Seq("user_id"), startCol = "day", endCol = "cover_end")
    val covered = merged.select(col("user_id"),
      explode(sequence(col("day"), col("cover_end"))).as("day"))
    // trim coverage that extends past the data: report observed days
    val days = pairs.select("day").distinct()
    covered.join(days, "day")
      // islands are disjoint per user, so (user, day) is unique here
      // and count(*) IS the distinct-user count
      .groupBy("day").agg(count(lit(1)).as("users_7d"))
  }

  /** q86: the sketch form of q85 — one fact pass builds a PER-DAY HLL
    * sketch (map-side partials; the only fact-table shuffle), then
    * the trailing-7 merge runs entirely on the aggregated daily table
    * (|days| rows) via a range self-join + `hll_union_agg`. This is
    * the shape that survives 100 TB: the expensive table is touched
    * once to produce mergeable partials, and window arithmetic
    * happens on sketches — same posture as q56/S10, extended from
    * "one total" to "every trailing window". Approximate by
    * construction (seeded HLL) → rows-only gate; the spec pins the
    * estimate to q85's exact counts within HLL's error envelope. */
  def q86RollingDistinctHll(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .transform(CacheScope.persisted(_))
    daily.as("d").join(daily.as("s"),
        col("s.day").between(date_sub(col("d.day"), 6), col("d.day")))
      .groupBy(col("d.day").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("s.sk")))
        .as("users_7d_est"))
  }

  /** q87: trailing-7-day value percentiles (p50/p95) per day from a
    * MERGEABLE quantile sketch table — q86's shape for ranks, which
    * no Spark built-in provides (`percentile_approx` answers one
    * query but exposes no storable summary, so every window would
    * re-scan the facts). One fact pass builds per-day
    * [[functions.Kll]] sketches (native TypedImperativeAggregate, not
    * a udaf); the trailing merge + quantile extraction runs on the
    * |days|-row sketch table. Approximate by construction → rows-only
    * gate; the spec pins observed rank error against exact windowed
    * percentiles. */
  def q87PercentileSketch(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("graft_kll_agg(value, 256)").as("sk"))
      .transform(CacheScope.persisted(_))
    daily.as("d").join(daily.as("s"),
        col("s.day").between(date_sub(col("d.day"), 6), col("d.day")))
      .groupBy(col("d.day").as("day"))
      .agg(expr(
        "graft_kll_quantiles(graft_kll_merge_agg(s.sk), array(0.5d, 0.95d))")
        .as("qs"))
      .select(col("day"),
        col("qs").getItem(0).as("p50_est"),
        col("qs").getItem(1).as("p95_est"))
  }

  /** q88: full Pearson correlation + covariance MATRIX over the
    * daily price panel (the reference's correlation-heatmap input) in
    * ONE aggregate pass. q37 answers PAIRWISE-complete correlation by
    * self-joining the long table — the right shape when the asset
    * universe is unbounded. The matrix form is different semantics
    * (LISTWISE deletion: only panel-complete dates, so every cell
    * shares one n) over a bounded, declared universe, and that bound
    * is what buys the plan: long → wide pivot (one date-hash shuffle,
    * |dates| rows out), complete-row filter, then a SINGLE global
    * Aggregate evaluating all k(k-1)/2 corr+covar cells as sibling
    * aggregate expressions — partial-aggregated map-side, one row
    * out, `stack` unpivots it to tidy pair rows. At 100 TB the fact
    * pass is the only data-sized stage; the matrix math runs on
    * |dates| rows. No join in the query at all — compare q37's
    * bucketed pair join, which this deliberately does not reuse.
    * Rounded at 1e-6: measured cross-engine disagreement at sf0.1 is
    * ~1e-10 absolute (n=30 panel rows, |cov| ≤ ~1.2e3), the q76
    * margin posture. */
  def q88CorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val assets = Seq("click", "error", "purchase", "signup", "view")
    val wide = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("date"), col("event_type"), col("value"))
      .groupBy("date")
      .pivot("event_type", assets)
      .agg(round(max("value"), 6))
      .na.drop(assets)
    val pairs = for {
      i <- assets.indices; j <- (i + 1) until assets.size
    } yield (assets(i), assets(j))
    // A zero-variance series (a stablecoin) makes built-in corr's
    // final projection divide by zero — under ANSI mode (this
    // session's default) that THROWS rather than returning NaN, and
    // a CASE guard can't save it because the aggregate result
    // projection evaluates every aggregate's finish expression
    // unconditionally. So the cell is Pearson's r spelled as
    // try_divide(cov, sd·sd) — algebraically identical (the (n−1)
    // factors cancel), sibling aggregates in the same Aggregate node,
    // and NULL on a constant series, which is DuckDB corr's semantics.
    def safeCorr(a: String, b: String): org.apache.spark.sql.Column =
      try_divide(covar_samp(col(a), col(b)),
        stddev_samp(col(a)) * stddev_samp(col(b)))
    val cells: Seq[org.apache.spark.sql.Column] = count(lit(1)).as("n_days") +:
      pairs.flatMap { case (a, b) => Seq(
        round(safeCorr(a, b), 6).as(s"c_${a}_${b}"),
        round(covar_samp(col(a), col(b)), 6).as(s"v_${a}_${b}")) }
    val matrixRow = wide.agg(cells.head, cells.tail: _*)
    val stackArgs = pairs.map { case (a, b) =>
      s"'$a', '$b', c_${a}_${b}, v_${a}_${b}" }.mkString(", ")
    matrixRow.selectExpr(
        s"stack(${pairs.size}, $stackArgs) AS (asset_a, asset_b, price_corr, price_cov)",
        "n_days")
      .select("asset_a", "asset_b", "n_days", "price_corr", "price_cov")
  }

  /** q89: the corr+covariance matrix for an UNBOUNDED asset universe —
    * q37's PAIRWISE-deletion semantics with q88's matrix output, and
    * neither of their scale limits. q88's pivot needs the universe
    * declared up front (k columns, k(k−1)/2 sibling aggregate
    * expressions — a plan that stops compiling in the thousands);
    * q37's self-join shuffles the daily table twice and re-keys it by
    * bare date. Here the fact table is read ONCE, aggregated to daily
    * grain, regrouped per date, and each date's pairs are generated
    * IN-ROW (higher-order transform×transform, i<j filter, one
    * Generate node — no join anywhere in the plan), then a single
    * groupBy(pair) runs Spark's own co-moment aggregates, partial-
    * aggregated map-side so the shuffle carries pair PARTIALS, not
    * pair observations. The quadratic term every pair statistic owns
    * (|assets-per-date|² candidates) lands in the map stage's
    * generator, where it pipelines into the partial aggregation
    * instead of becoming join-shuffle mass. corr is spelled
    * try_divide(cov, sd·sd) — q88's ANSI-safe Pearson — so constant
    * series NULL their cells. Pairwise vs listwise is the REAL
    * semantic fork, not an implementation detail: the spec plants a
    * date where they must disagree and checks both sides of it
    * against q88. */
  def q89CorrMatrixUnbounded(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("date"), col("event_type").as("asset"), col("value"))
      .groupBy("date", "asset")
      .agg(round(max("value"), 6).as("price"))
    val byDate = daily.groupBy("date")
      .agg(collect_list(struct(col("asset"), col("price"))).as("xs"))
    val pairRows = byDate.select(explode(expr(
        """flatten(transform(xs, a ->
          |  filter(
          |    transform(xs, b -> if(a.asset < b.asset,
          |      struct(a.asset as asset_a, b.asset as asset_b,
          |             a.price as pa, b.price as pb),
          |      null)),
          |    p -> p is not null)))""".stripMargin)).as("p"))
      .select(col("p.asset_a"), col("p.asset_b"), col("p.pa"), col("p.pb"))
    pairRows.groupBy("asset_a", "asset_b")
      .agg(
        count(lit(1)).as("n_days"),
        round(try_divide(covar_samp(col("pa"), col("pb")),
          stddev_samp(col("pa")) * stddev_samp(col("pb"))), 6).as("price_corr"),
        round(covar_samp(col("pa"), col("pb")), 6).as("price_cov"))
  }

  /** q80: atomic-publication round-trip — the [[sources.Publish]]
    * surface under the driver's hash gate, as q59 did for
    * writeShards. Two versions are published to a Scratch-cached root
    * (a half-corpus decoy first, then the full projection), the decoy
    * is vacuumed, and the query reads THROUGH the _CURRENT pointer
    * before aggregating per source. The oracle is the same aggregate
    * over the source table directly, so it matches only if the staged
    * files round-trip losslessly AND the pointer resolves to the
    * latest version — a stale or torn pointer would hash-mismatch on
    * the decoy's halved counts, and a lossy manifest/validation step
    * would fail before promotion ever happened. */
  def q80PublishRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.tools.Scratch.cachedArtifact("graft_q80", dir) { tableDir =>
      val docs = Tables.documents(spark, dir).select("doc_id", "source", "n_chars")
      graft.sources.Publish.publish(docs.where(col("doc_id") % 2 === 0), tableDir)
      graft.sources.Publish.publish(docs, tableDir)
      // retention: reap the decoy, prove vacuum never touches the live
      graft.sources.Publish.vacuum(tableDir, keep = 0): Unit
    }
    graft.sources.Publish.read(spark, root)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
  }

  /** q78: the END-TO-END curation pipeline as ONE composed query —
    * the chain a training-corpus build actually runs, proving the
    * operators compose without materialization cliffs: exact dedup
    * keepers (q16) → Gopher quality gate (q72) → repetition gate
    * (q73, survivors must NOT flag) → per-source domain cap (top-15
    * by q23 quality score) → deterministic shard assignment (the
    * engine-reproducible mod-prime mix). One declarative plan:
    * Catalyst fuses the gates into semi/anti joins on doc_id, the
    * cap is one WindowGroupLimit-pushed rank, and the shard column
    * is scan-side arithmetic. Each stage's oracle already exists
    * separately; this one re-derives the whole chain in DuckDB. */
  def q78CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val keepers = Dedup.exact(docs, "doc_id", "text")
      .select(col("keeper_doc_id").as("doc_id"))
    val deduped = docs.join(keepers, Seq("doc_id"), "left_semi")
    val qualityPass = TextOps.gopherQuality(deduped, "doc_id", "text")
      .where(col("keep")).select("doc_id")
    val repetitive = TextOps.repetitionStats(deduped, "doc_id", "text")
      .where(col("repetitive")).select("doc_id")
    val gated = deduped
      .join(qualityPass, Seq("doc_id"), "left_semi")
      .join(repetitive, Seq("doc_id"), "left_anti")
    val scored = TextOps.qualityScore(gated, "doc_id", "text")
      .select(col("doc_id"), col("quality_score_ppm"))
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score_ppm").desc, col("doc_id").asc)
    gated.join(scored, "doc_id")
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") <= 15)
      .select(col("doc_id"), col("source"), col("quality_score_ppm"),
        pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(8L))
          .cast("int").as("shard"))
  }

  /** q77: cross-field reconciliation over the flagship output — the
    * reference's transfers_and_profits_math test as an operator:
    * usd_balance must re-derive as prev_usd_balance +
    * usd_net_transfers + profits_change (the telescoping identity of
    * the profit math; exact on q10's post-filter rows because the
    * pre-inflow filter only drops PREFIXES of each pair's history).
    * Checks.reconciles flags rows beyond BOTH 1¢ absolute and 0.01%
    * relative tolerance — zero expected, and the per-asset rollup
    * (n_rows / n_checked / n_violations) is the auditable artifact.
    * Engine parity: both sides compute the identity from q10's
    * ROUNDED outputs with the same association, so the oracle is
    * deterministic. */
  def q77ProfitReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("asset", "wallet").orderBy("date")
    // consumed twice (rollup + violations) — CacheScope lifecycle
    val cwp = CacheScope.persisted(
      q10WalletProfits(spark, dir)
        .withColumn("prev_usd", lag("usd_balance", 1).over(w)))
    val expected = (col("prev_usd") + col("usd_net_transfers")) + col("profits_change")
    val viol = graft.checks.Checks.reconciles(cwp, "usd_balance", expected,
      tolAbs = 0.01, tolPct = 0.0001)
    cwp.groupBy("asset")
      .agg(count(lit(1)).as("n_rows"), count(col("prev_usd")).as("n_checked"))
      .join(viol.groupBy("asset").agg(count(lit(1)).as("__nv")), Seq("asset"), "left")
      .select(col("asset"), col("n_rows"), col("n_checked"),
        coalesce(col("__nv"), lit(0L)).as("n_violations"))
  }

  /** q76: statistical outlier scan — per-asset z-score fences over
    * daily net transfers (graft.checks.Checks.outliersZScore), the
    * warn-severity review population of the reference's
    * balance_over_market_cap test expressed as an operator. The
    * predicate is float, but the nearest data point sits 4.7e-4
    * RELATIVE from the z=3 boundary at the gate SFs (measured) while
    * cross-engine float divergence is ~1e-15 — the oracle is safe by
    * 11 orders of magnitude. Outputs round for display only; the
    * boundary is evaluated unrounded on both engines. */
  def q76OutlierScan(spark: SparkSession, dir: String): DataFrame =
    graft.checks.Checks.outliersZScore(
      Tables.transfers(spark, dir), Seq("asset"), "net_transfers", z = 3.0)
      .select(col("asset"), col("wallet"), col("date"),
        round(col("net_transfers"), 6).as("net_transfers"),
        round(col("group_mean"), 6).as("group_mean"),
        round(col("group_stddev"), 6).as("group_stddev"))

  /** q75: the full video→pixels pipeline as one registry query —
    * AVI container parse → idx1-indexed frame extraction at true
    * offsets → REAL JPEG decode of the MJPEG frame payloads →
    * per-document rollup of decoded dims + pixel checksums. The
    * consumer path RiffSpec proves frame-by-frame, as a queries()
    * entry. Rows-only (binary plumbing has no SQL oracle). */
  def q75FrameDecode(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFrames(
      Multimodal.asMediaTable(Tables.documents(spark, dir), "doc_id", "text"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_frames"),
        sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
        max("width").as("max_width"),
        max("height").as("max_height"),
        sum("pixel_checksum").as("checksum_sum"))

  // ---------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary"         -> (q1PricingSummary _),
    "q2_dedupe_rank"             -> (q2DedupeRank _),
    "q3_running_balance"         -> (q3RunningBalance _),
    "q4_gap_fill"                -> (q4GapFill _),
    "q5_dip_removal"             -> (q5DipRemoval _),
    "q6_exclusion_antijoin"      -> (q6ExclusionAntijoin _),
    "q7_negative_balance_cohort" -> (q7NegativeBalanceCohort _),
    "q8_whale_buckets"           -> (q8WhaleBuckets _),
    "q9_stable_ids"              -> (q9StableIds _),
    "q10_wallet_profits"         -> (q10WalletProfits _),
    "q11_multisource_union"      -> (q11MultisourceUnion _),
    "q12_shipping_priority"      -> (q12ShippingPriority _),
    "q13_market_share"           -> (q13MarketShare _),
    "q14_first_price"            -> (q14FirstPrice _),
    "q15_daily_rollup"           -> (q15DailyRollup _),
    "q16_dedup_exact"            -> (q16DedupExact _),
    "q17_dedup_ngram_jaccard"    -> (q17DedupNgramJaccard _),
    "q18_dedup_minhash"          -> (q18DedupMinhash _),
    "q19_dedup_simhash"          -> (q19DedupSimhash _),
    "q20_knn_cosine"             -> (q20KnnCosine _),
    "q21_lsh_knn"                -> (q21LshKnn _),
    "q22_token_count"            -> (q22TokenCount _),
    "q23_quality_score"          -> (q23QualityScore _),
    "q24_lang_id"                -> (q24LangId _),
    "q25_fingerprint"            -> (q25Fingerprint _),
    "q26_embedding_dedup"        -> (q26EmbeddingDedup _),
    "q27_multimodal_meta"        -> (q27MultimodalMeta _),
    "q28_json_normalize"         -> (q28JsonNormalize _),
    "q29_incremental_upsert"     -> (q29IncrementalUpsert _),
    "q30_entity_resolution"      -> (q30EntityResolution _),
    "q31_ivf_knn"                -> (q31IvfKnn _),
    "q32_neardup_keepers"        -> (q32NearDupKeepers _),
    "q33_supply_overage"         -> (q33SupplyOverage _),
    "q34_sessionize"             -> (q34Sessionize _),
    "q35_percentiles"            -> (q35Percentiles _),
    "q36_moving_avg"             -> (q36MovingAvg _),
    "q37_price_correlation"      -> (q37PriceCorrelation _),
    "q38_retention"              -> (q38Retention _),
    "q39_funnel"                 -> (q39Funnel _),
    "q40_tfidf"                  -> (q40Tfidf _),
    "q41_embedding_neardup_scale" -> (q41EmbeddingNeardupScale _),
    "q42_incremental_refresh"    -> (q42IncrementalRefresh _),
    "q43_neardup_keepers_exact"  -> (q43NeardupKeepersExact _),
    "q44_wallet_profits_bucketed" -> (q44WalletProfitsBucketed _),
    "q45_percentiles_approx"     -> (q45PercentilesApprox _),
    "q46_frame_sample"           -> (q46FrameSample _),
    "q47_skew_join_salted"       -> (q47SkewJoinSalted _),
    "q48_skew_join_plain"        -> (q48SkewJoinPlain _),
    "q49_embedding_neardup_tiled" -> (q49EmbeddingNeardupTiled _),
    "q50_dedup_simhash_wide"     -> (q50DedupSimhashWide _),
    "q51_asof_price_join"        -> (q51AsofPriceJoin _),
    "q52_range_campaign_join"    -> (q52RangeCampaignJoin _),
    "q53_rollup_grains"          -> (q53RollupGrains _),
    "q54_pivot_daily"            -> (q54PivotDaily _),
    "q55_stratified_sample"      -> (q55StratifiedSample _),
    "q56_approx_distinct"        -> (q56ApproxDistinct _),
    "q57_window_suite"           -> (q57WindowSuite _),
    "q58_doc_chunks"             -> (q58DocChunks _),
    "q59_shard_assign"           -> (q59ShardAssign _),
    "q60_domain_cap"             -> (q60DomainCap _),
    "q61_decontaminate"          -> (q61Decontaminate _),
    "q62_budget_prefix"          -> (q62BudgetPrefix _),
    "q63_label_centroids"        -> (q63LabelCentroids _),
    "q64_audio_meta"             -> (q64AudioMeta _),
    "q65_asof_forward_join"      -> (q65AsofForwardJoin _),
    "q66_grouping_sets"          -> (q66GroupingSets _),
    "q67_set_ops"                -> (q67SetOps _),
    "q68_priority_parse"         -> (q68PriorityParse _),
    "q69_twap"                   -> (q69Twap _),
    "q70_weekly_ohlc"            -> (q70WeeklyOhlc _),
    "q71_quality_checks"         -> (q71QualityChecks _),
    "q72_quality_gopher"         -> (q72QualityGopher _),
    "q73_repetition_filter"      -> (q73RepetitionFilter _),
    "q74_budget_mixture"         -> (q74BudgetMixture _),
    "q75_frame_decode"           -> (q75FrameDecode _),
    "q76_outlier_scan"           -> (q76OutlierScan _),
    "q77_profit_reconciliation"  -> (q77ProfitReconciliation _),
    "q78_curation_pipeline"      -> (q78CurationPipeline _),
    "q79_gap_fill_weekly"        -> (q79GapFillWeekly _),
    "q80_publish_roundtrip"      -> (q80PublishRoundtrip _),
    "q81_heavy_hitters"          -> (q81HeavyHitters _),
    "q82_heavy_hitters_sketch"   -> (q82HeavyHittersSketch _),
    "q83_graph_distance"         -> (q83GraphDistance _),
    "q84_pagerank"               -> (q84PageRank _),
    "q85_rolling_distinct"       -> (q85RollingDistinct _),
    "q86_rolling_distinct_hll"   -> (q86RollingDistinctHll _),
    "q87_percentile_sketch"      -> (q87PercentileSketch _),
    "q88_corr_matrix"            -> (q88CorrMatrix _),
    "q89_corr_matrix_unbounded"  -> (q89CorrMatrixUnbounded _),
    "q90_decontaminate_bloom"    -> (q90DecontaminateBloom _),
    "q91_priority_sample"        -> (q91PrioritySample _),
    "q92_corr_window"            -> (q92CorrWindow _),
    "q93_scd2_history"           -> (q93Scd2History _),
    "q94_snapshot_diff"          -> (q94SnapshotDiff _),
    "q95_drawdown"               -> (q95Drawdown _),
    "q96_rolling_anomaly"        -> (q96RollingAnomaly _),
    "q97_ivm_aggregate"          -> (q97IvmAggregate _),
    "q98_interval_allocation"    -> (q98IntervalAllocation _),
    "q99_pii_scrub"              -> (q99PiiScrub _),
    "q100_zorder_prune"          -> (q100ZorderPrune _),
    "q101_bloom_lookup"          -> (q101BloomLookup _),
    "q102_funnel_instances"      -> (q102FunnelInstances _),
    "q103_zorder_quantile"       -> (q103ZorderQuantile _),
    "q104_compact_roundtrip"     -> (q104CompactRoundtrip _),
    "q105_incremental_compact"   -> (q105IncrementalCompact _),
    "q106_stats_prune"           -> (q106StatsPrune _),
    "q107_funnel_measures"       -> (q107FunnelMeasures _),
    "q108_declared_range_join"   -> (q108DeclaredRangeJoin _),
    "q109_kmv_overlap"           -> (q109KmvOverlap _),
    "q110_stats_maintenance"     -> (q110StatsMaintenance _),
    "q111_label_screen"          -> (q111LabelScreen _),
    "q112_zorder3_prune"         -> (q112Zorder3Prune _),
    "q113_funnel_alternation"    -> (q113FunnelAlternation _),
    "q114_funnel_longest"        -> (q114FunnelLongest _),
    "q115_pq_codebook"           -> (q115PqCodebook _),
    "q116_pq_adc_knn"            -> (q116PqAdcKnn _),
    "q117_ivfpq_knn"             -> (q117IvfPqKnn _),
    "q118_pq_drift_reencode"     -> (q118PqDriftReencode _),
    "q119_declared_asof"         -> (q119DeclaredAsOf _),
    "q120_layout_advisor"        -> (q120LayoutAdvisor _),
    "q121_catalog_roundtrip"     -> (q121CatalogRoundtrip _),
    "q122_residual_ivfpq"        -> (q122ResidualIvfPq _),
    "q123_advised_layout"        -> (q123AdvisedLayout _),
    "q124_declared_dedupe"       -> (q124DeclaredDedupe _),
    "q125_view_match"            -> (q125ViewMatch _),
    "q126_join_view_match"       -> (q126JoinViewMatch _),
    "q127_delete_vectors"        -> (q127DeleteVectors _),
    "q128_merge_into"            -> (q128MergeInto _),
    "q129_join_ivm"              -> (q129JoinIvm _),
    "q130_image_neardup"         -> (q130ImageNeardup _),
    "q131_html_strip"            -> (q131HtmlStrip _),
    "q132_wap_publish"           -> (q132WapPublish _),
    "q133_layout_evolution"      -> (q133LayoutEvolution _),
    "q134_retention"             -> (q134Retention _),
    "q135_merge_evolution"       -> (q135MergeEvolution _),
    "q136_cat_advisor"           -> (q136CatAdvisor _),
    "q137_catalog_asof"          -> (q137CatalogAsOf _),
    "q138_change_feed"           -> (q138ChangeFeed _),
    "q139_txn_appends"           -> (q139TxnAppends _),
    "q140_verbatim_spans"        -> (q140VerbatimSpans _),
    "q141_semantic_dedup"        -> (q141SemanticDedup _),
    "q142_variant_extract"       -> (q142VariantExtract _),
    "q143_sql_time_travel"       -> (q143SqlTimeTravel _),
    "q144_sql_merge"             -> (q144SqlMerge _),
    "q145_sql_row_writes"        -> (q145SqlRowWrites _),
    "q146_triangle_count"        -> (q146TriangleCount _),
    "q147_scd2_apply"            -> (q147Scd2Apply _),
    "q148_text_normalize"        -> (q148TextNormalize _),
    "q149_ewma"                  -> (q149Ewma _),
    "q150_hilbert_prune"         -> (q150HilbertPrune _),
    "q151_bm25"                  -> (q151Bm25 _),
    "q152_transition_matrix"     -> (q152TransitionMatrix _),
    "q153_attribution"           -> (q153Attribution _),
    "q154_sql_maintenance"       -> (q154SqlMaintenance _),
    "q155_sql_ddl"               -> (q155SqlDdl _),
    "q156_export_shards"         -> (q156ExportShards _),
    "q157_sequence_packing"      -> (q157SequencePacking _),
    "q158_token_packing"         -> (q158TokenPacking _),
    "q159_sql_changes"           -> (q159SqlChanges _),
    "q160_wap_snapshot"          -> (q160WapSnapshot _),
    "q161_sequence_index"        -> (q161SequenceIndex _),
    "q162_recluster_loop"        -> (q162ReclusterLoop _),
    "q163_hybrid_rrf"            -> (q163HybridRrf _),
    "q164_incremental_dedup"     -> (q164IncrementalDedup _),
    "q165_data_card"             -> (q165DataCard _),
    "q166_incremental_neardup"   -> (q166IncrementalNeardup _),
    "q167_observed_advice"       -> (q167ObservedAdvice _),
    "q168_sql_admit"             -> (q168SqlAdmit _),
    "q169_ledger_net"            -> (q169LedgerNet _),
    "q170_importance_select"     -> (q170ImportanceSelect _),
    "q171_declared_topk"         -> (q171DeclaredTopK _),
    "q172_perplexity_filter"     -> (q172PerplexityFilter _),
    "q173_grouped_split"         -> (q173GroupedSplit _),
    "q174_split_export"          -> (q174SplitExport _),
    "q175_audio_neardup"         -> (q175AudioNeardup _),
    "q176_audio_band_neardup"    -> (q176AudioBandNeardup _),
    "q177_holt_trend"            -> (q177HoltTrend _),
    "q178_perplexity_rank_stored" -> (q178PerplexityRankStored _),
    "q179_hard_negatives"        -> (q179HardNegatives _),
    "q180_video_neardup"         -> (q180VideoNeardup _),
    "q181_incremental_media_neardup" -> (q181IncrementalMediaNeardup _),
    "q182_segment_dedup"         -> (q182SegmentDedup _),
    "q183_bpe_merges"            -> (q183BpeMerges _),
    "q184_bpe_encode"            -> (q184BpeEncode _),
    "q185_bpe_vocab"             -> (q185BpeVocab _),
    "q186_bpe_pretokenized"      -> (q186BpePretokenized _),
    "q187_ann_recall"            -> (q187AnnRecall _),
    "q188_bpe_token_stream"      -> (q188BpeTokenStream _),
    "q189_context_windows"       -> (q189ContextWindows _),
    "q190_token_fertility"       -> (q190TokenFertility _),
    "q191_vocab_coverage"        -> (q191VocabCoverage _),
    "q192_packing_efficiency"    -> (q192PackingEfficiency _),
    "q193_scene_changes"         -> (q193SceneChanges _),
    "q194_token_budget"          -> (q194TokenBudget _),
    "q195_keyframe_sample"       -> (q195KeyframeSample _),
    "q196_epoch_order"           -> (q196EpochOrder _),
    "q197_window_export"         -> (q197WindowExport _),
    "q198_token_budget_stored"   -> (q198TokenBudgetStored _),
    "q199_packing_order_sweep"   -> (q199PackingOrderSweep _),
    "q200_curriculum_order"      -> (q200CurriculumOrder _),
    "q201_token_budget_tempered" -> (q201TokenBudgetTempered _),
    "q202_eval_windows"          -> (q202EvalWindows _),
    "q203_curriculum_stored"     -> (q203CurriculumStored _),
    "q204_repeat_allocation"     -> (q204RepeatAllocation _),
    "q205_mixture_sweep"         -> (q205MixtureSweep _),
    "q206_wordpiece_segment"     -> (q206WordpieceSegment _),
    "q207_viterbi_segment"       -> (q207ViterbiSegment _),
    "q208_source_drift"          -> (q208SourceDrift _),
    "q209_window_drift"          -> (q209WindowDrift _),
    "q210_lang_drift"            -> (q210LangDrift _),
    "q211_edit_neardup"          -> (q211EditNearDup _),
    "q212_calibrated_quality"    -> (q212CalibratedQuality _),
    "q213_canonical_keepers"     -> (q213CanonicalKeepers _)
  )

  // q10 and q44 compute the same result over different physical
  // layouts (shuffled vs bucketed); q26 and q41 compute the same pairs
  // via all-pairs vs LSH-composed routes — each pair shares ONE oracle
  // string (aliased after map construction) so the contract "same
  // semantics" is literal.
  def oracleSql: Map[String, String] = {
    val m = baseOracleSql
    m ++ Map(
      "q41_embedding_neardup_scale" -> m("q26_embedding_dedup"),
      "q44_wallet_profits_bucketed" -> m("q10_wallet_profits"),
      "q48_skew_join_plain"         -> m("q47_skew_join_salted"),
      "q49_embedding_neardup_tiled" -> m("q26_embedding_dedup"),
      // the incremental apply's contract IS the full recompute:
      // apply(history(base), batch) ≡ history(base ∪ batch) — q93's
      // oracle over the whole range states the right-hand side
      "q147_scd2_apply"             -> m("q93_scd2_history"),
      // same box, same aggregate, different CURVE — pruning is an
      // optimization, so the q100 full-scan oracle serves both layouts
      "q150_hilbert_prune"          -> m("q100_zorder_prune"),
      // the feed's API (q138) and SQL (q159 `t$changes`) surfaces
      // must agree hash-for-hash — one oracle states both
      "q159_sql_changes"            -> m("q138_change_feed"),
      // rank-over-stored-scores must equal rank-over-live-lineage
      // bit-for-bit — the q172 oracle states both postures
      "q178_perplexity_rank_stored" -> m("q172_perplexity_filter"),
      // generated with the rounds unrolled as CTEs so the two engines
      // can never drift round-structure (text.Bpe.oracleSql)
      "q183_bpe_merges" -> graft.text.Bpe.oracleSql("documents", "text", 8),
      "q184_bpe_encode" ->
        graft.text.Bpe.encodeOracleSql("documents", "doc_id", "text", 8),
      "q185_bpe_vocab" ->
        graft.text.Bpe.vocabOracleSql("documents", "text", 8),
      "q186_bpe_pretokenized" ->
        graft.text.Bpe.oracleSql(
          s"(SELECT doc_id, text || '$bpeDecorTailSql' AS text FROM documents)",
          "text", 8, pretokenized = true),
      "q188_bpe_token_stream" ->
        graft.text.Bpe.encodeIdsOracleSql("documents", "doc_id", "text", 8),
      "q189_context_windows" ->
        graft.text.Bpe.contextWindowsOracleSql(
          "documents", "doc_id", "text", 8, shards = 8, budget = 512L),
      "q190_token_fertility" ->
        graft.text.Bpe.fertilityOracleSql("documents", "doc_id", "text", "lang", 8),
      "q191_vocab_coverage" ->
        graft.text.Bpe.coverageOracleSql("documents", "text", 8, VocabCuts),
      "q192_packing_efficiency" ->
        graft.text.Bpe.packingEfficiencyOracleSql(
          "documents", "doc_id", "text", 8, shards = 8, budgets = PackBudgets),
      "q194_token_budget" ->
        graft.text.Bpe.tokenBudgetOracleSql(
          "documents", "doc_id", "text", "lang", 8, budget = 1000000L),
      // q198 computes q194's plan from the S41-maintained stats — the
      // additive identity makes the same oracle the right gate
      "q198_token_budget_stored" ->
        graft.text.Bpe.tokenBudgetOracleSql(
          "documents", "doc_id", "text", "lang", 8, budget = 1000000L),
      "q199_packing_order_sweep" ->
        graft.text.Bpe.packingOrderSweepOracleSql(
          "documents", "doc_id", "text", 8, shards = 8,
          budgets = PackBudgets),
      "q200_curriculum_order" ->
        graft.text.Curriculum.phaseOrderOracleSql(
          "documents", "doc_id", "text", annealPpm = 250000L, seed = 1L),
      "q201_token_budget_tempered" ->
        graft.text.Bpe.tokenBudgetTemperedOracleSql(
          "documents", "doc_id", "text", "lang", 8, budget = 1000000L),
      "q202_eval_windows" ->
        graft.text.Bpe.evalWindowsOracleSql(
          "documents", "doc_id", "text", 8,
          windowSize = 512L, stride = 256L),
      // q203 ranks the published score table — same plan, same hash
      "q203_curriculum_stored" ->
        graft.text.Curriculum.phaseOrderOracleSql(
          "documents", "doc_id", "text", annealPpm = 250000L, seed = 1L),
      // the budget is corpus-derived (3.5×), so the oracle restates it
      // over the total `t` — one text valid at every SF
      "q204_repeat_allocation" ->
        graft.text.Curriculum.repeatAllocationOracleSql(
          "documents", "doc_id", "text", 8,
          budgetSql = "3 * t + t // 2", maxRepeats = 4L, seed = 1L),
      "q205_mixture_sweep" ->
        graft.text.Bpe.mixtureSweepOracleSql(
          "documents", "doc_id", "text", "lang", 8, budget = 1000000L),
      "q206_wordpiece_segment" ->
        graft.text.Bpe.wordpieceSegmentOracleSql(
          "documents", "text", 8, maxLen = 8),
      "q207_viterbi_segment" ->
        graft.text.Bpe.viterbiSegmentOracleSql(
          "documents", "text", 8, maxLen = 8),
      "q208_source_drift" ->
        // the q170 gram chain (exact char-polynomial hashes, unigrams
        // + bigrams, mod-bucket) re-derived per source, then the TV
        // statistic in HUGEINT common-denominator arithmetic — one
        // floor division at the very end, like the Spark side
        """WITH hs AS MATERIALIZED (
          |  SELECT source, lang,
          |    list_filter(list_transform(string_split(text, ' '),
          |      w -> CASE WHEN LENGTH(w) > 0 THEN
          |        list_reduce(list_prepend(CAST(7 AS BIGINT),
          |          list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
          |          (a, x) -> (a * 31 + x) % 1000000007) END),
          |      h -> h IS NOT NULL) AS h
          |  FROM documents
          |),
          |grams AS MATERIALIZED (
          |  SELECT source, lang, unnest(list_concat(h,
          |    CASE WHEN len(h) > 1 THEN
          |      list_transform(range(1, len(h)), i -> (h[i] * 131 + h[i+1]) % 1000000007)
          |    ELSE CAST([] AS BIGINT[]) END)) AS g
          |  FROM hs
          |),
          |prof AS MATERIALIZED (
          |  SELECT source, (lang = 'en') AS is_ref, g % 256 AS bucket, count(*) AS n
          |  FROM grams GROUP BY 1, 2, 3
          |),
          |ref AS (SELECT bucket, SUM(n) AS r FROM prof WHERE is_ref GROUP BY 1),
          |obs AS (SELECT source, bucket, SUM(n) AS o FROM prof GROUP BY 1, 2),
          |ns AS (SELECT source, SUM(o) AS n_grams FROM obs GROUP BY 1),
          |nr AS (SELECT COALESCE(SUM(r), 0) AS n_ref FROM ref),
          |grid AS (
          |  SELECT COALESCE(g.source, obs.source) AS source,
          |    COALESCE(g.r, 0) AS r, COALESCE(obs.o, 0) AS o
          |  FROM (SELECT ns.source, ref.bucket, ref.r FROM ns CROSS JOIN ref) g
          |  FULL OUTER JOIN obs
          |    ON g.source = obs.source AND g.bucket = obs.bucket
          |),
          |d AS (
          |  SELECT grid.source, ns.n_grams,
          |    SUM(ABS(CAST(o AS HUGEINT) * n_ref - CAST(r AS HUGEINT) * n_grams)) AS dd
          |  FROM grid JOIN ns ON grid.source = ns.source CROSS JOIN nr
          |  GROUP BY 1, 2
          |)
          |SELECT d.source, CAST(n_grams AS BIGINT) AS n_grams,
          |  CAST((dd * 1000000) //
          |    GREATEST(CAST(2 AS HUGEINT) * n_grams * n_ref, 1) AS BIGINT) AS tv_ppm,
          |  CAST(CASE WHEN (dd * 1000000) //
          |    GREATEST(CAST(2 AS HUGEINT) * n_grams * n_ref, 1) >= 150000
          |    THEN 1 ELSE 0 END AS INTEGER) AS drifted
          |FROM d CROSS JOIN nr
          |ORDER BY d.source""".stripMargin,
      "q209_window_drift" ->
        // q208's chain with the week id as the observation label and
        // the fixed first-week slice as reference; week id floors in
        // integer days arithmetic on both engines
        """WITH src AS MATERIALIZED (
          |  SELECT (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS window_id,
          |    (CAST(ts AS DATE) < DATE '2024-01-08') AS is_ref,
          |    event_type || ' ' || props AS text
          |  FROM events
          |),
          |hs AS MATERIALIZED (
          |  SELECT window_id, is_ref,
          |    list_filter(list_transform(string_split(text, ' '),
          |      w -> CASE WHEN LENGTH(w) > 0 THEN
          |        list_reduce(list_prepend(CAST(7 AS BIGINT),
          |          list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
          |          (a, x) -> (a * 31 + x) % 1000000007) END),
          |      h -> h IS NOT NULL) AS h
          |  FROM src
          |),
          |grams AS MATERIALIZED (
          |  SELECT window_id, is_ref, unnest(list_concat(h,
          |    CASE WHEN len(h) > 1 THEN
          |      list_transform(range(1, len(h)), i -> (h[i] * 131 + h[i+1]) % 1000000007)
          |    ELSE CAST([] AS BIGINT[]) END)) AS g
          |  FROM hs
          |),
          |prof AS MATERIALIZED (
          |  SELECT window_id, is_ref, g % 256 AS bucket, count(*) AS n
          |  FROM grams GROUP BY 1, 2, 3
          |),
          |ref AS (SELECT bucket, SUM(n) AS r FROM prof WHERE is_ref GROUP BY 1),
          |obs AS (SELECT window_id, bucket, SUM(n) AS o FROM prof GROUP BY 1, 2),
          |ns AS (SELECT window_id, SUM(o) AS n_grams FROM obs GROUP BY 1),
          |nr AS (SELECT COALESCE(SUM(r), 0) AS n_ref FROM ref),
          |grid AS (
          |  SELECT COALESCE(g.window_id, obs.window_id) AS window_id,
          |    COALESCE(g.r, 0) AS r, COALESCE(obs.o, 0) AS o
          |  FROM (SELECT ns.window_id, ref.bucket, ref.r FROM ns CROSS JOIN ref) g
          |  FULL OUTER JOIN obs
          |    ON g.window_id = obs.window_id AND g.bucket = obs.bucket
          |),
          |d AS (
          |  SELECT grid.window_id, ns.n_grams,
          |    SUM(ABS(CAST(o AS HUGEINT) * n_ref - CAST(r AS HUGEINT) * n_grams)) AS dd
          |  FROM grid JOIN ns ON grid.window_id = ns.window_id CROSS JOIN nr
          |  GROUP BY 1, 2
          |)
          |SELECT CAST(d.window_id AS BIGINT) AS window_id,
          |  CAST(n_grams AS BIGINT) AS n_grams,
          |  CAST((dd * 1000000) //
          |    GREATEST(CAST(2 AS HUGEINT) * n_grams * n_ref, 1) AS BIGINT) AS tv_ppm,
          |  CAST(CASE WHEN (dd * 1000000) //
          |    GREATEST(CAST(2 AS HUGEINT) * n_grams * n_ref, 1) >= 40000
          |    THEN 1 ELSE 0 END AS INTEGER) AS drifted
          |FROM d CROSS JOIN nr
          |ORDER BY d.window_id""".stripMargin,
      "q210_lang_drift" ->
        // the keyed-reference form: each (source, lang) grain vs its
        // LANGUAGE's corpus profile — reference joins on lang instead
        // of crossing, everything else is the q208 arithmetic
        """WITH hs AS MATERIALIZED (
          |  SELECT source, lang,
          |    list_filter(list_transform(string_split(text, ' '),
          |      w -> CASE WHEN LENGTH(w) > 0 THEN
          |        list_reduce(list_prepend(CAST(7 AS BIGINT),
          |          list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
          |          (a, x) -> (a * 31 + x) % 1000000007) END),
          |      h -> h IS NOT NULL) AS h
          |  FROM documents
          |),
          |grams AS MATERIALIZED (
          |  SELECT source, lang, unnest(list_concat(h,
          |    CASE WHEN len(h) > 1 THEN
          |      list_transform(range(1, len(h)), i -> (h[i] * 131 + h[i+1]) % 1000000007)
          |    ELSE CAST([] AS BIGINT[]) END)) AS g
          |  FROM hs
          |),
          |prof AS MATERIALIZED (
          |  SELECT source, lang, g % 256 AS bucket, count(*) AS n
          |  FROM grams GROUP BY 1, 2, 3
          |),
          |ref AS (SELECT lang, bucket, SUM(n) AS r FROM prof GROUP BY 1, 2),
          |obs AS (SELECT source, lang, bucket, SUM(n) AS o FROM prof GROUP BY 1, 2, 3),
          |ns AS (SELECT source, lang, SUM(o) AS n_grams FROM obs GROUP BY 1, 2),
          |nr AS (SELECT lang, COALESCE(SUM(r), 0) AS n_ref FROM ref GROUP BY 1),
          |grid AS (
          |  SELECT COALESCE(g.source, obs.source) AS source,
          |    COALESCE(g.lang, obs.lang) AS lang,
          |    COALESCE(g.r, 0) AS r, COALESCE(obs.o, 0) AS o
          |  FROM (SELECT ns.source, ref.lang, ref.bucket, ref.r
          |        FROM ns JOIN ref ON ns.lang = ref.lang) g
          |  FULL OUTER JOIN obs
          |    ON g.source = obs.source AND g.lang = obs.lang AND g.bucket = obs.bucket
          |),
          |d AS (
          |  SELECT grid.source, grid.lang, ns.n_grams,
          |    SUM(ABS(CAST(o AS HUGEINT) * nr.n_ref - CAST(r AS HUGEINT) * ns.n_grams)) AS dd
          |  FROM grid
          |  JOIN ns ON grid.source = ns.source AND grid.lang = ns.lang
          |  JOIN nr ON grid.lang = nr.lang
          |  GROUP BY 1, 2, 3
          |)
          |SELECT d.source, d.lang, CAST(n_grams AS BIGINT) AS n_grams,
          |  CAST((dd * 1000000) //
          |    GREATEST(CAST(2 AS HUGEINT) * n_grams * nr.n_ref, 1) AS BIGINT) AS tv_ppm,
          |  CAST(CASE WHEN (dd * 1000000) //
          |    GREATEST(CAST(2 AS HUGEINT) * n_grams * nr.n_ref, 1) >= 300000
          |    THEN 1 ELSE 0 END AS INTEGER) AS drifted
          |FROM d JOIN nr ON d.lang = nr.lang
          |ORDER BY d.source, d.lang""".stripMargin,
      "q211_edit_neardup" ->
        // the same deterministic blocking key, DuckDB's levenshtein
        // as the exact DP kernel, identical integer-ppm similarity
        """WITH keyed AS MATERIALIZED (
          |  SELECT doc_id, text, LENGTH(text) // 64 AS lb,
          |    string_split(text, ' ')[1] AS w0,
          |    string_split(text, ' ')[-1] AS wl
          |  FROM documents
          |  QUALIFY COUNT(*) OVER (PARTITION BY LENGTH(text) // 64,
          |    string_split(text, ' ')[1], string_split(text, ' ')[-1]) <= 8
          |),
          |pairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
          |    GREATEST(LENGTH(a.text), LENGTH(b.text)) AS mx
          |  FROM keyed a JOIN keyed b
          |    ON a.lb = b.lb AND a.w0 = b.w0 AND a.wl = b.wl
          |      AND a.doc_id < b.doc_id
          |)
          |SELECT doc_a, doc_b, lev,
          |  1000000 - (lev * 1000000) // GREATEST(CAST(mx AS BIGINT), 1) AS sim_ppm
          |FROM pairs
          |WHERE 1000000 - (lev * 1000000) // GREATEST(CAST(mx AS BIGINT), 1) >= 300000
          |ORDER BY doc_a, doc_b""".stripMargin,
      "q212_calibrated_quality" ->
        // q23's exact score, then the source-relative rank in integer
        // ppm — ROW_NUMBER ties broken by doc_id, single-doc source
        // calibrates to 0 via the GREATEST guard
        """WITH s AS MATERIALIZED (
          |  SELECT doc_id, source,
          |    (4 * alpha_ppm + 3 * stopword_ppm
          |      + 2 * (1000000 - digit_ppm) + (1000000 - punct_ppm)) // 10 AS quality_score_ppm
          |  FROM (
          |    SELECT doc_id, source,
          |      (len(regexp_extract_all(text, '[A-Za-z]')) * 1000000) // GREATEST(LENGTH(text), 1) AS alpha_ppm,
          |      (len(regexp_extract_all(text, '[0-9]')) * 1000000) // GREATEST(LENGTH(text), 1) AS digit_ppm,
          |      (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1000000) // GREATEST(LENGTH(text), 1) AS punct_ppm,
          |      (len(list_filter(string_split(text, ' '),
          |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000)
          |        // GREATEST(len(string_split(text, ' ')), 1) AS stopword_ppm
          |    FROM documents
          |  )
          |)
          |SELECT doc_id, source, quality_score_ppm,
          |  ((ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality_score_ppm, doc_id) - 1)
          |    * 1000000) // GREATEST(COUNT(*) OVER (PARTITION BY source) - 1, 1) AS calibrated_ppm
          |FROM s""".stripMargin,
      "q213_canonical_keepers" ->
        // q43's recursive component closure + q23's exact score, then
        // the per-cluster argmax by (quality DESC, id ASC)
        """WITH RECURSIVE toks AS (
          |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
          |  WHERE len(string_split(text, ' ')) >= 3
          |),
          |sh AS (
          |  SELECT doc_id, UNNEST(list_distinct(list_transform(
          |    generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS shingle
          |  FROM toks
          |),
          |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
          |inter AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2
          |),
          |pairs AS (
          |  SELECT doc_a, doc_b FROM (
          |    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
          |    FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
          |  ) WHERE jaccard >= 0.8
          |),
          |edges AS (
          |  SELECT doc_a, doc_b FROM pairs
          |  UNION ALL
          |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
          |),
          |reach(doc_id, label) AS (
          |  SELECT doc_id, doc_id FROM documents
          |  UNION
          |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON r.doc_id = e.doc_b
          |),
          |comp AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1),
          |q AS (
          |  SELECT doc_id,
          |    (4 * alpha_ppm + 3 * stopword_ppm
          |      + 2 * (1000000 - digit_ppm) + (1000000 - punct_ppm)) // 10 AS quality_score_ppm
          |  FROM (
          |    SELECT doc_id,
          |      (len(regexp_extract_all(text, '[A-Za-z]')) * 1000000) // GREATEST(LENGTH(text), 1) AS alpha_ppm,
          |      (len(regexp_extract_all(text, '[0-9]')) * 1000000) // GREATEST(LENGTH(text), 1) AS digit_ppm,
          |      (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1000000) // GREATEST(LENGTH(text), 1) AS punct_ppm,
          |      (len(list_filter(string_split(text, ' '),
          |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000)
          |        // GREATEST(len(string_split(text, ' ')), 1) AS stopword_ppm
          |    FROM documents
          |  )
          |),
          |j AS (
          |  SELECT comp.doc_id, comp.cluster_id, q.quality_score_ppm
          |  FROM comp JOIN q ON comp.doc_id = q.doc_id
          |)
          |SELECT doc_id, cluster_id,
          |  FIRST_VALUE(doc_id) OVER w AS canonical_id,
          |  FIRST_VALUE(quality_score_ppm) OVER w AS canonical_quality_ppm,
          |  CAST(CASE WHEN doc_id = FIRST_VALUE(doc_id) OVER w
          |    THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
          |FROM j
          |WINDOW w AS (PARTITION BY cluster_id ORDER BY quality_score_ppm DESC, doc_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY doc_id""".stripMargin,
      "q196_epoch_order" ->
        graft.text.Bpe.epochOrderOracleSql(
          "documents", "doc_id", "text", 8, shards = 8, budget = 512L, seed = 1L),
      "q197_window_export" ->
        graft.text.Bpe.windowExportOracleSql(
          "documents", "doc_id", "text", 8, shards = 8, budget = 512L,
          maxRecordsPerFile = 4096L))
  }

  /** q84's oracle: GraphOps.pageRank's integer recurrence unrolled,
    * iteration i as CTE p_i. DuckDB's `//` floors where Spark's `div`
    * truncates — every operand here is positive, where the two
    * coincide, so the oracle re-derives the SAME bits (the point of
    * the fixed-point variant; a float PageRank could not be oracled
    * at all). SUM over BIGINT widens to HUGEINT in DuckDB; the CAST
    * narrows it back to the Long the Spark side carries. */
  private lazy val pageRankSql: String = {
    val iters = (1 to 4).map { i =>
      s"""p$i AS (
         |  SELECT dg.node,
         |    CAST(150000000000 + (COALESCE(c.s, 0) * 85) // 100 AS BIGINT) AS r
         |  FROM deg dg LEFT JOIN (
         |    SELECT u.dst AS node, SUM(p.r // d2.d) AS s
         |    FROM p${i - 1} p JOIN deg d2 ON d2.node = p.node
         |    JOIN und u ON u.src = p.node
         |    GROUP BY 1
         |  ) c ON c.node = dg.node
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       |),
       |und AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
       |deg AS (SELECT src AS node, COUNT(*) AS d FROM und GROUP BY 1),
       |p0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM deg),
       |$iters
       |SELECT node, r AS rank_fp FROM p4""".stripMargin
  }

  /** q61/q90's shared oracle: the raw-shingle (unhashed) pair
    * re-derivation — one definition, two registry keys, because the
    * bloom filter is pure shuffle-mass pruning and must not change a
    * single pair or count. */
  private lazy val decontaminateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |),
      |sh AS (
      |  SELECT doc_id, UNNEST(list_distinct(list_transform(
      |    generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS shingle
      |  FROM toks
      |)
      |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
      |  COUNT(*) AS shared_shingles
      |FROM sh t JOIN sh e ON t.shingle = e.shingle
      |WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 5""".stripMargin

  /** q10's full oracle SQL — also embedded as a subquery by q77's
    * reconciliation oracle (same text, one definition). */
  private lazy val walletProfitsSql: String =
    s"""WITH $transfersCte, $balancesCte, $pricesCte,
         |merged AS (
         |  SELECT b.asset, b.wallet, b.date, b.net_transfers, b.balance, p.price
         |  FROM balances b LEFT JOIN prices p ON p.asset = b.asset AND p.date = b.date
         |),
         |first_prices AS (
         |  SELECT p.asset, f.first_price_date, p.price AS first_price
         |  FROM (SELECT asset, MIN(date) AS first_price_date FROM prices GROUP BY 1) f
         |  JOIN prices p ON p.asset = f.asset AND p.date = f.first_price_date
         |),
         |with_first AS (
         |  SELECT m.*, f.first_price_date, f.first_price
         |  FROM merged m LEFT JOIN first_prices f ON f.asset = m.asset
         |),
         |pre_price AS (SELECT * FROM with_first WHERE date < first_price_date),
         |has_pre AS (SELECT DISTINCT asset, wallet FROM pre_price),
         |active_on_fpd AS (
         |  SELECT DISTINCT asset, wallet FROM with_first WHERE date = first_price_date
         |),
         |needs_imputation AS (
         |  SELECT h.* FROM has_pre h
         |  WHERE NOT EXISTS (SELECT 1 FROM active_on_fpd a
         |                    WHERE a.asset = h.asset AND a.wallet = h.wallet)
         |),
         |last_pre_balance AS (
         |  SELECT asset, wallet, balance FROM (
         |    SELECT p.asset, p.wallet, p.balance,
         |           ROW_NUMBER() OVER (PARTITION BY p.asset, p.wallet ORDER BY p.date DESC) AS rn
         |    FROM pre_price p
         |    JOIN needs_imputation n ON n.asset = p.asset AND n.wallet = p.wallet
         |  ) WHERE rn = 1
         |),
         |imputed AS (
         |  SELECT l.asset, l.wallet, f.first_price_date AS date,
         |         l.balance AS net_transfers, l.balance, f.first_price AS price
         |  FROM last_pre_balance l JOIN first_prices f ON f.asset = l.asset
         |),
         |combined AS (
         |  SELECT asset, wallet, date, net_transfers, balance, price
         |  FROM merged WHERE price IS NOT NULL
         |  UNION ALL
         |  SELECT asset, wallet, date, net_transfers, balance, price FROM imputed
         |),
         |rebased AS (
         |  SELECT asset, wallet, date,
         |    CASE WHEN ROW_NUMBER() OVER (PARTITION BY asset, wallet ORDER BY date) = 1
         |         THEN balance ELSE net_transfers END AS net_transfers,
         |    balance, price
         |  FROM combined
         |),
         |inflow_filtered AS (
         |  SELECT * FROM (
         |    SELECT *,
         |      SUM(GREATEST(net_transfers, 0.0)) OVER
         |        (PARTITION BY asset, wallet ORDER BY date) AS inflows_cum
         |    FROM rebased
         |  ) WHERE inflows_cum > 0
         |),
         |prof AS (
         |  SELECT asset, wallet, date, net_transfers, balance, price,
         |    (price - COALESCE(LAG(price) OVER w, price))
         |      * COALESCE(LAG(balance) OVER w, 0.0) AS profits_change
         |  FROM inflow_filtered
         |  WINDOW w AS (PARTITION BY asset, wallet ORDER BY date)
         |),
         |prof2 AS (
         |  SELECT *,
         |    SUM(profits_change) OVER w AS profits_cumulative,
         |    balance * price AS usd_balance,
         |    net_transfers * price AS usd_net_transfers,
         |    CASE WHEN net_transfers * price > 0 THEN net_transfers * price ELSE 0.0 END AS usd_inflows
         |  FROM prof
         |  WINDOW w AS (PARTITION BY asset, wallet ORDER BY date)
         |)
         |SELECT asset, wallet, date,
         |  ROUND(profits_change, 6) AS profits_change,
         |  ROUND(profits_cumulative, 6) AS profits_cumulative,
         |  ROUND(usd_balance, 6) AS usd_balance,
         |  ROUND(usd_net_transfers, 6) AS usd_net_transfers,
         |  ROUND(usd_inflows, 6) AS usd_inflows,
         |  ROUND(SUM(usd_inflows) OVER (PARTITION BY asset, wallet ORDER BY date), 6) AS usd_inflows_cumulative
         |FROM prof2""".stripMargin

  private def baseOracleSql: Map[String, String] = Map(
    "q146_triangle_count" ->
      // id-ordered (a < b < c) three-way self-join: the triangle SET
      // is orientation-invariant, so this re-derives the Spark side's
      // degree-ordered compact-forward output verbatim
      """WITH e AS (
        |  SELECT DISTINCT l1.l_suppkey AS a, l2.l_suppkey AS b
        |  FROM lineitem l1 JOIN lineitem l2
        |    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey < l2.l_suppkey
        |  WHERE l1.l_quantity > 45 AND l2.l_quantity > 45
        |),
        |deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e
        |  ) GROUP BY 1
        |),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |       JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |),
        |pern AS (
        |  SELECT node, COUNT(*) AS n_tri FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri
        |  ) GROUP BY 1
        |)
        |SELECT deg.node AS supplier, deg.degree,
        |  COALESCE(pern.n_tri, 0) AS n_triangles
        |FROM deg LEFT JOIN pern ON pern.node = deg.node""".stripMargin,

    "q154_sql_maintenance" ->
      // lossless-maintenance contract: however many versions the CALL
      // loop flipped, the table equals the source
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    "q155_sql_ddl" ->
      // the DDL lifecycle's observable state: CTAS slice (src NULL,
      // conformed through the metadata-only widen) ∪ wide inserts
      """SELECT event_type, src, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_value
        |FROM (
        |  SELECT event_type, CAST(NULL AS VARCHAR) AS src, value
        |  FROM events WHERE event_id % 3 = 0
        |  UNION ALL
        |  SELECT event_type, 'late' AS src, value
        |  FROM events WHERE event_id % 3 = 1
        |) GROUP BY event_type, src""".stripMargin,

    "q156_export_shards" ->
      // the export must be lossless: every aggregate (fingerprint
      // mass included) re-derives from the SOURCE table; n_files =
      // one writer per shard splitting at 25 records
      """WITH s AS (
        |  SELECT doc_id, text, source,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 % 8 AS shard
        |  FROM documents
        |)
        |SELECT shard, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
        |  CAST(SUM(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007)) AS BIGINT) AS fp_sum,
        |  CAST(CEIL(COUNT(*) / 25.0) AS BIGINT) AS n_files
        |FROM s GROUP BY shard""".stripMargin,

    "q157_sequence_packing" ->
      // the greedy next-fit recurrence re-run as a recursive CTE:
      // seq_id/acc advance row by row in (scramble, doc_id) order
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, n_chars,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 AS scramble,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 % 8 AS shard
        |  FROM documents
        |), o AS (
        |  SELECT shard, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY shard
        |                       ORDER BY scramble, doc_id) AS rn
        |  FROM s
        |), packed AS (
        |  SELECT shard, doc_id, n_chars, rn,
        |    CAST(1 AS BIGINT) AS seq_id, n_chars AS acc
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.doc_id, o.n_chars, o.rn,
        |    CASE WHEN p.acc + o.n_chars > 2048
        |         THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.acc + o.n_chars > 2048
        |         THEN o.n_chars ELSE p.acc + o.n_chars END
        |  FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT shard, seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS used_chars
        |FROM packed GROUP BY shard, seq_id""".stripMargin,

    "q158_token_packing" ->
      // q157's recurrence over BPE-ish token counts + windowed
      // offsets inside each packed sequence (rn ≡ (scramble, doc_id))
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 AS scramble,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 % 8 AS shard
        |  FROM documents
        |), o AS (
        |  SELECT shard, doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY shard
        |                       ORDER BY scramble, doc_id) AS rn
        |  FROM s
        |), packed AS (
        |  SELECT shard, doc_id, n_tokens, rn,
        |    CAST(1 AS BIGINT) AS seq_id, n_tokens AS acc
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
        |    CASE WHEN p.acc + o.n_tokens > 256
        |         THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.acc + o.n_tokens > 256
        |         THEN o.n_tokens ELSE p.acc + o.n_tokens END
        |  FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT shard, seq_id, doc_id, n_tokens,
        |  CAST(COALESCE(SUM(n_tokens) OVER (
        |    PARTITION BY shard, seq_id ORDER BY rn
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS offset
        |FROM packed""".stripMargin,

    "q165_data_card" ->
      // q22/q23/q25 primitive expressions verbatim, aggregated per
      // source; positive `//` ≡ Spark `div`; sums cast back to BIGINT
      """WITH q AS (
        |  SELECT doc_id, source, lang,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ' '),
        |          w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS bpe,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |    (4 * ((len(regexp_extract_all(text, '[A-Za-z]')) * 1000000) // GREATEST(LENGTH(text), 1))
        |     + 3 * ((len(list_filter(string_split(text, ' '),
        |           w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000)
        |         // GREATEST(len(string_split(text, ' ')), 1))
        |     + 2 * (1000000 - (len(regexp_extract_all(text, '[0-9]')) * 1000000) // GREATEST(LENGTH(text), 1))
        |     + (1000000 - (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1000000) // GREATEST(LENGTH(text), 1))
        |    ) // 10 AS quality
        |  FROM documents
        |),
        |dup AS (SELECT fp FROM q GROUP BY fp HAVING COUNT(*) > 1)
        |SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(bpe) AS BIGINT) AS sum_tokens,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  CAST(SUM(CASE WHEN fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        |  CAST((SUM(CASE WHEN bpe < 50 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT) AS short_ppm,
        |  CAST(SUM(quality) // COUNT(*) AS BIGINT) AS avg_quality_ppm,
        |  CAST(SUM(ws_tokens) // COUNT(*) AS BIGINT) AS avg_ws_tokens
        |FROM q GROUP BY source""".stripMargin,

    "q164_incremental_dedup" ->
      // pruning is an optimization: the oracle states the plain
      // anti-join the pruned verify must be row-identical to
      """WITH fp AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ' '),
        |          w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM documents
        |)
        |SELECT b.doc_id, b.fp FROM fp b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM fp c WHERE c.doc_id % 3 <> 0 AND c.fp = b.fp)""".stripMargin,

    "q163_hybrid_rrf" ->
      // both legs re-derived with their own parity recipes (q151's
      // BM25 CTE at k=50, the q20 cosine formula against vec 0),
      // reciprocal terms round(9)→DECIMAL, exact-order cuts with id
      // tiebreaks at every stage
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
        |),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
        |               COUNT(*) AS n FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        |       WHERE term IN ('merge', 'window', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id,
        |    SUM(CAST(ROUND(
        |      LN(1.0 + (CAST((SELECT n FROM tot) AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
        |        * ((t.tf * (1.2 + 1.0)) /
        |           (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM tot)))),
        |      9) AS DECIMAL(28,9))) AS score_d
        |  FROM tf t JOIN dfreq d ON d.term = t.term JOIN dl l ON l.doc_id = t.doc_id
        |  GROUP BY 1
        |),
        |lexcut AS (
        |  SELECT doc_id, ROUND(CAST(score_d AS DOUBLE), 6) AS score
        |  FROM scored ORDER BY score_d DESC, doc_id LIMIT 50
        |),
        |lex AS (
        |  SELECT doc_id AS id,
        |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM lexcut
        |),
        |nz AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        |  WHERE len(list_filter(embedding, x -> x <> 0)) > 0
        |),
        |veccut AS (
        |  SELECT a.vec_id,
        |    ROUND(list_cosine_similarity(a.e,
        |      (SELECT e FROM nz WHERE vec_id = 0)), 6) AS cosine
        |  FROM nz a WHERE a.vec_id <> 0
        |  ORDER BY cosine DESC, vec_id LIMIT 50
        |),
        |vec AS (
        |  SELECT vec_id AS id,
        |    ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS rank
        |  FROM veccut
        |),
        |u AS (
        |  SELECT id, 'lex' AS leg, rank FROM lex
        |  UNION ALL SELECT id, 'vec', rank FROM vec
        |),
        |fused AS (
        |  SELECT id,
        |    MIN(CASE WHEN leg = 'lex' THEN rank END) AS rank_lex,
        |    MIN(CASE WHEN leg = 'vec' THEN rank END) AS rank_vec,
        |    SUM(CAST(ROUND(1.0 / (60 + rank), 9) AS DECIMAL(18,9))) AS s
        |  FROM u GROUP BY 1
        |)
        |SELECT id, rank_lex, rank_vec, ROUND(CAST(s AS DOUBLE), 6) AS rrf
        |FROM fused ORDER BY s DESC, id LIMIT 20""".stripMargin,

    "q162_recluster_loop" ->
      // file geometry is deterministic (one file per bucket expr), so
      // per-file stats, the measured candidate arithmetic, the
      // interpolated estimates, layout ranking, and the amortized
      // recluster decision all re-derive relationally — truncating
      // `//` on non-negatives ≡ the operator's BigInt floor division
      """WITH ev AS (
        |  SELECT user_id,
        |    DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i
        |  FROM events
        |),
        |params AS (SELECT MAX(user_id) // 8 + 1 AS w FROM ev),
        |wl AS (
        |  SELECT 1 AS qid, w AS lo, 2*w - 1 AS hi FROM params
        |  UNION ALL SELECT 2, 2*w, 4*w - 1 FROM params
        |  UNION ALL SELECT 3, 6*w, 7*w - 1 FROM params
        |),
        |phases AS (
        |  SELECT 'before' AS phase, day_i % 8 AS f, COUNT(*) AS n_rows,
        |    MIN(user_id) AS mn_u, MAX(user_id) AS mx_u
        |  FROM ev GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'after', user_id // (SELECT w FROM params), COUNT(*),
        |    MIN(user_id), MAX(user_id)
        |  FROM ev GROUP BY 1, 2
        |),
        |ntab AS (SELECT phase, SUM(n_rows) AS n FROM phases GROUP BY 1),
        |meas AS (
        |  SELECT p.phase, SUM(p.n_rows) AS m
        |  FROM phases p JOIN wl ON p.mn_u <= wl.hi AND p.mx_u >= wl.lo
        |  GROUP BY 1
        |),
        |estu AS (
        |  SELECT p.phase, wl.qid, SUM(
        |    CASE WHEN p.mx_u < wl.lo OR p.mn_u > wl.hi THEN 0
        |         WHEN p.mx_u <= p.mn_u THEN p.n_rows
        |         ELSE (p.n_rows * (LEAST(wl.hi, p.mx_u) - GREATEST(wl.lo, p.mn_u)))
        |              // (p.mx_u - p.mn_u)
        |    END) AS e
        |  FROM phases p CROSS JOIN wl GROUP BY 1, 2
        |),
        |cands AS (
        |  SELECT phase, 'user' AS layout_id, SUM(e) AS total
        |  FROM estu GROUP BY 1
        |  UNION ALL
        |  SELECT phase, 'day', 3 * n FROM ntab
        |),
        |bestl AS (
        |  SELECT phase, layout_id AS best_layout, total AS predicted
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY phase
        |          ORDER BY total, layout_id) AS rk FROM cands)
        |  WHERE rk = 1
        |)
        |SELECT b.phase, b.best_layout,
        |  CAST(m.m AS BIGINT) AS measured_rows,
        |  CAST(b.predicted AS BIGINT) AS predicted_rows,
        |  CAST(nt.n AS BIGINT) AS table_rows,
        |  (m.m - b.predicted) * 4 > 2 * nt.n AS recluster
        |FROM bestl b
        |JOIN meas m ON m.phase = b.phase
        |JOIN ntab nt ON nt.phase = b.phase""".stripMargin,

    "q167_observed_advice" ->
      // both halves re-derived: the CAPTURED ranges (the planted
      // queries' predicates, half-open pair closed to the inclusive
      // box) and the before-phase advice over them — q162's
      // arithmetic on the listener's output
      """WITH ev AS (
        |  SELECT user_id,
        |    DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i
        |  FROM events
        |),
        |params AS (SELECT MAX(user_id) // 8 + 1 AS w FROM ev),
        |wl AS (
        |  SELECT 1 AS query_id, 'user' AS dim, w AS lo, 2*w - 1 AS hi FROM params
        |  UNION ALL SELECT 2, 'user', 2*w, 4*w - 1 FROM params
        |  UNION ALL SELECT 3, 'user', 6*w, 7*w - 1 FROM params
        |),
        |ph AS (
        |  SELECT day_i % 8 AS f, COUNT(*) AS n_rows,
        |    MIN(user_id) AS mn_u, MAX(user_id) AS mx_u
        |  FROM ev GROUP BY 1
        |),
        |ntab AS (SELECT SUM(n_rows) AS n FROM ph),
        |meas AS (
        |  SELECT SUM(p.n_rows) AS m
        |  FROM ph p JOIN wl ON p.mn_u <= wl.hi AND p.mx_u >= wl.lo
        |),
        |estu AS (
        |  SELECT wl.query_id, SUM(
        |    CASE WHEN p.mx_u < wl.lo OR p.mn_u > wl.hi THEN 0
        |         WHEN p.mx_u <= p.mn_u THEN p.n_rows
        |         ELSE (p.n_rows * (LEAST(wl.hi, p.mx_u) - GREATEST(wl.lo, p.mn_u)))
        |              // (p.mx_u - p.mn_u)
        |    END) AS e
        |  FROM ph p CROSS JOIN wl GROUP BY 1
        |),
        |cands AS (
        |  SELECT 'user' AS layout_id, SUM(e) AS total FROM estu
        |  UNION ALL SELECT 'day', 3 * n FROM ntab
        |),
        |bestl AS (
        |  SELECT layout_id AS best_layout, total AS predicted
        |  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY total, layout_id) AS rk
        |        FROM cands)
        |  WHERE rk = 1
        |)
        |SELECT CAST(wl.query_id AS BIGINT) AS query_id, wl.dim,
        |  CAST(wl.lo AS BIGINT) AS lo, CAST(wl.hi AS BIGINT) AS hi,
        |  b.best_layout,
        |  CAST(m.m AS BIGINT) AS measured_rows,
        |  CAST(b.predicted AS BIGINT) AS predicted_rows,
        |  CAST(nt.n AS BIGINT) AS table_rows,
        |  (m.m - b.predicted) * 4 > 2 * nt.n AS recluster
        |FROM wl CROSS JOIN bestl b CROSS JOIN meas m CROSS JOIN ntab nt""".stripMargin,

    "q168_sql_admit" ->
      // both CALL verdicts and the final corpus count re-derived:
      // call 1 admits the distinct held-out fingerprints (v 1→2),
      // call 2 admits zero at the unchanged version — the idempotence
      // IS the manifest-freshness gate
      """WITH fp AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ' '),
        |          w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM documents
        |),
        |c AS (SELECT fp FROM fp WHERE doc_id % 3 <> 0),
        |adm AS (
        |  SELECT DISTINCT b.fp FROM fp b
        |  WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fp = b.fp)
        |),
        |nums AS (
        |  SELECT (SELECT COUNT(*) FROM fp) AS nb,
        |    (SELECT COUNT(*) FROM adm) AS na,
        |    (SELECT COUNT(*) FROM c) AS nc
        |)
        |SELECT CAST(1 AS BIGINT) AS call_seq, CAST(nb AS BIGINT) AS n_batch,
        |  CAST(na AS BIGINT) AS n_admitted,
        |  CAST(nb - na AS BIGINT) AS n_rejected,
        |  CAST(2 AS BIGINT) AS version, CAST(nc + na AS BIGINT) AS corpus_rows
        |FROM nums
        |UNION ALL
        |SELECT 2, nb, 0, nb, 2, nc + na FROM nums""".stripMargin,

    "q169_ledger_net" ->
      // both counterparty legs, exact-decimal netting, non-zero keep
      """WITH t AS (
        |  SELECT CAST(ts AS DATE) AS date, user_id AS from_w,
        |    (user_id + event_id * 7) % 997 AS to_w,
        |    event_type AS token,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS amount
        |  FROM events
        |),
        |d AS (
        |  SELECT date, to_w AS wallet, token, amount FROM t
        |  UNION ALL
        |  SELECT date, from_w, token, -amount FROM t
        |)
        |SELECT date, wallet, token, CAST(SUM(amount) AS DOUBLE) AS net_amount
        |FROM d GROUP BY 1, 2, 3 HAVING SUM(amount) <> 0""".stripMargin,

    "q170_importance_select" ->
      // DSIR: exact char-polynomial word hashes -> unigram+bigram
      // buckets, Laplace-smoothed target/raw log-ratios as rounded
      // decimals, per-doc integer-weighted sum, top-100 (weight, id)
      """WITH hs AS (
        |  SELECT doc_id, lang,
        |    list_filter(list_transform(string_split(text, ' '),
        |      w -> CASE WHEN LENGTH(w) > 0 THEN
        |        list_reduce(list_prepend(CAST(7 AS BIGINT),
        |          list_transform(string_split(w, ''), c -> CAST(ascii(c) AS BIGINT))),
        |          (a, x) -> (a * 31 + x) % 1000000007) END),
        |      h -> h IS NOT NULL) AS h
        |  FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, lang, unnest(list_concat(h,
        |    CASE WHEN len(h) > 1 THEN
        |      list_transform(range(1, len(h)), i -> (h[i] * 131 + h[i+1]) % 1000000007)
        |    ELSE CAST([] AS BIGINT[]) END)) AS g
        |  FROM hs
        |),
        |cnt AS (
        |  SELECT doc_id, (lang = 'en') AS tgt, g % 512 AS bucket, count(*) AS n
        |  FROM grams GROUP BY 1, 2, 3
        |),
        |stats AS (
        |  SELECT bucket, sum(CASE WHEN tgt THEN n ELSE 0 END) AS ct, sum(n) AS cr
        |  FROM cnt GROUP BY 1
        |),
        |tot AS (SELECT sum(ct) AS t_tot, sum(cr) AS r_tot FROM stats),
        |ratios AS (
        |  SELECT bucket,
        |    CAST(round(
        |      ln(CAST(ct + 1 AS DOUBLE) / CAST(cr + 1 AS DOUBLE)) +
        |      ln(CAST(r_tot + 512 AS DOUBLE) / CAST(t_tot + 512 AS DOUBLE)),
        |      9) AS DECIMAL(18,9)) AS lr
        |  FROM stats, tot
        |)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
        |  CAST(round(CAST(sum(CAST(n AS DECIMAL(9,0)) * lr) AS DOUBLE), 6) AS DOUBLE) AS weight
        |FROM cnt JOIN ratios USING (bucket)
        |GROUP BY doc_id
        |ORDER BY sum(CAST(n AS DECIMAL(9,0)) * lr) DESC, doc_id
        |LIMIT 100""".stripMargin,

    "q171_declared_topk" ->
      // the window idiom verbatim — the rewrite must reproduce it
      // exactly, rank column included
      """SELECT user_id, event_id, CAST(rn AS INTEGER) AS rn,
        |       CAST(round(value, 6) AS DOUBLE) AS amount FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |                               ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase'
        |) t WHERE rn <= 3""".stripMargin,

    "q174_split_export" ->
      // the split wall AND shard routing re-derived from the source
      // table; losslessness via fingerprint mass; files = ceil(n/25)
      """WITH lab AS (
        |  SELECT doc_id, text, source, n_chars,
        |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |         ELSE 'test' END AS split,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 % 4 AS shard
        |  FROM (
        |    SELECT *,
        |      (list_reduce(list_prepend(CAST(7 AS BIGINT),
        |        list_transform(string_split(CAST(source AS VARCHAR), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (a, x) -> (a * 31 + x) % 1000000007)
        |       * 2654435761) % 1000000007 % 1000 AS b
        |    FROM documents)
        |)
        |SELECT split, shard, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources,
        |  CAST(SUM(list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007)) AS BIGINT) AS fp_sum,
        |  CAST(CEIL(COUNT(*) / 25.0) AS BIGINT) AS n_files
        |FROM lab GROUP BY 1, 2""".stripMargin,

    "q173_grouped_split" ->
      // the same seeded char-fold permille assignment, re-derived
      """WITH lab AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN b < 800 THEN 'train' WHEN b < 900 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM (
        |    SELECT doc_id, source, n_chars,
        |      (list_reduce(list_prepend(CAST(7 AS BIGINT),
        |        list_transform(string_split(CAST(source AS VARCHAR), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (a, x) -> (a * 31 + x) % 1000000007)
        |       * 2654435761) % 1000000007 % 1000 AS b
        |    FROM documents)
        |),
        |per AS (
        |  SELECT split, source, count(*) AS n_docs, sum(n_chars) AS n_chars
        |  FROM lab GROUP BY 1, 2
        |)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_sources,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM per GROUP BY 1""".stripMargin,

    "q172_perplexity_filter" ->
      // bigram LM on the en slice: add-1 conditionals, per-bigram
      // -ln P as rounded decimals, mean in nats, ntile(3) terciles
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), w -> LENGTH(w) > 0) AS tk
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, unnest(CASE WHEN len(tk) > 1 THEN
        |    list_transform(range(1, len(tk)), i -> struct_pack(p := tk[i], w := tk[i+1]))
        |    ELSE CAST([] AS STRUCT(p VARCHAR, w VARCHAR)[]) END) AS g
        |  FROM toks
        |),
        |pairs0 AS (SELECT doc_id, g.p AS p, g.w AS w FROM bg),
        |refbg AS (
        |  SELECT p, w, count(*) AS cpw
        |  FROM pairs0 JOIN documents USING (doc_id) WHERE lang = 'en'
        |  GROUP BY 1, 2
        |),
        |refprev AS (SELECT p, sum(cpw) AS cp FROM refbg GROUP BY 1),
        |vocab AS (SELECT DISTINCT unnest(tk) AS word FROM toks WHERE lang = 'en'),
        |v AS (SELECT count(*) AS v FROM vocab),
        |mapped AS (
        |  SELECT doc_id,
        |    CASE WHEN vp.word IS NOT NULL THEN pairs0.p ELSE '' END AS p,
        |    CASE WHEN vw.word IS NOT NULL THEN pairs0.w ELSE '' END AS w
        |  FROM pairs0
        |  LEFT JOIN vocab vp ON vp.word = pairs0.p
        |  LEFT JOIN vocab vw ON vw.word = pairs0.w
        |),
        |nll AS (
        |  SELECT doc_id,
        |    CAST(round(-ln(CAST(coalesce(cpw, 0) + 1 AS DOUBLE) /
        |                   CAST(coalesce(cp, 0) + v + 1 AS DOUBLE)), 9)
        |      AS DECIMAL(18,9)) AS nll
        |  FROM mapped LEFT JOIN refbg USING (p, w) LEFT JOIN refprev USING (p), v
        |),
        |per AS (
        |  SELECT doc_id, count(*) AS nb, CAST(sum(nll) AS DOUBLE) / count(*) AS ce
        |  FROM nll GROUP BY 1
        |),
        |allx AS (
        |  SELECT d.doc_id, coalesce(nb, 0) AS n_bigrams, ce
        |  FROM documents d LEFT JOIN per USING (doc_id)
        |)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(round(ce, 6) AS DOUBLE) AS ce,
        |  CASE WHEN ce IS NULL THEN 'tail'
        |       ELSE ['head','middle','tail'][ntile(3) OVER (ORDER BY ce ASC NULLS LAST, doc_id)]
        |  END AS bucket
        |FROM allx""".stripMargin,

    "q161_sequence_index" ->
      // q158's packing recurrence, indexed: per-(shard, seq) counts
      // and the windowed token start offset a loader seeks by
      """WITH RECURSIVE s AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 AS scramble,
        |    ((doc_id % 1000003) * 2654435761) % 1000000007 % 8 AS shard
        |  FROM documents
        |), o AS (
        |  SELECT shard, doc_id, n_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY shard
        |                       ORDER BY scramble, doc_id) AS rn
        |  FROM s
        |), packed AS (
        |  SELECT shard, doc_id, n_tokens, rn,
        |    CAST(1 AS BIGINT) AS seq_id, n_tokens AS acc
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.doc_id, o.n_tokens, o.rn,
        |    CASE WHEN p.acc + o.n_tokens > 256
        |         THEN p.seq_id + 1 ELSE p.seq_id END,
        |    CASE WHEN p.acc + o.n_tokens > 256
        |         THEN o.n_tokens ELSE p.acc + o.n_tokens END
        |  FROM packed p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
        |), seqs AS (
        |  SELECT shard, seq_id, COUNT(*) AS n_docs,
        |    CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        |  FROM packed GROUP BY shard, seq_id
        |)
        |SELECT shard, seq_id, n_docs, seq_tokens,
        |  CAST(COALESCE(SUM(seq_tokens) OVER (
        |    PARTITION BY shard ORDER BY seq_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    0) AS BIGINT) AS seq_start
        |FROM seqs""".stripMargin,

    "q160_wap_snapshot" ->
      // every gate of the snapshot-grain audit, re-derived: dims'
      // own drop, facts' drop, then the referential check against
      // the CLEANED dims; quarantine rows carry their violation name
      """WITH dims_raw AS (
        |  SELECT c_custkey, CAST(round(c_acctbal, 2) AS DECIMAL(18,2)) AS bal
        |  FROM customer
        |),
        |facts_raw AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS price
        |  FROM orders
        |),
        |dims_ok AS (SELECT * FROM dims_raw WHERE bal >= 0),
        |facts_lowcut AS (SELECT * FROM facts_raw WHERE price >= 2000),
        |facts_ok AS (
        |  SELECT f.* FROM facts_lowcut f
        |  WHERE EXISTS (SELECT 1 FROM dims_ok d WHERE d.c_custkey = f.o_custkey)
        |)
        |SELECT 'facts' AS member, o_orderkey AS k, CAST(price AS DOUBLE) AS val
        |FROM facts_ok
        |UNION ALL
        |SELECT 'dims', c_custkey, CAST(bal AS DOUBLE) FROM dims_ok
        |UNION ALL
        |SELECT 'rej.not_low', o_orderkey, CAST(NULL AS DOUBLE)
        |FROM facts_raw WHERE NOT (price >= 2000)
        |UNION ALL
        |SELECT 'rej.bal_nonneg', c_custkey, CAST(NULL AS DOUBLE)
        |FROM dims_raw WHERE NOT (bal >= 0)
        |UNION ALL
        |SELECT 'rej.fact_has_dim', o_orderkey, CAST(NULL AS DOUBLE)
        |FROM facts_lowcut f
        |WHERE NOT EXISTS (SELECT 1 FROM dims_ok d WHERE d.c_custkey = f.o_custkey)""".stripMargin,

    "q152_transition_matrix" ->
      // CAST(ts AS TIMESTAMP) truncates the parquet nanos to the µs
      // Spark orders on (the q2 lesson); event_id breaks the tie;
      // `//` floors where `div` truncates — positive operands
      """WITH trans AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS to_type
        |  FROM events
        |),
        |counts AS (
        |  SELECT from_type, to_type, COUNT(*) AS n FROM trans
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2
        |)
        |SELECT from_type, to_type, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS p_ppm
        |FROM counts""".stripMargin,

    "q153_attribution" ->
      // the quadratic theta join + DESC ranking states the semantics
      // the Spark side's single-shuffle as-of plan avoids; the
      // (ts, type, id) DESC rank mirrors asOf's greatest-payload tie
      """WITH p AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CAST(ROUND(value, 6) AS DECIMAL(18,6)) AS revenue
        |  FROM events WHERE event_type = 'purchase'
        |),
        |t AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id
        |  FROM events WHERE event_type IN ('click', 'view', 'signup')
        |),
        |ranked AS (
        |  SELECT p.event_id AS pid, p.revenue, t.event_type AS touch_type,
        |    ROW_NUMBER() OVER (PARTITION BY p.event_id
        |      ORDER BY t.ts DESC, t.event_type DESC, t.event_id DESC) AS rn
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id AND t.ts <= p.ts
        |)
        |SELECT COALESCE(touch_type, 'organic') AS touch_type,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(revenue) AS DOUBLE) AS attributed_revenue
        |FROM ranked WHERE rn = 1 GROUP BY 1""".stripMargin,

    "q151_bm25" ->
      // op-order parity with the Spark side: k1+1 and 1−b are
      // ENGINE-SIDE arithmetic (1.2+1.0 is a rounding midpoint);
      // contributions round(9) → DECIMAL so the sum and the top-k
      // cut are exact; avgdl = CAST/CAST of exact integers
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
        |),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
        |               COUNT(*) AS n FROM dl),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        |       WHERE term IN ('merge', 'window', 'scan') GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id, COUNT(*) AS n_terms,
        |    SUM(CAST(ROUND(
        |      LN(1.0 + (CAST((SELECT n FROM tot) AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
        |        * ((t.tf * (1.2 + 1.0)) /
        |           (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM tot)))),
        |      9) AS DECIMAL(28,9))) AS score_d
        |  FROM tf t JOIN dfreq d ON d.term = t.term JOIN dl l ON l.doc_id = t.doc_id
        |  GROUP BY 1
        |)
        |SELECT doc_id, n_terms, ROUND(CAST(score_d AS DOUBLE), 6) AS score
        |FROM scored ORDER BY score_d DESC, doc_id LIMIT 10""".stripMargin,

    "q179_hard_negatives" ->
      // q151's BM25 parity recipe in batch form (one index, queries
      // joined in), q25's fingerprint expression for the false-
      // negative exclusion, ranks on decimal compare + doc id
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
        |),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY 1),
        |tot AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl,
        |               COUNT(*) AS n FROM dl),
        |qterms AS (
        |  SELECT DISTINCT doc_id AS qid, UNNEST(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id % 97 = 0
        |),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        |       WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |fps AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(text, ' '),
        |          w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |      (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |  FROM documents
        |),
        |scored AS (
        |  SELECT q.qid, t.doc_id, COUNT(*) AS n_terms,
        |    SUM(CAST(ROUND(
        |      LN(1.0 + (CAST((SELECT n FROM tot) AS DOUBLE) - d.df + 0.5) / (d.df + 0.5))
        |        * ((t.tf * (1.2 + 1.0)) /
        |           (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / (SELECT avgdl FROM tot)))),
        |      9) AS DECIMAL(28,9))) AS score_d
        |  FROM qterms q
        |  JOIN tf t ON t.term = q.term
        |  JOIN dfreq d ON d.term = t.term
        |  JOIN dl l ON l.doc_id = t.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT qid, rn AS rank, doc_id AS neg_id, n_terms,
        |  ROUND(CAST(score_d AS DOUBLE), 6) AS score
        |FROM (
        |  SELECT s.*, ROW_NUMBER() OVER (
        |    PARTITION BY s.qid ORDER BY s.score_d DESC, s.doc_id) AS rn
        |  FROM scored s
        |  JOIN fps fq ON fq.doc_id = s.qid
        |  JOIN fps fd ON fd.doc_id = s.doc_id
        |  WHERE s.doc_id <> s.qid AND fd.fp <> fq.fp
        |)
        |WHERE rn <= 5""".stripMargin,

    "q149_ewma" ->
      // integer half-life weights (2^(15−d)), micro-unit prices via a
      // DECIMAL cast (double→BIGINT truncates in Spark, rounds here —
      // the decimal route is exact on both), one float division at
      // the very end from identical integers
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
        |    CAST(CAST(ROUND(MAX(value), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micro,
        |    DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i
        |  FROM events GROUP BY 1, 2, 4
        |)
        |SELECT l.asset, l.date, COUNT(*) AS n_obs,
        |  ROUND(CAST(SUM((CAST(1 AS BIGINT) << (15 - (l.day_i - r.day_i))) * r.micro) AS DOUBLE)
        |        / CAST(SUM(CAST(1 AS BIGINT) << (15 - (l.day_i - r.day_i))) AS DOUBLE)
        |        / 1000000.0, 6) AS ewma
        |FROM daily l JOIN daily r
        |  ON r.asset = l.asset AND r.day_i BETWEEN l.day_i - 15 AND l.day_i
        |GROUP BY l.asset, l.date""".stripMargin,

    "q177_holt_trend" -> {
      // the SAME exact BigInt impulse weights the operator uses
      // (shared generation — the hash gates the windowed-sum
      // machinery; LinearRecurrenceSpec gates the weights against the
      // sequential Holt recurrence); HUGEINT accumulation is DuckDB's
      // exact twin of the Spark side's decimal(38,0)
      val (lvl, trd) = graft.operators.LinearRecurrence.holtWeights(16)
      def arr(ws: Seq[BigInt]) = ws.mkString("[", ", ", "]")
      s"""WITH daily AS (
         |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
         |    CAST(CAST(ROUND(MAX(value), 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS micro,
         |    DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_i
         |  FROM events GROUP BY 1, 2, 4
         |)
         |SELECT l.asset, CAST(l.day_i AS BIGINT) AS day, COUNT(*) AS n_obs,
         |  ROUND(CAST(SUM(CAST((${arr(lvl)})[CAST(l.day_i - r.day_i AS INT) + 1] AS HUGEINT)
         |                 * r.micro) AS DOUBLE) / 4294967296.0 / 1000000.0, 6) AS level,
         |  ROUND(CAST(SUM(CAST((${arr(trd)})[CAST(l.day_i - r.day_i AS INT) + 1] AS HUGEINT)
         |                 * r.micro) AS DOUBLE) / 4294967296.0 / 1000000.0, 6) AS trend
         |FROM daily l JOIN daily r
         |  ON r.asset = l.asset AND r.day_i BETWEEN l.day_i - 15 AND l.day_i
         |GROUP BY 1, 2""".stripMargin
    },

    "q148_text_normalize" ->
      // nfc_normalize is DuckDB's UAX #15 twin of graft_nfc; both
      // regexes live in the Java ∩ RE2 subset (the piiScrub contract)
      """WITH n AS (
        |  SELECT doc_id, text,
        |    TRIM(regexp_replace(
        |      regexp_replace(nfc_normalize(text),
        |        '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS norm_text
        |  FROM documents
        |)
        |SELECT doc_id, norm_text,
        |  LENGTH(text) AS n_chars_raw,
        |  LENGTH(norm_text) AS n_chars,
        |  norm_text IS DISTINCT FROM text AS changed
        |FROM n""".stripMargin,

    "q182_segment_dedup" ->
      // list_slice is START/END-inclusive where Spark's slice is
      // START/LENGTH — i*12+1 .. i*12+12 is the same 12-token window
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(list_slice(t, i*12 + 1, i*12 + 12), ' ') AS seg
        |  FROM toks, UNNEST(range((len(t) + 11) // 12)) AS u(i)
        |), freq AS (
        |  SELECT seg, COUNT(*) AS n FROM segs GROUP BY seg
        |), kept AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg
        |  FROM segs s JOIN freq f USING (seg) WHERE f.n <= 2
        |), re AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    STRING_AGG(seg, ' ' ORDER BY seg_idx) AS clean_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST((len(string_split(d.text, ' ')) + 11) // 12 AS BIGINT) AS n_segs,
        |  CAST(COALESCE(re.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST((len(string_split(d.text, ' ')) + 11) // 12
        |    - COALESCE(re.n_kept, 0) AS BIGINT) AS n_dropped,
        |  COALESCE(re.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN re ON d.doc_id = re.doc_id""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_quantity), 2) AS sum_qty,
        |  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  ROUND(AVG(l_extendedprice), 4) AS avg_price,
        |  ROUND(AVG(l_discount), 4) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q2_dedupe_rank" ->
      // ORDER BY casts TIMESTAMP_NS -> TIMESTAMP (microseconds): Spark
      // has no nanosecond type, so sub-us components must tie-break by
      // event_id on BOTH engines, not by nanos on one
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,

    "q3_running_balance" ->
      s"""WITH $transfersCte, $balancesCte
         |SELECT asset, wallet, date,
         |  ROUND(net_transfers, 6) AS net_transfers,
         |  ROUND(balance, 6) AS balance,
         |  transfer_sequence
         |FROM balances""".stripMargin,

    "q4_gap_fill" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
        |         ROUND(MAX(value), 6) AS price, COUNT(*) AS volume
        |  FROM events GROUP BY 1, 2
        |),
        |kept AS (
        |  SELECT * FROM daily
        |  WHERE (DATE_PART('day', date) + LENGTH(asset)) % 10 < 7
        |),
        |bounds AS (SELECT asset, MIN(date) AS d0 FROM kept GROUP BY 1),
        |maxd AS (SELECT MAX(date) AS d1 FROM kept),
        |cal AS (
        |  SELECT b.asset, CAST(UNNEST(GENERATE_SERIES(b.d0, (SELECT d1 FROM maxd), INTERVAL 1 DAY)) AS DATE) AS date
        |  FROM bounds b
        |),
        |joined AS (
        |  SELECT c.asset, c.date, k.price, k.volume
        |  FROM cal c LEFT JOIN kept k ON k.asset = c.asset AND k.date = c.date
        |),
        |lagged AS (
        |  SELECT *, LAG(price) OVER (PARTITION BY asset ORDER BY date) AS prev_price
        |  FROM joined
        |),
        |grp AS (
        |  SELECT *,
        |    SUM(CASE WHEN price IS NOT NULL OR prev_price IS NOT NULL
        |        THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY asset ORDER BY date) AS igrp
        |  FROM lagged
        |)
        |SELECT asset, date,
        |  LAST_VALUE(price IGNORE NULLS) OVER
        |    (PARTITION BY asset ORDER BY date ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price,
        |  COALESCE(volume, 0) AS volume,
        |  CASE WHEN price IS NULL
        |       THEN ROW_NUMBER() OVER (PARTITION BY asset, igrp ORDER BY date) END AS days_imputed
        |FROM grp""".stripMargin,

    "q5_dip_removal" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date, ROUND(MIN(value), 6) AS price
        |  FROM events GROUP BY 1, 2
        |),
        |flagged AS (
        |  SELECT *,
        |    LAG(price)  OVER (PARTITION BY asset ORDER BY date) AS prev_price,
        |    LEAD(price) OVER (PARTITION BY asset ORDER BY date) AS next_price
        |  FROM daily
        |)
        |SELECT asset, date, price FROM flagged
        |WHERE NOT COALESCE(
        |  (price / NULLIF(prev_price, 0) < 0.8 AND next_price / NULLIF(prev_price, 0) > 0.9)
        |  OR (price = 0 AND prev_price > 0 AND next_price > 0 AND next_price / NULLIF(prev_price, 0) > 0.9),
        |  FALSE)""".stripMargin,

    "q6_exclusion_antijoin" ->
      s"""WITH $transfersCte,
         |error_wallets AS (
         |  SELECT user_id AS wallet FROM events WHERE event_type = 'error'
         |  GROUP BY 1 HAVING COUNT(*) >= 16
         |),
         |pattern_wallets AS (
         |  SELECT DISTINCT wallet FROM transfers WHERE wallet % 5 = 0
         |)
         |SELECT wallet, COUNT(*) AS n_rows, ROUND(SUM(net_transfers), 6) AS total_net
         |FROM transfers t
         |WHERE NOT EXISTS (SELECT 1 FROM error_wallets e WHERE e.wallet = t.wallet)
         |  AND NOT EXISTS (SELECT 1 FROM pattern_wallets p WHERE p.wallet = t.wallet)
         |GROUP BY 1""".stripMargin,

    "q7_negative_balance_cohort" ->
      s"""WITH $transfersCte, $balancesCte,
         |pair_stats AS (
         |  SELECT asset, wallet, MIN(balance) AS lowest FROM balances GROUP BY 1, 2
         |),
         |key_stats AS (
         |  SELECT asset, COUNT(wallet) AS wallets,
         |         COUNT(CASE WHEN lowest < -0.1 THEN 1 END) AS neg_wallets
         |  FROM pair_stats GROUP BY 1
         |)
         |SELECT b.asset, b.wallet, b.date,
         |  ROUND(b.net_transfers, 6) AS net_transfers,
         |  ROUND(b.balance, 6) AS balance
         |FROM balances b
         |JOIN pair_stats p ON p.asset = b.asset AND p.wallet = b.wallet
         |JOIN key_stats k ON k.asset = b.asset
         |WHERE p.lowest > -0.1 AND k.neg_wallets < k.wallets * 0.6""".stripMargin,

    "q8_whale_buckets" ->
      s"""WITH $transfersCte, $balancesCte,
         |bal AS (SELECT asset, wallet, date, balance FROM balances),
         |bounds AS (SELECT asset, wallet, MIN(date) AS d0 FROM bal GROUP BY 1, 2),
         |maxd AS (SELECT MAX(date) AS d1 FROM bal),
         |cal AS (
         |  SELECT b.asset, b.wallet, CAST(UNNEST(GENERATE_SERIES(b.d0, (SELECT d1 FROM maxd), INTERVAL 1 DAY)) AS DATE) AS date
         |  FROM bounds b
         |),
         |dense AS (
         |  SELECT c.asset, c.wallet, c.date,
         |    LAST_VALUE(b.balance IGNORE NULLS) OVER
         |      (PARTITION BY c.asset, c.wallet ORDER BY c.date
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS balance
         |  FROM cal c LEFT JOIN bal b ON b.asset = c.asset AND b.wallet = c.wallet AND b.date = c.date
         |)
         |SELECT asset, date,
         |  COUNT(CASE WHEN balance <= 50 THEN 1 END) AS small_wallets,
         |  COUNT(CASE WHEN balance > 50 AND balance <= 300 THEN 1 END) AS medium_wallets,
         |  COUNT(CASE WHEN balance > 300 THEN 1 END) AS whale_wallets
         |FROM dense GROUP BY 1, 2""".stripMargin,

    "q9_stable_ids" ->
      """SELECT wallet, ROW_NUMBER() OVER (ORDER BY wallet) AS wallet_id
        |FROM (SELECT DISTINCT user_id AS wallet FROM events)""".stripMargin,

    "q10_wallet_profits" -> walletProfitsSql,

    "q11_multisource_union" ->
      """WITH source_a AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
        |         ROUND(MAX(value), 6) AS price, 'a' AS data_source
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
        |),
        |source_b AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
        |         ROUND(MAX(value), 6) AS price, 'b' AS data_source
        |  FROM events WHERE event_id % 5 = 0 GROUP BY 1, 2
        |)
        |SELECT * FROM source_a
        |UNION ALL
        |SELECT b.* FROM source_b b
        |WHERE NOT EXISTS (SELECT 1 FROM source_a a WHERE a.asset = b.asset AND a.date = b.date)""".stripMargin,

    "q12_shipping_priority" ->
      """SELECT l_orderkey,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q13_market_share" ->
      """SELECT n_name,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,

    "q14_first_price" ->
      s"""WITH $pricesCte
         |SELECT asset, date AS first_price_date, price AS first_price FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY asset ORDER BY date) AS rn FROM prices
         |) WHERE rn = 1""".stripMargin,

    "q15_daily_rollup" ->
      """SELECT event_type, CAST(ts AS DATE) AS date,
        |  COUNT(*) AS n_events,
        |  ROUND(SUM(value), 6) AS sum_value,
        |  ROUND(MIN(value), 6) AS min_value,
        |  ROUND(MAX(value), 6) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q16_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q17_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |),
        |sh AS (
        |  SELECT doc_id, UNNEST(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS shingle
        |  FROM toks
        |),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
        |  FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
        |) WHERE jaccard >= 0.8""".stripMargin,

    "q20_knn_cosine" ->
      """WITH nz AS (
        |  SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> x <> 0)) > 0
        |),
        |pairs AS (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
        |)
        |SELECT vec_id, neighbor_id, cosine, rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM pairs
        |) WHERE rank <= 5""".stripMargin,

    "q22_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens
        |FROM documents""".stripMargin,

    "q23_quality_score" ->
      """SELECT doc_id, n_chars, n_tokens,
        |  alpha_ppm, digit_ppm, punct_ppm, stopword_ppm,
        |  (4 * alpha_ppm + 3 * stopword_ppm
        |    + 2 * (1000000 - digit_ppm) + (1000000 - punct_ppm)) // 10 AS quality_score_ppm
        |FROM (
        |  SELECT doc_id, LENGTH(text) AS n_chars, len(string_split(text, ' ')) AS n_tokens,
        |    (len(regexp_extract_all(text, '[A-Za-z]')) * 1000000) // GREATEST(LENGTH(text), 1) AS alpha_ppm,
        |    (len(regexp_extract_all(text, '[0-9]')) * 1000000) // GREATEST(LENGTH(text), 1) AS digit_ppm,
        |    (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1000000) // GREATEST(LENGTH(text), 1) AS punct_ppm,
        |    (len(list_filter(string_split(text, ' '),
        |        w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000)
        |      // GREATEST(len(string_split(text, ' ')), 1) AS stopword_ppm
        |  FROM documents
        |)""".stripMargin,

    "q24_lang_id" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split(text,' '), w -> w IN ('the','a','and','of','is'))) AS s_en,
        |    len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','ist'))) AS s_de,
        |    len(list_filter(string_split(text,' '), w -> w IN ('le','la','les','et','est'))) AS s_fr,
        |    len(list_filter(string_split(text,' '), w -> w IN ('el','los','las','y','es'))) AS s_es,
        |    len(list_filter(string_split(text,' '), w -> w IN ('de','shi','le','wo','ni'))) AS s_zh
        |  FROM documents
        |)
        |SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN s_en >= GREATEST(s_de, s_fr, s_es, s_zh) THEN 'en'
        |         WHEN s_de >= GREATEST(s_fr, s_es, s_zh) THEN 'de'
        |         WHEN s_fr >= GREATEST(s_es, s_zh) THEN 'fr'
        |         WHEN s_es >= s_zh THEN 'es'
        |         ELSE 'zh' END AS pred_lang
        |  FROM scored
        |)""".stripMargin,

    "q25_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ' '),
        |        w -> CAST(LENGTH(w) * 97 + CASE WHEN LENGTH(w) > 0 THEN ascii(w) ELSE 0 END AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint
        |FROM documents""".stripMargin,

    "q26_embedding_dedup" ->
      """WITH nz AS (
        |  SELECT * FROM embeddings WHERE len(list_filter(embedding, x -> x <> 0)) > 0
        |)
        |SELECT vec_a, vec_b, cosine FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM nz a JOIN nz b ON a.vec_id < b.vec_id
        |) WHERE cosine >= 0.4""".stripMargin,

    "q28_json_normalize" ->
      """SELECT event_type, CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS k_bucket,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q29_incremental_upsert" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,

    "q30_entity_resolution" ->
      """WITH src0 AS (
        |  SELECT user_id,
        |    CASE WHEN COUNT(*) >= 10 THEN ROUND(MAX(value), 6) END AS max_value,
        |    CAST(MIN(ts) AS DATE) AS first_seen
        |  FROM events WHERE event_id % 2 = 0 GROUP BY 1
        |),
        |src1 AS (
        |  SELECT user_id,
        |    CASE WHEN COUNT(*) >= 10 THEN ROUND(MAX(value), 6) END AS max_value,
        |    CAST(MIN(ts) AS DATE) AS first_seen
        |  FROM events WHERE event_id % 2 = 1 GROUP BY 1
        |)
        |SELECT COALESCE(a.user_id, b.user_id) AS user_id,
        |  COALESCE(a.max_value, b.max_value) AS max_value,
        |  COALESCE(a.first_seen, b.first_seen) AS first_seen,
        |  (CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END
        |   + CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END) AS n_sources
        |FROM src0 a FULL OUTER JOIN src1 b ON a.user_id = b.user_id""".stripMargin,

    "q33_supply_overage" ->
      s"""WITH $transfersCte, $balancesCte,
         |supply AS (
         |  SELECT asset, ROUND(MAX(balance) * 0.9, 6) AS supply FROM balances GROUP BY 1
         |),
         |overage_pairs AS (
         |  SELECT DISTINCT b.asset, b.wallet
         |  FROM balances b JOIN supply s ON s.asset = b.asset
         |  WHERE ROUND(b.balance, 6) > s.supply
         |),
         |overage_keys AS (
         |  SELECT asset FROM overage_pairs GROUP BY 1 HAVING COUNT(*) >= 3
         |)
         |SELECT b.asset, b.wallet, b.date,
         |  ROUND(b.net_transfers, 6) AS net_transfers,
         |  ROUND(b.balance, 6) AS balance
         |FROM balances b
         |WHERE NOT EXISTS (SELECT 1 FROM overage_pairs p
         |                  WHERE p.asset = b.asset AND p.wallet = b.wallet)
         |  AND NOT EXISTS (SELECT 1 FROM overage_keys k WHERE k.asset = b.asset)""".stripMargin,

    "q34_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |           OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |numbered AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM flagged
        |)
        |SELECT user_id, session_id,
        |  COUNT(*) AS n_events,
        |  MIN(ts) AS session_start,
        |  MAX(ts) AS session_end,
        |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
        |FROM numbered GROUP BY 1, 2""".stripMargin,

    "q35_percentiles" ->
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  ROUND(AVG(value), 6) AS mean_value,
        |  ROUND(quantile_cont(value, 0.5), 6) AS p50,
        |  ROUND(quantile_cont(value, 0.9), 6) AS p90,
        |  ROUND(quantile_cont(value, 0.99), 6) AS p99,
        |  ROUND(stddev_samp(value), 6) AS stddev_value
        |FROM events GROUP BY 1""".stripMargin,

    "q36_moving_avg" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date, ROUND(MAX(value), 6) AS price
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT asset, date, price,
        |  ROUND(AVG(price) OVER w7, 6) AS ma7,
        |  ROUND(MIN(price) OVER w7, 6) AS min7,
        |  ROUND(MAX(price) OVER w7, 6) AS max7,
        |  COUNT(*) OVER w7 AS n7
        |FROM daily
        |WINDOW w7 AS (PARTITION BY asset ORDER BY date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q37_price_correlation" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date, ROUND(MAX(value), 6) AS price
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.asset AS asset_a, b.asset AS asset_b,
        |  COUNT(*) AS n_days,
        |  ROUND(corr(a.price, b.price), 6) AS price_corr
        |FROM daily a JOIN daily b ON a.date = b.date AND a.asset < b.asset
        |GROUP BY 1, 2""".stripMargin,

    "q38_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS date FROM events
        |),
        |first AS (
        |  SELECT user_id, MIN(date) AS cohort_date FROM act GROUP BY 1
        |)
        |SELECT f.cohort_date,
        |  COUNT(DISTINCT a.user_id) AS n_users,
        |  COUNT(DISTINCT CASE WHEN a.date = f.cohort_date + INTERVAL 1 DAY THEN a.user_id END) AS d1_retained,
        |  COUNT(DISTINCT CASE WHEN a.date = f.cohort_date + INTERVAL 7 DAY THEN a.user_id END) AS d7_retained
        |FROM act a JOIN first f ON f.user_id = a.user_id
        |GROUP BY 1""".stripMargin,

    "q39_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
        |),
        |s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM ev WHERE event_type = 'signup' GROUP BY 1
        |),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM ev e JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1
        |),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3
        |  FROM ev e JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1
        |)
        |SELECT COUNT(s1.t1) AS n_signup,
        |  COUNT(s2.t2) AS n_viewed_after_signup,
        |  COUNT(s3.t3) AS n_purchased_after_view
        |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
        |        LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin,

    "q40_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term FROM documents
        |),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
        |SELECT doc_id, term, tf, df, tfidf, rank FROM (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    ROUND(t.tf * LN(CAST((SELECT n FROM n) AS DOUBLE) / d.df), 6) AS tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
        |                       ORDER BY ROUND(t.tf * LN(CAST((SELECT n FROM n) AS DOUBLE) / d.df), 6) DESC,
        |                                t.term) AS rank
        |  FROM tf t JOIN dfreq d ON d.term = t.term
        |) WHERE rank <= 5""".stripMargin,

    "q42_incremental_refresh" ->
      // the refreshed table ≡ newest-per-key over (all even-id rows) ∪
      // (odd-id rows of the touched event types): untouched partitions
      // keep their base rows, touched partitions get the upsert
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE event_id % 2 = 0
        |     OR (event_id % 2 = 1 AND LENGTH(event_type) % 2 = 0)
        |) WHERE rn = 1""".stripMargin,

    "q43_neardup_keepers_exact" ->
      // connected components over the exact 3-gram Jaccard >= 0.8 edge
      // set as a recursive min-label closure; keeper = component min id
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |),
        |sh AS (
        |  SELECT doc_id, UNNEST(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2), i -> array_to_string(t[i:i+2], ' ')))) AS shingle
        |  FROM toks
        |),
        |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
        |    FROM inter JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
        |  ) WHERE jaccard >= 0.8
        |),
        |edges AS (
        |  SELECT doc_a, doc_b FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
        |),
        |reach(doc_id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON r.doc_id = e.doc_b
        |)
        |SELECT doc_id, MIN(label) AS keeper_id, MIN(label) = doc_id AS is_keeper
        |FROM reach GROUP BY 1""".stripMargin,

    "q51_asof_price_join" ->
      // DuckDB's native ASOF LEFT JOIN — an independent implementation
      // of backward-inclusive as-of semantics checking ours
      s"""WITH $transfersCte, $pricesCte,
         |quotes AS (
         |  SELECT asset, date AS price_date, price FROM prices
         |  WHERE EXTRACT(DAY FROM date) % 3 = 0
         |)
         |SELECT t.asset, t.wallet, t.date, t.net_transfers, q.price_date, q.price
         |FROM transfers t ASOF LEFT JOIN quotes q
         |  ON t.asset = q.asset AND t.date >= q.price_date""".stripMargin,

    "q52_range_campaign_join" ->
      // the plain BETWEEN (theta-join) form — DuckDB's optimizer is
      // free to pick any strategy; result must equal the bin-bucketed
      // equi-join rewrite exactly
      """WITH campaigns AS (
        |  SELECT o_orderkey AS campaign_id,
        |    DATE '2024-01-01' + (((o_orderkey // 300) % 28)::INT) AS lo,
        |    DATE '2024-01-01' + (((o_orderkey // 300) % 28
        |                          + (o_orderkey // 300) % 7 + 1)::INT) AS hi
        |  FROM orders WHERE o_orderkey % 300 = 0
        |)
        |SELECT c.campaign_id,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  ROUND(SUM(e.value), 6) AS total_value
        |FROM events e JOIN campaigns c
        |  ON CAST(e.ts AS DATE) BETWEEN c.lo AND c.hi
        |GROUP BY c.campaign_id""".stripMargin,

    "q53_rollup_grains" ->
      """SELECT event_type, CAST(ts AS DATE) AS date,
        |  GROUPING_ID(event_type, CAST(ts AS DATE)) AS grain,
        |  COUNT(*) AS n_events,
        |  ROUND(SUM(value), 6) AS sum_value,
        |  ROUND(AVG(value), 6) AS avg_value
        |FROM events
        |GROUP BY ROLLUP(event_type, CAST(ts AS DATE))""".stripMargin,

    "q54_pivot_daily" ->
      """SELECT CAST(ts AS DATE) AS date,
        |  ROUND(SUM(CASE WHEN event_type = 'click'    THEN value END), 6) AS click,
        |  ROUND(SUM(CASE WHEN event_type = 'error'    THEN value END), 6) AS error,
        |  ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase,
        |  ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value END), 6) AS signup,
        |  ROUND(SUM(CASE WHEN event_type = 'view'     THEN value END), 6) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q55_stratified_sample" ->
      """SELECT event_id, event_type, user_id, ROUND(value, 6) AS value
        |FROM events
        |WHERE ((event_id % 1000003) * 2654435761 + (user_id % 1000003)) % 1000 <
        |  CASE event_type
        |    WHEN 'click' THEN 50 WHEN 'view' THEN 100 WHEN 'error' THEN 200
        |    WHEN 'purchase' THEN 500 WHEN 'signup' THEN 1000 ELSE 0 END""".stripMargin,

    "q57_window_suite" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
        |    ROUND(MAX(value), 6) AS price
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT asset, date, price,
        |  ROUND(LAG(price, 1) OVER w, 6) AS prev_price,
        |  ROUND(LEAD(price, 1) OVER w, 6) AS next_price,
        |  NTILE(4) OVER w AS quartile,
        |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        |  ROUND(CUME_DIST() OVER w, 6) AS cume,
        |  ROUND(FIRST_VALUE(price) OVER wrun, 6) AS first_price,
        |  ROUND(NTH_VALUE(price, 2) OVER wrun, 6) AS second_price
        |FROM daily
        |WINDOW
        |  w AS (PARTITION BY asset ORDER BY date),
        |  wrun AS (PARTITION BY asset ORDER BY date
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q58_doc_chunks" ->
      """SELECT d.doc_id,
        |  (s.start - 1) // 150 AS chunk_id,
        |  s.start AS chunk_start,
        |  SUBSTRING(d.text, s.start::INT, 200) AS chunk_text,
        |  LENGTH(SUBSTRING(d.text, s.start::INT, 200)) AS chunk_len
        |FROM documents d,
        |  UNNEST(GENERATE_SERIES(1, GREATEST(LENGTH(d.text), 1), 150)) AS s(start)""".stripMargin,

    "q59_shard_assign" ->
      """WITH s AS (
        |  SELECT doc_id, ((doc_id % 1000003) * 2654435761) % 1000000007 AS scramble
        |  FROM documents
        |)
        |SELECT doc_id, scramble, scramble % 8 AS shard,
        |  ROW_NUMBER() OVER (PARTITION BY scramble % 8
        |                     ORDER BY scramble, doc_id) AS pos
        |FROM s""".stripMargin,

    "q60_domain_cap" ->
      """SELECT doc_id, source, n_chars, quota_rank FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS quota_rank
        |  FROM documents
        |) WHERE quota_rank <= 5""".stripMargin,

    "q61_decontaminate" -> decontaminateSql,

    // q90 is the bloom-pruned path to the SAME pair set: the filter
    // only moves where non-matching train shingles die (scan-side
    // probe instead of the join), so the raw-shingle re-derivation is
    // the oracle for both — the q47/q48 shared-oracle pattern
    "q90_decontaminate_bloom" -> decontaminateSql,

    // q92's oracle re-derives the co-moment table through the pair
    // JOIN (vs the Spark side's in-row generation), sums the same
    // exact decimals over the same window, and evaluates the SAME
    // double formula in the same operation order — the decimal sums
    // are exact in both engines, so only the final few double ops
    // round, inside the 1e-6 margin
    "q92_corr_window" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS date, event_type AS asset,
        |    CAST(ROUND(MAX(value), 6) AS DECIMAL(18,6)) AS price
        |  FROM events GROUP BY 1, 2
        |),
        |pd AS (
        |  SELECT a.date, a.asset AS asset_a, b.asset AS asset_b,
        |    CAST(1 AS BIGINT) AS n, a.price AS sx, b.price AS sy,
        |    a.price * b.price AS sxy, a.price * a.price AS sxx, b.price * b.price AS syy
        |  FROM daily a JOIN daily b ON a.date = b.date AND a.asset < b.asset
        |),
        |win AS (
        |  SELECT d.date AS day, d.asset_a, d.asset_b,
        |    CAST(SUM(s.n) AS BIGINT) AS n_days,
        |    SUM(s.sx) AS sx, SUM(s.sy) AS sy, SUM(s.sxy) AS sxy,
        |    SUM(s.sxx) AS sxx, SUM(s.syy) AS syy
        |  FROM pd d JOIN pd s ON s.asset_a = d.asset_a AND s.asset_b = d.asset_b
        |    AND s.date BETWEEN d.date - 6 AND d.date
        |  GROUP BY 1, 2, 3
        |)
        |SELECT day, asset_a, asset_b, n_days,
        |  ROUND(CASE WHEN den = 0 THEN NULL ELSE num / den END, 6) AS corr7
        |FROM (
        |  SELECT day, asset_a, asset_b, n_days,
        |    CAST(n_days AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    sqrt(GREATEST(CAST(n_days AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
        |      * sqrt(GREATEST(CAST(n_days AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE), 0)) AS den
        |  FROM win
        |)""".stripMargin,

    // q91's doubles survive hash comparison because the priority is
    // one exact multiply + one correctly-rounded IEEE division — see
    // the operator scaladoc; no ROUND anywhere on purpose (both
    // engines produce identical bits, and rounding near 1e12 would
    // be below one ulp anyway)
    "q91_priority_sample" ->
      """WITH pr AS (
        |  SELECT doc_id, source, GREATEST(n_chars, 1) AS weight,
        |    CAST(GREATEST(n_chars, 1) AS DOUBLE) * 1000000
        |      / CAST(((doc_id % 1000003) * 2654435761) % 1000000 + 1 AS DOUBLE) AS priority
        |  FROM documents
        |),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY priority DESC, doc_id ASC) AS rk
        |  FROM pr
        |),
        |kept AS (SELECT * FROM ranked WHERE rk <= 11),
        |tau AS (
        |  SELECT source, CASE WHEN MAX(rk) = 11 THEN MIN(priority) END AS tau
        |  FROM kept GROUP BY 1
        |)
        |SELECT k.source, k.doc_id, k.weight, k.priority,
        |  COALESCE(GREATEST(CAST(k.weight AS DOUBLE), t.tau), CAST(k.weight AS DOUBLE)) AS est_weight
        |FROM kept k JOIN tau t USING (source)
        |WHERE k.rk <= 10""".stripMargin,

    "q62_budget_prefix" ->
      """WITH w AS (
        |  SELECT user_id AS wallet, COUNT(*) AS n_events,
        |    ROUND(SUM(value), 6) AS total_value
        |  FROM events GROUP BY 1
        |)
        |SELECT wallet, n_events, total_value,
        |  -- CAST: DuckDB widens windowed SUM(BIGINT) to HUGEINT
        |  CAST(SUM(n_events) OVER (ORDER BY n_events ASC, wallet ASC) AS BIGINT)
        |    AS records_running_total,
        |  SUM(n_events) OVER (ORDER BY n_events ASC, wallet ASC) <= 5000
        |    AS in_batch
        |FROM w""".stripMargin,

    "q63_label_centroids" ->
      """SELECT label, g.i - 1 AS dim,
        |  ROUND(AVG(embedding[g.i]), 6) AS centroid,
        |  COUNT(*) AS n_vectors
        |FROM embeddings,
        |  LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) g
        |GROUP BY 1, 2""".stripMargin,

    "q65_asof_forward_join" ->
      // DuckDB has no forward ASOF — evaluate the time-reversal
      // identity (forward on t ≡ backward on −t) with its native
      // backward ASOF on negated epoch days: an independent engine
      // checking the same identity the operator is built on
      s"""WITH $transfersCte, $pricesCte,
         |quotes AS (
         |  SELECT asset, date AS price_date, price FROM prices
         |  WHERE EXTRACT(DAY FROM date) % 3 = 0
         |),
         |tn AS (SELECT *, -(date - DATE '1970-01-01') AS negd FROM transfers),
         |qn AS (SELECT *, -(price_date - DATE '1970-01-01') AS negd FROM quotes)
         |SELECT tn.asset, tn.wallet, tn.date, tn.net_transfers,
         |  qn.price_date, qn.price
         |FROM tn ASOF LEFT JOIN qn
         |  ON tn.asset = qn.asset AND tn.negd >= qn.negd""".stripMargin,

    "q66_grouping_sets" ->
      """SELECT event_type, CAST(ts AS DATE) AS date,
        |  GROUPING_ID(event_type, CAST(ts AS DATE)) AS grain,
        |  COUNT(*) AS n_events,
        |  ROUND(SUM(value), 6) AS sum_value
        |FROM events
        |GROUP BY GROUPING SETS (
        |  (event_type, CAST(ts AS DATE)), (event_type), (CAST(ts AS DATE)))""".stripMargin,

    "q67_set_ops" ->
      """WITH u AS (
        |  SELECT event_type, user_id, CAST(ts AS DATE) AS day FROM events
        |),
        |engaged AS (
        |  SELECT user_id, day FROM u WHERE event_type = 'purchase'
        |  INTERSECT
        |  SELECT user_id, day FROM u WHERE event_type = 'view'
        |),
        |error_only AS (
        |  SELECT DISTINCT user_id, day FROM u WHERE event_type = 'error'
        |  EXCEPT SELECT user_id, day FROM u WHERE event_type = 'purchase'
        |  EXCEPT SELECT user_id, day FROM u WHERE event_type = 'view'
        |)
        |SELECT cohort, COUNT(*) AS n_user_days FROM (
        |  SELECT user_id, 'view_and_purchase_day' AS cohort FROM engaged
        |  UNION ALL
        |  SELECT user_id, 'error_only_day' AS cohort FROM error_only
        |) GROUP BY cohort""".stripMargin,

    "q68_priority_parse" ->
      """SELECT
        |  CAST(SPLIT_PART(o_orderpriority, '-', 1) AS INT) AS priority_rank,
        |  SPLIT_PART(o_orderpriority, '-', 2) AS priority_label,
        |  COUNT(*) AS n_orders,
        |  ROUND(SUM(o_totalprice), 2) AS total_price
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q69_twap" ->
      s"""WITH $pricesCte,
         |quotes AS (
         |  SELECT asset, date, price FROM prices
         |  WHERE EXTRACT(DAY FROM date) % 3 = 0
         |),
         |held AS (
         |  SELECT asset, price,
         |    CAST(COALESCE(LEAD(date) OVER (PARTITION BY asset ORDER BY date) - date,
         |                  1) AS BIGINT) AS hold_days
         |  FROM quotes
         |)
         |SELECT asset,
         |  ROUND(SUM(price * hold_days) / SUM(hold_days), 6) AS twap,
         |  COUNT(*) AS n_quotes,
         |  CAST(SUM(hold_days) AS BIGINT) AS days_covered
         |FROM held GROUP BY asset""".stripMargin,

    "q70_weekly_ohlc" ->
      s"""WITH $pricesCte
         |SELECT asset, CAST(date_trunc('week', date) AS DATE) AS week,
         |  ROUND(arg_min(price, date), 6) AS open,
         |  ROUND(MAX(price), 6) AS high,
         |  ROUND(MIN(price), 6) AS low,
         |  ROUND(arg_max(price, date), 6) AS close,
         |  COUNT(*) AS n_days
         |FROM prices GROUP BY 1, 2""".stripMargin,

    "q47_skew_join_salted" ->
      // planted hot key: 30% of rows remapped to wallet 0; the salted
      // and plain (q48) joins must both equal this plain-join rollup
      """WITH fact AS (
        |  SELECT CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id END AS wallet, value
        |  FROM events
        |),
        |dim AS (SELECT DISTINCT wallet, wallet % 7 AS tier FROM fact)
        |SELECT tier, COUNT(*) AS n_rows, ROUND(SUM(value), 6) AS total_value
        |FROM fact JOIN dim USING (wallet)
        |GROUP BY tier""".stripMargin,

    "q71_quality_checks" ->
      s"""WITH $transfersCte, $balancesCte, $pricesCte,
         |latest AS (
         |  SELECT * FROM (
         |    SELECT b.*, ROW_NUMBER() OVER (
         |      PARTITION BY asset, wallet ORDER BY date DESC) AS rn
         |    FROM balances b) WHERE rn = 1
         |),
         |supply AS (
         |  SELECT asset AS s_asset,
         |         SUM(CASE WHEN net_transfers > 0 THEN net_transfers ELSE 0 END) AS total_supply
         |  FROM transfers GROUP BY 1
         |)
         |SELECT 'balance_negative' AS rule, COUNT(*) AS n_violations
         |FROM balances WHERE balance < -0.1
         |UNION ALL
         |SELECT 'balance_over_supply', COUNT(*)
         |FROM latest l JOIN supply s ON s.s_asset = l.asset
         |WHERE l.balance > s.total_supply
         |UNION ALL
         |SELECT 'orders_customer_fk', COUNT(*)
         |FROM orders o WHERE NOT EXISTS (
         |  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         |UNION ALL
         |SELECT 'price_date_gaps', COUNT(*) FROM (
         |  SELECT asset FROM prices GROUP BY asset
         |  HAVING DATE_DIFF('day', MIN(date), MAX(date)) + 1 <> COUNT(DISTINCT date))
         |UNION ALL
         |SELECT 'discount_in_range', COUNT(*)
         |FROM lineitem WHERE l_discount < 0 OR l_discount > 1
         |UNION ALL
         |SELECT 'sequence_increasing', COUNT(*) FROM (
         |  SELECT transfer_sequence, LAG(transfer_sequence) OVER (
         |    PARTITION BY asset, wallet ORDER BY date) AS prev
         |  FROM balances)
         |WHERE prev IS NOT NULL AND transfer_sequence <= prev
         |UNION ALL
         |SELECT 'transfers_unique_key', COUNT(*) FROM (
         |  SELECT asset, wallet, date FROM transfers
         |  GROUP BY 1, 2, 3 HAVING COUNT(*) > 1)""".stripMargin,

    "q72_quality_gopher" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(t) AS n_words,
        |    CAST(list_sum(list_transform(t, w -> len(w))) AS BIGINT) AS chars,
        |    len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
        |    len(list_filter(t, w -> NOT regexp_matches(w, '[A-Za-z0-9]'))) AS sym_words,
        |    len(list_intersect(list_distinct(t),
        |      ['the','a','an','and','or','of','to','in','is','it'])) AS stop_hits
        |  FROM t
        |)
        |SELECT doc_id, n_words,
        |  (chars * 100) // greatest(n_words, 1) AS mean_word_len_x100,
        |  (alpha_words * 1000000) // greatest(n_words, 1) AS alpha_word_ppm,
        |  (sym_words * 1000000) // greatest(n_words, 1) AS symbol_word_ppm,
        |  stop_hits,
        |  (n_words BETWEEN 50 AND 100000)
        |    AND ((chars * 100) // greatest(n_words, 1) BETWEEN 300 AND 1000)
        |    AND (alpha_words * 1000000) // greatest(n_words, 1) >= 800000
        |    AND stop_hits >= 2 AS keep
        |FROM m""".stripMargin,

    "q73_repetition_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2
        |),
        |g AS (
        |  SELECT doc_id, UNNEST(list_transform(
        |    generate_series(1, len(t) - 1), i -> array_to_string(t[i:i+1], ' '))) AS gram
        |  FROM toks
        |),
        |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS total_2grams,
        |    COUNT(*) AS distinct_2grams,
        |    CAST(MAX(c) AS BIGINT) AS top_2gram_count
        |  FROM gc GROUP BY doc_id
        |)
        |SELECT doc_id, total_2grams, distinct_2grams, top_2gram_count,
        |  ((total_2grams - distinct_2grams) * 1000000) // total_2grams AS dup_2gram_ppm,
        |  (top_2gram_count * 1000000) // total_2grams AS top_2gram_ppm,
        |  ((top_2gram_count * 1000000) // total_2grams) > 180000
        |    OR (((total_2grams - distinct_2grams) * 1000000) // total_2grams) > 300000
        |    AS repetitive
        |FROM agg""".stripMargin,

    "q79_gap_fill_weekly" ->
      s"""WITH $pricesCte,
         |weekly AS (
         |  SELECT asset, CAST(date_trunc('week', date) AS DATE) AS week,
         |         ROUND(arg_max(price, date), 6) AS close
         |  FROM prices GROUP BY 1, 2
         |),
         |kept AS (
         |  SELECT * FROM weekly
         |  WHERE (DATE_PART('day', week) + LENGTH(asset)) % 3 != 0
         |),
         |bounds AS (SELECT asset, MIN(week) AS d0 FROM kept GROUP BY 1),
         |maxd AS (SELECT MAX(week) AS d1 FROM kept),
         |cal AS (
         |  SELECT b.asset, CAST(UNNEST(GENERATE_SERIES(b.d0, (SELECT d1 FROM maxd), INTERVAL 7 DAY)) AS DATE) AS week
         |  FROM bounds b
         |),
         |joined AS (
         |  SELECT c.asset, c.week, k.close
         |  FROM cal c LEFT JOIN kept k ON k.asset = c.asset AND k.week = c.week
         |),
         |lagged AS (
         |  SELECT *, LAG(close) OVER (PARTITION BY asset ORDER BY week) AS prev_close
         |  FROM joined
         |),
         |grp AS (
         |  SELECT *,
         |    SUM(CASE WHEN close IS NOT NULL OR prev_close IS NOT NULL
         |        THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY asset ORDER BY week) AS igrp
         |  FROM lagged
         |)
         |SELECT asset, week,
         |  LAST_VALUE(close IGNORE NULLS) OVER
         |    (PARTITION BY asset ORDER BY week ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close,
         |  CASE WHEN close IS NULL
         |       THEN ROW_NUMBER() OVER (PARTITION BY asset, igrp ORDER BY week) END AS periods_imputed
         |FROM grp""".stripMargin,

    "q80_publish_roundtrip" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY source""".stripMargin,

    "q81_heavy_hitters" ->
      """SELECT event_type, user_id, cnt, rk FROM (
        |  SELECT event_type, user_id, COUNT(*) AS cnt,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY COUNT(*) DESC, user_id ASC) AS rk
        |  FROM events GROUP BY 1, 2)
        |WHERE rk <= 5""".stripMargin,

    "q83_graph_distance" ->
      """WITH RECURSIVE edges AS (
        |  SELECT DISTINCT 'c:' || o_custkey AS src, 's:' || l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |),
        |und AS (
        |  SELECT src, dst FROM edges
        |  UNION SELECT dst AS src, src AS dst FROM edges
        |),
        |bfs(node, dist) AS (
        |  SELECT 'c:' || c_custkey, 0 FROM customer WHERE c_custkey % 50 = 0
        |  UNION
        |  SELECT u.dst, b.dist + 1
        |  FROM bfs b JOIN und u ON u.src = b.node
        |  WHERE b.dist < 4
        |)
        |SELECT node, CAST(MIN(dist) AS INT) AS dist FROM bfs GROUP BY node""".stripMargin,

    "q84_pagerank" -> pageRankSql,

    // q85's oracle states the SEMANTICS (users active in the trailing
    // 7 days, per observed day) in the quadratic day×pair form the
    // Spark side exists to avoid — small here, the point at scale
    "q85_rolling_distinct" ->
      """WITH pairs AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |),
        |days AS (SELECT DISTINCT day FROM pairs)
        |SELECT d.day, COUNT(DISTINCT p.user_id) AS users_7d
        |FROM days d JOIN pairs p ON p.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1""".stripMargin,

    // q88's oracle re-derives the matrix independently: FILTER-clause
    // conditional aggregation stands in for Spark's pivot, the
    // listwise-complete filter is the explicit NOT NULL conjunction,
    // and the unpivot is a UNION ALL over the same (i<j) pair list the
    // Spark side enumerates — both sides round values at 1e-6 before
    // corr/covar and round the cells at 1e-6 after (measured
    // cross-engine disagreement ~1e-10, the q76 margin posture).
    "q88_corr_matrix" -> {
      val assets = Seq("click", "error", "purchase", "signup", "view")
      val pivot = assets.map(a =>
        s"""ROUND(MAX(value) FILTER (WHERE event_type = '$a'), 6) AS "$a"""")
        .mkString(",\n    ")
      val notNull = assets.map(a => s""""$a" IS NOT NULL""").mkString(" AND ")
      val pairs = for {
        i <- assets.indices; j <- (i + 1) until assets.size
      } yield (assets(i), assets(j))
      val cells = pairs.map { case (a, b) =>
        s"""ROUND(corr("$a", "$b"), 6) AS c_${a}_${b},
           |    ROUND(covar_samp("$a", "$b"), 6) AS v_${a}_${b}""".stripMargin }
        .mkString(",\n    ")
      val unpivot = pairs.map { case (a, b) =>
        s"SELECT '$a' AS asset_a, '$b' AS asset_b, n_days, " +
          s"c_${a}_${b} AS price_corr, v_${a}_${b} AS price_cov FROM m" }
        .mkString("\nUNION ALL\n")
      s"""WITH wide AS (
         |  SELECT CAST(ts AS DATE) AS date,
         |    $pivot
         |  FROM events GROUP BY 1
         |),
         |m AS (
         |  SELECT COUNT(*) AS n_days,
         |    $cells
         |  FROM wide WHERE $notNull
         |)
         |$unpivot""".stripMargin
    },

    // q89's oracle re-derives the pairwise matrix through the JOIN
    // form the Spark side specifically avoids — a genuinely
    // independent path to the same cells (and the q37 oracle plus a
    // covariance column)
    "q89_corr_matrix_unbounded" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date, ROUND(MAX(value), 6) AS price
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT a.asset AS asset_a, b.asset AS asset_b,
        |  COUNT(*) AS n_days,
        |  ROUND(corr(a.price, b.price), 6) AS price_corr,
        |  ROUND(covar_samp(a.price, b.price), 6) AS price_cov
        |FROM daily a JOIN daily b ON a.date = b.date AND a.asset < b.asset
        |GROUP BY 1, 2""".stripMargin,

    "q78_curation_pipeline" ->
      """WITH keepers AS (
        |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        |),
        |deduped AS (
        |  SELECT d.* FROM documents d JOIN keepers k ON k.doc_id = d.doc_id
        |),
        |gates AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, len(t) AS n_words,
        |      CAST(list_sum(list_transform(t, w -> len(w))) AS BIGINT) AS chars,
        |      len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
        |      len(list_intersect(list_distinct(t),
        |        ['the','a','an','and','or','of','to','in','is','it'])) AS stop_hits
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM deduped)
        |  )
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND (chars * 100) // greatest(n_words, 1) BETWEEN 300 AND 1000
        |    AND (alpha_words * 1000000) // greatest(n_words, 1) >= 800000
        |    AND stop_hits >= 2
        |),
        |gc AS (
        |  SELECT doc_id, gram, COUNT(*) AS c FROM (
        |    SELECT doc_id, UNNEST(list_transform(
        |      generate_series(1, len(t) - 1), i -> array_to_string(t[i:i+1], ' '))) AS gram
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM deduped
        |          WHERE len(string_split(text, ' ')) >= 2)
        |  ) GROUP BY 1, 2
        |),
        |rep AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS tot, COUNT(*) AS dis,
        |           CAST(MAX(c) AS BIGINT) AS top
        |    FROM gc GROUP BY 1)
        |  WHERE (top * 1000000) // tot > 180000
        |     OR ((tot - dis) * 1000000) // tot > 300000
        |),
        |gated AS (
        |  SELECT d.* FROM deduped d
        |  JOIN gates g ON g.doc_id = d.doc_id
        |  WHERE NOT EXISTS (SELECT 1 FROM rep r WHERE r.doc_id = d.doc_id)
        |),
        |scored AS (
        |  SELECT doc_id,
        |    (4 * alpha_ppm + 3 * stopword_ppm
        |      + 2 * (1000000 - digit_ppm) + (1000000 - punct_ppm)) // 10 AS quality_score_ppm
        |  FROM (
        |    SELECT doc_id,
        |      (len(regexp_extract_all(text, '[A-Za-z]')) * 1000000) // GREATEST(LENGTH(text), 1) AS alpha_ppm,
        |      (len(regexp_extract_all(text, '[0-9]')) * 1000000) // GREATEST(LENGTH(text), 1) AS digit_ppm,
        |      (len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) * 1000000) // GREATEST(LENGTH(text), 1) AS punct_ppm,
        |      (len(list_filter(string_split(text, ' '),
        |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000)
        |        // GREATEST(len(string_split(text, ' ')), 1) AS stopword_ppm
        |    FROM gated
        |  )
        |)
        |SELECT doc_id, source, quality_score_ppm,
        |  CAST(((doc_id % 1000003) * 2654435761) % 8 AS INT) AS shard
        |FROM (
        |  SELECT g.doc_id, g.source, s.quality_score_ppm,
        |    ROW_NUMBER() OVER (PARTITION BY g.source
        |      ORDER BY s.quality_score_ppm DESC, g.doc_id ASC) AS rk
        |  FROM gated g JOIN scored s ON s.doc_id = g.doc_id
        |)
        |WHERE rk <= 15""".stripMargin,

    "q77_profit_reconciliation" ->
      s"""SELECT asset, COUNT(*) AS n_rows,
         |  COUNT(prev_usd) AS n_checked,
         |  CAST(SUM(CASE WHEN prev_usd IS NOT NULL
         |    AND ABS(usd_balance - ((prev_usd + usd_net_transfers) + profits_change)) > 0.01
         |    AND ABS(usd_balance - ((prev_usd + usd_net_transfers) + profits_change)) >
         |        0.0001 * ABS((prev_usd + usd_net_transfers) + profits_change)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
         |FROM (
         |  SELECT asset, wallet, usd_balance, usd_net_transfers, profits_change,
         |         LAG(usd_balance) OVER (PARTITION BY asset, wallet ORDER BY date) AS prev_usd
         |  FROM ($walletProfitsSql)
         |)
         |GROUP BY asset""".stripMargin,

    "q76_outlier_scan" ->
      s"""WITH $transfersCte,
         |s AS (
         |  SELECT asset, AVG(net_transfers) AS m, STDDEV_SAMP(net_transfers) AS sd
         |  FROM transfers GROUP BY 1
         |)
         |SELECT t.asset, t.wallet, t.date,
         |  ROUND(t.net_transfers, 6) AS net_transfers,
         |  ROUND(s.m, 6) AS group_mean,
         |  ROUND(s.sd, 6) AS group_stddev
         |FROM transfers t JOIN s USING (asset)
         |WHERE s.sd IS NOT NULL AND s.sd > 0
         |  AND ABS(t.net_transfers - s.m) > 3.0 * s.sd""".stripMargin,

    "q74_budget_mixture" ->
      """WITH tot AS (
        |  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS tot
        |  FROM documents GROUP BY 1
        |),
        |r AS (
        |  SELECT source, LEAST(1000000, (CAST(5000 AS BIGINT) * 1000000) // tot) AS rate_ppm
        |  FROM tot
        |)
        |SELECT d.doc_id, d.source, d.n_chars, r.rate_ppm
        |FROM documents d JOIN r USING (source)
        |WHERE ((d.doc_id % 1000003) * 2654435761) % 1000000 < r.rate_ppm""".stripMargin,

    "q93_scd2_history" ->
      """WITH closing AS (
        |  SELECT user_id AS wallet, date, value FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS date, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                         ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1
        |),
        |tiers AS (
        |  SELECT wallet, date,
        |    CASE WHEN value < 25 THEN 'low'
        |         WHEN value < 75 THEN 'mid'
        |         ELSE 'high' END AS tier
        |  FROM closing
        |),
        |changed AS (
        |  SELECT wallet, date, tier FROM (
        |    SELECT wallet, date, tier,
        |      LAG(tier) OVER (PARTITION BY wallet ORDER BY date) AS prev_tier
        |    FROM tiers)
        |  WHERE prev_tier IS NULL OR tier <> prev_tier
        |)
        |SELECT wallet,
        |  ROW_NUMBER() OVER (PARTITION BY wallet ORDER BY date) AS version,
        |  tier,
        |  date AS valid_from,
        |  LEAD(date) OVER (PARTITION BY wallet ORDER BY date) AS valid_to,
        |  LEAD(date) OVER (PARTITION BY wallet ORDER BY date) IS NULL AS is_current
        |FROM changed""".stripMargin,

    "q94_snapshot_diff" ->
      """WITH old_snap AS (
        |  SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
        |  FROM events WHERE event_id % 2 = 0 AND user_id % 50 <> 3 GROUP BY 1
        |),
        |new_snap AS (
        |  SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 6) AS total_value
        |  FROM events WHERE user_id % 50 <> 7 GROUP BY 1
        |),
        |j AS (
        |  SELECT COALESCE(o.user_id, n.user_id) AS user_id,
        |    o.user_id IS NOT NULL AS in_old, n.user_id IS NOT NULL AS in_new,
        |    o.n_events AS old_n_events, n.n_events AS new_n_events,
        |    o.total_value AS old_total_value, n.total_value AS new_total_value
        |  FROM old_snap o FULL OUTER JOIN new_snap n ON o.user_id = n.user_id
        |)
        |SELECT user_id,
        |  CASE WHEN NOT in_old THEN 'insert'
        |       WHEN NOT in_new THEN 'delete'
        |       ELSE 'update' END AS change_type,
        |  old_n_events, new_n_events, old_total_value, new_total_value
        |FROM j
        |WHERE NOT in_old OR NOT in_new
        |   OR old_n_events IS DISTINCT FROM new_n_events
        |   OR old_total_value IS DISTINCT FROM new_total_value""".stripMargin,

    "q95_drawdown" ->
      s"""WITH $pricesCte,
         |run AS (
         |  SELECT asset, date, price,
         |    MAX(price) OVER (PARTITION BY asset ORDER BY date
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
         |  FROM prices
         |),
         |dd AS (
         |  SELECT asset, date, price, peak,
         |    ROUND((peak - price) / peak, 6) AS dd
         |  FROM run
         |)
         |SELECT asset, dd AS max_drawdown, date AS trough_date,
         |  peak AS peak_price, price AS trough_price
         |FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY asset
         |    ORDER BY dd DESC, date ASC) AS rk
         |  FROM dd)
         |WHERE rk = 1""".stripMargin,

    "q96_rolling_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type AS asset, CAST(ts AS DATE) AS date,
        |         CAST(ROUND(MAX(value), 6) AS DECIMAL(18,6)) AS price
        |  FROM events GROUP BY 1, 2
        |),
        |di AS (
        |  SELECT asset, date, price, date - DATE '1970-01-01' AS day_i FROM daily
        |),
        |win AS (
        |  SELECT asset, date, price,
        |    COUNT(*) OVER w AS n_window,
        |    SUM(price) OVER w AS sx,
        |    SUM(price * price) OVER w AS sxx
        |  FROM di
        |  WINDOW w AS (PARTITION BY asset ORDER BY day_i
        |               RANGE BETWEEN 27 PRECEDING AND CURRENT ROW)
        |),
        |calc AS (
        |  SELECT asset, date, CAST(price AS DOUBLE) AS pd, n_window,
        |    CAST(sx AS DOUBLE) / n_window AS mean,
        |    SQRT(GREATEST(
        |      (n_window * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        / (n_window * (n_window - 1.0)), 0.0)) AS sd
        |  FROM win WHERE n_window >= 8
        |)
        |SELECT asset, date, pd AS price, n_window,
        |  ROUND(mean, 6) AS mean_28d,
        |  ROUND(sd, 6) AS stddev_28d,
        |  ROUND((pd - mean) / NULLIF(sd, 0), 6) AS zscore,
        |  ABS(ROUND((pd - mean) / NULLIF(sd, 0), 6)) > 3.0 AS is_anomaly
        |FROM calc""".stripMargin,

    "q97_ivm_aggregate" ->
      """WITH new_snap AS (
        |  SELECT user_id, COUNT(*) AS n_events,
        |         SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS total_value
        |  FROM events WHERE user_id % 50 <> 7 GROUP BY 1
        |),
        |tiered AS (
        |  SELECT CASE WHEN n_events < 60 THEN 'small'
        |              WHEN n_events < 72 THEN 'mid'
        |              ELSE 'large' END AS tier,
        |         n_events, total_value
        |  FROM new_snap
        |)
        |SELECT tier, COUNT(*) AS n_users,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events,
        |  CAST(SUM(total_value) AS DOUBLE) AS total_value
        |FROM tiered GROUP BY tier""".stripMargin,

    "q98_interval_allocation" ->
      """WITH closing AS (
        |  SELECT user_id AS wallet, date, value FROM (
        |    SELECT user_id, CAST(ts AS DATE) AS date, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                         ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1
        |),
        |tiers0 AS (
        |  SELECT wallet, date,
        |    CASE WHEN value < 25 THEN 'low'
        |         WHEN value < 75 THEN 'mid'
        |         ELSE 'high' END AS tier
        |  FROM closing
        |),
        |changed AS (
        |  SELECT wallet, date, tier FROM (
        |    SELECT wallet, date, tier,
        |      LAG(tier) OVER (PARTITION BY wallet ORDER BY date) AS prev_tier
        |    FROM tiers0)
        |  WHERE prev_tier IS NULL OR tier <> prev_tier
        |),
        |hist AS (
        |  SELECT wallet, tier, date AS valid_from,
        |    LEAD(date) OVER (PARTITION BY wallet ORDER BY date) AS valid_to
        |  FROM changed
        |),
        |maxd AS (SELECT MAX(CAST(ts AS DATE)) AS max_date FROM events),
        |t AS (
        |  SELECT wallet, tier,
        |    CAST(valid_from - DATE '1970-01-01' AS BIGINT) AS t_lo,
        |    CAST(COALESCE(valid_to, (SELECT max_date FROM maxd) + 1)
        |         - DATE '1970-01-01' AS BIGINT) - 1 AS t_hi
        |  FROM hist
        |),
        |c AS (
        |  SELECT o_orderkey AS campaign_id,
        |    CAST(DATE '2024-01-01' + (((o_orderkey // 300) % 28)::INT)
        |         - DATE '1970-01-01' AS BIGINT) AS c_lo,
        |    CAST(DATE '2024-01-01' + (((o_orderkey // 300) % 28
        |                               + (o_orderkey // 300) % 7 + 1)::INT)
        |         - DATE '1970-01-01' AS BIGINT) AS c_hi
        |  FROM orders WHERE o_orderkey % 300 = 0
        |),
        |p AS (
        |  SELECT c.campaign_id, t.tier,
        |    LEAST(t.t_hi, c.c_hi) - GREATEST(t.t_lo, c.c_lo) + 1 AS od
        |  FROM t JOIN c ON t.t_lo <= c.c_hi AND c.c_lo <= t.t_hi
        |),
        |a AS (
        |  SELECT campaign_id, tier, COUNT(*) AS n_intervals,
        |    CAST(SUM(od) AS BIGINT) AS overlap_days
        |  FROM p GROUP BY 1, 2
        |)
        |SELECT campaign_id, tier, n_intervals, overlap_days,
        |  ((campaign_id % 7 + 1) * 1000 * overlap_days * 1000)
        |    // CAST(SUM(overlap_days) OVER (PARTITION BY campaign_id) AS BIGINT)
        |    AS allocated_milli
        |FROM a""".stripMargin,

    "q99_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0 THEN ' mail u' || CAST(doc_id AS VARCHAR)
        |         || '@ex' || CAST(doc_id % 10 AS VARCHAR) || '.org' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN ' call 415-'
        |         || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
        |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN ' host 10.'
        |         || CAST(doc_id % 256 AS VARCHAR) || '.0.'
        |         || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0 THEN ' ver 1.2 by a@b desk' ELSE '' END
        |    AS t0
        |  FROM documents
        |),
        |s1 AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |    regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
        |  FROM planted
        |),
        |s2 AS (
        |  SELECT doc_id, n_email,
        |    len(regexp_extract_all(t1, '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
        |    regexp_replace(t1, '\b\d{3}-\d{3}-\d{4}\b', '[PHONE]', 'g') AS t2
        |  FROM s1
        |),
        |s3 AS (
        |  SELECT doc_id, n_email, n_phone,
        |    len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        |    regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS clean_text
        |  FROM s2
        |)
        |SELECT doc_id, n_email, n_phone, n_ipv4, clean_text,
        |  (n_email > 0 OR n_phone > 0 OR n_ipv4 > 0) AS has_pii
        |FROM s3""".stripMargin,

    "q100_zorder_prune" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 3 AND 7
        |  AND value >= 20.0 AND value <= 80.0
        |GROUP BY event_type""".stripMargin,

    "q101_bloom_lookup" ->
      """SELECT event_id, event_type, user_id, value
        |FROM events
        |WHERE event_id IN (5, 123, 456)""".stripMargin,

    "q102_funnel_instances" ->
      """WITH a AS (
        |  SELECT event_id AS anchor_id, user_id, CAST(ts AS TIMESTAMP) AS t0
        |  FROM events WHERE event_type = 'signup'
        |),
        |s1 AS (
        |  SELECT a.anchor_id, MIN(CAST(v.ts AS TIMESTAMP)) AS t1raw
        |  FROM a JOIN events v
        |    ON v.user_id = a.user_id AND v.event_type = 'view'
        |   AND CAST(v.ts AS TIMESTAMP) > a.t0
        |  GROUP BY 1
        |),
        |w1 AS (
        |  SELECT a.anchor_id, a.user_id, a.t0,
        |    CASE WHEN date_diff('microseconds', t0, t1raw) <= 259200000000
        |         THEN t1raw END AS t1
        |  FROM a LEFT JOIN s1 USING (anchor_id)
        |),
        |s2 AS (
        |  SELECT w1.anchor_id, MIN(CAST(p.ts AS TIMESTAMP)) AS t2raw
        |  FROM w1 JOIN events p
        |    ON p.user_id = w1.user_id AND p.event_type = 'purchase'
        |   AND CAST(p.ts AS TIMESTAMP) > w1.t1
        |  WHERE w1.t1 IS NOT NULL
        |  GROUP BY 1
        |),
        |w2 AS (
        |  SELECT w1.*,
        |    CASE WHEN date_diff('microseconds', t1, t2raw) <= 604800000000
        |         THEN t2raw END AS t2
        |  FROM w1 LEFT JOIN s2 USING (anchor_id)
        |)
        |SELECT anchor_id, user_id, t0, t1, t2,
        |  date_diff('microseconds', t0, t1) AS dur01_us,
        |  date_diff('microseconds', t1, t2) AS dur12_us,
        |  CAST(1 + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS steps_done
        |FROM w2""".stripMargin,

    "q103_zorder_quantile" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 10 AND 20
        |  AND value >= 30.0 AND value <= 60.0
        |GROUP BY event_type""".stripMargin,

    "q104_compact_roundtrip" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type""".stripMargin,

    "q105_incremental_compact" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  ROUND(MIN(value), 6) AS min_value,
        |  ROUND(MAX(value), 6) AS max_value,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type""".stripMargin,

    "q106_stats_prune" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-17 00:00:00'
        |GROUP BY event_type""".stripMargin,

    "q107_funnel_measures" ->
      """WITH a AS (
        |  SELECT event_id AS anchor_id, user_id, CAST(ts AS TIMESTAMP) AS t0
        |  FROM events WHERE event_type = 'signup'
        |),
        |c AS (
        |  SELECT a.anchor_id, MIN(CAST(p.ts AS TIMESTAMP)) AS tcraw
        |  FROM a JOIN events p
        |    ON p.user_id = a.user_id AND p.event_type = 'purchase'
        |   AND CAST(p.ts AS TIMESTAMP) > a.t0
        |  GROUP BY 1
        |),
        |m AS (
        |  SELECT a.anchor_id, a.user_id, a.t0,
        |    CASE WHEN date_diff('microseconds', t0, tcraw) <= 864000000000
        |         THEN tcraw END AS tc
        |  FROM a LEFT JOIN c USING (anchor_id)
        |),
        |v AS (
        |  SELECT m.anchor_id, COUNT(*) AS n,
        |    MIN(CAST(v.ts AS TIMESTAMP)) AS f, MAX(CAST(v.ts AS TIMESTAMP)) AS l
        |  FROM m JOIN events v
        |    ON v.user_id = m.user_id AND v.event_type = 'view'
        |   AND CAST(v.ts AS TIMESTAMP) > m.t0 AND CAST(v.ts AS TIMESTAMP) < m.tc
        |  WHERE m.tc IS NOT NULL
        |  GROUP BY 1
        |)
        |SELECT m.anchor_id, m.user_id, m.t0, m.tc,
        |  CASE WHEN m.tc IS NOT NULL THEN COALESCE(v.n, 0) END AS views_between,
        |  v.f AS first_view, v.l AS last_view
        |FROM m LEFT JOIN v USING (anchor_id)""".stripMargin,

    "q108_declared_range_join" ->
      """WITH w AS (
        |  SELECT user_id AS wallet,
        |    CAST(MIN(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT) AS w_lo,
        |    CAST(MAX(CAST(ts AS DATE)) - DATE '1970-01-01' AS BIGINT) AS w_hi
        |  FROM events GROUP BY 1
        |),
        |c AS (
        |  SELECT o_orderkey AS campaign_id,
        |    CAST(DATE '2024-01-01' + (((o_orderkey // 300) % 28)::INT)
        |         - DATE '1970-01-01' AS BIGINT) AS c_lo,
        |    CAST(DATE '2024-01-01' + (((o_orderkey // 300) % 28
        |                               + (o_orderkey // 300) % 7 + 1)::INT)
        |         - DATE '1970-01-01' AS BIGINT) AS c_hi
        |  FROM orders WHERE o_orderkey % 300 = 0
        |)
        |SELECT campaign_id, COUNT(*) AS n_wallets,
        |  CAST(SUM(LEAST(w_hi, c_hi) - GREATEST(w_lo, c_lo) + 1) AS BIGINT)
        |    AS overlap_days
        |FROM w JOIN c ON w.w_lo <= c.c_hi AND c.c_lo <= w.w_hi
        |GROUP BY campaign_id""".stripMargin,

    "q109_kmv_overlap" ->
      """WITH base AS (
        |  SELECT CAST(substring(source, 4) AS INT) AS i, text FROM documents
        |),
        |m AS (
        |  SELECT 'A' AS set_id, text FROM base WHERE i < 10
        |  UNION ALL SELECT 'B', text FROM base WHERE i >= 5 AND i < 15
        |  UNION ALL SELECT 'C', text FROM base WHERE i >= 10
        |),
        |hs AS (
        |  SELECT DISTINCT set_id,
        |    ('0x' || substring(md5(text), 1, 15))::BIGINT AS h
        |  FROM m
        |),
        |sk AS (
        |  SELECT set_id, h,
        |    row_number() OVER (PARTITION BY set_id ORDER BY h) AS rk
        |  FROM hs QUALIFY rk <= 64
        |),
        |p AS (
        |  SELECT a.set_id AS set_a, b.set_id AS set_b
        |  FROM (SELECT DISTINCT set_id FROM sk) a
        |  JOIN (SELECT DISTINCT set_id FROM sk) b ON a.set_id < b.set_id
        |),
        |u0 AS (
        |  SELECT p.set_a, p.set_b, s.h, 1 AS in_a, 0 AS in_b
        |  FROM p JOIN sk s ON s.set_id = p.set_a
        |  UNION ALL
        |  SELECT p.set_a, p.set_b, s.h, 0, 1
        |  FROM p JOIN sk s ON s.set_id = p.set_b
        |),
        |u AS (
        |  SELECT set_a, set_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
        |  FROM u0 GROUP BY 1, 2, 3
        |),
        |ku AS (
        |  SELECT *, row_number() OVER (PARTITION BY set_a, set_b ORDER BY h) AS rk
        |  FROM u QUALIFY rk <= 64
        |),
        |agg AS (
        |  SELECT set_a, set_b, COUNT(*) AS n_kept,
        |    MAX(CASE WHEN rk = 64 THEN h END) AS hk,
        |    CAST(SUM(in_a * in_b) AS BIGINT) AS n_common
        |  FROM ku GROUP BY 1, 2
        |)
        |SELECT set_a, set_b, n_common,
        |  ROUND(CAST(n_common AS DOUBLE) / CAST(n_kept AS DOUBLE), 6) AS jaccard_est,
        |  ROUND(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |        ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END, 6)
        |    AS est_union,
        |  ROUND((CAST(n_common AS DOUBLE) / CAST(n_kept AS DOUBLE)) *
        |        (CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
        |         ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END), 6)
        |    AS est_intersection
        |FROM agg""".stripMargin,

    "q110_stats_maintenance" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE value >= 20.0 AND value <= 60.0
        |GROUP BY event_type""".stripMargin,

    "q111_label_screen" ->
      """WITH cdim AS (
        |  SELECT label AS cand, g.i AS i, ROUND(AVG(embedding[g.i]), 6) AS c
        |  FROM embeddings,
        |    LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) g
        |  GROUP BY 1, 2
        |),
        |cent AS (
        |  SELECT cand, list(c ORDER BY i) AS cv FROM cdim GROUP BY 1
        |),
        |centc AS (
        |  SELECT cand, cv, list_dot_product(cv, cv) AS cc FROM cent
        |),
        |x AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |  FROM embeddings
        |),
        |xx AS (
        |  SELECT vec_id, label, xd, list_dot_product(xd, xd) AS xx FROM x
        |),
        |scored AS (
        |  SELECT xx.vec_id, xx.label, centc.cand,
        |    xx.xx - 2.0 * list_dot_product(xx.xd, centc.cv) + centc.cc AS score
        |  FROM xx CROSS JOIN centc
        |),
        |pred AS (
        |  SELECT vec_id, label, cand AS pred_label,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY score, cand) AS rk
        |  FROM scored QUALIFY rk = 1
        |)
        |SELECT label, pred_label, COUNT(*) AS n
        |FROM pred GROUP BY 1, 2""".stripMargin,

    "q112_zorder3_prune" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 5 AND 40
        |  AND value >= 25.0 AND value <= 75.0
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type""".stripMargin,

    "q113_funnel_alternation" ->
      """WITH a AS (
        |  SELECT event_id AS anchor_id, user_id, CAST(ts AS TIMESTAMP) AS t0
        |  FROM events WHERE event_type = 'signup'
        |),
        |s1 AS (
        |  SELECT a.anchor_id, MIN(CAST(v.ts AS TIMESTAMP)) AS t1raw
        |  FROM a JOIN events v
        |    ON v.user_id = a.user_id AND v.event_type IN ('view', 'purchase')
        |   AND CAST(v.ts AS TIMESTAMP) > a.t0
        |  GROUP BY 1
        |),
        |w1 AS (
        |  SELECT a.anchor_id, a.user_id, a.t0,
        |    CASE WHEN date_diff('microseconds', t0, t1raw) <= 259200000000
        |         THEN t1raw END AS t1
        |  FROM a LEFT JOIN s1 USING (anchor_id)
        |),
        |s2 AS (
        |  SELECT w1.anchor_id, MIN(CAST(p.ts AS TIMESTAMP)) AS t2raw
        |  FROM w1 JOIN events p
        |    ON p.user_id = w1.user_id AND p.event_type = 'purchase'
        |   AND CAST(p.ts AS TIMESTAMP) > w1.t1
        |  WHERE w1.t1 IS NOT NULL
        |  GROUP BY 1
        |),
        |w2 AS (
        |  SELECT w1.*,
        |    CASE WHEN date_diff('microseconds', t1, t2raw) <= 604800000000
        |         THEN t2raw END AS t2
        |  FROM w1 LEFT JOIN s2 USING (anchor_id)
        |)
        |SELECT anchor_id, user_id, t0, t1, t2,
        |  CAST(1 + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS steps_done
        |FROM w2""".stripMargin,

    "q114_funnel_longest" ->
      """WITH a AS (
        |  SELECT event_id AS anchor_id, user_id, CAST(ts AS TIMESTAMP) AS t0
        |  FROM events WHERE event_type = 'signup'
        |),
        |w1 AS (
        |  SELECT a.anchor_id, a.user_id, a.t0, s1.t1
        |  FROM a LEFT JOIN (
        |    SELECT a.anchor_id, MAX(CAST(v.ts AS TIMESTAMP)) AS t1
        |    FROM a JOIN events v
        |      ON v.user_id = a.user_id AND v.event_type = 'view'
        |     AND CAST(v.ts AS TIMESTAMP) > a.t0
        |     AND date_diff('microseconds', a.t0, CAST(v.ts AS TIMESTAMP))
        |         <= 259200000000
        |    GROUP BY 1
        |  ) s1 USING (anchor_id)
        |),
        |w2 AS (
        |  SELECT w1.*, s2.t2
        |  FROM w1 LEFT JOIN (
        |    SELECT w1.anchor_id, MAX(CAST(p.ts AS TIMESTAMP)) AS t2
        |    FROM w1 JOIN events p
        |      ON p.user_id = w1.user_id AND p.event_type = 'purchase'
        |     AND w1.t1 IS NOT NULL
        |     AND CAST(p.ts AS TIMESTAMP) > w1.t1
        |     AND date_diff('microseconds', w1.t1, CAST(p.ts AS TIMESTAMP))
        |         <= 604800000000
        |    GROUP BY 1
        |  ) s2 USING (anchor_id)
        |)
        |SELECT anchor_id, user_id, t0, t1, t2,
        |  CAST(1 + CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS steps_done
        |FROM w2""".stripMargin,

    "q115_pq_codebook" ->
      s"""WITH $pqTrainingCte
         |SELECT sub, code, CAST(g.i - 1 AS INT) AS dim, cvec[g.i] AS c
         |FROM cb2, LATERAL (SELECT UNNEST(generate_series(1, 8)) AS i) g""".stripMargin,

    "q116_pq_adc_knn" ->
      s"""WITH $pqTrainingCte,
         |sc2 AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    round(list_dot_product(s.subvec, s.subvec)
         |      - 2.0 * list_dot_product(s.subvec, c.cvec)
         |      + list_dot_product(c.cvec, c.cvec), 6) AS d
         |  FROM sv s JOIN cb2 c USING (sub)
         |),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
         |    FROM sc2) WHERE rk = 1
         |),
         |psv AS (
         |  SELECT vec_id AS probe_id, sub, subvec FROM sv WHERE vec_id % 100 = 0
         |),
         |lut AS (
         |  SELECT p.probe_id, p.sub, c.code,
         |    list_dot_product(p.subvec, p.subvec)
         |      - 2.0 * list_dot_product(p.subvec, c.cvec)
         |      + list_dot_product(c.cvec, c.cvec) AS pd
         |  FROM psv p JOIN cb2 c USING (sub)
         |),
         |ad AS (
         |  SELECT l.probe_id, k.vec_id, round(SUM(l.pd), 6) AS adist
         |  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
         |  GROUP BY 1, 2
         |)
         |SELECT probe_id, CAST(rk AS INT) AS rank, vec_id, adist FROM (
         |  SELECT probe_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rk
         |  FROM ad)
         |WHERE rk <= 5""".stripMargin,

    "q117_ivfpq_knn" ->
      s"""WITH $pqTrainingCte,
         |$pqCoarseCte,
         |cells AS (
         |  SELECT vec_id, code AS cell FROM (
         |    SELECT s.vec_id, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6), c.code) AS rk
         |    FROM sv1 s JOIN ccb2 c USING (sub)) WHERE rk = 1
         |),
         |sc2 AS (
         |  SELECT s.vec_id, s.sub, c.code,
         |    round(list_dot_product(s.subvec, s.subvec)
         |      - 2.0 * list_dot_product(s.subvec, c.cvec)
         |      + list_dot_product(c.cvec, c.cvec), 6) AS d
         |  FROM sv s JOIN cb2 c USING (sub)
         |),
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
         |    FROM sc2) WHERE rk = 1
         |),
         |pc AS (
         |  SELECT probe_id, code AS cell FROM (
         |    SELECT s.vec_id AS probe_id, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6), c.code) AS rk
         |    FROM sv1 s JOIN ccb2 c USING (sub)
         |    WHERE s.vec_id % 100 = 0) WHERE rk <= 2
         |),
         |cand AS (
         |  SELECT pc.probe_id, cells.vec_id FROM pc JOIN cells USING (cell)
         |),
         |psv AS (
         |  SELECT vec_id AS probe_id, sub, subvec FROM sv WHERE vec_id % 100 = 0
         |),
         |lut AS (
         |  SELECT p.probe_id, p.sub, c.code,
         |    list_dot_product(p.subvec, p.subvec)
         |      - 2.0 * list_dot_product(p.subvec, c.cvec)
         |      + list_dot_product(c.cvec, c.cvec) AS pd
         |  FROM psv p JOIN cb2 c USING (sub)
         |),
         |adr AS (
         |  SELECT cd.probe_id, cd.vec_id, round(SUM(l.pd), 6) AS adist
         |  FROM cand cd
         |  JOIN codes k ON k.vec_id = cd.vec_id
         |  JOIN lut l ON l.probe_id = cd.probe_id AND l.sub = k.sub AND l.code = k.code
         |  GROUP BY 1, 2
         |)
         |SELECT probe_id, CAST(rk AS INT) AS rank, vec_id, adist FROM (
         |  SELECT probe_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rk
         |  FROM adr)
         |WHERE rk <= 5""".stripMargin,

    // drift maintenance re-derived from the training loop's own
    // round-1/round-2 CTEs: movement per cell, stable codes carried
    // from as1 verbatim, moved-cell members re-assigned against cb2
    "q118_pq_drift_reencode" ->
      s"""WITH $pqTrainingCte,
         |mv AS (
         |  SELECT o.sub, o.code,
         |    (round(list_dot_product(o.cvec, o.cvec)
         |      - 2.0 * list_dot_product(o.cvec, n.cvec)
         |      + list_dot_product(n.cvec, n.cvec), 6) > 0.002) AS moved
         |  FROM cb1 o JOIN cb2 n USING (sub, code)
         |),
         |carried AS (
         |  SELECT a.vec_id, a.sub, a.code, FALSE AS reencoded
         |  FROM as1 a JOIN mv USING (sub, code) WHERE NOT mv.moved
         |),
         |dirty AS (
         |  SELECT a.vec_id, a.sub
         |  FROM as1 a JOIN mv USING (sub, code) WHERE mv.moved
         |),
         |re AS (
         |  SELECT vec_id, sub, code, TRUE AS reencoded FROM (
         |    SELECT s.vec_id, s.sub, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6), c.code) AS rk
         |    FROM sv s
         |    JOIN dirty d ON d.vec_id = s.vec_id AND d.sub = s.sub
         |    JOIN cb2 c ON c.sub = s.sub) WHERE rk = 1
         |)
         |SELECT * FROM carried UNION ALL SELECT * FROM re""".stripMargin,

    // the SAME antipattern SQL the Spark side declares, run verbatim
    // by DuckDB's optimizer — whatever plan each engine picks (Spark:
    // the injected as-of rewrite; DuckDB: its own), the results must
    // hash-match. max_by ≡ DuckDB arg_max; tie-free by construction.
    "q119_declared_asof" ->
      s"""WITH $transfersCte, $pricesCte,
         |t AS (SELECT asset, wallet, date FROM transfers),
         |p AS (SELECT asset, date AS pdate, price FROM prices)
         |SELECT t.asset, t.wallet, t.date,
         |  max(p.pdate) AS price_date,
         |  max_by(p.price, p.pdate) AS price
         |FROM t JOIN p
         |  ON p.asset = t.asset AND p.pdate <= t.date
         |GROUP BY t.asset, t.wallet, t.date""".stripMargin,

    // the advisor's cost model re-derived end-to-end: measured per-dim
    // selectivities, integer box-pruning costs over the shared N^3
    // denominator, exact decimal totals, rank on the exact total —
    // only the presented fraction is float (one division, round 6)
    "q120_layout_advisor" ->
      """WITH ks AS (
        |  SELECT o_orderkey AS query_id, o_orderkey // 997 AS k
        |  FROM orders WHERE o_orderkey % 997 = 0
        |),
        |w AS (
        |  SELECT query_id, 'user' AS dim,
        |    CAST((k*13)%120 AS DOUBLE) AS lo,
        |    CAST((k*13)%120 + 3 + k%12 AS DOUBLE) AS hi
        |  FROM ks WHERE k%2 = 0
        |  UNION ALL
        |  SELECT query_id, 'value',
        |    CAST((k*7)%480 AS DOUBLE), CAST((k*7)%480 + 10 + k%40 AS DOUBLE)
        |  FROM ks WHERE k%3 > 0
        |  UNION ALL
        |  SELECT query_id, 'day',
        |    CAST(19723 + k%24 AS DOUBLE), CAST(19723 + k%24 + k%6 AS DOUBLE)
        |  FROM ks WHERE k%5 > 0
        |),
        |e AS (
        |  SELECT 'user' AS dim, CAST(user_id AS DOUBLE) AS v FROM events
        |  UNION ALL
        |  SELECT 'value', value FROM events
        |  UNION ALL
        |  SELECT 'day', CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE)
        |  FROM events
        |),
        |cnt AS (
        |  SELECT w.query_id, w.dim, count(*) AS n
        |  FROM e JOIN w ON e.dim = w.dim AND e.v BETWEEN w.lo AND w.hi
        |  GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT wd.query_id,
        |    max(CASE WHEN wd.dim='user' THEN COALESCE(c.n, 0) END) AS nu,
        |    max(CASE WHEN wd.dim='value' THEN COALESCE(c.n, 0) END) AS nv,
        |    max(CASE WHEN wd.dim='day' THEN COALESCE(c.n, 0) END) AS nd
        |  FROM (SELECT DISTINCT query_id, dim FROM w) wd
        |  LEFT JOIN cnt c ON c.query_id = wd.query_id AND c.dim = wd.dim
        |  GROUP BY 1
        |),
        |nn AS (SELECT count(*) AS N FROM events),
        |lay(layout_id, fu, fv, fd) AS (VALUES
        |  ('user', true, false, false), ('value', false, true, false),
        |  ('day', false, false, true), ('user+value', true, true, false),
        |  ('user+day', true, false, true), ('value+day', false, true, true),
        |  ('user+value+day', true, true, true)
        |),
        |sc AS (
        |  SELECT l.layout_id,
        |    (CASE WHEN l.fu AND m.nu IS NOT NULL THEN m.nu ELSE nn.N END)
        |    * (CASE WHEN l.fv AND m.nv IS NOT NULL THEN m.nv ELSE nn.N END)
        |    * (CASE WHEN l.fd AND m.nd IS NOT NULL THEN m.nd ELSE nn.N END)
        |      AS cost,
        |    CAST(nn.N AS DOUBLE) * CAST(nn.N AS DOUBLE) * CAST(nn.N AS DOUBLE)
        |      AS den
        |  FROM m, nn, lay l
        |),
        |tot AS (
        |  SELECT layout_id, count(*) AS n_queries, SUM(cost) AS total,
        |    max(den) AS den
        |  FROM sc GROUP BY 1
        |)
        |SELECT layout_id, n_queries,
        |  round(CAST(total AS DOUBLE) / (den * n_queries), 6) AS avg_scan_frac,
        |  CAST(row_number() OVER (ORDER BY total, layout_id) AS INT) AS rank
        |FROM tot""".stripMargin,

    // the expected FINAL catalog state re-derived from events — any
    // torn-version exposure, stale snapshot, or cross-table horizon
    // skew on the Spark side diverges the totals or the flag
    "q121_catalog_roundtrip" ->
      """WITH f AS (
        |  SELECT event_type AS asset, user_id AS wallet,
        |    CAST(round(value, 6) AS DECIMAL(18,6)) AS v
        |  FROM events
        |),
        |a AS (SELECT asset, count(*) AS n_events, SUM(v) AS t FROM f GROUP BY 1),
        |w AS (SELECT wallet, SUM(v) AS t FROM f GROUP BY 1),
        |g AS (SELECT (SELECT SUM(t) FROM w) AS wt, (SELECT SUM(t) FROM a) AS at)
        |SELECT a.asset, a.n_events, CAST(a.t AS DOUBLE) AS total_value,
        |  CAST(g.wt AS DOUBLE) AS wallet_total,
        |  (g.wt = g.at) AS consistent
        |FROM a, g""".stripMargin,

    // residual IVF-PQ: the coarse loop verbatim, residuals as one
    // IEEE subtraction per element, the FINE loop generated over the
    // residual relation, per-probed-cell LUTs, candidate-restricted
    // ADC — the whole two-quantizer composition re-derived
    "q122_residual_ivfpq" ->
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings
         |),
         |seeds AS (
         |  SELECT vec_id, CAST(rk - 1 AS INT) AS code FROM (
         |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rk
         |    FROM embeddings)
         |  WHERE rk <= 16
         |),
         |$pqCoarseCte,
         |cells AS (
         |  SELECT vec_id, code AS cell FROM (
         |    SELECT s.vec_id, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6), c.code) AS rk
         |    FROM sv1 s JOIN ccb2 c USING (sub)) WHERE rk = 1
         |),
         |rv AS (
         |  SELECT v.vec_id,
         |    list_transform(generate_series(1, 64), i -> v.e[i] - c.cvec[i]) AS e
         |  FROM v JOIN cells USING (vec_id) JOIN ccb2 c ON c.code = cells.cell
         |),
         |${pqTrainCteGen("r", "rv", 8, 8, 16)},
         |rcodes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |      row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
         |    FROM (
         |      SELECT s.vec_id, s.sub, c.code,
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6) AS d
         |      FROM rsv s JOIN rcb2 c USING (sub))) WHERE rk = 1
         |),
         |pc AS (
         |  SELECT probe_id, code AS cell FROM (
         |    SELECT s.vec_id AS probe_id, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6), c.code) AS rk
         |    FROM sv1 s JOIN ccb2 c USING (sub)
         |    WHERE s.vec_id % 100 = 0) WHERE rk <= 2
         |),
         |prv AS (
         |  SELECT pc.probe_id, pc.cell,
         |    list_transform(generate_series(1, 64), i -> v.e[i] - c.cvec[i]) AS e
         |  FROM pc JOIN v ON v.vec_id = pc.probe_id
         |  JOIN ccb2 c ON c.code = pc.cell
         |),
         |psv AS (
         |  SELECT probe_id, cell, CAST(g.s AS INT) AS sub,
         |    e[g.s*8+1 : g.s*8+8] AS subvec
         |  FROM prv, LATERAL (SELECT UNNEST(generate_series(0, 7)) AS s) g
         |),
         |lut AS (
         |  SELECT p.probe_id, p.cell, p.sub, c.code,
         |    list_dot_product(p.subvec, p.subvec)
         |      - 2.0 * list_dot_product(p.subvec, c.cvec)
         |      + list_dot_product(c.cvec, c.cvec) AS pd
         |  FROM psv p JOIN rcb2 c USING (sub)
         |),
         |cand AS (
         |  SELECT pc.probe_id, pc.cell, cells.vec_id FROM pc JOIN cells USING (cell)
         |),
         |ad AS (
         |  SELECT cd.probe_id, cd.vec_id, round(SUM(l.pd), 6) AS adist
         |  FROM cand cd
         |  JOIN rcodes k ON k.vec_id = cd.vec_id
         |  JOIN lut l ON l.probe_id = cd.probe_id AND l.cell = cd.cell
         |    AND l.sub = k.sub AND l.code = k.code
         |  GROUP BY 1, 2
         |)
         |SELECT probe_id, CAST(rk AS INT) AS rank, vec_id, adist FROM (
         |  SELECT probe_id, vec_id, adist,
         |    row_number() OVER (PARTITION BY probe_id ORDER BY adist, vec_id) AS rk
         |  FROM ad)
         |WHERE rk <= 5""".stripMargin,

    // the advisor loop closed under one hash: q120's cost-model CTEs
    // over the 2-dim-capped candidate set pick the SAME rank-1 layout
    // the Spark side materialized (a wrong choice breaks the
    // layout_id column), and the box aggregate re-derives over the
    // WHOLE table (a lossy prune breaks the measures)
    "q123_advised_layout" ->
      """WITH ks AS (
        |  SELECT o_orderkey AS query_id, o_orderkey // 997 AS k
        |  FROM orders WHERE o_orderkey % 997 = 0
        |),
        |w AS (
        |  SELECT query_id, 'user' AS dim,
        |    CAST((k*13)%120 AS DOUBLE) AS lo,
        |    CAST((k*13)%120 + 3 + k%12 AS DOUBLE) AS hi
        |  FROM ks WHERE k%2 = 0
        |  UNION ALL
        |  SELECT query_id, 'value',
        |    CAST((k*7)%480 AS DOUBLE), CAST((k*7)%480 + 10 + k%40 AS DOUBLE)
        |  FROM ks WHERE k%3 > 0
        |  UNION ALL
        |  SELECT query_id, 'day',
        |    CAST(19723 + k%24 AS DOUBLE), CAST(19723 + k%24 + k%6 AS DOUBLE)
        |  FROM ks WHERE k%5 > 0
        |),
        |e AS (
        |  SELECT 'user' AS dim, CAST(user_id AS DOUBLE) AS v FROM events
        |  UNION ALL
        |  SELECT 'value', value FROM events
        |  UNION ALL
        |  SELECT 'day', CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS DOUBLE)
        |  FROM events
        |),
        |cnt AS (
        |  SELECT w.query_id, w.dim, count(*) AS n
        |  FROM e JOIN w ON e.dim = w.dim AND e.v BETWEEN w.lo AND w.hi
        |  GROUP BY 1, 2
        |),
        |m AS (
        |  SELECT wd.query_id,
        |    max(CASE WHEN wd.dim='user' THEN COALESCE(c.n, 0) END) AS nu,
        |    max(CASE WHEN wd.dim='value' THEN COALESCE(c.n, 0) END) AS nv,
        |    max(CASE WHEN wd.dim='day' THEN COALESCE(c.n, 0) END) AS nd
        |  FROM (SELECT DISTINCT query_id, dim FROM w) wd
        |  LEFT JOIN cnt c ON c.query_id = wd.query_id AND c.dim = wd.dim
        |  GROUP BY 1
        |),
        |nn AS (SELECT count(*) AS N FROM events),
        |lay(layout_id, fu, fv, fd) AS (VALUES
        |  ('user', true, false, false), ('value', false, true, false),
        |  ('day', false, false, true), ('user+value', true, true, false),
        |  ('user+day', true, false, true), ('value+day', false, true, true)
        |),
        |sc AS (
        |  SELECT l.layout_id,
        |    (CASE WHEN l.fu AND m.nu IS NOT NULL THEN m.nu ELSE nn.N END)
        |    * (CASE WHEN l.fv AND m.nv IS NOT NULL THEN m.nv ELSE nn.N END)
        |    * (CASE WHEN l.fd AND m.nd IS NOT NULL THEN m.nd ELSE nn.N END)
        |      AS cost
        |  FROM m, nn, lay l
        |),
        |best AS (
        |  SELECT layout_id FROM sc GROUP BY layout_id
        |  ORDER BY SUM(cost), layout_id LIMIT 1
        |),
        |agg AS (
        |  SELECT event_type, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |  FROM events
        |  WHERE user_id BETWEEN 5 AND 40
        |    AND value >= 25.0 AND value <= 75.0
        |    AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-21 00:00:00'
        |  GROUP BY event_type
        |)
        |SELECT agg.event_type, agg.n_events, agg.sum_value, best.layout_id
        |FROM agg, best""".stripMargin,

    // the SAME antipattern SQL the Spark side declares, run verbatim
    // by DuckDB — Spark's side goes through the injected TopRowRewrite
    // (window → min_by aggregation), DuckDB plans its own window;
    // (ts, event_id) is a unique tiebreak so both picks are
    // deterministic and must hash-match. CAST(ts AS TIMESTAMP)
    // truncates DuckDB's nanoseconds to Spark's microsecond axis
    // (the q2 caveat).
    "q124_declared_dedupe" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,

    // straight from the facts — the Spark side answers from the
    // registered (event_type, user_id) view via the injected
    // ViewMatchRewrite; a stale view, wrong compensation, or dropped
    // NULL group breaks the hash
    "q125_view_match" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  max(value) AS max_value
        |FROM events
        |WHERE user_id BETWEEN 10 AND 60
        |GROUP BY event_type""".stripMargin,

    // the join + aggregate run verbatim over the base tables — the
    // Spark side answers from the registered star rollup with both
    // scans and the join gone from the plan
    "q126_join_view_match" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice, 2) AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey <= 12
        |GROUP BY c_mktsegment""".stripMargin,

    // full scan with the two delete predicates NEGATED — the Spark
    // side reads the published table through its deletion vector
    // (position sidecar anti-join, data files never rewritten)
    "q127_delete_vectors" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE NOT (event_type = 'error' AND value > 50.0)
        |  AND NOT (user_id % 100 = 37)
        |GROUP BY event_type""".stripMargin,

    // the MERGE re-derived relationally: matched keys left-join to
    // their update, matched low-value rows drop, unmatched source
    // rows append — the Spark side committed the same semantics as a
    // copy-on-write file rewrite
    "q128_merge_into" ->
      """WITH up AS (
        |  SELECT event_id, ROUND(value, 6) * 2 AS new_value
        |  FROM events WHERE event_id % 11 = 0
        |),
        |kept AS (
        |  SELECT t.event_type, t.user_id,
        |    CASE WHEN u.event_id IS NOT NULL THEN u.new_value ELSE t.value END AS value,
        |    (u.event_id IS NOT NULL AND t.value < 10.0) AS doomed
        |  FROM events t LEFT JOIN up u USING (event_id)
        |),
        |merged AS (
        |  SELECT event_type, user_id, value FROM kept WHERE NOT doomed
        |  UNION ALL
        |  SELECT event_type, user_id + 1000000 AS user_id, value
        |  FROM events WHERE event_id % 13 = 0
        |)
        |SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM merged GROUP BY event_type""".stripMargin,

    // the SQL MERGE re-derived relationally: U keys left-join to
    // their doubled value, D keys drop, I keys append with remapped
    // users, and the NOT MATCHED BY SOURCE branch drops the user-77
    // cohort among unmatched rows — the Spark side ran the literal
    // five-clause MERGE statement through the catalog bridge
    "q144_sql_merge" ->
      """WITH src AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 13 = 0 THEN 'D' ELSE 'U' END AS op,
        |    CAST(CAST(ROUND(value, 6) AS DECIMAL(18,6)) * 2 AS DOUBLE) AS new_value
        |  FROM events WHERE event_id % 11 = 0 OR event_id % 13 = 0
        |),
        |merged AS (
        |  SELECT t.event_type, t.user_id,
        |    CASE WHEN s.op = 'U' THEN s.new_value ELSE t.value END AS value
        |  FROM events t LEFT JOIN src s USING (event_id)
        |  WHERE NOT COALESCE(s.op = 'D', FALSE)
        |    AND NOT (s.event_id IS NULL AND t.user_id % 1000 = 77)
        |  UNION ALL
        |  SELECT event_type, user_id + 2000000 AS user_id, value
        |  FROM events WHERE event_id % 17 = 0
        |)
        |SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM merged GROUP BY event_type""".stripMargin,

    // SQL DELETE then UPDATE re-derived: predicate negated, SET as a
    // CASE over the survivors — the Spark side ran the literal
    // statements through the catalog bridge as two pruned
    // copy-on-write version commits
    "q145_sql_row_writes" ->
      """WITH survivors AS (
        |  SELECT event_type, user_id,
        |    CASE WHEN user_id % 10 = 3
        |         THEN CAST(CAST(ROUND(value, 6) AS DECIMAL(18,6)) * 3 AS DOUBLE)
        |         ELSE value END AS value
        |  FROM events
        |  WHERE NOT (event_type = 'error' AND value > 50.0)
        |)
        |SELECT event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM survivors GROUP BY event_type""".stripMargin,

    // the full recompute over the NEW snapshots — the Spark side
    // maintained the rollup incrementally from the old one via the
    // delta-join identity and must agree bit-for-bit
    "q129_join_ivm" ->
      """WITH lnew AS (
        |  SELECT o_custkey,
        |    CASE WHEN o_orderkey % 10 = 0
        |         THEN CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) * 2
        |              AS DECIMAL(18,2))
        |         ELSE CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) END AS price
        |  FROM orders WHERE o_orderkey % 17 <> 3
        |),
        |rnew AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 15 = 0 THEN 'MIGRATED' ELSE c_mktsegment END AS seg
        |  FROM customer
        |)
        |SELECT seg, COUNT(*) AS n_orders,
        |  CAST(SUM(price) AS DOUBLE) AS total_price
        |FROM lnew JOIN rnew ON o_custkey = c_custkey
        |GROUP BY seg""".stripMargin,

    // the identical strip pipeline re-run stage by stage — the hash
    // covers the extracted text itself (q99's posture)
    "q131_html_strip" ->
      """WITH planted AS (
        |  SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN
        |    '<html><head><style>p{color:red}</style><script src="x.js">var x=1;</script></head><body><h1>Doc '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p class="lead">' || text
        |    || '</p><!-- footer --><p>&amp; &lt;tag&gt; B&#39;s&nbsp;end</p></body></html>'
        |  ELSE text END AS t FROM documents
        |),
        |b1 AS (SELECT doc_id, regexp_replace(t, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM planted),
        |b2 AS (SELECT doc_id, regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM b1),
        |b3 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM b2),
        |tg AS (SELECT doc_id, len(regexp_extract_all(t, '<[^>]+>')) AS n_tags,
        |       regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM b3),
        |e1 AS (SELECT doc_id, n_tags, regexp_replace(t, '&lt;', '<', 'g') AS t FROM tg),
        |e2 AS (SELECT doc_id, n_tags, regexp_replace(t, '&gt;', '>', 'g') AS t FROM e1),
        |e3 AS (SELECT doc_id, n_tags, regexp_replace(t, '&quot;', '"', 'g') AS t FROM e2),
        |e4 AS (SELECT doc_id, n_tags, regexp_replace(t, '&#39;', '''', 'g') AS t FROM e3),
        |e5 AS (SELECT doc_id, n_tags, regexp_replace(t, '&nbsp;', ' ', 'g') AS t FROM e4),
        |e6 AS (SELECT doc_id, n_tags, regexp_replace(t, '&amp;', '&', 'g') AS t FROM e5),
        |fin AS (SELECT doc_id, n_tags,
        |        trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text FROM e6)
        |SELECT doc_id, n_tags, clean_text, len(clean_text) AS n_chars
        |FROM fin""".stripMargin,

    // the clean slice re-derived by negating the planted corruption —
    // the Spark side published THROUGH the audit gate (drop-severity
    // quarantine, counts in the manifest)
    "q132_wap_publish" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_id % 41 <> 0
        |GROUP BY event_type""".stripMargin,

    // full scan with the same box — the Spark side served a version
    // whose files carry TWO different clusterings through one stats
    // manifest
    "q133_layout_evolution" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) <= TIMESTAMP '2024-01-22 00:00:00'
        |  AND user_id BETWEEN 4 AND 11
        |GROUP BY event_type""".stripMargin,

    // both retained slices re-derived from raw events; n_versions is
    // the policy's on-disk outcome (live + keepLast survivor = 2) —
    // the Spark side computed it by listing the expired version root
    "q134_retention" ->
      """WITH live AS (
        |  SELECT event_type, COUNT(*) AS n_live,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_live
        |  FROM events GROUP BY event_type
        |),
        |prior AS (
        |  SELECT event_type, COUNT(*) AS n_prior FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        |  GROUP BY event_type
        |)
        |SELECT l.event_type, l.n_live, l.sum_live,
        |  COALESCE(p.n_prior, 0) AS n_prior,
        |  l.n_live - COALESCE(p.n_prior, 0) AS n_new,
        |  CAST(2 AS BIGINT) AS n_versions
        |FROM live l LEFT JOIN prior p USING (event_type)""".stripMargin,

    // the MERGE re-derived relationally (left join + CASE +
    // anti-union, the q128 posture) — the new column exists only
    // where a source row matched or inserted; everything the Spark
    // side served from carried OLD-WIDTH files must read NULL
    "q135_merge_evolution" ->
      """WITH tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |),
        |src AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) * 2
        |         AS DECIMAL(18,2)) AS price,
        |    o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey % 5 = 0
        |),
        |merged AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.prio END AS prio
        |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  UNION ALL
        |  SELECT s.o_orderkey, s.price, s.prio
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE t.o_orderkey = s.o_orderkey)
        |)
        |SELECT COALESCE(prio, '(none)') AS prio, COUNT(*) AS n_rows,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM merged GROUP BY 1""".stripMargin,

    // the whole categorical advisor re-derived from raw events: file
    // boundaries are the deterministic part column, per-part KMV
    // sketches rebuild as rank-ordered distinct md5-hashes, the ndv
    // estimator and scoring chain run in identical arithmetic order
    // (the q120 CTE chain with equality selectivities)
    "q136_cat_advisor" ->
      """WITH base AS (
        |  SELECT user_id % 4 AS part, event_type, user_id FROM events
        |),
        |pn AS (SELECT part, COUNT(*) AS n_rows FROM base GROUP BY 1),
        |hh AS (
        |  SELECT DISTINCT part, 'etype' AS dim,
        |    CAST(('0x' || substr(md5(event_type), 1, 15)) AS BIGINT) AS h
        |  FROM base
        |  UNION ALL
        |  SELECT DISTINCT part, 'uid',
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |  FROM base
        |),
        |rk AS (
        |  SELECT part, dim, h,
        |    row_number() OVER (PARTITION BY part, dim ORDER BY h) AS rk
        |  FROM hh
        |),
        |ndv AS (
        |  SELECT part, dim, COUNT(*) AS n,
        |    max(CASE WHEN rk = 64 THEN h END) AS hk
        |  FROM rk WHERE rk <= 64 GROUP BY 1, 2
        |),
        |fest AS (
        |  SELECT ndv.dim,
        |    CAST(floor(CAST(pn.n_rows AS DOUBLE) /
        |      round(CASE WHEN ndv.n < 64 THEN CAST(ndv.n AS DOUBLE)
        |            ELSE 63.0 * 1152921504606846976.0 / CAST(ndv.hk AS DOUBLE)
        |            END, 6)) AS BIGINT) AS est
        |  FROM ndv JOIN pn ON pn.part = ndv.part
        |),
        |dimn AS (SELECT dim, SUM(est) AS n FROM fest GROUP BY 1),
        |w(query_id, dim) AS (VALUES
        |  (1, 'etype'), (2, 'uid'), (3, 'etype'), (3, 'uid'), (4, 'uid')
        |),
        |cnt AS (
        |  SELECT w.query_id, w.dim, d.n
        |  FROM w JOIN dimn d ON d.dim = w.dim
        |),
        |m AS (
        |  SELECT wd.query_id,
        |    max(CASE WHEN wd.dim='etype' THEN COALESCE(c.n, 0) END) AS ne,
        |    max(CASE WHEN wd.dim='uid' THEN COALESCE(c.n, 0) END) AS nu
        |  FROM (SELECT DISTINCT query_id, dim FROM w) wd
        |  LEFT JOIN cnt c ON c.query_id = wd.query_id AND c.dim = wd.dim
        |  GROUP BY 1
        |),
        |nn AS (SELECT COUNT(*) AS N FROM events),
        |lay(layout_id, fe, fu) AS (VALUES
        |  ('etype', true, false), ('uid', false, true), ('etype+uid', true, true)
        |),
        |sc AS (
        |  SELECT l.layout_id,
        |    (CASE WHEN l.fe AND m.ne IS NOT NULL THEN m.ne ELSE nn.N END)
        |    * (CASE WHEN l.fu AND m.nu IS NOT NULL THEN m.nu ELSE nn.N END)
        |      AS cost,
        |    CAST(nn.N AS DOUBLE) * CAST(nn.N AS DOUBLE) AS den
        |  FROM m, nn, lay l
        |),
        |tot AS (
        |  SELECT layout_id, COUNT(*) AS n_queries, SUM(cost) AS total,
        |    max(den) AS den
        |  FROM sc GROUP BY 1
        |)
        |SELECT layout_id, n_queries,
        |  round(CAST(total AS DOUBLE) / (den * n_queries), 6) AS avg_scan_frac,
        |  CAST(row_number() OVER (ORDER BY total, layout_id) AS INT) AS rank
        |FROM tot""".stripMargin,

    // both snapshot states re-derived relationally — the Spark side
    // resolved them through catalog as-of timestamps; a resolver
    // mixing snapshots (old facts with the doubled rates) breaks
    // wsum_old
    "q137_catalog_asof" ->
      """WITH old AS (
        |  SELECT event_type, COUNT(*) AS n_old,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)) * 1) AS DOUBLE)
        |      AS wsum_old
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00'
        |  GROUP BY event_type
        |),
        |cur AS (
        |  SELECT event_type, COUNT(*) AS n_new,
        |    CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)) * 2) AS DOUBLE)
        |      AS wsum_new
        |  FROM events GROUP BY event_type
        |)
        |SELECT o.event_type, o.n_old, o.wsum_old, c.n_new, c.wsum_new
        |FROM old o JOIN cur c USING (event_type)""".stripMargin,

    // all three commit states re-derived relationally (base publish →
    // MERGE with update/insert-gate/matched-delete → DV delete), then
    // both consecutive diffs with IS DISTINCT FROM classification and
    // version lineage — the Spark side read the SAME feed off the
    // version directories through the DV sidecar
    "q138_change_feed" ->
      """WITH s1 AS (
        |  SELECT o_orderkey,
        |    CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) AS price
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |),
        |src AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(ROUND(o_totalprice, 2) AS DECIMAL(18,2)) * 2
        |         AS DECIMAL(18,2)) AS price,
        |    (o_orderkey % 10 = 5) AS doom
        |  FROM orders WHERE o_orderkey % 5 = 0
        |),
        |s2 AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.price ELSE t.price END AS price
        |  FROM s1 t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE s.o_orderkey IS NULL OR NOT s.doom
        |  UNION ALL
        |  SELECT s.o_orderkey, s.price FROM src s
        |  WHERE NOT s.doom
        |    AND NOT EXISTS (SELECT 1 FROM s1 t WHERE t.o_orderkey = s.o_orderkey)
        |),
        |s3 AS (SELECT * FROM s2 WHERE o_orderkey % 11 <> 0),
        |d1 AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |         WHEN b.o_orderkey IS NULL THEN 'delete'
        |         WHEN a.price IS DISTINCT FROM b.price THEN 'update'
        |         ELSE 'unchanged' END AS change_type,
        |    CAST(a.price AS DOUBLE) AS old_price,
        |    CAST(b.price AS DOUBLE) AS new_price,
        |    CAST(1 AS BIGINT) AS from_version, CAST(2 AS BIGINT) AS to_version
        |  FROM s1 a FULL OUTER JOIN s2 b ON a.o_orderkey = b.o_orderkey
        |),
        |d2 AS (
        |  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |    CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |         WHEN b.o_orderkey IS NULL THEN 'delete'
        |         WHEN a.price IS DISTINCT FROM b.price THEN 'update'
        |         ELSE 'unchanged' END AS change_type,
        |    CAST(a.price AS DOUBLE) AS old_price,
        |    CAST(b.price AS DOUBLE) AS new_price,
        |    CAST(2 AS BIGINT) AS from_version, CAST(3 AS BIGINT) AS to_version
        |  FROM s2 a FULL OUTER JOIN s3 b ON a.o_orderkey = b.o_orderkey
        |)
        |SELECT * FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
        |WHERE change_type <> 'unchanged'""".stripMargin,

    // the race's SERIALIZED outcome is deterministic whatever the
    // interleaving: base ∪ all three appended slices (= all events)
    // and exactly 4 commits — a lost update or double-commit on the
    // Spark side breaks counts or n_versions
    "q139_txn_appends" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(4 AS BIGINT) AS n_versions
        |FROM events
        |GROUP BY event_type""".stripMargin,

    // shingles, cross-doc recurrence, and the island merge all
    // re-derived: string_split ↔ split, list slice ↔ slice (1-based
    // inclusive ↔ (start, length)), md5 60-bit ↔ contentHash, and the
    // gaps-and-islands break condition mirrors Intervals.merge
    // (new island when s > prev-max-end + adjacency)
    "q140_verbatim_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    len(string_split(text, ' ')) AS nt
        |  FROM documents WHERE len(string_split(text, ' ')) >= 8
        |),
        |sh AS (
        |  SELECT doc_id, nt, i - 1 AS pos,
        |    CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))
        |         AS BIGINT) AS h
        |  FROM (SELECT doc_id, t, nt, unnest(generate_series(1, nt - 7)) AS i
        |        FROM toks)
        |),
        |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
        |pos AS (
        |  SELECT doc_id, nt, pos AS s, pos + 7 AS e FROM sh
        |  WHERE h IN (SELECT h FROM dup)
        |),
        |brk AS (
        |  SELECT doc_id, nt, s, e,
        |    CASE WHEN s > COALESCE(MAX(e) OVER (
        |        PARTITION BY doc_id ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM pos
        |),
        |isl AS (
        |  SELECT doc_id, nt, s, e, SUM(new_island) OVER (
        |    PARTITION BY doc_id ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM brk
        |),
        |agg AS (
        |  SELECT doc_id, nt, island, MIN(s) AS ms, MAX(e) AS me
        |  FROM isl GROUP BY 1, 2, 3
        |),
        |perdoc AS (
        |  SELECT doc_id, nt AS total_tokens, COUNT(*) AS n_spans,
        |    CAST(SUM(me - ms + 1) AS BIGINT) AS dup_tokens
        |  FROM agg GROUP BY 1, 2
        |)
        |SELECT doc_id, total_tokens, n_spans, dup_tokens,
        |  round(CAST(dup_tokens AS DOUBLE) / total_tokens, 6) AS dup_frac
        |FROM perdoc""".stripMargin,

    // the whole SemDeDup chain re-derived: q117's coarse k-means
    // loop verbatim (sv1/ccb2), within-cell pairs at the q26 cosine
    // parity, dominated = lower-id in-cell neighbor at ≥ τ
    // both retained slices re-derived from raw events (the q134
    // posture) — the Spark side resolved them through the SQL
    // catalog's live / VERSION AS OF / TIMESTAMP AS OF paths, which
    // must agree with each other and with this
    "q143_sql_time_travel" ->
      """WITH live AS (
        |  SELECT event_type, COUNT(*) AS n_live FROM events GROUP BY event_type
        |),
        |prior AS (
        |  SELECT event_type, COUNT(*) AS n_prior FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        |  GROUP BY event_type
        |)
        |SELECT l.event_type, l.n_live, p.n_prior,
        |  l.n_live - p.n_prior AS n_new, p.n_prior AS n_at_ts
        |FROM live l JOIN prior p USING (event_type)""".stripMargin,

    // no JSON on the oracle side at all: every variant-extracted
    // value re-derives from base columns, so the hash covers the
    // parse→shred→typed-path round-trip end to end
    "q142_variant_extract" ->
      """SELECT event_type AS vtype, COUNT(*) AS n_events,
        |  CAST(SUM(EXTRACT(day FROM CAST(ts AS TIMESTAMP))) AS BIGINT) AS sum_day,
        |  CAST(SUM(CAST(ROUND(value, 2) AS DECIMAL(18,2))) AS DOUBLE) AS sum_v0,
        |  CAST(SUM(user_id % 10) AS BIGINT) AS sum_v1,
        |  CAST(0 AS BIGINT) AS n_missing
        |FROM events GROUP BY event_type""".stripMargin,

    "q141_semantic_dedup" ->
      s"""WITH $pqTrainingCte,
         |$pqCoarseCte,
         |cells AS (
         |  SELECT vec_id, code AS cell FROM (
         |    SELECT s.vec_id, c.code,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_dot_product(s.subvec, s.subvec)
         |          - 2.0 * list_dot_product(s.subvec, c.cvec)
         |          + list_dot_product(c.cvec, c.cvec), 6), c.code) AS rk
         |    FROM sv1 s JOIN ccb2 c USING (sub)) WHERE rk = 1
         |),
         |nz AS (
         |  SELECT v.vec_id, cells.cell, v.e
         |  FROM v JOIN cells USING (vec_id)
         |  WHERE sqrt(list_dot_product(v.e, v.e)) > 0
         |),
         |dominated AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM nz a JOIN nz b
         |    ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
         |)
         |SELECT v.vec_id, cells.cell,
         |  (d.vec_id IS NULL) AS is_keeper
         |FROM v
         |JOIN cells USING (vec_id)
         |LEFT JOIN dominated d ON d.vec_id = v.vec_id""".stripMargin
  )
}
