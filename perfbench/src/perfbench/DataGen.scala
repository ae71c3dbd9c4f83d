package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes the star schema plus `events`, `documents` and `embeddings`
  * that the registry queries read, with the column names, types and
  * value distributions of the reference testdata, at scale factor `sf`
  * (0.1 = 600,000 lineitem rows). Every value is a hash of
  * (seed, row id, column tag), so a (seed, sf) pair always yields the
  * same bytes. Each table is one parquet file, as in the reference
  * data, so a scan of a small table is one task, and every timestamp is
  * stored as the reference stores it: int64 microseconds without
  * isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ.
  */
object DataGen {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def rows(sf: Double): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> math.max(500L, n(50000)),
      "embeddings" -> math.max(500L, n(20000)))
  }

  /** Writes every table under `dir`, one concurrent job per table. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val jobs = Tables.map(t => Future(table(spark, t, sf, seed)
      .write.mode("overwrite").parquet(s"$dir/$t.parquet")))
    Await.result(Future.sequence(jobs), Duration.Inf): Unit
  }

  def table(spark: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    val n = rows(sf)
    val nUsers = math.max(15L, math.round(15000 * sf))
    def h(tag: Int, more: Column*): Column =
      xxhash64((lit(seed) +: col("id") +: lit(tag) +: more): _*)
    def pick(tag: Int, m: Long): Column = pmod(h(tag), lit(m))
    def unif(tag: Int): Column = pmod(h(tag), lit(1L << 30)).cast("double") / (1L << 30).toDouble
    def oneOf(tag: Int, vs: String*): Column =
      element_at(array(vs.map(lit): _*), (pick(tag, vs.size.toLong) + 1).cast("int"))
    def money(tag: Int, lo: Double, hi: Double): Column = round(lit(lo) + unif(tag) * (hi - lo), 2)
    def day(tag: Int, from: String, days: Long): Column =
      date_add(lit(from).cast("date"), pick(tag, days).cast("int")).cast("timestamp_ntz")
    val base = spark.range(0, n(name), 1, 1)
    name match {
      case "region" => base.select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name"))
      case "nation" => base.select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))
      case "customer" => base.select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick(1, 25).cast("int").as("c_nationkey"), money(2, -999.99, 9999.99).as("c_acctbal"),
        oneOf(3, "MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING").as("c_mktsegment"))
      case "supplier" => base.select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick(1, 25).cast("int").as("s_nationkey"), money(2, -999.99, 9999.99).as("s_acctbal"))
      case "part" => base.select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf(1, "large", "hot", "blue", "old", "cold", "red", "small", "green"),
          oneOf(2, "ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "valve")).as("p_name"),
        concat(lit("Brand#"), pick(3, 25) + 1).as("p_brand"),
        oneOf(4, "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO").as("p_type"),
        (pick(5, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0, 2).as("p_retailprice"))
      case "orders" => base.select(col("id").as("o_orderkey"), pick(1, n("customer")).as("o_custkey"),
        oneOf(2, "O", "P", "F").as("o_orderstatus"), money(3, 1000.0, 500000.0).as("o_totalprice"),
        day(4, "1995-01-01", 2404).as("o_orderdate"),
        oneOf(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").as("o_orderpriority"))
      case "lineitem" => base.select(pick(1, n("orders")).as("l_orderkey"),
        pick(2, n("part")).as("l_partkey"), pick(3, n("supplier")).as("l_suppkey"),
        (pick(4, 7) + 1).cast("int").as("l_linenumber"), (pick(5, 50) + 1).cast("double").as("l_quantity"),
        money(6, 900.0, 105000.0).as("l_extendedprice"), (pick(7, 11) / 100.0).as("l_discount"),
        (pick(8, 9) / 100.0).as("l_tax"), oneOf(9, "A", "N", "R").as("l_returnflag"),
        oneOf(10, "O", "F").as("l_linestatus"), day(11, "1995-01-02", 2498).as("l_shipdate"))
      case "events" =>
        // ts rises with event_id over 30 days; value ~ Exp(mean 50)
        val stepMicros = 30.0 * 86400e6 / n("events")
        base.select(col("id").as("event_id"),
          timestamp_micros((lit(1704067200000000L) +
            ((col("id") + unif(1)) * stepMicros).cast("long"))).cast("timestamp_ntz").as("ts"),
          pick(2, nUsers).as("user_id"),
          oneOf(3, "click", "error", "purchase", "signup", "view").as("event_type"),
          round(-log(lit(1.0) - unif(4)) * 50.0, 2).as("value"),
          format_string("{\"k\": %d}", pick(5, 100)).as("props"))
      case "documents" =>
        // one doc in 20 repeats an earlier doc's text plus " dup"
        val dup = pmod(col("id"), lit(20L)) === 19
        val src = when(dup, pmod(h(1), col("id"))).otherwise(col("id"))
        val words = transform(sequence(lit(1), (pmod(xxhash64(lit(seed), src, lit(2)), lit(91L)) + 10).cast("int")),
          i => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit(seed), src, lit(3), i), lit(Vocab.size.toLong)) + 1).cast("int")))
        val text = concat_ws(" ", words, when(dup, lit("dup")))
        base.select(col("id").as("doc_id"), text.as("text"),
          when(unif(4) < 0.4, lit("en")).otherwise(oneOf(5, "zh", "de", "es", "fr")).as("lang"),
          concat(lit("src"), pmod(col("id"), lit(20L))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // unit vectors with Irwin-Hall (sum of 12 uniforms) coordinates
        val raw = transform(sequence(lit(0), lit(63)), j =>
          aggregate(sequence(lit(1), lit(12)), lit(0.0), (acc, m) =>
            acc + pmod(xxhash64(lit(seed), col("id"), lit(1), j, m), lit(1048576L)) / 1048576.0) - 6.0)
        base.select(col("id").as("vec_id"), raw.as("raw"), pick(2, 10).cast("int").as("label"))
          .select(col("vec_id"), transform(col("raw"), x =>
            (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y))).cast("float")).as("embedding"),
            col("label"))
    }
  }
}
