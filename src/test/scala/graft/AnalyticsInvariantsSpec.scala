package graft

import org.apache.spark.sql.functions._

import graft.tools.Scratch

/** Invariants for the q33-q40 analytics block. */
class AnalyticsInvariantsSpec extends SparkSpec {

  test("q34: sessions within a user are disjoint and gap-separated") {
    val s = SparkEntry.q34Sessionize(spark, SfDir).cache()
    assert(s.where(col("session_end") < col("session_start")).count() == 0)
    // consecutive sessions of one user must be > 30 minutes apart
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("session_id")
    val overlapping = s
      .withColumn("__prev_end", lag("session_end", 1).over(w))
      .where(col("__prev_end").isNotNull &&
        unix_micros(col("session_start")) - unix_micros(col("__prev_end")) <= 30L * 60 * 1000000)
      .count()
    assert(overlapping == 0, "sessions closer than the gap were not merged")
    s.unpersist()
  }

  test("q36: window stats bound the price and n7 caps at 7") {
    val df = SparkEntry.q36MovingAvg(spark, SfDir)
    assert(df.where(col("n7") < 1 || col("n7") > 7).count() == 0)
    assert(df.where(col("ma7") < col("min7") || col("ma7") > col("max7")).count() == 0)
    assert(df.where(col("price") < col("min7") || col("price") > col("max7")).count() == 0)
  }

  test("q37: correlations are within [-1, 1] and pairs ordered") {
    val df = SparkEntry.q37PriceCorrelation(spark, SfDir)
    assert(df.where(abs(col("price_corr")) > 1.000001).count() == 0)
    assert(df.where(col("asset_a") >= col("asset_b")).count() == 0)
  }

  /** Hand-computed correlation panel shared by the q88/q89 specs:
    * 4 complete days with closed-form stats; day 5 is click-only
    * (no pair can use it — dropped under BOTH deletion semantics);
    * day 6 trades only click and view (5.0 each) — the planted fork
    * where PAIRWISE deletion (q89) must use it for exactly the
    * (click, view) pair and LISTWISE deletion (q88) must not.
    * click = 1..4, error = 2·click (corr +1), purchase = 5−click
    * (corr −1), signup constant (corr NULL, cov 0), view a
    * permutation with cov(click,view) = 4/3, corr 0.8. */
  private lazy val corrPanelDir: String = {
    val sql = spark
    import sql.implicits._
    val panel = Seq(
      ("click", 1, 1.0), ("click", 2, 2.0), ("click", 3, 3.0), ("click", 4, 4.0),
      ("error", 1, 2.0), ("error", 2, 4.0), ("error", 3, 6.0), ("error", 4, 8.0),
      ("purchase", 1, 4.0), ("purchase", 2, 3.0), ("purchase", 3, 2.0), ("purchase", 4, 1.0),
      ("signup", 1, 1.0), ("signup", 2, 1.0), ("signup", 3, 1.0), ("signup", 4, 1.0),
      ("view", 1, 1.0), ("view", 2, 3.0), ("view", 3, 2.0), ("view", 4, 4.0),
      ("click", 5, 100.0), // pair-less day: invisible to every semantics
      ("click", 6, 5.0), ("view", 6, 5.0)) // the pairwise/listwise fork
    val dir = Scratch.tempDir("graft_corrpanel")
    panel.toDF("event_type", "day", "value")
      .select(
        monotonically_increasing_id().as("event_id"),
        to_timestamp(format_string("2024-01-%02d 12:00:00", col("day"))).as("ts"),
        lit(1L).as("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q88: matrix cells match a hand-computed panel; listwise deletion drops incomplete days") {
    val out = SparkEntry.q88CorrMatrix(spark, corrPanelDir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 10, "5 assets must yield exactly C(5,2)=10 pair rows")
    assert(out.values.forall(_.getLong(2) == 4L),
      "listwise deletion: every cell must share n_days=4 (days 5 and 6 dropped)")
    def cell(a: String, b: String): (Double, Double) = {
      val r = out((a, b)); (r.getDouble(3), r.getDouble(4))
    }
    assert(cell("click", "error") == ((1.0, 3.333333)))       // cov = 2·var(click) = 10/3
    assert(cell("click", "purchase") == ((-1.0, -1.666667)))  // cov = -var(click) = -5/3
    assert(cell("click", "view") == ((0.8, 1.333333)))        // cov = 4/3
    assert(cell("error", "purchase") == ((-1.0, -3.333333)))  // cov = -2·var(click) = -10/3
    val signupRow = out(("click", "signup"))
    assert(signupRow.isNullAt(3), "corr against a constant series is NULL")
    assert(signupRow.getDouble(4) == 0.0, "cov against a constant series is 0")
  }

  test("q89: pairwise matrix — one fact scan, no join, and the planted fork from q88") {
    val df = SparkEntry.q89CorrMatrixUnbounded(spark, corrPanelDir)
    // the unbounded form's structural contract: the fact table is
    // scanned ONCE and pair generation is in-row — no join node
    val plan = df.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"expected exactly one fact scan:\n$plan")
    assert(!plan.contains("Join"), s"pair generation must not be a join:\n$plan")

    val out = df.collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.size == 10, "same 10 pair rows as the bounded form")
    def cell(a: String, b: String): (Long, Double, Double) = {
      val r = out((a, b)); (r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    // pairs untouched by day 6 agree with q88 (complete-panel case)
    assert(cell("click", "error") == ((4L, 1.0, 3.333333)))
    assert(cell("click", "purchase") == ((4L, -1.0, -1.666667)))
    assert(cell("error", "purchase") == ((4L, -1.0, -3.333333)))
    // the fork: day 6 (click=5, view=5) joins the (click, view) pair
    // under PAIRWISE deletion — x=(1,2,3,4,5), y=(1,3,2,4,5):
    // cov = 9/4 = 2.25, var = 2.5 each, corr = 0.9 — whereas q88's
    // listwise cell stays (4, 0.8, 1.333333)
    assert(cell("click", "view") == ((5L, 0.9, 2.25)))
    val signupRow = out(("click", "signup"))
    assert(signupRow.getLong(2) == 4L)
    assert(signupRow.isNullAt(3), "corr against a constant series is NULL")
    assert(signupRow.getDouble(4) == 0.0)
  }

  test("q92: windowed corr from the co-moment table matches hand values and is deterministic") {
    val df = SparkEntry.q92CorrWindow(spark, corrPanelDir)
    val out = df.collect()
      .map(r => (r.getDate(0).toString, r.getString(1), r.getString(2)) -> r).toMap

    // day 4: trailing window covers days 1-4 ⇒ the complete-panel
    // cells — (click,view) corr 0.8 over 4 obs, (click,error) exactly 1
    val d4cv = out(("2024-01-04", "click", "view"))
    assert(d4cv.getLong(3) == 4L && d4cv.getDouble(4) == 0.8)
    // day 6: window covers days 1-6; (click,view) gains day 6 (5,5) ⇒
    // x=(1,2,3,4,5), y=(1,3,2,4,5): corr = 0.9 over 5 obs
    val d6cv = out(("2024-01-06", "click", "view"))
    assert(d6cv.getLong(3) == 5L && d6cv.getDouble(4) == 0.9)
    // grain: a pair gets a row only on days IT trades (q85's
    // per-observed-day posture) — day 6 is (click,view) alone, and
    // pair-less day 5 produces no rows at all
    assert(out.keySet.filter(_._1 == "2024-01-06") ==
      Set(("2024-01-06", "click", "view")))
    assert(!out.keySet.exists(_._1 == "2024-01-05"))
    // constant series: NULL corr, never a crash (the q88 ANSI lesson)
    assert(out(("2024-01-04", "click", "signup")).isNullAt(4))

    // bounds + window cap everywhere
    assert(df.where(abs(col("corr7")) > 1.000001).count() == 0)
    assert(df.where(col("n_days") > 7).count() == 0)

    // exact-decimal moments ⇒ bit-deterministic output across runs
    val a = df.collect().map(_.toString).sorted.toSeq
    val b = SparkEntry.q92CorrWindow(spark, corrPanelDir)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "re-evaluation changed bits — moment sums are not exact")
  }

  test("q38: retained users never exceed the cohort size") {
    val df = SparkEntry.q38Retention(spark, SfDir)
    assert(df.where(col("d1_retained") > col("n_users") ||
      col("d7_retained") > col("n_users")).count() == 0)
    val totalUsers = Tables.events(spark, SfDir).select("user_id").distinct().count()
    assert(df.agg(sum("n_users")).head.getLong(0) == totalUsers,
      "cohorts must partition the user base")
  }

  test("q39: funnel stages are monotonically non-increasing") {
    val r = SparkEntry.q39Funnel(spark, SfDir).head
    val (s1, s2, s3) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(s1 >= s2 && s2 >= s3, s"funnel grew: $s1 -> $s2 -> $s3")
    assert(s1 > 0)
  }

  test("q40: exactly 5 ranked terms per doc with >= 5 distinct terms") {
    val df = SparkEntry.q40Tfidf(spark, SfDir).cache()
    assert(df.where(col("rank") < 1 || col("rank") > 5).count() == 0)
    val badDocs = df.groupBy("doc_id").agg(count(lit(1)).as("n"), max("rank").as("mx"))
      .where(col("n") =!= col("mx")).count()
    assert(badDocs == 0, "rank sequence must be dense per doc")
    // a term appearing in every doc has idf = ln(1) = 0
    assert(df.where(col("tfidf") < 0).count() == 0)
    df.unpersist()
  }

  test("q45: approx percentiles land within sketch RANK tolerance of the target") {
    // the KLL-style sketch's guarantee is on RANK, not value: the
    // returned value's rank among the group's values must be within
    // n/accuracy (+slack for value-vs-interpolation semantics) of q·n.
    // A value-space bound would be meaningless in a sparse tail.
    val approx = SparkEntry.q45PercentilesApprox(spark, SfDir)
      .selectExpr("event_type",
        "stack(3, 0.5D, p50_approx, 0.9D, p90_approx, 0.99D, p99_approx) AS (q, v)")
    val ev = Tables.events(spark, SfDir).select("event_type", "value")
    val ranked = approx.join(ev, Seq("event_type"))
      .groupBy("event_type", "q", "v")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") <= col("v"), 1).otherwise(0)).as("rank_le"),
        sum(when(col("value") < col("v"), 1).otherwise(0)).as("rank_lt"))
      .withColumn("target", col("q") * col("n"))
      .withColumn("slack", col("n") / lit(10000) + lit(2))
    val bad = ranked.where(
      col("rank_le") < col("target") - col("slack") ||
        col("rank_lt") > col("target") + col("slack"))
    assert(bad.count() == 0,
      s"approx percentile rank drift: ${bad.collect().mkString(", ")}")
  }

  test("q53: rollup grains reconcile — each grain sums to the grand total") {
    val df = SparkEntry.q53RollupGrains(spark, SfDir).cache()
    val total = Tables.events(spark, SfDir).count()
    assert(df.select("grain").distinct().as[Long](longEncoder).collect().toSet
      == Set(0L, 1L, 3L), "rollup must emit exactly grains 0/1/3")
    val grand = df.where(col("grain") === 3)
    assert(grand.count() == 1 && grand.head.getAs[Long]("n_events") == total,
      "grand-total grain must count every event once")
    val perGrainTotals = df.groupBy("grain").agg(sum("n_events").as("n"))
      .select("n").as[Long](longEncoder).collect().toSet
    assert(perGrainTotals == Set(total),
      s"every grain must partition the fact table: $perGrainTotals != $total")
    df.unpersist()
  }

  test("q54: wide pivot reconciles with the long form") {
    val wide = SparkEntry.q54PivotDaily(spark, SfDir)
    val cols = Seq("click", "error", "purchase", "signup", "view")
    val recon = wide.select(col("date"),
      cols.map(c => coalesce(col(c), lit(0.0))).reduce(_ + _).as("wide_sum"))
    val long = Tables.events(spark, SfDir)
      .groupBy(to_date(col("ts")).as("date"))
      .agg(sum("value").as("long_sum"))
    val bad = recon.join(long, Seq("date"))
      // each wide cell was rounded to 6dp before summing 5 cells
      .where(abs(col("wide_sum") - col("long_sum")) > 3e-6).count()
    assert(bad == 0, "pivoted row sums diverge from the long-form daily sums")
    assert(wide.count() == long.count(), "pivot must keep one row per date")
  }

  test("q55: stratified sample is a deterministic subset at the target rates") {
    val sample = SparkEntry.q55StratifiedSample(spark, SfDir).cache()
    val ev = Tables.events(spark, SfDir)
    assert(sample.join(ev, Seq("event_id"), "left_anti").count() == 0,
      "sample must be a subset of the input")
    val rates = Map("click" -> 0.05, "view" -> 0.10, "error" -> 0.20,
      "purchase" -> 0.50, "signup" -> 1.00)
    val got = sample.groupBy("event_type").agg(count(lit(1)).as("k"))
      .join(ev.groupBy("event_type").agg(count(lit(1)).as("n")), Seq("event_type"))
      .collect()
    got.foreach { r =>
      val (t, k, n) = (r.getString(0), r.getLong(1), r.getLong(2))
      val p = rates(t)
      // binomial tolerance: 4 sigma + 1 (hash is uniform, not seeded RNG)
      val tol = 4 * math.sqrt(n * p * (1 - p)) + 1
      assert(math.abs(k - p * n) <= tol,
        s"stratum $t sampled $k of $n, expected ~${p * n} ± $tol")
    }
    assert(got.find(_.getString(0) == "signup").exists(r => r.getLong(1) == r.getLong(2)),
      "signup stratum must be kept whole at rate 1.0")
    // determinism: re-evaluating yields the identical id set
    val again = SparkEntry.q55StratifiedSample(spark, SfDir)
    assert(sample.select("event_id").exceptAll(again.select("event_id")).count() == 0)
    sample.unpersist()
  }

  test("q56: sketch estimates track exact distincts; sketches merge losslessly") {
    val df = SparkEntry.q56ApproxDistinct(spark, SfDir)
    val exact = Tables.events(spark, SfDir)
      .groupBy("event_type").agg(countDistinct("user_id").as("exact_users"))
    val bad = df.join(exact, Seq("event_type"))
      .where(abs(col("approx_users") - col("exact_users")) >
        col("exact_users") * 0.05 + lit(2) ||
        abs(col("hll_users") - col("exact_users")) >
          col("exact_users") * 0.05 + lit(2))
      .count()
    assert(bad == 0, "sketch estimate drifted > 5% from the exact distinct count")
    // mergeability — THE property that makes sketches the 100 TB form:
    // per-day partial sketches unioned ≡ one direct sketch
    val ev = Tables.events(spark, SfDir)
    val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged_users"))
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("direct_users"))
    val diverged = merged.join(direct, Seq("event_type"))
      .where(col("merged_users") =!= col("direct_users")).count()
    assert(diverged == 0, "unioned daily sketches must equal the direct sketch")
  }

  test("q57: window suite internal consistency") {
    val df = SparkEntry.q57WindowSuite(spark, SfDir).cache()
    assert(df.where(col("quartile") < 1 || col("quartile") > 4).count() == 0)
    assert(df.where(col("pct_rank") < 0 || col("pct_rank") > 1).count() == 0)
    assert(df.where(col("cume") <= 0 || col("cume") > 1).count() == 0)
    // first_price is constant per asset and equals the min-date price
    val firsts = df.groupBy("asset").agg(
      countDistinct("first_price").as("n_firsts"),
      min_by(col("price"), col("date")).as("p0"),
      min_by(col("first_price"), col("date")).as("f0"))
    assert(firsts.where(col("n_firsts") =!= 1 || col("p0") =!= col("f0")).count() == 0,
      "first_price must be the asset's min-date price, constant per asset")
    // lead/lag are inverse shifts: lead at row i equals price at i+1
    val w = org.apache.spark.sql.expressions.Window.partitionBy("asset").orderBy("date")
    val shifted = df.withColumn("__next_actual", lead("price", 1).over(w))
      .where(col("next_price") =!= col("__next_actual")).count()
    assert(shifted == 0, "next_price must equal the following row's price")
    df.unpersist()
  }

  test("q58: chunks cover every doc and reconstruct the original text") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val chunks = SparkEntry.q58DocChunks(spark, SfDir).cache()
    // chunk count per doc = ceil(max(len,1)/stride)
    val counts = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(docs, Seq("doc_id"))
      .withColumn("expect",
        ceil(greatest(length(col("text")), lit(1)) / lit(150.0)).cast("long"))
    assert(counts.where(col("n_chunks") =!= col("expect")).count() == 0,
      "chunk fan-out must be ceil(len/stride) per doc")
    // reconstruction: first `stride` chars of every chunk, in order,
    // concatenated = the original text (overlap carries the tail)
    val rebuilt = chunks
      .groupBy("doc_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("chunk_id"), col("chunk_text")))),
        s => substring(s.getField("chunk_text"), 1, 150))).as("rebuilt"))
    val bad = rebuilt.join(docs, Seq("doc_id"))
      .where(col("rebuilt") =!= col("text")).count()
    assert(bad == 0, "stride-prefix concatenation must reconstruct the document")
    chunks.unpersist()
  }

  test("q59: shard assignment is a bijection with dense per-shard positions") {
    val df = SparkEntry.q59ShardAssign(spark, SfDir).cache()
    val total = Tables.documents(spark, SfDir).count()
    assert(df.count() == total && df.select("doc_id").distinct().count() == total,
      "every doc must get exactly one shard slot")
    assert(df.where(col("shard") < 0 || col("shard") > 7).count() == 0)
    // positions are dense 1..n within each shard
    val byShard = df.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
    assert(byShard.where(col("mx") =!= col("n") || col("mn") =!= 1).count() == 0,
      "per-shard positions must be dense from 1")
    // the scramble actually interleaves: no shard is ordered by doc_id
    val w = org.apache.spark.sql.expressions.Window.partitionBy("shard").orderBy("pos")
    val monotone = df.withColumn("__prev", lag("doc_id", 1).over(w))
      .groupBy("shard")
      .agg(sum(when(col("__prev") < col("doc_id"), 1).otherwise(0)).as("asc_steps"),
        count(lit(1)).as("n"))
      .where(col("n") >= 3 && col("asc_steps") === col("n") - 1)
    assert(monotone.count() == 0, "a shard preserved input order — scramble is not mixing")
    df.unpersist()
  }

  test("q60: at most K per source, and the kept set dominates the dropped set") {
    val k = 5
    val df = SparkEntry.q60DomainCap(spark, SfDir).cache()
    val perSource = df.groupBy("source").agg(count(lit(1)).as("n"))
    assert(perSource.where(col("n") > k).count() == 0, "quota exceeded")
    val totals = Tables.documents(spark, SfDir).groupBy("source").agg(count(lit(1)).as("t"))
    assert(perSource.join(totals, Seq("source"))
      .where(col("n") =!= least(col("t"), lit(k))).count() == 0,
      "a source kept fewer docs than its quota allows")
    // dominance: every kept doc sorts before every dropped doc of its source
    val dropped = Tables.documents(spark, SfDir).select("doc_id", "source", "n_chars")
      .join(df.select("doc_id"), Seq("doc_id"), "left_anti")
    val worstKept = df.groupBy("source")
      .agg(min(struct(col("n_chars"), (-col("doc_id")).as("nid"))).as("wk"))
    val bad = dropped.join(worstKept, Seq("source"))
      .where(struct(col("n_chars"), (-col("doc_id")).as("nid")) > col("wk"))
    assert(bad.count() == 0, "a dropped doc outranks a kept doc of the same source")
    df.unpersist()
  }

  test("q61: hashed-shingle join equals the raw-string join (no collision damage)") {
    val got = SparkEntry.q61Decontaminate(spark, SfDir).cache()
    assert(got.count() > 0, "fixture must contain contaminated pairs")
    assert(got.where(col("train_doc") % 20 === 0 || col("eval_doc") % 20 =!= 0).count() == 0,
      "membership leak between train and eval sides")
    assert(got.where(col("shared_shingles") < 5).count() == 0)
    // recompute with RAW shingle strings as the join key
    val docs = Tables.documents(spark, SfDir)
    def sh(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column, out: String) =
      graft.similarity.Dedup.shingles(
        docs.where(f(col("doc_id") % 20)), "doc_id", "text", 3)
        .select(col("doc_id").as(out), col("shingle"))
    val raw = sh(_ =!= 0, "train_doc").join(sh(_ === 0, "eval_doc"), "shingle")
      .groupBy("train_doc", "eval_doc").agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= 5)
    assert(got.exceptAll(raw).count() == 0 && raw.exceptAll(got).count() == 0,
      "hashed join diverges from raw-shingle join")
    got.unpersist()
  }

  test("q69: TWAP is bounded by the quote extrema and weights cover the span") {
    val twap = SparkEntry.q69Twap(spark, SfDir)
    val quotes = Tables.prices(spark, SfDir)
      .where(dayofmonth(col("date")) % 3 === 0)
    val ext = quotes.groupBy("asset")
      .agg(min("price").as("pmin"), max("price").as("pmax"),
        count(lit(1)).as("n"), min("date").as("d0"), max("date").as("d1"))
    val joined = twap.join(ext, Seq("asset"))
    assert(joined.where(col("twap") < col("pmin") - 1e-6 ||
      col("twap") > col("pmax") + 1e-6).count() == 0,
      "TWAP must lie within the quote price range")
    assert(joined.where(col("n_quotes") =!= col("n")).count() == 0)
    // hold periods tile the span exactly: sum(gaps) + final 1-day hold
    assert(joined.where(col("days_covered") =!=
      datediff(col("d1"), col("d0")) + 1).count() == 0,
      "holding days must tile [first, last] quote span plus the final day")
  }

  test("q70: candle invariants — low <= open/close <= high, weeks partition days") {
    val c = SparkEntry.q70WeeklyOhlc(spark, SfDir).cache()
    assert(c.where(col("low") > col("high") ||
      col("open") < col("low") || col("open") > col("high") ||
      col("close") < col("low") || col("close") > col("high")).count() == 0,
      "OHLC ordering violated")
    assert(c.where(col("n_days") < 1 || col("n_days") > 7).count() == 0,
      "a week cannot hold more than 7 daily rows")
    val totalDays = Tables.prices(spark, SfDir).count()
    assert(c.agg(sum("n_days")).head.getLong(0) == totalDays,
      "weekly candles must partition the daily series")
    c.unpersist()
  }

  private val longEncoder = org.apache.spark.sql.Encoders.scalaLong

  test("q149: EWMA hand-case — gap-aware halving weights, 15-day truncation") {
    val sess = spark
    import sess.implicits._
    // one asset, prices on days 0, 1, 3 (gap at 2), and 20 (isolated
    // past the 15-day horizon of everything earlier)
    def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")
    val ev = Seq(
      (1L, ts(0), 7L, "a", 10.0, ""), (2L, ts(1), 7L, "a", 20.0, ""),
      (3L, ts(3), 7L, "a", 40.0, ""), (4L, ts(20), 7L, "a", 80.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dir = Scratch.tempDir("graft_ewma")
    try {
      ev.write.parquet(s"$dir/events.parquet")
      val got = SparkEntry.q149Ewma(spark, dir)
        .select(col("date").cast("string"), col("n_obs"), col("ewma"))
        .as[(String, Long, Double)].collect()
        .map { case (d, n, e) => d -> ((n, e)) }.toMap
      // day 0: itself only
      assert(got("2024-01-01") == ((1L, 10.0)))
      // day 1: w(0)=2^15 for day1, 2^14 for day0 → (2·20+10)/3
      assert(got("2024-01-02") == ((2L, BigDecimal((2.0 * 20 + 10) / 3)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      // day 3: weights 2^15, 2^13, 2^12 → (8·40+2·20+1·10)/11
      assert(got("2024-01-04") == ((3L, BigDecimal((8.0 * 40 + 2 * 20 + 10) / 11)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
      // day 20: everything else is >15 days back — truncated away
      assert(got("2024-01-21") == ((1L, 80.0)))
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("q152: transitions conserve events; per-row ppm floor-bounded") {
    val t = SparkEntry.q152TransitionMatrix(spark, SfDir).cache()
    try {
      // every non-terminal event is exactly one transition:
      // Σn = |events| − |users with ≥1 event|
      val ev = Tables.events(spark, SfDir)
      val want = ev.count() - ev.select("user_id").distinct().count()
      assert(t.agg(sum("n")).collect()(0).getLong(0) == want)
      // floor division: per-from ppm sums land in (1e6 − rows, 1e6]
      val rows = t.groupBy("from_type")
        .agg(sum("p_ppm").as("s"), count(lit(1)).as("k"))
        .where(col("s") > 1000000L || col("s") <= lit(1000000L) - col("k"))
      assert(rows.count() == 0, "ppm rows don't sum to ~1e6 per from_type")
    } finally { t.unpersist(): Unit }
  }

  test("q153: attribution conserves purchases and revenue") {
    val a = SparkEntry.q153Attribution(spark, SfDir).cache()
    try {
      val p = Tables.events(spark, SfDir).where(col("event_type") === "purchase")
      assert(a.agg(sum("n_purchases")).collect()(0).getLong(0) == p.count(),
        "every purchase must be attributed exactly once (incl. organic)")
      val wantRev = p.agg(
        sum(round(col("value"), 6).cast("decimal(18,6)")).cast("double"))
        .collect()(0).getDouble(0)
      val gotRev = a.agg(sum("attributed_revenue")).collect()(0).getDouble(0)
      assert(math.abs(gotRev - wantRev) < 1e-6, s"revenue leak: $gotRev vs $wantRev")
      // touch types are the three touches + organic only
      val types = a.select("touch_type").collect().map(_.getString(0)).toSet
      assert(types.subsetOf(Set("click", "view", "signup", "organic")))
    } finally { a.unpersist(): Unit }
  }

  test("q169: double-entry ledger nets balance exactly per (date, token)") {
    val l = SparkEntry.q169LedgerNet(spark, SfDir).cache()
    try {
      // every transfer posts +a and −a on the same (date, token), so the
      // full ledger sums to zero there; rows the HAVING removed are exactly
      // zero, so the SURVIVORS must balance too. net_amount is a ≤6-dp
      // decimal presented double — cast back is exact, no float tolerance.
      val unbalanced = l
        .groupBy("date", "token")
        .agg(sum(col("net_amount").cast("decimal(18,6)")).as("s"))
        .where(col("s") =!= BigDecimal(0))
      assert(unbalanced.count() == 0, "a (date, token) ledger does not balance")
      // the HAVING contract: no zero net survives
      assert(l.where(col("net_amount") === 0.0).count() == 0)
      assert(l.count() > 0)
    } finally { l.unpersist(): Unit }
  }
}
