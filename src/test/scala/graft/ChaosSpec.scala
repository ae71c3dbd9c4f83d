package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.operators.{AsOfJoin, PrefixSum, Salting, WindowOps}
import graft.similarity.Dedup
import graft.tools.{Chaos, Scratch}

/** Task-retry determinism, tested by actually killing tasks.
  *
  * Every operator here claims bit-identical output under task
  * re-execution (speculation, preemption, executor loss). These specs
  * make that happen for real: the suite runs its own session with the
  * `local[4,2]` master — plain local[N] schedules with maxFailures=1
  * and fails the whole job on the first throw, so NO spec on the
  * shared session can ever exercise a retry — and
  * [[Chaos.failFirstAttempt]] throws on the first attempt of every
  * task evaluating the wrapped input. Each case asserts (a) the
  * injection actually fired (retry
  * accumulator ≥ 1 — a spec that never killed anything proves
  * nothing) and (b) the output equals the clean run row-for-row.
  *
  * The cases are chosen for their failure surface, not coverage bulk:
  * sort+zipWithIndex (index stability), the two-job partition-total
  * fold (cross-JOB recompute consistency), salted join (synthetic-key
  * stability), as-of union+window (state packed into one shuffle),
  * hash dedup (first-row-per-key tie), and a retry in the RESULT
  * stage after a shuffle (the exactly-one-commit path).
  */
class ChaosSpec extends RetryingSparkSpec {

  /** Row-for-row comparison + proof the failure was injected. */
  private def assertSurvivesRetry(
      clean: DataFrame, chaotic: DataFrame, acc: LongAccumulator): Unit = {
    val want = clean.collect().map(_.toString).sorted.toSeq
    val got = chaotic.collect().map(_.toString).sorted.toSeq
    assert(acc.value >= 1L,
      "the injected failure never fired — this run exercised no retry")
    assert(got.length == want.length,
      s"retry changed the row count: ${got.length} vs ${want.length}")
    assert(got == want, {
      val missing = want.diff(got).take(3)
      val extra = got.diff(want).take(3)
      s"retry changed rows; missing=$missing extra=$extra"
    })
  }

  test("C1: sort + zipWithIndex id assignment survives a task retry") {
    val transfers = Tables.transfers(spark, SfDir)
    val (chaosIn, acc) = Chaos.failFirstAttempt(transfers)
    assertSurvivesRetry(
      WindowOps.stableIds(transfers, "wallet", "wallet_id"),
      WindowOps.stableIds(chaosIn, "wallet", "wallet_id"),
      acc)
  }

  test("C2: two-pass global running sum survives a retry in BOTH of its jobs") {
    // globalRunningSum evaluates its input twice — the partition-total
    // collect job, then the offset fold — so a first-attempt failure
    // trips once per job and the recomputed partition must carry the
    // SAME rows both times, or offsets and folds disagree
    val docs = Tables.documents(spark, SfDir).select("doc_id", "source", "n_chars")
    val (chaosIn, acc) = Chaos.failFirstAttempt(docs)
    assertSurvivesRetry(
      PrefixSum.globalRunningSum(docs, Seq("doc_id"), "n_chars", "running_chars"),
      PrefixSum.globalRunningSum(chaosIn, Seq("doc_id"), "n_chars", "running_chars"),
      acc)
    assert(acc.value >= 2L,
      s"expected the injection to fire in both jobs, saw ${acc.value}")
  }

  test("C3: salted join survives a retry on the salted (large) side") {
    val orders = Tables.orders(spark, SfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.customer(spark, SfDir)
      .select("c_custkey", "c_name").withColumnRenamed("c_custkey", "o_custkey")
    val (chaosIn, acc) = Chaos.failFirstAttempt(orders)
    assertSurvivesRetry(
      Salting.saltedJoin(orders, customer, Seq("o_custkey"), salts = 4),
      Salting.saltedJoin(chaosIn, customer, Seq("o_custkey"), salts = 4),
      acc)
  }

  test("C4: as-of join survives a retry on the probe side") {
    val probes = Tables.transfers(spark, SfDir)
    val quotes = Tables.prices(spark, SfDir)
      .where(dayofmonth(col("date")) % 3 === 0)
      .select(col("asset"), col("date").as("price_date"), col("price"))
    val (chaosIn, acc) = Chaos.failFirstAttempt(probes)
    assertSurvivesRetry(
      AsOfJoin.asOf(probes, quotes, Seq("asset"), "date", "price_date", Seq("price")),
      AsOfJoin.asOf(chaosIn, quotes, Seq("asset"), "date", "price_date", Seq("price")),
      acc)
  }

  test("C5: exact dedup keeps the same winners across a retry") {
    val docs = Tables.documents(spark, SfDir)
    val (chaosIn, acc) = Chaos.failFirstAttempt(docs)
    assertSurvivesRetry(
      Dedup.exact(docs, "doc_id", "text"),
      Dedup.exact(chaosIn, "doc_id", "text"),
      acc)
  }

  test("C7: stateful streaming commits exactly once under TASK retries (not just restarts)") {
    // the restart specs (S2r/S11r/S13e) cover QUERY-level recovery;
    // this kills tasks INSIDE micro-batches: every task of every
    // batch fails its first attempt, so the state store's
    // commit-on-success machinery is exercised on the retry path —
    // a state update that survived a failed attempt would over-admit
    val s = spark // stable identifier for the implicits import
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    val quota = 5
    val docs = Tables.documents(spark, SfDir)
      .select("doc_id", "source", "n_chars")
      .as[graft.streaming.Doc].collect().sortBy(_.doc_id)

    val mem = MemoryStream[graft.streaming.Doc]
    val (chaosIn, acc) = Chaos.failFirstAttempt(mem.toDF())
    val query = graft.streaming.QuotaAdmission(chaosIn.as[graft.streaming.Doc], quota)
      .writeStream.format("memory").queryName("c7_quota")
      .outputMode("append").start()
    try {
      docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val got = spark.table("c7_quota").as[graft.streaming.AdmittedDoc]
        .collect().sortBy(d => (d.source, d.slot))
      val want = docs.groupBy(_.source).toSeq.flatMap { case (_, ds) =>
        ds.sortBy(_.doc_id).take(quota).zipWithIndex.map { case (d, i) =>
          graft.streaming.AdmittedDoc(d.doc_id, d.source, d.n_chars, i + 1L)
        }
      }.sortBy(d => (d.source, d.slot))
      assert(acc.value >= 3L,
        s"expected a retry per micro-batch at least, saw ${acc.value}")
      assert(got.toSeq == want.toSeq,
        "task retries inside micro-batches changed the admitted set")
    } finally query.stop()
  }

  test("C8: versioned snapshot publication survives task retries inside its batches") {
    val s = spark // stable identifier for the implicits import
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import s.implicits._
    import graft.sources.Publish
    val docs = Tables.documents(spark, SfDir)
      .select("doc_id", "source", "n_chars")
      .as[graft.streaming.Doc].collect().sortBy(_.doc_id)
    val root = Scratch.tempDir("graft_chaos_pub") + "/ds"

    val mem = MemoryStream[graft.streaming.Doc]
    val (chaosIn, acc) = Chaos.failFirstAttempt(mem.toDF())
    val query = graft.streaming.PublishStream.start(
      chaosIn, root, keys = Seq("doc_id"), versionCols = Seq(col("n_chars")))
    try {
      val (first, second) = docs.splitAt(docs.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    assert(acc.value >= 2L, s"expected retries in both batches, saw ${acc.value}")
    // exactly one committed version per batch — a retried task must
    // never double-publish or tear the manifest
    assert(Publish.currentVersion(root).contains(2L),
      s"versions diverged under retry: ${Publish.currentVersion(root)}")
    val snap = Publish.read(spark, root).select("doc_id", "source", "n_chars")
      .as[graft.streaming.Doc].collect().sortBy(_.doc_id)
    assert(snap.toSeq == docs.toSeq,
      "published snapshot diverges from the input under task retries")
  }

  test("C10: the BFS loop survives first-attempt kills in its per-round jobs") {
    // QueriesSpec's C9 blanket wraps each query's RESULT, but q83/q84
    // run their rounds as separate driver-side jobs (localCheckpoint per round)
    // BEFORE the result ever evaluates — chaos must ride the loop
    // INPUT to reach those jobs: the persisted symmetrized edge
    // build, each round's frontier-join checkpoint, and the isEmpty
    // loop-control probes all see first-attempt kills here
    import graft.operators.GraphOps
    val o = Tables.orders(spark, SfDir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, SfDir).select(col("l_orderkey"), col("l_suppkey"))
    val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))
    val seeds = Tables.customer(spark, SfDir)
      .where(col("c_custkey") % 50 === 0)
      .select(concat(lit("c:"), col("c_custkey")).as("node"))

    val clean = GraphOps.hopDistances(edges, seeds, maxHops = 4)
    CacheScope.releaseAll(spark): Unit
    val (chaosEdges, accE) = Chaos.failFirstAttempt(edges)
    val (chaosSeeds, accS) = Chaos.failFirstAttempt(seeds)
    val chaotic = GraphOps.hopDistances(chaosEdges, chaosSeeds, maxHops = 4)
    assertSurvivesRetry(clean, chaotic, accE)
    assert(accS.value >= 1L, "the seed-side injection never fired")
    CacheScope.releaseAll(spark): Unit
  }

  test("C11: the PageRank loop is bit-identical under first-attempt kills") {
    // integer fixed-point ranks mean the assertion is exact equality
    // of Longs — any retry-induced drift in the per-round contribution
    // rollup or a torn localCheckpoint block would change bits, not
    // just tolerance. Also exercises the degree/edge persisted tables
    // materializing under kills (their first evaluation is what trips
    // the injection; rounds then re-read the cached blocks).
    import graft.operators.GraphOps
    val o = Tables.orders(spark, SfDir).select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.lineitem(spark, SfDir).select(col("l_orderkey"), col("l_suppkey"))
    val edges = o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(concat(lit("c:"), col("o_custkey")).as("src"),
        concat(lit("s:"), col("l_suppkey")).as("dst"))

    val clean = GraphOps.pageRank(edges, iterations = 4)
    CacheScope.releaseAll(spark): Unit
    val (chaosEdges, acc) = Chaos.failFirstAttempt(edges)
    val chaotic = GraphOps.pageRank(chaosEdges, iterations = 4)
    assertSurvivesRetry(clean, chaotic, acc)
    CacheScope.releaseAll(spark): Unit
  }

  test("C6: a retry in the result stage (post-shuffle) commits exactly once") {
    // chaos on the OUTPUT of an aggregation: the killed task is a
    // shuffle-READ task, so the retry replays reducer input from
    // shuffle files — the exactly-one-commit path speculation relies on
    val rollup = Tables.transfers(spark, SfDir)
      .groupBy("asset").agg(
        sum("net_transfers").as("net"),
        countDistinct("wallet").as("wallets"))
    val clean = rollup.collect().map(_.toString).sorted.toSeq
    val (chaotic, acc) = Chaos.failFirstAttempt(rollup)
    val got = chaotic.collect().map(_.toString).sorted.toSeq
    assert(acc.value >= 1L, "the injected failure never fired")
    assert(got == clean, "post-shuffle retry changed the aggregate")
  }
}
