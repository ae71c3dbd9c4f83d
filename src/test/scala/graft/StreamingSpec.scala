package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{DedupStream, EventRollup, RunningBalance, SessionRollup, Transfer, UpsertSink}
import graft.tools.Scratch

/** S1/S2: drive the streaming operators through MemoryStream →
  * writeStream (the real Structured Streaming engine, micro-batched)
  * and assert stream ≡ batch twin on the same sf0.001 data. */
case class Ev(event_id: Long, event_type: String, user_id: Long,
    ts: java.sql.Timestamp, value: Double)

class StreamingSpec extends SparkSpec {

  test("S1: windowed rollup over a stream matches the batch daily rollup") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
      .as[Ev].collect()

    val mem = MemoryStream[Ev]
    val query = EventRollup.daily(mem.toDF())
      .writeStream.format("memory").queryName("s1_rollup")
      .outputMode("complete").start()
    try {
      // two micro-batches to exercise incremental state updates
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()

      val streamed = spark.table("s1_rollup")
      val batch = SparkEntry.q15DailyRollup(spark, SfDir)
        .withColumnRenamed("event_type", "event_type")
      assert(streamed.count() == batch.count())
      val joined = streamed.as("s").join(batch.as("b"), Seq("event_type", "date"))
      val bad = joined.where(
        col("s.n_events") =!= col("b.n_events") ||
          abs(col("s.sum_value") - col("b.sum_value")) > 1e-4 ||
          col("s.min_value") =!= col("b.min_value") ||
          col("s.max_value") =!= col("b.max_value"))
      assert(bad.count() == 0, "stream/batch rollup mismatch")
    } finally query.stop()
  }

  test("S2: stateful running balance matches the batch window") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val transfers = Tables.transfers(spark, SfDir).as[Transfer].collect()
      .sortBy(t => t.date.getTime)

    val mem = MemoryStream[Transfer]
    val query = RunningBalance(mem.toDS())
      .writeStream.format("memory").queryName("s2_balance")
      .outputMode("append").start()
    try {
      // split by date so the second batch continues carried state
      val cut = transfers(transfers.length / 2).date.getTime
      mem.addData(transfers.filter(_.date.getTime <= cut).toIndexedSeq)
      query.processAllAvailable()
      mem.addData(transfers.filter(_.date.getTime > cut).toIndexedSeq)
      query.processAllAvailable()

      val streamed = spark.table("s2_balance")
      val batch = Tables.transfersWithBalance(spark, SfDir)
      assert(streamed.count() == batch.count())
      val joined = streamed.as("s")
        .join(batch.as("b"), Seq("asset", "wallet", "date"))
      val bad = joined.where(
        abs(col("s.balance") - col("b.balance")) > 1e-4 ||
          col("s.transfer_sequence") =!= col("b.transfer_sequence"))
      assert(bad.count() == 0, "stream/batch balance mismatch")
    } finally query.stop()
  }

  test("S4: session_window stream matches the batch sessionizer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
      .as[Ev].collect()

    val mem = MemoryStream[Ev]
    val query = SessionRollup.sessions(mem.toDF())
      .writeStream.format("memory").queryName("s4_sessions")
      .outputMode("complete").start()
    try {
      // split mid-stream so sessions straddling the cut must merge
      // across micro-batches in the session-window state store
      val (first, second) = rows.sortBy(_.ts.getTime).splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()

      val streamed = spark.table("s4_sessions")
      val batch = SparkEntry.q34Sessionize(spark, SfDir)
      assert(streamed.count() == batch.count(), "session count mismatch")
      val joined = streamed.as("s").join(batch.as("b"),
        col("s.user_id") === col("b.user_id") &&
          col("s.session_start") === col("b.session_start"))
      assert(joined.count() == batch.count(), "stream/batch session starts diverge")
      val bad = joined.where(
        col("s.n_events") =!= col("b.n_events") ||
          col("s.session_end") =!= col("b.session_end"))
      assert(bad.count() == 0, "stream/batch session contents diverge")
    } finally query.stop()
  }

  test("S6: streaming keep-first dedup matches the batch key set, one row per key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
      .as[Ev].collect().sortBy(_.ts.getTime)

    val mem = MemoryStream[Ev]
    val query = DedupStream.firstPerKey(mem.toDF())
      .writeStream.format("memory").queryName("s6_dedup")
      .outputMode("append").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()

      val streamed = spark.table("s6_dedup").cache()
      // exactly one survivor per key, and the SAME key set the batch
      // dedupe keeps (which row represents a key differs by design:
      // arrival order vs (ts, event_id) order)
      assert(streamed.groupBy("user_id", "event_type").count()
        .where(col("count") > 1).count() == 0, "duplicate keys in streamed dedup")
      val batchKeys = SparkEntry.q2DedupeRank(spark, SfDir).select("user_id", "event_type")
      val streamKeys = streamed.select("user_id", "event_type")
      assert(streamKeys.count() == batchKeys.count())
      assert(streamKeys.exceptAll(batchKeys).count() == 0, "stream/batch key sets diverge")
    } finally query.stop()
  }

  test("S6b: TTL dedup suppresses within-horizon duplicates") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
      .as[Ev].collect()
    val mem = MemoryStream[Ev]
    val query = DedupStream.firstPerKeyTtl(mem.toDF())
      .writeStream.format("memory").queryName("s6b_dedup")
      .outputMode("append").start()
    try {
      // every row fed twice in one batch: the second copy must vanish
      mem.addData((rows ++ rows).toIndexedSeq)
      query.processAllAvailable()
      val streamed = spark.table("s6b_dedup")
      assert(streamed.groupBy("user_id", "event_type").count()
        .where(col("count") > 1).count() == 0, "TTL dedup let a duplicate through")
      assert(streamed.count() ==
        Tables.events(spark, SfDir).select("user_id", "event_type").distinct().count())
    } finally query.stop()
  }

  test("S7: streaming upsert sink builds the table incrementally and replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
      .as[Ev].collect().sortBy(_.ts.getTime)
    val tableDir = Scratch.tempDir("graft_upsert_table")
    val stagingDir = Scratch.tempDir("graft_upsert_stage")
    val keys = Seq("user_id", "event_type")
    val version = Seq(col("ts"), col("event_id"))

    val mem = MemoryStream[Ev]
    val query = UpsertSink.start(mem.toDF(), tableDir, stagingDir,
      keys, version, partitionCols = Seq("event_type"))
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    def tableState() = spark.read.parquet(tableDir)
      .select("user_id", "event_type", "event_id", "value")
    val want = graft.operators.WindowOps.dedupeFirst(
      Tables.events(spark, SfDir), keys, version.map(_.desc))
      .select("user_id", "event_type", "event_id", "value")
    val got = tableState().cache()
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "incrementally-upserted table diverges from the batch upsert")

    // restartable by construction: re-applying the LAST batch (a crash
    // between sink commit and offset commit replays it) is a no-op
    val secondBatch = rows.drop(rows.length / 2)
      .map(e => (e.event_id, e.event_type, e.user_id, e.ts, e.value))
      .toSeq.toDF("event_id", "event_type", "user_id", "ts", "value")
    graft.sources.Ingest.incrementalRefresh(tableDir, secondBatch,
      keys, version, Seq("event_type"), stagingDir)
    val replayed = tableState()
    assert(replayed.exceptAll(want).count() == 0 && want.exceptAll(replayed).count() == 0,
      "replaying a batch changed the table — the sink is not idempotent")
    got.unpersist()
  }

  test("S15: streaming snapshot publication — versions per batch, replay skipped, readers atomic") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.Publish
    import graft.streaming.PublishStream

    val rows = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
      .as[Ev].collect().sortBy(_.ts.getTime)
    val root = Scratch.tempDir("graft_pubstream") + "/ds"
    val keys = Seq("user_id", "event_type")
    val version = Seq(col("ts"), col("event_id"))

    val mem = MemoryStream[Ev]
    val query = PublishStream.start(mem.toDF(), root, keys, version)
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      val v1 = Publish.currentVersion(root)
      val afterFirst = Publish.read(spark, root).count()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()
      // each non-empty batch commits exactly one new version, with its
      // batch id riding the manifest's atomic flip
      assert(v1.isDefined && Publish.currentVersion(root).exists(_ > v1.get),
        "second batch must publish a new version")
      assert(Publish.lastBatch(root).contains(1L),
        s"live manifest must record the last batch id, got ${Publish.lastBatch(root)}")
      assert(afterFirst <= Publish.read(spark, root).count(),
        "snapshot shrank across batches")
    } finally query.stop()

    // live snapshot ≡ the batch keep-newest upsert over everything
    val want = graft.operators.WindowOps.dedupeFirst(
      Tables.events(spark, SfDir), keys, version.map(_.desc))
      .select("user_id", "event_type", "event_id", "value")
    def snapshot() = Publish.read(spark, root)
      .select("user_id", "event_type", "event_id", "value")
    assert(snapshot().exceptAll(want).count() == 0 &&
      want.exceptAll(snapshot()).count() == 0,
      "published snapshot diverges from the batch upsert")

    // exactly-once at the COMMIT level: replaying an already-committed
    // batch id is REJECTED before any write — no new version appears
    val vBefore = Publish.currentVersion(root).get
    val secondBatch = rows.drop(rows.length / 2)
      .map(e => (e.event_id, e.event_type, e.user_id, e.ts, e.value))
      .toSeq.toDF("event_id", "event_type", "user_id", "ts", "value")
    assert(!PublishStream.applyBatch(secondBatch, 1L, root, keys, version),
      "replayed batch id must be refused")
    assert(Publish.currentVersion(root).contains(vBefore),
      "replay minted a new version — commit-level exactly-once broken")
    // while a NEW batch id (the post-restart continuation) is accepted
    assert(PublishStream.applyBatch(secondBatch.limit(0), 2L, root, keys, version))
    assert(Publish.currentVersion(root).contains(vBefore + 1))
    assert(snapshot().exceptAll(want).count() == 0 &&
      want.exceptAll(snapshot()).count() == 0,
      "empty continuation batch changed the snapshot")

    // superseded versions stay readable (time travel until vacuum)
    val old = spark.read.parquet(
      java.nio.file.Paths.get(root).resolve(s"v=$vBefore").toString)
    assert(old.count() == want.count())
  }

  test("S17: streaming sketch-table maintenance equals the batch build, replay is algebraically idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.SketchTableSink

    val eventsDf = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
    val rows = eventsDf.as[Ev].collect().sortBy(_.ts.getTime)
    val tableDir = Scratch.tempDir("graft_sktbl") + "/t"

    val mem = MemoryStream[Ev]
    val query = SketchTableSink.start(mem.toDF(), tableDir)
    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
    try {
      // three batches with day overlap across the cuts: the merge
      // path (not just bootstrap) is exercised on touched days
      chunks.foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()

    def est(df: org.apache.spark.sql.DataFrame) =
      df.as[(java.sql.Date, Long)].collect().toMap
    val streamed = est(SketchTableSink.rollingEstimate(spark, tableDir))

    // batch twin: the SAME dailySketches aggregation over all rows at
    // once, same read side — register max is order-insensitive, so
    // estimates match exactly however the stream was chopped
    val batchDir = Scratch.tempDir("graft_sktbl_batch") + "/t"
    graft.sources.Sinks.writePartitioned(
      SketchTableSink.dailySketches(eventsDf), batchDir, Seq("day"))
    assert(streamed == est(SketchTableSink.rollingEstimate(spark, batchDir)),
      "maintained table diverges from the batch-built table")

    // and from the registry's q86 over the same facts
    assert(streamed ==
      est(SparkEntry.queries("q86_rolling_distinct_hll")(spark, SfDir)),
      "maintained table diverges from q86")

    // replay: re-merging an already-absorbed batch is a register-max
    // no-op — every estimate unchanged, no transaction log involved
    val replay = chunks.last
      .map(e => (e.event_id, e.event_type, e.user_id, e.ts, e.value))
      .toSeq.toDF("event_id", "event_type", "user_id", "ts", "value")
    SketchTableSink.mergeBatch(replay, tableDir)
    assert(est(SketchTableSink.rollingEstimate(spark, tableDir)) == streamed,
      "replayed batch changed estimates — merge is not idempotent")

    // crash atomicity: the table commits through Publish, so a merge
    // that dies before the pointer flip leaves the live version — and
    // every estimate — untouched (only staging garbage, reaped by the
    // next publish). Simulate the torn write by staging files and
    // dying, then assert nothing moved and a subsequent merge heals.
    val vLive = graft.sources.Publish.currentVersion(tableDir).get
    val staging = java.nio.file.Paths.get(tableDir)
      .resolve(s".staging-v${vLive + 1}")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("part-00000.parquet"),
      Array[Byte](1, 2, 3)): Unit // torn file: not even a parquet footer
    assert(graft.sources.Publish.currentVersion(tableDir).contains(vLive),
      "a dead staging dir must not move the live pointer")
    assert(est(SketchTableSink.rollingEstimate(spark, tableDir)) == streamed,
      "estimates changed while a torn staging dir was present")
    SketchTableSink.mergeBatch(replay, tableDir)
    assert(est(SketchTableSink.rollingEstimate(spark, tableDir)) == streamed,
      "merge after a torn staging dir diverged")
  }

  test("S18: exact aggregate-table maintenance equals the batch build; replay is refused, not absorbed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.AggTableSink
    import graft.sources.Publish

    val eventsDf = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
    val rows = eventsDf.as[Ev].collect().sortBy(_.event_id)
    val root = Scratch.tempDir("graft_aggtbl") + "/t"
    def withDecimal(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("value_d", round(col("value"), 6).cast("decimal(18,6)"))

    val mem = MemoryStream[Ev]
    val query = AggTableSink.start(withDecimal(mem.toDF()), root,
      Seq("event_type"), Seq("value_d"), "n_events")
    val chunks = rows.grouped(math.max(1, rows.length / 3)).toSeq
    try {
      chunks.foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()

    def table(df: org.apache.spark.sql.DataFrame) = df
      .select("event_type", "n_events", "value_d").collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).stripTrailingZeros.toPlainString)).toSet

    val streamed = table(Publish.read(spark, root))
    // decimal addition is exact and commutative, so however the
    // stream was chopped the maintained table equals ONE aggregation
    // over all facts — exact equality, no tolerance
    val batchBuild = table(AggTableSink.partials(
      withDecimal(eventsDf), Seq("event_type"), Seq("value_d"), "n_events"))
    assert(streamed == batchBuild,
      "maintained aggregate diverges from the batch build")

    // replay: addition is NOT idempotent, so exactly-once must come
    // from the commit layer — the replayed id is refused before any
    // arithmetic, and the table (and version pointer) do not move
    val lastId = Publish.lastBatch(root).get
    val vLive = Publish.currentVersion(root).get
    val replay = withDecimal(chunks.last
      .map(e => (e.event_id, e.event_type, e.user_id, e.ts, e.value))
      .toSeq.toDF("event_id", "event_type", "user_id", "ts", "value"))
    assert(!AggTableSink.applyBatch(replay, lastId, root,
      Seq("event_type"), Seq("value_d"), "n_events"))
    assert(Publish.currentVersion(root).contains(vLive),
      "a refused replay must not publish a version")
    assert(table(Publish.read(spark, root)) == streamed)

    // post-restart continuation: the NEXT id is accepted and merges —
    // counts double for the replayed rows' groups, proving the
    // refusal above was the id check, not a content no-op
    assert(AggTableSink.applyBatch(replay, lastId + 1, root,
      Seq("event_type"), Seq("value_d"), "n_events"))
    val after = Publish.read(spark, root)
      .select("event_type", "n_events").as[(String, Long)].collect().toMap
    val replayCounts = replay.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    val before = streamed.map(t => t._1 -> t._2).toMap
    assert(replayCounts.forall { case (g, n) => after(g) == before(g) + n },
      "accepted follow-up batch did not merge additively")

    // stored schema is pinned across versions (no decimal widening)
    val live = Publish.read(spark, root).schema("value_d").dataType
    assert(live == org.apache.spark.sql.types.DecimalType(28, 6),
      s"stored sum type drifted: $live")
  }

  test("S8: streaming ANN index maintenance equals the batch bucket build, replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val emb = Tables.embeddings(spark, SfDir)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as embedding")
      .as[(Long, Seq[Double])].collect()
    val tableDir = Scratch.tempDir("graft_annidx_table")
    val stagingDir = Scratch.tempDir("graft_annidx_stage")

    val mem = MemoryStream[(Long, Seq[Double])]
    val query = graft.streaming.AnnIndexSink.start(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", tableDir, stagingDir)
    try {
      val (first, second) = emb.splitAt(emb.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    def tableState() = spark.read.parquet(tableDir)
      .select(col("vec_id"), col("lsh_table").cast("int"), col("bucket"))
    val want = graft.similarity.Ann
      .lshBucketTable(Tables.embeddings(spark, SfDir), "vec_id", "embedding")
      .select(col("vec_id").cast("long"), col("__table").cast("int"), col("__bucket"))
    val got = tableState().cache()
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream-maintained LSH bucket table diverges from the batch build")

    // replay the second half (crash between sink commit and offset
    // commit): same batchId ⇒ same batch_seq version ⇒ keep-newest
    // upsert is a byte-level no-op
    val secondBatch = emb.drop(emb.length / 2).toSeq.toDF("vec_id", "embedding")
    val buckets = graft.similarity.Ann
      .lshBucketTable(secondBatch, "vec_id", "embedding")
      .select(col("vec_id"), col("__table").as("lsh_table"), col("__bucket").as("bucket"))
      .withColumn("batch_seq", lit(1L))
    graft.sources.Ingest.incrementalRefresh(tableDir, buckets,
      Seq("vec_id", "lsh_table"), Seq(col("batch_seq")), Seq("lsh_table"), stagingDir)
    val replayed = tableState()
    assert(replayed.exceptAll(want).count() == 0 && want.exceptAll(replayed).count() == 0,
      "replaying a vector batch changed the index table")
    got.unpersist()

    // UPDATE through a RESTARTED sink (fresh stream ⇒ batchId resets
    // to 0): the table-derived sequence must still beat every
    // persisted version, or re-embedded vectors would silently keep
    // stale buckets after any checkpoint loss. Negating the vector
    // also flips every sign bit, so half the new buckets are
    // numerically SMALLER — regression for bucket-as-version too.
    val (uid, uvec) = emb.head
    val updBatch = Seq((uid, uvec.map(x => -x)))
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val query2 = graft.streaming.AnnIndexSink.start(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", tableDir, stagingDir)
    try {
      mem2.addData(updBatch.toIndexedSeq)
      query2.processAllAvailable()
    } finally query2.stop()
    val afterUpd = tableState().where(col("vec_id") === uid)
    val wantUpd = graft.similarity.Ann
      .lshBucketTable(updBatch.toDF("vec_id", "embedding"), "vec_id", "embedding")
      .select(col("vec_id"), col("__table").cast("int"), col("__bucket"))
    assert(afterUpd.exceptAll(wantUpd).count() == 0 && wantUpd.exceptAll(afterUpd).count() == 0,
      "re-embedded vector kept stale bucket rows after sink restart")
  }

  test("S22: streaming ADC search — codes table equals the batch encode, " +
      "search equals q116, re-embed replaces, replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val embDf = Tables.embeddings(spark, SfDir)
    val emb = embDf
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as embedding")
      .as[(Long, Seq[Double])].collect()
    val cb = graft.similarity.Pq.trainCodebook(
      embDf, "vec_id", "embedding", 8, 8, 16, iters = 2)
    val tableDir = Scratch.tempDir("graft_adc_table")
    val stagingDir = Scratch.tempDir("graft_adc_stage")

    val mem = MemoryStream[(Long, Seq[Double])]
    val query = graft.streaming.AdcSearchStream.start(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cb, 8, 8, tableDir, stagingDir)
    try {
      val (first, second) = emb.splitAt(emb.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    def tableState() = spark.read.parquet(tableDir)
      .select(col("vec_id"), col("sub").cast("int"), col("code"))
    val want = graft.similarity.Pq.assign(
      graft.similarity.Pq.subVectors(embDf, "vec_id", "embedding", 8, 8),
      cb, "vec_id")
    val got = tableState().cache()
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "stream-maintained codes table diverges from the batch encode")

    // serving: top-5 from the maintained table ≡ the q116 registry
    // answer (same probes, same codebook, codes never re-derived)
    val probes = embDf.where(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val served = graft.streaming.AdcSearchStream.search(
      spark, tableDir, probes, "probe_id", "embedding", "vec_id", cb, 8, 8, topK = 5)
    val q116 = SparkEntry.q116PqAdcKnn(spark, SfDir)
    assert(served.exceptAll(q116).count() == 0 && q116.exceptAll(served).count() == 0,
      "ADC search over the maintained table diverges from the q116 answer")

    // replay the second half at its original sequence: keep-newest
    // upsert re-derives identical codes — a content-level no-op
    val secondBatch = emb.drop(emb.length / 2).toSeq.toDF("vec_id", "embedding")
    val replayCodes = graft.similarity.Pq.assign(
        graft.similarity.Pq.subVectors(secondBatch, "vec_id", "embedding", 8, 8),
        cb, "vec_id")
      .withColumn("batch_seq", lit(1L))
    graft.sources.Ingest.incrementalRefresh(tableDir, replayCodes,
      Seq("vec_id", "sub"), Seq(col("batch_seq")), Seq("sub"), stagingDir)
    val replayed = tableState()
    assert(replayed.exceptAll(want).count() == 0 && want.exceptAll(replayed).count() == 0,
      "replaying a vector batch changed the codes table")
    got.unpersist()

    // re-embed one vector through a RESTARTED sink: its m code rows
    // must be replaced (table-derived sequence beats every persisted
    // version even though the new stream's batchId resets to 0)
    val (uid, uvec) = emb.head
    val updBatch = Seq((uid, uvec.map(x => -x)))
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val query2 = graft.streaming.AdcSearchStream.start(
      mem2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cb, 8, 8, tableDir, stagingDir)
    try {
      mem2.addData(updBatch.toIndexedSeq)
      query2.processAllAvailable()
    } finally query2.stop()
    val afterUpd = tableState().where(col("vec_id") === uid)
    val wantUpd = graft.similarity.Pq.assign(
      graft.similarity.Pq.subVectors(
        updBatch.toDF("vec_id", "embedding"), "vec_id", "embedding", 8, 8),
      cb, "vec_id")
    assert(afterUpd.count() == 8)
    assert(afterUpd.exceptAll(wantUpd).count() == 0 && wantUpd.exceptAll(afterUpd).count() == 0,
      "re-embedded vector kept stale code rows after sink restart")
  }

  test("S8: conflicting same-id updates in one batch resolve deterministically; seq read failures abort") {
    import spark.implicits._
    // two DIFFERENT embeddings for one id in a single micro-batch: the
    // winner must be replay-stable (lexicographically greatest
    // payload), not dropDuplicates' arbitrary row — a crash-replay
    // that re-picks the other row would write different buckets at a
    // higher seq, breaking the no-op claim
    val conflicted = Seq(
      (1L, Seq(0.1, 0.9)), (1L, Seq(0.7, -0.2)), (2L, Seq(0.5, 0.5)))
      .toDF("vec_id", "embedding")
    val winners = graft.streaming.AnnIndexSink
      .canonicalBatch(conflicted, "vec_id", "embedding")
      .as[(Long, Seq[Double])].collect().toMap
    assert(winners(1L) == Seq(0.7, -0.2), "winner is not the lexicographic max payload")
    assert(winners(2L) == Seq(0.5, 0.5))
    // shuffled input order picks the SAME winner
    val winners2 = graft.streaming.AnnIndexSink
      .canonicalBatch(
        Seq((1L, Seq(0.7, -0.2)), (2L, Seq(0.5, 0.5)), (1L, Seq(0.1, 0.9)))
          .toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .as[(Long, Seq[Double])].collect().toMap
    assert(winners == winners2, "intra-batch winner depends on row order")

    // missing table ⇒ sequence starts at 0
    val missing = Scratch.tempDir("graft_annidx_seq") + "/never_written"
    assert(graft.streaming.AnnIndexSink.nextBatchSeq(spark, missing) == 0L)
    // a populated-but-unreadable table must ABORT the batch, not
    // silently reset the sequence to 0 (which would version the batch
    // below the table's high-water mark and keep stale buckets)
    val corrupt = java.nio.file.Paths.get(Scratch.tempDir("graft_annidx_corrupt"))
    java.nio.file.Files.write(
      corrupt.resolve("part-00000.parquet"), "not a parquet file".getBytes)
    intercept[Exception] {
      graft.streaming.AnnIndexSink.nextBatchSeq(spark, corrupt.toString)
    }
  }

  test("S5: file sink + checkpoint survives a mid-stream restart exactly-once") {
    val events = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
    val batch = SparkEntry.q15DailyRollup(spark, SfDir).cache()
    val expect = batch.count()

    // the staging/stop/restart/sentinel mechanics live in
    // DurableReplay (shared with the runnable StreamDemo)
    val (out0, _) = graft.streaming.DurableReplay.run(spark, events, expect)
    val out = out0.cache()
    // exactly-once: the restart must not have double-written a window
    assert(out.groupBy("event_type", "date").count().where(col("count") > 1).count() == 0,
      "duplicate windows after restart")
    assert(out.count() == expect, "missing windows after restart")
    val joined = out.as("s").join(batch.as("b"), Seq("event_type", "date"))
    val bad = joined.where(
      col("s.n_events") =!= col("b.n_events") ||
        abs(col("s.sum_value") - col("b.sum_value")) > 1e-4 ||
        col("s.min_value") =!= col("b.min_value") ||
        col("s.max_value") =!= col("b.max_value"))
    assert(bad.count() == 0, "recovered stream diverges from batch")
  }

  test("S10: streaming sketch rollup equals the batch sketch exactly, with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val events = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
    val rows = events.as[Ev].collect()

    val mem = MemoryStream[Ev]
    val query = graft.streaming.SketchRollup.distinctUsers(mem.toDF())
      .writeStream.format("memory").queryName("s10_sketch")
      .outputMode("complete").start()
    try {
      val (first, second) = rows.splitAt(rows.length / 2)
      mem.addData(first.toIndexedSeq)
      query.processAllAvailable()
      mem.addData(second.toIndexedSeq)
      query.processAllAvailable()

      val streamed = spark.table("s10_sketch")
      val batch = graft.streaming.SketchRollup.distinctUsers(events)
      // register-level sketch union is commutative + idempotent →
      // incremental micro-batch merging must land on the SAME estimate
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "streaming sketch estimate diverges from the batch sketch")
      // and the estimate actually tracks the exact count
      val exact = events.groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_users"))
      val bad = streamed.join(exact, Seq("event_type"))
        .where(abs(col("approx_users") - col("exact_users")) >
          col("exact_users") * 0.05 + lit(2)).count()
      assert(bad == 0, "sketch estimate drifted > 5% from exact")
    } finally query.stop()
  }

  test("S11: streaming quota admission caps each source across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val quota = 5
    val docs = Tables.documents(spark, SfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[graft.streaming.Doc].collect().sortBy(_.doc_id)

    val mem = MemoryStream[graft.streaming.Doc]
    val query = graft.streaming.QuotaAdmission(mem.toDS(), quota)
      .writeStream.format("memory").queryName("s11_quota")
      .outputMode("append").start()
    try {
      // 3 micro-batches: quotas must fill ACROSS batch boundaries
      docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val got = spark.table("s11_quota").as[graft.streaming.AdmittedDoc]
        .collect()
      val bySource = got.groupBy(_.source)
      val totals = docs.groupBy(_.source).map { case (s, d) => s -> d.length }
      // per-source: exactly min(quota, available), dense slots 1..k
      totals.foreach { case (s, n) =>
        val adm = bySource.getOrElse(s, Array.empty)
        assert(adm.length == math.min(quota, n),
          s"source $s admitted ${adm.length} of $n at quota $quota")
        assert(adm.map(_.slot).sorted.toSeq == (1L to adm.length.toLong),
          s"source $s slots not dense")
      }
      // arrival==doc_id order here, so the admitted set is exactly the
      // first-K doc_ids per source — replay-deterministic
      val wantIds = docs.groupBy(_.source).values
        .flatMap(_.sortBy(_.doc_id).take(quota).map(_.doc_id)).toSet
      assert(got.map(_.doc_id).toSet == wantIds,
        "admitted set must be the first K doc_ids per source")
    } finally query.stop()
  }

  test("S2t: TTL balance closes out idle keys, bounds state, and restarts epochs") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{BalanceEvent, RunningBalanceTtl, TransferTs}
    def ts(day: Int) = new java.sql.Timestamp(86400000L * day)

    val mem = MemoryStream[TransferTs]
    val query = RunningBalanceTtl(mem.toDS(), java.time.Duration.ofDays(5),
      watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName("s2t").outputMode("append").start()
    try {
      // batch 1: wallets 1 and 2 both active
      mem.addData(Seq(
        TransferTs("x", 1L, ts(1), 10.0), TransferTs("x", 2L, ts(1), 5.0),
        TransferTs("x", 1L, ts(2), -3.0), TransferTs("x", 2L, ts(2), 1.0)))
      query.processAllAvailable()
      // batch 2: only wallet 1, 28 days later — the watermark passes
      // wallet 2's idle horizon (last event day 2 + 5 idle = day 7)
      mem.addData(Seq(TransferTs("x", 1L, ts(30), 2.0)))
      query.processAllAvailable()
      query.processAllAvailable() // let the no-data batch fire timeouts

      val afterClose = spark.table("s2t").as[BalanceEvent].collect()
      val bClose = afterClose.filter(e => e.wallet == 2L && e.is_closeout)
      assert(bClose.length == 1, s"idle wallet must close out exactly once: ${afterClose.toSeq}")
      assert(bClose.head.balance == 6.0 && bClose.head.transfer_sequence == 2L,
        "close-out must carry the FINAL balance and sequence")
      assert(bClose.head.ts == ts(2), "close-out rides the key's last event time")
      assert(!afterClose.exists(e => e.wallet == 1L && e.is_closeout),
        "an active key must not close out")

      // bounded state, observably: the store grew to 2 keys, then the
      // eviction dropped it back to the 1 ACTIVE key
      val stateRows = query.recentProgress.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal)
      assert(stateRows.max == 2, s"both keys must have held state: ${stateRows.toSeq}")
      assert(stateRows.last == 1, s"evicted key must leave the store: ${stateRows.toSeq}")

      // the evicted key reappears → FRESH epoch (documented restart)
      mem.addData(Seq(TransferTs("x", 2L, ts(31), 7.0)))
      query.processAllAvailable()
      val reborn = spark.table("s2t").as[BalanceEvent].collect()
        .filter(e => e.wallet == 2L && !e.is_closeout && e.ts == ts(31))
      assert(reborn.length == 1 && reborn.head.balance == 7.0 &&
        reborn.head.transfer_sequence == 1L,
        "a reappearing key starts a fresh epoch — balance and sequence restart")
      // and the close-out ledger stitches the epochs: final true balance
      assert(bClose.head.balance + reborn.head.balance == 13.0)
    } finally query.stop()
  }

  test("S14: timer-based close-out balance (v2) ≡ the EventTimeTimeout form (v1)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{BalanceEvent, RunningBalanceTtl, RunningBalanceTtlV2, TransferTs}
    def ts(day: Int) = new java.sql.Timestamp(86400000L * day)
    // same 3-phase scenario as S2t: activity, idle-eviction, rebirth
    val batches = Seq(
      Seq(TransferTs("x", 1L, ts(1), 10.0), TransferTs("x", 2L, ts(1), 5.0),
        TransferTs("x", 1L, ts(2), -3.0), TransferTs("x", 2L, ts(2), 1.0)),
      Seq(TransferTs("x", 1L, ts(30), 2.0)),
      Seq(TransferTs("x", 2L, ts(31), 7.0)))

    def run(name: String, f: org.apache.spark.sql.Dataset[TransferTs] =>
        org.apache.spark.sql.Dataset[BalanceEvent]): Set[BalanceEvent] = {
      val mem = MemoryStream[TransferTs]
      val query = f(mem.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        batches.foreach { b =>
          mem.addData(b.toIndexedSeq)
          query.processAllAvailable()
        }
        query.processAllAvailable()
        spark.table(name).as[BalanceEvent].collect().toSet
      } finally query.stop()
    }

    val v1 = run("s14_v1",
      ds => RunningBalanceTtl(ds, java.time.Duration.ofDays(5), "0 seconds"))

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val v2 = try run("s14_v2",
      ds => RunningBalanceTtlV2(ds, java.time.Duration.ofDays(5), "0 seconds"))
    finally oldProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }

    assert(v1 == v2,
      s"v2 timer close-out diverges from v1:\n  v1-only=${v1 -- v2}\n  v2-only=${v2 -- v1}")
    // and the scenario is non-trivial: a close-out AND a rebirth happened
    assert(v1.exists(_.is_closeout) && v1.exists(e => e.ts == ts(31) &&
      e.transfer_sequence == 1L))
  }

  test("S2r: running-balance state survives a checkpoint restart (continues, not resets)") {
    import spark.implicits._
    val transfers = Tables.transfers(spark, SfDir)
      .select("asset", "wallet", "date", "net_transfers")
    val dates = transfers.select("date").distinct().orderBy("date")
      .as[java.sql.Date].collect()
    val cut = dates(dates.length / 2)
    val first = transfers.where(col("date") <= lit(cut))
    val second = transfers.where(col("date") > lit(cut))
    // fixture sanity: the restart boundary must split live keys, or
    // the restored state would never be consulted
    val straddlers = first.select("asset", "wallet").distinct()
      .intersect(second.select("asset", "wallet").distinct()).count()
    assert(straddlers > 0, "no key has rows on both sides of the restart")

    val out0 = graft.streaming.DurableReplay.runStateful(spark, first, second, "date",
      df => { import df.sparkSession.implicits._; RunningBalance(df.as[Transfer]).toDF })
    val out = out0.cache()
    try {
      // direct reset detector: a key with pre-restart rows whose
      // post-restart sequence restarts at 1 means the state store came
      // back empty
      val resetLike = out.where(col("date") > lit(cut) && col("transfer_sequence") === 1)
        .join(first.select("asset", "wallet").distinct(), Seq("asset", "wallet"), "left_semi")
        .count()
      assert(resetLike == 0,
        "post-restart transfer_sequence restarted at 1 for a pre-restart key — state reset")

      // full equivalence with the batch window twin: balances must
      // carry ACROSS the restart, exactly-once (no dup rows either)
      val batch = Tables.transfersWithBalance(spark, SfDir)
      assert(out.count() == batch.count(), "row count diverges after restart")
      val joined = out.as("s").join(batch.as("b"), Seq("asset", "wallet", "date"))
      val bad = joined.where(
        abs(col("s.balance") - col("b.balance")) > 1e-4 ||
          col("s.transfer_sequence") =!= col("b.transfer_sequence"))
      assert(bad.count() == 0, "recovered stream balance diverges from batch window")
    } finally { out.unpersist(): Unit }
  }

  test("S11r: quota counters survive a checkpoint restart (fill across, never exceed)") {
    import spark.implicits._
    // sf0.001 documents: 20 sources × 25 docs, ids round-robin by
    // source — a one-third cut leaves each source ~8 admitted, so
    // quota 12 puts EVERY source mid-quota at the restart boundary
    val quota = 12
    val docs = Tables.documents(spark, SfDir).select("doc_id", "source", "n_chars")
    val ids = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
    val cut = ids(ids.length / 3)
    val first = docs.where(col("doc_id") <= cut)
    val second = docs.where(col("doc_id") > cut)
    val firstCounts = first.groupBy("source").count().as[(String, Long)].collect().toMap
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    // fixture sanity: some source must be mid-quota at the boundary —
    // that's the counter whose restored value decides over/under-admission
    assert(totals.exists { case (s, n) =>
      val f = firstCounts.getOrElse(s, 0L); f < quota && n > f
    }, "no source is mid-quota at the restart boundary")

    val out = graft.streaming.DurableReplay.runStateful(spark, first, second, "doc_id",
      df => { import df.sparkSession.implicits._
        graft.streaming.QuotaAdmission(df.as[graft.streaming.Doc], quota).toDF })
      .as[graft.streaming.AdmittedDoc].collect()

    val bySource = out.groupBy(_.source)
    totals.foreach { case (s, n) =>
      val adm = bySource.getOrElse(s, Array.empty).toSeq
      // a reset counter would admit up to `quota` MORE after restart
      assert(adm.length.toLong == math.min(quota.toLong, n),
        s"source $s admitted ${adm.length} of $n at quota $quota after restart")
      // and would hand out duplicate slot numbers
      assert(adm.map(_.slot).sorted == (1L to adm.length.toLong),
        s"source $s slots not dense after restart")
    }
    // the admitted set stays exactly the first-K doc_ids per source,
    // straddling the restart boundary
    val wantIds = docs.as[graft.streaming.Doc].collect().groupBy(_.source).values
      .flatMap(_.sortBy(_.doc_id).take(quota).map(_.doc_id)).toSet
    assert(out.map(_.doc_id).toSet == wantIds,
      "admitted set diverged from first-K per source across the restart")
  }

  test("S13: transformWithState quota admission ≡ the flatMapGroupsWithState form") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val quota = 5
    val docs = Tables.documents(spark, SfDir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .as[graft.streaming.Doc].collect().sortBy(_.doc_id)

    // transformWithState needs the RocksDB state store; scope the
    // provider to this test and restore the default after
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[graft.streaming.Doc]
      val query = graft.streaming.QuotaAdmissionV2(mem.toDS(), quota)
        .writeStream.format("memory").queryName("s13_quota")
        .outputMode("append").start()
      try {
        // 3 micro-batches: counters must persist in the v2 state store
        docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
          mem.addData(chunk.toIndexedSeq)
          query.processAllAvailable()
        }
        val got = spark.table("s13_quota").as[graft.streaming.AdmittedDoc]
          .collect().sortBy(d => (d.source, d.slot))
        // exact equivalence with the v1 (flatMapGroupsWithState)
        // semantics: first-K doc_ids per source, dense slots — computed
        // here from the same deterministic contract
        val want = docs.groupBy(_.source).toSeq.flatMap { case (_, ds) =>
          ds.sortBy(_.doc_id).take(quota).zipWithIndex.map { case (d, i) =>
            graft.streaming.AdmittedDoc(d.doc_id, d.source, d.n_chars, i + 1L)
          }
        }.sortBy(d => (d.source, d.slot))
        assert(got.length == want.length,
          s"v2 admitted ${got.length}, expected ${want.length}")
        assert(got.toSeq == want.toSeq,
          "transformWithState admissions diverge from the v1 contract")
      } finally query.stop()
    } finally {
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("S13t: native state TTL resets the quota counter after the window (v2-only)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val docs = (1L to 6L).map(i => graft.streaming.Doc(i, "s", 10L))
      val mem = MemoryStream[graft.streaming.Doc]
      // 1 ms TTL: by the time the next micro-batch runs, the counter
      // has ALWAYS expired — deterministic without sleeps
      val query = graft.streaming.QuotaAdmissionV2
        .rollingWindow(mem.toDS(), quota = 2, java.time.Duration.ofMillis(1))
        .writeStream.format("memory").queryName("s13t_quota")
        .outputMode("append").start()
      try {
        // processing-time mode keeps scheduling maintenance batches, so
        // processAllAvailable can block indefinitely — poll the sink
        def waitRows(n: Long): Unit = {
          val deadline = System.currentTimeMillis + 60000
          while (spark.table("s13t_quota").count() < n &&
            System.currentTimeMillis < deadline) Thread.sleep(100)
        }
        mem.addData(docs.take(3).toIndexedSeq)
        waitRows(2)
        Thread.sleep(5) // strictly exceed the 1 ms TTL between batches
        mem.addData(docs.drop(3).toIndexedSeq)
        waitRows(4)
        val got = spark.table("s13t_quota").as[graft.streaming.AdmittedDoc]
          .collect().sortBy(_.doc_id)
        // batch 1 admits docs 1,2 (quota 2); batch 2's EXPIRED counter
        // admits 4,5 afresh — a non-TTL counter would admit nothing
        assert(got.map(_.doc_id).toSeq == Seq(1L, 2L, 4L, 5L),
          s"TTL reset must grant a fresh window allowance, got ${got.toSeq}")
        assert(got.map(_.slot).toSeq == Seq(1L, 2L, 1L, 2L),
          "slots must restart with the fresh allowance")
      } finally query.stop()
    } finally {
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("S13e: state schema evolves across a restart (Avro encoding, counter preserved)") {
    import spark.implicits._
    // same fixture shape as S11r, but quota 20: pre-restart fills ~8
    // per source and the first post-restart file ~8 more, so
    // admissions reach the SECOND post-restart micro-batch (the
    // evolved field must round-trip through the store, not just a
    // local var) while the cap still binds (25 docs per source)
    val quota = 20
    val docs = Tables.documents(spark, SfDir).select("doc_id", "source", "n_chars")
    val ids = docs.select("doc_id").orderBy("doc_id").as[Long].collect()
    val cut = ids(ids.length / 3)
    val first = docs.where(col("doc_id") <= cut)
    val second = docs.where(col("doc_id") > cut)

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val formatKey = "spark.sql.streaming.stateStore.encodingFormat"
    val oldProvider = spark.conf.getOption(providerKey)
    val oldFormat = spark.conf.getOption(formatKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Avro is what makes the schema CHANGE legal: UnsafeRow encoding
    // refuses a restart whose state encoder gained a field
    spark.conf.set(formatKey, "avro")
    val out = try {
      graft.streaming.DurableReplay.runEvolving(spark, first, second, "doc_id",
        df => { import df.sparkSession.implicits._
          graft.streaming.QuotaEvolution.v1(df.as[graft.streaming.Doc], quota).toDF },
        df => { import df.sparkSession.implicits._
          graft.streaming.QuotaEvolution.v2(df.as[graft.streaming.Doc], quota).toDF })
        .as[graft.streaming.AdmittedTrace].collect()
    } finally {
      def restore(k: String, v: Option[String]) = v match {
        case Some(s) => spark.conf.set(k, s)
        case None => spark.conf.unset(k)
      }
      restore(providerKey, oldProvider)
      restore(formatKey, oldFormat)
    }

    // the restored V1 counter must CONTINUE under the V2 schema:
    // exactly first-K per source, dense slots across the restart
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val bySource = out.groupBy(_.source)
    totals.foreach { case (s, n) =>
      val adm = bySource.getOrElse(s, Array.empty).toSeq.sortBy(_.slot)
      assert(adm.length.toLong == math.min(quota.toLong, n),
        s"source $s admitted ${adm.length} of $n at quota $quota across the evolution")
      assert(adm.map(_.slot) == (1L to adm.length.toLong),
        s"source $s slots not dense across the evolution restart")
    }

    // prev_doc is the evolution witness: V1 rows never track it (-2);
    // the FIRST V2 admission per source reads the restored old-schema
    // value with the new field defaulted (None → -1); every later V2
    // admission carries the actual previous doc_id
    out.filter(_.doc_id <= cut).foreach(t =>
      assert(t.prev_doc == -2L, s"pre-restart row emitted by wrong processor: $t"))
    bySource.foreach { case (s, adm0) =>
      val post = adm0.toSeq.filter(_.doc_id > cut).sortBy(_.slot)
      post.zipWithIndex.foreach { case (t, i) =>
        val want = if (i == 0) -1L else post(i - 1).doc_id
        assert(t.prev_doc == want,
          s"source $s slot ${t.slot}: prev_doc ${t.prev_doc}, expected $want")
      }
    }

    // coverage sanity: the evolved field must round-trip THROUGH the
    // store, i.e. some source has admissions in both post-restart
    // micro-batches (the harness stages the half as two files)
    val secondIds = second.select("doc_id").orderBy("doc_id").as[Long].collect()
    val fileCut = secondIds((secondIds.length - 1) / 2)
    assert(bySource.exists { case (_, adm) =>
      adm.exists(t => t.doc_id > cut && t.doc_id <= fileCut) &&
        adm.exists(_.doc_id > fileCut)
    }, "no source admitted docs in both post-restart batches — round-trip untested")
  }

  test("S16: TTL'd allowance + idle timer compose in one processor (v2-only)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[graft.streaming.Doc]
      // window 1 ms: the allowance has ALWAYS expired by the next
      // micro-batch; idle 2 s: the digest timer fires once the
      // source goes quiet. The idle horizon must comfortably exceed
      // worst-case inter-batch latency (batch time + the 100 ms poll
      // step below) — at 250 ms a slow batch let a maintenance batch
      // fire the timer BETWEEN the two data batches, clearing totals
      // and flaking the epoch-continuation assert
      val query = graft.streaming.SourceMonitor(
        mem.toDS(), quota = 2,
        window = java.time.Duration.ofMillis(1),
        idle = java.time.Duration.ofMillis(2000))
        .writeStream.format("memory").queryName("s16_monitor")
        .outputMode("append").start()
      try {
        def rows() = spark.table("s16_monitor")
          .as[graft.streaming.MonitorEvent].collect()
        def waitFor(pred: () => Boolean): Unit = {
          val deadline = System.currentTimeMillis + 60000
          while (!pred() && System.currentTimeMillis < deadline) Thread.sleep(100)
        }
        mem.addData(Seq(1L, 2L, 3L).map(i => graft.streaming.Doc(i, "s", 10L)))
        waitFor(() => rows().length >= 2)
        Thread.sleep(5) // strictly exceed the 1 ms allowance TTL
        mem.addData(Seq(4L, 5L, 6L).map(i => graft.streaming.Doc(i, "s", 10L)))
        waitFor(() => rows().count(!_.is_digest) >= 4)

        // let the idle horizon pass, then nudge with an unrelated
        // source — its batch fires s's expired timer (maintenance
        // batches may have fired it already; either path is correct)
        Thread.sleep(2500)
        mem.addData(Seq(graft.streaming.Doc(100L, "zz", 1L)))
        waitFor(() => rows().exists(e => e.source == "s" && e.is_digest))

        val s = rows().filter(_.source == "s")
        val admissions = s.filter(!_.is_digest).sortBy(_.doc_id)
        // the TTL is load-bearing: the second batch's slots RESTART
        assert(admissions.map(_.doc_id).toSeq == Seq(1L, 2L, 4L, 5L),
          s"rolling allowance wrong: ${admissions.toSeq}")
        assert(admissions.map(_.slot).toSeq == Seq(1L, 2L, 1L, 2L),
          "slots must restart with each fresh allowance window")
        // the running total crosses allowance windows (no TTL on it)
        assert(admissions.map(_.total).toSeq == Seq(1L, 2L, 3L, 4L),
          "epoch total must survive allowance resets")
        // the timer is load-bearing: exactly one digest, carrying the
        // epoch total and the last admitted doc
        val digests = s.filter(_.is_digest)
        assert(digests.length == 1, s"expected one digest, got ${digests.toSeq}")
        assert(digests.head.total == 4L && digests.head.doc_id == 5L,
          s"digest must carry epoch total + last doc: ${digests.head}")
      } finally query.stop()
    } finally {
      oldProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("S9: stream-stream interval join matches the batch join across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val events = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "ts", "value")
    val rows = events.as[Ev].collect().sortBy(_.ts.getTime)

    val mem = MemoryStream[Ev]
    val query = graft.streaming.IntervalJoinStream
      .purchaseAttribution(mem.toDF())
      .writeStream.format("memory").queryName("s9_interval")
      .outputMode("append").start()
    try {
      // three time-ordered micro-batches: matches must form across
      // batch boundaries (signup buffered in batch 1, purchase in 3)
      rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val streamed = spark.table("s9_interval")
      val batch = graft.streaming.IntervalJoinStream.purchaseAttribution(events)
      assert(streamed.count() == batch.count(),
        s"stream ${streamed.count()} != batch ${batch.count()} joined rows")
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "stream/batch interval-join row sets diverge")
      assert(batch.count() > 0, "fixture must actually produce matches")
      // every matched signup is within the lookback window
      assert(streamed.where(col("s_ts") > col("p_ts") ||
        col("s_ts") < col("p_ts") - expr("INTERVAL 7 days")).count() == 0,
        "a match escaped the interval bound")
    } finally query.stop()
  }
}
