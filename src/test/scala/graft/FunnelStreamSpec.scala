package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{FunnelEv, FunnelStream}
import graft.tools.Scratch

/** S19 (streaming/FunnelStream): the stateful twin of q102's sequence
  * matcher. A hand panel proves the binding rules settle correctly
  * through buffering, out-of-order delivery, and deadline timeouts;
  * the q102 parity test proves the stream equals the batch chain on
  * testdata however the stream is chopped. */
class FunnelStreamSpec extends SparkSpec {

  private def ts(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }
  private val S = 1000000L // 1 second in µs

  private def collectMatches(table: String): Seq[(Long, Long, Seq[Long], Int)] =
    spark.table(table)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getInt(3)))
      .toSeq.sortBy(m => (m._1, m._2, m._3.mkString(",")))

  test("hand panel: bind, fail-fast, deadline-fail, strictness — out of order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    var id = 0L
    def ev(u: Long, us: Long, t: String): FunnelEv = {
      id += 1; FunnelEv(u, ts(us), id, t)
    }
    // u1: full chain. u2: first B past its 5s gap → fail at step 1.
    // u3: B in gap, C past ITS gap → fail at step 2. u4: B in gap,
    // no C ever → deadline failure. u5: step event with no anchor.
    // u6: B at the anchor's exact µs must NOT bind; the later one does.
    val chop1 = Seq(
      ev(1L, 1 * S, "A"), ev(1L, 4 * S, "C"),
      ev(2L, 1 * S, "A"), ev(2L, 8 * S, "B"),
      ev(3L, 1 * S, "A"), ev(3L, 2 * S, "B"),
      ev(4L, 1 * S, "A"), ev(4L, 2 * S, "B"),
      ev(5L, 1 * S, "B"),
      ev(6L, 1 * S, "A"), ev(6L, 1 * S, "B"), ev(6L, 2 * S, "B"))
    // u1's B arrives in a LATER chop than its C — inside the
    // watermark lag, so the buffer must restore event-time order
    val chop2 = Seq(ev(1L, 3 * S, "B"), ev(3L, 9 * S, "C"))
    // TWO sentinels: the first advances the watermark, the second
    // forces the batch in which buffered groups see it (timeout
    // wake-ups can otherwise ride a no-data batch the test harness
    // does not deterministically wait for — the SURVEY r2 note)
    val sentinels = Seq(Seq(ev(99L, 1000 * S, "noop")),
      Seq(ev(99L, 1001 * S, "noop")))

    val mem = MemoryStream[FunnelEv]
    val query = FunnelStream(mem.toDS(), "A",
        steps = Seq(("B", 5 * S), ("C", 5 * S)), watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("s19_panel")
      .outputMode("append").start()
    try {
      mem.addData(chop1)
      query.processAllAvailable()
      mem.addData(chop2)
      query.processAllAvailable()
      sentinels.foreach { s => mem.addData(s); query.processAllAvailable() }

      assert(collectMatches("s19_panel") == Seq(
        (1L, 1 * S, Seq(3 * S, 4 * S), 3),
        (2L, 1 * S, Nil, 1),
        (3L, 1 * S, Seq(2 * S), 2),
        (4L, 1 * S, Seq(2 * S), 2),
        (6L, 1 * S, Seq(2 * S), 2)))
    } finally query.stop()
  }

  test("S21: the transformWithState port settles the panel identically") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    var id = 0L
    def ev(u: Long, us: Long, t: String): FunnelEv = {
      id += 1; FunnelEv(u, ts(us), id, t)
    }
    val chop1 = Seq(
      ev(1L, 1 * S, "A"), ev(1L, 4 * S, "C"),
      ev(2L, 1 * S, "A"), ev(2L, 8 * S, "B"),
      ev(3L, 1 * S, "A"), ev(3L, 2 * S, "B"),
      ev(4L, 1 * S, "A"), ev(4L, 2 * S, "B"),
      ev(5L, 1 * S, "B"),
      ev(6L, 1 * S, "A"), ev(6L, 1 * S, "B"), ev(6L, 2 * S, "B"))
    val chop2 = Seq(ev(1L, 3 * S, "B"), ev(3L, 9 * S, "C"))
    val sentinels = Seq(Seq(ev(99L, 1000 * S, "noop")),
      Seq(ev(99L, 1001 * S, "noop")))

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[FunnelEv]
      val query = graft.streaming.FunnelStreamV2(mem.toDS(), "A",
          steps = Seq(("B", 5 * S), ("C", 5 * S)), watermarkDelay = "10 seconds")
        .writeStream.format("memory").queryName("s21_panel")
        .outputMode("append").start()
      try {
        mem.addData(chop1)
        query.processAllAvailable()
        mem.addData(chop2)
        query.processAllAvailable()
        sentinels.foreach { s => mem.addData(s); query.processAllAvailable() }

        // identical settle set to the S19 panel expectation — the
        // shared automaton leaves the APIs nothing to disagree on
        assert(collectMatches("s21_panel") == Seq(
          (1L, 1 * S, Seq(3 * S, 4 * S), 3),
          (2L, 1 * S, Nil, 1),
          (3L, 1 * S, Seq(2 * S), 2),
          (4L, 1 * S, Seq(2 * S), 2),
          (6L, 1 * S, Seq(2 * S), 2)))
      } finally query.stop()
    } finally {
      oldProvider.fold(spark.conf.unset(providerKey))(
        spark.conf.set(providerKey, _))
    }
  }

  test("S19r: buffered chains survive a kill-and-restart") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val inDir = Scratch.tempDir("graft_s19r_in")
    val sinkDir = Scratch.tempDir("graft_s19r_sink") + "/out"
    val ckptDir = Scratch.tempDir("graft_s19r_ckpt")

    // explicit strictly-increasing mtimes (the DurableReplay rule):
    // the file source replays oldest-first, and 1s-granularity clocks
    // would let staged files tie
    var mtime = System.currentTimeMillis() / 1000 * 1000 - 3600L * 1000
    def stage(evs: Seq[FunnelEv]): Unit = {
      val before = Option(new java.io.File(inDir).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      evs.toDS().coalesce(1).write.mode("append").parquet(inDir)
      Option(new java.io.File(inDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .sortBy(_.getName).foreach { f =>
          mtime += 2000
          java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    }
    def mkQuery() = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[FunnelEv]].schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      FunnelStream(stream.as[FunnelEv], "A",
          steps = Seq(("B", 5 * S), ("C", 5 * S)), watermarkDelay = "10 seconds")
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }

    // incarnation 1: u1's anchor+B and u2's anchor — ALL still
    // buffered in state (watermark has not passed them)
    stage(Seq(FunnelEv(1L, ts(1 * S), 1L, "A"), FunnelEv(1L, ts(3 * S), 2L, "B"),
      FunnelEv(2L, ts(2 * S), 3L, "A")))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()

    // incarnation 2 on the SAME checkpoint: u1's C completes the
    // chain ONLY if the buffered state was restored; u2's late B
    // fail-fasts; sentinels advance the watermark and force the
    // settling batch
    stage(Seq(FunnelEv(1L, ts(5 * S), 4L, "C"), FunnelEv(2L, ts(30 * S), 5L, "B")))
    stage(Seq(FunnelEv(99L, ts(1000 * S), 6L, "noop")))
    stage(Seq(FunnelEv(99L, ts(1001 * S), 7L, "noop")))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      def sunk() = spark.read.parquet(sinkDir)
      val deadline = System.currentTimeMillis + 60000
      while (scala.util.Try(sunk().count()).getOrElse(0L) < 2 &&
        System.currentTimeMillis < deadline) Thread.sleep(200)
      val got = sunk().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2), r.getInt(3)))
        .toSet
      assert(got == Set(
        (1L, 1 * S, Seq(3 * S, 5 * S), 3),
        (2L, 2 * S, Seq.empty[Long], 1)),
        "restart lost or reset the buffered chain state")
    } finally {
      q2.stop()
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(inDir))
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(sinkDir).getParent)
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(ckptDir))
    }
  }

  test("S19 ≡ batch q102 on testdata, chopped mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val rows = Tables.events(spark, SfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[FunnelEv].collect().sortBy(_.ts.getTime)
    val maxUs = rows.map(e => e.ts.getTime).max * 1000L
    // push the watermark past every deadline (3d + 7d of gaps, 1h
    // lag); two sentinels for the same reason as the panel test
    val sentinels = Seq(
      FunnelEv(-1L, ts(maxUs + 11L * 86400L * S), -1L, "noop"),
      FunnelEv(-1L, ts(maxUs + 12L * 86400L * S), -2L, "noop"))

    val mem = MemoryStream[FunnelEv]
    val query = FunnelStream(mem.toDS(), "signup",
        steps = Seq(("view", 3L * 86400 * S), ("purchase", 7L * 86400 * S)))
      .writeStream.format("memory").queryName("s19_events")
      .outputMode("append").start()
    try {
      // time-ordered chops: cross-chop disorder beyond the watermark
      // lag would be DROPPED rows (late-data policy), not a bug
      rows.grouped(math.max(1, rows.length / 3)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      sentinels.foreach { s => mem.addData(Seq(s)); query.processAllAvailable() }

      val got = collectMatches("s19_events")
      val want = SparkEntry.q102FunnelInstances(spark, SfDir)
        .select(col("user_id"), unix_micros(col("t0")).as("t0us"),
          unix_micros(col("t1")).as("t1us"), unix_micros(col("t2")).as("t2us"),
          col("steps_done"))
        .collect()
        .map { r =>
          val bound = Seq(2, 3).filterNot(r.isNullAt).map(r.getLong)
          (r.getLong(0), r.getLong(1), bound, r.getLong(4).toInt)
        }
        .toSeq.sortBy(m => (m._1, m._2, m._3.mkString(",")))
      assert(got.size == want.size,
        s"instance count: stream=${got.size} batch=${want.size}")
      assert(got == want, "streaming funnel diverges from batch q102")
    } finally query.stop()
  }
}
