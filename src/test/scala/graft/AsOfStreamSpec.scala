package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{AsOfProbe, AsOfQuote, AsOfStream}
import graft.tools.Scratch

/** S33 (streaming/AsOfStream): the stateful twin of the backward
  * as-of join. A hand panel proves the pricing rules (inclusive
  * equal-time match, greatest-payload quote ties, null pre-history,
  * the compacted carry across idle gaps) through out-of-order
  * delivery; the parity test proves stream ≡ batch
  * [[graft.operators.AsOfJoin.asOf]] however the stream is chopped;
  * the restart case proves buffered probes and the carry survive a
  * kill through the checkpoint. */
class AsOfStreamSpec extends SparkSpec {

  private def ts(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }
  private val S = 1000000L

  private def collectPriced(table: String): Set[(Long, Long, Long, Option[Long], Option[Double])] =
    spark.table(table).collect().map { r =>
      (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))
    }.toSet

  test("hand panel: inclusive match, quote ties, pre-history nulls, idle carry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val qMem = MemoryStream[AsOfQuote]
    val pMem = MemoryStream[AsOfProbe]
    val query = AsOfStream(qMem.toDS(), pMem.toDS(), watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("s33_panel")
      .outputMode("append").start()
    try {
      // asset 1: probe at the quote's exact time must match it
      // (inclusive); two quotes at 2s — the GREATER price is the tie
      // winner; the 9s probe prices off the compacted carry.
      // asset 2: probe BEFORE any quote → nulls; probe after → priced.
      // Quotes and probes arrive across chops, out of event order.
      qMem.addData(AsOfQuote(1L, ts(2 * S), 5.0), AsOfQuote(1L, ts(2 * S), 9.0))
      pMem.addData(AsOfProbe(1L, ts(2 * S), 101L, 1.0), AsOfProbe(2L, ts(1 * S), 201L, 1.0))
      query.processAllAvailable()
      qMem.addData(AsOfQuote(2L, ts(3 * S), 7.0), AsOfQuote(1L, ts(4 * S), 6.0))
      pMem.addData(AsOfProbe(1L, ts(9 * S), 102L, 1.0), AsOfProbe(2L, ts(5 * S), 202L, 1.0))
      query.processAllAvailable()
      // two sentinels on BOTH sides (the union watermark is the min):
      // first advances the watermark, second forces the settling batch
      Seq(1000L, 1001L).foreach { t =>
        qMem.addData(AsOfQuote(99L, ts(t * S), 0.0))
        pMem.addData(AsOfProbe(99L, ts(t * S), 999L, 0.0))
        query.processAllAvailable()
      }

      val got = collectPriced("s33_panel")
      val want = Set(
        (1L, 2000L, 101L, Some(2 * S), Some(9.0)), // inclusive + tie→greatest
        (1L, 9000L, 102L, Some(4 * S), Some(6.0)), // carry across the gap
        (2L, 1000L, 201L, None, None),             // pre-history
        (2L, 5000L, 202L, Some(3 * S), Some(7.0)))
      // (the sentinel probes stay behind the watermark and never settle)
      assert(got == want, s"got=$got")
    } finally query.stop()
  }

  test("gap tolerance nulls stale matches; carry TTL retires idle keys") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val qMem = MemoryStream[AsOfQuote]
    val pMem = MemoryStream[AsOfProbe]
    // gap = 5s; ttl = 20s past the key's last event
    val query = AsOfStream(qMem.toDS(), pMem.toDS(),
        watermarkDelay = "5 seconds",
        maxGapUs = Some(5 * S), carryTtlUs = Some(20 * S))
      .writeStream.format("memory").queryName("s33_gap")
      .outputMode("append").start()
    try {
      // asset 1: quote at 2s; probe at 6s (gap 4s ≤ 5s → priced),
      // probe at 9s (gap 7s > 5s → unpriced row, cardinality kept).
      // asset 2: quote at 1s, nothing else until a probe at 60s —
      // by then the watermark ran >20s past the key's last event, so
      // the carry was reclaimed and the probe prices null (with NO
      // ttl it would have priced 42.0 — the contrast that proves
      // eviction happened, not a missing quote).
      qMem.addData(AsOfQuote(1L, ts(2 * S), 5.0), AsOfQuote(2L, ts(1 * S), 42.0))
      pMem.addData(AsOfProbe(1L, ts(6 * S), 11L, 1.0), AsOfProbe(1L, ts(9 * S), 12L, 1.0))
      query.processAllAvailable()
      // advance the watermark far past asset 2's ttl BEFORE its probe
      Seq(40L, 41L).foreach { t =>
        qMem.addData(AsOfQuote(99L, ts(t * S), 0.0))
        pMem.addData(AsOfProbe(99L, ts(t * S), 999L, 0.0))
        query.processAllAvailable()
      }
      pMem.addData(AsOfProbe(2L, ts(60 * S), 21L, 1.0))
      query.processAllAvailable()
      Seq(100L, 101L).foreach { t =>
        qMem.addData(AsOfQuote(99L, ts(t * S), 0.0))
        pMem.addData(AsOfProbe(99L, ts(t * S), 999L, 0.0))
        query.processAllAvailable()
      }

      val got = collectPriced("s33_gap").filter(_._1 != 99L)
      val want = Set(
        (1L, 6000L, 11L, Some(2 * S), Some(5.0)),  // inside the gap
        (1L, 9000L, 12L, None, None),              // stale match nulled
        (2L, 60000L, 21L, None, None))             // carry TTL-evicted
      assert(got == want, s"got=$got")
    } finally query.stop()
  }

  test("without a TTL the same late probe prices off the old carry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val qMem = MemoryStream[AsOfQuote]
    val pMem = MemoryStream[AsOfProbe]
    val query = AsOfStream(qMem.toDS(), pMem.toDS(), watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("s33_nottl")
      .outputMode("append").start()
    try {
      qMem.addData(AsOfQuote(2L, ts(1 * S), 42.0))
      query.processAllAvailable()
      Seq(40L, 41L).foreach { t =>
        qMem.addData(AsOfQuote(99L, ts(t * S), 0.0)); query.processAllAvailable()
      }
      pMem.addData(AsOfProbe(2L, ts(60 * S), 21L, 1.0))
      query.processAllAvailable()
      Seq(100L, 101L).foreach { t =>
        qMem.addData(AsOfQuote(99L, ts(t * S), 0.0)); query.processAllAvailable()
      }
      val got = collectPriced("s33_nottl").filter(_._1 == 2L)
      assert(got == Set((2L, 60000L, 21L, Some(1 * S), Some(42.0))), s"got=$got")
    } finally query.stop()
  }

  test("parity: stream ≡ batch AsOfJoin.asOf under different chops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // deterministic panel: 4 assets, sparse quotes, probes straddling
    // them (unique (ts, side) per key so the result is a function of
    // the data, not of tie resolution)
    val quotes = for (a <- 1L to 4L; i <- 0L to 5L)
      yield AsOfQuote(a, ts((i * 7 + a) * S), a * 100.0 + i)
    val probes = for (a <- 1L to 4L; j <- 0L to 9L)
      yield AsOfProbe(a, ts((j * 4 + 2) * S), a * 1000 + j, j * 1.5)

    val batch = graft.operators.AsOfJoin.asOf(
        probes.toDF(), quotes.toDF().withColumnRenamed("ts", "qts"),
        keys = Seq("asset"), probeTime = "ts", quoteTime = "qts",
        payload = Seq("price"))
      .select(col("asset"), col("probe_id"),
        unix_micros(col("qts")).as("quote_ts_us"), col("price"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet

    def run(name: String, chops: Seq[(Seq[AsOfQuote], Seq[AsOfProbe])]): Set[(Long, Long, Option[Long], Option[Double])] = {
      val qMem = MemoryStream[AsOfQuote]
      val pMem = MemoryStream[AsOfProbe]
      val query = AsOfStream(qMem.toDS(), pMem.toDS(), watermarkDelay = "60 seconds")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        chops.foreach { case (qs, ps) =>
          if (qs.nonEmpty) qMem.addData(qs)
          if (ps.nonEmpty) pMem.addData(ps)
          query.processAllAvailable()
        }
        Seq(5000L, 5001L).foreach { t =>
          qMem.addData(AsOfQuote(98L, ts(t * S), 0.0))
          pMem.addData(AsOfProbe(98L, ts(t * S), 998L, 0.0))
          query.processAllAvailable()
        }
        spark.table(name).where(col("asset") < 90).collect().map { r =>
          (r.getLong(0), r.getLong(2),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            if (r.isNullAt(5)) None else Some(r.getDouble(5)))
        }.toSet
      } finally query.stop()
    }

    // chop A: everything at once; chop B: quotes then probes, halved;
    // chop C: interleaved thirds with sides offset (probes ahead of
    // their quotes in processing order)
    val a = run("s33_par_a", Seq((quotes, probes)))
    val b = run("s33_par_b",
      Seq((quotes.take(12), Nil), (Nil, probes.take(20)),
        (quotes.drop(12), Nil), (Nil, probes.drop(20))))
    val thirds = (xs: Int) => xs
    val c = run("s33_par_c", Seq(
      (Nil, probes.take(13)), (quotes.take(8), probes.slice(13, 26)),
      (quotes.slice(8, 16), probes.drop(26)), (quotes.drop(16), Nil)))
    assert(a == batch, s"chop A diverged: ${a.diff(batch)} / ${batch.diff(a)}")
    assert(b == batch, "chop B diverged")
    assert(c == batch, "chop C diverged")
  }

  test("S33r: carry and buffered probes survive a kill-and-restart") {
    val inQ = Scratch.tempDir("graft_s33r_q")
    val inP = Scratch.tempDir("graft_s33r_p")
    val sinkDir = Scratch.tempDir("graft_s33r_sink") + "/out"
    val ckptDir = Scratch.tempDir("graft_s33r_ckpt")
    val sess = spark
    import sess.implicits._

    var mtime = System.currentTimeMillis() / 1000 * 1000 - 3600L * 1000
    def stage[T: org.apache.spark.sql.Encoder](dir: String, evs: Seq[T]): Unit = {
      val before = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      evs.toDS().coalesce(1).write.mode("append").parquet(dir)
      Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .sortBy(_.getName).foreach { f =>
          mtime += 2000
          java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    }
    def mkQuery() = {
      val qs = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[AsOfQuote]].schema)
        .option("maxFilesPerTrigger", "1").parquet(inQ).as[AsOfQuote]
      val ps = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[AsOfProbe]].schema)
        .option("maxFilesPerTrigger", "1").parquet(inP).as[AsOfProbe]
      AsOfStream(qs, ps, watermarkDelay = "10 seconds")
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }

    // incarnation 1: a quote that will become the CARRY (watermark
    // passes it via the probe at 30s staying buffered) and a buffered
    // probe — nothing emitted yet for asset 1's second probe
    stage(inQ, Seq(AsOfQuote(1L, ts(2 * S), 5.0)))
    stage(inP, Seq(AsOfProbe(1L, ts(3 * S), 11L, 1.0)))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()

    // incarnation 2 on the SAME checkpoint: a later probe must price
    // off the RESTORED quote (carry or buffer — either way state);
    // sentinels flush
    stage(inP, Seq(AsOfProbe(1L, ts(20 * S), 12L, 2.0)))
    stage(inQ, Seq(AsOfQuote(99L, ts(1000 * S), 0.0)))
    stage(inP, Seq(AsOfProbe(99L, ts(1000 * S), 999L, 0.0)))
    stage(inQ, Seq(AsOfQuote(99L, ts(1001 * S), 0.0)))
    stage(inP, Seq(AsOfProbe(99L, ts(1001 * S), 999L, 0.0)))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      def sunk() = spark.read.parquet(sinkDir)
      val deadline = System.currentTimeMillis + 60000
      while (scala.util.Try(
        sunk().where(col("asset") === 1L).count()).getOrElse(0L) < 2 &&
        System.currentTimeMillis < deadline) Thread.sleep(200)
      val got = sunk().where(col("asset") === 1L).collect().map { r =>
        (r.getLong(2),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))
      }.toSet
      assert(got == Set(
        (11L, Some(2 * S), Some(5.0)),
        (12L, Some(2 * S), Some(5.0))),
        "restart lost the buffered probe or the quote carry")
    } finally {
      q2.stop()
      Seq(inQ, inP, ckptDir).foreach(d =>
        graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(d)))
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(sinkDir).getParent)
    }
  }
}
