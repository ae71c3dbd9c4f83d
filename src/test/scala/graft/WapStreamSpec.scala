package graft

import java.nio.file.Paths

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Publish, Wap}
import graft.streaming.WapStream
import graft.tools.Scratch

case class WapRow(id: Long, v: Long, src: String)

/** S28 (streaming/WapStream): expectations enforced per micro-batch —
  * clean rows append, drop violations quarantine batch-grained,
  * counts ride each version manifest, fail aborts with nothing
  * committed, replays refused. */
class WapStreamSpec extends SparkSpec {

  private val exps = Seq(
    Wap.Expectation.drop("positive_v", col("v") > 0),
    Wap.Expectation.warn("known_src", col("src").isin("a", "b")))

  test("streamed batches audit-and-append: quarantines are batch-grained, counts committed") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wapstream")
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[WapRow]
      val query = WapStream.start(mem.toDF(), root, exps)
      try {
        mem.addData(
          WapRow(1, 10, "a"), WapRow(2, -5, "a"), WapRow(3, 30, "zz"))
        query.processAllAvailable()
        // batch 0 → v1: clean rows 1,3; row 2 quarantined; warn counted
        assert(Publish.read(spark, root).select("id").as[Long]
          .collect().toSet == Set(1L, 3L))
        assert(Wap.violationCount(root, "positive_v").contains(1L))
        assert(Wap.violationCount(root, "known_src").contains(1L))
        val r1 = Wap.rejects(spark, root)
        assert(r1.select("id").as[Long].collect().toSeq == Seq(2L))
        assert(r1.select("__violated").as[Seq[String]]
          .collect().head == Seq("positive_v"))

        mem.addData(WapRow(4, 40, "b"), WapRow(5, 0, "b"))
        query.processAllAvailable()
        // v2: carries 1,3; adds 4; quarantines 5 — v2's rejects are
        // ONLY batch 1's (batch-grained audit trail)…
        assert(Publish.read(spark, root).select("id").as[Long]
          .collect().toSet == Set(1L, 3L, 4L))
        assert(Wap.rejects(spark, root).select("id").as[Long]
          .collect().toSeq == Seq(5L))
        assert(Wap.violationCount(root, "positive_v").contains(1L))
        assert(Wap.violationCount(root, "known_src").contains(0L))
        // …while v1's quarantine stays readable through time travel
        assert(spark.read.parquet(Wap.rejectsPath(
            Paths.get(root).resolve("v=1").toString))
          .select("id").as[Long].collect().toSeq == Seq(2L))
      } finally query.stop()
      assert(Publish.lastBatch(root).contains(1L))
      // replay refused before any write
      val vBefore = Publish.currentVersion(root)
      assert(!WapStream.applyBatch(
        Seq(WapRow(99, 1, "a")).toDF(), 1L, root, exps))
      assert(Publish.currentVersion(root) == vBefore)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("a fail-severity violation aborts the batch with nothing committed") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wapstream_fail")
    try {
      val gate = Seq(Wap.Expectation.fail("no_negatives", col("v") >= 0))
      assert(WapStream.applyBatch(
        Seq(WapRow(1, 1, "a")).toDF(), 0L, root, gate))
      val vBefore = Publish.currentVersion(root)
      val e = intercept[Wap.AuditFailed](WapStream.applyBatch(
        Seq(WapRow(2, -1, "a"), WapRow(3, 3, "a")).toDF(), 1L, root, gate))
      assert(e.counts("no_negatives") == 1L)
      // nothing committed: version and batch marker unchanged, so a
      // restart REPLAYS the batch into the same audit — a gate, not
      // a skip
      assert(Publish.currentVersion(root) == vBefore)
      assert(Publish.lastBatch(root).contains(0L))
      assert(Publish.read(spark, root).count() == 1L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S28r: the audited ingest survives a mid-backlog kill-and-restart") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wapstream_restart")
    try {
      val first = Seq(
        Seq(WapRow(1, 1, "a"), WapRow(2, -2, "a")).toDF(),
        Seq(WapRow(3, 3, "b"), WapRow(4, -4, "zz")).toDF(),
        Seq(WapRow(5, 5, "a")).toDF())
      val second = Seq(
        Seq(WapRow(6, -6, "b"), WapRow(7, 7, "b")).toDF())
      graft.streaming.DurableReplay.runForeachRestart(spark, first, second,
        (stream, ckpt) => WapStream.start(
          stream, root, exps, checkpointLocation = Some(ckpt)),
        () => Publish.lastBatch(root))
      // whatever the kill interrupted: clean rows all present, every
      // violation quarantined in its own batch's version, one version
      // per batch
      assert(Publish.read(spark, root).select("id").as[Long]
        .collect().toSet == Set(1L, 3L, 5L, 7L))
      assert(Publish.listVersions(Paths.get(root)).sorted == (1L to 4L))
      assert(Publish.lastBatch(root).contains(3L))
      assert(Wap.rejects(spark, root).select("id").as[Long]
        .collect().toSeq == Seq(6L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
