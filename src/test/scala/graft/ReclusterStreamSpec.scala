package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{FileStats, Publish}
import graft.streaming.ReclusterStream
import graft.tools.Scratch

case class ReclRow(u: Long, s: Long)

/** S30 (streaming/ReclusterStream): the q162 maintenance decision on
  * the streaming cadence — append batches accrete an arrival-ordered
  * layout, the advise tick measures it against the declared workload
  * and rewrites ONCE, and the next tick's verdict on the layout it
  * just wrote is keep (the fixed point that stops thrashing). */
class ReclusterStreamSpec extends SparkSpec {

  private val dims = Seq("u" -> "u", "s" -> "s")
  private val layouts = Seq(Seq("u"), Seq("s"))
  private def workload(): Seq[(Long, String, Long, Long)] =
    Seq((1L, "u", 2L, 3L), (2L, "u", 6L, 7L))

  test("recluster on the measured-bad layout, keep at the fixed point, replay refused, rows lossless") {
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Scratch.tempDir("graft_reclstream") + "/t"
    val mem = MemoryStream[ReclRow]
    // every batch interleaves all 8 users, and repartition(1) makes
    // each append ONE file spanning them — the arrival-ordered
    // layout a user-box workload cannot prune
    val query = ReclusterStream.start(
      mem.toDF().repartition(1), root,
      adviseEvery = 3, dims, workload(), layouts,
      amortizeRuns = 2L, numFiles = 4)
    try {
      // three 80-row batches → tick at batch 2: measured = 2 queries
      // × all files; modeled best ≈ interpolated slivers → recluster
      (0 until 3).foreach { b =>
        mem.addData((0 until 80).map(i => ReclRow(i.toLong % 8, b * 80L + i)): _*)
        query.processAllAvailable()
      }
      val v1 = ReclusterStream.lastVerdict(root).get
      assert(v1._1 == "recluster" && v1._2 == "u", v1)
      assert(v1._3 == 480L, s"measured must be 2 queries x all 240 rows: $v1")
      // the verdict also committed atomically with the rewrite it drove
      assert(Publish.currentMetaValue(root, "graft.recluster.decision")
        .contains("recluster"))
      // the rewrite actually helps: a u-box now prunes files
      val cand = FileStats.candidateFiles(spark, Paths.get(root)
          .resolve(s"v=${Publish.currentVersion(root).get}").toString,
        Seq(FileStats.Between("u", 2L, 3L))).size
      assert(cand <= 2, s"clustered layout must prune a 2-user box to <=2 files, got $cand")

      // three small batches → tick at batch 5: measured ≈ modeled on
      // the layout the daemon itself wrote → keep, no version churn
      // beyond the appends
      val versionsAfterRewrite = Publish.listVersions(Paths.get(root)).max
      (3 until 6).foreach { b =>
        mem.addData((0 until 8).map(i => ReclRow(i.toLong % 8, 1000 + b * 8L + i)): _*)
        query.processAllAvailable()
      }
      val v2 = ReclusterStream.lastVerdict(root).get
      assert(v2._1 == "keep", s"fixed point must hold on the advised layout: $v2")
      assert(Publish.listVersions(Paths.get(root)).max == versionsAfterRewrite + 3,
        "a keep tick must not churn a rewrite version")

      // losslessness across appends + the rewrite: every row survives
      val got = Publish.readConformed(spark, root)
        .select("u", "s").as[(Long, Long)].collect().toSet
      val want = ((0 until 3).flatMap(b =>
          (0 until 80).map(i => (i.toLong % 8, b * 80L + i))) ++
        (3 until 6).flatMap(b =>
          (0 until 8).map(i => (i.toLong % 8, 1000 + b * 8L + i)))).toSet
      assert(got == want, s"rows lost or invented: ${got.size} vs ${want.size}")
    } finally query.stop()

    // replay refused before any write, maintenance marker intact
    assert(Publish.lastBatch(root).contains(5L))
    val before = Publish.currentVersion(root)
    assert(!ReclusterStream.applyBatch(
      Seq(ReclRow(1, 1)).toDF(), 5L, root, 3, dims, workload(), layouts, 2L))
    assert(Publish.currentVersion(root) == before)
    graft.sources.Sinks.deleteRecursively(
      Paths.get(root).getParent)
  }

  test("S30r: the advised ingest survives a mid-backlog kill-and-restart") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_reclstream_r") + "/t"
    def part(b: Int, n: Int, base: Long): org.apache.spark.sql.DataFrame =
      (0 until n).map(i => (i.toLong % 8, base + b * 100L + i)).toDF("u", "s")
    val first = Seq(part(0, 80, 0), part(1, 80, 0), part(2, 80, 0))
    val second = Seq(part(3, 8, 1000), part(4, 8, 1000), part(5, 8, 1000))
    graft.streaming.DurableReplay.runForeachRestart(spark, first, second,
      (stream, ckpt) => ReclusterStream.start(
        stream.repartition(1), root, adviseEvery = 3, dims, workload(),
        layouts, amortizeRuns = 2L, numFiles = 4,
        checkpointLocation = Some(ckpt)),
      () => Publish.lastBatch(root))
    // batch-sequential outcome whatever the kill interrupted: the
    // recluster tick fired once (batch 2), the second tick kept, and
    // every row of all six batches survives exactly once
    assert(Publish.lastBatch(root).contains(5L))
    val v = ReclusterStream.lastVerdict(root).get
    assert(v._1 == "keep", s"post-restart fixed point must hold: $v")
    // the rewrite's manifest verdict survives the restart (the live
    // version is a later append; the rewrite version still holds it)
    val hasRecluster = Publish.listVersions(Paths.get(root)).exists { v =>
      new String(Files.readAllBytes(
        Paths.get(root).resolve(s"v=$v").resolve("_manifest.json")))
        .contains("\"graft.recluster.decision\":\"recluster\"")
    }
    assert(hasRecluster, "no version carries the recluster verdict")
    val got = Publish.readConformed(spark, root)
      .groupBy().agg(count(lit(1)), countDistinct(col("s"))).head
    assert(got.getLong(0) == 264L && got.getLong(1) == 264L,
      s"rows lost, invented, or replayed: $got")
    graft.sources.Sinks.deleteRecursively(Paths.get(root).getParent)
  }

  test("keepVerdict tolerates a torn sidecar line (no '=') instead of mis-parsing") {
    val root = Scratch.tempDir("graft_reclust_torn")
    try {
      // simulate the pre-atomic-write failure mode: a crash mid-write
      // leaves a final line cut before its '='
      Files.write(Paths.get(root).resolve("_last_verdict.json"),
        ("graft.recluster.decision=keep\n" +
          "graft.recluster.best=u\n" +
          "graft.recluster.measured=40\n" +
          "graft.recluster.predic").getBytes(
          java.nio.charset.StandardCharsets.UTF_8)): Unit
      val m = ReclusterStream.keepVerdict(root).get
      assert(m == Map(
        "graft.recluster.decision" -> "keep",
        "graft.recluster.best" -> "u",
        "graft.recluster.measured" -> "40"), m.toString)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
