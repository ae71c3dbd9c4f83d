package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{Publish, Sinks}
import graft.streaming.{DriftAdmitStream, DriftStream}
import graft.tools.Scratch

/** S45 (streaming/DriftAdmitStream): drift-gated admission. Pins the
  * split semantics (quarantine = post-update verdict, the rotting
  * batch quarantines itself), the monitor-sees-everything identity
  * (drift stats ≡ one-shot over admitted ∪ quarantined), recovery,
  * losslessness, and replay refusal. */
class DriftAdmitStreamSpec extends SparkSpec {
  import spark.implicits._

  private val Alert = 150000L

  private def ids(root: String): Set[Long] =
    Publish.read(spark, root).select("doc_id").collect().map(_.getLong(0)).toSet

  test("rotting feed quarantines its own batch, recovers when the mix does; " +
    "monitor sees everything; replay refused") {
    val base = Scratch.tempDir("graft_s45")
    val (refRoot, statsRoot) = (s"$base/ref", s"$base/stats")
    val (corpusRoot, quarRoot) = (s"$base/corpus", s"$base/quar")
    val ref = Seq((1L, "alpha beta alpha gamma", "base"),
      (2L, "beta gamma alpha alpha", "base")).toDF("doc_id", "text", "source")
    DriftStream.publishReference(ref, "text", buckets = 256, refRoot)

    def gate(rows: Seq[(Long, String, String)], id: Long): Boolean =
      DriftAdmitStream.applyBatch(
        rows.toDF("doc_id", "text", "source"), id, "text", "source",
        Alert, refRoot, statsRoot, corpusRoot, quarRoot)

    // a "clean" emission = the full reference PAIR, so a clean feed's
    // profile is exactly proportional to the reference (0 ppm)
    val (d1, d2) = ("alpha beta alpha gamma", "beta gamma alpha alpha")

    // batch 0: both feeds emit the reference pair — everything admits
    assert(gate(Seq(
      (10L, d1, "good"), (11L, d2, "good"),
      (20L, d1, "shaky"), (21L, d2, "shaky")), 0L))
    assert(ids(corpusRoot) == Set(10L, 11L, 20L, 21L) && ids(quarRoot).isEmpty)

    // batch 1: 'shaky' goes alien (30 disjoint grams on 14 clean →
    // 681818 ppm by hand) — the POST-update verdict gates, so the
    // rotting batch's own rows quarantine (never one poisoned batch
    // ahead of the verdict); 'good' is untouched
    assert(gate(Seq(
      (12L, d1, "good"), (13L, d2, "good"),
      (22L, "zulu quux zulu quux zulu quux zulu quux", "shaky"),
      (23L, "quux zulu quux quux zulu quux quux zulu", "shaky")), 1L))
    assert(ids(corpusRoot) == Set(10L, 11L, 20L, 21L, 12L, 13L),
      s"good feed must keep admitting: ${ids(corpusRoot)}")
    assert(ids(quarRoot) == Set(22L, 23L),
      s"the rotting batch must quarantine itself: ${ids(quarRoot)}")

    // the monitor saw the quarantined rows: drift view ≡ one-shot over
    // EVERYTHING ingested (admitted ∪ quarantined), not the admitted set
    val everything = Seq(
      (10L, d1, "good"), (11L, d2, "good"),
      (20L, d1, "shaky"), (21L, d2, "shaky"),
      (12L, d1, "good"), (13L, d2, "good"),
      (22L, "zulu quux zulu quux zulu quux zulu quux", "shaky"),
      (23L, "quux zulu quux quux zulu quux quux zulu", "shaky"))
      .toDF("doc_id", "text", "source")
    val oneShot = graft.text.Drift.tvFromProfiles(
      graft.text.Drift.gramProfile(everything, "text", "source", 256),
      Publish.read(spark, refRoot).select("bucket", "n"), Alert)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val view = DriftStream.driftView(spark, statsRoot, refRoot, Alert)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(view == oneShot, "monitor must track the whole feed, quarantine included")
    assert(view.find(_._1 == "shaky").get._4 == 1)

    // losslessness: admitted ∪ quarantined = everything, disjoint
    assert(ids(corpusRoot) ++ ids(quarRoot) ==
      Set(10L, 11L, 20L, 21L, 12L, 13L, 22L, 23L))
    assert((ids(corpusRoot) & ids(quarRoot)).isEmpty)

    // batch 2: 'shaky' floods 20 clean reference pairs — cumulative
    // profile 294 clean + 30 alien grams = 92592 ppm by hand, back
    // under the alert — its new rows admit again (recovery is
    // possible precisely because the monitor kept counting while the
    // feed was quarantined)
    val cleanFlood = (0 until 20).flatMap(i => Seq(
      (100L + 2 * i, d1, "shaky"), (101L + 2 * i, d2, "shaky")))
    assert(gate(cleanFlood ++ Seq((14L, d1, "good")), 2L))
    assert(ids(quarRoot) == Set(22L, 23L),
      s"recovered feed must admit again: ${ids(quarRoot)}")
    assert(ids(corpusRoot).contains(100L) && ids(corpusRoot).contains(139L))

    // replay: refused untouched on every root
    val (cv, qv, sv) = (Publish.currentVersion(corpusRoot),
      Publish.currentVersion(quarRoot), Publish.currentVersion(statsRoot))
    assert(!gate(Seq((999L, "alpha", "good")), 2L))
    assert(Publish.currentVersion(corpusRoot) == cv &&
      Publish.currentVersion(quarRoot) == qv &&
      Publish.currentVersion(statsRoot) == sv)
    Sinks.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("S45r: the gate's split survives the real micro-batch engine and restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = Scratch.tempDir("graft_s45_r")
    val (refRoot, statsRoot) = (s"$base/ref", s"$base/stats")
    val (corpusRoot, quarRoot) = (s"$base/corpus", s"$base/quar")
    val docs = Tables.documents(spark, SfDir)
    DriftStream.publishReference(
      docs.where(org.apache.spark.sql.functions.col("lang") === "en"),
      "text", buckets = 256, refRoot)
    val all = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val query = DriftAdmitStream.start(
      mem.toDF().toDF("doc_id", "text", "source"),
      "text", "source", Alert, refRoot, statsRoot, corpusRoot, quarRoot)
    try {
      all.grouped(math.max(1, all.length / 3)).foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()
    // lossless split of the whole corpus
    assert(ids(corpusRoot) ++ ids(quarRoot) == all.map(_._1).toSet)
    assert((ids(corpusRoot) & ids(quarRoot)).isEmpty)
    // the monitor is exactly the one-shot q208 over everything
    val want = SparkEntry.q208SourceDrift(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val view = DriftStream.driftView(spark, statsRoot, refRoot, Alert)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(view == want)
    Sinks.deleteRecursively(java.nio.file.Paths.get(base))
  }
}
