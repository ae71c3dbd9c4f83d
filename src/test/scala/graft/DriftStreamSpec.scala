package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Publish, Sinks}
import graft.streaming.DriftStream
import graft.tools.Scratch

/** S44 (streaming/DriftStream): maintained feed-health drift stats.
  * Pins the additive identity (driftView ≡ the one-shot q208 monitor
  * over everything ingested, any batch chop), the retroactive flag
  * flip, fold safety, replay refusal, and kill-and-restart. */
class DriftStreamSpec extends SparkSpec {
  import spark.implicits._

  private def view(statsRoot: String, refRoot: String) =
    DriftStream.driftView(spark, statsRoot, refRoot, alertPpm = 150000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq

  test("streamed view equals the one-shot q208 monitor; replay refused; fold preserves") {
    implicit val sqlCtx = spark.sqlContext
    val base = Scratch.tempDir("graft_s44")
    val (refRoot, statsRoot) = (s"$base/ref", s"$base/stats")
    val docs = Tables.documents(spark, SfDir)

    // fixed reference = the curated en slice, the q208 refPred
    DriftStream.publishReference(
      docs.where(col("lang") === "en"), "text", buckets = 256, refRoot)
    // idempotent: a second setup publishes nothing
    val rv = Publish.currentVersion(refRoot)
    DriftStream.publishReference(
      docs.where(col("lang") === "en"), "text", buckets = 256, refRoot)
    assert(Publish.currentVersion(refRoot) == rv)
    assert(DriftStream.referenceBuckets(refRoot) == 256)

    // ingest the whole corpus through the REAL micro-batch engine
    val all = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[(Long, String, String)]
    val query = DriftStream.start(
      mem.toDF().toDF("doc_id", "text", "source"),
      "text", "source", refRoot, statsRoot)
    try {
      all.grouped(math.max(1, all.length / 3)).foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()

    // identity: the maintained view IS q208 over everything ingested
    // (same reference slice, same buckets, same arithmetic)
    val want = SparkEntry.q208SourceDrift(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(view(statsRoot, refRoot) == want,
      "maintained drift view diverged from the one-shot monitor")

    // replay: refused untouched
    val lastId = Publish.lastBatch(statsRoot).get
    val v = Publish.currentVersion(statsRoot)
    assert(!DriftStream.applyBatch(
      Seq((1L, "alpha", "srcX")).toDF("doc_id", "text", "source"),
      lastId, "text", "source", refRoot, statsRoot))
    assert(Publish.currentVersion(statsRoot) == v)

    // fold: one row per (source, bucket), view identical, replay
    // still refused (the folded version carries the batch marker)
    DriftStream.foldProfile(spark, statsRoot): Unit
    val folded = Publish.read(spark, statsRoot)
    assert(folded.groupBy("source", "bucket").count().where(col("count") > 1).isEmpty)
    assert(view(statsRoot, refRoot) == want, "fold changed the drift view")
    assert(!DriftStream.applyBatch(
      Seq((1L, "alpha", "srcX")).toDF("doc_id", "text", "source"),
      lastId, "text", "source", refRoot, statsRoot),
      "fold must carry the replay marker (the S20 lesson)")
    assert(Publish.currentMetaValue(statsRoot, DriftStream.BucketsPinKey)
      .contains("256"), "fold must carry the bucket pin (the cutover guard)")
    Sinks.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("a feed that rots in a LATER batch flips retroactively, exactly as one-shot") {
    val base = Scratch.tempDir("graft_s44_rot")
    val (refRoot, statsRoot) = (s"$base/ref", s"$base/stats")
    val ref = Seq((1L, "alpha beta alpha gamma", "base"),
      (2L, "beta gamma alpha alpha", "base")).toDF("doc_id", "text", "source")
    DriftStream.publishReference(ref, "text", buckets = 256, refRoot)

    // batch 0: 'feed' emits exactly the reference mix — healthy
    val clean = Seq((10L, "alpha beta alpha gamma", "feed"),
      (11L, "beta gamma alpha alpha", "feed")).toDF("doc_id", "text", "source")
    assert(DriftStream.applyBatch(clean, 0L, "text", "source", refRoot, statsRoot))
    val healthy = view(statsRoot, refRoot)
    assert(healthy == Seq(("feed", 14L, 0L, 0)), s"clean feed must read 0 ppm: $healthy")

    // batch 1: the same feed starts emitting alien content — the flag
    // flips over the feed's WHOLE history (drift is a mix property)
    val rotten = Seq((12L, "zulu quux zulu quux", "feed"),
      (13L, "quux zulu quux quux", "feed")).toDF("doc_id", "text", "source")
    assert(DriftStream.applyBatch(rotten, 1L, "text", "source", refRoot, statsRoot))
    val after = view(statsRoot, refRoot)
    assert(after.head._4 == 1, s"rotted feed must flag: $after")
    // exact one-shot equivalence on the union (any chop, same verdict)
    val oneShot = graft.text.Drift.tvFromProfiles(
      graft.text.Drift.gramProfile(clean.unionByName(rotten), "text", "source", 256),
      Publish.read(spark, refRoot).select("bucket", "n"), 150000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(after == oneShot, "batched view diverged from the one-shot union")
    Sinks.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("reference cutover re-verdicts retroactively; a bucket-count change is refused") {
    val base = Scratch.tempDir("graft_s44_cut")
    val (refRoot, statsRoot) = (s"$base/ref", s"$base/stats")
    val refV1 = Seq((1L, "alpha beta alpha gamma", "base"),
      (2L, "beta gamma alpha alpha", "base")).toDF("doc_id", "text", "source")
    DriftStream.publishReference(refV1, "text", buckets = 256, refRoot)

    // the feed emits a steady alien mix: drifted under reference v1
    val feed = Seq((10L, "zulu quux zulu quux", "feed"),
      (11L, "quux zulu quux quux", "feed")).toDF("doc_id", "text", "source")
    assert(DriftStream.applyBatch(feed, 0L, "text", "source", refRoot, statsRoot))
    val v1Verdict = view(statsRoot, refRoot)
    assert(v1Verdict.head._4 == 1, s"alien mix must flag under v1: $v1Verdict")

    // CUTOVER: re-curate the reference to the feed's own mix (same
    // bucket count, resolved from the live manifest) — the verdict
    // flips retroactively at read time with NO state rewrite, exactly
    // as re-running the one-shot monitor with the new slice would
    val rv1 = Publish.currentVersion(refRoot).get
    DriftStream.cutoverReference(
      Seq((20L, "zulu quux zulu quux", "cur"),
        (21L, "quux zulu quux quux", "cur")).toDF("doc_id", "text", "source"),
      "text", refRoot): Unit
    assert(Publish.currentVersion(refRoot).get > rv1)
    assert(DriftStream.referenceBuckets(refRoot) == 256, "cutover must keep the pinned count")
    val v2Verdict = view(statsRoot, refRoot)
    assert(v2Verdict == Seq(("feed", 14L, 0L, 0)),
      s"identical-to-new-reference mix must read 0 under v2: $v2Verdict")
    // old verdicts stay reproducible through the versioned reference
    val replay = graft.text.Drift.tvFromProfiles(
      Publish.read(spark, statsRoot).select("source", "bucket", "n"),
      Publish.readVersion(spark, refRoot, rv1).select("bucket", "n"), 150000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(replay == v1Verdict, "v1 verdict must replay bit-for-bit from the pinned version")

    // a republish at a DIFFERENT bucket count with old state extant is
    // refused loudly on BOTH surfaces — mixed-bucket profiles are
    // deterministic garbage, never averaged in silently
    Publish.publish(
      Publish.read(spark, refRoot).limit(1),
      refRoot, meta = Map(DriftStream.BucketsKey -> "128")): Unit
    intercept[IllegalArgumentException] {
      DriftStream.applyBatch(feed, 1L, "text", "source", refRoot, statsRoot): Unit
    }
    intercept[IllegalArgumentException] {
      DriftStream.driftView(spark, statsRoot, refRoot, 150000L): Unit
    }
    Sinks.deleteRecursively(java.nio.file.Paths.get(base))
  }

  test("S44r: the drift view survives a mid-backlog kill-and-restart") {
    val base = Scratch.tempDir("graft_s44_r")
    val (refRoot, statsRoot) = (s"$base/ref", s"$base/stats")
    val docs = Tables.documents(spark, SfDir)
    DriftStream.publishReference(
      docs.where(col("lang") === "en"), "text", buckets = 256, refRoot)
    val all = docs.select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val parts = all.grouped(math.max(1, all.length / 4)).toSeq
      .map(_.toSeq.toDF("doc_id", "text", "source"))
    graft.streaming.DurableReplay.runForeachRestart(spark,
      parts.take(2), parts.drop(2),
      (stream, ckpt) => DriftStream.start(stream, "text", "source",
        refRoot, statsRoot, checkpointLocation = Some(ckpt)),
      () => Publish.lastBatch(statsRoot))
    val want = SparkEntry.q208SourceDrift(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(view(statsRoot, refRoot) == want,
      "drift view diverged after kill-and-restart")
    Sinks.deleteRecursively(java.nio.file.Paths.get(base))
  }
}
