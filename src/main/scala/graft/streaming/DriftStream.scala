package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.Drift

/** S44: streaming FEED-HEALTH maintenance — q208's per-source
  * distribution-drift monitor fed by ingest instead of recomputed
  * corpus-wide. The production shape: the reference profile is a
  * FIXED published artifact (S35's fixed-model posture — an adaptive
  * reference would track the drift it exists to catch, masking a
  * slow feed rot), each micro-batch contributes one bounded
  * (source, bucket, n) gram-profile DELTA, and the drift verdict is
  * a VIEW over maintained state, recomputed from summed integers at
  * read time.
  *
  * Why deltas sum exactly (the S38/S41 additive identity): gram
  * counts are per-document quantities, so profiles of disjoint
  * batches SUM to the from-scratch corpus profile — [[driftView]] is
  * therefore row-identical to one-shot [[Drift.tvFromProfiles]] over
  * everything ingested, whatever the batch chop (spec-pinned),
  * sharing the exact-integer TV arithmetic verbatim so the two
  * surfaces cannot drift from each other. Drift is a property of a
  * source's WHOLE ingested mix: a feed that rots in a later batch
  * flips its flag retroactively over its history, exactly as the
  * one-shot monitor would (the q208 semantics, spec-pinned).
  *
  * Bucket count lives in the reference manifest
  * ([[BucketsKey]]) and every batch resolves it FROM the published
  * reference — profiles hashed at different bucket counts can never
  * mix (a silent-garbage mode a per-call parameter would allow).
  *
  * Per batch: one narrow graft_grams pass over the batch's own text,
  * map-side combined to ≤ |sources|·B delta rows, one hard-linked
  * append. State ∝ batches·|sources|·B; [[foldProfile]] collapses it
  * to one row per (source, bucket) on the S38 fold discipline —
  * safe by the sum identity, replay-safe because the folded version
  * carries the sink's batch-id marker. Exactly-once is
  * [[AppendStream]]'s batch-id refusal. */
object DriftStream {

  /** reference-manifest meta key carrying the gram bucket count. */
  val BucketsKey = "graft.driftBuckets"

  /** stats-manifest meta key pinning the bucket count the maintained
    * deltas were hashed at — the cutover guard: a reference
    * republished at a DIFFERENT bucket count can never silently mix
    * with state hashed at the old one. */
  val BucketsPinKey = "graft.driftBucketsPin"

  def referenceVersion(refRoot: String): Option[Long] =
    Publish.currentVersion(refRoot)

  /** Publish the FIXED reference gram profile once (idempotent): the
    * (bucket, n) histogram of the curated reference corpus, bucket
    * count recorded in the manifest as the single source of truth
    * every later batch resolves. */
  def publishReference(
      refDocs: DataFrame,
      textCol: String,
      buckets: Int,
      refRoot: String): Unit =
    if (Publish.currentVersion(refRoot).isEmpty) {
      val prof = refDocs
        .select(explode(
          call_function("graft_grams", col(textCol), lit(buckets))).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      Publish.publish(prof, refRoot,
        meta = Map(BucketsKey -> buckets.toString)): Unit
    }

  /** The bucket count the published reference was hashed at. */
  def referenceBuckets(refRoot: String): Int = {
    val v = Publish.currentVersion(refRoot).getOrElse(
      throw new IllegalStateException(s"no published reference at $refRoot"))
    Publish.metaValueAt(refRoot, v, BucketsKey).getOrElse(
      throw new IllegalStateException(s"reference at $refRoot lacks $BucketsKey"))
      .toInt
  }

  /** Fold one micro-batch: append the batch's own (source, bucket, n)
    * gram-profile delta, bucketed exactly as the published reference.
    * Returns false untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      sourceCol: String,
      refRoot: String,
      statsRoot: String,
      foldEvery: Int = 0): Boolean = {
    if (Publish.lastBatch(statsRoot).exists(_ >= batchId)) return false
    val b = referenceBuckets(refRoot)
    // cutover guard: deltas hashed at different bucket counts can
    // never mix — a reference republished at a new count with old
    // state extant is refused LOUDLY, not averaged into garbage
    for (pin <- Publish.currentMetaValue(statsRoot, BucketsPinKey))
      require(pin.toInt == b,
        s"reference at $refRoot was re-published at $b buckets but the " +
          s"maintained state at $statsRoot is hashed at $pin — reset the " +
          "stats root (or cut the reference over at the pinned count)")
    val deltas = Drift.gramProfile(batch, textCol, sourceCol, b)
    val ok = AppendStream.applyBatch(deltas, batchId, statsRoot,
      extraMeta = Map(BucketsPinKey -> b.toString))
    if (ok && foldEvery > 0 && (batchId + 1) % foldEvery == 0)
      foldProfile(batch.sparkSession, statsRoot): Unit
    ok
  }

  /** MAINTENANCE: collapse accreted delta rows to one (source,
    * bucket, n) row each — the S38 fold discipline verbatim (sum
    * identity makes it safe; the carried replay marker keeps the
    * folded version refusing its batches). */
  def foldProfile(spark: SparkSession, statsRoot: String): Long =
    graft.sources.Txn.retry(statsRoot) { live =>
      val folded = Publish.readVersion(spark, statsRoot,
        live.getOrElse(throw new IllegalStateException(s"nothing to fold at $statsRoot")))
        .groupBy("source", "bucket").agg(sum("n").as("n"))
      // carry the bucket pin through maintenance — a fold must never
      // un-pin the cutover guard (the commit carries ONLY the replay
      // marker, so the pin rides as this version's own meta)
      val pin = Publish.currentMetaValue(statsRoot, BucketsPinKey)
        .map(BucketsPinKey -> _).toMap
      Publish.publishStagedIf(spark, statsRoot, expectedLive = live,
        meta = pin) { staging =>
        folded.write.parquet(staging)
      }
    }

  /** REFERENCE CUTOVER (the S35 republish discipline applied to the
    * drift reference): re-curate the fixed reference as a NEW
    * version at the SAME bucket count the live manifest pins — the
    * maintained deltas stay valid (they depend on the reference only
    * through the bucket count), and every grain's verdict re-reads
    * retroactively against the new reference at view time, exactly
    * as re-running the one-shot monitor with the new slice would.
    * Old verdicts stay reproducible: [[Publish.readVersion]] on the
    * prior reference version replays them bit-for-bit. */
  def cutoverReference(
      refDocs: DataFrame,
      textCol: String,
      refRoot: String): Long = {
    val b = referenceBuckets(refRoot)
    val prof = refDocs
      .select(explode(
        call_function("graft_grams", col(textCol), lit(b))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    Publish.publish(prof, refRoot, meta = Map(BucketsKey -> b.toString))
  }

  /** The maintained drift verdict: summed deltas vs the published
    * reference through the exact q208 arithmetic. Row-identical to
    * one-shot [[Drift.tvFromProfiles]] over everything ingested. */
  def driftView(
      spark: SparkSession,
      statsRoot: String,
      refRoot: String,
      alertPpm: Long): DataFrame = {
    // same cutover guard as the write path: state hashed at one
    // bucket count must never be scored against a reference hashed
    // at another (the comparison would be deterministic garbage)
    for (pin <- Publish.currentMetaValue(statsRoot, BucketsPinKey))
      require(pin.toInt == referenceBuckets(refRoot),
        s"maintained state at $statsRoot is hashed at $pin buckets but " +
          s"the live reference at $refRoot is at ${referenceBuckets(refRoot)}")
    Drift.tvFromProfiles(
      obs = Publish.read(spark, statsRoot).select("source", "bucket", "n"),
      ref = Publish.read(spark, refRoot).select("bucket", "n"),
      alertPpm = alertPpm)
  }

  /** Start the feed-health maintainer over a document stream. */
  def start(
      docs: DataFrame,
      textCol: String,
      sourceCol: String,
      refRoot: String,
      statsRoot: String,
      foldEvery: Int = 0,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, textCol, sourceCol,
          refRoot, statsRoot, foldEvery): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
