package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish

/** S45: drift-GATED admission — S44's feed-health verdict acting on
  * ingest instead of just reporting. Documents from a feed whose
  * cumulative mix has drifted past the alert threshold are routed to
  * a QUARANTINE table instead of the training corpus; the moment the
  * feed's cumulative profile recovers, its new batches admit again.
  *
  * Two deliberate semantics, both spec-pinned:
  *
  *  - **The monitor sees everything.** Drift stats update from every
  *    batch BEFORE the gate consults them — quarantined rows included.
  *    A gate that only counted admitted rows would freeze the feed's
  *    observable profile at the moment it rotted (the admitted prefix
  *    stays clean forever) and could never witness a recovery; and a
  *    batch that ITSELF rots the feed quarantines immediately rather
  *    than sneaking in one poisoned batch ahead of the verdict.
  *  - **Admission is a function of the arrival prefix** (the S34/S32
  *    precedent): the same document admits or quarantines depending
  *    on what its feed had sent before it. That is what a gate IS —
  *    the retroactive whole-history verdict stays available from the
  *    monitor (S44 driftView), and nothing is destroyed: admitted ∪
  *    quarantined = everything ingested, so a later re-review can
  *    promote a quarantined span wholesale.
  *
  * Per batch: S44's bounded delta append (one narrow gram pass), one
  * k-row verdict view over the maintained profile, one broadcast
  * anti/semi join to split the batch, two appends. Batch-sized work
  * against bounded-grain state — never a corpus re-scan.
  *
  * Exactly-once is the S34 multi-root argument, stats → corpus →
  * quarantine order: a replay refuses the stats delta (already
  * committed), re-derives the IDENTICAL verdict from the same
  * post-batch state, and each append refuses its own batch id —
  * crash anywhere, rerun, nothing double-counts and the split is
  * unchanged. */
object DriftAdmitStream {

  /** Fold one micro-batch: update the drift monitor, then split the
    * batch on the post-update verdict. Returns false untouched on
    * full replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      textCol: String,
      sourceCol: String,
      alertPpm: Long,
      refRoot: String,
      statsRoot: String,
      corpusRoot: String,
      quarantineRoot: String): Boolean = {
    val spark = batch.sparkSession
    val statsDone = Publish.lastBatch(statsRoot).exists(_ >= batchId)
    val corpusDone = Publish.lastBatch(corpusRoot).exists(_ >= batchId)
    val quarDone = Publish.lastBatch(quarantineRoot).exists(_ >= batchId)
    if (statsDone && corpusDone && quarDone) return false

    // monitor FIRST: the verdict below must include this batch's own
    // contribution, and a replay that crashed after this step
    // re-derives the identical verdict from the committed state
    if (!statsDone)
      DriftStream.applyBatch(batch, batchId, textCol, sourceCol,
        refRoot, statsRoot): Unit

    // the k-row post-update verdict (one row per feed ever seen)
    val drifted = DriftStream
      .driftView(spark, statsRoot, refRoot, alertPpm)
      .where(col("drifted") === 1)
      .select(col("source").as(sourceCol))
    if (!corpusDone)
      AppendStream.applyBatch(
        batch.join(broadcast(drifted), Seq(sourceCol), "left_anti"),
        batchId, corpusRoot): Unit
    if (!quarDone)
      AppendStream.applyBatch(
        batch.join(broadcast(drifted), Seq(sourceCol), "left_semi"),
        batchId, quarantineRoot): Unit
    true
  }

  /** Start the drift gate over a document stream. */
  def start(
      docs: DataFrame,
      textCol: String,
      sourceCol: String,
      alertPpm: Long,
      refRoot: String,
      statsRoot: String,
      corpusRoot: String,
      quarantineRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, textCol, sourceCol, alertPpm,
          refRoot, statsRoot, corpusRoot, quarantineRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
