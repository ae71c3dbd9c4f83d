package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.TextOps

/** S38: streaming boilerplate-frequency maintenance — q182's segment
  * dedup fed by ingest. The segment cut is the ONE text-family
  * operator whose incremental posture needs maintained AGGREGATE
  * state, not per-doc rows: whether a segment is boilerplate depends
  * on its frequency across EVERYTHING ingested so far, so a batch
  * cannot decide it alone.
  *
  * Posture: per batch, the docs append to the corpus root and the
  * batch's own segment counts append to the frequency root as
  * ADDITIVE DELTAS — counts are per-doc quantities summed, so deltas
  * from disjoint batches sum to the from-scratch corpus counts
  * exactly (the q166/q181/S37 identity, lifted from row-level to
  * aggregate-level state). The cut applies at READ time
  * ([[cleanView]]): a segment that crosses the threshold in a later
  * batch drops retroactively from earlier carriers too, exactly as
  * the one-shot q182 would — stored documents are immutable, their
  * CURATION is a view over maintained state. Per batch: one narrow
  * segmentize pass over the batch's own text, one batch-sized count
  * agg, two hard-linked appends — cost ∝ batch, never ∝ corpus.
  *
  * Exactly-once across the two roots is S32's per-root batch-gating:
  * each root refuses the batch id independently, and the commit
  * order — frequency FIRST, corpus second — makes the torn state
  * safe for curation: if the crash lands between the two, the
  * frequency table covers a superset of the corpus, so the view can
  * only over-DROP (conservative curation — boilerplate is never
  * missed), and the replay completes the corpus append without
  * double-counting the already-refused frequency delta. */
object SegmentFreqStream {

  /** Fold one micro-batch: frequency deltas, then documents. Every
    * `foldEvery` batches the delta rows FOLD to one row per segment
    * ([[foldFrequencies]]) — the row-count twin of compaction's
    * file-count bound. Returns false when BOTH roots had already
    * committed this batch. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      segLen: Int,
      corpusRoot: String,
      freqRoot: String,
      foldEvery: Int = 0): Boolean = {
    val f = AppendStream.applyBatch(
      TextOps.segmentCounts(batch, idCol, textCol, segLen), batchId, freqRoot)
    if (f && foldEvery > 0 && (batchId + 1) % foldEvery == 0)
      foldFrequencies(batch.sparkSession, freqRoot): Unit
    val c = AppendStream.applyBatch(batch, batchId, corpusRoot)
    f || c
  }

  /** MAINTENANCE: collapse the accreted delta rows to one (seg, n)
    * row per segment and commit the folded table as the next
    * version. Safe by the spec's identity (summed deltas ≡ re-count
    * — folding is just doing part of the read-side SUM early), and
    * replay-safe because the folded version CARRIES the sink's
    * batch-id marker (every commit keeps [[Publish.ReplayMarker]]) —
    * a marker-less maintenance commit would silently reset
    * exactly-once refusal (the S20 lesson). CAS-retried like any other writer on the
    * root. Returns the committed version. */
  def foldFrequencies(spark: SparkSession, freqRoot: String): Long =
    graft.sources.Txn.retry(freqRoot) { live =>
      val folded = Publish.readVersion(spark, freqRoot,
        live.getOrElse(throw new IllegalStateException(s"nothing to fold at $freqRoot")))
        .groupBy("seg").agg(sum("n").as("n"))
      Publish.publishStagedIf(spark, freqRoot, expectedLive = live) { staging =>
        folded.write.parquet(staging)
      }
    }

  /** The maintained corpus frequency: deltas summed to (seg, n).
    * Delta rows accrete one batch-count per segment per batch; the
    * read-side SUM folds them (compaction bounds the file count, and
    * a periodic q97-style fold could bound the row count — the
    * spec's identity makes any such fold safe). */
  def frequencies(spark: SparkSession, freqRoot: String): DataFrame =
    Publish.read(spark, freqRoot)
      .groupBy("seg").agg(sum("n").as("n"))

  /** q182 over the MAINTAINED state: the stored corpus cut against
    * the segments whose maintained frequency exceeds `maxFreq`.
    * Row-identical to the one-shot [[TextOps.segmentDedup]] over
    * everything ingested (SegmentFreqStreamSpec pins it). */
  def cleanView(
      spark: SparkSession,
      corpusRoot: String,
      freqRoot: String,
      idCol: String,
      textCol: String,
      segLen: Int,
      maxFreq: Long): DataFrame = {
    val boiler = frequencies(spark, freqRoot)
      .where(col("n") > maxFreq).select("seg")
    TextOps.segmentDedupAgainst(
      Publish.read(spark, corpusRoot), idCol, textCol, segLen, boiler)
  }

  /** Start the ingest over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segLen: Int,
      corpusRoot: String,
      freqRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, segLen,
          corpusRoot, freqRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
