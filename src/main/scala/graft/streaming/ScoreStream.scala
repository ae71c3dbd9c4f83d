package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.{Curriculum, TextOps}

/** S43: streaming SCHEDULE-SCORE maintenance — q203's stored quality
  * table kept current at ingest: a document's quality score is a pure
  * per-row function of its text (q23's exact integer arithmetic), so
  * each micro-batch appends its OWN scored rows and the stored table
  * is always exactly the scores a one-shot pass over everything
  * ingested would produce — the simplest possible maintained-state
  * identity (row-disjoint union, no folding at all).
  *
  * What it buys (the q178/q198/q203 storage posture's point): schedule
  * planning — [[planOrder]], a seed or anneal-fraction sweep — reads
  * the maintained (id, score) table and never touches corpus text;
  * scoring cost is paid once, at ingest, per document.
  *
  * Exactly-once is [[AppendStream]]'s batch-id refusal (replayed
  * batches write nothing). Per-batch cost: one narrow scoring map
  * over the batch only — no shuffle, no state beyond the appended
  * rows. Duplicate doc ids across batches are the CALLER's admission
  * contract (the dedup/admission streams upstream), same as every
  * other maintained per-doc table here. */
object ScoreStream {

  /** Score one micro-batch and append its (id, quality_score_ppm)
    * rows. Returns false untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      scoresRoot: String): Boolean = {
    if (Publish.lastBatch(scoresRoot).exists(_ >= batchId)) return false
    val scored = TextOps.qualityScore(batch, idCol, textCol)
      .select(col(idCol), col("quality_score_ppm"))
    AppendStream.applyBatch(scored, batchId, scoresRoot)
  }

  /** The maintained curriculum plan: q200's schedule over the stored
    * scores (never the corpus text). For any ingest history this
    * equals one-shot [[Curriculum.phaseOrder]] over every document
    * ingested — the spec pins the identity. */
  def planOrder(
      spark: SparkSession,
      scoresRoot: String,
      idCol: String,
      annealPpm: Long,
      seed: Long = 1L): DataFrame =
    Curriculum.orderFromScores(
      Publish.read(spark, scoresRoot), idCol, annealPpm, seed)

  /** Start the score maintainer over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      scoresRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, scoresRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
