package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Publish, Wap}

/** S28: streaming write-audit-publish — declarative expectations
  * enforced on EVERY micro-batch, in front of its commit.
  *
  * [[graft.sources.Wap]] (q132) gates batch publishes; a streaming
  * ingest needs the same gate at the micro-batch grain or bad rows
  * reach readers between audits (the reference's dbt-tests-after-
  * refresh gap, continuously). Each batch here flows through
  * [[Wap.appendWithExpectations]]: the audit is ONE aggregate pass
  * over the batch, clean rows append (base files carried
  * byte-identically), drop-severity violations quarantine to the NEW
  * version's `_rejects` sidecar — so the quarantine is BATCH-GRAINED
  * and rides time travel: `Wap.rejects` at version v is exactly what
  * batch v rejected, with per-row violation names for triage — and
  * every count commits in the version manifest atomically with the
  * data it describes.
  *
  * Severities in stream terms (Delta Live Tables' contract):
  * warn = counted, published; drop = quarantined, clean publish;
  * fail = the BATCH THROWS — nothing commits, the query dies with
  * [[Wap.AuditFailed]], and because the failed batch never wrote, a
  * restart replays it into the same audit (fail-and-stay-failed
  * until the expectation or the data changes — a gate, not a skip).
  *
  * Exactly-once is the commit-layer argument (S15/S20/S24): the
  * micro-batch id rides the version manifest, a replayed batch is
  * refused before any write. */
object WapStream {

  /** Audit-and-append one micro-batch. Returns false (nothing
    * written) when `batchId` is already committed — the replay path.
    * Throws [[Wap.AuditFailed]] (nothing written) on a fail-severity
    * violation. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      expectations: Seq[Wap.Expectation]): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) return false
    Wap.appendWithExpectations(batch.sparkSession, root, batch,
      expectations, Map(Publish.ReplayMarker -> batchId.toString)): Unit
    true
  }

  /** Start the audited ingest. See [[UpsertSink.start]] for why
    * checkpointLocation is required for real restartability. */
  def start(
      rows: DataFrame,
      root: String,
      expectations: Seq[Wap.Expectation],
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = rows.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, expectations): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
