package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Ingest, Publish}

/** S15: atomic snapshot publication as a streaming sink — each
  * micro-batch folds into the live table (keep-newest-per-key upsert)
  * and the result is published as a NEW immutable version through
  * [[Publish]], so downstream readers always resolve a complete,
  * validated snapshot and never see a half-applied batch. This is
  * [[UpsertSink]]'s reference semantics (the per-batch DELETE+INSERT
  * refresh) moved onto the versioned layout: the upsert sink rewrites
  * partitions in place and relies on content idempotency for replay
  * safety; this sink gets exactly-once at the COMMIT level instead —
  * the micro-batch id rides the manifest inside publish's atomic
  * pointer flip, so a replayed batch is detected and skipped before
  * any write happens.
  *
  * Crash ordering: publish's commit point is the pointer flip, and
  * the batch id is in the manifest BEHIND that flip — a crash
  * anywhere before it leaves the old version live with the old batch
  * id, so the restarted query re-publishes (correct); after it, the
  * replay reads its own id and no-ops (exactly once). There is no
  * window where the data is applied but the id is not.
  *
  * Scale note: each publish rewrites the full snapshot — the right
  * trade for the reference's serving tables (bounded dimensions,
  * refreshed wholesale by DELETE+INSERT today) and for any table
  * where readers need atomic whole-snapshot semantics; unbounded
  * fact tables should stay on [[UpsertSink]]'s partial-partition
  * rewrite instead.
  */
object PublishStream {

  /** The last micro-batch id committed at `root`, if the live version
    * was written by this sink. */

  /** Fold one micro-batch into the live snapshot and publish the
    * result as a new version. Returns false (and does nothing) when
    * `batchId` is already committed — the replay-after-restart path.
    * Exposed as the testable unit, like [[Ingest.incrementalRefresh]]
    * is for [[UpsertSink]]. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      keys: Seq[String],
      versionCols: Seq[Column]): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) false
    else {
      val current =
        if (Publish.currentVersion(root).isDefined)
          Publish.read(batch.sparkSession, root)
        else batch.limit(0)
      val next = Ingest.keepLatest(current, batch, keys, versionCols)
      Publish.publish(next, root, Map(Publish.ReplayMarker -> batchId.toString))
      true
    }
  }

  /** Start publishing a stream of updates as atomic snapshot versions
    * at `root`. See [[UpsertSink.start]] for why checkpointLocation
    * is required for real restartability. */
  def start(
      updates: DataFrame,
      root: String,
      keys: Seq[String],
      versionCols: Seq[Column],
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = updates.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, keys, versionCols): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
