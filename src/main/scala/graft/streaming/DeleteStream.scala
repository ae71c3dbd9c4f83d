package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Deletes, Publish}

/** S25: streaming deletion-vector maintenance — a tombstone-only feed
  * applied as DELETION VECTORS, with copy-on-write deferred to a
  * materialization cadence.
  *
  * [[CdcApplyStream]] (S24) folds deletes through MERGE's
  * matched-delete branch — copy-on-write, right when deletes are rare
  * and clustered (each batch rewrites the touched files). When deletes
  * are FREQUENT and SCATTERED (the takedown/compliance feed over an
  * LLM training corpus: a few doc ids per batch, anywhere in the
  * table), that policy rewrites large files every tick to remove a
  * handful of rows. This sink takes the other side of the trade:
  * each micro-batch commits a new version whose data files carry
  * BYTE-IDENTICALLY and only the `_deletes` sidecar grows
  * ([[Deletes.deleteKeysFromPublished]] — the doomed rows are a
  * broadcast semi-join against the batch's keys, never a driver-sized
  * `isin`), then every `materializeEvery` batches the accumulated
  * vector folds into rewritten files and the sidecar resets
  * ([[Deletes.materialize]] — cost ∝ files-with-deletes, the same
  * cadence argument as [[AppendStream]]'s compaction loop).
  *
  * Exactly-once is the commit-layer argument (S15/S24): the
  * micro-batch id rides the version manifest of EVERY commit the
  * batch makes — the delete version sets it and, when the cadence
  * fires, the materialize commit keeps it, so a crash between the
  * two replays the batch into a refusal either way (materialization
  * is idempotent to skip: the vector is already folded or still
  * pending, and the next cadence hit folds it). A replayed tombstone
  * batch after restart is refused before any version is written.
  *
  * At 100 TB: a tombstone batch costs one broadcast semi-join over
  * the table's KEY column scan plus a sidecar rewrite (|deleted
  * positions| rows) — no data bytes move until maintenance chooses
  * to, and readers pay the anti-join only on files that actually
  * carry deletes ([[Deletes.read]]'s pruned application).
  */
object DeleteStream {

  /** Apply one tombstone micro-batch (rows carry `keyCols`) to the
    * published table at `root`. Returns false (and writes nothing)
    * when `batchId` is already committed — the replay path. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      keyCols: Seq[String],
      materializeEvery: Int = 0): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    // Deletes commits CAS on its derived-from version; retry rebases
    // against any concurrent maintenance commit (the S20 posture)
    graft.sources.Txn.retry(root) { _ =>
      Deletes.deleteKeysFromPublished(spark, root, batch, keyCols,
        extraMeta = Map(Publish.ReplayMarker -> batchId.toString))
    }: Unit
    if (materializeEvery > 0 && (batchId + 1) % materializeEvery == 0) {
      val liveDir = java.nio.file.Paths.get(root)
        .resolve(s"v=${Publish.currentVersion(root).get}")
      // an empty cadence window leaves no sidecar — nothing to fold
      if (java.nio.file.Files.exists(
          java.nio.file.Paths.get(Deletes.deletesPath(liveDir.toString))))
        Deletes.materialize(spark, root): Unit
    }
    true
  }

  /** Start applying a tombstone stream to `root`. See
    * [[UpsertSink.start]] for why checkpointLocation is required for
    * real restartability. */
  def start(
      tombstones: DataFrame,
      root: String,
      keyCols: Seq[String],
      materializeEvery: Int = 0,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = tombstones.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, keyCols, materializeEvery): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
