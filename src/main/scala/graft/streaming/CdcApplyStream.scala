package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.WindowOps
import graft.sources.{Merge, Publish}

/** S24: streaming CDC apply — a change feed with upserts AND delete
  * tombstones folded into a published table, one atomic version per
  * micro-batch.
  *
  * [[UpsertSink]] (S7) and [[PublishStream]] (S15) cover the
  * reference's keep-newest upsert loops; neither can RETIRE a key —
  * and a real change feed (Debezium-shaped, the reference's dune
  * delta staging) carries deletes. Each micro-batch here is applied
  * through ONE [[Merge.mergeIntoPublished]] call: tombstones become
  * the MERGE's matched-delete branch, upserts update matched keys and
  * insert unmatched ones, and `insertWhen` keeps a tombstone for an
  * absent key a no-op. Copy-on-write file pruning (the `_fstats`
  * bloom path when a manifest is present) makes a batch cost
  * O(delta ∩ files), never a table rewrite.
  *
  * Exactly-once is [[PublishStream]]'s commit-layer argument
  * verbatim: the micro-batch id rides the SAME manifest commit as the
  * data (Merge's `extraMeta`), so a replayed batch after crash or
  * restart is REFUSED — one version per batch, never a double-apply.
  * Within a batch, multiple ops on one key collapse to the newest by
  * `versionCols` before the merge (the merge would otherwise refuse
  * the ambiguous source, correctly).
  */
object CdcApplyStream {

  val OpCol = "op"
  val DeleteOp = "delete"

  /** Apply one CDC micro-batch (rows = target columns + an `op`
    * column, "upsert" | "delete") to the published table at `root`.
    * Returns false (and does nothing) when `batchId` is already
    * committed — the replay-after-restart path. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      keys: Seq[String],
      versionCols: Seq[Column],
      evolveSchema: Boolean = false): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) return false
    // newest op per key wins within the batch — a key upserted then
    // deleted in one batch must end deleted, and Merge (correctly)
    // refuses duplicate source keys
    val latest = WindowOps.dedupeFirst(batch, keys, versionCols.map(_.desc))
    val dataCols = latest.columns.filterNot(c => keys.contains(c) || c == OpCol)
    if (Publish.currentVersion(root).isEmpty) {
      // bootstrap: nothing to match against — surviving upserts ARE the table
      Publish.publish(
        latest.where(col(OpCol) =!= DeleteOp).drop(OpCol),
        root, Map(Publish.ReplayMarker -> batchId.toString)): Unit
    } else {
      // Merge commits CAS on its derived-from version; retry rebases
      // against any concurrent maintenance commit (the S20 posture)
      graft.sources.Txn.retry(root) { _ =>
        Merge.mergeIntoPublished(batch.sparkSession, root, latest,
          keys = keys,
          set = dataCols.map(c => c -> Merge.s(c)).toMap,
          deleteWhen = Some(Merge.s(OpCol) === DeleteOp),
          insertWhen = Some(col(OpCol) =!= DeleteOp),
          extraMeta = Map(Publish.ReplayMarker -> batchId.toString),
          // the q135 story through the stream: a change feed that
          // grew a column WIDENS the table mid-stream (upstream APIs
          // add fields; the feed should not have to stop); untouched
          // files carry old-width, reads conform to the manifest
          evolveSchema = evolveSchema).version
      }: Unit
    }
    true
  }

  /** Start applying a CDC stream to `root`. See [[UpsertSink.start]]
    * for why checkpointLocation is required for real
    * restartability. */
  def start(
      changes: DataFrame,
      root: String,
      keys: Seq[String],
      versionCols: Seq[Column],
      checkpointLocation: Option[String] = None,
      evolveSchema: Boolean = false): StreamingQuery = {
    val writer = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, keys, versionCols, evolveSchema): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
