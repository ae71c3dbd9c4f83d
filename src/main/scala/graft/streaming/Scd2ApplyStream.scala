package graft.streaming

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Scd
import graft.sources.{Compact, Deletes, Publish, Txn}

/** S27: streaming SCD2 dimension maintenance — a change stream folded
  * into a published Type-2 dimension, one atomic version per
  * micro-batch. The dimension-HISTORY cell of the maintenance matrix:
  * [[AggTableSink]] (S18) maintains exact aggregates,
  * [[SketchTableSink]] (S17) sketches, [[CdcApplyStream]] (S24)
  * latest-state rows — this maintains the table you keep when a key's
  * PAST states matter (the row as-of any date), which a keyed MERGE
  * cannot express: applying one change may open a version, close the
  * previous one, splice between two existing ones (late arrival), or
  * do nothing at all (a restated attribute — no-op suppression must
  * cross the batch boundary).
  *
  * Each batch runs [[Scd.scd2Apply]] against the live version with
  * MERGE-grade file pruning: only files holding a TOUCHED key's rows
  * rewrite (rebuilt per-key by the apply; untouched keys sharing a
  * rewritten file carry as rows), every other file carries
  * byte-identically with its DV-sidecar slice, and the whole step
  * commits as one CAS version. Batch cost is O(touched keys' files),
  * never a dimension rewrite — the [[graft.sources.Updates]] posture
  * with a window rebuild instead of a SET expression.
  *
  * Exactly-once is the commit-layer argument shared by every sink in
  * this package: the micro-batch id rides the SAME manifest commit as
  * the data, so a replayed batch after crash/restart is refused —
  * one version per batch, never a double-apply.
  */
object Scd2ApplyStream {

  /** Apply one change micro-batch (rows = keys ++ effectiveCol ++
    * attrCols) to the published SCD2 dimension at `root`. Returns
    * false (and does nothing) when `batchId` is already committed.
    * Precondition, inherited from [[Scd.scd2History]]: one change per
    * key per effective instant across the dimension ∪ batch. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      keys: Seq[String],
      effectiveCol: String,
      attrCols: Seq[String]): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    val changeCols = keys ++ (effectiveCol +: attrCols)
    val changes = batch.select(changeCols.map(col): _*)
    if (Publish.currentVersion(root).isEmpty) {
      // bootstrap: the first batch's history IS the dimension
      Publish.publish(
        Scd.scd2History(changes, keys, effectiveCol, attrCols)
          .select(outCols(keys, attrCols).map(col): _*),
        root, Map(Publish.ReplayMarker -> batchId.toString)): Unit
      return true
    }
    Txn.retry(root) { liveOpt =>
      val live = liveOpt.getOrElse(
        throw new IllegalStateException(s"version vanished under $root"))
      val liveDir = Paths.get(root).resolve(s"v=$live").toString
      val schema = Publish.liveManifestSchema(root)
      val allFiles = Compact.listDataFiles(liveDir).map(_._1)
      val touchedKeys = changes.select(keys.map(col): _*).distinct()
      // a touched key's history may span files — every file holding
      // any LIVE row of one must rewrite (through the DV sidecar)
      val touched = Deletes.readFilesLineage(spark, liveDir, allFiles, schema)
        .join(touchedKeys, keys, "left_semi")
        .select("__file").distinct().collect()
        .map(_.getString(0)).toIndexedSeq.sorted
      val touchedSet = touched.toSet
      val carriedFiles = allFiles.filterNot(touchedSet)
      Publish.publishStagedIf(spark, root,
        expectedLive = Some(live),
        meta = Map(
          Publish.ReplayMarker -> batchId.toString,
          "scd2_applied_from" -> live.toString,
          "carried" -> carriedFiles.size.toString,
          "rewritten" -> touched.size.toString),
        mergeSchema = true) { staging =>
        Publish.carry(spark, liveDir, staging, carriedFiles)
        // rewritten files fold their DV in (readFiles applies it);
        // scd2Apply carries their untouched-key rows verbatim and
        // rebuilds the touched keys' histories with the batch
        val dimSlice =
          if (touched.isEmpty) null
          else Deletes.readFiles(spark, liveDir, touched, schema)
        val rebuilt =
          if (dimSlice == null)
            Scd.scd2History(changes, keys, effectiveCol, attrCols)
              .select(outCols(keys, attrCols).map(col): _*)
          else
            Scd.scd2Apply(dimSlice, changes, keys, effectiveCol, attrCols)
        rebuilt
          .repartition(math.max(1, touched.size))
          .write.mode("append").parquet(staging)
      }
    }: Unit
    true
  }

  private def outCols(keys: Seq[String], attrCols: Seq[String]): Seq[String] =
    keys ++ attrCols ++ Seq("version", "valid_from", "valid_to", "is_current")

  /** Start folding a change stream into the dimension at `root`. See
    * [[UpsertSink.start]] for why checkpointLocation is required for
    * real restartability. */
  def start(
      changes: DataFrame,
      root: String,
      keys: Seq[String],
      effectiveCol: String,
      attrCols: Seq[String],
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, keys, effectiveCol, attrCols): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
