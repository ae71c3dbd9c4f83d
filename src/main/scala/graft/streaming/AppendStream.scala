package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Compact, Publish, Txn}

/** S20: append-only versioned ingest with the full table-service loop
  * — the streaming composition of the r8 storage-maintenance family.
  *
  * [[PublishStream]] (S15) and [[AggTableSink]] (S18) REWRITE their
  * whole snapshot every micro-batch — right for bounded serving
  * tables, wrong for an append-only fact table where each batch is a
  * sliver of the total. This sink makes append O(batch), the way a
  * real table format commits: a new version CARRIES the live
  * version's data files as hard links ([[graft.sources.Txn.append]]
  * over [[Publish.carry]]) and writes ONLY the batch's rows as new
  * files. Readers still resolve one atomic, footer-validated
  * snapshot per version. Scale note: the bytes moved are O(batch),
  * but validation still opens one footer per file of the version
  * (carried files included) on the driver, so commit cost grows with
  * the live file count between compactions; carried files could
  * reuse their manifest rows instead, which this sink does not do.
  *
  * Appending one file-set per batch is exactly how small-file
  * fragmentation accretes, so the MAINTENANCE loop rides the same
  * cadence: every `compactEvery` batches the sink runs
  * [[Compact.compactPublishedIncremental]] (well-sized files carried
  * byte-identically, fragments re-binned) and then vacuums versions
  * past the retention window. The compaction commit keeps the sink's
  * batch-id marker like every commit does ([[Publish.ReplayMarker]]),
  * so maintenance never resets replay refusal.
  *
  * Exactly-once is S18's commit-level argument: append is not
  * idempotent, so the micro-batch id rides the manifest inside the
  * atomic pointer flip and a replayed batch is refused BEFORE any
  * link or write. A crash mid-stage leaves the old version live
  * (garbage staging reaped by the next publish); a crash after the
  * flip makes the replay a no-op.
  */
object AppendStream {

  /** Append one micro-batch as a new version (hard-linked carry +
    * batch files), then run the maintenance loop on cadence. Returns
    * false (no writes at all) for an already-committed batch id.
    *
    * @param extraMeta caller key/values recorded alongside the
    *   batch-id marker in the append version's manifest — the
    *   provenance channel (e.g. which model version scored the
    *   batch). The batch-id key itself is reserved and always wins.
    * @param statsCols when non-empty, the compaction cadence also
    *   refreshes the new version's [[graft.sources.FileStats]]
    *   `_fstats` manifest INCREMENTALLY (carried files re-point their
    *   stat rows, only re-binned fragments are scanned — the q110
    *   cost model riding the stream's own cadence), so selective
    *   readers keep file-skipping against a table that never stops
    *   ingesting. Between compactions the manifest lags the newest
    *   appends — skipping is an optimization, and a reader that wants
    *   the manifest's horizon pins the version it describes. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      compactEvery: Int = 0,
      targetBytes: Long = 128L * 1024 * 1024,
      retain: Int = 1,
      statsCols: Seq[String] = Nil,
      statsKeyCols: Seq[String] = Nil,
      extraMeta: Map[String, String] = Map.empty): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) false
    else {
      val spark = batch.sparkSession
      // CAS + rebase: a maintenance job (or any other writer)
      // committing between the carry and the flip forces a
      // re-derivation against ITS result — never lose the batch, and
      // never resurrect the pre-maintenance file set
      Txn.append(spark, root, batch,
        meta = extraMeta ++ Map(Publish.ReplayMarker -> batchId.toString)): Unit
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
        Compact.compactPublishedIncremental(spark, root, targetBytes): Unit
        if (statsCols.nonEmpty || statsKeyCols.nonEmpty) {
          val newLive = Publish.currentVersion(root).get
          val newDir = Paths.get(root).resolve(s"v=$newLive").toString
          // the prior MANIFEST lives at the last cadence's version
          // (intermediate append versions carry no `_fstats`) — the
          // newest older version that has one is the carry source;
          // stat rows re-point by NAME, valid because both the
          // hard-link append carry and the compaction carry keep the
          // file's bytes (and name) identical
          val priorDir = Publish.listVersions(Paths.get(root))
            .filter(_ < newLive).sorted(Ordering[Long].reverse)
            .map(v => Paths.get(root).resolve(s"v=$v").toString)
            .find(d => Files.exists(
              Paths.get(graft.sources.FileStats.statsPath(d))))
          graft.sources.FileStats.buildIncremental(spark, newDir,
            cols = statsCols, keyCols = statsKeyCols,
            priorFrom = priorDir): Unit
        }
        // vacuum AFTER the stats refresh: buildIncremental re-points
        // carried rows from the prior version's manifest, which must
        // still exist when it reads it
        Publish.vacuum(root, keep = retain): Unit
      }
      true
    }
  }

  /** Start appending a fact stream at `root` with the maintenance
    * loop on `compactEvery` cadence. checkpointLocation required for
    * real restartability (the [[UpsertSink.start]] argument). */
  def start(
      facts: DataFrame,
      root: String,
      compactEvery: Int,
      targetBytes: Long,
      retain: Int = 1,
      checkpointLocation: Option[String] = None,
      statsCols: Seq[String] = Nil,
      statsKeyCols: Seq[String] = Nil): StreamingQuery = {
    val writer = facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, compactEvery, targetBytes, retain,
          statsCols, statsKeyCols): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
