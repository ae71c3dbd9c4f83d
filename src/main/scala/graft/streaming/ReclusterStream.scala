package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{FileStats, LayoutAdvisor, Publish}

/** S30: ADVICE-DRIVEN re-clustering on the streaming maintenance
  * cadence — the autonomous-maintenance loop (q162) lifted to a
  * table that never stops ingesting.
  *
  * [[AppendStream]] (S20) keeps an append table compacted and
  * vacuumed on cadence; what it cannot fix is LAYOUT: an append-only
  * ingest clusters files by arrival order, and a workload that
  * filters on anything else stops skipping. This sink appends
  * batches exactly like S20 (hard-link carry + batch files, replay
  * refused through the manifest batch id), and every `adviseEvery`
  * batches runs the measured maintenance decision:
  *
  *   1. refresh the `_fstats` manifest over the live version;
  *   2. [[LayoutAdvisor.reclusterAdvice]] — measured current scan
  *      (the manifest arithmetic the pruning read path runs) vs the
  *      best candidate layout's modeled scan, re-cluster only when
  *      the amortized gain clears the 2N rewrite floor;
  *   3. on a `recluster` verdict: ONE range-clustered rewrite of the
  *      live version (a fresh validated Publish version — the
  *      rewrite is itself an atomic, footer-checked commit), fresh
  *      stats, vacuum. On `keep`: nothing is rewritten — the q162
  *      fixed point is what stops the daemon from thrashing, because
  *      the NEXT tick measures the layout it just wrote.
  *
  * Every verdict commits as manifest meta
  * (`graft.recluster.{decision,best,measured,predicted}`) — the
  * audit trail of WHY the table was (or wasn't) rewritten rides the
  * same atomic flip as the data, and the rewrite carries the
  * streaming replay marker so maintenance never resets exactly-once
  * (the S20 contract).
  *
  * Scale: the decision is |files|+|workload| manifest arithmetic per
  * tick; the rewrite costs 2N ONLY when the measured gain already
  * paid for it — by construction the loop's steady state is
  * append + cheap verdicts. */
object ReclusterStream {

  /** The last verdict at `root`: (decision, bestLayout, measured,
    * predicted). Every tick writes the sidecar; a `recluster` tick
    * ALSO commits the verdict as manifest meta on the rewrite
    * version (atomic with the rewrite it justifies). */
  def lastVerdict(root: String): Option[(String, String, Long, Long)] =
    keepVerdict(root).map { m =>
      (m("graft.recluster.decision"), m("graft.recluster.best"),
        m("graft.recluster.measured").toLong,
        m("graft.recluster.predicted").toLong)
    }

  /** Append one micro-batch (S20's hard-link append, replay refused),
    * then on cadence: stats refresh → measured verdict → conditional
    * rewrite. `dims` maps advisor dim name → physical column;
    * `workload` is the declared (query_id, dim, lo, hi) box set the
    * table serves. Returns false for an already-committed batch.
    *
    * Crash window note: the advise tick runs AFTER its batch's
    * append commits, so a crash between the two skips that tick on
    * replay (the batch is refused, so the tick is too). That is the
    * right trade — the verdict is advisory and the next cadence
    * batch re-measures; the alternative (tick before commit) would
    * re-run a 2N rewrite on every replay of the batch. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      adviseEvery: Int,
      dims: Seq[(String, String)],
      workload: Seq[(Long, String, Long, Long)],
      layouts: Seq[Seq[String]],
      amortizeRuns: Long,
      numFiles: Int = 8,
      retain: Int = 1): Boolean = {
    require(adviseEvery > 0, "adviseEvery must be positive")
    val fresh = AppendStream.applyBatch(batch, batchId, root)
    if (!fresh) return false
    if ((batchId + 1) % adviseEvery != 0) return true

    val spark = batch.sparkSession
    val statCols = dims.map(_._2)
    def liveDir = Paths.get(root)
      .resolve(s"v=${Publish.currentVersion(root).get}").toString
    FileStats.build(spark, liveDir, cols = statCols)
    val advice = LayoutAdvisor.reclusterAdvice(
      spark, liveDir, dims, workload, layouts, amortizeRuns)
    val verdict = Map(
      "graft.recluster.decision" ->
        (if (advice.recluster) "recluster" else "keep"),
      "graft.recluster.best" -> advice.bestLayout,
      "graft.recluster.measured" -> advice.measuredRows.toString,
      "graft.recluster.predicted" -> advice.predictedRows.toString)

    // the audit trail: every tick's verdict lands in the sidecar (a
    // KEEP must show the decision was MADE, without churning a
    // version for a no-op); a recluster tick also commits it as
    // manifest meta, atomic with the rewrite it justifies. The
    // sidecar is a commit-plane pointer like any other — stage + an
    // atomic move, never a bare write a crash can tear mid-line
    Publish.store.putAtomic(Paths.get(root).resolve("_last_verdict.json"),
      verdict.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))
    if (advice.recluster) {
      // the best layout's FIRST dim drives the range clustering (the
      // advisor's layouts are orderings; range-partition on the
      // leading dim is the q123 materialization)
      val bestCol = dims.toMap.apply(advice.bestLayout.split('+').head)
      val clustered = Publish.readConformed(spark, root)
        .repartitionByRange(numFiles, col(bestCol))
        .sortWithinPartitions(bestCol)
      // the rewrite is an ordinary validated publish: the commit
      // keeps the replay marker, so maintenance never resets
      // exactly-once
      Publish.publish(clustered, root, meta = verdict): Unit
      FileStats.build(spark, liveDir, cols = statCols)
      Publish.vacuum(root, keep = retain): Unit
    }
    true
  }

  /** The keep-verdict sidecar (written when the tick decided not to
    * rewrite — no version churn for a no-op decision). */
  def keepVerdict(root: String): Option[Map[String, String]] = {
    val p = Paths.get(root).resolve("_last_verdict.json")
    if (!Files.exists(p)) None
    else Some(new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').filter(l => l.nonEmpty && l.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
  }

  /** Start the advised ingest. checkpointLocation required for real
    * restartability (the [[UpsertSink.start]] argument). */
  def start(
      facts: DataFrame,
      root: String,
      adviseEvery: Int,
      dims: Seq[(String, String)],
      workload: Seq[(Long, String, Long, Long)],
      layouts: Seq[Seq[String]],
      amortizeRuns: Long,
      numFiles: Int = 8,
      retain: Int = 1,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, adviseEvery, dims, workload,
          layouts, amortizeRuns, numFiles, retain): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
