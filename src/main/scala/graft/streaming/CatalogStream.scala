package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{Catalog, Publish}

/** S23: snapshot-consistent maintenance of SEVERAL derived tables
  * from one stream — the S15/S18 commit-level exactly-once argument
  * lifted to N tables through [[Catalog]].
  *
  * A serving layer rarely reads one table: the reference's update
  * cycle refreshes market data, transfers, and profits together, and
  * a reader joining one table's new tick against another's old tick
  * reconciles to garbage. Per-table sinks (S15/S17/S18) each commit
  * atomically but at DIFFERENT moments — between two of their flips
  * the cross-table view is inconsistent by construction. Here every
  * micro-batch derives ALL tables from the same batch, stages each
  * as a fresh Publish version, and makes the set visible with ONE
  * catalog pointer flip: catalog readers see every table at the same
  * batch horizon, always.
  *
  * Exactly-once: the micro-batch id rides the CATALOG manifest
  * inside the atomic flip (not the member manifests — those commit
  * first and are unobservable until the catalog flip). A replayed
  * batch is refused before any table write; a crash after some table
  * publishes but before the catalog flip leaves unreferenced table
  * versions (reaped by [[Catalog.vacuum]]) and readers on the
  * previous consistent snapshot — the replay then re-publishes every
  * table and flips once. Member tables may carry forward unchanged
  * ([[Catalog.publishAll]] pins them by reference, zero bytes
  * moved).
  *
  * Each derivation is `(liveTableOrNone, batch) => newTable` — the
  * incremental-merge shape S18 uses, generalized: the fact stream is
  * never re-scanned, a tick costs the delta merge per table.
  */
object CatalogStream {

  /** Apply one micro-batch: derive every table, publish each, flip
    * the catalog once. Returns false (no writes at all) for an
    * already-committed batch id. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame]): Boolean = {
    if (Catalog.lastBatch(root).exists(_ >= batchId)) false
    else {
      val spark = batch.sparkSession
      val live = Catalog.currentTableVersions(root)
      val tables = derive.map { case (name, f) =>
        val current = live.get(name).map { v =>
          Publish.readVersion(spark,
            java.nio.file.Paths.get(root, "tables", name).toString, v)
        }
        name -> f(current, batch)
      }
      Catalog.publishAll(spark, root, tables,
        Map(Publish.ReplayMarker -> batchId.toString)): Unit
      true
    }
  }

  /** Start maintaining the catalog at `root` from a fact stream. See
    * [[UpsertSink.start]] for why checkpointLocation is required for
    * real restartability. */
  def start(
      facts: DataFrame,
      root: String,
      derive: Map[String, (Option[DataFrame], DataFrame) => DataFrame],
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, derive): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
