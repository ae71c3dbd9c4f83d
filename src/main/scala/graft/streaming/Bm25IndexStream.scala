package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.text.TextOps

/** S37: streaming retrieval-index maintenance — q179's published BM25
  * index fed by ingest instead of rebuilt from the corpus.
  *
  * The batch posture (q179) tokenizes the corpus once and publishes
  * the (doc, term, tf, dl, fp) index; this sink keeps that index LIVE
  * as documents arrive: every index row is a per-doc quantity
  * ([[TextOps.bm25Index]] — tf, dl, fp depend on the document alone,
  * never on the corpus), so each micro-batch computes exactly its own
  * rows and appends them, and the maintained index is IDENTICAL to a
  * from-scratch re-index of everything ingested — the q166/q181
  * incremental identity carried to the retrieval family. Corpus-level
  * statistics (df, N, avgdl) are NOT stored; every ranking run derives
  * them from the index rows by aggregation, so they are always exact
  * for the index's current horizon — no stale-stats window at all.
  *
  * Per batch: one tokenize pass over the batch's own text (narrow),
  * one (doc, term) aggregate, one hard-linked append — cost ∝ batch,
  * never ∝ corpus. Exactly-once is [[AppendStream]]'s batch-id
  * refusal verbatim: a replayed micro-batch is refused before any
  * write, so no document's postings can double and inflate its tf or
  * the corpus's df. Rankers read one atomic published version
  * ([[TextOps.hardNegativesFromIndex]] / a stored-table BM25 run) and
  * never observe a half-appended batch. */
object Bm25IndexStream {

  /** Fold one micro-batch: index the batch's own documents and append
    * their rows. Returns false untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      indexRoot: String,
      compactEvery: Int = 0,
      targetBytes: Long = 128L * 1024 * 1024): Boolean =
    AppendStream.applyBatch(
      TextOps.bm25Index(batch, idCol, textCol), batchId, indexRoot,
      compactEvery = compactEvery, targetBytes = targetBytes)

  /** Start maintaining the index over a document stream. The
    * compaction cadence matters here more than most appends: postings
    * are many small rows per doc, so fragments accrete fast. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexRoot: String,
      compactEvery: Int = 0,
      targetBytes: Long = 128L * 1024 * 1024,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, indexRoot,
          compactEvery, targetBytes): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
