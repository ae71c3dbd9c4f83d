package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.similarity.Dedup
import graft.sources.Publish

/** S32: streaming NEAR-DUP ADMISSION — the crawl-ingest gate run as a
  * stream, composing q166's maintained signature index with S20's
  * hard-link append. Each micro-batch of documents is signed ONCE
  * (MinHash band signatures — cost ∝ batch, the corpus never
  * re-shingled), and a document is quarantined when
  *
  *   - its signatures share a `(band, sig)` bucket with the ADMITTED
  *     corpus index (a near-dup of something already in), or
  *   - a lower-id document of the SAME batch shares a bucket (the
  *     within-batch keeper rule: lowest id admits — two copies
  *     arriving together must not both pass). The rule applies
  *     whether or not the lower-id mate itself admits, so a
  *     within-batch near-dup CHAIN collapses to at most its lowest
  *     id (the nearDupKeepers cluster bias, toward precision of the
  *     admitted set).
  *
  * Survivors append to the corpus table, their signatures to the
  * index, and (optionally) the quarantined ids with their reason to a
  * rejects table — each through [[AppendStream.applyBatch]], so every
  * root gets the hard-linked O(|files|) carry, the CAS retry, and its
  * own batch-id replay gate. The commit ORDER is quarantine → corpus
  * → index: quarantine first because it is the only root persisting
  * the verdict REASON (derived from the pre-batch index), and the
  * index last so a torn batch's replay re-derives the SAME verdicts —
  * a batch document's own signatures in the index can only match
  * itself (excluded by id) or a batch-mate the within-batch rule
  * already quarantined. [[NearDupAdmitStreamSpec]] drives a kill
  * mid-backlog through the checkpoint to prove it.
  *
  * Admission invariant (the spec's main claim): the admitted corpus is
  * BAND-CLEAN — a from-scratch LSH run over it finds zero candidate
  * pairs — while corpus ∪ quarantine partitions everything ingested.
  *
  * At 100 TB: per-batch cost is batch shingling + one index-scan
  * equi-join with the (small) batch side broadcast-able, and the
  * appends move only the batch's bytes (carry is hard links). The
  * index is signature-sized (|admitted|·bands rows of three longs) —
  * the same growth law as q166, now paid incrementally forever. */
object NearDupAdmitStream {

  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      corpusRoot: String,
      indexRoot: String,
      quarantineRoot: Option[String] = None,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 16,
      bands: Int = 4,
      n: Int = 3): Boolean = {
    val roots = Seq(corpusRoot, indexRoot) ++ quarantineRoot.toSeq
    if (roots.forall(r => Publish.lastBatch(r).exists(_ >= batchId))) return false
    if (batch.isEmpty) {
      // an empty tick: advance the gates of roots that exist (replay
      // hygiene), create nothing
      roots.filter(r => Publish.currentVersion(r).isDefined).foreach { r =>
        AppendStream.applyBatch(batch.limit(0), batchId, r): Unit
      }
      return true
    }
    val sigs = Dedup.bandSignatures(batch, idCol, textCol, numHashes, bands, n)
      .persist()
    try {
      val crossQ = (if (Publish.currentVersion(indexRoot).isEmpty) None
        else Some(Dedup.crossPairsFromSignatures(
          Publish.read(batch.sparkSession, indexRoot), sigs, idCol)
          .select(col("batch_doc").as(idCol)).distinct()))
        .map(_.withColumn("reason", lit("corpus_neardup")))
      val internalQ = sigs.as("a")
        .join(sigs.as("b"),
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"b.$idCol").as(idCol)).distinct()
        .withColumn("reason", lit("batch_neardup"))
      // a doc matching both reasons reports the corpus one (the
      // earlier fact) — max works because "corpus_…" > "batch_…"
      val quarantined = (crossQ.toSeq :+ internalQ)
        .reduce(_ unionByName _)
        .groupBy(col(idCol)).agg(max("reason").as("reason"))
        .persist()
      try {
        val admitted = batch.join(quarantined, Seq(idCol), "left_anti")
        val admittedSigs = sigs.join(quarantined, Seq(idCol), "left_anti")

        def append(rows: DataFrame, root: String): Unit =
          if (Publish.currentVersion(root).isDefined || !rows.isEmpty)
            AppendStream.applyBatch(rows, batchId, root): Unit
        // quarantine FIRST: it is the only root persisting the verdict
        // REASON, and the reasons are derived from the PRE-batch index
        // — committing it before any of this batch's appends land
        // keeps a torn batch's replay byte-identical, not just
        // set-identical
        quarantineRoot.foreach(r => append(quarantined, r))
        append(admitted, corpusRoot)
        append(admittedSigs, indexRoot)
        true
      } finally quarantined.unpersist(false): Unit
    } finally {
      sigs.unpersist(false): Unit
    }
  }

  /** Start the admission gate on a document stream. checkpointLocation
    * required for real restartability ([[UpsertSink.start]]'s note). */
  def start(
      docs: DataFrame,
      corpusRoot: String,
      indexRoot: String,
      quarantineRoot: Option[String] = None,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 16,
      bands: Int = 4,
      n: Int = 3,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, corpusRoot, indexRoot, quarantineRoot,
          idCol, textCol, numHashes, bands, n): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
