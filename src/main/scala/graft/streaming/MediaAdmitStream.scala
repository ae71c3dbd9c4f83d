package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.multimodal.ImageDedup
import graft.sources.Publish

/** S36: streaming PERCEPTUAL media admission — S32's crawl-ingest
  * gate carried to the media family, composing q181's maintained
  * fingerprint index with S20's hard-link append. Each micro-batch of
  * media rows is decoded and fingerprinted ONCE (cost ∝ batch — the
  * admitted corpus is never re-decoded), and a document is
  * quarantined when
  *
  *   - its fingerprint hamming-matches the ADMITTED corpus index
  *     within `maxHamming` (banding for candidates, xor+bit_count to
  *     verify — a perceptual near-dup of something already in), or
  *   - a lower-id document of the SAME batch hamming-matches it (the
  *     within-batch keeper rule: lowest id admits; a within-batch
  *     near-dup CHAIN collapses to at most its lowest id).
  *
  * Undecodable payloads carry no fingerprint: they pass the
  * perceptual gate (nothing to compare — identity is the EXACT
  * gate's job upstream) and append to the corpus but not the index.
  *
  * Survivors append to the corpus table, their fingerprints to the
  * index, quarantined ids with reasons to the rejects table — each
  * through [[AppendStream.applyBatch]] (hard-linked O(|files|) carry,
  * CAS retry, per-root batch-id replay gate). Commit order is
  * quarantine → corpus → index, S32's torn-batch argument verbatim:
  * quarantine first because it alone persists the verdict REASON
  * (derived from the pre-batch index), index last so a torn batch's
  * replay re-derives the SAME verdicts — a batch document's own
  * fingerprints in the index could only match itself (excluded by
  * id) or a batch-mate the within-batch rule already quarantined.
  * [[MediaAdmitStreamSpec]] drives a kill mid-backlog to prove it.
  *
  * Admission invariant (the spec's main claim): the admitted corpus
  * is PAIR-CLEAN — a from-scratch [[ImageDedup.dHashPairs]] run over
  * its fingerprints finds nothing within the threshold — while
  * corpus ∪ quarantine partitions everything ingested.
  *
  * At 100 TB: per-batch cost is the batch's decode (a narrow batched
  * map — media bytes never shuffle) + one index-scan equi-join with
  * the batch side broadcast-able; the index is |admitted| rows of
  * (id, long) and grows by appends, never recomputes. */
object MediaAdmitStream {

  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      corpusRoot: String,
      indexRoot: String,
      quarantineRoot: Option[String] = None,
      fingerprint: DataFrame => DataFrame = ImageDedup.imageDHashes _,
      idCol: String = "doc_id",
      hashCol: String = "dhash",
      maxHamming: Int = 2): Boolean = {
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
    val fps = fingerprint(batch).persist()
    try {
      val crossQ = (if (Publish.currentVersion(indexRoot).isEmpty) None
        else Some(ImageDedup.incrementalDHashPairs(
          Publish.read(batch.sparkSession, indexRoot), fps,
          idCol, hashCol, maxHamming)
          .select(col("batch_doc").as(idCol)).distinct()))
        .map(_.withColumn("reason", lit("corpus_neardup")))
      val internalQ = ImageDedup.dHashPairs(fps, idCol, hashCol, maxHamming)
        .select(col("doc_b").as(idCol)).distinct()
        .withColumn("reason", lit("batch_neardup"))
      // a doc matching both reasons reports the corpus one (the
      // earlier fact) — max works because "corpus_…" > "batch_…"
      val quarantined = (crossQ.toSeq :+ internalQ)
        .reduce(_ unionByName _)
        .groupBy(col(idCol)).agg(max("reason").as("reason"))
        .persist()
      try {
        val admitted = batch.join(quarantined, Seq(idCol), "left_anti")
        val admittedFps = fps.join(quarantined, Seq(idCol), "left_anti")

        def append(rows: DataFrame, root: String): Unit =
          if (Publish.currentVersion(root).isDefined || !rows.isEmpty)
            AppendStream.applyBatch(rows, batchId, root): Unit
        quarantineRoot.foreach(r => append(quarantined, r))
        append(admitted, corpusRoot)
        append(admittedFps, indexRoot)
        true
      } finally quarantined.unpersist(false): Unit
    } finally fps.unpersist(false): Unit
  }

  /** Start the admission gate on a media stream. checkpointLocation
    * required for real restartability ([[UpsertSink.start]]'s note). */
  def start(
      media: DataFrame,
      corpusRoot: String,
      indexRoot: String,
      quarantineRoot: Option[String] = None,
      fingerprint: DataFrame => DataFrame = ImageDedup.imageDHashes _,
      idCol: String = "doc_id",
      hashCol: String = "dhash",
      maxHamming: Int = 2,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = media.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, corpusRoot, indexRoot, quarantineRoot,
          fingerprint, idCol, hashCol, maxHamming): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
