package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.Bpe

/** S40: streaming CONTEXT-WINDOW assembly — the last hop of the
  * ingest-to-loader chain: admitted documents arrive, encode under
  * the S39 versioned reference tokenizer, pack into fixed-budget
  * training windows, and the windows APPEND — training data
  * materializes loader-ready at ingest instead of waiting for a
  * corpus-wide batch job.
  *
  * Windows are a PER-BATCH artifact by design, not an incremental
  * view of a corpus-wide packing: next-fit assignments depend on
  * every earlier document in the shard, so a corpus-wide packing
  * would reshuffle EXISTING windows on every arrival — exactly what
  * an append-only training log must never do (a loader may already
  * have consumed them). Packing each batch within itself keeps every
  * published window immutable, and the loss is bounded: at most one
  * under-filled window per (shard, batch) tail. Window identity is
  * therefore (batch_id, shard, seq_id) — the batch_id column
  * namespaces seq ids across batches; rows also carry tok_version
  * (q188's rule: a token id is only interpretable against its
  * tokenizer version).
  *
  * Per batch: one narrow encode map + vocab join (batch-sized), the
  * |batch docs|-grain packing recurrence, one token-grain placement
  * join, one append. The batch's window set is IDENTICAL to
  * [[Bpe.windowsFromStream]] over that batch's encoded stream — the
  * spec pins it — so the batch boundary is the only thing a
  * from-scratch run would do differently. Exactly-once is
  * [[AppendStream]]'s batch-id refusal; the tokenizer version pins
  * once per batch ([[TokenizerStream]]'s cutover discipline). */
object ContextWindowStream {

  /** Fold one micro-batch: encode under the live tokenizer version,
    * pack within the batch, append the placed tokens. Returns false
    * untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      tokRoot: String,
      windowsRoot: String,
      shards: Int,
      budget: Long): Boolean = {
    if (Publish.lastBatch(windowsRoot).exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    val mv = TokenizerStream.tokenizerVersion(tokRoot).getOrElse(
      throw new IllegalStateException(s"no published tokenizer at $tokRoot"))
    // per-batch persist with an explicit unpersist (NOT CacheScope:
    // a long-running stream must not accumulate one cached batch per
    // micro-batch in the session registry)
    val encoded = TokenizerStream.encode(spark, batch, idCol, textCol,
      tokRoot, version = Some(mv)).persist()
    try {
      val windows = Bpe.windowsFromStream(encoded, idCol, shards, budget)
        .withColumn("batch_id", lit(batchId))
        .withColumn("tok_version", lit(mv))
      AppendStream.applyBatch(windows, batchId, windowsRoot,
        extraMeta = Map(TokenizerStream.TokenizerKey -> mv.toString))
    } finally encoded.unpersist(blocking = false): Unit
  }

  /** Start the window assembler over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tokRoot: String,
      windowsRoot: String,
      shards: Int,
      budget: Long,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, tokRoot, windowsRoot,
          shards, budget): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
