package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.Bpe

/** S41: streaming EVAL-STATS maintenance — q190's per-language
  * fertility/compression numbers kept current at ingest instead of
  * recomputed corpus-wide: every input to the eval is a PER-DOCUMENT
  * additive quantity (doc count, word count, symbol chars, BPE
  * tokens), so each batch appends its own per-language aggregate as
  * an ADDITIVE DELTA and the eval view folds deltas at read — the
  * S38 aggregate-state identity applied to the tokenizer-eval family:
  * summed deltas from disjoint batches equal the from-scratch corpus
  * aggregate EXACTLY, so [[fertilityView]] ≡ one-shot
  * [[Bpe.fertility]] over everything ingested.
  *
  * Deltas pin the S39 tokenizer version they were encoded under
  * (per-row `tok_version` + manifest provenance): token counts from
  * different tokenizers must never sum — the view grains by
  * (tok_version, lang), so a cutover opens new rows rather than
  * corrupting old ones, and a dashboard reads the live version's
  * slice. Ratios (ppm) are computed at READ time from the summed
  * integers — never stored — so folding order cannot drift them.
  * Exactly-once is [[AppendStream]]'s batch-id refusal; per batch the
  * work is one narrow encode map + one |languages|-grain aggregate of
  * the batch only. */
object EvalStatsStream {

  /** Fold one micro-batch: encode under the live tokenizer version
    * and append the batch's per-language additive delta row(s).
    * Returns false untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      langCol: String,
      tokRoot: String,
      statsRoot: String): Boolean = {
    if (Publish.lastBatch(statsRoot).exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    val mv = TokenizerStream.tokenizerVersion(tokRoot).getOrElse(
      throw new IllegalStateException(s"no published tokenizer at $tokRoot"))
    val merges = Publish
      .readVersion(spark, s"$tokRoot/merges", mv)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val deltas = batch.select(col(idCol), col(langCol))
      .join(Bpe.encode(batch, idCol, textCol, merges), Seq(idCol))
      .groupBy(col(langCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_chars_sym").as("n_chars_sym"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .withColumn("tok_version", lit(mv))
    AppendStream.applyBatch(deltas, batchId, statsRoot,
      extraMeta = Map(TokenizerStream.TokenizerKey -> mv.toString))
  }

  /** The maintained eval view: deltas folded to per-(version,
    * language) totals with q190's exact ppm arithmetic applied to the
    * SUMMED integers. For any fixed tokenizer version this equals
    * one-shot [[Bpe.fertility]] over every document ingested under
    * that version — the additive identity the spec pins. */
  def fertilityView(
      spark: SparkSession,
      statsRoot: String,
      langCol: String = "lang"): DataFrame =
    Publish.read(spark, statsRoot)
      .groupBy(col("tok_version"), col(langCol))
      .agg(
        sum("n_docs").as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_chars_sym").as("n_chars_sym"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
      .select(col("tok_version"), col(langCol), col("n_docs"), col("n_words"),
        col("n_chars_sym"), col("n_bpe_tokens"),
        // decimal(38,0) numerators — same wrap hazard and same fix as
        // Bpe.fertility; the additive identity needs bit-equal ratios.
        expr("CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_words, 1)").as("fertility_ppm"),
        expr("CAST(n_bpe_tokens AS DECIMAL(38,0)) * 1000000" +
          " div greatest(n_chars_sym, 1)").as("compression_ppm"))

  /** S42: MIXTURE PLANNING over the maintained stats — q194's
    * token-budget apportionment computed from [[fertilityView]]'s
    * summed word masses for ONE tokenizer version, so budget planning
    * rides ingest-maintained state instead of a corpus re-encode
    * (planning runs vastly outnumber ingest runs; at 100 TB the
    * replanning input is the |versions × languages|-grain stats
    * table, not the corpus). Identity (the spec pins it): for a
    * version covering every ingested document this equals one-shot
    * [[Bpe.tokenBudget]] — word mass is additive across disjoint
    * batches and [[graft.operators.Apportion.largestRemainder]] is a
    * pure function of the summed masses. Grained by version for the
    * same reason fertilityView is: n_bpe_tokens under different
    * tokenizers must never sum, and a budget planned against a stale
    * version's slice stays reproducible after a cutover.
    * Output: (lang, n_words, n_bpe_tokens, target_tokens). */
  def tokenBudgetView(
      spark: SparkSession,
      statsRoot: String,
      tokVersion: Long,
      budget: Long,
      langCol: String = "lang"): DataFrame =
    graft.operators.Apportion.largestRemainder(
      fertilityView(spark, statsRoot, langCol)
        .where(col("tok_version") === tokVersion)
        .select(col(langCol), col("n_words"), col("n_bpe_tokens")),
      langCol, "n_words", budget, "target_tokens")

  /** Start the eval-stats maintainer over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      tokRoot: String,
      statsRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, langCol,
          tokRoot, statsRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
