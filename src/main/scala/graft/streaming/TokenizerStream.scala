package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.Bpe

/** S39: streaming TOKEN-STREAM maintenance under a VERSIONED
  * tokenizer — the ingest-side twin of q188 (token-id streams) with
  * S35's model-cutover discipline applied to the tokenizer family.
  *
  * A crawl pipeline encodes every admitted batch into the token-id
  * streams training consumes (q189 packs them into context windows).
  * The tokenizer is a REFERENCE artifact, not a per-batch derivation:
  * merges + vocabulary train once on a curated reference (q183/q185),
  * publish under the commit protocol, and hold fixed — ids must mean
  * the same thing across batches or the accumulated stream table is
  * garbage. Real tokenizers drift (vocab grows with the corpus; a new
  * pre-tokenization lands), so the pair is VERSIONED: [[republish]]
  * cuts over to a freshly-trained pair, batches encoded before the
  * flip keep their recorded version (provenance in the stream
  * manifest AND a per-row `tok_version` column — rows from different
  * tokenizer versions share one table, and a token id is only
  * interpretable against its version's vocabulary), batches after
  * encode against the new pair.
  *
  * Out-of-vocabulary symbols — a fact of life under a FIXED reference
  * tokenizer, impossible under q188's self-tokenization — keep their
  * stream position carrying the UNK id 0 ([[Bpe.encodeIds]]'s `oovId`;
  * reference ids start at 1), never silently drop (dropping would
  * shift every later position).
  *
  * Commit protocol: the vocab half publishes FIRST, the merges half
  * LAST carrying the vocab version in its manifest meta — the merges
  * pointer flip IS the cutover, and a crash between the two leaves
  * the old pair fully live (S35's torn-crash argument verbatim).
  * Per batch the version resolves ONCE and pins scoring + provenance
  * together; exactly-once is [[AppendStream]]'s batch-id refusal on
  * the streams root. Per-batch work: one narrow encode map + one
  * token-grain vocab join + the append — batch-sized against a
  * fixed-size tokenizer. */
object TokenizerStream {

  private def mergesRoot(tokRoot: String) = s"$tokRoot/merges"
  private def vocabRoot(tokRoot: String) = s"$tokRoot/vocab"

  /** merges-manifest meta key naming the vocab version this tokenizer
    * version pairs with — the two halves of one trained tokenizer
    * must never mix across versions. */
  private val VocabKey = "graft.vocabVersion"

  /** streams-manifest meta key recording which tokenizer version
    * encoded an appended batch (provenance; read back via
    * [[Publish.metaValueAt]]). */
  val TokenizerKey = "graft.tokenizerVersion"

  /** The UNK id for out-of-vocabulary symbols (vocabulary ids are
    * 1-based, so 0 is structurally free). */
  val OovId = 0L

  /** The live tokenizer version (= the merges table's live version) —
    * None until [[publish]] has committed once. */
  def tokenizerVersion(tokRoot: String): Option[Long] =
    Publish.currentVersion(mergesRoot(tokRoot))

  /** Train and publish the reference tokenizer once (idempotent):
    * q183's merge table and q185's vocabulary over the curated
    * reference slice. The merges root is the COMMIT MARKER and
    * publishes LAST: a crash between the two publishes leaves only
    * the vocab table, and the retry — keyed on the marker —
    * completes the pair instead of skipping the missing half. */
  def publish(
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      tokRoot: String): Unit =
    if (Publish.currentVersion(mergesRoot(tokRoot)).isEmpty) {
      val mergeTable = Bpe.trainMerges(refDocs, idCol, textCol, rounds)
      val merges = collectMerges(mergeTable)
      val vocab = Bpe.vocabularyFromMerges(refDocs, idCol, textCol, merges)
      val vv = Publish.currentVersion(vocabRoot(tokRoot)).getOrElse(
        Publish.publish(vocab, vocabRoot(tokRoot)))
      Publish.publish(mergeTable, mergesRoot(tokRoot),
        meta = Map(VocabKey -> vv.toString)): Unit
    }

  /** Tokenizer CUTOVER — retrain on a new curated reference and
    * publish it as the NEXT version. Commit order is [[publish]]'s
    * torn-crash argument run again: vocab first, merges last carrying
    * the vocab version — the merges pointer flip IS the cutover. A
    * crash between the two leaves the old tokenizer fully live (the
    * new vocab version dangles, harmless — versions are immutable),
    * and a retry publishes a fresh pair. Batches encoded before the
    * flip keep their recorded [[TokenizerKey]] provenance; batches
    * after encode against the new pair. Returns the new version. */
  def republish(
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      rounds: Int,
      tokRoot: String): Long = {
    val mergeTable = Bpe.trainMerges(refDocs, idCol, textCol, rounds)
    val merges = collectMerges(mergeTable)
    val vocab = Bpe.vocabularyFromMerges(refDocs, idCol, textCol, merges)
    val vv = Publish.publish(vocab, vocabRoot(tokRoot))
    Publish.publish(mergeTable, mergesRoot(tokRoot),
      meta = Map(VocabKey -> vv.toString))
  }

  /** Encode `docs` against the published tokenizer: q188's
    * (id, pos, token_id, symbol) stream plus the `tok_version`
    * column that makes the ids interpretable in a mixed-version
    * table. OOV symbols carry [[OovId]] at their position.
    *
    * @param version pin a specific tokenizer version; default =
    *   live. Both halves resolve through the PINNED merges manifest
    *   (its recorded vocab version), so a concurrent [[republish]]
    *   can never hand one batch the new merges and the old vocab. */
  def encode(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tokRoot: String,
      version: Option[Long] = None): DataFrame = {
    val mv = version.orElse(tokenizerVersion(tokRoot)).getOrElse(
      throw new IllegalStateException(s"no published tokenizer at $tokRoot"))
    val vv = Publish.metaValueAt(mergesRoot(tokRoot), mv, VocabKey)
      .map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"tokenizer version $mv at $tokRoot carries no vocab pairing"))
    val merges = collectMerges(
      Publish.readVersion(spark, mergesRoot(tokRoot), mv))
    Bpe.encodeIds(docs, idCol, textCol, merges,
        Publish.readVersion(spark, vocabRoot(tokRoot), vv),
        oovId = Some(OovId))
      .withColumn("tok_version", lit(mv))
  }

  /** Fold one micro-batch: encode against the LIVE tokenizer version
    * and append the batch's token streams. The version resolves ONCE
    * and pins for the whole batch — the rows' `tok_version` and the
    * manifest's [[TokenizerKey]] provenance can never disagree even
    * if a [[republish]] cutover lands mid-batch. Returns false
    * untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      tokRoot: String,
      streamsRoot: String): Boolean = {
    if (Publish.lastBatch(streamsRoot).exists(_ >= batchId)) return false
    val mv = tokenizerVersion(tokRoot).getOrElse(
      throw new IllegalStateException(s"no published tokenizer at $tokRoot"))
    val encoded = encode(batch.sparkSession, batch, idCol, textCol,
      tokRoot, version = Some(mv))
    AppendStream.applyBatch(encoded, batchId, streamsRoot,
      extraMeta = Map(TokenizerKey -> mv.toString))
  }

  /** Start the token-stream encoder over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tokRoot: String,
      streamsRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, tokRoot, streamsRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  private def collectMerges(mergeTable: DataFrame): Seq[(String, String)] =
    mergeTable.orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
}
