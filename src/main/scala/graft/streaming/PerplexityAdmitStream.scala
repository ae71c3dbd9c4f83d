package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.Perplexity

/** S35: streaming perplexity admission — q172's CCNet-style bigram LM
  * run as a crawl-ingest fluency gate (Wenzek et al.'s posture: the
  * model is trained ONCE on a curated reference and held FIXED; the
  * reference pipelines apply exactly this shape of model-scored
  * filtering between crawl and corpus).
  *
  * The complement of S34's distribution gate on the same commit
  * spine: DSIR asks "does this look like the target mix?", this asks
  * "is this fluent prose at all?" — a word-salad document built from
  * perfectly target-like vocabulary passes every heuristic and the
  * distribution gate, but its improbable bigram ORDER scores high
  * cross-entropy here and is rejected. Because the model is fixed,
  * there is no per-batch stats maintenance: admission is a pure
  * function of (model, document), independent of arrival order —
  * the deliberate contrast with S34's stated prefix-dependence.
  *
  * Per batch: one zip_with bigram pass over batch text, model joins
  * bounded by the published reference (AQE broadcasts them while they
  * fit), one map-side-combined per-doc aggregate, one admitted-rows
  * append — batch-sized work against a fixed-size model. Scoring is
  * [[Perplexity.scoreAgainst]] verbatim (exact integer counts, one
  * rounded-decimal −ln P per bigram), so a doc's ce here equals its
  * q172 ce under the same reference. Exactly-once is [[AppendStream]]'s
  * batch-id refusal on the single corpus root — the stream never
  * writes the model tables; they change only through the explicit
  * [[republishModel]] cutover, each batch pins the version it scored
  * against, and the admitted manifest records that version as
  * provenance ([[ModelKey]]). */
object PerplexityAdmitStream {

  private def bigramsRoot(modelRoot: String) = s"$modelRoot/bigrams"
  private def vocabRoot(modelRoot: String) = s"$modelRoot/vocab"

  /** bigrams-manifest meta key naming the vocab version this model
    * version pairs with — the two halves of one trained model must
    * never mix across versions. */
  private val VocabKey = "graft.vocabVersion"

  /** corpus-manifest meta key recording which model version scored
    * an admitted batch (provenance; read back via
    * [[Publish.metaValueAt]]). */
  val ModelKey = "graft.modelVersion"

  /** The live model version (= the bigrams table's live version) —
    * None until [[publishModel]] has committed once. */
  def modelVersion(modelRoot: String): Option[Long] =
    Publish.currentVersion(bigramsRoot(modelRoot))

  /** Train and publish the FIXED bigram model once (idempotent): the
    * exact (p, w, cpw) counts and distinct vocabulary of the curated
    * reference slice ([[Perplexity.trainBigramModel]]). The bigrams
    * root is the COMMIT MARKER and publishes LAST: a crash between
    * the two publishes leaves only the vocab table, and the retry —
    * keyed on the marker — completes the model instead of skipping
    * the missing half. The bigrams manifest records WHICH vocab
    * version it pairs with, so a later [[republishModel]] cutover
    * can never mix one model's counts with another's vocabulary. */
  def publishModel(
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      modelRoot: String): Unit =
    if (Publish.currentVersion(bigramsRoot(modelRoot)).isEmpty) {
      val (bigrams, vocab) = Perplexity.trainBigramModel(refDocs, idCol, textCol)
      val vv = Publish.currentVersion(vocabRoot(modelRoot)).getOrElse(
        Publish.publish(vocab, vocabRoot(modelRoot)))
      Publish.publish(bigrams, bigramsRoot(modelRoot),
        meta = Map(VocabKey -> vv.toString)): Unit
    }

  /** Model CUTOVER — retrain on a new curated reference and publish
    * it as the NEXT model version. Real reference corpora drift;
    * write-once would freeze the gate on the first curation forever.
    *
    * Commit order is [[publishModel]]'s torn-crash argument run
    * again: the vocab half publishes first (a new version under the
    * vocab root), the bigrams half LAST carrying that vocab version
    * in its manifest meta — the bigrams pointer flip IS the cutover.
    * A crash between the two leaves the old model fully live (the
    * new vocab version is dangling but harmless — versions are
    * immutable and unvacuumed) and a retry simply publishes a fresh
    * pair. Batches admitted before the flip keep their recorded
    * [[ModelKey]] provenance; batches after score against the new
    * version. Returns the new model version. */
  def republishModel(
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      modelRoot: String): Long = {
    val (bigrams, vocab) = Perplexity.trainBigramModel(refDocs, idCol, textCol)
    val vv = Publish.publish(vocab, vocabRoot(modelRoot))
    Publish.publish(bigrams, bigramsRoot(modelRoot),
      meta = Map(VocabKey -> vv.toString))
  }

  /** Score `docs` against the published model: (id, n_bigrams, __ce).
    *
    * @param version pin a specific model version; default = live.
    *   Both halves resolve through the PINNED bigrams manifest (its
    *   recorded vocab version), so a concurrent [[republishModel]]
    *   can never hand one batch the new counts and the old vocab. */
  def score(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      modelRoot: String,
      version: Option[Long] = None): DataFrame = {
    val mv = version.orElse(modelVersion(modelRoot)).getOrElse(
      throw new IllegalStateException(s"no published model at $modelRoot"))
    val vv = Publish.metaValueAt(bigramsRoot(modelRoot), mv, VocabKey)
      .map(_.toLong)
      // pre-versioning roots carry no pairing meta; their vocab was
      // write-once, so live IS the pair
      .orElse(Publish.currentVersion(vocabRoot(modelRoot)))
      .getOrElse(throw new IllegalStateException(s"no vocab at $modelRoot"))
    Perplexity.scoreAgainst(docs, idCol, textCol,
      Publish.readVersion(spark, bigramsRoot(modelRoot), mv),
      Publish.readVersion(spark, vocabRoot(modelRoot), vv))
  }

  /** Fold one micro-batch: score against the LIVE model version,
    * append documents whose mean cross-entropy clears the ceiling
    * (ce ≤ `maxCe`, in nats). Bigram-less docs (null ce — too short
    * to be prose) are rejected. The model version is resolved ONCE
    * and pinned for the whole batch — scoring and the manifest's
    * [[ModelKey]] provenance record can never disagree even if a
    * [[republishModel]] cutover lands mid-batch. Returns false
    * untouched on replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      maxCe: Double,
      modelRoot: String,
      corpusRoot: String): Boolean = {
    if (Publish.lastBatch(corpusRoot).exists(_ >= batchId)) return false
    val spark = batch.sparkSession
    val mv = modelVersion(modelRoot).getOrElse(
      throw new IllegalStateException(s"no published model at $modelRoot"))
    val admitted = batch.join(
      score(spark, batch, idCol, textCol, modelRoot, version = Some(mv))
        .where(col("__ce").isNotNull && col("__ce") <= lit(maxCe))
        .select(col(idCol), round(col("__ce"), 6).as("ce")),
      Seq(idCol))
    AppendStream.applyBatch(admitted, batchId, corpusRoot,
      extraMeta = Map(ModelKey -> mv.toString))
  }

  /** Start the fluency gate over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxCe: Double,
      modelRoot: String,
      corpusRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, maxCe,
          modelRoot, corpusRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
