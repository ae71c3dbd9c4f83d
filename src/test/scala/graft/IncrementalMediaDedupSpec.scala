package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.{ImageDedup, Multimodal}
import graft.sources.{Publish, Sinks, Txn}
import graft.tools.Scratch

/** The q181 contract — q166's crawl-ingest identity carried to the
  * PERCEPTUAL media family. Perceptual fingerprints (image dHash,
  * audio envelope, audio band-energy) are corpus-independent
  * integers, so:
  *
  * (a) batch-vs-index pairs ≡ the corpus×batch cross slice of a
  *     from-scratch [[ImageDedup.dHashPairs]] run over corpus ∪ batch
  *     fingerprints — for ALL THREE fingerprint families;
  * (b) an index maintained by `Txn.append` of each batch's own
  *     fingerprints ≡ re-fingerprinting everything from scratch —
  *     append-only maintenance is exact, and corpus media is never
  *     re-decoded;
  * (c) a re-ingested identical payload (same id) is excluded — the
  *     exact gate's job, not a near-dup pair.
  */
class IncrementalMediaDedupSpec extends SparkSpec {

  private def docs: DataFrame = Tables.documents(spark, SfDir)

  /** dHashPairs emits each pair once as doc_a < doc_b; normalize the
    * cross slice to (corpus_doc, batch_doc). */
  private def crossSlice(all: DataFrame, corpusIds: Set[Long], batchIds: Set[Long]) = {
    val inCorpus = (c: org.apache.spark.sql.Column) => c.isInCollection(corpusIds)
    val inBatch = (c: org.apache.spark.sql.Column) => c.isInCollection(batchIds)
    all.where(
        (inCorpus(col("doc_a")) && inBatch(col("doc_b"))) ||
        (inBatch(col("doc_a")) && inCorpus(col("doc_b"))))
      .select(
        when(inCorpus(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("corpus_doc"),
        when(inCorpus(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("batch_doc"),
        col("hamming"))
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  // asVideoTable, not asMediaTable: the media table round-robins
  // media_type on doc_id % 3 — the same dimension as the corpus/batch
  // split, which would leave the batch with zero decodable clips
  private def imageFp(d: DataFrame): DataFrame =
    ImageDedup.imageDHashes(Multimodal.asVideoTable(d, "doc_id", "text"))
  private def audioFp(d: DataFrame): DataFrame =
    Multimodal.audioFingerprints(Multimodal.asAudioTable(d, "doc_id", "text"))
      .where(col("decoded")).select("doc_id", "afp")
  private def bandFp(d: DataFrame): DataFrame =
    Multimodal.audioBandFingerprints(Multimodal.asAudioTable(d, "doc_id", "text"))
      .where(col("decoded")).select("doc_id", "bfp")

  test("incremental pairs equal the cross slice of the from-scratch run, for all three fingerprint families") {
    // image uses q181's %3 split; audio docs are all ≡1 mod 3 (the
    // media-table round-robin), so the audio families split on parity
    // — the equivalence contract is split-agnostic, the split just
    // has to leave planted clusters straddling it
    for ((label, fp, hashCol, batchPred) <- Seq(
        ("image dHash", imageFp _, "dhash", col("doc_id") % 3 === 0),
        ("audio envelope", audioFp _, "afp", col("doc_id") % 2 === 0),
        ("audio band-energy", bandFp _, "bfp", col("doc_id") % 2 === 0))) {
      val corpus = docs.where(!batchPred)
      val batch = docs.where(batchPred)
      val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
      val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
      val got = asSet(ImageDedup.incrementalDHashPairs(
        fp(corpus), fp(batch), "doc_id", hashCol))
      val want = asSet(crossSlice(
        ImageDedup.dHashPairs(fp(docs), "doc_id", hashCol),
        corpusIds, batchIds))
      assert(got == want,
        s"$label: extra=${got -- want} missing=${want -- got}")
      // the registry entry's rows>0 gate is meaningful: planted
      // clusters cross the split at the smallest SF
      assert(got.nonEmpty, s"$label: no cross pairs at sf0.001 — the gate would be vacuous")
    }
  }

  test("Txn.append maintenance equals re-fingerprinting from scratch; gate recall carries") {
    val root = Scratch.tempDir("graft_mndidx_spec") + "/idx"
    val a = docs.where(col("doc_id") % 3 === 1)
    val b = docs.where(col("doc_id") % 3 === 2)
    val c = docs.where(col("doc_id") % 3 === 0)

    Publish.publish(imageFp(a), root): Unit
    Txn.append(spark, root, imageFp(b)): Unit

    // (b) index state: append-maintained ≡ full re-fingerprint of a ∪ b
    val maintained = Publish.read(spark, root)
      .select("doc_id", "dhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reHashed = imageFp(a.unionByName(b))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(maintained == reHashed, "append-maintained index diverged from re-fingerprint")

    // (a) against the GROWN index: batch c's pairs equal the cross
    // slice of the full three-way run
    val abIds = a.unionByName(b).select("doc_id").collect().map(_.getLong(0)).toSet
    val cIds = c.select("doc_id").collect().map(_.getLong(0)).toSet
    val got = asSet(ImageDedup.incrementalDHashPairs(
      Publish.read(spark, root), imageFp(c), "doc_id", "dhash"))
    val want = asSet(crossSlice(
      ImageDedup.dHashPairs(imageFp(docs), "doc_id", "dhash"), abIds, cIds))
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")

    Sinks.deleteRecursively(Paths.get(root).getParent)
  }

  test("a re-ingested identical payload matches nothing as itself") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val fp = imageFp(corpus)
    val pairs = ImageDedup.incrementalDHashPairs(
      fp, fp.limit(5), "doc_id", "dhash")
    assert(pairs.where(col("corpus_doc") === col("batch_doc")).isEmpty,
      "self-pairs must be excluded (the exact gate owns identity)")
  }
}
