package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Dedup
import graft.sources.{Publish, Sinks, Txn}
import graft.tools.Scratch

/** The q166 contract: a MAINTAINED band-signature index makes the
  * near-dup gate incremental WITHOUT changing what it finds.
  *
  * (a) batch-vs-index pairs ≡ the corpus×batch cross slice of a
  *     from-scratch minhashLsh run over corpus ∪ batch — signatures
  *     are corpus-independent, so splitting the computation cannot
  *     change the pair set (band counts included);
  * (b) the index maintained by `Txn.append` of each batch's own
  *     signatures ≡ re-signing everything from scratch — the
  *     append-only maintenance is exact, not an approximation;
  * (c) a re-ingested identical document (same id) is excluded — the
  *     exact gate's job, not a near-dup pair.
  */
class IncrementalNearDupSpec extends SparkSpec {

  private def docs: DataFrame = Tables.documents(spark, SfDir)

  private def sigs(d: DataFrame): DataFrame = Dedup.bandSignatures(d, "doc_id", "text")

  private def crossSlice(all: DataFrame, corpusIds: Set[Long], batchIds: Set[Long]) = {
    val inCorpus = (c: org.apache.spark.sql.Column) =>
      c.isInCollection(corpusIds)
    val inBatch = (c: org.apache.spark.sql.Column) =>
      c.isInCollection(batchIds)
    // minhashLsh emits each pair once as doc_a < doc_b; normalize the
    // cross slice to (corpus_doc, batch_doc)
    all.where(
        (inCorpus(col("doc_a")) && inBatch(col("doc_b"))) ||
        (inBatch(col("doc_a")) && inCorpus(col("doc_b"))))
      .select(
        when(inCorpus(col("doc_a")), col("doc_a")).otherwise(col("doc_b")).as("corpus_doc"),
        when(inCorpus(col("doc_a")), col("doc_b")).otherwise(col("doc_a")).as("batch_doc"),
        col("n_shared_bands"))
  }

  private def asSet(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("incremental pairs equal the cross slice of the from-scratch run") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet

    val got = asSet(Dedup.incrementalNearDupPairs(
      Dedup.bandSignatures(corpus, "doc_id", "text"), batch, "doc_id", "text"))
    val want = asSet(crossSlice(
      Dedup.minhashLsh(docs, "doc_id", "text"), corpusIds, batchIds))

    assert(got == want,
      s"extra=${got -- want} missing=${want -- got}")
    // the registry entry's rows>0 gate is meaningful: the split has
    // planted cross near-dups at the smallest SF
    assert(got.nonEmpty, "no cross pairs at sf0.001 — the gate would be vacuous")
  }

  test("Txn.append maintenance equals re-signing from scratch; gate recall carries") {
    val root = Scratch.tempDir("graft_ndidx_spec") + "/idx"
    val a = docs.where(col("doc_id") % 3 === 1)
    val b = docs.where(col("doc_id") % 3 === 2)
    val c = docs.where(col("doc_id") % 3 === 0)

    Publish.publish(Dedup.bandSignatures(a, "doc_id", "text"), root): Unit
    Txn.append(spark, root, sigs(b)): Unit

    // (b) index state: append-maintained ≡ full re-sign of a ∪ b
    val maintained = Publish.read(spark, root)
      .select("doc_id", "band", "sig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val reSigned = sigs(a.unionByName(b))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(maintained == reSigned, "append-maintained index diverged from re-sign")

    // (a) against the GROWN index: batch c's pairs equal the cross
    // slice of the full three-way run
    val abIds = a.unionByName(b).select("doc_id").collect().map(_.getLong(0)).toSet
    val cIds = c.select("doc_id").collect().map(_.getLong(0)).toSet
    val got = asSet(Dedup.incrementalNearDupPairs(
      Publish.read(spark, root), c, "doc_id", "text"))
    val want = asSet(crossSlice(Dedup.minhashLsh(docs, "doc_id", "text"), abIds, cIds))
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")

    Sinks.deleteRecursively(Paths.get(root).getParent)
  }

  test("a re-ingested identical document matches nothing as itself") {
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val reingest = corpus.limit(5)
    val pairs = Dedup.incrementalNearDupPairs(
      Dedup.bandSignatures(corpus, "doc_id", "text"), reingest, "doc_id", "text")
    assert(pairs.where(col("corpus_doc") === col("batch_doc")).isEmpty,
      "self-pairs must be excluded (the exact gate owns identity)")
  }
}
