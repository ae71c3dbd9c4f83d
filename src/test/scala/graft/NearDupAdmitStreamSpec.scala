package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.similarity.Dedup
import graft.sources.{Publish, Sinks}
import graft.streaming.NearDupAdmitStream
import graft.tools.Scratch

case class AdmitDoc(doc_id: Long, text: String)

/** S32: the streaming admission gate's contract — the admitted corpus
  * is BAND-CLEAN (a from-scratch LSH run over it finds zero candidate
  * pairs), corpus ∪ quarantine partitions everything ingested, the
  * index is exactly the admitted corpus re-signed, replay is refused
  * per root, and all of it holds through a mid-backlog kill. */
class NearDupAdmitStreamSpec extends SparkSpec {

  private def docs = {
    val sess = spark
    import sess.implicits._
    Tables.documents(spark, SfDir).select("doc_id", "text")
      .as[AdmitDoc].collect().sortBy(_.doc_id)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def sigSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select("doc_id", "band", "sig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def checkInvariants(
      corpusRoot: String, indexRoot: String, quarRoot: String,
      all: Seq[AdmitDoc]): Unit = {
    val corpus = Publish.read(spark, corpusRoot)
    val quar = Publish.read(spark, quarRoot)
    val cIds = ids(corpus)
    val qIds = ids(quar)
    assert(cIds.nonEmpty && qIds.nonEmpty, s"degenerate split: ${cIds.size}/${qIds.size}")
    assert((cIds & qIds).isEmpty, "a doc both admitted and quarantined")
    assert(cIds ++ qIds == all.map(_.doc_id).toSet, "docs lost or invented")
    // band-clean: the whole point of the gate
    assert(Dedup.minhashLsh(corpus, "doc_id", "text").isEmpty,
      "admitted corpus still contains LSH candidate pairs")
    // the index IS the admitted corpus, re-signed
    assert(sigSet(Publish.read(spark, indexRoot)) ==
      sigSet(Dedup.bandSignatures(corpus, "doc_id", "text")),
      "index diverges from re-signing the admitted corpus")
    val reasons = quar.select("reason").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("corpus_neardup", "batch_neardup")),
      s"unknown reasons: $reasons")
  }

  test("S32: band-clean corpus, partition, index re-sign; replay refused per root") {
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._
    val all = docs
    val base = Paths.get(Scratch.tempDir("graft_ndadmit"))
    val (corpusRoot, indexRoot, quarRoot) =
      (base.resolve("corpus").toString, base.resolve("index").toString,
        base.resolve("rejects").toString)

    val mem = MemoryStream[AdmitDoc]
    val query = NearDupAdmitStream.start(mem.toDF(), corpusRoot, indexRoot,
      quarantineRoot = Some(quarRoot))
    try {
      all.grouped(math.max(1, all.length / 3)).foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()

    checkInvariants(corpusRoot, indexRoot, quarRoot, all)
    // cross-batch near-dups exist in the natural data, so the corpus
    // reason must be represented (the gate's raison d'être)
    assert(Publish.read(spark, quarRoot)
      .where(col("reason") === "corpus_neardup").count() > 0,
      "no cross-batch quarantine — the split has no planted near-dups?")

    // replay: every root refuses, no version moves
    val lastId = Publish.lastBatch(corpusRoot).get
    val vs = Seq(corpusRoot, indexRoot, quarRoot).map(Publish.currentVersion)
    assert(!NearDupAdmitStream.applyBatch(
      all.takeRight(5).toSeq.toDF("doc_id", "text"), lastId,
      corpusRoot, indexRoot, Some(quarRoot)))
    assert(Seq(corpusRoot, indexRoot, quarRoot).map(Publish.currentVersion) == vs,
      "a refused replay moved a version pointer")
    Sinks.deleteRecursively(base)
  }

  test("S32r: the gate's invariants survive a mid-backlog kill-and-restart") {
    val sess = spark
    import sess.implicits._
    val all = docs
    val base = Paths.get(Scratch.tempDir("graft_ndadmit_r"))
    val (corpusRoot, indexRoot, quarRoot) =
      (base.resolve("corpus").toString, base.resolve("index").toString,
        base.resolve("rejects").toString)
    val parts = all.grouped(math.max(1, all.length / 4)).toSeq
      .map(_.toSeq.toDF("doc_id", "text"))
    graft.streaming.DurableReplay.runForeachRestart(spark,
      parts.take(2), parts.drop(2),
      (stream, ckpt) => NearDupAdmitStream.start(stream, corpusRoot, indexRoot,
        quarantineRoot = Some(quarRoot), checkpointLocation = Some(ckpt)),
      () => Publish.lastBatch(corpusRoot))
    checkInvariants(corpusRoot, indexRoot, quarRoot, all)
    // exactly-once at the row grain: nothing admitted or quarantined twice
    val corpusN = Publish.read(spark, corpusRoot).count()
    val quarN = Publish.read(spark, quarRoot).count()
    assert(corpusN + quarN == all.length.toLong,
      s"row-grain duplication after restart: $corpusN + $quarN != ${all.length}")
    Sinks.deleteRecursively(base)
  }
}
