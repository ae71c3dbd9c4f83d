package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.multimodal.{ImageDedup, Multimodal}
import graft.sources.{Publish, Sinks}
import graft.streaming.MediaAdmitStream
import graft.tools.Scratch

case class MediaDocRow(doc_id: Long, media_type: String, payload: Array[Byte])

/** S36: the streaming MEDIA admission gate's contract — the admitted
  * corpus is PAIR-CLEAN (a from-scratch dHashPairs run over its
  * fingerprints finds nothing within the hamming threshold), corpus ∪
  * quarantine partitions everything ingested, the index is exactly
  * the admitted corpus re-fingerprinted, replay is refused per root,
  * and all of it holds through a mid-backlog kill. */
class MediaAdmitStreamSpec extends SparkSpec {

  private def mediaRows = {
    val sess = spark
    import sess.implicits._
    Multimodal.asVideoTable(
        Tables.documents(spark, SfDir).select("doc_id", "text"),
        "doc_id", "text")
      .as[MediaDocRow].collect().sortBy(_.doc_id)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def fpSet(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_id", "dhash").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def checkInvariants(
      corpusRoot: String, indexRoot: String, quarRoot: String,
      all: Seq[MediaDocRow]): Unit = {
    val corpus = Publish.read(spark, corpusRoot)
    val quar = Publish.read(spark, quarRoot)
    val cIds = ids(corpus)
    val qIds = ids(quar)
    assert(cIds.nonEmpty && qIds.nonEmpty, s"degenerate split: ${cIds.size}/${qIds.size}")
    assert((cIds & qIds).isEmpty, "a doc both admitted and quarantined")
    assert(cIds ++ qIds == all.map(_.doc_id).toSet, "docs lost or invented")
    // pair-clean: the whole point of the gate
    val corpusFp = ImageDedup.imageDHashes(corpus)
    assert(ImageDedup.dHashPairs(corpusFp, "doc_id", "dhash").isEmpty,
      "admitted corpus still contains verified near-dup pairs")
    // the index IS the admitted corpus, re-fingerprinted
    assert(fpSet(Publish.read(spark, indexRoot)) == fpSet(corpusFp),
      "index diverges from re-fingerprinting the admitted corpus")
    val reasons = quar.select("reason").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set("corpus_neardup", "batch_neardup")),
      s"unknown reasons: $reasons")
  }

  test("S36: pair-clean corpus, partition, index re-fingerprint; replay refused per root") {
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._
    val all = mediaRows
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_madmit"))
    val (corpusRoot, indexRoot, quarRoot) =
      (base.resolve("corpus").toString, base.resolve("index").toString,
        base.resolve("rejects").toString)

    val mem = MemoryStream[MediaDocRow]
    val query = MediaAdmitStream.start(mem.toDF(), corpusRoot, indexRoot,
      quarantineRoot = Some(quarRoot))
    try {
      all.grouped(math.max(1, all.length / 3)).foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()

    checkInvariants(corpusRoot, indexRoot, quarRoot, all)
    // the brightness clusters straddle batch boundaries, so the
    // corpus reason must be represented (the gate's raison d'être)
    assert(Publish.read(spark, quarRoot)
      .where(col("reason") === "corpus_neardup").count() > 0,
      "no cross-batch quarantine — the planted clusters never crossed a batch?")

    // replay: every root refuses, no version moves
    val lastId = Publish.lastBatch(corpusRoot).get
    val vs = Seq(corpusRoot, indexRoot, quarRoot).map(Publish.currentVersion)
    assert(!MediaAdmitStream.applyBatch(
      all.takeRight(5).toSeq.toDF("doc_id", "media_type", "payload"), lastId,
      corpusRoot, indexRoot, Some(quarRoot)))
    assert(Seq(corpusRoot, indexRoot, quarRoot).map(Publish.currentVersion) == vs,
      "a refused replay moved a version pointer")
    Sinks.deleteRecursively(base)
  }

  test("S36r: the gate's invariants survive a mid-backlog kill-and-restart") {
    val sess = spark
    import sess.implicits._
    val all = mediaRows
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_madmit_r"))
    val (corpusRoot, indexRoot, quarRoot) =
      (base.resolve("corpus").toString, base.resolve("index").toString,
        base.resolve("rejects").toString)
    val parts = all.grouped(math.max(1, all.length / 4)).toSeq
      .map(_.toSeq.toDF("doc_id", "media_type", "payload"))
    graft.streaming.DurableReplay.runForeachRestart(spark,
      parts.take(2), parts.drop(2),
      (stream, ckpt) => MediaAdmitStream.start(stream, corpusRoot, indexRoot,
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
