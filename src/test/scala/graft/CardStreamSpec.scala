package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Publish, Sinks}
import graft.streaming.CardStream
import graft.text.TextOps
import graft.tools.Scratch

case class CardDoc(doc_id: Long, text: String, lang: String, source: String)

/** S31: the streamed data card equals the batch card over exactly the
  * documents ingested so far — after EVERY prefix, through the
  * cross-batch dup flip (a later copy turns EARLIER copies into dup
  * members, which no additive per-source counter can express), on
  * replay (refused by the commit layer), and through a
  * kill-and-restart. */
class CardStreamSpec extends SparkSpec {

  private def asCard(df: DataFrame): Set[(String, Long, Long, Long, Long, Long, Long, Long)] =
    df.select("source", "n_docs", "sum_tokens", "n_langs", "n_dup_docs",
        "short_ppm", "avg_quality_ppm", "avg_ws_tokens")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSet

  private def batchCard(docs: DataFrame) =
    asCard(TextOps.corpusCard(docs, "doc_id", "text", "source", "lang"))

  test("S31: every prefix serves the batch card; a late duplicate flips the earlier copy") {
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._
    val all = Tables.documents(spark, SfDir)
      .select("doc_id", "text", "lang", "source").as[CardDoc]
      .collect().sortBy(_.doc_id)
    val root = Scratch.tempDir("graft_cardstream") + "/t"
    val chunks = all.grouped(math.max(1, all.length / 3)).toSeq

    val mem = MemoryStream[CardDoc]
    val query = CardStream.start(mem.toDF(), root,
      "doc_id", "text", "source", "lang")
    try {
      var prefix = Seq.empty[CardDoc]
      chunks.foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
        prefix = prefix ++ c
        assert(asCard(CardStream.card(spark, root, "source", "lang")) ==
          batchCard(prefix.toDF()),
          s"streamed card diverges from the batch card at prefix ${prefix.size}")
      }

      // the dup FLIP: duplicate a first-chunk text that is unique
      // corpus-wide into a brand-new source — the EARLIER source's
      // n_dup_docs must grow, though no new row landed there
      val uniqueTexts = all.groupBy(_.text).filter(_._2.size == 1).keySet
      val donor = chunks.head.find(d => uniqueTexts.contains(d.text)).get
      val before = asCard(CardStream.card(spark, root, "source", "lang"))
        .find(_._1 == donor.source).get
      val late = CardDoc(10000001L, donor.text, donor.lang, "late_crawl")
      mem.addData(late); query.processAllAvailable()
      val after = asCard(CardStream.card(spark, root, "source", "lang"))
      assert(after == batchCard((all :+ late).toSeq.toDF()),
        "card with the late duplicate diverges from the batch card")
      assert(after.find(_._1 == donor.source).get._5 == before._5 + 1,
        "the late copy must flip the earlier source's doc into dup membership")
    } finally query.stop()

    // replay: refused by the batch-id gate before any arithmetic
    val lastId = Publish.lastBatch(root).get
    val vLive = Publish.currentVersion(root)
    assert(!CardStream.applyBatch(Seq(all.head).toDF(),
      lastId, root, "doc_id", "text", "source", "lang"))
    assert(Publish.currentVersion(root) == vLive)
    Sinks.deleteRecursively(Paths.get(root).getParent)
  }

  test("S31r: the maintained card survives a mid-backlog kill-and-restart") {
    val sess = spark
    import sess.implicits._
    val all = Tables.documents(spark, SfDir)
      .select("doc_id", "text", "lang", "source").as[CardDoc]
      .collect().sortBy(_.doc_id)
    val root = Scratch.tempDir("graft_cardstream_r") + "/t"
    val parts = all.grouped(math.max(1, all.length / 4)).toSeq
      .map(_.toSeq.toDF())
    graft.streaming.DurableReplay.runForeachRestart(spark,
      parts.take(2), parts.drop(2),
      (stream, ckpt) => CardStream.start(stream, root,
        "doc_id", "text", "source", "lang",
        checkpointLocation = Some(ckpt)),
      () => Publish.lastBatch(root))
    assert(asCard(CardStream.card(spark, root, "source", "lang")) ==
      batchCard(all.toSeq.toDF()),
      "post-restart card diverges from the batch card")
    Sinks.deleteRecursively(Paths.get(root).getParent)
  }
}
