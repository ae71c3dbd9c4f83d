package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.streaming.Bm25IndexStream
import graft.text.TextOps
import graft.tools.Scratch

/** S37 (streaming/Bm25IndexStream): the maintained retrieval index.
  * Pins the incremental identity (streamed index ≡ from-scratch
  * re-index of everything ingested — per-doc rows make it exact, not
  * approximate), that ranking the streamed index equals the in-line
  * computation, replay refusal, and kill-and-restart exactly once
  * (a double-appended batch would inflate tf AND df — the identity
  * check would catch either). */
class Bm25IndexStreamSpec extends SparkSpec {
  import spark.implicits._

  private def asRows(df: DataFrame): Set[(Long, String, Long, Long, Long)] =
    df.select("doc_id", "term", "tf", "dl", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  test("streamed index equals from-scratch; stored ranking equals in-line; replay refused") {
    val root = Scratch.tempDir("graft_s37") + "/idx"
    val b0 = Seq((1L, "spark shuffle join window"),
      (2L, "spark shuffle join window")).toDF("doc_id", "text")
    val b1 = Seq((3L, "spark shuffle join elsewhere"),
      (4L, "spark alone here today")).toDF("doc_id", "text")
    val b2 = Seq((5L, "completely unrelated words")).toDF("doc_id", "text")

    assert(Bm25IndexStream.applyBatch(b0, 0L, "doc_id", "text", root))
    assert(Bm25IndexStream.applyBatch(b1, 1L, "doc_id", "text", root))
    assert(Bm25IndexStream.applyBatch(b2, 2L, "doc_id", "text", root))

    val all = b0.unionByName(b1).unionByName(b2)
    assert(asRows(Publish.read(spark, root)) ==
      asRows(TextOps.bm25Index(all, "doc_id", "text")),
      "maintained index diverged from a from-scratch re-index")

    // ranking the STREAMED index ≡ the one-shot in-line run: doc 1's
    // negatives exclude self (1) and its exact duplicate (2)
    val pred = col("doc_id") === 1L
    val stored = TextOps.hardNegativesFromIndex(
      Publish.read(spark, root), "doc_id", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val inline = TextOps.hardNegatives(all, "doc_id", "text", pred, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(stored.nonEmpty && stored == inline, s"stored=$stored inline=$inline")
    assert(!stored.exists(x => x._3 == 1L || x._3 == 2L),
      "self/duplicate leaked through the streamed index's fp column")

    // replay: refused before any write — tf/df cannot double
    val v = Publish.currentVersion(root)
    assert(!Bm25IndexStream.applyBatch(b1, 1L, "doc_id", "text", root))
    assert(Publish.currentVersion(root) == v)
    assert(Publish.lastBatch(root).contains(2L))
  }

  test("S37r: kill-and-restart resumes index maintenance exactly once") {
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_s37r"))
    val root = base.resolve("idx").toString
    val inDir = base.resolve("in").toString
    val ckpt = base.resolve("ck").toString

    var mtime = System.currentTimeMillis() / 1000 * 1000 - 3600L * 1000
    def stage(rows: Seq[(Long, String)]): Unit = {
      val before = Option(new java.io.File(inDir).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      rows.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
      Option(new java.io.File(inDir).listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach { f =>
          mtime += 2000
          java.nio.file.Files.setLastModifiedTime(f.toPath,
            java.nio.file.attribute.FileTime.fromMillis(mtime))
        }
    }
    def mkQuery() = Bm25IndexStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "text", root, checkpointLocation = Some(ckpt))

    stage(Seq((1L, "a b c"), (2L, "b c d")))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    val v1 = Publish.currentVersion(root)

    stage(Seq((3L, "c d e")))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      assert(Publish.currentVersion(root) == v1.map(_ + 1),
        "incarnation 2 must fold exactly the new batch")
      val all = Seq((1L, "a b c"), (2L, "b c d"), (3L, "c d e"))
        .toDF("doc_id", "text")
      assert(asRows(Publish.read(spark, root)) ==
        asRows(TextOps.bm25Index(all, "doc_id", "text")),
        "restart double-indexed or dropped a batch")
    } finally {
      q2.stop()
      graft.sources.Sinks.deleteRecursively(base)
    }
  }
}
