package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.streaming.{AppendStream, SegmentFreqStream}
import graft.text.TextOps
import graft.tools.Scratch

/** S38 (streaming/SegmentFreqStream): maintained boilerplate
  * frequency. Pins the aggregate-state identity (summed deltas ≡
  * from-scratch counts), the RETROACTIVE cut (a segment crossing the
  * threshold in a later batch drops from earlier carriers — the case
  * per-batch-local curation can never get right), clean view ≡
  * one-shot q182 over everything ingested, torn-batch safety
  * (frequency-first commit order can only over-drop), and
  * kill-and-restart exactly once. */
class SegmentFreqStreamSpec extends SparkSpec {
  import spark.implicits._

  private val SegLen = 4
  private val MaxFreq = 2
  private val footer = "copyright acme all rights"

  private def roots(): (String, String, java.nio.file.Path) = {
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_s38"))
    (base.resolve("corpus").toString, base.resolve("freq").toString, base)
  }

  private def cleanRows(corpusRoot: String, freqRoot: String): Map[Long, (Long, String)] =
    SegmentFreqStream.cleanView(spark, corpusRoot, freqRoot,
      "doc_id", "text", SegLen, MaxFreq)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap

  test("summed deltas equal from-scratch counts; the cut is retroactive; view equals one-shot q182") {
    val (corpus, freq, base) = roots()
    // the footer appears ONCE per batch — only after batch 2 commits
    // does it cross maxFreq = 2, so batch 0's doc 1 must lose it
    // RETROACTIVELY through the view
    val b0 = Seq((1L, s"alpha beta gamma delta $footer")).toDF("doc_id", "text")
    val b1 = Seq((2L, s"epsilon zeta eta theta $footer")).toDF("doc_id", "text")
    val b2 = Seq((3L, s"iota kappa lambda mu $footer"),
      (4L, "nu xi omicron pi")).toDF("doc_id", "text")

    assert(SegmentFreqStream.applyBatch(b0, 0L, "doc_id", "text", SegLen, corpus, freq))
    val afterB0 = cleanRows(corpus, freq)
    assert(afterB0(1L) == ((0L, s"alpha beta gamma delta $footer")),
      "below threshold, nothing drops yet")

    assert(SegmentFreqStream.applyBatch(b1, 1L, "doc_id", "text", SegLen, corpus, freq))
    assert(SegmentFreqStream.applyBatch(b2, 2L, "doc_id", "text", SegLen, corpus, freq))

    val all = b0.unionByName(b1).unionByName(b2)
    // aggregate-state identity: summed deltas ≡ from-scratch counts
    val maintained = SegmentFreqStream.frequencies(spark, freq)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scratch = TextOps.segmentCounts(all, "doc_id", "text", SegLen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained == scratch, "delta sum diverged from re-count")

    // the view ≡ the one-shot operator over everything ingested —
    // including doc 1's RETROACTIVE footer drop
    val got = cleanRows(corpus, freq)
    val want = TextOps.segmentDedup(all, "doc_id", "text", SegLen, MaxFreq)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(got == want, s"got=$got want=$want")
    assert(got(1L) == ((1L, "alpha beta gamma delta")),
      "batch 0's doc must lose the footer that crossed the threshold later")

    graft.sources.Sinks.deleteRecursively(base)
  }

  test("torn batch: frequency-first order only over-drops; replay completes the corpus") {
    val (corpus, freq, base) = roots()
    val b0 = Seq((1L, s"alpha beta gamma delta $footer"),
      (2L, s"epsilon zeta eta theta $footer")).toDF("doc_id", "text")
    assert(SegmentFreqStream.applyBatch(b0, 0L, "doc_id", "text", SegLen, corpus, freq))

    // simulate the torn state: batch 1's FREQUENCY committed, crash
    // before the corpus append (the stream's own commit order)
    val b1 = Seq((3L, s"iota kappa lambda mu $footer")).toDF("doc_id", "text")
    assert(AppendStream.applyBatch(
      TextOps.segmentCounts(b1, "doc_id", "text", SegLen), 1L, freq))

    // mid-torn: the footer counts 3 > maxFreq while only docs 1-2 are
    // stored — the view drops it from them (over-drop, never a miss)
    val torn = cleanRows(corpus, freq)
    assert(torn.keySet == Set(1L, 2L) &&
      torn(1L) == ((1L, "alpha beta gamma delta")),
      s"conservative curation must already see the superset frequency: $torn")

    // replay completes the missing corpus append; the already-
    // committed frequency delta is refused, not double-counted
    assert(SegmentFreqStream.applyBatch(b1, 1L, "doc_id", "text", SegLen, corpus, freq))
    val maintained = SegmentFreqStream.frequencies(spark, freq)
      .where(col("seg") === footer).collect()(0).getLong(1)
    assert(maintained == 3L, "torn replay double-counted the frequency delta")
    val got = cleanRows(corpus, freq)
    val want = TextOps.segmentDedup(
      b0.unionByName(b1), "doc_id", "text", SegLen, MaxFreq)
      .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap
    assert(got == want)

    // full replay of a completed batch: both roots refuse
    val (vc, vf) = (Publish.currentVersion(corpus), Publish.currentVersion(freq))
    assert(!SegmentFreqStream.applyBatch(b1, 1L, "doc_id", "text", SegLen, corpus, freq))
    assert(Publish.currentVersion(corpus) == vc && Publish.currentVersion(freq) == vf)

    graft.sources.Sinks.deleteRecursively(base)
  }

  test("fold maintenance: one row per segment, frequencies unchanged, replay refusal survives") {
    val (corpus, freq, base) = roots()
    val b0 = Seq((1L, s"alpha beta gamma delta $footer")).toDF("doc_id", "text")
    val b1 = Seq((2L, s"epsilon zeta eta theta $footer")).toDF("doc_id", "text")
    // foldEvery = 2 → the fold fires after batch 1's delta commits
    assert(SegmentFreqStream.applyBatch(b0, 0L, "doc_id", "text", SegLen,
      corpus, freq, foldEvery = 2))
    assert(SegmentFreqStream.applyBatch(b1, 1L, "doc_id", "text", SegLen,
      corpus, freq, foldEvery = 2))

    // the footer's two delta rows folded to one; frequencies identical
    val rows = Publish.read(spark, freq)
    assert(rows.where(col("seg") === footer).count() == 1L,
      "fold must collapse the per-batch delta rows")
    val maintained = SegmentFreqStream.frequencies(spark, freq)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val scratch = TextOps.segmentCounts(
      b0.unionByName(b1), "doc_id", "text", SegLen)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(maintained == scratch, "folding changed a frequency")

    // the folded version carried the batch-id marker: replay refused
    val (vc, vf) = (Publish.currentVersion(corpus), Publish.currentVersion(freq))
    assert(!SegmentFreqStream.applyBatch(b1, 1L, "doc_id", "text", SegLen,
      corpus, freq, foldEvery = 2))
    assert(Publish.currentVersion(corpus) == vc && Publish.currentVersion(freq) == vf,
      "a marker-less fold would have reset exactly-once refusal")

    // the view still equals the one-shot operator after folding
    assert(cleanRows(corpus, freq) ==
      TextOps.segmentDedup(b0.unionByName(b1), "doc_id", "text", SegLen, MaxFreq)
        .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap)

    graft.sources.Sinks.deleteRecursively(base)
  }

  test("S38r: kill-and-restart resumes exactly once") {
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_s38r"))
    val (corpus, freq) = (base.resolve("corpus").toString, base.resolve("freq").toString)
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
    def mkQuery() = SegmentFreqStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "text", SegLen, corpus, freq,
      checkpointLocation = Some(ckpt))

    stage(Seq((1L, s"alpha beta gamma delta $footer"),
      (2L, s"epsilon zeta eta theta $footer")))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()

    stage(Seq((3L, s"iota kappa lambda mu $footer")))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      val all = Seq(
        (1L, s"alpha beta gamma delta $footer"),
        (2L, s"epsilon zeta eta theta $footer"),
        (3L, s"iota kappa lambda mu $footer")).toDF("doc_id", "text")
      val maintained = SegmentFreqStream.frequencies(spark, freq)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val scratch = TextOps.segmentCounts(all, "doc_id", "text", SegLen)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(maintained == scratch,
        "restart double-counted or dropped a frequency delta")
      assert(cleanRows(corpus, freq) ==
        TextOps.segmentDedup(all, "doc_id", "text", SegLen, MaxFreq)
          .collect().map(r => r.getLong(0) -> ((r.getLong(3), r.getString(4)))).toMap)
    } finally {
      q2.stop()
      graft.sources.Sinks.deleteRecursively(base)
    }
  }
}
