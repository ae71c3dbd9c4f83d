package graft

import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.streaming.ImportanceAdmitStream
import graft.tools.Scratch

/** S34 (streaming/ImportanceAdmitStream): the adaptive DSIR admission
  * gate. Pins the maintained-raw-stats ≡ batch-recomputation claim,
  * the adaptivity (a target-looking flood raises the bar for later
  * arrivals), replay idempotence, and a kill-and-restart through the
  * checkpoint. */
class ImportanceAdmitStreamSpec extends SparkSpec {
  import spark.implicits._

  private def roots(): (String, String, String) = {
    val base = Scratch.tempDir("graft_s34")
    (s"$base/target", s"$base/raw", s"$base/corpus")
  }

  private val B = 64

  test("raw stats stay exact across batches; floods raise the bar; replay is a no-op") {
    val (tgtRoot, rawRoot, corpRoot) = roots()
    val ref = Seq((900L, "alpha beta alpha beta")).toDF("doc_id", "text")
    ImportanceAdmitStream.publishTarget(ref, "doc_id", "text", B, tgtRoot)
    // idempotent setup: a second call must not mint a second version
    ImportanceAdmitStream.publishTarget(ref, "doc_id", "text", B, tgtRoot)
    assert(Publish.currentVersion(tgtRoot).contains(1L))

    val b0 = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    // a flood of target-looking text: the raw distribution converges
    // toward the target, so alpha-beta evidence weakens
    val b1 = (10L to 29L).map(i => (i, "alpha beta alpha beta")).toDF("doc_id", "text")
    val b2 = Seq((30L, "alpha beta"), (31L, "gamma delta")).toDF("doc_id", "text")

    assert(ImportanceAdmitStream.applyBatch(b0, 0L, "doc_id", "text", B,
      BigDecimal(0), tgtRoot, rawRoot, corpRoot))
    // after batch 0: the target-like doc is in, the raw-like doc is out
    val afterB0 = Publish.read(spark, corpRoot).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(afterB0 == Set(1L), s"got $afterB0")
    val w1 = Publish.read(spark, corpRoot)
      .where($"doc_id" === 1L).collect()(0).getAs[Double]("weight")

    assert(ImportanceAdmitStream.applyBatch(b1, 1L, "doc_id", "text", B,
      BigDecimal(0), tgtRoot, rawRoot, corpRoot))
    assert(ImportanceAdmitStream.applyBatch(b2, 2L, "doc_id", "text", B,
      BigDecimal(0), tgtRoot, rawRoot, corpRoot))

    // adaptivity: doc 30 is doc 1's text, scored after the flood — its
    // weight must be strictly lower (the raw corpus got target-like)
    val corpus = Publish.read(spark, corpRoot)
    val w30 = corpus.where($"doc_id" === 30L).collect()
    if (w30.nonEmpty)
      assert(w30(0).getAs[Double]("weight") < w1,
        "the flood must lower a later identical doc's weight")
    assert(corpus.where($"doc_id" === 31L).isEmpty,
      "raw-like text admitted despite the gate")

    // maintained raw stats ≡ one batch recomputation over all arrivals
    val allDocs = b0.unionByName(b1).unionByName(b2)
    val want = graft.text.Importance
      .hashedGramCounts(allDocs, "doc_id", "text", B)
      .groupBy("bucket").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Publish.read(spark, rawRoot).select("bucket", "n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, "maintained raw stats drifted from the recomputation")

    // replay: both roots gated — nothing moves
    val rawV = Publish.currentVersion(rawRoot)
    val corpV = Publish.currentVersion(corpRoot)
    assert(!ImportanceAdmitStream.applyBatch(b2, 2L, "doc_id", "text", B,
      BigDecimal(0), tgtRoot, rawRoot, corpRoot))
    assert(Publish.currentVersion(rawRoot) == rawV &&
      Publish.currentVersion(corpRoot) == corpV)
  }

  test("S34r: kill-and-restart resumes with stats and admissions intact") {
    val (tgtRoot, rawRoot, corpRoot) = roots()
    val inDir = Scratch.tempDir("graft_s34r_in")
    val ckpt = Scratch.tempDir("graft_s34r_ck")
    ImportanceAdmitStream.publishTarget(
      Seq((900L, "alpha beta alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", B, tgtRoot)

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
    def mkQuery() = ImportanceAdmitStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "text", B, BigDecimal(0), tgtRoot, rawRoot, corpRoot,
      checkpointLocation = Some(ckpt))

    stage(Seq((1L, "alpha beta"), (2L, "gamma delta")))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    val statsV1 = Publish.currentVersion(rawRoot)

    stage(Seq((3L, "alpha beta gamma")))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      // incarnation 2 folded exactly the NEW batch: one more stats
      // version, no double-count of batch 0
      assert(Publish.currentVersion(rawRoot) == statsV1.map(_ + 1))
      val all = Seq((1L, "alpha beta"), (2L, "gamma delta"),
        (3L, "alpha beta gamma")).toDF("doc_id", "text")
      val want = graft.text.Importance.hashedGramCounts(all, "doc_id", "text", B)
        .groupBy("bucket").agg(sum("n").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = Publish.read(spark, rawRoot).select("bucket", "n")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, "restart double-counted or lost a batch")
      val admitted = Publish.read(spark, corpRoot).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(admitted.contains(1L) && !admitted.contains(2L))
      assert(admitted.count(_ == 1L) == 1, "replay duplicated an admission")
    } finally {
      q2.stop()
      Seq(inDir, ckpt).foreach(d =>
        graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(d)))
    }
  }
}
