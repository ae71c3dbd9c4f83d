package graft

import org.apache.spark.sql.DataFrame

import graft.sources.Publish
import graft.streaming.TokenizerStream
import graft.tools.Scratch

/** S39 (streaming/TokenizerStream): token-stream maintenance under a
  * versioned reference tokenizer. Pins the encode identity (streamed
  * rows ≡ a from-scratch encode under the pinned version), the
  * OOV-at-position contract, the cutover (old batches keep their
  * version's ids and provenance, new batches encode against the new
  * pair), torn-publish completion, replay refusal, and
  * kill-and-restart exactly once. */
class TokenizerStreamSpec extends SparkSpec {
  import spark.implicits._

  // rounds=2 on this reference learns [(a,b), (ab,c)] and the
  // vocabulary ab=1(3) abc=2(2) b=3(1) c=4(1)
  private def ref1 = Seq((900L, "ab ab abc"), (901L, "ab abc bc"))
    .toDF("doc_id", "text")
  // rounds=1 learns [(z,z)] and the vocabulary zz=1(3)
  private def ref2 = Seq((902L, "zz zz zz")).toDF("doc_id", "text")

  private def asRows(df: DataFrame): Set[(Long, Long, Long, String, Long)] =
    df.select("doc_id", "pos", "token_id", "symbol", "tok_version")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet

  private def roots(): (String, String) = {
    val base = Scratch.tempDir("graft_s39")
    (s"$base/tok", s"$base/streams")
  }

  test("encode identity, OOV positions, cutover provenance, replay refusal") {
    val (tokRoot, streamsRoot) = roots()
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)
    // idempotent setup: a second call must not mint new versions
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)
    assert(TokenizerStream.tokenizerVersion(tokRoot).contains(1L))
    assert(Publish.currentVersion(s"$tokRoot/vocab").contains(1L))

    // batch 0 under v1: 'zz' is OOV — both symbols hold their
    // positions with the UNK id, 'ab' still resolves at position 3
    val b0 = Seq((10L, "ab abc"), (11L, "zz ab")).toDF("doc_id", "text")
    assert(TokenizerStream.applyBatch(b0, 0L, "doc_id", "text",
      tokRoot, streamsRoot))
    val v1Rows = Set(
      (10L, 1L, 1L, "ab", 1L), (10L, 2L, 2L, "abc", 1L),
      (11L, 1L, 0L, "z", 1L), (11L, 2L, 0L, "z", 1L), (11L, 3L, 1L, "ab", 1L))
    assert(asRows(Publish.read(spark, streamsRoot)) == v1Rows)
    // streamed rows ≡ a from-scratch encode pinned to v1
    assert(asRows(TokenizerStream.encode(spark, b0, "doc_id", "text",
      tokRoot, version = Some(1L))) == v1Rows)
    assert(Publish.metaValueAt(streamsRoot, 1L,
      TokenizerStream.TokenizerKey).contains("1"))

    // CUTOVER: v2 retrains on a zz-corpus — the same text now
    // encodes with reversed coverage ('zz' in-vocab, 'ab' OOV)
    assert(TokenizerStream.republish(ref2, "doc_id", "text",
      rounds = 1, tokRoot) == 2L)
    val b1 = Seq((12L, "zz ab")).toDF("doc_id", "text")
    assert(TokenizerStream.applyBatch(b1, 1L, "doc_id", "text",
      tokRoot, streamsRoot))
    val v2Rows = Set(
      (12L, 1L, 1L, "zz", 2L), (12L, 2L, 0L, "a", 2L), (12L, 3L, 0L, "b", 2L))
    val all = asRows(Publish.read(spark, streamsRoot))
    assert(all == v1Rows ++ v2Rows,
      s"cutover must not rewrite v1 batches: $all")
    assert(Publish.metaValueAt(streamsRoot, 2L,
      TokenizerStream.TokenizerKey).contains("2"))

    // replay: refused before any write
    val v = Publish.currentVersion(streamsRoot)
    assert(!TokenizerStream.applyBatch(b1, 1L, "doc_id", "text",
      tokRoot, streamsRoot))
    assert(Publish.currentVersion(streamsRoot) == v)
    assert(Publish.lastBatch(streamsRoot).contains(1L))
  }

  test("torn tokenizer setup (vocab published, crash before merges) completes on retry") {
    val (tokRoot, streamsRoot) = roots()
    // simulate the crash: only the vocab member exists
    val merges = graft.text.Bpe.trainMerges(ref1, "doc_id", "text", 2)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    Publish.publish(
      graft.text.Bpe.vocabularyFromMerges(ref1, "doc_id", "text", merges),
      s"$tokRoot/vocab"): Unit
    // retry must publish the MISSING merges half without minting a
    // second vocab version — then encoding works normally
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)
    assert(Publish.currentVersion(s"$tokRoot/vocab").contains(1L),
      "retry double-published the surviving member")
    assert(TokenizerStream.tokenizerVersion(tokRoot).contains(1L),
      "retry skipped the missing member")
    val b = Seq((10L, "ab abc")).toDF("doc_id", "text")
    assert(TokenizerStream.applyBatch(b, 0L, "doc_id", "text",
      tokRoot, streamsRoot))
    assert(asRows(Publish.read(spark, streamsRoot)) ==
      Set((10L, 1L, 1L, "ab", 1L), (10L, 2L, 2L, "abc", 1L)))
  }

  test("S39r: kill-and-restart resumes encoding exactly once") {
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_s39r"))
    val tokRoot = base.resolve("tok").toString
    val streamsRoot = base.resolve("streams").toString
    val inDir = base.resolve("in").toString
    val ckpt = base.resolve("ck").toString
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)

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
    def mkQuery() = TokenizerStream.start(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      "doc_id", "text", tokRoot, streamsRoot,
      checkpointLocation = Some(ckpt))

    stage(Seq((10L, "ab abc")))
    val q1 = mkQuery()
    try q1.processAllAvailable() finally q1.stop()
    val v1 = Publish.currentVersion(streamsRoot)
    assert(v1.nonEmpty, "incarnation 1 appended nothing")

    stage(Seq((11L, "bc ab")))
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      assert(Publish.currentVersion(streamsRoot) == v1.map(_ + 1),
        "incarnation 2 must fold exactly the new batch")
      // doc 11: 'bc' under v1 encodes as [b, c] = ids [3, 4]
      assert(asRows(Publish.read(spark, streamsRoot)) == Set(
        (10L, 1L, 1L, "ab", 1L), (10L, 2L, 2L, "abc", 1L),
        (11L, 1L, 3L, "b", 1L), (11L, 2L, 4L, "c", 1L),
        (11L, 3L, 1L, "ab", 1L)),
        "restart double-encoded or dropped a batch")
    } finally {
      q2.stop()
      graft.sources.Sinks.deleteRecursively(base)
    }
  }
}
