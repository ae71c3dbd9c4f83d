package graft

import org.apache.spark.sql.DataFrame

import graft.sources.Publish
import graft.streaming.{ContextWindowStream, TokenizerStream}
import graft.tools.Scratch

/** S40 (streaming/ContextWindowStream): streaming context-window
  * assembly. Pins the per-batch identity (a batch's windows ≡
  * Bpe.windowsFromStream over that batch's encoded stream), window
  * immutability across arrivals (batch_id namespaces seq ids; earlier
  * windows never reshuffle), tokenizer-version provenance on every
  * row, and replay refusal. */
class ContextWindowStreamSpec extends SparkSpec {
  import spark.implicits._

  // rounds=2 learns [(a,b), (ab,c)]; vocab ab=1 abc=2 b=3 c=4
  private def ref1 = Seq((900L, "ab ab abc"), (901L, "ab abc bc"))
    .toDF("doc_id", "text")

  private def asRows(df: DataFrame): Set[(Long, Long, Long, Long, Long, Long, Long)] =
    df.select("batch_id", "shard", "seq_id", "win_pos", "doc_id",
        "token_id", "tok_version")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet

  test("per-batch windows: packing identity, namespacing, provenance, replay refusal") {
    val base = Scratch.tempDir("graft_s40")
    val (tokRoot, winRoot) = (s"$base/tok", s"$base/windows")
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)

    // batch 0: doc 11 (scramble 198793168) packs before doc 10
    // (544357428); budget 3 puts doc 11's three tokens (z z ab →
    // 0 0 1) alone in window 1, doc 10 (ab abc → 1 2) in window 2
    val b0 = Seq((10L, "ab abc"), (11L, "zz ab")).toDF("doc_id", "text")
    assert(ContextWindowStream.applyBatch(b0, 0L, "doc_id", "text",
      tokRoot, winRoot, shards = 1, budget = 3L))
    val b0Rows = Set(
      (0L, 0L, 1L, 1L, 11L, 0L, 1L), (0L, 0L, 1L, 2L, 11L, 0L, 1L),
      (0L, 0L, 1L, 3L, 11L, 1L, 1L),
      (0L, 0L, 2L, 1L, 10L, 1L, 1L), (0L, 0L, 2L, 2L, 10L, 2L, 1L))
    assert(asRows(Publish.read(spark, winRoot)) == b0Rows)

    // the batch's windows ≡ the one-shot assembly of that batch alone
    val oneShot = graft.text.Bpe.windowsFromStream(
      TokenizerStream.encode(spark, b0, "doc_id", "text", tokRoot),
      "doc_id", shards = 1, budget = 3L)
      .collect()
      .map(r => (0L, r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), 1L)).toSet
    assert(oneShot == b0Rows, s"streamed windows diverged: $oneShot")

    // batch 1 appends under its own namespace; batch 0 windows are
    // byte-for-byte untouched (the loader may have consumed them)
    val b1 = Seq((12L, "bc")).toDF("doc_id", "text")
    assert(ContextWindowStream.applyBatch(b1, 1L, "doc_id", "text",
      tokRoot, winRoot, shards = 1, budget = 3L))
    val all = asRows(Publish.read(spark, winRoot))
    val b1Rows = Set(
      (1L, 0L, 1L, 1L, 12L, 3L, 1L), (1L, 0L, 1L, 2L, 12L, 4L, 1L))
    assert(all == b0Rows ++ b1Rows, all.toString)
    assert(Publish.metaValueAt(winRoot, 2L,
      TokenizerStream.TokenizerKey).contains("1"))

    // replay: refused before any write
    val v = Publish.currentVersion(winRoot)
    assert(!ContextWindowStream.applyBatch(b1, 1L, "doc_id", "text",
      tokRoot, winRoot, shards = 1, budget = 3L))
    assert(Publish.currentVersion(winRoot) == v)
    assert(Publish.lastBatch(winRoot).contains(1L))
  }

  test("cutover: later batches assemble under the new tokenizer version, per-row pinned") {
    val base = Scratch.tempDir("graft_s40c")
    val (tokRoot, winRoot) = (s"$base/tok", s"$base/windows")
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)
    val b0 = Seq((10L, "ab abc")).toDF("doc_id", "text")
    assert(ContextWindowStream.applyBatch(b0, 0L, "doc_id", "text",
      tokRoot, winRoot, shards = 1, budget = 8L))
    // cutover: under the zz-tokenizer the same text is all-OOV
    assert(TokenizerStream.republish(
      Seq((902L, "zz zz zz")).toDF("doc_id", "text"),
      "doc_id", "text", rounds = 1, tokRoot) == 2L)
    val b1 = Seq((13L, "ab zz")).toDF("doc_id", "text")
    assert(ContextWindowStream.applyBatch(b1, 1L, "doc_id", "text",
      tokRoot, winRoot, shards = 1, budget = 8L))
    val got = asRows(Publish.read(spark, winRoot))
    assert(got == Set(
      (0L, 0L, 1L, 1L, 10L, 1L, 1L), (0L, 0L, 1L, 2L, 10L, 2L, 1L),
      (1L, 0L, 1L, 1L, 13L, 0L, 2L), (1L, 0L, 1L, 2L, 13L, 0L, 2L),
      (1L, 0L, 1L, 3L, 13L, 1L, 2L)), got.toString)
    assert(Publish.metaValueAt(winRoot, 2L,
      TokenizerStream.TokenizerKey).contains("2"))
  }
}
