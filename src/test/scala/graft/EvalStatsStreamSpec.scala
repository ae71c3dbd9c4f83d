package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.streaming.{EvalStatsStream, TokenizerStream}
import graft.tools.Scratch

/** S41 (streaming/EvalStatsStream): maintained tokenizer-eval stats.
  * Pins the additive identity (the folded view ≡ one-shot
  * Bpe.fertility over everything ingested under a fixed tokenizer
  * version), read-time ratio exactness, cutover isolation (deltas
  * from different tokenizer versions never sum), and replay
  * refusal. */
class EvalStatsStreamSpec extends SparkSpec {
  import spark.implicits._

  // rounds=2 learns [(a,b), (ab,c)]
  private def ref1 = Seq((900L, "ab ab abc"), (901L, "ab abc bc"))
    .toDF("doc_id", "text")

  private def viewRows(statsRoot: String): Set[(Long, String, Long, Long, Long, Long, Long, Long)] =
    EvalStatsStream.fertilityView(spark, statsRoot)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toSet

  private def oneShot(docs: DataFrame, tokRoot: String, mv: Long): Set[(Long, String, Long, Long, Long, Long, Long, Long)] = {
    val merges = Publish.readVersion(spark, s"$tokRoot/merges", mv)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    graft.text.Bpe.fertility(docs, "doc_id", "text", "lang", merges)
      .collect()
      .map(r => (mv, r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
  }

  test("folded view equals one-shot fertility; cutover isolates versions; replay refused") {
    val base = Scratch.tempDir("graft_s41")
    val (tokRoot, statsRoot) = (s"$base/tok", s"$base/stats")
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)

    val b0 = Seq((10L, "ab abc", "en"), (11L, "ab ab", "fr"))
      .toDF("doc_id", "text", "lang")
    val b1 = Seq((12L, "bc bc abc", "en"), (13L, "", "fr"))
      .toDF("doc_id", "text", "lang")
    assert(EvalStatsStream.applyBatch(b0, 0L, "doc_id", "text", "lang",
      tokRoot, statsRoot))
    assert(EvalStatsStream.applyBatch(b1, 1L, "doc_id", "text", "lang",
      tokRoot, statsRoot))

    // the additive identity: folded deltas ≡ one-shot over the union
    // (including the empty doc's zero contribution to fr's counts)
    assert(viewRows(statsRoot) == oneShot(b0.unionByName(b1), tokRoot, 1L))

    // replay: refused before any write
    val v = Publish.currentVersion(statsRoot)
    assert(!EvalStatsStream.applyBatch(b1, 1L, "doc_id", "text", "lang",
      tokRoot, statsRoot))
    assert(Publish.currentVersion(statsRoot) == v)

    // cutover: batch 2 lands under v2; v1 rows are untouched and the
    // two versions NEVER sum (token counts from different tokenizers
    // are incomparable)
    assert(TokenizerStream.republish(
      Seq((902L, "zz zz zz")).toDF("doc_id", "text"),
      "doc_id", "text", rounds = 1, tokRoot) == 2L)
    val b2 = Seq((14L, "ab abc", "en")).toDF("doc_id", "text", "lang")
    assert(EvalStatsStream.applyBatch(b2, 2L, "doc_id", "text", "lang",
      tokRoot, statsRoot))
    val after = viewRows(statsRoot)
    assert(after.filter(_._1 == 1L) == oneShot(b0.unionByName(b1), tokRoot, 1L),
      "cutover must not disturb v1 rows")
    assert(after.filter(_._1 == 2L) == oneShot(b2, tokRoot, 2L),
      "v2 rows must reflect exactly the post-cutover batch under v2 merges")
    assert(Publish.metaValueAt(statsRoot, 3L,
      TokenizerStream.TokenizerKey).contains("2"))
  }

  test("S42: tokenBudgetView over maintained stats equals one-shot Bpe.tokenBudget") {
    val base = Scratch.tempDir("graft_s42")
    val (tokRoot, statsRoot) = (s"$base/tok", s"$base/stats")
    TokenizerStream.publish(ref1, "doc_id", "text", rounds = 2, tokRoot)
    val b0 = Seq((10L, "ab abc", "en"), (11L, "ab ab", "fr"))
      .toDF("doc_id", "text", "lang")
    val b1 = Seq((12L, "bc bc abc abc", "en"), (13L, "c c", "de"))
      .toDF("doc_id", "text", "lang")
    assert(EvalStatsStream.applyBatch(b0, 0L, "doc_id", "text", "lang",
      tokRoot, statsRoot))
    assert(EvalStatsStream.applyBatch(b1, 1L, "doc_id", "text", "lang",
      tokRoot, statsRoot))
    def rows(df: DataFrame): Seq[(String, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq.sorted
    val merges = Publish.readVersion(spark, s"$tokRoot/merges", 1L)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = rows(EvalStatsStream.tokenBudgetView(
      spark, statsRoot, tokVersion = 1L, budget = 100L))
    val want = rows(graft.text.Bpe.tokenBudget(
      b0.unionByName(b1), "doc_id", "text", "lang", merges, budget = 100L))
    assert(got == want, s"maintained plan $got vs one-shot $want")
    assert(got.map(_._4).sum == 100L, "targets must sum to the budget")

    // a tokenizer cutover must not move the version-1 plan: the view
    // grains by version, so replanning against v1 stays reproducible
    assert(TokenizerStream.republish(
      Seq((903L, "qq qq")).toDF("doc_id", "text"),
      "doc_id", "text", rounds = 1, tokRoot) == 2L)
    val b2 = Seq((14L, "ab", "en")).toDF("doc_id", "text", "lang")
    assert(EvalStatsStream.applyBatch(b2, 2L, "doc_id", "text", "lang",
      tokRoot, statsRoot))
    assert(rows(EvalStatsStream.tokenBudgetView(
      spark, statsRoot, tokVersion = 1L, budget = 100L)) == got,
      "post-cutover v1 plan must be unchanged")
  }
}
