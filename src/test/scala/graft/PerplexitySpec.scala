package graft

import org.apache.spark.sql.functions._

import graft.text.Perplexity
import graft.tools.Scratch

/** Planted-fixture coverage for the CCNet-style LM filter (q172):
  * hand-computed cross-entropy on a tiny model, word-order
  * sensitivity (same vocabulary, improbable order scores worse — the
  * signal heuristics cannot see), UNK collapse, bigram-less docs, and
  * tercile totality. */
class PerplexitySpec extends SparkSpec {
  import spark.implicits._

  test("hand model: exact ce, order sensitivity, UNK, short docs") {
    // reference: "a b" ×3 and "a c" ×1 → c(a,b)=3, c(a,c)=1, c(a)=4,
    // vocab {a,b,c} V=3
    val docs = Seq(
      (1L, "a b", true), (2L, "a b", true), (3L, "a b", true), (4L, "a c", true),
      (10L, "a b", false),   // the reference's favorite bigram
      (11L, "b a", false),   // same words, unseen order
      (12L, "a z", false),   // OOV second leg → UNK
      (13L, "a", false),     // no bigram
      (14L, "", false)       // empty
    ).toDF("doc_id", "text", "is_ref")
    val got = Perplexity.lmScore(docs, "doc_id", "text", col("is_ref"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getString(3)))).toMap

    assert(got.size == 9, "every doc must survive with a bucket")
    def ce(cpw: Long, cp: Long): Double =
      BigDecimal(-math.log((cpw + 1.0) / (cp + 3 + 1.0)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 10: one bigram (a,b): -ln(4/8)
    assert(got(10L)._1 == 1 && got(10L)._2.contains(
      BigDecimal(ce(3, 4)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // unseen order (b,a): c(b,·)=0 → -ln(1/4) — worse than doc 10
    assert(got(11L)._2.get > got(10L)._2.get)
    // OOV leg: (a, UNK) unseen under a seen prev → -ln(1/8), the worst
    assert(got(12L)._2.get > got(11L)._2.get)
    // bigram-less docs: zero count, null ce, tail bucket
    assert(got(13L) == ((0L, None, "tail")))
    assert(got(14L) == ((0L, None, "tail")))
    // tercile order: 9 docs, 3 per tile over (ce, id) — the three
    // lowest-id copies of the most fluent text are the head; doc 10
    // (same ce, higher id) opens the middle; the OOV probe is tail
    assert(Seq(1L, 2L, 3L).forall(got(_)._3 == "head"))
    assert(got(10L)._3 == "middle")
    assert(got(12L)._3 == "tail")
  }

  test("terciles partition the corpus; all buckets named") {
    val docs = (1L to 30L).map(i => (i, s"w${i % 5} w${(i + 1) % 5} w${(i + 2) % 7}"))
      .toDF("doc_id", "text")
    val out = Perplexity.lmScore(docs, "doc_id", "text",
      referencePred = col("doc_id") <= 10L).collect()
    assert(out.length == 30)
    val buckets = out.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(buckets.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(buckets.values.sum == 30)
    // ntile(3) over 30 docs: each non-empty tercile holds 10 (no null
    // ce here — every doc has ≥ 2 tokens)
    assert(buckets == Map("head" -> 10, "middle" -> 10, "tail" -> 10))
  }

  test("plan shape: terciles run distributed — no window, no single-task sort") {
    val docs = (1L to 20L).map(i => (i, s"w${i % 3} w${(i + 1) % 3} x$i"))
      .toDF("doc_id", "text")
    val out = Perplexity.lmScore(docs, "doc_id", "text",
      referencePred = col("doc_id") <= 5L)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "tercile cut must not plan a window operator")
    assert(!plan.contains("SinglePartition"),
      "no stage may collapse the score rows to one task")
    // the rank path is the two-pass PrefixSum: a RANGE exchange over
    // the sort key, never a global Sort node feeding one partition
    assert(!plan.toLowerCase.contains("sort global"),
      "no global sort in the tercile plan")
  }

  test("terciles over a STORED score table equal the live-lineage cut (q178's posture)") {
    val docs = (1L to 20L).map(i => (i, s"w${i % 3} w${(i + 1) % 3} x$i"))
      .toDF("doc_id", "text")
    val live = Perplexity.lmScore(docs, "doc_id", "text",
      referencePred = col("doc_id") <= 5L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val dir = Scratch.tempDir("graft_pplx_spec") + "/scores"
    try {
      val (rb, vc) = Perplexity.trainBigramModel(
        docs.where(col("doc_id") <= 5L), "doc_id", "text")
      Perplexity.scoreAgainst(docs, "doc_id", "text", rb, vc)
        .write.parquet(dir)
      val stored = Perplexity.terciles(spark.read.parquet(dir), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(stored == live, "the rank stage must be storage-agnostic")
    } finally graft.sources.Sinks.deleteRecursively(
      java.nio.file.Paths.get(dir).getParent)
  }

  test("ntile arithmetic matches SQL ntile for non-multiple-of-3 counts") {
    // 11 docs → tiles of 4, 4, 3 (first total%3=2 tiles get ceil)
    val docs = (1L to 11L).map(i => (i, s"a b c$i")).toDF("doc_id", "text")
    val out = Perplexity.lmScore(docs, "doc_id", "text",
      referencePred = col("doc_id") <= 4L).collect()
    val byBucket = out.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(byBucket.values.sum == 11)
    assert(byBucket("head") == 4 && byBucket("middle") == 4 && byBucket("tail") == 3)
  }
}
