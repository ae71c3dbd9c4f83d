package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.Importance

/** Planted-fixture coverage for DSIR importance reweighting (q170):
  * gram extraction shapes (unigram+bigram, empty-token drop, empty-doc
  * exclusion), the carry-column grouping, and the selection semantics
  * (target-like docs outrank raw-like docs; scores are reproducible). */
class ImportanceSpec extends SparkSpec {
  import spark.implicits._

  private val P = 1000000007L

  /** Exact char-polynomial word hash: fold(chars)(acc·31 + ascii) mod p.
    * Engine-parity twin of DuckDB list_reduce over string_split(w, ''). */
  private def wordHash(w: Column): Column =
    aggregate(split(w, ""), lit(7L), (acc, c) => (acc * 31L + ascii(c)) % P)

  /** The declarative HOF form graft_grams replaced, kept as the
    * reference for what the native loop computes:
    * [[graft.functions.GramBuckets]] must emit the identical multiset. */
  private def hashedGramCountsHof(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int): DataFrame = {
    val hs = filter(
      transform(split(col(textCol), " "), w => when(length(w) > 0, wordHash(w))),
      h => h.isNotNull)
    val uni = hs
    val bi = when(size(hs) > 1,
      zip_with(slice(hs, lit(1), size(hs) - 1), slice(hs, lit(2), size(hs) - 1),
        (a, b) => (a * 131L + b) % P))
      .otherwise(array().cast("array<bigint>"))
    docs
      .select(col(idCol), explode(concat(uni, bi)).as("g"))
      .withColumn("bucket", pmod(col("g"), lit(buckets.toLong)))
      .drop("g")
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  test("hashedGramCounts: unigrams + adjacent bigrams, empty tokens drop") {
    val docs = Seq(
      (1L, "aa bb"),     // 2 unigrams + 1 bigram
      (2L, "aa  bb"),    // double space: empty token drops, bigram still forms
      (3L, "aa"),        // single token: no bigram
      (4L, "")           // empty doc: no grams at all
    ).toDF("doc_id", "text")
    val g = Importance.hashedGramCounts(docs, "doc_id", "text", buckets = 1 << 20)
      .groupBy("doc_id").agg(sum("n").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) == 3, "2 unigrams + 1 bigram")
    assert(g(2L) == 3, "space run drops, adjacency survives the drop")
    assert(g(3L) == 1, "no bigram from a single token")
    assert(!g.contains(4L), "an empty doc has no grams")
    // identical texts hash to identical (bucket, n) multisets
    val b = Importance.hashedGramCounts(docs, "doc_id", "text", buckets = 1 << 20)
    val b1 = b.where($"doc_id" === 1L).select("bucket", "n").collect().toSet
    val b2 = b.where($"doc_id" === 2L).select("bucket", "n").collect().toSet
    assert(b1.map(r => (r.getLong(0), r.getLong(1))) ==
      b2.map(r => (r.getLong(0), r.getLong(1))))
  }

  test("native graft_grams ≡ the declarative HOF form on hostile text") {
    val docs = Seq(
      (1L, "aa bb cc"), (2L, "aa  bb"), (3L, "x"), (4L, ""),
      (5L, "   "), (6L, "é中文 😀 mixed"), (7L, "a a a a"),
      (8L, "word " * 50 + "tail")
    ).toDF("doc_id", "text")
    for (b <- Seq(7, 512, 1 << 20)) {
      val native = Importance.hashedGramCounts(docs, "doc_id", "text", b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hof = hashedGramCountsHof(docs, "doc_id", "text", b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(native == hof,
        s"b=$b native-only=${native.diff(hof)} hof-only=${hof.diff(native)}")
    }
  }

  test("importanceSelect: target-vocabulary docs outrank raw-vocabulary docs") {
    // target slice speaks "alpha beta", the raw background speaks
    // "gamma delta"; two SCORING docs use one vocabulary each — the
    // alpha-beta doc must land above the gamma-delta doc
    val target = (1L to 20L).map(i => (i, "alpha beta alpha beta", true))
    val raw = (21L to 40L).map(i => (i, "gamma delta gamma delta", false))
    val probes = Seq((100L, "alpha beta", false), (101L, "gamma delta", false))
    val docs = (target ++ raw ++ probes).toDF("doc_id", "text", "is_tgt")
    val got = Importance.importanceSelect(
      docs, "doc_id", "text", targetPred = col("is_tgt"), buckets = 256, k = 42)
      .collect()
    assert(got.length == 42)
    val rank = got.zipWithIndex.map { case (r, i) => r.getLong(0) -> i }.toMap
    assert(rank(100L) < rank(101L),
      "the target-vocabulary probe must outrank the raw-vocabulary probe")
    val w = got.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(100L) > 0 && w(101L) < 0,
      "target-like grams carry positive log-ratios, raw-like negative")
    // weights are a deterministic function of the corpus: rerun is identical
    val again = Importance.importanceSelect(
      docs, "doc_id", "text", targetPred = col("is_tgt"), buckets = 256, k = 42)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq)
  }

  test("importanceSelect: k cuts on (weight desc, id) and n_grams is exact") {
    val docs = Seq(
      (3L, "alpha beta"), (1L, "alpha beta"), (2L, "alpha beta"),
      (9L, "gamma")
    ).toDF("doc_id", "text").withColumn("t", col("doc_id") === 1L)
    val got = Importance.importanceSelect(docs, "doc_id", "text", col("t"),
      buckets = 64, k = 3).collect()
    // every gram here is raw-heavy so all log-ratios are negative: the
    // 1-gram doc accumulates the least penalty and wins; the three
    // identical alpha-beta docs tie and the id tiebreak keeps 1 then 2
    assert(got.map(_.getLong(0)).toSeq == Seq(9L, 1L, 2L))
    assert(got.head.getLong(1) == 1L)
    assert(got.tail.forall(_.getLong(1) == 3L), "2 unigrams + 1 bigram each")
    assert(got(1).getDouble(2) == got(2).getDouble(2), "identical docs tie")
  }
}
