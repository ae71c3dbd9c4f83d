package graft

import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Publish, Sinks, Txn}
import graft.text.TextOps
import graft.tools.Scratch

/** The q179 storage contract: the BM25 (doc, term, tf, dl, fp) index
  * is a PUBLISHED, append-maintained table, and ranking the stored
  * table is exactly the in-line computation.
  *
  * (a) every index row is a per-doc quantity, so `Txn.append` of a
  *     crawl batch's own rows ≡ re-indexing corpus ∪ batch from
  *     scratch — the maintenance is exact, not an approximation;
  * (b) hardNegatives over the appended stored index ≡ hardNegatives
  *     computed in-line over the union corpus — a publish → parquet
  *     → read roundtrip changes no score, rank, or type;
  * (c) the stored path exercises the real testdata documents, so the
  *     q179 registry hash is pinned against the in-line twin.
  */
class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame = Tables.documents(spark, SfDir)

  private def asRows(df: DataFrame): Set[(Long, String, Long, Long, Long)] =
    df.select("doc_id", "term", "tf", "dl", "fp").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet

  private def negRows(df: DataFrame): Seq[(Long, Int, Long, Long, Double)] =
    df.orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq

  test("Txn.append maintenance equals re-indexing from scratch; stored ranking equals in-line") {
    val root = Scratch.tempDir("graft_bm25idx_spec") + "/idx"
    val corpus = docs.where(col("doc_id") % 3 =!= 0)
    val batch = docs.where(col("doc_id") % 3 === 0)

    Publish.publish(TextOps.bm25Index(corpus, "doc_id", "text"), root): Unit
    Txn.append(spark, root, TextOps.bm25Index(batch, "doc_id", "text")): Unit

    // (a) index state: append-maintained ≡ full re-tokenization of
    // corpus ∪ batch (per-doc rows are corpus-independent)
    val maintained = asRows(Publish.read(spark, root))
    val rebuilt = asRows(TextOps.bm25Index(docs, "doc_id", "text"))
    assert(maintained == rebuilt,
      s"extra=${(maintained -- rebuilt).take(3)} missing=${(rebuilt -- maintained).take(3)}")

    // (b)+(c) ranking the STORED table ≡ the in-line computation on
    // the union corpus — the q179 production posture is hash-stable
    val pred = col("doc_id") % 97 === 0
    val stored = negRows(TextOps.hardNegativesFromIndex(
      Publish.read(spark, root), "doc_id", pred, k = 5))
    val inline = negRows(TextOps.hardNegatives(docs, "doc_id", "text", pred, k = 5))
    assert(stored.nonEmpty, "no negatives at sf0.001 — the check would be vacuous")
    assert(stored == inline,
      s"stored-path drift: stored=${stored.take(3)} inline=${inline.take(3)}")

    Sinks.deleteRecursively(Paths.get(root).getParent)
  }

  test("index rows carry exactly what BM25 needs, at the (doc, term) grain") {
    val d = Seq(
      (1L, "a b b a a"),
      (2L, "b c"),
      (3L, "")
    ).toDF("doc_id", "text")
    val idx = TextOps.bm25Index(d, "doc_id", "text")
    assert(idx.columns.toSeq == Seq("doc_id", "term", "tf", "dl", "fp"))
    val rows = idx.select("doc_id", "term", "tf", "dl").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // doc 1: a×3 b×2, dl=5; doc 2: b,c ×1, dl=2; doc 3: split("") is
    // one empty-string token — the tokenizer's own totality rule
    assert(rows == Set(
      (1L, "a", 3L, 5L), (1L, "b", 2L, 5L),
      (2L, "b", 1L, 2L), (2L, "c", 1L, 2L),
      (3L, "", 1L, 1L)), rows.toString)
    // fp is the doc-level rolling hash, repeated per posting
    val fps = idx.select("doc_id", "fp").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val direct = TextOps.fingerprint(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps == direct)
  }
}
