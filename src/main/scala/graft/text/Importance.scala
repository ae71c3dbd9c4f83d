package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance reweighting over hashed n-grams (Xie et
  * al., "Data Selection for Language Models via Importance
  * Resampling", NeurIPS 2023 — public method): score every raw
  * document by how much its hashed-n-gram profile looks like a
  * TARGET slice rather than the raw corpus, then keep the top
  * scorers. This is the curation tier between heuristics (q23/q72:
  * per-doc signals only) and embeddings (q141: needs a vector per
  * doc): a distribution-level match that prices each document
  * against corpus-wide target/raw statistics, with nothing heavier
  * than counting.
  *
  * Determinism / oracle parity (the q151 BM25 discipline):
  *  - the feature hash is an exact integer char-polynomial
  *    (acc·31 + ascii, mod 1e9+7) folded per word, paired into
  *    bigrams as (h₁·131 + h₂) mod p — identical arithmetic in
  *    DuckDB's list_reduce, no seeded/engine hash anywhere;
  *  - bucket log-ratios are ONE float expression each —
  *    ln((cₜ+1)/(cᵣ+1)) + ln((R+B)/(T+B)), Laplace-smoothed over B
  *    buckets — rounded to 9 dp and cast DECIMAL(28,9), so the
  *    per-doc sum is integer-count × decimal: exact, order-free;
  *  - the final cut orders by (decimal weight DESC, doc id).
  *
  * Scale shape: one narrow pass explodes docs to (doc, bucket)
  * gram counts (map-side combined — the wire carries per-doc
  * DISTINCT buckets, ≤ B per doc); the bucket statistics table is
  * B rows (a broadcast, whatever the corpus size — that is the
  * point of feature HASHING); scoring is one broadcast join + one
  * doc-keyed aggregate. No stage grows faster than the corpus, and
  * the only full-width shuffle key is the 8-byte doc id.
  */
object Importance {

  /** (doc id, [carry...], bucket, n) hashed unigram+bigram counts per
    * document. Empty tokens (space runs) drop on both engines. `carry`
    * columns are functionally dependent on the doc id (a flag, a
    * source) and ride the SAME aggregate — no second corpus join. */
  def hashedGramCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      carry: Seq[(String, Column)] = Nil): DataFrame =
    docs
      .select(col(idCol) +: carry.map { case (n, c) => c.as(n) } :+
        explode(call_function("graft_grams", col(textCol), lit(buckets)))
          .as("bucket"): _*)
      .groupBy(col(idCol) +: carry.map(c => col(c._1)) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"))

  /** The per-bucket Laplace-smoothed log-ratio, shared by the batch
    * selector and the streaming admission gate (S34) so the two
    * surfaces cannot drift. lr at (18,9) keeps the later n×lr product
    * inside exact decimal range on BOTH engines: Spark would cap a
    * long×(28,9) product at precision 38 by SHRINKING THE SCALE to 6
    * (allowPrecisionLoss) — i.e. silently round every term, the one
    * hash-gate trap in this chain. */
  private[graft] def lrCol(
      ct: Column, cr: Column, tTot: Column, rTot: Column,
      buckets: Int): Column =
    round(
      log((ct + lit(1L)).cast("double") / (cr + lit(1L)).cast("double")) +
      log((rTot + lit(buckets.toLong)).cast("double") /
          (tTot + lit(buckets.toLong)).cast("double")),
      9).cast("decimal(18,9)")

  /** Importance-weight and select: per-doc weight =
    * Σ_buckets n(doc,b) · [ln p_target(b) − ln p_raw(b)] with add-1
    * smoothing, top `k` docs by (weight DESC, id). `targetPred` marks
    * the target slice (it also scores — DSIR scores the RAW corpus,
    * and the raw corpus contains the target rows).
    * Output: id, n_grams, weight (double, 6 dp). */
  def importanceSelect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      buckets: Int = 512,
      k: Int = 100): DataFrame = {
    // three consumers (bucket stats, corpus totals, scoring) — persist
    // the corpus-sized gram table once instead of re-exploding per branch
    val grams = graft.CacheScope.persisted(
      hashedGramCounts(docs, idCol, textCol, buckets,
        carry = Seq("__tgt" -> targetPred)))
    val stats = grams
      .groupBy("bucket")
      .agg(
        sum(when(col("__tgt"), col("n")).otherwise(lit(0L))).as("ct"),
        sum("n").as("cr"))
    // corpus totals ride a 1-row broadcast — no driver collect
    val totals = stats.agg(sum("ct").as("t_tot"), sum("cr").as("r_tot"))
    val ratios = stats.crossJoin(broadcast(totals))
      .select(col("bucket"),
        lrCol(col("ct"), col("cr"), col("t_tot"), col("r_tot"), buckets).as("lr"))
    grams
      .join(broadcast(ratios), "bucket")
      .groupBy(col(idCol))
      .agg(sum("n").as("n_grams"),
        sum(col("n").cast("decimal(9,0)") * col("lr")).as("__w"))
      .orderBy(col("__w").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("n_grams"),
        round(col("__w").cast("double"), 6).as("weight"))
  }
}
