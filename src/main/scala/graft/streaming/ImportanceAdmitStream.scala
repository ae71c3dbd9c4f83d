package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish
import graft.text.Importance

/** S34: streaming DSIR admission — q170's importance gate run as a
  * crawl-ingest filter whose RAW distribution adapts as the stream
  * arrives.
  *
  * DSIR weighs every document by how target-like its hashed-n-gram
  * profile is RELATIVE TO THE RAW CORPUS. In a streaming ingest the
  * raw corpus is whatever has arrived so far — a fixed snapshot would
  * mis-weigh everything once the crawl's mix drifts. The gate
  * therefore maintains the raw bucket-count table ADDITIVELY from
  * every batch (gram counts are sums — [[AggTableSink]]'s exact
  * maintenance, batch-id gated inside the commit) and scores each
  * batch against the POST-update table plus the FIXED target
  * statistics published at setup. The adaptive consequence, spec-
  * pinned: a flood of target-looking spam RAISES the bar — the same
  * document scores lower after the flood than before it, because the
  * raw distribution now resembles the target. Admission is therefore
  * a function of the ARRIVAL PREFIX, stated and deliberate (the same
  * reason q164/S32 admit first-come-wins).
  *
  * Per batch: one gram pass over batch text (the native graft_grams
  * expression), one B-row stats merge, one B-row broadcast join to
  * score, one admitted-rows append — batch-sized work against
  * fixed-size model tables, never a corpus re-scan. Exactly-once is
  * the S18/S20 argument per root, in stats → corpus order: a replay
  * refuses the stats merge (already committed), recomputes the SAME
  * weights from the same post-batch table, and the corpus append
  * refuses its own batch id — crash anywhere, rerun, nothing double-
  * counts and the admitted set is unchanged. */
object ImportanceAdmitStream {

  /** Publish the FIXED target statistics once (idempotent): bucket →
    * gram count over the curated reference slice. */
  def publishTarget(
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      targetRoot: String): Unit =
    if (Publish.currentVersion(targetRoot).isEmpty) {
      val stats = Importance.hashedGramCounts(refDocs, idCol, textCol, buckets)
        .groupBy("bucket").agg(sum("n").as("ct"))
      Publish.publish(stats, targetRoot): Unit
    }

  /** Per-doc weights for a gram table against the fixed target and
    * the CURRENT maintained raw stats — q170's arithmetic verbatim
    * (shared lrCol, exact decimal accumulation). */
  def weigh(
      spark: SparkSession,
      grams: DataFrame,
      idCol: String,
      targetRoot: String,
      rawRoot: String,
      buckets: Int): DataFrame = {
    val tgt = Publish.read(spark, targetRoot).select(col("bucket"), col("ct"))
    val raw = Publish.read(spark, rawRoot).select(col("bucket"), col("n").as("cr"))
    val stats = tgt.join(raw, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val totals = stats.agg(sum("ct").as("t_tot"), sum("cr").as("r_tot"))
    val ratios = stats.crossJoin(broadcast(totals))
      .select(col("bucket"),
        Importance.lrCol(col("ct"), col("cr"),
          col("t_tot"), col("r_tot"), buckets).as("lr"))
    grams
      .join(broadcast(ratios), "bucket")
      .groupBy(col(idCol))
      .agg(sum("n").as("n_grams"),
        sum(col("n").cast("decimal(9,0)") * col("lr")).as("weight"))
  }

  /** Fold one micro-batch: merge its grams into the raw stats, score
    * against the post-batch distribution, append admitted documents
    * (weight ≥ `minWeight`). Returns false untouched on full replay. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      buckets: Int,
      minWeight: BigDecimal,
      targetRoot: String,
      rawRoot: String,
      corpusRoot: String): Boolean = {
    val spark = batch.sparkSession
    val statsDone = Publish.lastBatch(rawRoot).exists(_ >= batchId)
    val corpusDone = Publish.lastBatch(corpusRoot).exists(_ >= batchId)
    if (statsDone && corpusDone) return false

    val grams = graft.CacheScope.persisted(
      Importance.hashedGramCounts(batch, idCol, textCol, buckets))
    // stats FIRST: scoring must see the post-batch raw distribution,
    // and a replay that crashed after this step re-derives identical
    // weights from the already-committed table
    if (!statsDone)
      AggTableSink.applyBatch(grams.select("bucket", "n"), batchId, rawRoot,
        groupCols = Seq("bucket"), sumCols = Seq("n"), countCol = "n_rows"): Unit
    if (!corpusDone) {
      val admitted = batch.join(
        weigh(spark, grams, idCol, targetRoot, rawRoot, buckets)
          .where(col("weight") >= lit(minWeight))
          .select(col(idCol), col("weight").cast("double").as("weight")),
        Seq(idCol))
      AppendStream.applyBatch(admitted, batchId, corpusRoot): Unit
    }
    true
  }

  /** Start the admission gate over a document stream. */
  def start(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      buckets: Int,
      minWeight: BigDecimal,
      targetRoot: String,
      rawRoot: String,
      corpusRoot: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, idCol, textCol, buckets, minWeight,
          targetRoot, rawRoot, corpusRoot): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
