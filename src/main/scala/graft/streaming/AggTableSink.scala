package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Publish

/** S18: incremental maintenance of an EXACT additive aggregate table
  * from an append-only fact stream — the exact-arithmetic cell of the
  * maintenance matrix: [[PublishStream]] (S15) maintains a keyed
  * SNAPSHOT by upsert, [[SketchTableSink]] (S17) maintains an
  * APPROXIMATE aggregate whose register-max algebra makes replay free,
  * and this maintains the exact count/sum aggregate a serving layer
  * actually reads — where exactly-once CANNOT come from the algebra:
  * addition is not idempotent, a replayed batch would double-count.
  * So the guarantee comes from the commit layer instead, S15's
  * mechanism: the micro-batch id rides the manifest inside Publish's
  * atomic pointer flip, a replayed batch is refused before any
  * arithmetic happens, and there is no window where the sums are
  * applied but the id is not.
  *
  * Each micro-batch aggregates to group-level partials (count + sums
  * — map-side-combined, so the shuffle carries |groups| rows, not the
  * batch), merges them into the live |groups|-row table with ONE hash
  * aggregation, and publishes a fresh immutable version. The fact
  * stream is never re-scanned: a maintenance tick costs the delta,
  * not the history — which at 100 TB is the difference between a
  * bounded merge and a daily full-table pass. Full-version
  * publication is free because the aggregate IS the table (the S17
  * argument), and readers always resolve a complete snapshot.
  *
  * Measure discipline: DECIMAL sums make the maintained bytes
  * independent of how the stream was chopped into batches (decimal
  * addition is exact and commutative — the q92/q97 posture), so the
  * spec can assert exact equality against a batch build over all
  * facts at once. Double sums would only be comparable under a
  * tolerance. Merged columns are cast back to the partials' types
  * each tick so the stored schema stays stable across versions
  * (Spark widens sum-of-decimal by 10 digits per aggregation).
  */
object AggTableSink {

  /** Group-level partials for one batch of facts. */
  def partials(
      facts: DataFrame,
      groupCols: Seq[String],
      sumCols: Seq[String],
      countCol: String): DataFrame =
    facts.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as(countCol), sumCols.map(s => sum(s).as(s)): _*)

  /** Merge one batch's partials into the live table and publish the
    * result as a new version carrying `batchId`. Returns false (and
    * touches nothing) when `batchId` is already committed — the
    * replay-after-restart path, which for non-idempotent addition is
    * the whole exactly-once story. */
  def applyBatch(
      batch: DataFrame,
      batchId: Long,
      root: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      countCol: String): Boolean = {
    if (Publish.lastBatch(root).exists(_ >= batchId)) false
    else {
      val delta = partials(batch, groupCols, sumCols, countCol)
      val merged =
        if (Publish.currentVersion(root).isEmpty) delta
        else {
          val live = Publish.read(batch.sparkSession, root)
          val summed = live.unionByName(delta)
            .groupBy(groupCols.map(col): _*)
            .agg(sum(countCol).as(countCol), sumCols.map(s => sum(s).as(s)): _*)
          // pin the stored types to the partials' schema
          val types = delta.schema.fields.map(f => f.name -> f.dataType).toMap
          summed.select(summed.columns.map(c =>
            col(c).cast(types.getOrElse(c, summed.schema(c).dataType)).as(c)): _*)
        }
      Publish.publish(merged, root, Map(Publish.ReplayMarker -> batchId.toString))
      true
    }
  }

  /** Start maintaining the aggregate table at `root` from a fact
    * stream. See [[UpsertSink.start]] for why checkpointLocation is
    * required for real restartability. */
  def start(
      facts: DataFrame,
      root: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      countCol: String,
      checkpointLocation: Option[String] = None): StreamingQuery = {
    val writer = facts.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, groupCols, sumCols, countCol): Unit
      }
    checkpointLocation.fold(writer)(writer.option("checkpointLocation", _)).start()
  }
}
