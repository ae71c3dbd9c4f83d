package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed GLOBAL running total — `SUM(v) OVER (ORDER BY …)` with
  * no partition key.
  *
  * The reference computes exactly this to batch ingestion work under
  * a row budget (retrieve_dune_transfer_data.py:205: running total of
  * per-coin transfer counts ordered ascending, prefix kept under a
  * batch cap). Spark CAN express it as `Window.orderBy(...)` with no
  * partitionBy — but that plan moves the ENTIRE table through one
  * task (Spark even warns), the single worst scale anti-pattern in
  * the window family.
  *
  * This is the classic two-pass parallel prefix sum:
  *
  *   1. range-repartition on the order key and sort within
  *      partitions — ONE exchange, the same volume a global sort
  *      would pay; partition i holds keys entirely below partition
  *      i+1,
  *   2. first pass: per-partition totals — numPartitions scalars to
  *      the driver (not data rows),
  *   3. exclusive scan of those totals on the driver (numPartitions
  *      additions),
  *   4. second pass over the SAME shuffle output (the RDD is shared,
  *      so the exchange is written once and read twice): seed each
  *      partition with its offset and emit the running value per row.
  *
  * A pure-DataFrame formulation (window PARTITION BY
  * spark_partition_id) was measured and rejected: Catalyst cannot
  * know rows are already clustered by physical partition, so it
  * inserts a SECOND full-table hash exchange to satisfy the window's
  * clustering requirement — 2× the shuffle volume for no work. The
  * per-partition fold here is the same `mapPartitions`-as-last-resort
  * clause the repo's q9 stable-id assignment (sort + zipWithIndex)
  * already uses for exactly this "physical partition = logical
  * group" shape.
  *
  * The order must be TOTAL (include a unique tiebreaker column):
  * with equal keys split across a partition boundary the running
  * total is still correct for distinct rows, but which of two EQUAL
  * rows precedes the other would be partition-placement-dependent —
  * a unique tiebreaker removes the ambiguity, matching the
  * deterministic ORDER BY the SQL oracle evaluates. Order columns
  * must be non-null (Spark sorts NULLS FIRST, most SQL engines
  * NULLS LAST — don't put the semantics question in the data).
  * NULL measures contribute nothing, like SQL's SUM OVER.
  */
object PrefixSum {

  /** Append `outCol` = 1-based GLOBAL row number over `orderCols`
    * (ascending) — `ROW_NUMBER() OVER (ORDER BY …)` with no partition
    * key — and return the total row count alongside, for free: pass 1
    * already counts every partition, so callers that need rank AND N
    * (ntile, percent_rank) pay no extra job. The unit-weight case of
    * [[globalRunningSum]]'s two-pass scan, same total-order
    * requirement; the count is an eager driver-side scalar (pass 1
    * runs at call time). */
  def globalRowNumber(
      df: DataFrame,
      orderCols: Seq[String],
      outCol: String,
      numPartitions: Int = 0): (DataFrame, Long) = {
    require(orderCols.nonEmpty, "global row number needs an order")
    twoPassScan(df, orderCols, None, outCol, numPartitions)
  }

  /** Append `outCol` = running sum of `valueCol` over the global
    * order given by `orderCols` (ascending, inclusive of the current
    * row). Integral measures accumulate in Long (BIGINT sum
    * semantics), floating-point in Double.
    *
    * Float caveat: for Double measures the two-pass scheme associates
    * additions differently than a sequential `SUM OVER` — per
    * partition, then offsets — so results can differ from a
    * single-task window (or an oracle) in the last ulps, and can vary
    * with `numPartitions`. "Partition count is a physical knob, not
    * semantic" is therefore EXACT for integral measures only;
    * compare floating outputs with a tolerance (PrefixSumSpec does). */
  def globalRunningSum(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      outCol: String,
      numPartitions: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "global running sum needs an order")
    twoPassScan(df, orderCols, Some(valueCol), outCol, numPartitions)._1
  }

  /** The shared two-pass scan: range exchange, pass 1 per-partition
    * totals, exclusive scan on the driver, pass 2 seeded per
    * partition. `valueCol = None` is the unit weight (the row number):
    * no measure is read per row, and pass 1's total is the row count. */
  private def twoPassScan(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: Option[String],
      outCol: String,
      numPartitions: Int): (DataFrame, Long) = {
    require(!df.columns.contains(outCol),
      s"output column '$outCol' already exists on the input")
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sessionState.conf.numShufflePartitions

    val sorted = df
      .repartitionByRange(n, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    val schema = sorted.schema
    // -1: unit weight
    val vIdx = valueCol.map(schema.fieldIndex).getOrElse(-1)
    val integral = valueCol.forall(v => schema(v).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case FloatType | DoubleType => false
      case dt => throw new IllegalArgumentException(
        s"globalRunningSum supports integral and floating measures, got $dt for '$v'")
    })

    // one RDD val: both jobs below share its shuffle dependency, so
    // the range exchange is WRITTEN once and only re-READ for pass 2
    val rdd = sorted.rdd

    // pass 1: per-partition totals (numPartitions scalars, not rows)
    val totals = rdd.mapPartitionsWithIndex { (pid, it) =>
      if (vIdx < 0) Iterator((pid, it.size.toLong, 0.0))
      else {
        var accL = 0L
        var accD = 0.0
        it.foreach { r =>
          if (!r.isNullAt(vIdx)) {
            if (integral) accL += r.getAs[Number](vIdx).longValue()
            else accD += r.getAs[Number](vIdx).doubleValue()
          }
        }
        Iterator((pid, accL, accD))
      }
    }.collect()

    // exclusive scan on the driver — numPartitions additions
    val offL = new Array[Long](n)
    val offD = new Array[Double](n)
    totals.sortBy(_._1).foreach { case (pid, l, d) =>
      if (pid + 1 < n) { offL(pid + 1) = l; offD(pid + 1) = d }
    }
    for (i <- 1 until n) { offL(i) += offL(i - 1); offD(i) += offD(i - 1) }

    // pass 2: seed each partition with its offset, emit running rows
    val outRows = rdd.mapPartitionsWithIndex { (pid, it) =>
      var accL = offL(pid)
      var accD = offD(pid)
      if (vIdx < 0) it.map { r => accL += 1; Row.fromSeq(r.toSeq :+ accL) }
      else it.map { r =>
        if (!r.isNullAt(vIdx)) {
          if (integral) accL += r.getAs[Number](vIdx).longValue()
          else accD += r.getAs[Number](vIdx).doubleValue()
        }
        Row.fromSeq(r.toSeq :+ (if (integral) accL else accD))
      }
    }
    val outType = if (integral) LongType else DoubleType
    val out = spark.createDataFrame(outRows,
      StructType(schema.fields :+ StructField(outCol, outType, nullable = false)))
    (out, totals.map(_._2).sum)
  }
}
