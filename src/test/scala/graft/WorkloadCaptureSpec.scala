package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.WorkloadCapture
import graft.tools.Scratch

/** The observed-workload capture contract (q167's listener):
  * optimized-plan scan predicates over ONE target table, folded into
  * the advisor's (query_id, dim, lo, hi) shape — closed boxes from
  * BETWEEN/equality, ±1 closing of strict bounds, per-dim conjunct
  * intersection, reversed operand order, and the two refusals (a
  * cross-table residual is not a scan predicate; an unrecognized
  * conjunct under-approximates instead of guessing). */
class WorkloadCaptureSpec extends SparkSpec {

  private lazy val root: String = {
    val sess = spark
    import sess.implicits._
    val dir = Scratch.tempDir("graft_wcap") + "/t"
    (0L until 100L).map(i => (i, i % 10)).toDF("x", "y")
      .repartition(2).write.parquet(dir)
    dir
  }
  private val dims = Seq("ux" -> "x", "uy" -> "y")
  private def dimMap = dims.map { case (d, c) => c -> d }.toMap
  private def target = new java.io.File(root).getAbsolutePath

  private def extracted(df: DataFrame): Seq[(String, Long, Long)] =
    WorkloadCapture.extract(df.queryExecution.optimizedPlan, target, dimMap)
      .flatten

  test("BETWEEN and equality become closed boxes; strict bounds close by one") {
    val t = spark.read.parquet(root)
    assert(extracted(t.where(col("x").between(10, 20) && col("y") === 5)) ==
      Seq(("ux", 10L, 20L), ("uy", 5L, 5L)))
    assert(extracted(t.where(col("x") >= 10 && col("x") < 20)) ==
      Seq(("ux", 10L, 19L)))
    assert(extracted(t.where(col("x") > 10 && col("x") <= 20)) ==
      Seq(("ux", 11L, 20L)))
    // one-sided stays one-sided (open end = Long extreme)
    assert(extracted(t.where(col("x") >= 7)) == Seq(("ux", 7L, Long.MaxValue)))
  }

  test("reversed operand order and repeated conjuncts intersect") {
    val t = spark.read.parquet(root)
    assert(extracted(t.where(lit(10) <= col("x") && lit(20) > col("x"))) ==
      Seq(("ux", 10L, 19L)))
    assert(extracted(t.where(
      col("x") >= 5 && col("x") >= 10 && col("x") <= 30 && col("x") <= 25)) ==
      Seq(("ux", 10L, 25L)))
  }

  test("IN-lists capture as their covering box; null-safe equality as a point") {
    val t = spark.read.parquet(root)
    assert(extracted(t.where(col("x").isin(17, 3, 9))) == Seq(("ux", 3L, 17L)))
    // a large list optimizes to InSet — same covering box
    val big = (0 until 30).map(i => 100 + i * 2)
    assert(extracted(t.where(col("x").isInCollection(big))) ==
      Seq(("ux", 100L, 158L)))
    assert(extracted(t.where(col("y") <=> 4)) == Seq(("uy", 4L, 4L)))
    // a covering box still intersects with sibling range conjuncts
    assert(extracted(t.where(col("x").isin(5, 40) && col("x") <= 30)) ==
      Seq(("ux", 5L, 30L)))
  }

  test("unrecognized conjuncts under-approximate; cross-table residuals are refused") {
    val t = spark.read.parquet(root)
    // OR trees and non-dim columns contribute nothing — but the
    // recognizable conjunct next to them still lands
    assert(extracted(t.where(
      (col("x") === 1 || col("y") === 2) && col("y") <= 4)) ==
      Seq(("uy", Long.MinValue, 4L)))
    // a residual above a join is not a scan predicate of either table
    val u = spark.read.parquet(root).select(col("x").as("x2"))
    val joined = t.crossJoin(u).where(col("x") + col("x2") > 5)
    assert(WorkloadCapture.extract(
      joined.queryExecution.optimizedPlan, target, dimMap).isEmpty)
  }

  test("a self-join's two scan legs capture as two boxes, never an impossible intersection") {
    val t = spark.read.parquet(root)
    // the same table scanned twice with DISJOINT ranges: one box per
    // Filter leg (intersecting them would yield lo=80 > hi=10)
    val a = t.where(col("x") <= 10)
    val b = t.where(col("x") >= 80).select(col("x").as("xb"), col("y").as("yb"))
    val selfJoin = a.crossJoin(b)
    val legs = WorkloadCapture.extract(
      selfJoin.queryExecution.optimizedPlan, target, dimMap)
    assert(legs.map(_.toSet).toSet == Set(
      Set(("ux", Long.MinValue, 10L)), Set(("ux", 80L, Long.MaxValue))))
  }

  test("contradictory conjuncts within one leg drop the box instead of going negative") {
    val t = spark.read.parquet(root)
    // Catalyst may fold x>=50 && x<=10 to an empty relation; plant the
    // contradiction through a non-foldable shape instead: intersect a
    // covering IN box with a disjoint range conjunct
    assert(extracted(t.where(col("x").isin(60, 90) && col("x") <= 10)).isEmpty)
  }

  test("the listener captures planted executions through the bus, per-query grouped") {
    val cap = new WorkloadCapture(root, dims)
    spark.listenerManager.register(cap)
    try {
      val t = spark.read.parquet(root)
      t.where(col("x").between(3, 7)).count(): Unit
      t.where(col("y") === 2 && col("x") < 50).count(): Unit
      // an untargeted query must consume no query_id
      Tables.nation(spark, SfDir).count(): Unit
      assert(cap.awaitCount(2), "bus never delivered the planted executions")
      assert(cap.capturedWorkload == Seq(
        (1L, "ux", 3L, 7L),
        (2L, "ux", Long.MinValue, 49L), (2L, "uy", 2L, 2L)))
      cap.clear()
      assert(cap.capturedWorkload.isEmpty)
    } finally spark.listenerManager.unregister(cap)
  }
}
