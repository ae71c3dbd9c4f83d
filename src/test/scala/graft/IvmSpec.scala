package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ivm, Scd}
import graft.sources.Publish
import graft.tools.Scratch

/** Incremental view maintenance (operators/Ivm.scala): a
  * hand-computed feed pins the retract/assert algebra (insert,
  * delete-to-empty, measure update, group migration), the q97 wiring
  * is proven EXACTLY equal to a full re-aggregation of the new
  * snapshot, and the Publish composition shows the maintained
  * aggregate tracking published versions without re-scanning them. */
class IvmSpec extends SparkSpec {

  private def agg(snap: DataFrame): DataFrame = snap
    .groupBy("g").agg(
      count(lit(1)).as("n"),
      sum("v").as("v"))

  private def rows(df: DataFrame): Set[(String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("applyDiff: insert, delete-to-empty, update, and group migration") {
    val sess = spark
    import sess.implicits._
    val oldSnap = Seq(
      (1L, "a", 10L), (2L, "a", 20L), // a: two rows
      (3L, "b", 30L),                 // b: will empty out
      (4L, "c", 40L))                 // c: row migrates to a
      .toDF("id", "g", "v")
    val newSnap = Seq(
      (1L, "a", 11L), (2L, "a", 20L), // 1 updates in place
      (4L, "a", 40L),                 // 4 migrates c -> a
      (5L, "d", 50L))                 // new group d
      .toDF("id", "g", "v")

    val feed = Scd.snapshotDiff(oldSnap, newSnap, Seq("id"), Seq("g", "v"))
    val maintained = Ivm.applyDiff(agg(oldSnap), feed, Seq("g"), Seq("v"), "n")

    assert(rows(maintained) == Set(("a", 3L, 71L), ("d", 1L, 50L)))
    assert(rows(maintained) == rows(agg(newSnap)))
  }

  test("applyDiff: empty feed returns the base aggregate unchanged") {
    val sess = spark
    import sess.implicits._
    val snap = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "g", "v")
    val feed = Scd.snapshotDiff(snap, snap, Seq("id"), Seq("g", "v"))
    assert(feed.isEmpty)
    assert(rows(Ivm.applyDiff(agg(snap), feed, Seq("g"), Seq("v"), "n"))
      == rows(agg(snap)))
  }

  test("q97: incremental maintenance equals full re-aggregation bit-for-bit") {
    val incremental = SparkEntry.q97IvmAggregate(spark, SfDir)
    val full = {
      val ev = Tables.events(spark, SfDir)
      val newSnap = ev.where(col("user_id") % 50 =!= 7)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          sum(round(col("value"), 6).cast("decimal(18,6)")).as("total_value"))
        .withColumn("tier",
          when(col("n_events") < 60, "small")
            .when(col("n_events") < 72, "mid")
            .otherwise("large"))
      newSnap.groupBy("tier").agg(
        count(lit(1)).as("n_users"),
        sum("n_events").as("n_events"),
        sum("total_value").cast("double").as("total_value"))
    }
    // decimal accumulation makes the identity EXACT; both sides take
    // the same single correctly-rounded decimal→double cast at the
    // end, so the doubles are bit-equal too
    def asSet(df: DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    assert(asSet(incremental) == asSet(full))
    assert(incremental.count() == 3) // all tiers populated at sf0.001
  }

  test("q97's planted change actually migrates groups") {
    val ev = Tables.events(spark, SfDir)
    def snap(df: DataFrame) = df.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("tier",
        when(col("n_events") < 60, "small")
          .when(col("n_events") < 72, "mid")
          .otherwise("large"))
    val feed = Scd.snapshotDiff(
      snap(ev.where(col("event_id") % 2 === 0 && col("user_id") % 50 =!= 3)),
      snap(ev.where(col("user_id") % 50 =!= 7)),
      Seq("user_id"), Seq("tier", "n_events"))
    assert(feed.where(col("change_type") === "update" &&
      !(col("old_tier") <=> col("new_tier"))).count() > 0)
  }

  test("maintained aggregate tracks Publish versions via the diff feed") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_ivm_pub")
    try {
      val v1Data = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "g", "v")
      val v2Data = Seq((1L, "a", 15L), (3L, "a", 30L), (4L, "b", 40L))
        .toDF("id", "g", "v")
      Publish.publish(v1Data, root)
      Publish.publish(v2Data, root)
      val feed = Scd.snapshotDiff(
        Publish.readVersion(spark, root, 1L),
        Publish.readVersion(spark, root, 2L),
        Seq("id"), Seq("g", "v"))
      val maintained = Ivm.applyDiff(
        agg(Publish.readVersion(spark, root, 1L)), feed, Seq("g"), Seq("v"), "n")
      assert(rows(maintained) == rows(agg(Publish.readVersion(spark, root, 2L))))
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("applyJoinDiff: hand-computed panel — both sides change, dim attribute migrates groups") {
    val sess = spark
    import sess.implicits._
    // facts (id, k → dim, v measure); dims (k, seg group)
    val l0 = Seq((1L, 10L, 100L), (2L, 10L, 200L), (3L, 20L, 300L), (4L, 30L, 400L))
      .toDF("id", "k", "v")
    val l1 = Seq((1L, 10L, 150L),              // measure update
                 (2L, 10L, 200L),
                 (4L, 30L, 400L),              // 3 deleted
                 (5L, 20L, 500L))              // insert into k=20
      .toDF("id", "k", "v")
    val r0 = Seq((10L, "x"), (20L, "y"), (30L, "y")).toDF("ck", "seg")
    val r1 = Seq((10L, "x"), (20L, "x"),          // 20 migrates y -> x
                 (40L, "z")).toDF("ck", "seg")    // 30 deleted, 40 inserted (no facts)

    def full(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, col("k") === col("ck"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("v").as("v"))
    val feedL = Scd.snapshotDiff(l0, l1, Seq("id"), Seq("k", "v"))
    val feedR = Scd.snapshotDiff(r0, r1, Seq("ck"), Seq("seg"))
    val maintained = Ivm.applyJoinDiff(
      full(l0, r0), feedL, l1, feedR, r0,
      leftKey = "k", rightKey = "ck",
      groupCols = Seq("seg"), sumCols = Seq("v"), countCol = "n")

    // hand-derived: L1⋈R1 = {(1,x,150),(2,x,200),(5,x,500)} — k=30's
    // fact lost its dim (30 deleted), k=20's fact now lands in x
    assert(rows(maintained.select("seg", "n", "v")) == Set(("x", 3L, 850L)))
    assert(rows(maintained.select("seg", "n", "v")) ==
      rows(full(l1, r1).select("seg", "n", "v")))
  }

  test("applyJoinDiff: one-sided deltas reduce to the classic identities") {
    val sess = spark
    import sess.implicits._
    val l0 = Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("id", "k", "v")
    val l1 = Seq((1L, 10L, 100L), (2L, 20L, 250L), (3L, 10L, 300L)).toDF("id", "k", "v")
    val r = Seq((10L, "x"), (20L, "y")).toDF("ck", "seg")
    def full(l: DataFrame, rr: DataFrame): DataFrame =
      l.join(rr, col("k") === col("ck"))
        .groupBy("seg").agg(count(lit(1)).as("n"), sum("v").as("v"))
    // right unchanged: empty right feed must be a no-op on that term
    val emptyR = Scd.snapshotDiff(r, r, Seq("ck"), Seq("seg"))
    val m = Ivm.applyJoinDiff(
      full(l0, r), Scd.snapshotDiff(l0, l1, Seq("id"), Seq("k", "v")), l1,
      emptyR, r, "k", "ck", Seq("seg"), Seq("v"), "n")
    assert(rows(m.select("seg", "n", "v")) == rows(full(l1, r).select("seg", "n", "v")))
  }

  test("applyJoinDiff refuses ambiguous column ownership") {
    val sess = spark
    import sess.implicits._
    val l = Seq((1L, 10L, 5L)).toDF("id", "k", "v")
    val r = Seq((10L, 7L)).toDF("ck", "v") // v on BOTH sides
    val feed = Scd.snapshotDiff(l, l, Seq("id"), Seq("k", "v"))
    val feedR = Scd.snapshotDiff(r, r, Seq("ck"), Seq("v"))
    intercept[IllegalArgumentException] {
      Ivm.applyJoinDiff(
        l.limit(0).select(col("k").as("seg"), col("v"), col("id").as("n")),
        feed, l, feedR, r, "k", "ck", Seq("seg"), Seq("v"), "n")
    }
  }
}
