package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Scd
import graft.sources.Publish
import graft.tools.Scratch

/** SCD Type-2 history + snapshot differencing (operators/Scd.scala):
  * hand-computed micro-cases pin the interval/classification
  * semantics, testdata invariants pin the q93/q94 wirings, and the
  * Publish round-trip proves the advertised "CDC between published
  * versions" composition actually composes. */
class ScdSpec extends SparkSpec {

  private def dt(s: String) = java.sql.Date.valueOf(s)

  test("scd2History: suppression, versioning, half-open intervals, null-safe attrs") {
    val sess = spark
    import sess.implicits._
    val changes = Seq(
      // key "a": low, low (no-op), mid, null, null (no-op), low
      ("a", "2024-01-01", Some("low")),
      ("a", "2024-01-02", Some("low")),
      ("a", "2024-01-03", Some("mid")),
      ("a", "2024-01-04", None),
      ("a", "2024-01-05", None),
      ("a", "2024-01-06", Some("low")),
      // key "b": a single observation
      ("b", "2024-01-02", Some("high")))
      .toDF("k", "d", "tier")
      .select(col("k"), col("d").cast("date").as("d"), col("tier"))

    val hist = Scd.scd2History(changes, Seq("k"), "d", Seq("tier"))
      .select("k", "version", "tier", "valid_from", "valid_to", "is_current")
      .collect().map(r => (r.getString(0), r.getInt(1),
        Option(r.getString(2)), r.getDate(3).toString,
        Option(r.getDate(4)).map(_.toString), r.getBoolean(5)))
      .sortBy(t => (t._1, t._2)).toSeq

    assert(hist == Seq(
      ("a", 1, Some("low"), "2024-01-01", Some("2024-01-03"), false),
      ("a", 2, Some("mid"), "2024-01-03", Some("2024-01-04"), false),
      ("a", 3, None, "2024-01-04", Some("2024-01-06"), false),
      ("a", 4, Some("low"), "2024-01-06", None, true),
      ("b", 1, Some("high"), "2024-01-02", None, true)))
  }

  test("scd2History: multi-attribute change detection — any attr flips a version") {
    val sess = spark
    import sess.implicits._
    val changes = Seq(
      ("a", "2024-01-01", "x", 1),
      ("a", "2024-01-02", "x", 2), // second attr changes
      ("a", "2024-01-03", "y", 2), // first attr changes
      ("a", "2024-01-04", "y", 2)) // nothing changes
      .toDF("k", "d", "s", "n")
      .select(col("k"), col("d").cast("date").as("d"), col("s"), col("n"))
    val hist = Scd.scd2History(changes, Seq("k"), "d", Seq("s", "n"))
    assert(hist.count() == 3)
    assert(hist.where(col("is_current")).select("s", "n")
      .collect().toSeq == Seq(Row("y", 2)))
  }

  test("snapshotDiff: insert/update/delete/unchanged classification, null-safe values") {
    val sess = spark
    import sess.implicits._
    val oldDf = Seq(
      (1L, Some(10.0), "keep"),   // unchanged
      (2L, Some(20.0), "old"),    // update (value)
      (3L, Some(30.0), "gone"),   // delete
      (5L, None: Option[Double], "n")) // update: null -> value
      .toDF("id", "v", "s")
    val newDf = Seq(
      (1L, Some(10.0), "keep"),
      (2L, Some(21.0), "old"),
      (4L, Some(40.0), "new"),    // insert
      (5L, Some(5.0), "n"))
      .toDF("id", "v", "s")

    val diff = Scd.snapshotDiff(oldDf, newDf, Seq("id"), Seq("v", "s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(diff == Seq((2L, "update"), (3L, "delete"), (4L, "insert"), (5L, "update")))

    val all = Scd.snapshotDiff(oldDf, newDf, Seq("id"), Seq("v", "s"),
      keepUnchanged = true)
    assert(all.count() == 5)
    assert(all.where(col("change_type") === "unchanged")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // update rows carry both sides
    val u2 = all.where(col("id") === 2).select("old_v", "new_v").head()
    assert(u2.getDouble(0) == 20.0 && u2.getDouble(1) == 21.0)
  }

  test("q93: intervals are contiguous, current-version unique, versions dense, no no-op versions") {
    val df = SparkEntry.q93Scd2History(spark, SfDir).cache()
    try {
      // exactly one open (current) interval per wallet
      val multiCurrent = df.groupBy("wallet")
        .agg(sum(when(col("is_current"), 1).otherwise(0)).as("n_open"))
        .where(col("n_open") =!= 1).count()
      assert(multiCurrent == 0)

      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("wallet").orderBy("version")
      val seq = df
        .withColumn("next_from", lead("valid_from", 1).over(w))
        .withColumn("next_version", lead("version", 1).over(w))
        .withColumn("prev_tier", lag("tier", 1).over(w))
      // half-open chain: valid_to IS the next version's valid_from
      assert(seq.where(col("next_from").isNotNull &&
        !(col("valid_to") <=> col("next_from"))).count() == 0)
      // dense version numbers
      assert(seq.where(col("next_version").isNotNull &&
        col("next_version") =!= col("version") + 1).count() == 0)
      // suppression worked: no two consecutive versions share a tier
      assert(seq.where(col("prev_tier").isNotNull &&
        col("prev_tier") === col("tier")).count() == 0)
    } finally { df.unpersist(): Unit }
  }

  test("q94: planted key ranges classify as expected") {
    val df = SparkEntry.q94SnapshotDiff(spark, SfDir).cache()
    try {
      // user_id % 50 == 3 appears only in the new snapshot
      assert(df.where(col("user_id") % 50 === 3 &&
        col("change_type") =!= "insert").count() == 0)
      // user_id % 50 == 7 appears only in the old snapshot
      assert(df.where(col("user_id") % 50 === 7 &&
        col("change_type") =!= "delete").count() == 0)
      assert(df.where(col("change_type") === "insert").count() > 0)
      assert(df.where(col("change_type") === "delete").count() > 0)
      assert(df.where(col("change_type") === "update").count() > 0)
      // inserts carry no old side; deletes no new side
      assert(df.where(col("change_type") === "insert" &&
        col("old_n_events").isNotNull).count() == 0)
      assert(df.where(col("change_type") === "delete" &&
        col("new_n_events").isNotNull).count() == 0)
    } finally { df.unpersist(): Unit }
  }

  test("snapshotDiff over Publish versions: time travel recovers the change feed") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_scd_pub")
    try {
      val v1Data = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "n")
      val v2Data = Seq((1L, 10L), (2L, 25L), (4L, 40L)).toDF("id", "n")
      val v1 = Publish.publish(v1Data, root)
      val v2 = Publish.publish(v2Data, root)
      assert(v1 == 1L && v2 == 2L)

      val feed = Scd.snapshotDiff(
        Publish.readVersion(spark, root, v1),
        Publish.readVersion(spark, root, v2),
        Seq("id"), Seq("n"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(feed == Seq((2L, "update"), (3L, "delete"), (4L, "insert")))

      // readVersion refuses a vacuumed/absent version loudly
      intercept[IllegalStateException] {
        Publish.readVersion(spark, root, 99L)
      }
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("changeFeedBetween: multi-step feed with lineage; DV versions surface as deletes") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_scd_feed")
    try {
      Publish.publish(Seq((1L, 10L), (2L, 20L)).toDF("id", "n"), root): Unit
      Publish.publish(Seq((1L, 10L), (2L, 25L), (3L, 30L)).toDF("id", "n"), root): Unit
      // v3 is a DELETION-VECTOR version: bytes carry, sidecar marks id=1
      graft.sources.Deletes.deleteFromPublished(spark, root, col("id") === 1L): Unit

      val feed = Scd.changeFeedBetween(spark, root, 1L, 3L, Seq("id"), Seq("n"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)).map(_.toString).orNull,
          Option(r.get(3)).map(_.toString).orNull,
          r.getLong(4), r.getLong(5)))
        .sortBy(t => (t._5, t._1)).toSeq
      assert(feed == Seq(
        (2L, "update", "20", "25", 1L, 2L),
        (3L, "insert", null, "30", 1L, 2L),
        (1L, "delete", "10", null, 2L, 3L)), s"feed=$feed")

      // a reaped version inside the range refuses loudly — the
      // retention horizon IS the feed's retention contract
      Publish.expireVersions(root, keepLast = 2): Unit
      intercept[IllegalStateException] {
        Scd.changeFeedBetween(spark, root, 1L, 3L, Seq("id"), Seq("n"))
      }
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("scd2Apply: incremental ≡ recompute — no-op boundary, late arrival, new key, verbatim carry") {
    val sess = spark
    import sess.implicits._
    def hist(rows: Seq[(String, String, String)]) =
      Scd.scd2History(
        rows.map { case (k, d, t) => (k, dt(d), t) }.toDF("key", "day", "tier"),
        Seq("key"), "day", Seq("tier"))
        .select("key", "tier", "version", "valid_from", "valid_to", "is_current")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet

    val base = Seq(
      ("a", "2024-01-01", "low"), ("a", "2024-01-05", "mid"),
      ("b", "2024-01-02", "high"),
      ("c", "2024-01-03", "low"))
    val batch = Seq(
      // "a": restates its CURRENT tier — must open NO new version
      ("a", "2024-01-09", "mid"),
      // "b": late arrival BEFORE its only version — splices in front,
      // renumbers, closes the old open interval's predecessor
      ("b", "2024-01-01", "low"),
      // "d": brand-new key
      ("d", "2024-01-08", "mid"))
    // "c" untouched: carried verbatim
    val applied = Scd.scd2Apply(
      hist(base),
      batch.map { case (k, d, t) => (k, dt(d), t) }.toDF("key", "day", "tier"),
      Seq("key"), "day", Seq("tier"))
    assert(canon(applied) == canon(hist(base ++ batch)),
      "incremental apply diverges from the full recompute")
    // the no-op boundary really suppressed: "a" still has 2 versions
    assert(applied.where(col("key") === "a").count() == 2)
    // the late arrival really spliced: "b" v1 = low (closed), v2 = high (open)
    val b = applied.where(col("key") === "b")
      .orderBy("version").collect()
    assert(b.map(r => (r.getInt(2), r.getString(1), r.getBoolean(5))).toSeq ==
      Seq((1, "low", false), (2, "high", true)))
  }

  test("scd2Apply ≡ scd2History at every split of a seeded change stream") {
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(7)
    val stream = for {
      k <- Seq("w1", "w2", "w3", "w4"); d <- 1 to 20
      if rnd.nextDouble() < 0.6
    } yield (k, dt(f"2024-01-$d%02d"), Seq("low", "mid", "high")(rnd.nextInt(3)))
    val df = stream.toDF("key", "day", "tier")
    val full = Scd.scd2History(df, Seq("key"), "day", Seq("tier"))
      .select("key", "tier", "version", "valid_from", "valid_to", "is_current")
      .collect().map(_.toSeq).toSet
    for (split <- Seq(1, 7, 14, 20)) {
      val cut = dt(f"2024-01-$split%02d")
      val dim = Scd.scd2History(df.where(col("day") <= cut),
        Seq("key"), "day", Seq("tier"))
        .select("key", "tier", "version", "valid_from", "valid_to", "is_current")
      val got = Scd.scd2Apply(dim, df.where(col("day") > cut),
          Seq("key"), "day", Seq("tier"))
        .collect().map(_.toSeq).toSet
      assert(got == full, s"apply at split $split diverges from recompute")
    }
  }
}
