package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.sources.{Publish, Wap}
import graft.sources.Wap.Expectation
import graft.tools.Scratch

/** Write-audit-publish (sources/Wap.scala): fail aborts before the
  * pointer flip, drop quarantines with triage lineage, warn records
  * without gating, counts ride the manifest, and a referential
  * expectation via dim pre-join. */
class WapSpec extends SparkSpec {

  test("fail severity: violations abort, live version untouched, no new dir") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wap_fail")
    try {
      val v1 = Publish.publish(
        Seq((1L, 10L)).toDF("id", "v"), root)
      val bad = Seq((2L, 20L), (3L, -1L)).toDF("id", "v")
      val e = intercept[Wap.AuditFailed] {
        Wap.publishWithExpectations(spark, root, bad,
          Seq(Expectation.fail("nonneg", col("v") >= 0)))
      }
      assert(e.counts("nonneg") == 1)
      assert(Publish.currentVersion(root).contains(v1), "pointer moved on red audit")
      assert(Publish.listVersions(Paths.get(root)) == Seq(v1),
        "an aborted audit left a version directory")
      // same data under a green audit publishes
      val (v2, counts) = Wap.publishWithExpectations(spark, root,
        bad.where(col("v") >= 0),
        Seq(Expectation.fail("nonneg", col("v") >= 0)))
      assert(counts("nonneg") == 0 && Publish.currentVersion(root).contains(v2))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("drop severity: violators quarantine with the expectations they failed") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wap_drop")
    try {
      val rows = Seq(
        (1L, 10L, "a"), (2L, -5L, "b"),          // fails nonneg
        (3L, 20L, null.asInstanceOf[String]),    // fails has_tag (null → violation)
        (4L, -9L, null.asInstanceOf[String]),    // fails both
        (5L, 30L, "c")).toDF("id", "v", "tag")
      val (_, counts) = Wap.publishWithExpectations(spark, root, rows, Seq(
        Expectation.drop("nonneg", col("v") >= 0),
        Expectation.drop("has_tag", col("tag").isNotNull),
        Expectation.warn("small", col("v") <= 15)))
      assert(counts == Map("nonneg" -> 2L, "has_tag" -> 2L, "small" -> 2L))
      assert(Publish.read(spark, root).select("id").as[Long].collect().toSet
        == Set(1L, 5L))
      val rej = Wap.rejects(spark, root)
        .select(col("id"), array_join(array_sort(col("__violated")), ",").as("w"))
        .as[(Long, String)].collect().toMap
      assert(rej == Map(2L -> "nonneg", 3L -> "has_tag", 4L -> "has_tag,nonneg"))
      // counts rode the manifest commit
      assert(Wap.violationCount(root, "small").contains(2L))
      assert(Wap.violationCount(root, "nonneg").contains(2L))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("warn severity gates nothing; all-green publishes with zero counts") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wap_warn")
    try {
      val rows = Seq((1L, 100L), (2L, 200L)).toDF("id", "v")
      val (_, counts) = Wap.publishWithExpectations(spark, root, rows, Seq(
        Expectation.warn("cap", col("v") <= 150),
        Expectation.fail("nonneg", col("v") >= 0)))
      assert(counts == Map("cap" -> 1L, "nonneg" -> 0L))
      assert(Publish.read(spark, root).count() == 2, "warn must not drop rows")
      assert(Wap.rejects(spark, root).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("append form: an all-rejected FIRST batch still publishes an empty v1") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wap_allrej")
    try {
      // no live version yet, and every row drop-quarantines — drop
      // severity promises a clean publish, which here is an empty v1
      // with the data schema (not a dead stream on a schema-less dir)
      val (v, counts) = Wap.appendWithExpectations(spark, root,
        Seq((1L, -5L), (2L, 0L)).toDF("id", "v"),
        Seq(Expectation.drop("positive_v", col("v") > 0)))
      assert(v == 1L && counts("positive_v") == 2L)
      val live = Publish.read(spark, root)
      assert(live.count() == 0)
      assert(live.columns.toSeq == Seq("id", "v"))
      assert(Wap.rejects(spark, root).select("id").as[Long]
        .collect().toSet == Set(1L, 2L))
      // and the next batch appends onto the empty v1 normally
      val (v2, _) = Wap.appendWithExpectations(spark, root,
        Seq((3L, 7L)).toDF("id", "v"),
        Seq(Expectation.drop("positive_v", col("v") > 0)))
      assert(v2 == 2L)
      assert(Publish.read(spark, root).select("id").as[Long]
        .collect().toSet == Set(3L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("referential expectation: fact keys ⊆ published dim via pre-join") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_wap_ref")
    val dimRoot = Scratch.tempDir("graft_wap_dim")
    try {
      Publish.publish(Seq((10L, "x"), (20L, "y")).toDF("ck", "seg"), dimRoot): Unit
      val facts = Seq((1L, 10L), (2L, 20L), (3L, 99L)).toDF("id", "ck")
      // enrich with the dim membership marker, expect on the marker
      val dim = Publish.read(spark, dimRoot)
        .select(col("ck"), lit(true).as("__in_dim"))
      val enriched = facts.join(broadcast(dim), Seq("ck"), "left_outer")
      val (_, counts) = Wap.publishWithExpectations(spark, root,
        enriched.select(col("id"), col("ck"), col("__in_dim")), Seq(
          Expectation.drop("ref_customer", col("__in_dim"))))
      assert(counts("ref_customer") == 1)
      assert(Publish.read(spark, root).select("id").as[Long].collect().toSet
        == Set(1L, 2L))
      assert(Wap.rejects(spark, root).select("id").as[Long].collect().toSeq
        == Seq(3L))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
      graft.sources.Sinks.deleteRecursively(Paths.get(dimRoot))
    }
  }
}
