package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{Compact, Deletes, Merge, Publish, Txn}
import graft.tools.Scratch

/** Maintenance AFTER schema evolution — the r8 advisor's high finding:
  * once a Merge(evolveSchema=true) leaves a version mixing file
  * widths, every derived-version transform (incremental compaction,
  * full compaction, Txn.append, DV deletes, DV materialization, the
  * streaming append sink) must resolve the MANIFEST schema before
  * reading fragments and record the union width in its own manifest —
  * or a footer-sampled read silently drops evolved-column data and
  * the new manifest demotes the width authority readConformed and
  * Merge.targetSchema rely on. Each case here plants the mixed-width
  * layout and proves the evolved column's DATA and the manifest's
  * WIDTH both survive the transform. */
class EvolutionMaintenanceSpec extends SparkSpec {

  /** A two-file (id, v) table evolved by a merge that adds `tag` to
    * ids 1500..1510 and inserts 9001 — leaving the untouched narrow
    * file carried next to widened rewrites. Returns the root. */
  private def evolvedTable(): String = {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_evo_maint")
    Publish.publishStaged(spark, root) { staging =>
      Files.createDirectories(Paths.get(staging)): Unit
      Seq(1L to 1000L, 1001L to 2000L).foreach { r =>
        r.map(i => (i, i * 2)).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(staging)
      }
    }: Unit
    val source = ((1500L to 1510L).map(i => (i, -i, s"tag$i")) :+
      ((9001L, 1L, "tag9001"))).toDF("id", "v", "tag")
    Merge.mergeIntoPublished(spark, root, source,
      keys = Seq("id"),
      set = Map("v" -> Merge.s("v"), "tag" -> Merge.s("tag")),
      evolveSchema = true): Unit
    root
  }

  private def taggedIds(root: String): Set[Long] = {
    val sess = spark
    import sess.implicits._
    Publish.readConformed(spark, root).where(col("tag").isNotNull)
      .select("id").as[Long].collect().toSet
  }

  private val ExpectTagged: Set[Long] = (1500L to 1510L).toSet + 9001L

  private def assertWideManifest(root: String, where: String): Unit = {
    val ddl = Publish.liveManifestSchema(root).get.toDDL
    assert(ddl.contains("tag"), s"$where: manifest lost the evolved column ($ddl)")
  }

  test("incremental compaction preserves evolved-column data and manifest width") {
    val root = evolvedTable()
    try {
      // huge target → every file is a fragment → everything rewrites,
      // the path that sampled a narrow footer before the fix
      val (_, carried, rewritten) =
        Compact.compactPublishedIncremental(spark, root, targetBytes = 1L << 30)
      assert(carried == 0 && rewritten >= 2, s"carried=$carried rewritten=$rewritten")
      assertWideManifest(root, "incremental compact")
      assert(taggedIds(root) == ExpectTagged, "compaction dropped evolved-column data")
      assert(Publish.readConformed(spark, root).count() == 2001)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("incremental compaction with carried narrow files keeps the union manifest") {
    val root = evolvedTable()
    try {
      // tiny threshold → every file carries; the manifest must STILL
      // record the union width (mergeSchema), not a sampled footer's
      val (_, carried, rewritten) =
        Compact.compactPublishedIncremental(spark, root,
          targetBytes = 1L << 30, minBytes = 1L)
      assert(rewritten == 0 && carried >= 3, s"carried=$carried rewritten=$rewritten")
      assertWideManifest(root, "carry-only compact")
      assert(taggedIds(root) == ExpectTagged)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("full compactPublished conforms every fragment to the manifest schema") {
    val root = evolvedTable()
    try {
      Compact.compactPublished(spark, root, targetBytes = 1L << 20): Unit
      assertWideManifest(root, "full compact")
      assert(taggedIds(root) == ExpectTagged, "full rewrite dropped evolved-column data")
      assert(Publish.readConformed(spark, root).count() == 2001)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("Txn.append of narrow rows keeps the wide manifest and the evolved data") {
    val sess = spark
    import sess.implicits._
    val root = evolvedTable()
    try {
      Txn.append(spark, root,
        (20001L to 20010L).map(i => (i, i)).toDF("id", "v")): Unit
      assertWideManifest(root, "append")
      assert(taggedIds(root) == ExpectTagged, "append demoted the evolved column")
      val got = Publish.readConformed(spark, root)
      assert(got.count() == 2011)
      assert(got.where(col("id") >= 20001L && col("tag").isNotNull).count() == 0)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("DV delete on an EVOLVED-column predicate resolves and keeps the width") {
    val root = evolvedTable()
    try {
      // the predicate names the evolved column: pre-fix the doomed-row
      // scan could sample the narrow footer and fail to resolve `tag`
      Deletes.deleteFromPublished(spark, root, col("tag") === "tag1505"): Unit
      assertWideManifest(root, "DV delete")
      assert(taggedIds(root) == ExpectTagged,
        "DV table read must still be manifest-conformed (sidecar applies separately)")
      val live = Deletes.readPublished(spark, root)
      assert(live.count() == 2000)
      assert(live.where(col("id") === 1505L).count() == 0)
      assert(live.columns.contains("tag"), "DV read lost the evolved column")

      // materialization folds the vector; evolved data must survive
      // the touched-file rewrite
      val (_, _, rewritten) = Deletes.materialize(spark, root)
      assert(rewritten >= 1)
      assertWideManifest(root, "materialize")
      val after = Publish.readConformed(spark, root)
      assert(after.count() == 2000)
      assert(after.where(col("tag") === "tag1506").count() == 1,
        "materialization dropped evolved-column data")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("streaming append batch next to evolved carries records the union width") {
    val sess = spark
    import sess.implicits._
    val root = evolvedTable()
    try {
      val ok = graft.streaming.AppendStream.applyBatch(
        (30001L to 30005L).map(i => (i, i)).toDF("id", "v"),
        batchId = 0L, root = root)
      assert(ok)
      assertWideManifest(root, "stream append")
      assert(taggedIds(root) == ExpectTagged)
      assert(Publish.readConformed(spark, root).count() == 2006)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
