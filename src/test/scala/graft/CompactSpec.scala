package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{Compact, Publish}
import graft.tools.Scratch

/** Small-file compaction (sources/Compact.scala): hand-computed bin
  * plans, row identity through the rewrite, and the full maintenance
  * loop (fragmented publish → compact → vacuum) over Publish's
  * versioned layout. */
class CompactSpec extends SparkSpec {

  test("planBins: first-fit in order, oversized files ride alone") {
    val files = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 9L), ("e", 2L))
    assert(Compact.planBins(files, targetBytes = 10L) ==
      Seq(("a", 0), ("b", 0), ("c", 1), ("d", 2), ("e", 3)))
    // a file larger than the target still gets (its own) bin
    assert(Compact.planBins(Seq(("big", 100L), ("s", 1L)), 10L) ==
      Seq(("big", 0), ("s", 1)))
    // everything fits one bin when the budget allows
    assert(Compact.planBins(files, targetBytes = 100L).map(_._2).distinct == Seq(0))
  }

  test("compacted: row identity and real file-count reduction") {
    val data = spark.range(10000L).select(
      col("id"), (col("id") % 97).as("k"),
      concat(lit("v"), col("id")).as("s"))
    val root = Scratch.tempDir("graft_compact_spec")
    val fragDir = root + "/frag"
    val outDir = root + "/out"
    try {
      data.repartition(48).write.parquet(fragDir)
      assert(Compact.listDataFiles(fragDir).size == 48)
      val totalBytes = Compact.listDataFiles(fragDir).map(_._2).sum
      // target a quarter of the table: expect ~4 bins, never 48
      Compact.compacted(spark, fragDir, totalBytes / 4).write.parquet(outDir)
      val outFiles = Compact.listDataFiles(outDir)
      assert(outFiles.size < 48 / 4,
        s"compaction barely reduced files: ${outFiles.size}")
      val got = spark.read.parquet(outDir)
      assert(got.exceptAll(data).count() == 0 && data.exceptAll(got).count() == 0,
        "compaction changed rows")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("maintenance loop: fragmented publish → compact → vacuum") {
    val sess = spark
    import sess.implicits._
    val data = (1L to 5000L).map(i => (i, s"g${i % 7}", i * 3L)).toDF("id", "g", "v")
    val root = Scratch.tempDir("graft_compact_pub")
    try {
      val v1 = Publish.publish(data.repartition(32), root)
      val v1Files = Compact.listDataFiles(
        Paths.get(root).resolve(s"v=$v1").toString).size
      assert(v1Files >= 16, s"fragmented publish not fragmented: $v1Files")

      val v2 = Compact.compactPublished(spark, root, targetBytes = 1L << 30)
      assert(Publish.currentVersion(root).contains(v2))
      // provenance rides the manifest's atomic commit
      assert(Publish.currentMetaValue(root, "compacted_from").contains(v1.toString))
      val v2Files = Compact.listDataFiles(
        Paths.get(root).resolve(s"v=$v2").toString).size
      assert(v2Files == 1, s"one-bin compaction wrote $v2Files files")
      val live = Publish.read(spark, root)
      assert(live.exceptAll(data).count() == 0 && data.exceptAll(live).count() == 0,
        "compacted version diverges from the published rows")

      // the fragmented version stays readable until vacuum reaps it
      assert(Publish.readVersion(spark, root, v1).count() == 5000L)
      assert(Publish.vacuum(root, keep = 0) == Seq(v1))
      assert(!Files.exists(Paths.get(root).resolve(s"v=$v1")))
      assert(Publish.read(spark, root).count() == 5000L)
      intercept[IllegalStateException] {
        Publish.readVersion(spark, root, v1)
      }
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("incremental compaction: carries big files byte-identically, rewrites only fragments") {
    val sess = spark
    import sess.implicits._
    def sha(p: java.nio.file.Path): String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      java.util.Base64.getEncoder.encodeToString(d.digest(java.nio.file.Files.readAllBytes(p)))
    }
    val big = (1L to 20000L).map(i => (i, s"g${i % 7}", i * 3L)).toDF("id", "g", "v")
    val small = (20001L to 21000L).map(i => (i, s"g${i % 7}", i * 3L)).toDF("id", "g", "v")
    val root = Scratch.tempDir("graft_icompact_spec")
    try {
      val v1 = Publish.publishStaged(spark, root) { staging =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging)): Unit
        big.repartition(2).write.mode("append").parquet(staging)
        small.repartition(24).write.mode("append").parquet(staging)
      }
      val v1Dir = Paths.get(root).resolve(s"v=$v1")
      val v1Files = Compact.listDataFiles(v1Dir.toString)
      // threshold between the planted sizes: big ≥ min, fragments below
      val bigFiles = v1Files.filter(_._2 >= 10000L)
      assert(bigFiles.size == 2 && v1Files.size >= 20,
        s"planted layout wrong: ${v1Files.size} files, ${bigFiles.size} big")
      val bigHashes = bigFiles.map { case (n, _) => n -> sha(v1Dir.resolve(n)) }.toMap

      val (v2, carried, rewritten) = Compact.compactPublishedIncremental(
        spark, root, targetBytes = 1L << 20, minBytes = 10000L)
      val v2Dir = Paths.get(root).resolve(s"v=$v2")
      assert(carried == 2 && rewritten == v1Files.size - 2)
      assert(Publish.currentMetaValue(root, "carried").contains("2"))

      // the carried files are THE SAME BYTES under the same names —
      // maintenance touched only the fragments
      bigHashes.foreach { case (name, h) =>
        assert(sha(v2Dir.resolve(name)) == h, s"carried file $name rewritten")
      }
      // ...because they are the same files: the carry hard-links
      val linked = bigFiles.head._1
      assert(Files.isSameFile(v1Dir.resolve(linked), v2Dir.resolve(linked)),
        s"carried file $linked is a copy, not a link")
      // fragments collapsed: total files = 2 carried + ~1 bin
      val v2Files = Compact.listDataFiles(v2Dir.toString)
      assert(v2Files.size < v1Files.size / 2,
        s"fragments not collapsed: ${v2Files.size} of ${v1Files.size}")

      // and not one row changed
      val live = Publish.read(spark, root)
      val want = big.unionByName(small)
      assert(live.exceptAll(want).count() == 0 && want.exceptAll(live).count() == 0,
        "incremental compaction changed rows")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("q105: the incrementally compacted live table matches the source aggregate") {
    val got = SparkEntry.q105IncrementalCompact(spark, SfDir)
    val want = Tables.events(spark, SfDir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        round(min("value"), 6).as("min_value"),
        round(max("value"), 6).as("max_value"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "incremental compaction roundtrip diverges from the source table")
  }

  test("q104: the live compacted table matches the source aggregate") {
    val got = SparkEntry.q104CompactRoundtrip(spark, SfDir)
    val want = Tables.events(spark, SfDir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "compaction roundtrip diverges from the source table")
  }

  test("deletion vectors compose: compaction folds fragments' deletes and carries kept files' slices") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_compact_dv")
    try {
      // one BIG file (carried) + four tiny fragments (rewritten)
      Publish.publishStaged(spark, root) { staging =>
        Files.createDirectories(Paths.get(staging)): Unit
        (1L to 100000L).map(i => (i, i)).toDF("id", "n")
          .coalesce(1).write.mode("append").parquet(staging)
        (0 until 4).foreach { b =>
          ((200001L + b * 10) to (200010L + b * 10)).map(i => (i, i)).toDF("id", "n")
            .coalesce(1).write.mode("append").parquet(staging)
        }
      }: Unit
      // DV-delete rows in BOTH populations: some in the big carried
      // file, some in a fragment
      graft.sources.Deletes.deleteFromPublished(spark, root,
        col("id").isin(5L, 6L, 200005L)): Unit

      val (_, carried, rewritten) = Compact.compactPublishedIncremental(
        spark, root, targetBytes = 1L << 18)
      assert(carried == 1 && rewritten == 4, s"carried=$carried rewritten=$rewritten")

      // the DV-applied read over the compacted version drops ALL
      // deleted rows: folded ones (fragments) and sidecar ones (carried)
      val served = graft.sources.Deletes.readPublished(spark, root)
        .select("id").as[Long].collect().toSet
      val expect = ((1L to 100000L) ++ (200001L to 200040L)).toSet -- Set(5L, 6L, 200005L)
      assert(served == expect,
        s"missing=${expect -- served} resurrected=${served -- expect}")
      // and the rewritten files carry no sidecar debt: the only
      // sidecar rows left reference the carried file
      val liveDir = Paths.get(root)
        .resolve(s"v=${Publish.currentVersion(root).get}").toString
      val sidecarFiles = spark.read
        .parquet(graft.sources.Deletes.deletesPath(liveDir))
        .select("file").distinct().collect().map(_.getString(0)).toSet
      assert(sidecarFiles.size == 1, s"sidecar spans $sidecarFiles")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
