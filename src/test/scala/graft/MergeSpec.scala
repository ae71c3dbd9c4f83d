package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{Compact, Deletes, FileStats, Merge, Publish}
import graft.tools.Scratch

/** MERGE INTO (sources/Merge.scala): update/delete/insert semantics
  * against hand-derived expectations, copy-on-write file accounting
  * (untouched files byte-identical), bloom-manifest pruning of the
  * overlap scan, the ambiguous-source refusal, and composition with
  * deletion vectors. */
class MergeSpec extends SparkSpec {

  private def sha(p: java.nio.file.Path): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    java.util.Base64.getEncoder.encodeToString(d.digest(Files.readAllBytes(p)))
  }

  test("merge: update + delete + insert, untouched files carried byte-identically") {
    val sess = spark
    import sess.implicits._
    // four files on known id ranges: source keys hit files 2 and 3 only
    val root = Scratch.tempDir("graft_merge_spec")
    val parts = Seq((1L to 1000L), (1001L to 2000L), (2001L to 3000L), (3001L to 4000L))
    val v1 = Publish.publishStaged(spark, root) { staging =>
      Files.createDirectories(Paths.get(staging)): Unit
      parts.foreach { r =>
        r.map(i => (i, i % 5, s"p$i")).toDF("id", "grp", "payload")
          .coalesce(1).write.mode("append").parquet(staging)
      }
    }
    try {
      val v1Dir = Paths.get(root).resolve(s"v=$v1")
      val v1Hashes = Compact.listDataFiles(v1Dir.toString)
        .map { case (n, _) => n -> sha(v1Dir.resolve(n)) }.toMap

      // source: updates for ids 1500..1600 (payload rewrite), a delete
      // trigger for ids 2100..2150 (grp marker), inserts 9001..9100
      val source = (
        (1500L to 1600L).map(i => (i, 99L, s"upd$i")) ++
        (2100L to 2150L).map(i => (i, -1L, "doom")) ++
        (9001L to 9100L).map(i => (i, 7L, s"new$i"))
      ).toDF("id", "grp", "payload")

      val stats = Merge.mergeIntoPublished(spark, root, source,
        keys = Seq("id"),
        set = Map("payload" -> Merge.s("payload"), "grp" -> Merge.s("grp")),
        deleteWhen = Some(Merge.s("grp") === -1L))
      assert(stats.updated == 101 && stats.deleted == 51 && stats.inserted == 100,
        s"row accounting wrong: $stats")
      assert(stats.rewrittenFiles == 2 && stats.carriedFiles == 2,
        s"file accounting wrong: $stats")

      val v2Dir = Paths.get(root).resolve(s"v=${stats.version}")
      val carriedSame = Compact.listDataFiles(v2Dir.toString)
        .count { case (n, _) => v1Hashes.get(n).contains(sha(v2Dir.resolve(n))) }
      assert(carriedSame == 2, s"expected 2 byte-identical carried files, got $carriedSame")

      val expect = (
        (1L to 4000L).filterNot(i => i >= 2100 && i <= 2150).map { i =>
          if (i >= 1500 && i <= 1600) (i, 99L, s"upd$i") else (i, i % 5, s"p$i")
        } ++ (9001L to 9100L).map(i => (i, 7L, s"new$i"))
      ).toDF("id", "grp", "payload")
      val got = Publish.read(spark, root)
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
        "merged table differs from hand-derived expectation")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("bloom manifest prunes the overlap scan to the hit files") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_merge_bloom")
    val parts = (0 until 8).map(b => ((b * 1000L + 1) to (b * 1000L + 1000)))
    val v1 = Publish.publishStaged(spark, root) { staging =>
      Files.createDirectories(Paths.get(staging)): Unit
      parts.foreach { r =>
        r.map(i => (i, i * 2)).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(staging)
      }
    }
    try {
      val v1Dir = Paths.get(root).resolve(s"v=$v1").toString
      FileStats.build(spark, v1Dir, cols = Seq("id"), keyCols = Seq("id"))
      // 3 keys in one file: candidates must be far below 8
      val source = Seq((4100L, -1L), (4200L, -2L), (4300L, -3L)).toDF("id", "v")
      val stats = Merge.mergeIntoPublished(spark, root, source,
        keys = Seq("id"), set = Map("v" -> Merge.s("v")))
      assert(stats.candidateFiles <= 2,
        s"bloom pruning ineffective: ${stats.candidateFiles} of 8 candidates")
      assert(stats.rewrittenFiles == 1 && stats.updated == 3 && stats.inserted == 0)
      val got = Publish.read(spark, root)
        .where(col("id").isin(4100L, 4200L, 4300L))
        .orderBy("id").select("v").as[Long].collect().toSeq
      assert(got == Seq(-1L, -2L, -3L))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("ambiguous source (duplicate keys) is refused") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_merge_dup")
    try {
      Publish.publish((1L to 100L).map(i => (i, i)).toDF("id", "v"), root): Unit
      val dupSource = Seq((5L, 1L), (5L, 2L)).toDF("id", "v")
      val e = intercept[IllegalArgumentException] {
        Merge.mergeIntoPublished(spark, root, dupSource,
          keys = Seq("id"), set = Map("v" -> Merge.s("v")))
      }
      assert(e.getMessage.contains("duplicate keys"))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("schema evolution: new source columns widen the table; carried files stay old-width bytes") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_merge_evo")
    // two files on known id ranges: source hits file 2 only
    val v1 = Publish.publishStaged(spark, root) { staging =>
      Files.createDirectories(Paths.get(staging)): Unit
      Seq(1L to 1000L, 1001L to 2000L).foreach { r =>
        r.map(i => (i, i * 2)).toDF("id", "v")
          .coalesce(1).write.mode("append").parquet(staging)
      }
    }
    try {
      val v1Dir = Paths.get(root).resolve(s"v=$v1")
      val v1Hashes = Compact.listDataFiles(v1Dir.toString)
        .map { case (n, _) => n -> sha(v1Dir.resolve(n)) }.toMap

      // updates 1500..1510 carry a NEW column; insert 9001 carries it too
      val source = ((1500L to 1510L).map(i => (i, -i, s"tag$i")) :+
        ((9001L, 1L, "tag9001"))).toDF("id", "v", "tag")
      val stats = Merge.mergeIntoPublished(spark, root, source,
        keys = Seq("id"),
        set = Map("v" -> Merge.s("v"), "tag" -> Merge.s("tag")),
        evolveSchema = true)
      assert(stats.updated == 11 && stats.inserted == 1, s"accounting: $stats")
      assert(stats.rewrittenFiles == 1 && stats.carriedFiles == 1, s"files: $stats")

      // the carried file is the SAME BYTES — old width, untouched
      val v2Dir = Paths.get(root).resolve(s"v=${stats.version}")
      val carriedSame = Compact.listDataFiles(v2Dir.toString)
        .count { case (n, _) => v1Hashes.get(n).contains(sha(v2Dir.resolve(n))) }
      assert(carriedSame == 1, "expected the untouched file carried byte-identically")

      // the manifest records the WIDENED schema (mergeSchema validation)
      val manifest = Publish.currentManifest(root).get
      assert(manifest.contains("tag"), "manifest schema lacks the new column")

      // conformed read: matched/inserted rows carry tag, the rest NULL —
      // including every row of the carried old-width file
      val got = Publish.readConformed(spark, root)
      assert(got.columns.toSeq == Seq("id", "v", "tag"))
      val tagged = got.where(col("tag").isNotNull)
        .select("id").as[Long].collect().toSet
      assert(tagged == ((1500L to 1510L).toSet + 9001L), s"tagged=$tagged")
      assert(got.where(col("tag").isNull).count() == 2000 - 11)
      val updated = got.where(col("id") === 1500L)
        .select("v", "tag").as[(Long, String)].collect().toSeq
      assert(updated == Seq((-1500L, "tag1500")))

      // without the flag, extra source columns are ignored (strict MERGE)
      val stats2 = Merge.mergeIntoPublished(spark, root,
        Seq((1L, 0L, "x")).toDF("id", "v", "tag"),
        keys = Seq("id"), set = Map("v" -> Merge.s("v")))
      assert(Publish.readConformed(spark, root).columns.length == 3,
        s"strict merge changed the width: $stats2")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("deletion vectors compose: DV-deleted rows are not matches and do not resurrect") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_merge_dv")
    try {
      Publish.publish(
        (1L to 2000L).map(i => (i, i % 3, s"p$i")).toDF("id", "grp", "payload")
          .repartition(4), root): Unit
      // DV-delete ids 100..200, then merge a source that references
      // id 150 (deleted → must INSERT, not update) and id 300 (live →
      // update); the deleted range must stay gone
      Deletes.deleteFromPublished(spark, root, col("id").between(100, 200)): Unit
      val source = Seq(
        (150L, 9L, "resurrect?"), (300L, 8L, "updated")).toDF("id", "grp", "payload")
      val stats = Merge.mergeIntoPublished(spark, root, source,
        keys = Seq("id"), set = Map("grp" -> Merge.s("grp"), "payload" -> Merge.s("payload")))
      assert(stats.updated == 1 && stats.inserted == 1, s"DV match semantics wrong: $stats")

      val got = Deletes.readPublished(spark, root)
      val expect = (
        (1L to 2000L).filterNot(i => i >= 100 && i <= 200).map { i =>
          if (i == 300) (i, 8L, "updated") else (i, i % 3, s"p$i")
        } :+ ((150L, 9L, "resurrect?"))
      ).toDF("id", "grp", "payload")
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
        "DV + merge composition differs from expectation")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }
}
