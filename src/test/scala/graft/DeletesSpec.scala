package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{Compact, Deletes, Publish}
import graft.tools.Scratch

/** Deletion vectors (sources/Deletes.scala): delete-without-rewrite
  * semantics, data-file byte identity, idempotence, the versioned
  * carry through Publish, and materialization folding the vector
  * back into rewritten files. */
class DeletesSpec extends SparkSpec {

  private def sha(p: java.nio.file.Path): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
    java.util.Base64.getEncoder.encodeToString(d.digest(Files.readAllBytes(p)))
  }

  test("delete: exact row removal, untouched data files, idempotent re-issue") {
    val sess = spark
    import sess.implicits._
    val data = (1L to 9000L).map(i => (i, s"g${i % 5}", i * 7L)).toDF("id", "g", "v")
    val root = Scratch.tempDir("graft_deletes_spec")
    val dir = root + "/t"
    try {
      data.repartition(8).write.parquet(dir)
      val before = Compact.listDataFiles(dir)
        .map { case (n, _) => n -> sha(Paths.get(dir).resolve(n)) }.toMap

      val marked = Deletes.delete(spark, dir, col("id") % 13 === 0)
      val expectedGone = data.where(col("id") % 13 === 0)
      assert(marked == expectedGone.count())

      // data files: SAME bytes, SAME names — only the sidecar appeared
      val after = Compact.listDataFiles(dir)
        .map { case (n, _) => n -> sha(Paths.get(dir).resolve(n)) }.toMap
      assert(after == before, "a data file changed under a DV delete")
      assert(Files.exists(Paths.get(Deletes.deletesPath(dir))))

      val expect = data.where(col("id") % 13 =!= 0)
      val got = Deletes.read(spark, dir)
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0,
        "DV read differs from the filtered table")

      // re-issuing the same delete is a set-semantics no-op
      assert(Deletes.delete(spark, dir, col("id") % 13 === 0) == marked)
      // a second predicate merges
      val total = Deletes.delete(spark, dir, col("g") === "g3")
      val expect2 = data.where(col("id") % 13 =!= 0 && col("g") =!= "g3")
      val got2 = Deletes.read(spark, dir)
      assert(total > marked)
      assert(got2.exceptAll(expect2).count() == 0 && expect2.exceptAll(got2).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("read prunes: only sidecar-listed files pay the anti-join") {
    val sess = spark
    import sess.implicits._
    // two files split on a known key boundary so one delete touches one file
    val lo = (1L to 1000L).map(i => (i, "lo")).toDF("id", "part")
    val hi = (1001L to 2000L).map(i => (i, "hi")).toDF("id", "part")
    val root = Scratch.tempDir("graft_deletes_prune")
    val dir = root + "/t"
    try {
      Files.createDirectories(Paths.get(dir))
      lo.coalesce(1).write.mode("append").parquet(dir)
      hi.coalesce(1).write.mode("append").parquet(dir)
      assert(Compact.listDataFiles(dir).size == 2)
      Deletes.delete(spark, dir, col("id") <= 10): Unit
      val touched = spark.read.parquet(Deletes.deletesPath(dir))
        .select("file").distinct().collect().map(_.getString(0))
      assert(touched.length == 1, s"delete should touch ONE file, got ${touched.length}")
      // the clean file streams through without metadata/join plumbing:
      // its rows survive even if we corrupt the sidecar's view of it —
      // structural check: plan of read() contains exactly one scan of
      // the touched file under a join; assert row math instead (2000
      // rows − 10 deleted) plus the file-level invariant above
      assert(Deletes.read(spark, dir).count() == 1990)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("published deletes: atomic versions carry files by identity; time travel keeps old state") {
    val sess = spark
    import sess.implicits._
    val data = (1L to 6000L).map(i => (i, i % 17, s"s$i")).toDF("id", "k", "s")
    val root = Scratch.tempDir("graft_deletes_pub")
    try {
      val v1 = Publish.publish(data.repartition(6), root)
      val v1Dir = Paths.get(root).resolve(s"v=$v1")
      val v1Hashes = Compact.listDataFiles(v1Dir.toString)
        .map { case (n, _) => n -> sha(v1Dir.resolve(n)) }.toMap

      val v2 = Deletes.deleteFromPublished(spark, root, col("k") === 4)
      assert(Publish.currentVersion(root).contains(v2))
      val v2Dir = Paths.get(root).resolve(s"v=$v2")
      // every data file carried byte-identically into the new version
      Compact.listDataFiles(v2Dir.toString).foreach { case (n, _) =>
        assert(v1Hashes.get(n).contains(sha(v2Dir.resolve(n))),
          s"data file $n not carried byte-identically")
      }
      val expect = data.where(col("k") =!= 4)
      val got = Deletes.readPublished(spark, root)
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)

      // old version: still readable, still UNdeleted (its dir has no sidecar)
      val old = Deletes.read(spark, v1Dir.toString)
      assert(old.count() == data.count(), "v1's delete state leaked backward")

      // a second published delete stacks on the carried sidecar
      val v3 = Deletes.deleteFromPublished(spark, root, col("k") === 9)
      assert(v3 > v2)
      val expect3 = data.where(col("k") =!= 4 && col("k") =!= 9)
      val got3 = Deletes.readPublished(spark, root)
      assert(got3.exceptAll(expect3).count() == 0 && expect3.exceptAll(got3).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("materialize: folds the vector into rewritten touched files, carries the rest") {
    val sess = spark
    import sess.implicits._
    // planted layout: file boundaries on id ranges so the delete
    // touches exactly 2 of 4 files
    val root = Scratch.tempDir("graft_deletes_mat")
    try {
      val parts = Seq(
        (1L to 1000L), (1001L to 2000L), (2001L to 3000L), (3001L to 4000L))
      val v1 = Publish.publishStaged(spark, root) { staging =>
        Files.createDirectories(Paths.get(staging)): Unit
        parts.foreach { r =>
          r.map(i => (i, i % 3)).toDF("id", "k")
            .coalesce(1).write.mode("append").parquet(staging)
        }
      }
      val v1Dir = Paths.get(root).resolve(s"v=$v1")
      assert(Compact.listDataFiles(v1Dir.toString).size == 4)
      Deletes.deleteFromPublished(spark, root, col("id").between(1500, 2500)): Unit

      val (v3, carried, rewritten) = Deletes.materialize(spark, root)
      assert(carried == 2 && rewritten == 2,
        s"expected 2 carried + 2 rewritten, got $carried/$rewritten")
      val v3Dir = Paths.get(root).resolve(s"v=$v3")
      // no sidecar in the materialized version; plain reads are now correct
      assert(!Files.exists(Paths.get(Deletes.deletesPath(v3Dir.toString))))
      val expect = (1L to 4000L).filterNot(i => i >= 1500 && i <= 2500)
        .map(i => (i, i % 3)).toDF("id", "k")
      val got = Publish.read(spark, root)
      assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
      // untouched files carried byte-identically
      val v1Hashes = Compact.listDataFiles(v1Dir.toString)
        .map { case (n, _) => n -> sha(v1Dir.resolve(n)) }.toMap
      val carriedSame = Compact.listDataFiles(v3Dir.toString)
        .count { case (n, _) => v1Hashes.get(n).contains(sha(v3Dir.resolve(n))) }
      assert(carriedSame == 2, s"expected 2 byte-identical carried files, got $carriedSame")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }
}
