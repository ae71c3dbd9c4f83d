package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{LocalCommitStore, Publish, Txn}
import graft.tools.Scratch

/** The CommitStore seam's object-store claims, exercised as CODE: a
  * RENAME-LESS backend (promotion = non-atomic copy+delete, the
  * window an object store without atomic rename actually has; the
  * pointer flip stays atomic — it models the conditional PUT, which
  * IS atomic server-side) must leave every protocol guarantee
  * intact, because the pointer flip is the only observable step.
  * Plus the crash case the doc argues away: a writer dying MIDWAY
  * through promotion leaves a partial version directory that no
  * reader ever sees and the next writers route around. */
class CommitStoreSpec extends SparkSpec {

  /** Promotion without rename: copy file-by-file, then delete the
    * source. `failAfter` kills the copy after N files — the
    * mid-promotion crash injection. */
  private class RenamelessStore(failAfterFiles: Int = Int.MaxValue)
      extends graft.sources.CommitStore {
    private val d = LocalCommitStore
    var copied = 0
    def tryCreate(p: Path) = d.tryCreate(p)
    def ageMs(p: Path) = d.ageMs(p)
    def touch(p: Path) = d.touch(p)
    def deleteIfExists(p: Path) = d.deleteIfExists(p)
    def putAtomic(p: Path, v: String) = d.putAtomic(p, v)
    def get(p: Path) = d.get(p)
    def moveExclusive(src: Path, dst: Path): Unit =
      if (Files.isDirectory(src)) {
        if (Files.exists(dst)) throw new java.nio.file.FileAlreadyExistsException(dst.toString)
        Files.createDirectories(dst)
        val s = Files.list(src)
        try s.iterator().forEachRemaining { f =>
          copied += 1
          if (copied > failAfterFiles)
            throw new java.io.IOException("injected crash mid-promotion")
          Files.copy(f, dst.resolve(f.getFileName)): Unit
        } finally s.close()
        graft.sources.Sinks.deleteRecursively(src)
      } else d.moveExclusive(src, dst)
  }

  private def withStore[T](s: graft.sources.CommitStore)(body: => T): T = {
    val prior = Publish.store
    Publish.store = s
    try body finally Publish.store = prior
  }

  test("the full protocol holds on a rename-less backend: publish, CAS, racing appends") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_renameless") + "/t"
    withStore(new RenamelessStore) {
      assert(Publish.publish(Seq(1L, 2L).toDF("x"), root) == 1L)
      assert(Publish.read(spark, root).count() == 2L)
      // CAS refusal with nothing committed
      intercept[Publish.CommitConflict] {
        Publish.publishStagedIf(spark, root, expectedLive = None) { st =>
          Seq(9L).toDF("x").write.parquet(st)
        }
      }
      // three concurrent appenders serialize losslessly (the q139
      // race, now over non-atomic promotion)
      val threads = (0 until 3).map { r =>
        new Thread(() => {
          Txn.append(spark, root, Seq(10L + r).toDF("x")): Unit
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(Publish.read(spark, root).as[Long].collect().toSet ==
        Set(1L, 2L, 10L, 11L, 12L))
      assert(Publish.currentVersion(root).contains(4L))
    }
    graft.sources.Sinks.deleteRecursively(Paths.get(root).getParent)
  }

  test("a crash MID-PROMOTION is invisible: readers keep the old version, retry routes around, vacuum reaps") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_renameless_crash") + "/t"
    withStore(new RenamelessStore) {
      Publish.publish((1L to 10L).toDF("x").repartition(4), root): Unit
    }
    // the second publish dies after copying ONE file of the new
    // version — a partial v=2 directory exists, unreferenced
    intercept[Exception] {
      withStore(new RenamelessStore(failAfterFiles = 1)) {
        Publish.publish((11L to 20L).toDF("x").repartition(4), root): Unit
      }
    }
    assert(Publish.currentVersion(root).contains(1L),
      "the pointer must still read v1 — promotion is not the commit point")
    assert(Publish.read(spark, root).count() == 10L)
    // a retrying writer routes AROUND the partial dir (next free N)
    withStore(new RenamelessStore) {
      val v = Publish.publish((11L to 20L).toDF("x").repartition(2), root)
      assert(v > 1L, s"retry must take a fresh version, got $v")
      assert(Publish.read(spark, root).count() == 10L)
      assert(Publish.read(spark, root).as[Long].collect().toSet == (11L to 20L).toSet)
      // the partial garbage is bounded by retention: vacuum reaps
      // every non-live version including the torn one
      Publish.vacuum(root, keep = 0): Unit
      val left = Files.list(Paths.get(root)).iterator()
      val dirs = new scala.collection.mutable.ArrayBuffer[String]
      left.forEachRemaining(p => if (Files.isDirectory(p)) dirs += p.getFileName.toString)
      assert(dirs.toSet == Set(s"v=${Publish.currentVersion(root).get}"),
        s"torn version not reaped: $dirs")
      assert(Publish.read(spark, root).count() == 10L)
    }
    graft.sources.Sinks.deleteRecursively(Paths.get(root).getParent)
  }
}
