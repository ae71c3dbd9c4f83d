package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch

import graft.sources.{Publish, Txn}
import graft.tools.Scratch

/** Optimistic concurrency (sources/Txn.scala +
  * Publish.publishStagedIf): the expected-version CAS refuses stale
  * commits with nothing written; the retry loop rebases by
  * re-derivation and serializes racing writers with no lost update;
  * the UNCHECKED path provably loses one (the negative control the
  * CAS exists for); a crashed writer's stale lock is broken. */
class TxnSpec extends SparkSpec {

  private def df(ids: Long*) = {
    val sess = spark
    import sess.implicits._
    ids.map(i => (i, i * 10)).toDF("id", "n")
  }

  private def ids(root: String): Set[Long] = {
    val sess = spark
    import sess.implicits._
    Publish.read(spark, root).select("id").as[Long].collect().toSet
  }

  test("CAS: a stale expected version refuses with nothing committed; bootstrap races too") {
    val root = Scratch.tempDir("graft_txn_cas")
    try {
      val v1 = Publish.publish(df(1), root)
      // stale: table is at v1, transaction expects the bootstrap state
      intercept[Publish.CommitConflict] {
        Publish.publishStagedIf(spark, root, expectedLive = None) { s =>
          Files.createDirectories(Paths.get(s)): Unit
          df(99).write.parquet(s + "/x")
        }
      }
      assert(Publish.currentVersion(root).contains(v1), "conflict must commit nothing")
      assert(Publish.listVersions(Paths.get(root)) == Seq(v1))

      // correct expectation commits
      val v2 = Publish.publishStagedIf(spark, root, expectedLive = Some(v1)) { s =>
        df(1, 2).write.parquet(s)
      }
      assert(v2 == 2L && ids(root) == Set(1L, 2L))
      // ...and is itself stale the second time
      intercept[Publish.CommitConflict] {
        Publish.publishStagedIf(spark, root, expectedLive = Some(v1)) { s =>
          df(3).write.parquet(s)
        }
      }
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("negative control: the unchecked path LOSES a concurrent update (the hazard the CAS closes)") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_txn_lost")
    try {
      Publish.publish(df(1), root): Unit
      // writer A derives its new content from v1 NOW...
      val aDerived = Publish.read(spark, root)
        .unionByName(df(2)).collect().map(_.getLong(0)).toSet
      // ...writer B commits v2 in between...
      Txn.append(spark, root, df(3)): Unit
      assert(ids(root) == Set(1L, 3L))
      // ...and A's UNCHECKED commit wins with stale content: B's row
      // is gone. This is the documented lost update — real, silent.
      Publish.publishStaged(spark, root) { s =>
        aDerived.toSeq.map(i => (i, i * 10)).toDF("id", "n").write.parquet(s)
      }
      assert(ids(root) == Set(1L, 2L), "expected the lost update the CAS exists to prevent")

      // the SAME write through the CAS refuses instead
      intercept[Publish.CommitConflict] {
        Publish.publishStagedIf(spark, root, expectedLive = Some(1L)) { s =>
          df(1, 2).write.parquet(s)
        }
      }
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("race: concurrent Txn.append writers serialize with every update present") {
    val root = Scratch.tempDir("graft_txn_race")
    try {
      Publish.publish(df(0), root): Unit
      val start = new CountDownLatch(1)
      val writers = (1 to 6).map { i =>
        new Thread(() => {
          start.await()
          Txn.append(spark, root, df(i.toLong), maxAttempts = 12): Unit
        })
      }
      writers.foreach(_.start())
      start.countDown()
      writers.foreach(_.join(120000))
      assert(ids(root) == (0L to 6L).toSet, s"lost update: ${ids(root)}")
      // one commit per writer + bootstrap — nothing double-committed
      assert(Publish.currentVersion(root).contains(7L))
      assert(Publish.listVersions(Paths.get(root)).size == 7)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("stream appends race an EXTERNAL compactor: no lost batch, replay refusal survives maintenance") {
    import graft.streaming.AppendStream
    import graft.sources.Compact
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_txn_maint")
    try {
      def batch(i: Long) = ((i * 100 + 1) to (i * 100 + 20)).map(j => (j, j)).toDF("id", "n")
      assert(AppendStream.applyBatch(batch(0), 0L, root))
      val start = new CountDownLatch(1)
      // the maintainer knows NOTHING about the stream — no meta: the
      // replay marker must survive because the commit carries it
      val maintainer = new Thread(() => {
        start.await()
        (1 to 3).foreach { _ =>
          Txn.retry(root, maxAttempts = 20) { _ =>
            Compact.compactPublishedIncremental(spark, root, targetBytes = 1L << 20)._1
          }: Unit
          Thread.sleep(30)
        }
      })
      val appender = new Thread(() => {
        start.await()
        (1L to 5L).foreach(i => assert(AppendStream.applyBatch(batch(i), i, root)))
      })
      maintainer.start(); appender.start(); start.countDown()
      maintainer.join(180000); appender.join(180000)

      val got = Publish.read(spark, root).select("id").as[Long].collect().toSet
      val expect = (0L to 5L).flatMap(i => (i * 100 + 1) to (i * 100 + 20)).toSet
      assert(got == expect, s"lost rows: missing=${expect -- got} extra=${got -- expect}")
      // the marker survived three marker-less maintenance commits
      assert(Publish.lastBatch(root).contains(5L),
        s"replay marker reset by maintenance: ${Publish.lastBatch(root)}")
      assert(!AppendStream.applyBatch(batch(3), 3L, root), "replay must refuse")

      // a FULL compaction from outside the stream keeps the marker too
      Compact.compactPublished(spark, root, targetBytes = 1L << 20): Unit
      assert(Publish.lastBatch(root).contains(5L),
        s"replay marker reset by a full compaction: ${Publish.lastBatch(root)}")
      assert(!AppendStream.applyBatch(batch(3), 3L, root),
        "replay must refuse after a full compaction")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("a crashed writer's stale commit lock is broken, not a wedge") {
    val root = Scratch.tempDir("graft_txn_stale")
    try {
      Files.createDirectories(Paths.get(root)): Unit
      val lock = Paths.get(root).resolve("_COMMIT_LOCK")
      Files.createFile(lock)
      Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 120000))
      // a fresh writer must break the stale lock and commit
      val v = Publish.publish(df(1), root)
      assert(v == 1L && ids(root) == Set(1L))
      assert(!Files.exists(lock), "lock released after commit")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
