package graft

import java.nio.file.Paths

import graft.sources.{Catalog, Publish}
import graft.tools.Scratch

/** Snapshot expiration / time-travel retention
  * (Publish.expireVersions + Catalog.expireSnapshots + pinnedVersions):
  * the policy keeps live ∪ newest-keepLast ∪ within-window ∪ pinned;
  * readers pinned to a KEPT version survive a reap; catalog pins
  * override a member table's local policy; snapshot-level expiration
  * sweeps member versions no surviving snapshot references. */
class RetentionSpec extends SparkSpec {

  private def df(n: Long) = {
    val sess = spark
    import sess.implicits._
    (1L to n).toDF("x")
  }

  test("keepLast: newest N + live survive, the rest reap; kept readers survive") {
    val root = Scratch.tempDir("graft_ret_last")
    try {
      (1L to 4L).foreach(i => Publish.publish(df(i), root): Unit)
      val reaped = Publish.expireVersions(root, keepLast = 2)
      assert(reaped.sorted == Seq(1L, 2L), s"reaped=$reaped")
      // a reader pinned to a KEPT version still reads after the reap
      assert(Publish.readVersion(spark, root, 3L).count() == 3L)
      assert(Publish.read(spark, root).count() == 4L)
      // the expired version is gone, loudly
      intercept[IllegalStateException](Publish.readVersion(spark, root, 1L))
      assert(Publish.listVersions(Paths.get(root)).sorted == Seq(3L, 4L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("keepWithin: the time-travel window retains beyond keepLast; replayable with explicit now") {
    val root = Scratch.tempDir("graft_ret_within")
    try {
      Publish.publish(df(1), root): Unit
      Thread.sleep(60)
      Publish.publish(df(2), root): Unit
      Thread.sleep(60)
      Publish.publish(df(3), root): Unit
      val now = System.currentTimeMillis()
      val t1 = Publish.commitTimeMs(root, 1L)
      val t2 = Publish.commitTimeMs(root, 2L)
      assert(t1 < t2, "commit times must be ordered")
      // window reaches back to v2's commit but not v1's
      val window = now - t2 + 1
      assert(now - t1 > window, "v1 must fall outside the window")
      val reaped = Publish.expireVersions(root,
        keepLast = 1, keepWithinMs = window, now = now)
      assert(reaped == Seq(1L), s"reaped=$reaped")
      assert(Publish.readVersion(spark, root, 2L).count() == 2L)
      // same policy, window wide enough for everything: no-op
      val none = Publish.expireVersions(root,
        keepLast = 1, keepWithinMs = now - t1 + 1, now = now)
      assert(none.isEmpty)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("pinned versions outlive the local policy; live is never reaped") {
    val root = Scratch.tempDir("graft_ret_pin")
    try {
      (1L to 3L).foreach(i => Publish.publish(df(i), root): Unit)
      val reaped = Publish.expireVersions(root, keepLast = 1, pinned = Set(1L))
      assert(reaped == Seq(2L), s"reaped=$reaped")
      assert(Publish.readVersion(spark, root, 1L).count() == 1L)
      // keepLast=1 with live pinned-by-definition: the pointer target survives
      assert(Publish.read(spark, root).count() == 3L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("catalog integration: a cataloged snapshot's members survive the member's own policy") {
    val root = Scratch.tempDir("graft_ret_cat")
    try {
      Catalog.publishAll(spark, root, Map("a" -> df(1))): Unit
      Catalog.publishAll(spark, root, Map("a" -> df(2))): Unit
      Catalog.publishAll(spark, root, Map("a" -> df(3))): Unit
      val tableRoot = Paths.get(root, "tables", "a").toString
      val pins = Catalog.pinnedVersions(root, "a")
      assert(pins == Set(1L, 2L, 3L))
      // the member's own aggressive policy reaps NOTHING while every
      // version is pinned by a snapshot manifest still on disk
      val reaped = Publish.expireVersions(tableRoot, keepLast = 1, pinned = pins)
      assert(reaped.isEmpty, s"reaped pinned versions: $reaped")

      // snapshot-level expiration: keep only the live snapshot, then
      // the member sweep reaps what no surviving snapshot references
      val removed = Catalog.expireSnapshots(root, keepLast = 1)
      assert(removed.toSet == Set("a" -> 1L, "a" -> 2L), s"removed=$removed")
      assert(Catalog.read(spark, root, "a").count() == 3L)
      assert(Catalog.pinnedVersions(root, "a") == Set(3L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("readAsOf: timestamp resolves to the newest version committed ≤ t; expiration shrinks the horizon") {
    val root = Scratch.tempDir("graft_ret_asof")
    try {
      Publish.publish(df(1), root): Unit
      Thread.sleep(60)
      Publish.publish(df(2), root): Unit
      Thread.sleep(60)
      Publish.publish(df(3), root): Unit
      val t1 = Publish.commitTimeMs(root, 1L)
      val t2 = Publish.commitTimeMs(root, 2L)
      // exactly at a commit → that commit; between commits → the earlier
      assert(Publish.readAsOf(spark, root, t1).count() == 1L)
      assert(Publish.readAsOf(spark, root, (t1 + t2) / 2).count() == 1L)
      assert(Publish.readAsOf(spark, root, t2).count() == 2L)
      assert(Publish.readAsOf(spark, root, System.currentTimeMillis()).count() == 3L)
      // before the first commit: no version existed — loud refusal
      intercept[IllegalStateException](Publish.readAsOf(spark, root, t1 - 1))
      // expiration shrinks the answerable horizon: asking for a
      // reaped version's time must throw, never silently serve newer
      Publish.expireVersions(root, keepLast = 2): Unit
      intercept[IllegalStateException](Publish.readAsOf(spark, root, t1))
      assert(Publish.readAsOf(spark, root, t2).count() == 2L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("catalog readAsOf: one timestamp pins every table to the SAME snapshot") {
    val root = Scratch.tempDir("graft_ret_catasof")
    try {
      Catalog.publishAll(spark, root, Map("a" -> df(1), "b" -> df(10))): Unit
      Thread.sleep(60)
      // snapshot 2 changes only `a`; `b` carries at its v1
      Catalog.publishAll(spark, root, Map("a" -> df(2))): Unit
      val t1 = Catalog.snapshotTimeMs(root, 1L)
      assert(Catalog.readAsOf(spark, root, "a", t1).count() == 1L)
      assert(Catalog.readAsOf(spark, root, "b", t1).count() == 10L)
      val now = System.currentTimeMillis()
      assert(Catalog.readAsOf(spark, root, "a", now).count() == 2L)
      // carried table resolves through the new snapshot's pin (still v1)
      assert(Catalog.readAsOf(spark, root, "b", now).count() == 10L)
      intercept[IllegalStateException](Catalog.readAsOf(spark, root, "a", t1 - 1))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("catalog CAS: racing publishAlls of different tables never lose a pin") {
    val root = Scratch.tempDir("graft_cat_race")
    try {
      Catalog.publishAll(spark, root, Map("a" -> df(1), "b" -> df(1))): Unit
      // two writers, each bumping a DIFFERENT table, racing the flip:
      // stale carried pins would resurrect the other table's old
      // version — the CAS + carried-pin rebase must keep both streams
      val start = new java.util.concurrent.CountDownLatch(1)
      val wa = new Thread(() => {
        start.await()
        (2L to 4L).foreach(i => Catalog.publishAll(spark, root, Map("a" -> df(i))): Unit)
      })
      val wb = new Thread(() => {
        start.await()
        (2L to 4L).foreach(i => Catalog.publishAll(spark, root, Map("b" -> df(i * 10))): Unit)
      })
      wa.start(); wb.start(); start.countDown()
      wa.join(120000); wb.join(120000)
      // both tables at their final versions, whatever the interleave
      assert(Catalog.read(spark, root, "a").count() == 4L,
        s"lost a-update: pins=${Catalog.currentTableVersions(root)}")
      assert(Catalog.read(spark, root, "b").count() == 40L,
        s"lost b-update: pins=${Catalog.currentTableVersions(root)}")
      // one snapshot per publishAll — nothing double-committed
      assert(Catalog.currentVersion(root).contains(7L))

      // commitIf refuses a stale expected snapshot with nothing flipped
      intercept[graft.sources.Publish.CommitConflict] {
        Catalog.commitIf(root, Seq("a" -> 1L), expectedLive = Some(1L))
      }
      assert(Catalog.currentVersion(root).contains(7L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("expireSnapshots keepWithin retains recent snapshots beyond keepLast") {
    val root = Scratch.tempDir("graft_ret_catwin")
    try {
      Catalog.publishAll(spark, root, Map("a" -> df(1))): Unit
      Thread.sleep(60)
      Catalog.publishAll(spark, root, Map("a" -> df(2))): Unit
      Thread.sleep(60)
      Catalog.publishAll(spark, root, Map("a" -> df(3))): Unit
      val now = System.currentTimeMillis()
      val t2 = Catalog.snapshotTimeMs(root, 2L)
      val removed = Catalog.expireSnapshots(root,
        keepLast = 1, keepWithinMs = now - t2 + 1, now = now)
      assert(removed.toSet == Set("a" -> 1L), s"removed=$removed")
      // snapshot 2 survived the window: its member version still reads
      assert(Publish.readVersion(spark,
        Paths.get(root, "tables", "a").toString, 2L).count() == 2L)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
