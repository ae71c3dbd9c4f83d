package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{Deletes, Publish}
import graft.streaming.DeleteStream
import graft.tools.Scratch

case class Tomb(id: Long)

/** S25 (streaming/DeleteStream): a tombstone-only feed applied as
  * DELETION VECTORS — data files carry byte-identically per batch,
  * only the sidecar grows; the materialization cadence folds the
  * vector copy-on-write; batch ids in the version manifest make
  * replays refusable; served rows equal the batch-side delete at
  * every tick. */
class DeleteStreamSpec extends SparkSpec {

  private def seed(n: Long) = {
    val sess = spark
    import sess.implicits._
    (1L to n).map(i => (i, i * 10)).toDF("id", "v")
  }

  private def served(root: String): Set[Long] = {
    val sess = spark
    import sess.implicits._
    Deletes.readPublished(spark, root).select("id").as[Long].collect().toSet
  }

  test("applyBatch: sidecar-only commits, byte-identical data files, replay refusal") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_delstream_unit")
    try {
      Publish.publish(seed(100).repartition(4), root): Unit
      val v1files = graft.sources.Compact
        .listDataFiles(Paths.get(root).resolve("v=1").toString)

      assert(DeleteStream.applyBatch(
        Seq(Tomb(3), Tomb(7)).toDF(), 0L, root, Seq("id")))
      assert(served(root) == (1L to 100L).toSet -- Set(3L, 7L))
      // the delete version's data files are the SAME BYTES, carried
      val v2dir = Paths.get(root).resolve("v=2").toString
      val v2files = graft.sources.Compact.listDataFiles(v2dir)
      assert(v2files.map(_._1).sorted == v1files.map(_._1).sorted)
      v2files.foreach { case (name, size) =>
        assert(size == v1files.find(_._1 == name).get._2, s"$name resized")
      }
      assert(Files.exists(Paths.get(Deletes.deletesPath(v2dir))))

      // replay of batch 0 is refused before any write
      val vBefore = Publish.currentVersion(root)
      assert(!DeleteStream.applyBatch(
        Seq(Tomb(3)).toDF(), 0L, root, Seq("id")))
      assert(Publish.currentVersion(root) == vBefore)
      assert(Publish.lastBatch(root).contains(0L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("materialization cadence folds the vector; equivalence holds across it") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_delstream_mat")
    try {
      Publish.publish(seed(60).repartition(3), root): Unit
      // batches 0 and 1; cadence fires after batch 1 ((1+1) % 2 == 0)
      assert(DeleteStream.applyBatch(
        (1L to 5L).map(Tomb).toDF(), 0L, root, Seq("id"), materializeEvery = 2))
      assert(DeleteStream.applyBatch(
        (21L to 25L).map(Tomb).toDF(), 1L, root, Seq("id"), materializeEvery = 2))
      val live = Publish.currentVersion(root).get
      val liveDir = Paths.get(root).resolve(s"v=$live").toString
      // the cadence materialized: live version carries NO sidecar and
      // still serves exactly the surviving rows
      assert(!Files.exists(Paths.get(Deletes.deletesPath(liveDir))))
      assert(served(root) == (1L to 60L).toSet -- (1L to 5L) -- (21L to 25L))
      assert(Publish.lastBatch(root).contains(1L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S25r: DV maintenance survives a mid-backlog kill-and-restart through the checkpoint") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_delstream_restart")
    try {
      Publish.publish(seed(100).repartition(4), root): Unit
      // one file = one batch; incarnation 1 killed after batch 0's
      // commit with 1–2 still queued; incarnation 2 drains them and
      // takes two more. materializeEvery=2 puts a materialization
      // INSIDE the kill window (after batch 1) and another after
      // batch 3 — both must survive the restart without resurrecting
      // folded rows or double-folding.
      val first = Seq(
        (1L to 10L).map(Tomb).toDF(),
        (11L to 20L).map(Tomb).toDF(),
        (21L to 30L).map(Tomb).toDF())
      val second = Seq(
        (31L to 40L).map(Tomb).toDF(),
        (41L to 50L).map(Tomb).toDF())
      graft.streaming.DurableReplay.runForeachRestart(spark, first, second,
        (stream, ckpt) => DeleteStream.start(
          stream, root, Seq("id"), materializeEvery = 2,
          checkpointLocation = Some(ckpt)),
        () => Publish.lastBatch(root))

      assert(served(root) == (51L to 100L).toSet,
        s"unexpected survivors: ${served(root) -- (51L to 100L).toSet}")
      assert(Publish.lastBatch(root).contains(4L))
      // exactly-once accounting: seed + 5 DV commits + 2 materialize
      // commits = versions 1..8 — UNLESS the kill landed between
      // batch 1's DV commit and its materialize, where the replayed
      // id is refused and the fold legally defers to batch 3's
      // cadence (the documented skip-idempotence), giving 1..7; a
      // double-apply would exceed 8, a lost batch would fall below 7
      val vs = Publish.listVersions(Paths.get(root)).sorted
      assert(vs == (1L to 8L) || vs == (1L to 7L), s"versions=$vs")
      // the post-batch-4 cadence window is empty of a fold, so the
      // live version still carries its pending sidecar — and the DV
      // read path must agree with the final survivor set (it does,
      // by the served() assertion above); a plain sidecar-blind read
      // would over-serve batch 4's keys
      val live = Publish.currentVersion(root).get
      assert(Files.exists(Paths.get(Deletes.deletesPath(
        Paths.get(root).resolve(s"v=$live").toString))))
      assert(Publish.read(spark, root).count() == 60)
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }

  test("S25: streamed tombstones equal the batch-side delete across chops") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_delstream")
    implicit val sqlCtx = spark.sqlContext
    try {
      Publish.publish(seed(200).repartition(4), root): Unit
      val mem = MemoryStream[Tomb]
      val query = DeleteStream.start(
        mem.toDF(), root, Seq("id"), materializeEvery = 2)
      try {
        mem.addData((1L to 20L).map(Tomb): _*)
        query.processAllAvailable()
        assert(served(root) == (21L to 200L).toSet)
        // absent keys + already-deleted keys: both no-ops
        mem.addData(Seq(Tomb(5), Tomb(999), Tomb(30)): _*)
        query.processAllAvailable()
        assert(served(root) == (21L to 200L).toSet - 30L)
        mem.addData((100L to 110L).map(Tomb): _*)
        query.processAllAvailable()
      } finally query.stop()
      val expect = (21L to 200L).toSet - 30L -- (100L to 110L)
      assert(served(root) == expect)
      // plain Publish.read without DV application would OVER-serve
      // only if a sidecar is pending; after the cadence the two agree
      assert(Publish.lastBatch(root).contains(2L))
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(root))
  }
}
