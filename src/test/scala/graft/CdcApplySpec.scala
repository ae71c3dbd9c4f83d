package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Deletes, Publish}
import graft.streaming.CdcApplyStream
import graft.tools.Scratch

case class Cdc(id: Long, v: Long, seq: Long, op: String)

/** S24 (streaming/CdcApplyStream): a CDC feed with upserts and delete
  * tombstones applied to a published table — batch-sequential
  * semantics, commit-level exactly-once (replay refused), tombstones
  * for absent keys as no-ops, within-batch op collapse. */
class CdcApplySpec extends SparkSpec {

  test("applyBatch: upsert/delete semantics, replay refusal, absent-key tombstone no-op") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdc_unit")
    try {
      // bootstrap batch: three inserts plus a tombstone for a key
      // that never existed (must be a no-op, not an insert)
      val b0 = Seq(
        Cdc(1, 10, 1, "upsert"), Cdc(2, 20, 1, "upsert"),
        Cdc(3, 30, 1, "upsert"), Cdc(99, 0, 1, "delete")).toDF()
      assert(CdcApplyStream.applyBatch(b0, 0L, root, Seq("id"), Seq(col("seq"))))
      assert(Publish.read(spark, root).count() == 3)

      // update 1, delete 2, insert 4, tombstone absent 98
      val b1 = Seq(
        Cdc(1, 11, 2, "upsert"), Cdc(2, 0, 2, "delete"),
        Cdc(4, 40, 2, "upsert"), Cdc(98, 0, 2, "delete")).toDF()
      assert(CdcApplyStream.applyBatch(b1, 1L, root, Seq("id"), Seq(col("seq"))))
      val got = Publish.read(spark, root).select("id", "v")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 11L), (3L, 30L), (4L, 40L)))

      // replay: refused, version unchanged
      val vBefore = Publish.currentVersion(root)
      assert(!CdcApplyStream.applyBatch(b1, 1L, root, Seq("id"), Seq(col("seq"))))
      assert(Publish.currentVersion(root) == vBefore)
      assert(Publish.lastBatch(root).contains(1L))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("within-batch collapse: the newest op per key wins") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdc_collapse")
    try {
      Publish.publish(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), root): Unit
      // key 1: upserted then deleted (ends deleted); key 2: deleted
      // then re-upserted (ends present with the new value); key 5:
      // inserted twice (newest value wins)
      val b = Seq(
        Cdc(1, 99, 1, "upsert"), Cdc(1, 0, 2, "delete"),
        Cdc(2, 0, 1, "delete"), Cdc(2, 21, 2, "upsert"),
        Cdc(5, 50, 1, "upsert"), Cdc(5, 51, 2, "upsert")).toDF()
      assert(CdcApplyStream.applyBatch(b, 0L, root, Seq("id"), Seq(col("seq"))))
      val got = Publish.read(spark, root).select("id", "v")
        .as[(Long, Long)].collect().toSet
      assert(got == Set((2L, 21L), (5L, 51L)))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("evolveSchema: a change feed that grew a column widens the table mid-stream") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdc_evo")
    try {
      // the target pre-exists NARROW (id, v); the feed arrives with a
      // new `tag` column — the upstream-API-grew-a-field case
      Publish.publish(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), root): Unit
      val b = Seq(
        (1L, 11L, "a", 1L, "upsert"),
        (4L, 40L, "d", 1L, "upsert"),
        (2L, 0L, "x", 1L, "delete")).toDF("id", "v", "tag", "seq", "op")
      assert(CdcApplyStream.applyBatch(b, 0L, root, Seq("id"),
        Seq(col("seq")), evolveSchema = true))

      val got = Publish.readConformed(spark, root)
        .select("id", "v", "tag")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).orNull)).toSet
      // upserted rows carry the new column; the untouched row (3) reads
      // NULL through the manifest schema; the delete still deletes
      assert(got == Set((1L, 11L, "a"), (3L, 30L, null), (4L, 40L, "d")), s"got=$got")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("S24r: CDC apply survives a mid-backlog kill-and-restart through the checkpoint") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdc_restart")
    try {
      // one file = one micro-batch. Incarnation 1 is KILLED right
      // after batch 0 commits, with batches 1–2 still in the backlog;
      // incarnation 2 resumes the checkpoint, drains them, then takes
      // two more. The feed is order-SENSITIVE (key 10 is deleted then
      // re-upserted; 21 inserted then deleted), so a state reset,
      // skipped batch, or double-apply all change the final table.
      val first = Seq(
        ((1L to 20L).map(i => Cdc(i, i * 10, 1, "upsert"))).toDF(),
        ((1L to 5L).map(i => Cdc(i, 0, 2, "delete")) :+
          Cdc(21, 210, 2, "upsert")).toDF(),
        Seq(Cdc(10, 1000, 3, "upsert"), Cdc(21, 0, 3, "delete")).toDF())
      val second = Seq(
        Seq(Cdc(10, 0, 4, "delete"), Cdc(30, 300, 4, "upsert")).toDF(),
        Seq(Cdc(10, 2000, 5, "upsert")).toDF())
      graft.streaming.DurableReplay.runForeachRestart(spark, first, second,
        (stream, ckpt) => CdcApplyStream.start(
          stream, root, Seq("id"), Seq(col("seq")),
          checkpointLocation = Some(ckpt)),
        () => Publish.lastBatch(root))

      val expect = ((6L to 9L) ++ (11L to 20L)).map(i => (i, i * 10)).toSet ++
        Set((10L, 2000L), (30L, 300L))
      val got = Publish.read(spark, root).select("id", "v")
        .as[(Long, Long)].collect().toSet
      assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
      // exactly-once accounting: bootstrap + one merge per batch 1–4,
      // whatever the kill interrupted — a replayed batch that
      // re-committed would inflate the version count
      assert(Publish.lastBatch(root).contains(4L))
      assert(Publish.listVersions(Paths.get(root)).sorted == (1L to 5L),
        s"versions=${Publish.listVersions(Paths.get(root)).sorted}")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("S24: streamed CDC equals batch-sequential application across chops") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_cdc_stream")
    implicit val sqlCtx = spark.sqlContext
    try {
      val mem = MemoryStream[Cdc]
      val query = CdcApplyStream.start(
        mem.toDF(), root, Seq("id"), Seq(col("seq")))
      try {
        mem.addData((1L to 50L).map(i => Cdc(i, i * 10, 1, "upsert")): _*)
        query.processAllAvailable()
        mem.addData(
          (1L to 10L).map(i => Cdc(i, 0, 2, "delete")) ++
          (40L to 60L).map(i => Cdc(i, i * 100, 2, "upsert")): _*)
        query.processAllAvailable()
        mem.addData(Seq(Cdc(5, 555, 3, "upsert"), Cdc(41, 0, 3, "delete")): _*)
        query.processAllAvailable()
      } finally query.stop()

      val expect = (
        (11L to 39L).map(i => (i, i * 10)) ++
        ((40L to 60L).filterNot(_ == 41L).map(i => (i, i * 100))) :+
        ((5L, 555L))
      ).toSet
      val got = Publish.read(spark, root).select("id", "v")
        .as[(Long, Long)].collect().toSet
      assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
      // versions committed one per non-empty batch, ids recorded
      assert(Publish.lastBatch(root).contains(2L))
      // deletes landed copy-on-write: no DV sidecar on the live version
      val live = Publish.currentVersion(root).get
      assert(!Files.exists(Paths.get(
        Deletes.deletesPath(Paths.get(root).resolve(s"v=$live").toString))))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }
}
