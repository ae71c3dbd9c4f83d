package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.tools.Scratch

/** Atomic publication protocol: every case is a failure-ordering
  * argument — what a reader sees at each point of a publisher's life,
  * including after a crash between staging and the pointer flip. */
class PublishSpec extends SparkSpec {

  private def freshRoot(): String =
    Scratch.tempDir("graft_publish") + "/ds"

  test("publish → read round-trips, manifest matches the files on disk") {
    import spark.implicits._
    val root = freshRoot()
    assert(Publish.currentVersion(root).isEmpty)
    intercept[IllegalStateException](Publish.read(spark, root))

    val df = Tables.documents(spark, SfDir).select("doc_id", "source", "n_chars")
    val v = Publish.publish(df, root)
    assert(v == 1L)
    assert(Publish.currentVersion(root).contains(1L))
    assert(Publish.read(spark, root).count() == df.count())

    val manifest = Publish.currentManifest(root).get
    assert(manifest.contains(s""""rows":${df.count()}"""))
    // every file in the manifest exists with the recorded size
    val dir = Paths.get(root).resolve("v=1")
    """"name":"([^"]+)","bytes":(\d+)""".r.findAllMatchIn(manifest).foreach { m =>
      val p = dir.resolve(m.group(1))
      assert(Files.exists(p) && Files.size(p) == m.group(2).toLong,
        s"manifest entry ${m.group(1)} diverges from disk")
    }
    assert(manifest.contains(""""schema":"doc_id BIGINT"""))
  }

  test("a second publish flips the pointer; the old version stays for in-flight readers") {
    import spark.implicits._
    val root = freshRoot()
    Publish.publish(Seq((1L, "a")).toDF("id", "s"), root)
    // a reader that resolved the pointer BEFORE the next publish
    // keeps reading its immutable version dir
    val pinned = spark.read.parquet(Paths.get(root).resolve("v=1").toString)

    val v2 = Publish.publish(Seq((2L, "b"), (3L, "c")).toDF("id", "s"), root)
    assert(v2 == 2L)
    assert(Publish.read(spark, root).select("id").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(pinned.select("id").as[Long].collect().toSeq == Seq(1L),
      "the superseded version must stay readable until vacuumed")
  }

  test("a crash before the pointer flip is invisible to readers and reaped by the next publish") {
    import spark.implicits._
    val root = freshRoot()
    Publish.publish(Seq((1L, "live")).toDF("id", "s"), root)

    // simulate the two crash points: mid-stage (orphan staging dir)
    // and post-promote/pre-flip (version dir present, pointer not)
    val rootPath = Paths.get(root)
    Files.createDirectories(rootPath.resolve(".staging-v7"))
    Files.write(rootPath.resolve(".staging-v7").resolve("junk"), Array[Byte](1, 2))
    Seq((9L, "torn")).toDF("id", "s")
      .write.parquet(rootPath.resolve("v=3").toString)

    // readers resolve the pointer: still v1, the torn v3 never shows
    assert(Publish.currentVersion(root).contains(1L))
    assert(Publish.read(spark, root).select("s").head.getString(0) == "live")

    // the next publish reaps staging and must NOT reuse the orphaned
    // number — max(existing)+1 skips past the crashed attempt
    val v = Publish.publish(Seq((2L, "next")).toDF("id", "s"), root)
    assert(v == 4L)
    assert(!Files.exists(rootPath.resolve(".staging-v7")), "staging orphan survived the reap")
    assert(Publish.read(spark, root).select("s").head.getString(0) == "next")
  }

  test("vacuum keeps the live version plus a retention window, never the live one itself") {
    import spark.implicits._
    val root = freshRoot()
    (1 to 4).foreach(i => Publish.publish(Seq((i.toLong, s"v$i")).toDF("id", "s"), root))
    assert(Publish.currentVersion(root).contains(4L))

    val reaped = Publish.vacuum(root, keep = 1)
    assert(reaped.sorted == Seq(1L, 2L), s"expected to reap 1,2 — got $reaped")
    assert(Publish.listVersions(Paths.get(root)).sorted == Seq(3L, 4L))
    assert(Publish.read(spark, root).select("s").head.getString(0) == "v4")

    // keep=0 still refuses to touch the live version
    assert(Publish.vacuum(root, keep = 0) == Seq(3L))
    assert(Publish.listVersions(Paths.get(root)) == Seq(4L))
    assert(Publish.read(spark, root).count() == 1L)
  }

  test("every commit-plane operation routes through the CommitStore seam") {
    import spark.implicits._
    import java.nio.file.Path
    val root = freshRoot()
    // a delegating store that records which primitives the protocol
    // exercised — the proof the object-store mapping documented on
    // CommitStore covers the whole commit path (a primitive the
    // protocol used but the seam missed would bypass this recorder)
    val calls = collection.concurrent.TrieMap.empty[String, Int]
    def note(k: String): Unit = calls.updateWith(k) { c => Some(c.getOrElse(0) + 1) }: Unit
    val recorder = new graft.sources.CommitStore {
      private val d = graft.sources.LocalCommitStore
      def tryCreate(p: Path) = { note("tryCreate"); d.tryCreate(p) }
      def ageMs(p: Path) = { note("ageMs"); d.ageMs(p) }
      def touch(p: Path) = { note("touch"); d.touch(p) }
      def deleteIfExists(p: Path) = { note("deleteIfExists"); d.deleteIfExists(p) }
      def moveExclusive(s: Path, t: Path) = { note("moveExclusive"); d.moveExclusive(s, t) }
      def putAtomic(p: Path, v: String) = { note("putAtomic"); d.putAtomic(p, v) }
      def get(p: Path) = { note("get"); d.get(p) }
    }
    val prior = Publish.store
    Publish.store = recorder
    try {
      val v = Publish.publish(Seq(1L, 2L, 3L).toDF("x"), root)
      assert(v == 1L)
      assert(Publish.read(spark, root).count() == 3L)
      // CAS conflict still surfaces through the seam-backed pointer
      intercept[Publish.CommitConflict] {
        Publish.publishStagedIf(spark, root, expectedLive = None) { staging =>
          Seq(9L).toDF("x").write.parquet(staging)
        }
      }
      // lock acquire, promotion rename, pointer flip, pointer
      // resolve, lock release all hit the recorder
      Seq("tryCreate", "moveExclusive", "putAtomic", "get", "deleteIfExists")
        .foreach(k => assert(calls.getOrElse(k, 0) > 0, s"$k never routed: $calls"))
    } finally Publish.store = prior
    // behavior unchanged after restoring the default backend
    assert(Publish.currentVersion(root).contains(1L))
    assert(Publish.publish(Seq(4L).toDF("x"), root) == 2L)
  }

  test("commit lock: heartbeat protects a live long holder; stale break is single-winner") {
    val root = freshRoot()
    val rootPath = Paths.get(root)
    Files.createDirectories(rootPath)
    // 4 s horizon (beat every 500 ms): the margin between a missed
    // beat and the break threshold must absorb full-suite GC/scheduler
    // stalls — at the old 1500 ms horizon a >1.1 s delay of the beat
    // thread under a loaded VM let the waiter break a LIVE lock and
    // flip the ordering assertion (the one r14 full-suite flake)
    sys.props("graft.publish.lockStaleMs") = "4000"
    try {
      // 1. A LIVE holder whose critical section outlives the stale
      // horizon: the heartbeat keeps its mtime fresh, so a concurrent
      // waiter must WAIT (not break in and interleave) — both bodies
      // run, strictly serialized
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val slow = new Thread(() => Publish.withCommitLock(rootPath) {
        order.add("slow-start")
        Thread.sleep(9000) // > 2× the stale horizon
        order.add("slow-end")
      }: Unit)
      slow.start()
      Thread.sleep(300) // let the slow holder take the lock
      Publish.withCommitLock(rootPath) { order.add("fast"): Unit }
      slow.join()
      assert(order.toArray.toSeq == Seq("slow-start", "slow-end", "fast"),
        s"heartbeat failed to protect the long holder: ${order.toArray.toSeq}")

      // 2. A genuinely stale lock (no heartbeat — a crashed writer):
      // many concurrent waiters must ALL get through, one at a time
      // (the old delete+create break let one breaker delete another's
      // fresh lock, admitting two writers at once)
      Files.createFile(rootPath.resolve("_COMMIT_LOCK"))
      Files.setLastModifiedTime(rootPath.resolve("_COMMIT_LOCK"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000))
      val inSection = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val racers = (1 to 6).map(_ => new Thread(() =>
        Publish.withCommitLock(rootPath) {
          val now = inSection.incrementAndGet()
          maxSeen.getAndUpdate(m => math.max(m, now))
          Thread.sleep(30)
          inSection.decrementAndGet()
          done.incrementAndGet()
        }: Unit))
      racers.foreach(_.start())
      racers.foreach(_.join(30000))
      assert(done.get() == 6, s"only ${done.get()}/6 racers got the lock")
      assert(maxSeen.get() == 1,
        s"${maxSeen.get()} writers inside the critical section at once")
      assert(!Files.exists(rootPath.resolve("_COMMIT_LOCK")),
        "lock left behind after all holders exited")
    } finally {
      sys.props.remove("graft.publish.lockStaleMs"): Unit
    }
  }

  /** Every file and its bytes under `root`, staging orphans aside —
    * what a failed commit must leave exactly as it was. */
  private def committedState(root: String): Map[String, Seq[Byte]] = {
    val rootPath = Paths.get(root)
    val s = Files.walk(rootPath)
    try s.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(rootPath.relativize(_).toString)
      .filterNot(_.startsWith(".staging-"))
      .map(rel => rel -> Files.readAllBytes(rootPath.resolve(rel)).toSeq)
      .toMap
    finally s.close()
  }

  test("a torn stage fails the commit, leaves every version untouched, and is reaped") {
    import spark.implicits._
    val root = freshRoot()
    val rootPath = Paths.get(root)
    Publish.publish(Seq((1L, "live")).toDF("id", "s"), root)
    val src = Paths.get(Scratch.tempDir("graft_publish_torn")).resolve("ok")
    Seq((2L, "x"), (3L, "y")).toDF("id", "s").coalesce(1).write.parquet(src.toString)
    val good = {
      val s = Files.list(src)
      try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val bytes = Files.readAllBytes(good)
    // each torn file sorts BEFORE the good one, so even a reader that
    // samples only the first footer for its schema would open it
    val tears: Seq[(String, java.nio.file.Path => Unit)] = Seq(
      "a truncated parquet file" -> { d =>
        Files.write(d.resolve("0-torn.parquet"), bytes.take(bytes.length / 2)): Unit },
      "a zero-length parquet file" -> { d =>
        Files.write(d.resolve("0-torn.parquet"), Array.emptyByteArray): Unit },
      "a non-parquet file" -> { d =>
        Files.write(d.resolve("0-notes.txt"), "not parquet\n".getBytes("UTF-8")): Unit },
      // the stage contract is flat: the reader skips this directory,
      // and neither the manifest nor any carry lists it, yet it would
      // be promoted with the version
      "a reader-visible subdirectory" -> { d =>
        Files.createDirectories(d.resolve("sub"))
        Files.copy(good, d.resolve("sub").resolve(good.getFileName)): Unit })
    for ((what, tear) <- tears; mergeSchema <- Seq(false, true)) {
      val before = committedState(root)
      intercept[Exception] {
        Publish.publishStaged(spark, root, mergeSchema = mergeSchema) { staging =>
          val d = Paths.get(staging)
          Files.createDirectories(d)
          Files.copy(good, d.resolve(good.getFileName))
          tear(d)
        }
      }
      assert(committedState(root) == before,
        s"$what (mergeSchema=$mergeSchema) changed the committed table")
      assert(Publish.currentVersion(root).contains(1L))
      assert(Publish.read(spark, root).select("s").as[String].collect().toSeq == Seq("live"))
    }
    assert(Publish.publish(Seq((4L, "next")).toDF("id", "s"), root) == 2L)
    assert(Publish.read(spark, root).select("s").as[String].collect().toSeq == Seq("next"))
    val leftovers = {
      val s = Files.list(rootPath)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".staging-")).toSeq
      finally s.close()
    }
    assert(leftovers.isEmpty, s"torn staging survived the next publish: $leftovers")
  }

  test("the manifest's rows and schema equal a parquet read-back of the stage") {
    import spark.implicits._
    val narrow = Seq((1L, "a"), (2L, null)).toDF("id", "s")
    val wide = Seq((3L, "c", 1.5, (7, Seq("p", null)), Seq(1L, 2L)),
        (4L, null, Double.NaN, null, null))
      .toDF("id", "s", "w", "nested", "arr")
      .withColumn("nested", col("nested").cast("struct<a:int,b:array<string>>"))
    val typed = Seq(
        ("12.345678", "2024-03-01 10:00:00", "2024-03-01 10:00:00", Map("k" -> 1L)),
        (null, null, null, Map.empty[String, Long]))
      .toDF("d", "ts", "ntz", "m")
      .select(col("d").cast("decimal(18,6)"), col("ts").cast("timestamp"),
        col("ntz").cast("timestamp_ntz"), col("m"))
    // (label, mergeSchema, stage)
    val stages: Seq[(String, Boolean, String => Unit)] = Seq(
      ("widened files plus a nested struct/array", true, { d =>
        narrow.repartition(2).write.mode("append").parquet(d)
        wide.write.mode("append").parquet(d)
        wide.select("arr", "id", "nested").write.mode("append").parquet(d)
      }),
      ("widened files, first footer only", false, { d =>
        narrow.write.mode("append").parquet(d)
        wide.write.mode("append").parquet(d)
      }),
      ("decimal, timestamp, timestamp_ntz and map columns", true, { d =>
        typed.repartition(2).write.mode("append").parquet(d)
      }),
      ("an empty frame", true, { d =>
        narrow.limit(0).write.mode("append").parquet(d)
      }),
      ("an empty frame, no merge", false, { d =>
        wide.limit(0).write.mode("append").parquet(d)
      }),
      ("a uniform-width stage", false, { d =>
        wide.union(wide).repartition(3).write.mode("append").parquet(d)
      }),
      ("a non-Spark writer's footers", true, { d =>
        Files.copy(Paths.get(SfDir, "events.parquet"),
          Paths.get(d, "events.parquet")): Unit
      }))
    stages.foreach { case (label, mergeSchema, write) =>
      val root = freshRoot()
      var readBack: (Long, String) = null
      val v = Publish.publishStaged(spark, root, mergeSchema = mergeSchema) { staging =>
        Files.createDirectories(Paths.get(staging))
        write(staging)
        val staged = spark.read.option("mergeSchema", mergeSchema.toString).parquet(staging)
        readBack = (staged.count(), staged.schema.toDDL)
      }
      val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Publish.currentManifest(root).get)
      assert(manifest.get("rows").asLong == readBack._1, s"$label: rows")
      assert(Publish.manifestSchemaDdl(root, v).contains(readBack._2), s"$label: schema")
    }
  }
}
