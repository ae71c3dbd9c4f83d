package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.{Compact, Publish}
import graft.streaming.AppendStream
import graft.tools.Scratch

/** S20 (streaming/AppendStream): append-only versioned ingest with
  * the maintenance loop. Zero-copy carry proven by inode identity,
  * append correctness by multiset equality with the fed batches,
  * exactly-once by replay refusal (incl. THROUGH a compaction
  * version), fragmentation actually collapsed on cadence. */
class AppendStreamSpec extends SparkSpec {

  private def ino(p: java.nio.file.Path): Any =
    Files.getAttribute(p, "unix:ino")

  test("append carries prior files as hard links and adds only the batch") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_s20_links")
    try {
      assert(AppendStream.applyBatch(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"), 0L, root))
      val v1 = Publish.currentVersion(root).get
      val v1Files = Compact.listDataFiles(s"$root/v=$v1")
      val v1Inodes = v1Files.map { case (n, _) =>
        n -> ino(Paths.get(s"$root/v=$v1/$n")) }.toMap

      assert(AppendStream.applyBatch(Seq((3L, "c")).toDF("id", "v"), 1L, root))
      val v2 = Publish.currentVersion(root).get
      val v2Files = Compact.listDataFiles(s"$root/v=$v2")
      // carried names present with the SAME inode — zero bytes moved
      v1Inodes.foreach { case (name, inode) =>
        assert(ino(Paths.get(s"$root/v=$v2/$name")) == inode,
          s"carried file $name was rewritten, not linked")
      }
      assert(v2Files.size > v1Files.size, "append added no files")
      val live = Publish.read(spark, root)
      assert(live.count() == 3
        && live.where(col("id") === 3L).count() == 1)

      // replay refusal: an old batch id writes NOTHING
      val before = Publish.currentVersion(root).get
      assert(!AppendStream.applyBatch(Seq((99L, "x")).toDF("id", "v"), 1L, root))
      assert(Publish.currentVersion(root).get == before)
      assert(Publish.read(spark, root).where(col("id") === 99L).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("streamed batches append exactly once; compaction + vacuum ride the cadence") {
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_s20_stream")
    try {
      val mem = MemoryStream[(Long, Long)]
      val query = AppendStream.start(
        mem.toDF().toDF("k", "x"), root,
        compactEvery = 3, targetBytes = 1L << 30, retain = 1)
      try {
        (0 until 6).foreach { i =>
          mem.addData((1L to 50L).map(j => (i * 100L + j, j)))
          query.processAllAvailable()
        }
      } finally query.stop()

      // all six batches present exactly once
      val live = Publish.read(spark, root)
      assert(live.count() == 300)
      assert(live.select("k").distinct().count() == 300)

      // compaction fired on cadence (batch ids 2 and 5): a 1 GB
      // target folds everything into one file, so the live version is
      // compact, not six file-sets deep
      assert(Compact.listDataFiles(
        s"$root/v=${Publish.currentVersion(root).get}").size <= 2,
        "maintenance did not collapse the per-batch fragmentation")
      // the batch-id marker survived the compaction version — replay
      // of the last batch is still refused
      assert(Publish.lastBatch(root).contains(5L))
      assert(!AppendStream.applyBatch(
        Seq((9999L, 1L)).toDF("k", "x"), 5L, root))
      // vacuum kept only live + retention window
      assert(Publish.listVersions(Paths.get(root)).size <= 3,
        s"vacuum left ${Publish.listVersions(Paths.get(root)).size} versions")
      // and the NEXT id continues the ingest normally
      assert(AppendStream.applyBatch(
        Seq((9999L, 1L)).toDF("k", "x"), 6L, root))
      assert(Publish.read(spark, root).count() == 301)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("stats cadence: the `_fstats` manifest rides compaction — carried rows re-point, pruning stays lossless") {
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_s20_stats")
    try {
      val mem = MemoryStream[(Long, Long)]
      // small target: early batches' files survive later compactions
      // at full size, so their stat rows must CARRY (re-point), not
      // re-scan
      val query = AppendStream.start(
        mem.toDF().toDF("k", "x"), root,
        compactEvery = 2, targetBytes = 8L * 1024, retain = 2,
        statsCols = Seq("k"))
      try {
        (0 until 6).foreach { i =>
          mem.addData(((i * 1000L + 1) to (i * 1000L + 500)).map(j => (j, j % 7)))
          query.processAllAvailable()
        }
      } finally query.stop()

      val live = Publish.currentVersion(root).get
      val liveDir = s"$root/v=$live"
      assert(Files.exists(Paths.get(graft.sources.FileStats.statsPath(liveDir))),
        "stats manifest missing from the live compacted version")

      // manifest covers exactly the live files, and pruning a k-range
      // is lossless vs the full scan
      val stats = spark.read.parquet(graft.sources.FileStats.statsPath(liveDir))
      val onDisk = Compact.listDataFiles(liveDir).map(_._1).toSet
      val inManifest = stats.select("file").collect()
        .map(r => r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)).toSet
      assert(inManifest == onDisk,
        s"manifest drift: missing=${onDisk -- inManifest} stale=${inManifest -- onDisk}")
      val pruned = graft.sources.FileStats.prunedRead(spark, liveDir,
          Seq(graft.sources.FileStats.Between("k", 2001L, 3200L)))
        .where(col("k").between(2001L, 3200L))
      val full = Publish.read(spark, root).where(col("k").between(2001L, 3200L))
      assert(pruned.count() == full.count(), "stats pruning lost rows mid-stream")
      assert(graft.sources.FileStats.candidateFiles(spark, liveDir,
        Seq(graft.sources.FileStats.Between("k", 2001L, 3200L))).size < onDisk.size,
        "clustered-by-batch key ranges should prune some files")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  /** The Spark jobs started while `body` runs, whatever their thread or
    * job group. A marker job brackets each side: the listener bus
    * delivers events in order, so every job `body` posted arrives
    * between the first marker's end and the second marker's start. */
  private def jobsFiredBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val markerGroup = "graft-job-count-marker"
    val markerIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerEnds = new java.util.concurrent.LinkedBlockingQueue[Integer]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    @volatile var counting = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == markerGroup))
          markerIds.add(e.jobId): Unit
        else if (counting) jobs.incrementAndGet(): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.remove(e.jobId)) { counting = !counting; markerEnds.put(e.jobId) }
    }
    def marker(): Unit = {
      sc.setJobGroup(markerGroup, markerGroup)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerEnds.poll(60, java.util.concurrent.TimeUnit.SECONDS) != null,
        "listener bus did not deliver the marker job")
    }
    sc.addSparkListener(listener)
    try { marker(); body; marker(); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("commit path job count: a plain append is one job; the cadence batch is pinned") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_s20_jobs")
    try {
      def batch(i: Long) =
        ((i * 1000L + 1) to (i * 1000L + 500)).map(j => (j, j % 7)).toDF("k", "x")
      def apply(i: Long): Int = jobsFiredBy {
        assert(AppendStream.applyBatch(batch(i), i, root, compactEvery = 2,
          targetBytes = 8L * 1024, statsCols = Seq("k"), statsKeyCols = Seq("k")))
      }
      // batches 0 and 2 are plain appends: the batch write is the only
      // job, since validation and the manifest come from the footers on
      // the driver. Batches 1 and 3 ride the compaction cadence: the
      // append write, four jobs for the compaction rewrite, and the
      // stats build's schema-inference read plus its two-stage
      // aggregate; batch 3's incremental refresh also infers the prior
      // manifest's schema and collects its file names. Bloom sizing
      // runs no job
      val jobs = (0L to 3L).map(apply)
      assert(jobs == Seq(1, 8, 1, 10), "Spark jobs per applyBatch")
      assert(jobsFiredBy(assert(!AppendStream.applyBatch(batch(3L), 3L, root))) == 0,
        "a refused replay runs no job")
      assert(Publish.read(spark, root).count() == 2000L)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }
}
