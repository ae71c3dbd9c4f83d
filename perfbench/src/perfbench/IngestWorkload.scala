package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Publish
import graft.streaming.AppendStream
import Harness._

/** ingest_append: a closed loop over batches of `events`. A pass starts
  * a file-source stream into `AppendStream.start` (publish, compaction
  * every 2 batches, incremental file stats) over a fresh table and
  * checkpoint; each step stages one batch file (one file per trigger),
  * waits for `processAllAvailable`, then runs one selective read of the
  * live table. The seed decides where the batch boundaries fall.
  *
  * Every read is checked against the fingerprint of the staged rows the
  * predicate selects, summed over the batches committed so far; after
  * the pass the whole table is checked against every staged row.
  */
final class IngestWorkload(o: Opts) {
  private val Batches = 4
  private val CompactEvery = 2
  private val TargetBytes = 256L * 1024
  private val selective = col("event_type") === "purchase" && col("value") >= 150.0

  private var spark: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private var trace: Trace = _

  /** Staged batch files, and per step the expected fingerprints of the
    * selective read and of the whole table (prefix sums over batches). */
  private final case class Inputs(staged: Seq[Path], expectRead: Seq[Print], expectAll: Seq[Print])

  /** One pass: its wall time, each commit's time, by batch the time of
    * each checked read and of its whole step (stage, commit, read), and
    * (traced) its layers and detail lines. */
  private final case class Pass(wall: Op, commits: Seq[Double], reads: Map[String, Op],
      steps: Map[String, Op], layers: Layers, detail: Seq[String])

  def run(): String = {
    var in: Inputs = null
    val setup = (0 until Setups).map { i =>
      if (spark != null) spark.stop()
      val dir = Paths.get(o.work).resolve(s"setup$i")
      val t0 = tick()
      val c0 = cpu()
      spark = session(o)
      val t1 = tick()
      in = stage(dir)
      val total = secs(t0, tick())
      val cpuS = secs(c0, cpu())
      if (i > 0) graft.sources.Sinks.deleteRecursively(Paths.get(o.work).resolve(s"setup${i - 1}"))
      progress(f"setup $i: $total%.3f s, cpu $cpuS%.3f s (session ${secs(t0, t1)}%.3f s)")
      (cpuS, secs(t0, t1), total)
    }
    if (o.trace) {
      trace = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(trace)
    }
    val rows = in.expectAll.last.n.toDouble
    val stagedBytes = in.staged.map(Files.size).sum.toDouble
    val untraced = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    val t0 = tick()
    var i = 0
    while (secs(t0, tick()) < o.seconds || untraced.size < MinPasses ||
        (o.trace && traced.size < MinTracedPasses)) {
      if (o.trace && i % 2 == 1) traced += pass(i, traced = true, in)
      else untraced += pass(i, traced = false, in)
      i += 1
    }
    val wall = untraced.map(_.wall.wall).min
    val commits = untraced.flatMap(_.commits).toSeq
    val reads = minima(untraced.map(_.reads.map { case (k, op) => k -> op.wall }).toSeq)
    val stepCpus = minima(untraced.map(_.steps.map { case (k, op) => k -> op.cpu }).toSeq)
    val (p, commitTail) = tail(commits)
    val spaceAmp = bytesOnDisk(Paths.get(o.work).resolve(s"pass${i - 1}/table")) / stagedBytes
    println(obj("inputs" -> Raw(obj("table" -> "events", "rows" -> rows, "bytes" -> stagedBytes,
      "batches" -> in.staged.size))))
    println(obj("ingest_rows_per_s" -> rows / wall, "commit_p50_s" -> med(commits),
      s"commit_p${p}_s" -> commitTail, "commits" -> commits.size.toDouble,
      "read_p50_s" -> med(untraced.flatMap(_.reads.values.map(_.wall)).toSeq),
      "space_amp" -> spaceAmp, "wall_s" -> wall, "query_gmean_s" -> gmean(reads.values),
      "setup_wall_s" -> med(setup.map(_._3))))
    val values =
      if (!o.trace) Seq(
        "cpu_s" -> untraced.map(_.wall.cpu).min,
        "op_cpu_s" -> gmean(stepCpus.values),
        "ok_frac" -> (attempted - failed).toDouble / attempted,
        "setup_s" -> med(setup.map(_._1)),
        "peak_rss_mb" -> peakRssMb())
      else {
        traced.last.detail.foreach(println)
        val layers = medians(traced.map(_.layers.v).toSeq)
        val trCommits = traced.flatMap(_.commits).toSeq
        val trWall = traced.map(_.wall.wall).min
        (layers ++ Map(
          "exec.util" -> (if (layers("exec.action_s") > 0)
            layers("exec.task_s") / (layers("exec.action_s") * o.cores) else 0.0),
          "sources.write_amp" -> layers("sources.bytes_written") / stagedBytes,
          "sources.space_amp" -> spaceAmp,
          "GraftSession.build_s" -> med(setup.map(_._2)),
          "ingest.rows_per_s" -> rows / trWall,
          "ingest.commit_p50_s" -> med(trCommits),
          "ingest.commit_tail_s" -> tail(trCommits)._2,
          "ingest.read_p50_s" -> med(traced.flatMap(_.reads.values.map(_.wall)).toSeq),
          "trace.overhead_frac" -> (trWall / wall - 1))).toSeq
      }
    result(values, failed == 0, attempted, failed)
  }

  /** Splits the generated `events` into the seed's batch files under
    * `dir`, and computes the expected results. */
  private def stage(dir: Path): Inputs = {
    val events = spark.read.parquet(s"${o.data}/events.parquet")
    val n = DataGen.rows(o.sf)("events")
    // B-1 distinct cut points over the event_id order: contiguous batches
    val rng = new scala.util.Random(o.seed)
    val cuts = rng.shuffle((1L until n).toVector).take(Batches - 1).sorted
    val batch = cuts.foldLeft(lit(0))((acc, c) => acc + when(col("event_id") >= c, 1).otherwise(0))
    val tagged = events.withColumn("batch", batch)
    tagged.repartition(1).write.partitionBy("batch").parquet(dir.resolve("staged").toString)
    val staged = (0 until Batches).map { b =>
      val s = Files.list(dir.resolve(s"staged/batch=$b"))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.head
      finally s.close()
    }
    // per batch: the fingerprint of all its rows and of the rows the read selects
    val h = rowHash(events)
    val aggs = fpAggs(h) ++ fpAggs(when(selective, h))
    val byBatch = tagged.groupBy("batch").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.getInt(0) -> (Print.of(r, 1), Print.of(r, 4))).toMap
      .withDefaultValue((Print.Zero, Print.Zero))
    val per = (0 until Batches).map(byBatch)
    Inputs(staged, per.map(_._2).scanLeft(Print.Zero)(_ + _).tail,
      per.map(_._1).scanLeft(Print.Zero)(_ + _).tail)
  }

  /** Ingests every batch of `inputs` into a fresh table. */
  private def pass(i: Int, traced: Boolean, inputs: Inputs): Pass = {
    val Inputs(staged, expectRead, expectAll) = inputs
    val dir = Paths.get(o.work).resolve(s"pass$i")
    if (i > 0) graft.sources.Sinks.deleteRecursively(Paths.get(o.work).resolve(s"pass${i - 2}"))
    val in = Files.createDirectories(dir.resolve("in"))
    val root = dir.resolve("table").toString
    val sc = spark.sparkContext
    val layers = new Layers
    val detail = mutable.ArrayBuffer.empty[String]
    val commits = mutable.ArrayBuffer.empty[Double]
    val reads = mutable.LinkedHashMap.empty[String, Op]
    val steps = mutable.LinkedHashMap.empty[String, Op]
    val schema = spark.read.parquet(staged.head.toString).schema
    var written = Map.empty[Any, (Long, Boolean)]
    val p0 = tick()
    val pc0 = cpu()
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in.toString)
    val q = AppendStream.start(stream, root, CompactEvery, TargetBytes, retain = 1,
      checkpointLocation = Some(dir.resolve("checkpoint").toString),
      statsCols = Seq("value"), statsKeyCols = Seq("user_id"))
    try {
      for ((file, b) <- staged.zipWithIndex) {
        attempted += 2
        val t0 = tick()
        val c0 = cpu()
        Files.createLink(in.resolve(f"batch-$b%03d.parquet"), file)
        q.processAllAvailable()
        val t1 = tick()
        val c1 = cpu()
        commits += secs(t0, t1)
        try {
          if (traced) sc.setJobGroup(s"read-$i-$b", "read", interruptOnCancel = false)
          val read = Publish.read(spark, root).where(selective)
          val got = Print.of(fingerprint(read))
          val t2 = tick()
          val c2 = cpu()
          sc.clearJobGroup()
          if (got == expectRead(b)) {
            reads(s"read$b") = Op(secs(t1, t2), secs(c1, c2))
            steps(s"step$b") = Op(secs(t0, t2), secs(c0, c2))
          } else {
            failed += 1
            System.err.println(s"perfbench: read after batch $b: $got, expected ${expectRead(b)}")
          }
          if (traced) {
            val d = triggerDurations(q, b)
            trace.sync()
            val a = trace.take(s"read-$i-$b")
            val onDisk = inodes(Paths.get(root))
            val fresh = onDisk -- written.keySet
            written = onDisk
            val step = Seq(
              "sources.commit_s" -> d("addBatch"),
              "sources.bytes_written" -> fresh.values.map(_._1).sum.toDouble,
              "sources.files_written" -> fresh.values.count(_._2).toDouble,
              "sources.read_files" -> read.inputFiles.length.toDouble,
              "streaming.trigger_s" -> d("triggerExecution"),
              "streaming.wal_commit_s" -> d("walCommit"),
              "streaming.latest_offset_s" -> d("latestOffset"),
              "streaming.query_planning_s" -> d("queryPlanning"),
              "exec.action_s" -> secs(t1, t2),
              "exec.jobs" -> a.jobs.toDouble,
              "exec.stages" -> a.stages.toDouble,
              "exec.tasks" -> a.tasks.toDouble,
              "exec.task_s" -> a.taskNanos / 1e9,
              "exec.input_rows" -> a.inputRows.toDouble,
              "exec.input_bytes" -> a.inputBytes.toDouble,
              "exec.shuffle_write_bytes" -> a.shuffleWriteBytes.toDouble,
              "exec.shuffle_read_bytes" -> a.shuffleReadBytes.toDouble,
              "exec.spill_bytes" -> a.spillBytes.toDouble,
              "exec.gc_s" -> a.gcMs / 1e3,
              "exec.task_failures" -> a.taskFailures.toDouble)
            step.foreach { case (k, v) => layers.add(k, v) }
            detail += obj(Seq("batch" -> b, "rows" -> expectRead(b).n, "commit_s" -> secs(t0, t1),
              "read_s" -> secs(t1, t2)) ++ step: _*)
          }
        } catch {
          case NonFatal(t) =>
            sc.clearJobGroup()
            failed += 1
            System.err.println(s"perfbench: read after batch $b failed: $t")
        }
      }
    } finally q.stop()
    val wall = Op(secs(p0, tick()), secs(pc0, cpu()))
    progress(f"pass: ${wall.wall}%.3f s, cpu ${wall.cpu}%.3f s${if (traced) " (traced)" else ""}")
    if (traced) {
      val c = trace.take(q.runId.toString)
      layers.add("sources.commit_jobs", c.jobs.toDouble)
      // per-batch layers are reported as means over the pass's batches
      for (k <- Seq("sources.commit_s", "sources.read_files", "streaming.trigger_s",
          "streaming.wal_commit_s", "streaming.latest_offset_s", "streaming.query_planning_s"))
        layers.v(k) = layers.v(k) / Batches
    }
    attempted += 1
    val all = Print.of(fingerprint(Publish.read(spark, root)))
    if (all != expectAll.last) {
      failed += 1
      System.err.println(s"perfbench: table after pass $i: $all, expected ${expectAll.last}")
    }
    Pass(wall, commits.toSeq, reads.toMap, steps.toMap, layers, detail.toSeq)
  }

  /** Trigger durations (s) of micro-batch `b`, from the query's progress. */
  private def triggerDurations(q: org.apache.spark.sql.streaming.StreamingQuery, b: Int): Map[String, Double] = {
    val deadline = tick() + 10L * 1000000000L
    var found: Option[org.apache.spark.sql.streaming.StreamingQueryProgress] = None
    while (found.isEmpty && tick() < deadline) {
      found = q.recentProgress.find(_.batchId == b)
      if (found.isEmpty) Thread.sleep(2)
    }
    found.map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap)
      .getOrElse(Map.empty).withDefaultValue(0.0)
  }
}
