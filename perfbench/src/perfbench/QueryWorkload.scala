package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{CacheScope, SparkEntry}
import Harness._

/** queries_sf01: passes over a fixed query list in a seed-shuffled
  * order, on the generated tables. One operation is one
  * registry query: its construction (the registry `fn` call), its action
  * (the fingerprint aggregate) and `CacheScope.releaseAll`.
  */
final class QueryWorkload(o: Opts) {
  private val registry = SparkEntry.queries
  private val fns = Queries.map(q => q -> registry.collectFirst {
    case (k, f) if k.takeWhile(_ != '_') == q => f
  }.getOrElse(sys.error(s"$q is not in SparkEntry.queries"))).toMap
  private val tmp = Paths.get(sys.props("java.io.tmpdir"))

  private var spark: SparkSession = _
  private var attempted = 0L
  private var failed = 0L
  private val pins = new Pins(o, s"sf${o.sf}")
  private var trace: Trace = _

  def run(): String = {
    val setup = setUp()
    val rng = new scala.util.Random(o.seed)
    if (o.trace) {
      trace = new Trace(spark.sparkContext)
      spark.sparkContext.addSparkListener(trace)
    }
    // passes until `seconds` have passed and there are enough of each kind
    val untraced = mutable.ArrayBuffer.empty[Map[String, Op]]
    val traced = mutable.ArrayBuffer.empty[(Map[String, Op], Layers)]
    val scratch = mutable.ArrayBuffer.empty[(String, Double)]
    val detail = mutable.ArrayBuffer.empty[String]
    val t0 = tick()
    var i = 0
    while (secs(t0, tick()) < o.seconds || untraced.size < MinPasses ||
        (o.trace && traced.size < MinTracedPasses)) {
      val order = rng.shuffle(Queries)
      if (o.trace && i % 2 == 1) {
        val layers = new Layers
        detail.clear()
        traced += pass(order, Some((layers, detail)))._1 -> layers
      } else {
        val (times, built) = pass(order, None)
        untraced += times
        scratch ++= built
      }
      i += 1
    }
    pins.record()
    println(obj("inputs" -> Raw(QueryTables.map { t =>
      val path = s"${o.data}/$t.parquet"
      obj("table" -> t, "rows" -> spark.read.parquet(path).count(),
        "bytes" -> bytesOnDisk(Paths.get(path)))
    }.mkString("[", ", ", "]"))))
    detail.foreach(println)
    val fastest = minima(untraced.map(_.map { case (q, op) => q -> op.wall }).toSeq)
    val leastCpu = minima(untraced.map(_.map { case (q, op) => q -> op.cpu }).toSeq)
    println(obj("query_s" -> Raw(obj(fastest.toSeq.sortBy(_._1): _*)),
      "query_cpu_s" -> Raw(obj(leastCpu.toSeq.sortBy(_._1): _*)),
      "wall_s" -> fastest.values.sum, "query_gmean_s" -> gmean(fastest.values),
      "setup_wall_s" -> med(setup.map(_._3))))
    val values =
      if (!o.trace) Seq(
        "cpu_s" -> leastCpu.values.sum,
        "op_cpu_s" -> gmean(leastCpu.values),
        "ok_frac" -> (attempted - failed).toDouble / attempted,
        "setup_s" -> med(setup.map(_._1)),
        "peak_rss_mb" -> peakRssMb())
      else {
        val layers = medians(traced.map(_._2.v).toSeq)
        val actionS = layers("exec.action_s")
        // a first construction that built a Scratch artifact, less the
        // same query's construction once the artifact exists
        val scratchS = scratch.map { case (q, c) => c - layers(s"construct:$q") }.sum
        (layers.filterNot(_._1.startsWith("construct:")) ++ Map(
          "exec.util" -> (if (actionS > 0) layers("exec.task_s") / (actionS * o.cores) else 0.0),
          "GraftSession.build_s" -> med(setup.map(_._2)),
          "Scratch.build_s" -> math.max(0.0, scratchS),
          "trace.overhead_frac" -> (minima(traced.map(_._1.map { case (q, op) => q -> op.wall })
            .toSeq).values.sum / fastest.values.sum - 1))).toSeq
      }
    result(values, failed == 0, attempted, failed)
  }

  /** Builds a session and reads back the row count of each table the
    * queries read, `Setups` times; the last set-up's session is kept.
    * Returns per set-up its CPU seconds, session build seconds and wall
    * seconds. */
  private def setUp(): Seq[(Double, Double, Double)] =
    (0 until Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = tick()
      val c0 = cpu()
      spark = session(o)
      val build = secs(t0, tick())
      QueryTables.foreach(t => spark.read.parquet(s"${o.data}/$t.parquet").count())
      val total = secs(t0, tick())
      val cpuS = secs(c0, cpu())
      progress(f"setup $i: $total%.3f s, cpu $cpuS%.3f s (session $build%.3f s)")
      (cpuS, build, total)
    }

  private def scratchMarkers(): Set[String] = {
    val s = Files.list(tmp)
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.contains("_done_")).toSet
    finally s.close()
  }

  /** One pass over `order`. Returns the wall and CPU time of each query
    * that passed its check, and the construction time of each query that
    * built a Scratch artifact. With `traced`, adds every query's
    * layer split to the layers and a detail line per query. */
  private def pass(order: Seq[String], traced: Option[(Layers, mutable.Buffer[String])])
      : (Map[String, Op], Seq[(String, Double)]) = {
    val sc = spark.sparkContext
    val times = mutable.LinkedHashMap.empty[String, Op]
    val scratch = mutable.ArrayBuffer.empty[(String, Double)]
    for (q <- order) {
      attempted += 1
      val group = s"$q-$attempted"
      val marks = if (traced.isEmpty) scratchMarkers() else Set.empty[String]
      try {
        if (traced.nonEmpty) sc.setJobGroup(group + "/construct", q, interruptOnCancel = false)
        val t0 = tick()
        val c0 = cpu()
        val df = fns(q)(spark, o.data)
        val t1 = tick()
        if (traced.nonEmpty) sc.setJobGroup(group + "/action", q, interruptOnCancel = false)
        val fp = fingerprint(df)
        val got = Print.of(fp)
        val t2 = tick()
        val c2 = cpu()
        sc.clearJobGroup()
        CacheScope.releaseAll(spark)
        val t3 = tick()
        if (traced.isEmpty && scratchMarkers() != marks) scratch += q -> secs(t0, t1)
        if (pins.check(q, got)) times(q) = Op(secs(t0, t2), secs(c0, c2))
        else {
          failed += 1
          System.err.println(s"perfbench: $q fingerprint $got does not match")
        }
        traced.foreach { case (layers, detail) =>
          val phases = fp.queryExecution.tracker.phases
          def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          trace.sync()
          val c = trace.take(group + "/construct")
          val a = trace.take(group + "/action")
          val split = Seq(
            "SparkEntry.construct_s" -> secs(t0, t1),
            "SparkEntry.construct_jobs" -> c.jobs.toDouble,
            "plans.analysis_s" -> phase("analysis"),
            "plans.optimization_s" -> phase("optimization"),
            "plans.planning_s" -> phase("planning"),
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
            "exec.task_failures" -> a.taskFailures.toDouble,
            "CacheScope.release_s" -> secs(t2, t3))
          split.foreach { case (k, v) => layers.add(k, v) }
          layers.add(s"construct:$q", secs(t0, t1))
          detail += obj(Seq("query" -> q, "module" -> Module(q),
            "construct_exec_jobs" -> c.jobs.toDouble, "construct_task_s" -> c.taskNanos / 1e9) ++
            split.filterNot(_._1 == "SparkEntry.construct_jobs"): _*)
        }
      } catch {
        case NonFatal(t) =>
          sc.clearJobGroup()
          failed += 1
          System.err.println(s"perfbench: $q failed: $t")
      }
    }
    progress(f"pass: ${times.values.map(_.wall).sum}%.3f s, cpu ${times.values.map(_.cpu).sum}%.3f s" +
      (if (traced.nonEmpty) " (traced)" else ""))
    (times.toMap, scratch.toSeq)
  }
}
