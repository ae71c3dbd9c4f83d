package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** One benchmark run: set up a workload's inputs, run its operations
  * in a closed loop (one driver thread, one operation at a time) for a
  * fixed time, check every result, and print the measured values as one
  * JSON line. Launched by `perfbench/run.py`, which builds the classpath,
  * generates the input tables ([[Prepare]]) and passes the options below.
  *
  *   --workload queries_sf01|ingest_append
  *   --seed n --seconds s --trace 0|1
  *   --work dir      per-run scratch directory (tables, Spark temp)
  *   --sf x          scale factor of the generated tables
  *   --data dir      the tables [[Prepare]] generated at that scale
  *   --cores n       local[n]
  *   --pins file     pinned fingerprints (tsv)
  *   --record file   append this run's fingerprints to a file (tsv)
  */
object Harness {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, sf: Double, data: String, cores: Int,
      pins: Option[String], record: Option[String])

  /** queries_sf01: flagship ETL queries and global-rank queries, and
    * the tables they read. */
  val Queries: Seq[String] = Seq("q10", "q12", "q196")
  val QueryTables: Seq[String] = Seq("customer", "orders", "lineitem", "events", "documents")

  /** Main operator module of each query ("sql" when it calls none). */
  val Module: Map[String, String] =
    Map("q10" -> "operators", "q12" -> "sql", "q196" -> "text")

  /** Set-ups per run; setup_s is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try {
      val r = o.workload match {
        case "queries_sf01" => new QueryWorkload(o).run()
        case "ingest_append" => new IngestWorkload(o).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      progress("done")
      println("PERFBENCH_RESULT " + r)
      0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    } finally SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("sf").toDouble, m("data"), m("cores").toInt, m.get("pins"), m.get("record"))
  }

  // ---------------------------------------------------------------
  // shared helpers
  // ---------------------------------------------------------------

  def tick(): Long = System.nanoTime()

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM, every thread, in nanoseconds. Unlike
    * wall time it leaves out the time the hypervisor gives to other
    * guests, which on the VMs this runs on comes in bursts that slow a
    * whole run by up to half. */
  def cpu(): Long = os.getProcessCpuTime

  /** Seconds between two `tick`s. */
  def secs(from: Long, to: Long): Double = (to - from) / 1e9

  /** Progress line on stderr, with seconds since the JVM started. */
  def progress(msg: String): Unit = System.err.println(
    f"perfbench [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s] $msg")

  /** Untraced passes a run makes at least. An operation's time is its
    * fastest pass, which leaves out the first, colder pass. */
  val MinPasses = 3

  /** Traced passes a traced run makes at least, between untraced ones. */
  val MinTracedPasses = 2

  /** Each key's median over the samples that have it. */
  def medians(samples: Seq[collection.Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map(k => k -> med(samples.flatMap(_.get(k)))).toMap

  /** Each key's minimum over the samples that have it. */
  def minima(samples: Seq[collection.Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map(k => k -> samples.flatMap(_.get(k)).min).toMap

  def gmean(xs: Iterable[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least one sample above it, by
    * nearest rank, and its value: the second-highest sample. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    if (s.size < 2) (100, s.last) else (100 * (s.size - 1) / s.size, s(s.size - 2))
  }

  /** Order-independent fingerprint that reads every output column: the
    * row count and two sums over the halves of a per-row xxhash64. */
  def fingerprint(df: DataFrame): DataFrame = {
    val aggs = fpAggs(col("h"))
    df.select(rowHash(df).as("h")).agg(aggs.head, aggs.tail: _*)
  }

  def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.toSeq.map(c => df.col("`" + c.replace("`", "``") + "`")): _*)

  /** The fingerprint's aggregates over row hashes `h`; rows where `h`
    * is null do not count. */
  def fpAggs(h: Column): Seq[Column] = Seq(
    count(h),
    coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
    coalesce(sum(shiftright(h, 32)), lit(0L)))

  final case class Print(n: Long, lo: Long, hi: Long) {
    def +(o: Print): Print = Print(n + o.n, lo + o.lo, hi + o.hi)
    override def toString: String = s"$n:$lo:$hi"
  }
  object Print {
    val Zero: Print = Print(0, 0, 0)
    def of(fp: DataFrame): Print = of(fp.collect()(0), 0)
    def of(r: Row, at: Int): Print = Print(r.getLong(at), r.getLong(at + 1), r.getLong(at + 2))
    def parse(s: String): Print = {
      val Array(n, lo, hi) = s.split(":").map(_.toLong)
      Print(n, lo, hi)
    }
  }

  /** Pinned results: (workload, scale, key) -> (mode, fingerprint);
    * mode "rows" checks the row count only. */
  final class Pins(o: Opts, scale: String) {
    private val pinned: Map[String, (String, Print)] = o.pins.filter(p => Files.exists(Paths.get(p)))
      .map(p => Files.readAllLines(Paths.get(p)).asScala.toSeq).getOrElse(Nil)
      .filterNot(l => l.isBlank || l.startsWith("#")).map(_.split("\t"))
      .collect { case Array(w, s, key, mode, fp) if w == o.workload && s == scale =>
        key -> (mode, Print.parse(fp)) }.toMap
    private val seen = mutable.LinkedHashMap.empty[String, Print]

    /** True when `got` matches the pin, or there is no pin and it matches
      * every earlier result for `key` in this run. */
    def check(key: String, got: Print): Boolean = {
      val ok = pinned.get(key) match {
        case Some(("rows", p)) => p.n == got.n
        case Some((_, p)) => p == got
        case None => seen.get(key).forall(_ == got)
      }
      seen.getOrElseUpdate(key, got)
      ok
    }

    def record(): Unit = o.record.foreach { f =>
      val lines = seen.map { case (k, p) => s"${o.workload}\t$scale\t$k\thash\t$p" }
      Files.write(Paths.get(f), (lines.mkString("\n") + "\n").getBytes,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND): Unit
    }
  }

  /** The regular files under `root` by inode (hard links share one), with
    * their size and whether they are parquet data files. */
  def inodes(root: Path): Map[Any, (Long, Boolean)] =
    if (!Files.exists(root)) Map.empty else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        Files.getAttribute(f, "unix:ino") -> (Files.size(f), f.toString.endsWith(".parquet"))).toMap
      finally s.close()
    }

  /** Bytes on disk under `root`, each hard-linked file once. */
  def bytesOnDisk(root: Path): Long = inodes(root).values.map(_._1).sum

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The result line: whether every check passed, the operation counts,
    * and each measured value by metric name. */
  def result(values: Seq[(String, Double)], correct: Boolean, attempted: Long,
      failed: Long): String =
    obj("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "values" -> Raw(obj(values: _*)))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** A value `obj` writes as it is, not as a string. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): String = kv.map {
    case (k, Raw(j)) => s""""$k": $j"""
    case (k, v: String) => s""""$k": "$v""""
    case (k, v: Double) => s""""$k": ${num(v)}"""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")

  def session(o: Opts): SparkSession = GraftSession.build(s"local[${o.cores}]", o.cores)
}

/** Wall and CPU seconds of one operation. */
final case class Op(wall: Double, cpu: Double)

/** Per-pass totals of the traced layers. */
final class Layers {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
}

/** Writes the generated tables of one scale factor into a directory, in a
  * JVM of its own, before the measured run starts.
  *
  *   perfbench.Prepare <out dir> <sf>
  */
object Prepare {
  /** Data generator seed: the inputs are the same for every run seed,
    * which decides query order and batch boundaries, so a result has
    * one correct fingerprint per (workload, scale). */
  val DataSeed = 42L

  def main(args: Array[String]): Unit = {
    val Array(out, sf) = args
    val cores = sys.env("SPARK_GRAFT_CPUS").toInt
    val spark = GraftSession.build(s"local[$cores]", cores)
    try DataGen.write(spark, out, sf.toDouble, DataSeed)
    finally spark.stop()
  }
}
