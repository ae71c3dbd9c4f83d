package graft
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.AtomicBoolean

/** Full-registry benchmark main. Prints ONE stdout contract line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":N}`
  * and writes the untruncated per-query record (full names, spreads,
  * error messages) to tools/bench_full_latest.json.
  *
  * Hardened after the r13 driver run (rc=124 timeout, parsed:null,
  * 7 swallowed per-query exceptions):
  *  - the sidecar is rewritten after EVERY query, so a killed run
  *    still leaves a complete record of everything that finished;
  *  - the contract line is emitted from a JVM shutdown hook (sbt's
  *    forked-process teardown delivers SIGTERM → hooks run), so even
  *    a driver timeout yields parsed partial totals;
  *  - a throwing query records {"sec":-1,"err":"<class>: <msg>"} in
  *    the sidecar — never a bare unexplained -1;
  *  - failure markers are budgeted into the stdout dict FIRST, so a
  *    throwing query can never be truncated out of the contract line;
  *  - warmup reads the shared base tables once (footers + page cache)
  *    instead of an untimed full-registry pass — r13 crossed the
  *    driver wall-clock budget largely on that hidden third run;
  *  - the third sample is taken only when the first two DISAGREE
  *    (spread/best > 0.5), not for everything over 2 s.
  */
object Bench {
  private case class Rec(sec: Double, spread: Double, err: String)
  // insertion-ordered, volatile: the shutdown hook reads it from
  // another thread while the main loop appends
  @volatile private var results: Vector[(String, Rec)] = Vector.empty
  @volatile private var sfDir: String = ""
  private val printed = new AtomicBoolean(false)

  private def f3(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }

  /** The one stdout line the driver parses. Must survive a bounded
    * 2000-char TAIL capture, so the per-query dict is budgeted:
    * failure markers first (always visible), then entries by time
    * DESC while the dict stays under 1500 chars. Full-precision,
    * full-name timings live in the sidecar. Safe to call from the
    * shutdown hook: prints at most once. */
  private def emitContract(): Unit = {
    if (!printed.compareAndSet(false, true)) return
    val snap = results
    def shortKey(k: String): String = k.takeWhile(_ != '_')
    val failed = snap.filter(_._2.sec < 0)
      .map { case (k, _) => "\"" + shortKey(k) + "\":-1.000" }
    val timed = snap.filter(_._2.sec >= 0)
      .sortBy { case (_, r) => -r.sec }
      .map { case (k, r) => "\"" + shortKey(k) + "\":" + f3(r.sec) }
    val budgeted = scala.collection.mutable.ArrayBuffer.empty[String]
    var dictLen = 2 // braces
    for (e <- failed ++ timed if dictLen + e.length + 1 <= 1500) {
      budgeted += e; dictLen += e.length + 1
    }
    val qs = budgeted.mkString("{", ",", "}")
    // failures must not subtract from (or fake-improve) the total
    val total = snap.map(_._2.sec).filter(_ >= 0).sum
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    val nerr = snap.count(_._2.sec < 0)
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"sf":$sfNum,"done":${snap.size},"errors":$nerr}""")
    Console.out.flush()
  }

  /** Full record, rewritten after every query (the file is ~40 KB at
    * 207 entries — cheap to rewrite, and an atomic-rename keeps a
    * killed run from leaving a torn JSON). */
  private def writeSidecar(): Unit = {
    val snap = results
    val total = snap.map(_._2.sec).filter(_ >= 0).sum
    val full = snap.map { case (k, r) =>
      val err = if (r.err.isEmpty) "" else s""","err":"${jsonEsc(r.err)}""""
      s""""$k":{"sec":${r.sec},"spread":${r.spread}$err}"""
    }.mkString("{", ",", "}")
    val out = java.nio.file.Paths.get("tools/bench_full_latest.json")
    Option(out.getParent).foreach(p => java.nio.file.Files.createDirectories(p): Unit)
    val tmp = java.nio.file.Paths.get("tools/.bench_full_latest.json.tmp")
    java.nio.file.Files.writeString(tmp,
      s"""{"total":$total,"sf":"$sfDir","n":${snap.size},"queries":$full}\n"""): Unit
    java.nio.file.Files.move(tmp, out,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def main(args: Array[String]): Unit = {
    sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    // rc=124 insurance: the driver's `timeout` SIGTERM reaches the
    // forked JVM through sbt's process teardown, and hooks still run
    java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => emitContract()))
    // warmup: parquet footers + OS page cache for the shared base
    // tables, one pass — NOT the full registry (that hidden extra
    // execution of all 207 queries is what pushed r13 past the
    // driver's wall-clock budget)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"))
      try Tables.table(spark, sfDir, t).count(): Unit
      catch { case _: Throwable => () }

    var lastErr = ""
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch { case t: Throwable =>
        val msg = Option(t.getMessage).getOrElse("").take(160)
        lastErr = s"${t.getClass.getName}: $msg"
        -1.0
      }
    }
    for ((name, fn) <- SparkEntry.queries) {
      lastErr = ""
      // min of two timed runs: local[32] scheduling/GC noise swings
      // single runs by ±50% on the heavy similarity queries; run 1
      // also absorbs per-query codegen/JIT now that the registry-wide
      // warmup pass is gone
      val a = timeOnce(fn)
      // release BETWEEN runs: queries that persist an intermediate
      // (q17/q32) would otherwise serve run b from run a's cache
      CacheScope.releaseAll(spark): Unit
      val b = timeOnce(fn)
      CacheScope.releaseAll(spark): Unit
      val samples = collection.mutable.ArrayBuffer(a, b)
      var best = if (a < 0 || b < 0) -1.0 else math.min(a, b)
      // third sample only when the first two DISAGREE — convergence
      // is the point, so gate on relative spread, not absolute time
      if (best > 0 && (samples.max - samples.min) / best > 0.5) {
        val c = timeOnce(fn)
        CacheScope.releaseAll(spark): Unit
        samples += c
        if (c >= 0) best = math.min(best, c)
      }
      val valid = samples.filter(_ >= 0)
      val spread = if (valid.isEmpty) -1.0 else valid.max - valid.min
      results = results :+ (name -> Rec(best, spread, if (best < 0) lastErr else ""))
      writeSidecar()
    }
    emitContract()
    spark.stop()
  }
}
