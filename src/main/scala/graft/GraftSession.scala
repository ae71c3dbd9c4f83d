package graft

import org.apache.spark.sql.SparkSession

/** Tuned local SparkSession factory for tests and ad-hoc runs.
  *
  * The same conf keys are what we'd set cluster-side: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), modest
  * shuffle parallelism for local mode, UTC session time.
  */
object GraftSession {
  def local(threads: Int = 32): SparkSession =
    build(s"local[$threads]", threads)

  /** The single tuned builder every graft entry point (tests, Verify,
    * Bench, demos) goes through — one place for the parity-critical
    * flags (UTC, nanosAsLong) and the scale posture (AQE + skew join),
    * so a future required config cannot silently diverge between the
    * verified and the benchmarked session. */
  def build(master: String, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(master)
      .appName("graft")
      // the full extension surface (functions + optimizer rules), the
      // same path an embedding application gets via
      // spark.sql.extensions=graft.functions.GraftExtensions
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // long-lived-driver hygiene: the SQL status store retains up to
      // 1000 execution graphs (plans + per-stage metrics) even with
      // the UI off, and ContextCleaner only drops a finished query's
      // shuffle files after a JVM GC notices the dropped references —
      // on a big heap that may be never. A 207-query bench JVM (or a
      // months-lived cluster driver) accumulates both until every
      // later query pays listener + GC + shuffle-dir overhead for the
      // whole history: r13/r14 measured unrelated queries inflating
      // 2-30× late in one session. Bound the store, GC periodically.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "32")
      .config("spark.ui.retainedStages", "64")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.cleaner.periodicGC.interval", "90s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning is demoted to a
    // SPEC, not a log line: every intentional global window in this
    // repo runs over a k-row-bounded input (top-k ranks, bounded key
    // grains), and QueriesSpec's registry walk reads every registry
    // query's optimized plan asserting the set of unpartitioned
    // windows equals that pinned allowlist — a NEW one is a failing
    // test. The log suppression exists because r13's driver bench
    // tail was 2000 chars of exactly this warning repeated, burying
    // the bench's stdout contract line (BENCH_r13 parsed:null).
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
