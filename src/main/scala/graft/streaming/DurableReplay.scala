package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared durable-streaming harness: stage a bounded events DataFrame
  * as TIME-ORDERED files, run `EventRollup.daily` over a file source
  * into a parquet sink with a checkpoint, STOP the query mid-backlog,
  * restart it from the checkpoint, drain, and flush the final windows
  * with a far-future sentinel. One implementation serves both the
  * runnable [[StreamDemo]] and `StreamingSpec`'s S5 recovery test —
  * the sentinel/watermark/flush interplay is fiddly enough that two
  * copies would drift.
  *
  * Mechanics that make this correct:
  *   - files are staged in event-time order with increasing mtimes, so
  *     the source (oldest-first) replays them in order and the
  *     watermark always trails unseen data — nothing is late-dropped;
  *   - the sentinel event sits far past max(ts) + watermark, so after
  *     its batch the watermark passes every real window and append
  *     mode emits them; the closing emission may ride the subsequent
  *     no-data micro-batch, hence the polling wait;
  *   - the parquet sink's transaction log makes a replayed batch
  *     idempotent — the restart cannot double-write a window.
  *
  * The staged input, sink and checkpoint directories come from
  * [[graft.tools.Scratch.tempDir]]: the returned sink DataFrames stay
  * readable until the JVM exits, which deletes them.
  */
object DurableReplay {

  /** The file source replays oldest-mtime-first; on filesystems with
    * coarse (1 s) timestamp granularity two staged files can TIE and
    * replay out of order — fatal to the order-sensitive state folds
    * this harness exists to test. So every staged file gets an
    * explicit strictly-increasing mtime (2 s apart, starting an hour
    * in the past so later un-stamped appends — [[run]]'s sentinel —
    * always sort after the staged backlog) instead of trusting
    * write-time clocks. */
  private final class Stamper(dir: String) {
    private val seen = scala.collection.mutable.Set.empty[String]
    private var t = System.currentTimeMillis() / 1000 * 1000 - 3600L * 1000

    /** Stamp the data files that appeared since the last call, in
      * name order (one staged file per call in practice). */
    def stampNew(): Unit = {
      val fresh = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.endsWith(".parquet") && !seen.contains(f.getName))
        .sortBy(_.getName)
      fresh.foreach { f =>
        t += 2000
        java.nio.file.Files.setLastModifiedTime(f.toPath,
          java.nio.file.attribute.FileTime.fromMillis(t))
        seen += f.getName: Unit
      }
    }
  }

  /** @param events bounded (event_id, event_type, user_id, ts, value)
    * @param expectRows rows the drained sink must reach (the batch
    *   twin's count) — polled with a deadline after the sentinel
    * @return (recovered non-sentinel sink rows, progress entries seen
    *   before the mid-backlog stop) */
  def run(spark: SparkSession, events: DataFrame, expectRows: Long): (DataFrame, Int) = {
    import spark.implicits._
    val inDir = graft.tools.Scratch.tempDir("graft_durable_in")
    val sinkDir = graft.tools.Scratch.tempDir("graft_durable_sink") + "/out"
    val ckptDir = graft.tools.Scratch.tempDir("graft_durable_ckpt")

    val w = org.apache.spark.sql.expressions.Window.orderBy("ts")
    val quartiled = events.withColumn("__q", ntile(4).over(w)).cache()
    val stamper = new Stamper(inDir)
    (1 to 4).foreach { i =>
      quartiled.where(col("__q") === i).drop("__q")
        .coalesce(1).write.mode("append").parquet(inDir)
      stamper.stampNew()
    }

    def mkQuery() = {
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      EventRollup.daily(stream)
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }

    // first incarnation: part of the backlog, then stop — offsets and
    // window state survive in the checkpoint
    val q1 = mkQuery()
    val stopDeadline = System.currentTimeMillis + 120000
    while (q1.recentProgress.length < 2 && System.currentTimeMillis < stopDeadline)
      Thread.sleep(50)
    val batchesBeforeStop = q1.recentProgress.length
    q1.stop()

    // second incarnation: resume, drain, sentinel-flush
    val q2 = mkQuery()
    try {
      q2.processAllAvailable()
      val maxTs = events.agg(max("ts")).head.getTimestamp(0)
      Seq((9999999L, "zz_sentinel", 0L,
          new java.sql.Timestamp(maxTs.getTime + 10L * 24 * 3600 * 1000), 0.0))
        .toDF("event_id", "event_type", "user_id", "ts", "value")
        .write.mode("append").parquet(inDir)
      q2.processAllAvailable()
      def sunk() = spark.read.parquet(sinkDir).where(col("event_type") =!= "zz_sentinel")
      val flushDeadline = System.currentTimeMillis + 60000
      while (sunk().count() < expectRows && System.currentTimeMillis < flushDeadline)
        Thread.sleep(200)
      (sunk(), batchesBeforeStop)
    } finally {
      q2.stop()
      quartiled.unpersist(): Unit
    }
  }

  /** Stateful-operator restart harness: stage `first` as time-ordered
    * files, run `transform` over a file-source stream into a parquet
    * sink with a checkpoint, drain, STOP, stage `second`, start a NEW
    * query incarnation on the SAME checkpoint, drain again, return the
    * sink. flatMapGroupsWithState keeps its per-key state in the
    * checkpoint's state store — the second incarnation must CONTINUE
    * that state, and a silent reset (wrong timeout config, state
    * schema drift) is exactly the failure mode this harness exposes:
    * it restores an empty store without erroring, so only the OUTPUT
    * of post-restart batches can reveal it.
    *
    * No sentinel/watermark dance here (unlike [[run]]): NoTimeout
    * append-mode flatMapGroupsWithState emits inside the processing
    * micro-batch, so processAllAvailable() fully drains the sink.
    *
    * @param orderCol column whose ascending order is the required
    *   cross-batch arrival order (state folds are order-sensitive);
    *   each half is staged as two files split by ntile over it, with
    *   increasing mtimes so the file source replays them in order */
  def runStateful(
      spark: SparkSession,
      first: DataFrame,
      second: DataFrame,
      orderCol: String,
      transform: DataFrame => DataFrame): DataFrame =
    runEvolving(spark, first, second, orderCol, transform, transform)

  /** foreachBatch-sink kill-and-restart harness (the S24r/S25r
    * pattern): stage each element of `firstParts` as ONE time-ordered
    * file (one file = one deterministic micro-batch under
    * maxFilesPerTrigger=1), start the caller-built query, KILL it as
    * soon as the sink's own commit marker shows the first batch
    * landed — the rest of the backlog is still unprocessed — then
    * restart the SAME checkpoint, drain, stage `secondParts`, drain
    * again. The sink's effects are external (a published table), so
    * the harness returns nothing; callers assert on the table and its
    * version accounting. The kill can interrupt a batch anywhere
    * around its commit: before the pointer flip the restart re-runs
    * it cleanly, after the flip the replayed id is REFUSED by the
    * sink's batch marker — either way the table and the version count
    * end deterministic, which is exactly the claim under test.
    *
    * @param committedBatch the sink's committed-batch-id reader
    *   (e.g. `CdcApplyStream.lastBatch(root)`) — the kill trigger */
  def runForeachRestart(
      spark: SparkSession,
      firstParts: Seq[DataFrame],
      secondParts: Seq[DataFrame],
      mkQuery: (DataFrame, String) => org.apache.spark.sql.streaming.StreamingQuery,
      committedBatch: () => Option[Long]): Unit = {
    val inDir = graft.tools.Scratch.tempDir("graft_febr_in")
    val ckptDir = graft.tools.Scratch.tempDir("graft_febr_ckpt")
    val stamper = new Stamper(inDir)
    def stage(parts: Seq[DataFrame]): Unit = parts.foreach { p =>
      p.coalesce(1).write.mode("append").parquet(inDir)
      stamper.stampNew()
    }
    def open() = mkQuery(
      spark.readStream.schema(firstParts.head.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      ckptDir)

    stage(firstParts)
    val q1 = open()
    val deadline = System.currentTimeMillis + 120000
    while (committedBatch().isEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(25)
    q1.stop()

    val q2 = open()
    try {
      q2.processAllAvailable()
      stage(secondParts)
      q2.processAllAvailable()
    } finally q2.stop()
  }

  /** [[runStateful]] with a DIFFERENT transform per incarnation — the
    * state-schema-evolution harness: incarnation 2 restarts the SAME
    * checkpoint with an operator whose state encoder has changed, so
    * the store must migrate restored values (Avro encoding) or refuse
    * the restart (UnsafeRow). Both transforms must emit the same
    * OUTPUT schema — the parquet sink is shared. */
  def runEvolving(
      spark: SparkSession,
      first: DataFrame,
      second: DataFrame,
      orderCol: String,
      firstTransform: DataFrame => DataFrame,
      secondTransform: DataFrame => DataFrame): DataFrame = {
    val inDir = graft.tools.Scratch.tempDir("graft_stateful_in")
    val sinkDir = graft.tools.Scratch.tempDir("graft_stateful_sink") + "/out"
    val ckptDir = graft.tools.Scratch.tempDir("graft_stateful_ckpt")

    // one stamper across both stage() calls: the second incarnation's
    // files must sort strictly after the first's
    val stamper = new Stamper(inDir)
    def stage(half: DataFrame): Unit = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
      val split = half.withColumn("__h", ntile(2).over(w)).cache()
      (1 to 2).foreach { i =>
        split.where(col("__h") === i).drop("__h")
          .coalesce(1).write.mode("append").parquet(inDir)
        stamper.stampNew()
      }
      split.unpersist(): Unit
    }

    def mkQuery(transform: DataFrame => DataFrame) = {
      val stream = spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      transform(stream)
        .writeStream.format("parquet")
        .option("path", sinkDir).option("checkpointLocation", ckptDir)
        .outputMode("append").start()
    }

    stage(first)
    val q1 = mkQuery(firstTransform)
    try q1.processAllAvailable() finally q1.stop()

    stage(second)
    val q2 = mkQuery(secondTransform)
    try q2.processAllAvailable() finally q2.stop()
    spark.read.parquet(sinkDir)
  }
}
