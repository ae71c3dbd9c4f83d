package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Scd
import graft.sources.Publish
import graft.streaming.Scd2ApplyStream
import graft.tools.Scratch

case class Scd2Change(wallet: Long, day: java.sql.Date, tier: String)

/** S27 (streaming/Scd2ApplyStream): a change stream folded into a
  * published SCD2 dimension — batch-sequential equivalence with the
  * full recompute, commit-level exactly-once (replay refused),
  * file-pruned rewrites (untouched files carry byte-identically),
  * and restartable end-to-end streaming. */
class Scd2ApplyStreamSpec extends SparkSpec {

  private def dt(s: String) = java.sql.Date.valueOf(s)

  private def ch(w: Long, d: String, t: String) = Scd2Change(w, dt(d), t)

  private val DimCols =
    Seq("wallet", "tier", "version", "valid_from", "valid_to", "is_current")

  private def dimSet(root: String): Set[Seq[Any]] =
    Publish.read(spark, root).select(DimCols.map(col): _*)
      .collect().map(_.toSeq).toSet

  private def recompute(all: Seq[Scd2Change]): Set[Seq[Any]] = {
    val sess = spark
    import sess.implicits._
    Scd.scd2History(all.toDF(), Seq("wallet"), "day", Seq("tier"))
      .select(DimCols.map(col): _*)
      .collect().map(_.toSeq).toSet
  }

  private def sha(p: java.nio.file.Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  test("applyBatch: sequence ≡ recompute; no-op/late/new-key boundaries; replay refused; files carried") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_scd2_stream")
    try {
      val b0 = Seq(
        ch(1, "2024-01-01", "low"), ch(1, "2024-01-04", "mid"),
        ch(2, "2024-01-02", "high"),
        ch(3, "2024-01-03", "low"),
        ch(4, "2024-01-01", "mid"))
      // bootstrap, spread across several files so carry is observable
      assert(Scd2ApplyStream.applyBatch(
        b0.toDF().repartition(4, col("wallet")),
        0L, root, Seq("wallet"), "day", Seq("tier")))
      assert(dimSet(root) == recompute(b0))
      val v1Dir = Paths.get(root).resolve("v=1")
      val v1Files = Files.list(v1Dir).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).map(p => Paths.get(p))

      // batch 1: wallet 1 restates its current tier (no-op — no new
      // version), wallet 2 late-arrives BEFORE its only version
      // (splice), wallet 5 is new; wallets 3 and 4 untouched
      val b1 = Seq(
        ch(1, "2024-01-08", "mid"),
        ch(2, "2024-01-01", "low"),
        ch(5, "2024-01-06", "high"))
      assert(Scd2ApplyStream.applyBatch(
        b1.toDF(), 1L, root, Seq("wallet"), "day", Seq("tier")))
      assert(dimSet(root) == recompute(b0 ++ b1),
        "incremental stream diverges from the full recompute")
      // no-op suppression crossed the commit: wallet 1 still 2 versions
      assert(Publish.read(spark, root)
        .where(col("wallet") === 1).count() == 2)

      // files holding only untouched wallets carried byte-identically
      val v2Dir = Paths.get(root).resolve("v=2")
      val carried = v1Files.filter(f => Files.exists(v2Dir.resolve(f.getFileName)))
      assert(carried.nonEmpty, "no file was carried — pruning did not prune")
      carried.foreach { f =>
        assert(sha(f) == sha(v2Dir.resolve(f.getFileName)),
          s"carried file ${f.getFileName} changed bytes")
      }

      // replay: refused, version unchanged
      val vBefore = Publish.currentVersion(root)
      assert(!Scd2ApplyStream.applyBatch(
        b1.toDF(), 1L, root, Seq("wallet"), "day", Seq("tier")))
      assert(Publish.currentVersion(root) == vBefore)
      assert(Publish.lastBatch(root).contains(1L))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("streaming end-to-end: per-batch versions; crash-replay refused, continuation accepted") {
    val sess = spark
    import sess.implicits._
    implicit val sq = spark.sqlContext
    val root = Scratch.tempDir("graft_scd2_e2e")
    try {
      val b0 = Seq(ch(1, "2024-01-01", "low"), ch(2, "2024-01-02", "mid"))
      val b1 = Seq(ch(1, "2024-01-05", "high"), ch(3, "2024-01-03", "low"))
      val b2 = Seq(ch(2, "2024-01-09", "mid"), ch(1, "2024-01-07", "mid"))

      val mem = MemoryStream[Scd2Change]
      val q = Scd2ApplyStream.start(mem.toDF(), root,
        Seq("wallet"), "day", Seq("tier"))
      try {
        Seq(b0, b1, b2).foreach { b =>
          mem.addData(b): Unit
          q.processAllAvailable()
        }
      } finally q.stop()
      assert(dimSet(root) == recompute(b0 ++ b1 ++ b2))
      // one version per micro-batch
      assert(Publish.currentVersion(root).contains(3L))
      assert(Publish.lastBatch(root).contains(2L))
      // wallet 1: low → high → mid, three open/closed versions
      assert(Publish.read(spark, root)
        .where(col("wallet") === 1).count() == 3)

      // crash-replay of the LAST batch (foreachBatch's at-least-once
      // edge) is refused; the post-restart CONTINUATION is accepted
      assert(!Scd2ApplyStream.applyBatch(b2.toDF(), 2L, root,
        Seq("wallet"), "day", Seq("tier")))
      assert(Publish.currentVersion(root).contains(3L))
      val b3 = Seq(ch(3, "2024-01-12", "mid"))
      assert(Scd2ApplyStream.applyBatch(b3.toDF(), 3L, root,
        Seq("wallet"), "day", Seq("tier")))
      assert(dimSet(root) == recompute(b0 ++ b1 ++ b2 ++ b3))
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }
}
