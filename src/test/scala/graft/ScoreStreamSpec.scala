package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.{Publish, Sinks}
import graft.streaming.ScoreStream
import graft.tools.Scratch

/** S43 (streaming/ScoreStream): maintained curriculum scores. Pins
  * the plan identity (the plan over the maintained table ≡ one-shot
  * Curriculum.phaseOrder over everything ingested), replay refusal,
  * and exactly-once through a mid-backlog kill-and-restart. */
class ScoreStreamSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, SfDir)
    .select("doc_id", "text").collect()
    .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def planRows(scoresRoot: String): Seq[Seq[Any]] =
    ScoreStream.planOrder(spark, scoresRoot, "doc_id", annealPpm = 250000L)
      .orderBy("epoch_pos").collect().map(_.toSeq).toSeq

  test("the maintained plan equals one-shot phaseOrder; replay refused") {
    implicit val sqlCtx = spark.sqlContext
    val all = docs
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_s43"))
    val scoresRoot = base.resolve("scores").toString

    val mem = MemoryStream[(Long, String)]
    val query = ScoreStream.start(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", scoresRoot)
    try {
      all.grouped(math.max(1, all.length / 3)).foreach { c =>
        mem.addData(c.toIndexedSeq); query.processAllAvailable()
      }
    } finally query.stop()

    // the stored table is exactly a one-shot scoring pass
    assert(Publish.read(spark, scoresRoot).count() == all.length.toLong)
    val want = SparkEntry.q200CurriculumOrder(spark, SfDir)
      .orderBy("epoch_pos").collect().map(_.toSeq).toSeq
    assert(planRows(scoresRoot) == want,
      "maintained plan diverged from one-shot phaseOrder")

    // replay: refused before any write, version pinned
    val lastId = Publish.lastBatch(scoresRoot).get
    val v = Publish.currentVersion(scoresRoot)
    assert(!ScoreStream.applyBatch(
      all.take(3).toDF("doc_id", "text"), lastId, "doc_id", "text", scoresRoot))
    assert(Publish.currentVersion(scoresRoot) == v)
    Sinks.deleteRecursively(base)
  }

  test("S43r: the plan identity survives a mid-backlog kill-and-restart") {
    val all = docs
    val base = java.nio.file.Paths.get(Scratch.tempDir("graft_s43_r"))
    val scoresRoot = base.resolve("scores").toString
    val parts = all.grouped(math.max(1, all.length / 4)).toSeq
      .map(_.toDF("doc_id", "text"))
    graft.streaming.DurableReplay.runForeachRestart(spark,
      parts.take(2), parts.drop(2),
      (stream, ckpt) => ScoreStream.start(stream, "doc_id", "text",
        scoresRoot, checkpointLocation = Some(ckpt)),
      () => Publish.lastBatch(scoresRoot))
    // exactly-once at the row grain and the plan identity end to end
    assert(Publish.read(spark, scoresRoot).count() == all.length.toLong,
      "row-grain duplication after restart")
    val want = SparkEntry.q200CurriculumOrder(spark, SfDir)
      .orderBy("epoch_pos").collect().map(_.toSeq).toSeq
    assert(planRows(scoresRoot) == want,
      "maintained plan diverged after kill-and-restart")
    Sinks.deleteRecursively(base)
  }
}
