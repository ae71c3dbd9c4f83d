package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.Export
import graft.tools.Scratch

/** q156 (sources/Export): JSONL shard export — byte-faithful
  * round-trip through the JSON escaping (newlines, quotes, unicode,
  * empties), size-cap file splitting, and manifest accounting. */
class ExportSpec extends SparkSpec {

  test("round-trip is lossless, including JSON-hostile strings") {
    val sess = spark
    import sess.implicits._
    val out = Scratch.tempDir("graft_export_rt") + "/corpus"
    try {
      val nasty = Seq(
        (1L, "plain text", 0L),
        (2L, "line\nbreak\tand\ttabs", 0L),
        (3L, "\"quoted\" and \\backslash\\", 1L),
        (4L, "unicode: é中文 😀", 1L),
        (5L, "", 0L),
        (6L, "trailing space   ", 1L),
        (7L, "{\"looks\":\"like json\"}", 0L))
      nasty.toDF("doc_id", "text", "shard")
        .transform(d => { Export.writeJsonlShards(d, "shard", out); d }): Unit
      val back = Export.readJsonlShards(spark, out, "doc_id LONG, text STRING")
        .select("doc_id", "text", "shard")
        .as[(Long, String, Long)].collect().toSet
      assert(back == nasty.map { case (i, t, s) => (i, t, s) }.toSet,
        s"diff=${back.diff(nasty.toSet)} / ${nasty.toSet.diff(back)}")
    } finally graft.sources.Sinks.deleteRecursively(
      Paths.get(out).getParent)
  }

  test("maxRecordsPerFile splits shard files; manifest accounts for every byte") {
    val sess = spark
    import sess.implicits._
    val out = Scratch.tempDir("graft_export_cap") + "/corpus"
    try {
      val docs = (1L to 100L).map(i => (i, s"doc number $i", i % 3))
        .toDF("doc_id", "text", "shard")
        // one writer per shard → deterministic ceil(n/7) files
        .repartition(col("shard"))
      Export.writeJsonlShards(docs, "shard", out, maxRecordsPerFile = 7L)
      val m = Export.manifest(spark, out).collect()
      // shards 0/1/2 carry 33/34/33 docs → 5/5/5 files of ≤7 records
      val perShard = m.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      assert(perShard == Map(0L -> 5, 1L -> 5, 2L -> 5), s"got $perShard")
      // manifest bytes = on-disk bytes, and the read-back agrees
      m.foreach { r =>
        val p = Paths.get(out, s"shard=${r.getLong(0)}", r.getString(1))
        assert(Files.size(p) == r.getLong(2), s"byte mismatch for $p")
      }
      val back = Export.readJsonlShards(spark, out, "doc_id LONG, text STRING")
      assert(back.count() == 100L)
      assert(back.groupBy("shard").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(0L -> 33L, 1L -> 34L, 2L -> 33L))
      // no file exceeds the record cap
      m.foreach { r =>
        val p = Paths.get(out, s"shard=${r.getLong(0)}", r.getString(1))
        val lines = Files.readAllLines(p).size
        assert(lines <= 7, s"$p carries $lines > 7 records")
      }
    } finally graft.sources.Sinks.deleteRecursively(
      Paths.get(out).getParent)
  }

  test("split tree: directory wall is the group wall; round-trip exact") {
    val sess = spark
    import sess.implicits._
    val out = Scratch.tempDir("graft_split_rt") + "/tree"
    try {
      // two docs per source; labels come from the leakage-free split,
      // so both copies of a source must land under the SAME split dir
      val docs = (1L to 60L).map(i => (i, s"text of $i", s"site${i % 10}"))
        .toDF("doc_id", "text", "source")
      val labeled = graft.operators.Splits.groupedSplit(docs, "source")
        .withColumn("shard", pmod(col("doc_id"), lit(3L)))
      Export.writeSplitShards(labeled.repartition(col("split"), col("shard")),
        "split", "shard", out, maxRecordsPerFile = 7L)

      val back = Export.readSplitShards(spark, out,
        "doc_id LONG, text STRING, source STRING")
      // round-trip losslessness at the row grain
      assert(back.count() == 60)
      assert(back.select("doc_id", "text", "source", "split", "shard")
        .except(labeled.select("doc_id", "text", "source", "split", "shard"))
        .isEmpty, "read-back rows diverge from what was labeled")
      // the wall: no source appears under two split directories
      val straddlers = back.groupBy("source")
        .agg(countDistinct(col("split")).as("k")).where(col("k") > 1)
      assert(straddlers.isEmpty, "a source leaked across the split wall")
      // manifest sees every file the reader reads, caps respected
      val mf = Export.splitManifest(spark, out)
      assert(mf.agg(sum(lit(1))).collect()(0).getLong(0) >= 3)
      val perDir = back.groupBy("split", "shard").count().collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val filesPerDir = mf.groupBy("split", "shard").count().collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(perDir.forall { case (k, n) =>
        filesPerDir(k) == math.ceil(n / 7.0).toLong },
        s"file counts off: rows=$perDir files=$filesPerDir")
    } finally graft.sources.Sinks.deleteRecursively(Paths.get(out).getParent)
  }
}
