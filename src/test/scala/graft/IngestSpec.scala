package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.WindowOps
import graft.sources.{Ingest, Sinks}
import graft.tools.Scratch

/** Ingestion surface: CSV round-trip + corrupt-row quarantine,
  * N-source entity resolution, and the composed incremental refresh
  * (upsert + dynamic partition overwrite) with a proof that untouched
  * partitions' files survive byte-for-byte. */
class IngestSpec extends SparkSpec {

  test("readCsv round-trips typed data and quarantines corrupt rows") {
    val dir = Scratch.tempDir("graft_csv")
    val ev = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "value")
    // hand-write the CSV (appending to Spark's own output would break
    // its .crc checksum sidecar) with one malformed row at the end
    val rows = ev.collect().map(r => s"${r.getLong(0)},${r.getString(1)},${r.getLong(2)},${r.getDouble(3)}")
    Files.writeString(java.nio.file.Paths.get(dir, "data.csv"),
      ("event_id,event_type,user_id,value" +: rows :+ "oops,not,a,number").mkString("", "\n", "\n"))

    // Spark disallows querying only _corrupt_record on the raw scan;
    // cache the parsed result first (per the AnalysisException hint)
    val back = Ingest.readCsv(spark, dir,
      "event_id BIGINT, event_type STRING, user_id BIGINT, value DOUBLE").cache()
    assert(back.where(col("_corrupt_record").isNotNull).count() == 1)
    val clean = back.where(col("_corrupt_record").isNull).drop("_corrupt_record")
    assert(clean.count() == ev.count())
    assert(clean.exceptAll(ev).count() == 0)
    assert(clean.schema("value").dataType.typeName == "double")
  }

  test("readJsonl round-trips typed data and quarantines malformed lines") {
    val dir = Scratch.tempDir("graft_jsonl")
    val ev = Tables.events(spark, SfDir)
      .select("event_id", "event_type", "user_id", "value")
    val rows = ev.collect().map(r =>
      s"""{"event_id":${r.getLong(0)},"event_type":"${r.getString(1)}","user_id":${r.getLong(2)},"value":${r.getDouble(3)}}""")
    Files.writeString(java.nio.file.Paths.get(dir, "data.jsonl"),
      (rows :+ """{"event_id":"BROKEN,"event_type":}""").mkString("", "\n", "\n"))

    val back = Ingest.readJsonl(spark, dir,
      "event_id BIGINT, event_type STRING, user_id BIGINT, value DOUBLE").cache()
    assert(back.where(col("_corrupt_record").isNotNull).count() == 1,
      "exactly the malformed line must be quarantined")
    val clean = back.where(col("_corrupt_record").isNull).drop("_corrupt_record")
    assert(clean.count() == ev.count())
    assert(clean.exceptAll(ev).count() == 0)
    assert(clean.schema("value").dataType.typeName == "double")
  }

  test("corrupt-column guard matches field NAMES, not substrings") {
    val dir = Scratch.tempDir("graft_ddl_guard")
    Files.writeString(java.nio.file.Paths.get(dir, "d.csv"), "k,raw_corrupt_record_src\n1,x\n")
    // a legal column merely CONTAINING the reserved name must pass
    assert(Ingest.readCsv(spark, dir,
      "k BIGINT, raw_corrupt_record_src STRING").count() == 1)
    // the reserved name itself must fail fast, case-insensitively
    val ex = intercept[IllegalArgumentException] {
      Ingest.readCsv(spark, dir, "k BIGINT, _CORRUPT_RECORD STRING")
    }
    assert(ex.getMessage.contains("_corrupt_record"))
  }

  test("coalesceSources resolves 3 sources in precedence order with lineage") {
    import spark.implicits._
    val s1 = Seq((1L, Option("a1")), (2L, Option.empty[String])).toDF("k", "v")
    val s2 = Seq((2L, Option("b2")), (3L, Option("b3"))).toDF("k", "v")
    val s3 = Seq((1L, Option("c1")), (3L, Option("c3")), (4L, Option("c4"))).toDF("k", "v")
    val out = Ingest.coalesceSources(Seq(s1, s2, s3), keys = Seq("k"), valueCols = Seq("v"))
      .select("k", "v", "n_sources")
      .as[(Long, Option[String], Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Some("a1"), 2), // s1 beats s3
      (2L, Some("b2"), 2), // s1's NULL falls through to s2
      (3L, Some("b3"), 2), // s2 beats s3
      (4L, Some("c4"), 1)  // present only in the last source
    ), s"unexpected resolution: $out")
    // the 2-source overload must be the N=2 case of the same operator
    val two = Ingest.coalesceSources(s1, s2, keys = Seq("k"), valueCols = Seq("v"))
    val twoAsSeq = Ingest.coalesceSources(Seq(s1, s2), keys = Seq("k"), valueCols = Seq("v"))
    assert(two.exceptAll(twoAsSeq).count() == 0 && twoAsSeq.exceptAll(two).count() == 0)
  }

  test("incrementalRefresh rewrites only touched partitions and matches upsert semantics") {
    val ev = Tables.events(spark, SfDir)
    val keys = Seq("user_id", "event_type")
    val version = Seq(col("ts"), col("event_id"))
    val base = WindowOps.dedupeFirst(
      ev.where(col("event_id") % 2 === 0), keys, version.map(_.desc))
    val updates = ev.where(
      col("event_id") % 2 === 1 && length(col("event_type")) % 2 === 0)

    val tableDir = Scratch.tempDir("graft_refresh_table")
    val stagingDir = Scratch.tempDir("graft_refresh_stage")
    Sinks.writePartitioned(base, tableDir, Seq("event_type"))

    // snapshot every data file under a partition dir: path -> (size, mtime)
    def partFiles(): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(tableDir)).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.contains("event_type="))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
    }
    val before = partFiles()
    val touched = updates.select("event_type").distinct()
      .collect().map(_.getString(0)).toSet
    assert(touched.nonEmpty && touched.size < before.keys.map(_.split("event_type=")(1).split("/")(0)).toSet.size,
      "test needs both touched and untouched partitions")

    Ingest.incrementalRefresh(tableDir, updates, keys, version, Seq("event_type"), stagingDir)
    val after = partFiles()

    def isTouched(path: String) = touched.exists(t => path.contains(s"event_type=$t/"))
    val untouchedBefore = before.filterNot { case (p, _) => isTouched(p) }
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta), s"untouched partition file rewritten: $p")
    }
    assert(before.exists { case (p, meta) => isTouched(p) && !after.get(p).contains(meta) },
      "refresh should rewrite the touched partitions")

    // the refreshed table ≡ newest-per-key over evens ∪ touched odds
    val expected = WindowOps.dedupeFirst(
      ev.where(col("event_id") % 2 === 0 ||
        (col("event_id") % 2 === 1 && length(col("event_type")) % 2 === 0)),
      keys, version.map(_.desc))
      .select("user_id", "event_type", "event_id", "value")
    val got = spark.read.parquet(tableDir).select("user_id", "event_type", "event_id", "value")
    assert(got.exceptAll(expected).count() == 0 && expected.exceptAll(got).count() == 0,
      "refreshed table diverges from upsert semantics")
  }
}
