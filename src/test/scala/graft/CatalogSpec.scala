package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Catalog, Publish}
import graft.tools.Scratch

/** Multi-table snapshot consistency (sources/Catalog.scala +
  * streaming/CatalogStream.scala — S23): one atomic flip covers N
  * tables; a torn multi-table publish is invisible; unchanged tables
  * carry by reference; vacuum reaps orphans; the streaming sink is
  * exactly-once at the catalog level and never exposes a mixed
  * cross-table state. */
class CatalogSpec extends SparkSpec {

  private def df(pairs: (String, Long)*): DataFrame = {
    val sess = spark
    import sess.implicits._
    pairs.toSeq.toDF("k", "n")
  }

  private def rows(d: DataFrame): Set[(String, Long)] =
    d.collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("publishAll round-trips; a torn second publish is invisible until commit") {
    val root = Scratch.tempDir("graft_catalog")
    val a1 = df("x" -> 1L); val b1 = df("y" -> 10L)
    // a meta value with a newline, a tab and a quote reads back as is
    val note = "a\nb\t\"c"
    val v1 = Catalog.publishAll(spark, root, Map("a" -> a1, "b" -> b1), Map("note" -> note))
    assert(v1 == 1L)
    assert(Catalog.currentMetaValue(root, "note").contains(note),
      s"catalog meta read back as ${Catalog.currentMetaValue(root, "note")}")
    assert(rows(Catalog.read(spark, root, "a")) == rows(a1))
    assert(rows(Catalog.read(spark, root, "b")) == rows(b1))

    // simulate the crash window: NEW versions of both tables land via
    // Publish (their own pointers even flip) but the catalog pointer
    // does not — catalog readers must keep the OLD consistent pair
    Publish.publish(df("x" -> 2L), Paths.get(root, "tables", "a").toString)
    Publish.publish(df("y" -> 20L), Paths.get(root, "tables", "b").toString)
    assert(rows(Catalog.read(spark, root, "a")) == rows(a1),
      "catalog reader saw an uncommitted table version")
    assert(rows(Catalog.read(spark, root, "b")) == rows(b1))

    // commit pins the staged versions; both flip together
    Catalog.commit(root, Seq("a" -> 2L, "b" -> 2L))
    assert(rows(Catalog.read(spark, root, "a")) == Set(("x", 2L)))
    assert(rows(Catalog.read(spark, root, "b")) == Set(("y", 20L)))
  }

  test("unchanged tables carry by reference; vacuum reaps orphans and old snapshots") {
    val root = Scratch.tempDir("graft_catalog_vac")
    Catalog.publishAll(spark, root, Map("a" -> df("x" -> 1L), "b" -> df("y" -> 1L)))
    // snapshot 2 changes only `a` — `b` stays pinned at version 1
    Catalog.publishAll(spark, root, Map("a" -> df("x" -> 2L)))
    val pins = Catalog.currentTableVersions(root)
    assert(pins == Map("a" -> 2L, "b" -> 1L), s"pins=$pins")
    assert(!Files.exists(Paths.get(root, "tables", "b", "v=2")),
      "an unchanged table was rewritten")
    assert(rows(Catalog.read(spark, root, "b")) == Set(("y", 1L)))

    // orphan: a version published but never committed to any snapshot
    Publish.publish(df("x" -> 99L), Paths.get(root, "tables", "a").toString)
    assert(Files.exists(Paths.get(root, "tables", "a", "v=3")))
    val removed = Catalog.vacuum(root, keep = 1)
    assert(removed.toSet == Set("a" -> 1L, "a" -> 3L), s"removed=$removed")
    assert(!Files.exists(Paths.get(root, "tables", "a", "v=1")))
    assert(!Files.exists(Paths.get(root, "tables", "a", "v=3")))
    // the live snapshot still reads, both tables
    assert(rows(Catalog.read(spark, root, "a")) == Set(("x", 2L)))
    assert(rows(Catalog.read(spark, root, "b")) == Set(("y", 1L)))
    // the member table's own pointer was repointed to a retained version
    assert(Publish.currentVersion(Paths.get(root, "tables", "a").toString)
      .contains(2L))
  }

  test("S23: streaming catalog — consistent cross-table ticks, exactly-once, crash replay") {
    implicit val sqlCtx = spark.sqlContext
    val sess = spark
    import sess.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val root = Scratch.tempDir("graft_catalog_stream")
    // two derived tables from one fact stream: per-user totals and
    // per-type totals — consistency invariant: equal grand totals
    def mergeOn(keys: Seq[String])(live: Option[DataFrame], batch: DataFrame): DataFrame = {
      val delta = batch.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("decimal(18,6)")).as("total"))
      live.map(_.unionByName(delta)
          .groupBy(keys.map(col): _*)
          .agg(sum("n").as("n"), sum("total").cast("decimal(18,6)").as("total")))
        .getOrElse(delta)
    }
    val derive = Map(
      "by_user" -> mergeOn(Seq("u")) _,
      "by_type" -> mergeOn(Seq("t")) _)

    val facts = Seq(
      (1L, "a", 1.5), (2L, "a", 2.0), (1L, "b", 0.5),
      (3L, "b", 4.0), (2L, "b", 1.0), (3L, "a", 2.5))
      .map { case (u, t, v) => (u, t, BigDecimal(v)) }
    val mem = MemoryStream[(Long, String, BigDecimal)]
    val q = graft.streaming.CatalogStream.start(
      mem.toDF().toDF("u", "t", "v"), root, derive)
    try {
      facts.grouped(2).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
        // invariant at EVERY tick: both tables at the same horizon
        val su = Catalog.read(spark, root, "by_user")
          .agg(sum("total")).collect()(0).getDecimal(0)
        val st = Catalog.read(spark, root, "by_type")
          .agg(sum("total")).collect()(0).getDecimal(0)
        assert(su.compareTo(st) == 0,
          s"cross-table totals diverged mid-stream: $su vs $st")
      }
    } finally q.stop()

    // final state ≡ one-shot batch derivation over all facts
    val all = facts.toDF("u", "t", "v")
    val wantU = mergeOn(Seq("u"))(None, all)
    val gotU = Catalog.read(spark, root, "by_user")
    assert(gotU.exceptAll(wantU).count() == 0 && wantU.exceptAll(gotU).count() == 0)

    // replay of the last batch: refused before any write
    val vBefore = Catalog.currentVersion(root).get
    val last = graft.streaming.CatalogStream.applyBatch(
      facts.takeRight(2).toDF("u", "t", "v"), batchId = 2L, root, derive)
    assert(!last && Catalog.currentVersion(root).get == vBefore,
      "replayed batch was not refused")

    // crash window replay: tables for the NEXT batch land but the
    // catalog flip never happens; the restarted batch must rerun
    // cleanly and flip ONCE, never exposing the orphaned versions
    Publish.publish(df("zz" -> 1L), Paths.get(root, "tables", "by_user").toString)
    assert(rows(Catalog.read(spark, root, "by_user")
      .select(col("u").cast("string"), col("n")).limit(1)).nonEmpty)
    val extra = Seq((9L, "c", BigDecimal(7.0))).toDF("u", "t", "v")
    assert(graft.streaming.CatalogStream.applyBatch(extra, 3L, root, derive))
    val su = Catalog.read(spark, root, "by_user")
      .agg(sum("total")).collect()(0).getDecimal(0)
    val st = Catalog.read(spark, root, "by_type")
      .agg(sum("total")).collect()(0).getDecimal(0)
    assert(su.compareTo(st) == 0 &&
      Catalog.read(spark, root, "by_type").where(col("t") === "c").count() == 1)

    // a publishAll from outside the stream (no meta) keeps the marker
    Catalog.publishAll(spark, root, Map("by_user" -> Catalog.read(spark, root, "by_user")))
    assert(Catalog.lastBatch(root).contains(3L),
      s"catalog replay marker reset: ${Catalog.lastBatch(root)}")
    assert(!graft.streaming.CatalogStream.applyBatch(extra, 3L, root, derive),
      "replayed batch was not refused after an outside publishAll")
  }
}
