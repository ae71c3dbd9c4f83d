package graft

import org.apache.spark.sql.functions._

import graft.sources.{FileStats, LayoutAdvisor}
import graft.sources.FileStats.Between
import graft.tools.Scratch

/** Workload-driven layout advisor (sources/LayoutAdvisor.scala): the
  * cost model against a hand-computed panel, and EMPIRICAL validation
  * — files actually read under FileStats pruning on materialized
  * layouts must follow the advisor's ranking. */
class LayoutAdvisorSpec extends SparkSpec {

  test("hand panel: measured selectivities, multiplicative costs, exact ranking") {
    val sess = spark
    import sess.implicits._
    // 10 rows: x = 0..9, y = parity
    val data = (0 until 10).map(i => (i.toLong, (i % 2).toLong)).toDF("x", "y")
    val workload = Seq(
      (1L, "x", 0.0, 4.0),            // q1: x only, 5/10
      (2L, "x", 0.0, 1.0),            // q2: x 2/10 AND y 5/10
      (2L, "y", 0.0, 0.0))
      .toDF("query_id", "dim", "lo", "hi")
    val got = LayoutAdvisor.advise(data,
        Seq("x" -> col("x"), "y" -> col("y")), workload,
        Seq(Seq("x"), Seq("y"), Seq("x", "y")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap
    // N = 10, denominator N^2 = 100 per query:
    //   x:   (5*10 + 2*10) / 200 = 0.35
    //   y:   (10*10 + 10*5) / 200 = 0.75
    //   x+y: (5*10 + 2*5)  / 200 = 0.30
    assert(got("x") == ((2L, 0.35, 2)))
    assert(got("y") == ((2L, 0.75, 3)))
    assert(got("x+y") == ((2L, 0.3, 1)))
  }

  test("categorical dims: KMV selectivity ranks the more-distinct dim first; hand-exact below k") {
    val sess = spark
    import sess.implicits._
    // 2 files of 1000 rows; dim a has 2 values per file, dim b has 40 —
    // an equality slice on b reads 1/40 of a b-clustered table, on a
    // only 1/2: the advisor must rank b above a, and b+a above both
    val root = Scratch.tempDir("graft_advisor_cat")
    val path = root + "/t"
    (0L until 2000L).map(i => (i, s"a${i % 2}", s"b${i % 40}"))
      .toDF("id", "a", "b")
      .repartition(2, col("id")).write.parquet(path)
    FileStats.build(spark, path, cols = Nil, kmvCols = Seq("a", "b"))

    val workload = Seq((1L, "a"), (2L, "b"))
      .toDF("query_id", "dim")
      .withColumn("lo", lit(0.0)).withColumn("hi", lit(0.0))
    val got = LayoutAdvisor.adviseFromStats(spark, path,
        dims = Nil, workload = workload,
        layouts = Seq(Seq("a"), Seq("b"), Seq("a", "b")),
        catDims = Seq("a" -> "a", "b" -> "b"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getInt(3)))).toMap

    // both dims are below k=64 per file → ndv EXACT, costs hand-derive:
    // per file est_a = floor(n/2), est_b = floor(n/40); N = 2000.
    // With n0+n1 = 2000: est_a sums to 1000, est_b to 50 exactly when
    // both file sizes are even/divisible — assert the ranking and the
    // a-layout's exact fraction (robust to the file split)
    assert(got("b")._3 < got("a")._3, s"b must out-rank a: $got")
    assert(got("a+b")._3 == 1, s"the two-dim layout must win: $got")
    // a-layout: (est_a·N + N·N) / (N²·2) with est_a = Σ floor(n_f/2)
    // ∈ {999, 1000} depending on the file split → 0.74975 or 0.75
    assert(math.abs(got("a")._2 - 0.75) < 0.001, s"a fraction off: ${got("a")}")
    graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("empirical: FileStats files-read on materialized layouts follows the ranking") {
    val ev = Tables.events(spark, SfDir)
      .select(col("user_id"), col("value"),
        unix_date(to_date(col("ts"))).as("day"))
    // narrow user predicates (strong pruning if clustered on user),
    // wide value predicates (weak even when clustered)
    val sess = spark
    import sess.implicits._
    val qs = (0 until 8).map { i =>
      (i.toLong, (i * 2 % 14).toLong, (i * 37 % 200).toLong)
    }
    val workload =
      qs.map { case (q, ulo, vlo) => (q, "user", ulo.toDouble, ulo + 1.0) }
        .union(qs.map { case (q, _, vlo) => (q, "value", vlo.toDouble, vlo + 300.0) })
        .toDF("query_id", "dim", "lo", "hi")
    val advice = LayoutAdvisor.advise(ev,
        Seq("user" -> col("user_id"), "value" -> col("value")), workload,
        Seq(Seq("user"), Seq("value")))
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getInt(3)))).toMap
    assert(advice("user")._2 == 1 && advice("value")._2 == 2,
      s"expected the narrow-predicate dim to win: $advice")

    // materialize both layouts, measure files actually read per query
    val root = Scratch.tempDir("graft_advisor_spec")
    def measure(layoutDim: String): Int = {
      val path = s"$root/$layoutDim"
      ev.repartitionByRange(8, col(layoutDim))
        .sortWithinPartitions(layoutDim).write.parquet(path)
      FileStats.build(spark, path, cols = Seq("user_id", "value"))
      qs.map { case (_, ulo, vlo) =>
        FileStats.candidateFiles(spark, path, Seq(
          Between("user_id", ulo, ulo + 1L),
          Between("value", vlo.toDouble, vlo + 300.0))).size
      }.sum
    }
    val (userFiles, valueFiles) = (measure("user_id"), measure("value"))
    assert(userFiles < valueFiles,
      s"advisor ranked 'user' first but measured files-read disagrees: " +
        s"user=$userFiles value=$valueFiles")
  }

  test("reclusterAdvice closes the loop: recluster on the bad layout, keep at the fixed point") {
    val sess = spark
    import sess.implicits._
    // 80 rows, user 0..7 interleaved with a seq column; workload
    // predicates user only
    val data = (0 until 80).map(i => (i.toLong % 8, i.toLong)).toDF("u", "s")
    val workload = Seq((1L, "u", 2L, 3L), (2L, "u", 6L, 6L))
    val dims = Seq("u" -> "u", "s" -> "s")
    val layouts = Seq(Seq("u"), Seq("s"))
    val root = Scratch.tempDir("graft_reclust_spec")

    // bad layout: files = 20-row s runs — every file spans all users
    val bad = s"$root/bad"
    data.withColumn("fb", expr("s div 20"))
      .coalesce(1).write.partitionBy("fb").parquet(bad)
    FileStats.build(spark, bad, cols = Seq("u", "s"))
    val a = LayoutAdvisor.reclusterAdvice(spark, bad, dims, workload, layouts, 4L)
    // measured: both queries hit all 4 files → 160; predicted under
    // [u]: interpolation over [0,7] spans — q1 floor(20*(3-2)/7)*4
    // files = 8, q2 floor(20*0/7)=0 → 8
    assert(a.bestLayout == "u" && a.measuredRows == 160L && a.tableRows == 80L)
    assert(a.predictedRows == 8L, a.toString)
    assert(a.recluster, s"gain (160-8)*4 must clear 2N=160: $a")

    // advised layout: files bucketed by u (2 users per file); boxes
    // align with file ranges → measured == model contribution per
    // file, gain small → keep
    val good = s"$root/good"
    data.withColumn("fb", expr("u div 2"))
      .coalesce(1).write.partitionBy("fb").parquet(good)
    FileStats.build(spark, good, cols = Seq("u", "s"))
    val b = LayoutAdvisor.reclusterAdvice(spark, good, dims, workload, layouts, 4L)
    // q1 [2,3] = exactly file 1 (20 rows, est 20); q2 [6,6] hits
    // file 3 (span [6,7]): measured 20, est floor(20*(6-6)/1)=0
    assert(b.bestLayout == "u" && b.measuredRows == 40L)
    assert(b.predictedRows == 20L, b.toString)
    assert(!b.recluster, s"(40-20)*4=80 must NOT clear 2N=160: $b")
    graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("reclusterAdvice on an empty table keeps (no zero-divisor in the independence model)") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_reclust_empty")
    val path = s"$root/t"
    // just-created table: zero rows, schema only — a ≥2-dim layout
    // would otherwise divide by N^(p−1) = 0
    Seq.empty[(Long, Long)].toDF("u", "s").write.parquet(path)
    FileStats.build(spark, path, cols = Seq("u", "s"))
    val a = LayoutAdvisor.reclusterAdvice(spark, path,
      dims = Seq("u" -> "u", "s" -> "s"),
      workload = Seq((1L, "u", 2L, 3L), (1L, "s", 0L, 9L)),
      layouts = Seq(Seq("u", "s"), Seq("s")), amortizeRuns = 4L)
    assert(!a.recluster && a.measuredRows == 0L &&
      a.predictedRows == 0L && a.tableRows == 0L, a.toString)
    graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("manifest-scored advisor ranks like the data pass and reads only the sidecar") {
    val ev = Tables.events(spark, SfDir)
      .select(col("user_id"), col("value"))
    val sess = spark
    import sess.implicits._
    val qs = (0 until 8).map { i =>
      (i.toLong, (i * 2 % 14).toLong, (i * 37 % 200).toLong)
    }
    val workload =
      qs.map { case (q, ulo, _) => (q, "user", ulo.toDouble, ulo + 1.0) }
        .union(qs.map { case (q, _, vlo) => (q, "value", vlo.toDouble, vlo + 300.0) })
        .toDF("query_id", "dim", "lo", "hi")
    val layouts = Seq(Seq("user"), Seq("value"), Seq("user", "value"))

    val measured = LayoutAdvisor.advise(ev,
        Seq("user" -> col("user_id"), "value" -> col("value")),
        workload, layouts)
      .collect().map(r => r.getString(0) -> r.getInt(3)).toMap

    val path = Scratch.tempDir("graft_advisor_stats") + "/t"
    ev.repartitionByRange(8, col("user_id"))
      .sortWithinPartitions("user_id").write.parquet(path)
    FileStats.build(spark, path, cols = Seq("user_id", "value"))
    val fromStats = LayoutAdvisor.adviseFromStats(spark, path,
      Seq("user" -> "user_id", "value" -> "value"), workload, layouts)
    // by file, not by plan text: the plan string cuts a scan's
    // location short, and a run-scoped temp dir's name is ~70 chars
    val read = fromStats.inputFiles
    assert(read.nonEmpty && read.forall(_.contains("/t/_fstats/")),
      s"manifest scoring must read the sidecar, not the data table:\n${read.mkString("\n")}")
    val estimated = fromStats
      .collect().map(r => r.getString(0) -> r.getInt(3)).toMap
    assert(estimated == measured,
      s"manifest ranking diverged: est=$estimated measured=$measured")
  }

  test("q123 loop: the advised layout is materialized, prunes, and loses nothing") {
    val out = SparkEntry.q123AdvisedLayout(spark, SfDir)
    val layouts = out.select("layout_id").distinct().collect().map(_.getString(0))
    assert(layouts.length == 1, s"one chosen layout expected: ${layouts.toSeq}")

    // the chosen id is the advisor's exact rank-1 over the capped set
    val capped = Seq(Seq("user"), Seq("value"), Seq("day"),
      Seq("user", "value"), Seq("user", "day"), Seq("value", "day"))
    val expected = LayoutAdvisor.advise(
        Tables.events(spark, SfDir),
        Seq("user" -> col("user_id"), "value" -> col("value"),
          "day" -> unix_date(to_date(col("ts")))),
        SparkEntry.advisorWorkloadForTest(spark, SfDir), capped)
      .where(col("rank") === 1).collect()(0).getString(0)
    assert(layouts(0) == expected, s"materialized ${layouts(0)}, advisor says $expected")

    // the materialized table prunes the box to a strict file subset
    // (the lookup resolves the artifact q123 built in this run)...
    val table = graft.tools.Scratch.cachedArtifact(
      s"graft_q123_${layouts(0).replace("+", "_")}", SfDir)(_ => fail("q123 built no artifact"))
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-21 00:00:00")
    val all = new java.io.File(table).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val kept = FileStats.candidateFiles(spark, table, Seq(
      Between("user_id", 5L, 40L), Between("value", 25.0, 75.0),
      Between("ts", lo, hi))).size
    assert(kept < all, s"no pruning on the advised layout: $kept of $all files")

    // ...and the pruned aggregate loses nothing vs the full scan
    val full = Tables.events(spark, SfDir)
      .where(col("user_id").between(5, 40) && col("value").between(25.0, 75.0)
        && col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == full, s"pruned=$got full=$full")
  }
}
