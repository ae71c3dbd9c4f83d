package graft

import org.apache.spark.sql.functions._

import graft.sources.{FileStats, ZOrder}
import graft.sources.FileStats.{Between, KeyIn}
import graft.tools.Scratch

/** Z-order clustering (sources/ZOrder) + file-level min/max skipping
  * through its FileStats manifest: hand-computed Morton bits, bucket
  * edge cases, pruned-read correctness on testdata, and the claim the
  * curve exists for — a 2-D box predicate skips files a 1-D linear
  * layout cannot. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // the (a, b) box predicate every layout test prunes by
  private def box(loA: Long, hiA: Long, loB: Long, hiB: Long) =
    Seq(Between("a", loA, hiA), Between("b", loB, hiB))

  test("zValue: hand-computed bit interleave") {
    // a=5 (101b) into odd positions -> 100010b = 34
    // b=3 (011b) into even positions -> 000101b = 5
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 3).as("z"))
      .collect()(0).getLong(0)
    assert(got == 39L)
    // identity checks: zero interleaves to zero; max packs all bits
    val zz = Seq((0L, 0L), (7L, 7L)).toDF("a", "b")
      .select(ZOrder.zValue(col("a"), col("b"), 3).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(zz == Seq(0L, 63L))
  }

  test("zValueN: hand-computed 3-ary interleave; k=2 reproduces zValue") {
    // a=1,b=1,c=1 at bits=2: bit 0 of each lands at positions 2,1,0
    // (a most significant within the group) → 0b111 = 7
    val got = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
      .select(ZOrder.zValueN(Seq(col("a"), col("b"), col("c")), 2).as("z"))
      .collect()(0).getLong(0)
    assert(got == 7L)
    // a=2 (10b), b=0, c=1: a's bit1 → pos 1*3+2=5, c's bit0 → pos 0
    // → 100001b = 33
    val got2 = Seq((2L, 0L, 1L)).toDF("a", "b", "c")
      .select(ZOrder.zValueN(Seq(col("a"), col("b"), col("c")), 2).as("z"))
      .collect()(0).getLong(0)
    assert(got2 == 33L)
    // delegation: zValue(a,b) ≡ zValueN(Seq(a,b)) on a sweep
    val eq = spark.range(256L).select(
        (col("id") % 16).as("a"), (col("id") / 16).cast("long").as("b"))
      .where(ZOrder.zValue(col("a"), col("b"), 4) =!=
        ZOrder.zValueN(Seq(col("a"), col("b")), 4))
      .count()
    assert(eq == 0L, "k=2 zValueN diverged from zValue")
  }

  test("q112: 3-D box over the z3 layout equals the full-scan filter, and skips") {
    val out = SparkEntry.q112Zorder3Prune(spark, SfDir)
    val lo = java.sql.Timestamp.valueOf("2024-01-08 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val want = Tables.events(spark, SfDir)
      .where(col("user_id").between(5, 40) && col("value").between(25.0, 75.0)
        && col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(out.exceptAll(want).count() == 0 && want.exceptAll(out).count() == 0,
      "z3 pruned aggregate diverges from the full scan")
  }

  test("affineBucket: bounds land inside [0, 2^bits)") {
    val df = Seq(0.0, 127.5, 255.0).toDF("v")
      .select(ZOrder.affineBucket(col("v"), lit(0.0), lit(255.0), 8).as("b"))
    // midpoint lands at 127, not 128: the +1e-9 guard in the
    // denominator nudges the exact 0.5 ratio just below the boundary
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L, 127L, 255L))
    // constant column (span 0) must not divide by zero: everything
    // lands in bucket 0
    val const = Seq(42.0, 42.0).toDF("v")
      .select(ZOrder.affineBucket(col("v"), lit(42.0), lit(42.0), 8).as("b"))
    assert(const.collect().map(_.getLong(0)).toSeq == Seq(0L, 0L))
  }

  test("prunedRead + re-filter equals the full-scan filter on testdata") {
    val out = SparkEntry.q100ZorderPrune(spark, SfDir)
    val want = Tables.events(spark, SfDir)
      .where(col("user_id").between(3, 7) && col("value").between(20.0, 80.0))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(out.exceptAll(want).count() == 0 && want.exceptAll(out).count() == 0,
      "pruned-read aggregate diverges from the full scan")
  }

  test("the Z layout skips files for a 2-D box where a linear layout cannot") {
    // uniform 2-D grid: both dimensions matter, neither is special
    val n = 20000
    val data = spark.range(n.toLong).select(
      (pmod(col("id") * 48271L, lit(104729L)) % 1000).as("a"),
      (pmod(col("id") * 69621L, lit(104857L)) % 1000).as("b"))
    val root = Scratch.tempDir("graft_zorder_spec")
    val zPath = root + "/z"
    val linPath = root + "/lin"
    try {
      ZOrder.writeZOrdered(data, zPath, "a", "b", bits = 8, numFiles = 32)
      // linear layout: range-clustered on `a` alone, same file count,
      // same stats machinery
      data.repartitionByRange(32, col("a")).sortWithinPartitions("a")
        .write.parquet(linPath)
      FileStats.build(spark, linPath, cols = Seq("a", "b"))

      val nFiles = spark.read.parquet(FileStats.statsPath(zPath)).count()
      assert(nFiles >= 16, s"expected ~32 files, got $nFiles")

      // a 10% × 10% box: the Z layout bounds BOTH dims per file
      val zCand = FileStats.candidateFiles(spark, zPath, box(100L, 199L, 100L, 199L)).size
      assert(zCand <= nFiles / 2,
        s"z-order should skip most files for a small box: $zCand of $nFiles")

      // b-only predicate: every linear file spans b's full range, so
      // linear skips NOTHING; the curve still skips
      val linFiles = spark.read.parquet(FileStats.statsPath(linPath)).count()
      val linCand = spark.read.parquet(FileStats.statsPath(linPath))
        .where(col("min_b") <= 199L && col("max_b") >= 100L).count()
      val zCandB = spark.read.parquet(FileStats.statsPath(zPath))
        .where(col("min_b") <= 199L && col("max_b") >= 100L).count()
      assert(linCand == linFiles,
        "a 1-D layout should be unable to skip on the unsorted dimension")
      assert(zCandB < linCand,
        s"the curve must beat linear on the second dimension: z=$zCandB lin=$linCand")

      // pruning never loses rows: pruned+filter ≡ full filter
      val got = FileStats.prunedRead(spark, zPath, box(100L, 199L, 100L, 199L))
        .where(col("a").between(100, 199) && col("b").between(100, 199))
      val want = data.where(col("a").between(100, 199) && col("b").between(100, 199))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)

      // a box fully outside the data range survives as an empty read
      assert(FileStats.prunedRead(spark, zPath, box(5000L, 6000L, 0L, 10L)).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("quantile buckets keep pruning power on a heavy-tailed column") {
    // a is exponentially distributed (2^(id%30)): an affine bucket
    // grid over [1, 2^29] drops the bottom ~22 exponents — ~73% of
    // the rows — into bucket 0, so the a-dimension carries almost no
    // information and a low-range box reads most of the table. Rank
    // buckets give every exponent its share of the grid.
    val n = 21000
    val data = spark.range(n.toLong).select(
      col("id").as("k"),
      expr("shiftleft(cast(1 as bigint), cast(id % 30 as int))").as("a"),
      (pmod(col("id") * 69621L, lit(104857L)) % 1000).as("b"))
    val root = Scratch.tempDir("graft_zq_spec")
    val affPath = root + "/aff"
    val qPath = root + "/q"
    try {
      ZOrder.writeZOrdered(data, affPath, "a", "b", bits = 8, numFiles = 32)
      ZOrder.writeZOrderedQuantile(data, qPath, "a", "b", tieBreaker = "k",
        bits = 8, numFiles = 32)

      // quantile layout splits row MASS evenly by construction
      val q = spark.read.parquet(FileStats.statsPath(qPath))
        .select("n_rows").collect().map(_.getLong(0))
      val qMean = n.toDouble / q.length
      assert(q.max <= (2.5 * qMean).toLong,
        s"quantile layout unbalanced: max=${q.max} mean=$qMean files=${q.length}")

      // a low-range box (exponents 0..9, ~1/3 of rows, b-unconstrained):
      // the affine layout mixes those rows into bucket 0 with the
      // bottom 22 exponents, the quantile layout isolates them
      val affCand = FileStats.candidateFiles(spark, affPath, box(1L, 512L, 0L, 999L)).size
      val qCand = FileStats.candidateFiles(spark, qPath, box(1L, 512L, 0L, 999L)).size
      assert(qCand * 2 <= affCand,
        s"rank buckets should at least halve the candidates: q=$qCand aff=$affCand")

      // pruning over the quantile layout stays lossless — stats are
      // real column min/max regardless of how buckets were drawn
      val got = FileStats.prunedRead(spark, qPath, box(1L, 512L, 0L, 999L))
        .where(col("a").between(1, 512) && col("b").between(0, 999))
      val want = data.where(col("a").between(1, 512) && col("b").between(0, 999))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("a second write of the same input cuts the same files, whatever the RDD counter") {
    // Spark seeds a range partitioner's sample from the RDD id, so cuts
    // drawn from a sample move with how many RDDs the JVM made first;
    // every curve layout must cut the same files on a second write —
    // the two 2-D writers and a q112-shaped 3-D affine zValueN curve
    val n = 21000
    val data = spark.range(n.toLong).select(
      col("id").as("k"),
      expr("shiftleft(cast(1 as bigint), cast(id % 30 as int))").as("a"),
      (pmod(col("id") * 69621L, lit(104857L)) % 1000).as("b"))
    val data3 = data.withColumn("c", pmod(col("k") * 48271L, lit(104729L)) % 365)
    val root = Scratch.tempDir("graft_zdet_spec")
    def stats(path: String): Seq[String] =
      spark.read.parquet(FileStats.statsPath(path)).collect().map { r =>
        // the file name carries a per-write uuid; its part number is the file
        val part = "part-\\d+".r.findFirstIn(r.getString(0)).get
        (part +: r.toSeq.tail).mkString(",")
      }.sorted.toSeq
    def layouts(run: String): (Seq[String], Seq[String], Seq[String]) = {
      ZOrder.writeZOrdered(data, s"$root/$run/aff", "a", "b", bits = 8, numFiles = 32)
      ZOrder.writeZOrderedQuantile(data, s"$root/$run/q", "a", "b", tieBreaker = "k",
        bits = 8, numFiles = 32)
      val dims3 = Seq(col("a"), col("b"), col("c"))
      ZOrder.writeCurve(data3, s"$root/$run/z3",
        ZOrder.zValueN(ZOrder.affineBuckets(data3, dims3, 6), 6),
        numFiles = 32, statCols = Seq("a", "b", "c"))
      (stats(s"$root/$run/aff"), stats(s"$root/$run/q"), stats(s"$root/$run/z3"))
    }
    val (aff1, q1, z31) = layouts("first")
    (1 to 3).foreach(i => spark.sparkContext.parallelize(1 to i).count())
    val (aff2, q2, z32) = layouts("second")
    assert(aff1.length >= 16 && q1.length >= 16, s"files: aff=${aff1.length} q=${q1.length}")
    assert(aff2 == aff1, "the affine layout changed between two writes of the same input")
    assert(q2 == q1, "the quantile layout changed between two writes of the same input")
    assert(z31.length >= 16, s"files: z3=${z31.length}")
    assert(z32 == z31, "the 3-D curve layout changed between two writes of the same input")
  }

  test("q103: quantile-layout pruned read equals the full-scan filter") {
    val out = SparkEntry.q103ZorderQuantile(spark, SfDir)
    val want = Tables.events(spark, SfDir)
      .where(col("user_id").between(10, 20) && col("value").between(30.0, 60.0))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(out.exceptAll(want).count() == 0 && want.exceptAll(out).count() == 0,
      "quantile-layout pruned aggregate diverges from the full scan")
  }

  test("bloom key index: no false negatives, real point-lookup skipping") {
    // unique sequential key, uncorrelated with the curve dims after
    // the z-shuffle — the case min/max boxes cannot discriminate
    val n = 20000
    val data = spark.range(n.toLong).select(
      col("id").as("k"),
      (pmod(col("id") * 48271L, lit(104729L)) % 1000).as("a"),
      (pmod(col("id") * 69621L, lit(104857L)) % 1000).as("b"))
    val root = Scratch.tempDir("graft_zbloom_spec")
    val path = root + "/t"
    try {
      ZOrder.writeZOrdered(data, path, "a", "b", bits = 8, numFiles = 32,
        keyCol = Some("k"))
      val nFiles = spark.read.parquet(FileStats.statsPath(path)).count()

      // present keys ALWAYS surface their row (no false negatives)
      val probes = Seq(0L, 1L, 9999L, 19999L, 777L)
      val got = FileStats.prunedRead(spark, path, Seq(KeyIn("k", probes)))
        .where(col("k").isin(probes: _*))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(got == probes.toSet, s"point lookup lost keys: ${probes.toSet -- got}")

      // a unique key lives in ONE file; fpp=0.01 over ~32 files adds
      // at most a few stragglers — far below reading everything
      val cand = FileStats.candidateFiles(spark, path, Seq(KeyIn("k", Seq(777L)))).size
      assert(cand <= math.max(4, nFiles / 4).toInt,
        s"bloom skipped too little: $cand of $nFiles files")

      // an absent key prunes to ~nothing and reads no matching rows
      val absent = FileStats.prunedRead(spark, path, Seq(KeyIn("k", Seq(987654321L))))
        .where(col("k") === 987654321L)
      assert(absent.count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("q101: pruned point lookup equals the full-scan lookup") {
    val got = SparkEntry.q101BloomLookup(spark, SfDir)
    val want = Tables.events(spark, SfDir)
      .where(col("event_id").isin(5L, 123L, 456L))
      .select("event_id", "event_type", "user_id", "value")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "bloom-pruned lookup diverges from the full scan")
    assert(got.count() == 3)
  }

  test("hilbert: bijection over the full grid and unit-step adjacency") {
    import graft.functions.Hilbert
    val order = 4
    val n = 1 << order
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield (x, y, Hilbert.xy2d(order, x.toLong, y.toLong))
    // bijection: every cell gets a distinct distance covering [0, 4^order)
    val ds = cells.map(_._3)
    assert(ds.toSet == (0L until (n.toLong * n)).toSet, "not a bijection")
    // THE Hilbert property (what Morton lacks): consecutive distances
    // are grid-adjacent cells — |Δx| + |Δy| == 1, every step
    val byD = cells.map { case (x, y, d) => d -> (x, y) }.toMap
    (1L until (n.toLong * n)).foreach { d =>
      val (x0, y0) = byD(d - 1); val (x1, y1) = byD(d)
      assert(math.abs(x1 - x0) + math.abs(y1 - y0) == 1,
        s"step $d jumps from ($x0,$y0) to ($x1,$y1)")
    }
    // the expression twin evaluates the same function (codegen path)
    graft.functions.GraftFunctions.register(spark)
    val viaExpr = Seq((5L, 3L), (0L, 0L), (15L, 15L), (7L, 8L))
      .toDF("x", "y")
      .select(call_function("graft_hilbert", col("x"), col("y"), lit(4)).as("d"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaExpr == Seq(
      Hilbert.xy2d(4, 5, 3), Hilbert.xy2d(4, 0, 0),
      Hilbert.xy2d(4, 15, 15), Hilbert.xy2d(4, 7, 8)))
  }

  test("hilbert layout: lossless box pruning; never more candidate files than z-order on the panel") {
    val root = Scratch.tempDir("graft_hilbert_spec")
    val hPath = root + "/h"
    val zPath = root + "/z"
    try {
      // uniform 2-D data so both curves get a fair grid
      val df = spark.range(40000L).select(
        (col("id") % 199L).as("a"),
        ((col("id") * 48271L) % 193L).as("b"))
      ZOrder.writeHilbert(df, hPath, "a", "b", bits = 6, numFiles = 24)
      ZOrder.writeZOrdered(df, zPath, "a", "b", bits = 6, numFiles = 24)

      // losslessness on a box
      val gotH = FileStats.prunedRead(spark, hPath, box(20L, 60L, 50L, 120L))
        .where(col("a").between(20L, 60L) && col("b").between(50L, 120L))
      val want = df
        .where(col("a").between(20L, 60L) && col("b").between(50L, 120L))
      assert(gotH.exceptAll(want).count() == 0 &&
        want.exceptAll(gotH).count() == 0, "hilbert pruning lost/invented rows")

      // locality panel: identical boxes against both layouts; Hilbert's
      // adjacency means its files' stat boxes tile more compactly —
      // measured as never-worse total candidates on this panel
      val boxes = Seq(
        (0L, 40L, 0L, 40L), (100L, 150L, 100L, 160L),
        (50L, 90L, 20L, 60L), (150L, 198L, 150L, 192L),
        (20L, 60L, 50L, 120L), (80L, 120L, 80L, 120L))
      val (hTot, zTot) = boxes.foldLeft((0L, 0L)) {
        case ((ht, zt), (la, ha, lb, hb)) =>
          (ht + FileStats.candidateFiles(spark, hPath, box(la, ha, lb, hb)).size,
            zt + FileStats.candidateFiles(spark, zPath, box(la, ha, lb, hb)).size)
      }
      assert(hTot <= zTot,
        s"hilbert candidates ($hTot) exceeded z-order ($zTot) on the panel")
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }
}
