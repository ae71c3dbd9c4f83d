package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.sources.FileStats
import graft.sources.FileStats.{Between, IsNull, KeyIn}
import graft.tools.Scratch

/** Generic per-file stats manifest (sources/FileStats.scala): stat
  * correctness against global aggregates, range/null/bloom pruning
  * losslessness, all-null-file semantics, predicate conjunction, and
  * the q106 wiring over a time-clustered layout. */
class FileStatsSpec extends SparkSpec {

  test("stats reconcile with global aggregates; pruning is lossless both ways") {
    val n = 20000
    // a: range-clustered (prunable); b: uncorrelated with layout
    // (every file spans it); planted nulls in b
    val data = spark.range(n.toLong).select(
      col("id").as("k"),
      col("id").as("a"),
      when(col("id") % 100 === 0, lit(null).cast("long"))
        .otherwise(pmod(col("id") * 69621L, lit(104857L)) % 1000).as("b"))
    val root = Scratch.tempDir("graft_fstats_spec")
    val path = root + "/t"
    try {
      data.repartitionByRange(16, col("a")).sortWithinPartitions("a")
        .write.parquet(path)
      FileStats.build(spark, path, cols = Seq("a", "b"), keyCols = Seq("k"))

      val stats = spark.read.parquet(FileStats.statsPath(path))
      val g = stats.agg(
        sum("n_rows"), min("min_a"), max("max_a"), sum("nulls_b")).collect()(0)
      assert(g.getLong(0) == n && g.getLong(1) == 0L &&
        g.getLong(2) == n - 1L && g.getLong(3) == n / 100L,
        "per-file stats do not reconcile with the table's global aggregates")

      // clustered column prunes; candidates still hold every match
      val nFiles = stats.count()
      val aPreds = Seq(Between("a", 1000L, 2000L))
      assert(FileStats.candidateFiles(spark, path, aPreds).size < nFiles / 2)
      val gotA = FileStats.prunedRead(spark, path, aPreds)
        .where(col("a").between(1000L, 2000L))
      val wantA = data.where(col("a").between(1000L, 2000L))
      assert(gotA.exceptAll(wantA).count() == 0 && wantA.exceptAll(gotA).count() == 0)

      // uncorrelated column cannot prune — and must not lose rows
      val bPreds = Seq(Between("b", 100L, 200L))
      assert(FileStats.candidateFiles(spark, path, bPreds).size == nFiles)
      val gotB = FileStats.prunedRead(spark, path, bPreds)
        .where(col("b").between(100L, 200L))
      val wantB = data.where(col("b").between(100L, 200L))
      assert(gotB.exceptAll(wantB).count() == 0 && wantB.exceptAll(gotB).count() == 0)

      // IsNull prunes to files that actually hold nulls, losslessly
      val nullFiles = FileStats.candidateFiles(spark, path, Seq(IsNull("b")))
      assert(nullFiles.nonEmpty && nullFiles.size <= nFiles)
      assert(FileStats.prunedRead(spark, path, Seq(IsNull("b")))
        .where(col("b").isNull).count() == n / 100L)

      // key bloom: every probed present key survives; real skipping;
      // conjunction INTERSECTS (range + key)
      val keys = Seq(5L, 4321L, 19999L)
      val got = FileStats.prunedRead(spark, path, Seq(KeyIn("k", keys)))
        .where(col("k").isin(keys: _*)).select("k").collect().map(_.getLong(0)).toSet
      assert(got == keys.toSet, s"bloom lost keys: ${keys.toSet -- got}")
      assert(FileStats.candidateFiles(spark, path, Seq(KeyIn("k", Seq(5L)))).size
        <= math.max(4, nFiles / 4))
      val conj = FileStats.candidateFiles(spark, path,
        Seq(Between("a", 0L, 100L), KeyIn("k", Seq(19999L))))
      // k=19999 lives only in the top a-range file; a∈[0,100] only in
      // the bottom one — the conjunction's candidate set is EMPTY
      assert(conj.isEmpty, s"conjunction should intersect to nothing: $conj")
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("an all-null file is prunable for a range and kept for IsNull") {
    val sess = spark
    import sess.implicits._
    val root = Scratch.tempDir("graft_fstats_null")
    val path = root + "/t"
    try {
      // two files: one real-valued, one entirely null in c
      Seq((1L, Some(10L)), (2L, Some(20L))).toDF("id", "c")
        .coalesce(1).write.mode("append").parquet(path)
      Seq((3L, None: Option[Long]), (4L, None: Option[Long])).toDF("id", "c")
        .coalesce(1).write.mode("append").parquet(path)
      FileStats.build(spark, path, cols = Seq("c"))

      // a range predicate can NEVER match a null — the all-null file
      // is proven non-matching and skipped
      val cand = FileStats.candidateFiles(spark, path, Seq(Between("c", 0L, 100L)))
      assert(cand.size == 1, s"all-null file not pruned: $cand")
      val got = FileStats.prunedRead(spark, path, Seq(Between("c", 0L, 100L)))
        .where(col("c").between(0L, 100L))
      assert(got.count() == 2)
      // IsNull keeps exactly the all-null file
      assert(FileStats.candidateFiles(spark, path, Seq(IsNull("c"))).size == 1)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("incremental refresh carries stat rows untouched and scans only new files") {
    val sess = spark
    import sess.implicits._
    import graft.sources.{Compact, Publish}
    val big = (1L to 20000L).map(i => (i, i * 3 % 997)).toDF("k", "v")
    val small = (20001L to 21000L).map(i => (i, i * 3 % 997)).toDF("k", "v")
    val root = Scratch.tempDir("graft_fstats_inc")
    try {
      Publish.publishStaged(spark, root) { staging =>
        Files.createDirectories(Paths.get(staging)): Unit
        big.repartition(2).write.mode("append").parquet(staging)
        small.repartition(24).write.mode("append").parquet(staging)
      }: Unit
      val v1 = Publish.currentVersion(root).get
      val v1Dir = s"$root/v=$v1"
      FileStats.build(spark, v1Dir, cols = Seq("v"), keyCols = Seq("k"))
      val v1Stats = spark.read.parquet(FileStats.statsPath(v1Dir))
        .select(element_at(split(col("file"), "/"), -1).as("name"),
          col("n_rows"), col("min_v"), col("max_v"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

      val (_, carriedFiles, rewritten) = Compact.compactPublishedIncremental(
        spark, root, targetBytes = 1L << 20, minBytes = 10000L)
      val v2Dir = s"$root/v=${Publish.currentVersion(root).get}"
      val (carried, scanned) = FileStats.buildIncremental(spark, v2Dir,
        cols = Seq("v"), keyCols = Seq("k"), priorFrom = Some(v1Dir))
      assert(carried == carriedFiles && carried == 2,
        s"expected the 2 big files carried, got $carried")
      assert(scanned < rewritten, s"scanned $scanned ≥ rewritten $rewritten")

      // carried rows: same stat VALUES under the same file names,
      // re-pointed at the new version dir
      val v2Stats = spark.read.parquet(FileStats.statsPath(v2Dir))
        .select(col("file"), element_at(split(col("file"), "/"), -1).as("name"),
          col("n_rows"), col("min_v"), col("max_v")).collect()
      v2Stats.filter(r => v1Stats.contains(r.getString(1))).foreach { r =>
        assert(v1Stats(r.getString(1)) == ((r.getLong(2), r.getLong(3), r.getLong(4))),
          s"carried stat row changed for ${r.getString(1)}")
        assert(r.getString(0).contains(s"v=${Publish.currentVersion(root).get}"),
          s"carried row not re-pointed: ${r.getString(0)}")
      }

      // after vacuuming the OLD version, pruning over the refreshed
      // manifest still works and stays lossless — nothing references
      // the dead paths
      Publish.vacuum(root, keep = 0): Unit
      val got = FileStats.prunedRead(spark, v2Dir, Seq(Between("v", 100L, 200L)))
        .where(col("v").between(100L, 200L))
      val want = big.unionByName(small).where(col("v").between(100L, 200L))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
      // key bloom carried over too: a present key must surface
      assert(FileStats.prunedRead(spark, v2Dir, Seq(KeyIn("k", Seq(20500L))))
        .where(col("k") === 20500L).count() == 1)
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }

  test("q110: pruned aggregate over the maintained manifest equals the full scan") {
    val out = SparkEntry.q110StatsMaintenance(spark, SfDir)
    val want = Tables.events(spark, SfDir)
      .where(col("value") >= 20.0 && col("value") <= 60.0)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(out.exceptAll(want).count() == 0 && want.exceptAll(out).count() == 0,
      "maintained-manifest pruned aggregate diverges from the full scan")
  }

  test("q106: stats-pruned week range equals the full-scan filter") {
    val out = SparkEntry.q106StatsPrune(spark, SfDir)
    val lo = java.sql.Timestamp.valueOf("2024-01-10 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-01-17 00:00:00")
    val want = Tables.events(spark, SfDir)
      .where(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col("value"), 6).cast("decimal(18,6)"))
          .cast("double").as("sum_value"))
    assert(out.count() > 0, "the planted week range matched no testdata rows")
    assert(out.exceptAll(want).count() == 0 && want.exceptAll(out).count() == 0,
      "stats-pruned aggregate diverges from the full scan")
  }

  test("layout evolution: one manifest prunes each epoch by ITS OWN clustering") {
    val sess = spark
    import sess.implicits._
    // epoch A: id-clustered (8 files on disjoint id ranges); epoch B:
    // k-clustered (8 files on disjoint k ranges) — the layout changed
    // mid-table, as under Iceberg partition evolution
    val root = Scratch.tempDir("graft_fstats_evo")
    val dir = root + "/t"
    try {
      val a = (1L to 8000L).map(i => (i, i % 100, "A")).toDF("id", "k", "epoch")
      val b = (8001L to 16000L).map(i => (i, i % 100, "B")).toDF("id", "k", "epoch")
      a.repartitionByRange(8, col("id")).sortWithinPartitions("id")
        .write.mode("append").parquet(dir)
      b.repartitionByRange(8, col("k")).sortWithinPartitions("k")
        .write.mode("append").parquet(dir)
      val total = graft.sources.Compact.listDataFiles(dir).size
      assert(total == 16)
      graft.sources.FileStats.build(spark, dir, cols = Seq("id", "k"))

      // id predicate spanning the epoch boundary: prunes epoch A hard
      // (disjoint id ranges), keeps all of epoch B (every B file
      // spans B's whole id range)
      val idCand = graft.sources.FileStats.candidateFiles(spark, dir,
        Seq(graft.sources.FileStats.Between("id", 7500L, 8500L)))
      assert(idCand.size <= 1 + 8, s"id pruning ineffective: ${idCand.size}/$total")
      // k predicate: the mirror — epoch B prunes, epoch A survives
      val kCand = graft.sources.FileStats.candidateFiles(spark, dir,
        Seq(graft.sources.FileStats.Between("k", 10L, 19L)))
      assert(kCand.size <= 8 + 2, s"k pruning ineffective: ${kCand.size}/$total")
      // conjunction: both epochs prune — the manifest serves BOTH
      // layouts without knowing either existed
      val both = graft.sources.FileStats.candidateFiles(spark, dir, Seq(
        graft.sources.FileStats.Between("id", 7500L, 8500L),
        graft.sources.FileStats.Between("k", 10L, 19L)))
      assert(both.size < idCand.size && both.size < kCand.size,
        s"conjunction did not tighten: ${both.size} vs ${idCand.size}/${kCand.size}")
      // losslessness under the mixed layout
      val want = spark.read.parquet(dir)
        .where(col("id").between(7500L, 8500L) && col("k").between(10L, 19L))
      val got = graft.sources.FileStats.prunedRead(spark, dir, Seq(
          graft.sources.FileStats.Between("id", 7500L, 8500L),
          graft.sources.FileStats.Between("k", 10L, 19L)))
        .where(col("id").between(7500L, 8500L) && col("k").between(10L, 19L))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("graft_kmv_agg: equals collect_set+slice bit-for-bit, partition-invariant, null-safe") {
    graft.functions.GraftFunctions.register(spark)
    // duplicated + negative + null hashes: 977 distinct values (> k)
    val df = spark.range(100000L).select(
      when(col("id") % 500 === 0, lit(null).cast("long"))
        .otherwise((col("id") % 977) * 2654435761L - 1000000000000L).as("h"),
      (col("id") % 5).as("g"))
    val want = df.groupBy("g")
      .agg(slice(array_sort(collect_set(col("h"))), 1, 64).as("kmv"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    for (p <- Seq(1, 7, 32)) {
      val got = df.repartition(p).groupBy("g")
        .agg(call_function("graft_kmv_agg", col("h"), lit(64)).as("kmv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(got == want, s"kmv_agg != collect_set+slice at $p partitions")
    }
    // group smaller than k: the sketch IS the sorted distinct set
    val small = spark.range(10L).select((col("id") * 7L).as("h"))
      .agg(call_function("graft_kmv_agg", col("h"), lit(64)))
      .collect()(0).getSeq[Long](0)
    assert(small == (0L until 10L).map(_ * 7L), "below-k group not the full set")
  }

  test("KMV sketches: exact ndv below k, bounded estimate above, deterministic rebuild, incremental carry") {
    val root = Scratch.tempDir("graft_fstats_kmv")
    val path = root + "/t"
    try {
      // 4 files; cat has 3 values everywhere, id is near-unique
      // (~2000 distinct per file)
      val data = spark.range(8000L).select(
        col("id"),
        concat(lit("c"), (col("id") % 3).cast("string")).as("cat"))
      data.repartition(4, col("id")).write.parquet(path)
      FileStats.build(spark, path, cols = Nil,
        kmvCols = Seq("cat", "id"))

      val stats = spark.read.parquet(FileStats.statsPath(path))
      assert(stats.count() == 4)
      val ndvs = stats.select(
        FileStats.ndvEstimate(col("kmv_cat"), 64).as("nc"),
        FileStats.ndvEstimate(col("kmv_id"), 64).as("ni"),
        size(col("kmv_cat")).as("sc"), size(col("kmv_id")).as("si"))
        .collect()
      ndvs.foreach { r =>
        // below k: the sketch IS the distinct set — estimate exact
        assert(r.getAs[Int]("sc") == 3 && r.getDouble(0) == 3.0,
          s"cat ndv not exact: $r")
        // above k: sketch caps at k, estimate within the KMV error
        // envelope of the true 2000 (k=64 → σ≈ndv/√(k−2)≈254; ±45%
        // is >3.5σ — and the md5 chain is deterministic, so this is
        // a fixed number, not a flake)
        assert(r.getAs[Int]("si") == 64, s"id sketch not capped: $r")
        val ni = r.getDouble(1)
        assert(ni > 1100 && ni < 2900, s"id ndv estimate off: $ni")
      }

      // deterministic rebuild: same bytes in, same sketches out
      val before = stats.select("file", "kmv_id").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      FileStats.build(spark, path, cols = Nil,
        kmvCols = Seq("cat", "id"))
      val after = spark.read.parquet(FileStats.statsPath(path))
        .select("file", "kmv_id").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(before == after, "KMV rebuild not deterministic")

      // incremental: a new file is scanned, old sketches carry untouched
      spark.range(8000L, 9000L).select(
          col("id"),
          concat(lit("c"), (col("id") % 3).cast("string")).as("cat"))
        .coalesce(1).write.mode("append").parquet(path)
      val (carried, scanned) = FileStats.buildIncremental(spark, path,
        cols = Nil, kmvCols = Seq("cat", "id"))
      assert(carried == 4 && scanned == 1, s"carried=$carried scanned=$scanned")
      val refreshed = spark.read.parquet(FileStats.statsPath(path))
        .select("file", "kmv_id").collect()
        .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      before.foreach { case (f, kmv) =>
        val name = f.substring(f.lastIndexOf('/'))
        val kept = refreshed.collect { case (f2, v) if f2.endsWith(name) => v }
        assert(kept.size == 1 && kept.head == kmv, s"carried sketch changed for $name")
      }
    } finally {
      graft.sources.Sinks.deleteRecursively(java.nio.file.Paths.get(root))
    }
  }

  test("bloom sizing from footers equals the count / distinct-file values it replaced") {
    val root = Scratch.tempDir("graft_fstats_sizing")
    val data = spark.range(3000L).select(col("id").as("k"), (col("id") % 3).as("p"))
    val partitioned = root + "/partitioned"
    val withEmpty = root + "/with_empty"
    try {
      // files only below k=v directories: a top-level listing sees none
      data.repartition(2).write.partitionBy("p").parquet(partitioned)
      // a zero-row file next to two non-empty ones: it holds no rows,
      // so `input_file_name()` never names it
      data.repartition(2).write.parquet(withEmpty)
      data.limit(0).write.mode("append").parquet(withEmpty)
      assert(spark.read.parquet(withEmpty).inputFiles.length == 3)
      Seq(partitioned -> 6L, withEmpty -> 2L).foreach { case (path, filesWithRows) =>
        val read = spark.read.parquet(path)
        val nRows = read.count()
        val nFiles = math.max(1L, read.select(input_file_name()).distinct().count())
        assert(nFiles == filesWithRows, s"$path: fixture has $nFiles files with rows")
        val bits = (n: Long) => BloomFilter.create(math.max(64L, 2L * nRows / n), 0.01).bitSize()
        // the fixture tells the right file count from the plausible wrong ones
        Seq(1L, read.inputFiles.length.toLong).filter(_ != nFiles).foreach { wrong =>
          assert(bits(wrong) != bits(nFiles), s"$path: fixture cannot detect nFiles=$wrong")
        }
        FileStats.build(spark, path, cols = Seq("k"), keyCols = Seq("k"))
        val blooms = spark.read.parquet(FileStats.statsPath(path))
          .select("bloom_k").collect().map(r => BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](0))).bitSize())
        assert(blooms.length == filesWithRows)
        assert(blooms.forall(_ == bits(nFiles)),
          s"$path: bloom sizes ${blooms.toSeq} != ${bits(nFiles)} for $nRows rows over $nFiles files")
      }
    } finally {
      graft.sources.Sinks.deleteRecursively(Paths.get(root))
    }
  }
}
