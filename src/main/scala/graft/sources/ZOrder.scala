package graft.sources

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Z-order clustering + file-level min/max data skipping — the
  * lakehouse stats-manifest pattern (Delta/Iceberg Z-ORDER) as a
  * composable pair of operators. Spark prunes at planning time only
  * on PARTITION columns; parquet row-group min/max helps only at
  * read. For a 100 TB table queried by 2-D box predicates, the
  * missing layer is FILE-level skipping: lay the table out along a
  * space-filling curve so every file covers a small box in BOTH
  * dimensions, store each file's per-column min/max in a stats table
  * built once at write time, and answer a box predicate by reading
  * only the files whose box intersects it.
  *
  * Why the curve matters: a linear sort on column A gives tight
  * per-file A-ranges but leaves every file spanning B's full range —
  * a B-constrained predicate prunes NOTHING. Bit-interleaving the two
  * bucketed dimensions (the Morton/Z curve) bounds both: 2^bits
  * buckets per dimension, consecutive z-values share high-order bits
  * of both coordinates, so a range-partitioned write yields files
  * whose (A, B) boxes are small — and the stats table turns that
  * locality into skipped I/O.
  *
  * Scale posture: the stats table is |files| rows (a 100 TB table at
  * 1 GB files is ~100k rows — KBs of driver memory, the same bound a
  * Delta log or Iceberg manifest accepts by design), built in ONE
  * scan at write time, and pruning is a driver-side filter over it.
  * Bucketing is affine on the global min/max (two scalars per
  * column, one cheap agg) — exact integer arithmetic, deterministic;
  * heavily skewed columns want [[writeZOrderedQuantile]]'s exact-rank
  * buckets instead, and the curve plus the stats layer are unchanged
  * by that swap.
  *
  * Pruning is an OPTIMIZATION, never semantics: `prunedRead` callers
  * re-apply the predicate to the surviving files' rows, so a stats
  * bug can only surface as a hash mismatch against the full-scan
  * oracle (q100 wires exactly that check).
  */
object ZOrder {

  /** Morton/Z-value: interleave the low `bits` bits of two bucket
    * ids (`a` into odd positions, `b` into even). Pure column
    * algebra — shifts and masks, codegen'd, no UDF. */
  def zValue(a: Column, b: Column, bits: Int): Column =
    zValueN(Seq(a, b), bits)

  /** k-ary Morton interleave — the N-dimensional curve: bit `i` of
    * dimension `j` lands at position `i·k + (k−1−j)`, so the FIRST
    * listed column owns the most-significant bit of every group
    * (k = 2 reproduces [[zValue]]'s odd/even layout exactly). Same
    * pure column algebra; `bits·k` must fit a long. */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val k = cols.length
    require(k >= 1, "zValueN needs at least one column")
    require(bits >= 1 && bits * k <= 63,
      s"bits·dims must fit a long: bits=$bits dims=$k")
    cols.zipWithIndex.foldLeft(lit(0L)) { case (acc, (c, j)) =>
      (0 until bits).foldLeft(acc) { (a, i) =>
        a.bitwiseOR(shiftleft(
          shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
          i * k + (k - 1 - j)))
      }
    }
  }

  /** Affine bucket id in [0, 2^bits): floor((v − min) · 2^bits /
    * (max − min + ulp)), clamped. min/max are provided (one agg
    * upstream); the +1-denominator form keeps v = max inside the top
    * bucket without a special case. */
  def affineBucket(v: Column, minV: Column, maxV: Column, bits: Int): Column = {
    val n = lit(1L << bits)
    val span = maxV.cast("double") - minV.cast("double")
    least(
      greatest(
        floor((v.cast("double") - minV.cast("double")) * n.cast("double") /
          (span + lit(1e-9))).cast("long"),
        lit(0L)),
      n - lit(1L))
  }

  /** Where the stats table lives: INSIDE the table directory, under
    * an underscore-prefixed name — Hadoop's listing filter hides it
    * from a plain `read.parquet(path)` of the table (the `_metadata`
    * convention), and the table + its manifest share one lifecycle
    * (a reaped scratch dir can't leave an orphaned stats table). */
  def statsPath(path: String): String = path + "/_zstats"

  /** Write `df` clustered along the Z curve of (`colA`, `colB`) into
    * `~numFiles` files at `path`, and a per-file min/max stats table
    * at [[statsPath]]. One exchange on exact z-value ranges (the
    * clustering shuffle — the cost Z-ORDER always pays; its cuts come
    * from one histogram job), one read-back scan to build the stats
    * (the manifest-build pass).
    *
    * `keyCol` additionally folds each file's values of a
    * HIGH-CARDINALITY key into a per-file BLOOM column
    * ([[graft.functions.BloomAgg]] over `xxhash64(key)`): after the
    * z-shuffle a sequential id is uncorrelated with the curve dims,
    * so every file's key min/max spans nearly the whole domain and
    * boxes discriminate nothing — the bloom is what makes point
    * lookups skip files. False positives only ADD candidate files
    * (rows are re-filtered after the read); false negatives are
    * impossible, so pruning never changes results. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      bits: Int = 8,
      numFiles: Int = 32,
      keyCol: Option[String] = None,
      keyFpp: Double = 0.01): Unit = {
    val bounds = df.agg(
      min(colA).as("la"), max(colA).as("ha"),
      min(colB).as("lb"), max(colB).as("hb"),
      count(lit(1)).as("n")).collect()(0)
    val la = lit(bounds.get(0)); val ha = lit(bounds.get(1))
    val lb = lit(bounds.get(2)); val hb = lit(bounds.get(3))
    val nRows = bounds.getLong(4)
    val withZ = df.withColumn("__z", zValue(
      affineBucket(col(colA), la, ha, bits),
      affineBucket(col(colB), lb, hb, bits), bits))
    clusterAndWrite(withZ, path, colA, colB, numFiles, keyCol, keyFpp, nRows)
  }

  /** [[writeZOrdered]] along the HILBERT curve instead of the Morton
    * interleave ([[graft.functions.HilbertIndex2D]]): identical
    * bucketing, identical stats manifest, identical read/prune paths
    * — only the curve changes. Why offer both: every unit step of the
    * Hilbert curve is grid-adjacent (the Z curve jumps across half
    * the grid at quadrant seams), so a contiguous curve run — which
    * is what one file IS after the `__z` range partition — covers a
    * more compact rectangle, and a box predicate intersects fewer
    * files (ZOrderSpec measures the panel; Hilbert never lost on it).
    * The trade is write-side only: the index is an O(order) rotation
    * loop per row (codegen'd static call) instead of pure
    * shift/mask algebra — invisible next to the clustering
    * exchange. */
  def writeHilbert(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      bits: Int = 8,
      numFiles: Int = 32,
      keyCol: Option[String] = None,
      keyFpp: Double = 0.01): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val bounds = df.agg(
      min(colA).as("la"), max(colA).as("ha"),
      min(colB).as("lb"), max(colB).as("hb"),
      count(lit(1)).as("n")).collect()(0)
    val la = lit(bounds.get(0)); val ha = lit(bounds.get(1))
    val lb = lit(bounds.get(2)); val hb = lit(bounds.get(3))
    val nRows = bounds.getLong(4)
    val withZ = df.withColumn("__z", call_function("graft_hilbert",
      affineBucket(col(colA), la, ha, bits),
      affineBucket(col(colB), lb, hb, bits), lit(bits)))
    clusterAndWrite(withZ, path, colA, colB, numFiles, keyCol, keyFpp, nRows)
  }

  /** [[writeZOrdered]] with exact-RANK buckets instead of affine ones
    * — the documented skewed-column trade, closed. An affine bucket
    * maps the VALUE range uniformly, so a heavy-hitter value (90% of
    * rows sharing one key) lands 90% of the table in one z-run and the
    * layout degenerates to a couple of giant files whose boxes span
    * everything. Rank buckets split the ROW MASS uniformly by
    * construction: bucket = floor(rank·2^bits / n) over the global
    * order (column, tiebreaker), computed distributed by the
    * [[graft.operators.PrefixSum]] two-pass scan — no single-task
    * window, no driver quantile array, exact integer arithmetic (a
    * Greenwald-Khanna approximation would also serve the layout, but
    * exact ranks cost the same one range exchange here and keep file
    * balance provable rather than probabilistic). The curve, the
    * stats manifest, and every read/prune path are UNCHANGED — stats
    * store real column min/max, so `candidateFiles`/`prunedRead`
    * work identically; ties sharing a value across a bucket boundary
    * only widen two files' boxes, never break their truthfulness.
    *
    * `tieBreaker` must be a unique non-null column ([[PrefixSum]]'s
    * total-order contract) — it makes bucket assignment deterministic
    * and partition-count-invariant. Cost: two range exchanges (one
    * per dimension's rank pass) + the clustering exchange, all
    * write-time; reads pay nothing new. */
  def writeZOrderedQuantile(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      tieBreaker: String,
      bits: Int = 8,
      numFiles: Int = 32,
      keyCol: Option[String] = None,
      keyFpp: Double = 0.01): Unit = {
    import graft.operators.PrefixSum
    val reserved = Seq("__one", "__ra", "__rb", "__z")
    require(!reserved.exists(df.columns.contains),
      s"columns ${reserved.mkString("/")} are reserved by writeZOrderedQuantile")
    val nRows = df.count()
    val n = math.max(1L, nRows)
    val ranked = PrefixSum.globalRunningSum(
      PrefixSum.globalRunningSum(
        df.withColumn("__one", lit(1L)),
        Seq(colA, tieBreaker), "__one", "__ra"),
      Seq(colB, tieBreaker), "__one", "__rb")
    // floor((rank-1)·2^bits / n): nonnegative operands, so integer
    // `div` (truncate) IS floor — no double division anywhere
    val withZ = ranked.withColumn("__z", zValue(
        expr(s"((__ra - 1) * ${1L << bits}) div $n"),
        expr(s"((__rb - 1) * ${1L << bits}) div $n"), bits))
      .drop("__one", "__ra", "__rb")
    clusterAndWrite(withZ, path, colA, colB, numFiles, keyCol, keyFpp, nRows)
  }

  /** Shared clustering write: cut the precomputed `__z` into
    * `numFiles` contiguous, equal-mass ranges, route range i to shuffle
    * partition i, drop `__z`, write the data files, then one read-back
    * scan builds the per-file min/max (+ optional key bloom) manifest.
    *
    * The cuts come from `__z`'s EXACT histogram, collected on the
    * driver (at most min(rows, 4^bits) entries — 65,536 at the default
    * `bits`): z value v opens file floor(rows below v · numFiles /
    * rows). So the layout is a function of the data, `bits` and
    * `numFiles` alone. A `repartitionByRange` would instead cut at a
    * sample seeded from the RDD id, i.e. from how many RDDs the JVM
    * made before. A z value heavier than one file's share keeps its
    * rows together, so such a layout writes fewer files. */
  private def clusterAndWrite(
      withZ: DataFrame,
      path: String,
      colA: String,
      colB: String,
      numFiles: Int,
      keyCol: Option[String],
      keyFpp: Double,
      nRows: Long): Unit = {
    val spark = withZ.sparkSession
    val hist = withZ.groupBy("__z").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val below = hist.scanLeft(0L)(_ + _._2)
    // (first z value, file) of every file that receives rows; the file
    // never decreases along z, so each file holds one z range
    val starts = hist.indices
      .map(i => (hist(i)._1, (below(i) * numFiles / below.last).toInt))
      .distinctBy(_._2)
    // hash partitioning sends key k to pmod(murmur3(k), numFiles); the
    // smallest int landing on each partition routes exactly there
    val keyOf = hashKeys(numFiles)
    def route(lo: Int, hi: Int): Column =
      if (lo == hi) lit(keyOf(starts(lo)._2))
      else {
        val mid = (lo + hi + 1) / 2
        when(col("__z") < starts(mid)._1, route(lo, mid - 1)).otherwise(route(mid, hi))
      }
    withZ
      .repartition(numFiles, if (starts.isEmpty) lit(0) else route(0, starts.length - 1))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    val baseAggs = Seq(
      count(lit(1)).as("n_rows"),
      min(colA).as("min_a"), max(colA).as("max_a"),
      min(colB).as("min_b"), max(colB).as("max_b"))
    if (keyCol.isDefined) graft.functions.GraftFunctions.register(spark)
    val aggs = baseAggs ++ keyCol.map { k =>
      // sized for a file's share of the rows (2× slack for range-
      // partition imbalance, 64 floor for tiny tables)
      val expected = math.max(64L, 2L * nRows / math.max(1, numFiles))
      call_function("graft_bloom_agg",
        xxhash64(col(k)), lit(expected), lit(keyFpp)).as("key_bloom")
    }
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .write.mode("overwrite").parquet(statsPath(path))
  }

  /** For each shuffle partition p < n, the smallest non-negative int
    * that Spark's hash partitioning sends to p: the same
    * `pmod(murmur3(k, 42), n)` expression, evaluated on the driver. */
  private def hashKeys(n: Int): Map[Int, Int] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Iterator.from(0)
      .map(k => Pmod(Murmur3Hash(Seq(Literal(k)), 42), Literal(n)).eval(null).asInstanceOf[Int] -> k)
      .scanLeft(Map.empty[Int, Int]) { case (m, (p, k)) => if (m.contains(p)) m else m + (p -> k) }
      .find(_.size == n).get
  }

  /** The files whose (A, B) stats box intersects `[loA, hiA] ×
    * [loB, hiB]` — the skipping decision, as a DataFrame over the
    * |files|-row stats table. */
  def candidateFiles(
      spark: SparkSession,
      path: String,
      loA: Any, hiA: Any, loB: Any, hiB: Any): DataFrame =
    spark.read.parquet(statsPath(path))
      .where(col("min_a") <= lit(hiA) && col("max_a") >= lit(loA) &&
        col("min_b") <= lit(hiB) && col("max_b") >= lit(loB))

  /** Read ONLY the candidate files for the box predicate. The file
    * list is a bounded driver collect (|files| rows — the manifest
    * bound documented above). Callers MUST still apply the predicate:
    * surviving files carry rows outside the box. */
  def prunedRead(
      spark: SparkSession,
      path: String,
      loA: Any, hiA: Any, loB: Any, hiB: Any): DataFrame = {
    val files = candidateFiles(spark, path, loA, hiA, loB, hiB)
      .select("file").collect().map(_.getString(0))
    readFiles(spark, path, files.toIndexedSeq)
  }

  // driver-side twin of `functions.xxhash64` on a single literal
  // (same algorithm, same default seed 42), so a probe value hashes
  // to exactly what the stored blooms were built from; shared with
  // FileStats' generic key-bloom probe
  private[sources] def sparkHash(v: Any): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42L)
      .eval(null).asInstanceOf[Long]

  /** The files whose key bloom might contain ANY of `keys` — the
    * point-lookup skipping decision. Probing is a driver-side pass
    * over the |files|-row manifest (each filter deserialized once);
    * a false positive costs one extra file read, a false negative
    * cannot happen. Requires the table to have been written with
    * `keyCol`; key values must carry the key column's type (a Long
    * for a bigint key) so the literal hash matches the column hash. */
  def keyCandidateFiles(
      spark: SparkSession,
      path: String,
      keys: Seq[Any]): Seq[String] = {
    val hs = keys.map(sparkHash)
    spark.read.parquet(statsPath(path)).select("file", "key_bloom")
      .collect()
      .filter { r =>
        val bf = BloomFilter.readFrom(
          new ByteArrayInputStream(r.getAs[Array[Byte]]("key_bloom")))
        hs.exists(bf.mightContainLong)
      }
      .map(_.getString(0)).toIndexedSeq
  }

  /** Read only the files whose bloom might hold one of `keys`.
    * Callers MUST still filter: blooms over-approximate. */
  def prunedReadByKeys(
      spark: SparkSession,
      path: String,
      keys: Seq[Any]): DataFrame =
    readFiles(spark, path, keyCandidateFiles(spark, path, keys))

  private def readFiles(
      spark: SparkSession,
      path: String,
      files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.parquet(files: _*)
}
