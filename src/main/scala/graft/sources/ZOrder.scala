package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order clustering + file-level min/max data skipping — the
  * lakehouse stats-manifest pattern (Delta/Iceberg Z-ORDER) as a
  * composable pair of operators. Spark prunes at planning time only
  * on PARTITION columns; parquet row-group min/max helps only at
  * read. For a 100 TB table queried by 2-D box predicates, the
  * missing layer is FILE-level skipping: lay the table out along a
  * space-filling curve so every file covers a small box in BOTH
  * dimensions, store each file's per-column min/max in the
  * [[FileStats]] manifest built once at write time, and answer a box
  * predicate by reading only the files whose box intersects it.
  *
  * Why the curve matters: a linear sort on column A gives tight
  * per-file A-ranges but leaves every file spanning B's full range —
  * a B-constrained predicate prunes NOTHING. Bit-interleaving the two
  * bucketed dimensions (the Morton/Z curve) bounds both: 2^bits
  * buckets per dimension, consecutive z-values share high-order bits
  * of both coordinates, so a write cut into contiguous curve ranges
  * yields files whose (A, B) boxes are small — and the manifest turns that
  * locality into skipped I/O.
  *
  * Scale posture: the manifest is |files| rows (a 100 TB table at
  * 1 GB files is ~100k rows — KBs of driver memory, the same bound a
  * Delta log or Iceberg manifest accepts by design), built in ONE
  * scan at write time, and pruning is a driver-side filter over it.
  * Bucketing is affine on the global min/max (two scalars per
  * column, one cheap agg) — exact integer arithmetic, deterministic;
  * heavily skewed columns want [[writeZOrderedQuantile]]'s exact-rank
  * buckets instead, and the curve plus the stats layer are unchanged
  * by that swap.
  *
  * Pruning is an OPTIMIZATION, never semantics: `FileStats.prunedRead`
  * callers re-apply the predicate to the surviving files' rows, so a stats
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

  /** One aggregate over every dim's global min/max, returned as the
    * dims' [[affineBucket]] ids — the bucketing every affine curve
    * layout shares (two scalars per dim, one cheap job). */
  def affineBuckets(df: DataFrame, dims: Seq[Column], bits: Int): Seq[Column] = {
    val aggs = dims.flatMap(d => Seq(min(d), max(d)))
    val b = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    dims.zipWithIndex.map { case (d, i) =>
      affineBucket(d, lit(b.get(2 * i)), lit(b.get(2 * i + 1)), bits)
    }
  }

  /** Write `df` clustered along the Z curve of (`colA`, `colB`) into
    * `~numFiles` files at `path`, with a [[FileStats]] manifest over
    * both dims ([[writeCurve]]).
    *
    * `keyCol` additionally folds each file's values of a
    * HIGH-CARDINALITY key into a per-file bloom (FileStats'
    * `keyCols`): after the z-shuffle a sequential id is uncorrelated
    * with the curve dims, so every file's key min/max spans nearly the
    * whole domain and boxes discriminate nothing — the bloom is what
    * makes point lookups (`FileStats.KeyIn`) skip files. False
    * positives only ADD candidate files (rows are re-filtered after
    * the read); false negatives are impossible, so pruning never
    * changes results. */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      bits: Int = 8,
      numFiles: Int = 32,
      keyCol: Option[String] = None): Unit =
    writeCurve(df, path, zValueN(affineBuckets(df, Seq(col(colA), col(colB)), bits), bits),
      numFiles, Seq(colA, colB), keyCol.toSeq)

  /** [[writeZOrdered]] along the HILBERT curve instead of the Morton
    * interleave ([[graft.functions.HilbertIndex2D]]): identical
    * bucketing, identical stats manifest, identical read/prune paths
    * — only the curve changes. Why offer both: every unit step of the
    * Hilbert curve is grid-adjacent (the Z curve jumps across half
    * the grid at quadrant seams), so a contiguous curve run — which
    * is what one file IS after [[writeCurve]]'s cut — covers a
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
      keyCol: Option[String] = None): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val Seq(a, b) = affineBuckets(df, Seq(col(colA), col(colB)), bits)
    writeCurve(df, path, call_function("graft_hilbert", a, b, lit(bits)),
      numFiles, Seq(colA, colB), keyCol.toSeq)
  }

  /** [[writeZOrdered]] with exact-RANK buckets instead of affine ones
    * — the documented skewed-column trade, closed. An affine bucket
    * maps the VALUE range uniformly, so a heavy-hitter value (90% of
    * rows sharing one key) lands 90% of the table in one z-run and the
    * layout degenerates to a couple of giant files whose boxes span
    * everything. Rank buckets split the ROW MASS uniformly by
    * construction: bucket = floor(rank·2^bits / n) over the global
    * order (column, tiebreaker), computed distributed by
    * [[graft.operators.PrefixSum.globalRowNumber]] — no single-task
    * window, no driver quantile array, exact integer arithmetic (a
    * Greenwald-Khanna approximation would also serve the layout, but
    * exact ranks cost the same one range exchange here and keep file
    * balance provable rather than probabilistic). The curve, the
    * stats manifest, and every read/prune path are UNCHANGED — stats
    * store real column min/max, so FileStats pruning works
    * identically; ties sharing a value across a bucket boundary only
    * widen two files' boxes, never break their truthfulness.
    *
    * `tieBreaker` must be a unique non-null column ([[PrefixSum]]'s
    * total-order contract) — it makes bucket assignment deterministic
    * and partition-count-invariant. Cost: two range exchanges (one
    * per dimension's rank pass; the first pass also yields n) + the
    * clustering exchange, all write-time; reads pay nothing new. */
  def writeZOrderedQuantile(
      df: DataFrame,
      path: String,
      colA: String,
      colB: String,
      tieBreaker: String,
      bits: Int = 8,
      numFiles: Int = 32,
      keyCol: Option[String] = None): Unit = {
    import graft.operators.PrefixSum
    val reserved = Seq("__ra", "__rb", "__z")
    require(!reserved.exists(df.columns.contains),
      s"columns ${reserved.mkString("/")} are reserved by writeZOrderedQuantile")
    val (rankedA, nRows) = PrefixSum.globalRowNumber(df, Seq(colA, tieBreaker), "__ra")
    val (ranked, _) = PrefixSum.globalRowNumber(rankedA, Seq(colB, tieBreaker), "__rb")
    val n = math.max(1L, nRows)
    // floor((rank-1)·2^bits / n): nonnegative operands, so integer
    // `div` (truncate) IS floor — no double division anywhere
    val curve = zValue(
      expr(s"((__ra - 1) * ${1L << bits}) div $n"),
      expr(s"((__rb - 1) * ${1L << bits}) div $n"), bits)
    val withZ = ranked.withColumn("__z", curve).drop("__ra", "__rb")
    writeCurve(withZ, path, col("__z"), numFiles, Seq(colA, colB), keyCol.toSeq)
  }

  /** The one clustered-curve writer every curve layout goes through:
    * cut `curve` into `numFiles` contiguous, equal-mass ranges, route
    * range i to shuffle partition i, write the data files sorted by
    * the curve, then build the [[FileStats]] manifest over `statCols`
    * (min/max/null count) and `keyCols` (blooms) — the one skipping
    * manifest every pruned read goes through.
    *
    * The cuts come from the curve's EXACT histogram, collected on the
    * driver (at most min(rows, 2^(bits·dims)) entries — 65,536 for two
    * dims at 8 bits): curve value v opens file floor(rows below v ·
    * numFiles / rows). So the layout is a function of the data and
    * the curve alone. A `repartitionByRange` would instead cut at a
    * sample seeded from the RDD id, i.e. from how many RDDs the JVM
    * made before. A curve value heavier than one file's share keeps
    * its rows together, so such a layout writes fewer files. */
  def writeCurve(
      df: DataFrame,
      path: String,
      curve: Column,
      numFiles: Int,
      statCols: Seq[String],
      keyCols: Seq[String] = Nil): Unit = {
    val withZ = df.withColumn("__z", curve)
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
    FileStats.build(df.sparkSession, path, cols = statCols, keyCols = keyCols)
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
}
