package graft.sources

import java.io.ByteArrayInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SqlInternals
import org.apache.spark.util.sketch.BloomFilter

/** Generic per-file statistics manifest — the skipping layer as a
  * reusable sidecar for ANY layout, and the ONE manifest format in
  * the library: [[ZOrder]]'s curve layouts, Compact output, Publish
  * versions and plain time-clustered writes all prune through it.
  * This is the schema-driven form — exactly what Delta/Iceberg store
  * per data file in their logs: for each named column its per-file
  * min / max / null count, plus an optional bloom over each named key
  * column.
  * Built in ONE read-back scan (groupBy `input_file_name`), stored as
  * a hidden `_fstats` table inside the table directory (the
  * underscore convention keeps plain readers blind to it; |files|
  * rows — the driver-sized manifest bound every table format accepts
  * by design).
  *
  * Pruning contract (q100's posture): skipping is an OPTIMIZATION,
  * never semantics. A file is a candidate unless its
  * stats PROVE no row can match; callers re-apply the predicate to
  * surviving rows, so a stats bug can only surface as a hash mismatch
  * against a full-scan oracle. Stat semantics under nulls follow SQL
  * comparison rules: a range can only match non-null values, so an
  * all-null file (null min/max) IS prunable for a range predicate;
  * `isNull` prunes on the stored null count.
  *
  * At 100 TB: stats build cost is one column-pruned scan at write
  * time; every selective query thereafter reads O(matching files)
  * instead of the table, and the manifest evaluation is a driver-side
  * filter over |files| rows.
  */
object FileStats {

  def statsPath(path: String): String = path + "/_fstats"

  /** False-positive rate of every key bloom. */
  val BloomFpp = 0.01

  /** K of every `kmv_<c>` sketch — [[ndvEstimate]] readers must pass
    * the same K the manifest was built with. */
  val KmvK = 64

  /** One skipping predicate, evaluated against the manifest. */
  sealed trait Pred { def col: String }
  /** Rows with `col` in [lo, hi] — prunes on min/max. */
  final case class Between(col: String, lo: Any, hi: Any) extends Pred
  /** Rows with `col` IN keys — prunes on the key bloom (the column
    * must be listed in `keyCols` at build time). */
  final case class KeyIn(col: String, keys: Seq[Any]) extends Pred
  /** Rows where `col` IS NULL — prunes on the null count. */
  final case class IsNull(col: String) extends Pred

  /** Build (or rebuild) the manifest for the parquet table at `path`:
    * per file `n_rows` and, per entry of `cols`, `min_<c>` /
    * `max_<c>` / `nulls_<c>`; per entry of `keyCols`, `bloom_<k>`
    * over xxhash64(k) sized for the file's row share; per entry of
    * `kmvCols`, `kmv_<c>` — the file's [[KmvK]] smallest DISTINCT
    * 60-bit content hashes of the column (a per-file KMV
    * distinct-count sketch, [[graft.similarity.Overlap]]'s hash and
    * estimator, so [[ndvEstimate]] is cross-engine re-derivable). */
  private def statAggs(
      cols: Seq[String],
      keyCols: Seq[String],
      kmvCols: Seq[String],
      expectedPerFile: Long): Seq[org.apache.spark.sql.Column] =
    Seq(count(lit(1)).as("n_rows")) ++
      cols.flatMap { c =>
        Seq(min(c).as(s"min_$c"), max(c).as(s"max_$c"),
          count(when(col(c).isNull, 1)).as(s"nulls_$c"))
      } ++
      keyCols.map { k =>
        call_function("graft_bloom_agg",
          xxhash64(col(k)), lit(expectedPerFile), lit(BloomFpp)).as(s"bloom_$k")
      } ++
      kmvCols.map { c =>
        // bounded k-minimum-values aggregate: per-group state is O(k)
        // regardless of the column's distinct count (the earlier
        // collect_set+slice form buffered EVERY distinct hash before
        // truncating — an executor OOM if a near-unique column was
        // passed as a kmv dim; graft_kmv_agg produces the identical
        // sorted-ascending k-smallest array with a capped buffer)
        call_function("graft_kmv_agg",
          graft.similarity.Overlap.contentHash(col(c).cast("string")),
          lit(KmvK)).as(s"kmv_$c")
      }

  private def statsOf(
      data: org.apache.spark.sql.DataFrame,
      cols: Seq[String],
      keyCols: Seq[String],
      kmvCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    if (keyCols.nonEmpty || kmvCols.nonEmpty)
      graft.functions.GraftFunctions.register(data.sparkSession)
    // bloom sizing from the footers on the driver, no Spark job: the
    // files that hold rows are those `input_file_name()` would name
    val (counts, _) = SqlInternals.parquetFooters(
      data.sparkSession, data.inputFiles.toSeq, mergeSchema = false)
    val nRows = counts.sum
    val nFiles = math.max(1L, counts.count(_ > 0).toLong)
    val aggs = statAggs(cols, keyCols, kmvCols, math.max(64L, 2L * nRows / nFiles))
    data.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  def build(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      keyCols: Seq[String] = Nil,
      kmvCols: Seq[String] = Nil): Unit = {
    require(cols.nonEmpty || keyCols.nonEmpty || kmvCols.nonEmpty,
      "nothing to collect stats for")
    statsOf(spark.read.parquet(path), cols, keyCols, kmvCols)
      .write.mode("overwrite").parquet(statsPath(path))
  }

  /** Per-file distinct-count estimate from a `kmv_<c>` manifest
    * column: exact when the file held fewer than `k` distinct values,
    * (k−1)·2^60/h_k otherwise — [[graft.similarity.Overlap]]'s
    * estimator verbatim (identical op order, round 6), which is what
    * lets an advisor built on these estimates sit under the DuckDB
    * hash gate. */
  def ndvEstimate(kmv: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    round(
      when(size(kmv) < k, size(kmv).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(graft.similarity.Overlap.Space) /
          element_at(kmv, k).cast("double")), 6)

  /** Incremental manifest refresh after a layout change (the
    * [[Compact.compactPublishedIncremental]] twin): stat rows whose
    * data file is STILL PRESENT are carried — re-pointed at the
    * current directory, values untouched, nothing re-read — and only
    * files the manifest has never seen are scanned. Manifest
    * maintenance cost tracks fragmentation, exactly like the
    * compaction it follows; a carried file's stats stay valid because
    * the file's BYTES are identical (Compact's carry contract).
    * Returns (carried, scanned). */
  def buildIncremental(
      spark: SparkSession,
      path: String,
      cols: Seq[String],
      keyCols: Seq[String] = Nil,
      priorFrom: Option[String] = None,
      kmvCols: Seq[String] = Nil): (Int, Int) = {
    require(cols.nonEmpty || keyCols.nonEmpty || kmvCols.nonEmpty,
      "nothing to collect stats for")
    val statsDir = statsPath(path)
    // prior manifest: this directory's own by default; a PREVIOUS
    // version's when the layout moved (Publish compaction creates a
    // new version dir — its carried files' stats live with the old
    // version until this refresh re-points them)
    val priorDir = statsPath(priorFrom.getOrElse(path))
    val onDisk = Compact.listDataFiles(path).map(_._1)
    val havePrior = java.nio.file.Files.exists(java.nio.file.Paths.get(priorDir))
    if (!havePrior) {
      build(spark, path, cols, keyCols, kmvCols)
      return (0, onDisk.size)
    }
    val base = "file:" + java.nio.file.Paths.get(path).toAbsolutePath + "/"
    val prior = spark.read.parquet(priorDir)
      .withColumn("__name", element_at(split(col("file"), "/"), -1))
    val carried = prior
      .where(col("__name").isin(onDisk: _*))
      .withColumn("file", concat(lit(base), col("__name")))
    val carriedNames = carried.select("__name").collect().map(_.getString(0)).toSet
    val fresh = onDisk.filterNot(carriedNames)
    val unioned =
      if (fresh.isEmpty) carried.drop("__name")
      else {
        val freshStats = statsOf(
          spark.read.parquet(fresh.map(n => s"$path/$n"): _*),
          cols, keyCols, kmvCols)
        carried.drop("__name").unionByName(freshStats)
      }
    // the refreshed manifest is DERIVED from the one it replaces —
    // stage, then swap (an overwrite of a table being read is a
    // self-referential write Spark refuses, the q42 lesson)
    val staging = statsDir + ".refresh"
    unioned.write.mode("overwrite").parquet(staging)
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(statsDir)))
      Sinks.deleteRecursively(java.nio.file.Paths.get(statsDir))
    java.nio.file.Files.move(java.nio.file.Paths.get(staging),
      java.nio.file.Paths.get(statsDir)): Unit
    (carriedNames.size, fresh.size)
  }

  /** The files whose stats cannot RULE OUT every predicate — the
    * conjunction's candidate set (intersection over preds). Range and
    * null-count predicates evaluate as one filter over the manifest
    * DataFrame; key blooms probe driver-side with the catalyst-eval
    * hash twin ([[sparkHash]]). */
  def candidateFiles(spark: SparkSession, path: String, preds: Seq[Pred]): Seq[String] = {
    require(preds.nonEmpty, "no predicates — read the table directly")
    val stats = spark.read.parquet(statsPath(path))
    val rangeCond = preds.collect {
      case Between(c, lo, hi) =>
        // a range matches only non-null values, so null min/max
        // (an all-null file) proves non-matching — prunable
        col(s"min_$c").isNotNull &&
          col(s"min_$c") <= lit(hi) && col(s"max_$c") >= lit(lo)
      case IsNull(c) => col(s"nulls_$c") > 0L
    }.reduceOption(_ && _).getOrElse(lit(true))
    val keyPreds = preds.collect { case k: KeyIn => k }
    val bloomCols = keyPreds.map(k => col(s"bloom_${k.col}"))
    val rows = stats.where(rangeCond)
      .select(col("file") +: bloomCols: _*).collect()
    rows.filter { r =>
      keyPreds.zipWithIndex.forall { case (k, i) =>
        val bf = BloomFilter.readFrom(
          new ByteArrayInputStream(r.getAs[Array[Byte]](i + 1)))
        k.keys.map(sparkHash).exists(bf.mightContainLong)
      }
    }.map(_.getString(0)).toIndexedSeq
  }

  // driver-side twin of `functions.xxhash64` on a single literal
  // (same algorithm, same default seed 42), so a probe value hashes
  // to exactly what the stored blooms were built from; key values
  // must carry the key column's type (a Long for a bigint key)
  private def sparkHash(v: Any): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(v)), 42L)
      .eval(null).asInstanceOf[Long]

  /** Read only the candidate files. Callers MUST still apply the
    * predicates — stats over-approximate. */
  def prunedRead(spark: SparkSession, path: String, preds: Seq[Pred]): DataFrame = {
    val files = candidateFiles(spark, path, preds)
    if (files.isEmpty) spark.read.parquet(path).limit(0)
    else spark.read.parquet(files: _*)
  }
}
