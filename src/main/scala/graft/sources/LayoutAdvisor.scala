package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Workload-driven layout advisor — turn the storage layer's knobs
  * (which dimensions to cluster/z-order on) into a MEASURED
  * recommendation instead of a guess.
  *
  * Input: a workload sample in long form — one row per (query,
  * predicated dimension) with the predicate's [lo, hi] range — plus
  * the data itself. For every candidate layout (a dimension subset),
  * the advisor estimates the fraction of rows a perfectly-clustered
  * layout would scan per query: clustering on a dimension makes a
  * range predicate on it prune ∝ its selectivity, and a conjunctive
  * box prunes multiplicatively across clustered dimensions (the
  * independence estimate every multi-dim clustering model uses —
  * the same model behind z-order effectiveness analyses).
  * Selectivities are MEASURED from the data, not assumed: one
  * long-form pass over (dim, value) rows, range-joined against the
  * broadcast workload, counts matching rows per (query, dim).
  *
  * Exactness/cross-engine: per-(query,dim) counts are exact longs;
  * a query×layout cost is the integer product Π factor_i with
  * factor_i = n_i when the layout clusters a predicated dim, N
  * otherwise (so every cost shares the denominator N^|dims|); layout
  * totals sum those products as DECIMAL(38,0) — all integer algebra,
  * so ranking is EXACT and the only float op is the final presented
  * fraction (one division + round(6), identical IEEE on both
  * engines). That is what lets q120 hash-gate a cost-model's full
  * output where advisors normally ship as heuristics.
  *
  * Scale: the data pass is one scan producing |dims| narrow rows per
  * input row, collapsed map-side by the (query, dim) aggregate; the
  * workload and layout tables broadcast; the scoring cross join is
  * |queries|·|layouts| tiny rows. At 100 TB you run the advisor on a
  * row SAMPLE — selectivity estimates converge at modest sample
  * sizes and nothing downstream depends on N being the full count.
  * The long-product bound (N^|dims| within int64, N ≲ 2.1e6 at 3
  * dims) is asserted; past it, sample down or widen to decimal
  * multiplication.
  */
object LayoutAdvisor {

  /** Score candidate layouts against a measured workload.
    *
    * @param data     the table (or a row sample of it)
    * @param dims     (name, value column) per candidate dimension;
    *                 values compare as double
    * @param workload (query_id: long, dim: string, lo: double,
    *                 hi: double) — one row per predicated dimension;
    *                 dims must come from `dims` names
    * @param layouts  candidate dimension subsets
    * @return one row per layout: (layout_id, n_queries,
    *         avg_scan_frac, rank) — rank 1 is the recommendation,
    *         ties broken on layout_id
    */
  def advise(
      data: DataFrame,
      dims: Seq[(String, Column)],
      workload: DataFrame,
      layouts: Seq[Seq[String]]): DataFrame = {
    require(dims.nonEmpty && layouts.nonEmpty)
    val spark = data.sparkSession
    import spark.implicits._

    // one pass: long-form (dim, value) against the broadcast workload
    val longForm = data.select(explode(array(dims.map { case (n, c) =>
      struct(lit(n).as("dim"), c.cast("double").as("v"))
    }: _*)).as("dv")).select(col("dv.dim").as("dim"), col("dv.v").as("v"))
    val w = workload.select(col("query_id"), col("dim").as("wdim"),
      col("lo"), col("hi"))
    val counts = longForm
      .join(broadcast(w),
        col("dim") === col("wdim") && col("v") >= col("lo") && col("v") <= col("hi"))
      .groupBy(col("query_id"), col("dim"))
      .agg(count(lit(1)).as("n"))
    score(w, counts, dims.map(_._1), layouts, data.agg(count(lit(1)).as("N")))
  }

  /** Score candidate layouts from a [[FileStats]] manifest instead of
    * a data pass — the advisor's own input served by the skipping
    * layer it advises. Per-(query, dim) matching rows are ESTIMATED
    * from per-file (min, max, n_rows) under a uniform-within-file
    * assumption: overlap-fraction × rows, floored per file (a file
    * whose stat range misses the predicate contributes exactly 0 —
    * the same geometry [[FileStats.candidateFiles]] prunes by). The
    * estimate is deterministic but NOT exact, so this variant backs
    * capacity planning and re-layout decisions, not hash-gated
    * results; [[LayoutAdvisorSpec]] validates that on separated
    * workloads it ranks layouts identically to the measured pass. At
    * 100 TB the difference is the whole point: the manifest is
    * O(files) driver-friendly rows — re-scoring a workload costs a
    * sidecar read, not a table scan.
    *
    * @param tablePath parquet table with a built `_fstats` sidecar
    * @param dims      (dim name, stats column name) — the column must
    *                  be in the manifest and numerically comparable
    * @param catDims   (dim name, stats column name) CATEGORICAL dims —
    *                  the column must have a `kmv_<c>` sketch in the
    *                  manifest ([[FileStats.build]]'s `kmvCols`);
    *                  workload rows for these dims are EQUALITY
    *                  predicates (`dim = v`; lo/hi ignored), estimated
    *                  per file as n_rows/ndv under uniform key
    *                  frequency — how a dictionary/string dimension a
    *                  range model is blind to gets ranked by its
    *                  clustering selectivity. Unlike the range
    *                  estimate, the KMV chain is cross-engine
    *                  re-derivable ([[FileStats.ndvEstimate]]), so a
    *                  catDims-only advisor sits under the hash gate
    *                  (q136)
    */
  def adviseFromStats(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      dims: Seq[(String, String)],
      workload: DataFrame,
      layouts: Seq[Seq[String]],
      catDims: Seq[(String, String)] = Nil): DataFrame = {
    require((dims.nonEmpty || catDims.nonEmpty) && layouts.nonEmpty)
    require(dims.map(_._1).intersect(catDims.map(_._1)).isEmpty,
      "a dim cannot be both ranged and categorical")
    val st = spark.read.parquet(FileStats.statsPath(tablePath))
    val w = workload.select(col("query_id"), col("dim").as("wdim"),
      col("lo"), col("hi"))

    val rangeCounts = if (dims.isEmpty) None else Some {
      val longForm = st.select(col("n_rows"), explode(array(dims.map {
        case (n, sc) => struct(lit(n).as("dim"),
          col(s"min_$sc").cast("double").as("mn"),
          col(s"max_$sc").cast("double").as("mx"))
      }: _*)).as("d")).select(col("n_rows"), col("d.*"))
      longForm
        .join(broadcast(w), col("dim") === col("wdim"))
        .withColumn("ov",
          least(col("hi"), col("mx")) - greatest(col("lo"), col("mn")))
        .withColumn("est",
          when(col("mx") < col("lo") || col("mn") > col("hi"), lit(0L))
            .when(col("mx") <= col("mn"), col("n_rows"))
            .otherwise(floor(col("n_rows") * col("ov") / (col("mx") - col("mn")))))
        .select(col("query_id"), col("dim"), col("est"))
    }
    val catCounts = if (catDims.isEmpty) None else Some {
      val longForm = st.select(col("n_rows"), explode(array(catDims.map {
        case (n, sc) => struct(lit(n).as("dim"), col(s"kmv_$sc").as("kmv"))
      }: _*)).as("d")).select(col("n_rows"), col("d.*"))
      longForm
        .join(broadcast(w), col("dim") === col("wdim"))
        // equality selectivity under uniform key frequency: a
        // clustered equality predicate reads ~1/ndv of each file
        .withColumn("est",
          floor(col("n_rows").cast("double") /
            FileStats.ndvEstimate(col("kmv"), FileStats.KmvK)))
        .select(col("query_id"), col("dim"), col("est"))
    }
    val counts = (rangeCounts.toSeq ++ catCounts.toSeq)
      .reduce(_ unionByName _)
      .groupBy(col("query_id"), col("dim"))
      .agg(sum("est").as("n"))
    score(w, counts, dims.map(_._1) ++ catDims.map(_._1), layouts,
      st.agg(sum("n_rows").as("N")))
  }

  /** One [[reclusterAdvice]] verdict. `measuredRows` is what the
    * CURRENT layout actually scans for the whole workload (exact,
    * from the same stats manifest the pruning read path uses);
    * `predictedRows` is the best candidate layout's modeled scan;
    * `recluster` is the decision. */
  final case class ReclusterAdvice(
      bestLayout: String,
      measuredRows: Long,
      predictedRows: Long,
      tableRows: Long,
      recluster: Boolean)

  /** The FEEDBACK half of the advisor loop — advise, apply, MEASURE,
    * re-advise: compare what the current layout actually scans for a
    * workload against the best candidate layout's modeled scan, and
    * re-cluster only when the gain amortized over `amortizeRuns`
    * workload executions clears the rewrite's own cost (reading and
    * re-writing all N rows — the 2N floor any re-layout pays).
    *
    *   - MEASURED: per query, the candidate files under the table's
    *     `_fstats` manifest (exactly [[FileStats.candidateFiles]]'
    *     min/max intersection — the same arithmetic the pruning read
    *     path runs), summed as exact longs. This is the number the
    *     table's users actually pay today.
    *   - PREDICTED: per (query, dim), per-file linear interpolation
    *     of the range overlap — `floor(n_rows·ov/span)` — summed
    *     over files, then the advise() independence model across a
    *     layout's clustered dims (Π estᵢ / N^(k−1)). ALL INTEGER
    *     (dims must be integer-valued): BigInt products, truncating
    *     division on non-negatives = floor — so the verdict is
    *     exact, cross-engine re-derivable arithmetic end to end, and
    *     q162 hash-gates the DECISIONS themselves, not just the
    *     inputs (the range twin of q136's KMV-gated advisor).
    *   - DECIDE: recluster ⇔ (measured − predicted) · amortizeRuns
    *     > 2N. Run after applying a re-layout, the same call returns
    *     keep — the loop's fixed point.
    *
    * Driver-side on purpose: everything here is |files| + |workload|
    * manifest arithmetic (the candidateFiles posture), never a data
    * scan. Workload is a driver Seq for the same reason. */
  def reclusterAdvice(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      dims: Seq[(String, String)],
      workload: Seq[(Long, String, Long, Long)],
      layouts: Seq[Seq[String]],
      amortizeRuns: Long): ReclusterAdvice = {
    require(dims.nonEmpty && layouts.nonEmpty && workload.nonEmpty)
    require(amortizeRuns > 0, "amortizeRuns must be positive")
    val dimNames = dims.map(_._1)
    require(workload.forall(q => dimNames.contains(q._2)),
      "workload predicates an undeclared dim")
    layouts.foreach(ls => require(ls.nonEmpty && ls.forall(dimNames.contains),
      s"unknown layout dims: $ls"))

    val st = spark.read.parquet(FileStats.statsPath(tablePath))
      .select(col("n_rows").cast("long") +: dims.flatMap { case (_, sc) =>
        Seq(col(s"min_$sc").cast("long"), col(s"max_$sc").cast("long"))
      }: _*).collect()
    val files: Seq[(Long, Map[String, (Option[Long], Option[Long])])] =
      st.toIndexedSeq.map { r =>
        val mm = dimNames.zipWithIndex.map { case (d, i) =>
          d -> ((if (r.isNullAt(1 + 2 * i)) None else Some(r.getLong(1 + 2 * i)),
            if (r.isNullAt(2 + 2 * i)) None else Some(r.getLong(2 + 2 * i))))
        }.toMap
        (r.getLong(0), mm)
      }
    val n = files.map(_._1).sum
    // empty / just-created table: nothing to measure, nothing a
    // re-layout could gain — keep, with measured = predicted = 0
    // (and no 0^(p−1) divisor reaching the independence model below)
    if (n == 0) {
      return ReclusterAdvice(
        layouts.map(_.mkString("+")).min, 0L, 0L, 0L, recluster = false)
    }
    val byQuery = workload.groupBy(_._1).toSeq.sortBy(_._1)

    // measured: candidateFiles' min/max intersection, exact
    val measured = byQuery.map { case (_, preds) =>
      files.collect { case (rows, mm) if preds.forall { case (_, d, lo, hi) =>
        mm(d) match {
          case (Some(mn), Some(mx)) => mn <= hi && mx >= lo
          case _ => false // all-null file: a range can never match
        }
      } => rows }.sum
    }.sum

    // predicted: per-(query, dim) interpolated match counts…
    def est(rows: Long, mm: (Option[Long], Option[Long]), lo: Long, hi: Long): BigInt =
      mm match {
        case (Some(mn), Some(mx)) =>
          if (mx < lo || mn > hi) BigInt(0)
          else if (mx <= mn) BigInt(rows)
          else BigInt(rows) * (math.min(hi, mx) - math.max(lo, mn)) / (mx - mn)
        case _ => BigInt(0)
      }
    val estQD: Map[(Long, String), BigInt] = byQuery.flatMap { case (qid, preds) =>
      preds.map { case (_, d, lo, hi) =>
        (qid, d) -> files.map { case (rows, mm) => est(rows, mm(d), lo, hi) }.sum
      }
    }.toMap
    // …through advise()'s independence model, BigInt-exact
    def cost(qid: Long, preds: Seq[(Long, String, Long, Long)], ls: Seq[String]): BigInt = {
      val p = preds.map(_._2).distinct.filter(ls.contains)
      if (p.isEmpty) BigInt(n)
      else p.map(d => estQD((qid, d))).product / BigInt(n).pow(p.size - 1)
    }
    val totals = layouts.map(ls =>
      (ls.mkString("+"), byQuery.map { case (q, ps) => cost(q, ps, ls) }.sum))
    val (bestLayout, predicted) = totals.minBy { case (id, t) => (t, id) }

    val recluster =
      (BigInt(measured) - predicted) * amortizeRuns > BigInt(2) * n
    ReclusterAdvice(bestLayout, measured, predicted.toLong, n, recluster)
  }

  /** The shared scoring tail: selectivity matrix → integer
    * multiplicative costs → exact ranking. `counts` carries
    * (query_id, dim, n); `nDf` one row with the total N. */
  private def score(
      w: DataFrame,
      counts: DataFrame,
      dimNames: Seq[String],
      layouts: Seq[Seq[String]],
      nDf: DataFrame): DataFrame = {
    val spark = w.sparkSession
    import spark.implicits._

    // per-query selectivity matrix; a predicated dim with ZERO
    // matching rows must surface as 0, not null — left join from the
    // workload's own (query, dim) pairs
    val matrix = w.select(col("query_id"), col("wdim").as("dim")).distinct()
      .join(counts, Seq("query_id", "dim"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy("query_id")
      .pivot("dim", dimNames)
      .agg(first("n"))

    val layoutDf = layouts.map { ls =>
      require(ls.nonEmpty && ls.forall(dimNames.contains),
        s"unknown layout dims: $ls")
      (ls.mkString("+"), dimNames.map(ls.contains))
    }.toDF("layout_id", "flags")

    val scored = matrix
      .crossJoin(broadcast(nDf))
      .crossJoin(broadcast(layoutDf))
    // integer cost: Π over dims of (n_dim if clustered-and-predicated
    // else N); shared denominator N^|dims| keeps the sum exact
    val cost = dimNames.zipWithIndex.map { case (d, i) =>
      when(col("flags")(i) && col(d).isNotNull, col(d)).otherwise(col("N"))
    }.reduce(_ * _)
    val nD = dimNames.indices.map(_ => col("N").cast("double")).reduce(_ * _)

    scored
      .select(col("layout_id"), cost.as("cost"), nD.as("den"))
      .groupBy("layout_id")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(col("cost").cast("decimal(38,0)")).as("total"),
        max("den").as("den"))
      .select(col("layout_id"), col("n_queries"),
        round(col("total").cast("double") / (col("den") * col("n_queries")), 6)
          .as("avg_scan_frac"),
        col("total"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("total").asc, col("layout_id").asc)))
      .drop("total")
  }
}
