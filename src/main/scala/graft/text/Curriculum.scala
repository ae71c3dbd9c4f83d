package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality-CURRICULUM ordering — the training-schedule step between
  * curation and the loader: standard LLM practice anneals on the
  * highest-quality slice at the END of training (the model's final
  * gradient steps see the best data), so the consumption order must
  * place a quality-ranked anneal set after the bulk phase while
  * keeping everything reproducible across engines and retries.
  *
  * Part of the beyond-reference LLM-data-pipeline surface (the
  * curriculum/annealing practice of staged pretraining data
  * schedules): rank every document by the
  * integer quality score (q23's exact ppm arithmetic — no float
  * model scores, so the rank is hash-checkable), cut the top
  * `annealPpm` fraction as phase 2, and emit a global epoch position
  * that consumes phase 1 first and phase 2 last, seeded-scrambled
  * WITHIN each phase (q196's epochOrder rationale: fixed order
  * correlates neighboring batches with corpus layout; float rand()
  * is irreproducible).
  *
  * Scale shape: two distributed two-pass global ranks
  * ([[graft.operators.PrefixSum.globalRowNumber]] — range exchange +
  * shared-RDD second pass, never a single-task window) over
  * (id, long) rows; the quality pass itself is one narrow corpus
  * map. The anneal cutoff is one driver scalar from rank pass 1's
  * free total — BigInt math, so corpus sizes near 2^63/1e6 cannot
  * wrap the cutoff.
  *
  * Determinism contract: ranks order by (score DESC, id ASC) — a
  * TOTAL order, so equal-score documents straddle the anneal
  * boundary identically in both engines; the within-phase scramble
  * reduces its inner sum mod 1000000007 before the Knuth multiply
  * (the q196 overflow posture) and reduces the seed first, so ANY
  * Long seed is safe and sign-stable.
  * Output: (id, quality_score_ppm, quality_rank, phase, epoch_pos);
  * epoch_pos is a 1..N permutation, phase ∈ {1, 2}. */
object Curriculum {

  def phaseOrder(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      annealPpm: Long,
      seed: Long = 1L): DataFrame =
    // persisted: the rank's range-partitioner SAMPLES its input before
    // the shuffle map runs it again — unpersisted, the regex scoring
    // pass executes twice per plan (r15-opt; the narrow no-join
    // upstream is exactly the case where the q172 persist caveat does
    // not apply). q203's stored-score path stays unpersisted — its
    // upstream is a plain parquet scan.
    orderFromScores(
      graft.CacheScope.persisted(
        TextOps.qualityScore(docs, idCol, textCol)
          .select(col(idCol), col("quality_score_ppm"))),
      idCol, annealPpm, seed)

  /** The ordering half over an ALREADY-SCORED (id, quality_score_ppm)
    * relation — the stored-score production posture (the q178/q198
    * storage pattern): scoring runs once at ingest and is published;
    * every schedule (re)plan ranks the STORED table — a seed change
    * or anneal-fraction sweep re-plans without touching the corpus
    * text. [[phaseOrder]] is this over a fresh scoring pass; both
    * share the oracle hash because the score table IS the scoring
    * pass's output. */
  def orderFromScores(
      scores: DataFrame,
      idCol: String,
      annealPpm: Long,
      seed: Long = 1L): DataFrame = {
    require(annealPpm >= 0L && annealPpm <= 1000000L,
      "annealPpm must be a ppm fraction in [0, 1000000]")
    val M = 1000000007L
    val scored = scores
      .select(col(idCol), col("quality_score_ppm"))
      // rank wants score DESC; globalRowNumber ranks ASC — negate
      // (ppm ≤ 1e6, negation exact)
      .withColumn("__negq", -col("quality_score_ppm"))
    val (ranked, total) = graft.operators.PrefixSum
      .globalRowNumber(scored, Seq("__negq", idCol), "quality_rank")
    val annealCount =
      (BigInt(total) * annealPpm / 1000000L).toLong
    val phased = ranked
      .withColumn("phase",
        when(col("quality_rank") <= lit(annealCount), lit(2L))
          .otherwise(lit(1L)))
      .withColumn("__h", pmod(
        pmod(pmod(col(idCol), lit(1000003L)) * lit(7919L)
          + pmod(lit(seed), lit(M)), lit(M))
          * lit(2654435761L), lit(M)))
    graft.operators.PrefixSum
      .globalRowNumber(phased, Seq("phase", "__h", idCol), "epoch_pos")._1
      .select(col(idCol), col("quality_score_ppm"), col("quality_rank"),
        col("phase"), col("epoch_pos"))
  }

  /** DATA-CONSTRAINED repeat allocation — the epochs-and-remainder
    * plan for budgets LARGER than the corpus (the data-constrained
    * scaling regime, Muennighoff et al.: repeating data a bounded
    * number of times keeps near-fresh value; unbounded repetition
    * does not): every document repeats `e = min(maxRepeats,
    * budget div corpusTokens)` times, and — when the cap is not
    * binding — the leftover `budget − e·corpusTokens` is filled with
    * ONE extra repeat per document, granted in seeded scramble order
    * while the whole document still fits (whole-doc granularity, so
    * the plan never overshoots the budget and is engine-exact; a
    * fractional tail would be a training-time truncation decision,
    * not a planning one).
    *
    * Scale shape: one stored-merges encode pass to the |docs|-grain
    * length table, one 2-scalar driver aggregate (corpus tokens via
    * the rank pass's sum), and ONE distributed global running sum
    * over (id, long) rows ([[graft.operators.PrefixSum
    * .globalRunningSum]] — range exchange, write-once-read-twice,
    * never a single-task window). Driver math in BigInt (e·T at
    * 100 TB token counts exceeds Long×K only in BigInt-safe space).
    * Output: (id, n_tokens, n_repeats); Σ n_repeats·n_tokens ≤ budget
    * and ≤ maxRepeats·corpusTokens, exactly. */
  def repeatAllocation(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)],
      budget: Long,
      maxRepeats: Long,
      seed: Long = 1L): DataFrame =
    repeatAllocationFromLengths(
      Bpe.encode(docs, idCol, textCol, merges)
        .select(col(idCol), col("n_bpe_tokens").as("n_tokens")),
      idCol, budget, maxRepeats, seed)

  /** [[repeatAllocation]] over an ALREADY-ENCODED (id, n_tokens)
    * length table — what lets a caller that needs the corpus total
    * BEFORE choosing the budget (q204 sizes its budget at 3.5× the
    * corpus) compute it from its own encode pass. The filtered
    * length table is persisted here because three jobs consume it:
    * the range exchange's sampler, the running sum's pass structure,
    * and the total aggregate (guide §1.2 — don't compute things
    * twice; measured: q204 ran the corpus encode 4× before this). */
  def repeatAllocationFromLengths(
      lengths: DataFrame,
      idCol: String,
      budget: Long,
      maxRepeats: Long,
      seed: Long = 1L): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    require(maxRepeats >= 1, "maxRepeats must be >= 1")
    val M = 1000000007L
    val lens = graft.CacheScope.persisted(lengths
      .where(col("n_tokens") >= 1L)
      .withColumn("__h", pmod(
        pmod(pmod(col(idCol), lit(1000003L)) * lit(7919L)
          + pmod(lit(seed), lit(M)), lit(M))
          * lit(2654435761L), lit(M))))
    val cum = graft.operators.PrefixSum
      .globalRunningSum(lens, Seq("__h", idCol), "n_tokens", "__cum")
    // an all-empty corpus yields a NULL sum and an empty output — the
    // floor of 1 only guards the driver division, never a real plan
    val totRow = lens.agg(sum(col("n_tokens"))).head
    val total = BigInt(
      if (totRow.isNullAt(0)) 1L else math.max(totRow.getLong(0), 1L))
    val e = (BigInt(budget) / total).min(BigInt(maxRepeats)).toLong
    // the remainder exists only while the cap is not binding; at the
    // cap every doc already carries maxRepeats and nothing tops up
    val remainder =
      if (e >= maxRepeats) 0L else (BigInt(budget) - e * total).toLong
    cum.select(col(idCol), col("n_tokens"),
      (lit(e) + when(col("__cum") <= remainder, 1L).otherwise(0L))
        .as("n_repeats"))
  }

  /** The DuckDB twin of [[repeatAllocation]]: the encode chain's
    * length table, the same seeded scramble, a window cumulative sum,
    * and the epochs/remainder arithmetic restated with the corpus
    * total as a scalar subquery (HUGEINT-exact). */
  def repeatAllocationOracleSql(
      table: String, idCol: String, textCol: String, rounds: Int,
      budgetSql: String, maxRepeats: Long, seed: Long): String = {
    val enc = Bpe.encodeOracleSql(table, idCol, textCol, rounds)
    val withClause = enc.substring(0, enc.indexOf(s"\nSELECT t.$idCol"))
    // budgetSql is an expression over the corpus total `t` (e.g.
    // "3 * t + t // 2") — the registry's budget is corpus-derived so
    // one oracle text holds at every SF
    val b = s"($budgetSql)"
    withClause + ",\n" +
      s"""lens AS MATERIALIZED (
         |  SELECT $idCol, CAST(n_bpe_tokens AS BIGINT) AS n_tokens,
         |    (((($idCol % 1000003) * 7919
         |        + ($seed % 1000000007 + 1000000007) % 1000000007) % 1000000007)
         |      * 2654435761) % 1000000007 AS h
         |  FROM enc WHERE n_bpe_tokens >= 1
         |), tot AS (
         |  SELECT SUM(n_tokens) AS t FROM lens
         |), plan AS (
         |  SELECT LEAST($maxRepeats, $b // t) AS e,
         |    CASE WHEN LEAST($maxRepeats, $b // t) >= $maxRepeats
         |         THEN 0
         |         ELSE $b - LEAST($maxRepeats, $b // t) * t END AS r
         |  FROM tot
         |), cum AS (
         |  SELECT $idCol, n_tokens,
         |    SUM(n_tokens) OVER (ORDER BY h, $idCol
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM lens
         |)
         |SELECT cum.$idCol, cum.n_tokens,
         |  CAST(plan.e + CASE WHEN cum.c <= plan.r THEN 1 ELSE 0 END
         |    AS BIGINT) AS n_repeats
         |FROM cum, plan""".stripMargin
  }

  /** The DuckDB twin of [[phaseOrder]]: q23's quality expression, the
    * (score DESC, id) rank, the BigInt-exact anneal cutoff restated as
    * HUGEINT `//`, and the phase-major seeded re-rank — the full
    * permutation under the hash. */
  def phaseOrderOracleSql(
      table: String, idCol: String, textCol: String,
      annealPpm: Long, seed: Long): String =
    s"""WITH q AS MATERIALIZED (
       |  SELECT $idCol,
       |    (4 * alpha_ppm + 3 * stopword_ppm
       |      + 2 * (1000000 - digit_ppm) + (1000000 - punct_ppm)) // 10
       |      AS quality_score_ppm
       |  FROM (
       |    SELECT $idCol,
       |      (len(regexp_extract_all($textCol, '[A-Za-z]')) * 1000000)
       |        // GREATEST(LENGTH($textCol), 1) AS alpha_ppm,
       |      (len(regexp_extract_all($textCol, '[0-9]')) * 1000000)
       |        // GREATEST(LENGTH($textCol), 1) AS digit_ppm,
       |      (len(regexp_extract_all($textCol, '[^A-Za-z0-9 ]')) * 1000000)
       |        // GREATEST(LENGTH($textCol), 1) AS punct_ppm,
       |      (len(list_filter(string_split($textCol, ' '),
       |          w -> w IN ('the','a','an','and','or','of','to','in','is','it'))) * 1000000)
       |        // GREATEST(len(string_split($textCol, ' ')), 1) AS stopword_ppm
       |    FROM $table
       |  )
       |), r AS MATERIALIZED (
       |  SELECT $idCol, quality_score_ppm,
       |    CAST(ROW_NUMBER() OVER (ORDER BY quality_score_ppm DESC, $idCol)
       |      AS BIGINT) AS quality_rank
       |  FROM q
       |), n AS (
       |  SELECT COUNT(*) AS c FROM r
       |), p AS (
       |  SELECT r.$idCol, r.quality_score_ppm, r.quality_rank,
       |    CASE WHEN r.quality_rank <= (n.c * $annealPpm) // 1000000
       |         THEN 2 ELSE 1 END AS phase,
       |    (((($idCol % 1000003) * 7919
       |        + ($seed % 1000000007 + 1000000007) % 1000000007) % 1000000007)
       |      * 2654435761) % 1000000007 AS h
       |  FROM r, n
       |)
       |SELECT $idCol, quality_score_ppm, quality_rank,
       |  CAST(phase AS BIGINT) AS phase,
       |  CAST(ROW_NUMBER() OVER (ORDER BY phase, h, $idCol) AS BIGINT)
       |    AS epoch_pos
       |FROM p""".stripMargin
}
