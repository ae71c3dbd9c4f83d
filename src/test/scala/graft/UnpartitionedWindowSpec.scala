package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LogicalWindow}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation

/** Plan-level guard that REPLACES WindowExec's "No Partition Defined"
  * log warning (suppressed in GraftSession — r13's driver bench tail
  * was 2000 chars of that warning repeated, burying the bench's
  * stdout contract line): every registry query's OPTIMIZED logical
  * plan is walked for Window nodes with an empty partitionSpec, and
  * the set of queries carrying one must equal the pinned allowlist
  * below. Each allowlisted window runs over a k-row-bounded input
  * (a rank over a top-k list or a bounded key grain — never the
  * corpus), so the single-partition exchange it implies is O(k). A
  * NEW unpartitioned window anywhere in the registry is a failing
  * test here, not a log line a warning flood can hide.
  *
  * The walk happens AFTER optimization on purpose: Spark's
  * EliminateWindowPartitions strips foldable partition keys, so a
  * constant-key "silencer" window would still be caught.
  *
  * The same walk pins where plans/TopKRewrite fires, per branch. The
  * rewrite preserves results, so the oracle hashes pass whether it
  * fires or not; these pins are what notices a registry query that
  * silently stops (or starts) taking it. */
class UnpartitionedWindowSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Queries whose plans legitimately carry an unpartitioned window,
    * with the k-row bound that justifies each. Adding a key here
    * requires the same justification in the query's scaladoc.
    *
    * The assert is SUBSET, not equality: a window below a query's own
    * persist point is masked by the InMemoryRelation cache mark, and
    * whether the mark is registered at plan-capture time depends on
    * CacheManager state the suite does not own — so a pinned key can
    * legitimately be invisible on a given run. Masking only ever
    * SHRINKS the carrier set; a NEW unpartitioned window above the
    * cache points still fails. */
  private val Allowed: Map[String, String] = Map(
    // reciprocal-rank fusion: row_number over the two top-50
    // retrieval legs — |legs|·k rows by construction
    "q163_hybrid_rrf" -> "rank over two top-50 retrieval legs",
    // Apportion.largestRemainder: the remainder rank runs at the
    // bounded key grain (languages / versions×languages — the caller
    // aggregates the corpus first); the grand totals ride broadcast
    // 1-row aggregates, so the rank is the ONLY window left
    "q194_token_budget" -> "Apportion rank over |languages|",
    "q198_token_budget_stored" -> "Apportion rank over |versions x languages|",
    "q201_token_budget_tempered" -> "Apportion rank over |languages|",
    "q205_mixture_sweep" -> "Apportion rank over |languages| x temperatures",
    // Bpe.vocabularyFromMerges: token_id = row_number over
    // (n_occurrences DESC, symbol) at the |vocabulary| grain — a few
    // hundred post-merge symbols bounded by the merge-round budget
    "q185_bpe_vocab" -> "vocab token ids: rank over |vocabulary|",
    "q188_bpe_token_stream" -> "vocab token ids: rank over |vocabulary|",
    "q191_vocab_coverage" -> "vocab token ids: rank over |vocabulary|",
    // LayoutAdvisor: rank over the enumerated candidate layouts — a
    // handful of (cluster-column, sort-column) combinations
    "q120_layout_advisor" -> "rank over |candidate layouts|",
    "q136_cat_advisor" -> "rank over |candidate layouts|",
  )

  /** Queries whose optimized plan carries TopKRewrite's k = 1
    * `min_by`/`max_by` aggregate (alias `__graft_top_row`). */
  private val TopRowCarriers = Set(
    "q2_dedupe_rank", "q14_first_price", "q29_incremental_upsert",
    "q93_scd2_history", "q98_interval_allocation", "q124_declared_dedupe",
    "q147_scd2_apply")

  /** Queries whose optimized plan carries TopKRewrite's k ≥ 2
    * `collect_top_k` heap (alias `__graft_topk`). */
  private val HeapCarriers = Set(
    "q109_kmv_overlap", "q116_pq_adc_knn", "q117_ivfpq_knn",
    "q122_residual_ivfpq", "q171_declared_topk")

  private val RewriteAliases = Set("__graft_top_row", "__graft_topk")

  /** One walk over the registry: per query, the markers its optimized
    * plan carries — "window" for an unpartitioned Window, and the
    * alias of each TopKRewrite aggregate. */
  private lazy val markers: Map[String, Set[String]] =
    SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        // release between queries so the walk itself doesn't leak
        // cache entries across 207 eager constructions
        CacheScope.releaseAll(spark): Unit
        val plan = fn(spark, SfDir).queryExecution.optimizedPlan
        name -> plan.collectWithSubqueries {
          case w: LogicalWindow if w.partitionSpec.isEmpty => Seq("window")
          case a: Aggregate => a.aggregateExpressions.map(_.name).filter(RewriteAliases)
          // a rewrite below the query's own persist point shows only in
          // the cached physical plan (q147's SCD2 snapshot)
          case m: InMemoryRelation =>
            collect(m.cachedPlan) { case agg: BaseAggregateExec => agg.output.map(_.name) }
              .flatten.filter(RewriteAliases)
        }.flatten.toSet
    }.toMap

  private def carrying(marker: String): Set[String] =
    markers.collect { case (name, ms) if ms.contains(marker) => name }.toSet

  test("every unpartitioned window in the registry is pinned k-row-bounded") {
    val carriers = carrying("window")
    assert(carriers -- Allowed.keySet == Set.empty[String],
      s"NEW unpartitioned window (single-partition exchange at scale) in: " +
        s"${carriers -- Allowed.keySet} — partition it, or justify the " +
        "k-row bound here AND in the query's scaladoc")
    assert(carriers.nonEmpty,
      "walk found NO unpartitioned windows at all — the detector is " +
        "likely broken (the vocab-rank family always carries at least " +
        "one when its caches are cold)")
  }

  test("TopKRewrite fires on exactly the pinned registry queries, per branch") {
    assert(carrying("__graft_top_row") == TopRowCarriers)
    assert(carrying("__graft_topk") == HeapCarriers)
  }
}
