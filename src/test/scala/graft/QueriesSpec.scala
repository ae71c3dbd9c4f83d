package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Window => LogicalWindow}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{col, round}
import org.scalatest.Checkpoints

import graft.tools.Chaos

/** Registry-level contract: every SURVEY §2 query runs at sf0.001,
  * returns rows, and its oracle (when present) names a registered
  * query. Per-operator semantics are covered by the dedicated specs;
  * the end-to-end value equality is the driver's DuckDB gate.
  *
  * Every registry-wide check here reads ONE walk over the registry
  * ([[walk]]): each query is built once for its optimized plan, its
  * columns and its clean rows, then built again and run with every
  * final-stage task killed once (C9). The suite runs on its own
  * `local[4,2]` session ([[RetryingSparkSpec]]), because C9 needs task
  * retries; the optimizer does not depend on the master, so the plan
  * checks read the same plans as on the shared session.
  *
  * The plan checks REPLACE WindowExec's "No Partition Defined" log
  * warning (suppressed in GraftSession — r13's driver bench tail was
  * 2000 chars of that warning repeated, burying the bench's stdout
  * contract line): every registry query's OPTIMIZED logical plan is
  * walked for Window nodes with an empty partitionSpec, and the set
  * of queries carrying one must equal the pinned allowlist below.
  * Each allowlisted window runs over a k-row-bounded input (a rank
  * over a top-k list or a bounded key grain — never the corpus), so
  * the single-partition exchange it implies is O(k). A NEW
  * unpartitioned window anywhere in the registry is a failing test
  * here, not a log line a warning flood can hide.
  *
  * The plan is read AFTER optimization on purpose: Spark's
  * EliminateWindowPartitions strips foldable partition keys, so a
  * constant-key "silencer" window would still be caught.
  *
  * The same plans pin where plans/TopKRewrite fires, per branch. The
  * rewrite preserves results, so the oracle hashes pass whether it
  * fires or not; these pins are what notices a registry query that
  * silently stops (or starts) taking it. */
class QueriesSpec extends RetryingSparkSpec with AdaptiveSparkPlanHelper with Checkpoints {

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

  /** What the walk records of one registry query. */
  private case class Walked(
      markers: Set[String], // optimized-plan markers, read before any action
      columns: Seq[String],
      rows: Int, // canonical rows of the clean build
      chaosRows: Int, // canonical rows of the second build, under chaos
      sameRows: Boolean, // the two builds returned the same canonical rows
      retries: Long) // successful task re-attempts of the second build

  /** The markers an optimized plan carries: "window" for an
    * unpartitioned Window, and the alias of each TopKRewrite
    * aggregate. */
  private def markersOf(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries {
      case w: LogicalWindow if w.partitionSpec.isEmpty => Seq("window")
      case a: Aggregate => a.aggregateExpressions.map(_.name).filter(RewriteAliases)
      // a rewrite below the query's own persist point shows only in
      // the cached physical plan (q147's SCD2 snapshot)
      case m: InMemoryRelation =>
        collect(m.cachedPlan) { case agg: BaseAggregateExec => agg.output.map(_.name) }
          .flatten.filter(RewriteAliases)
    }.flatten.toSet

  /** Sorted row strings with doubles rounded to 1e-6 — shuffle-block
    * merge order legitimately reorders float additions between ANY two
    * runs, and the driver's own gate applies the same tolerance. */
  private def canon(df: DataFrame): Seq[String] = {
    val rounded = df.select(df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.FloatType =>
          round(col(f.name), 6).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
    rounded.collect().map(_.toString).sorted.toSeq
  }

  /** The suite's one walk over the registry, in key order. Per query:
    * build it, read its plan markers and columns, collect its clean
    * rows; then build it a SECOND time (C9 compares two independent
    * builds, not one DataFrame run twice), kill every final-stage task
    * once, and collect again. Caches are released between queries so
    * the walk itself doesn't leak cache entries across ~200 eager
    * constructions. A query that throws is recorded with its error and
    * the walk goes on. */
  private lazy val walk: Map[String, Either[String, Walked]] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try {
        CacheScope.releaseAll(spark): Unit
        val df = fn(spark, SfDir)
        val markers = markersOf(df.queryExecution.optimizedPlan)
        val columns = df.columns.toSeq
        val clean = canon(df)
        CacheScope.releaseAll(spark): Unit
        val (chaotic, acc) = Chaos.failFirstAttempt(fn(spark, SfDir))
        val got = canon(chaotic)
        Right(Walked(markers, columns, clean.length, got.length, got == clean, acc.value))
      } catch {
        case NonFatal(e) => Left(e.toString.linesIterator.next())
      } finally CacheScope.releaseAll(spark): Unit)
    }.toMap

  /** Runs `check` over the walked results of `names`, and separately
    * names every one of them that threw during the walk: both failures
    * are reported, so a throwing query hides no other. */
  private def onWalk(names: Iterable[String])(check: Seq[(String, Walked)] => Unit): Unit = {
    val (thrown, walked) = names.toSeq.sorted.partitionMap { name =>
      walk.getOrElse(name, Left("not a registered query")) match {
        case Left(err) => Left(s"$name: $err")
        case Right(w) => Right(name -> w)
      }
    }
    val cp = new Checkpoint
    cp(check(walked))
    cp(assert(thrown.isEmpty, s"${thrown.length} queries threw during the registry walk:\n  " +
      thrown.mkString("\n  ")))
    cp.reportAll()
  }

  private def carrying(walked: Seq[(String, Walked)], marker: String): Set[String] =
    walked.collect { case (name, w) if w.markers.contains(marker) => name }.toSet

  test("every registered query executes and returns rows at sf0.001") {
    onWalk(SparkEntry.queries.keys) {
      _.foreach { case (name, w) => assert(w.rows > 0, s"$name returned no rows") }
    }
  }

  test("every oracle key is a registered query") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracles without queries: $unknown")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle column names match the Spark result columns") {
    // the driver sorts columns by name before hashing — a name-set
    // mismatch is guaranteed failure, catch it before the gate does
    onWalk(SparkEntry.oracleSql.keys) {
      _.foreach { case (name, w) =>
        val cols = w.columns.toSet
        // cheap structural check: oracle text mentions every output column
        val sql = SparkEntry.oracleSql(name).toLowerCase
        val missing = cols.filterNot(c => sql.contains(c.toLowerCase))
        assert(missing.isEmpty, s"$name: oracle SQL never mentions columns $missing")
      }
    }
  }

  test("every unpartitioned window in the registry is pinned k-row-bounded") {
    onWalk(SparkEntry.queries.keys) { walked =>
      val carriers = carrying(walked, "window")
      assert(carriers -- Allowed.keySet == Set.empty[String],
        s"NEW unpartitioned window (single-partition exchange at scale) in: " +
          s"${carriers -- Allowed.keySet} — partition it, or justify the " +
          "k-row bound here AND in the query's scaladoc")
      assert(carriers.nonEmpty,
        "walk found NO unpartitioned windows at all — the detector is " +
          "likely broken (the vocab-rank family always carries at least " +
          "one when its caches are cold)")
    }
  }

  test("TopKRewrite fires on exactly the pinned registry queries, per branch") {
    onWalk(SparkEntry.queries.keys) { walked =>
      assert(carrying(walked, "__graft_top_row") == TopRowCarriers)
      assert(carrying(walked, "__graft_topk") == HeapCarriers)
    }
  }

  test("C9: EVERY registry query survives a result-stage retry (the blanket)") {
    // ChaosSpec's hand-picked cases are the argument (chaos on inputs,
    // specific failure surfaces); this is the blanket: every registry
    // query at sf0.001, evaluated clean and then, built again, with
    // every final-stage task killed once
    onWalk(SparkEntry.queries.keys) { walked =>
      val failures = walked.flatMap { case (name, w) =>
        if (w.retries < 1L) Some(s"$name: injection never fired")
        else if (!w.sameRows)
          Some(s"$name: retry changed rows (clean=${w.rows}, chaos=${w.chaosRows})")
        else None
      }
      assert(failures.isEmpty, s"${failures.length} queries failed the blanket:\n  " +
        failures.mkString("\n  "))
    }
  }
}
