package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.operators.RangeJoin

/** Injected optimizer rule: interval-overlap theta joins become the
  * bin equi-join automatically.
  *
  * A SQL user writing `FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi`
  * gets Spark's only plan for an equi-key-less join: BroadcastNestedLoop
  * — O(|a|·|b|) comparisons, single-task when the broadcast side is
  * big. graft's [[RangeJoin.intervalOverlap]] is the scale form (both
  * sides replicate to fixed-width bins, meet in an ordinary equi-join,
  * dedupe structurally), but it only helps callers who KNOW to call
  * it. This rule closes that gap at the optimizer level, the way
  * engines ship range-join rewrites (Databricks' range-join hint,
  * Flink/Trino temporal joins) — declared SQL in, scale plan out.
  *
  * The rewrite is EXACT, not best-effort. The bin path requires valid
  * short intervals, so rows are split three ways and recombined:
  *
  *   - valid intervals spanning ≤ MaxBinsPerInterval bins → the bin equi-join
  *     (structural dedupe: each qualifying pair emitted exactly once);
  *   - everything else (empty `lo > hi`, null-bound, or mega-span
  *     intervals) → a compensation theta join of ONLY those rows
  *     against the other side under the ORIGINAL condition. An
  *     empty/null set costs nothing; a few mega-intervals match nearly
  *     everything anyway, so nested-loop over just them is the right
  *     plan (the classic hybrid range join);
  *   - union of the three branches, projected back to the join's
  *     original output attributes.
  *
  * Null-bound rows land in the compensation branch where the original
  * condition evaluates null → dropped, exactly the theta join's
  * semantics. Residual conjuncts (anything beyond the two overlap
  * bounds) re-apply on every branch.
  *
  * Eligibility is deliberately conservative: INNER join; no equi
  * conjunct (Spark's hash/merge join already handles those); both
  * overlap bounds are integral ATTRIBUTES; the two sides share no
  * column names (the delegate operator's own contract). Injected as a
  * pre-CBO rule — it runs ONCE, and `transformUp` never revisits the
  * replacement subtree, so the compensation joins (which still match
  * the textual pattern) are not themselves rewritten. The replacement
  * subtree misses the already-run operator-optimization batch (column
  * pruning inside the new joins), so the handwritten operator remains
  * the tuned path; this rule is the transparent floor for declared
  * SQL.
  *
  * Switched off, like any optimizer rule, by listing its rule name
  * `graft.plans.IntervalOverlapRewrite` in
  * `spark.sql.optimizer.excludedRules`. The bin width and the
  * per-interval bin ceiling are the constants
  * [[IntervalOverlapRewrite.BinWidth]] (64) and
  * [[IntervalOverlapRewrite.MaxBinsPerInterval]] (4096).
  *
  * Degeneracy bound: the bin width must suit the axis (64 fits
  * epoch-day and epoch-second data; a microsecond axis would want a
  * wider bin). If EVERY interval overflows the ceiling, the split
  * routes both sides to the compensation join — i.e., the plan
  * degenerates to the ORIGINAL nested loop plus empty bin/filter
  * branches, never asymptotically worse than not rewriting.
  */
case class IntervalOverlapRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), _) =>
      rewrite(j, left, right, cond).getOrElse(j)
  }

  private def rewrite(
      j: Join,
      left: LogicalPlan,
      right: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    def splitSides(a: Expression, b: Expression): Boolean =
      (a.references.subsetOf(left.outputSet) && b.references.subsetOf(right.outputSet)) ||
        (a.references.subsetOf(right.outputSet) && b.references.subsetOf(left.outputSet))
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) => splitSides(a, b)
      case EqualNullSafe(a, b) => splitSides(a, b)
      case _ => false
    }
    if (hasEqui) return None

    // canonicalize every `x <= y` conjunct over integral attributes
    val les = conjuncts.flatMap {
      case c @ LessThanOrEqual(a: AttributeReference, b: AttributeReference) =>
        Some((a, b, c))
      case c @ GreaterThanOrEqual(a: AttributeReference, b: AttributeReference) =>
        Some((b, a, c))
      case _ => None
    }.filter { case (a, b, _) => integral(a) && integral(b) }

    val lOut = left.outputSet
    val rOut = right.outputSet
    // (lLo <= rHi) and (rLo <= lHi): left interval [lLo, lHi],
    // right interval [rLo, rHi] — a shared attribute within a side
    // (point-in-interval) is fine
    val lr = les.collect { case (a, b, c) if lOut.contains(a) && rOut.contains(b) => (a, b, c) }
    val rl = les.collect { case (a, b, c) if rOut.contains(a) && lOut.contains(b) => (a, b, c) }
    // delegate-operator contract: columns are addressed by NAME, so
    // names must be unambiguous — disjoint across sides, distinct
    // within each side
    val lNames = left.output.map(_.name)
    val rNames = right.output.map(_.name)
    val namesOk = lNames.toSet.intersect(rNames.toSet).isEmpty &&
      lNames.distinct.length == lNames.length &&
      rNames.distinct.length == rNames.length
    for {
      (lLo, rHi, c1) <- lr.headOption
      (rLo, lHi, c2) <- rl.find(_._3 ne c1)
      if namesOk
    } yield {
      import IntervalOverlapRewrite.{BinWidth, MaxBinsPerInterval}
      val rest = conjuncts.filterNot(c => (c eq c1) || (c eq c2))
      val lDf = org.apache.spark.sql.graftglue.GraftBridge.ofRows(spark, left)
      val rDf = org.apache.spark.sql.graftglue.GraftBridge.ofRows(spark, right)

      def binnable(lo: Attribute, hi: Attribute): Column = {
        // same exact arithmetic as RangeJoin.bin: long `div` floor and
        // a decimal span compare (a long span would wrap for extreme
        // bounds and silently mis-route a mega interval)
        def b(c: Column) = {
          val cl = c.cast("long")
          org.apache.spark.sql.functions.call_function("div", cl, lit(BinWidth)) -
            org.apache.spark.sql.functions.when(cl % BinWidth < 0, lit(1L)).otherwise(lit(0L))
        }
        col(lo.name) <= col(hi.name) &&
          (b(col(hi.name)).cast(org.apache.spark.sql.types.DataTypes
            .createDecimalType(38, 0)) - b(col(lo.name))) < lit(MaxBinsPerInterval)
      }
      val lFit = binnable(lLo, lHi)
      val rFit = binnable(rLo, rHi)
      val lv = lDf.where(lFit)
      val rv = rDf.where(rFit)
      val lRest = lDf.where(not(coalesce(lFit, lit(false))))
      val rRest = rDf.where(not(coalesce(rFit, lit(false))))

      val condCol = org.apache.spark.sql.graftglue.GraftBridge.column(cond)
      val main0 = RangeJoin.intervalOverlap(lv, rv,
        lLo.name, lHi.name, rLo.name, rHi.name,
        binWidth = BinWidth, maxBinsPerInterval = MaxBinsPerInterval + 1)
      val main = rest.foldLeft(main0)((df, c) =>
        df.where(org.apache.spark.sql.graftglue.GraftBridge.column(c)))
      val comp1 = lRest.join(rDf, condCol, "inner")
      val comp2 = lv.join(rRest, condCol, "inner")

      val unioned = main.unionByName(comp1).unionByName(comp2)
      Project(j.output, unioned.queryExecution.analyzed)
    }
  }
}

object IntervalOverlapRewrite {

  /** Bin size on the shared axis. */
  val BinWidth = 64L

  /** Bins an interval may span before it takes the compensation join. */
  val MaxBinsPerInterval = 4096L
}
