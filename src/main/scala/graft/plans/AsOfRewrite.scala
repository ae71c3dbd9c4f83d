package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftglue.GraftBridge
import org.apache.spark.sql.types.{DateType, NumericType, TimestampType}

import graft.operators.AsOfJoin

/** Injected optimizer rule: the MAX-per-probe as-of SQL antipattern
  * becomes [[AsOfJoin]]'s union+window plan.
  *
  * A SQL user without an ASOF JOIN writes the backward price lookup as
  * a self-join plus per-group MAX:
  *
  * {{{
  * SELECT t.asset, t.wallet, t.date,
  *        max(p.pdate)           AS price_date,
  *        max_by(p.price, p.pdate) AS price
  * FROM transfers t JOIN prices p
  *   ON p.asset = t.asset AND p.pdate <= t.date
  * GROUP BY t.asset, t.wallet, t.date
  * }}}
  *
  * Spark plans the join as a hash/merge join on the equi key with the
  * inequality as a post-join filter — every probe row pairs with its
  * key's ENTIRE earlier quote history before the aggregate throws all
  * but one row away: O(probes·quotes) per key, the per-key cross
  * product [[AsOfJoin]]'s scaladoc warns about, and exactly how a
  * long quote series kills the query at scale. The union+window as-of
  * plan does the same work in one keyed shuffle at n·log(run) per
  * partition. [[IntervalOverlapRewrite]] closed this gap for
  * equi-key-LESS interval joins; this rule closes it for the keyed
  * as-of shape — declared SQL in, scale plan out (the range-join /
  * temporal-join rewrites engines like Flink and Trino ship).
  *
  * Eligibility (conservative — anything else is left untouched):
  *   - `Aggregate` directly over an INNER `Join` (or over an
  *     attribute-only `Project` of one);
  *   - join condition = ≥1 cross-side `EqualTo` over attributes (the
  *     as-of keys; no duplicate key attribute per side) + EXACTLY one
  *     inclusive cross-side inequality over attributes: `qt <= pt`
  *     (backward) or `qt >= pt` (forward, date/timestamp/numeric axis
  *     only — [[AsOfJoin.asOfForward]]'s reversal domain);
  *   - grouping = plain left-side attributes COVERING the left output
  *     (so groups are exactly distinct probe rows) and including the
  *     probe time and every equi key;
  *   - aggregates (non-distinct, unfiltered): `max(qt)` /
  *     `max_by(v, qt)` backward, `min(qt)` / `min_by(v, qt)` forward,
  *     every `v` built from right-side columns only; at least one.
  *
  * The rewrite is then EXACT: distinct probes (the GROUP BY collapses
  * duplicate probe rows), quotes pre-filtered to non-null time (a
  * null quote time never satisfies the inequality), as-of join, and a
  * match-exists filter (the inner join emits no row for a probe with
  * no qualifying quote). NULL keys fall out identically: equi-join
  * semantics never match them, and the filter drops the null-keyed
  * probes asOf passes through. One documented divergence: on a quote
  * time TIE `max_by` is nondeterministic (both engines pick an
  * arbitrary row) where asOf deterministically takes the greatest
  * payload — the rewrite replaces nondeterminism with a pinned
  * choice, never a wrong row.
  *
  * Output attributes keep the Aggregate's exprIds via aliases, so
  * parent operators resolve unchanged. Injected pre-CBO: runs once,
  * after pushdown/pruning have normalized the child (which is what
  * makes "grouping covers the left output" a faithful test), and the
  * replacement subtree — windows, unions, a Deduplicate — can never
  * re-match the Aggregate-over-Join pattern.
  *
  * Switched off, like any optimizer rule, by listing its rule name
  * `graft.plans.AsOfRewrite` in `spark.sql.optimizer.excludedRules`.
  */
case class AsOfRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a @ Aggregate(_, _, child, _) =>
      unwrapJoin(child).flatMap(j => rewrite(a, j)).getOrElse(a)
  }

  /** The join under the aggregate, looking through a pruning-only
    * projection. */
  private def unwrapJoin(plan: LogicalPlan): Option[Join] = plan match {
    case j: Join => Some(j)
    case Project(projectList, j: Join)
        if projectList.forall(_.isInstanceOf[AttributeReference]) => Some(j)
    case _ => None
  }

  private def rewrite(agg: Aggregate, j: Join): Option[LogicalPlan] = {
    if (j.joinType != Inner) return None
    val cond = j.condition.getOrElse(return None)
    val (left, right) = (j.left, j.right)
    val conjuncts = splitConjunctivePredicates(cond)

    // split condition: attribute equi pairs (left, right) + the rest
    val equis = scala.collection.mutable.ArrayBuffer.empty[(AttributeReference, AttributeReference)]
    val others = scala.collection.mutable.ArrayBuffer.empty[Expression]
    conjuncts.foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if left.outputSet.contains(a) && right.outputSet.contains(b) =>
        equis += ((a, b))
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if right.outputSet.contains(a) && left.outputSet.contains(b) =>
        equis += ((b, a))
      case e => others += e
    }
    if (equis.isEmpty || others.length != 1) return None
    // no duplicate key attribute on either side (renaming would collide)
    if (equis.map(_._1.exprId).distinct.length != equis.length ||
        equis.map(_._2.exprId).distinct.length != equis.length) return None

    // the single inequality, canonicalized to (probeTime, quoteTime,
    // backward?): backward = qt <= pt, forward = qt >= pt
    val asof = others.head match {
      case LessThanOrEqual(q: AttributeReference, p: AttributeReference)
          if right.outputSet.contains(q) && left.outputSet.contains(p) =>
        Some((p, q, true))
      case GreaterThanOrEqual(p: AttributeReference, q: AttributeReference)
          if left.outputSet.contains(p) && right.outputSet.contains(q) =>
        Some((p, q, true))
      case GreaterThanOrEqual(q: AttributeReference, p: AttributeReference)
          if right.outputSet.contains(q) && left.outputSet.contains(p) =>
        Some((p, q, false))
      case LessThanOrEqual(p: AttributeReference, q: AttributeReference)
          if left.outputSet.contains(p) && right.outputSet.contains(q) =>
        Some((p, q, false))
      case _ => None
    }
    val (pt, qt, backward) = asof.getOrElse(return None)
    // forward rides asOfForward's axis reversal — bounded domain
    def reversible(dt: org.apache.spark.sql.types.DataType) = dt match {
      case DateType | TimestampType | _: NumericType => true
      case _ => false
    }
    if (!backward && !(reversible(pt.dataType) && reversible(qt.dataType)))
      return None

    // grouping: plain left attributes covering the left output, incl.
    // the probe time and (by coverage) every equi key
    val groups = agg.groupingExpressions.map {
      case a: AttributeReference if left.outputSet.contains(a) => a
      case _ => return None
    }
    val groupSet = AttributeSet(groups)
    if (!left.outputSet.subsetOf(groupSet) || !groupSet.contains(pt)) return None

    // aggregate list: grouping passthroughs + the as-of aggregates
    sealed trait Out
    case object TimeOut extends Out
    case class GroupOut(a: AttributeReference) extends Out
    case class PayloadOut(i: Int) extends Out
    val payloads = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def classify(ne: NamedExpression): Option[Out] = ne match {
      case a: AttributeReference if groupSet.contains(a) => Some(GroupOut(a))
      case Alias(a: AttributeReference, _) if groupSet.contains(a) => Some(GroupOut(a))
      case Alias(AggregateExpression(f, _, false, None, _), _) => f match {
        case Max(e) if backward && e.semanticEquals(qt) => Some(TimeOut)
        case Min(e) if !backward && e.semanticEquals(qt) => Some(TimeOut)
        case MaxBy(v, o) if backward && o.semanticEquals(qt) &&
            v.references.subsetOf(right.outputSet) =>
          payloads += v; Some(PayloadOut(payloads.length - 1))
        case MinBy(v, o) if !backward && o.semanticEquals(qt) &&
            v.references.subsetOf(right.outputSet) =>
          payloads += v; Some(PayloadOut(payloads.length - 1))
        case _ => None
      }
      case _ => None
    }
    val outs = agg.aggregateExpressions.map(ne => ne -> classify(ne).getOrElse(return None))
    if (!outs.exists { case (_, o) => o == TimeOut || o.isInstanceOf[PayloadOut] })
      return None

    // ---- build the replacement with the tested operator ----
    val gName = groups.zipWithIndex.map { case (a, i) => a.exprId -> s"__g$i" }.toMap
    val lDf = GraftBridge.ofRows(spark, left)
    val rDf = GraftBridge.ofRows(spark, right)
    def c(e: Expression): Column = GraftBridge.column(e)

    // distinct probes as a PLAIN Aggregate node: `.distinct()` would
    // emit a Deduplicate, whose replace-with-aggregate rule has
    // already run by pre-CBO time — the planner would then throw on
    // the unreplaced node
    val probesProj = lDf.select(groups.zipWithIndex.map {
      case (a, i) => c(a).as(s"__g$i")
    }: _*).queryExecution.analyzed
    val probes = GraftBridge.ofRows(spark,
      Aggregate(probesProj.output, probesProj.output, probesProj, None))
    val keyNames = equis.map { case (la, _) => gName(la.exprId) }.toSeq
    val quoteCols =
      equis.map { case (la, ra) => c(ra).as(gName(la.exprId)) } ++
        Seq(c(qt).as("__qt")) ++
        payloads.zipWithIndex.map { case (v, i) => c(v).as(s"__v$i") }
    val quotes = rDf.select(quoteCols.toSeq: _*).where(col("__qt").isNotNull)

    val payloadNames = payloads.indices.map(i => s"__v$i")
    val joined =
      if (backward)
        AsOfJoin.asOf(probes, quotes, keyNames, gName(pt.exprId), "__qt", payloadNames)
      else
        AsOfJoin.asOfForward(probes, quotes, keyNames, gName(pt.exprId), "__qt", payloadNames)
    val inner = joined.where(col("__qt").isNotNull)

    // project back to the Aggregate's own output attributes
    val res = inner.queryExecution.analyzed
    val byName = res.output.map(a => a.name -> a).toMap
    val projList = outs.map { case (ne, out) =>
      val src = out match {
        case GroupOut(a)   => byName(gName(a.exprId))
        case TimeOut       => byName("__qt")
        case PayloadOut(i) => byName(s"__v$i")
      }
      Alias(src, ne.name)(exprId = ne.exprId)
    }
    Some(Project(projList, res))
  }
}
