package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, max, min, sum}
import org.apache.spark.sql.graftglue.GraftBridge

import graft.sources.MatViews

/** Injected optimizer rule: aggregates over a fact scan — or over a
  * star-schema facts ⋈ dim join — are answered from a registered
  * materialized view ([[MatViews]]) — the automatic view-matching
  * engines like Calcite, BigQuery, and Snowflake ship, here for the
  * [[graft.streaming.AggTableSink]]-maintained table shape.
  *
  * A dashboard writes
  *
  * {{{
  * SELECT asset, count(*), sum(v) FROM facts
  * WHERE day BETWEEN … GROUP BY asset
  * }}}
  *
  * and vanilla Spark scans the 100 TB fact table — even though a
  * maintained |groups|-row rollup at the (asset, day) grain already
  * holds everything the query needs. This rule detects the
  * containment and rewrites to the view: grouping a SUBSET of the
  * view's grain, filters over view grain columns only, measures
  * derivable by compensation — `sum(e)` → `sum(s_e)`, `count(*)` →
  * `sum(cnt)`, `min/max(e)` → `min/max(m_e)` (sums exact for
  * decimal/integral measures — the repo's posture; min/max exact for
  * any type). The fact scan disappears from the plan entirely; the
  * query's cost becomes O(|view|), independent of the facts.
  *
  * Single-table eligibility (conservative — anything else untouched):
  *   - `Aggregate` over `[Filter]`/attribute-only-`Project` chains
  *     ending in a V1 parquet scan whose root path has a registered
  *     view (the path IS the match key — no table catalog needed);
  *   - grouping expressions are plain attributes whose names ⊆ the
  *     view's group columns; filter conjuncts reference group-column
  *     attributes only (a slice the view can answer exactly —
  *     predicates re-apply verbatim to the view's grain rows);
  *   - every aggregate is non-distinct, unfiltered, and one of:
  *     `sum(e)` with `e` registered as a summed measure, `count(*)`
  *     / `count(1)` with a registered count column, `min(e)`/`max(e)`
  *     with `e` registered under the matching min/max measure —
  *     where "registered" compares the optimizer-normalized,
  *     qualifier-free SQL of `e` ([[MatViews.canonicalSql]]'s
  *     structural match, so `sum(CAST(round(value, 6) AS
  *     DECIMAL(18,6)))` finds its measure and `sum(value)` — a
  *     different aggregate — correctly misses); a presentation Cast
  *     around the aggregate compensates inside and casts after.
  *
  * Join eligibility adds ([[MatViews.JoinMvDef]] — the star-schema
  * rollup, Calcite's join-derivability in its conservative form):
  *   - the aggregate's child is an INNER `Join` of two eligible scans
  *     (either orientation) whose paths have a registered join view;
  *   - the join condition is exactly the registered equi-key pairs
  *     (matched by column name per side) plus, tolerated and dropped,
  *     `IsNotNull(key)` conjuncts — implied by the inner equi-join
  *     the view already materialized;
  *   - pruned output names of the two sides are disjoint, so grain
  *     names resolve unambiguously; filters (above the join or
  *     pushed into either side) reference grain columns only.
  *
  * Exactness: group universes agree (a view-grain group exists iff a
  * fact/join row exists; re-grouping a subset grain produces exactly
  * the groups the direct aggregate would); NULL group keys are one
  * group on both routes; a pushed-down grain slice filters exactly
  * the join rows the view's grain rows represent. Compensation types
  * widen (`sum` over a view `sum` column) and are cast back to the
  * original attribute's type, preserving exprIds, so parents resolve
  * unchanged. Currency of the view is the registrant's contract —
  * the rule trusts [[MatViews]]; a stale registration is a stale
  * answer, which is why registration is explicit and path-scoped.
  *
  * Switched off, like any optimizer rule, by listing its rule name
  * `graft.plans.ViewMatchRewrite` in `spark.sql.optimizer.excludedRules`.
  */
case class ViewMatchRewrite(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case a @ Aggregate(_, _, child, _) =>
      rewriteSingle(a, child).orElse(rewriteJoin(a, child)).getOrElse(a)
  }

  /** Strip [Filter]/attr-only-Project chains down to a V1 file scan,
    * collecting filter conjuncts. */
  private def unwrap(plan: LogicalPlan,
      conds: Seq[Expression]): Option[(Seq[Expression], LogicalRelation)] =
    plan match {
      case Filter(c, child) => unwrap(child, conds ++ splitConjunctivePredicates(c))
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, conds)
      case l: LogicalRelation => Some((conds, l))
      case _ => None
    }

  /** Same, stopping at an inner Join instead of a scan. */
  private def unwrapToJoin(plan: LogicalPlan,
      conds: Seq[Expression]): Option[(Seq[Expression], Join)] =
    plan match {
      case Filter(c, child) =>
        unwrapToJoin(child, conds ++ splitConjunctivePredicates(c))
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        unwrapToJoin(child, conds)
      case j: Join if j.joinType == Inner => Some((conds, j))
      case _ => None
    }

  private def scanPath(scan: LogicalRelation): Option[String] =
    scan.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(fs.location.rootPaths.head.toUri.getPath)
      case _ => None
    }

  private def rewriteSingle(agg: Aggregate, child: LogicalPlan): Option[LogicalPlan] = {
    val (conds, scan) = unwrap(child, Nil).getOrElse(return None)
    val srcPath = scanPath(scan).getOrElse(return None)
    val mv = MatViews.lookup(srcPath).getOrElse(return None)
    compensate(agg, mv, conds)
  }

  private def rewriteJoin(agg: Aggregate, child: LogicalPlan): Option[LogicalPlan] = {
    val (topConds, j) = unwrapToJoin(child, Nil).getOrElse(return None)
    val (lConds, lScan) = unwrap(j.left, Nil).getOrElse(return None)
    val (rConds, rScan) = unwrap(j.right, Nil).getOrElse(return None)
    val lPath = scanPath(lScan).getOrElse(return None)
    val rPath = scanPath(rScan).getOrElse(return None)
    val (mv, swapped) = MatViews.lookupJoin(lPath, rPath).getOrElse(return None)

    // unambiguous name resolution across the two (pruned) sides
    val lNames = lScan.output.map(_.name)
    val rNames = rScan.output.map(_.name)
    if (lNames.intersect(rNames).nonEmpty) return None

    // join condition = exactly the registered equi pairs (+ implied
    // IsNotNull(key) conjuncts, dropped)
    val wantPairs =
      (if (swapped) mv.rightKeys.zip(mv.leftKeys) else mv.leftKeys.zip(mv.rightKeys)).toSet
    val keyNames = wantPairs.flatMap(p => Seq(p._1, p._2))
    val cond = j.condition.getOrElse(return None)
    val gotPairs = scala.collection.mutable.Set.empty[(String, String)]
    splitConjunctivePredicates(cond).foreach {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if lScan.outputSet.contains(a) && rScan.outputSet.contains(b) =>
        gotPairs += ((a.name, b.name))
      case EqualTo(b: AttributeReference, a: AttributeReference)
          if lScan.outputSet.contains(a) && rScan.outputSet.contains(b) =>
        gotPairs += ((a.name, b.name))
      case IsNotNull(a: AttributeReference) if keyNames.contains(a.name) => ()
      case _ => return None
    }
    if (gotPairs.toSet != wantPairs) return None

    // side filters: grain columns only (IsNotNull(key) implied — drop)
    val conds = (topConds ++ lConds ++ rConds).filterNot {
      case IsNotNull(a: AttributeReference) if keyNames.contains(a.name) => true
      case _ => false
    }
    // the join equates each key pair, so a predicate (or grouping) on
    // a key NAME outside the grain is equivalent to one on its grain
    // partner — constraint propagation mirrors slices across the join
    // and this maps them back
    val alias = wantPairs.toSeq.flatMap { case (lk, rk) =>
      (if (mv.groupCols.contains(lk)) Seq(rk -> lk) else Nil) ++
        (if (mv.groupCols.contains(rk)) Seq(lk -> rk) else Nil)
    }.toMap
    compensate(agg, mv, conds, alias)
  }

  /** The shared tail: check grouping/filters against the view grain,
    * classify every output, and build the compensating aggregate over
    * the view table. */
  private def compensate(
      agg: Aggregate,
      mv: MatViews.ViewMeasures,
      conds: Seq[Expression],
      alias: Map[String, String] = Map.empty): Option[LogicalPlan] = {
    val groupSet = mv.groupCols.toSet
    // the grain column a query-side name resolves to, if any
    def grainOf(name: String): Option[String] =
      if (groupSet.contains(name)) Some(name)
      else alias.get(name).filter(groupSet.contains)

    val groups = agg.groupingExpressions.map {
      case a: AttributeReference => a -> grainOf(a.name).getOrElse(return None)
      case _ => return None
    }
    if (groups.isEmpty) return None // grouped views answer grouped queries
    if (groups.map(_._2).distinct.length != groups.length) return None
    if (!conds.forall(_.references.forall {
      case a: AttributeReference => grainOf(a.name).isDefined
      case _ => false
    })) return None

    // classify outputs; Comp = how the view re-derives one column
    sealed trait Comp
    case class GroupCol(name: String) extends Comp
    case class SumOf(mvCol: String) extends Comp
    case class CountOf(mvCol: String) extends Comp
    case class MinOf(mvCol: String) extends Comp
    case class MaxOf(mvCol: String) extends Comp
    val groupAttrSet = AttributeSet(groups.map(_._1))
    val grainByExprId = groups.map { case (a, g) => a.exprId -> g }.toMap
    def classifyAgg(f: AggregateFunction): Option[Comp] = f match {
      case Count(Seq(Literal(1, _))) => mv.countCol.map(CountOf.apply)
      case Sum(e, _) =>
        val sql = MatViews.canon(e)
        mv.sums.collectFirst { case (n, s) if s == sql => SumOf(n) }
      case Min(e) =>
        val sql = MatViews.canon(e)
        mv.mins.collectFirst { case (n, s) if s == sql => MinOf(n) }
      case Max(e) =>
        val sql = MatViews.canon(e)
        mv.maxs.collectFirst { case (n, s) if s == sql => MaxOf(n) }
      case _ => None
    }
    def classify(ne: NamedExpression): Option[Comp] = ne match {
      case a: AttributeReference if groupAttrSet.contains(a) =>
        Some(GroupCol(grainByExprId(a.exprId)))
      case Alias(a: AttributeReference, _) if groupAttrSet.contains(a) =>
        Some(GroupCol(grainByExprId(a.exprId)))
      case Alias(AggregateExpression(f, Complete, false, None, _), _) =>
        classifyAgg(f)
      // a presentation Cast around the aggregate (the CAST(sum(…) AS
      // DOUBLE) idiom): compensate inside, cast to the outer type —
      // the compensated decimal/integral value is exact, so the final
      // cast lands on the same value the direct path casts
      case Alias(Cast(AggregateExpression(f, Complete, false, None, _), _, _, _), _) =>
        classifyAgg(f)
      case _ => None
    }
    val outs = agg.aggregateExpressions.map(ne => ne -> classify(ne).getOrElse(return None))

    // ---- build the replacement over the view table ----
    val mvDf0 =
      if (mv.publish) graft.sources.Publish.read(spark, mv.mvPath)
      else spark.read.parquet(mv.mvPath)
    val mvAttr = mvDf0.queryExecution.analyzed.output.map(a => a.name -> a).toMap
    // every grain column exists on the view by construction, so the
    // by-name rebase of the (grain-only) filters is total
    def rebase(e: Expression): Expression = e.transform {
      case a: AttributeReference => mvAttr(grainOf(a.name).get)
    }
    val filtered = conds.foldLeft(mvDf0)((df, c) =>
      df.where(GraftBridge.column(rebase(c))))

    val compCols: Seq[Column] = outs.collect {
      case (ne, SumOf(n))   => sum(col(n)).cast(ne.dataType).as(s"__c_${ne.exprId.id}")
      case (ne, CountOf(n)) => sum(col(n)).cast(ne.dataType).as(s"__c_${ne.exprId.id}")
      case (ne, MinOf(n))   => min(col(n)).cast(ne.dataType).as(s"__c_${ne.exprId.id}")
      case (ne, MaxOf(n))   => max(col(n)).cast(ne.dataType).as(s"__c_${ne.exprId.id}")
    }
    if (compCols.isEmpty) return None // pure-distinct grain listing: not this rule's shape
    val groupNames = groups.map(_._2)
    val comp = filtered
      .groupBy(groupNames.map(col): _*)
      .agg(compCols.head, compCols.tail: _*)

    // project back to the Aggregate's own output attributes
    val res = comp.queryExecution.analyzed
    val byName = res.output.map(a => a.name -> a).toMap
    val projList = outs.map { case (ne, c) =>
      val src = c match {
        case GroupCol(n) => byName(n)
        case _           => byName(s"__c_${ne.exprId.id}")
      }
      Alias(src, ne.name)(exprId = ne.exprId)
    }
    Some(Project(projList, res))
  }
}
