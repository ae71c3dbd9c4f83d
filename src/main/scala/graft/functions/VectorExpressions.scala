package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `graft_dot(a, b)`: dot product of two array<double> columns as a
  * native Catalyst expression with whole-stage codegen.
  *
  * The composable form — `aggregate(zip_with(a, b, *), 0d, +)` — is
  * semantically identical but runs the higher-order-function
  * interpreter per row: it allocates the zipped array and evaluates
  * two lambdas per element, and it breaks the codegen stage. In the
  * O(n²) similarity hot paths (kNN, embedding dedupe) that interpreter
  * cost dominates the whole query, so this is the one place graft
  * drops below the DataFrame API. The generated code is the tight
  * `for` loop you'd write by hand, inlined into the join stage.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<double>; graft's call sites widen float
  // arrays before the join, so no implicit-cast contract is declared
  // (ExpectsInputTypes is private[sql]-typed in Spark 4)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Session registration for graft's native expressions. */
object GraftFunctions {
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (args => DotProduct(args(0), args(1))),
    "graft_kll_agg" -> (args => {
      require(args.length == 2 && args(1).foldable,
        "graft_kll_agg(value, k) needs a literal k")
      KllAgg(args(0), args(1).eval().asInstanceOf[Number].intValue())
    }),
    "graft_kll_merge_agg" -> (args => KllMergeAgg(args(0))),
    "graft_kll_quantiles" -> (args => KllQuantiles(args(0), args(1))),
    "graft_cms_probe" -> (args => CmsProbeAll(args(0), args(1))),
    "graft_kmv_agg" -> (args => {
      require(args.length == 2 && args(1).foldable,
        "graft_kmv_agg(hash, k) needs a literal k")
      KmvAgg(args(0), args(1).eval().asInstanceOf[Number].intValue())
    }),
    "graft_bloom_agg" -> (args => {
      require(args.length == 3 && args(1).foldable && args(2).foldable,
        "graft_bloom_agg(hash, expectedItems, fpp) needs literal sizing args")
      BloomAgg(args(0),
        args(1).eval().asInstanceOf[Number].longValue(),
        args(2).eval().asInstanceOf[Number].doubleValue())
    }),
    "graft_bloom_contains" -> (args => BloomMightContain(args(0), args(1))),
    "graft_nfc" -> (args => NfcNormalize(args(0))),
    "graft_grams" -> (args => {
      require(args.length == 2 && args(1).foldable,
        "graft_grams(text, buckets) needs a literal bucket count")
      GramBuckets(args(0), args(1).eval().asInstanceOf[Number].intValue())
    }),
    "graft_hilbert" -> (args => {
      require(args.length == 3 && args(2).foldable,
        "graft_hilbert(x, y, order) needs a literal order")
      HilbertIndex2D(args(0), args(1),
        args(2).eval().asInstanceOf[Number].intValue())
    }))

  /** Idempotent per-session registration (temp functions). */
  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "internal")
  }
}

/** `spark.sql.extensions`-style injection for sessions built outside
  * graft's own entry points: builds the same registry entries at
  * session-construction time, plus graft's optimizer rules
  * ([[graft.plans.IntervalOverlapRewrite]] — interval-overlap theta
  * joins become the bin equi-join, pre-CBO, conf-gated). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        new FunctionIdentifier(name),
        new ExpressionInfo(classOf[DotProduct].getName, name),
        builder))
    }
    // post-hoc: fully-resolved MERGE/UPDATE/DELETE against a
    // GraftCatalog live table re-route onto the commit protocol
    // before Spark's row-level capability check refuses them
    ext.injectPostHocResolutionRule(session => graft.plans.RowLevelSqlBridge(session))
    ext.injectPreCBORule(session => graft.plans.IntervalOverlapRewrite(session))
    ext.injectPreCBORule(session => graft.plans.AsOfRewrite(session))
    ext.injectPreCBORule(session => graft.plans.TopKRewrite(session))
    ext.injectPreCBORule(session => graft.plans.ViewMatchRewrite(session))
  }
}
