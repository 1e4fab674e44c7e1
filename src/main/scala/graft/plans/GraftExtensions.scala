package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.Shim

/** SparkSessionExtensions entry point (SURVEY §4.3's documented extension
  * seam): makes the native expressions available to plain SQL. Activate
  * with `--conf spark.sql.extensions=graft.plans.GraftExtensions` at
  * session build, with `graft.GraftSession.sibling(s, extensions = true)`
  * for a live session, or call [[GraftExtensions.register]] for the
  * functions alone (the harness sessions are driver-built, so the scored
  * paths use the Column API directly; SQL registration is exercised in
  * PlanSuite).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectOptimizerRule(_ => WindowTopKRewrite)
    ext.injectOptimizerRule(_ => CountInSetRewrite)
    ext.injectOptimizerRule(_ => VariantShredPrune)
    // MV substitution (round 19) — exact-match aggregate → fresh MV
    ext.injectOptimizerRule(sess => MvQueryRewrite(sess))
    // V2 view read path (Spark ships the ViewCatalog API unwired —
    // see ResolveGraftViews)
    ext.injectResolutionRule(sess => ResolveGraftViews(sess))
  }
}

object GraftExtensions {
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductF].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProductF(args(0), args(1)))

  /** Register the functions on an already-built session. */
  def register(spark: SparkSession): Unit =
    Shim.registerFunction(spark, dotFunction._1, dotFunction._2, dotFunction._3)
}
