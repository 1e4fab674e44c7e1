package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.connector.catalog.Identifier

import graft.sources.GraftCatalog

/** SQL-text VIEW resolution for graft catalogs (round-16 verdict #5).
  *
  * Spark 4.1 ships the DSv2 [[org.apache.spark.sql.connector.catalog.ViewCatalog]]
  * API but wires NO analyzer support for it (nothing in
  * spark-catalyst/spark-sql calls `loadView`) — so [[GraftCatalog]]
  * implements the interface for storage/maintenance, and THIS
  * resolution rule supplies the missing read path, the way the API is
  * meant to compose: a 3-part relation `cat.ns.v` that names a stored
  * view expands into its parsed SQL text (wrapped in a SubqueryAlias),
  * and the analyzer resolves the expansion like any inline subquery.
  * Resolution happens AT LOAD: the view always reflects the current
  * table state, a `VERSION AS OF` inside the text stays pinned, and
  * views can reference views (bounded depth — a cycle fails with a
  * clear error instead of an analyzer-fixpoint blowup).
  *
  * Activate with `spark.sql.extensions=graft.plans.GraftExtensions` at
  * session build, or `graft.GraftSession.sibling(s, extensions = true)`
  * for a live session (a sibling session on the same context with the
  * rule injected — the harness sessions are driver-built).
  */
case class ResolveGraftViews(spark: SparkSession) extends Rule[LogicalPlan] {
  import ResolveGraftViews._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case u: UnresolvedRelation if u.multipartIdentifier.length >= 3 =>
        expand(u).getOrElse(u)
    }

  private def expand(u: UnresolvedRelation): Option[LogicalPlan] = {
    val parts = u.multipartIdentifier
    val cm = spark.sessionState.catalogManager
    if (!cm.isCatalogRegistered(parts.head)) return None
    cm.catalog(parts.head) match {
      case g: GraftCatalog =>
        val ident = Identifier.of(parts.tail.init.toArray, parts.last)
        if (!g.viewExists(ident)) None
        else {
          val depth = u.getTagValue(DepthTag).getOrElse(0)
          if (depth >= MaxDepth) throw new IllegalStateException(
            s"view nesting deeper than $MaxDepth at ${parts.mkString(".")} — " +
              "view cycle?")
          val v = g.loadView(ident)
          val parsed = spark.sessionState.sqlParser.parsePlan(v.query)
          parsed.foreach {
            case inner: UnresolvedRelation =>
              inner.setTagValue(DepthTag, depth + 1)
            case _ => ()
          }
          Some(SubqueryAlias(parts.last, parsed))
        }
      case _ => None
    }
  }
}

object ResolveGraftViews {
  private[plans] val DepthTag = new TreeNodeTag[Int]("graftViewDepth")
  private[plans] val MaxDepth = 10
}
