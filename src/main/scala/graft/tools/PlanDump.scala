package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.HashJoin
import org.apache.spark.sql.execution.metric.SQLMetric

/** Dev tool: print the physical plan for one or more query keys
  * (the `.explain` snapshots PLANS.md / plans/r19 carry). Not part of
  * the shipped library surface.
  *
  * Usage: runMain graft.tools.PlanDump [--run] <sfDir> <key>[,<key>...] [<outDir> <suffix>]
  *
  * With <outDir>/<suffix>, writes `explain("formatted")` output to
  * <outDir>/<key>_<suffix>.txt per key (the optimization-round evidence
  * files); otherwise prints the executed plan to stdout as before.
  *
  * `--run` executes each key instead: it writes the result to the `noop`
  * format (as the benchmark times it) and prints the final adaptive plan
  * of that write, one node per line with its SQL metrics — output rows,
  * broadcast `dataSize`, hash-join build side and `sortTime`. This is the
  * plan AQE actually ran (which side it broadcast, which joins it
  * re-planned), which the pre-execution print cannot show.
  */
object PlanDump {
  def main(argv: Array[String]): Unit = {
    val runMode = argv.contains("--run")
    val args = argv.filterNot(_ == "--run")
    val dir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = graft.GraftSession()
    for (k <- keys) {
      val df = graft.SparkEntry.queries(k)(spark, dir)
      if (runMode) {
        println(s"==== $k (executed) ====")
        print(executedTree(spark, df))
      } else outDir match {
        case Some(od) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(od))
          val formatted = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$od/${k}_$suffix.txt"), formatted)
          println(s"wrote $od/${k}_$suffix.txt")
        case None =>
          println(s"==== $k ====")
          println(df.queryExecution.executedPlan)
      }
    }
    spark.stop()
  }

  /** Writes `df` to `noop` and renders the final plan of that write. */
  def executedTree(spark: SparkSession, df: DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    // listener callbacks arrive asynchronously, and may still include
    // statements the key's builder ran: keep only the noop write
    val writes = new java.util.concurrent.LinkedBlockingQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical match {
          case w: V2WriteCommand => w.table match {
            case r: DataSourceV2Relation if r.table.name == "noop-table" => writes.put(qe)
            case _ =>
          }
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      val qe = writes.poll(120, java.util.concurrent.TimeUnit.SECONDS)
      require(qe != null, "the noop write was never reported to the listener")
      val sb = new StringBuilder
      render(qe.executedPlan, 0, sb)
      sb.toString
    } finally spark.listenerManager.unregister(listener)
  }

  /** One line per node, through adaptive plans and query stages; a
    * reused exchange is a leaf (its metrics are on the exchange it
    * reuses), and whole-stage-codegen wrappers are skipped. */
  private def render(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = p match {
    case a: AdaptiveSparkPlanExec => line(p, depth, sb); render(a.executedPlan, depth + 1, sb)
    case q: QueryStageExec        => line(p, depth, sb); render(q.plan, depth + 1, sb)
    case _: ReusedExchangeExec    => line(p, depth, sb)
    case w: WholeStageCodegenExec => render(w.child, depth, sb)
    case i: InputAdapter          => render(i.child, depth, sb)
    case _                        => line(p, depth, sb); p.children.foreach(render(_, depth + 1, sb))
  }

  private def line(p: SparkPlan, depth: Int, sb: StringBuilder): Unit = {
    val stats = Seq("numOutputRows" -> "rows", "dataSize" -> "dataSize", "sortTime" -> "sortTime")
      .flatMap { case (m, label) => p.metrics.get(m).map(v => s"$label=${show(v)}") } ++
      (p match { case h: HashJoin => Seq(s"build=${h.buildSide}"); case _ => Nil })
    sb ++= "  " * depth ++= "+- " ++= p.simpleString(8).take(160)
    if (stats.nonEmpty) sb ++= stats.mkString("  [", " ", "]")
    sb += '\n'
  }

  private def show(m: SQLMetric): String = m.metricType match {
    case "size"     => f"${m.value / 1048576.0}%.1fMiB"
    case "timing"   => s"${m.value}ms"
    case "nsTiming" => s"${m.value / 1000000}ms"
    case _          => m.value.toString
  }
}
