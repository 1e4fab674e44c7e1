package graft.tools

/** Dev tool: print the physical plan for one or more query keys
  * (the `.explain` snapshots PLANS.md / plans/r19 carry). Not part of
  * the shipped library surface.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <key>[,<key>...] [<outDir> <suffix>]
  *
  * With <outDir>/<suffix>, writes `explain("formatted")` output to
  * <outDir>/<key>_<suffix>.txt per key (the optimization-round evidence
  * files); otherwise prints the executed plan to stdout as before.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val keys = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else "before"
    val spark = graft.GraftSession()
    for (k <- keys) {
      val df = graft.SparkEntry.queries(k)(spark, dir)
      outDir match {
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
}
