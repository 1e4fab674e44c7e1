package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built — Bench, Verify, the dev tools and
  * the tests all run in the same kind of session:
  *
  *  - `local[cores]` with shuffle partitions = cores;
  *  - UTC: the events µs derivation and every downstream LTZ operation
  *    follow the oracle's UTC semantics, never the host's timezone;
  *  - session-artifact isolation off (a static conf). This engine never
  *    calls addArtifact, but with isolation on every streaming query run
  *    clones the session into a fresh artifact classloader, and the
  *    codegen cache is keyed on (context classloader, source), so each
  *    stream start re-compiles its whole plan (measured 17–49 Janino
  *    compiles per run, 0 with isolation off). Off is the right setting
  *    for a single-tenant application; a multi-tenant Connect server
  *    would keep it on and pay the tax;
  *  - no UI, log level WARN.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(n: Int = cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-key hygiene between builder runs: drop the blocks a query left
    * persisted (pagerank caches, localCheckpoints — builders are pure,
    * nothing is reused across keys), then collect. Broadcast blocks are
    * only reclaimed once the JVM collects their driver-side references,
    * and a long run accretes enough of them that a late heavy key can
    * hit UNABLE_TO_ACQUIRE_MEMORY; the collection also makes a heap peak
    * read after it attributable to the key that allocated it. */
  def settle(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }
}
