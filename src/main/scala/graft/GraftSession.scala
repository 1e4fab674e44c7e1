package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.Shim

/** The one place a session is built or forked — Bench, Verify, the dev
  * tools and the tests all run in the same kind of session:
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
  *
  * A flow that needs confs of its own or the graft extensions runs in a
  * [[sibling]], never by setting and restoring confs on the caller's
  * session.
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

  /** The harness-level confs a sibling follows its parent on. */
  private val Resynced = Seq("spark.sql.session.timeZone", "spark.sql.shuffle.partitions")

  // parent (weak) → (confs, extensions) → sibling
  private val siblings = new java.util.WeakHashMap[SparkSession,
    java.util.HashMap[(Map[String, String], Boolean), SparkSession]]

  /** A session on the parent's SparkContext and SharedState with its own
    * SQLConf: `confs` on top of the parent's, plus the full graft
    * extension set when `extensions` (injected rules need a sessionState
    * built after injection). Memoized per (parent, confs, extensions), so
    * repeated scoring reuses one SessionState and injected rule state
    * stays singleton; the parent's SQLConf is never written.
    *
    * The sibling copies the parent's set confs when it is built. On every
    * call it re-applies the parent's current timezone and shuffle
    * partitions, then `confs` — a harness that changes either mid-session
    * sees the change reach the sibling's plans. */
  def sibling(parent: SparkSession, confs: Map[String, String] = Map.empty,
      extensions: Boolean = false): SparkSession = {
    val sib = siblings.synchronized {
      siblings.computeIfAbsent(parent, _ => new java.util.HashMap)
        .computeIfAbsent((confs, extensions), _ => Shim.sessionWithExtensions(parent,
          if (extensions) new graft.plans.GraftExtensions().apply(_) else _ => ()))
    }
    for (k <- Resynced; v <- parent.conf.getOption(k)) sib.conf.set(k, v)
    confs.foreach { case (k, v) => sib.conf.set(k, v) }
    sib
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
