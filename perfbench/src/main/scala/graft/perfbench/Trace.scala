package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort, SubqueryAlias, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one run, written as JSON when the run ends.
  *
  * A span has a kind, a name, a start and an end on the wall clock in
  * milliseconds, the span that caused it, and counters recorded at the
  * same boundary. The benchmark opens `op` spans around each key or
  * statement and `build` / `execute` children around the calls into the
  * program. Spark's public listeners add the rest:
  *
  *  - `job` spans, parented to the op whose job tag the job carries, with
  *    the job's stage and task counters summed onto them;
  *  - `phase` spans (analysis, optimization, planning) from each query
  *    execution's `QueryPlanningTracker`;
  *  - `stream` spans, one per streaming query run, with its micro-batch
  *    progress summed onto them.
  *
  * Phase and stream spans carry no tag; they are parented afterwards to
  * the innermost benchmark span whose interval holds their start, which
  * is exact because a single client thread runs the ops one at a time.
  */
final class Trace {
  final class Span(val id: Int, val parent: Int, val kind: String,
      val name: String, val t0: Double) {
    @volatile var t1: Double = t0
    val counts: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  }

  private val spans = mutable.ArrayBuffer.empty[Span]

  def now(): Double = System.nanoTime() / 1e6 + Trace.clockOffsetMs

  def open(kind: String, name: String, parent: Int, t0: Double = now()): Int =
    synchronized {
      val s = new Span(spans.size, parent, kind, name, t0)
      spans += s
      s.id
    }

  def close(id: Int, t1: Double = now()): Unit = synchronized { spans(id).t1 = t1 }

  def add(id: Int, k: String, v: Double): Unit = synchronized { spans(id).add(k, v) }

  // ---------------------------------------------------------------- listeners

  private final class StageAcc(val job: Int) {
    var submitted: Double = 0
    val durations = mutable.ArrayBuffer.empty[Double]
  }
  private val jobSpan = mutable.Map.empty[Int, Int] // Spark job id -> span
  private val stageAcc = mutable.Map.empty[Int, StageAcc]
  private val streamSpan = mutable.Map.empty[java.util.UUID, Int]

  private def opOfTags(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).collectFirst {
        case t if t.startsWith(Trace.TagPrefix) => t.stripPrefix(Trace.TagPrefix).toInt
      }.getOrElse(-1)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val id = open("job", s"job-${e.jobId}", opOfTags(e.properties), e.time.toDouble)
      jobSpan(e.jobId) = id
      e.stageIds.foreach(s => stageAcc.getOrElseUpdate(s, new StageAcc(id)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobSpan.get(e.jobId).foreach(id => spans(id).t1 = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        stageAcc.get(e.stageInfo.stageId).foreach { a =>
          a.submitted = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(now())
          spans(a.job).add("stages", 1)
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageAcc.remove(e.stageInfo.stageId).foreach { a =>
          val d = a.durations.sorted
          if (d.nonEmpty) spans(a.job).add("straggler_ms", d.last - d(d.size / 2))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageAcc.get(e.stageId).foreach { a =>
        val s = spans(a.job)
        val info = e.taskInfo
        a.durations += info.duration.toDouble
        s.add("tasks", 1)
        if (a.submitted > 0) s.add("task_wait_ms", math.max(0.0, info.launchTime - a.submitted))
        val m = e.taskMetrics
        if (m != null) {
          s.add("task_ms", m.executorRunTime.toDouble)
          s.add("task_cpu_ms", m.executorCpuTime / 1e6)
          s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          s.add("spill_mem_b", m.memoryBytesSpilled.toDouble)
          s.add("spill_disk_b", m.diskBytesSpilled.toDouble)
          s.add("input_b", m.inputMetrics.bytesRead.toDouble)
          s.add("input_rows", m.inputMetrics.recordsRead.toDouble)
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(funcName: String, qe: QueryExecution, failed: Boolean): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val st = open("statement", funcName, -1, ph.values.map(_.startTimeMs).min.toDouble)
        add(st, "statements", 1)
        if (failed) add(st, "failed", 1)
        // what a write keeps of the plan it writes: the root Sort, the columns
        qe.optimizedPlan match {
          case w: V2WriteCommand =>
            add(st, "write_sort", if (Trace.topSorted(w.query)) 1 else 0)
            add(st, "write_cols", w.query.output.size)
          case _ =>
        }
        ph.foreach { case (name, p) =>
          val id = open("phase", name, st, p.startTimeMs.toDouble)
          close(id, p.endTimeMs.toDouble)
        }
        close(st, ph.values.map(_.endTimeMs).max.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(funcName, qe, failed = false)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(funcName, qe, failed = true)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized {
        val t = java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble
        streamSpan(e.runId) = open("stream", Option(e.name).getOrElse("stream"), -1, t)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        streamSpan.get(p.runId).foreach { id =>
          val s = spans(id)
          val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
          if (!s.counts.contains("batches")) s.add("start_ms", math.max(0.0, t - s.t0))
          s.add("batches", 1)
          s.add("input_rows", p.numInputRows.toDouble)
          p.durationMs.asScala.foreach { case (k, v) => s.add(s"d.$k", v.toDouble) }
          s.counts("state_rows") = p.stateOperators.map(_.numRowsTotal.toDouble).sum
          s.add("state_commit_ms", p.stateOperators.map(_.commitTimeMs.toDouble).sum)
          s.t1 = math.max(s.t1, t + p.durationMs.asScala.getOrElse("triggerExecution", 0L: java.lang.Long).toDouble)
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized {
        streamSpan.get(e.runId).foreach(id => spans(id).t1 = math.max(spans(id).t1, now()))
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: String = synchronized {
    spans.map { s =>
      val c = s.counts.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""t0":${Json.num(s.t0)},"t1":${Json.num(s.t1)},"counts":$c}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

object Trace {
  val TagPrefix = "perfbench-op-"

  /** A global Sort at the root of a plan, under order-keeping nodes. */
  def topSorted(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case p: Project => topSorted(p.child)
    case a: SubqueryAlias => topSorted(a.child)
    case _ => false
  }

  /** Offset that puts System.nanoTime on the listener events' wall clock. */
  val clockOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
}

/** Minimal JSON rendering for the run's result and trace files. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(v: Iterable[String]): String = v.mkString("[", ",", "]")
}
