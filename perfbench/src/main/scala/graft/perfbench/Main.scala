package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, VariantType}

import graft.SparkEntry
import graft.ops._

/** One benchmark run in one JVM with a single client thread.
  *
  * A workload is a list of query keys (`run.py` prepares the inputs and
  * the arguments; `--keys all` takes every key of `SparkEntry.queries`).
  * After the set-up, a first, untimed pass builds every key and hashes its
  * complete result for the output check; it is also each key's warm-up.
  * Timed passes over the keys follow until `--seconds` have passed, and
  * at least `--min-passes` of them. A timed key call is the `queries(key)`
  * build plus a `noop`-format write, which materializes every output
  * column and the root Sort.
  *
  * With `--trace 1`, passes alternate between untraced and traced, so the
  * trace overhead is measured inside the run. The result (timings, check
  * hashes) and the trace are written as JSON files; run.py turns them
  * into metrics.
  */
object Main {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean
  private def cpuMs(): Double = os.getProcessCpuTime / 1e6
  private def gcMs(): Double = gcBeans.map(_.getCollectionTime).sum.toDouble
  private def jitMs(): Double = jit.getTotalCompilationTime.toDouble
  private def compiles(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  private val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> Relational.queries, "joins" -> Joins.queries,
    "aggregates" -> Aggregates.queries, "windows" -> Windows.queries,
    "functions" -> Functions.queries, "streaming" -> Streaming.queries,
    "udaf" -> Udafs.queries, "astro" -> Astro.queries, "llm" -> Llm.queries,
    "graph" -> Graph.queries, "observe" -> Observability.queries,
    "pipeline" -> Pipeline.queries)
  private def moduleOf(key: String): String =
    modules.collectFirst { case (m, q) if q.contains(key) => m }.getOrElse("unknown")

  /** One timed operation: a key execution or a statement. */
  final case class Op(name: String, kind: String, module: String, pass: Int,
      traced: Boolean, buildMs: Double, execMs: Double, cpuMs: Double,
      gcMs: Double, jitMs: Double, compiles: Double, span: Int,
      error: Option[String]) {
    def wallMs: Double = buildMs + execMs
    def json: String = Json.obj(Seq(
      "name" -> Json.str(name), "kind" -> Json.str(kind), "module" -> Json.str(module),
      "pass" -> pass.toString, "traced" -> traced.toString,
      "build_ms" -> Json.num(buildMs), "exec_ms" -> Json.num(execMs),
      "wall_ms" -> Json.num(wallMs), "cpu_ms" -> Json.num(cpuMs),
      "gc_ms" -> Json.num(gcMs), "jit_ms" -> Json.num(jitMs),
      "compiles" -> Json.num(compiles), "span" -> span.toString,
      "error" -> error.map(Json.str).getOrElse("null")))
  }

  final class Run(val spark: SparkSession, val trace: Trace) {
    val ops = mutable.ArrayBuffer.empty[Op]
    var liveHeapMb = 0.0
    var hygieneMs = 0.0
    var checkS = 0.0
    private val heap = ManagementFactory.getMemoryMXBean

    /** Clean-up outside the timed region: drop persisted blocks after
      * every op; with `collect`, also run a full GC and read the live heap
      * (once per pass or block: a full GC costs about 0.3 s). */
    def hygiene(collect: Boolean = false): Unit = {
      val t0 = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      if (collect) {
        // the second collection reclaims what the ContextCleaner released
        // (broadcasts, shuffles) after the first one cleared their refs
        System.gc()
        Thread.sleep(200)
        System.gc()
        liveHeapMb = math.max(liveHeapMb, heap.getHeapMemoryUsage.getUsed / 1048576.0)
      }
      hygieneMs += (System.nanoTime() - t0) / 1e6
    }

    /** Times `build` then `execute` under a job tag naming the op span. */
    def timed[A](name: String, kind: String, module: String, pass: Int, traced: Boolean)(
        build: => A)(execute: A => Unit): Op = {
      val sc = spark.sparkContext
      val opSpan = if (traced) trace.open("op", name, -1) else -1
      val tag = Trace.TagPrefix + opSpan
      sc.addJobTag(tag)
      val (c0, g0, j0, k0) = (cpuMs(), gcMs(), jitMs(), compiles())
      val t0 = System.nanoTime()
      var t1 = t0
      val error = try {
        val b = if (traced) trace.open("build", name, opSpan) else -1
        val a = build
        if (traced) trace.close(b)
        t1 = System.nanoTime()
        val e = if (traced) trace.open("execute", name, opSpan) else -1
        execute(a)
        if (traced) trace.close(e)
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300))
      }
      val t2 = System.nanoTime()
      if (traced) trace.close(opSpan)
      sc.removeJobTag(tag)
      val op = Op(name, kind, module, pass, traced, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
        cpuMs() - c0, gcMs() - g0, jitMs() - j0, compiles() - k0, opSpan, error)
      ops += op
      op
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Warm-up shared by every workload: codegen and the parquet reader,
    * the lazily loaded codec paths, the storage-partitioned-join session
    * and the catalog registration. */
  def warmUp(s: SparkSession, data: String): Unit = {
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    s.range(1 << 20).selectExpr("sum(id)").collect()
    val region = s.read.parquet(s"$data/region.parquet")
    region.groupBy("r_name").count().collect()
    val root = GraftTmp.dir("perfbench_warm")
    for (fmt <- Seq("orc", "csv", "json")) {
      region.write.mode("overwrite").format(fmt).save(s"$root/$fmt")
      s.read.format(fmt).load(s"$root/$fmt").count()
    }
    region.selectExpr("r_name").write.mode("overwrite").text(s"$root/text")
    s.read.format("binaryFile").load(s"$root/text").count()
    Joins.prewarmSpj(s)
    Graftcat.register(s)
  }

  /** Order-insensitive content check of a result: row count, schema, and
    * the sum of a 64-bit hash of each row (map and variant columns, which
    * `xxhash64` refuses, enter as their JSON rendering). */
  private def unhashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType => true
    case a: ArrayType => unhashable(a.elementType)
    case s: StructType => s.fields.exists(f => unhashable(f.dataType))
    case _ => false
  }

  def contentHash(df: DataFrame): (Long, String, String) = {
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = pos.schema.fields.map { f =>
      if (unhashable(f.dataType)) to_json(struct(col(f.name)))
      else col(f.name)
    }
    val r = pos.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"), schema)
  }

  private def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def dirFiles(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) dirFiles(f) else Seq(f))

  /** Files a traced op wrote to the `graftcat` warehouse: new or rewritten
    * files (keys drop and re-create their tables, so a file's path alone
    * does not tell), their bytes, and the commits among them
    * (`_versions/v<n>.manifest`). */
  final class Warehouse(dir: Option[File]) {
    private var seen = Map.empty[String, (Long, Long)]
    private def list(): Map[String, (Long, Long)] =
      dir.toSeq.flatMap(dirFiles).map(f => f.getPath -> (f.length, f.lastModified)).toMap
    def mark(): Unit = seen = list()
    def added(trace: Trace, span: Int): Unit = {
      val now = list()
      val fresh = now.filter { case (p, v) => !seen.get(p).contains(v) }
      trace.add(span, "catalog_files", fresh.size)
      trace.add(span, "catalog_bytes", fresh.values.map(_._1).sum.toDouble)
      trace.add(span, "catalog_commits", fresh.keys.count { p =>
        val f = new File(p)
        f.getParentFile.getName == "_versions" && f.getName.matches("v\\d+\\.manifest")
      })
      seen = now
    }
  }

  val DefaultMinPasses = 2
  // untraced, traced, untraced: the trace overhead compares the traced
  // pass with the untraced pass after it, both warmer than the first
  val TracedMinPasses = 3

  // ------------------------------------------------------------ key workloads

  def runKeys(run: Run, keys: Seq[String], data: String, base: Option[String],
      seconds: Double, minPasses: Int, traced: Boolean, check: Boolean): Seq[(String, String)] = {
    val q = SparkEntry.queries
    val warehouse = new Warehouse(
      run.spark.conf.getOption("spark.sql.catalog.graftcat.warehouse").map(new File(_)))
    // the output check, outside every timed region
    val c0 = System.nanoTime()
    val checks = if (!check) Seq.empty else keys.map { k =>
      val res = try {
        val (n, h, sch) = contentHash(q(k)(run.spark, data))
        Json.obj(Seq("rows" -> n.toString, "hash" -> Json.str(h), "schema" -> Json.str(sch)))
      } catch {
        case e: Throwable =>
          Json.obj(Seq("error" -> Json.str(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))))
      }
      run.hygiene()
      k -> res
    }
    run.hygiene(collect = true)
    run.checkS = elapsedS(c0)
    val t0 = System.nanoTime()
    var pass = 0
    var passS = 0.0
    // whole passes until --seconds, and at least minPasses; a traced run
    // alternates untraced and traced passes
    while (pass < minPasses || elapsedS(t0) + passS * 0.5 < seconds) {
      val p0 = System.nanoTime()
      val tracedPass = traced && pass % 2 == 1
      if (tracedPass) run.trace.attach(run.spark)
      keys.foreach { k =>
        if (tracedPass) warehouse.mark()
        var df: DataFrame = null
        val op = run.timed(k, "key", moduleOf(k), pass, tracedPass) {
          df = q(k)(run.spark, data); df
        } { d =>
          // a key may build on a session of its own; trace its write too
          val own = tracedPass && (d.sparkSession ne run.spark)
          if (own) d.sparkSession.listenerManager.register(run.trace.queryListener)
          try d.write.format("noop").mode("overwrite").save()
          finally if (own) d.sparkSession.listenerManager.unregister(run.trace.queryListener)
        }
        if (tracedPass) {
          warehouse.added(run.trace, op.span)
          if (op.error.isEmpty) {
            // what the timed write must keep, for the plan check in run.py
            run.trace.add(op.span, "expect_sort",
              if (Trace.topSorted(df.queryExecution.optimizedPlan)) 1 else 0)
            run.trace.add(op.span, "expect_cols", df.columns.length)
          }
        }
        run.hygiene()
      }
      run.hygiene(collect = true)
      if (tracedPass) run.trace.detach(run.spark)
      passS = elapsedS(p0)
      pass += 1
    }
    // the floor / slope table: the same keys on the unscaled base tables,
    // twice, as the first call on new tables is a cold one
    base.foreach { b =>
      run.trace.attach(run.spark)
      for (round <- 0 until 2; k <- keys) {
        run.timed(k, "base", moduleOf(k), pass + round, traced = true)(q(k)(run.spark, b)) {
          _.write.format("noop").mode("overwrite").save()
        }
        run.hygiene()
      }
      run.trace.detach(run.spark)
    }
    checks
  }

  // --------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val data = a("data")
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, a("work"))
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    warmUp(spark, data)
    val keys = a("keys") match {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case ks => ks.split(",").toSeq
    }
    // set-up: from JVM start to the first call into a key, cold as a user
    // meets it; the check pass that follows is the keys' own warm-up
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val run = new Run(spark, new Trace)
    val t0 = System.nanoTime()
    val checks = runKeys(run, keys, data, a.get("base"), a("seconds").toDouble,
      a.get("min-passes").map(_.toInt).getOrElse(if (traced) TracedMinPasses else DefaultMinPasses),
      traced, a.get("check").forall(_ == "1"))
    val measureS = elapsedS(t0) - run.checkS
    val result = Json.obj(Seq(
      "workload" -> Json.str(workload), "cores" -> cores.toString,
      "session_s" -> Json.num(sessionS),
      "setup_s" -> Json.num(setupS),
      "measure_s" -> Json.num(measureS),
      "live_heap_mb" -> Json.num(run.liveHeapMb),
      "hygiene_ms" -> Json.num(run.hygieneMs),
      "check_s" -> Json.num(run.checkS),
      "ops" -> run.ops.map(_.json).mkString("[\n", ",\n", "\n]"),
      "checks" -> Json.obj(checks)))
    Files.write(Paths.get(a("out")), result.getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(a("trace-out")), run.trace.toJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(0)
  }
}
