package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.GraftSession
import Det._
import Params._

/** Streaming semantics, batch-surrogate form (SURVEY §2.8).
  *
  * The Verify harness is batch-only, so each semantic ships here as an
  * oracled batch query over `events`; the true Structured-Streaming twins
  * (MemoryStream + withWatermark + append/update modes, late-data drops,
  * dropDuplicatesWithinWatermark) live in StreamingSuite — watermark
  * behavior is not expressible in a batch oracle.
  *
  * 100-TB note: tumbling/sliding/session aggregations shuffle on
  * (window, key) — the streaming state-store partitioning — and carry
  * partial aggregation map-side. Session windows per user key scale with
  * users, not events.
  */
object Streaming {

  /** 8 shuffle partitions: a stream's stateful operators get one state
    * store per shuffle partition at query start, and the fixture's state
    * is tiny, so 8 stores instead of the session's 32 cut per-batch
    * store/commit overhead. At real scale size this to state volume — it
    * is fixed for the checkpoint's lifetime. */
  private val Stores8 = Map("spark.sql.shuffle.partitions" -> "8")

  /** `$root/in` holding one copy of the events fixture per name: the
    * fixture is a single parquet file, the file source wants a directory. */
  private def stageEvents(dir: String, root: String,
      names: Seq[String] = Seq("events.parquet")): String = {
    val src = java.nio.file.Paths.get(s"$root/in")
    java.nio.file.Files.createDirectories(src)
    for (f <- names)
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"), src.resolve(f))
    src.toString
  }

  /** Drain `df` under AvailableNow into an append-mode `format` sink at
    * `$root/out`, checkpointed at `$root/cp`; returns the sink path. */
  private def drainTo(df: DataFrame, root: String, format: String = "parquet"): String = {
    df.writeStream.format(format)
      .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    s"$root/out"
  }

  /** True Structured-Streaming pipeline end-to-end INSIDE the scored
    * surface (the twins in graft.streaming cover semantics; this one
    * covers the sink): file source → watermarked tumbling aggregation →
    * parquet file sink (exactly-once via the sink's commit log) under
    * Trigger.AvailableNow, then a batch read of the committed output.
    * The fixture fits one micro-batch and the trailing no-data batch
    * advances the watermark past every window, so append mode emits all
    * of them and the result equals the batch tumbling aggregation — the
    * oracle is that batch query. At scale this is the continuous-ingest
    * shape: state shuffles on (window, event_type); output files commit
    * atomically per epoch. */
  private def streamFileSink(s: SparkSession, dir: String): DataFrame = {
    val root = GraftTmp.fresh("stream")
    val src = stageEvents(dir, root)
    // (window × event_type) state: 8 stores, on a sibling session
    val ss = GraftSession.sibling(s, Stores8)
    val sch = T(ss, dir, "events").schema // also sets nanosAsLong
    val out = drainTo(ss.readStream.schema(sch).parquet(src)
      .withColumn("ts_us", timestamp_micros(T.usCol(sch("ts").dataType)))
      .withWatermark("ts_us", "1 hour")
      .groupBy(window(col("ts_us"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumMoneyD(col("value")).as("sum_value"))
      .select(to_date(col("w.start")).as("win_start"), col("event_type"),
        col("n"), col("sum_value")), root)
    s.read.parquet(out).orderBy("win_start", "event_type")
  }

  /** foreachBatch idempotent upsert — the production CDC-sink pattern
    * Spark ships no built-in sink for: every micro-batch MERGEs "latest
    * event per user" into a keyed target. The source re-delivers the
    * fixture twice across two forced micro-batches (maxFilesPerTrigger
    * = 1), so the second batch performs a real merge against existing
    * state AND proves the upsert idempotent under replay — the final
    * table equals the plain batch latest-per-user query, which is the
    * oracle. The local commit is write-temp-then-swap; on a cluster the
    * same foreachBatch body issues MERGE INTO a transactional table —
    * the merge joins the batch's latest rows (bounded by keys-per-batch)
    * against the keyed target, scaling with keys, not event volume. */
  private def streamForeachBatchUpsert(s: SparkSession, dir: String): DataFrame = {
    val root = GraftTmp.fresh("upsert")
    val src = stageEvents(dir, root, Seq("e1.parquet", "e2.parquet"))
    // per-batch volumes are small (keys-per-batch rows): 8 shuffle
    // partitions cut per-batch task overhead, on a sibling session
    val ss = GraftSession.sibling(s, Stores8)
    val sch = T(ss, dir, "events").schema // also sets nanosAsLong
    val tgt = s"$root/target"
    def latest(df: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        .orderBy(col("last_us").desc, col("last_event").desc)
      df.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
    }
    ss.readStream.schema(sch).option("maxFilesPerTrigger", "1")
      .parquet(src)
      .select(col("user_id"), col("event_id").as("last_event"),
        col("event_type").as("last_type"), col("value").as("last_value"),
        T.usCol(sch("ts").dataType).as("last_us"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$root/cp")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val sp = batch.sparkSession
        val batchLatest = latest(batch)
        val merged =
          if (java.nio.file.Files.exists(java.nio.file.Paths.get(tgt)))
            latest(sp.read.parquet(tgt).unionByName(batchLatest))
          else batchLatest
        merged.write.mode("overwrite").parquet(s"$root/target_tmp")
        rm(new java.io.File(tgt))
        new java.io.File(s"$root/target_tmp").renameTo(new java.io.File(tgt))
        ()
      }
      .start().awaitTermination()
    s.read.parquet(tgt).orderBy("user_id")
  }

  /** Custom keyed state (flatMapGroupsWithState) INSIDE the scored
    * surface: purchase-closes-session semantics the built-in
    * session_window cannot express (see
    * graft.streaming.Streams.purchaseSessions). Runs as a TRUE streaming
    * query — file source → watermark → flatMapGroupsWithState(Append,
    * EventTimeTimeout) → parquet sink under Trigger.AvailableNow. All
    * fixture rows land in one data micro-batch (watermark 0 → nothing is
    * late, no timeouts yet); the trailing no-data batch then carries the
    * final watermark max(ts) - 1h and fires timeouts STRICTLY below it.
    * The oracle is the batch gaps-and-islands spelling of exactly that
    * contract: every non-final session (closed in-batch by gap or
    * purchase) emits, a user's final session emits only if purchase-closed
    * or (last_us + gap) // 1000 ms < watermark.
    *
    * Money flows as exact integer cents through the typed fold (decimal
    * cast at ingest, one decimal division + double cast at the end), so
    * the sum is order-insensitive and byte-exact vs DuckDB's
    * SUM(DECIMAL). */
  private def streamCustomState(s: SparkSession, dir: String): DataFrame =
    runPurchaseSessionStream(s, dir, "cstate", Map.empty,
      graft.streaming.Streams.purchaseSessions(_, SessionGapUs))

  /** The SAME purchase-session pipeline on Spark 4's transformWithState
    * (StatefulProcessor + named ValueState + explicit event-time timers
    * — graft.streaming.Streams.purchaseSessionsTws), run under the
    * RocksDB state store provider the new API mandates. Same oracle as
    * stream_custom_state: the two APIs share one fold, so the append-mode
    * emission contract is identical. */
  private def streamTwsState(s: SparkSession, dir: String): DataFrame =
    runPurchaseSessionStream(s, dir, "twsstate",
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      graft.streaming.Streams.purchaseSessionsTws(_, SessionGapUs))

  /** Shared streaming harness for the two custom-state APIs: file source
    * → watermark → stateful operator → parquet sink under AvailableNow,
    * then a batch read of the committed output. The stream runs on a
    * sibling session carrying 8 state stores (per-user state is 4 longs)
    * plus `confs`. */
  private def runPurchaseSessionStream(s: SparkSession, dir: String, tagPrefix: String,
      confs: Map[String, String],
      op: org.apache.spark.sql.Dataset[graft.streaming.Streams.PEvent] =>
        org.apache.spark.sql.Dataset[graft.streaming.Streams.PSession]): DataFrame = {
    val ss = GraftSession.sibling(s, Stores8 ++ confs)
    import ss.implicits._
    val root = GraftTmp.fresh(tagPrefix)
    val src = stageEvents(dir, root)
    val sch = T(ss, dir, "events").schema // also sets nanosAsLong
    val in = ss.readStream.schema(sch).parquet(src)
      .select(col("user_id"), col("event_id"), col("event_type"),
        (Det.money(col("value")) * 100).cast("long").as("cents"),
        timestamp_micros(T.usCol(sch("ts").dataType)).as("ts_us"),
        T.usCol(sch("ts").dataType).as("us"))
      .withWatermark("ts_us", "1 hour")
      .as[graft.streaming.Streams.PEvent]
    s.read.parquet(drainTo(op(in).toDF(), root))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"),
        (col("sum_cents").cast("decimal(30,0)") / 100).cast("double").as("sum_value"),
        col("reason"))
      .orderBy("user_id", "start_us")
  }

  private def tumbling(s: SparkSession, dir: String): DataFrame =
    T.eventsUs(s, dir)
      .groupBy(window(col("ts_us"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sumMoneyD(col("value")).as("sum_value"))
      .select(to_date(col("w.start")).as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  private def sliding(s: SparkSession, dir: String): DataFrame =
    T.eventsUs(s, dir)
      .groupBy(window(col("ts_us"), "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n"), sumMoneyD(col("value")).as("sum_value"))
      .select(to_date(col("w.start")).as("win_start"), col("n"), col("sum_value"))
      .orderBy("win_start")

  /** session_window: [start, end) with end = last_ts + gap, merging events
    * whose gap is strictly < 30 min (an event at exactly prev+gap starts a
    * new session). The oracle mirrors that boundary with gap >= in its
    * gaps-and-islands flag. */
  private def session(s: SparkSession, dir: String): DataFrame =
    T.eventsUs(s, dir)
      .groupBy(session_window(col("ts_us"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sumMoneyD(col("value")).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  /** Exactly-once surrogate: re-deliver every event (union with itself),
    * dedup on the event key. Duplicate rows are identical, so the
    * arbitrary survivor is still deterministic. */
  private def dedup(s: SparkSession, dir: String): DataFrame = {
    val e = T.eventsUs(s, dir)
      .select("event_id", "user_id", "event_type", "value", "us")
    e.unionByName(e)
      .dropDuplicates("event_id")
      .orderBy("event_id")
  }

  /** Event-funnel analytics: per-user first-touch times per stage, then a
    * strict-ordering conversion classification — the sessionized-events
    * use case the streaming surrogates feed. Null-propagating integer-µs
    * comparisons are identical in both engines. */
  private def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val firstOf = (t: String) => min(when(col("event_type") === t, col("us")))
    T.eventsUs(s, dir)
      .groupBy("user_id")
      .agg(firstOf("signup").as("first_signup"),
        firstOf("view").as("first_view"),
        firstOf("purchase").as("first_purchase"))
      .select(
        when(col("first_signup").isNotNull &&
            col("first_view") > col("first_signup") &&
            col("first_purchase") > col("first_view"), "converted")
          .when(col("first_signup").isNotNull &&
            col("first_view") > col("first_signup"), "viewed")
          .when(col("first_signup").isNotNull, "signed_up")
          .otherwise("no_signup").as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n_users"))
      .orderBy("stage")
  }

  /** Missing-value imputation by linear interpolation — the time-series
    * gap-fill every sensor/metrics pipeline needs: each 'click' gets a
    * value interpolated between the surrounding 'view' knots of the same
    * user (last-known-before and first-known-after via IGNORE NULLS
    * window frames). One shuffle on user_id; both directional scans
    * reuse the same sort. The interpolation arithmetic is a fixed IEEE
    * chain on raw doubles and exact integer µs, so the oracle matches
    * byte-for-byte. */
  private def eventsInterpolate(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val back = w.rowsBetween(Long.MinValue, -1)
    val fwd = w.rowsBetween(1, Long.MaxValue)
    val knotV = when(col("event_type") === "view", col("value"))
    val knotT = when(col("event_type") === "view", col("us"))
    T.eventsUs(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"), col("us"))
      .withColumn("pv", last(knotV, ignoreNulls = true).over(back))
      .withColumn("pt", last(knotT, ignoreNulls = true).over(back))
      .withColumn("nv", first(knotV, ignoreNulls = true).over(fwd))
      .withColumn("nt", first(knotT, ignoreNulls = true).over(fwd))
      .where(col("event_type") === "click" && col("pt").isNotNull && col("nt").isNotNull)
      .select(col("event_id"), col("user_id"),
        dround(col("pv") + (col("nv") - col("pv")) *
          (col("us") - col("pt")).cast("double") /
          (col("nt") - col("pt")).cast("double"), 4).as("interp"))
      .orderBy("event_id")
  }

  /** Event-transition matrix (first-order Markov counts): per user, each
    * event's successor in time order, counted per (from, to) pair — the
    * behavioral-analytics shape behind funnels and next-action models.
    * One shuffle on user_id for the LEAD window; the global pair count
    * is a tiny two-phase aggregate (|event types|² groups). */
  private def eventsTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    T.eventsUs(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** True stream-stream interval join end-to-end in the scored surface
    * (the last major Structured-Streaming shape that was test-only):
    * purchases and errors read as two watermarked streams from the same
    * file source, inner-joined per user on "error within the 24 h before
    * the purchase" via graft.streaming.Streams.intervalJoin, committed to
    * a parquet sink under Trigger.AvailableNow, then batch-read. The
    * time-range condition is what BOUNDS both sides' join state (each
    * side is held only until the watermark passes the interval), so state
    * scales with in-flight time span × arrival rate, never stream
    * length. Inner-join rows emit as soon as both sides arrive, so with
    * the fixture in one micro-batch the committed result equals the
    * batch interval join — that batch query is the oracle. */
  private def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val root = GraftTmp.fresh("ssjoin")
    val src = stageEvents(dir, root)
    // join state is keyed on user_id: 8 state stores. An INNER
    // stream-stream join emits every row on arrival; the trailing
    // no-data micro-batch exists only to advance the watermark for
    // append-mode emission and state EVICTION — it commits zero output
    // rows here. Skipping it (documented Spark conf, scoped to this
    // sibling session) removes a full planning+state-commit batch per
    // drain; the committed result is identical (oracle-pinned). Outer
    // joins / watermarked aggregations must NOT do this — their final
    // windows emit in exactly that batch (streamFileSink keeps it).
    val ss = GraftSession.sibling(s,
      Stores8 + ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))
    val sch = T(ss, dir, "events").schema // also sets nanosAsLong on ss
    def side(tpe: String, idAs: String, tsAs: String) =
      ss.readStream.schema(sch).parquet(src)
        .where(col("event_type") === tpe)
        .select(col("user_id"), col("event_id").as(idAs),
          timestamp_micros(T.usCol(sch("ts").dataType)).as(tsAs))
    val joined = graft.streaming.Streams.intervalJoin(
        side("purchase", "purchase_id", "p_ts"),
        side("error", "error_id", "e_ts"),
        "user_id", "p_ts", "e_ts", "1 hour", "24 HOURS")
      .select(col("l.user_id").as("user_id"), col("purchase_id"),
        col("error_id"), unix_micros(col("p_ts")).as("purchase_us"),
        unix_micros(col("e_ts")).as("error_us"))
    s.read.parquet(drainTo(joined, root))
      .orderBy("user_id", "purchase_id", "error_id")
  }

  /** Custom STREAMING DSv2 source (graft.sources.LedgerStreamSource) —
    * the Kafka-shaped connector contract, demonstrable without a
    * broker: offset-tracked micro-batches with admission control
    * (batchSize = the maxOffsetsPerTrigger analog, so AvailableNow
    * drains the 10 000-tick backlog in 4 bounded batches — offset-log
    * entries counted in StreamingSuite), per-batch range splits like
    * topic partitions, positions checkpointed/replayed via the offset
    * log. The sink is the exactly-once parquet file sink; the scored
    * result aggregates the committed output, and the oracle re-derives
    * the deterministic tick ledger from range(n). */
  private def streamCustomSource(s: SparkSession, dir: String): DataFrame = {
    val root = GraftTmp.fresh("stream_src")
    val out = drainTo(s.readStream.format("graft.sources.LedgerStreamSource")
      .option("rows", "10000").option("batchSize", "2500")
      .option("partitions", "4")
      .load(), root)
    s.read.parquet(out)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ticks"), sumMoneyD(col("amount")).as("total"))
      .orderBy("user_id")
  }

  /** Custom STREAMING SINK (graft.sources.AvroDirSource, STREAMING_WRITE)
    * — completes the connector matrix (batch read/write + stream
    * read/write): the tick stream drains through the Avro table's
    * StreamingWrite, whose task files are named by (epoch, partition)
    * ONLY, so a replayed epoch overwrites its own files instead of
    * duplicating them — filename-level exactly-once, the property every
    * file-based streaming sink needs under retries. The scored result
    * batch-reads the sink's container files back through the same
    * connector; oracle re-derives the ledger from range(n). */
  private def streamCustomSink(s: SparkSession, dir: String): DataFrame = {
    val root = GraftTmp.fresh("stream_sink")
    val out = drainTo(s.readStream.format("graft.sources.LedgerStreamSource")
      .option("rows", "10000").option("batchSize", "2500")
      .option("partitions", "4")
      .load(), root, "graft.sources.AvroDirSource")
    s.read.format("graft.sources.AvroDirSource").option("path", out)
      .load()
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ticks"),
        min(col("tick_id")).as("first_tick"), max(col("tick_id")).as("last_tick"),
        sumMoneyD(col("amount")).as("total"))
      .orderBy("user_id")
  }

  /** STREAMING READ OF A LAKEHOUSE TABLE — the "stream a Delta/Iceberg
    * table" shape: a versioned GraftCatalog table's stream OFFSET is
    * its VERSION number, and each micro-batch reads exactly the data
    * files the manifests in (start, end] ADDED
    * (graft.sources.AvroVersionStream; offsets durable in the query
    * checkpoint, so a restart resumes from the last committed version).
    * The scored pipeline CTAS-es one slice of orders (v1), appends the
    * rest (v2), then drains `readStream.table(...)` through the parquet
    * file sink under AvailableNow and aggregates the committed output —
    * the oracle re-derives the same totals from orders directly. At
    * 100 TB planning a batch is O(manifest diff), never a directory
    * listing. */
  private def streamTableSource(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "orders_feed")
    T(s, dir, "orders").createOrReplaceTempView("graft_feed_src")
    s.sql("""CREATE TABLE graftcat.lake.orders_feed AS
            |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            |FROM graft_feed_src WHERE o_orderkey % 3 = 0""".stripMargin)
    s.sql("""INSERT INTO graftcat.lake.orders_feed
            |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            |FROM graft_feed_src WHERE o_orderkey % 3 <> 0""".stripMargin)
    val out = drainTo(s.readStream.table("graftcat.lake.orders_feed"),
      GraftTmp.fresh("stream_tbl"))
    s.read.parquet(out)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("sum_key"),
        sumMoneyD(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Rate-limited lakehouse-table streaming (Delta's maxFilesPerTrigger,
    * round 14): the versioned table is built in FIVE commits, and the
    * stream drains it under `maxFilesPerTrigger=2` — each micro-batch
    * admits whole VERSIONS until the next would exceed two added files
    * (a batch never splits a commit, so exactly-once is untouched;
    * always ≥ 1 version admitted so one oversized commit can't stall
    * the stream). AvailableNow snapshots the backlog end at start and
    * drains it in MULTIPLE bounded batches (the builder asserts > 2
    * offset-log entries — the rate limit demonstrably engaged). At
    * 100 TB this is what keeps a restarted backfill from reading a
    * million files in one trigger. Output aggregates the drained rows;
    * the oracle re-derives them from customer directly. */
  /** STREAMING CHANGE-DATA FEED (round-15): `graftcat.lake.t.changes`
    * — the changelog table (Iceberg's `db.t.changes`, Delta CDF) whose
    * schema is the base columns + `_change_type` and whose micro-batch
    * offsets are table VERSIONS. Append commits stream their rows as
    * `insert`; a merge-on-read DELETE streams exactly the rows at the
    * deletion-vector's NEW positions as `delete` (O(matched), per-file
    * parallel — the reason DVs make streaming CDC affordable);
    * compaction (kind=rewrite, dataChange=false) streams NOTHING. The
    * scored flow: two append commits, a dv DELETE, then AvailableNow
    * drains the feed into a parquet sink and the result reads it back.
    * Oracle = all rows as inserts UNION the deleted rows as deletes.
    * At 100 TB this is the incremental-ETL consumer interface: each
    * trigger plans O(changed files) splits from the manifest diff —
    * no table scan, no state store. */
  private def streamTableCdf(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "cust_cdfs")
    T(s, dir, "customer").createOrReplaceTempView("graft_cdfs_src")
    s.sql("""CREATE TABLE graftcat.lake.cust_cdfs AS
            |SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cdfs_src
            |WHERE c_custkey % 2 = 0""".stripMargin)
    s.sql("""INSERT INTO graftcat.lake.cust_cdfs
            |SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cdfs_src
            |WHERE c_custkey % 2 = 1""".stripMargin)
    s.sql("CALL graftcat.system.set_delete_mode('lake.cust_cdfs', 'merge-on-read')")
    s.sql("DELETE FROM graftcat.lake.cust_cdfs WHERE c_nationkey = 7")
    // merge-on-read UPDATE (kind=update): the commit's dv deltas and
    // insert files stream as update_preimage / update_postimage pairs
    // (round-16: the four Delta-CDF change types, not delete+insert)
    s.sql("""UPDATE graftcat.lake.cust_cdfs
            |SET c_acctbal = c_acctbal + 500.0
            |WHERE c_nationkey = 3""".stripMargin)
    val out = drainTo(s.readStream.table("graftcat.lake.cust_cdfs.changes"),
      GraftTmp.fresh("stream_cdf"))
    s.read.parquet(out)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        col("_change_type").as("change_type"))
      .orderBy("change_type", "c_custkey")
  }

  /** TABLE REPLICATION over the change feed (round 16 — the
    * CDF-consumer loop every lakehouse ships: Delta's
    * `readChangeFeed` → MERGE): a stream over `src.changes` folds each
    * micro-batch to ONE NET OP PER KEY — order inside a multi-version
    * batch comes from the new `_commit_version` column (Delta CDF's),
    * latest version wins, insert-beats-delete within a version (a MOR
    * update's post-image outranks its pre-image) — and applies it to
    * the target with `apply_cdc` (one equality-delete upsert commit
    * per batch, zero target reads). Replays are safe twice over:
    * offsets live in the checkpoint (a drained restart does nothing —
    * required in-flow), and re-applying a batch's net ops is
    * state-idempotent. The scored flow replicates a table through an
    * append + MOR update + delete history and requires dst ≡ src
    * row-for-row before emitting per-nation aggregates of BOTH sides.
    * At 100 TB this is the incremental-ETL consumer: each trigger
    * moves O(changed rows), never O(table). */
  private def streamCdcReplicate(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "cust_repl_src", "cust_repl_dst")
    T(s, dir, "customer").createOrReplaceTempView("graft_repl_src")
    s.sql("""CREATE TABLE graftcat.lake.cust_repl_src AS
            |SELECT c_custkey, c_nationkey, c_acctbal FROM graft_repl_src
            |WHERE c_custkey % 2 = 0""".stripMargin)
    s.sql("CALL graftcat.system.set_delete_mode('lake.cust_repl_src', 'merge-on-read')")
    s.sql("""INSERT INTO graftcat.lake.cust_repl_src
            |SELECT c_custkey, c_nationkey, c_acctbal FROM graft_repl_src
            |WHERE c_custkey % 2 = 1""".stripMargin)
    s.sql("""UPDATE graftcat.lake.cust_repl_src
            |SET c_acctbal = c_acctbal + 500.0 WHERE c_nationkey = 3""".stripMargin)
    s.sql("DELETE FROM graftcat.lake.cust_repl_src WHERE c_nationkey = 7")
    s.sql("""CREATE TABLE graftcat.lake.cust_repl_dst
            |(c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE)""".stripMargin)
    s.sql("CALL graftcat.system.set_delete_mode('lake.cust_repl_dst', 'merge-on-read-equality')")
    val root = GraftTmp.fresh("stream_repl")
    def drain(): Unit = {
      val q = s.readStream.table("graftcat.lake.cust_repl_src.changes")
        .writeStream
        .option("checkpointLocation", s"$root/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val bs = b.sparkSession // the micro-batch session owns the view
          val view = s"graft_repl_batch_${root.takeRight(12)}"
          // settle the batch ONCE: apply_cdc takes three passes over its
          // source (key collect, upsert write, validation) and each
          // would otherwise re-run the whole CDF scan + window
          val mat = b.localCheckpoint()
          mat.createOrReplaceTempView(view)
          val net =
            s"""SELECT c_custkey, c_nationkey, c_acctbal,
               |  CASE WHEN _change_type IN (''insert'', ''update_postimage'')
               |       THEN ''upsert'' ELSE ''delete'' END AS _op
               |FROM (
               |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
               |    ORDER BY _commit_version DESC,
               |      CASE WHEN _change_type IN (''insert'', ''update_postimage'')
               |           THEN 1 ELSE 0 END DESC) AS rn
               |  FROM $view) WHERE rn = 1""".stripMargin
          bs.sql("CALL graftcat.system.apply_cdc('lake.cust_repl_dst', " +
            s"'c_custkey', '$net')")
          mat.unpersist()
          ()
        }
        .start()
      q.awaitTermination()
    }
    drain()
    // replay safety half 1: a drained restart finds no new offsets and
    // must not commit anything to the target
    val cat = Graftcat.instance(s)
    val dst = Graftcat.ident("cust_repl_dst")
    val vDst = cat.currentVersion(dst)
    drain()
    val vDst2 = cat.currentVersion(dst)
    require(vDst2 == vDst,
      s"drained restart committed to the target: v$vDst -> v$vDst2")
    // the replica must BE the source, row for row
    val srcNow = s.table("graftcat.lake.cust_repl_src")
    val dstNow = s.table("graftcat.lake.cust_repl_dst")
    require(srcNow.exceptAll(dstNow).isEmpty && dstNow.exceptAll(srcNow).isEmpty,
      "replica diverged from source")
    s.sql("""SELECT 'dst' AS side, CAST(c_nationkey AS BIGINT) AS k,
            | COUNT(*) AS n,
            | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM graftcat.lake.cust_repl_dst GROUP BY c_nationkey
            |UNION ALL
            |SELECT 'src', CAST(c_nationkey AS BIGINT), COUNT(*),
            | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
            |FROM graftcat.lake.cust_repl_src GROUP BY c_nationkey
            |ORDER BY side, k""".stripMargin)
  }

  /** TABLE-TO-TABLE STREAMING PIPELINE (round 16 — the full streaming
    * lakehouse loop: `readStream.table(src)` → transform →
    * `writeStream.toTable(dst)`, both ends VERSIONED catalog tables):
    * the source's offsets are its table versions (checkpointed —
    * exactly-once restart), each micro-batch plans O(appended files)
    * from the manifest diff, and the sink lands each epoch as one
    * auto-rebased append version whose files are named by
    * (epoch, partition) — an epoch REPLAY overwrites its own files and
    * commitAppend's same-name rule replaces their entries, so crash
    * recovery is idempotent at BOTH ends. The scored flow streams a
    * filtered projection across five append versions, restarts the
    * drained stream and requires ZERO new sink versions, and emits
    * matching aggregates of both tables — hash-exact. At 100 TB this
    * is the bronze→silver hop: each trigger moves O(new data), the
    * sink stays time-travelable, and downstream consumers stream ITS
    * versions in turn. */
  private def streamTableSink(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "orders_tsink", "orders_tsink_dst")
    T(s, dir, "orders").createOrReplaceTempView("graft_tsink_src")
    s.sql("""CREATE TABLE graftcat.lake.orders_tsink
            |(o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)""".stripMargin)
    for (i <- 0 until 5)
      s.sql(s"""INSERT INTO graftcat.lake.orders_tsink
               |SELECT o_orderkey, o_orderpriority, o_totalprice
               |FROM graft_tsink_src WHERE o_orderkey % 5 = $i""".stripMargin)
    s.sql("""CREATE TABLE graftcat.lake.orders_tsink_dst
            |(o_orderkey BIGINT, o_orderpriority STRING, price2 DOUBLE)""".stripMargin)
    val root = GraftTmp.fresh("stream_tsink")
    def drain(): Unit = {
      val q = s.readStream.table("graftcat.lake.orders_tsink")
        .where(col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"), col("o_orderpriority"),
          (col("o_totalprice") * 2.0).as("price2"))
        .writeStream
        .option("checkpointLocation", s"$root/cp")
        .trigger(Trigger.AvailableNow())
        .toTable("graftcat.lake.orders_tsink_dst")
      q.awaitTermination()
    }
    drain()
    val cat = Graftcat.instance(s)
    val dst = Graftcat.ident("orders_tsink_dst")
    val vDst = cat.currentVersion(dst)
    drain() // exactly-once: a drained restart commits nothing
    val vDst2 = cat.currentVersion(dst)
    require(vDst2 == vDst,
      s"drained restart committed to the sink table: v$vDst -> v$vDst2")
    s.sql("""SELECT 'dst' AS side, o_orderpriority AS k, COUNT(*) AS n,
            | CAST(SUM(CAST(price2 AS DECIMAL(18,2))) AS DOUBLE) AS total
            |FROM graftcat.lake.orders_tsink_dst GROUP BY o_orderpriority
            |UNION ALL
            |SELECT 'src', o_orderpriority, COUNT(*),
            | CAST(SUM(CAST(o_totalprice * 2.0 AS DECIMAL(18,2))) AS DOUBLE)
            |FROM graftcat.lake.orders_tsink WHERE o_totalprice > 150000.0
            |GROUP BY o_orderpriority
            |ORDER BY side, k""".stripMargin)
  }

  /** STREAMING WRITE-AUDIT-PUBLISH (round-17 verdict #3 — the
    * production pattern composing `stream_table_sink` with
    * `catalog_branch_wap`): a streaming sink stages its epochs on a
    * BRANCH of the target table (`spark.graft.branch` resolves every
    * load under the conf at the branch), main stays byte-identical
    * while batches land, an audit reads the branch by name, and a
    * blessed audit publishes with one O(1) `fast_forward` ref move —
    * a failed audit just abandons the branch (zero main versions,
    * suite-asserted with the branch dropped). Exactly-once survives
    * the branch hop: a drained restart against the SAME checkpoint
    * commits nothing to the branch (required in-flow). At 100 TB this
    * is how a continuous ingest pipeline gets atomic daily publishes
    * without pausing the stream's writer. */
  private def streamBranchWap(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "orders_swap_in", "orders_swap")
    T(s, dir, "orders").createOrReplaceTempView("graft_swap_src")
    s.sql("""CREATE TABLE graftcat.lake.orders_swap_in
            |(o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)""".stripMargin)
    for (i <- 0 until 3)
      s.sql(s"""INSERT INTO graftcat.lake.orders_swap_in
               |SELECT o_orderkey, o_orderpriority, o_totalprice
               |FROM graft_swap_src WHERE o_orderkey % 3 = $i""".stripMargin)
    s.sql("""CREATE TABLE graftcat.lake.orders_swap
            |(o_orderkey BIGINT, o_orderpriority STRING, price2 DOUBLE)""".stripMargin)
    s.sql("CALL graftcat.system.create_branch('lake.orders_swap', 'staging')")
    val root = GraftTmp.fresh("stream_swap")
    def summary(): (Long, Double) = {
      val r = s.sql("""SELECT CAST(COUNT(*) AS BIGINT),
                      |CAST(COALESCE(SUM(CAST(price2 AS DECIMAL(18,2))), 0.0)
                      |  AS DOUBLE)
                      |FROM graftcat.lake.orders_swap""".stripMargin).collect().head
      (r.getLong(0), r.getDouble(1))
    }
    def drainToBranch(): Unit = {
      s.conf.set("spark.graft.branch", "staging")
      try {
        s.readStream.table("graftcat.lake.orders_swap_in")
          .where(col("o_totalprice") > 100000.0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            (col("o_totalprice") * 2.0).as("price2"))
          .writeStream
          .option("checkpointLocation", s"$root/cp")
          .trigger(Trigger.AvailableNow())
          .toTable("graftcat.lake.orders_swap")
          .awaitTermination()
      } finally s.conf.unset("spark.graft.branch")
    }
    drainToBranch()
    val mainBefore = summary() // MAIN: empty while the branch staged
    // the audit reads the BRANCH by conf (the staged state)
    s.conf.set("spark.graft.branch", "staging")
    val staged = try summary() finally s.conf.unset("spark.graft.branch")
    // exactly-once through the branch hop: a drained restart commits
    // nothing (the branch head must not move)
    val dirp = s.conf.get("spark.sql.catalog.graftcat.warehouse") +
      "/lake/orders_swap"
    val bh1 = graft.sources.AvroSnapshots.headVersion(dirp, Some("staging"))
    drainToBranch()
    val bh2 = graft.sources.AvroSnapshots.headVersion(dirp, Some("staging"))
    require(bh1 == bh2,
      s"drained restart moved the staging branch: $bh1 -> $bh2")
    s.sql("CALL graftcat.system.fast_forward('lake.orders_swap', 'staging')")
    val mainAfter = summary() // publish = one ref move
    import s.implicits._
    Seq(("1_main_before_publish", mainBefore._1, mainBefore._2),
      ("2_branch_staged", staged._1, staged._2),
      ("3_main_after_publish", mainAfter._1, mainAfter._2))
      .toDF("phase", "n_rows", "total").orderBy("phase")
  }

  /** CONTINUOUS incremental MV maintenance (round 17 — the streaming
    * composition of `catalog_incremental_mv`, Delta's streaming-MERGE
    * MV pattern): a stream reads the base table's CHANGE FEED and
    * foreachBatch MERGE-folds each micro-batch's row-level changes
    * (signed by change type) into an aggregate MV table — refresh cost
    * is O(changed data) per trigger forever, never O(table). The
    * at-least-once seam foreachBatch leaves open (a crash between the
    * MERGE and the checkpoint advance replays the batch) is closed by
    * IDEMPOTENT apply: the batch id rides the MERGE's own commit as a
    * thread-scoped commit property, and a replayed id is a provable
    * no-op; a drained AvailableNow restart must commit NOTHING
    * (required in-flow). DML kinds folded: append, MOR UPDATE
    * (pre/post images), dv DELETE. Output = MV ‖ full recompute —
    * both must hash-match the DuckDB-derived final state. */
  private def streamIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "orders_smv", "smv_prio")
    T(s, dir, "orders").createOrReplaceTempView("graft_smv_src")
    s.sql("""CREATE TABLE graftcat.lake.orders_smv
            |(o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)""".stripMargin)
    s.sql("""INSERT INTO graftcat.lake.orders_smv
            |SELECT o_orderkey, o_orderpriority, o_totalprice
            |FROM graft_smv_src WHERE o_orderkey % 4 = 0""".stripMargin)
    s.sql("CALL graftcat.system.set_delete_mode('lake.orders_smv', 'merge-on-read')")
    s.sql("""CREATE TABLE graftcat.lake.smv_prio
            |(priority STRING, n BIGINT, total DECIMAL(18,2))""".stripMargin)
    val cat = Graftcat.instance(s)
    val mvIdent = Graftcat.ident("smv_prio")
    val BKey = "graft.smv.batch"
    def fold(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit = {
      val sess = batch.sparkSession
      // idempotent apply: an already-stamped batch id replays as a
      // provable no-op (the crash-between-MERGE-and-checkpoint seam)
      val applied = cat.lastCommitProperty(mvIdent, BKey)
        .flatMap(_.toLongOption).getOrElse(-1L)
      if (batchId <= applied) return
      batch.createOrReplaceTempView("graft_smv_batch")
      graft.sources.AvroSnapshots.withCommitProps(
        Map(BKey -> batchId.toString)) {
        sess.sql("""MERGE INTO graftcat.lake.smv_prio m
                   |USING (
                   |  SELECT o_orderpriority AS priority,
                   |    SUM(CASE WHEN _change_type IN ('insert', 'update_postimage')
                   |        THEN 1L ELSE -1L END) AS dn,
                   |    SUM(CASE WHEN _change_type IN ('insert', 'update_postimage')
                   |        THEN CAST(o_totalprice AS DECIMAL(18,2))
                   |        ELSE -CAST(o_totalprice AS DECIMAL(18,2)) END) AS dt
                   |  FROM graft_smv_batch GROUP BY o_orderpriority) d
                   |ON m.priority = d.priority
                   |WHEN MATCHED AND m.n + d.dn = 0L THEN DELETE
                   |WHEN MATCHED THEN UPDATE SET
                   |  n = m.n + d.dn, total = m.total + d.dt
                   |WHEN NOT MATCHED THEN INSERT (priority, n, total)
                   |  VALUES (d.priority, d.dn, d.dt)""".stripMargin)
        ()
      }
    }
    val root = GraftTmp.fresh("stream_smv")
    def drain(): Unit =
      s.readStream.table("graftcat.lake.orders_smv.changes")
        .writeStream.option("checkpointLocation", s"$root/cp")
        .trigger(Trigger.AvailableNow())
        .foreachBatch(fold _)
        .start().awaitTermination()
    drain() // the seed commit folds in
    // live DML between triggers: append a second slice, MOR-update a
    // slice (pre/post images must NET to the price delta), dv-delete
    // one group entirely — ONE more drain folds the mixed window
    s.sql("""INSERT INTO graftcat.lake.orders_smv
            |SELECT o_orderkey, o_orderpriority, o_totalprice
            |FROM graft_smv_src WHERE o_orderkey % 4 = 1""".stripMargin)
    s.sql("""UPDATE graftcat.lake.orders_smv
            |SET o_totalprice = o_totalprice + 100.0
            |WHERE o_orderkey % 20 = 0""".stripMargin)
    s.sql("DELETE FROM graftcat.lake.orders_smv WHERE o_orderpriority = '5-LOW'")
    drain()
    val mvV = cat.currentVersion(mvIdent)
    drain() // drained restart: ZERO new MV commits (exactly-once)
    require(cat.currentVersion(mvIdent) == mvV,
      s"drained restart committed to the MV: v$mvV -> " +
        s"v${cat.currentVersion(mvIdent)}")
    s.sql("""SELECT 'mv' AS phase, priority, n,
            |  CAST(total AS DOUBLE) AS total
            |FROM graftcat.lake.smv_prio
            |UNION ALL
            |SELECT 'recompute', o_orderpriority, COUNT(*),
            |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            |FROM graftcat.lake.orders_smv GROUP BY o_orderpriority
            |ORDER BY phase, priority""".stripMargin)
  }

  private def streamTableRatelimit(s: SparkSession, dir: String): DataFrame = {
    Graftcat.fresh(s, "cust_rate")
    T(s, dir, "customer").createOrReplaceTempView("graft_rate_src")
    s.sql("""CREATE TABLE graftcat.lake.cust_rate
            |(c_custkey BIGINT, c_nationkey INT, c_acctbal DOUBLE)""".stripMargin)
    for (i <- 0 until 5)
      s.sql(s"""INSERT INTO graftcat.lake.cust_rate
               |SELECT c_custkey, c_nationkey, c_acctbal FROM graft_rate_src
               |WHERE c_custkey % 5 = $i""".stripMargin)
    val root = GraftTmp.fresh("stream_rate")
    val out = drainTo(s.readStream.option("maxFilesPerTrigger", "2")
      .table("graftcat.lake.cust_rate"), root)
    // the rate limit must have engaged: several bounded batches, not one
    val offsets = Option(new java.io.File(s"$root/cp/offsets").listFiles())
      .map(_.count(!_.getName.startsWith("."))).getOrElse(0)
    require(offsets > 2,
      s"maxFilesPerTrigger did not split the drain: $offsets offset entries")
    s.read.parquet(out)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("sum_key"),
        sumMoneyD(col("c_acctbal")).as("total_bal"))
      .orderBy("c_nationkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_table_sink" -> (streamTableSink _),
    "stream_branch_wap" -> (streamBranchWap _),
    "stream_incremental_mv" -> (streamIncrementalMv _),
    "stream_cdc_replicate" -> (streamCdcReplicate _),
    "stream_table_cdf" -> (streamTableCdf _),
    "stream_table_ratelimit" -> (streamTableRatelimit _),
    "stream_table_source" -> (streamTableSource _),
    "stream_custom_source" -> (streamCustomSource _),
    "stream_custom_sink" -> (streamCustomSink _),
    "events_transitions" -> (eventsTransitions _),
    "events_interpolate" -> (eventsInterpolate _),
    "events_funnel" -> (eventsFunnel _),
    "stream_file_sink" -> (streamFileSink _),
    "stream_foreachbatch_upsert" -> (streamForeachBatchUpsert _),
    "stream_tumbling_window" -> (tumbling _),
    "stream_sliding_window" -> (sliding _),
    "stream_session_window" -> (session _),
    "stream_custom_state" -> (streamCustomState _),
    "stream_tws_state" -> (streamTwsState _),
    "stream_dedup" -> (dedup _),
    "stream_stream_join" -> (streamStreamJoin _),
  )

  val oracle: Map[String, String] = Map(
    "stream_table_sink" ->
      """WITH cur AS (
        |  SELECT o_orderpriority, o_totalprice * 2.0 AS price2
        |  FROM orders WHERE o_totalprice > 150000.0)
        |SELECT 'dst' AS side, o_orderpriority AS k,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(price2 AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM cur GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'src', o_orderpriority, CAST(COUNT(*) AS BIGINT),
        | CAST(SUM(CAST(price2 AS DECIMAL(18,2))) AS DOUBLE)
        |FROM cur GROUP BY o_orderpriority
        |ORDER BY side, k""".stripMargin,
    "stream_branch_wap" ->
      """WITH f AS (
        |  SELECT CAST(o_totalprice * 2.0 AS DECIMAL(18,2)) AS p2
        |  FROM orders WHERE o_totalprice > 100000.0)
        |SELECT '1_main_before_publish' AS phase,
        |  CAST(0 AS BIGINT) AS n_rows, 0.0 AS total
        |UNION ALL
        |SELECT '2_branch_staged', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(p2) AS DOUBLE) FROM f
        |UNION ALL
        |SELECT '3_main_after_publish', CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(p2) AS DOUBLE) FROM f
        |ORDER BY phase""".stripMargin,
    "stream_incremental_mv" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 100.0
        |         ELSE o_totalprice END AS price
        |  FROM orders WHERE o_orderkey % 4 IN (0, 1)),
        | cur AS (SELECT * FROM base WHERE o_orderpriority <> '5-LOW')
        |SELECT 'mv' AS phase, o_orderpriority AS priority,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM cur GROUP BY o_orderpriority
        |UNION ALL
        |SELECT 'recompute', o_orderpriority, CAST(COUNT(*) AS BIGINT),
        |  CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |FROM cur GROUP BY o_orderpriority
        |ORDER BY phase, priority""".stripMargin,
    "stream_cdc_replicate" ->
      """WITH cur AS (
        |  SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_nationkey = 3 THEN c_acctbal + 500.0
        |         ELSE c_acctbal END AS bal
        |  FROM customer WHERE c_nationkey <> 7)
        |SELECT 'dst' AS side, CAST(c_nationkey AS BIGINT) AS k,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM cur GROUP BY c_nationkey
        |UNION ALL
        |SELECT 'src', CAST(c_nationkey AS BIGINT), CAST(COUNT(*) AS BIGINT),
        | CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE)
        |FROM cur GROUP BY c_nationkey
        |ORDER BY side, k""".stripMargin,
    "stream_table_cdf" ->
      """SELECT c_custkey, c_nationkey, c_acctbal, 'insert' AS change_type
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, c_nationkey, c_acctbal, 'delete'
        |FROM customer WHERE c_nationkey = 7
        |UNION ALL
        |SELECT c_custkey, c_nationkey, c_acctbal, 'update_preimage'
        |FROM customer WHERE c_nationkey = 3
        |UNION ALL
        |SELECT c_custkey, c_nationkey, c_acctbal + 500.0, 'update_postimage'
        |FROM customer WHERE c_nationkey = 3
        |ORDER BY change_type, c_custkey""".stripMargin,
    "stream_table_ratelimit" ->
      """SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
    "stream_table_source" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "stream_custom_sink" ->
      """WITH t AS (SELECT i AS tick_id, i % 100 AS user_id,
        |  (i * 7 % 1000) / 10.0 AS amount FROM range(10000) t(i))
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ticks,
        | CAST(MIN(tick_id) AS BIGINT) AS first_tick,
        | CAST(MAX(tick_id) AS BIGINT) AS last_tick,
        | CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_custom_source" ->
      """WITH t AS (SELECT i AS tick_id, i % 100 AS user_id,
        |  (i * 7 % 1000) / 10.0 AS amount FROM range(10000) t(i))
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_ticks,
        | CAST(SUM(CAST(amount AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin,
    // batch spelling of the inner stream-stream interval join: every
    // (purchase, error-in-the-24h-before) pair per user — inner joins
    // emit on arrival, so a single-micro-batch run commits exactly this
    "stream_stream_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
        | epoch_us(p.ts) AS purchase_us, epoch_us(e.ts) AS error_us
        |FROM events p JOIN events e ON e.user_id = p.user_id
        | AND p.event_type = 'purchase' AND e.event_type = 'error'
        | AND epoch_us(e.ts) >= epoch_us(p.ts) - 86400000000
        | AND epoch_us(e.ts) < epoch_us(p.ts)
        |ORDER BY p.user_id, purchase_id, error_id""".stripMargin,
    "events_interpolate" ->
      """WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us FROM events),
        |k AS (SELECT *,
        |  LAST_VALUE(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
        |  LAST_VALUE(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt,
        |  FIRST_VALUE(CASE WHEN event_type = 'view' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
        |  FIRST_VALUE(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY us, event_id
        |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nt
        | FROM e)
        |SELECT event_id, user_id,
        | FLOOR((pv + (nv - pv) * CAST(us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) * 1e4 + 0.5) / 1e4 AS interp
        |FROM k WHERE event_type = 'click' AND pt IS NOT NULL AND nt IS NOT NULL
        |ORDER BY event_id""".stripMargin,
    "events_transitions" ->
      """SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
        | SELECT event_type AS from_type,
        |  LEAD(event_type) OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts), event_id) AS to_type
        | FROM events)
        |WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,
    "events_funnel" ->
      """SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        | SELECT CASE
        |   WHEN first_signup IS NOT NULL AND first_view > first_signup
        |        AND first_purchase > first_view THEN 'converted'
        |   WHEN first_signup IS NOT NULL AND first_view > first_signup THEN 'viewed'
        |   WHEN first_signup IS NOT NULL THEN 'signed_up'
        |   ELSE 'no_signup' END AS stage
        | FROM (
        |  SELECT user_id,
        |   MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS first_signup,
        |   MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view,
        |   MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS first_purchase
        |  FROM events GROUP BY user_id))
        |GROUP BY stage ORDER BY stage""".stripMargin,
    "stream_tumbling_window" ->
      """SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS win_start, event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin,
    // batch spelling of the append-mode watermark contract: a window is
    // emitted only once the final watermark (max event-time minus 1 h,
    // millisecond precision) has passed its end — the trailing partial
    // day stays in state and is never emitted
    "stream_file_sink" ->
      """WITH m AS (SELECT epoch_us(MAX(ts)) // 1000 - 3600000 AS wm_ms FROM events)
        |SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS win_start, event_type,
        | CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events, m
        |WHERE epoch_us(CAST(DATE_TRUNC('day', ts) AS TIMESTAMP)) // 1000 + 86400000 <= wm_ms
        |GROUP BY 1, 2, wm_ms ORDER BY win_start, event_type""".stripMargin,
    "stream_sliding_window" ->
      """SELECT win_start, CAST(COUNT(*) AS BIGINT) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        | SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS win_start, value FROM events
        | UNION ALL
        | SELECT CAST(DATE_TRUNC('day', ts) AS DATE) - 1 AS win_start, value FROM events)
        |GROUP BY win_start ORDER BY win_start""".stripMargin,
    "stream_session_window" ->
      s"""WITH e AS (
         | SELECT user_id, value, epoch_us(ts) AS us FROM events),
         |flagged AS (
         | SELECT user_id, value, us,
         |  CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) >= $SessionGapUs
         |       OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
         |       THEN 1 ELSE 0 END AS new_session
         | FROM e),
         |sess AS (
         | SELECT user_id, value, us,
         |  SUM(new_session) OVER (PARTITION BY user_id ORDER BY us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         | FROM flagged)
         |SELECT user_id, MIN(us) AS start_us, MAX(us) + $SessionGapUs AS end_us,
         | CAST(COUNT(*) AS BIGINT) AS n_events,
         | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM sess GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin,
    "stream_dedup" ->
      """SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
        |FROM events ORDER BY event_id""".stripMargin,
    // batch spelling of purchaseSessions' append contract: non-final
    // sessions (gap- or purchase-closed) emit in the data batch; a user's
    // FINAL session emits only if purchase-closed, or via EventTimeTimeout
    // which fires only STRICTLY below the final watermark
    // (max ts − 1 h, ms precision) — hence `< wm_ms`, pinned empirically.
    // stream_tws_state (transformWithState) shares the oracle: both APIs
    // run the same shared fold under the same watermark/timer contract.
    "stream_custom_state" -> purchaseSessionOracle,
    "stream_tws_state" -> purchaseSessionOracle,
    "stream_foreachbatch_upsert" ->
      """SELECT user_id, last_event, last_type, last_value, last_us FROM (
        | SELECT user_id, event_id AS last_event, event_type AS last_type,
        |  value AS last_value, epoch_us(ts) AS last_us,
        |  ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,
  )

  private lazy val purchaseSessionOracle: String =
      s"""WITH m AS (SELECT epoch_us(MAX(ts)) // 1000 - 3600000 AS wm_ms FROM events),
         |e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us FROM events),
         |flagged AS (
         | SELECT user_id, event_id, event_type, value, us,
         |  CASE WHEN LAG(us) OVER w IS NULL
         |       OR us - LAG(us) OVER w >= $SessionGapUs
         |       OR LAG(event_type) OVER w = 'purchase' THEN 1 ELSE 0 END AS new_s
         | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |sess AS (
         | SELECT user_id, event_type, value, us,
         |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         | FROM flagged),
         |agg AS (
         | SELECT user_id, sid, MIN(us) AS start_us, MAX(us) AS last_us,
         |  CAST(COUNT(*) AS BIGINT) AS n_events,
         |  SUM(CAST(value AS DECIMAL(18,2))) AS sumv,
         |  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purch
         | FROM sess GROUP BY user_id, sid),
         |fin AS (
         | SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS max_sid FROM agg)
         |SELECT user_id, start_us,
         | CASE WHEN purch = 1 THEN last_us ELSE last_us + $SessionGapUs END AS end_us,
         | n_events,
         | CAST(sumv AS DOUBLE) AS sum_value,
         | CASE WHEN purch = 1 THEN 'purchase'
         |      WHEN sid < max_sid THEN 'gap' ELSE 'timeout' END AS reason
         |FROM fin, m
         |WHERE purch = 1 OR sid < max_sid
         |   OR (last_us + $SessionGapUs) // 1000 < wm_ms
         |ORDER BY user_id, start_us""".stripMargin
}
