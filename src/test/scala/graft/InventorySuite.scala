package graft

/** Contract-level checks over the whole inventory: every query runs on
  * sf0.001, returns rows, and is byte-deterministic across two plans
  * (SURVEY §5.4 — the pre-driver gate; the DuckDB compare itself runs
  * driver-side and in tools/compare.py).
  */
class InventorySuite extends SparkSuiteBase {

  test("every declared query has an oracle or is explicitly rows-only") {
    val rowsOnly = Set("agg_approx_distinct", "agg_hll_sketch")
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnly
    assert(missing.isEmpty, s"queries without oracle or rows-only waiver: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("the shared test session is a GraftSession: isolation off, UTC, 4 shuffle partitions") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  // Round-11 lesson (twice now): keys landed in HEAD without their
  // paper trail. This makes the census mechanical — a registered key
  // with no SURVEY.md row, or a stale totals line, fails the suite.
  test("every registered key has a SURVEY.md row and the totals line is exact") {
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val missing =
      SparkEntry.queries.keySet.filterNot(k => survey.contains(s"`$k`"))
    assert(missing.isEmpty,
      s"registered keys with no SURVEY.md row: ${missing.toSeq.sorted}")
    val totals = "Totals shipped: (\\d+) query keys".r
      .findFirstMatchIn(survey).map(_.group(1).toInt)
    assert(totals.contains(SparkEntry.queries.size),
      s"SURVEY totals line says ${totals.getOrElse("<absent>")} keys, " +
        s"registry has ${SparkEntry.queries.size}")
  }

  // The driver's checker pandas-sort_values every column before
  // hashing; ArrayType/MapType/StructType values arrive as numpy
  // arrays / dicts and crash it (`unhashable type`). This class
  // shipped red rows in rounds 3 (fn_higher_order, agg_collect_sorted)
  // and 10 (fn_regexp): serialize to a string (array_join / to_json)
  // before returning.
  private def complexColumns(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    df.schema.fields.collect {
      case f
          if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq
  }

  test("complex-column lint flags a deliberately array-typed frame") {
    import org.apache.spark.sql.functions._
    val bad = spark.range(3).select(col("id"), array(col("id"), col("id") + 1).as("xs"))
    assert(complexColumns(bad) == Seq("xs: array<bigint>"))
  }

  test("no query outputs a complex-typed column (driver comparator cannot sort them)") {
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      c <- complexColumns(fn(spark, SF))
    } yield s"$name.$c"
    assert(offenders.isEmpty, s"complex-typed output columns: $offenders")
  }

  /** Keys whose BUILDERS execute Spark work by design — they
    * materialize fixtures (roundtrip sources write the format under
    * test), run DDL/DML against the catalog (the statement IS the
    * operator), drain real streams, or invoke maintenance ops. Every
    * key NOT listed here is pinned job-free at plan-build time
    * (round-13 verdict #7: an eager action inside a pure query builder
    * taxes every bench rep, and at 100 TB it runs a scan to plan a
    * scan — llm_semdedup's count() was the one offender, now a footer
    * read). */
  private val eagerByDesign: Set[String] = Set(
    // format-roundtrip sources: the build writes the fixture being read
    "source_csv_roundtrip", "source_json_roundtrip", "source_orc_roundtrip",
    "source_avro_roundtrip", "source_xml_roundtrip", "source_text_roundtrip",
    "source_binaryfile_roundtrip", "source_jdbc_roundtrip",
    "scan_schema_evolution", "sink_partitioned_parquet",
    // catalog keys: DDL/DML statements and maintenance ops ARE the
    // operator under test
    "catalog_v2_plugin", "catalog_schema_evolution", "catalog_delete_where",
    "catalog_time_travel", "catalog_snapshot_expire", "catalog_update_where",
    "catalog_merge_into", "catalog_compact_files", "catalog_version_refs",
    "catalog_table_lifecycle", "catalog_bucketed_spj", "catalog_data_skipping",
    "catalog_compact_sorted", "catalog_partition_days", "catalog_change_feed",
    "catalog_rollback", "catalog_agg_pushdown", "catalog_procedures",
    "catalog_delete_vectors", "catalog_branch_wap", "catalog_compact_zorder",
    "catalog_partition_evolution", "catalog_update_mor", "catalog_metadata_tables",
    "catalog_typed_columns", "catalog_delete_equality",
    "catalog_rtas", "catalog_views", "catalog_cdc_apply",
    "catalog_incremental_mv", "catalog_point_lookup",
    "catalog_retention_delete", "catalog_column_defaults",
    "catalog_decimal_stats", "catalog_compact_binpack",
    "catalog_delete_equality_multi", "catalog_row_lineage",
    "catalog_variant_columns", "catalog_variant_shredded",
    "catalog_merge_schema_evolution", "catalog_row_lineage_v2",
    "catalog_compact_clustered", "catalog_replace_where", "catalog_type_widening",
    "catalog_mv_rewrite", "catalog_clone", "catalog_check_constraints",
    "catalog_generated_identity",
    "llm_dedup_minhash_incremental", "llm_simsearch_incremental",
    "sql_execute_immediate", "sql_session_variable",
    // bucketed-by-write joins: the build writes both bucketed tables
    "join_bucketed_colocated", "join_storage_partitioned",
    "join_v2_group_filter", "merge_upsert", "warehouse_scd2",
    // streaming keys: the build runs the micro-batch engine to completion
    // and returns a batch read of the committed output
    "stream_table_source", "stream_table_ratelimit", "stream_table_cdf",
    "stream_cdc_replicate", "stream_table_sink", "stream_branch_wap",
    "stream_incremental_mv",
    "stream_custom_source", "stream_custom_sink",
    "stream_custom_state", "stream_dedup", "stream_file_sink",
    "stream_foreachbatch_upsert", "stream_session_window",
    "stream_sliding_window", "stream_stream_join", "stream_tumbling_window",
    "stream_tws_state", "events_funnel", "events_transitions",
    "events_interpolate",
    // iterative algorithms: per-round convergence checks are actions
    "graph_pagerank", "graph_triangle_count", "llm_dedup_clusters",
    "llm_bpe_merge_step",
    // join_dpp_partitioned writes the partitioned parquet fixture whose
    // partitions DPP must prune; llm_dedup_simhash localCheckpoints the
    // fingerprint pass so its distinct-fingerprint lanes and its three
    // document joins compute it once, not per reader;
    // stat_crosstab: DataFrameStatFunctions.crosstab is an eager API
    "join_dpp_partitioned", "llm_dedup_simhash", "stat_crosstab",
    // r19 optimization round: llm_dedup_substring localCheckpoints the
    // distinct gram table (computed once, joined twice); llm_tfidf
    // localCheckpoints the tf aggregate (one corpus pass feeds both the
    // df derivation and the scoring join)
    "llm_dedup_substring", "llm_tfidf")

  test("building a non-eager query fires zero Spark jobs") {
    val sc = spark.sparkContext
    // Pre-warm T's process-wide schema cache: the FIRST read of each
    // fixture table pays a one-time parquet schema-inference job (the
    // documented metastore stand-in, not a per-build action) — the lint
    // measures builders net of it.
    graft.ops.T.names.foreach(n => graft.ops.T(spark, SF, n))
    val offenders = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (js.properties == null) return
        val g = js.properties.getProperty("spark.jobGroup.id")
        if (g != null && g.startsWith("graft-lint-")) {
          offenders.add(g.stripPrefix("graft-lint-")); ()
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
           if !eagerByDesign(name)) {
        sc.setJobGroup(s"graft-lint-$name", s"zero-jobs lint: $name")
        fn(spark, SF) // build the plan only — never execute it
        sc.clearJobGroup()
      }
      // the listener bus is async: give a straggling (forbidden) job
      // event time to land before asserting none did
      Thread.sleep(1500)
      val hits = {
        import scala.jdk.CollectionConverters._
        offenders.asScala.toSeq.sorted
      }
      assert(hits.isEmpty,
        s"query builders ran Spark jobs at plan-build time: $hits")
    } finally sc.removeSparkListener(listener)
  }

  test("eagerByDesign names only registered keys") {
    val unknown = eagerByDesign -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allowlist entries with no registered key: $unknown")
  }

  // The oracle-side hash of a DECIMAL column does not survive NULL cells
  // (round 19: two keys with identical values failed it); marker rows
  // carry a typed 0.00 sentinel instead.
  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name: runs, non-degenerate, deterministic") {
      val df = fn(spark, SF)
      val a = df.collect().toSeq
      assert(a.nonEmpty, s"$name returned 0 rows on sf0.001")
      val b = fn(spark, SF).collect().toSeq
      assert(a == b, s"$name differs between two runs")
      val decimals = df.schema.fields.indices.filter(i =>
        df.schema(i).dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
      val nullDecimals = decimals.filter(i => a.exists(_.isNullAt(i)))
        .map(df.schema(_).name)
      assert(nullDecimals.isEmpty, s"$name has NULL cells in DECIMAL columns $nullDecimals")
    }
  }
}
