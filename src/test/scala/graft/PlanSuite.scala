package graft

import graft.ops._

/** Physical-plan shape assertions (the 100-TB design checks, SURVEY §4):
  * pushdown reaches the parquet scan, small dims broadcast, top-k plans as
  * TakeOrderedAndProject, fact-fact joins avoid nested-loop plans.
  */
class PlanSuite extends SparkSuiteBase {

  private def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  /** Every node under `pl`, recursing through materialized AQE query
    * stages and reused exchanges (which are leaves to `collect`). */
  private def allNodes(pl: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    pl.collect {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec        => q +: allNodes(q.plan)
      case r: ReusedExchangeExec    => r +: allNodes(r.child)
      case p                        => Seq(p)
    }.flatten
  }

  /** Collect scan nodes from an EXECUTED plan, through AQE stages. */
  private def leafScans[T](df: org.apache.spark.sql.DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] =
    allNodes(df.queryExecution.executedPlan).collect(pf)

  test("scan_parquet_project_filter pushes filters and prunes columns") {
    val p = plan("scan_parquet_project_filter")
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"),
      s"no pushed filters in:\n$p")
    assert(p.contains("ReadSchema") && !p.contains("l_comment"))
    // projection pruning: untouched money columns not read
    assert(!p.contains("l_tax"), "scan reads columns the query never uses")
  }

  test("join_broadcast_inner plans a broadcast hash join") {
    assert(plan("join_broadcast_inner").contains("BroadcastHashJoin"))
  }

  test("join_multiway_star broadcasts dims and hash-joins facts") {
    val p = plan("join_multiway_star")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"), "star join degenerated to NLJ")
  }

  test("join_null_safe plans EqualNullSafe as a hash join, not NLJ") {
    val p = plan("join_null_safe")
    assert(p.contains("BroadcastHashJoin"),
      s"null-safe equality should still hash-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("events_sessionize_gap does its whole chain on one user_id exchange") {
    val p = plan("events_sessionize_gap")
    // one exchange for the windows; the (user_id, session_seq) aggregate
    // is satisfied by HashPartitioning(user_id) — no second hash exchange
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected exactly one user_id hash exchange, got $hashEx:\n$p")
  }

  test("graph_triangle_count plans three equi-joins, never a cartesian") {
    val p = plan("graph_triangle_count")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"wedge/closure joins must stay hash-based:\n$p")
  }

  test("join_shuffle_inner uses a shuffled join, not NLJ") {
    val p = plan("join_shuffle_inner")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("join_theta_nested_loop is the only deliberate NLJ") {
    assert(plan("join_theta_nested_loop").contains("NestedLoop"))
  }

  test("sort_limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k did a full sort:\n$p")
  }

  test("agg_groupby_hash is a two-phase hash aggregate with pushed date filter") {
    val p = plan("agg_groupby_hash")
    assert(p.contains("HashAggregate"))
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"))
  }

  test("whole-stage codegen is active on the hot relational path") {
    // force execution so AQE finalizes, then look for the "*(stageId)"
    // codegen markers in the final plan
    val df = run("agg_groupby_hash")
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("join_bucketed_colocated joins and aggregates with zero hash-exchanges") {
    val df = run("join_bucketed_colocated")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
  }

  test("subquery_correlated decorrelates into aggregate + join (no per-row subquery)") {
    val df = run("subquery_correlated")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("scalar-subquery"),
      s"correlated subquery not decorrelated:\n$p")
    assert(p.contains("HashAggregate"), "expected one aggregate over the inner side")
    assert(p.contains("Join"), "expected a join on the correlation key")
  }

  test("win_topk_native plans the custom TopKPerGroupExec, no Window, and matches the Window spelling") {
    val df = run("win_topk_native")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"), s"custom strategy did not fire:\n$p")
    assert(!p.contains("Window"), s"top-k still planned a Window:\n$p")
    // row-identical to the stock row_number window formulation
    val want = run("win_rank_topk_per_group")
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSet
    val got = df.collect().map(_.toSeq).toSet
    assert(got == want, s"native top-k diverges from window top-k")
  }

  test("WindowTopKRewrite turns a filtered row_number window into native TopKPerGroup") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    if (!spark.experimental.extraOptimizations.contains(graft.plans.WindowTopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.WindowTopKRewrite
    val w = W.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val orders = T(spark, SF, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    // the stock user idiom: rank, filter, drop the rank
    val idiom = orders.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3).drop("rn")
    idiom.collect()
    assert(idiom.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"),
      s"rewrite did not fire:\n${idiom.queryExecution.optimizedPlan}")
    // no WindowExec and no leftover WindowGroupLimit pre-filter
    val phys = idiom.queryExecution.executedPlan.toString
    assert(!phys.contains("Window [") && !phys.contains("WindowGroupLimit"), phys)
    // rank kept in the output → no rewrite (plan must stay a Window)
    val keepsRank = orders.withColumn("rn", row_number().over(w)).where(col("rn") <= 3)
    keepsRank.collect()
    assert(!keepsRank.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"))
    // same rows either way
    val got = idiom.collect().map(_.toSeq).toSet
    val want = keepsRank.drop("rn").collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("WindowTopKRewrite leaves global top-k and non-positive k to the stock plan") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{col, row_number}
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    if (!spark.experimental.extraOptimizations.contains(graft.plans.WindowTopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.WindowTopKRewrite
    val orders = T(spark, SF, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    // Global top-k (empty partitionBy): must NOT rewrite — with the rule
    // session-wide this previously threw ClusteredDistribution(Nil) at
    // planning, or would silently return k rows per partition.
    val globalW = W.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val global = orders.withColumn("rn", row_number().over(globalW))
      .where(col("rn") <= 3).drop("rn")
    assert(!global.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"))
    assert(global.count() == 3)
    // rn <= 0 is a legal query with an empty result: must fall through
    // (TopKPerGroup's require(k >= 1) would throw inside the optimizer).
    val grpW = W.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val zeroK = orders.withColumn("rn", row_number().over(grpW))
      .where(col("rn") <= 0).drop("rn")
    assert(!zeroK.queryExecution.optimizedPlan.toString.contains("TopKPerGroup"))
    assert(zeroK.count() == 0)
  }

  test("llm_simsearch_topk scored plan has no nested-loop join") {
    val df = run("llm_simsearch_topk")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"scored top-k still plans a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in scored top-k:\n$p")
  }

  test("CountInSetRewrite compiles the size(filter(isin)) idiom session-wide") {
    import org.apache.spark.sql.functions.{col, filter, size, split}
    if (!spark.experimental.extraOptimizations.contains(graft.plans.CountInSetRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.CountInSetRewrite
    val toks = split(col("text"), " ")
    // short list → analyzer keeps `In`
    val few = Seq("the", "a")
    // 12 literals → OptimizeIn converts to `InSet` (threshold 10)
    val many = (0 to 9).map(i => s"w$i") ++ Seq("the", "a")
    val df = T(spark, SF, "documents").select(
      size(filter(toks, t => t.isin(few: _*))).as("c_few"),
      size(filter(toks, t => t.isin(many: _*))).as("c_many"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.sliding("graft_count_in_set".length).count(_ == "graft_count_in_set") >= 2,
      s"rewrite did not fire for both In and InSet forms:\n$opt")
    // same values as the uncompiled spelling computed without the rule
    val expect = T(spark, SF, "documents").select(
      graft.plans.expressions.countInSet(toks, few).as("c_few"),
      graft.plans.expressions.countInSet(toks, many).as("c_many"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == expect)
    // non-literal probe lists must NOT rewrite
    val dynamic = T(spark, SF, "documents").select(
      size(filter(toks, t => t === col("lang"))).as("c"))
    assert(!dynamic.queryExecution.optimizedPlan.toString.contains("graft_count_in_set"))
  }

  test("scored join_bloom_pruned builder injects MightContain under lowered thresholds") {
    // Spark's runtime row-level filtering: a selective dim side should
    // inject a bloom-filter probe into the fact scan, cutting shuffled
    // rows before the join — the 100-TB win for selective fact⨝dim'.
    // Runs the SAME builder the driver scores (the join_skew_aqe
    // promotion pattern: the scored result is pruning-invariant, the
    // plan property is asserted here under thresholds the 17 MB
    // fixture can trip).
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      // the production default (10GB) gates on fact-scan size; zero it so
      // the 17MB fixture exercises the same injection path
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      // at fixture scale the dim is broadcastable and Spark then skips
      // the bloom filter (a BHJ needs no row-level pre-filter); disable
      // broadcast so the shuffle-join path — the 100-TB case — is planned
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(keys(0), "true")
    spark.conf.set(keys(1), "1GB")
    spark.conf.set(keys(2), "0")
    spark.conf.set(keys(3), "-1")
    try {
      val j = run("join_bloom_pruned")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom"),
        s"no runtime bloom filter injected:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"bloom demo lost its shuffle join:\n$plan")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("join_range_banded plans equi-joins only (no nested loop despite no natural key)") {
    val df = run("join_range_banded")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"banded interval join fell back to NLJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("llm_dedup_embed plans a block-pair equi-join (no NLJ, no whole-block rows)") {
    val df = run("llm_dedup_embed")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the r5 shape was blk <= blk, a non-equi θ-join → BNLJ over rows each
    // holding a whole block's vectors; the r6 shape must be a pure
    // equi-join on the replicated (bl, br) pair keys
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"dedup_embed fell back to NLJ:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no equi-join in:\n$p")
    // no typed mapGroups/flatMap stage: the scoring is columnar codegen
    assert(!p.contains("MapGroups"), "whole-block packing is back")
  }

  test("llm_dedup_embed_prod plans equi-joins only; planes broadcast") {
    val df = run("llm_dedup_embed_prod")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the 64-row planes side rides a broadcast (its crossJoin plans as a
    // BroadcastNestedLoopJoin, which is correct for a broadcast×N fan-out);
    // the CANDIDATE stage must be a real equi-join on (table, code) — a
    // CartesianProduct anywhere means the bucketing degenerated to all-pairs
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), s"planes not broadcast:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"no equi-join for the banded candidates:\n$p")
  }

  test("join_storage_partitioned: SPJ joins and aggregates with zero hash exchanges") {
    // Both DSv2 sides report KeyGroupedPartitioning(bucket) with
    // per-split HasPartitionKey values, so the fact-fact join AND the
    // bucket-superset aggregate ride the storage layout — the ONLY
    // exchange in the whole plan is the final presentation sort.
    val df = run("join_storage_partitioned")
    df.collect()
    // with AQE the plan string appends "== Initial Plan ==" — count
    // exchanges in the executed final section only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), s"no sort-merge join in:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 0, s"SPJ should leave zero hash exchanges, got $hashEx:\n$p")
    val rangeEx = "Exchange rangepartitioning".r.findAllIn(p).length
    assert(rangeEx == 1, s"expected only the presentation-sort exchange:\n$p")
    // the bucketed split layout is what the connector promised
    assert(df.count() == 100000L)
  }

  test("join_v2_group_filter: runtime group filtering prunes connector splits") {
    // The connector-side DPP: the broadcast dim's bucket set is pushed
    // into the v2 scan at runtime (SupportsRuntimeFiltering) and 24 of
    // 32 bucket splits are never planned. Proof is the scan's OWN
    // output-rows metric: 8 surviving buckets × 3125 orders = 25000 —
    // an unpruned scan would emit all 100000 (the static inferred
    // filter above it sits AFTER the scan).
    val df = run("join_v2_group_filter")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime group filter on the v2 scan:\n$p")
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scan = leafScans(df) { case b: BatchScanExec => b }.headOption
      .getOrElse(fail("no v2 scan in the executed plan"))
    val rows = scan.metrics("numOutputRows").value
    assert(rows == 25000, s"v2 scan emitted $rows rows; split pruning didn't happen")
  }

  test("BucketedLedgerSource: bucket splits cover each table exactly once") {
    def ledger(t: String) = spark.read
      .format("graft.sources.BucketedLedgerSource")
      .option("table", t).option("rows", "1000").option("buckets", "8").load()
    assert(ledger("orders").rdd.getNumPartitions == 8)
    assert(ledger("orders").count() == 1000)
    assert(ledger("items").count() == 4000)
    // every item's bucket is its order's bucket (the co-location invariant)
    import org.apache.spark.sql.functions.{col, expr}
    assert(ledger("items").where(col("bucket") =!= expr("o_key % 8")).count() == 0)
    // ids partition cleanly: distinct keys per table
    assert(ledger("orders").select("o_key").distinct().count() == 1000)
    assert(ledger("items").select("item_id").distinct().count() == 4000)
    // column pruning pushes the required schema into the connector:
    // a 2-column projection must not read item_id
    val pruned = ledger("items").select("o_key", "qty")
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("[o_key#") && !scanLine.contains("item_id"),
      s"items scan not pruned to (o_key, qty): $scanLine")
    assert(pruned.agg(org.apache.spark.sql.functions.sum("qty")).collect()
      .head.getDouble(0) > 0)
  }

  test("custom DSv2 star source plans the requested partitions") {
    val df = spark.read.format("graft.sources.StarCatalogSource")
      .option("rows", "1000").option("partitions", "8").load()
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 1000)
  }

  test("star source pushes LIMIT into split planning") {
    val df = spark.read.format("graft.sources.StarCatalogSource")
      .option("rows", "100000").option("partitions", "8").load()
      .limit(7)
    assert(df.collect().length == 7)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("pushedLimit=7"),
      s"limit did not reach the source:\n$p")
  }

  test("ledger static bucket filter prunes splits at planning time") {
    import org.apache.spark.sql.functions.col
    // report=false read (the non-SPJ path): a static bucket predicate
    // must skip whole splits before any task launches — 1 of 8 planned
    val df = spark.read.format("graft.sources.BucketedLedgerSource")
      .option("table", "orders").option("rows", "1000").option("buckets", "8")
      .option("report", "false").load()
      .where(col("bucket") === 3)
    assert(df.rdd.getNumPartitions == 1, "static bucket filter did not prune splits")
    assert(df.count() == 125)
    // SPJ-reporting reads never static-prune (full partition-value set required)
    val rep = spark.read.format("graft.sources.BucketedLedgerSource")
      .option("table", "orders").option("rows", "1000").option("buckets", "8")
      .load().where(col("bucket") === 3)
    assert(rep.rdd.getNumPartitions == 8)
    assert(rep.count() == 125)
  }

  test("sink_partitioned_parquet scan prunes to one partition") {
    val p = plan("sink_partitioned_parquet")
    assert(p.contains("PartitionFilters:") && p.contains("o_orderpriority"),
      s"no partition filter in:\n$p")
  }

  test("graft_dot is callable from SQL after extension registration") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT graft_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                 array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT))) AS d""".stripMargin)
      .collect().head.getDouble(0)
    assert(r == 4.0)
  }

  test("llm_dedup_near joins shuffle on the shingle key (no cartesian)") {
    val p = plan("llm_dedup_near")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("llm_corpus_filter plans one window pass, no self-join") {
    val df = run("llm_corpus_filter")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"canonicalization still self-joins:\n$p")
    assert(p.contains("Window"), "expected the window-min canonicalization")
  }

  test("llm_dedup_simhash: compiled fingerprint codegens; no HOF fold in the final plan") {
    // the fingerprint pass runs inside the query's localCheckpoint, so
    // assert its codegen on the same projection directly…
    val fp = T(spark, SF, "documents").select(
      graft.plans.expressions.simhashChunks(
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.col("text"), " "))).as("chunks"))
    fp.collect()
    assert(fp.queryExecution.executedPlan.toString.contains("*("),
      "SimHashChunks fell out of whole-stage codegen")
    // …and that the candidate-verify side never re-grew the interpreted
    // HOF hamming fold
    val df = run("llm_dedup_simhash")
    df.collect()
    assert(!df.queryExecution.executedPlan.toString.contains("aggregate(zip_with"))
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
      ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val nodes = allNodes(df.queryExecution.executedPlan)
    // pairs are emitted once by construction: no aggregate folds
    // duplicate (d1, d2) rows
    val pairAggs = nodes.collect { case a: BaseAggregateExec =>
      a.groupingExpressions.flatMap(_.references.map(_.name)).toSet }
      .filter(g => g("d1") || g("d2"))
    assert(pairAggs.isEmpty, s"an aggregate groups on the output pair: $pairAggs")
    // the lane self-join reads the explicit (c, chunk) repartition on
    // both sides; an AQE-coalescible ENSURE_REQUIREMENTS exchange there
    // would fold the small distinct-fingerprint shuffle into one task
    def nearestShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case e: ShuffleExchangeExec => Seq(e)
      case q: QueryStageExec      => nearestShuffles(q.plan)
      case r: ReusedExchangeExec  => nearestShuffles(r.child)
      case other                  => other.children.flatMap(nearestShuffles)
    }
    val laneJoins = nodes.collect { case j: BaseJoinExec
      if j.leftKeys.flatMap(_.references.map(_.name)).toSet == Set("c", "chunk") => j }
    assert(laneJoins.length == 1,
      s"expected one (c, chunk) lane join:\n${df.queryExecution.executedPlan}")
    val laneJoin = laneJoins.head
    Seq(laneJoin.left, laneJoin.right).foreach { side =>
      val ex = nearestShuffles(side)
      assert(ex.nonEmpty && ex.forall(_.shuffleOrigin == REPARTITION_BY_NUM),
        s"lane join side does not read the explicit repartition: " +
          ex.map(_.shuffleOrigin).mkString(", "))
    }
  }

  test("llm_contamination_check: the executed join builds on eval, on LongType keys only") {
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, HashJoin}
    import org.apache.spark.sql.types.LongType
    // the fixture is one file, so the scan is fanned out by a shuffle
    // and AQE picks the join from runtime sizes; an 8-file copy scans
    // in enough splits to skip the fan, like the benchmark's x4 copy,
    // and there the join is chosen from the static estimates alone
    val split = java.nio.file.Files.createTempDirectory("graft_contam8").toString
    graft.ops.T(spark, SF, "documents").repartition(8)
      .write.parquet(s"$split/documents.parquet")
    for (dir <- Seq(SF, split)) {
      val df = SparkEntry.queries("llm_contamination_check")(spark, dir)
      df.collect()
      val executed = df.queryExecution.executedPlan
      val joins = allNodes(executed).collect { case j: BaseJoinExec => j }
      assert(joins.length == 1, s"$dir: expected one train x eval join:\n$executed")
      val j = joins.head
      j match {
        case h: HashJoin =>
          val build = if (h.buildSide == BuildLeft) j.left else j.right
          // the is_eval branch is the one that names its document eval_doc
          assert(build.output.exists(_.name == "eval_doc"),
            s"$dir: join builds on ${h.buildSide}, the train side:\n$executed")
        case other => fail(s"$dir: not a hash join: ${other.nodeName}\n$executed")
      }
      val keyTypes = (j.leftKeys ++ j.rightKeys).map(_.dataType)
      assert(keyTypes.nonEmpty && keyTypes.forall(_ == LongType),
        s"$dir: join keys are not all LongType: $keyTypes")
    }
  }

  test("llm_dedup_minhash_lsh: the band self-join is a sort-merge join") {
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
    val df = run("llm_dedup_minhash_lsh")
    df.collect()
    val executed = df.queryExecution.executedPlan
    val bandJoins = allNodes(executed).collect { case j: BaseJoinExec
      if j.leftKeys.flatMap(_.references.map(_.name)).toSet == Set("band", "bv") => j }
    assert(bandJoins.length == 1, s"expected one (band, bv) join:\n$executed")
    assert(bandJoins.head.isInstanceOf[SortMergeJoinExec],
      s"band join is a ${bandJoins.head.nodeName}:\n$executed")
  }

  test("merge_upsert plans a single full-outer join on the key") {
    val df = run("merge_upsert")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("FullOuter"), s"merge is not a full-outer join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("join_dpp_partitioned injects a dynamic partition filter into the fact scan") {
    val df = run("join_dpp_partitioned")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the ONLY filter on the fact is the runtime one DPP derives from
    // the broadcast dim side — no static partition predicate exists
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim side not broadcast:\n$p")
    // …and the pruning actually happened: the fact has 5 priority
    // partitions, the runtime filter admits 2 (urgency_rank <= 2).
    // Read the scan's driver metric, not just the plan string.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val factScan = leafScans(df) { case f: FileSourceScanExec => f }
      .find(_.partitionFilters.nonEmpty)
      .getOrElse(fail("no partitioned fact scan in the executed plan"))
    val read = factScan.metrics("numPartitions").value
    assert(read == 2, s"DPP read $read of 5 fact partitions, expected 2")
  }

  test("win_distinct_running rides one user_id exchange for both windows") {
    val p = plan("win_distinct_running")
    // the explicit user_id repartition satisfies the (user, type)
    // window's clustering too — a second hash exchange means the
    // one-exchange chain broke
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected one user_id hash exchange, got $hashEx:\n$p")
    assert(!p.contains("collect_set"), "distinct-so-far must not hold sets per row")
  }

  test("inventory-wide join lint: no cartesian anywhere; nested-loop only in declared keys") {
    // Global anti-pattern gate generalizing the per-key spot checks
    // above: at 100 TB an un-broadcast all-pairs join is the one plan
    // shape that never survives, so every key's physical plan is linted
    // and any BroadcastNestedLoopJoin must be on this list with its
    // justification (all are broadcast-build fan-outs over a
    // constant-size side — digests, hyperplanes, centroids — which stay
    // O(1) per row at any corpus size; verified BuildRight in the
    // round-11 plan audit). A CartesianProduct (the NON-broadcast
    // replicate-both-sides fallback) is allowed only where the
    // cartesian IS the operator.
    val nljOk = Map(
      "join_cross" -> "the cartesian IS the operator",
      "join_theta_nested_loop" -> "deliberate θ-join demo (PlanSuite asserts it)",
      "llm_dedup_embed_prod" -> "64-row broadcast hyperplane fan-out",
      "llm_simsearch_ivf" -> "broadcast coarse-centroid table fan-out",
      "llm_simsearch_lsh" -> "broadcast hyperplane fan-out",
      "dq_expectations" -> "broadcast one-row corpus digest",
      "llm_perplexity_buckets" -> "broadcast one-row corpus digest",
      "llm_rank_bm25" -> "broadcast one-row avgdl digest",
      "llm_unigram_nll" -> "broadcast one-row corpus-total digest",
      "llm_text_editdist" -> "broadcast bounded candidate set (θ: d1 < d2)")
    val cartOk = Set("join_cross")
    // Streaming keys excluded: their fn() runs the whole stream and
    // returns a batch scan of the sink — the join shapes live inside
    // the stream (asserted in StreamingSuite) and re-running every
    // stream here would double the suite wall for a scan-only plan.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.startsWith("stream_"))
      .flatMap { case (name, fn) =>
        val p = fn(spark, SF).queryExecution.executedPlan.toString
        val cart =
          if (p.contains("CartesianProduct") && !cartOk(name))
            Seq(s"$name: CartesianProduct") else Nil
        val nlj =
          if (p.contains("BroadcastNestedLoopJoin") && !nljOk.contains(name))
            Seq(s"$name: BroadcastNestedLoopJoin") else Nil
        cart ++ nlj
      }
    assert(offenders.isEmpty,
      s"un-whitelisted all-pairs join shapes:\n${offenders.mkString("\n")}")
  }

  test("sql_pipe_syntax plans like the plain spelling: pushdown, hash agg, no extra shuffle") {
    // The optimized plans differ only in WHERE the decimal cast sits (the
    // pipe EXTEND stage projects it; the plain spelling folds it into the
    // aggregate) — assert structural equivalence of everything that costs:
    // pushed quantity filter, two-phase hash aggregate, equal exchange count.
    val pipe = run("sql_pipe_syntax")
    spark.read.parquet(s"$SF/lineitem.parquet")
      .createOrReplaceTempView("graft_pipe_plain_l")
    val plain = spark.sql(
      "SELECT l_returnflag, COUNT(*) AS n_items, " +
        "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM graft_pipe_plain_l WHERE l_quantity >= 30 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
    val (pp, lp) = (pipe.queryExecution.executedPlan.toString,
      plain.queryExecution.executedPlan.toString)
    assert(pp.contains("PushedFilters:") && pp.contains("l_quantity"),
      s"pipe query lost the scan pushdown:\n$pp")
    assert(pp.contains("HashAggregate"))
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    assert(exchanges(pp) == exchanges(lp),
      s"pipe plan shuffles differently than plain plan:\n$pp\n$lp")
  }

  test("sessionWithExtensions: 6-arg ctor resolves, parent confs carry over") {
    // pin the reflective seam against Spark version drift
    assert(classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.exists(_.getParameterCount == 6),
      "classic SparkSession 6-arg constructor is gone — update Shim")
    // a FRESH parent (siblings are memoized per parent — the suite's
    // shared session may already have a sibling built without this conf)
    val parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "7")
    parent.conf.set("graft.test.carryover", "yes")
    val sib = GraftSession.sibling(parent, extensions = true)
    assert(sib ne parent)
    assert(sib.conf.get("spark.sql.shuffle.partitions") == "7",
      "parent's SET session confs must carry into the sibling")
    assert(sib.conf.get("graft.test.carryover") == "yes")
    // memoized: second call returns the same sibling
    assert(GraftSession.sibling(parent, extensions = true) eq sib)
    // and the sibling carries the injected SQL function registration
    assert(sib.sql("""SELECT graft_dot(CAST(array(1,2) AS ARRAY<FLOAT>),
                     |CAST(array(3,4) AS ARRAY<FLOAT>))""".stripMargin)
      .head().getDouble(0) == 11.0)
  }
}
