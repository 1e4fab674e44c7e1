package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable DataFrame-level operators — the library surface a user calls
  * on their own frames (the `SparkEntry.queries` entries bind these to
  * the fixture tables). Each documents its shuffle/scale shape.
  */
object Api {

  /** As-of join: for each left row, the single latest right row with
    * `rightOn < leftOn` within the same `key`. One shuffle on the equi
    * key; the window dedup reuses that partitioning. The equi key is
    * mandatory — it is what keeps the join from degenerating into a
    * cross product at scale (SURVEY §7.4). */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftOn: String, rightOn: String, leftPk: String, rightPk: String): DataFrame = {
    val l = left.as("l")
    val r = right.as("r")
    val w = Window.partitionBy(col(s"l.$leftPk"))
      .orderBy(col(s"r.$rightOn").desc, col(s"r.$rightPk").desc)
    l.join(r, col(s"l.$key") === col(s"r.$key") && col(s"r.$rightOn") < col(s"l.$leftOn"))
      .withColumn("graft_asof_rn", row_number().over(w))
      .where(col("graft_asof_rn") === 1)
      .drop("graft_asof_rn")
  }

  /** As-of join, NEAREST direction (pandas/polars merge_asof
    * `direction='nearest'`): for each left row, the single right row in
    * the same `key` minimizing |leftOn − rightOn|, ties to the earlier
    * right time then the smaller right pk — a total order, so the pick
    * is deterministic. Same scale shape as [[asofJoin]]: one shuffle on
    * the equi key, window dedup reuses it; per-probe candidates are the
    * key's own right rows (band-block first when keys are long-lived). */
  def asofJoinNearest(left: DataFrame, right: DataFrame, key: String,
      leftOn: String, rightOn: String, leftPk: String, rightPk: String): DataFrame = {
    val l = left.as("l")
    val r = right.as("r")
    val w = Window.partitionBy(col(s"l.$leftPk"))
      .orderBy(abs(col(s"r.$rightOn") - col(s"l.$leftOn")).asc,
        col(s"r.$rightOn").asc, col(s"r.$rightPk").asc)
    l.join(r, col(s"l.$key") === col(s"r.$key"))
      .withColumn("graft_asof_rn", row_number().over(w))
      .where(col("graft_asof_rn") === 1)
      .drop("graft_asof_rn")
  }

  /** Resample a keyed event stream onto a fixed-width time grid with
    * last-observation-carried-forward. `timeCol`/`pkCol` must be a
    * unique total order per key (the per-bucket "last" is a struct-max
    * over them, so the carried value is deterministic and never
    * arithmetically touched). Output: key, bucket, locf_value, observed.
    * Grid rows = keys × span-buckets; every shuffle is on the key. */
  def resampleLocf(df: DataFrame, key: String, timeCol: String,
      pkCol: String, valueCol: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val e = df.select(col(key), col(timeCol), col(pkCol), col(valueCol),
      (col(timeCol) - pmod(col(timeCol), lit(bucketWidth))).as("graft_bucket"))
    val hv = e.groupBy(key, "graft_bucket")
      .agg(max(struct(col(timeCol), col(pkCol), col(valueCol)))
        .getField(valueCol).as("graft_hv"))
    val grid = hv.groupBy(key)
      .agg(min(col("graft_bucket")).as("b0"), max(col("graft_bucket")).as("b1"))
      .select(col(key),
        explode(expr(s"sequence(b0, b1, ${bucketWidth}L)")).as("graft_bucket"))
    val w = Window.partitionBy(key).orderBy("graft_bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hv, Seq(key, "graft_bucket"), "left_outer")
      .select(col(key), col("graft_bucket").as("bucket"),
        last(col("graft_hv"), ignoreNulls = true).over(w).as("locf_value"),
        col("graft_hv").isNotNull.as("observed"))
  }

  /** Deterministic top-k rows per group (ties broken by `tiebreak`). */
  def topKPerGroup(df: DataFrame, k: Int, partitionBy: Seq[Column],
      orderBy: Seq[Column]): DataFrame = {
    require(k >= 1, s"topKPerGroup needs k >= 1, got $k")
    require(partitionBy.nonEmpty && orderBy.nonEmpty,
      "topKPerGroup needs partition and order columns")
    df.withColumn("graft_rank",
        row_number().over(Window.partitionBy(partitionBy: _*).orderBy(orderBy: _*)))
      .where(col("graft_rank") <= k)
  }

  /** Native per-group top-k through the custom TopKPerGroup LogicalPlan +
    * SparkStrategy + SparkPlan (graft.plans.topk): one clustering
    * exchange, then a streaming bounded-heap pass — O(n log k) and
    * O(groups × k) memory instead of the Window spelling's full
    * per-partition sort. Same rows as [[topKPerGroup]] (minus the rank
    * column); equivalence is suite-asserted. */
  /** `orderBy` is (column, descending). Columns are plain names —
    * resolved by the analyzer against the child (Spark-4 `Column`s are
    * ColumnNode-backed and only resolve through Dataset operations, so
    * a hand-built plan takes UnresolvedAttributes). */
  def topKPerGroupNative(df: DataFrame, k: Int, groupBy: Seq[String],
      orderBy: Seq[(String, Boolean)]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    import org.apache.spark.sql.graftshim.Shim
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKStrategy
    val orders = orderBy.map { case (name, desc) =>
      SortOrder(UnresolvedAttribute.quoted(name), if (desc) Descending else Ascending)
    }
    Shim.ofRows(spark, graft.plans.TopKPerGroup(
      k, groupBy.map(UnresolvedAttribute.quoted), orders, df.queryExecution.logical))
  }

  /** Gap-based sessionization over an integer-µs event-time column.
    * Output adds a `session_id` (per-key ordinal). Scales by key — the
    * window shuffles once on `key`. */
  def sessionize(df: DataFrame, key: String, usCol: String, gapUs: Long): DataFrame = {
    require(gapUs > 0, s"session gap must be positive, got $gapUs")
    val byTime = Window.partitionBy(col(key)).orderBy(col(usCol))
    val flag = when(col(usCol) - lag(col(usCol), 1).over(byTime) >= gapUs, 1L)
      .when(lag(col(usCol), 1).over(byTime).isNull, 1L)
      .otherwise(0L)
    df.withColumn("graft_new_session", flag)
      .withColumn("session_id",
        sum(col("graft_new_session")).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("graft_new_session")
  }

  /** Exact near-duplicate pairs by k-shingle Jaccard >= num/den.
    * A document's shingles are its distinct (g1, g2) fingerprints
    * ([[shingleFingerprints]]). Candidates are the pairs sharing >= 1
    * fingerprint (sound for any threshold > 0), found by an equi-join on
    * the two LongType lanes; [[jaccardPairs]] verifies them with exact
    * integer Jaccard. Fingerprint sets equal the distinct-shingle sets
    * unless two distinct shingles collide on BOTH seeded xxhash64 lanes:
    * for documents of m and n shingles that is one 128-bit collision
    * among m·n pairs, probability about m·n / 2^128 (below 10^-30 even
    * at 10^4 shingles per side), so the pairs, `inter` and `uni` are the
    * string-shingle answer. At 100 TB swap the candidate stage for
    * MinHash banding (same verification). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, num: Int, den: Int): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    require(num >= 1 && den >= num,
      s"Jaccard threshold num/den must satisfy 0 < num/den <= 1, got $num/$den")
    val fp = shingleFingerprints(T.fan(docs, idCol), idCol, textCol, k)
    // the fan's doc_id partitioning satisfies the pair aggregate, so it
    // shares the fingerprint explode's stage; an explicit repartition
    // (never coalesced by AQE) ends that stage, or a downstream range
    // sort's sampling job would re-run the explode and the probe
    val inter = fp.as("a").join(fp.as("b"), col("a.g1") === col("b.g1") &&
        col("a.g2") === col("b.g2") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("d1"), col("d2"))
    jaccardPairs(inter, fp, num, den)
  }

  /** `(doc_id, g1, g2)`: one row per distinct k-token shingle
    * fingerprint of each document (graft.plans.ShingleHashPairs; texts
    * of fewer than k tokens have none). The explode runs over the kernel
    * call itself, not over a column holding its result: for an explode
    * of a column Catalyst infers a `size(col) > 0` filter, and pushdown
    * copies the kernel into that filter, so it would run twice per
    * document. */
  private[graft] def shingleFingerprints(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.plans.expressions.shingleHashPairs(col(textCol), k)).as("p"))
      .select(col("doc_id"), col("p.g1").as("g1"), col("p.g2").as("g2"))

  /** The `(d1, d2, inter)` shared-fingerprint counts whose Jaccard
    * inter / uni >= num/den, exact in integers; `uni` adds the two
    * documents' fingerprint counts in `fp` and subtracts `inter`. Output
    * `(d1, d2, inter, uni, jaccard)`. */
  private[graft] def jaccardPairs(inter: DataFrame, fp: DataFrame,
      num: Int, den: Int): DataFrame = {
    val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    inter.join(sz.toDF("d1", "sz1"), "d1").join(sz.toDF("d2", "sz2"), "d2")
      .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
      .where(col("inter") * den >= col("uni") * num)
      .select(col("d1"), col("d2"), col("inter"), col("uni"),
        (col("inter") / col("uni")).as("jaccard"))
  }

  /** EXACT cosine top-k with a recall-complete branch-and-bound cell
    * pruning stage — the scored scale path (no nested-loop join).
    *
    * Geometry: on unit-normalized vectors, cosine order = Euclidean
    * order (d² = 2 − 2·cos), so ball bounds apply. Per cell (the
    * `cellCol` coarse partition, e.g. an IVF/k-means label): centroid c,
    * radius r = max member distance to c, count. For a query q every
    * member m of a cell satisfies d(q,c) − r ≤ d(q,m) ≤ d(q,c) + r
    * (triangle inequality; c need not be unit). Threshold T = smallest
    * upper bound (d+r) whose cumulative cell count reaches k+1 (+1
    * absorbs the query itself when it is among the candidates) — at
    * least k non-self candidates sit within T, so the true kth distance
    * ≤ T, and any cell with d(q,c) − r > T + ε holds only strictly-worse
    * rows and is pruned WITHOUT loss of recall. Final scoring is the
    * same exact-cosine expression as [[cosineTopK]], so results are
    * byte-identical to brute force (equivalence suite-asserted).
    *
    * Plan shape (the point): queries ⨝ one-row cell digest on a constant
    * key (BroadcastHashJoin), explode kept cells, equi-join candidates
    * on the cell id (BroadcastHashJoin on the tiny query×cell side) —
    * NO BroadcastNestedLoopJoin anywhere; the only full-data pass
    * streams candidates through a hash probe. At 100 TB the centroid/
    * radius digest is index-build work: compute once, reuse per query
    * batch; rows scored = members of unpruned cells only, which with a
    * real k-means cell assignment is a small fraction of N per query.
    * Worst case (all cells overlap every query ball) degrades to the
    * full scan — still via the same equi-join, never O(Q·N) join rows
    * materialized through a sort.
    */
  def cosineTopKPruned(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, cellCol: String, k: Int): DataFrame = {
    require(k >= 1, s"cosineTopKPruned needs k >= 1, got $k")
    import graft.plans.expressions.dotF
    val c = candidates.select(col(idCol).as("neighbor"), col(cellCol).as("cell"),
      col(vecCol).as("cv"), Llm.fnorm2(col(vecCol)).as("cn"))
    // per-cell centroid of UNIT members, assembled component-wise
    // (posexplode → avg → re-pack sorted by position). Two linear
    // passes over candidates; at scale this is the reusable index build.
    val cent = c.select(col("cell"), col("cn"), posexplode(col("cv")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg(avg(col("v") / sqrt(col("cn"))).as("m"))
      .groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m").cast("float")).as("cent"))
    // unit-member distance to centroid without materializing unit
    // vectors: d² = 1 − 2·(cv·cent)/|cv| + |cent|²
    val cellStats = c.join(broadcast(cent), "cell")
      .withColumn("cn2", dotF(col("cent"), col("cent")))
      .withColumn("d", sqrt(greatest(lit(0.0),
        lit(1.0) - lit(2.0) * dotF(col("cv"), col("cent")) / sqrt(col("cn")) + col("cn2"))))
      .groupBy("cell").agg(count(lit(1)).as("cnt"), max(col("d")).as("r"),
        first(col("cent")).as("cent"), first(col("cn2")).as("cn2"))
    // The join key must be NON-FOLDABLE on both sides: lit(1)===lit(1)
    // constant-folds to `true` (and isNotNull on a non-nullable column
    // simplifies to a literal too), degrading the equi-join to a nested
    // loop. pmod(xxhash64(col), 1) always evaluates to 0 but no
    // optimizer rule can fold it, so the planner keeps a
    // BroadcastHashJoin on the one-row digest.
    def zeroKey(c: Column): Column = pmod(xxhash64(c), lit(1L)).cast("int")
    val cellsAgg = cellStats
      .agg(collect_list(struct(col("cell"), col("cnt"), col("cent"), col("cn2"), col("r"))).as("cells"))
      .withColumn("one", zeroKey(size(col("cells"))))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
        Llm.fnorm2(col(vecCol)).as("qn"))
      .withColumn("one", zeroKey(col("qid")))
    // constant-key equi-join against the ONE-ROW digest: planned as a
    // BroadcastHashJoin, not a nested loop. The per-query HOFs below run
    // interpreted but over ncells elements only.
    val qstats = q.join(broadcast(cellsAgg), "one")
      .withColumn("st", transform(col("cells"), cl =>
        struct(cl.getField("cell").as("cell"), cl.getField("cnt").as("cnt"),
          sqrt(greatest(lit(0.0),
            lit(1.0) - lit(2.0) * dotF(col("qv"), cl.getField("cent")) / sqrt(col("qn"))
              + cl.getField("cn2"))).as("dc"),
          cl.getField("r").as("r"))))
      // T = min (dc_i + r_i) whose cumulative count (over cells with a
      // smaller-or-equal upper bound) reaches k+1; null (fewer than k+1
      // candidates in total) → keep everything
      .withColumn("thr", coalesce(
        array_min(transform(col("st"), x =>
          when(aggregate(col("st"), lit(0L), (acc, y) =>
            acc + when(y.getField("dc") + y.getField("r")
              <= x.getField("dc") + x.getField("r"), y.getField("cnt"))
              .otherwise(lit(0L))) >= lit(k + 1L),
            x.getField("dc") + x.getField("r")))),
        lit(Double.MaxValue)))
    val qkeep = qstats
      .select(col("qid"), col("qv"), col("qn"),
        explode(filter(col("st"), x =>
          x.getField("dc") - x.getField("r") <= col("thr") + lit(1e-9))).as("kc"))
      .select(col("qid"), col("qv"), col("qn"), col("kc").getField("cell").as("cell"))
    // stream candidates through a hash probe of the tiny (qid, cell) set
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor"))
    c.join(broadcast(qkeep), "cell")
      .where(col("neighbor") =!= col("qid"))
      .withColumn("cos", Llm.fdot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor"), col("cos"))
  }

  /** Brute-force cosine top-k neighbors of `queries` among `candidates`
    * (both: id + float-vector). Test-only equivalence baseline for
    * [[cosineTopKPruned]] — the all-pairs non-equi join is O(Q·N) rows
    * through a BroadcastNestedLoopJoin and does not scale. */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"cosineTopK needs k >= 1, got $k")
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      Llm.fnorm2(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("neighbor"), col(vecCol).as("cv"),
      Llm.fnorm2(col(vecCol)).as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("neighbor"))
    q.join(c, col("neighbor") =!= col("qid"))
      .withColumn("cos", Llm.fdot(col("qv"), col("cv")) / (sqrt(col("qn")) * sqrt(col("cn"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("neighbor"), col("cos"))
  }
}
