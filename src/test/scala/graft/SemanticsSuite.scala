package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Per-operator semantic assertions against independently computed truth
  * (Scala re-computation over the same fixtures — not the query path).
  */
class SemanticsSuite extends SparkSuiteBase {

  private lazy val lineitem = T(spark, SF, "lineitem").collect()
  private lazy val orders = T(spark, SF, "orders").collect()

  test("sort_limit_topk == sort-take-k recomputed") {
    val got = run("sort_limit_topk").collect().map(r => (r.getLong(0), r.getInt(1)))
    val want = lineitem
      .map(r => (r.getAs[Double]("l_extendedprice"), r.getAs[Long]("l_orderkey"), r.getAs[Int]("l_linenumber")))
      .sortBy { case (p, o, l) => (-p, o, l) }.take(10).map(t => (t._2, t._3))
    assert(got.toSeq == want.toSeq)
  }

  test("join_left_outer covers every customer with exact order counts") {
    val df = run("join_left_outer")
    assert(df.count() == T(spark, SF, "customer").count())
    val want = orders.groupBy(_.getAs[Long]("o_custkey")).view.mapValues(_.length.toLong).toMap
    df.collect().foreach { r =>
      assert(r.getAs[Long]("n_orders") == want.getOrElse(r.getAs[Long]("c_custkey"), 0L))
    }
  }

  test("join_semi and join_anti partition orders / customers correctly") {
    val semi = run("join_semi").select("o_orderkey").collect().map(_.getLong(0)).toSet
    val withBig = lineitem.filter(_.getAs[Double]("l_quantity") > 45)
      .map(_.getAs[Long]("l_orderkey")).toSet
    assert(semi == withBig.intersect(orders.map(_.getAs[Long]("o_orderkey")).toSet))
    val anti = run("join_anti").select("c_custkey").collect().map(_.getLong(0)).toSet
    val withUrgent = orders.filter(_.getAs[String]("o_orderpriority") == "1-URGENT")
      .map(_.getAs[Long]("o_custkey")).toSet
    assert(anti.intersect(withUrgent).isEmpty)
    assert(anti.nonEmpty)
  }

  test("join_asof picks the latest prior view per purchase") {
    val events = T.eventsUs(spark, SF).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("us")))
    val got = run("join_asof").collect()
      .map(r => r.getAs[Long]("purchase_id") -> r.getAs[Long]("view_id")).toMap
    val purchases = events.filter(_._3 == "purchase")
    val views = events.filter(_._3 == "view")
    val want = purchases.flatMap { case (pid, u, _, pus) =>
      val prior = views.filter(v => v._2 == u && v._4 < pus)
      if (prior.isEmpty) None
      else Some(pid -> prior.maxBy(v => (v._4, v._1))._1)
    }.toMap
    assert(got == want)
  }

  test("agg_groupby_hash sums match direct recomputation") {
    // parquet timestamps here are NTZ → Spark 4 surfaces LocalDateTime
    val cutoff = java.time.LocalDateTime.parse("2000-01-01T00:00:00")
    val want = lineitem
      .filter(r => !r.getAs[java.time.LocalDateTime]("l_shipdate").isAfter(cutoff))
      .groupBy(r => (r.getAs[String]("l_returnflag"), r.getAs[String]("l_linestatus")))
      .map { case (k, rs) =>
        k -> (rs.map(r => BigDecimal(r.getAs[Double]("l_quantity")).setScale(2)).sum, rs.size.toLong)
      }
    val got = run("agg_groupby_hash").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getAs[Double]("sum_qty"), r.getAs[Long]("count_order")))
      .toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (sq, n)) =>
      assert(got(k)._1 == sq.toDouble, s"sum_qty mismatch at $k")
      assert(got(k)._2 == n, s"count mismatch at $k")
    }
  }

  test("agg_histogram buckets partition all orders") {
    val df = run("agg_histogram")
    assert(df.agg(sum("n")).collect().head.getLong(0) == orders.length.toLong)
  }

  test("agg_approx_distinct within 15% of exact") {
    val approx = run("agg_approx_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = T(spark, SF, "events").groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(1, n * 0.15), s"$k: ${approx(k)} vs $n")
    }
  }

  test("agg_rollup grand total row counts all customers") {
    val grand = run("agg_rollup").where(col("gid") === 3).collect()
    assert(grand.length == 1)
    assert(grand.head.getAs[Long]("n_cust") == T(spark, SF, "customer").count())
  }

  test("win_rank_topk_per_group emits at most 3 rows per customer, rank-dense") {
    val rows = run("win_rank_topk_per_group").collect()
      .map(r => (r.getAs[Long]("o_custkey"), r.getAs[Int]("rn")))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.length <= 3)
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length))
    }
  }

  test("win_running_sum final value equals per-customer total") {
    val last = run("win_running_sum").collect()
      .groupBy(_.getAs[Long]("o_custkey"))
      .map { case (c, rs) =>
        // window order is (order_date, orderkey) — take the true last row
        c -> rs.maxBy(r => (r.getAs[java.sql.Date]("order_date").getTime,
          r.getAs[Long]("o_orderkey"))).getAs[Double]("cum_spend")
      }
    val want = orders.groupBy(_.getAs[Long]("o_custkey")).map { case (c, rs) =>
      c -> rs.map(r => BigDecimal(r.getAs[Double]("o_totalprice")).setScale(2)).sum.toDouble
    }
    assert(last == want)
  }

  test("set ops: union counts add, intersect ⊆ both, except ∩ intersect = ∅") {
    val union = run("set_union_all").agg(sum("n")).collect().head.getLong(0)
    assert(union == T(spark, SF, "customer").count() + T(spark, SF, "supplier").count())
    val inter = run("set_intersect").collect().map(_.getInt(0)).toSet
    val exc = run("set_except").collect().map(_.getInt(0)).toSet
    assert(inter.intersect(exc).isEmpty)
    val custNk = T(spark, SF, "customer").select("c_nationkey").collect().map(_.getInt(0)).toSet
    assert(inter.subsetOf(custNk) && exc.subsetOf(custNk))
  }

  test("stream_session_window conserves rows and respects the 30-min gap") {
    val sessions = run("stream_session_window").collect()
    val total = sessions.map(_.getAs[Long]("n_events")).sum
    assert(total == T(spark, SF, "events").count())
    sessions.groupBy(_.getAs[Long]("user_id")).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("start_us"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // next session starts only after the previous end (= last+gap)
          assert(b.getAs[Long]("start_us") >= a.getAs[Long]("end_us"))
        case _ =>
      }
    }
  }

  test("agg_hll_sketch: union row within 15% of exact global distinct users") {
    val rows = run("agg_hll_sketch").collect()
      .map(r => r.getAs[String]("event_type") -> r.getAs[Long]("approx_users")).toMap
    val exactAll = T(spark, SF, "events").select("user_id").distinct().count()
    assert(math.abs(rows("ALL") - exactAll) <= math.max(1, exactAll * 0.15),
      s"union estimate ${rows("ALL")} vs exact $exactAll")
    // merging per-type sketches must not lose users: the union estimate
    // is >= any single type's estimate
    rows.filter(_._1 != "ALL").values.foreach(v => assert(rows("ALL") >= v * 0.85))
  }

  test("agg_quantile_sketch: estimates within the 2^-5 relative-error bound of exact percentiles") {
    val rows = run("agg_quantile_sketch").collect()
      .map(r => r.getAs[String]("grp") ->
        (r.getAs[Double]("p50_est"), r.getAs[Double]("p90_est"), r.getAs[Double]("p99_est"))).toMap
    val li = T(spark, SF, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_returnflag").as("grp"),
        org.apache.spark.sql.functions.col("l_extendedprice").as("x"))
    def exact(grpFilter: Option[String], q: Double): Double = {
      val d = grpFilter.fold(li)(g => li.where(org.apache.spark.sql.functions.col("grp") === g))
      d.selectExpr(s"percentile(x, $q)").first().getDouble(0)
    }
    for ((g, (p50, p90, p99)) <- rows) {
      val f = if (g == "ALL") None else Some(g)
      for ((est, q) <- Seq((p50, 0.5), (p90, 0.9), (p99, 0.99))) {
        val ex = exact(f, q)
        // bucket lower bound: est <= exact-ish, and within one bucket
        // width (rel err 1/32) below it
        assert(est <= ex * 1.001 && est >= ex * (1 - 1.0 / 32) * 0.999,
          s"$g q=$q est=$est exact=$ex")
      }
    }
  }

  test("agg_cms_heavy_hitters: estimates never undercount and stay within the collision bound") {
    val rows = run("agg_cms_heavy_hitters").collect()
    assert(rows.length == 10)
    val totalTokens = T(spark, SF, "documents")
      .selectExpr("size(split(text, ' ')) AS n").agg(Map("n" -> "sum"))
      .first().getLong(0)
    rows.foreach { r =>
      val exact = r.getAs[Long]("exact_cnt")
      val est = r.getAs[Long]("cms_est")
      // CMS fundamental guarantee: min over rows never undercounts
      assert(est >= exact, s"${r.getAs[String]("token")}: est $est < exact $exact")
      // and the overcount is at most the row's collision mass — use the
      // loose deterministic ceiling 2n/w (w = 256); the measured
      // overshoot at fixture scale is far below it
      assert(est - exact <= 2 * totalTokens / 256 + 1,
        s"${r.getAs[String]("token")}: overcount ${est - exact} vs n=$totalTokens")
    }
    // the verifier's top-10 must be the exact token frequencies
    val sorted = rows.map(_.getAs[Long]("exact_cnt")).toSeq
    assert(sorted == sorted.sortBy(-(_: Long)))
  }

  test("merge_upsert action counts match the derived change set") {
    val rows = run("merge_upsert").collect()
    val byAction = rows.groupBy(_.getAs[String]("action")).view.mapValues(_.length).toMap
    val keys = orders.map(_.getAs[Long]("o_orderkey"))
    assert(byAction.getOrElse("updated", 0) == keys.count(_ % 100 == 0))
    assert(byAction.getOrElse("inserted", 0) == keys.count(_ % 100 == 7))
    assert(rows.length == keys.length + byAction.getOrElse("inserted", 0))
    // updated rows actually carry the bumped price
    val prices = orders.map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Double]("o_totalprice")).toMap
    rows.filter(_.getAs[String]("action") == "updated").take(20).foreach { r =>
      val k = r.getAs[Long]("o_orderkey")
      val want = math.floor(prices(k) * 1.1 * 100 + 0.5) / 100
      assert(r.getAs[Double]("o_totalprice") == want)
    }
  }

  test("graph_pagerank: ranks bounded, mass conserved within integer-floor loss") {
    val rows = run("graph_pagerank").collect()
    val n = rows.length.toLong
    val total = rows.map(_.getAs[Long]("pr")).sum
    // every node: base 150000 plus non-negative contributions
    rows.foreach(r => assert(r.getAs[Long]("pr") >= 150000L))
    // per iteration each unit of rank re-emits <= 85%, so total mass is
    // bounded by the damped geometric sum and never exceeds the start
    assert(total <= n * 1000000L)
    assert(total >= n * 150000L)
    // bipartite node ids: customers even, suppliers odd — both present
    assert(rows.exists(_.getAs[Long]("node") % 2 == 0))
    assert(rows.exists(_.getAs[Long]("node") % 2 == 1))
  }

  test("sql_pipe_syntax result equals the plain GROUP BY spelling") {
    val pipe = run("sql_pipe_syntax").collect()
    val plain = spark.read.parquet(s"$SF/lineitem.parquet")
      .where("l_quantity >= 30")
      .selectExpr("l_returnflag", "CAST(l_extendedprice AS DECIMAL(18,2)) AS price")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.expr("COUNT(*) AS n_items"),
        org.apache.spark.sql.functions.expr("CAST(SUM(price) AS DOUBLE) AS revenue"))
      .orderBy("l_returnflag").collect()
    assert(pipe.toSeq == plain.toSeq)
  }

  test("catalog_table_lifecycle: result survives, intermediates are dropped") {
    val got = run("catalog_table_lifecycle").collect()
    assert(got.nonEmpty)
    // derived truth: the same aggregate straight off the fixture
    val expect = T(spark, SF, "orders")
      .where(expr("CAST(o_totalprice AS DECIMAL(18,2)) >= 100000"))
      .groupBy("o_orderstatus")
      .agg(expr("COUNT(*) AS n"),
        expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total"))
      .orderBy("o_orderstatus").collect()
    assert(got.toSeq == expect.toSeq)
    // lifecycle contract: the DDL intermediates must be GONE, the result
    // table must remain (and carry the data, not a dangling view)
    val cat = spark.catalog
    assert(!cat.tableExists("graft_lc_orders_stage"))
    assert(!cat.tableExists("graft_lc_orders"))
    assert(!cat.tableExists("graft_lc_by_status"))
    assert(cat.tableExists("graft_lc_result"))
    // idempotence: a second run in the same session must succeed and agree
    assert(run("catalog_table_lifecycle").collect().toSeq == expect.toSeq)
  }

  test("llm_dedup_embed guardrail refuses over-budget all-pairs runs") {
    // normal run at fixture scale: under budget, notes the estimate
    assert(run("llm_dedup_embed").columns.contains("cos_sim"))
    val note = Diag.notes.get("llm_dedup_embed_guard")
    assert(note.exists(_.contains("pairs=")), s"guard note missing: $note")
    // force the budget below the fixture's pair count → builder must
    // refuse at PLAN time (before any job), pointing at the prod variant
    val key = "graft.embed.allpairs.max"
    sys.props(key) = "10"
    try {
      val ex = intercept[IllegalArgumentException](run("llm_dedup_embed"))
      assert(ex.getMessage.contains("llm_dedup_embed_prod"))
      assert(ex.getMessage.contains(key))
    } finally sys.props.remove(key)
  }

  test("join_null_safe keeps the NULL<=>NULL group a plain = join drops") {
    import org.apache.spark.sql.functions._
    val got = run("join_null_safe").collect()
    // all 25 nations present, total coverage = every customer exactly once
    assert(got.length == T(spark, SF, "nation").count())
    assert(got.map(_.getLong(1)).sum == T(spark, SF, "customer").count())
    // the plain `=` spelling on the same nulled keys loses exactly the
    // nulled group (nation 7's customers)
    val cust = T(spark, SF, "customer")
      .select(nullif(col("c_nationkey"), lit(7)).as("ck"))
    val nat = T(spark, SF, "nation")
      .select(nullif(col("n_nationkey"), lit(7)).as("nk"), col("n_name"))
    val eqGroups = cust.join(nat, col("ck") === col("nk"))
      .select("n_name").distinct().count()
    assert(eqGroups == got.length - 1, "plain = join should drop one group")
  }

  test("set_bag_ops: exceptAll ⊎ intersectAll partitions the left multiset") {
    val got = run("set_bag_ops").collect()
    val byOp = got.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val aCount = lineitem.count { r =>
      val d = r.getAs[java.time.LocalDateTime]("l_shipdate")
      !d.isBefore(java.time.LocalDateTime.parse("1997-01-01T00:00:00")) &&
        d.isBefore(java.time.LocalDateTime.parse("1997-07-01T00:00:00"))
    }
    assert(byOp("except_all") + byOp("intersect_all") == aCount,
      s"bag identity |A\\B| + |A∩B| = |A| violated: $byOp vs $aCount")
    assert(byOp("intersect_all") > 0, "halves should overlap as multisets")
  }

  test("events_sessionize_gap: sessions cover all events, splits only at >4h gaps") {
    val got = run("events_sessionize_gap").collect()
    val events = T.eventsUs(spark, SF).select("user_id", "us").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_.getLong(5)).sum == events.length, "every event in exactly one session")
    // independent recount: sessions per user = 1 + (# gaps > 4h)
    val wantSessions = events.groupBy(_._1).map { case (_, es) =>
      val us = es.map(_._2).sorted
      1 + us.zip(us.drop(1)).count { case (a, b) => b - a > 14400000000L }
    }.sum
    assert(got.length == wantSessions)
    got.foreach { r =>
      assert(r.getLong(3) >= r.getLong(2) && r.getLong(4) == r.getLong(3) - r.getLong(2))
    }
  }

  test("fn_collation folds both case variants into every group") {
    val got = run("fn_collation").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getLong(2) == 2,
        s"collated group ${r.getString(0)} should hold exactly 2 case variants")
      assert(r.getString(0) == r.getString(0).toLowerCase)
    }
  }

  test("sql_scalar_udf inlines: no UDF eval node, result equals the raw expression") {
    import org.apache.spark.sql.functions._
    val df = run("sql_scalar_udf")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"SQL UDF should inline into the plan:\n$plan")
    val direct = T(spark, SF, "lineitem")
      .groupBy("l_returnflag")
      .agg(sum(Det.money12(col("l_extendedprice")) *
          (lit(1.0).cast(org.apache.spark.sql.types.DecimalType(4, 2)) -
            Det.pct(col("l_discount")))).cast("double").as("disc_rev"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(df.collect().toSeq == direct.collect().toSeq)
  }

  test("graph_triangle_count matches a driver-side brute-force enumeration") {
    val got = run("graph_triangle_count").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // rebuild the co-occurrence graph in plain Scala and enumerate
    val li = lineitem.filter(_.getAs[Double]("l_quantity") > 45)
      .map(r => (r.getAs[Long]("l_orderkey"), r.getAs[Long]("l_suppkey")))
      .distinct
    val edges = li.groupBy(_._1).values.flatMap { g =>
      val sk = g.map(_._2).distinct.sorted
      for (i <- sk.indices; j <- i + 1 until sk.size) yield (sk(i), sk(j))
    }.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val want = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- edges; c <- nodes if b < c
      if edges.contains((b, c)) && edges.contains((a, c))
    } { want(a) += 1; want(b) += 1; want(c) += 1 }
    assert(got == want.toMap, s"triangle counts diverge: $got vs $want")
    assert(got.values.sum > 0, "fixture graph should contain triangles")
  }

  test("fn_regexp agrees with a driver-side Java-regex recount") {
    val texts = T(spark, SF, "documents").select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    run("fn_regexp").collect().take(200).foreach { r =>
      val text = texts(r.getLong(0))
      assert(r.getLong(1) == "[aeiou]{2}".r.findAllIn(text).length)
      assert(r.getBoolean(3) == text.contains("spark"))
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(text.replaceAll("[aeiou]", "#").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(4) == md)
    }
  }

  test("fn_try_arithmetic: NULL exactly on the guarded rows (ANSI would throw)") {
    run("fn_try_arithmetic").collect().foreach { r =>
      val k = r.getLong(0)
      assert(r.isNullAt(1) == (k % 3 == 0), s"div3 null-pattern at $k")
      assert(r.isNullAt(2) == (k % 2 == 1), s"add_ovf null-pattern at $k")
      assert(r.isNullAt(3) == (k % 4 == 0), s"mul_ovf null-pattern at $k")
      assert(r.isNullAt(4) == (k % 5 == 0), s"parsed null-pattern at $k")
      if (k % 5 != 0) assert(r.getLong(4) == k)
    }
  }

  test("win_distinct_running: first-seen-flag rewrite == brute-force distinct-so-far") {
    val events = T.eventsUs(spark, SF).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[String]("event_type"), r.getAs[Long]("us")))
    val want = events.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val ordered = rows.sortBy(r => (r._4, r._2))
      val seen = scala.collection.mutable.Set[String]()
      ordered.map { r => seen += r._3; (r._1, r._2, seen.size.toLong) }
    }.sortBy(r => (r._1, r._2))
    val got = run("win_distinct_running").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want)
  }

  test("agg_bitmap_distinct: bitmap popcount sum == exact countDistinct") {
    val got = run("agg_bitmap_distinct").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = lineitem.groupBy(_.getAs[String]("l_returnflag"))
      .view.mapValues(_.map(_.getAs[Long]("l_partkey")).distinct.length.toLong)
      .toMap
    assert(got == want)
  }

  test("agg_mode: max_by(struct(cnt, -qty)) == brute-force mode, smallest value on ties") {
    val got = run("agg_mode").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val want = lineitem.groupBy(_.getAs[String]("l_returnflag")).toSeq
      .map { case (flag, rows) =>
        val counts = rows.groupBy(_.getAs[Double]("l_quantity"))
          .view.mapValues(_.length.toLong)
        val (q, n) = counts.toSeq.minBy { case (v, c) => (-c, v) }
        (flag, q, n)
      }.sortBy(_._1)
    assert(got == want)
  }
}
