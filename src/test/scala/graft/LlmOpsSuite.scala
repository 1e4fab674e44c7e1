package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** LLM-pipeline operator semantics: dedup family cross-checks, similarity
  * ordering invariants, text-analysis bounds (SURVEY §2.10).
  */
class LlmOpsSuite extends SparkSuiteBase {

  test("llm_semdedup: removals are canonical, cluster-scoped, and aug-complete") {
    val rows = run("llm_semdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "no removals — aug near-dups missing, test vacuous")
    // canonical keeper: every removed vec cites a SMALLER surviving id
    val removed = rows.map(_._1).toSet
    rows.foreach { case (vec, _, canon, nDups) =>
      assert(canon < vec, s"canon $canon !< removed $vec")
      assert(nDups >= 1)
    }
    // min-id-keeps: a cited canon that is itself removed must cite an
    // even smaller id (chains allowed, self-cycles impossible by <)
    // and the overall minimum id can never be removed
    assert(!removed.contains(rows.map(_._3).min))
    // aug-completeness: every augmented vector assigned to its source's
    // cluster is a 0.995-cosine near-dup of it and MUST be removed
    // (aug ids are source + offset, so the source is always smaller)
    val augBase = graft.ops.Params.EmbedAugOffset
    val augRemoved = rows.filter(_._1 >= augBase)
    assert(augRemoved.nonEmpty, "no augmented vector was deduplicated")
    // each removed aug's canon is a base vector (min over near-dups
    // always reaches below the aug id range)
    augRemoved.foreach { case (vec, _, canon, _) =>
      assert(canon < augBase,
        s"aug $vec kept an aug-range canon $canon — min-id rule broken") }
  }

  test("llm_dedup_substring matches a brute-force gram-set cross-check") {
    val L = graft.ops.Params.SubstrGramLen
    val docs = T(spark, SF, "documents").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    def grams(t: String): Set[String] =
      if (t.length < L) Set.empty
      else (0 to t.length - L).iterator.map(i => t.substring(i, i + L)).toSet
    val gsets = docs.map { case (id, t) => id -> grams(t) }
    val expected = (for {
      i <- gsets.indices.iterator
      j <- (i + 1) until gsets.length
      (a, ga) = gsets(i); (b, gb) = gsets(j)
      shared = if (ga.size <= gb.size) ga.count(gb) else gb.count(ga)
      if shared > 0
    } yield ((a, b), shared.toLong)).toMap
    val got = run("llm_dedup_substring").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == expected,
      s"pair sets differ: only-spark=${(got.keySet -- expected.keySet).take(5)}, " +
        s"only-brute=${(expected.keySet -- got.keySet).take(5)}")
    assert(expected.nonEmpty, "fixture yields no shared-substring pairs — test is vacuous")
  }

  test("native DotProductF expression matches the loop-UDF reference bit-exactly and codegens") {
    val e = T(spark, SF, "embeddings")
    val df = e.select(
      graft.ops.Llm.fnorm2(col("embedding")).as("native"),
      graft.ops.Llm.fdotUdfReference(col("embedding"), col("embedding")).as("ref"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    val selfOnly = e.select(graft.ops.Llm.fnorm2(col("embedding")).as("n2"))
    selfOnly.collect()
    assert(selfOnly.queryExecution.executedPlan.toString.contains("*("),
      "DotProductF fell out of whole-stage codegen")
  }

  test("native DotProductD matches the double loop-UDF reference bit-exactly and codegens") {
    val e = T(spark, SF, "embeddings")
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
    val df = e.select(
      graft.ops.Llm.fnorm2D(col("v")).as("native"),
      graft.ops.Llm.fdotDUdfReference(col("v"), col("v")).as("ref"))
    df.collect().foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    val selfOnly = e.select(graft.ops.Llm.fnorm2D(col("v")).as("n2"))
    selfOnly.collect()
    assert(selfOnly.queryExecution.executedPlan.toString.contains("*("),
      "DotProductD fell out of whole-stage codegen")
  }

  test("llm_dedup_embed_prod: no false positives, bit-exact scores, recall floor, deterministic") {
    import graft.plans.expressions.{dotD, norm2D}
    val got = run("llm_dedup_embed_prod").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "augmented frame produced no τ≥0.9 pairs")
    assert(got.forall(_._3 >= Params.CosineProdTau))
    // brute-force all-pairs twin over the SAME augmented frame: the LSH
    // candidates must emit a SUBSET of the true τ-pairs (verify stage ⇒
    // zero false positives) with bit-identical rounded cosines, and the
    // deterministic-plane recall must clear the design floor (~0.96
    // expected for cos≈0.99 pairs at 4×16 — assert ≥ 0.85 to leave room
    // for the fixture's particular draw)
    val base = T(spark, SF, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val nxt = base.select((col("vec_id") - 1).as("aid"), col("v").as("w"))
    val aug = base.where(pmod(col("vec_id"), lit(5)) === 0)
      .join(nxt, col("vec_id") === col("aid"))
      .select((col("vec_id") + lit(Params.EmbedAugOffset)).as("vec_id"),
        zip_with(col("v"), col("w"), (x, y) => lit(0.9) * x + lit(0.1) * y).as("v"))
    val all = base.unionByName(aug).withColumn("n2", norm2D(col("v")))
    val want = all.as("a").join(all.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"),
        (dotD(col("a.v"), col("b.v")) /
          (sqrt(col("a.n2")) * sqrt(col("b.n2")))).as("cos"))
      .where(col("cos") >= Params.CosineProdTau)
      .select(col("v1"), col("v2"), Det.dround(col("cos"), 6).as("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val extra = got.toSet -- want.toSet
    assert(extra.isEmpty, s"false positives / score drift: ${extra.take(3)}")
    val recall = got.length.toDouble / want.length
    assert(recall >= 0.85, s"recall $recall (${got.length}/${want.length})")
    assert(run("llm_dedup_embed_prod").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sameElements(got),
      "second run diverged — planes/codes not deterministic")
  }

  test("compiled ShinglesK equals the interpreted HOF spelling and codegens") {
    val toks = split(col("text"), " ")
    val df = T(spark, SF, "documents")
      .where(size(toks) >= 5)
      .select(
        graft.plans.expressions.shinglesK(toks, 5).as("fast"),
        array_distinct(transform(
          sequence(lit(1), size(toks) - 4),
          i => concat_ws(" ", slice(toks, i, lit(5))))).as("slow"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    val fastOnly = T(spark, SF, "documents")
      .select(graft.plans.expressions.shinglesK(toks, 5).as("s"))
    fastOnly.collect()
    assert(fastOnly.queryExecution.executedPlan.toString.contains("*("),
      "ShinglesK fell out of whole-stage codegen")
  }

  test("compiled GramHashPairs equals the transform+xxhash64+distinct spelling") {
    val L = 7
    // fixture docs + hand-built edge cases: multibyte chars (2/3/4-byte
    // UTF-8) straddling window boundaries, repeated substrings (dedup),
    // length < L, length == L, empty string
    import spark.implicits._
    val edge = Seq(
      "ababababababababab", "abcdefg", "abcdef", "",
      "café brûlé café brûlé extra",
      "中文处理测试中文处理测试",
      "mixéd 😀 ascii and 😀 emoji windows here")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val docs = T(spark, SF, "documents").select(col("doc_id"), col("text"))
      .unionByName(edge.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val slow = docs.where(length(col("text")) >= L)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${L - 1}), i -> substring(text, i, $L))"))
        .as("raw_g"))
      .select(col("doc_id"), xxhash64(col("raw_g")).as("g1"),
        xxhash64(lit(0x9747b28cL), col("raw_g")).as("g2"))
      .distinct()
    val fast = docs.where(length(col("text")) >= L)
      .select(col("doc_id"),
        explode(graft.plans.expressions.gramHashPairs(col("text"), L)).as("p"))
      .select(col("doc_id"), col("p.g1").as("g1"), col("p.g2").as("g2"))
    // same SET of (doc, g1, g2) AND same per-doc counts (dedup exactness)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
      "GramHashPairs diverged from the transform+xxhash64+distinct spelling")
    // stays inside whole-stage codegen
    fast.collect()
    assert(fast.queryExecution.executedPlan.toString.contains("*("),
      "GramHashPairs fell out of whole-stage codegen")
  }

  test("compiled ShingleHashPairs equals xxhash64 over ShinglesK's strings") {
    // fixture docs + hand-built edge cases: leading, trailing and doubled
    // spaces (empty tokens), fewer than k and exactly k tokens, repeated
    // shingles (dedup), 2/3/4-byte UTF-8 tokens, blank and empty text
    import spark.implicits._
    val edge = Seq(
      " leading space makes an empty first token",
      "trailing space makes an empty last token ",
      "doubled  spaces  make  empty  inner  tokens",
      "four tokens only here", "exactly five tokens right here",
      "x y x y x y x y x y x y x y",
      "café brûlé crème déjà vu encore café brûlé",
      "中文 处理 测试 中文 处理 测试 中文 处理",
      "😀 emoji 😀 tokens 𝄞 and 😀 more 𝄞",
      "   ", "")
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val docs = T(spark, SF, "documents").select(col("doc_id"), col("text"))
      .unionByName(edge.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    for (k <- Seq(1, 2, 5)) {
      val slow = docs
        .select(col("doc_id"),
          explode(graft.plans.expressions.shinglesK(split(col("text"), " "), k)).as("sh"))
        .select(col("doc_id"), xxhash64(col("sh")).as("g1"),
          xxhash64(lit(0x9747b28cL), col("sh")).as("g2"))
      val fast = docs
        .select(col("doc_id"),
          explode(graft.plans.expressions.shingleHashPairs(col("text"), k)).as("p"))
        .select(col("doc_id"), col("p.g1").as("g1"), col("p.g2").as("g2"))
      // same SET of (doc, g1, g2) AND same per-doc counts (dedup exactness)
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        s"ShingleHashPairs diverged from xxhash64 over ShinglesK at k=$k")
      // stays inside whole-stage codegen
      fast.collect()
      assert(fast.queryExecution.executedPlan.toString.contains("*("),
        "ShingleHashPairs fell out of whole-stage codegen")
    }
    // the edge cases are not vacuous: per-doc shingle counts at k = 5
    val counts = edge
      .select(col("text"),
        size(graft.plans.expressions.shingleHashPairs(col("text"), 5)).as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(counts("four tokens only here") == 0)
    assert(counts("exactly five tokens right here") == 1)
    assert(counts("x y x y x y x y x y x y x y") == 2)
    assert(counts("doubled  spaces  make  empty  inner  tokens") == 7)
    assert(counts("   ") == 0 && counts("") == 0)
  }

  test("llm_contamination_check rows equal the string-shingle spelling") {
    // reference: the string-shingle spelling the key used before its
    // join moved onto shingle fingerprints
    val sh = T(spark, SF, "documents")
      .select(col("doc_id"),
        graft.plans.expressions.shinglesK(split(col("text"), " "), 5).as("shingles"))
      .withColumn("is_eval",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 4) < "1000")
    val ev = sh.where(col("is_eval"))
      .select(col("doc_id").as("eval_doc"), explode(col("shingles")).as("sh"))
    val tr = sh.where(!col("is_eval"))
      .select(col("doc_id").as("train_doc"), explode(col("shingles")).as("sh2"))
    val want = ev.join(tr, col("sh") === col("sh2"))
      .groupBy("eval_doc")
      .agg(countDistinct(col("train_doc")).as("n_train_docs"),
        countDistinct(col("sh")).as("n_shared_shingles"))
      .orderBy("eval_doc")
      .collect().toSeq
    val got = run("llm_contamination_check").collect().toSeq
    assert(want.nonEmpty, "no contaminated eval document — test vacuous")
    assert(got == want)
  }

  test("compiled CountInSet equals the interpreted filter+isin spelling and codegens") {
    val words = Seq("the", "a", "join")
    val toks = split(col("text"), " ")
    val df = T(spark, SF, "documents")
      .select(
        graft.plans.expressions.countInSet(toks, words).as("fast"),
        size(filter(toks, t => t.isin(words: _*))).as("slow"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    val fastOnly = T(spark, SF, "documents")
      .select(graft.plans.expressions.countInSet(toks, words).as("c"))
    fastOnly.collect()
    assert(fastOnly.queryExecution.executedPlan.toString.contains("*("),
      "CountInSet fell out of whole-stage codegen")
  }

  test("compiled SimHashChunks equals the relational md5-prefix bit-sum spelling") {
    // h = big-endian first 8 md5 bytes, rebuilt relationally from two
    // 32-bit hex halves (shiftleft is a bitwise op — the sign bit wraps
    // without ANSI error, reproducing the compiled getLong exactly)
    val hashed = T(spark, SF, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .select(col("doc_id"),
        shiftleft(conv(substring(md5(encode(col("tok"), "UTF-8")), 1, 8), 16, 10)
          .cast("long"), 32)
          .bitwiseOR(conv(substring(md5(encode(col("tok"), "UTF-8")), 9, 8), 16, 10)
            .cast("long")).as("h"))
    val bitSums = (0 until 64).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"b$j"))
    val sums = hashed.groupBy("doc_id").agg(count(lit(1)).as("n"), bitSums: _*)
    def chunkExpr(c: Int) =
      (0 until 16).map(k =>
        when(col(s"b${c * 16 + k}") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L)))
        .reduce(_ + _)
    val slow = sums.select(col("doc_id"), array((0 to 3).map(chunkExpr): _*).as("chunks"))
    val fast = T(spark, SF, "documents")
      .select(col("doc_id"),
        graft.plans.expressions.simhashChunks(
          array_distinct(split(col("text"), " "))).as("chunks"))
    val joined = fast.as("f").join(slow.as("s"), "doc_id")
      .select(col("f.chunks").as("fc"), col("s.chunks").as("sc")).collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("ball-pruned cosine top-k equals the brute-force baseline exactly") {
    val e = T(spark, SF, "embeddings")
    val q = e.where(col("vec_id") < 10)
    val pruned = Api.cosineTopKPruned(q, e, "vec_id", "embedding", "label", 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("cos")))).toSet
    val brute = Api.cosineTopK(q, e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("cos")))).toSet
    assert(pruned.nonEmpty)
    assert(pruned == brute,
      s"pruned top-k diverged from brute force: ${pruned.diff(brute)} / ${brute.diff(pruned)}")
  }

  test("llm_dedup_exact cluster sizes cover all documents") {
    val df = run("llm_dedup_exact")
    assert(df.agg(sum("n_dups")).collect().head.getLong(0) ==
      T(spark, SF, "documents").count())
  }

  test("llm_dedup_near pairs are ordered, Jaccard >= 0.8, inter <= uni") {
    run("llm_dedup_near").collect().foreach { r =>
      assert(r.getAs[Long]("d1") < r.getAs[Long]("d2"))
      val inter = r.getAs[Long]("inter"); val uni = r.getAs[Long]("uni")
      assert(inter <= uni)
      assert(5 * inter >= 4 * uni)
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.8 - 1e-6 && j <= 1.0)
    }
  }

  test("minhash-LSH candidates verify to a subset of the exact near-dup pairs") {
    val exact = run("llm_dedup_near").select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("llm_dedup_minhash_lsh").select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact),
      s"LSH produced pairs outside the exact J>=0.8 set: ${lsh -- exact}")
  }

  /** The document-level spelling Llm.simhashPairs replaced, kept as its
    * reference: 4 lanes per DOCUMENT, self-join on (c, chunk), hamming
    * filter, then distinct() to fold pairs sharing several lanes. */
  private def simhashPairsReference(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val chunked = docs.select(col("doc_id"), col("fp"),
      posexplode(array((0 to 3).map(i =>
        shiftrightunsigned(col("fp"), 16 * i).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("c", "chunk")))
    chunked.as("x").join(chunked.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  private def simhashRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Long]("hamming")))

  test("simhash near-dups have hamming <= 3 and ordered pairs") {
    val df = run("llm_dedup_simhash")
    val rows = simhashRows(df)
    rows.foreach { case (d1, d2, h) =>
      assert(d1 < d2)
      assert(h <= 3)
    }
    // each pair exactly once: nothing de-duplicates the output
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length,
      "a (d1, d2) pair was emitted more than once")
    assert(rows == rows.sortBy(r => (r._1, r._2)), "output not ordered by (d1, d2)")
    // …and the same set as the document-level reference spelling over
    // the same compiled fingerprints
    val packed = (0 to 3)
      .map(i => shiftleft(element_at(col("chunks"), i + 1), 16 * i))
      .reduce(_.bitwiseOR(_))
    val docs = T(spark, SF, "documents")
      .select(col("doc_id"),
        graft.plans.expressions.simhashChunks(
          array_distinct(split(col("text"), " "))).as("chunks"))
      .select(col("doc_id"), packed.as("fp"))
    val ref = simhashRows(simhashPairsReference(docs))
    assert(rows.nonEmpty && rows.toSet == ref.toSet,
      s"diverged from the reference: ${rows.toSet.diff(ref.toSet).take(5)} / " +
        s"${ref.toSet.diff(rows.toSet).take(5)}")
  }

  test("simhashPairs on crafted fingerprints: lowest shared lane, each pair once") {
    val a = 0x0123456789ABCDEFL
    val b = 0x1111222233334444L
    val c = 0x5555666677778888L
    val e = 0x2222333344445555L
    val g = 0x6666777700009999L
    val i = Long.MinValue | 0x0000123456789ABCL
    val fps = Seq(
      // 3-document cluster with one fingerprint: hamming-0 pairs
      1L -> a, 2L -> a, 3L -> a,
      // 3 bits off, all in lane 0: shares lanes 1-3, emitted once
      4L -> b, 5L -> (b ^ 0x7L),
      // 1 bit off in each of lanes 0-2: shares only lane 3
      6L -> c, 7L -> (c ^ (1L | 1L << 16 | 1L << 32)),
      // hamming 4 inside lane 0: shares lanes 1-3, excluded
      8L -> e, 9L -> (e ^ 0xFL),
      // 1 bit off in every lane: hamming 4, no shared lane, excluded
      10L -> g, 11L -> (g ^ (1L | 1L << 16 | 1L << 32 | 1L << 48)),
      // bit 63: a negative fingerprint pairs with its positive flip and
      // a lane-3 neighbour; doc order runs against the signed fp order;
      // 15 shares only lane 3 (0x8000) with it
      14L -> i, 13L -> (i ^ Long.MinValue), 12L -> (i ^ (1L << 50)),
      15L -> (i ^ (1L | 1L << 16 | 1L << 32)))
    val docs = spark.createDataFrame(fps).toDF("doc_id", "fp")
    val got = simhashRows(Llm.simhashPairs(docs))
    val brute = (for {
      (d1, f1) <- fps; (d2, f2) <- fps if d1 < d2
      h = java.lang.Long.bitCount(f1 ^ f2).toLong if h <= 3
    } yield (d1, d2, h)).toSet
    assert(brute == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L), (4L, 5L, 3L),
      (6L, 7L, 3L), (12L, 13L, 2L), (12L, 14L, 1L), (13L, 14L, 1L),
      (14L, 15L, 3L)))
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length,
      s"duplicate pairs: $got")
    assert(got.toSet == brute, s"got ${got.toSet}, expected $brute")
    assert(simhashRows(simhashPairsReference(docs)).toSet == brute)
  }

  test("simsearch ranks are 1..5 with non-increasing cosine per query") {
    val rows = run("llm_simsearch_topk").collect()
      .groupBy(_.getAs[Long]("qid"))
    assert(rows.keySet == (0L until 10L).toSet)
    rows.foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rank"))
      assert(byRank.map(_.getAs[Int]("rank")).toSeq == (1 to rs.length))
      val sims = byRank.map(_.getAs[Double]("cos_sim"))
      assert(sims.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
      assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
    }
  }

  test("IVF-probed search recall vs brute force is sane (>= 20% at nprobe=2/10)") {
    val brute = run("llm_simsearch_topk").select("qid", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = run("llm_simsearch_ivf").select("qid", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf.nonEmpty)
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    assert(recall >= 0.2, s"IVF recall $recall suspiciously low")
  }

  test("llm_embed_norms: is_unit consistent with l2_norm") {
    run("llm_embed_norms").collect().foreach { r =>
      val l2 = r.getAs[Double]("l2_norm")
      assert(r.getAs[Boolean]("is_unit") == (l2 >= 0.99 && l2 <= 1.01))
      assert(r.getAs[Double]("max_abs") <= l2 + 1e-9)
    }
  }

  test("tfidf emits 3 ranked terms per language") {
    val rows = run("llm_tfidf").collect().groupBy(_.getAs[String]("lang"))
    assert(rows.keySet == Set("de", "en", "es", "fr", "zh"))
    rows.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rk")).sorted.toSeq == Seq(1, 2, 3))
      val byRk = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("score"))
      assert(byRk.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
    }
  }

  test("text quality: ratios in [0,1], token counts positive") {
    run("llm_text_quality").collect().foreach { r =>
      assert(r.getAs[Int]("n_tokens") > 0)
      val ratio = r.getAs[Double]("stop_ratio")
      assert(ratio >= 0.0 && ratio <= 1.0)
    }
  }

  test("unigram_nll: keyed-join vocab path is byte-identical to the broadcast map") {
    val CapKey = "spark.graft.unigram.joinVocab"
    val broadcastRows = run("llm_unigram_nll").collect().map(_.toSeq).toSeq
    spark.conf.set(CapKey, "true")
    try {
      val joined = run("llm_unigram_nll")
      val joinRows = joined.collect().map(_.toSeq).toSeq
      assert(joinRows === broadcastRows,
        "join-vocab scoring diverged from the broadcast-map scoring")
      // the join path must not pack the vocabulary into one row
      assert(!joined.queryExecution.optimizedPlan.toString.contains("map_from_entries"))
    } finally spark.conf.unset(CapKey)
  }

  test("multimodal decode stub is deterministic and covers all docs") {
    val a = run("mm_decode_stub").collect().toSeq
    val b = run("mm_decode_stub").collect().toSeq
    assert(a == b)
    assert(a.size == T(spark, SF, "documents").count())
    a.foreach { r =>
      assert(r.getAs[Int]("width") >= 16 && r.getAs[Int]("width") < 32)
      assert(r.getAs[Double]("mean_byte") > 0)
    }
  }
}
