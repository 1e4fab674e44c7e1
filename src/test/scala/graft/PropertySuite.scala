package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic laws over generated inputs (SURVEY §5.2) — what property
  * testing buys on relational ops. ScalaCheck generators are sampled with
  * fixed seeds (the scalatest/scalacheck bridge artifact is not in the
  * offline cache, so sampling is driven by hand — same coverage,
  * reproducible).
  */
class PropertySuite extends SparkSuiteBase {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val wordGen = Gen.oneOf("the", "a", "fast", "slow", "spark", "join")
  private val textGen = Gen.listOfN(12, wordGen).map(_.mkString(" "))

  test("normalized dedup is idempotent") {
    for (texts <- samples(Gen.listOfN(30, textGen), 6) if texts.nonEmpty) {
      import spark.implicits._
      val df = texts.toDF("text")
      def norm(c: org.apache.spark.sql.Column) =
        regexp_replace(lower(trim(c)), "\\s+", " ")
      val once = df.select(norm(col("text")).as("n")).distinct()
      val twice = once.select(norm(col("n")).as("n")).distinct()
      assert(once.count() == twice.count())
    }
  }

  test("top-k equals sort-take-k") {
    for (xs <- samples(Gen.listOfN(50, Gen.chooseNum(-1000000L, 1000000L)), 6)) {
      import spark.implicits._
      val df = xs.zipWithIndex.toDF("v", "id")
      val k = 7
      val got = df.orderBy(col("v").desc, col("id")).limit(k)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      val want = xs.zipWithIndex.sortBy { case (v, i) => (-v, i) }.take(k)
      assert(got == want)
    }
  }

  test("union-all count additivity; intersect/except set laws") {
    val g = Gen.listOf(Gen.chooseNum(0, 20))
    for ((a, b) <- samples(g, 6).zip(samples(g, 6).reverse)) {
      import spark.implicits._
      val da = a.toDF("v"); val db = b.toDF("v")
      assert(da.unionByName(db).count() == a.size + b.size)
      val inter = da.intersect(db).collect().map(_.getInt(0)).toSet
      val exc = da.except(db).collect().map(_.getInt(0)).toSet
      assert(inter == a.toSet.intersect(b.toSet))
      assert(exc == a.toSet -- b.toSet)
      assert(inter.intersect(exc).isEmpty)
    }
  }

  test("ball-pruned exact top-k equals brute force under ADVERSARIAL random cells") {
    // random vectors with RANDOM (non-clustered) cell assignment — the
    // worst case for the pruning bound: overlapping balls force wide
    // thresholds, and any unsoundness in the recall argument would
    // surface as a missing neighbor here.
    import spark.implicits._
    val dims = 8
    val vecGen = Gen.listOfN(dims, Gen.chooseNum(-100, 100).map(_ / 100.0f))
      .map(_.toArray).suchThat(v => v.exists(_ != 0f))
    for ((vs, round) <- samples(Gen.listOfN(60, vecGen), 4).zipWithIndex if vs.nonEmpty) {
      val rows = vs.zipWithIndex.map { case (v, i) =>
        (i.toLong, (i % 7).toLong, v) // 7 arbitrary cells, unrelated to geometry
      }
      val df = rows.toDF("vec_id", "label", "embedding")
      val q = df.where(col("vec_id") < 5)
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getAs[Long]("qid"), r.getAs[Int]("rank"), r.getAs[Long]("neighbor"),
          java.lang.Double.doubleToLongBits(r.getAs[Double]("cos")))
      val pruned = graft.ops.Api.cosineTopKPruned(q, df, "vec_id", "embedding", "label", 4)
        .collect().map(key).toSet
      val brute = graft.ops.Api.cosineTopK(q, df, "vec_id", "embedding", 4)
        .collect().map(key).toSet
      assert(pruned == brute, s"round $round: pruned ${pruned.size} != brute ${brute.size}; " +
        s"missing=${brute.diff(pruned)} extra=${pruned.diff(brute)}")
    }
  }

  test("banded interval join equals the naive non-equi spelling on random events") {
    import spark.implicits._
    val H = 100L // band width
    val tsGen = Gen.chooseNum(0L, 1000L)
    for (ts <- samples(Gen.listOfN(80, tsGen), 4) if ts.nonEmpty) {
      val evs = ts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, if (i % 3 == 0) "purchase" else "error")
      }.toDF("id", "us", "typ")
      val p = evs.where(col("typ") === "purchase").select(col("id").as("pid"), col("us").as("p_us"))
      val er = evs.where(col("typ") === "error")
        .select(col("us").as("e_us"), expr(s"us div $H").as("band"))
      // banded: probe own band + next, equi-join, exact filter
      val banded = p.withColumn("band",
          explode(array(expr(s"p_us div $H"), expr(s"p_us div $H + 1"))))
        .join(er, "band")
        .where(col("e_us") > col("p_us") && col("e_us") <= col("p_us") + H)
        .groupBy("pid").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // naive non-equi reference
      val naive = p.join(er.drop("band"),
          col("e_us") > col("p_us") && col("e_us") <= col("p_us") + H)
        .groupBy("pid").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(banded == naive, s"banded=$banded naive=$naive")
    }
  }

  test("session windows conserve rows") {
    for (secs <- samples(Gen.listOfN(40, Gen.chooseNum(0L, 86400L)), 4) if secs.nonEmpty) {
      import spark.implicits._
      val df = secs.zipWithIndex
        .map { case (s, i) => (i.toLong % 3, new java.sql.Timestamp(1700000000000L + s * 1000)) }
        .toDF("user_id", "ts")
      val n = df.groupBy(session_window(col("ts"), "15 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .agg(sum("n")).collect().head.getLong(0)
      assert(n == secs.size.toLong)
    }
  }

  test("cosine self-similarity is 1 within fp tolerance") {
    val vecGen = Gen.listOfN(8, Gen.chooseNum(-100, 100).map(_ / 10.0f))
      .suchThat(v => v.exists(_ != 0f))
    for (v <- samples(vecGen, 8)) {
      import spark.implicits._
      val df = Seq((1L, v)).toDF("vec_id", "embedding")
      val n2 = graft.ops.Llm.fnorm2(col("embedding"))
      val cos = graft.ops.Llm.fdot(col("embedding"), col("embedding")) / (sqrt(n2) * sqrt(n2))
      val got = df.select(cos).collect().head.getDouble(0)
      assert(math.abs(got - 1.0) < 1e-12)
    }
  }

  test("dround is deterministic and within half-ulp-of-grid of true rounding") {
    for (x <- samples(Gen.chooseNum(-1e6, 1e6), 20)) {
      import spark.implicits._
      val df = Seq(x).toDF("x")
      val a = df.select(graft.ops.Det.dround(col("x"), 4)).collect().head.getDouble(0)
      val b = math.floor(x * 1e4 + 0.5) / 1e4
      assert(a == b)
      assert(math.abs(a - x) <= 5.0001e-5)
    }
  }

  // tokens beyond the fixtures: unicode, empty-ish, repeated — the codegen
  // expressions must agree with their relational spellings on ALL input
  private val unicodeWordGen = Gen.oneOf(
    "the", "café", "naïve", "日本", "🎄", "x", "Straße", "ёж", "the")

  test("ShingleHashPairs equals xxhash64 over HOF shingles on arbitrary unicode tokens") {
    for (tokLists <- samples(Gen.listOfN(40,
        Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, unicodeWordGen))), 4)) {
      import spark.implicits._
      val df = tokLists.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("id", "text")
      val fast = df.select(col("id"),
          explode(graft.plans.expressions.shingleHashPairs(col("text"), 3)).as("p"))
        .select(col("id"), col("p.g1").as("g1"), col("p.g2").as("g2"))
      val slow = df.where(size(split(col("text"), " ")) >= 3)
        .select(col("id"), explode(hofShingles(col("text"), 3)).as("sh"))
        .select(col("id"), xxhash64(col("sh")).as("g1"),
          xxhash64(lit(0x9747b28cL), col("sh")).as("g2"))
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
    }
  }

  test("SimHashChunks equals the md5-prefix bit-sum spelling on arbitrary unicode tokens") {
    for (tokLists <- samples(Gen.listOfN(25,
        Gen.choose(1, 10).flatMap(n => Gen.listOfN(n, unicodeWordGen))), 4)) {
      import spark.implicits._
      val df = tokLists.zipWithIndex
        .map { case (ts, i) => (i.toLong, ts.mkString(" ")) }.toDF("id", "text")
      val hashed = df
        .select(col("id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
        .select(col("id"),
          shiftleft(conv(substring(md5(encode(col("tok"), "UTF-8")), 1, 8), 16, 10)
            .cast("long"), 32)
            .bitwiseOR(conv(substring(md5(encode(col("tok"), "UTF-8")), 9, 8), 16, 10)
              .cast("long")).as("h"))
      val bitSums = (0 until 64).map(j =>
        sum(shiftright(col("h"), j).bitwiseAND(lit(1L))).as(s"b$j"))
      val sums = hashed.groupBy("id").agg(count(lit(1)).as("n"), bitSums: _*)
      def chunkExpr(c: Int) =
        (0 until 16).map(k =>
          when(col(s"b${c * 16 + k}") * 2 > col("n"), lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _)
      val slow = sums.select(col("id"), array((0 to 3).map(chunkExpr): _*).as("chunks"))
      val fast = df.select(col("id"),
        graft.plans.expressions.simhashChunks(
          array_distinct(split(col("text"), " "))).as("chunks"))
      fast.as("f").join(slow.as("s"), "id")
        .select(col("f.chunks"), col("s.chunks")).collect()
        .foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    }
  }

  test("gap sessionization laws under random event streams") {
    // random (user, ts) streams incl. duplicate timestamps — the lag/
    // cumsum/aggregate chain must satisfy the defining invariants of
    // gap-based sessions for ANY input, not just the fixture's
    import org.apache.spark.sql.expressions.Window
    val gapUs = 1000L
    val evGen = Gen.listOfN(80,
      Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 20000L)))
    for (evs <- samples(evGen, 6)) {
      import spark.implicits._
      val df = evs.zipWithIndex
        .map { case ((u, ts), i) => (u, ts, i.toLong) }
        .toDF("user_id", "us", "event_id")
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val sess = df
        .withColumn("new_s",
          when(coalesce(col("us") - lag(col("us"), 1).over(w),
            lit(Long.MaxValue)) > gapUs, 1L).otherwise(0L))
        .withColumn("sid",
          sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid")
        .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
          count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      // (1) partition: every event in exactly one session
      assert(sess.map(_._5).sum == evs.size)
      // (2) per user: sessions are disjoint, ordered, and split only at > gap
      sess.groupBy(_._1).foreach { case (u, ss) =>
        val sorted = ss.sortBy(_._2)
        sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
          assert(b._3 - a._4 > gapUs,
            s"user $u: adjacent sessions closer than the gap")
        }
        // (3) inside a session no internal gap exceeds gapUs
        val byUser = evs.filter(_._1 == u).map(_._2).sorted
        val splits = 1 + byUser.zip(byUser.drop(1)).count { case (x, y) => y - x > gapUs }
        assert(sorted.size == splits, s"user $u: session count != gap splits + 1")
      }
    }
  }

  test("piiScrub laws under random PII planting: chain-exact, clean, idempotent") {
    import graft.ops.Pipeline.{EmailPat, Ipv4Pat, PhonePat}
    val emailGen = for {
      l <- Gen.oneOf("bob", "a.b", "x+tag", "u_9%z")
      d <- Gen.oneOf("ex.com", "m-1.example.org", "a.b.co")
    } yield s"$l@$d"
    val ipGen = Gen.listOfN(4, Gen.choose(0, 255)).map(_.mkString("."))
    val phoneGen = for {
      cc <- Gen.choose(1, 99); a <- Gen.choose(100, 999); n <- Gen.choose(1000000, 9999999)
    } yield s"+$cc $a $n"
    val tokenGen = Gen.frequency(5 -> wordGen, 1 -> emailGen, 1 -> ipGen,
      1 -> phoneGen, 1 -> Gen.oneOf("a@b", "1.2.3", "+1 55 12", "999.999.999.999"))
    for (texts <- samples(Gen.listOfN(30,
        Gen.choose(1, 15).flatMap(n => Gen.listOfN(n, tokenGen).map(_.mkString(" ")))), 4)) {
      import spark.implicits._
      val got = texts.toDF("t")
        .select(graft.ops.Pipeline.piiScrub(col("t"))).as[String].collect().toSeq
      val expected = texts.map(_
        .replaceAll(EmailPat, "<EMAIL>")
        .replaceAll(Ipv4Pat, "<IP>")
        .replaceAll(PhonePat, "<PHONE>"))
      assert(got == expected, "Spark chain diverges from driver-side replaceAll chain")
      got.foreach { t =>
        Seq(EmailPat, Ipv4Pat, PhonePat).foreach(p =>
          assert(!p.r.findFirstIn(t).isDefined, s"residual PII in: $t"))
      }
      val again = got.toDF("t")
        .select(graft.ops.Pipeline.piiScrub(col("t"))).as[String].collect().toSeq
      assert(again == got, "scrub is not idempotent")
    }
  }

  test("urlCanonical laws on random URLs: authority folded, residue-free, idempotent") {
    val urlGen = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "HTTPS", "Ftp")
      host <- Gen.oneOf("Ex.COM", "a-b.io", "X9.example.ORG")
      path <- Gen.oneOf("", "/", "/A/b", "/CaseSensitive/p-7")
      q <- Gen.oneOf("", "?x=1", "?utm_source=feed&ref=22")
      f <- Gen.oneOf("", "#frag", "#A/B?c")
    } yield s"$scheme://$host$path$q$f"
    for (urls <- samples(Gen.listOfN(40, urlGen), 4)) {
      import spark.implicits._
      val got = urls.toDF("u")
        .select(graft.ops.Pipeline.urlCanonical(col("u"))).as[String].collect().toSeq
      urls.zip(got).foreach { case (u, c) =>
        val afterScheme = u.substring(u.indexOf("://") + 3)
        val hostEnd = afterScheme.indexWhere(ch => ch == '/' || ch == '?' || ch == '#') match {
          case -1 => afterScheme.length; case i => i
        }
        val rest = afterScheme.substring(hostEnd)
        val path = rest.takeWhile(ch => ch != '?' && ch != '#')
        val expected = (u.substring(0, u.indexOf("://") + 3) +
          afterScheme.substring(0, hostEnd)).toLowerCase + path
        assert(c == expected, s"canonical($u) = $c, expected $expected")
        assert(!c.contains("?") && !c.contains("#"))
      }
      val again = got.toDF("u")
        .select(graft.ops.Pipeline.urlCanonical(col("u"))).as[String].collect().toSeq
      assert(again == got, "canonicalization is not idempotent")
    }
  }

  test("bitmap popcount sum == exact distinct count under random key multisets") {
    // the agg_bitmap_distinct law: buckets partition the id domain, so
    // per-bucket popcounts sum to the exact distinct count — including
    // ids straddling bucket boundaries and heavy duplication
    val g = Gen.listOfN(200, Gen.chooseNum(1L, 100000L))
    for (ids <- samples(g, 6)) {
      import spark.implicits._
      val df = ids.toDF("id")
      val got = df
        .groupBy(expr("bitmap_bucket_number(id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(id))").as("bm"))
        .agg(sum(expr("bitmap_count(bm)"))).collect().head.getLong(0)
      assert(got == ids.distinct.size.toLong)
    }
  }

  test("max_by(struct(cnt, -v)) mode == brute-force mode with smallest-value ties") {
    // heavy duplication on a narrow domain forces frequent count ties —
    // the deterministic tie-break is exactly what the law pins
    val g = Gen.listOfN(60, Gen.chooseNum(0L, 9L))
    for (vs <- samples(g, 6) if vs.nonEmpty) {
      import spark.implicits._
      val got = vs.toDF("v")
        .groupBy("v").agg(count(lit(1)).as("cnt"))
        .agg(max_by(col("v"), struct(col("cnt"), negate(col("v")))).as("mode"))
        .collect().head.getLong(0)
      val want = vs.groupBy(identity).view.mapValues(_.size).toSeq
        .minBy { case (v, c) => (-c, v) }._1
      assert(got == want, s"mode of $vs")
    }
  }
}
