package graft

import java.io.File

import graft.sources.{AvroSnapshots, EqualityDeletes, GraftCatalog}

/** Equality deletes — round-16 verdict #2: key-based merge-on-read
  * delete sidecars. A CDC-shaped DELETE writes O(keys) bytes and ZERO
  * read tasks; scans anti-join; later appends are out of scope
  * (sequence scoping → upsert semantics); compaction materializes the
  * deletes away; expiry reclaims unreferenced sidecars.
  */
class EqualityDeleteSuite extends SparkSuiteBase {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_eqdel_test")
    spark.conf.set("spark.sql.catalog.eqcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.eqcat.warehouse", d.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS eqcat.db")
    d.toString
  }
  private def cat: GraftCatalog =
    spark.sessionState.catalogManager.catalog("eqcat")
      .asInstanceOf[GraftCatalog]
  private def ident(t: String) =
    org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), t)
  private def tdir(t: String) = s"$wh/db/$t"

  private def mk(t: String, rows: Int): Unit = {
    wh
    spark.sql(s"DROP TABLE IF EXISTS eqcat.db.$t")
    spark.sql(s"CREATE TABLE eqcat.db.$t (k BIGINT, v STRING)")
    spark.sql(s"INSERT INTO eqcat.db.$t SELECT id, CONCAT('r', id) FROM range($rows)")
    spark.sql(s"CALL eqcat.system.set_delete_mode('db.$t', 'merge-on-read-equality')")
  }

  test("a key DELETE runs zero Spark tasks, rewrites nothing, reads exclude the keys") {
    mk("e1", 1000)
    val dirp = tdir("e1")
    val before = AvroSnapshots.head(dirp).get.files.toSet
    val mtimes = before.map(n => n -> new File(dirp, n).lastModified()).toMap
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (ss.properties != null &&
            "graft-eq-del" == ss.properties.getProperty("spark.jobGroup.id"))
          tasks.addAndGet(ss.stageInfo.numTasks.toLong)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("graft-eq-del", "equality delete probe")
      spark.sql("DELETE FROM eqcat.db.e1 WHERE k IN (3, 700, 999)")
      spark.sparkContext.clearJobGroup()
      Thread.sleep(300) // let the listener bus drain before the zero-check
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get() == 0,
      s"equality DELETE launched ${tasks.get()} tasks — must be metadata-only")
    val after = AvroSnapshots.head(dirp).get
    assert(after.files.toSet == before, "equality delete must add/remove no data file")
    after.files.foreach(n =>
      assert(new File(dirp, n).lastModified() == mtimes(n), s"$n was rewritten"))
    assert(after.eqs.nonEmpty, "no equality sidecar recorded")
    val got = spark.sql("SELECT k FROM eqcat.db.e1 ORDER BY k")
      .collect().map(_.getLong(0))
    assert(got.length == 997 && !got.contains(3L) && !got.contains(700L) &&
      !got.contains(999L))
  }

  test("sequence scoping: a re-inserted key lives again (upsert), old versions exact") {
    mk("e2", 100)
    val v0 = cat.currentVersion(ident("e2"))
    spark.sql("DELETE FROM eqcat.db.e2 WHERE k = 7")
    spark.sql("INSERT INTO eqcat.db.e2 VALUES (7, 'reborn')")
    val rows = spark.sql("SELECT v FROM eqcat.db.e2 WHERE k = 7").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("reborn"),
      s"upsert produced ${rows.toSeq} — new file must not carry the delete ref")
    // time travel: before the delete the ORIGINAL row is visible
    assert(spark.sql(s"SELECT v FROM eqcat.db.e2 VERSION AS OF $v0 WHERE k = 7")
      .collect().map(_.getString(0)).toSeq == Seq("r7"))
    assert(spark.table("eqcat.db.e2").count() == 100)
  }

  test("stats pruning attaches the sidecar only to files that might hold a key") {
    wh
    // AQE off so the sorted write keeps its full range-shuffle fan-out
    // (multi-file layout with disjoint k bounds)
    val sp = spark.newSession()
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    sp.conf.set("spark.sql.catalog.eqcat", "graft.sources.GraftCatalog")
    sp.conf.set("spark.sql.catalog.eqcat.warehouse", wh)
    sp.sql("DROP TABLE IF EXISTS eqcat.db.e3")
    sp.sql("CREATE TABLE eqcat.db.e3 (k BIGINT, v STRING)")
    sp.sessionState.catalogManager.catalog("eqcat")
      .asInstanceOf[GraftCatalog].setSortOrder(ident("e3"), "k")
    sp.sql("INSERT INTO eqcat.db.e3 SELECT id, CONCAT('r', id) FROM range(4000)")
    sp.sql("CALL eqcat.system.set_delete_mode('db.e3', 'merge-on-read-equality')")
    val dirp = tdir("e3")
    val files = AvroSnapshots.head(dirp).get.files.size
    assert(files > 1, "need a multi-file sorted layout")
    sp.sql("DELETE FROM eqcat.db.e3 WHERE k = 42")
    val eqs = AvroSnapshots.head(dirp).get.eqs
    assert(eqs.size == 1 && eqs.size < files,
      s"sidecar attached to ${eqs.size} of $files files — stats pruning absent")
    assert(sp.table("eqcat.db.e3").count() == 3999)
  }

  test("non-key predicates fall back to the positional path; mixed deletes compose") {
    mk("e4", 500)
    spark.sql("DELETE FROM eqcat.db.e4 WHERE k IN (10, 20)") // equality
    spark.sql("DELETE FROM eqcat.db.e4 WHERE k >= 490")      // positional (range)
    val head = AvroSnapshots.head(tdir("e4")).get
    assert(head.eqs.nonEmpty, "equality delete missing")
    assert(head.dvs.nonEmpty, "range delete should have taken the dv path")
    assert(spark.table("eqcat.db.e4").count() == 488)
    // a string-keyed equality delete works too
    spark.sql("DELETE FROM eqcat.db.e4 WHERE v = 'r100'")
    assert(spark.table("eqcat.db.e4").count() == 487)
    assert(spark.sql("SELECT count(*) FROM eqcat.db.e4 WHERE k = 100")
      .collect().head.getLong(0) == 0)
  }

  test("MOR UPDATE reads through equality deletes and never resurrects") {
    mk("e5", 200)
    spark.sql("DELETE FROM eqcat.db.e5 WHERE k IN (50, 51)")
    spark.sql("UPDATE eqcat.db.e5 SET v = 'upd' WHERE k >= 50 AND k < 60")
    val got = spark.sql("SELECT k FROM eqcat.db.e5 WHERE v = 'upd' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == (52L to 59L), s"update touched wrong rows: $got")
    assert(spark.table("eqcat.db.e5").count() == 198)
  }

  test("a copy-on-write DELETE never brings back an equality-deleted row") {
    wh
    spark.sql("DROP TABLE IF EXISTS eqcat.db.c1")
    spark.sql("CREATE TABLE eqcat.db.c1 (k BIGINT, v STRING)")
    // one data file: the rewrite below is the file that holds k = 3
    spark.sql("""INSERT INTO eqcat.db.c1
                |SELECT /*+ COALESCE(1) */ id, CONCAT('r', id) FROM range(10)""".stripMargin)
    assert(AvroSnapshots.head(tdir("c1")).get.files.size == 1)
    spark.sql("CALL eqcat.system.set_delete_mode('db.c1', 'merge-on-read-equality')")
    spark.sql("DELETE FROM eqcat.db.c1 WHERE k = 3")
    assert(AvroSnapshots.head(tdir("c1")).get.eqs.nonEmpty)
    assert(spark.table("eqcat.db.c1").count() == 9)
    spark.sql("CALL eqcat.system.set_delete_mode('db.c1', 'copy-on-write')")
    spark.sql("DELETE FROM eqcat.db.c1 WHERE k IN (2, 4)")
    val got = spark.sql("SELECT k FROM eqcat.db.c1 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 5L, 6L, 7L, 8L, 9L),
      s"the rewrite resurrected an equality-deleted row: $got")
  }

  test("compaction materializes equality deletes away; expiry reclaims sidecars") {
    mk("e6", 300)
    spark.sql("DELETE FROM eqcat.db.e6 WHERE k IN (1, 2, 3)")
    assert(AvroSnapshots.head(tdir("e6")).get.eqs.nonEmpty)
    spark.sql("CALL eqcat.system.compact('db.e6')")
    val head = AvroSnapshots.head(tdir("e6")).get
    assert(head.eqs.isEmpty, "compaction must drop the refs (clean files)")
    assert(spark.table("eqcat.db.e6").count() == 297)
    // expiry drops the pre-compaction versions → the sidecar is
    // unreferenced and physically reclaimed
    cat.expireSnapshots(ident("e6"), retainLast = 1)
    val eqDir = new File(tdir("e6"), "_eq")
    val left = Option(eqDir.listFiles()).map(_.length).getOrElse(0)
    assert(left == 0, s"$left orphaned equality sidecars survived expiry")
  }

  test("aggregate pushdown and CBO row counts decline over eq-deleted files") {
    mk("e7", 100)
    val q0 = spark.sql("SELECT COUNT(*) AS n FROM eqcat.db.e7")
    assert(q0.collect().head.getLong(0) == 100)
    assert(!q0.queryExecution.executedPlan.toString.contains("HashAggregate"))
    spark.sql("DELETE FROM eqcat.db.e7 WHERE k = 5")
    val q1 = spark.sql("SELECT COUNT(*) AS n FROM eqcat.db.e7")
    assert(q1.collect().head.getLong(0) == 99)
    assert(q1.queryExecution.executedPlan.toString.contains("Aggregate"),
      "stale manifest counts must not answer over eq-deleted files")
  }

  test("the change feed streams equality-deleted rows as row-level deletes") {
    import org.apache.spark.sql.streaming.Trigger
    mk("e8", 50)
    spark.sql("DELETE FROM eqcat.db.e8 WHERE k IN (11, 22)")
    val root = java.nio.file.Files.createTempDirectory("graft_eqcdf").toString
    spark.readStream.table("eqcat.db.e8.changes")
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val rows = spark.read.parquet(s"$root/out")
      .select("k", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.count(_._2 == "insert") == 50)
    assert(rows.filter(_._2 == "delete").map(_._1).sorted == Seq(11L, 22L),
      s"eq-delete CDF rows: ${rows.filter(_._2 == "delete")}")
  }

  test("composite keys: tuple semantics, zero tasks, CDF, fallback shapes") {
    wh
    spark.sql("DROP TABLE IF EXISTS eqcat.db.m1")
    spark.sql("CREATE TABLE eqcat.db.m1 (t BIGINT, k BIGINT, v STRING)")
    spark.sql("""INSERT INTO eqcat.db.m1
                |SELECT id % 4, id, CONCAT('r', id) FROM range(400)""".stripMargin)
    spark.sql("CALL eqcat.system.set_delete_mode('db.m1', 'merge-on-read-equality')")
    val dirp = tdir("m1")
    val before = AvroSnapshots.head(dirp).get.files.toSet
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (ss.properties != null &&
            "graft-eqm-del" == ss.properties.getProperty("spark.jobGroup.id"))
          tasks.addAndGet(ss.stageInfo.numTasks.toLong)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("graft-eqm-del", "composite eq delete")
      // id=6 has (t=2, k=6): the TUPLE dies, not every t=2 or every k=6
      spark.sql("DELETE FROM eqcat.db.m1 WHERE t = 2 AND k = 6")
      spark.sparkContext.clearJobGroup()
      Thread.sleep(300)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.get() == 0, s"composite eq DELETE launched ${tasks.get()} tasks")
    assert(AvroSnapshots.head(dirp).get.files.toSet == before)
    assert(AvroSnapshots.head(dirp).get.eqs.nonEmpty)
    assert(spark.table("eqcat.db.m1").count() == 399)
    // tuple, not per-column: other t=2 rows and k=6's siblings live
    assert(spark.sql("SELECT COUNT(*) FROM eqcat.db.m1 WHERE t = 2")
      .collect().head.getLong(0) == 99)
    // string component in the tuple
    spark.sql("DELETE FROM eqcat.db.m1 WHERE v = 'r10' AND t = 2")
    assert(spark.table("eqcat.db.m1").count() == 398)
    // fallback shapes take the scanning path, and compose with tuples
    spark.sql("DELETE FROM eqcat.db.m1 WHERE t = 1 AND k < 10") // range → dv
    val head = AvroSnapshots.head(dirp).get
    assert(head.dvs.nonEmpty, "range conjunction must take the dv path")
    assert(spark.table("eqcat.db.m1").count() == 395) // k=1,5,9 had t=1
    // duplicate column (t = 1 AND t = 2) is not a tuple — scanning path
    spark.sql("DELETE FROM eqcat.db.m1 WHERE t = 1 AND t = 2")
    assert(spark.table("eqcat.db.m1").count() == 395)
    // CDF: the deleted tuples stream as row-level deletes
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_eqm_cdf").toString
    spark.readStream.table("eqcat.db.m1.changes")
      .writeStream.format("parquet")
      .option("path", s"$root/out").option("checkpointLocation", s"$root/cp")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val dels = spark.read.parquet(s"$root/out")
      .where("_change_type = 'delete'")
      .select("k").collect().map(_.getLong(0)).sorted.toSeq
    assert(dels == Seq(1L, 5L, 6L, 9L, 10L), s"CDF deletes: $dels")
  }

  test("composite sidecar codec round-trips") {
    wh
    val dirp = java.nio.file.Files.createTempDirectory("graft_eqm_codec").toString
    val name = EqualityDeletes.writeMulti(dirp, Seq("t", "v"),
      Seq("long", "string"), Seq(Seq("2", "x"), Seq("3", "y"), Seq("2", "x")))
    val (cols, kinds, keys) = EqualityDeletes.readMulti(dirp, name)
    assert(cols == Seq("t", "v") && kinds == Seq("long", "string"))
    assert(keys == Set(Seq("2", "x"), Seq("3", "y")))
    val m = EqualityDeletes.tupleMatcher(kinds, keys)
    assert(m(Seq(java.lang.Long.valueOf(2L), "x")))
    assert(m(Seq(java.lang.Integer.valueOf(3), new org.apache.avro.util.Utf8("y"))))
    assert(!m(Seq(java.lang.Long.valueOf(2L), "y")))
    assert(!m(Seq(null, "x")), "a null component never matches")
    // single-column reader refuses a composite sidecar loudly
    intercept[IllegalArgumentException](EqualityDeletes.read(dirp, name))
    // tab-bearing strings are refused at write
    intercept[IllegalArgumentException](
      EqualityDeletes.writeMulti(dirp, Seq("v"), Seq("string"),
        Seq(Seq("a\tb"))))
  }

  test("a tab-bearing string key falls back to the scanning delete (ADVICE r16)") {
    // the sidecar codec cannot spell tab/newline keys; the old bug
    // silently committed an unchanged snapshot (deleted nothing) — the
    // EqualTo extract must now decline so the positional path runs
    mk("e9", 50)
    spark.sql("INSERT INTO eqcat.db.e9 VALUES (1000, 'a\tb'), (1001, 'c\nd')")
    assert(spark.table("eqcat.db.e9").count() == 52)
    spark.sql("DELETE FROM eqcat.db.e9 WHERE v = 'a\tb'")
    assert(spark.table("eqcat.db.e9").count() == 51,
      "tab-keyed DELETE must actually delete via the scanning fallback")
    assert(spark.sql("SELECT count(*) FROM eqcat.db.e9 WHERE v = 'a\tb'")
      .collect().head.getLong(0) == 0)
    spark.sql("DELETE FROM eqcat.db.e9 WHERE v = 'c\nd'")
    assert(spark.table("eqcat.db.e9").count() == 50)
    // extract() itself: declined (None), not "empty keys"
    import org.apache.spark.sql.sources.EqualTo
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("v", StringType)))
    assert(EqualityDeletes.extract(Array(EqualTo("v", "a\tb")), schema).isEmpty)
    // a plain string key still extracts; a NULL key still yields the
    // empty-key-set shape (k = NULL deletes nothing)
    assert(EqualityDeletes.extract(Array(EqualTo("v", "ab")), schema)
      .exists(_._3 == Seq(Seq("ab"))))
    assert(EqualityDeletes.extract(Array(EqualTo("v", null)), schema)
      .exists(_._3.isEmpty))
  }

  test("sidecar codec round-trips; unknown column fails loudly") {
    wh
    val dirp = java.nio.file.Files.createTempDirectory("graft_eqcodec").toString
    val name = EqualityDeletes.write(dirp, "user_id", "long", Seq("9", "3", "9"))
    val (col, kind, keys) = EqualityDeletes.read(dirp, name)
    assert(col == "user_id" && kind == "long" && keys == Set("3", "9"))
    val m = EqualityDeletes.matcher(kind, keys)
    assert(m(java.lang.Long.valueOf(3L)) && m(java.lang.Integer.valueOf(9)) &&
      !m(java.lang.Long.valueOf(4L)) && !m(null))
  }
}
