package graft

import org.apache.spark.sql.SparkSession

import graft.sources.{AvroSnapshots, MvRegistry}

/** MV query rewrite (round 19): exact-match aggregate substitution
  * with the watermark staleness guard — and, just as important, all
  * the shapes that must NOT rewrite.
  */
class MvRewriteSuite extends SparkSuiteBase {

  private lazy val wh =
    java.nio.file.Files.createTempDirectory("graft_mvr_test").toString
  private lazy val vs: SparkSession = {
    val s = GraftSession.sibling(spark, extensions = true)
    s.conf.set("spark.sql.catalog.mcat", "graft.sources.GraftCatalog")
    s.conf.set("spark.sql.catalog.mcat.warehouse", wh)
    s.sql("CREATE NAMESPACE IF NOT EXISTS mcat.db")
    s
  }
  private def usedMv(q: org.apache.spark.sql.DataFrame): Boolean = {
    q.queryExecution.toRdd.foreachPartition(_ => ())
    q.queryExecution.executedPlan.toString.contains("db/mv1")
  }
  private val AGG =
    """SELECT p, COUNT(*) AS n, SUM(x) AS t FROM mcat.db.b1 GROUP BY p"""

  private def setup(): Unit = {
    vs.sql("DROP TABLE IF EXISTS mcat.db.b1")
    vs.sql("DROP TABLE IF EXISTS mcat.db.mv1")
    vs.sql("CREATE TABLE mcat.db.b1 (p STRING, x BIGINT)")
    vs.sql("""INSERT INTO mcat.db.b1
             |SELECT CONCAT('g', id % 4), id FROM range(0, 400)""".stripMargin)
    vs.sql("CREATE TABLE mcat.db.mv1 (prio STRING, n BIGINT, t BIGINT)")
    val w = AvroSnapshots.headVersion(s"$wh/db/b1").get
    AvroSnapshots.withCommitProps(Map(MvRegistry.WatermarkKey -> w.toString)) {
      vs.sql("""INSERT INTO mcat.db.mv1
               |SELECT p, COUNT(*), SUM(x) FROM mcat.db.b1 GROUP BY p""".stripMargin)
      ()
    }
    vs.sql("""CALL mcat.system.register_mv('db.mv1', 'db.b1',
             |'prio=p', 'n=count(*), t=sum(x)')""".stripMargin)
    ()
  }

  test("fresh MV substitutes; results identical to the base recompute") {
    setup()
    val q = vs.sql(AGG)
    assert(usedMv(q), s"fresh MV must answer:\n${q.queryExecution.executedPlan}")
    val viaMv = q.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // force the fallback path by deregistering (truth from the base)
    new java.io.File(s"$wh/db/b1", MvRegistry.SpecFile).delete()
    val q2 = vs.sql(AGG)
    assert(!usedMv(q2))
    assert(q2.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq == viaMv,
      "substituted result differs from the base recompute")
  }

  test("stale MV falls back; refresh restores substitution") {
    setup()
    vs.sql("INSERT INTO mcat.db.b1 VALUES ('g0', 1000)")
    val q = vs.sql(AGG)
    assert(!usedMv(q), "a stale MV must never answer")
    assert(q.where("p = 'g0'").head().getLong(1) == 101)
    // refresh (recompute + new watermark) → substituted again
    vs.sql("DELETE FROM mcat.db.mv1 WHERE n >= 0")
    val w = AvroSnapshots.headVersion(s"$wh/db/b1").get
    AvroSnapshots.withCommitProps(Map(MvRegistry.WatermarkKey -> w.toString)) {
      vs.sql("""INSERT INTO mcat.db.mv1
               |SELECT p, COUNT(*), SUM(x) FROM mcat.db.b1 GROUP BY p""".stripMargin)
      ()
    }
    val q2 = vs.sql(AGG)
    assert(usedMv(q2))
    assert(q2.where("p = 'g0'").head().getLong(1) == 101)
  }

  test("non-matching shapes and time travel never rewrite") {
    setup()
    // different aggregate (AVG is not registered)
    assert(!usedMv(vs.sql(
      "SELECT p, AVG(x) AS a FROM mcat.db.b1 GROUP BY p")))
    // extra grouping column
    assert(!usedMv(vs.sql(
      "SELECT p, x % 2 AS e, COUNT(*) AS n FROM mcat.db.b1 GROUP BY p, x % 2")))
    // a FILTER under the aggregate (the MV covers the whole table only)
    assert(!usedMv(vs.sql(
      "SELECT p, COUNT(*) AS n, SUM(x) AS t FROM mcat.db.b1 WHERE x > 10 GROUP BY p")))
    // DISTINCT aggregate
    assert(!usedMv(vs.sql(
      "SELECT p, COUNT(DISTINCT x) AS n FROM mcat.db.b1 GROUP BY p")))
    // time travel reads the PINNED snapshot, never the MV
    val v = AvroSnapshots.headVersion(s"$wh/db/b1").get
    val tt = vs.sql(
      s"""SELECT p, COUNT(*) AS n, SUM(x) AS t
         |FROM mcat.db.b1 VERSION AS OF $v GROUP BY p""".stripMargin)
    assert(!usedMv(tt), "a time-travel read must not substitute")
    assert(tt.count() == 4)
  }
}
