package graft

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.catalog.Identifier

import graft.sources.{AvroDirSource, AvroSnapshots, GraftCatalog}

/** The write protocol's cleanup rule on the driver-run jobs: a rewrite
  * or CDC apply whose commit is refused leaves no data file that no
  * retained version references.
  */
class WriteJobSuite extends SparkSuiteBase {

  private lazy val wh = {
    val d = java.nio.file.Files.createTempDirectory("graft_writejob_test")
    spark.conf.set("spark.sql.catalog.wjcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.wjcat.warehouse", d.toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS wjcat.db")
    d.toString
  }
  private def cat: GraftCatalog =
    spark.sessionState.catalogManager.catalog("wjcat")
      .asInstanceOf[GraftCatalog]
  private def ident(t: String) = Identifier.of(Array("db"), t)
  private def tdir(t: String) = s"$wh/db/$t"

  /** `.avro` files in the table directory that no retained version
    * references. */
  private def unreferenced(t: String): Set[String] = {
    val dirp = tdir(t)
    val refs = AvroSnapshots.versions(dirp)
      .flatMap(AvroSnapshots.load(dirp, _)).flatMap(_.files).toSet
    AvroDirSource.listAllAvro(dirp).map(_.getName).toSet -- refs
  }

  /** Runs `rewrite` while this thread holds the table's commit lock:
    * once the rewrite job has written its files and waits for the lock,
    * an append lands, so the rewrite's commit meets a moved head. */
  private def raceRewrite(t: String)(rewrite: => Unit): Throwable = {
    val failure = new AtomicReference[Throwable]()
    val worker = new Thread(() =>
      try rewrite catch { case e: Throwable => failure.set(e) })
    AvroSnapshots.withCommitLock(tdir(t)) {
      worker.start()
      val deadline = System.currentTimeMillis() + 120000L
      def waitingToCommit = worker.getState == Thread.State.BLOCKED &&
        worker.getStackTrace.exists(_.getMethodName.contains("withCommitLock"))
      while (!waitingToCommit && worker.isAlive &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(waitingToCommit, s"rewrite never reached its commit: ${failure.get}")
      spark.sql(s"INSERT INTO wjcat.db.$t VALUES (99999, 'late')")
    }
    worker.join(120000L)
    failure.get
  }

  private def assertRefused(t: String, failure: Throwable): Unit = {
    assert(failure.isInstanceOf[java.util.ConcurrentModificationException],
      s"expected a refused commit, got $failure")
    assert(unreferenced(t).isEmpty,
      s"refused rewrite left unreferenced files: ${unreferenced(t)}")
  }

  test("a refused compact_small leaves no unreferenced data file") {
    wh
    spark.sql("DROP TABLE IF EXISTS wjcat.db.small")
    spark.sql("CREATE TABLE wjcat.db.small (k BIGINT, v STRING)")
    for (i <- 0 until 4)
      spark.sql(s"INSERT INTO wjcat.db.small VALUES ($i, 'tiny')")
    assert(unreferenced("small").isEmpty)
    val failure = raceRewrite("small") {
      cat.compactSmall(ident("small"), 100, spark)
    }
    assertRefused("small", failure)
    assert(spark.table("wjcat.db.small").count() == 5)
  }

  test("a refused compact_clustered leaves no unreferenced data file") {
    wh
    spark.sql("DROP TABLE IF EXISTS wjcat.db.clus")
    spark.sql("CREATE TABLE wjcat.db.clus (k BIGINT, v STRING)")
    // two overlapping files: one dirty component to re-cluster
    for ((lo, hi) <- Seq((0, 100), (50, 150)))
      spark.sql(s"""INSERT INTO wjcat.db.clus
                   |SELECT /*+ REPARTITION(1) */ id, CONCAT('r', id)
                   |FROM range($lo, $hi)""".stripMargin)
    cat.setSortOrder(ident("clus"), "k")
    val failure = raceRewrite("clus") {
      cat.compactClustered(ident("clus"), spark)
    }
    assertRefused("clus", failure)
    assert(spark.table("wjcat.db.clus").count() == 201)
  }

  test("apply_cdc refused for a file predating its key leaves no unreferenced data file") {
    wh
    spark.sql("DROP TABLE IF EXISTS wjcat.db.late")
    spark.sql("CREATE TABLE wjcat.db.late (v STRING)")
    spark.sql("INSERT INTO wjcat.db.late VALUES ('old')")
    spark.sql("ALTER TABLE wjcat.db.late ADD COLUMN k BIGINT")
    spark.sql(
      "CALL wjcat.system.set_delete_mode('db.late', 'merge-on-read-equality')")
    val v0 = cat.currentVersion(ident("late"))
    val e = intercept[Exception] {
      cat.applyCdc(ident("late"), "k",
        "SELECT 7 AS k, 'new' AS v, 'upsert' AS _op", spark)
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
    assert(cat.currentVersion(ident("late")) == v0, "refused apply moved the version")
    assert(unreferenced("late").isEmpty,
      s"refused apply left unreferenced files: ${unreferenced("late")}")
  }
}
