package graft

import java.io.File

import graft.sources.AvroSnapshots

/** TWO-PROCESS writer fuzz (round-17 verdict #6): two REAL child JVMs
  * (plus this one as the reader) race appends, key deletes, MOR
  * updates and compactions against one catalog table. Unlike
  * ConcurrentWriterFuzzSuite's two-spellings-of-one-path trick, the
  * children share no JVM state at all — no commit-lock monitors, no
  * group caches — so the ONLY serialization is what the format itself
  * provides: CREATE_NEW on the version number, read-basis validation
  * (expectedParent), and the append auto-rebase. The suite replays
  * each worker's landed-op log serially and requires the final table
  * to equal the model exactly; every retained version must still load
  * with every referenced file on disk, and every sidecar on disk must
  * be referenced by a retained version.
  */
class CrossJvmWriterFuzzSuite extends SparkSuiteBase {

  test("two JVMs racing one table: landed ops replay serially; no version dangles") {
    val wh = java.nio.file.Files.createTempDirectory("graft_xjvm").toString
    spark.conf.set("spark.sql.catalog.xcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.xcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS xcat.db")
    spark.sql("DROP TABLE IF EXISTS xcat.db.t")
    spark.sql("CREATE TABLE xcat.db.t (k BIGINT, v STRING)")
    // seed both workers' key pools (tag*1000 .. +99)
    spark.sql("""INSERT INTO xcat.db.t
                |SELECT id, CONCAT('r', id) FROM range(1000, 1100)""".stripMargin)
    spark.sql("""INSERT INTO xcat.db.t
                |SELECT id, CONCAT('r', id) FROM range(2000, 2100)""".stripMargin)
    spark.sql("CALL xcat.system.set_delete_mode('db.t', 'merge-on-read-equality')")

    val javaBin = new File(new File(System.getProperty("java.home"), "bin"), "java")
      .getAbsolutePath
    val cp = System.getProperty("java.class.path")
    val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect",
      "java.io", "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
      "sun.security.action", "sun.util.calendar")
      .flatMap(p => Seq("--add-opens", s"java.base/$p=ALL-UNNAMED"))
    def launch(seed: Long, tag: Long): Process = {
      val cmd: Seq[String] = Seq(javaBin, "-Xmx2g") ++ addOpens ++ Seq(
        "-Dderby.system.home=" + wh + "/derby" + tag, // isolate metastores
        "-cp", cp, "graft.CrossJvmFuzzWorker",
        wh, seed.toString, tag.toString, "12")
      new ProcessBuilder(cmd: _*)
        .redirectOutput(new File(wh, s"worker$tag.out"))
        .redirectErrorStream(true)
        .start()
    }
    val p1 = launch(11L, 1L)
    val p2 = launch(22L, 2L)
    val ok1 = p1.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    val ok2 = p2.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    def tailOf(tag: Long): String = {
      val f = new File(wh, s"worker$tag.out")
      if (!f.isFile) "<no output>"
      else new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.toSeq.takeRight(15).mkString("\n")
    }
    assert(ok1 && p1.exitValue() == 0, s"worker 1 failed:\n${tailOf(1)}")
    assert(ok2 && p2.exitValue() == 0, s"worker 2 failed:\n${tailOf(2)}")

    // serial replay of each worker's landed-op log (pools are disjoint,
    // so per-key history is that worker's sequence)
    val deleted = scala.collection.mutable.Set.empty[Long]
    val updates = scala.collection.mutable.Map.empty[Long, Int]
    val appended = scala.collection.mutable.Set.empty[Long]
    var refusals = 0
    for (tag <- Seq(1L, 2L)) {
      val f = new File(wh, s"worker$tag.result")
      assert(f.isFile, s"worker $tag wrote no result:\n${tailOf(tag)}")
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .linesIterator.filter(_.nonEmpty).foreach { l =>
          val Array(kind, value) = l.split("\t", 2)
          kind match {
            case "a" => appended += value.toLong
            case "d" => deleted += value.toLong
            case "u" =>
              val id = value.toLong
              // an update after this worker's own delete matched no row
              if (!deleted.contains(id))
                updates(id) = updates.getOrElse(id, 0) + 1
            case "refused" => refusals += value.toInt
            case other => fail(s"unknown worker op '$other'")
          }
        }
    }
    val seedKeys = (1000L until 1100L) ++ (2000L until 2100L)
    val expected: Map[Long, String] =
      (seedKeys.filterNot(deleted)
        .map(k => k -> (s"r$k" + "+" * updates.getOrElse(k, 0))) ++
        appended.toSeq.map(id => id -> s"a$id")).toMap
    val got = spark.table("xcat.db.t").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val missing = (expected.keySet -- got.keySet).toSeq.sorted.take(8)
    val extra = (got.keySet -- expected.keySet).toSeq.sorted.take(8)
    val valueDiff = expected.collect {
      case (k, v) if got.get(k).exists(_ != v) => (k, v, got(k)) }.take(8)
    assert(missing.isEmpty && extra.isEmpty && valueDiff.isEmpty,
      s"cross-JVM divergence: missing=$missing extra=$extra diff=$valueDiff " +
        s"(got=${got.size} expected=${expected.size} refusals=$refusals)")

    // every retained version loads and references only on-disk files
    val dirp = new File(wh, "db/t").getPath
    AvroSnapshots.versions(dirp).foreach { v =>
      val sn = AvroSnapshots.load(dirp, v).get
      sn.entries.foreach { e =>
        assert(new File(dirp, e.name).isFile, s"v$v references missing ${e.name}")
        e.dv.foreach(d => assert(new File(dirp, d).isFile, s"v$v missing dv $d"))
        e.eq.foreach(q => assert(new File(dirp, q).isFile, s"v$v missing eq $q"))
      }
    }
    // and conversely: every deletion-vector and equality-delete sidecar
    // on disk is referenced by a retained version (a refused commit
    // removes the sidecars it wrote)
    val referenced = AvroSnapshots.versions(dirp).flatMap(v =>
      AvroSnapshots.load(dirp, v).get.entries.flatMap(e => e.dv.toSeq ++ e.eq)).toSet
    for (sub <- Seq("_dv", "_eq");
         f <- Option(new File(dirp, sub).listFiles()).getOrElse(Array.empty[File])) {
      val name = s"$sub/${f.getName}"
      assert(referenced(name), s"$name is referenced by no retained version")
    }
  }
}
