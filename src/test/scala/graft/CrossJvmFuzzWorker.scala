package graft

/** Child-process half of [[CrossJvmWriterFuzzSuite]] — a SEPARATE JVM
  * racing DML against one catalog table. The in-JVM fuzz
  * (ConcurrentWriterFuzzSuite) simulates cross-process races with two
  * path spellings of one directory; this worker makes them real: its
  * commit locks, group caches and session state share NOTHING with the
  * parent, so the only serialization points are the ones the format
  * itself provides (CREATE_NEW on the version number, read-basis
  * validation, append auto-rebase).
  *
  * argv: warehouseDir seed tag ops. Writes
  * `<warehouse>/worker<tag>.result` — one `kind\tvalue` line per
  * LANDED op (`a` appended id, `d` deleted id, `u` updated id,
  * `refused` count) — and exits 0; any unexpected error exits 1.
  */
object CrossJvmFuzzWorker {
  private def isRefusal(t: Throwable): Boolean = {
    def walk(x: Throwable): Boolean =
      x != null && (x.isInstanceOf[java.util.ConcurrentModificationException] ||
        Option(x.getMessage).exists(m =>
          m.contains("retry the operation") || m.contains("concurrent commit") ||
            m.contains("conflicts with a concurrent commit") ||
            m.contains("no longer in the current version")) ||
        walk(x.getCause))
    walk(t)
  }

  def main(args: Array[String]): Unit = {
    val Array(wh, seedS, tagS, opsS) = args.take(4)
    val seed = seedS.toLong; val tag = tagS.toLong; val ops = opsS.toInt
    val spark = GraftSession(2)
    spark.conf.set("spark.sql.catalog.xcat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.xcat.warehouse", wh)
    val out = new StringBuilder
    var refused = 0
    val rnd = new scala.util.Random(seed)
    val poolLo = tag * 1000L
    try {
      for (i <- 0 until ops) {
        val op = rnd.nextInt(10)
        try {
          op match {
            case 0 | 1 | 2 | 3 =>
              val id = tag * 100000L + i
              spark.sql(s"INSERT INTO xcat.db.t VALUES ($id, 'a$id')")
              out.append(s"a\t$id\n")
            case 4 | 5 =>
              val id = poolLo + rnd.nextInt(100)
              spark.sql(s"DELETE FROM xcat.db.t WHERE k = $id")
              out.append(s"d\t$id\n")
            case 6 | 7 =>
              val id = poolLo + rnd.nextInt(100)
              spark.sql(s"UPDATE xcat.db.t SET v = CONCAT(v, '+') WHERE k = $id")
              out.append(s"u\t$id\n")
            case 8 =>
              spark.sql("CALL xcat.system.compact_small('db.t', 50)")
              ()
            case _ =>
              spark.sql("CALL xcat.system.compact('db.t')")
              ()
          }
        } catch {
          case t: Throwable if isRefusal(t) => refused += 1
        }
      }
      out.append(s"refused\t$refused\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(wh, s"worker$tag.result"),
        out.toString.getBytes("UTF-8"))
      spark.stop()
    } catch {
      case t: Throwable =>
        System.err.println(s"worker $tag died: $t")
        t.printStackTrace()
        sys.exit(1)
    }
  }
}
