package graft

/** `GraftSession.sibling`: the one way a flow gets a session with confs
  * of its own or the graft extensions. Each test forks a fresh parent,
  * because siblings are memoized per parent. */
class GraftSessionSuite extends SparkSuiteBase {

  private val Parts = "spark.sql.shuffle.partitions"
  private val Tz = "spark.sql.session.timeZone"

  test("sibling is memoized per (parent, confs, extensions)") {
    val parent = spark.newSession()
    val a = GraftSession.sibling(parent, Map("graft.test.k" -> "1"))
    assert(a ne parent)
    assert(GraftSession.sibling(parent, Map("graft.test.k" -> "1")) eq a)
    val b = GraftSession.sibling(parent, Map("graft.test.k" -> "2"))
    assert(b ne a)
    assert(a.conf.get("graft.test.k") == "1" && b.conf.get("graft.test.k") == "2")
    val ext = GraftSession.sibling(parent, Map("graft.test.k" -> "1"), extensions = true)
    assert((ext ne a) && (ext ne b))
    assert(GraftSession.sibling(parent, Map("graft.test.k" -> "1"), extensions = true) eq ext)
  }

  test("a sibling conf wins over the re-applied parent value") {
    val parent = spark.newSession()
    parent.conf.set(Parts, "5")
    val sib = GraftSession.sibling(parent, Map(Parts -> "8"))
    assert(sib.conf.get(Parts) == "8")
    parent.conf.set(Parts, "6")
    assert(GraftSession.sibling(parent, Map(Parts -> "8")).conf.get(Parts) == "8")
  }

  test("the parent's SQLConf is never written") {
    val parent = spark.newSession()
    val before = parent.conf.getAll
    val sib = GraftSession.sibling(parent,
      Map(Parts -> "8", "graft.test.only_sibling" -> "yes"), extensions = true)
    sib.conf.set(Tz, "America/Los_Angeles")
    GraftSession.sibling(parent, Map(Parts -> "8", "graft.test.only_sibling" -> "yes"),
      extensions = true)
    assert(parent.conf.getAll == before)
    assert(parent.conf.getOption("graft.test.only_sibling").isEmpty)
  }

  test("parent timezone and shuffle-partition changes reach a built extensions sibling") {
    val parent = spark.newSession()
    parent.conf.set(Tz, "UTC")
    parent.conf.set(Parts, "4")
    val sib = GraftSession.sibling(parent, extensions = true)
    assert(sib.conf.get(Tz) == "UTC" && sib.conf.get(Parts) == "4")
    parent.conf.set(Tz, "Asia/Tokyo")
    parent.conf.set(Parts, "3")
    assert(GraftSession.sibling(parent, extensions = true) eq sib)
    assert(sib.conf.get(Tz) == "Asia/Tokyo")
    assert(sib.conf.get(Parts) == "3")
    assert(sib.sessionState.conf.numShufflePartitions == 3)
  }
}
