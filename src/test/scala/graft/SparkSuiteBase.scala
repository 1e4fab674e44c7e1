package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for every suite (Test/fork runs them in one JVM). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
}

trait SparkSuiteBase extends AnyFunSuite
    with org.scalatest.BeforeAndAfterEach {
  lazy val spark: SparkSession = TestSpark.spark
  /** t1 smoke fixtures (TESTDATA.md). */
  val SF = "/root/testdata/sf0.001"
  def run(name: String) = SparkEntry.queries(name)(spark, SF)

  /** Distinct k-token shingle strings of `text`, first occurrence first,
    * spelled with stock higher-order functions: the string reference the
    * compiled shingle kernels are checked against. Only texts of at least
    * k tokens have a meaningful answer, so callers filter on that. */
  def hofShingles(text: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val toks = split(text, " ")
    array_distinct(transform(sequence(lit(1), size(toks) - (k - 1)),
      i => concat_ws(" ", slice(toks, i, lit(k)))))
  }

  /** Same per-key hygiene as Bench/Verify: builders that persist
    * (pagerank caches, dedup checkpoint lineage, the prod-dedup cell
    * assignment) must not ride the shared session's storage into later
    * tests — blocks accrete across 200+ tests otherwise (ADVICE r7). */
  override protected def afterEach(): Unit = {
    GraftSession.settle(spark)
    super.afterEach()
  }
}
