package graft

import graft.sources.AvroSnapshots

/** The persisted incremental LSH indexes (the ANN index of
  * `llm_simsearch_incremental` and the MinHash band index of
  * `llm_dedup_minhash_incremental`): probe-then-append discipline over a
  * versioned catalog index table — a batch that crashes anywhere BEFORE
  * its single append commit leaves the index state untouched, so the
  * re-run probes the identical snapshot and produces the identical
  * pairs; the append advances the version exactly once and makes the
  * batch visible to the NEXT batch.
  */
class AnnIndexSuite extends SparkSuiteBase {

  test("crashed batch re-probes the same index state; append is one atomic commit") {
    for ((key, table, id) <- Seq(
        ("llm_simsearch_incremental", "ann_index", "vec_id"),
        ("llm_dedup_minhash_incremental", "lsh_index", "doc_id"))) {
      val run = SparkEntry.queries(key)
      val name = s"graftcat.lake.$table"
      // first full run: seeds the index, probes, appends
      val firstPairs = run(spark, SF).collect().toSeq
      assert(firstPairs.nonEmpty, s"$key: no pairs")
      val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
      val dirp = s"$wh/lake/$table"
      val headAfter = AvroSnapshots.head(dirp).get
      // seed (create+insert) + exactly ONE batch append: the batch's
      // rows are all in the head, none in its parent, the seed append
      assert(headAfter.kind == "append", s"$key: head is a ${headAfter.kind}")
      val seed = AvroSnapshots.load(dirp, headAfter.parent).get
      assert(seed.kind == "append", s"$key: the batch's parent is a ${seed.kind}")
      def batchRows(asOf: String) = spark.sql(
        s"SELECT count(*) FROM $name $asOf WHERE $id % 3 = 0").first().getLong(0)
      assert(batchRows(s"VERSION AS OF ${seed.version}") == 0,
        s"$key: batch rows visible before the append")
      val idxRows = spark.table(name).count()

      // simulate the crashed batch: re-run the whole flow (the builder
      // drops + reseeds — same pre-batch state a crashed batch left
      // behind, because the probe never wrote anything). The pairs must
      // be IDENTICAL and the index must land on the same row count.
      val secondPairs = run(spark, SF).collect().toSeq
      assert(secondPairs == firstPairs,
        s"$key: re-probing after a simulated crash produced different pairs")
      assert(spark.table(name).count() == idxRows)

      // the probe itself is read-only: reading the index table (what the
      // probe does) moves no version
      val v = AvroSnapshots.head(dirp).get.version
      spark.table(name).count()
      assert(AvroSnapshots.head(dirp).get.version == v,
        s"$key: a probe must not advance the index version")

      // and the appended batch is VISIBLE to a following batch: every
      // batch id now answers from the index
      assert(batchRows("") > 0, s"$key: batch rows must be in the index after append")
    }
  }
}
