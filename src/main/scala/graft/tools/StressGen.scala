package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic local scale-up generator for the stress bench
  * (round-6 verdict item 1: turn the "100 TB: yes" plan audits into
  * measurements).
  *
  * Replicates the driver's sf0.1 fixture R× with key-domain offsets so
  * the scaled corpus has R× the entities, not R copies of the same
  * entity:
  *
  *  - every key column (doc_id, vec_id, user_id, event_id, the TPC-H
  *    keys) is offset by `rep * 1_000_000` (all base key maxima are
  *    < 1e6, so replica domains never collide);
  *  - document TEXT is re-tokenized per replica (every token gets an
  *    `‿r<rep>` suffix), so shingles/tokens/fingerprints of different
  *    replicas never collide: the near-dup/candidate structure of the
  *    base corpus replicates R× instead of collapsing into R-sized
  *    cross-replica duplicate cliques (which would turn a linear
  *    workload quadratic and measure nothing);
  *  - embedding VECTORS for rep > 0 are freshly generated unit-norm
  *    pseudo-random vectors (md5-digit uniform [-1,1] per coordinate,
  *    then L2-normalized) matching the base fixture's distribution
  *    (unit-norm, per-element σ = 1/√64), so pairwise-cosine density —
  *    and with it the dedup_embed / simsearch workload shape — is
  *    preserved while the corpus grows;
  *  - everything is pure column expressions over (base ⨯ range(R)):
  *    no Random, no Date.now — byte-stable across reruns.
  *
  * Output layout matches TESTDATA.md: `<out>/<table>.parquet`. Tables
  * are multi-part directories EXCEPT events, which must stay a single
  * file because the streaming operators `Files.copy` that exact path
  * into their file-source directories.
  *
  * Usage: runMain graft.tools.StressGen <outDir> <R> [baseDir] [tables]
  * (`tables` = comma-separated subset to (re)write — the output is
  * deterministic per table, so a partial rerun after an interrupted
  * generation produces byte-identical files.)
  */
object StressGen {
  private val Off = 1000000L // per-replica key offset; base maxima < 1e6

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val r = args(1).toInt
    val base = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").map(_.trim).toSet else Set.empty
    def want(t: String): Boolean = only.isEmpty || only(t)
    val spark = graft.GraftSession()
    // Fixture-format armor, mirroring graft.ops.T: a legacy nanos-typed
    // events column reads as a raw long (and the scaled copy carries the
    // BIGINT); the current naive-µs fixture reads as TIMESTAMP_NTZ and
    // round-trips as timestamp[us] unchanged. T.usCol handles both on
    // the read side, and the session's UTC keeps any NTZ↔LTZ crossing
    // deterministic.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val reps = spark.range(r).select(col("id").as("rep"))
    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$base/$name.parquet")
    def rep(df: DataFrame): DataFrame = df.crossJoin(broadcast(reps))
    def off(c: String): Column = col(c) + col("rep") * lit(Off)

    def writeDir(name: String, df: => DataFrame): Unit = if (want(name)) {
      df.drop("rep").write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"wrote $name (dir)")
    }
    // events must be ONE file: streaming ops Files.copy this exact path.
    def writeFile(name: String, df: => DataFrame): Unit = if (want(name)) {
      val tmp = s"$out/_tmp_$name"
      df.drop("rep").coalesce(1).write.mode("overwrite").parquet(tmp)
      val dirF = new java.io.File(tmp)
      val part = dirF.listFiles.find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dirF.listFiles.foreach(_.delete()); dirF.delete()
      println(s"wrote $name (file)")
    }

    // tiny dims: copy as-is (5 regions / 25 nations are fixed domains).
    // Single-FILE layout like the base fixture — scan_metadata_columns
    // asserts provenance (`_metadata.file_name = 'nation.parquet'`),
    // which a part-file directory would break (round-9 ×10 gate).
    for (t <- Seq("region", "nation"))
      writeFile(t, tbl(t).withColumn("rep", lit(0L)))

    writeDir("customer", rep(tbl("customer"))
      .withColumn("c_custkey", off("c_custkey")))
    writeDir("supplier", rep(tbl("supplier"))
      .withColumn("s_suppkey", off("s_suppkey")))
    writeDir("part", rep(tbl("part"))
      .withColumn("p_partkey", off("p_partkey")))
    writeDir("orders", rep(tbl("orders"))
      .withColumn("o_orderkey", off("o_orderkey"))
      .withColumn("o_custkey", off("o_custkey")))
    writeDir("lineitem", rep(tbl("lineitem"))
      .withColumn("l_orderkey", off("l_orderkey"))
      .withColumn("l_partkey", off("l_partkey"))
      .withColumn("l_suppkey", off("l_suppkey")))

    // documents: per-replica token suffix — replica corpora share zero
    // tokens/shingles, so candidate generation scales linearly in R.
    // The suffix must stay ASCII ('~' verified absent from the fixture
    // corpus): a multi-byte separator (the original '‿') broke the
    // byte≡char equivalence the mm_decode_stub oracle relies on — the
    // engine's byte math was right, the char-based oracle drifted
    // (caught by the round-9 full ×10 gate).
    writeDir("documents", rep(tbl("documents"))
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~r"), col("rep")))))
      .withColumn("doc_id", off("doc_id"))
      .withColumn("n_chars", length(col("text"))))

    // embeddings: fresh unit-norm pseudo-random vectors per replica.
    // Two passes through a temp parquet: the L2 norm is an aggregate
    // over the md5 array, and inlining it into the per-element division
    // makes Catalyst re-evaluate the whole 64-md5 array once PER
    // ELEMENT (64×64 md5s/row — measured unusably slow at R=100 on the
    // single-partition base file). Materializing `raw` once and
    // repartitioning by rep makes both passes linear and parallel;
    // values are identical either way (same md5 formula).
    if (want("embeddings")) {
      val dim = 64
      val raw = transform(sequence(lit(0), lit(dim - 1)), i =>
        (conv(substring(md5(concat_ws("_", col("vec_id"), col("rep"), i)),
          1, 8), 16, 10).cast("long") % lit(2001L) - lit(1000L)) / lit(1000.0))
      val tmp = s"$out/_tmp_embeddings_raw"
      rep(tbl("embeddings"))
        .repartition(col("rep"))
        .withColumn("raw",
          when(col("rep") === 0, lit(null)).otherwise(raw))
        .withColumn("vec_id", off("vec_id"))
        .write.mode("overwrite").parquet(tmp)
      val n2 = aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)
      writeDir("embeddings", spark.read.parquet(tmp)
        .withColumn("embedding",
          when(col("raw").isNull, col("embedding")).otherwise(
            transform(col("raw"), x => (x / sqrt(n2)).cast("float"))))
        .drop("raw")) // rep column rides through the temp parquet
      val tmpDir = new java.io.File(tmp)
      tmpDir.listFiles.foreach(_.delete()); tmpDir.delete()
    }

    writeFile("events", rep(tbl("events"))
      .withColumn("event_id", off("event_id"))
      .withColumn("user_id", off("user_id")))

    println(s"""{"stressgen":"done","out":"$out","r":$r}""")
    spark.stop()
  }
}
