package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native Catalyst expression (SURVEY §4.3 escalation path b): fused
  * float-array dot product in double with whole-stage codegen via
  * doGenCode — no UDF serialization boundary, no per-element boxing, and
  * codegen keeps the surrounding filter/project pipeline fused.
  *
  * Accumulation order is the same ((0+t1)+t2)+… left-to-right chain as
  * the generated oracle SQL and the loop UDF it replaces, so results
  * stay bit-identical (SURVEY §7.3.4).
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // return type inferred: AbstractDataType itself is private[sql]
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_f"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("dotSum")
      val i = ctx.freshName("dotI")
      val n = ctx.freshName("dotN")
      s"""
         |double $s = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}

/** Double-array twin of [[DotProductF]] — same left-to-right accumulation
  * contract, for frames whose vectors are already double (augmented /
  * centroid math). Being a native expression (not a ScalaUDF) it is also
  * safe inside higher-order-function lambdas, where it computes per-seed
  * distances without leaving whole-stage codegen.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot_d"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    val n = math.min(x.numElements(), y.numElements())
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("dotSum")
      val i = ctx.freshName("dotI")
      val n = ctx.freshName("dotN")
      s"""
         |double $s = 0.0;
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** Compiled k-token shingling: the `array_distinct(transform(sequence…,
  * slice+concat_ws))` spelling evaluates four nested higher-order
  * functions INTERPRETED per token (measured ~0.6 ms/doc — 3 s per pass
  * over 5 000 docs at sf0.1, the dominant cost of every shingle-based
  * dedup query). This expression does the same work — distinct k-grams
  * joined by single spaces, first-occurrence order — as one compiled
  * loop via a static helper call, keeping the surrounding projection
  * inside whole-stage codegen.
  */
case class ShinglesK(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  require(k >= 1, "shingle size must be positive")
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override protected def nullSafeEval(in: Any): Any =
    ShingleUtil.shingles(in.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleUtil.shingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShinglesK =
    copy(child = newChild)
}

/** Compiled membership count: how many elements of an array<string> are
  * in a small fixed vocabulary. Replaces the `size(filter(toks,
  * t.isin(words)))` spelling, whose lambda Spark evaluates INTERPRETED
  * per token (ArrayFilter breaks whole-stage codegen for the entire
  * projection it sits in — the same lesson as ShinglesK). One hash-set
  * probe per token inside codegen; the set is built once per executor.
  * Null elements count 0, matching filter+isin (null predicate → drop).
  */
/** Compiled md5-prefix 64-bit hash of a string: the big-endian first 8
  * digest bytes, ≡ DuckDB `('0x' || SUBSTR(MD5(s), 1, 16))::UBIGINT` bit
  * for bit, and ≡ the relational `conv(substring(md5(s), 1, k), 16, 10)`
  * spellings after an unsigned right shift (k=8 → >>> 32, k=15 → >>> 4).
  * Replaces the interpreted md5-hex → substring → conv parse chain on
  * the hot hashing paths (minhash shingles, rolling fingerprints) with
  * one digest call inside codegen. Cross-engine-stable by construction —
  * this is THE hash that makes the hash-based operators oracle-exact. */
case class Md5Prefix64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5_prefix64"

  override protected def nullSafeEval(in: Any): Any =
    ShingleUtil.md5Hash64(in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleUtil.md5Hash64($c)")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix64 =
    copy(child = newChild)
}

case class CountInSet(child: Expression, words: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_count_in_set"

  @transient private lazy val set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] =
    ShingleUtil.toUtf8Set(words.toArray)

  override protected def nullSafeEval(in: Any): Any =
    ShingleUtil.countInSet(in.asInstanceOf[ArrayData], set)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftWordSet", set, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleUtil.countInSet($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): CountInSet =
    copy(child = newChild)
}

object ShingleUtil {
  private val Sep = org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  def toUtf8Set(words: Array[String]): java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](words.length * 2)
    words.foreach(w => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(w)))
    s
  }

  /** Count of elements of `toks` present in `set`; null elements skipped. */
  def countInSet(toks: ArrayData,
      set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]): Int = {
    val n = toks.numElements()
    var c = 0
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      if (t != null && set.contains(t)) c += 1
      i += 1
    }
    c
  }

  /** Distinct k-grams of `toks` in first-occurrence order. */
  def shingles(toks: ArrayData, k: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = toks.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val parts = new Array[UTF8String](k)
    var i = 0
    while (i + k <= n) {
      var j = 0
      while (j < k) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      out.add(UTF8String.concatWs(Sep, parts: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[Any]])
  }

  /** Majority-vote SimHash of the token array (callers pass the DISTINCT
    * token set). Bit j of the fingerprint is 1 iff more than half the
    * tokens hash with bit j set — identical to the relational
    * sum(shiftright(h,j)&1)*2 > n spelling. */
  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** 64-bit token hash = big-endian first 8 md5 digest bytes — the same
    * bits DuckDB's `('0x' || SUBSTR(MD5(tok), 1, 16))::UBIGINT` yields,
    * which is what lets the SimHash fingerprint be oracle-checked
    * (round 5 — the previous XxHash64Function seed had no cross-engine
    * spelling). */
  def md5Hash64(tok: org.apache.spark.unsafe.types.UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(tok.getBytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Lane-2 seed of the two-lane gram fingerprint: the exact chained
    * seed `xxhash64(lit(0x9747b28cL), g)` evaluates — XxHash64 folds
    * children left-to-right, so the long literal hashes first with the
    * default seed 42 and the result seeds the string hash. Pinned by
    * PlanSuite against the built-in expression. */
  val GramSeed2: Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(0x9747b28cL, 42L)

  /** Element type of the two fingerprint kernels below. */
  val HashPairsType: DataType = ArrayType(
    StructType(Seq(StructField("g1", LongType, nullable = false),
      StructField("g2", LongType, nullable = false))), containsNull = false)

  /** Stride-1 k-CHAR gram fingerprints of `s`, deduplicated per call in
    * first-occurrence order: for every char window [i, i+k) the pair
    *   g1 = xxhash64(bytes)          (seed 42 — the default)
    *   g2 = xxhash64(bytes, GramSeed2)
    * over the window's UTF-8 BYTES — bit-identical to
    * `xxhash64(substring(s, i+1, k))` / `xxhash64(lit(0x9747b28cL),
    * substring(s, i+1, k))` because substring slices whole chars and
    * XxHash64 hashes the slice's bytes. Hashes are computed IN PLACE
    * over the parent string's memory (no per-gram UTF8String, no
    * array-of-substrings materialization), and the per-doc dedup set
    * replaces a whole DISTINCT exchange downstream. Memory is O(chars)
    * per row — strictly below the transform() spelling's O(chars × k)
    * substring array. Dedup key is the (g1,g2) pair itself, the same
    * key the removed DISTINCT used. */
  def gramHashPairs(s: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    import org.apache.spark.unsafe.Platform
    import org.apache.spark.unsafe.types.UTF8String
    val nBytes = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val ascii = {
      // one linear scan; all-ASCII (the common corpus case) skips the
      // char-offset table entirely
      var b = 0
      var a = true
      while (a && b < nBytes) { if (Platform.getByte(base, off + b) < 0) a = false; b += 1 }
      a
    }
    val offs: Array[Int] = if (ascii) null else {
      val tmp = new Array[Int](nBytes + 1)
      var i = 0
      var b = 0
      while (b < nBytes) {
        tmp(i) = b
        b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
        i += 1
      }
      tmp(i) = nBytes
      java.util.Arrays.copyOf(tmp, i + 1)
    }
    val numChars = if (ascii) nBytes else offs.length - 1
    windowHashPairs(s, offs, numChars - k + 1, k, 0)
  }

  /** Stride-1 k-TOKEN shingle fingerprints of `s` (window rule on
    * [[ShingleHashPairs]]), deduplicated per call in first-occurrence
    * order. n spaces make n+1 tokens, empty ones included; a space byte
    * never occurs inside a multi-byte UTF-8 sequence, so cutting at
    * bytes equals cutting at chars. Fewer than k tokens yield no
    * shingle. */
  def shingleHashPairs(s: org.apache.spark.unsafe.types.UTF8String, k: Int): ArrayData = {
    import org.apache.spark.unsafe.Platform
    val nBytes = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var nTok = 1
    var b = 0
    while (b < nBytes) { if (Platform.getByte(base, off + b) == ' ') nTok += 1; b += 1 }
    // starts(t) = first byte of token t; starts(nTok) = nBytes + 1, one
    // past a virtual trailing space, so token t ends at starts(t+1) - 1
    val starts = new Array[Int](nTok + 1)
    var t = 1
    b = 0
    while (b < nBytes) {
      if (Platform.getByte(base, off + b) == ' ') { starts(t) = b + 1; t += 1 }
      b += 1
    }
    starts(nTok) = nBytes + 1
    windowHashPairs(s, starts, nTok - k + 1, k, 1)
  }

  /** The `n` windows [at(i), at(i+k) - trim) of `s`'s bytes, each hashed
    * to the (g1, g2) lane pair and deduplicated on that pair in
    * first-occurrence order (deterministic under task retry);
    * `at(j)` = `bounds(j)`, or `j` when `bounds` is null. */
  private def windowHashPairs(s: org.apache.spark.unsafe.types.UTF8String,
      bounds: Array[Int], n: Int, k: Int, trim: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    if (n <= 0) return new GenericArrayData(Array.empty[Any])
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // open-addressing set on the (g1,g2) pair
    var cap = 8
    while (cap < n * 2) cap <<= 1
    val mask = cap - 1
    val tg1 = new Array[Long](cap)
    val tg2 = new Array[Long](cap)
    val usd = new Array[Boolean](cap)
    val out = new Array[Any](n)
    var m = 0
    var i = 0
    while (i < n) {
      val b0 = if (bounds == null) i else bounds(i)
      val b1 = (if (bounds == null) i + k else bounds(i + k)) - trim
      val g1 = XXH64.hashUnsafeBytes(base, off + b0, b1 - b0, 42L)
      val g2 = XXH64.hashUnsafeBytes(base, off + b0, b1 - b0, GramSeed2)
      var idx = (java.lang.Long.hashCode(g1 * 0x9e3779b97f4a7c15L + g2) & mask)
      var dup = false
      while (usd(idx) && !dup) {
        if (tg1(idx) == g1 && tg2(idx) == g2) dup = true
        else idx = (idx + 1) & mask
      }
      if (!dup) {
        usd(idx) = true; tg1(idx) = g1; tg2(idx) = g2
        out(m) = new GenericInternalRow(Array[Any](g1, g2))
        m += 1
      }
      i += 1
    }
    new GenericArrayData(
      if (m == n) out
      else { val t = new Array[Any](m); System.arraycopy(out, 0, t, 0, m); t })
  }

  def simhashChunks(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = md5Hash64(toks.getUTF8String(i))
      var j = 0
      while (j < 64) { counts(j) += ((h >>> j) & 1L).toInt; j += 1 }
      i += 1
    }
    val chunks = new Array[Any](4)
    var c = 0
    while (c < 4) {
      var v = 0L
      var k = 0
      while (k < 16) {
        if (counts(c * 16 + k) * 2 > n) v |= (1L << k)
        k += 1
      }
      chunks(c) = v
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(chunks)
  }
}

/** Compiled 64-bit SimHash over a token array, returned as 4×16-bit
  * chunks (array<long>, chunk c = bits [16c, 16c+16) — one packed long
  * would overflow at bit 63 under ANSI mode). Replaces the relational
  * spelling (explode tokens → 64 shiftright/bitwiseAND sums → majority
  * vote), which shuffled every token row and updated 64 aggregate
  * columns per token; this is one pass per document inside codegen,
  * no explode and no aggregation shuffle at all. Token hashing is the
  * md5-prefix 64-bit hash ([[ShingleUtil.md5Hash64]]) — bit-identical
  * to the relational shiftleft/conv spelling (asserted in LlmOpsSuite)
  * AND to the DuckDB oracle's UBIGINT cast, which is what makes the
  * fingerprint cross-engine-checkable.
  */
case class SimHashChunks(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_simhash"

  override protected def nullSafeEval(in: Any): Any =
    ShingleUtil.simhashChunks(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleUtil.simhashChunks($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashChunks =
    copy(child = newChild)
}

/** Compiled stride-1 k-char gram fingerprinting with per-document
  * dedup ([[ShingleUtil.gramHashPairs]]): replaces the
  * `explode(transform(sequence(…), i -> substring(text, i, k)))` →
  * `xxhash64 ×2` → `DISTINCT` pipeline of the substring-dedup operator.
  * The transform spelling materializes an O(chars × k) array of
  * substring copies per document and the DISTINCT costs a full
  * exchange + two HashAggregates; this expression hashes each window
  * in place over the parent string's bytes and dedups per document in
  * one compiled pass, so the downstream plan is explode → checkpoint,
  * no aggregation exchange at all. Output rows are
  * struct<g1: bigint, g2: bigint>, bit-identical to the two xxhash64
  * lanes they replace (pinned in PlanSuite).
  */
case class GramHashPairs(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  require(k >= 1, "gram size must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ShingleUtil.HashPairsType
  override def prettyName: String = "graft_gram_hash_pairs"

  override protected def nullSafeEval(in: Any): Any =
    ShingleUtil.gramHashPairs(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleUtil.gramHashPairs($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): GramHashPairs =
    copy(child = newChild)
}

/** Compiled stride-1 k-TOKEN shingle fingerprinting with per-document
  * dedup ([[ShingleUtil.shingleHashPairs]]): the fingerprint twin of
  * `shinglesK(split(text, " "), k)` followed by the two xxhash64 lanes.
  * Window rule: the text is cut at single-space bytes exactly as
  * `split(text, " ")` cuts it (empty tokens included), and shingle i is
  * the byte range from the start of token i to the end of token i+k-1,
  * so each window's bytes are the `concat_ws(" ", …)` shingle string's
  * bytes and the pair is bit-identical to `xxhash64(sh)` /
  * `xxhash64(lit(0x9747b28cL), sh)` (pinned in LlmOpsSuite). No token
  * array and no shingle string is built; windows hash in place over the
  * text's bytes. Dedup is on the (g1, g2) pair, so the per-document set
  * equals the distinct-shingle set unless two distinct shingles collide
  * on BOTH seeded lanes — the 128-bit collision argument documented on
  * the substring-dedup operator (`llm_dedup_substring`), which decides
  * joins on the same two lanes. Output rows are
  * struct<g1: bigint, g2: bigint>; the text must be valid UTF-8 (split
  * decodes it, the window hash does not).
  */
case class ShingleHashPairs(child: Expression, k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {

  require(k >= 1, "shingle size must be positive")
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = ShingleUtil.HashPairsType
  override def prettyName: String = "graft_shingle_hash_pairs"

  override protected def nullSafeEval(in: Any): Any =
    ShingleUtil.shingleHashPairs(
      in.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.ShingleUtil.shingleHashPairs($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashPairs =
    copy(child = newChild)
}

/** Optimizer rewrite: the stock user idiom for vocabulary counting,
  *
  *   size(filter(toks, t => t.isin(words: _*)))
  *
  * runs the lambda INTERPRETED per token and breaks whole-stage codegen
  * for its whole projection (measured ~8× on the corpus-filter pipeline).
  * When the probe list is all string literals, the expression is exactly
  * [[CountInSet]] — this rule swaps it in session-wide, so a user who
  * writes the natural spelling gets the compiled loop. Matches both the
  * `In` form and the `InSet` form OptimizeIn produces for longer lists;
  * anything else (non-literal probes, non-string arrays, reused lambda
  * variables) is left untouched.
  */
object CountInSetRewrite
    extends org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{ArrayFilter, In, InSet, LambdaFunction, Literal, NamedLambdaVariable, Size}
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  private def words(cond: Expression, lv: NamedLambdaVariable): Option[Seq[String]] =
    cond match {
      case In(v: NamedLambdaVariable, list)
          if v.exprId == lv.exprId && list.nonEmpty &&
            list.forall {
              case Literal(s, StringType) => s != null
              case _ => false
            } =>
        Some(list.map(_.asInstanceOf[Literal].value.toString))
      case InSet(v: NamedLambdaVariable, hset)
          if v.exprId == lv.exprId && v.dataType == StringType &&
            hset.nonEmpty && !hset.contains(null) =>
        // a set: element order is irrelevant to the count
        Some(hset.toSeq.map(_.toString))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case s @ Size(ArrayFilter(arr, LambdaFunction(cond, Seq(lv: NamedLambdaVariable), _)), false)
        if arr.dataType.isInstanceOf[ArrayType] &&
          arr.dataType.asInstanceOf[ArrayType].elementType == StringType =>
      words(cond, lv).map(ws => CountInSet(arr, ws)).getOrElse(s)
  }
}

object expressions {
  /** Column-level API for [[DotProductF]]. */
  def dotF(a: Column, b: Column): Column =
    Shim.column(DotProductF(Shim.expression(a), Shim.expression(b)))

  /** norm² as a self-dot — one fused pass. */
  def norm2F(a: Column): Column = dotF(a, a)

  /** Column-level API for [[DotProductD]]. */
  def dotD(a: Column, b: Column): Column =
    Shim.column(DotProductD(Shim.expression(a), Shim.expression(b)))

  def norm2D(a: Column): Column = dotD(a, a)

  /** Column-level API for [[ShinglesK]]. */
  def shinglesK(toks: Column, k: Int): Column =
    Shim.column(ShinglesK(Shim.expression(toks), k))

  /** Column-level API for [[GramHashPairs]]. */
  def gramHashPairs(text: Column, k: Int): Column =
    Shim.column(GramHashPairs(Shim.expression(text), k))

  /** Column-level API for [[ShingleHashPairs]]. */
  def shingleHashPairs(text: Column, k: Int): Column =
    Shim.column(ShingleHashPairs(Shim.expression(text), k))

  /** Column-level API for [[SimHashChunks]]. */
  def simhashChunks(toks: Column): Column =
    Shim.column(SimHashChunks(Shim.expression(toks)))

  /** Column-level API for [[CountInSet]]. */
  def countInSet(toks: Column, words: Seq[String]): Column =
    Shim.column(CountInSet(Shim.expression(toks), words))

  /** Column-level API for [[Md5Prefix64]]. */
  def md5Prefix64(s: Column): Column =
    Shim.column(Md5Prefix64(Shim.expression(s)))
}
