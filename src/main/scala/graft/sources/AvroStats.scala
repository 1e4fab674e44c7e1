package graft.sources

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file column statistics — the manifest payload that turns the
  * versioned catalog's scan from "read every live file" into
  * "read only files whose [min, max] intervals can satisfy the pushed
  * predicates" (Iceberg's manifest stats / Delta's file stats, the
  * data-skipping design every lakehouse plans selective queries with).
  *
  *   - COLLECTION: [[StatsCollector]] rides inside every
  *     [[AvroFileWriter]] — one compare per (row, column) while the row
  *     is being encoded anyway, so stats cost nothing extra in I/O and
  *     are exact (true min/max/null-count of the file, not estimates).
  *   - STORAGE: one compact JSON object per file in the snapshot
  *     manifest line (`{"col":[min,max,nulls],...}`) — O(columns) bytes
  *     riding the same `\t`-separated convention as bucket placement.
  *     A column PRESENT with null bounds means "every row is null";
  *     a column ABSENT means "unknown" (file predates stats, or the
  *     column was added after the file was written) and never prunes.
  *   - PRUNING: [[fileMightMatch]] evaluates the scan's pushed filters
  *     against the intervals with strictly conservative three-valued
  *     logic — a file is skipped ONLY when a conjunct is provably FALSE
  *     for every row it could hold. The scan keeps every pushed filter
  *     as a residual for Spark to re-evaluate row-level, so pruning can
  *     only ever remove work, never rows.
  *
  * 100-TB note: this is THE planning lever at scale — a time-range or
  * key-range query over a sorted/partitioned table plans O(matching
  * files) splits instead of O(table). Stats live in the manifest, so
  * pruning is metadata-only: no data file is opened to decide.
  */
object AvroStats {

  /** Exact per-column summary of one container file. `min`/`max` are
    * None iff every row is null in that column; values are normalized
    * to Long (int/long), Double, Boolean or String. */
  case class ColStats(min: Option[Any], max: Option[Any], nulls: Long)

  /** Reserved stats-JSON key carrying the file's ROW COUNT — what makes
    * COUNT(*)/COUNT(col) answerable from the manifest alone. Not a
    * legal column name shape for the fixtures' SQL surface, and the
    * parser routes it to [[rowCount]], never to a ColStats. */
  val RowCountKey = "_n"

  /** Reserved stats-JSON key carrying per-column KMV DISTINCT sketches
    * (round-16 verdict #6 — the CBO's NDV input): the [[NdvK]] smallest
    * 64-bit value hashes per tracked column, hex-encoded. KMV is
    * MERGEABLE by construction — the union's k smallest minima are the
    * k smallest of the merged stream — so a table-level (or any
    * pruned-subset-level) distinct estimate folds from per-file
    * sketches without touching data: fewer than k minima ⇒ the count
    * is EXACT (every distinct value's hash is present); otherwise the
    * classic k-minimum-values estimator (k−1)/fraction(kth). ~½ KB per
    * (file, column) in the manifest — the price of join reordering
    * that never reads a file. Encoded as a JSON OBJECT, which the
    * ColStats array parser ignores — old readers skip it, old
    * manifests simply have no sketches (callers decline). */
  val NdvKey = "_ndv"

  /** Sketch size: 32 minima ≈ ±18% standard error — enough to order
    * joins by selectivity, cheap enough to ride every manifest line. */
  val NdvK = 32

  private def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit value hash in the STATS-NORMALIZED domain (ints/dates/
    * timestamps as longs, floats as doubles, -0.0 folded), so two
    * files hashing the same logical value always agree. */
  def ndvHash(v: Any): Long = v match {
    case d: java.math.BigDecimal => ndvHash("dec:" + d.toPlainString)
    case x: java.lang.Long    => splitmix64(x.longValue)
    case x: java.lang.Double  =>
      splitmix64(java.lang.Double.doubleToLongBits(
        if (x.doubleValue == 0.0) 0.0 else x.doubleValue) ^ 0x5851F42D4C957F2DL)
    case x: java.lang.Boolean => splitmix64(if (x) 3L else 7L)
    case s: String =>
      var h = 0xCBF29CE484222325L
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bytes.length) { h ^= bytes(i) & 0xFFL; h *= 0x100000001B3L; i += 1 }
      splitmix64(h)
    case other => splitmix64(other.hashCode.toLong)
  }

  private val unsignedOrder: java.util.Comparator[java.lang.Long] =
    (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b)

  /** Streaming k-minimum-values accumulator. */
  final class KmvSketch {
    private val minima = new java.util.TreeSet[java.lang.Long](unsignedOrder)
    def update(h: Long): Unit = {
      if (minima.size < NdvK) { minima.add(h); () }
      else if (java.lang.Long.compareUnsigned(h, minima.last) < 0) {
        if (minima.add(h)) minima.remove(minima.last)
        ()
      }
    }
    def isEmpty: Boolean = minima.isEmpty
    def toSeq: Seq[Long] = {
      val b = Seq.newBuilder[Long]
      minima.forEach(v => b += v.longValue)
      b.result()
    }
  }

  /** Fold per-file sketches into one distinct-count estimate: union
    * the minima, keep the k smallest; < k minima ⇒ exact, else the
    * KMV estimator. */
  def ndvEstimate(sketches: Seq[Seq[Long]]): Long = {
    val union = sketches.flatten.distinct
      .sortBy(h => h ^ Long.MinValue).take(NdvK)
    if (union.isEmpty) 0L
    else if (union.size < NdvK) union.size.toLong
    else {
      val kth = union.last
      // unsigned 64-bit → fraction of the hash space in [0, 1)
      val frac = math.max((kth >>> 11).toDouble / (1L << 53).toDouble,
        java.lang.Double.MIN_NORMAL)
      math.max(union.size.toLong, math.round((NdvK - 1).toDouble / frac))
    }
  }

  /** Per-column NDV sketches of one stats JSON (empty pre-round-16). */
  def ndvSketches(json: String): Map[String, Seq[Long]] =
    try {
      JsonMethods.parse(json) match {
        case JObject(fields) => fields.collectFirst {
          case (NdvKey, JObject(cols)) => cols.collect {
            case (name, JString(hex)) =>
              name -> hex.split(",").toSeq.filter(_.nonEmpty)
                .map(java.lang.Long.parseUnsignedLong(_, 16))
          }.toMap
        }.getOrElse(Map.empty)
        case _ => Map.empty
      }
    } catch { case _: Exception => Map.empty }

  /** String bounds longer than this many CODE POINTS are truncated
    * before they enter the manifest (min: prefix — a prefix sorts ≤
    * the full value; max: prefix bumped to its code-point successor —
    * strictly ≥ every string it covers). Iceberg truncates to ~16
    * bytes for the same reason: long string values must not bloat
    * every snapshot manifest and every plan-time parse. */
  val MaxStringBound = 16

  private def truncMin(s: String): String =
    if (s.codePointCount(0, s.length) <= MaxStringBound) s
    else s.substring(0, s.offsetByCodePoints(0, MaxStringBound))

  private def truncMax(s: String): String = {
    if (s.codePointCount(0, s.length) <= MaxStringBound) return s
    // shortest bumped prefix ≥ s: bump the truncated prefix's last
    // code point; where no sound successor exists (lone surrogate,
    // U+10FFFF) drop it and bump the previous one (Iceberg's rule)
    var p = s.substring(0, s.offsetByCodePoints(0, MaxStringBound))
    while (p.nonEmpty) {
      nextPrefix(p) match {
        case Some(np) => return np
        case None =>
          p = p.substring(0, p.length - Character.charCount(
            p.codePointBefore(p.length)))
      }
    }
    s // every prefix position un-bumpable → keep the full value (rare)
  }

  /** True iff this column type records min/max bounds in the manifest.
    * TIMESTAMP (internal µs long) and DATE (epoch-day int) share the
    * numeric bound domain; DECIMAL records exact tagged bounds (round
    * 16); BINARY/ARRAY record NOTHING — their
    * columns are simply ABSENT from the stats JSON (absent = unknown →
    * never prunes, and aggregate pushdown DECLINES for them rather
    * than mistaking absence for "predates the column / all-null"). */
  def trackable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | TimestampType | DateType => true
    // DECIMAL (round 16): bounds as tagged plain-strings ("dec:<text>")
    // — exact (never truncated), folded numerically by [[cmp]]'s
    // decimal case, re-typed by [[coerce]]. BINARY/ARRAY still record
    // nothing (absent = unknown → never prunes).
    case _: DecimalType => true
    case _ => false
  }

  /** Tag prefix for decimal bounds in stats JSON: distinguishes them
    // from genuine text so schema-less group-hull folds stay numeric.
    */
  private val DecTag = "dec:"
  /** Escape tag for GENUINE string bounds that would collide with
    * [[DecTag]] (ADVICE r16: a STRING column whose values literally
    * spell "dec:<number>" must never be compared numerically) —
    * applied at encode, stripped at parse, so a "dec:"-prefixed
    * JString in stats JSON is unambiguously a decimal bound. */
  private val TxtTag = "txt:"
  private def asDec(v: Any): Option[java.math.BigDecimal] = v match {
    case d: java.math.BigDecimal  => Some(d)
    case d: scala.math.BigDecimal => Some(d.bigDecimal)
    case s: String if s.startsWith(DecTag) =>
      try Some(new java.math.BigDecimal(s.substring(DecTag.length)))
      catch { case _: Exception => None }
    case n: java.lang.Long    => Some(java.math.BigDecimal.valueOf(n))
    case n: java.lang.Integer => Some(java.math.BigDecimal.valueOf(n.longValue))
    case n: java.lang.Double  => Some(java.math.BigDecimal.valueOf(n.doubleValue))
    case _ => None
  }
  /** Decimal compare is entered by a genuine BigDecimal VALUE only —
    * the resolved column TYPE decides (coerce re-types tagged bounds
    * for DecimalType columns; literals for them arrive as BigDecimal),
    * never a value's string shape (ADVICE r16). */
  private def isDecish(v: Any): Boolean = v match {
    case _: java.math.BigDecimal | _: scala.math.BigDecimal => true
    case _ => false
  }

  /** Streaming min/max/null-count accumulator for one file's rows —
    * updated per field by the Avro writer as it encodes. Columns whose
    * type is not [[trackable]] are skipped entirely. `shadow` names
    * extra slots for values the writer DERIVES per row (variant-shred
    * extractions — [[VariantShredding]]): they ride the same JSON under
    * names no real column can spell, already normalized to the stats
    * domain (Long / Double / String) by the caller. */
  final class StatsCollector(schema: StructType,
      shadow: Seq[String] = Nil) {
    private val shNulls = new Array[Long](shadow.length)
    private val shMins = new Array[Any](shadow.length)
    private val shMaxs = new Array[Any](shadow.length)

    /** Fold one derived value (pre-normalized or null) into shadow
      * slot `j` — called once per (row, declared shred). */
    def updateShadow(j: Int, v: Any): Unit = {
      if (v == null) { shNulls(j) += 1; return }
      val n = v match {
        case x: java.lang.Double if x.doubleValue == 0.0 => Double.box(0.0)
        case other => other
      }
      if (shMins(j) == null) { shMins(j) = n; shMaxs(j) = n }
      else {
        if (cmp(n, shMins(j)) < 0) shMins(j) = n
        if (cmp(n, shMaxs(j)) > 0) shMaxs(j) = n
      }
    }
    private val nulls = new Array[Long](schema.length)
    private val mins = new Array[Any](schema.length)
    private val maxs = new Array[Any](schema.length)
    // decimal columns arrive from the writer as unscaled-bytes buffers;
    // the column's SCALE rebuilds the exact value
    private val decScale: Array[Int] = schema.fields.map(_.dataType match {
      case d: DecimalType => d.scale
      case _              => -1
    })
    // identity columns are EXCLUDED from stats entirely: their bytes
    // are null (values derive from row lineage), and a recorded
    // all-null column would wrongly prune value predicates — scans
    // synthesize exact identity bounds from the entry's row-id range
    // instead ([[FileColumns.Pruning]])
    private val track: Array[Boolean] =
      schema.fields.map(f =>
        trackable(f.dataType) && !GeneratedColumns.isIdentity(f))
    private val ndv: Array[KmvSketch] =
      schema.fields.map(f =>
        if (trackable(f.dataType)) new KmvSketch else null)
    private var rows = 0L

    /** Called once per row by the writer (fields update separately). */
    def countRow(): Unit = rows += 1

    /** `v` is the boxed write-side value (Long/Integer/Double/Float/
      * Boolean/String — timestamps arrive as their µs long, dates as
      * their epoch-day int) or null. */
    def update(i: Int, v: Any): Unit = {
      if (!track(i)) return
      if (v == null) { nulls(i) += 1; return }
      val n = v match {
        case b: java.nio.ByteBuffer if decScale(i) >= 0 =>
          FileColumns.decimal(b, decScale(i))
        // the writer hands strings as Avro Utf8 (UTF-8 bytes, no
        // java.lang.String detour on the encode path) — normalize here
        // so bounds/NDV keep their String domain exactly as before
        case u: org.apache.avro.util.Utf8 => u.toString
        case x: java.lang.Integer => Long.box(x.longValue) // normalize int → long
        // -0.0 == 0.0 in Spark's comparison semantics but not in
        // Double.compare: normalize so bounds can never exclude the
        // equal-by-engine value
        case x: java.lang.Double if x.doubleValue == 0.0 => Double.box(0.0)
        case x: java.lang.Float =>
          Double.box(if (x.floatValue == 0.0f) 0.0 else x.doubleValue)
        case other                => other
      }
      ndv(i).update(ndvHash(n))
      if (mins(i) == null) { mins(i) = n; maxs(i) = n }
      else {
        if (cmp(n, mins(i)) < 0) mins(i) = n
        if (cmp(n, maxs(i)) > 0) maxs(i) = n
      }
    }

    def toJson: String = {
      // string bounds are truncated (min: prefix; max: bumped prefix)
      // so a long-text column costs O(1) manifest bytes per file
      def bound(v: Any, isMin: Boolean): Any = v match {
        case s: String => if (isMin) truncMin(s) else truncMax(s)
        case o         => o
      }
      val fields = schema.fields.zipWithIndex.collect {
        case (f, i) if track(i) =>
          f.name -> (JArray(List(
            toJValue(if (mins(i) == null) null else bound(mins(i), isMin = true)),
            toJValue(if (maxs(i) == null) null else bound(maxs(i), isMin = false)),
            JLong(nulls(i)))): JValue)
      }
      val shadowFields = shadow.zipWithIndex.map { case (name, j) =>
        name -> (JArray(List(
          toJValue(if (shMins(j) == null) null else bound(shMins(j), isMin = true)),
          toJValue(if (shMaxs(j) == null) null else bound(shMaxs(j), isMin = false)),
          JLong(shNulls(j)))): JValue)
      }
      val sketches = schema.fields.zipWithIndex.collect {
        case (f, i) if track(i) && !ndv(i).isEmpty =>
          f.name -> (JString(ndv(i).toSeq
            .map(java.lang.Long.toUnsignedString(_, 16)).mkString(",")): JValue)
      }
      val ndvField =
        if (sketches.isEmpty) Nil
        else List(NdvKey -> (JObject(sketches.toList): JValue))
      JsonMethods.compact(JsonMethods.render(
        JObject((RowCountKey -> (JLong(rows): JValue)) ::
          fields.toList ::: shadowFields.toList ::: ndvField)))
    }
  }

  /** The file's exact row count, when the stats were recorded with one
    * (pre-round-14 manifests lack it — callers must decline, not guess). */
  def rowCount(json: String): Option[Long] =
    try {
      JsonMethods.parse(json) match {
        case JObject(fields) => fields.collectFirst {
          case (RowCountKey, JLong(n)) => n
          case (RowCountKey, JInt(n))  => n.longValue
        }
        case _ => None
      }
    } catch { case _: Exception => None }

  /** One-parse combination of [[rowCount]] + [[parse]] for callers that
    * need both per file (aggregate pushdown folds O(files) of these at
    * plan time — don't parse the JSON twice). */
  def parseWithRows(json: String): (Option[Long], Map[String, ColStats]) =
    try {
      JsonMethods.parse(json) match {
        case JObject(fields) =>
          val rows = fields.collectFirst {
            case (RowCountKey, JLong(n)) => n
            case (RowCountKey, JInt(n))  => n.longValue
          }
          val cols = fields.collect {
            case (name, JArray(List(mn, mx, nc))) =>
              val nulls = nc match {
                case JLong(x) => x
                case JInt(x)  => x.longValue
                case _        => 0L
              }
              name -> ColStats(fromJValue(mn), fromJValue(mx), nulls)
          }.toMap
          (rows, cols)
        case _ => (None, Map.empty)
      }
    } catch { case _: Exception => (None, Map.empty) }

  private def toJValue(v: Any): JValue = v match {
    case null                 => JNull
    case d: java.math.BigDecimal => JString(DecTag + d.toPlainString)
    case x: java.lang.Long    => JLong(x)
    case x: java.lang.Double  =>
      // NaN/Infinity are not JSON numbers (jackson would quote them
      // inconsistently) — encode as sentinel strings; [[coerce]] maps
      // them back for DOUBLE columns at use time
      if (x.isNaN || x.isInfinite) JString(x.toString) else JDouble(x)
    case x: java.lang.Boolean => JBool(x)
    case x: String            =>
      // a genuine string bound colliding with a tag is escaped so the
      // schema-less hull fold can trust the "dec:" prefix (ADVICE r16)
      if (x.startsWith(DecTag) || x.startsWith(TxtTag)) JString(TxtTag + x)
      else JString(x)
    case other                => JString(other.toString)
  }

  /** Re-type a parsed bound by the column's Spark type — the parse is
    * schema-less, so special doubles (NaN/Infinity sentinels) come back
    * as strings until the caller names the column type. A STRING column
    * whose values literally say "NaN" is untouched. */
  def coerce(cs: ColStats, dt: DataType): ColStats = {
    def fix(v: Option[Any]): Option[Any] = v.map {
      case s: String if dt == DoubleType &&
          (s == "NaN" || s == "Infinity" || s == "-Infinity") =>
        Double.box(s.toDouble)
      case s: String if dt.isInstanceOf[DecimalType] && s.startsWith(DecTag) =>
        new java.math.BigDecimal(s.substring(DecTag.length))
      case o => o
    }
    if (dt == DoubleType || dt.isInstanceOf[DecimalType])
      ColStats(fix(cs.min), fix(cs.max), cs.nulls)
    else cs
  }

  private def fromJValue(v: JValue): Option[Any] = v match {
    case JNull | JNothing => None
    case JLong(x)         => Some(Long.box(x))
    case JInt(x)          => Some(Long.box(x.longValue))
    case JDouble(x)       => Some(Double.box(x))
    case JDecimal(x)      => Some(Double.box(x.doubleValue))
    case JBool(x)         => Some(Boolean.box(x))
    case JString(x)       =>
      // encode-time escaping makes the tags trustworthy here: "txt:" =
      // genuine string (strip), "dec:" = decimal bound (re-type), so
      // every later compare runs in the value's TRUE domain. Residual
      // ambiguity is confined to LEGACY pre-escape manifests whose
      // string column literally held "dec:<number>" (misread numeric)
      // or "txt:…" (wrongly stripped) — both self-heal when the next
      // compaction rewrites the file's stats with escaping.
      if (x.startsWith(TxtTag)) Some(x.substring(TxtTag.length))
      else if (x.startsWith(DecTag))
        (try Some(new java.math.BigDecimal(x.substring(DecTag.length)))
         catch { case _: Exception => None }).orElse(Some(x))
      else Some(x)
    case other            => Some(other.values.toString)
  }

  /** Parse a manifest stats entry. Unparseable input degrades to
    * "no stats" (never fails a read — stats are an optimization). */
  def parse(json: String): Map[String, ColStats] =
    try {
      JsonMethods.parse(json) match {
        case JObject(fields) => fields.collect {
          case (name, JArray(List(mn, mx, nc))) =>
            val nulls = nc match {
              case JLong(x) => x
              case JInt(x)  => x.longValue
              case _        => 0L
            }
            name -> ColStats(fromJValue(mn), fromJValue(mx), nulls)
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Exception => Map.empty }

  /** Compare two recorded bounds of the SAME column (both non-null) —
    * the fold the manifest-stats aggregate pushdown runs MIN/MAX with. */
  def cmpBounds(a: Any, b: Any): Int = cmp(a, b)

  /** A datetime LITERAL's value in its column's internal long domain:
    * timestamps → epoch µs (what TIMESTAMP stats record), dates →
    * epoch days (what DATE stats record). Spark pushes V1 filters with
    * java.sql or java.time literals depending on the Java8-API conf —
    * both spellings land here. */
  def datetimeLong(x: Any): Option[Long] = x match {
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Same widened comparison discipline as [[AvroFilterEval]]: numerics
    * compare as long unless a double is involved; booleans natively;
    * strings by CODE POINT (= UTF-8 binary order, which is what Spark's
    * UTF8String comparisons use — Java's UTF-16 compareTo disagrees for
    * supplementary-plane characters vs [U+E000, U+FFFF], and a pruning
    * order that disagrees with the engine's can wrongly skip a file).
    * A datetime literal against a NUMERIC bound compares in the
    * column's internal long domain (µs / epoch days) — TIMESTAMP/DATE
    * column stats ARE longs; against a STRING bound it falls through
    * to the text compare (a string column holding date text). Both
    * sides non-null. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    // decimal bounds/literals (incl. the "dec:<text>" tagged spelling
    // stats JSON carries) compare EXACTLY in the BigDecimal domain
    case (x, y) if isDecish(x) || isDecish(y) =>
      (asDec(x), asDec(y)) match {
        case (Some(p), Some(q)) => p.compareTo(q)
        case _ => cmpCodePoints(x.toString, y.toString)
      }
    case (x: java.lang.Number, y) if datetimeLong(y).isDefined =>
      java.lang.Long.compare(x.longValue, datetimeLong(y).get)
    case (x, y: java.lang.Number) if datetimeLong(x).isDefined =>
      java.lang.Long.compare(datetimeLong(x).get, y.longValue)
    case (x: java.lang.Number, y: java.lang.Number) =>
      if (x.isInstanceOf[java.lang.Double] || y.isInstanceOf[java.lang.Double] ||
          x.isInstanceOf[java.lang.Float]  || y.isInstanceOf[java.lang.Float])
        java.lang.Double.compare(x.doubleValue, y.doubleValue)
      else java.lang.Long.compare(x.longValue, y.longValue)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case (x: String, y: String) => cmpCodePoints(x, y)
    case (x, y) => cmpCodePoints(x.toString, y.toString)
  }

  /** UTF-16 order remapped to code-point order: chars in
    * [U+E000, U+FFFF] sort ABOVE surrogate pairs in UTF-16 but BELOW
    * them by code point; shifting both ranges restores code-point
    * order char-by-char (the standard UTF-8-compatible compare —
    * exactly UTF8String's binary order, so pruning, the row-level
    * evaluator and the engine can never disagree). */
  def cmpCodePoints(a: String, b: String): Int = {
    def adj(c: Char): Int =
      if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c.toInt
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.charAt(i); val cb = b.charAt(i)
      if (ca != cb) return Integer.compare(adj(ca), adj(cb))
      i += 1
    }
    Integer.compare(a.length, b.length)
  }

  /** Normalize a pushed-filter literal into the stats value domain.
    * Datetime literals stay AS-IS: [[cmp]] pairs them with the bound's
    * runtime type (long domain vs a numeric bound, text vs a string
    * bound), so the one literal shape serves both column flavors. */
  private def norm(x: Any): Any = x match {
    case i: java.lang.Integer   => Long.box(i.longValue)
    case s: java.lang.Short     => Long.box(s.longValue)
    case b: java.lang.Byte      => Long.box(b.longValue)
    case d: java.lang.Double if d.doubleValue == 0.0 => Double.box(0.0)
    case f: java.lang.Float     =>
      if (f.floatValue == 0.0f) Double.box(0.0) else Double.box(f.doubleValue)
    case u: org.apache.spark.unsafe.types.UTF8String => u.toString
    case o => o
  }

  /** Smallest string strictly greater than every string with prefix
    * `p`, when one exists in the CODE-POINT compare order ([[cmp]]'s
    * order — bumping the last UTF-16 unit is wrong for a prefix ending
    * at 0xDFFF, whose unit-successor 0xE000 sorts BELOW it by code
    * point and would let StringStartsWith pruning skip matching
    * files). The successor is computed on the last code point: U+D7FF
    * skips the surrogate block to U+E000; a trailing lone surrogate or
    * U+10FFFF has no sound successor → None (never prunes). */
  private def nextPrefix(p: String): Option[String] = {
    if (p.isEmpty) return None
    val cp = p.codePointBefore(p.length)
    if ((cp >= 0xD800 && cp <= 0xDFFF) || cp == 0x10FFFF) return None
    val next = if (cp == 0xD7FF) 0xE000 else cp + 1
    Some(p.substring(0, p.length - Character.charCount(cp)) +
      new String(Character.toChars(next)))
  }

  /** Group-hull stats: fold many files' per-file stats JSONs into one
    * aggregated stats JSON for the files' manifest GROUP — min of
    * mins, max of maxs, summed null counts, summed row counts. The
    * hull is what group-level pruning tests a pushed conjunction
    * against, so it must be conservative: any file WITHOUT stats makes
    * the whole group unknown (`{}`), and a column absent from any
    * file's stats is omitted (unknown → never prunes). Mixed
    * double/sentinel bounds (NaN/±Infinity stored as strings) fold in
    * the double domain; [[toJValue]] re-encodes specials as sentinels. */
  def aggregateStats(statsJsons: Seq[Option[String]]): String = {
    if (statsJsons.isEmpty || statsJsons.exists(_.isEmpty)) return "{}"
    val parsed = statsJsons.flatten.map(parseWithRows)
    val rows: Option[Long] =
      if (parsed.forall(_._1.isDefined)) Some(parsed.flatMap(_._1).sum) else None
    val common = parsed.map(_._2.keySet).reduce(_ intersect _)
    def widen(v: Any, anyDouble: Boolean): Any = v match {
      case s: String if anyDouble &&
          (s == "NaN" || s == "Infinity" || s == "-Infinity") =>
        Double.box(s.toDouble)
      case o => o
    }
    val cols = common.toSeq.sorted.map { c =>
      val cs = parsed.map(_._2(c))
      val raw = cs.flatMap(s => s.min.toSeq ++ s.max.toSeq)
      val anyDouble = raw.exists(_.isInstanceOf[java.lang.Double])
      val mins = cs.flatMap(_.min).map(widen(_, anyDouble))
      val maxs = cs.flatMap(_.max).map(widen(_, anyDouble))
      val mn = if (mins.isEmpty) null
        else mins.reduce((a, b) => if (cmp(a, b) <= 0) a else b)
      val mx = if (maxs.isEmpty) null
        else maxs.reduce((a, b) => if (cmp(a, b) >= 0) a else b)
      c -> (JArray(List(toJValue(mn), toJValue(mx),
        JLong(cs.map(_.nulls).sum))): JValue)
    }
    val fields = rows.map(n => RowCountKey -> (JLong(n): JValue)).toList ++ cols
    JsonMethods.compact(JsonMethods.render(JObject(fields)))
  }

  /** True unless `filters` (a conjunction) is provably false for every
    * row `fileName` can contain. `resolve` maps an attribute name to
    * the column's stats (following rename aliases); None = unknown →
    * never prunes. Leaf filters referencing ONLY the hidden `_file`
    * metadata column are decided EXACTLY from the file name. */
  def fileMightMatch(filters: Seq[Filter], fileName: String,
      resolve: String => Option[ColStats]): Boolean =
    mightMatch(filters, Some(fileName), resolve)

  /** Group-level pruning: true unless `filters` is provably false for
    * every row of every file in a group whose aggregated hull stats
    * `resolve` serves. `_file` leaves cannot be decided for a whole
    * group — they keep it. */
  def groupMightMatch(filters: Seq[Filter],
      resolve: String => Option[ColStats]): Boolean =
    mightMatch(filters, None, resolve)

  /** Dual of [[fileMightMatch]]: true only when `filters` (a
    * conjunction) is PROVABLY TRUE for every row the file can contain —
    * what lets a retention `DELETE WHERE day < cutoff` drop whole
    * files from the manifest with ZERO reads (Iceberg's metadata
    * delete). Strictly conservative: unknown stats, unknown shapes, or
    * ANY null in a value-compared column (a null makes the comparison
    * UNKNOWN, so that row would survive the DELETE) ⇒ false. Sound
    * under string-bound truncation: stored min is a PREFIX of (≤) the
    * true min and stored max a bump of (≥) the true max, so the stored
    * interval COVERS the values — a test that holds on the covering
    * interval holds on every value. Rows already dead under a dv/eq
    * sidecar only shrink the live set — proving the predicate for all
    * possible rows proves it for the live ones. */
  def fileMustMatch(filters: Seq[Filter], fileName: String,
      resolve: String => Option[ColStats]): Boolean = {
    def stats(a: String): Option[ColStats] = resolve(a)
    // both bounds known AND zero nulls: every row has a comparable value
    def solidBounds(a: String): Option[(Any, Any)] =
      stats(a).filter(_.nulls == 0L)
        .flatMap(s => for (mn <- s.min; mx <- s.max) yield (mn, mx))
    def valueLeaf(a: String, test: ((Any, Any)) => Boolean): Boolean =
      solidBounds(a).exists(test)
    def must(f: Filter): Boolean = f match {
      case And(l, r) => must(l) && must(r)
      case Or(l, r)  => must(l) || must(r) // sufficient, conservative
      case AlwaysTrue()  => true
      case AlwaysFalse() => false
      case leaf if leaf.references.nonEmpty &&
          leaf.references.forall(_.equalsIgnoreCase(AvroDirSource.FileColumn)) =>
        // every row of the file shares one _file value: decide exactly
        AvroFilterEval.eval(leaf, _ => fileName).getOrElse(false)
      case EqualTo(a, x) => x != null && valueLeaf(a, { case (mn, mx) =>
        cmp(norm(x), mn) == 0 && cmp(norm(x), mx) == 0 })
      case EqualNullSafe(a, x) =>
        if (x == null) stats(a).exists(_.min.isEmpty)
        else valueLeaf(a, { case (mn, mx) =>
          cmp(norm(x), mn) == 0 && cmp(norm(x), mx) == 0 })
      case GreaterThan(a, x) =>
        x != null && valueLeaf(a, { case (mn, _) => cmp(norm(x), mn) < 0 })
      case GreaterThanOrEqual(a, x) =>
        x != null && valueLeaf(a, { case (mn, _) => cmp(norm(x), mn) <= 0 })
      case LessThan(a, x) =>
        x != null && valueLeaf(a, { case (_, mx) => cmp(norm(x), mx) > 0 })
      case LessThanOrEqual(a, x) =>
        x != null && valueLeaf(a, { case (_, mx) => cmp(norm(x), mx) >= 0 })
      case In(a, xs) => xs != null && xs.exists(x => x != null &&
        valueLeaf(a, { case (mn, mx) =>
          cmp(norm(x), mn) == 0 && cmp(norm(x), mx) == 0 }))
      case IsNull(a)    => stats(a).exists(_.min.isEmpty)
      case IsNotNull(a) => stats(a).exists(s => s.nulls == 0L && s.min.isDefined)
      case StringStartsWith(a, p) => p != null &&
        valueLeaf(a, { case (mn: String, mx: String) =>
          mn.startsWith(p) && mx.startsWith(p)
        case _ => false })
      case _ => false // Not/EndsWith/Contains/unknown: never provable here
    }
    filters.nonEmpty && filters.forall(must)
  }

  private def mightMatch(filters: Seq[Filter], fileName: Option[String],
      resolve: String => Option[ColStats]): Boolean = {

    // Some((min, max)) when both bounds known; None → value predicates
    // cannot prune via THIS path. An all-null column (stats present,
    // bounds absent) can never satisfy a value comparison → the value
    // leaves below return false for it.
    def bounds(a: String): Option[(Any, Any)] =
      resolve(a).flatMap(s => for (mn <- s.min; mx <- s.max) yield (mn, mx))
    def allNull(a: String): Boolean = resolve(a).exists(_.min.isEmpty)
    // value-comparison leaves share this shape: provably-false iff the
    // file is all-null in the column, or the bound test fails
    def valueLeaf(a: String, test: ((Any, Any)) => Boolean): Boolean =
      !allNull(a) && bounds(a).forall(test)
    def within(a: String, x: Any): Boolean =
      valueLeaf(a, { case (mn, mx) =>
        cmp(norm(x), mn) >= 0 && cmp(norm(x), mx) <= 0 })

    def might(f: Filter): Boolean = f match {
      case And(l, r) => might(l) && might(r)
      case Or(l, r)  => might(l) || might(r)
      case AlwaysTrue()  => true
      case AlwaysFalse() => false
      case leaf if leaf.references.nonEmpty &&
          leaf.references.forall(_.equalsIgnoreCase(AvroDirSource.FileColumn)) =>
        fileName match {
          case Some(fn) => AvroFilterEval.eval(leaf, _ => fn).getOrElse(true)
          case None     => true // whole-group check: undecidable per group
        }
      case EqualTo(a, x)       => x != null && within(a, x)
      case EqualNullSafe(a, x) =>
        if (x == null) resolve(a).forall(_.nulls > 0) else within(a, x)
      case GreaterThan(a, x) =>
        x != null && valueLeaf(a, { case (_, mx) => cmp(norm(x), mx) < 0 })
      case GreaterThanOrEqual(a, x) =>
        x != null && valueLeaf(a, { case (_, mx) => cmp(norm(x), mx) <= 0 })
      case LessThan(a, x) =>
        x != null && valueLeaf(a, { case (mn, _) => cmp(norm(x), mn) > 0 })
      case LessThanOrEqual(a, x) =>
        x != null && valueLeaf(a, { case (mn, _) => cmp(norm(x), mn) >= 0 })
      case In(a, xs) =>
        // null-only lists can still yield UNKNOWN (kept rows are only
        // those evaluating TRUE, so a pure-null IN list never matches —
        // but UNKNOWN never matches either; pruning here stays sound
        // because the residual filter re-evaluates row-level anyway).
        // Conservative: keep if ANY non-null literal is within bounds.
        xs != null && xs.exists(x => x != null && within(a, x))
      case IsNull(a)    => resolve(a).forall(_.nulls > 0)
      case IsNotNull(a) => resolve(a).forall(_.min.isDefined)
      case StringStartsWith(a, p) =>
        p != null && valueLeaf(a, { case (mn, mx) =>
          cmp(p, mx) <= 0 && nextPrefix(p).forall(np => cmp(np, mn) > 0)
        })
      // Not / EndsWith / Contains / unknown shapes: no sound interval
      // reasoning — keep the file
      case _ => true
    }
    filters.forall(might)
  }
}
