package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Executor-side evaluator behind [[AvroDirTable]]'s `SupportsDelete`:
  * SQL three-valued logic over DSv2 [[Filter]] trees against Avro
  * records, plus the per-file copy-on-write rewrite a row-level
  * `DELETE FROM catalog.ns.t WHERE ...` runs as a Spark job.
  *
  * Semantics are SQL's exactly: a row is deleted iff the pushed filter
  * conjunction evaluates TRUE — UNKNOWN (null input) keeps the row,
  * which is what `DELETE ... WHERE` does in every SQL engine. The
  * eval returns `Option[Boolean]` with `None` as UNKNOWN so AND/OR/NOT
  * compose by the 3VL truth tables, not by Scala boolean shortcuts.
  */
object AvroFilterEval extends Serializable {

  /** Literal types [[eval]] compares CORRECTLY against decoded Avro
    * values. Decimal/binary/array literals are refused — claiming them
    * would route a DELETE through a text-compare that deletes the
    * wrong rows; Spark then takes the row-level-operation path, which
    * evaluates with real Catalyst expressions. */
  private def litOk(x: Any): Boolean = x match {
    case null => true
    // decimal literals compare exactly: the resolvers decode a DECIMAL
    // column's unscaled bytes to BigDecimal with the column scale, and
    // cmp() pairs BigDecimals in the exact domain (round 16 — was
    // refused, which also kept decimal predicates off the stats
    // pruning and the metadata-delete fast path)
    case _: java.math.BigDecimal | _: scala.math.BigDecimal => true
    case _: java.lang.Number | _: java.lang.Boolean | _: String |
         _: org.apache.spark.unsafe.types.UTF8String |
         _: java.sql.Timestamp | _: java.time.Instant |
         _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  private def asDec(v: Any): Option[java.math.BigDecimal] = v match {
    case d: java.math.BigDecimal  => Some(d)
    case d: scala.math.BigDecimal => Some(d.bigDecimal)
    case n: java.lang.Long    => Some(java.math.BigDecimal.valueOf(n))
    case n: java.lang.Integer => Some(java.math.BigDecimal.valueOf(n.longValue))
    case n: java.lang.Double  => Some(java.math.BigDecimal.valueOf(n.doubleValue))
    case _ => None
  }
  private def isDec(v: Any): Boolean =
    v.isInstanceOf[java.math.BigDecimal] || v.isInstanceOf[scala.math.BigDecimal]

  /** The filter shapes `canDeleteWhere` accepts; anything else makes
    * Spark fall back to an error (this table has no row-id-based
    * DeltaWrite path), so claim only what eval() truly implements. */
  def supported(f: Filter): Boolean = f match {
    case EqualTo(_, x)            => litOk(x)
    case EqualNullSafe(_, x)      => litOk(x)
    case GreaterThan(_, x)        => litOk(x)
    case GreaterThanOrEqual(_, x) => litOk(x)
    case LessThan(_, x)           => litOk(x)
    case LessThanOrEqual(_, x)    => litOk(x)
    case In(_, xs)                => xs == null || xs.forall(litOk)
    case _: IsNull | _: IsNotNull => true
    case _: StringStartsWith | _: StringEndsWith | _: StringContains => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r)  => supported(l) && supported(r)
    case Not(c)    => supported(c)
    case AlwaysTrue()  => true
    case AlwaysFalse() => true
    case _ => false
  }

  /** Avro's boxed values vs Spark's literal types: compare numerics
    * widened (long unless a double is involved), booleans natively,
    * strings by CODE POINT (= UTF8String's binary order — Java's
    * UTF-16 compareTo disagrees for supplementary-plane characters, and
    * a DELETE evaluator that orders strings differently from the engine
    * would delete different rows than the same predicate SELECTs).
    * None = UNKNOWN (a null operand). */
  private def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
    case (null, _) | (_, null) => None
    // a decimal operand (decoded column value or pushed literal):
    // compare exactly in the BigDecimal domain
    case (x, y) if isDec(x) || isDec(y) =>
      for (p <- asDec(x); q <- asDec(y)) yield p.compareTo(q)
    // a datetime literal vs a TIMESTAMP/DATE column's decoded value
    // (µs long / epoch-day int): compare in the internal long domain;
    // vs a string value it falls through to the text compare below
    case (x: java.lang.Number, y) if AvroStats.datetimeLong(y).isDefined =>
      Some(java.lang.Long.compare(x.longValue, AvroStats.datetimeLong(y).get))
    case (x, y: java.lang.Number) if AvroStats.datetimeLong(x).isDefined =>
      Some(java.lang.Long.compare(AvroStats.datetimeLong(x).get, y.longValue))
    case (x: java.lang.Number, y: java.lang.Number) =>
      if (x.isInstanceOf[java.lang.Double] || y.isInstanceOf[java.lang.Double] ||
          x.isInstanceOf[java.lang.Float]  || y.isInstanceOf[java.lang.Float]) {
        // Spark's comparison semantics: -0.0 == 0.0 (Double.compare
        // alone would order them); NaN > everything (Double.compare
        // already agrees)
        def z(d: Double) = if (d == 0.0) 0.0 else d
        Some(java.lang.Double.compare(z(x.doubleValue), z(y.doubleValue)))
      } else Some(java.lang.Long.compare(x.longValue, y.longValue))
    case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
    case (x, y) => Some(AvroStats.cmpCodePoints(x.toString, y.toString))
  }

  private def str(a: Any): Option[String] = Option(a).map(_.toString)

  /** 3VL evaluation; `v` resolves a column name to this row's value
    * (null for SQL NULL). */
  def eval(f: Filter, v: String => Any): Option[Boolean] = f match {
    case EqualTo(a, x)            => cmp(v(a), x).map(_ == 0)
    case EqualNullSafe(a, x) =>
      val va = v(a)
      if (va == null || x == null) Some(va == null && x == null)
      else cmp(va, x).map(_ == 0)
    case GreaterThan(a, x)        => cmp(v(a), x).map(_ > 0)
    case GreaterThanOrEqual(a, x) => cmp(v(a), x).map(_ >= 0)
    case LessThan(a, x)           => cmp(v(a), x).map(_ < 0)
    case LessThanOrEqual(a, x)    => cmp(v(a), x).map(_ <= 0)
    case In(a, xs) =>
      val va = v(a)
      if (va == null) None
      else if (xs.exists(x => cmp(va, x).contains(0))) Some(true)
      // no hit but a null in the list → x IN (..., NULL) is UNKNOWN
      else if (xs.contains(null)) None
      else Some(false)
    case IsNull(a)    => Some(v(a) == null)
    case IsNotNull(a) => Some(v(a) != null)
    case StringStartsWith(a, p) => str(v(a)).map(_.startsWith(p))
    case StringEndsWith(a, p)   => str(v(a)).map(_.endsWith(p))
    case StringContains(a, p)   => str(v(a)).map(_.contains(p))
    case And(l, r) => (eval(l, v), eval(r, v)) match {
      case (Some(false), _) | (_, Some(false)) => Some(false)
      case (Some(true), Some(true))            => Some(true)
      case _                                   => None
    }
    case Or(l, r) => (eval(l, v), eval(r, v)) match {
      case (Some(true), _) | (_, Some(true)) => Some(true)
      case (Some(false), Some(false))        => Some(false)
      case _                                 => None
    }
    case Not(c)        => eval(c, v).map(!_)
    case AlwaysTrue()  => Some(true)
    case AlwaysFalse() => Some(false)
    case other => throw new UnsupportedOperationException(s"filter $other")
  }

  /** What a DELETE pass found in one file: the positions of the live
    * rows the predicate deletes, the count of live rows it keeps and,
    * when asked for, those kept rows — each in the CURRENT schema's
    * shape plus ONE trailing value, its stable row id. */
  private final class Pass {
    val matched = scala.collection.mutable.ArrayBuffer.empty[Long]
    var kept = 0L
    val survivors = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
  }

  /** The one DELETE walk: evaluates the predicate conjunction on every
    * LIVE row of `file` (rows dead under `deletes` are already gone:
    * never evaluated, never reported) with the columns laid out by
    * [[FileColumns]] and DECIMAL values decoded exactly, so a DELETE
    * matches the rows the same predicate SELECTs. */
  private def pass(file: File, schema: StructType, filters: Array[Filter],
      deletes: FileColumns.Deletes, firstRowId: Long,
      keepRows: Boolean): Pass = {
    val out = new Pass
    val rows = new FileColumns.Rows(file, schema, firstRowId, Seq(deletes))
    try {
      val index: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap
      val scale: Array[Int] = schema.fields.map(_.dataType match {
        case d: DecimalType => d.scale
        case _              => -1
      })
      def value(i: Int): Any = rows.value(i) match {
        case b: java.nio.ByteBuffer if scale(i) >= 0 => FileColumns.decimal(b, scale(i))
        case u: org.apache.avro.util.Utf8 => u.toString
        case o => o
      }
      val v: String => Any = a => index.get(a).map(value).orNull
      while (rows.nextLive()) {
        if (filters.forall(eval(_, v).contains(true))) out.matched += rows.pos
        else {
          out.kept += 1
          if (keepRows)
            out.survivors += (Array.tabulate[Any](schema.length)(value) :+ rows.rowId)
        }
      }
    } finally rows.close()
    out
  }

  /** Merge-on-read DELETE for one manifest entry (one Spark task):
    * report the ROW POSITIONS the predicate deletes among the file's
    * live rows plus the live-row count that would remain. NOTHING is
    * written — the caller merges the positions into the file's deletion
    * vector and commits O(matched rows) sidecar bytes instead of
    * rewriting the file. */
  def matchedPositions(dirPath: String, e: AvroSnapshots.FileEntry,
      schema: StructType, filters: Array[Filter]): (Seq[Long], Long) = {
    val p = pass(AvroSnapshots.resolveFile(dirPath, e.name), schema, filters,
      FileColumns.Deletes.read(dirPath, e.dv, e.eq), e.firstRowId,
      keepRows = false)
    (p.matched.toSeq, p.kept)
  }

  /** Returns the rewrite's exact column-stats JSON for the manifest. */
  private def writeRows(target: File, schema: StructType,
      rows: Seq[Array[Any]]): String = {
    val avroSchema = AvroDirSource.toAvroSchema(schema, "graft_row")
    val stats = new AvroStats.StatsCollector(schema)
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](avroSchema))
    writer.create(avroSchema, target)
    try {
      rows.foreach { vals =>
        val rec = new GenericData.Record(avroSchema)
        var i = 0
        while (i < schema.length) {
          // decimal survivors were decoded to BigDecimal for the
          // evaluator — re-encode as the Avro unscaled bytes; int/float
          // survivors of a type-widened column upcast to the CURRENT
          // column type (the rewrite modernizes old-schema files)
          val av = vals(i) match {
            case d: java.math.BigDecimal =>
              java.nio.ByteBuffer.wrap(d.unscaledValue.toByteArray)
            case n: java.lang.Integer
                if schema.fields(i).dataType == LongType =>
              java.lang.Long.valueOf(n.longValue)
            case f: java.lang.Float
                if schema.fields(i).dataType == DoubleType =>
              java.lang.Double.valueOf(f.doubleValue)
            case o => o
          }
          rec.put(i, av); stats.update(i, av); i += 1
        }
        stats.countRow()
        writer.append(rec)
      }
    } finally writer.close()
    stats.toJson
  }

  /** Copy-on-write DELETE for one container file of a plain-path table
    * (runs as one Spark task). A file with no matching rows is left
    * byte-identical; a file whose every row matches is deleted; a mixed
    * file is rewritten in the CURRENT table schema (so a delete also
    * modernizes old-schema files) to a temp sibling then atomically
    * moved over the original. */
  def rewriteFile(filePath: String, schema: StructType, filters: Array[Filter]): Unit = {
    val file = new File(filePath)
    val p = pass(file, schema, filters, FileColumns.Deletes.none, -1L,
      keepRows = true)
    if (p.matched.isEmpty) return
    if (p.survivors.isEmpty) { file.delete(); return }
    val tmp = new File(file.getParentFile, s".${file.getName}.rewrite")
    writeRows(tmp, schema, p.survivors.toSeq)
    Files.move(tmp.toPath, file.toPath,
      StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  /** The VERSIONED delete flavor for one manifest entry — data files
    * are immutable (older snapshots reference them), so instead of
    * mutating in place this reports what the next manifest should carry
    * for this file:
    *   - no matching rows and no deletion vector → Some((original name,
    *     None)), file untouched (the caller keeps the original entry);
    *   - no live row survives → None (the file leaves the view but STAYS
    *     on disk for time travel; snapshot expiry reclaims it);
    *   - otherwise → the surviving live rows written to a NEW
    *     uniquely-named sibling (`part-<jobId>-rw-<orig>`), Some((new
    *     name, fresh exact stats JSON for the manifest)). The rewrite
    *     materializes the entry's deletion vector and equality deletes.
    * Runs as one Spark task per candidate file. */
  def rewriteVersioned(dirPath: String, e: AvroSnapshots.FileEntry,
      schema: StructType, filters: Array[Filter],
      jobId: String): Option[(String, Option[String])] = {
    val p = pass(AvroSnapshots.resolveFile(dirPath, e.name), schema, filters,
      FileColumns.Deletes.read(dirPath, e.dv, e.eq), e.firstRowId,
      keepRows = true)
    // an existing deletion vector counts as "something changed": the
    // rewrite MATERIALIZES it away, so the original entry (file + dv)
    // must not be carried forward verbatim
    if (p.matched.isEmpty && e.dv.isEmpty) Some((e.name, None))
    else if (p.survivors.isEmpty) None
    else {
      // a foreign reference's rewrite lands OWNED in this table's
      // directory under the foreign file's base name (absolute entry
      // names must never leak into new file names)
      val newName = s"part-$jobId-rw-${new File(e.name).getName}"
      // surviving rows keep their stable ids as a physical trailing
      // `_row_id` column (row lineage through COW DELETE — round 17)
      val schemaWithId = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(AvroDirSource.RowIdColumn,
          org.apache.spark.sql.types.LongType, nullable = true))
      val stats = writeRows(new File(dirPath, newName), schemaWithId,
        p.survivors.toSeq)
      Some((newName, Some(stats)))
    }
  }
}
