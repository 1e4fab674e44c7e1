package graft.sources

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** How a table column is found in one graftcat data file and in that
  * file's manifest entry. The scan, both DELETE evaluators, the change
  * feed, the merge-on-read UPDATE scan and `apply_cdc` all read files
  * through this one rule, so a file written under an older table
  * schema reads the same on every path.
  *
  * Row side ([[Rows]]). The layout is resolved once per file, from the
  * table's columns and the file's writer schema:
  *   1. a column's field is found by its name first, then by its rename
  *      aliases, newest first;
  *   2. a column the file lacks serves its EXISTS default (`ADD COLUMN
  *      ... DEFAULT`), encoded as the file would have stored it;
  *   3. an IDENTITY column is `start + step * _row_id`;
  *   4. `_row_id` is the physical field when the row carries one (a
  *      rewrite output), else `firstRowId + position`, else null.
  * Values come back as Avro decodes them; each reader applies its own
  * single conversion (Spark internal values for the scan and the change
  * feed, exact decimals for the DELETE evaluator).
  *
  * Live rows ([[Deletes]]). A row is live when its position is not in
  * the entry's deletion vector AND no equality-delete sidecar of the
  * entry matches it. A sidecar keyed on a field the file lacks fails
  * loudly: serving the row would resurrect a deleted key.
  *
  * Stats side ([[stats]], [[Pruning]]). A column's recorded stats are
  * found along the same alias chain (stats were recorded under the name
  * current at write time) and typed by [[AvroStats.coerce]]; an IDENTITY
  * column's bounds derive from the entry's row-id range. The one
  * file-pruning test is [[Pruning.mightHold]]: those stats AND the
  * entry's bloom sidecar. Pruning removes work, never rows.
  */
object FileColumns {

  /** Layout codes of a column that is not a field position. */
  final val Absent = -1
  final val Identity = -2
  final val RowId = -3

  /** Prior names of a renamed column, newest first — the list RENAME
    * COLUMN records in the field metadata. */
  def aliasesOf(f: StructField): Seq[String] =
    if (f.metadata.contains(AvroDirSource.AliasKey))
      f.metadata.getStringArray(AvroDirSource.AliasKey).toSeq
    else Nil

  /** The names `f` may be recorded under: its name, then its aliases. */
  private def names(f: StructField): Seq[String] = f.name +: aliasesOf(f)

  /** `m`'s value under the first of `f`'s names that it holds. */
  def recorded[V](f: StructField, m: Map[String, V]): Option[V] =
    names(f).iterator.flatMap(m.get).nextOption()

  /** A DECIMAL's exact value from Avro's unscaled big-endian bytes. */
  def decimal(b: java.nio.ByteBuffer, scale: Int): java.math.BigDecimal = {
    val d = b.duplicate()
    val bytes = new Array[Byte](d.remaining())
    d.get(bytes)
    new java.math.BigDecimal(new java.math.BigInteger(bytes), scale)
  }

  /** `f`'s EXISTS default in the encoding an Avro decode yields (what
    * the file would hold had it been written with the column), or
    * null when the column has none. */
  private def storedDefault(f: StructField): Any =
    (org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
      .getExistenceDefaultValue(f), f.dataType) match {
      case (null, _) => null
      case (s: org.apache.spark.unsafe.types.UTF8String, _) =>
        new org.apache.avro.util.Utf8(s.getBytes)
      case (d: Decimal, t: DecimalType) => java.nio.ByteBuffer.wrap(
        d.toJavaBigDecimal.setScale(t.scale).unscaledValue.toByteArray)
      case (b: Array[Byte], _) => java.nio.ByteBuffer.wrap(b)
      case (a: org.apache.spark.sql.catalyst.util.ArrayData, ArrayType(et, _)) =>
        java.util.Arrays.asList(a.toObjectArray(et): _*)
      case (o, _) => o
    }

  /** One manifest entry's deletes: its deletion vector's row positions
    * and its equality-delete sidecars as (key fields, tuple matcher). */
  final case class Deletes(dv: Set[Long],
      eq: Seq[(Seq[String], Seq[Any] => Boolean)] = Nil)

  object Deletes {
    val none: Deletes = Deletes(Set.empty)

    /** Reads the sidecars an entry names: bare names live under the
      * table directory `dir`, absolute names are served verbatim. */
    def read(dir: String, dv: Option[String], eq: Seq[String]): Deletes =
      Deletes(dv.map(DeletionVectors.read(dir, _).toSet).getOrElse(Set.empty),
        eq.map { n =>
          val (cols, kinds, keys) = EqualityDeletes.readMulti(dir, n)
          (cols, EqualityDeletes.tupleMatcher(kinds, keys))
        })
  }

  /** One data file opened to read `columns` in the layout above.
    * `deletes` are the live-row rules the reader can test: `nextLive`
    * skips rows dead under any of them, `live(k)` tests rule `k` alone.
    * The decoder is handed only the fields these need (and the stored
    * `_row_id`), so it skips the bytes of every other field. */
  final class Rows(file: File, columns: StructType, firstRowId: Long,
      deletes: Seq[Deletes] = Nil) extends AutoCloseable {
    private val datum = new GenericDatumReader[GenericRecord]()
    private val reader = new DataFileReader[GenericRecord](file, datum)
    private val writer = reader.getSchema
    private def has(n: String): Boolean = writer.getField(n) != null

    private val derived: Array[Int] = columns.fields.map { f =>
      if (f.name == AvroDirSource.RowIdColumn) RowId
      else if (GeneratedColumns.isIdentity(f)) Identity
      else 0
    }
    // the writer field holding each stored column, null when absent
    private val source: Array[String] = columns.fields.indices.map { i =>
      if (derived(i) != 0) null
      else names(columns.fields(i)).find(has).orNull
    }.toArray
    deletes.foreach(_.eq.foreach(_._1.foreach { c =>
      if (!has(c)) throw new IllegalStateException(
        s"equality delete keys on '$c' but $file has no such field")
    }))

    /** The schema records are decoded with. */
    val schema: Schema = {
      val needed = (source.iterator.filter(_ != null) ++
        deletes.iterator.flatMap(_.eq.flatMap(_._1)) ++
        Iterator(AvroDirSource.RowIdColumn)).toSet
      val all = writer.getFields.asScala
      val keep = all.filter(f => needed.contains(f.name))
      if (keep.size == all.size) writer
      else {
        val s = Schema.createRecord(writer.getName, writer.getDoc,
          writer.getNamespace, false)
        s.setFields(keep.map(f => new Schema.Field(f, f.schema)).asJava)
        datum.setExpected(s)
        s
      }
    }

    /** Per column: its field position in [[schema]], else [[Absent]],
      * [[Identity]] or [[RowId]]. */
    val code: Array[Int] = Array.tabulate(columns.length) { i =>
      if (derived(i) != 0) derived(i)
      else if (source(i) == null) Absent
      else schema.getField(source(i)).pos
    }
    /** Per column: the EXISTS default an [[Absent]] column serves. */
    val default: Array[Any] = Array.tabulate(columns.length) { i =>
      if (code(i) == Absent) storedDefault(columns.fields(i)) else null
    }
    private val affine: Array[(Long, Long)] =
      columns.fields.map(f => GeneratedColumns.identitySpec(f).orNull)
    private val rowIdPos: Int =
      Option(schema.getField(AvroDirSource.RowIdColumn)).map(_.pos).getOrElse(-1)
    private val rules: Array[(Set[Long], Seq[(Array[Int], Seq[Any] => Boolean)])] =
      deletes.map(d => (d.dv, d.eq.map { case (cols, m) =>
        (cols.map(schema.getField(_).pos).toArray, m)
      })).toArray

    private var current: GenericRecord = _
    private var position = -1L
    /** The current record, decoded with [[schema]]. */
    def rec: GenericRecord = current
    /** The current record's physical position in the file. */
    def pos: Long = position

    /** Advances to the next row, live or not. */
    def next(): Boolean =
      if (!reader.hasNext) false
      else { current = reader.next(); position += 1; true }

    /** Whether the current row is live under `deletes(k)`. */
    def live(k: Int): Boolean = {
      val (dv, eqs) = rules(k)
      !dv.contains(position) &&
        !eqs.exists { case (ps, m) => m(ps.toSeq.map(current.get(_))) }
    }

    /** Advances to the next row that is live under every rule. */
    def nextLive(): Boolean = {
      while (next()) {
        var k = 0
        while (k < rules.length && live(k)) k += 1
        if (k == rules.length) return true
      }
      false
    }

    /** The current row's stable id (rule 4), or null without lineage. */
    def rowId: java.lang.Long = {
      val phys = if (rowIdPos >= 0) current.get(rowIdPos) else null
      if (phys != null)
        java.lang.Long.valueOf(phys.asInstanceOf[java.lang.Number].longValue)
      else if (firstRowId >= 0) java.lang.Long.valueOf(firstRowId + position)
      else null
    }

    /** Column `i` of the current row, as Avro decodes it. */
    def value(i: Int): Any = {
      val c = code(i)
      if (c >= 0) current.get(c)
      else if (c == Absent) default(i)
      else if (c == RowId) rowId
      else {
        val id = rowId
        if (id == null) null
        else java.lang.Long.valueOf(affine(i)._1 + affine(i)._2 * id.longValue)
      }
    }

    override def close(): Unit = reader.close()
  }

  /** Column `a`'s recorded stats in one file's parsed stats `st`. */
  def stats(schema: StructType, st: Map[String, AvroStats.ColStats])(
      a: String): Option[AvroStats.ColStats] =
    schema.fields.find(_.name.equalsIgnoreCase(a)).flatMap(f =>
      recorded(f, st).map(AvroStats.coerce(_, f.dataType)))

  /** An IDENTITY column's exact bounds in one entry: the affine image
    * of its physical `_row_id` stats (a rewrite output), else of its
    * assigned `[firstRowId, firstRowId + rows)` range; None without
    * lineage. Identity columns store no stats of their own. */
  private def identityHull(start: Long, step: Long,
      rowIdStats: Option[AvroStats.ColStats], firstRowId: Long,
      rows: Option[Long]): Option[AvroStats.ColStats] = {
    def affine(lo: Long, hi: Long): AvroStats.ColStats = {
      val a = start + step * lo
      val b = start + step * hi
      AvroStats.ColStats(Some(Long.box(math.min(a, b))),
        Some(Long.box(math.max(a, b))), 0L)
    }
    rowIdStats match {
      case Some(s) => (s.min, s.max) match {
        case (Some(mn: java.lang.Long), Some(mx: java.lang.Long)) =>
          Some(affine(mn.longValue, mx.longValue))
        case _ => None
      }
      case None => rows match {
        case Some(n) if firstRowId >= 0 && n > 0 =>
          Some(affine(firstRowId, firstRowId + n - 1))
        case _ => None
      }
    }
  }

  /** The file-pruning test over the entries of the table at `path`. */
  final class Pruning(path: String, schema: StructType) {
    private lazy val bloomDir = BloomFilters.anySidecars(path)

    private def statsOf(e: AvroSnapshots.FileEntry,
        st: Map[String, AvroStats.ColStats])(a: String): Option[AvroStats.ColStats] =
      stats(schema, st)(a).orElse {
        schema.fields.find(_.name.equalsIgnoreCase(a))
          .flatMap(GeneratedColumns.identitySpec).flatMap { case (s0, st0) =>
            identityHull(s0, st0, st.get(AvroDirSource.RowIdColumn),
              e.firstRowId, e.stats.flatMap(AvroStats.rowCount))
          }
      }

    private def bloomNames(a: String): Seq[String] =
      schema.fields.find(_.name.equalsIgnoreCase(a)).map(names).getOrElse(Seq(a))

    /** False only when the filter conjunction provably holds for no row
      * of `e`: by its stats (with the identity hull), or by its bloom
      * sidecar. A foreign reference (shallow clone) keeps its sidecar
      * in the source table's directory, so it is probed even when this
      * table has none. */
    def mightHold(e: AvroSnapshots.FileEntry, filters: Seq[Filter]): Boolean =
      filters.isEmpty || {
        val st = e.stats.map(AvroStats.parse)
          .getOrElse(Map.empty[String, AvroStats.ColStats])
        AvroStats.fileMightMatch(filters, e.name, statsOf(e, st)) &&
          (!(bloomDir || !AvroSnapshots.ownsFile(e.name)) ||
            BloomFilters.fileMightMatch(path, e.name, filters, bloomNames))
      }
  }
}
