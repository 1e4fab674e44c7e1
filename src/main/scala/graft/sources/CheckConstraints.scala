package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DecimalType, StructType}

/** Table-level CHECK CONSTRAINTS (round 19 — Delta
  * `ALTER TABLE ... ADD CONSTRAINT ... CHECK`): declared once via
  * `CALL system.add_check_constraint(t, name, predicate_sql)`, stored
  * in a `_check.json` sidecar as an ENGINE-NEUTRAL predicate tree, and
  * enforced ON EVERY WRITE PATH by the shared [[AvroFileWriter]] —
  * batch INSERT, clustered/partitioned writes, streaming epochs, COW
  * UPDATE/MERGE rewrites, MOR insert files and CDC upserts all funnel
  * through it, so one fused per-row check (inside the task, at encode
  * time — no second pass, no driver round trip) covers the entire
  * write surface. Semantics are SQL's: a row is REJECTED iff the
  * predicate evaluates definitively FALSE ([[AvroFilterEval]]'s
  * three-valued logic — UNKNOWN passes, exactly the SQL-standard CHECK
  * rule), and `add_check_constraint` first validates every EXISTING
  * row distributedly (`WHERE NOT COALESCE(pred, TRUE)`), refusing the
  * declaration when history already violates it (Delta's rule).
  *
  * The declarable grammar is [[AvroFilterEval.supported]]'s: =, <=>,
  * <, <=, >, >=, IN, IS [NOT] NULL, LIKE-prefix/suffix/contains,
  * AND/OR/NOT over literal comparisons — predicates Catalyst can
  * translate to DSv2 filters. Anything else is refused loudly at
  * declaration time (never silently unenforced). RENAME/DROP of a
  * constrained column is refused while the constraint exists.
  *
  * 100-TB note: enforcement is O(rows written) inside the write tasks
  * themselves — the shape that scales; constraint-free tables pay one
  * null check per writer. The sidecar rides the same
  * atomic-rename-under-commit-lock discipline as the shred
  * declarations.
  */
object CheckConstraints {
  val SpecFile = "_check.json"

  /** One declared constraint: the original SQL (for messages and
    * re-validation), the compiled filter tree, and the referenced
    * top-level columns (the rename/drop guard's input). */
  case class Check(name: String, sql: String, filter: Filter,
      columns: Seq[String])

  /** An INFORMATIONAL constraint (round 19 — Spark 4.1's table
    * constraint SPIP): PRIMARY KEY / UNIQUE / FOREIGN KEY declared NOT
    * ENFORCED, stored for optimizer hints and catalogs/DESCRIBE — the
    * Delta/Snowflake stance (only CHECK is enforceable). `refTable` /
    * `refColumns` are set for FOREIGN KEY only. */
  case class Informational(name: String, kind: String,
      columns: Seq[String], refTable: String = "",
      refColumns: Seq[String] = Nil)

  // ---- sidecar codec (json4s, like AvroStats) ----

  import org.json4s._
  import org.json4s.jackson.JsonMethods

  private def encodeValue(x: Any): JValue = x match {
    case null => JObject("t" -> JString("n"))
    case s: String => JObject("t" -> JString("s"), "v" -> JString(s))
    case u: org.apache.spark.unsafe.types.UTF8String =>
      JObject("t" -> JString("s"), "v" -> JString(u.toString))
    case b: java.lang.Boolean =>
      JObject("t" -> JString("b"), "v" -> JString(b.toString))
    case d: java.math.BigDecimal =>
      JObject("t" -> JString("dec"), "v" -> JString(d.toPlainString))
    case d: scala.math.BigDecimal =>
      JObject("t" -> JString("dec"), "v" -> JString(d.bigDecimal.toPlainString))
    case d: java.lang.Double =>
      JObject("t" -> JString("d"), "v" -> JString(d.toString))
    case f: java.lang.Float =>
      JObject("t" -> JString("d"), "v" -> JString(f.doubleValue.toString))
    // datetime literals normalize to Spark's internal long domain
    // (µs / epoch-day) — the same domain the column values decode to
    case other => AvroStats.datetimeLong(other) match {
      case Some(l) => JObject("t" -> JString("l"), "v" -> JString(l.toString))
      case None => other match {
        case n: java.lang.Number =>
          JObject("t" -> JString("l"), "v" -> JString(n.longValue.toString))
        case _ => throw new IllegalArgumentException(
          s"unsupported constraint literal $other (${other.getClass.getName})")
      }
    }
  }

  private def decodeValue(j: JValue): Any = {
    val JString(t) = j \ "t"
    def v = { val JString(s) = j \ "v"; s }
    t match {
      case "n"   => null
      case "s"   => v
      case "b"   => java.lang.Boolean.valueOf(v)
      case "dec" => new java.math.BigDecimal(v)
      case "d"   => java.lang.Double.valueOf(v)
      case "l"   => java.lang.Long.valueOf(v)
    }
  }

  private def encodeFilter(f: Filter): JValue = f match {
    case EqualTo(a, x) =>
      JObject("op" -> JString("eq"), "col" -> JString(a), "val" -> encodeValue(x))
    case EqualNullSafe(a, x) =>
      JObject("op" -> JString("eqns"), "col" -> JString(a), "val" -> encodeValue(x))
    case GreaterThan(a, x) =>
      JObject("op" -> JString("gt"), "col" -> JString(a), "val" -> encodeValue(x))
    case GreaterThanOrEqual(a, x) =>
      JObject("op" -> JString("ge"), "col" -> JString(a), "val" -> encodeValue(x))
    case LessThan(a, x) =>
      JObject("op" -> JString("lt"), "col" -> JString(a), "val" -> encodeValue(x))
    case LessThanOrEqual(a, x) =>
      JObject("op" -> JString("le"), "col" -> JString(a), "val" -> encodeValue(x))
    case In(a, xs) =>
      JObject("op" -> JString("in"), "col" -> JString(a),
        "vals" -> JArray(xs.toList.map(encodeValue)))
    case IsNull(a)    => JObject("op" -> JString("isnull"), "col" -> JString(a))
    case IsNotNull(a) => JObject("op" -> JString("notnull"), "col" -> JString(a))
    case StringStartsWith(a, p) =>
      JObject("op" -> JString("sw"), "col" -> JString(a), "p" -> JString(p))
    case StringEndsWith(a, p) =>
      JObject("op" -> JString("ew"), "col" -> JString(a), "p" -> JString(p))
    case StringContains(a, p) =>
      JObject("op" -> JString("ct"), "col" -> JString(a), "p" -> JString(p))
    case And(l, r) =>
      JObject("op" -> JString("and"), "l" -> encodeFilter(l), "r" -> encodeFilter(r))
    case Or(l, r) =>
      JObject("op" -> JString("or"), "l" -> encodeFilter(l), "r" -> encodeFilter(r))
    case Not(c) => JObject("op" -> JString("not"), "c" -> encodeFilter(c))
    case AlwaysTrue()  => JObject("op" -> JString("true"))
    case AlwaysFalse() => JObject("op" -> JString("false"))
    case other => throw new IllegalArgumentException(
      s"constraint filter shape not encodable: $other")
  }

  private def decodeFilter(j: JValue): Filter = {
    val JString(op) = j \ "op"
    def col = { val JString(c) = j \ "col"; c }
    def value = decodeValue(j \ "val")
    def pat = { val JString(p) = j \ "p"; p }
    op match {
      case "eq"      => EqualTo(col, value)
      case "eqns"    => EqualNullSafe(col, value)
      case "gt"      => GreaterThan(col, value)
      case "ge"      => GreaterThanOrEqual(col, value)
      case "lt"      => LessThan(col, value)
      case "le"      => LessThanOrEqual(col, value)
      case "in"      =>
        val JArray(xs) = j \ "vals"
        In(col, xs.map(decodeValue).toArray)
      case "isnull"  => IsNull(col)
      case "notnull" => IsNotNull(col)
      case "sw"      => StringStartsWith(col, pat)
      case "ew"      => StringEndsWith(col, pat)
      case "ct"      => StringContains(col, pat)
      case "and"     => And(decodeFilter(j \ "l"), decodeFilter(j \ "r"))
      case "or"      => Or(decodeFilter(j \ "l"), decodeFilter(j \ "r"))
      case "not"     => Not(decodeFilter(j \ "c"))
      case "true"    => AlwaysTrue()
      case "false"   => AlwaysFalse()
    }
  }

  def referencedColumns(f: Filter): Seq[String] = f.references.toSeq.distinct

  // ---- declaration store ----

  def load(tablePath: String): Seq[Check] = {
    val f = new File(tablePath, SpecFile)
    if (!f.isFile) return Nil
    val body = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    (JsonMethods.parse(body) \ "constraints") match {
      case JArray(cs) => cs.map { c =>
        val JString(name) = c \ "name"
        val JString(sql) = c \ "sql"
        val filter = decodeFilter(c \ "pred")
        Check(name, sql, filter, referencedColumns(filter))
      }
      case _ => Nil
    }
  }

  def loadInformational(tablePath: String): Seq[Informational] = {
    val f = new File(tablePath, SpecFile)
    if (!f.isFile) return Nil
    val body = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    (JsonMethods.parse(body) \ "informational") match {
      case JArray(cs) => cs.map { c =>
        val JString(name) = c \ "name"
        val JString(kind) = c \ "kind"
        val JArray(cols) = c \ "cols"
        val refTable = c \ "refTable" match {
          case JString(t) => t
          case _ => ""
        }
        val refCols = c \ "refCols" match {
          case JArray(rs) => rs.collect { case JString(s) => s }
          case _ => Nil
        }
        Informational(name, kind,
          cols.collect { case JString(s) => s }, refTable, refCols)
      }
      case _ => Nil
    }
  }

  /** Atomic write (temp + rename) — the same discipline as the shred
    * declarations; callers serialize under the table's commit lock. */
  def store(tablePath: String, checks: Seq[Check],
      informational: Seq[Informational] = null): Unit = {
    val info =
      if (informational != null) informational
      else loadInformational(tablePath) // checks-only update keeps them
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      "constraints" -> JArray(checks.toList.map(c => JObject(
        "name" -> JString(c.name), "sql" -> JString(c.sql),
        "pred" -> encodeFilter(c.filter)))),
      "informational" -> JArray(info.toList.map(i => JObject(
        "name" -> JString(i.name), "kind" -> JString(i.kind),
        "cols" -> JArray(i.columns.toList.map(JString(_))),
        "refTable" -> JString(i.refTable),
        "refCols" -> JArray(i.refColumns.toList.map(JString(_)))))))))
    val dir = new File(tablePath)
    val tmp = File.createTempFile("_check", ".tmp", dir)
    Files.write(tmp.toPath, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, new File(dir, SpecFile).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The table's declared constraints in Spark's V2 shape — what
    * [[AvroDirTable.constraints]] serves: CHECKs enforced+VALID (the
    * declaration validated history and every later write), PK/UNIQUE/
    * FK informational (not enforced). With these reported, Spark 4.1's
    * own write planning ALSO wraps SQL writes in `CheckInvariant` —
    * engine-level enforcement on top of the writer-level check. */
  def v2Constraints(tablePath: String)
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    val checks = load(tablePath).map { c =>
      Constraint.check(c.name).predicateSql(c.sql)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .build(): Constraint
    }
    val unvalidated = Constraint.ValidationStatus.UNVALIDATED
    val infos = loadInformational(tablePath).map { i =>
      val cols: Array[NamedReference] =
        i.columns.map(Expressions.column).toArray
      i.kind match {
        case "primary_key" => Constraint.primaryKey(i.name, cols)
          .enforced(false).validationStatus(unvalidated).build(): Constraint
        case "unique" => Constraint.unique(i.name, cols)
          .enforced(false).validationStatus(unvalidated).build(): Constraint
        case "foreign_key" =>
          val parts = i.refTable.split('.')
          Constraint.foreignKey(i.name, cols,
            org.apache.spark.sql.connector.catalog.Identifier.of(
              parts.dropRight(1), parts.last),
            i.refColumns.map(Expressions.column).toArray)
            .enforced(false).validationStatus(unvalidated).build(): Constraint
      }
    }
    (checks ++ infos).toArray
  }

  // ---- write-time enforcement ----

  /** Compiled per-writer validator: resolves each referenced column to
    * its ordinal in the write schema once, decodes decimal bytes with
    * the column scale, and rejects a row iff any constraint evaluates
    * definitively FALSE. */
  final class Validator(checks: Seq[Check], schema: StructType) {
    private val ord: Map[String, Int] =
      schema.fields.iterator.zipWithIndex.map { case (f, i) => f.name -> i }.toMap
    private val decScale: Map[String, Int] = schema.fields.collect {
      case f if f.dataType.isInstanceOf[DecimalType] =>
        f.name -> f.dataType.asInstanceOf[DecimalType].scale
    }.toMap
    def validate(rec: GenericRecord): Unit = {
      val v: String => Any = name => ord.get(name) match {
        case Some(i) => rec.get(i) match {
          case b: java.nio.ByteBuffer if decScale.contains(name) =>
            FileColumns.decimal(b, decScale(name))
          case u: org.apache.avro.util.Utf8 => u.toString
          case o => o
        }
        case None => null // column not in this write's schema → UNKNOWN
      }
      checks.foreach { c =>
        if (AvroFilterEval.eval(c.filter, v).contains(false))
          throw new IllegalArgumentException(
            s"CHECK constraint ${c.name} violated by a written row: ${c.sql}")
      }
    }
  }

  // per-JVM cache keyed by (dir, sidecar mtime, length) — writers
  // probe once per file they open, not once per row; length guards
  // against coarse filesystem mtime granularity (two declarations
  // inside one mtime tick must not serve stale rules)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Seq[Check]]()

  /** The validator for a data file being written into `dataFile`'s
    * directory, or null when the table declares no constraints (the
    * hot path pays one existence check per opened writer). An
    * UNPARSEABLE sidecar throws — enforcement must never silently
    * disable itself. */
  def validatorFor(dataFile: File, schema: StructType): Validator = {
    val dir = dataFile.getParentFile
    if (dir == null) return null
    val spec = new File(dir, SpecFile)
    if (!spec.isFile) return null
    val key = (dir.getAbsolutePath, spec.lastModified(), spec.length())
    val checks = cache.computeIfAbsent(key, _ => load(dir.getPath))
    if (checks.isEmpty) null else new Validator(checks, schema)
  }
}
