package graft.sources

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Expression}
import org.apache.spark.sql.types.{LongType, Metadata, MetadataBuilder, StructField, StructType}

/** GENERATED and IDENTITY columns (round 19 — Spark 4.1's
  * `SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS` /
  * `..._IDENTITY_COLUMNS` capabilities; Delta generated/identity
  * columns):
  *
  *   - **`GENERATED ALWAYS AS (expr)`**: the generation expression is
  *     captured at CREATE TABLE from Spark's V2 `Column` metadata and
  *     persisted in the column's `StructField` metadata. Every
  *     user-facing write (batch INSERT/CTAS, streaming epochs, COW
  *     UPDATE/MERGE rewrites, MOR inserts) COMPUTES the column per
  *     row: the write builder compiles the SQL to a BOUND, serializable
  *     Catalyst expression on the driver (the executors never parse
  *     SQL) and the shared writer overlays the computed value before
  *     encoding — user-supplied values can never drift from the
  *     defined derivation (ALWAYS semantics).
  *   - **`GENERATED ALWAYS AS IDENTITY`**: identity values are an
  *     AFFINE VIEW OF ROW LINEAGE — `start + step * _row_id`. Row ids
  *     are already unique, stable across UPDATE/compaction rewrites,
  *     monotone in commit order, and assigned by O(1) manifest
  *     metadata ([[AvroSnapshots]] `firstRowId`), so identity needs NO
  *     write-path coordination at any scale: nothing is stored (files
  *     carry null; readers derive), uniqueness is structural, and a
  *     1000-executor write assigns ids with zero contention — the
  *     coordination-free shape Delta approximates with reserved id
  *     blocks. Data skipping on identity predicates stays exact: scan
  *     planning SYNTHESIZES per-file bounds from the entry's
  *     `firstRowId + rowCount` (or the physical `_row_id` stats of
  *     rewrite outputs). `BY DEFAULT` (explicit inserts) is refused at
  *     CREATE — a derived identity cannot honor explicit values.
  */
object GeneratedColumns {
  /** StructField metadata key holding a generated column's SQL. */
  val ExprKey = "graft.generation.expression"
  /** StructField metadata key holding `start,step` for identity. */
  val IdentityKey = "graft.identity"

  def generationSql(f: StructField): Option[String] =
    if (f.metadata.contains(ExprKey)) Some(f.metadata.getString(ExprKey))
    else None

  def isGenerated(f: StructField): Boolean = f.metadata.contains(ExprKey)
  def isIdentity(f: StructField): Boolean = f.metadata.contains(IdentityKey)

  /** (start, step) of an identity column. */
  def identitySpec(f: StructField): Option[(Long, Long)] =
    if (!f.metadata.contains(IdentityKey)) None
    else {
      val parts = f.metadata.getString(IdentityKey).split(",")
      Some((parts(0).toLong, parts(1).toLong))
    }

  def withGeneration(md: Metadata, sql: String): Metadata =
    new MetadataBuilder().withMetadata(md).putString(ExprKey, sql).build()

  def withIdentity(md: Metadata, start: Long, step: Long): Metadata =
    new MetadataBuilder().withMetadata(md)
      .putString(IdentityKey, s"$start,$step").build()

  /** Compile the schema's generated columns to BOUND (ordinal-based,
    * serializable) expressions against `writeSchema` — driver-side
    * only. `writeSchema` may carry trailing lineage columns beyond
    * the data prefix; generation expressions reference data columns
    * only, so prefix binding stays exact. */
  def boundExprs(writeSchema: StructType,
      session: org.apache.spark.sql.SparkSession): Seq[(Int, Expression)] = {
    val gen = writeSchema.fields.zipWithIndex
      .filter { case (f, _) => isGenerated(f) }
    if (gen.isEmpty) return Nil
    val base = session.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), writeSchema)
    val attrs = base.queryExecution.analyzed.output
    gen.toSeq.map { case (f, i) =>
      val sql = f.metadata.getString(ExprKey)
      val proj = base.select(
        org.apache.spark.sql.functions.expr(sql).cast(f.dataType))
      val resolved = proj.queryExecution.analyzed match {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.head match {
            case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
            case e => e
          }
        case other => throw new IllegalStateException(
          s"unexpected generation plan $other")
      }
      val bound = resolved.transform {
        case a: AttributeReference =>
          val ord = attrs.indexWhere(_.exprId == a.exprId)
          require(ord >= 0,
            s"generation expression for ${f.name} references an " +
              "unresolvable column")
          BoundReference(ord, a.dataType, a.nullable)
      }
      require(bound.deterministic,
        s"generation expression for ${f.name} must be deterministic: $sql")
      (i, bound)
    }
  }

  /** Validate a generation SQL at CREATE time: resolvable against the
    * data columns, deterministic, and not referencing other generated/
    * identity columns. Throws with a clear message otherwise. */
  def validateGeneration(schema: StructType, f: StructField, sql: String,
      session: org.apache.spark.sql.SparkSession): Unit = {
    val dataOnly = StructType(schema.fields.filterNot(x =>
      isGenerated(x) || isIdentity(x)))
    val base = session.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), dataOnly)
    try {
      base.select(org.apache.spark.sql.functions.expr(sql).cast(f.dataType))
        .queryExecution.analyzed
      ()
    } catch {
      case e: Exception => throw new IllegalArgumentException(
        s"generated column ${f.name}: expression `$sql` must be a " +
          "deterministic function of the table's data columns", e)
    }
  }

  /** Write-path spec for a table with generated columns: the incoming
    * write schema EXTENDED with any generated column the writer
    * doesn't receive (the streaming `toTable` path hands over only the
    * stream's columns), plus the bound expressions computing every
    * generated ordinal. Incoming fields keep their ordinals, so
    * expressions bound against the extended schema evaluate correctly
    * against the narrower incoming rows. */
  def writeSpec(tableSchema: StructType, incoming: StructType,
      session: org.apache.spark.sql.SparkSession)
      : (StructType, Seq[(Int, Expression)]) = {
    val genFields = tableSchema.fields.filter(isGenerated)
    if (genFields.isEmpty) return (incoming, Nil)
    val missing = genFields.filterNot(g =>
      incoming.fieldNames.exists(_.equalsIgnoreCase(g.name)))
    // carry the table's generation metadata onto incoming fields that
    // match generated columns (the incoming schema may have lost it)
    val annotated = StructType(incoming.fields.map { f =>
      tableSchema.fields.find(t => t.name.equalsIgnoreCase(f.name) &&
          isGenerated(t)) match {
        case Some(t) => f.copy(metadata = t.metadata)
        case None => f
      }
    } ++ missing)
    (annotated, boundExprs(annotated, session))
  }

  /** Data columns referenced by the schema's generation expressions
    * (for the rename/drop guard), resolved with the live session. */
  def referencedDataColumns(schema: StructType,
      session: org.apache.spark.sql.SparkSession): Map[String, String] = {
    val gen = schema.fields.filter(isGenerated)
    if (gen.isEmpty) return Map.empty
    val dataOnly = StructType(schema.fields.filterNot(x =>
      isGenerated(x) || isIdentity(x)))
    val base = session.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), dataOnly)
    gen.flatMap { f =>
      val analyzed = base.select(
        org.apache.spark.sql.functions.expr(f.metadata.getString(ExprKey)))
        .queryExecution.analyzed
      analyzed.collectFirst {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
          p.projectList.head.collect {
            case a: AttributeReference => a.name -> f.name
          }
      }.getOrElse(Nil)
    }.toMap
  }

  def requireIdentityShape(f: StructField,
      spec: org.apache.spark.sql.connector.catalog.IdentityColumnSpec): Unit = {
    require(f.dataType == LongType,
      s"identity column ${f.name} must be BIGINT (ids derive from the " +
        "64-bit row-lineage domain)")
    require(!spec.isAllowExplicitInsert,
      s"identity column ${f.name}: GENERATED BY DEFAULT is not supported — " +
        "ids derive from row lineage and cannot honor explicit values; " +
        "use GENERATED ALWAYS AS IDENTITY")
    require(spec.getStep != 0, s"identity column ${f.name}: step must be non-zero")
  }
}
