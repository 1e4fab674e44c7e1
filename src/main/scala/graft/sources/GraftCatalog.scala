package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchFunctionException, NonEmptyNamespaceException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, DataTypes, DecimalType, IntegerType, LongType, Metadata, MetadataBuilder, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource-V2 CATALOG plugin — the API lakehouse formats
  * (Iceberg/Delta) register under `spark.sql.catalog.<name>`: a
  * filesystem warehouse where a namespace is a directory, a table is a
  * directory of Avro container files ([[AvroDirTable]] — so every
  * catalog table inherits the batch read/write + streaming-write
  * surface), and the table schema is persisted in a `_schema.json`
  * sidecar at CREATE time (the manifest's role: loadTable never
  * re-infers from data files, and an empty just-created table still
  * has a schema). SQL DDL/DML flows through the standard v2 plans:
  * CREATE/DROP NAMESPACE, CREATE TABLE AS SELECT (non-atomic
  * createTable + append — this catalog does not stage), INSERT INTO,
  * SELECT, DROP/RENAME TABLE.
  *
  * 100-TB note: the catalog IS the scale seam a real deployment swaps —
  * `T`'s schema-cache plays this role for the fixture tables; a
  * production engine points `spark.sql.catalog.*` at Iceberg/Delta and
  * every query in this library runs unchanged against governed tables.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog with StagingTableCatalog
    with ViewCatalog {
  private var catalogName: String = _
  private var warehouse: File = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val wh = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
    warehouse = new File(wh)
    warehouse.mkdirs()
  }
  override def name(): String = catalogName

  /** Column DEFAULT values are supported end-to-end: stored as the
    * standard CURRENT_DEFAULT / EXISTS_DEFAULT field metadata in the
    * schema sidecar, filled by Spark's analyzer on writes that omit
    * the column, and served by every reader for files that PREDATE
    * the column (ALTER TABLE ... ADD COLUMN ... DEFAULT). */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def nsDir(ns: Array[String]): File =
    ns.foldLeft(warehouse)((d, n) => new File(d, n))
  private def tableDir(ident: Identifier): File =
    new File(nsDir(ident.namespace), ident.name)
  private def schemaFile(dir: File): File = new File(dir, "_schema.json")
  private def readSchema(dir: File): StructType =
    DataType.fromJson(new String(Files.readAllBytes(schemaFile(dir).toPath),
      StandardCharsets.UTF_8)).asInstanceOf[StructType]
  /** The table's back-quoted `catalog`.`ns`.`name`, for SQL text. */
  private def quoted(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name)
      .map(p => s"`$p`").mkString(".")
  private def isTable(dir: File): Boolean = schemaFile(dir).exists()
  private def deleteRec(f: File): Unit = graft.ops.GraftTmp.deleteRec(f)

  // ---- partition-layout sidecar (`_partition.json`) ----
  //
  // `PARTITIONED BY (bucket(n, col))` or `(truncate(w, col))` persists
  // as one line of trivially parseable JSON; tables loaded with a spec
  // cluster their writes by the transform, and bucket tables
  // additionally report KeyGroupedPartitioning on scan — the
  // storage-partitioned-join layout contract. `truncate(w, col)` =
  // `w * floor(col / w)` (Iceberg's width-truncate) is the time/range
  // shape: `truncate(7, day)` lays an event corpus out by week, so a
  // day-range predicate prunes to the matching weeks' files via the
  // manifest stats.
  private def partitionFile(dir: File): File = new File(dir, "_partition.json")
  private val PartitionJsonV1 = """\{"bucket":(\d+),"column":"([^"]+)"\}""".r
  private val PartitionJsonV2 =
    """\{"transform":"([a-z]+)","n":(\d+),"column":"([^"]+)"\}""".r
  private val PartitionJsonV3 = // one spec of an evolution list
    """\{"id":(\d+),"transform":"([a-z]+)","n":(\d+),"column":"([^"]+)"\}""".r
  /** The table's partition-spec HISTORY (partition evolution): specs
    * are append-only with increasing ids, each data file records the
    * id it was written under, and only the LAST spec governs new
    * writes — changing the layout never rewrites old files (Iceberg's
    * spec-id-per-file design). Legacy single-object sidecars parse as
    * spec 0. */
  private def loadPartSpecs(dir: File): Seq[PartSpec] = {
    val f = partitionFile(dir)
    if (!f.isFile) Nil
    else {
      val body = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8).trim
      val specs = body match {
        case PartitionJsonV1(n, col)    => Seq(PartSpec("bucket", n.toInt, col))
        case PartitionJsonV2(t, n, col) => Seq(PartSpec(t, n.toInt, col))
        case _ if body.startsWith("[") =>
          PartitionJsonV3.findAllMatchIn(body).map(m =>
            PartSpec(m.group(2), m.group(3).toInt, m.group(4),
              m.group(1).toInt)).toSeq
        case other => throw new IllegalStateException(
          s"unreadable _partition.json in $dir: $other")
      }
      require(specs.nonEmpty, s"empty _partition.json in $dir")
      specs
    }
  }
  private def loadPartSpec(dir: File): Option[PartSpec] =
    loadPartSpecs(dir).lastOption
  private def writePartSpecs(dir: File, specs: Seq[PartSpec]): Unit = {
    val body = specs.map(sp =>
      s"""{"id":${sp.specId},"transform":"${sp.transform}","n":${sp.n},"column":"${sp.column}"}""")
      .mkString("[", ",", "]")
    Files.write(partitionFile(dir).toPath,
      body.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Partition EVOLUTION: append a new spec (id = prior max + 1) that
    * governs only FUTURE writes — existing files keep their recorded
    * spec id and are never rewritten. Grouped (SPJ) scans soundly
    * downgrade while the view mixes spec ids (until compaction
    * re-clusters everything under the new spec); stats-based pruning
    * is unaffected (it reads column intervals, not placement). */
  def evolvePartitionSpec(ident: Identifier, transform: String,
      n: Int, column: String): Int = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val schema = readSchema(dir)
    require(schema.fieldNames.exists(_.equalsIgnoreCase(column)),
      s"partition column $column is not a column of ${ident.name}")
    AvroSnapshots.withCommitLock(dir.getPath) {
      val specs = loadPartSpecs(dir)
      val id = specs.map(_.specId).maxOption.map(_ + 1).getOrElse(0)
      writePartSpecs(dir, specs :+ PartSpec(transform, n, column, id))
      id
    }
  }
  private def parsePartTransform(
      partitions: Array[Transform]): Option[PartSpec] = {
    if (partitions.isEmpty) return None
    require(partitions.length == 1,
      "this catalog supports at most one partition transform")
    val t = partitions.head
    require(t.name == "bucket" || t.name == "truncate",
      s"unsupported partition transform ${t.name} — bucket(n, col) or " +
        "truncate(w, col)")
    // accept (n, col) and (col, n) argument orders — SQL dialects
    // disagree on truncate's spelling
    val args = t.arguments.map(_.describe)
    val asInt = args.map(_.toIntOption)
    (asInt.lift(0).flatten, asInt.lift(1).flatten) match {
      case (Some(n), None) if n > 0 && args.length == 2 =>
        Some(PartSpec(t.name, n, args(1)))
      case (None, Some(n)) if n > 0 && args.length == 2 =>
        Some(PartSpec(t.name, n, args(0)))
      case _ => throw new IllegalArgumentException(
        s"cannot parse partition transform ${t.describe}")
    }
  }

  // ---- sort-order sidecar (`_sort.json`) ----
  //
  // A recorded per-table sort order (Iceberg's WRITE ORDERED BY): every
  // subsequent write — INSERTs and compaction's self-overwrite alike —
  // sorts by the column (RequiresDistributionAndOrdering; unpartitioned
  // tables get a RANGE distribution), so per-file min/max stats on the
  // sort column become tight/disjoint and the data-skipping scan prunes
  // selective predicates to O(matching files). Metadata-only to set;
  // pays at the next rewrite (sorted OPTIMIZE).
  private def sortFile(dir: File): File = new File(dir, "_sort.json")
  private val SortJson = """\{"column":"([^"]+)"\}""".r
  private val SortJsonZ =
    """\{"columns":\[([^\]]+)\],"zorder":true\}""".r
  private val SortJsonMulti =
    """\{"columns":\[([^\]]+)\],"zorder":false\}""".r
  private def loadSortSpec(dir: File): Option[SortSpec] = {
    val f = sortFile(dir)
    if (!f.isFile) None
    else new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim match {
      case SortJson(col)    => Some(SortSpec(Seq(col)))
      case SortJsonZ(cols)  => Some(SortSpec(
        cols.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\"")),
        zorder = true))
      case SortJsonMulti(cols) => Some(SortSpec(
        cols.split(",").toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))))
      case other => throw new IllegalStateException(
        s"unreadable _sort.json in $dir: $other")
    }
  }
  private def loadSortCol(dir: File): Option[String] =
    loadSortSpec(dir).filterNot(_.zorder).map(_.columns.head)

  /** Record the table's write sort order (ascending). Existing files
    * are untouched — run [[compactTable]] afterwards to rewrite the
    * current contents sorted. */
  private val ZOrderSpelling = """(?i)zorder\s*\(([^)]+)\)""".r
  def setSortOrder(ident: Identifier, column: String): Unit = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val schema = readSchema(dir)
    // case-insensitive like every other resolution path; persist the
    // schema's canonical spelling so later guards compare exactly
    def canonical(c: String): String = schema.fields.map(_.name)
      .find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"sort column $c is not a column of ${ident.name}"))
    column match {
      case ZOrderSpelling(inner) =>
        // Z-ORDER clustering: writes sort by the interleaved-bits
        // zvalue of ALL listed columns, so file stats tighten on each
        val cs = inner.split(",").toSeq.map(c => canonical(c.trim))
        require(cs.size >= 2 && cs.size <= 4,
          s"zorder takes 2 to 4 columns, got ${cs.size}")
        cs.foreach { c =>
          val dt = schema.fields.find(_.name == c).get.dataType
          require(dt == LongType || dt == IntegerType ||
            dt == DataTypes.DoubleType,
            s"zorder column $c must be INT, BIGINT or DOUBLE, got $dt")
        }
        Files.write(sortFile(dir).toPath,
          cs.map(c => "\"" + c + "\"")
            .mkString("""{"columns":[""", ",", """],"zorder":true}""")
            .getBytes(StandardCharsets.UTF_8))
      case cols if cols.contains(",") =>
        // hierarchical multi-column sort (Iceberg's ORDER BY a, b):
        // tight stats on the LEADING column, within-order on the rest
        val cs = cols.split(",").toSeq.map(c => canonical(c.trim))
        Files.write(sortFile(dir).toPath,
          cs.map(c => "\"" + c + "\"")
            .mkString("""{"columns":[""", ",", """],"zorder":false}""")
            .getBytes(StandardCharsets.UTF_8))
      case _ =>
        Files.write(sortFile(dir).toPath,
          s"""{"column":"${canonical(column)}"}"""
            .getBytes(StandardCharsets.UTF_8))
    }
    ()
  }

  /** Remove the recorded write sort order (future writes unsorted;
    * existing sorted files keep their tight stats). Also what unblocks
    * renaming/dropping the sort column. */
  def dropSortOrder(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    sortFile(dir).delete()
  }

  // ---- delete-mode sidecar (`_delete.json`) ----
  //
  // `merge-on-read`: row-level DELETE writes O(matched-rows) deletion-
  // vector sidecars instead of rewriting files (Iceberg v2 position
  // deletes / Delta DVs) — the only affordable shape for high-frequency
  // CDC at 100 TB; compaction materializes the vectors away. Default is
  // copy-on-write (read-optimized).
  private def deleteModeFile(dir: File): File = new File(dir, "_delete.json")
  private def loadMergeOnRead(dir: File): Boolean = {
    val f = deleteModeFile(dir)
    f.isFile && new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).contains("merge-on-read")
  }
  /** `merge-on-read-equality` mode: key-shaped DELETEs additionally
    * take the EQUALITY fast path (O(keys) sidecar, zero data reads —
    * the CDC upsert shape); everything else behaves as merge-on-read. */
  private def loadEqualityMode(dir: File): Boolean = {
    val f = deleteModeFile(dir)
    f.isFile && new String(Files.readAllBytes(f.toPath),
      StandardCharsets.UTF_8).contains("equality")
  }
  def setDeleteMode(ident: Identifier, mode: String): Unit = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    mode match {
      case "merge-on-read" =>
        Files.write(deleteModeFile(dir).toPath,
          """{"mode":"merge-on-read"}""".getBytes(StandardCharsets.UTF_8))
      case "merge-on-read-equality" =>
        Files.write(deleteModeFile(dir).toPath,
          """{"mode":"merge-on-read-equality"}""".getBytes(StandardCharsets.UTF_8))
      case "copy-on-write" => deleteModeFile(dir).delete()
      case other => throw new IllegalArgumentException(
        "delete mode must be merge-on-read, merge-on-read-equality or " +
          s"copy-on-write, got $other")
    }
    ()
  }

  /** Enable per-file BLOOM FILTERS on the named lookup columns
    * (comma-separated; BIGINT/INT/STRING). Future writes record a
    * `_bloom/<dataFile>.bf` sidecar; point lookups (`col = v` /
    * `col IN (...)`) then prune files min/max stats cannot (unsorted
    * high-cardinality columns). Existing files simply lack sidecars
    * and never prune — run compact to backfill. Empty string disables
    * (existing sidecars keep pruning until their files rewrite). */
  def setBloomFilter(ident: Identifier, columns: String): Unit = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val cols = columns.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (cols.isEmpty) {
      new File(dir, BloomFilters.ColsFile).delete()
      return
    }
    val schema = readSchema(dir)
    val canonical = cols.map { c =>
      val fld = schema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"bloom column $c is not a column of ${ident.name}"))
      require(fld.dataType == LongType || fld.dataType == IntegerType ||
        fld.dataType == DataTypes.StringType,
        s"bloom column ${fld.name} must be BIGINT/INT/STRING, got ${fld.dataType}")
      fld.name
    }
    BloomFilters.setColumns(dir.getPath, canonical)
  }

  /** Declare VARIANT SHREDDING for one hot path of a variant column
    * (`'$.field'`, extracted as bigint/double/string): FUTURE writes
    * record typed per-file min/max for the extraction under a shadow
    * stats name, so `variant_get(col, path, type)` predicates prune
    * files ([[VariantShredding]]). Existing files simply lack the
    * shadow stats and never prune — run compact to backfill. */
  def setVariantShredding(ident: Identifier, column: String, path: String,
      typ: String): Unit = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val schema = readSchema(dir)
    val fld = schema.fields.find(_.name.equalsIgnoreCase(column)).getOrElse(
      throw new IllegalArgumentException(
        s"shred column $column is not a column of ${ident.name}"))
    require(fld.dataType == org.apache.spark.sql.types.VariantType,
      s"shred column ${fld.name} must be VARIANT, got ${fld.dataType}")
    VariantShredding.declare(dir.getPath, fld.name, path, typ)
  }

  /** Register `mvIdent` as a materialized view of `baseIdent` for the
    * optimizer-substitution rule ([[graft.plans.MvQueryRewrite]]) —
    * see [[MvRegistry]] for the spec grammar and the staleness guard.
    * Validates every named column against the two tables' schemas at
    * registration time (the rule itself only ever declines). */
  def registerMv(mvIdent: Identifier, baseIdent: Identifier,
      groupSpec: String, aggSpec: String): Int = {
    val baseDir = tableDir(baseIdent)
    val mvDir = tableDir(mvIdent)
    if (!isTable(baseDir)) throw new NoSuchTableException(baseIdent)
    if (!isTable(mvDir)) throw new NoSuchTableException(mvIdent)
    val baseSchema = readSchema(baseDir)
    val mvSchema = readSchema(mvDir)
    def requireCol(s: StructType, c: String, who: String): Unit =
      require(s.fields.exists(_.name.equalsIgnoreCase(c)),
        s"register_mv: $who has no column '$c'")
    val group = MvRegistry.parseGroup(groupSpec)
    val aggs = MvRegistry.parseAggs(aggSpec)
    require(group.nonEmpty && aggs.nonEmpty,
      "register_mv: need at least one group column and one aggregate")
    group.foreach { case (m, b) =>
      requireCol(mvSchema, m, s"MV ${mvIdent.name}")
      requireCol(baseSchema, b, s"base ${baseIdent.name}")
    }
    aggs.foreach { a =>
      requireCol(mvSchema, a.col, s"MV ${mvIdent.name}")
      a.arg.foreach(requireCol(baseSchema, _, s"base ${baseIdent.name}"))
      a.cast.foreach(t => DataType.fromDDL(t)) // validate the spelling
    }
    MvRegistry.register(baseDir.getPath,
      MvRegistry.MvDef(mvDir.getPath, group, aggs))
    MvRegistry.defsFor(baseDir.getPath).size
  }

  // ---- tables ----

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val d = nsDir(ns)
    if (!d.isDirectory) throw new NoSuchNamespaceException(ns)
    Option(d.listFiles).getOrElse(Array.empty).filter(isTable)
      .map(t => Identifier.of(ns, t.getName)).sortBy(_.name)
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(tableDir(ident))

  /** The write-audit-publish session conf (Iceberg's `spark.wap.branch`
    * shape): when set, every load of a catalog table whose `_refs/`
    * carries a branch of that name resolves to the BRANCH — reads see
    * the branch head and writes commit to it, leaving main untouched
    * until [[AvroSnapshots.fastForward]] publishes. Tables without the
    * branch load main as usual. */
  val BranchConfKey = "spark.graft.branch"
  private def sessionBranch(path: String): Option[String] =
    try {
      Option(org.apache.spark.sql.SparkSession.active)
        .flatMap(s => s.conf.getOption(BranchConfKey))
        .filter(_.nonEmpty)
        .filter(b => AvroSnapshots.isBranch(path, b))
    } catch { case _: Exception => None }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) {
      // `<ns>.<table>.changes` — the streaming CHANGE-DATA-FEED
      // changelog table (Iceberg's `db.t.changes` metadata-table
      // convention): base columns + `_change_type`, MICRO_BATCH_READ
      // over version-window diffs
      if (ident.namespace.nonEmpty) {
        val baseIdent = Identifier.of(
          ident.namespace.init, ident.namespace.last)
        val baseDir = tableDir(baseIdent)
        if (isTable(baseDir)) {
          if (ident.name.equalsIgnoreCase(AvroChangeFeed.ChangesSuffix)) {
            val baseSchema = readSchema(baseDir)
            return new AvroChangeFeedTable(baseDir.getPath, baseSchema)
          }
          // `<ns>.<table>.snapshots` / `.files` / `.refs` — Iceberg-
          // style inspection metadata tables over the snapshot log
          if (ident.name.equalsIgnoreCase("snapshots") ||
              ident.name.equalsIgnoreCase("files") ||
              ident.name.equalsIgnoreCase("refs") ||
              ident.name.equalsIgnoreCase("partitions"))
            return new AvroMetaTable(baseDir.getPath,
              ident.name.toLowerCase)
        }
      }
      throw new NoSuchTableException(ident)
    }
    val json = new String(
      Files.readAllBytes(schemaFile(dir).toPath), StandardCharsets.UTF_8)
    new AvroDirTable(dir.getPath,
      DataType.fromJson(json).asInstanceOf[StructType], versioned = true,
      partSpec = loadPartSpec(dir), sortSpec = loadSortSpec(dir),
      branch = sessionBranch(dir.getPath),
      mergeOnRead = loadMergeOnRead(dir),
      equalityDeletes = loadEqualityMode(dir))
  }

  // ---- time travel ----
  //
  // Catalog tables are VERSIONED: every committed state (CREATE, each
  // INSERT/CTAS append, DELETE, ALTER, streaming epoch) publishes an
  // AvroSnapshots manifest, and SQL's `VERSION AS OF` / `TIMESTAMP AS
  // OF` resolve here to a read-only table pinned to that snapshot —
  // files AND schema as of that version, so a query against v1 sees
  // pre-evolution columns. Spark passes TIMESTAMP AS OF in MICROseconds.

  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // numeric → a version number; anything else → a named ref (tag),
    // so `VERSION AS OF 'baseline'` reproduces a blessed state forever
    val v = version.toLongOption
      .orElse(AvroSnapshots.getRef(dir.getPath, version))
      .getOrElse(throw new IllegalArgumentException(
        s"${ident.name}: '$version' is neither a version number nor a ref " +
          s"(refs: ${AvroSnapshots.listRefs(dir.getPath).keys.toSeq.sorted.mkString(", ")})"))
    val snap = AvroSnapshots.load(dir.getPath, v).getOrElse(
      throw new IllegalArgumentException(
        s"${ident.name}: no version $v (have ${AvroSnapshots.versions(dir.getPath).mkString(", ")})"))
    new AvroDirTable(dir.getPath, snap.schema, versioned = true,
      pinned = Some(snap), partSpec = loadPartSpec(dir))
  }

  /** Tag the table's current (or a given) version with a named ref. */
  def tagVersion(ident: Identifier, name: String,
      version: Option[Long] = None): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val v = version.orElse(AvroSnapshots.headVersion(dir.getPath))
      .getOrElse(throw new IllegalStateException(s"${ident.name} has no versions"))
    require(!AvroSnapshots.isBranch(dir.getPath, name),
      s"'$name' is a branch head — a tag cannot overwrite it")
    AvroSnapshots.setRef(dir.getPath, name, v)
    v
  }

  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val snap = AvroSnapshots.asOf(dir.getPath, timestampMicros / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"${ident.name}: no snapshot at or before timestamp $timestampMicros"))
    new AvroDirTable(dir.getPath, snap.schema, versioned = true,
      pinned = Some(snap), partSpec = loadPartSpec(dir))
  }

  /** Compaction (the OPTIMIZE / rewrite_data_files maintenance op):
    * rewrite the table's current contents through its own clustered
    * write — many small files (per-INSERT accumulation, DML rewrites
    * with unknown placement) become one file per bucket, re-bucketed,
    * and grouped scans (SPJ) are restored after row-level DML degraded
    * the layout. Executed as `INSERT OVERWRITE t SELECT * FROM t`,
    * which is SAFE here because data files are immutable: the scan
    * plans against the pre-compaction manifest, the truncate-write
    * publishes a new manifest referencing only the new files, nothing
    * is deleted (snapshot expiry reclaims the old generation later),
    * and time travel to any pre-compaction version still works.
    * Returns (filesBefore, filesAfter). */
  def compactTable(ident: Identifier,
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): (Int, Int) = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // The rewrite resolves the table by catalog NAME in the session —
    // verify that name maps back to THIS catalog's WAREHOUSE (ADVICE
    // r13: two sessions can register the same name at different
    // warehouses, and compacting through the wrong one would silently
    // rewrite the other session's table). Same-warehouse instances in
    // different sessions are equivalent — catalog instances cache per
    // session, so identity would be too strict.
    // isCatalogRegistered first: an unregistered name used to escape as
    // CatalogNotFoundException and bypass this diagnostic (ADVICE r14)
    val sameWarehouse =
      session.sessionState.catalogManager.isCatalogRegistered(catalogName) &&
        (session.sessionState.catalogManager.catalog(catalogName) match {
          case g: GraftCatalog =>
            g.warehouse.getCanonicalPath == warehouse.getCanonicalPath
          case _ => false
        })
    require(sameWarehouse,
      s"catalog '$catalogName' in the given session does not resolve to " +
        s"warehouse $warehouse — invoke compactTable with a session that " +
        "owns this catalog")
    // count on the lineage the rewrite actually targets: under a
    // write-audit-publish session conf the INSERT OVERWRITE resolves
    // the table AT THE BRANCH, so the before/after numbers must too
    def filesNow() = AvroSnapshots.head(dir.getPath, sessionBranch(dir.getPath))
      .map(_.files.size).getOrElse(0)
    val before = filesNow()
    val q = quoted(ident)
    // tag the self-overwrite as a REWRITE (dataChange=false): same
    // rows, new files — streams and the change feed skip the commit.
    // The recorded head version is the rewrite's READ BASIS: the
    // truncate commit validates it, so a concurrent DML landing
    // mid-compaction refuses the compaction instead of being undone
    val abs = new File(dir.getPath).getAbsolutePath
    val basis = AvroSnapshots
      .headVersion(dir.getPath, sessionBranch(dir.getPath)).getOrElse(-1L)
    AvroDirSource.rewriteBasis.get().put(abs, basis)
    // lineage rewrite: the table transiently exposes `_row_id` as a
    // trailing data column, so SELECT * carries every row's stable id
    // through the rewrite (written back as a physical column) — row
    // lineage survives compaction (round 17)
    AvroDirSource.lineageRewrite.get().add(abs)
    try session.sql(s"INSERT OVERWRITE $q SELECT * FROM $q")
    finally {
      AvroDirSource.rewriteBasis.get().remove(abs)
      AvroDirSource.lineageRewrite.get().remove(abs)
      ()
    }
    val after = filesNow()
    (before, after)
  }

  /** The driver-run write of `job` (CDC upserts, compaction rewrites):
    * one writer per non-empty partition of `rows`, its files indexed by
    * the partition index plus `pidOffset`; returns the written entries.
    * A failed run deletes every file of the job. */
  private def runWriteJob(job: WriteJob,
      rows: org.apache.spark.rdd.RDD[InternalRow],
      factory: org.apache.spark.sql.connector.write.DataWriterFactory,
      pidOffset: Int = 0): Seq[AvroSnapshots.FileEntry] =
    job.guarded(WriteJob.entries(rows.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val w = factory.createWriter(pidOffset + pid, pid.toLong)
        var ok = false
        try { it.foreach(w.write); ok = true }
        finally if (!ok) w.abort()
        Iterator(w.commit())
      }
    }.collect()))

  /** Apply one CDC batch ATOMICALLY — the streaming-upsert write shape
    * (Iceberg v2's equality-delete upsert, Flink's CDC sink): the
    * source relation carries the table's columns plus `_op` ∈
    * {'upsert', 'delete'}, and application is
    *
    *   1. the upsert rows land as NEW data files written by a
    *      distributed job — INVISIBLE until committed (no manifest
    *      references them, exactly the staged-RTAS property);
    *   2. ONE O(batch-keys) equality-delete sidecar covering EVERY
    *      batch key (an upsert is delete-then-insert) attaches to
    *      exactly the pre-existing entries whose recorded [min, max]
    *      might contain a key — metadata-only stats pruning, ZERO
    *      data-file reads;
    *   3. ONE manifest commit publishes both, so a reader sees either
    *      the whole batch or none of it (a delete-commit-then-
    *      insert-commit spelling exposes a missing-rows window; the
    *      reverse exposes duplicate keys).
    *
    * The new files never carry the sidecar ref (per-entry attachment =
    * sequence scoping), so the upserts' new values live while every
    * old value of a batch key is dead. Keys must be unique per batch
    * (the standard CDC-batch contract — ops on one key have no
    * intra-batch order), non-null, and of BIGINT/INT/STRING type.
    * COMPOSITE keys (round 16): pass a comma-separated column list —
    * the sidecar holds key TUPLES and the batch contract applies to
    * the tuple.
    *
    * 100-TB economics: per batch this is O(upsert rows) write + O(keys)
    * sidecar bytes + one manifest swap — no read, no shuffle of table
    * data; the deferred read-side key-probe cost is the same trade the
    * equality-delete DELETE makes, and compaction materializes it away.
    * Key collection is O(batch keys) driver memory — batch-sized, like
    * the IN-list a key DELETE already plans. Returns (version, upserts,
    * deleted keys). */
  def applyCdc(ident: Identifier, keyCol: String, sourceSql: String,
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{col, lower}
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    require(loadEqualityMode(dir),
      s"${ident.name}: apply_cdc requires delete mode " +
        "merge-on-read-equality (CALL system.set_delete_mode first)")
    val schema = readSchema(dir)
    val keyFields = keyCol.split(",").map(_.trim).filter(_.nonEmpty).map { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalArgumentException(
          s"CDC key column $c is not a column of ${ident.name}"))
    }.toSeq
    require(keyFields.nonEmpty &&
      keyFields.map(_.name).distinct.size == keyFields.size,
      s"CDC key spec '$keyCol' must name distinct columns")
    val kinds = keyFields.map(_.dataType match {
      case LongType | IntegerType => "long"
      case org.apache.spark.sql.types.StringType => "string"
      case other => throw new IllegalArgumentException(
        s"CDC key columns must be BIGINT/INT/STRING, got $other")
    })
    val src = session.sql(sourceSql)
    val opCol = src.schema.fieldNames.find(_.equalsIgnoreCase("_op"))
      .getOrElse(throw new IllegalArgumentException(
        "CDC source must carry an _op column ('upsert' | 'delete')"))
    val extra = src.schema.fieldNames.filterNot(n =>
      n.equalsIgnoreCase(opCol) ||
        schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(extra.isEmpty,
      s"CDC source columns ${extra.mkString(", ")} are not columns of ${ident.name}")
    schema.fieldNames.foreach(n => require(
      src.schema.fieldNames.exists(_.equalsIgnoreCase(n)),
      s"CDC source is missing table column $n"))
    // keys + ops: ONE driver-side pass over the batch's key columns —
    // O(batch keys), the same footprint as a key DELETE's IN list
    val keyed = src.select(
      keyFields.map(f => col(f.name).cast(f.dataType)) :+
        lower(col(opCol)): _*).collect()
    val nk = keyFields.size
    val keys: Array[Seq[String]] = keyed.map { r =>
      val op = r.getString(nk)
      require(op == "upsert" || op == "delete",
        s"CDC _op must be 'upsert' or 'delete', got '$op'")
      (0 until nk).map { i =>
        require(!r.isNullAt(i), "CDC key components may not be null")
        val v = String.valueOf(r.get(i))
        require(!v.contains('\t') && !v.contains('\n'),
          "string key components may not contain tab/newline")
        v
      }
    }
    require(keys.map(_.mkString("\t")).distinct.length == keys.length,
      "CDC batch carries duplicate keys — ops on one key have no " +
        "intra-batch order; deduplicate upstream (keep the last op)")
    val nUpserts = keyed.count(_.getString(nk) == "upsert").toLong
    // distributed upsert write: new files are invisible (no manifest
    // references them) until the single commit below publishes them
    val ordered = src.where(lower(col(opCol)) === "upsert")
      .select(schema.fields.toSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)): _*)
    val dirPath = dir.getPath
    // a PARTITIONED table's CDC files land through the clustered writer
    // so their placement is recorded (grouped/SPJ scans keep working
    // under a CDC feed); rows are not pre-distributed by the transform,
    // so a task may cut one file per partition value it holds — batch-
    // sized, and compaction re-clusters. A failed write or a refused
    // commit reclaims the job's files, so the apply is all-or-nothing.
    val job = WriteJob(dirPath)
    val written = runWriteJob(job, ordered.queryExecution.toRdd,
      job.factory(schema, loadPartSpec(dir),
        GeneratedColumns.boundExprs(schema, session)))
    // sidecar content is retry-invariant — write it at most once; the
    // job removes it only when the whole apply is refused
    lazy val eqName: String =
      job.equalityDelete(keyFields.map(_.name), kinds, keys.toSeq)
    var attempt = 0
    var applied: Option[(Long, Long, Long)] = None
    job.guarded(while (applied.isEmpty) {
      try {
        applied = Some(AvroSnapshots.withCommitLock(dirPath) {
          val branch = sessionBranch(dirPath)
          val prev = AvroSnapshots.head(dirPath, branch)
          val entries = prev.map(_.entries).getOrElse(Nil)
          val attached =
            if (keys.isEmpty) entries
            else {
              // attach pruning: per-column In over the batch's key
              // components — a NECESSARY condition of tuple membership
              // (sound; a composite tuple can only live in a file
              // admitting every component), probed by the one pruning
              // test (stats and blooms) per column
              val inFs: Seq[org.apache.spark.sql.sources.Filter] =
                keyFields.zipWithIndex.map { case (f, i) =>
                  val lits: Array[Any] =
                    if (kinds(i) == "long")
                      keys.map(t => Long.box(t(i).toLong)).toArray[Any]
                    else keys.map(t => t(i): Any).toArray[Any]
                  org.apache.spark.sql.sources.In(f.name, lits)
                }
              // a file predating a key column (or stats) cannot carry an
              // equality ref — its rows hold the exists-default the sidecar
              // cannot express. CDC keys exist from table creation; refuse
              // loudly instead of deleting the wrong rows.
              entries.foreach(e => require(
                keyFields.forall(f => e.stats.exists(sj =>
                  FileColumns.recorded(f, AvroStats.parse(sj)).isDefined)),
                s"apply_cdc: file ${e.name} predates stats or a key column " +
                  s"of '$keyCol' — compact the table first"))
              val pruning = new FileColumns.Pruning(dirPath, schema)
              val touched =
                entries.filter(pruning.mightHold(_, inFs)).map(_.name).toSet
              if (touched.isEmpty) entries
              else entries.map(e =>
                if (touched(e.name)) e.copy(eq = e.eq :+ eqName) else e)
            }
          val v = AvroSnapshots.commit(dirPath, schema,
            (attached ++ written).sortBy(_.name), AvroSnapshots.KindCdc,
            branch, expectedParent = prev.map(_.version))
          (v, nUpserts, keys.length.toLong - nUpserts)
        })
      } catch {
        case e: java.util.ConcurrentModificationException =>
          // a cross-JVM writer landed between our basis read and the
          // version claim. The upsert files and sidecar are OURS alone
          // (invisible to the winner), so re-deriving the attachment
          // against the new head and retrying is always sound — the
          // same auto-rebase discipline commitAppend uses.
          attempt += 1
          if (attempt >= 20) throw e
          Thread.sleep(5L * attempt)
      }
    })
    applied.get
  }

  /** Newest value of commit property `key` on the table's main lineage
    * — commit properties (Delta's commitInfo userMetadata / txn ids)
    * are stamped via the `spark.graft.commit.properties` session conf
    * and recorded ATOMICALLY in the commit's manifest header. The
    * exactly-once seam for incremental consumers: an MV refresh stamps
    * its base-table watermark on the SAME commit as its MERGE. */
  def lastCommitProperty(ident: Identifier, key: String): Option[String] = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.lastProp(dir.getPath, key, sessionBranch(dir.getPath))
  }

  /** BIN-PACK compaction (Iceberg's rewrite_data_files binpack — the
    * OPTIMIZE flavor a 100-TB table actually schedules): rewrite ONLY
    * the files worth rewriting — row count below `minRows` (the
    * small-file debt a CDC/streaming feed accrues) or carrying
    * dv/equality sidecars (targeted materialization) — and leave every
    * healthy file byte-untouched. Contrast [[compactTable]]: a full
    * self-overwrite is O(table) I/O per run, which at scale means you
    * can never afford to run it; binpack is O(debt). The rewrite reads
    * candidates through the TABLE SCAN (`_file IN (...)` — dv/eq
    * anti-joins, exists-defaults and schema modernization all apply),
    * writes through the clustered factory when a partition spec
    * exists, and commits kind=rewrite (dataChange=false — streams and
    * the CDF skip it) with read-basis validation: a concurrent DML
    * refuses the compaction, never the reverse. Returns
    * (filesRewritten, filesAfter). */
  def compactSmall(ident: Identifier, minRows: Long,
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): (Int, Int) = {
    import org.apache.spark.sql.functions.col
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val dirPath = dir.getPath
    val branch = sessionBranch(dirPath)
    val head = AvroSnapshots.head(dirPath, branch).getOrElse(return (0, 0))
    val schema = readSchema(dir)
    def isDebt(e: AvroSnapshots.FileEntry): Boolean =
      e.dv.isDefined || e.eq.nonEmpty ||
        e.stats.flatMap(AvroStats.rowCount).forall(_ < minRows)
    val candidates = head.entries.filter(isDebt)
    // one clean small file is not debt worth a commit; sidecarred
    // files always are (the rewrite materializes them away)
    if (candidates.isEmpty ||
        (candidates.size == 1 && candidates.head.dv.isEmpty &&
          candidates.head.eq.isEmpty))
      return (0, head.entries.size)
    val names = candidates.map(_.name)
    val q = quoted(ident)
    // row lineage AND row tracking ride the rewrite: `_row_id` and
    // `_last_updated_version` (derived or physical) are selected
    // alongside the data columns and written back as physical columns,
    // so binpacked rows keep their stable ids and their last-updated
    // stamps (maintenance must not bump them — round 18)
    val src = session.table(q).where(col(AvroDirSource.FileColumn)
        .isin(names: _*))
      .select(schema.fields.toSeq.map(f => col(f.name)) :+
        col(AvroDirSource.RowIdColumn) :+ col(AvroDirSource.LuvColumn): _*)
    val writeSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(AvroDirSource.RowIdColumn,
        org.apache.spark.sql.types.LongType, nullable = true) :+
      org.apache.spark.sql.types.StructField(AvroDirSource.LuvColumn,
        org.apache.spark.sql.types.LongType, nullable = true))
    // the debt COALESCES: one writer task per job (binpack target =
    // one healthy file per partition value), fed by however many
    // small files the scan planned
    val job = WriteJob(dirPath)
    val newEntries = runWriteJob(job, src.coalesce(1).queryExecution.toRdd,
      job.factory(writeSchema, loadPartSpec(dir), Nil))
    val dropped = names.toSet
    job.guarded(AvroSnapshots.withCommitLock(dirPath) {
      AvroSnapshots.commit(dirPath, schema,
        (head.entries.filterNot(e => dropped(e.name)) ++ newEntries)
          .sortBy(_.name),
        AvroSnapshots.KindRewrite, branch,
        expectedParent = Some(head.version))
    })
    (candidates.size,
      head.entries.size - candidates.size + newEntries.length)
  }

  /** INCREMENTAL RE-CLUSTERING (round 18, verdict r17 #6; extended
    * round 19 to PARTITIONED and Z-ORDERED tables — liquid-style
    * maintenance): rewrite ONLY the files that violate the table's
    * sort-order clustering, leaving conforming files byte-untouched.
    *
    * Violation = hull overlap: per-file [min, max] intervals of the
    * CLUSTER KEY (manifest stats — metadata-only detection) are
    * grouped into overlap-CONNECTED COMPONENTS; a component of one
    * clean file is conforming and is not rewritten, a component of ≥2
    * files is dirty and its rows are rewritten together, sorted and
    * range-split WITHIN the component. Interval components have
    * contiguous unions and distinct components have disjoint unions,
    * so the outputs are disjoint from every retained file — one pass
    * reaches a fully clustered state and a second pass is a provable
    * NO-OP (idempotent, unlike naive "rewrite overlapping pairs").
    *
    *   - PLAIN sort: the cluster key is the LEADING sort column.
    *   - Z-ORDER: the key is the file's TRUE z-curve position hull —
    *     the `@zvalue` 64-bit-prefix shadow stats the writer records
    *     for z tables (per-column boxes over-cover the curve and would
    *     re-dirty freshly split files forever); files predating the
    *     shadow rewrite alone to GAIN it (2-pass convergence).
    *   - PARTITIONED/bucketed: components are detected WITHIN each
    *     (spec, partition value) — a dirty bucket rewrites alone and
    *     its outputs KEEP the placement, so grouped scans/SPJ survive;
    *     clean buckets' files stay byte-identical. Unplaced appends
    *     cluster among themselves (the None partition) and stay
    *     unplaced.
    *
    * Sidecarred (dv/eq) files are always dirty (the rewrite
    * materializes their deletes away); a file whose stats LACK the
    * cluster key rewrites alone to GAIN it; a file whose key is
    * all-NULL (entry present, no bounds) is skipped — no rewrite can
    * improve it. Cost is O(dirty rows) read+write and O(files)
    * metadata — the maintenance a 100-TB table can afford between
    * full OPTIMIZEs. Returns (files rewritten, files after). */
  def compactClustered(ident: Identifier,
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): (Int, Int) = {
    import org.apache.spark.sql.functions.{col, struct, udf}
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val dirPath = dir.getPath
    val branch = sessionBranch(dirPath)
    val sortSpec = loadSortSpec(dir).getOrElse(throw new IllegalStateException(
      s"${ident.name} has no sort order — CALL set_sort_order first"))
    val head = AvroSnapshots.head(dirPath, branch).getOrElse(return (0, 0))
    val schema = readSchema(dir)
    // the cluster-key hull resolver: the z-prefix shadow for z tables,
    // the leading sort column (rename-alias-chained, type-coerced) for
    // plain sorts. `keyEntry` distinguishes "entry absent" (a rewrite
    // GAINS the key — dirty alone) from "entry present, no bounds"
    // (all-null key — a rewrite can never improve it, skip).
    val zo = sortSpec.zorder
    val leadField: StructField =
      if (zo) null
      else schema.fields.find(_.name.equalsIgnoreCase(sortSpec.columns.head))
        .getOrElse(throw new IllegalStateException(
          s"sort column ${sortSpec.columns.head} is not a column of ${ident.name}"))
    def keyEntry(e: AvroSnapshots.FileEntry): Option[AvroStats.ColStats] =
      e.stats.map(AvroStats.parse).flatMap { st =>
        if (zo) st.get(SortSpec.ZShadowName)
        else FileColumns.stats(schema, st)(leadField.name)
      }
    def hull(e: AvroSnapshots.FileEntry): Option[(Any, Any)] =
      keyEntry(e).flatMap(cs => for (mn <- cs.min; mx <- cs.max) yield (mn, mx))
    // String bounds at/beyond the stats truncation width may be a
    // prefix (min) or a bumped prefix existing in NO row (max) —
    // "overlap" between such covering bounds is unknowable, and a
    // rewrite could never tighten it below the truncation width, so
    // treating it as overlap would re-rewrite the same component on
    // every pass forever. Unknowable ⇒ NOT dirty (clustering is an
    // optimization; idempotence and O(dirty) cost are the contract).
    def truncated(v: Any): Boolean = v match {
      case s: String => s.codePointCount(0, s.length) >= AvroStats.MaxStringBound
      case _ => false
    }
    def sidecarred(e: AvroSnapshots.FileEntry) =
      e.dv.isDefined || e.eq.nonEmpty
    // components within each (spec, partition value) — clean buckets
    // are never touched, dirty buckets rewrite alone and keep placement
    val dirtyGroups = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[AvroSnapshots.FileEntry], Int, Option[Long])]
    head.entries.groupBy(e => (e.specId, e.part)).toSeq
      .sortBy(g => (g._1._1, g._1._2)).foreach { case ((specId, part), pes) =>
      val hulled = pes.flatMap(e => hull(e).map(e -> _))
        .sortWith((a, b) => AvroStats.cmpBounds(a._2._1, b._2._1) < 0)
      val components = scala.collection.mutable.ArrayBuffer
        .empty[scala.collection.mutable.ArrayBuffer[AvroSnapshots.FileEntry]]
      var curMax: Any = null
      hulled.foreach { case (e, (mn, mx)) =>
        if (components.isEmpty || AvroStats.cmpBounds(mn, curMax) > 0 ||
            truncated(mn) || truncated(curMax)) {
          components += scala.collection.mutable.ArrayBuffer(e)
          curMax = mx
        } else {
          components.last += e
          if (AvroStats.cmpBounds(mx, curMax) > 0) curMax = mx
        }
      }
      // No usable hull splits two ways: stats JSON (or the cluster-key
      // entry) absent → a rewrite GAINS the key (dirty, rewrite
      // alone); entry present but no bounds (all-NULL key) → no
      // rewrite can ever produce bounds, so rewriting would repeat
      // forever — skip (unless sidecarred: materializing its deletes
      // away still pays).
      val keyless = pes.filter(e =>
        hull(e).isEmpty &&
          (e.stats.isEmpty || keyEntry(e).isEmpty || sidecarred(e)))
      components.filter(c => c.size >= 2 || c.exists(sidecarred))
        .foreach(c => dirtyGroups += ((c.toSeq, specId, part)))
      keyless.foreach(e => dirtyGroups += ((Seq(e), specId, part)))
    }
    if (dirtyGroups.isEmpty) return (0, head.entries.size)
    val q = quoted(ident)
    val writeSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(AvroDirSource.RowIdColumn,
        org.apache.spark.sql.types.LongType, nullable = true) :+
      org.apache.spark.sql.types.StructField(AvroDirSource.LuvColumn,
        org.apache.spark.sql.types.LongType, nullable = true))
    val job = WriteJob(dirPath)
    val factory = job.factory(writeSchema, None, Nil)
    // z rewrite ordering: the deterministic z-prefix of the z columns
    // (maintenance path, not a hot loop — a udf is fine); plain sorts
    // order by their columns directly
    val zTypes: Array[(Int, DataType)] =
      if (!zo) null
      else SortSpec.zKeyOrdinals(sortSpec, schema)
        .getOrElse(throw new IllegalStateException(
          s"z columns ${sortSpec.columns} unresolvable in ${ident.name}"))
    // a null z column has no curve position — Long.MinValue sorts such
    // rows first, deterministically (their shadow contribution is null
    // either way)
    lazy val zPrefixUdf = udf((r: org.apache.spark.sql.Row) => {
      if ((0 until r.length).exists(r.isNullAt)) Long.MinValue
      else {
        val keys = Array.tabulate(r.length)(i =>
          SortSpec.zKeyOf(r.get(i), zTypes(i)._2))
        SortSpec.zPrefixOf(keys)
      }
    })
    val newEntries = dirtyGroups.toSeq.zipWithIndex.flatMap {
      case ((group, specId, part), gi) =>
        val names = group.map(_.name)
        // row lineage + row tracking ride the rewrite (physical
        // columns), so re-clustered rows keep ids and stamps
        val base = session.table(q).where(col(AvroDirSource.FileColumn)
            .isin(names: _*))
          .select(schema.fields.toSeq.map(f => col(f.name)) :+
            col(AvroDirSource.RowIdColumn) :+ col(AvroDirSource.LuvColumn): _*)
        val src =
          if (zo) {
            val zc = zPrefixUdf(struct(
              sortSpec.columns.map(c => col(c)): _*))
            base.withColumn("__graft_zk", zc)
              .repartitionByRange(math.max(group.size, 1), col("__graft_zk"))
              .sortWithinPartitions(col("__graft_zk"))
              .drop("__graft_zk")
          } else
            base.repartitionByRange(math.max(group.size, 1),
                sortSpec.columns.map(col): _*)
              .sortWithinPartitions(sortSpec.columns.map(col): _*)
        // group gi's files are indexed from gi * 100000, so names stay
        // unique across the groups of this one job. Rewrite outputs
        // inherit their group's placement: every input row of a
        // (spec, part) group is of that partition value, so the
        // metadata-level placement is truthful and SPJ keeps working
        runWriteJob(job, src.queryExecution.toRdd, factory, gi * 100000)
          .map(_.copy(part = part, specId = specId))
    }
    val dropped = dirtyGroups.flatMap(_._1).map(_.name).toSet
    job.guarded(AvroSnapshots.withCommitLock(dirPath) {
      AvroSnapshots.commit(dirPath, schema,
        (head.entries.filterNot(e => dropped(e.name)) ++ newEntries)
          .sortBy(_.name),
        AvroSnapshots.KindRewrite, branch,
        expectedParent = Some(head.version))
    })
    (dropped.size, head.entries.size - dropped.size + newEntries.length)
  }

  /** Current MAIN head version of a catalog table (branch commits do
    * not move it once branching has begun). */
  def currentVersion(ident: Identifier): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.headVersion(dir.getPath).getOrElse(
      throw new IllegalStateException(s"${ident.name} has no versions"))
  }

  /** Append with AUTOMATIC SCHEMA MERGE (Delta's
    * `mergeSchema`/autoMerge, round 18): source-only columns are first
    * ADDED to the table (one O(1) metadata commit — nullable, existing
    * files serve null via by-name resolution), table columns the
    * source lacks are filled with NULL, then the rows append normally.
    * The INSERT-path twin of `MERGE ... WITH SCHEMA EVOLUTION`. */
  def appendWithSchemaMerge(ident: Identifier,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    def tableCols: Seq[StructField] = readSchema(dir).fields.toSeq
    val newCols = df.schema.fields.filterNot(f =>
      tableCols.exists(_.name.equalsIgnoreCase(f.name)))
    if (newCols.nonEmpty)
      alterTable(ident, newCols.map(f => TableChange.addColumn(
        Array(f.name), f.dataType, true)): _*)
    val aligned = df.select(tableCols.map { f =>
      df.schema.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(_) => df.col(f.name).cast(f.dataType).as(f.name)
        case None => org.apache.spark.sql.functions.lit(null)
          .cast(f.dataType).as(f.name)
      }
    }: _*)
    aligned.writeTo(quoted(ident)).append()
  }

  /** Live data-file count at the current main head — O(manifest). */
  def currentFileCount(ident: Identifier): Int = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.head(dir.getPath).map(_.files.size).getOrElse(0)
  }

  /** ADD CHECK CONSTRAINT (round 19 — Delta `ALTER TABLE ... ADD
    * CONSTRAINT ... CHECK`): compiles `predicateSql` against the
    * table, refuses undeclarable shapes loudly, validates every
    * EXISTING row distributedly (a row violates iff the predicate is
    * definitively FALSE — SQL CHECK's rule), persists the predicate
    * tree to the `_check.json` sidecar under the commit lock, and
    * lands an `alter` commit so the declaration is versioned. From
    * then on every write path enforces it per row inside the write
    * tasks ([[CheckConstraints]]). Returns the enforcing commit's
    * version. */
  def addCheckConstraint(ident: Identifier, name: String,
      predicateSql: String, session: org.apache.spark.sql.SparkSession): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val schema = readSchema(dir)
    declareCheck(dir, ident, schema, name, predicateSql, session)
    AvroSnapshots.withCommitLock(dir.getPath) {
      val head = AvroSnapshots.head(dir.getPath, sessionBranch(dir.getPath))
      AvroSnapshots.commit(dir.getPath, schema,
        head.map(_.entries).getOrElse(Nil), AvroSnapshots.KindAlter,
        sessionBranch(dir.getPath), expectedParent = head.map(_.version))
    }
  }

  /** Compile + history-validate + persist a CHECK constraint (no
    * commit — the caller versions the change). Shared by the
    * procedure path and the native `ALTER TABLE ... ADD CONSTRAINT`
    * DDL path. */
  private def declareCheck(dir: File, ident: Identifier, schema: StructType,
      name: String, predicateSql: String,
      session: org.apache.spark.sql.SparkSession): Unit = {
    val q = quoted(ident)
    // resolve through the REAL analyzer against the real relation, then
    // translate to the engine-neutral DSv2 filter tree the write-time
    // evaluator executes
    val analyzed = session.table(q).where(predicateSql)
      .queryExecution.analyzed
    val cond0 = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"constraint $name: could not resolve predicate `$predicateSql`"))
    // the analyzer wraps literals in casts (k >= CAST(0 AS BIGINT));
    // fold every foldable subtree to its literal so the translator
    // sees plain column-vs-literal comparisons
    val cond = cond0.transformUp {
      case e if e.foldable &&
          !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal] =>
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          e.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType)
      // wildcard-free simple LIKEs are prefix/suffix/contains tests —
      // rewrite so `p LIKE 'p%'` declares as StringStartsWith
      case l: org.apache.spark.sql.catalyst.expressions.Like =>
        import org.apache.spark.sql.catalyst.expressions._
        (l.right match {
          case Literal(p: org.apache.spark.unsafe.types.UTF8String, _) =>
            val s = p.toString
            def clean(x: String) = !x.exists(c => c == '%' || c == '_' || c == l.escapeChar)
            if (s.length > 1 && s.endsWith("%") && clean(s.dropRight(1)))
              Some(StartsWith(l.left, Literal(s.dropRight(1))))
            else if (s.length > 1 && s.startsWith("%") && clean(s.drop(1)))
              Some(EndsWith(l.left, Literal(s.drop(1))))
            else if (s.length > 2 && s.startsWith("%") && s.endsWith("%") &&
                clean(s.substring(1, s.length - 1)))
              Some(Contains(l.left, Literal(s.substring(1, s.length - 1))))
            else None
          case _ => None
        }).getOrElse(l)
    }
    val v2 = org.apache.spark.sql.graftshim.Shim.translateFilter(cond)
      .getOrElse(throw new IllegalArgumentException(
        s"constraint $name: `$predicateSql` is not expressible in the " +
          "declarable grammar (literal comparisons, IN, IS [NOT] NULL, " +
          "prefix/suffix/contains, AND/OR/NOT)"))
    require(AvroFilterEval.supported(v2),
      s"constraint $name: `$predicateSql` uses an unsupported literal or shape")
    val cols = CheckConstraints.referencedColumns(v2)
    cols.foreach(c => require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"constraint $name references $c, which is not a data column"))
    // history must already satisfy the constraint (Delta's rule):
    // definitively-FALSE rows refuse the declaration
    val bad = session.table(q)
      .where(s"NOT COALESCE(($predicateSql), TRUE)").limit(1).count()
    require(bad == 0,
      s"constraint $name: existing rows violate `$predicateSql`")
    AvroSnapshots.withCommitLock(dir.getPath) {
      val existing = CheckConstraints.load(dir.getPath)
      val info = CheckConstraints.loadInformational(dir.getPath)
      require(!existing.exists(_.name == name) && !info.exists(_.name == name),
        s"constraint $name already exists on ${ident.name}")
      CheckConstraints.store(dir.getPath,
        existing :+ CheckConstraints.Check(name, predicateSql, v2, cols))
    }
  }

  /** Drop a CHECK (or informational) constraint; enforcement stops at
    * the commit. */
  def dropCheckConstraint(ident: Identifier, name: String): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.withCommitLock(dir.getPath) {
      val existing = CheckConstraints.load(dir.getPath)
      val info = CheckConstraints.loadInformational(dir.getPath)
      require(existing.exists(_.name == name) || info.exists(_.name == name),
        s"no CHECK constraint $name on ${ident.name}")
      CheckConstraints.store(dir.getPath,
        existing.filterNot(_.name == name), info.filterNot(_.name == name))
      val schema = readSchema(dir)
      val head = AvroSnapshots.head(dir.getPath, sessionBranch(dir.getPath))
      AvroSnapshots.commit(dir.getPath, schema,
        head.map(_.entries).getOrElse(Nil), AvroSnapshots.KindAlter,
        sessionBranch(dir.getPath), expectedParent = head.map(_.version))
    }
  }

  /** SHALLOW CLONE (round 19 — Delta `CREATE TABLE ... SHALLOW CLONE`
    * / Iceberg snapshot-ref tables): create `dstIdent` as a ZERO-COPY
    * table whose v1 manifest references the source head's live data
    * files (and their dv/eq sidecars) as FOREIGN absolute paths —
    * O(metadata) regardless of table size; no data byte moves. The
    * clone then evolves fully independently: DML, compaction, schema
    * evolution, branching and its own retention all work — a COW
    * rewrite of a foreign file lands the rewrite OWNED in the clone's
    * directory and simply drops the foreign reference; the clone's
    * expiry/orphan removal never deletes a foreign file
    * ([[AvroSnapshots.ownsFile]] guards every physical delete).
    * Definition sidecars (schema, partition spec, sort order, delete
    * mode, bloom columns, shred declarations) are copied so the clone
    * behaves like the source; `_mv.json` is NOT copied (MV
    * registrations name OTHER tables — a clone must not receive the
    * source's maintenance obligations). Row ids are preserved verbatim
    * (the clone's row-id counter starts above every inherited range);
    * entry-level `addedVersion` stamps reset to the clone commit (in
    * the CLONE's timeline every row was added at v1 — physical
    * `_last_updated_version` columns inside rewritten source files
    * stay authoritative, documented like Delta's). The caveat is also
    * Delta's: retention run ON THE SOURCE can delete files a clone
    * still references — the source does not know its clones.
    * Returns (source version cloned, file count). */
  def cloneTable(srcIdent: Identifier, dstIdent: Identifier): (Long, Int) = {
    val srcDir = tableDir(srcIdent)
    if (!isTable(srcDir)) throw new NoSuchTableException(srcIdent)
    val dstDir = tableDir(dstIdent)
    if (isTable(dstDir)) throw new TableAlreadyExistsException(dstIdent)
    if (!nsDir(dstIdent.namespace).isDirectory)
      throw new NoSuchNamespaceException(dstIdent.namespace)
    val srcPath = srcDir.getPath
    val head = AvroSnapshots.head(srcPath, sessionBranch(srcPath))
      .getOrElse(throw new IllegalArgumentException(
        s"clone source ${srcIdent.name} is not a versioned table"))
    val srcAbs = new File(srcPath).getAbsolutePath
    // a source-owned name becomes an absolute foreign reference; a
    // reference the SOURCE already held foreign (clone of a clone)
    // keeps pointing at the original bytes — chains never re-resolve
    def foreign(n: String): String =
      if (AvroSnapshots.ownsFile(n)) new File(srcAbs, n).getPath else n
    dstDir.mkdirs()
    Seq("_schema.json", "_partition.json", "_sort.json", "_delete.json",
        BloomFilters.ColsFile, VariantShredding.SpecFile,
        CheckConstraints.SpecFile).foreach { s =>
      val f = new File(srcDir, s)
      if (f.isFile)
        Files.copy(f.toPath, new File(dstDir, s).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val entries = head.entries.map(e => e.copy(
      name = foreign(e.name), dv = e.dv.map(foreign),
      eq = e.eq.map(foreign), addedVersion = -1L))
    AvroSnapshots.withCommitLock(dstDir.getPath) {
      AvroSnapshots.commit(dstDir.getPath, head.schema, Nil,
        AvroSnapshots.KindCreate)
      AvroSnapshots.withCommitProps(Map(
        "graft.clone.source" -> srcAbs,
        "graft.clone.sourceVersion" -> head.version.toString)) {
        AvroSnapshots.commit(dstDir.getPath, head.schema, entries,
          AvroSnapshots.KindAppend)
      }
    }
    (head.version, entries.size)
  }

  /** Create a movable branch at the current main head — the staging
    * half of write-audit-publish. Writers target it via the
    * `spark.graft.branch` session conf; [[fastForwardBranch]]
    * publishes. */
  def createBranch(ident: Identifier, name: String): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.createBranch(dir.getPath, name)
  }

  /** Fast-forward main to a branch head (refused when main diverged).
    * Returns the new main head version. */
  def fastForwardBranch(ident: Identifier, branch: String): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.fastForward(dir.getPath, branch)
  }

  /** Cherry-pick publish of a DIVERGED branch — see
    * [[AvroSnapshots.cherryPick]] for the delta-replay semantics and
    * the file-granularity conflict rule. Returns (new main head,
    * commits applied). */
  def cherryPickBranch(ident: Identifier, branch: String): (Long, Int) = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.cherryPick(dir.getPath, branch)
  }

  /** ROLLBACK (Iceberg's rollback_to_snapshot): publish version `v`'s
    * exact state — files, schema, placement, stats — as the NEXT
    * version. History is preserved (the abandoned head stays readable
    * via VERSION AS OF and pinnable by a tag), data files are never
    * touched, and expiry semantics are unchanged: the restore is just
    * one more manifest. The `_schema.json` sidecar flips inside the
    * same commit lock so a rollback across an ALTER restores the old
    * columns consistently. Returns the new head version. */
  def rollbackTo(ident: Identifier, version: Long): Long = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.withCommitLock(dir.getPath) {
      val snap = AvroSnapshots.load(dir.getPath, version).getOrElse(
        throw new IllegalArgumentException(
          s"${ident.name}: no version $version to roll back to (have " +
            s"${AvroSnapshots.versions(dir.getPath).mkString(", ")})"))
      Files.write(schemaFile(dir).toPath,
        snap.schema.json.getBytes(StandardCharsets.UTF_8))
      AvroSnapshots.commit(dir.getPath, snap.schema, snap.entries,
        AvroSnapshots.KindRollback)
    }
  }

  /** File-level diff between two versions — the planning primitive the
    * row-level change feed reads through: (files only in `v2`, files
    * only in `v1`). A file present in both versions carried identical
    * rows at both (data files are immutable), so it contributes NO
    * changes and is never read — the feed's cost is O(changed files),
    * not O(table). */
  def changedFiles(ident: Identifier, v1: Long, v2: Long): (Seq[String], Seq[String]) = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    def entriesAt(v: Long): Map[String, (Option[String], Seq[String])] =
      AvroSnapshots.load(dir.getPath, v).map(
        _.entries.map(e => e.name -> ((e.dv, e.eq))).toMap).getOrElse(
        throw new IllegalArgumentException(
          s"${ident.name}: version $v does not exist or was expired"))
    val a = entriesAt(v1); val b = entriesAt(v2)
    // a file whose DELETION VECTOR or EQUALITY-DELETE set changed
    // carries different live rows at the two versions: it is "removed"
    // in its v1 state and "added" in its v2 state, so the row-level
    // feed (which reads the named files AT each version, sidecars
    // applied) diffs it correctly
    val added = b.keysIterator.filter(n => !a.get(n).contains(b(n))).toSeq.sorted
    val removed = a.keysIterator.filter(n => !b.get(n).contains(a(n))).toSeq.sorted
    (added, removed)
  }

  /** Snapshot expiry (the VACUUM maintenance op): keep the newest
    * `retainLast` versions, drop older manifests, physically delete
    * data files no retained version references. The only way a
    * versioned table's data files are ever removed. */
  def expireSnapshots(ident: Identifier, retainLast: Int): Seq[String] =
    expireSnapshots(ident, retainLast, olderThanMs = None)

  /** Time-composed expiry (round 17 — Iceberg's
    * `expire_snapshots(older_than, retain_last)`): drop only versions
    * BOTH beyond the newest `retainLast` AND committed before
    * `olderThanMs`; tags/branch heads survive either way. */
  def expireSnapshots(ident: Identifier, retainLast: Int,
      olderThanMs: Option[Long]): Seq[String] = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.expire(dir.getPath, retainLast, olderThanMs)
  }

  /** Age-gated orphan cleanup (remove_orphan_files): delete data/dv/
    * manifest-group files no retained version references, older than
    * `olderThanMs` (the gate that protects in-flight writes'
    * uncommitted task outputs). */
  def removeOrphanFiles(ident: Identifier, olderThanMs: Long): Seq[String] = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    AvroSnapshots.removeOrphans(dir.getPath, olderThanMs)
  }

  /** The Column[]-based CREATE TABLE entry (Spark 4.1): captures
    * GENERATED ALWAYS AS expressions and IDENTITY specs from the V2
    * column metadata into the persisted schema — the StructType
    * overload below would silently drop them. Generation expressions
    * are validated (deterministic functions of the data columns) and
    * their referenced columns recorded for the rename/drop guard;
    * identity columns must be BIGINT GENERATED ALWAYS (ids derive
    * from row lineage — [[GeneratedColumns]]). */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val base = StructType(columns.map { c =>
      var md = Option(c.metadataInJSON()).filter(_.nonEmpty)
        .map(Metadata.fromJson).getOrElse(Metadata.empty)
      Option(c.defaultValue()).foreach { d =>
        val rdc = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        val sql = Option(d.getSql).getOrElse(throw new IllegalArgumentException(
          s"column ${c.name}: default has no SQL form"))
        md = new MetadataBuilder().withMetadata(md)
          .putString(rdc.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
          .putString(rdc.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql).build()
      }
      Option(c.generationExpression()).filter(_.nonEmpty).foreach { sql =>
        md = GeneratedColumns.withGeneration(md, sql)
      }
      Option(c.identityColumnSpec()).foreach { spec =>
        val f0 = StructField(c.name, c.dataType)
        GeneratedColumns.requireIdentityShape(f0, spec)
        md = GeneratedColumns.withIdentity(md, spec.getStart, spec.getStep)
      }
      StructField(c.name, c.dataType, c.nullable, md)
    })
    // fold CURRENT defaults to EXISTS defaults like the ALTER path
    val rdc = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
    val folded = StructType(base.fields.map { f =>
      if (f.metadata.contains(rdc.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
        rdc.constantFoldCurrentDefaultsToExistDefaults(
          StructType(Seq(f)), "CREATE TABLE").fields.head
      else f
    })
    val session = org.apache.spark.sql.SparkSession.active
    folded.fields.filter(GeneratedColumns.isGenerated).foreach { f =>
      GeneratedColumns.validateGeneration(folded, f,
        f.metadata.getString(GeneratedColumns.ExprKey), session)
    }
    // identity columns cannot drive storage partitioning (their
    // physical bytes are null — placement would lie)
    val idCols = folded.fields.filter(GeneratedColumns.isIdentity).map(_.name)
    parsePartTransform(partitions).foreach { sp =>
      require(!idCols.exists(_.equalsIgnoreCase(sp.column)),
        s"identity column ${sp.column} cannot be a partition column")
    }
    createTable(ident, folded, partitions, properties)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (!nsDir(ident.namespace).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace)
    val spec = parsePartTransform(partitions)
    spec.foreach { sp =>
      require(schema.fieldNames.contains(sp.column),
        s"partition column ${sp.column} is not a column of ${ident.name}")
    }
    dir.mkdirs()
    Files.write(schemaFile(dir).toPath, schema.json.getBytes(StandardCharsets.UTF_8))
    spec.foreach(sp => writePartSpecs(dir, Seq(sp)))
    // v0: the empty table
    AvroSnapshots.commit(dir.getPath, schema, Nil, AvroSnapshots.KindCreate)
    new AvroDirTable(dir.getPath, schema, versioned = true, partSpec = spec)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog — round-16 #4) ----
  //
  // Spark's atomic exec paths stage the definition, write through the
  // returned StagedTable, then commitStagedChanges — or abort on ANY
  // failure. Staging here is nearly free because the table format is
  // already versioned: data files land task-unique and invisible (no
  // manifest references them; a staged CREATE has no _schema.json yet,
  // so the table doesn't exist), and the commit is one metadata swap
  // under the table's commit lock. A failed REPLACE leaves the old
  // table byte-identical; a failed CREATE leaves nothing.

  private def stage(ident: Identifier, schema: StructType,
      partitions: Array[Transform], creating: Boolean): StagedTable = {
    val dir = tableDir(ident)
    val spec = parsePartTransform(partitions)
    spec.foreach { sp =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(sp.column)),
        s"partition column ${sp.column} is not a column of ${ident.name}")
    }
    dir.mkdirs()
    new GraftStagedTable(dir.getPath, ident, schema, spec, creating,
      commitFn = entries => AvroSnapshots.withCommitLock(dir.getPath) {
        Files.write(schemaFile(dir).toPath,
          schema.json.getBytes(StandardCharsets.UTF_8))
        // REPLACE resets the LAYOUT definition to the staged one
        // (partitioning and sort order are part of the definition;
        // the delete-mode config survives, like table properties)
        spec match {
          case Some(sp) => writePartSpecs(dir, Seq(sp))
          case None     => partitionFile(dir).delete()
        }
        sortFile(dir).delete()
        if (AvroSnapshots.versions(dir.getPath).isEmpty) {
          // same two-version lineage as the non-atomic CTAS path
          // (empty create, then the data append) — deterministic
          // history for version-pinned readers and metadata oracles
          AvroSnapshots.commit(dir.getPath, schema, Nil,
            AvroSnapshots.KindCreate)
          AvroSnapshots.commit(dir.getPath, schema, entries,
            AvroSnapshots.KindAppend)
        } else {
          AvroSnapshots.commit(dir.getPath, schema, entries,
            AvroSnapshots.KindReplace)
        }
        ()
      })
  }

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (isTable(dir)) throw new TableAlreadyExistsException(ident)
    if (!nsDir(ident.namespace).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace)
    stage(ident, schema, partitions, creating = true)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    stage(ident, schema, partitions, creating = false)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (!nsDir(ident.namespace).isDirectory)
      throw new NoSuchNamespaceException(ident.namespace)
    stage(ident, schema, partitions, creating = !isTable(dir))
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false else { deleteRec(dir); true }
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = tableDir(from)
    if (!isTable(src)) throw new NoSuchTableException(from)
    val dst = tableDir(to)
    if (isTable(dst)) throw new TableAlreadyExistsException(to)
    if (!nsDir(to.namespace).isDirectory)
      throw new NoSuchNamespaceException(to.namespace)
    if (!src.renameTo(dst))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  /** Schema evolution, lakehouse-style: ALTER TABLE rewrites ONLY the
    * `_schema.json` manifest sidecar — data files are NEVER touched.
    * Old files keep serving through the reader's by-name Avro schema
    * resolution ([[AvroReaderFactory]]):
    *
    *   - ADD COLUMN: must be nullable (files that predate the column
    *     serve null for it — a non-null add over existing data is a
    *     lie, and Iceberg rejects it for the same reason);
    *   - RENAME COLUMN: the old name is pushed onto the field's alias
    *     list (`graft.avro.aliases` metadata, newest first) so files
    *     written under ANY prior name still resolve;
    *   - DROP COLUMN: removed from the manifest; the bytes stay in old
    *     files but are never projected again.
    *
    * At 100 TB this is the only affordable evolution model: O(1)
    * metadata vs an O(table) rewrite. Name-based resolution's documented
    * limit (drop X, re-add X resurrects old values) is inherited —
    * field IDs are the production fix; this catalog tracks names.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // the WHOLE read→fold→write sequence holds the commit lock: a
    // concurrent ALTER basing its fold on the same starting schema
    // would silently drop this one's changes otherwise
    AvroSnapshots.withCommitLock(dir.getPath) {
    val current = readSchema(dir)
    def topLevel(names: Array[String], what: String): String = {
      if (names.length != 1) throw new UnsupportedOperationException(
        s"$what: nested fields are not supported by this catalog")
      names(0)
    }
    val bucketCol = loadPartSpec(dir).map(_.column)
    val sortColumn = loadSortSpec(dir).map(_.columns).getOrElse(Nil)
    val checkedCols: Map[String, String] =
      CheckConstraints.load(dir.getPath)
        .flatMap(c => c.columns.map(_ -> c.name)).toMap
    def guardBucketCol(name: String, what: String): Unit = {
      if (bucketCol.contains(name)) throw new IllegalArgumentException(
        s"$what $name: the table is partitioned by $name — the partition " +
          "column cannot be renamed or dropped")
      if (sortColumn.contains(name)) throw new IllegalArgumentException(
        s"$what $name: the table's write sort order is on $name — drop " +
          "the sort order first")
      // a stored CHECK predicate references columns BY NAME — renaming
      // or dropping one would silently detach enforcement
      checkedCols.get(name).foreach(ck => throw new IllegalArgumentException(
        s"$what $name: referenced by CHECK constraint $ck — drop the " +
          "constraint first"))
      // same for columns a GENERATED ALWAYS AS expression derives from
      genRefCols.get(name).foreach(g => throw new IllegalArgumentException(
        s"$what $name: generated column $g derives from it — drop the " +
          "generated column first"))
    }
    lazy val genRefCols: Map[String, String] =
      if (!current.fields.exists(GeneratedColumns.isGenerated)) Map.empty
      else GeneratedColumns.referencedDataColumns(current,
        org.apache.spark.sql.SparkSession.active)
    val evolved = changes.foldLeft(current) { (s, change) =>
      change match {
        case add: TableChange.AddColumn =>
          val name = topLevel(add.fieldNames, "ADD COLUMN")
          if (s.fieldNames.contains(name)) throw new IllegalArgumentException(
            s"column $name already exists in ${ident.name}")
          if (!add.isNullable) throw new IllegalArgumentException(
            s"ADD COLUMN $name: new columns must be nullable — existing " +
              "files predate the column and will serve its default " +
              "(or NULL) for it")
          Option(add.defaultValue()) match {
            case Some(d) =>
              // DEFAULT: record CURRENT_DEFAULT (future inserts) and
              // constant-fold EXISTS_DEFAULT (what pre-column files
              // read as) — Spark's own metadata keys, so the analyzer
              // and readers agree. Restrict to the types every
              // evaluator in this engine compares soundly.
              val ok = add.dataType match {
                case LongType | IntegerType | DataTypes.DoubleType |
                     DataTypes.FloatType | DataTypes.BooleanType |
                     DataTypes.StringType | DataTypes.TimestampType |
                     DataTypes.DateType => true
                case _ => false
              }
              if (!ok) throw new IllegalArgumentException(
                s"ADD COLUMN $name: DEFAULT is supported for numeric/" +
                  s"string/boolean/timestamp/date columns, not ${add.dataType}")
              val sql = Option(d.getSql).getOrElse(
                throw new IllegalArgumentException(
                  s"ADD COLUMN $name: default has no SQL form"))
              val rdc = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              val md = new MetadataBuilder()
                .putString(rdc.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql)
                .putString(rdc.EXISTS_DEFAULT_COLUMN_METADATA_KEY, sql)
                .build()
              val folded = rdc.constantFoldCurrentDefaultsToExistDefaults(
                StructType(Seq(StructField(name, add.dataType,
                  nullable = true, md))), "ALTER TABLE ADD COLUMN")
              s.add(folded.fields.head)
            case None =>
              s.add(StructField(name, add.dataType, nullable = true))
          }
        case upd: TableChange.UpdateColumnDefaultValue =>
          val name = topLevel(upd.fieldNames, "ALTER COLUMN DEFAULT")
          val i = s.fieldIndex(name)
          val f = s.fields(i)
          val rdc = org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
          val newSql = Option(upd.newCurrentDefault()).map(_.getSql)
            .orElse(Option(upd.newDefaultValue())).filter(_ != null)
            .map(_.trim).filter(_.nonEmpty)
          val mb = new MetadataBuilder().withMetadata(f.metadata)
          val md = newSql match {
            // SET DEFAULT: only FUTURE writes change — EXISTS_DEFAULT
            // (what pre-column files read as) is immutable history
            case Some(sql) =>
              mb.putString(rdc.CURRENT_DEFAULT_COLUMN_METADATA_KEY, sql).build()
            case None => // DROP DEFAULT
              mb.remove(rdc.CURRENT_DEFAULT_COLUMN_METADATA_KEY).build()
          }
          StructType(s.fields.updated(i, f.copy(metadata = md)))
        case rn: TableChange.RenameColumn =>
          val old = topLevel(rn.fieldNames, "RENAME COLUMN")
          guardBucketCol(old, "RENAME COLUMN")
          val i = s.fieldIndex(old) // throws on a missing column
          if (s.fieldNames.contains(rn.newName)) throw new IllegalArgumentException(
            s"column ${rn.newName} already exists in ${ident.name}")
          val f = s.fields(i)
          val aliases = (old +: FileColumns.aliasesOf(f)).toArray
          val md = new MetadataBuilder().withMetadata(f.metadata)
            .putStringArray(AvroDirSource.AliasKey, aliases).build()
          StructType(s.fields.updated(i, f.copy(name = rn.newName, metadata = md)))
        case del: TableChange.DeleteColumn =>
          val name = topLevel(del.fieldNames, "DROP COLUMN")
          guardBucketCol(name, "DROP COLUMN")
          if (!s.fieldNames.contains(name)) throw new IllegalArgumentException(
            s"column $name does not exist in ${ident.name}")
          if (s.length == 1) throw new IllegalArgumentException(
            s"cannot drop the last column of ${ident.name}")
          StructType(s.fields.filterNot(_.name == name))
        case ut: TableChange.UpdateColumnType =>
          // TYPE WIDENING (round 19 — Iceberg v3 / Delta type widening):
          // `ALTER TABLE t ALTER COLUMN c TYPE <wider>` is one O(1)
          // metadata commit. Old files keep their narrow values; readers
          // upcast by name at scan time (avroToInternal), COW rewrites
          // modernize them, stats already parse into the widened compare
          // domain (JSON ints → Long, floats → Double, dec: tags →
          // BigDecimal at the value's true scale). Only strictly
          // value-preserving widenings are legal — anything else would
          // need a data rewrite and is refused loudly.
          val name = topLevel(ut.fieldNames, "ALTER COLUMN TYPE")
          val i = s.fieldIndex(name) // throws on a missing column
          val f = s.fields(i)
          val widens = (f.dataType, ut.newDataType) match {
            case (IntegerType, LongType) => true
            case (DataTypes.FloatType, DataTypes.DoubleType) => true
            case (a: DecimalType, b: DecimalType) =>
              b.scale == a.scale && b.precision >= a.precision
            case (a, b) if a == b => true // no-op spelling
            case _ => false
          }
          if (!widens) throw new IllegalArgumentException(
            s"ALTER COLUMN $name TYPE ${ut.newDataType.simpleString}: only " +
              s"widening conversions are supported (INT->BIGINT, " +
              s"FLOAT->DOUBLE, DECIMAL(p,s)->DECIMAL(p+k,s)); column is " +
              s"${f.dataType.simpleString}")
          // the partition transform binds the catalog's V2 function to
          // the column's type at write planning — keep that stable
          if (bucketCol.contains(name)) throw new IllegalArgumentException(
            s"ALTER COLUMN $name TYPE: the table is partitioned by $name — " +
              "widening the partition column is not supported")
          StructType(s.fields.updated(i, f.copy(dataType = ut.newDataType)))
        // Spark 4.1's native constraint DDL (`ALTER TABLE ... ADD
        // CONSTRAINT`): CHECK routes through the same compile +
        // history-validate + persist pipeline as the procedure;
        // PRIMARY KEY / UNIQUE / FOREIGN KEY are stored INFORMATIONAL
        // (must be NOT ENFORCED — the Delta/Snowflake stance). The
        // sidecar write is versioned by this ALTER's own commit below.
        case ac: TableChange.AddConstraint =>
          ac.constraint() match {
            case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
              val sql = Option(ck.predicateSql()).filter(_.nonEmpty)
                .getOrElse(throw new IllegalArgumentException(
                  s"CHECK constraint ${ck.name} has no SQL predicate form"))
              declareCheck(dir, ident, s, ck.name, sql,
                org.apache.spark.sql.SparkSession.active)
            case other =>
              require(!other.enforced(),
                s"constraint ${other.name}: ${other.getClass.getSimpleName} " +
                  "constraints are informational here — declare NOT ENFORCED")
              val info = CheckConstraints.loadInformational(dir.getPath)
              val checks = CheckConstraints.load(dir.getPath)
              require(!info.exists(_.name == other.name()) &&
                  !checks.exists(_.name == other.name()),
                s"constraint ${other.name} already exists on ${ident.name}")
              import org.apache.spark.sql.connector.catalog.constraints._
              val entry = other match {
                case pk: PrimaryKey => CheckConstraints.Informational(
                  pk.name(), "primary_key",
                  pk.columns().map(_.fieldNames.mkString(".")).toSeq)
                case uq: Unique => CheckConstraints.Informational(
                  uq.name(), "unique",
                  uq.columns().map(_.fieldNames.mkString(".")).toSeq)
                case fk: ForeignKey => CheckConstraints.Informational(
                  fk.name(), "foreign_key",
                  fk.columns().map(_.fieldNames.mkString(".")).toSeq,
                  (fk.referencedTable().namespace.toSeq :+
                    fk.referencedTable().name).mkString("."),
                  fk.referencedColumns().map(_.fieldNames.mkString(".")).toSeq)
                case u => throw new UnsupportedOperationException(
                  s"constraint kind ${u.getClass.getSimpleName}")
              }
              CheckConstraints.store(dir.getPath, checks, info :+ entry)
          }
          s
        case dc: TableChange.DropConstraint =>
          val checks = CheckConstraints.load(dir.getPath)
          val info = CheckConstraints.loadInformational(dir.getPath)
          val known = checks.exists(_.name == dc.name) ||
            info.exists(_.name == dc.name)
          if (!known && !dc.ifExists()) throw new IllegalArgumentException(
            s"no constraint ${dc.name} on ${ident.name}")
          if (known) CheckConstraints.store(dir.getPath,
            checks.filterNot(_.name == dc.name),
            info.filterNot(_.name == dc.name))
          s
        case other => throw new UnsupportedOperationException(
          s"table change ${other.getClass.getSimpleName} is not supported")
      }
    }
    // evolution is itself a table version: same files, new schema — so
    // VERSION AS OF a pre-ALTER version reads the pre-ALTER columns.
    // The `_schema.json` sidecar flips INSIDE the same commit lock as
    // the snapshot record (ADVICE r13): a concurrent write committing
    // between the two would otherwise publish a manifest carrying its
    // stale captured schema, making that version's time-travel read
    // inconsistent with the sidecar.
    Files.write(schemaFile(dir).toPath,
      evolved.json.getBytes(StandardCharsets.UTF_8))
    val prevSnap = AvroSnapshots.head(dir.getPath)
    val prevEntries = prevSnap.map(_.entries)
      .getOrElse(AvroDirSource.listFiles(dir.getPath)
        .map(f => AvroSnapshots.FileEntry(f.getName)))
    AvroSnapshots.commit(dir.getPath, evolved, prevEntries,
      AvroSnapshots.KindAlter,
      expectedParent = prevSnap.map(_.version))
    new AvroDirTable(dir.getPath, evolved, versioned = true,
      partSpec = loadPartSpec(dir), sortSpec = loadSortSpec(dir))
    } // withCommitLock
  }

  // ---- namespaces ----

  // `_`-prefixed directories are INTERNAL (`_views` sidecar store) —
  // never namespaces
  private def nsChild(d: File): Boolean =
    d.isDirectory && !isTable(d) && !d.getName.startsWith("_")

  override def listNamespaces(): Array[Array[String]] =
    Option(warehouse.listFiles).getOrElse(Array.empty)
      .filter(nsChild)
      .map(d => Array(d.getName)).sortBy(_.head)

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else if (nsDir(ns).isDirectory)
      // nested namespaces ARE supported (a namespace is any non-table
      // directory), so SHOW NAMESPACES IN <ns> must surface them
      Option(nsDir(ns).listFiles).getOrElse(Array.empty)
        .filter(nsChild)
        .map(d => ns :+ d.getName).sortBy(_.last)
    else throw new NoSuchNamespaceException(ns)

  override def namespaceExists(ns: Array[String]): Boolean =
    nsDir(ns).isDirectory && !isTable(nsDir(ns)) &&
      !ns.lastOption.exists(_.startsWith("_"))

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Map("location" -> nsDir(ns).getPath).asJava
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(ns)) throw new NamespaceAlreadyExistsException(ns)
    nsDir(ns).mkdirs(); ()
  }

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog namespaces carry no metadata")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val d = nsDir(ns)
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    // ANY child — a table or a nested namespace — blocks a non-CASCADE
    // drop; counting only direct tables would let DROP NAMESPACE
    // silently destroy ns.sub.table.
    val children = Option(d.listFiles).getOrElse(Array.empty)
    if (children.nonEmpty && !cascade) throw new NonEmptyNamespaceException(ns)
    deleteRec(d); true
  }

  // ---- views (V2 ViewCatalog — round-16 #5) ----
  //
  // A view is a SQL-TEXT sidecar `_views/<name>.json` in its namespace
  // directory: creation is O(bytes of SQL), resolution happens at LOAD
  // (the view always reflects current table state; a VERSION AS OF
  // inside the text stays pinned). Spark 4.1 ships this interface with
  // no analyzer wiring — graft.plans.ResolveGraftViews supplies the
  // read path (a 3-part relation naming a stored view expands into its
  // parsed SQL), and the `create_view`/`drop_view` procedures supply
  // the SQL DDL surface. Stored relation references should be fully
  // qualified (`cat.ns.t`) — the text is re-parsed in the READER's
  // session, exactly like Iceberg's SQL views.

  private def viewsDir(ns: Array[String]): File = new File(nsDir(ns), "_views")
  private def viewFile(ident: Identifier): File = {
    require(ident.name.nonEmpty && ident.name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-'), s"invalid view name '${ident.name}'")
    new File(viewsDir(ident.namespace), ident.name + ".json")
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    Option(viewsDir(ns).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json"))
      .map(f => Identifier.of(ns, f.getName.stripSuffix(".json")))
      .sortBy(_.name)
  }

  override def viewExists(ident: Identifier): Boolean = viewFile(ident).isFile

  override def loadView(ident: Identifier): View = {
    val f = viewFile(ident)
    if (!f.isFile) throw new NoSuchViewException(ident)
    import org.json4s._
    val j = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
    def strField(k: String): String = (j \ k) match {
      case JString(s) => s
      case _ => throw new IllegalStateException(s"view ${ident.name}: bad sidecar ($k)")
    }
    val ns = (j \ "currentNamespace") match {
      case JArray(xs) => xs.collect { case JString(s) => s }.toArray
      case _          => ident.namespace
    }
    val schema = DataType.fromJson(strField("schema")).asInstanceOf[StructType]
    GraftView(ident.toString, strField("sql"), strField("currentCatalog"),
      ns, schema)
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    if (!namespaceExists(ident.namespace))
      throw new NoSuchNamespaceException(ident.namespace)
    if (isTable(tableDir(ident))) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    viewsDir(ident.namespace).mkdirs()
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val body = JObject(
      "sql" -> JString(info.sql),
      "currentCatalog" -> JString(Option(info.currentCatalog).getOrElse(name())),
      "currentNamespace" -> JArray(
        Option(info.currentNamespace).getOrElse(ident.namespace)
          .toList.map(JString(_))),
      "schema" -> JString(Option(info.schema)
        .getOrElse(new StructType()).json))
    Files.write(viewFile(ident).toPath,
      JsonMethods.compact(JsonMethods.render(body))
        .getBytes(StandardCharsets.UTF_8))
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = viewFile(ident).delete()

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(to)
    if (!namespaceExists(to.namespace))
      throw new NoSuchNamespaceException(to.namespace)
    viewsDir(to.namespace).mkdirs()
    if (!viewFile(from).renameTo(viewFile(to)))
      throw new IllegalStateException(s"rename view $from -> $to failed")
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View =
    throw new UnsupportedOperationException(
      "graft views are immutable SQL text — drop and re-create")

  // ---- functions (V2 FunctionCatalog) ----
  //
  // The DSv2 seam lakehouse formats register their system functions
  // under (Iceberg exposes bucket/truncate/years/... here — the
  // documented companion to storage-partitioned joins, where both join
  // sides must agree on the bucket transform). This catalog exposes the
  // one function its tables' layout is defined by: `bucket(n, x)`.
  // Resolution is the standard two-step — loadFunction returns the
  // UnboundFunction, Catalyst binds it to the argument schema — and the
  // bound ScalarFunction carries the `invoke` magic method, so calls
  // compile into whole-stage codegen as a direct method call, not a
  // reflective produceResult per row.

  override def listFunctions(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || namespaceExists(ns))
      Array(Identifier.of(ns, "bucket"), Identifier.of(ns, "truncate"),
        Identifier.of(ns, "zvalue"))
    else throw new NoSuchNamespaceException(ns)

  override def loadFunction(ident: Identifier): UnboundFunction = {
    // a function under an unknown namespace must raise, exactly like
    // listFunctions does (ADVICE r13: `cat.no_such_ns.bucket(...)` used
    // to resolve and execute)
    if (ident.namespace.nonEmpty && !namespaceExists(ident.namespace))
      throw new NoSuchFunctionException(ident)
    if (ident.name.equalsIgnoreCase("bucket")) GraftBucketFunction
    else if (ident.name.equalsIgnoreCase("truncate")) GraftTruncateFunction
    else if (ident.name.equalsIgnoreCase("zvalue")) GraftZValueFunction
    else throw new NoSuchFunctionException(ident)
  }

  override def functionExists(ident: Identifier): Boolean =
    (ident.namespace.isEmpty || namespaceExists(ident.namespace)) &&
      (ident.name.equalsIgnoreCase("bucket") ||
        ident.name.equalsIgnoreCase("truncate") ||
        ident.name.equalsIgnoreCase("zvalue"))

  // ---- procedures (V2 ProcedureCatalog — SQL `CALL`) ----
  //
  // The maintenance surface as SQL: every versioned-table op
  // (tag / rollback / compact / set_sort_order / expire_snapshots)
  // is CALL-able under the `system` namespace, Iceberg-style —
  // see [[GraftProcedures]].

  private val ProcNamespace = Array("system")

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty || ns.sameElements(ProcNamespace))
      GraftProcedures.names.map(n => Identifier.of(ProcNamespace, n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(ProcNamespace))
      throw new RuntimeException(
        s"procedures live under $catalogName.system, got ${ident.namespace.mkString(".")}")
    GraftProcedures.load(this, ident.name).getOrElse(throw new RuntimeException(
      s"unknown procedure ${ident.name} (have ${GraftProcedures.names.mkString(", ")})"))
  }
}

/** `bucket(n, x)` = nonnegative `x mod n` — the exact arithmetic
  * [[BucketedLedgerSource]] lays its tables out with, now callable from
  * SQL through the catalog. Deterministic and engine-agnostic, so the
  * DuckDB oracle spells the same modular arithmetic. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n INT, x BIGINT) -> INT: nonnegative x mod n (storage bucket id)"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException("bucket expects (n INT, x BIGINT)")
    new GraftBucketScalar
  }
}

/** The bound form of [[GraftBucketFunction]]. A named PUBLIC class on
  * purpose: the `invoke` magic method is resolved reflectively
  * (commons-lang MethodUtils), which refuses methods declared on
  * anonymous classes — the classic V2-function pitfall. */
class GraftBucketScalar extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def isResultNullable: Boolean = false
  // magic method — resolved by name/signature, compiled into codegen
  def invoke(n: Int, x: Long): Int = {
    val m = (x % n).toInt
    if (m < 0) m + n else m
  }
  // interpreted fallback (the contract requires it even when the
  // magic method exists)
  override def produceResult(input: InternalRow): Integer =
    invoke(input.getInt(0), input.getLong(1))
}

/** `truncate(w, x)` = `w * floor(x / w)` — Iceberg's width-truncate
  * transform, the range/time partitioning companion to `bucket`
  * (`truncate(7, day)` = the week a day falls in). The same arithmetic
  * [[PartSpec.partValue]] clusters writes with, so SQL, write placement
  * and the manifest can never disagree. Binds against INT or BIGINT
  * value columns. */
object GraftTruncateFunction extends UnboundFunction {
  override def name(): String = "truncate"
  override def description(): String =
    "truncate(w INT, x INT|BIGINT) -> same type as x: w * floor(x / w) " +
      "(range partition id)"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(
        "truncate expects (w INT, x INT|BIGINT)")
    inputType.fields(1).dataType match {
      case LongType    => new GraftTruncateLongScalar
      case IntegerType => new GraftTruncateIntScalar
      case other => throw new UnsupportedOperationException(
        s"truncate: unsupported value type $other")
    }
  }
}

/** Bound truncate over a BIGINT value column (named public class — see
  * [[GraftBucketScalar]] for why). Returns BIGINT: truncate of an
  * epoch-scale key exceeds Int range — the result keeps the source
  * type, like Iceberg's truncate. */
class GraftTruncateLongScalar extends ScalarFunction[java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, LongType)
  override def resultType(): DataType = LongType
  override def name(): String = "truncate"
  override def canonicalName(): String = "graft.truncate"
  override def isResultNullable: Boolean = false
  def invoke(w: Int, x: Long): Long = Math.floorDiv(x, w) * w
  override def produceResult(input: InternalRow): java.lang.Long =
    invoke(input.getInt(0), input.getLong(1))
}

/** Bound truncate over an INT value column. */
class GraftTruncateIntScalar extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, IntegerType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "truncate"
  override def canonicalName(): String = "graft.truncate"
  override def isResultNullable: Boolean = false
  def invoke(w: Int, x: Int): Int = Math.floorDiv(x, w) * w
  override def produceResult(input: InternalRow): Integer =
    invoke(input.getInt(0), input.getInt(1))
}

/** `zvalue(a, b)` — the Z-ORDER (Morton) curve key: both values are
  * sign-flipped to unsigned order and their 64 bits are INTERLEAVED
  * into a 16-byte BINARY, which Spark sorts lexicographically (unsigned
  * bytes — exactly the interleaved-bits order). Used as the write-path
  * range/sort key for multi-column clustering: files sorted by zvalue
  * get tight min/max stats on BOTH inputs, so the data-skipping scan
  * prunes selective predicates on EITHER column. Exposed through the
  * catalog so RequiresDistributionAndOrdering can resolve it.
  *
  * Dimension-entropy caveat (measured, not theoretical): the stateless
  * Morton key interleaves RAW bit patterns, so the two dimensions
  * should carry comparable entropy in their high bits — two same-range
  * integers or two comparable-range doubles cluster both dims; mixing
  * a narrow-range integer with a double lets the double's exponent
  * bits dominate and the integer dim stops clustering. The production
  * upgrade is Delta's range-normalized partition ids (a stateful
  * write-time sampling pass) — out of scope for a scalar function. */
object GraftZValueFunction extends UnboundFunction {
  override def name(): String = "zvalue"
  override def description(): String =
    "zvalue(c1, ..., cN: INT|BIGINT|DOUBLE, 2<=N<=4) -> BINARY(8N): " +
      "interleaved-bits Z-order key (unsigned-comparable, " +
      "lexicographic byte order)"
  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length < 2 || inputType.length > 4)
      throw new UnsupportedOperationException(
        "zvalue expects 2 to 4 arguments")
    val ok = inputType.fields.forall(f =>
      f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == DataTypes.DoubleType)
    if (!ok) throw new UnsupportedOperationException(
      s"zvalue: unsupported argument types ${inputType.simpleString}")
    new GraftZValueScalar(inputType.fields.map(_.dataType))
  }
}

object ZValue {
  /** Order-preserving DOUBLE → unsigned-comparable long: positive
    * doubles flip the sign bit, negatives flip ALL bits — IEEE-754's
    * total order becomes plain unsigned integer order (NaN sorts above
    * +Inf, matching the engine's NaN-greatest rule; -0.0 normalizes to
    * 0.0 first so the two zeros coincide, like the stats layer). */
  def doubleKey(d: Double): Long = {
    val n = if (d == 0.0) 0.0 else d
    val bits = java.lang.Double.doubleToLongBits(n)
    if (bits < 0) ~bits else bits ^ Long.MinValue
  }

  /** Interleave the sign-flipped bits of two longs, a's bit leading. */
  def interleave(a: Long, b: Long): Array[Byte] = interleaveN(Array(a, b))

  /** N-ary Morton interleave (2 ≤ N ≤ 4): round-robin one bit per
    * dimension per level, first argument's bit leading — 8N bytes,
    * unsigned-byte lexicographic order. */
  def interleaveN(keys: Array[Long]): Array[Byte] = {
    val n = keys.length
    val out = new Array[Byte](8 * n)
    var i = 0
    while (i < 64) {
      var d = 0
      while (d < n) {
        val bit = (((keys(d) ^ Long.MinValue) >>> (63 - i)) & 1L).toInt
        val pos = n * i + d
        out(pos >> 3) = (out(pos >> 3) | (bit << (7 - (pos & 7)))).toByte
        d += 1
      }
      i += 1
    }
    out
  }
}

/** One stored SQL-text view (the V2 View contract). Column metadata
  * lists are empty by design: the text re-parses in the reader's
  * session and the analyzer derives the output — `schema` is the
  * shape recorded at creation time, informational like Iceberg's. */
case class GraftView(viewName: String, viewSql: String, cat: String,
    ns: Array[String], viewSchema: StructType) extends View {
  override def name(): String = viewName
  override def query(): String = viewSql
  override def currentCatalog(): String = cat
  override def currentNamespace(): Array[String] = ns
  override def schema(): StructType = viewSchema
  override def queryColumnNames(): Array[String] = Array.empty
  override def columnAliases(): Array[String] = Array.empty
  override def columnComments(): Array[String] = Array.empty
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()
}

/** Bound zvalue (named public class — see [[GraftBucketScalar]] for
  * why). INT inputs widen to their BIGINT value, so `zvalue(i, j)` and
  * `zvalue(CAST(i AS BIGINT), j)` agree. The magic `invoke` covers the
  * (BIGINT, BIGINT) shape; mixed shapes run through produceResult —
  * this is a write-path range key, not a per-row hot loop. */
class GraftZValueScalar(types: Array[DataType])
    extends ScalarFunction[Array[Byte]] {
  override def inputTypes(): Array[DataType] = types
  override def resultType(): DataType = DataTypes.BinaryType
  override def name(): String = "zvalue"
  override def canonicalName(): String = "graft.zvalue"
  override def isResultNullable: Boolean = false
  def invoke(a: Long, b: Long): Array[Byte] = ZValue.interleave(a, b)
  override def produceResult(input: InternalRow): Array[Byte] = {
    def arg(i: Int): Long = types(i) match {
      case LongType             => input.getLong(i)
      case DataTypes.DoubleType =>
        // already unsigned-comparable — undo interleave's sign flip
        ZValue.doubleKey(input.getDouble(i)) ^ Long.MinValue
      case _                    => input.getInt(i).toLong
    }
    ZValue.interleaveN(Array.tabulate(types.length)(arg))
  }
}
