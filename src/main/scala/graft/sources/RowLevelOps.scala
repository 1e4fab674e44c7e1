package graft.sources

import java.io.File

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.StructType

/** Group-based (copy-on-write) row-level operation over an
  * [[AvroDirTable]] — what SQL `UPDATE` and `MERGE INTO` execute as.
  *
  * Spark's rewrite rules (RewriteUpdateTable / RewriteMergeIntoTable)
  * turn the DML into a ReplaceData plan around this object:
  *
  *   1. `requiredMetadataAttributes` asks for `_file`, so every scanned
  *      row carries its container-file name (the GROUP id).
  *   2. The optimizer's runtime group filtering builds a subquery —
  *      SELECT DISTINCT _file FROM t WHERE <condition> — against the
  *      table's NORMAL batch scan, and pushes the result into THIS
  *      operation's scan via `SupportsRuntimeFiltering` as
  *      `In(_file, matched names)`: only files that can contain a
  *      matching row are read (and therefore rewritten). An UPDATE of
  *      one key touches one group, not one table.
  *   3. The scan records exactly which files it planned (the operation
  *      instance is shared between the scan and the write — the same
  *      pattern Iceberg's SparkCopyOnWriteOperation uses), Spark
  *      computes the full replacement row set for those groups, and
  *      `commit` atomically swaps scanned groups for the newly written
  *      files in the next manifest ([[AvroSnapshots]]). A concurrent
  *      reader sees the old version until the manifest lands; a
  *      time-travel read of any prior version is untouched.
  *
  * Non-versioned (plain-path) tables get the same semantics with a
  * physical swap: scanned files are unlinked at commit.
  */
class GraftRowLevelOperation(path: String, tableSchema: StructType,
    versioned: Boolean, cmd: RowLevelOperation.Command,
    branch: Option[String] = None)
    extends RowLevelOperation {

  /** Files the operation's scan planned — set on the driver when the
    * ReplaceData job plans input partitions (after runtime group
    * filtering), read by commit(). */
  @volatile private var scannedFiles: Option[Seq[String]] = None

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftRowLevelOperation($cmd, $path)"

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column(AvroDirSource.FileColumn),
      // row lineage (round 17): every scanned row carries its stable
      // id through the ReplaceData plan — carryover and updated rows
      // keep it (written back as a PHYSICAL column of the rewrite
      // files), MERGE-inserted rows arrive null and derive fresh ids
      // from the new file's own manifest range
      Expressions.column(AvroDirSource.RowIdColumn))

  private def currentEntries(): Seq[AvroSnapshots.FileEntry] =
    if (versioned)
      AvroSnapshots.head(path, branch).map(_.entries)
        .getOrElse(AvroDirSource.listFiles(path)
          .map(f => AvroSnapshots.FileEntry(f.getName)))
    else AvroDirSource.listFiles(path)
      .map(f => AvroSnapshots.FileEntry(f.getName))
  private def currentView(): Seq[String] = currentEntries().map(_.name)

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch
        with SupportsPushDownRequiredColumns with SupportsRuntimeFiltering {
      private var required: StructType = tableSchema
      private var candidates: Seq[AvroSnapshots.FileEntry] = currentEntries()

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toBatch: Batch = this

      // runtime GROUP filtering: the planner's subquery hands us the
      // matching file names; everything else is neither read nor
      // rewritten
      override def filterAttributes(): Array[NamedReference] =
        Array(Expressions.column(AvroDirSource.FileColumn))
      override def filter(filters: Array[Filter]): Unit =
        filters.foreach {
          case In(attr, values) if attr == AvroDirSource.FileColumn ||
              attr.equalsIgnoreCase(AvroDirSource.FileColumn) =>
            val keep = values.map(String.valueOf(_)).toSet
            candidates = candidates.filter(e => keep(e.name))
          case _ => // unknown runtime filter: keep the sound superset
        }

      override def planInputPartitions(): Array[InputPartition] = {
        scannedFiles = Some(candidates.map(_.name))
        // scanned groups read THROUGH their deletion vectors and
        // equality deletes: the replacement row set must not resurrect
        // rows a prior merge-on-read DELETE removed (the rewrite
        // materializes both away — the replaced entry leaves with them)
        candidates.map(e =>
          AvroFileSplit(
            AvroSnapshots.resolveFile(path, e.name).getAbsolutePath,
            e.dv.map(d => AvroSnapshots.resolveFile(path, d).getAbsolutePath),
            e.eq.map(n => AvroSnapshots.resolveFile(path, n).getAbsolutePath),
            e.firstRowId,
            // _last_updated_version must resolve inside DML scans too:
            // a DELETE/UPDATE predicated on it would otherwise read
            // null for every inheritance-stamped row and match nothing
            e.addedVersion, entryName = e.name): InputPartition)
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new AvroReaderFactory(required)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // ReplaceData hands the writer DATA columns via write(row) — the
    // metadata attrs this operation required arrive through the
    // TWO-ARG write(metadata, row) seam (ReplaceDataProjections'
    // metadataProjection). The stable `_row_id` (metadata position 1,
    // after `_file`) is MATERIALIZED as a physical trailing column of
    // every rewrite file (Iceberg v3 row lineage through COW):
    // carryover and updated rows keep their id, MERGE-inserted rows
    // arrive null and later derive fresh ids from the new file's own
    // manifest range.
    val dataSchema = StructType(info.schema().fields.filterNot(f =>
      f.name == AvroDirSource.FileColumn ||
        f.name == AvroDirSource.RowIdColumn))
    val writeSchema = StructType(dataSchema.fields :+
      org.apache.spark.sql.types.StructField(AvroDirSource.RowIdColumn,
        org.apache.spark.sql.types.LongType, nullable = true))
    // Resolve the `_row_id` ordinal in the plan's metadata projection
    // BY NAME at build time — never assume a positional [_file,
    // _row_id] layout (ADVICE r17). Some(ord): resolved from the
    // declared metadataSchema (a non-LONG `_row_id` fails loudly here
    // — writing it as a long would corrupt lineage silently).
    // None + metadataSchema PRESENT: the projection genuinely omits
    // `_row_id` → null ids (fresh derivation, the sound fallback).
    // None + metadataSchema ABSENT: unknown layout → the writer
    // validates the declared 2-field shape on first use, loudly.
    val metaIdOrdinal: Option[Option[Int]] = {
      // the interface DEFAULT throws (not Optional.empty) when the
      // caller never populated a metadata schema
      val ms = try info.metadataSchema()
        catch { case _: UnsupportedOperationException =>
          java.util.Optional.empty[StructType]() }
      if (ms.isPresent) {
        val ord = ms.get.fields.indexWhere(
          _.name.equalsIgnoreCase(AvroDirSource.RowIdColumn))
        if (ord >= 0 &&
            ms.get.fields(ord).dataType != org.apache.spark.sql.types.LongType)
          throw new IllegalStateException(
            s"metadata projection types ${AvroDirSource.RowIdColumn} as " +
              s"${ms.get.fields(ord).dataType.simpleString}, expected bigint")
        Some(if (ord >= 0) Some(ord) else None)
      } else None
    }
    new WriteBuilder {
      override def build(): Write = new Write {
        private val job = WriteJob(path)
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              p: PhysicalWriteInfo): DataWriterFactory =
            new LineageMergingWriterFactory(
              // UPDATE/MERGE recompute GENERATED columns: a SET on a
              // source column must re-derive its dependents
              job.factory(writeSchema, None, GeneratedColumns.boundExprs(
                writeSchema, org.apache.spark.sql.SparkSession.active)),
              metaIdOrdinal)
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            job.publish(messages) { written =>
              val replaced = scannedFiles.getOrElse(throw new IllegalStateException(
                "row-level write committed before its scan planned — " +
                  "cannot determine which groups to replace"))
              if (versioned) {
                AvroSnapshots.withCommitLock(path) {
                  val basis = AvroSnapshots.head(path, branch)
                  val view = basis.map(_.files).getOrElse(currentView())
                  // Copy-on-write conflict validation (the check Iceberg's
                  // commit does, ADVICE r13): the replacement row set was
                  // computed FROM the scanned groups — if any of them has
                  // left the view since (a concurrent UPDATE/DELETE/
                  // overwrite rewrote it), publishing our rewrite would
                  // resurrect its rows NEXT TO the winner's rewrite of the
                  // same rows. Fail loudly; the caller retries against the
                  // new table state; the refused commit deletes our
                  // already-written files (no manifest will reference them).
                  val gone = replaced.filterNot(view.contains)
                  if (gone.nonEmpty)
                    throw new java.util.ConcurrentModificationException(
                      s"$cmd on $path conflicts with a concurrent commit: " +
                        s"scanned group(s) ${gone.mkString(", ")} no longer " +
                        "in the current version — retry the operation")
                  // retained files keep their full entries (placement,
                  // stats, deletion vectors); the rewrite files are
                  // unclustered (a bucketed table's scan soundly
                  // downgrades to ungrouped until a clustered rewrite)
                  val retained = basis.map(_.entries).getOrElse(currentEntries())
                    .filterNot(e => replaced.contains(e.name))
                  val next = (retained ++ written).sortBy(_.name)
                  AvroSnapshots.commit(path, tableSchema, next,
                    AvroSnapshots.KindReplace, branch,
                    expectedParent = basis.map(_.version))
                }
                ()
              } else {
                replaced.foreach(n => new File(path, n).delete())
              }
            }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            job.abort()
        }
      }
    }
  }
}

/** Appends the row-lineage id to each replacement row before handing
  * it to the wrapped per-file writer, whose schema carries `_row_id`
  * as a physical trailing LONG column. The id arrives on the
  * METADATA row of the two-arg `write(metadata, row)` call
  * (ReplaceData's metadataProjection); its ordinal is resolved BY
  * NAME from the plan's declared metadataSchema when Spark provided
  * one (`metaIdOrdinal = Some(Some(ord))`), never assumed positional.
  * `Some(None)` — the projection omits `_row_id` → null ids (fresh
  * derivation, sound). `None` — no declared schema → the writer
  * insists on the operation's own 2-field declaration and FAILS
  * LOUDLY on any other shape rather than writing garbage lineage. A
  * one-arg `write(row)` (no metadata projection in the plan) writes a
  * null id — the row derives a fresh id from its file's manifest
  * range, the sound fallback. */
private[sources] class LineageMergingWriterFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    metaIdOrdinal: Option[Option[Int]] = None)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
      private val idRow = new GenericInternalRow(1)
      private val joined = new JoinedRow
      override def write(meta: InternalRow, row: InternalRow): Unit = {
        val ord: Int = metaIdOrdinal match {
          case Some(Some(o)) => o   // resolved by name from the plan
          case Some(None)    => -1  // projection omits _row_id
          case None =>
            // no declared schema: accept ONLY the operation's own
            // declaration order [_file(0), _row_id(1)] — anything else
            // would silently corrupt lineage, so fail loudly instead
            if (meta != null && meta.numFields != 2)
              throw new IllegalStateException(
                s"row-level metadata projection has ${meta.numFields} " +
                  "fields; expected the declared [_file, _row_id]")
            1
        }
        if (meta == null || ord < 0 || ord >= meta.numFields ||
            meta.isNullAt(ord))
          idRow.update(0, null)
        else idRow.update(0, meta.getLong(ord))
        w.write(joined(row, idRow))
      }
      override def write(row: InternalRow): Unit = {
        idRow.update(0, null)
        w.write(joined(row, idRow))
      }
      override def commit(): WriterCommitMessage = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}
