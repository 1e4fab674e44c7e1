package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** DELTA-based (merge-on-read) row-level operation — the
  * [[SupportsDelta]] → WriteDelta path SQL UPDATE / MERGE INTO plan
  * through on merge-on-read tables (Iceberg's SparkPositionDeltaWrite
  * economics):
  *
  *   - the row identity is `(_file, _pos)` — the container file plus
  *     the row's PHYSICAL record position, the same coordinates
  *     deletion vectors speak;
  *   - `representUpdateAsDeleteAndInsert`: an UPDATE of one row becomes
  *     a position DELETE plus an INSERT of the new values — only
  *     MATCHED rows produce any work at all (the scan's filter decides),
  *     so a one-key UPDATE in a 1-GB file costs a few sidecar bytes and
  *     one tiny insert file instead of a 1-GB group rewrite;
  *   - commit merges each task's deleted positions per file, unions
  *     them into fresh immutable `_dv` sidecars, drops entries whose
  *     vector now covers every recorded row, appends the insert files,
  *     and publishes one snapshot — atomically visible, time travel
  *     exact, and the change feed streams it PRECISELY (dv deltas are
  *     row-level deletes; insert files are inserts).
  *
  * Concurrency is snapshot isolation: a concurrent commit that REMOVED
  * or REWROTE a touched file aborts this commit (positions would be
  * meaningless in the replacement), while concurrent dv GROWTH on the
  * same file merges by union — positions are immutable physical
  * coordinates, so independent row deletes compose.
  */
class GraftDeltaOperation(path: String, tableSchema: StructType,
    cmd: RowLevelOperation.Command, branch: Option[String])
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDeltaOperation($cmd, $path)"
  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(AvroDirSource.FileColumn),
    Expressions.column(AvroDirSource.PosColumn))
  override def representUpdateAsDeleteAndInsert(): Boolean = true
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  private def currentEntries(): Seq[AvroSnapshots.FileEntry] =
    AvroSnapshots.head(path, branch).map(_.entries).getOrElse(Nil)

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch with SupportsPushDownRequiredColumns
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      // The UPDATE/MERGE condition pushes into THIS scan like any
      // other (V2ScanRelationPushDown), and manifest stats prune the
      // candidate files (the scan's pruning test: stats with the
      // identity hull, and bloom) — a one-key MOR UPDATE reads
      // O(matching files), not the table. Every filter stays residual
      // (pruning removes work, never rows).
      private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
      override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
          : Array[org.apache.spark.sql.sources.Filter] = {
        pushed = filters.filter(AvroFilterEval.supported)
        filters
      }
      override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
        pushed
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] = {
        val pruning = new FileColumns.Pruning(path, tableSchema)
        val entries = currentEntries().filter(pruning.mightHold(_, pushed.toSeq))
        // rows are read THROUGH existing vectors and equality deletes
        // (already-deleted rows must not match again), but _pos stays
        // the physical index — new deletes land in the same
        // coordinate system
        entries.map(e => AvroFileSplit(
          AvroSnapshots.resolveFile(path, e.name).getAbsolutePath,
          e.dv.map(d => AvroSnapshots.resolveFile(path, d).getAbsolutePath),
          e.eq.map(n => AvroSnapshots.resolveFile(path, n).getAbsolutePath),
          e.firstRowId,
          e.addedVersion, // _luv resolves in MOR DML too
          entryName = e.name): InputPartition)
          .toArray
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new AvroReaderFactory(required)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    // A merge-on-read UPDATE/MERGE is physically delete + insert: the
    // inserted row is a NEW row, so a derived IDENTITY value would
    // silently change. Refuse loudly (DELETE is fine — no new rows);
    // copy-on-write tables preserve identity through updates (the
    // rewrite carries `_row_id` physically).
    if (cmd != RowLevelOperation.Command.DELETE &&
        tableSchema.fields.exists(GeneratedColumns.isIdentity))
      throw new UnsupportedOperationException(
        s"$cmd on a merge-on-read table with an IDENTITY column: the " +
          "delta path re-inserts rows and cannot preserve derived " +
          "identity values — use copy-on-write delete mode")
    new DeltaWriteBuilder {
      // insert rows are DATA columns only
      private val writeSchema = StructType(info.schema().fields.filterNot(f =>
        f.name == AvroDirSource.FileColumn || f.name == AvroDirSource.PosColumn))
      override def build(): DeltaWrite = new DeltaWrite {
        private val job = WriteJob(path)
        override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
          override def createBatchWriterFactory(
              p: PhysicalWriteInfo): DeltaWriterFactory = {
            new File(path).mkdirs()
            new GraftDeltaWriterFactory(path, writeSchema, job.id,
              GeneratedColumns.boundExprs(writeSchema,
                org.apache.spark.sql.SparkSession.active))
          }

          override def commit(messages: Array[WriterCommitMessage]): Unit =
            job.publish(messages) { inserts =>
              val deletesByFile: Map[String, Seq[Long]] = messages.toSeq
                .flatMap(_.asInstanceOf[AvroCommit].deletes.toSeq)
                .groupMapReduce(_._1)(_._2)(_ ++ _)
              AvroSnapshots.withCommitLock(path) {
                val basis = AvroSnapshots.head(path, branch)
                val entries = basis.map(_.entries).getOrElse(Nil)
                val byName = entries.map(e => e.name -> e).toMap
                // snapshot isolation: a touched file rewritten/removed by
                // a concurrent commit aborts (its positions are dead
                // coordinates); concurrent dv GROWTH merges by union
                val gone = deletesByFile.keys.filterNot(byName.contains)
                if (gone.nonEmpty)
                  throw new java.util.ConcurrentModificationException(
                    s"$cmd on $path conflicts with a concurrent commit: " +
                      s"file(s) ${gone.mkString(", ")} left the current " +
                      "version — retry against the new table state")
                val next: Seq[AvroSnapshots.FileEntry] = entries.flatMap { e =>
                  deletesByFile.get(e.name) match {
                    case None => Some(e)
                    case Some(newPos) =>
                      val existing = e.dv
                        .map(DeletionVectors.read(path, _)).getOrElse(Nil)
                      val union = (existing ++ newPos).distinct
                      val rows = e.stats.flatMap(AvroStats.rowCount)
                      if (rows.contains(union.size.toLong)) None // fully dead
                      else Some(e.copy(dv = Some(job.deletionVector(union))))
                  }
                }
                // UPDATE's delta commit is tagged `update`: its dv deltas
                // and insert files are the same logical rows' pre/post
                // images, and the change feed pairs them as such
                val kind =
                  if (cmd == RowLevelOperation.Command.UPDATE)
                    AvroSnapshots.KindUpdate
                  else AvroSnapshots.KindReplace
                AvroSnapshots.commit(path, tableSchema,
                  (next ++ inserts).sortBy(_.name),
                  kind, branch,
                  expectedParent = basis.map(_.version))
              }
              ()
            }

          override def abort(messages: Array[WriterCommitMessage]): Unit =
            job.abort()
        }
      }
    }
  }
}

class GraftDeltaWriterFactory(path: String, dataSchema: StructType,
    jobId: String,
    gen: Seq[(Int, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val deletes =
        scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
      private var insertWriter: AvroFileWriter = _

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        // id = the rowId projection: (_file STRING, _pos BIGINT)
        val file = id.getUTF8String(0).toString
        deletes.getOrElseUpdate(file,
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(1)
      }
      override def insert(row: InternalRow): Unit = {
        if (insertWriter == null)
          insertWriter = new AvroFileWriter(
            WriteJob.dataFile(path, jobId, "d", partitionId, taskId),
            dataSchema, gen)
        insertWriter.write(row)
      }
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        throw new IllegalStateException(
          "updates are represented as delete+insert")

      // one task's delta: at most one insert file, plus the deleted
      // physical positions per file
      override def commit(): AvroCommit =
        AvroCommit(Option(insertWriter).toSeq.flatMap(_.commit().files),
          deletes.view.mapValues(_.toSeq).toMap)
      override def abort(): Unit = if (insertWriter != null) insertWriter.abort()
      override def close(): Unit = ()
    }
}
