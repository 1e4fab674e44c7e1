package graft.sources

import java.io.File

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.types.{IntegerType, StructType}

import AvroSnapshots.FileEntry

/** The write protocol of an Avro table: how one write job names,
  * reports, reconciles and cleans up the data files it writes. Every
  * write path goes through a [[WriteJob]] — batch and streaming writes,
  * copy-on-write and merge-on-read row-level DML, staged CTAS/RTAS, the
  * COW DELETE rewrite, and the driver-run CDC and compaction jobs.
  *
  * File names. A batch job draws a 12-hex id, and every file it writes
  * carries it, so "this job's files" is decidable from a listing alone:
  *   - `part-<job>-<pid>-<tid>.avro`: a plain write, one file per task;
  *   - `part-<job>-b<value>-<pid>-<tid>.avro`: a clustered write, one
  *     file per partition value a task holds;
  *   - `part-<job>-d<pid>-<tid>.avro`: the insert half of a delta
  *     (merge-on-read) write;
  *   - `part-<job>-rw-<orig>`: a copy-on-write rewrite of `<orig>`.
  * Task ids are only unique per SparkContext, so without the job id an
  * append from a fresh JVM could overwrite an earlier JVM's file. A
  * streaming epoch is a job named by its epoch: `part-e<epoch>-<pid>.avro`,
  * with no task id, so a replayed epoch overwrites its own files.
  *
  * Messages. Every writer reports one [[AvroCommit]]: the manifest
  * entries of the files it wrote (name, placement, spec id, stats) and,
  * for a delta write, the row positions it deleted.
  *
  * Reconcile. Before a job publishes, it deletes its own files that no
  * message names: the partials of task attempts that died without
  * running abort(), which would otherwise add duplicate rows or a
  * truncated container. An unversioned truncate deletes every file no
  * message names, which also clears uncommitted streaming partials.
  *
  * Sidecars. The deletion vectors and equality deletes a job writes on
  * the driver for its commit ([[deletionVector]], [[equalityDelete]])
  * belong to the job too.
  *
  * Abort. Deletes every file of the job, sidecars included.
  *
  * Refused commit. A publish that throws for any reason (a conflict
  * refusal, a failed guard, an I/O error) aborts the job before the
  * exception propagates: no manifest references its files, so keeping
  * them would only leave orphans. */
private[sources] final class WriteJob private (path: String, val id: String,
    owns: String => Boolean) {

  /** The writer factory for this job under the table's partition
    * `spec`: plain, or clustered (one file per partition value) when
    * the table is partitioned. `gen` are the bound GENERATED-column
    * expressions the writers recompute per row. */
  def factory(schema: StructType, spec: Option[PartSpec],
      gen: Seq[(Int, Expression)]): DataWriterFactory = {
    new File(path).mkdirs()
    spec match {
      case Some(sp) => new AvroClusteredWriterFactory(path, schema, id, sp, gen)
      case None => new AvroWriterFactory(path, schema, id, gen)
    }
  }

  private val sidecars = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def own(sidecar: String): String = { sidecars.add(sidecar); sidecar }

  /** Writes a deletion vector of `positions` owned by this job. */
  def deletionVector(positions: Seq[Long]): String =
    own(DeletionVectors.write(path, positions))

  /** Writes an equality-delete sidecar owned by this job. */
  def equalityDelete(columns: Seq[String], kinds: Seq[String],
      keys: Seq[Seq[String]]): String =
    own(EqualityDeletes.writeMulti(path, columns, kinds, keys))

  /** Deletes every file of this job. */
  def abort(): Unit = {
    AvroDirSource.listAllAvro(path).filter(f => owns(f.getName))
      .foreach(_.delete())
    sidecars.forEach { n => new File(path, n).delete(); () }
  }

  /** Runs `commit`; if it throws, aborts the job first. */
  def guarded[A](commit: => A): A =
    try commit
    catch {
      case e: scala.util.control.ControlThrowable => throw e
      case e: Throwable => abort(); throw e
    }

  /** Publishes the job: reconciles the directory against the entries
    * `messages` report (`truncate`: every file they do not name goes,
    * not only this job's), then runs `commit` on those entries,
    * guarded. */
  def publish[A](messages: Array[WriterCommitMessage],
      truncate: Boolean = false)(commit: Seq[FileEntry] => A): A = {
    val mine = WriteJob.entries(messages)
    val named = mine.iterator.map(_.name).toSet
    AvroDirSource.listAllAvro(path).foreach { f =>
      if (!named(f.getName) && (truncate || owns(f.getName))) f.delete()
    }
    guarded(commit(mine))
  }
}

private[sources] object WriteJob {
  /** A new batch job writing into `path`. */
  def apply(path: String): WriteJob = {
    val id = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    new WriteJob(path, id, _.contains(id))
  }

  private def epochPrefix(epochId: Long): String = f"part-e$epochId%05d-"

  /** Streaming epoch `epochId` of the table at `path`, as a job. */
  def epoch(path: String, epochId: Long): WriteJob =
    new WriteJob(path, f"e$epochId%05d", _.startsWith(epochPrefix(epochId)))

  /** The entries every message of a job reports, sorted by name. */
  def entries(messages: Array[WriterCommitMessage]): Seq[FileEntry] =
    messages.toSeq.flatMap(_.asInstanceOf[AvroCommit].files).sortBy(_.name)

  /** A batch job's data file: `part-<job>-<tag><pid>-<tid>.avro`. */
  def dataFile(path: String, jobId: String, tag: String, partitionId: Int,
      taskId: Long): File =
    new File(path, f"part-$jobId-$tag$partitionId%05d-$taskId.avro")

  /** A streaming epoch's data file: `part-e<epoch>-<pid>.avro`. */
  def epochFile(path: String, epochId: Long, partitionId: Int): File =
    new File(path, f"${epochPrefix(epochId)}$partitionId%05d.avro")
}

/** What one write task reports: the manifest entries of the data files
  * it wrote and, for a delta write, the physical row positions it
  * deleted per file. */
case class AvroCommit(files: Seq[FileEntry],
    deletes: Map[String, Seq[Long]] = Map.empty)
    extends WriterCommitMessage

class AvroWriterFactory(path: String, schema: StructType, jobId: String,
    gen: Seq[(Int, Expression)] = Nil)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new AvroFileWriter(
      WriteJob.dataFile(path, jobId, "", partitionId, taskId), schema, gen)
}

/** Clustered write: the incoming rows are already distributed by the
  * partition transform (RequiresDistributionAndOrdering), so a task
  * usually holds one or a few partition values — each gets its OWN
  * container file (`part-<job>-b<value>-<pid>-<tid>.avro`), and the
  * commit message carries every file's value + column stats for the
  * manifest. The value is recomputed here with the SAME arithmetic as
  * the catalog's V2 `bucket`/`truncate` functions ([[PartSpec]]) —
  * write placement and SQL can never disagree. */
class AvroClusteredWriterFactory(path: String, schema: StructType,
    jobId: String, spec: PartSpec,
    gen: Seq[(Int, Expression)] = Nil)
    extends DataWriterFactory {
  private val colIdx = schema.fieldIndex(spec.column)
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val open =
        scala.collection.mutable.Map.empty[Long, AvroFileWriter]
      private val isInt =
        schema.fields(colIdx).dataType == IntegerType
      override def write(row: InternalRow): Unit = {
        val x = if (isInt) row.getInt(colIdx).toLong else row.getLong(colIdx)
        val b = spec.partValue(x)
        open.getOrElseUpdate(b, new AvroFileWriter(
          WriteJob.dataFile(path, jobId, f"b$b%05d-", partitionId, taskId),
          schema, gen)).write(row)
      }
      override def commit(): AvroCommit =
        AvroCommit(open.toSeq.sortBy(_._1).flatMap { case (b, w) =>
          w.commit().files.map(_.copy(part = Some(b), specId = spec.specId))
        })
      override def abort(): Unit = open.values.foreach(_.abort())
      override def close(): Unit = ()
    }
}

/** Streaming writers name files by (epoch, partition) ONLY — replayed
  * epochs overwrite their own files, never duplicate them. */
class AvroStreamingWriterFactory(path: String, schema: StructType,
    gen: Seq[(Int, Expression)] = Nil)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new AvroFileWriter(WriteJob.epochFile(path, epochId, partitionId), schema, gen)
}
