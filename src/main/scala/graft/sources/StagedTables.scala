package graft.sources

import java.io.File
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{Identifier, StagedTable, SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.SortOrder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** The staging half of ATOMIC `CREATE / REPLACE TABLE ... AS SELECT`
  * (round-16 verdict #4 — Iceberg's StagedSparkTable economics):
  * Spark's atomic CTAS/RTAS exec paths stage the definition, run the
  * write THROUGH this table, and only then call
  * [[commitStagedChanges]] — or [[abortStagedChanges]] on any failure.
  *
  *   - WRITES land as ordinary task-unique container files in the
  *     table directory, but the batch commit records the entries on
  *     this instance instead of publishing a manifest — nothing is
  *     visible to readers while staged (a staged CREATE has no
  *     `_schema.json` yet, so the table does not even exist; a staged
  *     REPLACE's head manifest still serves the OLD state).
  *   - COMMIT is one metadata swap under the table's commit lock
  *     (schema sidecar + partition spec + the next manifest): readers
  *     switch from the old definition to the new atomically, and the
  *     replaced generation stays time-travelable (REPLACE is just one
  *     more version — nothing is deleted).
  *   - ABORT — of the write job or of the staged changes — deletes
  *     every file of this job ([[WriteJob.abort]]); a staged CREATE
  *     also removes the table directory it opened. A process that died
  *     between write and commit leaves only unreferenced files —
  *     `remove_orphan_files` reclaims them.
  *
  * A staged CREATE commits the SAME two-version lineage the
  * non-atomic path produced (empty `create` then `append`), so
  * version-pinned readers and the deterministic metadata-table
  * oracles see identical history either way.
  */
private[sources] class GraftStagedTable(path: String, ident: Identifier,
    stagedSchema: StructType, spec: Option[PartSpec], creating: Boolean,
    commitFn: Seq[AvroSnapshots.FileEntry] => Unit)
    extends StagedTable with SupportsWrite {

  private val job = WriteJob(path)
  @volatile private var staged: Seq[AvroSnapshots.FileEntry] = Nil

  override def name(): String = s"graft_staged(${ident.toString})"
  override def schema(): StructType = stagedSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE).asJava

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staged commit REPLACES the table definition wholesale —
      // truncate-vs-append is moot while staged
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write with RequiresDistributionAndOrdering {
        override def requiredDistribution(): Distribution =
          spec.map(sp => Distributions.clustered(Array(sp.transformExpr)))
            .getOrElse(Distributions.unspecified())
        override def requiredOrdering(): Array[SortOrder] = Array.empty
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              p: PhysicalWriteInfo): DataWriterFactory =
            job.factory(info.schema(), spec, GeneratedColumns.boundExprs(
              info.schema(), org.apache.spark.sql.SparkSession.active))
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            job.publish(messages)(entries => staged = entries)
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            job.abort()
        }
      }
    }

  override def commitStagedChanges(): Unit = commitFn(staged)

  override def abortStagedChanges(): Unit = {
    job.abort()
    // a staged CREATE opened the directory itself; without a schema
    // sidecar it would linger looking like an empty nested namespace
    val dir = new File(path)
    if (creating && !new File(dir, "_schema.json").exists()) {
      Option(dir.listFiles()).foreach(_.foreach(graft.ops.GraftTmp.deleteRec))
      dir.delete()
      ()
    }
  }
}
