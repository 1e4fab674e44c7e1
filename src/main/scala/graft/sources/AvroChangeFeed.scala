package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CHANGE-DATA FEED of a versioned table — round-15 verdict
  * #3: the `<catalog>.<ns>.<table>.changes` changelog table (Iceberg's
  * changelog scan / Delta CDF shape). Schema = the base table's columns
  * plus `_change_type` STRING, offsets are table VERSIONS (restart
  * resumes exactly-once from the checkpoint), and each micro-batch
  * converts the manifest diff of its version window into row-level
  * change splits — every case per-file/per-pair parallel and
  * O(changed data), never O(table):
  *
  *   - APPEND window → each added file streams its rows as `insert`;
  *   - DELETION-VECTOR window (merge-on-read DELETE) → each file whose
  *     vector grew streams exactly the rows at the NEW positions as
  *     `delete` — O(matched rows), the reason DVs make CDC affordable;
  *   - entry REMOVED with no rewrite (full-file delete) → the file's
  *     rows at the PREVIOUS version (its old vector applied) stream as
  *     `delete`;
  *   - copy-on-write DELETE rewrite (`part-*-rw-<orig>` pairs) → one
  *     task per pair bag-diffs original-minus-rewrite and streams the
  *     difference as `delete` (the rewrite is a subset, so it adds no
  *     inserts);
  *   - REWRITE (compaction, dataChange=false) window → nothing;
  *   - any other rewrite (UPDATE/MERGE group replacement, overwrite) →
  *     file-level fallback: the removed files' prior rows stream as
  *     `delete` and the added files' rows as `insert`. Net state is
  *     exact (apply deletes before inserts); rows that merely rode
  *     along the group rewrite appear as a delete+insert pair — the
  *     non-minimal but state-correct file-level CDC (the batch
  *     change-feed key's EXCEPT ALL is the minimal spelling).
  */
object AvroChangeFeed {
  val ChangeTypeColumn = "_change_type"
  /** The table VERSION whose commit produced a change row (Delta CDF's
    * `_commit_version`) — what lets a consumer ORDER a key's events
    * inside a multi-version micro-batch and fold them to a net op
    * (the replication consumer's correctness hinge). */
  val CommitVersionColumn = "_commit_version"
  /** The commit's wall-clock time (Delta CDF's `_commit_timestamp`) —
    * the audit/windowing companion; ordering guarantees come from the
    * VERSION (clocks can tie or skew), so consumers fold by version
    * and report by timestamp. */
  val CommitTimestampColumn = "_commit_timestamp"
  val ChangesSuffix = "changes"

  def feedSchema(base: StructType): StructType =
    StructType(base.fields.toSeq :+
      StructField(ChangeTypeColumn, StringType, nullable = false) :+
      StructField(CommitVersionColumn, LongType, nullable = false) :+
      StructField(CommitTimestampColumn, TimestampType, nullable = false))
}

/** The read-only changelog table `<table>.changes` — streamable
  * (micro-batch offsets = versions) AND batch-rangeable (Delta CDF's
  * `startingVersion`/`endingVersion` options: one batch read of the
  * changes in (startingVersion, endingVersion], default ending = the
  * main head). */
class AvroChangeFeedTable(path: String, baseSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_avro_changes($path)"
  override def schema(): StructType = AvroChangeFeed.feedSchema(baseSchema)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = this
      override def readSchema(): StructType = required
      override def toMicroBatchStream(
          checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new AvroChangeFeedStream(path, baseSchema, required,
          Option(options.get("maxFilesPerTrigger")).map(_.toInt))

      // batch flavor: the same window-diff splits over an explicit
      // version range — the "what changed between v1 and v2" audit
      // query as a plain table read
      override def toBatch: Batch = this
      private lazy val range: (Long, Long) = {
        val start = Option(options.get("startingVersion")).map(_.toLong)
          .getOrElse(throw new IllegalArgumentException(
            s"batch read of ${name()} requires the startingVersion option " +
              "(changes are read over (startingVersion, endingVersion]); " +
              "for continuous consumption use readStream"))
        val end = Option(options.get("endingVersion")).map(_.toLong)
          .orElse(AvroSnapshots.headVersion(path))
          .getOrElse(-1L)
        require(end >= start,
          s"endingVersion $end precedes startingVersion $start")
        (start, end)
      }
      override def planInputPartitions(): Array[InputPartition] = {
        val stream = new AvroChangeFeedStream(path, baseSchema, required, None)
        stream.planInputPartitions(
          AvroVersionOffset(range._1), AvroVersionOffset(range._2))
      }
      override def createReaderFactory(): PartitionReaderFactory =
        new CdfReaderFactory(baseSchema, required, path)
    }
}

/** One change split: read `file`, emit each row tagged `changeType`.
  * All deletion-vector / equality-delete set math happens
  * EXECUTOR-side — the split carries sidecar NAMES, so the driver
  * never reads a sidecar: `skipDv` anti-filters those positions;
  * `deltaKind` restricts to the LIVENESS DELTA between the file's old
  * state (`dvDeltaOld`, `eqDeltaOld`) and new state (`dvDeltaNew`,
  * `eqDeltaNew`) — `"deleted"` = rows live before and not after (a
  * row-level delete, positional or equality), `"restored"` = rows
  * live after and not before (a rollback brought them back, streamed
  * as inserts); a reader whose delta is provably empty exits without
  * opening the data file. `diffAgainst` bag-subtracts the sibling
  * rewrite file's rows (the COW-pair case). */
case class CdfSplit(file: String, changeType: String,
    skipDv: Option[String] = None,
    skipEq: Seq[String] = Nil,
    dvDeltaOld: Option[String] = None, dvDeltaNew: Option[String] = None,
    eqDeltaOld: Seq[String] = Nil, eqDeltaNew: Seq[String] = Nil,
    deltaKind: Option[String] = None,
    diffAgainst: Option[String] = None,
    commitVersion: Long = -1L,
    commitTsMs: Long = 0L,
    firstRowId: Long = -1L,
    lineage: Option[String] = None,
    others: Seq[CdfFileRef] = Nil) extends InputPartition

/** One OTHER-side file of a row-id window diff (row lineage — round
  * 17): `[lo, hi]` is the file's conservative stable-id hull (manifest
  * range ∪ recorded physical `_row_id` bounds) — the driver hands a
  * lineage split only the other-side files whose hulls OVERLAP its
  * own, so a task loads O(its rewrite group), not O(window). */
case class CdfFileRef(name: String, firstRowId: Long,
    dv: Option[String], eq: Seq[String], lo: Long, hi: Long)

class AvroChangeFeedStream(path: String, baseSchema: StructType,
    required: StructType, maxFiles: Option[Int])
    extends AvroVersionStream(path, baseSchema, false, maxFiles) {

  private val RewriteOf = "^part-[0-9a-f]+-rw-(.+)$".r

  override def planInputPartitions(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      end: org.apache.spark.sql.connector.read.streaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[AvroVersionOffset].version
    val e = end.asInstanceOf[AvroVersionOffset].version
    val out = scala.collection.mutable.ArrayBuffer.empty[CdfSplit]
    val ws = windows(s, e)
    // ONE lineage-log parse per planning pass, not one per gap window
    lazy val logged = AvroSnapshots.loggedTimestamps(path)
    // pre-lineage-log tables: walk the feed's OWN lineage down from
    // its head; the nearest retained snapshot ABOVE v (possibly beyond
    // this batch's end) bounds the expired commit's time — same
    // lineage by construction, never a foreign branch's clock
    def legacyNearestRetainedAfter(v: Long): Option[Long] = {
      var cur = AvroSnapshots.headVersion(path).getOrElse(-1L)
      var best: Option[Long] = None
      var guard = 0
      while (cur > v && guard < 1000000) {
        AvroSnapshots.load(path, cur) match {
          case Some(sn) =>
            best = Some(sn.timestampMs)
            cur = if (sn.parent < cur) sn.parent else -1L
          case None => cur = -1L // chain broken and no log: stop
        }
        guard += 1
      }
      best
    }
    ws.foreach { case (prevV, v, d) =>
      if (!d.rewriteOnly) {
        val prev = entriesAt(prevV)
        val cur = entriesAt(v)
        // a DIRECT merge-on-read UPDATE window pairs its dv deltas and
        // insert files as update pre/post images (Delta CDF's types);
        // a gap window can hide other kinds → generic delete+insert
        val snap = AvroSnapshots.load(path, v)
        val isUpdate = prevV + 1 == v &&
          snap.exists(_.kind == AvroSnapshots.KindUpdate)
        // a gap window whose snapshot was EXPIRED still needs a real
        // commit timestamp (ADVICE r16: never emit epoch-zero). The
        // durable lineage log recorded v's OWN commit time — exact and
        // never borrowed across lineages (ADVICE r17). A legacy table
        // without the log entry substitutes the nearest retained LATER
        // endpoint of THIS FEED'S OWN window chain (same lineage by
        // construction); none retained at all is corrupt — fail loudly
        val tsMs = snap.map(_.timestampMs)
          .orElse(logged.get(v))
          .orElse(legacyNearestRetainedAfter(v))
          .getOrElse(throw new IllegalStateException(
            s"change feed of $path: no retained snapshot at or after " +
              s"version $v on the feed's lineage to source a commit " +
              "timestamp from"))
        val delTag = if (isUpdate) "update_preimage" else "delete"
        val insTag = if (isUpdate) "update_postimage" else "insert"
        val removed = prev.keySet -- cur.keySet
        val added = cur.keySet -- prev.keySet
        val pairedRewrites = scala.collection.mutable.HashSet.empty[String]
        val pairOf: Map[String, Option[String]] =
          removed.toSeq.sorted.map { r =>
            val rewrite = added.find {
              case RewriteOf(orig) => orig == r
              case _               => false
            }
            rewrite.foreach(pairedRewrites += _)
            r -> rewrite
          }.toMap
        // ROW-ID WINDOW DIFF (row lineage — round 17): when every
        // unpaired removed AND added entry carries a lineage base, a
        // group rewrite (COW UPDATE/MERGE, overwrite) diffs by stable
        // id instead of the file-level delete+insert fallback — rows
        // whose id matches with identical content stream NOTHING
        // (carryover), matched-but-changed rows stream as
        // update_preimage/update_postimage pairs, and only genuinely
        // new/gone ids stream as insert/delete. Non-overlapping id
        // hulls (a plain overwrite) degrade to the old behavior at the
        // old cost: each side's other-list filters to overlap.
        val loneRemoved = removed.toSeq.sorted.filter(r => pairOf(r).isEmpty)
        val loneAdded = (added -- pairedRewrites).toSeq.sorted
        def hull(e: AvroSnapshots.FileEntry): (Long, Long) = {
          val rows = e.stats.flatMap(AvroStats.rowCount).getOrElse(0L)
          var lo = e.firstRowId
          var hi = e.firstRowId + math.max(rows - 1, 0L)
          e.stats.map(AvroStats.parse)
            .flatMap(_.get(AvroDirSource.RowIdColumn)).foreach { cs =>
              (cs.min, cs.max) match {
                case (Some(a: java.lang.Long), Some(b: java.lang.Long)) =>
                  lo = math.min(lo, a); hi = math.max(hi, b)
                case _ => ()
              }
            }
          (lo, hi)
        }
        val useLineage = !isUpdate && loneRemoved.nonEmpty &&
          loneAdded.nonEmpty &&
          loneRemoved.forall(r => prev(r).firstRowId >= 0) &&
          loneAdded.forall(a => cur(a).firstRowId >= 0)
        // hulls parsed ONCE per file (stats JSON parse is the cost);
        // the overlap probes below reuse these refs
        lazy val removedRefs: Map[String, CdfFileRef] = loneRemoved.map { r =>
          val (lo, hi) = hull(prev(r))
          r -> CdfFileRef(r, prev(r).firstRowId, prev(r).dv, prev(r).eq, lo, hi)
        }.toMap
        lazy val addedRefs: Map[String, CdfFileRef] = loneAdded.map { a =>
          val (lo, hi) = hull(cur(a))
          a -> CdfFileRef(a, cur(a).firstRowId, cur(a).dv, cur(a).eq, lo, hi)
        }.toMap
        def overlapping(refs: Map[String, CdfFileRef],
            self: CdfFileRef): Seq[CdfFileRef] =
          refs.valuesIterator
            .filter(rf => rf.lo <= self.hi && self.lo <= rf.hi)
            .toSeq.sortBy(_.name)
        // deletes: removed entries — paired with their COW rewrite when
        // one exists in the same window; row-id-diffed when lineage
        // allows; else the whole file's rows
        removed.toSeq.sorted.foreach { r =>
          val rewrite = pairOf(r)
          // carry the entry's equality-delete refs too (ADVICE r16):
          // rows an earlier eq-delete commit already streamed as
          // deletes must not re-stream when a metadata-only DELETE
          // later drops the whole file
          if (rewrite.isEmpty && useLineage)
            out += CdfSplit(r, delTag, skipDv = prev(r).dv,
              skipEq = prev(r).eq, commitVersion = v, commitTsMs = tsMs,
              firstRowId = prev(r).firstRowId, lineage = Some("del"),
              others = overlapping(addedRefs, removedRefs(r)))
          else
            out += CdfSplit(r, delTag, skipDv = prev(r).dv,
              skipEq = prev(r).eq,
              diffAgainst = rewrite, commitVersion = v, commitTsMs = tsMs,
              firstRowId = prev(r).firstRowId)
        }
        // deletion-vector / equality-delete CHANGES — the reader does
        // the liveness math from the sidecar NAMES (the driver never
        // reads one): rows live-before-and-not-after stream as deletes
        // (pre-images in an update window), live-after-and-not-before
        // as inserts (a rollback past a MOR delete RESTORES rows —
        // ADVICE r15: they must surface, not poison the stream). One
        // direction is empty in any given window; its reader exits
        // without opening the data file when that is provable from
        // the sidecars alone.
        cur.keysIterator.toSeq.sorted.foreach { n =>
          if (prev.contains(n) &&
              (prev(n).dv != cur(n).dv || prev(n).eq != cur(n).eq)) {
            out += CdfSplit(n, delTag,
              dvDeltaOld = prev(n).dv, dvDeltaNew = cur(n).dv,
              eqDeltaOld = prev(n).eq, eqDeltaNew = cur(n).eq,
              deltaKind = Some("deleted"), commitVersion = v,
              commitTsMs = tsMs, firstRowId = cur(n).firstRowId)
            out += CdfSplit(n, "insert",
              dvDeltaOld = prev(n).dv, dvDeltaNew = cur(n).dv,
              eqDeltaOld = prev(n).eq, eqDeltaNew = cur(n).eq,
              deltaKind = Some("restored"), commitVersion = v,
              commitTsMs = tsMs, firstRowId = cur(n).firstRowId)
          }
        }
        // inserts: added files that are not a paired COW rewrite (a
        // rewrite is a SUBSET of its original — nothing new to insert)
        (added -- pairedRewrites).toSeq.sorted.foreach { a =>
          // a GAP window can append a file and eq-delete into it in the
          // same window — only rows live at window end are inserts
          if (useLineage)
            out += CdfSplit(a, insTag, skipDv = cur(a).dv,
              skipEq = cur(a).eq, commitVersion = v, commitTsMs = tsMs,
              firstRowId = cur(a).firstRowId, lineage = Some("ins"),
              others = overlapping(removedRefs, addedRefs(a)))
          else
            out += CdfSplit(a, insTag, skipDv = cur(a).dv,
              skipEq = cur(a).eq, commitVersion = v,
              commitTsMs = tsMs, firstRowId = cur(a).firstRowId)
        }
      }
    }
    out.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new CdfReaderFactory(baseSchema, required, path)
}

/** Decodes one change split against the CURRENT base schema (the
  * [[FileColumns]] layout, like every reader here) and appends the
  * constant `_change_type`. The pair-diff mode loads the (smaller, subset)
  * rewrite file into an in-memory multiset first — one pair is one
  * task, and a rewrite is at most one original file's rows. */
class CdfReaderFactory(baseSchema: StructType, required: StructType,
    dirPath: String) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val split = partition.asInstanceOf[CdfSplit]
    new PartitionReader[InternalRow] {
      private def deletes(dv: Option[String], eq: Seq[String]) =
        FileColumns.Deletes.read(dirPath, dv, eq)
      private def open(name: String, firstRowId: Long,
          rules: Seq[FileColumns.Deletes]): FileColumns.Rows =
        new FileColumns.Rows(AvroSnapshots.resolveFile(dirPath, name),
          baseSchema, firstRowId, rules)
      private def valsOf(r: FileColumns.Rows): Vector[Any] =
        Vector.tabulate(baseSchema.length)(r.value)
      // delta mode: `deleted` = rows live in the OLD state and not in
      // the NEW one (positional or equality delete); `restored` = the
      // reverse (a rollback can shrink/drop a vector or detach an
      // equality delete — ADVICE r15). Both states are tested per row.
      // Other splits skip the rows already dead under the entry's
      // deletes (the delete commit streamed them already).
      private val deltaMode = split.deltaKind.isDefined
      private val restored = split.deltaKind.contains("restored")
      private val rules: Seq[FileColumns.Deletes] =
        if (deltaMode) Seq(deletes(split.dvDeltaOld, split.eqDeltaOld),
          deletes(split.dvDeltaNew, split.eqDeltaNew))
        else Seq(deletes(split.skipDv, split.skipEq))
      // provably-empty delta (equal eq lists + empty dv delta in this
      // split's direction): exit without opening the data container
      private val provablyEmpty = deltaMode &&
        split.eqDeltaOld == split.eqDeltaNew && {
          val (dvOld, dvNew) = (rules(0).dv, rules(1).dv)
          if (restored) (dvOld -- dvNew).isEmpty else (dvNew -- dvOld).isEmpty
        }
      // lazy: a provably-empty split never opens the data container
      private var opened = false
      private lazy val rows = {
        opened = true
        open(split.file, split.firstRowId, rules)
      }

      // ---- row-id window diff (row lineage — round 17) ----
      // OTHER side of the diff: id → live row content of the window's
      // opposite files whose id hulls overlap this file's (the driver
      // pre-filtered) — O(this rewrite group) memory per task.
      private lazy val otherSide: java.util.HashMap[java.lang.Long, Vector[Any]] = {
        val m = new java.util.HashMap[java.lang.Long, Vector[Any]]()
        split.others.foreach { ref =>
          val r = open(ref.name, ref.firstRowId, Seq(deletes(ref.dv, ref.eq)))
          try while (r.nextLive()) {
            val id = r.rowId
            if (id != null) m.put(id, valsOf(r))
          } finally r.close()
        }
        m
      }
      private lazy val pairTag = UTF8String.fromString(
        if (split.lineage.contains("del")) "update_preimage"
        else "update_postimage")

      // pair-diff: multiset of the rewrite's rows; an original row with
      // a surviving twin is NOT a delete. A rewrite carries its rows'
      // ids physically, so it needs no lineage base.
      private val surviving: scala.collection.mutable.Map[Vector[Any], Int] = {
        val m = scala.collection.mutable.Map.empty[Vector[Any], Int]
        split.diffAgainst.foreach { rw =>
          val r = open(rw, -1L, Nil)
          try while (r.next()) {
            val k = valsOf(r)
            m.update(k, m.getOrElse(k, 0) + 1)
          } finally r.close()
        }
        m
      }

      private val changeTag = UTF8String.fromString(split.changeType)
      private var rowTag: UTF8String = changeTag
      private var current: Vector[Any] = _

      override def next(): Boolean = {
        // an empty delta (the other direction's split carries this
        // window's change) — exit without scanning the data file
        if (provablyEmpty) return false
        while (if (deltaMode) rows.next() else rows.nextLive()) {
          val wanted = !deltaMode || {
            val (liveOld, liveNew) = (rows.live(0), rows.live(1))
            if (restored) !liveOld && liveNew else liveOld && !liveNew
          }
          if (wanted) {
            val vals = valsOf(rows)
            if (split.lineage.isDefined) {
              // row-id diff: a matched id with identical content is a
              // carryover (streams nothing); matched-but-changed rows
              // pair as update pre/post images; an unmatched id is a
              // genuine delete (old side) / insert (new side)
              val id = rows.rowId
              val other = if (id == null) null else otherSide.get(id)
              if (other == null) {
                rowTag = changeTag; current = vals; return true
              } else if (other != vals) {
                rowTag = pairTag; current = vals; return true
              } // else: carryover — skip
            } else {
              val alive = surviving.getOrElse(vals, 0)
              if (alive > 0) surviving.update(vals, alive - 1) // twin survives
              else { rowTag = changeTag; current = vals; return true }
            }
          }
        }
        false
      }

      override def get(): InternalRow = {
        val out = new Array[Any](required.length)
        var i = 0
        while (i < required.length) {
          val f = required.fields(i)
          if (f.name == AvroChangeFeed.ChangeTypeColumn) out(i) = rowTag
          else if (f.name == AvroChangeFeed.CommitVersionColumn)
            out(i) = split.commitVersion
          else if (f.name == AvroChangeFeed.CommitTimestampColumn)
            out(i) = split.commitTsMs * 1000L // internal micros
          else {
            val bi = baseSchema.fieldIndex(f.name)
            out(i) = AvroDirSource.avroToInternal(current(bi), f.dataType)
          }
          i += 1
        }
        new GenericInternalRow(out)
      }
      override def close(): Unit = if (opened) rows.close()
    }
  }
}
