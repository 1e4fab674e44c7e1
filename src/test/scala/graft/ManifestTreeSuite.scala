package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.sources.{AvroSnapshots, DeletionVectors}
import graft.sources.AvroSnapshots.FileEntry

/** Manifest-tree (manifest-list) invariants — round-15 verdict #1: the
  * version file carries bounded `@group` refs, appends cost O(Δ +
  * groups) bytes not O(table), selective scans read only admitted
  * groups, pure appends auto-rebase across racing committers, and
  * legacy inline manifests keep loading/migrating.
  */
class ManifestTreeSuite extends SparkSuiteBase {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("s", StringType, nullable = true)))

  private def tmpTable(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_mt_$tag").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def statsJson(lo: Long, hi: Long, rows: Long): String =
    s"""{"_n":$rows,"k":[$lo,$hi,0],"s":["a","z",0]}"""

  private def entry(i: Long): FileEntry =
    FileEntry(f"part-x-$i%06d.avro", None, 0,
      Some(statsJson(i * 10, i * 10 + 9, 10)), None)

  private def versionsBytes(path: String): Long = {
    val d = new File(path, "_versions")
    Option(d.listFiles()).map(_.map(_.length()).sum).getOrElse(0L)
  }

  test("a 1-file append's manifest bytes do not grow with table file count") {
    def seedAndMeasure(n: Int): Long = {
      val p = tmpTable(s"flat$n")
      for (i <- 0 until n)
        AvroSnapshots.commitAppend(p, schema, Seq(entry(i.toLong)))
      val before = versionsBytes(p)
      AvroSnapshots.commitAppend(p, schema, Seq(entry(n.toLong + 1000000)))
      versionsBytes(p) - before
    }
    val small = seedAndMeasure(50)
    val big = seedAndMeasure(500)
    // naive O(files) inline manifests would make the 10× bigger table's
    // append ~10× more expensive; the tree keeps both O(Δ + groups)
    assert(big < 3 * small,
      s"append bytes grew with table size: $small B at 50 files vs $big B at 500")
  }

  test("group count stays bounded across hundreds of commits; no entry lost") {
    val p = tmpTable("bound")
    val n = 300
    for (i <- 0 until n)
      AvroSnapshots.commitAppend(p, schema, Seq(entry(i.toLong)))
    val head = AvroSnapshots.head(p).get
    assert(head.groups.size <= AvroSnapshots.MaxGroups,
      s"${head.groups.size} groups exceed the ${AvroSnapshots.MaxGroups} bound")
    assert(head.inline.isEmpty, "new-format manifests must carry no inline entries")
    assert(head.files.size == n && head.files.distinct.size == n,
      s"expected $n distinct entries, got ${head.files.size}")
    // every entry still carries its stats through group rewrites/merges
    assert(head.entries.forall(_.stats.isDefined))
    // coalescing left no orphan group files: every .grp on disk is
    // referenced by some retained version
    val referenced = AvroSnapshots.versions(p)
      .flatMap(AvroSnapshots.load(p, _)).flatMap(_.groups.map(_.file)).toSet
    val onDisk = new File(p, "_versions").listFiles()
      .filter(_.getName.endsWith(".grp")).map(_.getName).toSet
    assert(onDisk.subsetOf(referenced),
      s"orphan group files: ${(onDisk -- referenced).take(5)}")
  }

  test("racing appenders both land — pure appends auto-rebase, no lost files") {
    val p = tmpTable("race")
    // two path spellings of the SAME directory → different commit-lock
    // monitors, so the two threads genuinely race on CREATE_NEW like
    // two JVMs would; commitAppend's rebase loop must absorb it
    val p2 = p + File.separator + "."
    val perThread = 15
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val t1 = new Thread(() =>
      try {
        for (i <- 0 until perThread)
          AvroSnapshots.commitAppend(p, schema, Seq(entry(1000L + i)))
      } catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() =>
      try {
        for (i <- 0 until perThread)
          AvroSnapshots.commitAppend(p2, schema, Seq(entry(2000L + i)))
      } catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"appender threw: ${Option(errs.peek())}")
    val head = AvroSnapshots.head(p).get
    assert(head.files.size == 2 * perThread,
      s"lost update: expected ${2 * perThread} files, got ${head.files.size}")
  }

  test("legacy inline manifests load and migrate into groups on the next commit") {
    val p = tmpTable("legacy")
    val vd = new File(p, "_versions"); vd.mkdirs()
    // hand-written round-14-format manifest: bare-ts header + inline
    // `name \t part \t stats` entry lines
    val body = Seq(
      "123456789",
      schema.json,
      "part-old-0.avro\t3\t" + statsJson(0, 9, 10),
      "part-old-1.avro").mkString("\n")
    Files.write(new File(vd, "v00000000.manifest").toPath,
      body.getBytes(StandardCharsets.UTF_8))
    val legacy = AvroSnapshots.load(p, 0L).get
    assert(legacy.files == Seq("part-old-0.avro", "part-old-1.avro"))
    assert(legacy.parts == Map("part-old-0.avro" -> 3L))
    assert(legacy.stats.contains("part-old-0.avro"))
    assert(legacy.kind == AvroSnapshots.KindReplace && legacy.parent == -1L)
    // the next commit migrates inline entries into groups, verbatim
    AvroSnapshots.commitAppend(p, schema, Seq(entry(7L)))
    val head = AvroSnapshots.head(p).get
    assert(head.inline.isEmpty && head.groups.nonEmpty)
    assert(head.files.toSet ==
      Set("part-old-0.avro", "part-old-1.avro", entry(7L).name))
    assert(head.parts == Map("part-old-0.avro" -> 3L))
  }

  test("expire reclaims group files referenced only by dropped versions") {
    val p = tmpTable("expire")
    for (i <- 0 until 5)
      AvroSnapshots.commitAppend(p, schema, Seq(entry(i.toLong)))
    val allGroups = AvroSnapshots.versions(p)
      .flatMap(AvroSnapshots.load(p, _)).flatMap(_.groups.map(_.file)).toSet
    AvroSnapshots.expire(p, retainLast = 1)
    val retainedGroups = AvroSnapshots.versions(p)
      .flatMap(AvroSnapshots.load(p, _)).flatMap(_.groups.map(_.file)).toSet
    val onDisk = new File(p, "_versions").listFiles()
      .filter(_.getName.endsWith(".grp")).map(_.getName).toSet
    assert(onDisk == retainedGroups,
      s"on-disk groups != retained groups: extra=${onDisk -- retainedGroups}")
    assert(retainedGroups.subsetOf(allGroups))
    // the retained head still reads every entry
    assert(AvroSnapshots.head(p).get.files.size == 5)
  }

  test("ref-list wrapping: parents form, entries survive, DML stays cheap") {
    val p = tmpTable("wrap")
    val n = 400
    for (i <- 0 until n)
      AvroSnapshots.commitAppend(p, schema, Seq(entry(i.toLong)))
    val head = AvroSnapshots.head(p).get
    assert(head.groups.size <= AvroSnapshots.MaxGroups)
    assert(head.groups.exists(_.depth >= 1),
      "400 single-entry commits must have wrapped refs into a parent")
    assert(head.groups.map(_.depth).max <= AvroSnapshots.MaxGroupDepth)
    assert(head.files.size == n && head.files.distinct.size == n)
    // parent hulls fold child hulls: counts add up through the tree
    assert(head.groups.map(_.count).sum == n.toLong)
    // a 1-entry change UNDER a wrapped parent dissolves that parent
    // into kept child refs + one rewritten leaf — bytes stay O(refs),
    // never O(subtree entries)
    val victim = head.entries.head
    val before = versionsBytes(p)
    AvroSnapshots.withCommitLock(p) {
      AvroSnapshots.commit(p, schema,
        head.entries.map(e =>
          if (e.name == victim.name)
            e.copy(dv = Some(DeletionVectors.write(p, Seq(0L))))
          else e),
        AvroSnapshots.KindDelete, expectedParent = Some(head.version))
    }
    val dmlBytes = versionsBytes(p) - before
    assert(dmlBytes < 100 * 1024,
      s"1-entry DML under a parent cost $dmlBytes B — subtree rewrite?")
    val after = AvroSnapshots.head(p).get
    assert(after.files.size == n)
    assert(after.byName(victim.name).dv.isDefined)
    // expiry keeps every child group a retained parent references
    AvroSnapshots.expire(p, retainLast = 1)
    assert(AvroSnapshots.head(p).get.entries.size == n,
      "expiry reclaimed a child group still referenced through a parent")
  }

  // Env-gated scale probe (GRAFT_MANIFEST_PROBE=1): 10⁵ files in
  // 10-file append batches — round-16 verdict #7's "p99 (not just
  // p50) flat across the run" bar. Prints p50/p99/last commit bytes
  // and total metadata bytes; the numbers land in BASELINE.md.
  // Skipped in normal runs (minutes).
  test("scale probe: 100k files keep per-commit manifest bytes flat at p99") {
    assume(sys.env.get("GRAFT_MANIFEST_PROBE").contains("1"))
    val p = tmpTable("probe")
    val files = 100000
    val batch = 10
    val n = files / batch
    val costs = new Array[Long](n)
    var total = 0L
    val t0 = System.nanoTime()
    for (i <- 0 until n) {
      val before = versionsBytes(p)
      AvroSnapshots.commitAppend(p, schema,
        (0 until batch).map(j => entry(i.toLong * batch + j)))
      val d = versionsBytes(p) - before
      costs(i) = d
      total += math.max(0L, d)
      // keep metadata bounded like a real deployment: retain a window
      if (i % 500 == 499) AvroSnapshots.expire(p, retainLast = 64)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val sorted = costs.sorted
    val head = AvroSnapshots.head(p).get
    println(f"[probe] files=$files commits=$n n_files=${head.files.size} " +
      f"groups=${head.groups.size} depth=${head.groups.map(_.depth).max}%d " +
      f"p50=${sorted(n / 2)}%d B p99=${sorted(n * 99 / 100)}%d B " +
      f"max=${sorted.last}%d B last=${costs(n - 1)}%d B " +
      f"totalWritten=${total / 1024}%d KiB " +
      f"onDisk=${versionsBytes(p) / 1024}%d KiB wall=$wallS%.1f s")
    assert(head.files.size == files)
    // p99 flatness: ref-wrapping bounds EVERY commit by the ref
    // fan-out — the round-15 entry-rewriting merge made p99 grow with
    // table size (the verdict's residual design note, now closed)
    assert(sorted(n * 99 / 100) <= 3 * sorted(n / 2),
      s"p99 ${sorted(n * 99 / 100)} B vs p50 ${sorted(n / 2)} B — not flat")
    assert(costs(n - 1) <= 3 * sorted(n / 2),
      s"last append ${costs(n - 1)} B vs p50 ${sorted(n / 2)} B — not flat")
    assert(head.groups.size <= AvroSnapshots.MaxGroups)
    assert(head.groups.map(_.depth).max <= AvroSnapshots.MaxGroupDepth)
  }

  test("commit fuzz: random append/replace/delete/dv sequences preserve the entry map") {
    val rnd = new scala.util.Random(15L)
    val p = tmpTable("fuzz")
    var state = Map.empty[String, FileEntry]
    var nextId = 0L
    def freshEntry(): FileEntry = {
      nextId += 1
      entry(nextId)
    }
    val checkpoints = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[String, FileEntry])]
    var prevBase: Map[String, Long] = Map.empty
    var prevAdded: Map[String, Long] = Map.empty
    for (step <- 0 until 150) {
      rnd.nextInt(10) match {
        case n if n < 5 => // append 1–4 fresh entries
          val add = Seq.fill(1 + rnd.nextInt(4))(freshEntry())
          AvroSnapshots.commitAppend(p, schema, add)
          state ++= add.map(e => e.name -> e)
        case n if n < 8 && state.nonEmpty => // drop a random subset (DELETE)
          val names = state.keys.toSeq
          val drop = rnd.shuffle(names).take(1 + rnd.nextInt(3)).toSet
          state = state.filterNot { case (k, _) => drop(k) }
          AvroSnapshots.withCommitLock(p)(AvroSnapshots.commit(
            p, schema, state.values.toSeq.sortBy(_.name),
            AvroSnapshots.KindDelete))
        case n if n < 9 && state.nonEmpty => // grow a dv on one entry (MOR)
          val name = state.keys.toSeq(rnd.nextInt(state.size))
          val e = state(name)
          val dv = DeletionVectors.write(p, Seq(rnd.nextInt(10).toLong))
          state += name -> e.copy(dv = Some(dv))
          AvroSnapshots.withCommitLock(p)(AvroSnapshots.commit(
            p, schema, state.values.toSeq.sortBy(_.name),
            AvroSnapshots.KindReplace))
        case _ if state.nonEmpty => // full rewrite (compaction shape)
          val rewritten = state.values.toSeq.map(_ => freshEntry())
          state = rewritten.map(e => e.name -> e).toMap
          AvroSnapshots.withCommitLock(p)(AvroSnapshots.commit(
            p, schema, rewritten.sortBy(_.name), AvroSnapshots.KindRewrite))
        case _ => // empty-table corner: append instead
          val add = Seq(freshEntry())
          AvroSnapshots.commitAppend(p, schema, add)
          state ++= add.map(e => e.name -> e)
      }
      val head = AvroSnapshots.head(p).get
      // commit() assigns row-lineage bases the model cannot predict —
      // fold them in, but pin STABILITY: an entry that survived keeps
      // the base it was first assigned (round 17)
      state.keySet.intersect(prevBase.keySet).foreach { n =>
        assert(head.byName(n).firstRowId == prevBase(n),
          s"step $step: $n changed firstRowId " +
            s"${prevBase(n)} -> ${head.byName(n).firstRowId}")
      }
      // addedVersion (round 18) is commit-assigned like firstRowId:
      // fold it in, pinning the same stability — a surviving entry
      // keeps the version it was first added at
      state.keySet.intersect(prevAdded.keySet).foreach { n =>
        assert(head.byName(n).addedVersion == prevAdded(n),
          s"step $step: $n changed addedVersion " +
            s"${prevAdded(n)} -> ${head.byName(n).addedVersion}")
      }
      state = state.map { case (n, e) =>
        n -> e.copy(
          firstRowId = head.byName.get(n).map(_.firstRowId).getOrElse(-1L),
          addedVersion =
            head.byName.get(n).map(_.addedVersion).getOrElse(-1L))
      }
      prevBase = head.byName.view.mapValues(_.firstRowId).toMap
      prevAdded = head.byName.view.mapValues(_.addedVersion).toMap
      assert(head.byName == state,
        s"step $step: head diverged from the model " +
          s"(missing=${(state.keySet -- head.byName.keySet).take(3)}, " +
          s"extra=${(head.byName.keySet -- state.keySet).take(3)})")
      assert(head.groups.size <= AvroSnapshots.MaxGroups)
      if (step % 37 == 0) checkpoints += ((head.version, state))
    }
    // IMMUTABILITY: every checkpointed version still reads its exact
    // historical entry map after all later commits and merges
    checkpoints.foreach { case (v, snap) =>
      assert(AvroSnapshots.load(p, v).get.byName == snap,
        s"version $v changed after later commits")
    }
    // expiry keeps the head exact and leaves no orphan group files
    val headBefore = AvroSnapshots.head(p).get.byName
    AvroSnapshots.expire(p, retainLast = 2)
    assert(AvroSnapshots.head(p).get.byName == headBefore)
    val referenced = AvroSnapshots.versions(p)
      .flatMap(AvroSnapshots.load(p, _)).flatMap(_.groups.map(_.file)).toSet
    val onDisk = new File(p, "_versions").listFiles()
      .filter(_.getName.endsWith(".grp")).map(_.getName).toSet
    assert(onDisk == referenced,
      s"group files != referenced after expiry: extra=${onDisk -- referenced}")
  }

  test("selective catalog scan reads fewer manifest groups than exist") {
    val s = spark
    graft.ops.Graftcat.fresh(s, "mt_groups")
    s.sql("CREATE TABLE graftcat.lake.mt_groups (k BIGINT, v DOUBLE)")
    // four commits, each a DISJOINT key range → four groups whose
    // hulls are disjoint on k
    for (r <- 0 until 4)
      s.sql(s"""INSERT INTO graftcat.lake.mt_groups
               |SELECT id AS k, CAST(id AS DOUBLE) AS v
               |FROM range(${r * 1000}, ${r * 1000 + 1000})""".stripMargin)
    val cat = graft.ops.Graftcat.instance(s)
    val whDir = s.conf.get("spark.sql.catalog.graftcat.warehouse")
    val tdir = new File(new File(whDir, "lake"), "mt_groups").getPath
    val totalGroups = AvroSnapshots.head(tdir).get.groups.size
    assert(totalGroups >= 4, s"expected ≥4 groups, got $totalGroups")
    val before = AvroSnapshots.groupReads.get()
    val n = s.sql(
      "SELECT k, v FROM graftcat.lake.mt_groups WHERE k BETWEEN 100 AND 199")
      .collect().length
    val read = AvroSnapshots.groupReads.get() - before
    assert(n == 100)
    assert(read < totalGroups,
      s"selective scan materialized $read of $totalGroups groups — no group pruning")
  }
}
