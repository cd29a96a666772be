package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Snapshot-table guarantees (r11 VERDICT #2 done-criteria): a reader
  * pinned to snapshot N is byte-stable while N+1 commits; a crash between
  * data/manifest and the pointer swap leaves N readable; historical
  * snapshots time-travel; merge-upsert is atomic at the table level and
  * leaves untouched partitions' FILES untouched; vacuum reclaims only
  * unreferenced files.
  */
class SnapshotTableSpec extends SparkTestBase {
  import spark.implicits._

  private def freshTable(): String =
    tempDir("graft-snap")

  private def rows(y1: Int, n: Int, tag: String) =
    (1 to n).map(i => (i.toLong, y1 + i % 2, s"$tag-$i")).toDF("id", "year", "payload")

  test("commit + read round-trip; versions advance; pointer is the commit point") {
    val t = freshTable()
    assert(SnapshotTable.currentVersion(t).isEmpty)
    val v1 = SnapshotTable.commitOverwrite(rows(2000, 10, "a"), t, Seq("year"))
    assert(v1 == 1L && SnapshotTable.currentVersion(t).contains(1L))
    val got = SnapshotTable.readSnapshot(spark, t)
      .select("id", "year", "payload").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == (1 to 10).map(i => (i.toLong, 2000 + i % 2, s"a-$i")))
  }

  test("a reader pinned to snapshot N is byte-stable while N+1 commits") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 20, "base"), t, Seq("year"))
    val manifestBefore = SnapshotTable.manifest(t, Some(1L))
    val pinnedBefore = SnapshotTable.readSnapshot(spark, t, Some(1L))
      .orderBy("id").collect().map(_.toString).toSeq
    // concurrent-writer stand-in: a replace-partitions commit lands
    // even ids land in year=2000 (the partition being rewritten)
    val changed = Seq((2L, 2000, "CHANGED"), (98L, 2000, "NEW"))
      .toDF("id", "year", "payload")
    val v2 = SnapshotTable.commitReplacePartitions(
      // year=2000 partition rewritten wholesale with merged content
      SnapshotTable.readSnapshot(spark, t, Some(1L),
          partitionPruning = _ == "year=2000")
        .filter(col("id") =!= 2L).unionByName(changed).localCheckpoint(),
      t, Seq("year"))
    assert(v2 == 2L)
    // the pinned reader still sees byte-identical content and an
    // identical manifest — nothing it references was rewritten
    assert(SnapshotTable.manifest(t, Some(1L)) == manifestBefore)
    val pinnedAfter = SnapshotTable.readSnapshot(spark, t, Some(1L))
      .orderBy("id").collect().map(_.toString).toSeq
    assert(pinnedAfter == pinnedBefore)
    // and the new snapshot shows the change
    val now = SnapshotTable.readSnapshot(spark, t).filter(col("id").isin(2L, 98L))
      .select("id", "payload").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(now == Seq((2L, "CHANGED"), (98L, "NEW")))
    // untouched partition year=2001: manifest entries carried over as-is
    val v1Untouched = manifestBefore.filter(_.partSpec == "year=2001").toSet
    val v2Untouched = SnapshotTable.manifest(t, Some(2L))
      .filter(_.partSpec == "year=2001").toSet
    assert(v1Untouched == v2Untouched && v1Untouched.nonEmpty)
  }

  test("crash between data+manifest write and pointer swap leaves N readable") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 8, "v1"), t, Seq("year"))
    val before = SnapshotTable.readSnapshot(spark, t)
      .orderBy("id").collect().map(_.toString).toSeq
    // simulate the crash: data + manifest land, the pointer swap never runs
    val orphan = SnapshotTable.prepare(rows(2000, 8, "v2-crashed"), t,
      Seq("year"), 1)((_, fresh) => fresh)
    assert(orphan == 2L)
    assert(SnapshotTable.currentVersion(t).contains(1L), "pointer moved without commit")
    val after = SnapshotTable.readSnapshot(spark, t)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after == before, "default reader saw uncommitted data")
    // recovery: the next commit skips past the orphan and commits cleanly
    val v3 = SnapshotTable.commitOverwrite(rows(2000, 8, "v3"), t, Seq("year"))
    assert(v3 == 3L && SnapshotTable.currentVersion(t).contains(3L))
    assert(SnapshotTable.readSnapshot(spark, t).select("payload")
      .head().getString(0).startsWith("v3"))
  }

  test("crash BETWEEN data write and manifest move leaves no wedge (r12 ADVICE)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 8, "v1"), t, Seq("year"))
    // simulate the earlier crash point: the parquet write finished but the
    // manifest ATOMIC_MOVE never ran — a data/v2 shell with NO manifest.
    // Deriving the next version from manifests alone would retry v2
    // forever, dying on SaveMode.ErrorIfExists against the shell.
    val shell = Paths.get(t, "data", "v00000002", "year=2000")
    Files.createDirectories(shell)
    Files.write(shell.resolve("part-00000-crashed.parquet"), Array[Byte](1, 2, 3))
    // every commit flavor must skip past the shell and land cleanly
    val v3 = SnapshotTable.commitAppend(rows(2000, 4, "v3"), t, Seq("year"))
    assert(v3 == 3L && SnapshotTable.currentVersion(t).contains(3L))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 12)
    // txn replay after the same crash shape (the commitAppendTxn
    // exactly-once claim): one snapshot, not a wedge
    Files.createDirectories(Paths.get(t, "data", "v00000004"))
    val v5 = SnapshotTable.commitAppendTxn(rows(2000, 2, "t"), t,
      Seq("year"), txnId = "wave-9")
    assert(v5 == 5L)
    assert(SnapshotTable.commitAppendTxn(rows(2000, 2, "t"), t,
      Seq("year"), txnId = "wave-9") == 5L, "replay must no-op")
    assert(SnapshotTable.readSnapshot(spark, t).count() == 14)
    // vacuum reclaims the shells; history stays readable
    SnapshotTable.vacuum(spark, t, keepSnapshots = 3, minAgeMs = 0)
    assert(!Files.exists(Paths.get(t, "data", "v00000002")))
    assert(!Files.exists(Paths.get(t, "data", "v00000004")))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 14)
  }

  test("time travel: every historical version reads its own content") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 5, "one"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2010, 5, "two"), t, Seq("year"))
    SnapshotTable.commitOverwrite(rows(2020, 5, "three"), t, Seq("year"))
    assert(SnapshotTable.readSnapshot(spark, t, Some(1L)).count() == 5)
    assert(SnapshotTable.readSnapshot(spark, t, Some(2L)).count() == 10)
    assert(SnapshotTable.readSnapshot(spark, t, Some(3L)).count() == 5)
    val tags2 = SnapshotTable.readSnapshot(spark, t, Some(2L))
      .select(substring_index(col("payload"), "-", 1)).distinct()
      .collect().map(_.getString(0)).toSet
    assert(tags2 == Set("one", "two"))
    assert(SnapshotTable.readSnapshot(spark, t, Some(3L))
      .select(substring_index(col("payload"), "-", 1)).distinct()
      .collect().map(_.getString(0)).toSet == Set("three"))
  }

  test("manifest-level partition pruning: pruned files are never planned") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 20, "p"), t, Seq("year"))
    val pruned = SnapshotTable.readSnapshot(spark, t,
      partitionPruning = _ == "year=2001")
    assert(pruned.select("year").distinct().collect().map(_.getInt(0)).toSeq == Seq(2001))
    val allFiles = SnapshotTable.manifest(t, None).size
    assert(pruned.inputFiles.length < allFiles,
      s"pruning did not reduce planned files: ${pruned.inputFiles.length} of $allFiles")
    assert(pruned.inputFiles.forall(_.contains("year=2001")))
  }

  test("mergeUpsert: snapshot-atomic CDC; history intact; untouched partition files untouched") {
    val t = freshTable()
    val base = (1 to 30).map(i => (i.toLong, 2000 + i % 3, i * 10.0))
      .toDF("id", "year", "amount")
    SnapshotTable.commitOverwrite(base, t, Seq("year"))
    val changes = Seq(
      (3L, 2000, 999.0, false),  // update (year = 2000 + 3%3 = 2000)
      (6L, 2000, 0.0, true),     // delete
      (100L, 2000, 42.0, false)  // insert
    ).toDF("id", "year", "amount", "_del")
    val v2 = SnapshotTable.mergeUpsert(spark, t, changes,
      keyCols = Seq("id"), partitionCols = Seq("year"), deleteCol = Some("_del"))
    assert(v2 == 2L)
    val now = SnapshotTable.readSnapshot(spark, t)
    assert(now.filter(col("id") === 3L).select("amount").head().getDouble(0) == 999.0)
    assert(now.filter(col("id") === 6L).count() == 0)
    assert(now.filter(col("id") === 100L).count() == 1)
    assert(now.count() == 30)
    // pre-merge history intact
    val old = SnapshotTable.readSnapshot(spark, t, Some(1L))
    assert(old.count() == 30 &&
      old.filter(col("id") === 3L).select("amount").head().getDouble(0) == 30.0)
    // only year=2000 was rewritten: the other partitions' manifest rows
    // (and therefore files) carried over identical
    val m1 = SnapshotTable.manifest(t, Some(1L)).filterNot(_.partSpec == "year=2000").toSet
    val m2 = SnapshotTable.manifest(t, Some(2L)).filterNot(_.partSpec == "year=2000").toSet
    assert(m1 == m2 && m1.nonEmpty)
  }

  test("txn commits are exactly-once: replay no-ops, crash rolls forward, distinct txns append") {
    val t = freshTable()
    val v1 = SnapshotTable.commitAppendTxn(rows(2000, 4, "b0"), t, Seq("year"), "batch-0")
    assert(v1 == 1L)
    // full replay of a COMPLETED txn: same version back, nothing written
    val filesBefore = SnapshotTable.manifest(t, Some(1L))
    assert(SnapshotTable.commitAppendTxn(rows(2000, 4, "b0"), t, Seq("year"), "batch-0") == 1L)
    assert(SnapshotTable.manifest(t, Some(1L)) == filesBefore)
    assert(SnapshotTable.currentVersion(t).contains(1L))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 4)
    // crash between manifest and pointer: data + txn manifest land,
    // pointer does not — the replay ROLLS FORWARD instead of re-appending
    val orphan = SnapshotTable.prepare(rows(2010, 4, "b1"), t, Seq("year"), 1,
      txn = Some("batch-1"))((prev, fresh) => prev ++ fresh)
    assert(orphan == 2L && SnapshotTable.currentVersion(t).contains(1L))
    val v2 = SnapshotTable.commitAppendTxn(rows(2010, 4, "b1"), t, Seq("year"), "batch-1")
    assert(v2 == 2L && SnapshotTable.currentVersion(t).contains(2L))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 8,
      "roll-forward must not re-append the batch")
    // a genuinely new txn appends a new version
    val v3 = SnapshotTable.commitAppendTxn(rows(2020, 4, "b2"), t, Seq("year"), "batch-2")
    assert(v3 == 3L && SnapshotTable.readSnapshot(spark, t).count() == 12)
    assert(SnapshotTable.txnOf(t, 3L).contains("batch-2"))
  }

  test("mergeUpsert inserts into a BRAND-NEW partition (pruned read selects zero files)") {
    val t = freshTable()
    val base = (1 to 10).map(i => (i.toLong, 2000, i * 1.0)).toDF("id", "year", "amount")
    SnapshotTable.commitOverwrite(base, t, Seq("year"))
    // pure insert into year=2030 — no existing files match the pruning;
    // the pre-fix code required a nonempty pruned read and threw
    val changes = Seq((100L, 2030, 5.0, false), (101L, 2030, 6.0, false))
      .toDF("id", "year", "amount", "_del")
    val v = SnapshotTable.mergeUpsert(spark, t, changes,
      keyCols = Seq("id"), partitionCols = Seq("year"), deleteCol = Some("_del"))
    assert(v == 2L)
    val now = SnapshotTable.readSnapshot(spark, t)
    assert(now.count() == 12)
    assert(now.filter(col("year") === 2030).count() == 2)
    // mixed new+existing partitions in one changeset also works
    val mixed = Seq((1L, 2000, 99.0, false), (200L, 2040, 7.0, false))
      .toDF("id", "year", "amount", "_del")
    SnapshotTable.mergeUpsert(spark, t, mixed,
      keyCols = Seq("id"), partitionCols = Seq("year"), deleteCol = Some("_del"))
    val after = SnapshotTable.readSnapshot(spark, t)
    assert(after.count() == 13)
    assert(after.filter(col("id") === 1L).select("amount").head().getDouble(0) == 99.0)
    // deleting EVERY key of a partition removes the partition from the
    // snapshot (empty output writes no files; the explicit replaced set
    // still drops the old ones — the inferred-set bug class)
    val killAll = Seq((100L, 2030, 0.0, true), (101L, 2030, 0.0, true))
      .toDF("id", "year", "amount", "_del")
    SnapshotTable.mergeUpsert(spark, t, killAll,
      keyCols = Seq("id"), partitionCols = Seq("year"), deleteCol = Some("_del"))
    val fin = SnapshotTable.readSnapshot(spark, t)
    assert(fin.filter(col("year") === 2030).count() == 0, "emptied partition must drop")
    assert(fin.count() == 11)
  }

  test("vacuum after a crash-orphan does not wedge the version number (txn replay recovers)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 4, "v1"), t, Seq("year"))
    // crash: data + txn manifest for v2 land, pointer never swaps
    SnapshotTable.prepare(rows(2010, 4, "b1"), t, Seq("year"), 1,
      txn = Some("batch-1"))((prev, fresh) => prev ++ fresh)
    // maintenance runs vacuum BEFORE the replay: the orphan's manifest and
    // files are reclaimed — and its data/v2 directory must go too, or the
    // replay's prepare (ErrorIfExists at the same version) wedges forever
    SnapshotTable.vacuum(spark, t, keepSnapshots = 2, minAgeMs = 0)
    val v = SnapshotTable.commitAppendTxn(rows(2010, 4, "b1"), t, Seq("year"), "batch-1")
    assert(v == 2L && SnapshotTable.currentVersion(t).contains(2L))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 8)
  }

  test("named refs: create/advance, pinned reads, per-ref OCC, vacuum retention (r13 VERDICT #7)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 6, "v1"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2010, 6, "v2"), t, Seq("year"))
    // create: default pins current; explicit pins any snapshot;
    // duplicate name / reserved name / nonexistent snapshot all loud
    assert(SnapshotTable.createRef(t, "main-exp") == 2L)
    assert(SnapshotTable.createRef(t, "baseline", Some(1L)) == 1L)
    intercept[Exception] { SnapshotTable.createRef(t, "baseline") }
    intercept[Exception] { SnapshotTable.createRef(t, "_current") }
    intercept[Exception] { SnapshotTable.createRef(t, "nope", Some(9L)) }
    assert(SnapshotTable.listRefs(t) == Map("main-exp" -> 2L, "baseline" -> 1L))
    // readers pin by NAME
    assert(SnapshotTable.readRef(spark, t, "baseline").count() == 6)
    assert(SnapshotTable.readRef(spark, t, "main-exp").count() == 12)
    // advance with CAS; a stale expectation aborts; rewind is allowed
    SnapshotTable.commitAppend(rows(2020, 6, "v3"), t, Seq("year"))
    assert(SnapshotTable.advanceRef(t, "main-exp", 3L, expected = Some(2L)) == 3L)
    intercept[ConcurrentCommitException] {
      SnapshotTable.advanceRef(t, "main-exp", 1L, expected = Some(2L))
    }
    assert(SnapshotTable.advanceRef(t, "main-exp", 1L) == 1L)
    assert(SnapshotTable.advanceRef(t, "main-exp", 3L, Some(1L)) == 3L)
    // vacuum keeps the ref'd v1 alive even at keepSnapshots = 1 …
    SnapshotTable.vacuum(spark, t, keepSnapshots = 1, minAgeMs = 0)
    assert(SnapshotTable.readRef(spark, t, "baseline").count() == 6)
    // … while unreferenced v2 is reclaimed
    assert(!Files.exists(Paths.get(t, "_manifests", "v00000002.manifest")))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 18)
  }

  test("followChanges tracks a branch ref, not the main pointer") {
    val t = freshTable()
    val wm = s"$t/_wm/exp-consumer"
    SnapshotTable.commitOverwrite(rows(2000, 4, "v1"), t, Seq("year"))
    SnapshotTable.createRef(t, "exp") // pins v1
    SnapshotTable.commitAppend(rows(2010, 4, "v2"), t, Seq("year"))
    var seen = List.empty[(Long, Long, Long)]
    def follow() = SnapshotTable.followChanges(spark, t, wm,
        ref = Some("exp")) { (df, vf, vt) =>
      seen ::= ((vf, vt, df.count()))
    }
    // initial load goes to the BRANCH head (v1), though main is at v2
    assert(follow().contains((0L, 1L)) && seen.head == ((0L, 1L, 4L)))
    // branch unchanged → no-op, whatever main does
    assert(follow().isEmpty)
    SnapshotTable.advanceRef(t, "exp", 2L)
    assert(follow().contains((1L, 2L)) && seen.head == ((1L, 2L, 4L)))
  }

  test("probes degrade across VACUUMED manifest gaps instead of throwing (r14 review)") {
    val t = freshTable()
    // txn batch at v1, pinned; later commits; vacuum opens a chain gap
    val v1 = SnapshotTable.commitAppendTxn(rows(2000, 4, "b0"), t, Seq("year"), "batch-0")
    assert(v1 == 1L)
    SnapshotTable.createRef(t, "pin", Some(1L))
    SnapshotTable.commitAppend(rows(2010, 4, "v2"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2020, 4, "v3"), t, Seq("year"))
    val v4 = SnapshotTable.compact(spark, t, Seq("year"))
    SnapshotTable.vacuum(spark, t, keepSnapshots = 1, minAgeMs = 0)
    // v2/v3 manifests are gone; v1 survives via the pin
    assert(!Files.exists(Paths.get(t, "_manifests", "v00000002.manifest")))
    assert(Files.exists(Paths.get(t, "_manifests", "v00000001.manifest")))
    // txn replay walks the chain THROUGH the gap: must settle as a
    // no-op (retained history ⇒ committed), not crash or double-apply
    assert(SnapshotTable.commitAppendTxn(rows(2000, 4, "b0"), t,
      Seq("year"), "batch-0") == 1L)
    assert(SnapshotTable.readSnapshot(spark, t).count() == 12)
    // changes() across the gap: the compaction probe falls back to the
    // endpoint diff (both endpoints exist) instead of throwing
    val diff = SnapshotTable.changes(spark, t, 1L, v4)
    assert(diff.filter(col("_change_type") === "insert").count() == 8)
    assert(diff.filter(col("_change_type") === "delete").count() == 0)
    // long txn ids are rejected LOUDLY at commit time (the headersOf
    // window contract), not silently truncated
    intercept[Exception] {
      SnapshotTable.commitAppendTxn(rows(2030, 2, "x"), t, Seq("year"), "x" * 300)
    }
    // ...while a 256-char id commits and replays exactly-once
    val longId = "y" * 256
    val vL = SnapshotTable.commitAppendTxn(rows(2030, 2, "y"), t, Seq("year"), longId)
    assert(SnapshotTable.commitAppendTxn(rows(2030, 2, "y"), t, Seq("year"), longId) == vL)
    assert(SnapshotTable.readSnapshot(spark, t).count() == 14)
  }

  test("changes() cancels a pure-compaction range at the manifest level — zero scans (r13 VERDICT #6)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 8, "v1"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2010, 8, "v2"), t, Seq("year"))
    val vPre = SnapshotTable.currentVersion(t).get
    val vC1 = SnapshotTable.compact(spark, t, Seq("year"))
    val vC2 = SnapshotTable.compact(spark, t, Seq("year"))
    assert(SnapshotTable.isCompaction(t, vC1) && SnapshotTable.isCompaction(t, vC2))
    assert(!SnapshotTable.isCompaction(t, vPre))
    // the pure-compaction diff: empty, and the PLAN proves no file was
    // scheduled for scanning (limit-0 collapses to an empty relation)
    val diff = SnapshotTable.changes(spark, t, vPre, vC2)
    assert(diff.collect().isEmpty)
    val scans = diff.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty, s"compaction-only diff planned ${scans.size} file scans")
    // same-version range: also zero-scan empty
    assert(SnapshotTable.changes(spark, t, vC2, vC2).collect().isEmpty)
    // a MIXED range (compaction + append) takes the real diff path and
    // reports exactly the appended rows
    SnapshotTable.commitAppend(rows(2020, 4, "v5"), t, Seq("year"))
    val vNow = SnapshotTable.currentVersion(t).get
    val mixed = SnapshotTable.changes(spark, t, vPre, vNow)
    assert(mixed.filter(col("_change_type") === "insert").count() == 4)
    assert(mixed.filter(col("_change_type") === "delete").count() == 0)
  }

  test("txn orphan SUPERSEDED by an unrelated commit replays as a fresh commit (r13 ADVICE high)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 4, "v1"), t, Seq("year"))
    // crash: data + txn manifest for v2 land, pointer never swaps
    SnapshotTable.prepare(rows(2010, 4, "b1"), t, Seq("year"), 1,
      txn = Some("batch-1"))((prev, fresh) => prev ++ fresh)
    assert(SnapshotTable.currentVersion(t).contains(1L))
    // an UNRELATED commit lands before any replay: it composes from the
    // committed pointer (v1), skipping the orphan, and moves the pointer
    // PAST it — the orphan's rows are now in no live snapshot
    val v3 = SnapshotTable.commitAppend(rows(2020, 4, "other"), t, Seq("year"))
    assert(v3 == 3L && SnapshotTable.currentVersion(t).contains(3L))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 8,
      "orphan rows must not be visible")
    // exactly-once replay: the old probe found the txn manifest at
    // v2 <= pointer and no-op'd "success", silently losing the batch.
    // The committed-chain check sees v2 off-chain and commits fresh.
    val v4 = SnapshotTable.commitAppendTxn(rows(2010, 4, "b1"), t,
      Seq("year"), "batch-1")
    assert(v4 == 4L && SnapshotTable.currentVersion(t).contains(4L))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 12,
      "replayed batch rows must land exactly once")
    // and a SECOND replay is a true no-op: v4 is on the committed chain
    assert(SnapshotTable.commitAppendTxn(rows(2010, 4, "b1"), t,
      Seq("year"), "batch-1") == 4L)
    assert(SnapshotTable.readSnapshot(spark, t).count() == 12)
    // chain introspection: v1→v3→v4 committed, v2 off-chain
    assert(SnapshotTable.prevOf(t, 4L).contains(3L))
    assert(SnapshotTable.prevOf(t, 3L).contains(1L))
    assert(SnapshotTable.onCommittedChain(t, 1L))
    assert(!SnapshotTable.onCommittedChain(t, 2L))
  }

  test("vacuum retention window spares young unreferenced artifacts (r13 ADVICE medium)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 4, "v1"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2010, 4, "v2"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2020, 4, "v3"), t, Seq("year"))
    // a just-prepared orphan stands in for an in-flight commit's files
    // (writeData runs before the table lock is taken)
    SnapshotTable.prepare(rows(2030, 4, "inflight"), t, Seq("year"), 1)(
      (prev, fresh) => prev ++ fresh)
    val manifestsBefore = SnapshotTable.snapshots(t).size
    // default retention: everything here is seconds old — nothing deleted
    val (f0, m0) = SnapshotTable.vacuum(spark, t, keepSnapshots = 1)
    assert(f0 == 0 && m0 == 0, "young files must survive the default window")
    assert(SnapshotTable.snapshots(t).size == manifestsBefore)
    assert(SnapshotTable.readSnapshot(spark, t).count() == 12)
    // explicit zero window: expired versions + the orphan reclaimed
    val (f1, m1) = SnapshotTable.vacuum(spark, t, keepSnapshots = 1, minAgeMs = 0)
    assert(f1 > 0 && m1 == 3, s"expected 3 manifests reclaimed, got $m1")
    assert(SnapshotTable.readSnapshot(spark, t).count() == 12)
  }

  test("schema evolution: strict read fails loudly; opt-in reads NULLs for pre-evolution commits") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 4, "old"), t, Seq("year"))
    val widened = rows(2010, 4, "new").withColumn("lang", lit("en"))
    SnapshotTable.commitAppend(widened, t, Seq("year"))
    intercept[Exception] { SnapshotTable.readSnapshot(spark, t).collect() }
    val evolved = SnapshotTable.readSnapshot(spark, t, allowSchemaEvolution = true)
    assert(evolved.count() == 8)
    assert(evolved.filter(col("lang").isNull).count() == 4, "old rows read NULL lang")
    assert(evolved.filter(col("lang") === "en").count() == 4)
    // the pre-evolution snapshot still reads strict (one schema inside it)
    assert(SnapshotTable.readSnapshot(spark, t, Some(1L)).columns.toSet ==
      Set("id", "payload", "year"))
  }

  test("compact rewrites the snapshot into one commit dir; content identical; history intact") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 6, "a"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2010, 6, "b"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2020, 6, "c"), t, Seq("year"))
    val commitDirs = SnapshotTable.manifest(t, None)
      .map(_.relPath.split("/").take(2).mkString("/")).distinct
    assert(commitDirs.size == 3, "append history should span 3 commit dirs")
    val before = SnapshotTable.readSnapshot(spark, t)
      .orderBy("id", "year").collect().map(_.toString).toSeq
    val v = SnapshotTable.compact(spark, t, Seq("year"))
    assert(v == 4L)
    val after = SnapshotTable.readSnapshot(spark, t)
      .orderBy("id", "year").collect().map(_.toString).toSeq
    assert(after == before)
    assert(SnapshotTable.manifest(t, None)
      .map(_.relPath.split("/").take(2).mkString("/")).distinct.size == 1,
      "compacted snapshot should read from ONE commit dir")
    assert(SnapshotTable.readSnapshot(spark, t, Some(3L)).count() == 18)
  }

  test("maintainAggregate: snapshot-atomic delta apply; new partitions; history intact") {
    val t = freshTable()
    val base = Seq(
      (2000, "A", 10L, 100.0), (2000, "B", 5L, 50.0), (2001, "A", 7L, 70.0)
    ).toDF("year", "grp", "n", "revenue")
    SnapshotTable.commitOverwrite(base, t, Seq("year"))
    val changes = Seq(
      (2000, "A", 2.0, false),  // +1 count, +2 revenue
      (2000, "A", 3.0, true),   // -1 count, -3 revenue (delete image)
      (2000, "B", 1.0, false),
      (2002, "C", 9.0, false)   // BRAND-NEW partition
    ).toDF("year", "grp", "rev", "_del")
    val v = SnapshotTable.maintainAggregate(spark, t, changes,
      groupCols = Seq("year", "grp"), countCol = "n",
      sumCols = Map("revenue" -> col("rev")), partitionCols = Seq("year"),
      deleteCol = Some("_del"))
    assert(v == 2L)
    val now = SnapshotTable.readSnapshot(spark, t)
      .select("year", "grp", "n", "revenue").orderBy("year", "grp")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(now == Seq(
      (2000, "A", 10L, 99.0), (2000, "B", 6L, 51.0),
      (2001, "A", 7L, 70.0), (2002, "C", 1L, 9.0)), now.toString)
    // pre-maintenance state time-travels; untouched 2001 files carried over
    assert(SnapshotTable.readSnapshot(spark, t, Some(1L)).count() == 3)
    val m1 = SnapshotTable.manifest(t, Some(1L)).filter(_.partSpec == "year=2001").toSet
    val m2 = SnapshotTable.manifest(t, Some(2L)).filter(_.partSpec == "year=2001").toSet
    assert(m1 == m2 && m1.nonEmpty)
    // a group maintained to zero count drops
    val kill = Seq((2002, "C", 9.0, true)).toDF("year", "grp", "rev", "_del")
    SnapshotTable.maintainAggregate(spark, t, kill, Seq("year", "grp"), "n",
      Map("revenue" -> col("rev")), Seq("year"), Some("_del"))
    assert(SnapshotTable.readSnapshot(spark, t).filter(col("grp") === "C").count() == 0)
  }

  test("stats pruning: range-clustered commit records bounds; predicate skips >half the files") {
    val t = freshTable()
    val df = (1 to 4000).map(i => (i.toLong, s"payload-$i")).toDF("id", "payload")
    SnapshotTable.commitOverwrite(df, t, Nil, filesPerPartition = 8,
      clusterBy = Seq(col("id")), statsCols = Seq("id"))
    val entries = SnapshotTable.manifest(t, None)
    assert(entries.size == 8, s"expected 8 range-clustered files, got ${entries.size}")
    assert(entries.forall(_.stats.contains("id")), "every file must carry id bounds")
    // bounds must be disjoint-ish (range clustering): total rows covered
    val full = SnapshotTable.readSnapshot(spark, t)
    val pruned = SnapshotTable.readSnapshot(spark, t,
      statsPruning = st => ColStats.overlaps(st, "id", "100", "400"))
      .filter(col("id").between(100L, 400L))
    assert(pruned.count() == 301)
    assert(pruned.inputFiles.length.toDouble / entries.size < 0.5,
      s"stats pruning touched ${pruned.inputFiles.length} of ${entries.size} files")
    // pruning is only ever a superset cut: result equals full-scan filter
    assert(pruned.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      full.filter(col("id").between(100L, 400L)).orderBy("id")
        .collect().map(_.getLong(0)).toSeq)
    // a file with NO stats is never skipped (may-contain default)
    SnapshotTable.commitAppend(Seq((150L, "nostats")).toDF("id", "payload"), t)
    val after = SnapshotTable.readSnapshot(spark, t,
      statsPruning = st => ColStats.overlaps(st, "id", "150", "150"))
      .filter(col("id") === 150L)
    assert(after.count() == 2, "stats-less file must survive pruning")
  }

  test("stats pruning is typed: DATE bounds compare as ISO strings, STRING bounds lexically") {
    val t = freshTable()
    val df = (0 until 730).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        f"k$i%04d")
    }.toDF("id", "d", "k")
    SnapshotTable.commitOverwrite(df, t, Nil, filesPerPartition = 8,
      clusterBy = Seq(col("d")), statsCols = Seq("d", "k"))
    val entries = SnapshotTable.manifest(t, None)
    assert(entries.forall(e => e.stats.get("d").exists(_.dataType == "date")))
    // a one-month date range touches ~1 of 8 range-clustered files
    val feb = SnapshotTable.readSnapshot(spark, t,
        statsPruning = st => ColStats.overlaps(st, "d", "2020-02-01", "2020-02-29"))
      .filter(col("d").between("2020-02-01", "2020-02-29"))
    assert(feb.count() == 29)
    assert(feb.inputFiles.length < entries.size / 2,
      s"date stats pruned nothing: ${feb.inputFiles.length}/${entries.size}")
    // string bounds: k is zero-padded so lexical == numeric order here;
    // the clusterBy on d makes k ranges track d ranges
    val ks = SnapshotTable.readSnapshot(spark, t,
        statsPruning = st => ColStats.overlaps(st, "k", "k0100", "k0150"))
      .filter(col("k").between("k0100", "k0150"))
    assert(ks.count() == 51)
    assert(ks.inputFiles.length < entries.size)
    // a predicate outside EVERY file's bounds returns the empty frame
    // (the "query misses the table" case), schema intact, zero files
    val miss = SnapshotTable.readSnapshot(spark, t,
      statsPruning = st => ColStats.overlaps(st, "d", "2031-01-01", "2031-12-31"))
    assert(miss.count() == 0 && miss.columns.toSet == Set("id", "d", "k"))
    // non-finite numeric bounds are unorderable: the file is KEPT
    assert(ColStats.overlaps(
      Map("x" -> ColStats("double", "1.0", "NaN")), "x", "5.0", "6.0"))
    assert(ColStats.overlaps(
      Map("x" -> ColStats("double", "1.0", "Infinity")), "x", "5.0", "6.0"))
    // ...but an ORDERABLE bound still prunes even next to a non-finite
    // one: max = 2.0 proves the file cannot contain [5, 6]
    assert(!ColStats.overlaps(
      Map("x" -> ColStats("double", "-Infinity", "2.0")), "x", "5.0", "6.0"))
  }

  test("z-order clusterBy composes with stats: a 2-D range predicate skips files on BOTH columns") {
    val t = freshTable()
    // two independent dimensions: interleaved-bit clustering gives every
    // file a tight box in (x, y) space, so a box predicate prunes in both
    val df = (0 until 4096).map { i =>
      val x = (i * 2654435761L % 4096).toInt
      val y = (i * 40503 % 4096).toInt
      (i.toLong, x, y)
    }.toDF("id", "x", "y")
    val z = ZOrder.value(df, Seq("x", "y"), bitsPerCol = 4)
    SnapshotTable.commitOverwrite(df, t, Nil, filesPerPartition = 16,
      clusterBy = Seq(z), statsCols = Seq("x", "y"))
    val entries = SnapshotTable.manifest(t, None)
    assert(entries.size == 16)
    assert(entries.forall(e => e.stats.contains("x") && e.stats.contains("y")))
    val boxed = SnapshotTable.readSnapshot(spark, t,
        statsPruning = st => ColStats.overlaps(st, "x", "0", "1000") &&
          ColStats.overlaps(st, "y", "0", "1000"))
      .filter(col("x").between(0, 1000) && col("y").between(0, 1000))
    val frac = boxed.inputFiles.length.toDouble / entries.size
    assert(frac < 0.5, s"z-order + 2-D stats pruning touched $frac of files")
    // identical to the full-scan filter (pruning is only a superset cut)
    val full = SnapshotTable.readSnapshot(spark, t)
      .filter(col("x").between(0, 1000) && col("y").between(0, 1000))
    assert(boxed.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      full.orderBy("id").collect().map(_.getLong(0)).toSeq)
    // single-column clustering would NOT prune the second dimension this
    // well: x-only clustering leaves y bounds ~full-range per file
    val tx = freshTable()
    SnapshotTable.commitOverwrite(df, tx, Nil, filesPerPartition = 16,
      clusterBy = Seq(col("x")), statsCols = Seq("x", "y"))
    val xOnly = SnapshotTable.readSnapshot(spark, tx,
        statsPruning = st => ColStats.overlaps(st, "x", "0", "1000") &&
          ColStats.overlaps(st, "y", "0", "1000"))
      .filter(col("x").between(0, 1000) && col("y").between(0, 1000))
    assert(boxed.inputFiles.length <= xOnly.inputFiles.length,
      "z-order must prune at least as well as single-column clustering on a 2-D box")
  }

  test("merge-on-read deletes: scattered delete rewrites nothing; reads resolve; compact absorbs") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 40, "a"), t, Seq("year"), filesPerPartition = 2)
    // snapshot the byte state of every data file before the delete
    def dataFileState(): Map[String, Long] = {
      val walk = Files.walk(Paths.get(t, "data"))
      try {
        val b = Map.newBuilder[String, Long]
        walk.forEach(p =>
          if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
            b += p.toString -> Files.size(p))
        b.result()
      } finally walk.close()
    }
    val filesBeforeDelete = dataFileState()
    val before = SnapshotTable.readSnapshot(spark, t)
    assert(before.count() == 40)
    val delKeys = Seq(3L, 17L, 29L).toDF("id")
    val v2 = SnapshotTable.commitDeleteByKeys(t, delKeys, Seq("id"))
    assert(v2 == 2L)
    val now = SnapshotTable.readSnapshot(spark, t)
    assert(now.count() == 37)
    assert(now.filter(col("id").isin(3L, 17L, 29L)).count() == 0)
    // v1 time-travels to the pre-delete corpus
    assert(SnapshotTable.readSnapshot(spark, t, Some(1L)).count() == 40)
    // the delete rewrote NO data file: v1's entries carried over verbatim
    // and every pre-existing parquet file is byte-untouched on disk
    val m1 = SnapshotTable.manifest(t, Some(1L)).toSet
    val m2data = SnapshotTable.manifest(t, Some(2L)).filterNot(_.isDelete).toSet
    assert(m1 == m2data, "delete commit must not touch data entries")
    val filesAfterDelete = dataFileState()
    assert(filesBeforeDelete.forall { case (p, sz) =>
      filesAfterDelete.get(p).contains(sz) },
      "a merge-on-read delete must leave existing data files untouched")
    // a row re-inserted AFTER the delete survives (sequence-number rule:
    // deletes only mask OLDER files)
    SnapshotTable.commitAppend(Seq((3L, 2001, "reborn")).toDF("id", "year", "payload"),
      t, Seq("year"))
    val reborn = SnapshotTable.readSnapshot(spark, t).filter(col("id") === 3L)
    assert(reborn.count() == 1 &&
      reborn.select("payload").head().getString(0) == "reborn")
    // compact absorbs the delete files: content identical, no delete entries
    val contentBefore = SnapshotTable.readSnapshot(spark, t)
      .orderBy("id", "year").collect().map(_.toString).toSeq
    SnapshotTable.compact(spark, t, Seq("year"))
    assert(SnapshotTable.manifest(t, None).forall(!_.isDelete))
    assert(SnapshotTable.readSnapshot(spark, t)
      .orderBy("id", "year").collect().map(_.toString).toSeq == contentBefore)
  }

  test("OCC: concurrent disjoint-partition mergeUpserts both land; overlap aborts") {
    val t = freshTable()
    val base = (1 to 30).map(i => (i.toLong, 2000 + i % 3, i * 10.0))
      .toDF("id", "year", "amount")
    SnapshotTable.commitOverwrite(base, t, Seq("year"))
    // two writers prepared against v1, racing: year=2000 vs year=2001
    val chA = Seq((3L, 2000, 111.0, false)).toDF("id", "year", "amount", "_del")
    val chB = Seq((4L, 2001, 222.0, false)).toDF("id", "year", "amount", "_del")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(SnapshotTable.mergeUpsert(spark, t, chA,
      keyCols = Seq("id"), partitionCols = Seq("year"), deleteCol = Some("_del")))
    val fb = Future(SnapshotTable.mergeUpsert(spark, t, chB,
      keyCols = Seq("id"), partitionCols = Seq("year"), deleteCol = Some("_del")))
    val (va, vb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
    assert(Set(va, vb).size == 2, s"both must land at distinct versions: $va, $vb")
    val now = SnapshotTable.readSnapshot(spark, t)
    assert(now.filter(col("id") === 3L).select("amount").head().getDouble(0) == 111.0)
    assert(now.filter(col("id") === 4L).select("amount").head().getDouble(0) == 222.0)
    assert(now.count() == 30)
    // OVERLAP: a commit prepared against a stale base targeting a since-
    // replaced partition must abort deterministically
    val cur = SnapshotTable.currentVersion(t).get
    val stale = Seq((5L, 2000, 999.0)).toDF("id", "year", "amount")
    intercept[ConcurrentCommitException] {
      SnapshotTable.commitReplacePartitions(stale, t, Seq("year"),
        baseVersion = Some(1L))
    }
    // nothing moved: pointer and content unchanged by the abort
    assert(SnapshotTable.currentVersion(t).contains(cur))
    assert(SnapshotTable.readSnapshot(spark, t).count() == 30)
    // overwrite aborts on ANY interleave (rebasing would drop rows)
    intercept[ConcurrentCommitException] {
      SnapshotTable.commitOverwrite(base, t, Seq("year"),
        baseVersion = Some(1L))
    }
  }

  test("changes(vFrom, vTo): manifest-diff CDC replays merge + MoR delete; drives maintainAggregate") {
    val t = freshTable()
    val base = (1 to 30).map(i => (i.toLong, 2000 + i % 3, i * 10.0))
      .toDF("id", "year", "amount")
    SnapshotTable.commitOverwrite(base, t, Seq("year"))
    // v2: merge (update id=3, delete id=6, insert id=100)
    val ch = Seq((3L, 2000, 999.0, false), (6L, 2000, 0.0, true),
      (100L, 2000, 42.0, false)).toDF("id", "year", "amount", "_del")
    SnapshotTable.mergeUpsert(spark, t, ch, Seq("id"), Seq("year"), Some("_del"))
    // v3: merge-on-read delete of id in {9, 10}
    SnapshotTable.commitDeleteByKeys(t, Seq(9L, 10L).toDF("id"), Seq("id"))
    val cdc = SnapshotTable.changes(spark, t, 1L, 3L)
      .select("_change_type", "id", "amount").orderBy("_change_type", "id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(cdc == Seq(
      ("delete", 3L, 30.0), ("delete", 6L, 60.0), ("delete", 9L, 90.0),
      ("delete", 10L, 100.0),
      ("insert", 3L, 999.0), ("insert", 100L, 42.0)), cdc.toString)
    // identical versions diff to nothing; compaction-only diffs cancel
    assert(SnapshotTable.changes(spark, t, 3L, 3L).count() == 0)
    SnapshotTable.compact(spark, t, Seq("year"))
    assert(SnapshotTable.changes(spark, t, 3L, 4L).count() == 0,
      "row-preserving compaction must produce an empty CDC")
    // end-to-end: an aggregate table maintained FROM the CDC equals recompute
    val aggT = freshTable()
    val agg1 = SnapshotTable.readSnapshot(spark, t, Some(1L))
      .groupBy("year").agg(count(lit(1)).as("n"), sum("amount").as("total"))
    SnapshotTable.commitOverwrite(agg1, aggT, Seq("year"))
    val feed = SnapshotTable.changes(spark, t, 1L, 3L)
      .withColumn("_del", col("_change_type") === "delete")
    SnapshotTable.maintainAggregate(spark, aggT, feed, Seq("year"), "n",
      Map("total" -> col("amount")), Seq("year"), Some("_del"))
    val maintained = SnapshotTable.readSnapshot(spark, aggT)
      .select("year", "n", "total").orderBy("year")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val recomputed = SnapshotTable.readSnapshot(spark, t)
      .groupBy("year").agg(count(lit(1)).as("n"), sum("amount").as("total"))
      .select("year", "n", "total").orderBy("year")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(maintained == recomputed, s"$maintained vs $recomputed")
  }

  test("followChanges: initial load, per-range CDC, no-op when current, crash redelivers") {
    val t = freshTable()
    val wm = s"$t/_consumer_wm"
    val base = (1 to 20).map(i => (i.toLong, 2000 + i % 2, i * 10.0))
      .toDF("id", "year", "amount")
    SnapshotTable.commitOverwrite(base, t, Seq("year"))
    var seen = Vector.empty[(String, Long, Long, Long)] // tag, rows, vFrom, vTo
    def run(tag: String, fail: Boolean = false) =
      SnapshotTable.followChanges(spark, t, wm) { (df, vf, vt) =>
        if (fail) sys.error("consumer crash")
        seen :+= ((tag, df.count(), vf, vt))
      }
    // initial load: the whole snapshot as inserts, watermark lands at v1
    assert(run("init").contains((0L, 1L)))
    assert(seen == Vector(("init", 20L, 0L, 1L)))
    // current watermark: no-op, process never runs
    assert(run("noop").isEmpty && seen.size == 1)
    // v2 merge + v3 MoR delete, then ONE follow call sees the fused range
    val ch = Seq((3L, 2001, 999.0, false), (100L, 2000, 5.0, false))
      .toDF("id", "year", "amount", "_del")
    SnapshotTable.mergeUpsert(spark, t, ch, Seq("id"), Seq("year"), Some("_del"))
    SnapshotTable.commitDeleteByKeys(t, Seq(4L).toDF("id"), Seq("id"))
    // crash inside process: watermark untouched, next call REDELIVERS
    intercept[RuntimeException] { run("crash", fail = true) }
    assert(run("retry").contains((1L, 3L)))
    // delete id=3 (update) + delete id=4 (MoR) + insert id=3' + insert id=100
    assert(seen.last == ("retry", 4L, 1L, 3L), seen.toString)
    assert(run("noop2").isEmpty)
  }

  test("vacuum reclaims only unreferenced files; kept versions still read") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 6, "a"), t, Seq("year"))
    SnapshotTable.commitOverwrite(rows(2000, 6, "b"), t, Seq("year"))
    SnapshotTable.commitAppend(rows(2010, 6, "c"), t, Seq("year"))
    val (files, manifests) = SnapshotTable.vacuum(spark, t, keepSnapshots = 2, minAgeMs = 0)
    assert(manifests == 1L, "exactly v1 should expire")
    assert(files > 0L, "v1's unshared files should be reclaimed")
    // kept versions fully readable (v3 shares v2's files via the append)
    assert(SnapshotTable.readSnapshot(spark, t, Some(2L)).count() == 6)
    assert(SnapshotTable.readSnapshot(spark, t, Some(3L)).count() == 12)
    intercept[Exception] { SnapshotTable.readSnapshot(spark, t, Some(1L)).count() }
  }

  test("metadataAggregate: counts/bounds equal a full scan with ZERO data-file scans (r14 VERDICT #2)") {
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 10, "a"), t, Seq("year"),
      statsCols = Seq("id"))
    SnapshotTable.commitAppend(rows(2000, 6, "b").withColumn("id", col("id") + 100L),
      t, Seq("year"), statsCols = Seq("id"))
    val meta = SnapshotTable.metadataAggregate(spark, t, Seq("id"))
    // the receipt: the metadata frame plans NO file scan of any kind
    val scans = meta.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.isEmpty, s"metadata aggregate planned ${scans.size} file scans")
    val got = meta.select("part_spec", "n_files", "n_rows", "mins", "maxs")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getAs[Map[String, String]](3)("id").toLong,
        r.getAs[Map[String, String]](4)("id").toLong)).toSeq
    // full-scan twin
    val full = SnapshotTable.readSnapshot(spark, t)
      .groupBy(concat(lit("year="), col("year")).as("part_spec"))
      .agg(count(lit(1)).as("n_rows"), min("id").as("mn"), max("id").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got.nonEmpty && got.size == full.size)
    got.foreach { case (spec, nf, nr, mn, mx) =>
      val (fnr, fmn, fmx) = full(spec)
      assert(nf == 2L, s"$spec: expected 1 file per commit, got $nf")
      assert(nr == fnr && mn == fmn && mx == fmx,
        s"$spec: metadata ($nr, $mn, $mx) != scan ($fnr, $fmn, $fmx)")
    }
    // numeric fold discipline: "9" < "10" must fold numerically — plant
    // a table whose string ordering would lie
    val t2 = freshTable()
    SnapshotTable.commitOverwrite(
      Seq((9L, 2000, "x")).toDF("id", "year", "payload"), t2, Seq("year"),
      statsCols = Seq("id"))
    SnapshotTable.commitAppend(
      Seq((10L, 2000, "y")).toDF("id", "year", "payload"), t2, Seq("year"),
      statsCols = Seq("id"))
    val m2 = SnapshotTable.metadataAggregate(spark, t2, Seq("id")).head()
    assert(m2.getAs[Map[String, String]]("mins")("id") == "9" &&
      m2.getAs[Map[String, String]]("maxs")("id") == "10")
  }

  test("metadataAggregate refuses pending deletes and unrecorded row counts") {
    // pending merge-on-read delete: counts would overcount — refuse
    val t = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 10, "a"), t, Seq("year"),
      statsCols = Seq("id"))
    SnapshotTable.commitDeleteByKeys(t, Seq(3L).toDF("id"), Seq("id"))
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.metadataAggregate(spark, t)
    }
    assert(e1.getMessage.contains("merge-on-read delete"), e1.getMessage)
    // compaction absorbs the delete AND re-records stats: answerable again
    SnapshotTable.compact(spark, t, Seq("year"), statsCols = Seq("id"))
    val after = SnapshotTable.metadataAggregate(spark, t, Seq("id"))
      .agg(sum("n_rows")).head().getLong(0)
    assert(after == 9L)
    // TIME TRAVEL: the aggregate answers for any historical version
    val tv = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 6, "a"), tv, Seq("year"),
      statsCols = Seq("id"))
    SnapshotTable.commitAppend(rows(2000, 4, "b"), tv, Seq("year"),
      statsCols = Seq("id"))
    def totalAt(v: Long) =
      SnapshotTable.metadataAggregate(spark, tv, version = Some(v))
        .agg(sum("n_rows")).head().getLong(0)
    assert(totalAt(1L) == 6L && totalAt(2L) == 10L)
    // commit WITHOUT statsCols records no row counts — refuse
    val t2 = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 4, "a"), t2, Seq("year"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.metadataAggregate(spark, t2)
    }
    assert(e2.getMessage.contains("no recorded row count"), e2.getMessage)
    // missing bounds for a requested column — refuse
    val t3 = freshTable()
    SnapshotTable.commitOverwrite(rows(2000, 4, "a"), t3, Seq("year"),
      statsCols = Seq("id"))
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.metadataAggregate(spark, t3, Seq("payload"))
    }
    assert(e3.getMessage.contains("no bounds for column payload"), e3.getMessage)
  }

  test("header cache never serves a dead table's headers after the path is " +
       "recreated at the same version numbers (r15 ADVICE, medium)") {
    val t = freshTable()
    SnapshotTable.commitAppendTxn(rows(2000, 4, "old"), t, Seq("year"), "txn-OLD")
    // fill the cache with v1's header through the public probe
    assert(SnapshotTable.txnOf(t, 1L).contains("txn-OLD"))
    // simulate the table directory deleted and RECREATED at the same path
    // (same version numbers recycled — the exactly-once hole the r15
    // advice describes: a stale cached header would let a replay of the
    // dead txn no-op as 'committed')
    def rmTree(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).forEach(rmTree(_))
      Files.deleteIfExists(p)
    }
    rmTree(Paths.get(t))
    Files.createDirectories(Paths.get(t))
    SnapshotTable.commitAppendTxn(rows(2010, 3, "new"), t, Seq("year"), "txn-NEW")
    // the v1 header must be the NEW table's, not the cached dead one
    assert(SnapshotTable.txnOf(t, 1L).contains("txn-NEW"))
    // and the replay contract follows: the dead txn is NOT committed here,
    // so commitAppendTxn("txn-OLD") must apply (new version), not no-op
    val v = SnapshotTable.commitAppendTxn(rows(2020, 2, "re"), t, Seq("year"), "txn-OLD")
    assert(v == 2L, s"dead txn replayed as no-op against recreated table (got v$v)")
  }
}
