package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.Base64

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A concurrent commit lost the optimistic race and could NOT be rebased:
  * an interleaved commit touched the same partitions (or was an
  * overwrite/global delete). The caller's data files are orphans —
  * unreachable by readers, reclaimed by [[SnapshotTable.vacuum]] — so
  * retrying the whole operation from a fresh snapshot read is safe. */
final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

/** Per-file column statistics carried in the manifest: the Iceberg-style
  * min/max bounds that let a non-partition predicate skip files BEFORE
  * planning. `dataType` is the Catalyst catalogString at write time;
  * min/max are the `CAST(... AS STRING)` renderings, compared numerically
  * for numeric types and lexically otherwise (ISO dates/timestamps are
  * lexical-ordered by construction). */
final case class ColStats(dataType: String, min: String, max: String)

object ColStats {
  private def isNumeric(t: String): Boolean =
    t == "tinyint" || t == "smallint" || t == "int" || t == "bigint" ||
      t == "float" || t == "double" || t.startsWith("decimal")

  def cmp(dataType: String, a: String, b: String): Int =
    if (isNumeric(dataType)) BigDecimal(a).compare(BigDecimal(b))
    else a.compareTo(b)

  /** May a file with these stats contain a value of `colName` in
    * `[lo, hi]`? Files lacking stats for the column always MAY — skipping
    * is only ever proven safe, never guessed. Non-finite numeric bounds
    * (a file whose max is NaN/Infinity — Spark's max() ranks NaN
    * greatest) are unorderable: the file is KEPT, never skipped on a
    * comparison that would throw. */
  def overlaps(stats: Map[String, ColStats], colName: String,
               lo: String, hi: String): Boolean =
    stats.get(colName).forall { s =>
      try cmp(s.dataType, s.max, lo) >= 0 && cmp(s.dataType, s.min, hi) <= 0
      catch { case _: NumberFormatException => true }
    }
}

/** Manifest-based VERSIONED table: atomic snapshot commits, read-at-
  * snapshot, and time travel over plain parquet — the table-level
  * atomicity [[LakeLayout.mergeUpsert]]'s dynamic partition overwrite
  * lacks (r11 VERDICT #2: a reader racing an in-place maintenance pass
  * could see partition A new + partition B old).
  *
  * == Layout (the public Iceberg/Delta shape, minimally) ==
  * {{{
  *   table/
  *     data/u<nano>-<seq>/[p=.../]part-*.parquet  immutable, append-only
  *     _manifests/v00000001.manifest              file list of snapshot 1
  *     _current                                   pointer: highest committed version
  * }}}
  *
  * A commit (a) writes NEW data files under a fresh uniquely-named
  * `data/u...` directory — existing files are never touched and two
  * writers can never collide on a directory, (b) composes and writes the
  * new snapshot's manifest (every file of version N, tab-separated
  * `partitionSpec \t relativePath [\t attrs]` lines), and only then (c)
  * swaps the `_current` pointer via write-temp + ATOMIC_MOVE (the
  * [[JdbcIncremental]] watermark discipline). The pointer swap IS the
  * commit point:
  *
  *  - a reader pinned to snapshot N reads a byte-stable file set no
  *    matter how many commits land meanwhile (nothing it references is
  *    ever rewritten);
  *  - a crash anywhere before the pointer swap leaves version N fully
  *    readable — the orphaned data directory and manifest are invisible
  *    to readers and reclaimed by [[vacuum]];
  *  - `_manifests/vN.manifest` is created with a no-replace move, so a
  *    racing committer from ANOTHER process fails LOUDLY instead of
  *    silently clobbering.
  *
  * == Optimistic concurrency (same-process writers) ==
  * Commits within one JVM serialize their manifest-compose + pointer-swap
  * critical section on a per-table lock; the expensive data writes still
  * run fully in parallel. A committer whose base snapshot was advanced by
  * an interleaved commit REBASES when that is provably safe — appends and
  * delete-key commits always; replace-partitions/mergeUpsert/
  * maintainAggregate only when the interleaved commits touched DISJOINT
  * partitions — and otherwise aborts with [[ConcurrentCommitException]]
  * (overwrites abort on any interleave: rebasing one would silently drop
  * the other's rows). Cross-process racing stays the loud-failure regime
  * via the no-replace manifest move; on S3-class object stores the
  * pointer swap additionally needs a conditional PUT or external lock —
  * documented constraint, not hidden.
  *
  * == Manifest entry attributes (3rd tab field, `k=v;k=v`) ==
  *  - `v=N` — the commit version that ADDED the file (carried over
  *    verbatim when later manifests re-reference it);
  *  - `kind=d`, `keys=c1,c2` — a merge-on-read DELETE-KEY file (see
  *    [[commitDeleteByKeys]]): its rows are keys to anti-join away from
  *    every data file with a SMALLER commit version, the Iceberg
  *    equality-delete / sequence-number rule. [[compact]] absorbs
  *    deletes back into data files;
  *  - `stats=...` — per-file column min/max ([[ColStats]]), written when
  *    the committer passes `statsCols`; [[readSnapshot]]'s `statsPruning`
  *    skips files whose bounds provably exclude the predicate BEFORE any
  *    Spark scan is planned. Pair with `clusterBy` (range-clustered file
  *    layout, composable with [[LakeLayout.zorderValue]]) so bounds are
  *    tight enough to skip.
  *
  * Reads: the manifest is the unit of PRUNING — partition pruning and
  * stats pruning both select the file subset driver-side (manifest rows
  * are file-count-bounded) before planning. Partition directory names
  * follow hive layout, so partition columns come back via each commit
  * directory's `basePath` read; one snapshot unions at most
  * #contributing-commits scans (compaction resets that to one).
  *
  * CONTRACT: partition values must be path-safe (no `/`, `=`, newline,
  * or nulls) — the hive-layout restriction; enforce upstream. Stats and
  * delete-key column names must be plain identifiers (no `,;=~|` or
  * whitespace).
  *
  * Reference surface: the candy pipeline overwrites per-day MySQL tables
  * in place (`reference/src/data_processor.py:137-145`) — versioned
  * snapshots are part of the 100 TB extensions.
  */
object SnapshotTable {

  /** One field of a versioned table schema: `id` is the Iceberg-style
    * FIELD ID — assigned once when the column first appears and stable
    * across renames, so column identity is the id, never the name.
    * `dataType` is the Catalyst catalogString. */
  final case class FieldDef(id: Int, name: String, dataType: String)

  /** Explicit schema-evolution operations ([[evolveSchema]]) — the
    * Iceberg DDL discipline: data commits never drop or rename columns,
    * only these metadata-only commits do. */
  sealed trait SchemaOp
  final case class AddColumn(name: String, dataType: String) extends SchemaOp
  final case class RenameColumn(from: String, to: String) extends SchemaOp
  final case class DropColumn(name: String) extends SchemaOp
  /** Lossless type promotion (Iceberg's type-evolution matrix):
    * smallint→int/bigint, int→bigint, float→double, and decimal
    * precision widening at fixed scale. The field id is unchanged;
    * readers cast old files' physical values up to the target type. */
  final case class WidenColumn(name: String, toType: String) extends SchemaOp

  final case class ManifestEntry(partSpec: String, relPath: String,
                                 attrs: Map[String, String] = Map.empty) {
    /** Merge-on-read delete-key file? */
    def isDelete: Boolean = attrs.get("kind").contains("d")

    /** The commit version that added this file. Legacy entries (pre-attrs
      * manifests) encoded it in the `data/vNNNNNNNN` directory name. */
    def commitVersion: Long = attrs.get("v").map(_.toLong).getOrElse {
      val dir = relPath.split("/")(1)
      val digits = dir.dropWhile(!_.isDigit).takeWhile(_.isDigit)
      if (digits.isEmpty) 0L else digits.toLong
    }

    /** Key columns of a delete-key file. */
    def deleteKeyCols: Seq[String] =
      attrs.get("keys").map(_.split(",").toSeq).getOrElse(Nil)

    /** Per-file column stats, if recorded at commit time. */
    def stats: Map[String, ColStats] =
      attrs.get("stats").map(decodeStats).getOrElse(Map.empty)

    /** Exact row count of this data file, if recorded at commit time
      * (commits with `statsCols` record it from the same read-back pass
      * that bounds the columns). */
    def rowCount: Option[Long] = attrs.get("rows").map(_.toLong)

    /** Per-file BLOOM FILTERS (col → serialized spark.util.sketch bytes),
      * recorded when the committer passes `bloomCols` — the point-lookup
      * twin of [[stats]]: min/max bounds prune RANGE predicates on
      * clustered layouts, blooms prune EQUALITY probes on layouts where
      * every file's key range overlaps (the common unclustered case). */
    def blooms: Map[String, Array[Byte]] =
      attrs.get("bloom").map(decodeBlooms).getOrElse(Map.empty)
  }

  // ---------------------------------------------------------------- paths

  private def root(tablePath: String): String = {
    val r = tablePath.stripPrefix("file://").stripPrefix("file:")
    r.stripSuffix("/")
  }
  private def manifestDir(t: String) = Paths.get(root(t), "_manifests")
  private def manifestPath(t: String, v: Long) =
    manifestDir(t).resolve(f"v$v%08d.manifest")
  private def pointerPath(t: String) = Paths.get(root(t), "_current")

  /** Commit sections (manifest compose + pointer swap) serialize on this
    * per-table lock within the JVM — the optimistic-concurrency regime.
    * Data writes happen OUTSIDE the lock. */
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(tablePath: String): Object =
    tableLocks.computeIfAbsent(root(tablePath), _ => new Object)

  private val dirSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Highest COMMITTED version (the pointer), if any. */
  def currentVersion(tablePath: String): Option[Long] = {
    val p = pointerPath(tablePath)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
    else None
  }

  /** All manifest versions on disk, ascending (committed history plus
    * any crash-orphaned preparation — orphans are > the pointer). */
  def snapshots(tablePath: String): Seq[Long] = {
    val d = manifestDir(tablePath)
    if (!Files.exists(d)) return Nil
    val it = Files.list(d).iterator()
    val vs = Seq.newBuilder[Long]
    while (it.hasNext) {
      val name = it.next().getFileName.toString
      if (name.startsWith("v") && name.endsWith(".manifest"))
        vs += name.stripPrefix("v").stripSuffix(".manifest").toLong
    }
    vs.result().sorted
  }

  /** Version numbers claimed by LEGACY `data/vN` directories, manifested
    * or not. A crash between the parquet write and the manifest move in
    * the old layout leaves a data-dir shell with NO manifest; the next
    * manifest version must clear that namespace too or the table wedges
    * (r12 ADVICE). New-layout data dirs (`data/u...`) are uniquely named
    * and claim no version number. */
  private def dataDirVersions(tablePath: String): Seq[Long] = {
    val d = Paths.get(root(tablePath), "data")
    if (!Files.exists(d)) return Nil
    val ls = Files.list(d)
    try {
      val vs = Seq.newBuilder[Long]
      ls.forEach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("v") && name.drop(1).forall(_.isDigit))
          vs += name.stripPrefix("v").toLong
      }
      vs.result().sorted
    } finally ls.close()
  }

  // ------------------------------------------------- manifest (de)serde

  private def b64e(s: String): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes("UTF-8"))
  private def b64d(s: String): String =
    new String(Base64.getUrlDecoder.decode(s), "UTF-8")

  /** `col~type~b64(min)~b64(max)` joined by `|` — separators chosen
    * outside the base64url alphabet and outside catalogString syntax. */
  private[sources] def encodeStats(m: Map[String, ColStats]): String =
    m.toSeq.sortBy(_._1).map { case (c, s) =>
      s"$c~${s.dataType}~${b64e(s.min)}~${b64e(s.max)}"
    }.mkString("|")

  private[sources] def decodeStats(s: String): Map[String, ColStats] =
    s.split("\\|").iterator.filter(_.nonEmpty).map { f =>
      val p = f.split("~")
      p(0) -> ColStats(p(1), b64d(p(2)), b64d(p(3)))
    }.toMap

  /** `col~b64url(bytes)` joined by `|` — the [[encodeStats]] shape. */
  private[sources] def encodeBlooms(m: Map[String, Array[Byte]]): String =
    m.toSeq.sortBy(_._1).map { case (c, b) =>
      s"$c~${Base64.getUrlEncoder.withoutPadding.encodeToString(b)}"
    }.mkString("|")

  private[sources] def decodeBlooms(sv: String): Map[String, Array[Byte]] =
    sv.split("\\|").iterator.filter(_.nonEmpty).map { f =>
      val i = f.indexOf('~')
      f.substring(0, i) -> Base64.getUrlDecoder.decode(f.substring(i + 1))
    }.toMap

  private def renderEntry(e: ManifestEntry): String = {
    val attrs =
      if (e.attrs.isEmpty) ""
      else "\t" + e.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString(";")
    s"${e.partSpec}\t${e.relPath}$attrs"
  }

  private def parseEntry(line: String): ManifestEntry = {
    val parts = line.split("\t", -1)
    val attrs =
      if (parts.length < 3 || parts(2).isEmpty) Map.empty[String, String]
      else parts(2).split(";").iterator.map { kv =>
        val eq = kv.indexOf('=')
        kv.substring(0, eq) -> kv.substring(eq + 1)
      }.toMap
    ManifestEntry(parts(0), parts(1), attrs)
  }

  /** The file list of snapshot `version` (default: the committed
    * pointer). Header lines (`#key=value`) are metadata, not files. */
  def manifest(tablePath: String, version: Option[Long] = None): Seq[ManifestEntry] = {
    val v = version.orElse(currentVersion(tablePath)).getOrElse(
      sys.error(s"no committed snapshot at $tablePath"))
    val p = manifestPath(tablePath, v)
    require(Files.exists(p), s"snapshot v$v does not exist at $tablePath")
    new String(Files.readAllBytes(p), "UTF-8").split("\n", -1).toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(parseEntry)
  }

  /** One bounded read of a manifest's `#key=value` header lines (they
    * are always the leading lines, before any file entry), never the
    * whole manifest (r12 ADVICE: a full parse per probe made a
    * long-running ingest quadratic in manifest bytes). Only COMPLETE
    * lines (newline-terminated inside the window) are parsed — a header
    * cut mid-line by the window must never yield a silently-truncated
    * value (the window comfortably covers the 256-char txn-id cap
    * enforced at commit time). `None` when the manifest does not exist
    * (vacuum legitimately reclaims expired versions — probes must
    * degrade, not throw). */
  /** Session-scoped header cache (r14 VERDICT #7): manifests are written
    * once by a no-replace ATOMIC_MOVE and never rewritten, and version
    * numbers never recycle (allocation takes the max over ALL manifests,
    * vacuum keeps the pointer), so a (table, version) header is immutable
    * for the life of the session — chained lifecycle compositions
    * (q_l9/q_l10: a `#prev` walk + txn probe per commit) stop re-reading
    * the same headers per commit. Bounded LRU; misses (absent manifests)
    * are NOT cached — a prepared manifest can appear later.
    *
    * Entries are SELF-VALIDATING (r15 ADVICE, medium): each carries the
    * manifest file's identity (platform fileKey — the inode on POSIX —
    * plus size) captured at fill time, and every hit re-stats the file
    * before being trusted. A stale entry — the manifest was vacuumed and
    * the table directory recreated at the same path, or a racing
    * fill re-inserted a just-deleted orphan's header after vacuum's
    * eviction — fails the identity check and falls through to a fresh
    * read (or a miss, if the file is gone). The stat is one syscall vs
    * the read+parse it replaces, so the cache's purpose survives; what
    * can no longer happen is a replayed dead txn seeing the dead
    * manifest's `#txn`/`#prev` under a recycled version number. */
  private final case class CachedHeader(identity: String, parsed: Map[String, String])
  private val headerCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, CachedHeader](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedHeader]): Boolean =
        size() > 4096
    })

  /** Platform identity of a manifest file: fileKey (inode) + size. Returns
    * null when the file does not exist (races with vacuum are expected —
    * callers treat null as "gone"). */
  private def manifestIdentity(p: java.nio.file.Path): String =
    try {
      val a = Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes])
      s"${a.fileKey()}#${a.size()}"
    } catch { case _: java.io.IOException => null }

  private def headersOf(tablePath: String, version: Long): Option[Map[String, String]] = {
    val cacheKey = s"${root(tablePath)}#$version"
    val p = manifestPath(tablePath, version)
    val identity = manifestIdentity(p)
    val hit = headerCache.get(cacheKey)
    if (hit != null) {
      if (identity != null && identity == hit.identity) return Some(hit.parsed)
      headerCache.remove(cacheKey) // stale: vacuumed, or path recreated
    }
    if (identity == null) return None
    // stat-then-open race with vacuum: the manifest can vanish between
    // manifestIdentity() and the open — absent is a legitimate probe
    // answer (the same contract as the identity == null branch), never
    // a crash in a commit replay
    val ch =
      try Files.newByteChannel(p)
      catch {
        case _: java.nio.file.NoSuchFileException |
             _: java.io.FileNotFoundException => return None
      }
    val head = try {
      // loop to fill: a single read() may legally return short of the
      // 4096-byte window (r14 ADVICE — a short read that cut before the
      // #prev line could misclassify a superseded orphan as committed)
      val buf = java.nio.ByteBuffer.allocate(4096)
      var r = 0
      while (buf.hasRemaining && r >= 0) r = ch.read(buf)
      val n = buf.position()
      if (n <= 0) "" else new String(buf.array(), 0, n, "UTF-8")
    } finally ch.close()
    val cut = head.lastIndexOf('\n')
    val complete = if (cut < 0) "" else head.substring(0, cut)
    val parsed = complete.split("\n", -1).iterator
      .takeWhile(_.startsWith("#")).map { l =>
        val eq = l.indexOf('=')
        if (eq < 0) l.drop(1) -> "" else l.substring(1, eq) -> l.substring(eq + 1)
      }.toMap
    // Re-stat AFTER the read: if the file changed identity mid-read (vacuum
    // deleted it and a recreated table reused the version number), the
    // parse may be of either incarnation — cache nothing, return what was
    // read only if the file is still the one opened.
    val after = manifestIdentity(p)
    if (after != null && after == identity) headerCache.put(cacheKey, CachedHeader(identity, parsed))
    Some(parsed)
  }

  /** The transaction id snapshot `version` was committed under, if any —
    * the exactly-once key of [[commitAppendTxn]]. The `#txn=` header is
    * always the FIRST manifest line when present. Requires the manifest
    * to exist (introspection API over live snapshots). */
  def txnOf(tablePath: String, version: Long): Option[String] =
    headersOf(tablePath, version).getOrElse(
      sys.error(s"snapshot v$version does not exist at $tablePath")).get("txn")

  /** The committed version snapshot `version` was COMPOSED against
    * (`#prev=` header) — the link that makes the committed chain
    * walkable. `None` on legacy manifests written before the header
    * existed, or when the manifest was vacuumed away. */
  def prevOf(tablePath: String, version: Long): Option[Long] =
    headersOf(tablePath, version).flatMap(_.get("prev")).map(_.toLong)

  /** Commit wall-clock of snapshot `version` (`#ts` header, epoch ms) —
    * recorded from round 17 on; `None` for older manifests. */
  def commitTimestamp(tablePath: String, version: Long): Option[Long] =
    headersOf(tablePath, version).flatMap(_.get("ts")).map(_.toLong)

  /** TIMESTAMP time travel: the newest version on the COMMITTED chain
    * whose commit time is ≤ `tsMillis` — `readSnapshot(versionAt(...))`
    * is the Delta/Iceberg `AS OF TIMESTAMP` surface. `None` when the
    * table has no commit that old (or predates `#ts` recording).
    * Commit timestamps are driver wall-clocks: monotone per table in
    * practice (commits serialize on the table lock), but use versions
    * for exact replay semantics. */
  def versionAt(tablePath: String, tsMillis: Long): Option[Long] = {
    val cur = currentVersion(tablePath).getOrElse(return None)
    var v = cur
    while (v > 0) {
      commitTimestamp(tablePath, v) match {
        case Some(ts) if ts <= tsMillis => return Some(v)
        case _ => ()
      }
      prevOf(tablePath, v) match {
        case Some(p) if p < v => v = p
        case _ => return None
      }
    }
    None
  }

  /** Was snapshot `version` committed by [[compact]] (row-preserving —
    * every file replaced, no row added, removed, or changed)? A
    * vacuumed/unknown version answers false — callers fall back to the
    * general path, they never throw. */
  def isCompaction(tablePath: String, version: Long): Boolean =
    headersOf(tablePath, version).exists(_.get("compaction").contains("true"))

  /** Is `v` on the COMMITTED chain — reachable from the pointer via
    * `#prev` links? A crash-orphaned manifest that later commits
    * SUPERSEDED (they composed from the committed pointer, skipping it)
    * sits at v ≤ pointer but OFF the chain: its rows are in no live
    * snapshot, so an exactly-once replay must treat it as NOT committed
    * (r13 ADVICE, high). The walk is bounded by the commits between `v`
    * and the pointer — in the replay common case, a handful of header
    * reads. The walk can break two ways, both resolved to the old
    * `v ≤ pointer ⇒ committed` reading: a legacy manifest without
    * `#prev`, and a VACUUMED gap (r14 review) — vacuum deletes
    * non-retained manifests INCLUDING superseded orphans, so a txn
    * manifest that survived vacuum below the pointer is retained
    * committed history (or an explicitly pinned ref); preferring no-op
    * over double-apply is the right failure direction there. */
  private[sources] def onCommittedChain(tablePath: String, v: Long): Boolean = {
    var cur = currentVersion(tablePath).getOrElse(0L)
    while (cur > v) prevOf(tablePath, cur) match {
      case Some(p) =>
        require(p < cur, s"manifest chain corrupt at $tablePath: v$cur → v$p")
        cur = p
      case None => return v <= cur // legacy or vacuumed: chain unknowable past here
    }
    cur == v
  }

  // ------------------------------------------------------------- schemas

  private def schemaDir(t: String) = Paths.get(root(t), "_schemas")
  private def schemaPath(t: String, id: Long) =
    schemaDir(t).resolve(f"s$id%08d.schema")

  /** Schema files are immutable once moved into place (no-replace
    * ATOMIC_MOVE, ids never recycle within a table's life) — but the
    * TABLE DIRECTORY can be deleted and recreated at the same path,
    * recycling schema ids from 1 (the headerCache hazard, r15). Entries
    * therefore carry the schema file's platform identity (inode + size)
    * and every hit re-stats before being trusted — a stale entry falls
    * through to a fresh read instead of serving the dead table's
    * field map. */
  private final case class CachedSchema(identity: String, fields: Seq[FieldDef])
  private val schemaFileCache =
    new java.util.concurrent.ConcurrentHashMap[String, CachedSchema]()

  private def readSchemaFile(tablePath: String, id: Long): Seq[FieldDef] = {
    val key = s"${root(tablePath)}#$id"
    val p = schemaPath(tablePath, id)
    val identity = manifestIdentity(p)
    require(identity != null, s"schema file missing: $p")
    val hit = schemaFileCache.get(key)
    if (hit != null && hit.identity == identity) return hit.fields
    val fields =
      new String(Files.readAllBytes(p), "UTF-8").split("\n", -1).toSeq
        .filter(_.nonEmpty).map { l =>
          val f = l.split("\t", -1)
          FieldDef(f(0).toInt, f(1), f(2))
        }
    schemaFileCache.put(key, CachedSchema(identity, fields))
    fields
  }

  /** Write the schema as a new immutable schema file; returns its id.
    * Called under the table lock (every commit path holds it). */
  private def writeSchemaFile(tablePath: String, fields: Seq[FieldDef]): Long = {
    Files.createDirectories(schemaDir(tablePath))
    val existing = listSchemaIds(tablePath)
    val id = existing.maxOption.getOrElse(0L) + 1
    val body = fields.map(f => s"${f.id}\t${f.name}\t${f.dataType}")
      .mkString("", "\n", "\n")
    val tmp = schemaDir(tablePath).resolve(f"s$id%08d.schema.tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, schemaPath(tablePath, id), StandardCopyOption.ATOMIC_MOVE)
    id
  }

  private def listSchemaIds(tablePath: String): Seq[Long] = {
    val d = schemaDir(tablePath)
    if (!Files.exists(d)) return Nil
    val ls = Files.list(d)
    try {
      val b = Seq.newBuilder[Long]
      ls.forEach { p =>
        val n = p.getFileName.toString
        if (n.startsWith("s") && n.endsWith(".schema"))
          b += n.stripPrefix("s").stripSuffix(".schema").toLong
      }
      b.result().sorted
    } finally ls.close()
  }

  /** The FIELD-ID schema of snapshot `version` (default: the pointer),
    * `None` for legacy snapshots committed before schemas were recorded
    * — readers then fall back to name-based resolution. */
  def schemaOf(tablePath: String, version: Option[Long] = None): Option[Seq[FieldDef]] = {
    val v = version.orElse(currentVersion(tablePath)).getOrElse(return None)
    headersOf(tablePath, v).flatMap(_.get("schemaid"))
      .map(id => readSchemaFile(tablePath, id.toLong))
  }

  private val DecimalType = """decimal\((\d+),(\d+)\)""".r
  /** Is `from` → `to` a LOSSLESS promotion (every old value representable
    * exactly in the new type)? The Iceberg evolution matrix. */
  private[sources] def widenLegal(from: String, to: String): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case ("smallint", "int") | ("smallint", "bigint") => true
      case ("int", "bigint") => true
      case ("float", "double") => true
      case (DecimalType(p1, s1), DecimalType(p2, s2)) =>
        s1 == s2 && p2.toInt >= p1.toInt
      case _ => false
    }

  /** Highest field id EVER allocated for this table, across every schema
    * file (schema files are immutable and never vacuumed, so this is the
    * Iceberg `last-column-id` without a separate counter). Fresh ids MUST
    * allocate above it — allocating above only the current schema would
    * recycle a dropped column's id and resurrect its data. */
  private def maxFieldIdEver(tablePath: String): Int =
    listSchemaIds(tablePath)
      .flatMap(id => readSchemaFile(tablePath, id).map(_.id))
      .maxOption.getOrElse(0)

  /** Compose the schema a data commit records: the previous snapshot's
    * fields carried forward BY ID (renames/drops happen only through
    * [[evolveSchema]]), name-matched df columns refresh their type in
    * place, and df columns the schema has never seen are appended with
    * FRESH ids (allocated above `baseId`, the table's highest-ever field
    * id) — mergeSchema-style evolution-on-write, but recorded so a later
    * drop+re-add cannot resurrect them. Bootstrap (no previous schema):
    * ids 1..n in df column order. */
  private def composeSchema(prev: Option[Seq[FieldDef]],
                            dfCols: Seq[(String, String)],
                            baseId: Int): Seq[FieldDef] =
    prev match {
      case None =>
        dfCols.zipWithIndex.map { case ((n, t), i) => FieldDef(i + 1, n, t) }
      case Some(fields) =>
        val byName = fields.map(f => f.name -> f).toMap
        var nextId = math.max(baseId, fields.map(_.id).max)
        val refreshed = fields.map { f =>
          dfCols.find(_._1 == f.name) match {
            case Some((_, t)) => f.copy(dataType = t)
            case None => f
          }
        }
        refreshed ++ dfCols.collect {
          case (n, t) if !byName.contains(n) =>
            nextId += 1
            FieldDef(nextId, n, t)
        }
    }

  /** Metadata-ONLY schema evolution commit — the Iceberg ALTER TABLE
    * surface: the new snapshot references exactly the current file set
    * under an evolved schema. Field ids make the semantics:
    *
    *  - [[RenameColumn]] keeps the field id — existing files' physical
    *    column (written under the old name) still resolves to this field,
    *    so a rename is NOT a drop+add;
    *  - [[DropColumn]] removes the id from the schema — the physical data
    *    stays in old files but no reader resolves it again;
    *  - [[AddColumn]] allocates a FRESH id — re-adding a dropped name
    *    reads NULL from every pre-add file instead of resurrecting the
    *    dropped column's values.
    *
    * Partition columns can be neither renamed nor dropped (their names
    * are baked into hive directory paths); delete-key columns of pending
    * merge-on-read deletes likewise ([[compact]] first). Evolution-aware
    * reads opt in via `readSnapshot(allowSchemaEvolution = true)`.
    * Returns the committed version. */
  def evolveSchema(tablePath: String, ops: Seq[SchemaOp]): Long =
    lockFor(tablePath).synchronized {
      val cur = currentVersion(tablePath).getOrElse(
        sys.error(s"no committed snapshot at $tablePath"))
      val entries = manifest(tablePath, Some(cur))
      val partCols = entries.filterNot(_.isDelete).flatMap(_.partSpec.split("/"))
        .filter(_.nonEmpty).map(_.takeWhile(_ != '=')).toSet
      val pendingDeleteKeys = entries.filter(_.isDelete)
        .flatMap(_.deleteKeyCols).toSet
      val base = schemaOf(tablePath, Some(cur)).getOrElse(
        sys.error(s"snapshot v$cur has no recorded schema at $tablePath — " +
          "evolution needs a table whose commits recorded schemas"))
      def protect(name: String, what: String): Unit = {
        require(!partCols.contains(name),
          s"cannot $what partition column $name (hive paths bake the name)")
        require(!pendingDeleteKeys.contains(name),
          s"cannot $what $name: pending merge-on-read deletes key on it; compact() first")
      }
      val evolved = ops.foldLeft(base) { (sch, op) =>
        op match {
          case AddColumn(n, t) =>
            require(!sch.exists(_.name == n), s"column $n already exists")
            require(n.forall(ch => ch.isLetterOrDigit || ch == '_'),
              s"unsafe column name: $n")
            // fresh id above the table-lifetime max: a dropped column's id
            // must never be recycled (it would resurrect the dropped data)
            sch :+ FieldDef(
              math.max(maxFieldIdEver(tablePath), sch.map(_.id).max) + 1, n, t)
          case RenameColumn(from, to) =>
            require(sch.exists(_.name == from), s"no column $from to rename")
            require(!sch.exists(_.name == to), s"column $to already exists")
            require(to.forall(ch => ch.isLetterOrDigit || ch == '_'),
              s"unsafe column name: $to")
            protect(from, "rename")
            sch.map(f => if (f.name == from) f.copy(name = to) else f)
          case DropColumn(n) =>
            require(sch.exists(_.name == n), s"no column $n to drop")
            protect(n, "drop")
            require(sch.size > 1, "cannot drop the last column")
            sch.filterNot(_.name == n)
          case WidenColumn(n, to) =>
            val f = sch.find(_.name == n).getOrElse(
              sys.error(s"no column $n to widen"))
            require(widenLegal(f.dataType, to),
              s"illegal widening ${f.dataType} -> $to for $n " +
                "(allowed: smallint->int/bigint, int->bigint, " +
                "float->double, decimal(p,s)->decimal(p'>=p,s))")
            sch.map(g => if (g.name == n) g.copy(dataType = to) else g)
        }
      }
      val v = commitManifest(tablePath, Nil, None,
        schemaFields = Some(evolved))((prev, _) => prev)
      swapPointer(tablePath, v)
      v
    }

  // ---------------------------------------------------------------- read

  /** Read a snapshot — the committed one, or any historical `version`
    * (time travel). `partitionPruning` filters data entries by their hive
    * partition spec and `statsPruning` by their per-file column bounds
    * (see [[ColStats.overlaps]]) BEFORE planning, so pruned files are
    * never listed, opened, or scheduled. Merge-on-read delete-key files
    * are applied as anti-joins against every data file OLDER than the
    * delete (they are never partition/stats pruned — a delete is global
    * until [[compact]] absorbs it). */
  def readSnapshot(spark: SparkSession, tablePath: String,
                   version: Option[Long] = None,
                   partitionPruning: String => Boolean = _ => true,
                   allowSchemaEvolution: Boolean = false,
                   statsPruning: Map[String, ColStats] => Boolean = _ => true,
                   bloomPruning: Map[String, Array[Byte]] => Boolean = _ => true): DataFrame = {
    val all = manifest(tablePath, version)
    val (delEntries, dataEntries) = all.partition(_.isDelete)
    require(dataEntries.nonEmpty, s"snapshot has no data files at $tablePath")
    val kept = dataEntries
      .filter(e => partitionPruning(e.partSpec))
      .filter(e => statsPruning(e.stats))
      .filter(e => bloomPruning(e.blooms))
    // evolution-aware reads resolve every commit group to the TARGET
    // version's field-id schema (rename ≠ drop+add); tables without
    // recorded schemas fall back to name-based allowMissingColumns
    val targetSchema =
      if (allowSchemaEvolution)
        schemaOf(tablePath, version.orElse(currentVersion(tablePath)))
      else None
    // a predicate that legitimately excludes EVERY file ("query misses
    // the table") returns the empty frame, not an error — schema from
    // one un-pruned file, zero rows planned
    if (kept.isEmpty)
      readEntries(spark, tablePath, Seq(dataEntries.head), Nil,
        allowSchemaEvolution, targetSchema).limit(0)
    else
      readEntries(spark, tablePath, kept, deleteGroups(spark, tablePath, delEntries),
        allowSchemaEvolution, targetSchema)
  }

  /** Partition-VALUE pruning predicate for [[readSnapshot]]'s
    * `partitionPruning` that stays correct across PARTITION-SPEC
    * evolution (a table whose early commits were unpartitioned or
    * partitioned differently): entries whose hive spec CARRIES `colName`
    * prune by `keep(value)`; entries without the column (other
    * generations of the layout) are KEPT — they may contain matching
    * rows, and only a residual row filter can decide. Compose with a
    * row-level filter exactly like stats pruning. */
  def columnPrune(colName: String, keep: String => Boolean): String => Boolean =
    spec => spec.split("/").filter(_.nonEmpty)
      .collectFirst {
        case kv if kv.takeWhile(_ != '=') == colName => kv.drop(colName.length + 1)
      } match {
        case Some(v) => keep(v)
        case None => true
      }

  /** POINT-LOOKUP file pruning predicate for [[readSnapshot]]'s
    * `bloomPruning`: may a file whose manifest bloom for `colName` was
    * recorded contain `value`? Files without a recorded bloom always MAY
    * (skipping is proven, never guessed — the [[ColStats.overlaps]]
    * contract). `value` must be the probe in the COLUMN'S type (Long for
    * bigint, Int for int, String, …): the stored items are
    * `xxhash64(col)`, and xxhash64 is type-sensitive. Deterministic:
    * Spark's sketch bloom is seed-fixed, so a given table prunes the
    * same file set on every read. */
  def bloomPrune(colName: String, value: Any): Map[String, Array[Byte]] => Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val h = XxHash64(Seq(Literal(value)), 42L).eval(null).asInstanceOf[Long]
    blooms => blooms.get(colName).forall { bytes =>
      org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .mightContainLong(h)
    }
  }

  /** The Iceberg `files` metadata-table surface: one row per LIVE data
    * file of the snapshot, entirely from the manifest — no data file is
    * listed, opened, or planned (the result is a LocalRelation). Stats
    * ride as string-rendered `(min, max)` maps exactly as committed. */
  def metadataFiles(spark: SparkSession, tablePath: String,
                    version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    manifest(tablePath, version).filterNot(_.isDelete)
      .map { e =>
        (e.partSpec, e.relPath, e.commitVersion, e.rowCount,
          e.stats.map { case (c, s) => c -> s.min },
          e.stats.map { case (c, s) => c -> s.max })
      }
      .toDF("part_spec", "rel_path", "commit_version", "rows", "mins", "maxs")
  }

  /** Metadata-ONLY aggregates: per-partition file count, EXACT row
    * count, and per-`statsCols` min/max, computed from manifest rows +
    * per-file stats alone — `count(*)`-class queries answered without
    * listing, opening, or planning any data file (at 100 TB: microseconds
    * against kilobytes of manifest vs a full-table scan). Exactness is a
    * CONTRACT, so it refuses loudly instead of guessing: every live
    * entry must carry a recorded row count (commit with `statsCols`),
    * bounds for every requested column, and the snapshot must have no
    * pending merge-on-read deletes (a delete-key file subtracts an
    * unknowable count until [[compact]] absorbs it). Bounds fold with
    * [[ColStats.cmp]] — numerically for numeric types, so `"9" < "10"`
    * folds right — and come back as the committed string renderings. */
  def metadataAggregate(spark: SparkSession, tablePath: String,
                        statsCols: Seq[String] = Nil,
                        version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (del, data) = manifest(tablePath, version).partition(_.isDelete)
    require(del.isEmpty,
      s"snapshot has ${del.size} pending merge-on-read delete files — " +
        "metadata row counts would overcount; compact() first")
    require(data.nonEmpty, s"snapshot has no data files at $tablePath")
    data.foreach { e =>
      require(e.rowCount.isDefined,
        s"${e.relPath} has no recorded row count — commit with statsCols " +
          "to record per-file counts")
      statsCols.foreach(c => require(e.stats.contains(c),
        s"${e.relPath} has no bounds for column $c"))
    }
    data.groupBy(_.partSpec).toSeq.sortBy(_._1).map { case (spec, es) =>
      val folded = statsCols.map { c =>
        val ss = es.map(_.stats(c))
        val t = ss.head.dataType
        c -> (ss.map(_.min).reduce((a, b) => if (ColStats.cmp(t, a, b) <= 0) a else b),
          ss.map(_.max).reduce((a, b) => if (ColStats.cmp(t, a, b) >= 0) a else b))
      }
      (spec, es.size.toLong, es.map(_.rowCount.get).sum,
        folded.map { case (c, (mn, _)) => c -> mn }.toMap,
        folded.map { case (c, (_, mx)) => c -> mx }.toMap)
    }.toDF("part_spec", "n_files", "n_rows", "mins", "maxs")
  }

  /** One delete COMMIT = one group: (commit version, key columns, keys
    * frame). Grouped by commit directory — all entries of a dir share
    * both. */
  private def deleteGroups(spark: SparkSession, tablePath: String,
                           delEntries: Seq[ManifestEntry]): Seq[(Long, Seq[String], DataFrame)] = {
    val r = root(tablePath)
    delEntries.groupBy(_.relPath.split("/").take(2).mkString("/"))
      .toSeq.sortBy(_._1).map { case (_, es) =>
        (es.head.commitVersion, es.head.deleteKeyCols,
          spark.read.parquet(es.map(e => s"$r/${e.relPath}"): _*))
      }
  }

  /** Union the given data entries grouped by commit directory (each
    * group's `basePath` read recovers its hive partition columns), with
    * every delete group NEWER than a group's commit version anti-joined
    * away — the Iceberg sequence-number rule at commit granularity. */
  private def readEntries(spark: SparkSession, tablePath: String,
                          dataEntries: Seq[ManifestEntry],
                          deletes: Seq[(Long, Seq[String], DataFrame)],
                          allowSchemaEvolution: Boolean,
                          targetSchema: Option[Seq[FieldDef]] = None): DataFrame = {
    val r = root(tablePath)
    val byCommit = dataEntries.groupBy(_.relPath.split("/").take(2).mkString("/"))
    byCommit.toSeq.sortBy(_._1).map { case (commitDir, es) =>
      val raw = spark.read
        .option("basePath", s"$r/$commitDir")
        .parquet(es.map(e => s"$r/${e.relPath}"): _*)
      val fileV = es.head.commitVersion
      // delete keys are named under the schema AT THE DELETE'S COMMIT;
      // this group's physical columns under the schema at ITS commit. A
      // rename between the two would make a name-keyed anti-join crash
      // (or worse, miss) — so when schemas are recorded, each delete key
      // resolves name → field id (delete-commit schema) → this group's
      // physical name. Legacy links (either schema unrecorded, or the
      // id absent from the group) keep the raw name — the only
      // semantics available there.
      val groupSchema = schemaOf(tablePath, Some(fileV))
      val resolved = deletes.filter(_._1 > fileV).foldLeft(raw) {
        case (acc, (delV, keys, delDf)) =>
          val delSchema = schemaOf(tablePath, Some(delV))
          val mapped = keys.map { k =>
            val phys = for {
              ds <- delSchema
              f <- ds.find(_.name == k)
              gs <- groupSchema
              g <- gs.find(_.id == f.id)
            } yield g.name
            k -> phys.getOrElse(k)
          }
          acc.join(
            delDf.select(mapped.map { case (k, p) => col(k).as(p) }: _*),
            mapped.map(_._2), "left_anti")
      }
      // FIELD-ID resolution (evolution-aware reads): project every commit
      // group onto the target schema by id — the group's physical column
      // for the id (whatever it was NAMED when the group committed), cast
      // to the target type; ids the group never wrote read NULL. A group
      // whose commit predates schema recording (or whose manifest was
      // vacuumed) name-matches — the only semantics available for it.
      targetSchema match {
        case Some(tgt) =>
          val srcSchema = schemaOf(tablePath, Some(fileV))
          val byId = srcSchema.getOrElse(Nil).map(f => f.id -> f.name).toMap
          val cols = resolved.columns.toSet
          resolved.select(tgt.map { f =>
            byId.get(f.id).orElse(if (srcSchema.isEmpty) Some(f.name) else None)
              .filter(cols.contains) match {
                case Some(phys) => col(phys).cast(f.dataType).as(f.name)
                case None => lit(null).cast(f.dataType).as(f.name)
              }
          }: _*)
        case None => resolved
      }
    // strict by default: a column appearing/vanishing between commits is
    // an error unless the reader opts into evolution. With recorded
    // schemas the groups are already id-aligned above (strict union);
    // without, rows from commits lacking a column read NULL (Delta's
    // mergeSchema read semantics).
    }.reduce(_.unionByName(_, allowMissingColumns =
      allowSchemaEvolution && targetSchema.isEmpty))
  }

  // ------------------------------------------------------------- commits

  private sealed trait ConflictPolicy
  private case object AppendPolicy extends ConflictPolicy
  private case object OverwritePolicy extends ConflictPolicy
  private final case class ReplacePolicy(replaced: Set[String]) extends ConflictPolicy

  /** Overwrite commit: snapshot N+1 is exactly `df`. Aborts if ANY commit
    * interleaved since `df`'s writer read the table — rebasing an
    * overwrite would silently drop the interleaved rows. */
  def commitOverwrite(df: DataFrame, tablePath: String,
                      partitionCols: Seq[String] = Nil,
                      filesPerPartition: Int = 1,
                      clusterBy: Seq[Column] = Nil,
                      statsCols: Seq[String] = Nil,
                      baseVersion: Option[Long] = None,
                      bloomCols: Seq[String] = Nil): Long =
    commit(df, tablePath, partitionCols, filesPerPartition, clusterBy,
      statsCols, baseVersion, bloomCols = bloomCols)(
      _ => OverwritePolicy) { (_, fresh) => fresh }

  /** Append commit: snapshot N+1 = snapshot N's files plus `df`'s.
    * Rebases over any interleaved commit (appends are commutative). */
  def commitAppend(df: DataFrame, tablePath: String,
                   partitionCols: Seq[String] = Nil,
                   filesPerPartition: Int = 1,
                   clusterBy: Seq[Column] = Nil,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long =
    commit(df, tablePath, partitionCols, filesPerPartition, clusterBy,
      statsCols, None, bloomCols = bloomCols)(
      _ => AppendPolicy) { (prev, fresh) => prev ++ fresh }

  /** Replace-partitions commit (dynamic-overwrite semantics, atomically):
    * snapshot N+1 drops every prior file belonging to a replaced
    * partition and adds `df`'s files — but readers see either all of N
    * or all of N+1, never a half-swapped table. The replaced set
    * defaults to the partitions PRESENT in `df`; pass
    * `replacedPartitions` explicitly when a replaced partition's new
    * content can be EMPTY (all rows deleted / all groups zeroed) — an
    * empty partition writes no files, so it cannot be inferred from the
    * output, and inferring would silently keep its old files (the
    * limitation dynamic partition overwrite itself has). Rebases over
    * interleaved commits touching only OTHER partitions; aborts
    * ([[ConcurrentCommitException]]) on overlap. */
  def commitReplacePartitions(df: DataFrame, tablePath: String,
                              partitionCols: Seq[String],
                              filesPerPartition: Int = 1,
                              replacedPartitions: Option[Set[String]] = None,
                              baseVersion: Option[Long] = None): Long =
    commit(df, tablePath, partitionCols, filesPerPartition, Nil, Nil,
        baseVersion) { fresh =>
      ReplacePolicy(replacedPartitions.getOrElse(fresh.map(_.partSpec).toSet))
    } { (prev, fresh) =>
      val replaced = replacedPartitions.getOrElse(fresh.map(_.partSpec).toSet)
      prev.filterNot(e => !e.isDelete && replaced.contains(e.partSpec)) ++ fresh
    }

  /** Merge-on-read DELETE commit: `keys` rows (projected to `keyCols`,
    * deduplicated) are written as a delete-key file set; reads anti-join
    * them away from every OLDER data file. No data file is rewritten — a
    * scattered 100-key delete on a 100 TB table writes kilobytes, the
    * Iceberg/Delta merge-on-read pattern. [[compact]] absorbs deletes
    * back into data files; until then the keys frame should stay small
    * relative to the table (it is scanned per read). Appends commute, so
    * this rebases over interleaved commits; serialization order decides
    * whether a concurrently-merged row is deleted (the delete applies to
    * everything committed before it). */
  def commitDeleteByKeys(spark: SparkSession, tablePath: String,
                         keys: DataFrame, keyCols: Seq[String],
                         filesPerPartition: Int = 1,
                         txnId: Option[String] = None): Long = {
    require(keyCols.nonEmpty, "delete needs at least one key column")
    keyCols.foreach(c => require(c.forall(ch =>
      ch.isLetterOrDigit || ch == '_'), s"unsafe delete key column name: $c"))
    // txn-keyed deletes get the commitAppendTxn exactly-once protocol:
    // probe-settle first (no bytes staged on replay), re-probe under the
    // lock (a concurrent replay of the SAME txn lands one snapshot)
    txnId.flatMap(settleTxn(tablePath, _)).foreach(v => return v)
    val fresh0 = writeData(keys.select(keyCols.map(col): _*).distinct(),
      tablePath, Nil, filesPerPartition, Nil, Nil)
    val fresh = fresh0.map(e => e.copy(attrs =
      e.attrs + ("kind" -> "d", "keys" -> keyCols.mkString(","))))
    lockFor(tablePath).synchronized {
      txnId.flatMap(settleTxn(tablePath, _)) match {
        case Some(v) => v // a concurrent replay won; our files orphan
        case None =>
          val v = commitManifest(tablePath, fresh, txnId)((prev, f) => prev ++ f)
          swapPointer(tablePath, v)
          v
      }
    }
  }

  /** Shared commit driver: data write OUTSIDE the table lock (parallel
    * across writers), then conflict-check + manifest compose + pointer
    * swap inside it. `mkPolicy` sees the fresh entries (the inferred
    * replaced set needs them). */
  private def commit(df: DataFrame, tablePath: String,
                     partitionCols: Seq[String], filesPerPartition: Int,
                     clusterBy: Seq[Column], statsCols: Seq[String],
                     baseVersion: Option[Long],
                     headers: Map[String, String] = Map.empty,
                     bloomCols: Seq[String] = Nil)
                    (mkPolicy: Seq[ManifestEntry] => ConflictPolicy)
                    (compose: (Seq[ManifestEntry], Seq[ManifestEntry]) => Seq[ManifestEntry]): Long = {
    val base = baseVersion.getOrElse(currentVersion(tablePath).getOrElse(0L))
    val fresh = writeData(df, tablePath, partitionCols, filesPerPartition,
      clusterBy, statsCols, bloomCols)
    lockFor(tablePath).synchronized {
      val cur = currentVersion(tablePath).getOrElse(0L)
      if (cur != base) checkRebase(tablePath, base, cur, mkPolicy(fresh))
      val v = commitManifest(tablePath, fresh, None, headers,
        dfCols = dfColsOf(df))(compose)
      swapPointer(tablePath, v)
      v
    }
  }

  /** (name, catalogString) pairs of a commit's write-side schema — what
    * [[composeSchema]] name-matches against the recorded field ids. */
  private def dfColsOf(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  /** Is rebasing onto `cur` safe for a commit prepared against `base`?
    * The interleaved net change is ONE manifest diff (files present in
    * exactly one of the two snapshots); a replace conflicts iff that
    * diff touches its replaced partitions or contains a delete-key file
    * (deletes are global — conservatively a conflict). */
  private def checkRebase(tablePath: String, base: Long, cur: Long,
                          policy: ConflictPolicy): Unit = policy match {
    case AppendPolicy => ()
    case OverwritePolicy =>
      throw new ConcurrentCommitException(
        s"overwrite prepared against v$base but v$cur committed meanwhile at $tablePath")
    case ReplacePolicy(replaced) =>
      val baseEntries = scala.util.Try(
        if (base == 0L) Nil else manifest(tablePath, Some(base))).getOrElse(
        throw new ConcurrentCommitException(
          s"base snapshot v$base no longer readable (vacuumed?) at $tablePath"))
      val curEntries = manifest(tablePath, Some(cur))
      val bSet = baseEntries.map(e => (e.partSpec, e.relPath)).toSet
      val cSet = curEntries.map(e => (e.partSpec, e.relPath)).toSet
      val changed = baseEntries.filterNot(e => cSet((e.partSpec, e.relPath))) ++
        curEntries.filterNot(e => bSet((e.partSpec, e.relPath)))
      val touched = changed.map(_.partSpec).toSet
      if (changed.exists(_.isDelete) || touched.exists(replaced.contains))
        throw new ConcurrentCommitException(
          s"concurrent commit between v$base and v$cur touched " +
            s"${touched.intersect(replaced)} (delete commits conflict globally); " +
            s"aborting replace of $replaced at $tablePath")
  }

  /** IDEMPOTENT append commit keyed by a caller transaction id — the
    * exactly-once sink primitive for streaming `foreachBatch` (txnId =
    * the stable micro-batch id). The protocol (the Delta-style
    * txn-version idea over this layout):
    *
    *  - a manifest carrying `#txn=<id>` already exists at a version ≤
    *    the pointer → the commit already happened: NO-OP, return it;
    *  - it exists ABOVE the pointer → the previous attempt crashed
    *    between manifest and pointer swap; data + manifest are complete
    *    (the manifest move is atomic and happens after the data write),
    *    so ROLL FORWARD by swapping the pointer — no data is rewritten;
    *  - otherwise prepare a fresh version with the txn header and commit
    *    (the probe repeats under the table lock so a same-JVM concurrent
    *    replay of the SAME txn still lands exactly one snapshot).
    */
  /** Probe-and-settle a transaction WITHOUT writing any data:
    * `Some(version)` when `txnId` is already durable — genuinely
    * committed (no-op replay) or prepared-but-unswapped (rolled forward
    * here by pointer swap); `None` when a fresh commit is needed. The
    * first step of every exactly-once publisher ([[commitAppendTxn]],
    * [[TarShardIO.writeTxn]]) — a positive probe lets the caller skip
    * re-staging bytes entirely.
    *
    * A probed txn manifest counts as COMMITTED only if it is on the
    * committed chain (r13 ADVICE, high): a txn manifest the pointer
    * moved PAST without including (crash between manifest move and
    * pointer swap, then an unrelated commit composed from the pointer)
    * is an orphan whose rows are in no live snapshot — replay must
    * fall through to a fresh commit, not no-op "success".
    *   v > pointer  ⇒ prepared-but-unswapped and NOTHING committed
    *                  after it (version allocation takes max over all
    *                  manifests incl. orphans, so any later commit
    *                  lands above v): ROLL FORWARD by pointer swap;
    *   on chain     ⇒ genuinely committed: NO-OP;
    *   off chain    ⇒ superseded orphan: fresh commit.
    * Settles under the table lock: an unrelated commit interleaving
    * between the pointer check and the swap would supersede v and
    * recreate the very orphan this protects against. Probes
    * newest-first: the replay case almost always matches the latest
    * versions; each probe is one bounded header read. */
  def settleTxn(tablePath: String, txnId: String): Option[Long] = {
    val probed = snapshots(tablePath).reverseIterator
      .find(v => txnOf(tablePath, v).contains(txnId))
    probed.flatMap { v =>
      lockFor(tablePath).synchronized {
        if (v > currentVersion(tablePath).getOrElse(0L)) {
          swapPointer(tablePath, v); Some(v)
        } else if (onCommittedChain(tablePath, v)) Some(v)
        else None
      }
    }
  }

  def commitAppendTxn(df: DataFrame, tablePath: String,
                      partitionCols: Seq[String], txnId: String,
                      filesPerPartition: Int = 1): Long =
    settleTxn(tablePath, txnId) match {
      case Some(v) => v
      case None =>
        val fresh = writeData(df, tablePath, partitionCols,
          filesPerPartition, Nil, Nil)
        lockFor(tablePath).synchronized {
          settleTxn(tablePath, txnId) match {
            case Some(v) => v // a concurrent replay won; our files orphan
            case None =>
              val v = commitManifest(tablePath, fresh, Some(txnId),
                dfCols = dfColsOf(df))((prev, f) => prev ++ f)
              swapPointer(tablePath, v)
              v
          }
        }
    }

  /** Write data + manifest for the NEXT version WITHOUT committing it —
    * the crash window between (b) and (c) in the object doc, exposed for
    * the crash tests. Returns the prepared version. */
  private[sources] def prepare(df: DataFrame, tablePath: String,
                               partitionCols: Seq[String], filesPerPartition: Int,
                               txn: Option[String] = None,
                               clusterBy: Seq[Column] = Nil,
                               statsCols: Seq[String] = Nil)
                              (compose: (Seq[ManifestEntry], Seq[ManifestEntry]) => Seq[ManifestEntry]): Long = {
    val fresh = writeData(df, tablePath, partitionCols, filesPerPartition,
      clusterBy, statsCols)
    commitManifest(tablePath, fresh, txn, dfCols = dfColsOf(df))(compose)
  }

  /** Write `df` into a fresh uniquely-named data directory; return its
    * manifest entries (version attr attached later, at manifest compose
    * time). When `statsCols` is nonempty, one read-back pass over the
    * just-written files records per-file min/max bounds; pass `clusterBy`
    * (e.g. the predicate column, or [[LakeLayout.zorderValue]]) to
    * range-cluster rows across files so those bounds are tight enough to
    * skip.
    *
    * Why a read-back pass and not parquet FOOTER stats: the pass scans
    * only the freshly-written files (cost proportional to the COMMIT,
    * never the table — the right asymptotic at 100 TB), is distributed,
    * and produces exactly the `CAST(col AS STRING)` renderings the prune
    * comparator decodes. Footer min/max would save that one scan but
    * re-renders every physical type by hand (truncated binary bounds,
    * int96/decimal encodings, timezone-sensitive timestamps) — a silent
    * rendering mismatch would flip prune comparisons, and wrongly
    * SKIPPING a file is data loss. Measured at x30 the whole stats
    * commit is ~2 s (SCALING r13). */
  /** Per-file bloom sizing: 4096 expected items / 32768 bits (4 KB raw,
    * ~5.5 KB base64 per (file, column) manifest entry) — ~1% FPP at the
    * expected fill, degrading gracefully (false positives only cost
    * pruning efficiency, never correctness) when files run larger. */
  private val BloomItems = 4096L
  private val BloomBits = 32768L

  private def writeData(df: DataFrame, tablePath: String,
                        partitionCols: Seq[String], filesPerPartition: Int,
                        clusterBy: Seq[Column],
                        statsCols: Seq[String],
                        bloomCols: Seq[String] = Nil): Seq[ManifestEntry] = {
    (statsCols ++ bloomCols).foreach(c => require(c.forall(ch =>
      ch.isLetterOrDigit || ch == '_'), s"unsafe stats column name: $c"))
    val r = root(tablePath)
    // unique name: no version claim, no collision between racing writers
    // (createDirectory is atomic); nanoTime prefix keeps lexicographic
    // order = commit order, preserving arrival-ordered snapshot unions
    val dirName = f"data/u${System.nanoTime()}%016x-${dirSeq.incrementAndGet()}%04d"
    val dataDir = s"$r/$dirName"
    Files.createDirectories(Paths.get(r, "data"))
    Files.createDirectory(Paths.get(dataDir))
    // shape like LakeLayout.writePartitioned: each directory's rows
    // co-located into filesPerPartition tasks, sorted so each task writes
    // each directory once; clusterBy switches to range partitioning so
    // per-file bounds are disjoint
    val shaped =
      if (clusterBy.nonEmpty) {
        val keys = partitionCols.map(col) ++ clusterBy
        val n =
          if (partitionCols.isEmpty) filesPerPartition
          else df.sparkSession.sessionState.conf.numShufflePartitions
        df.repartitionByRange(n, keys: _*).sortWithinPartitions(keys: _*)
      } else if (partitionCols.isEmpty) df.repartition(filesPerPartition)
      else df.repartition(
          df.sparkSession.sessionState.conf.numShufflePartitions,
          partitionCols.map(col) :+
            pmod(hash(df.columns.map(col): _*), lit(filesPerPartition)): _*)
        .sortWithinPartitions(partitionCols.map(col): _*)
    // Append into the reserved (empty) directory — the reservation above
    // is the atomic claim; ErrorIfExists would trip over it
    shaped.write
      .mode(SaveMode.Append)
      .partitionBy(partitionCols: _*)
      .parquet(dataDir)
    val spark = df.sparkSession
    val files = listDataFiles(spark, dataDir)
    val statsByFile: Map[String, (Long, Map[String, ColStats], Map[String, Array[Byte]])] =
      if ((statsCols.isEmpty && bloomCols.isEmpty) || files.isEmpty) Map.empty
      else {
        val back = spark.read.parquet(dataDir)
        val typeOf = back.schema.fields.map(f => f.name -> f.dataType.catalogString).toMap
        (statsCols ++ bloomCols).foreach(c => require(typeOf.contains(c),
          s"stats column $c not in written schema ${typeOf.keys.toSeq.sorted}"))
        // the same pass also records the EXACT per-file row count (the
        // Iceberg record_count), making metadata-only count(*) /
        // per-partition counts answerable without planning a data file
        // ([[metadataAggregate]]); bloomCols add a per-file bloom of
        // xxhash64(col) values in the same aggregation
        val aggs = count(lit(1)).as("__rows") +:
          (statsCols.flatMap(c => Seq(
            min(col(c)).cast("string").as(s"__min_$c"),
            max(col(c)).cast("string").as(s"__max_$c"))) ++
           bloomCols.map(c => expr(
             s"bloom_agg(xxhash64($c), ${BloomItems}L, ${BloomBits}L)")
             .as(s"__bloom_$c")))
        back.groupBy(input_file_name().as("__file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect() // file-count-bounded
          .map { row =>
            val f = new java.net.URI(row.getString(0)).getPath
            val st = statsCols.flatMap { c =>
              val mn = row.getAs[String](s"__min_$c")
              val mx = row.getAs[String](s"__max_$c")
              // an all-null file has no bounds: leave the column out
              // (readers treat missing stats as may-contain)
              if (mn == null || mx == null) None
              else Some(c -> ColStats(typeOf(c), mn, mx))
            }.toMap
            val bl = bloomCols.flatMap { c =>
              Option(row.getAs[Array[Byte]](s"__bloom_$c")).map(c -> _)
            }.toMap
            f -> (row.getAs[Long]("__rows"), st, bl)
          }.toMap
      }
    files.map { abs =>
      val rel = abs.stripPrefix(s"$r/")
      val inCommit = rel.stripPrefix(dirName + "/")
      val partSpec = inCommit.split("/").dropRight(1).mkString("/")
      val attrs = statsByFile.get(abs) match {
        case Some((rows, st, bl)) =>
          Map("rows" -> rows.toString) ++
            (if (st.nonEmpty) Map("stats" -> encodeStats(st)) else Map.empty) ++
            (if (bl.nonEmpty) Map("bloom" -> encodeBlooms(bl)) else Map.empty)
        case None => Map.empty[String, String]
      }
      ManifestEntry(partSpec, rel, attrs)
    }.sortBy(_.relPath)
  }

  /** Compose the next manifest against the CURRENT committed snapshot and
    * write it with a no-replace ATOMIC_MOVE (a cross-process racing
    * committer of the same version fails loudly). Fresh entries get their
    * commit version stamped here — the version is only known now. */
  private def commitManifest(tablePath: String, fresh: Seq[ManifestEntry],
                             txn: Option[String],
                             headers: Map[String, String] = Map.empty,
                             dfCols: Seq[(String, String)] = Nil,
                             schemaFields: Option[Seq[FieldDef]] = None)
                            (compose: (Seq[ManifestEntry], Seq[ManifestEntry]) => Seq[ManifestEntry]): Long = {
    val prevV = currentVersion(tablePath)
    val prev = prevV.map(v => manifest(tablePath, Some(v))).getOrElse(Nil)
    // FIELD-ID schema tracking: every manifest records its snapshot's
    // schema via a #schemaid header. Data commits carry the previous
    // schema forward ([[composeSchema]]); [[evolveSchema]] passes the
    // evolved field list explicitly; delete-key commits (no dfCols)
    // reuse the previous schema id verbatim. An unchanged schema reuses
    // the previous file — one schema file per distinct schema, however
    // many commits share it.
    val prevSchemaId: Option[Long] = prevV
      .flatMap(pv => headersOf(tablePath, pv)).flatMap(_.get("schemaid"))
      .map(_.toLong)
    val prevSchema = prevSchemaId.map(readSchemaFile(tablePath, _))
    val nextSchema: Option[Seq[FieldDef]] = schemaFields.orElse {
      if (dfCols.nonEmpty)
        Some(composeSchema(prevSchema, dfCols, maxFieldIdEver(tablePath)))
      else prevSchema
    }
    val schemaIdHeader: Option[Long] = nextSchema.map { s =>
      if (prevSchema.contains(s)) prevSchemaId.get
      else writeSchemaFile(tablePath, s)
    }
    // next version clears committed manifests, crash-orphaned manifests,
    // AND legacy data-dir shells
    val v = (snapshots(tablePath) ++ dataDirVersions(tablePath))
      .maxOption.getOrElse(0L) + 1
    val stamped = fresh.map(e => e.copy(attrs = e.attrs + ("v" -> v.toString)))
    // #txn stays the FIRST line (txnOf contract); #prev records the
    // committed version this manifest composed against, making the
    // committed chain walkable for onCommittedChain (r13 ADVICE, high).
    // txn ids are capped so headersOf's bounded window always holds
    // every header LINE complete (r14 review: a truncated #prev would
    // silently corrupt the chain)
    txn.foreach(id => require(id.length <= 256 && !id.contains('\n'),
      s"txn id must be <= 256 chars without newlines, got ${id.length}"))
    val header = txn.map(id => s"#txn=$id\n").getOrElse("") +
      s"#prev=${prevV.getOrElse(0L)}\n" +
      schemaIdHeader.map(id => s"#schemaid=$id\n").getOrElse("") +
      s"#ts=${System.currentTimeMillis()}\n" +
      headers.toSeq.sorted.map { case (k, hv) => s"#$k=$hv\n" }.mkString
    val lines = header + compose(prev, stamped).map(renderEntry).mkString("\n")
    Files.createDirectories(manifestDir(tablePath))
    val tmp = manifestDir(tablePath).resolve(f"v$v%08d.manifest.tmp")
    Files.write(tmp, lines.getBytes("UTF-8"))
    // NO replace: two committers preparing the same version — one loses,
    // loudly, instead of silently overwriting the other's manifest
    Files.move(tmp, manifestPath(tablePath, v), StandardCopyOption.ATOMIC_MOVE)
    v
  }

  /** The commit point: write-temp + ATOMIC_MOVE over `_current`.
    * MONOTONIC — never regresses the pointer (a slow committer must not
    * un-commit a faster one's later version; its own changes are already
    * composed into that later manifest or it aborted). */
  private[sources] def swapPointer(tablePath: String, version: Long): Unit = {
    if (currentVersion(tablePath).exists(_ >= version)) return
    val tmp = Paths.get(root(tablePath), s"_current.tmp.$version")
    Files.write(tmp, version.toString.getBytes("UTF-8"))
    Files.move(tmp, pointerPath(tablePath), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def listDataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil // an all-empty commit writes no dir
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith("."))
        out += f.getPath.toUri.getPath
    }
    out.result()
  }

  /** MERGE-style CDC apply with SNAPSHOT semantics — the atomic twin of
    * [[LakeLayout.mergeUpsert]] (same key/partition contract): the
    * base snapshot is read manifest-pruned to the changeset's
    * partitions, merged rows are written as new files, and one
    * replace-partitions commit swaps the pointer. A concurrent reader
    * sees all-old or all-new, every prior snapshot stays time-
    * travelable, and a concurrent writer on DISJOINT partitions rebases
    * cleanly (overlap aborts with [[ConcurrentCommitException]]).
    * Returns the committed version. */
  def mergeUpsert(spark: SparkSession, tablePath: String, changes: DataFrame,
                  keyCols: Seq[String], partitionCols: Seq[String],
                  deleteCol: Option[String] = None,
                  filesPerPartition: Int = 1): Long = {
    require(keyCols.nonEmpty && partitionCols.nonEmpty)
    require(partitionCols.forall(p => !keyCols.contains(p)),
      "partition columns must not overlap the key")
    // pin the ENTIRE operation to one base version: the pruned read, the
    // merge, and the conflict check all speak about the same snapshot
    val base = currentVersion(tablePath).getOrElse(
      sys.error(s"no committed snapshot at $tablePath"))
    val affected = changes.select(partitionCols.map(col): _*).distinct().collect()
      .map(row => partitionCols.zipWithIndex
        .map { case (p, i) => s"$p=${row.get(i)}" }.mkString("/")).toSet
    require(affected.nonEmpty, "empty changeset")
    // a changeset can target a BRAND-NEW partition (pure insert): the
    // pruned read then selects zero files — current is the empty frame
    // with the table's schema, and the merge reduces to the inserts
    val hasAffectedFiles = manifest(tablePath, Some(base))
      .exists(e => !e.isDelete && affected.contains(e.partSpec))
    // evolution-aware when schemas are recorded: a merge over a renamed
    // table resolves old files by field id and rewrites current names
    val evo = schemaOf(tablePath, Some(base)).isDefined
    val current =
      if (hasAffectedFiles)
        readSnapshot(spark, tablePath, Some(base),
          partitionPruning = affected.contains, allowSchemaEvolution = evo)
      else readSnapshot(spark, tablePath, Some(base),
        allowSchemaEvolution = evo).limit(0)
    val dataCols = current.columns.toSeq
    val changeKeys = changes.select(keyCols.map(col): _*).distinct()
    val upserts = deleteCol match {
      case Some(d) => changes.filter(!coalesce(col(d), lit(false))).drop(d)
      case None => changes
    }
    val merged = current
      .join(changeKeys, keyCols, "left_anti")
      .unionByName(upserts.select(dataCols.map(col): _*))
      // lineage cut: the commit's write must not re-plan the snapshot
      // read mid-overwrite (and the merge is cheaper materialized once)
      .localCheckpoint()
    // replaced set passed EXPLICITLY: a partition whose keys were all
    // deleted writes no files but must still drop from the manifest
    commitReplacePartitions(merged, tablePath, partitionCols,
      filesPerPartition, replacedPartitions = Some(affected),
      baseVersion = Some(base))
  }

  /** Incremental maintenance of an ADDITIVE grouped-aggregate table with
    * SNAPSHOT semantics — the atomic twin of
    * [[LakeLayout.maintainAggregate]] (same additive-only contract, same
    * delta algebra via the shared helpers): the delta aggregates only the
    * changeset, the base snapshot is read manifest-pruned to the
    * touched partitions (a delta introducing a BRAND-NEW partition merges
    * against the empty frame), and one replace-partitions commit swaps
    * the pointer — a reader never sees partition A maintained and
    * partition B not, and every prior aggregate state stays
    * time-travelable. Returns the committed version.
    */
  def maintainAggregate(spark: SparkSession, tablePath: String,
                        changes: DataFrame, groupCols: Seq[String],
                        countCol: String,
                        sumCols: Map[String, org.apache.spark.sql.Column],
                        partitionCols: Seq[String],
                        deleteCol: Option[String] = None,
                        filesPerPartition: Int = 1): Long = {
    require(groupCols.nonEmpty && partitionCols.nonEmpty)
    require(partitionCols.forall(groupCols.contains),
      "partition columns must be group columns")
    val base = currentVersion(tablePath).getOrElse(
      sys.error(s"no committed snapshot at $tablePath"))
    // r18 perf: the delta is consumed TWICE (the affected-partition
    // collect below and the combine) — materialize the group-count-sized
    // aggregate once instead of re-running the changeset aggregation per
    // consumer (guide §5: localCheckpoint for a reused small intermediate)
    val delta = LakeLayout.aggregateDelta(changes, groupCols, countCol,
      sumCols, deleteCol).localCheckpoint()
    val affected = delta.select(partitionCols.map(col): _*).distinct().collect()
      .map(row => partitionCols.zipWithIndex
        .map { case (p, i) => s"$p=${row.get(i)}" }.mkString("/")).toSet
    require(affected.nonEmpty, "empty changeset")
    val evo = schemaOf(tablePath, Some(base)).isDefined
    val baseDf = readSnapshot(spark, tablePath, Some(base),
      allowSchemaEvolution = evo)
    val hasAffectedFiles = manifest(tablePath, Some(base))
      .exists(e => !e.isDelete && affected.contains(e.partSpec))
    val current =
      if (hasAffectedFiles)
        readSnapshot(spark, tablePath, Some(base),
          partitionPruning = affected.contains, allowSchemaEvolution = evo)
      else baseDf.limit(0)
    val typed = LakeLayout.combineAggregate(current, delta,
      // schema from the snapshot read (partition cols included, in the
      // basePath-read order)
      baseDf.schema, groupCols, countCol, sumCols.keys.toSeq.sorted)
      .localCheckpoint() // maintained table is group-count-sized
    // explicit replaced set: an all-groups-zeroed partition writes no
    // files but must still drop from the manifest
    commitReplacePartitions(typed, tablePath, partitionCols,
      filesPerPartition, replacedPartitions = Some(affected),
      baseVersion = Some(base))
  }

  /** Row-level CHANGES between two committed versions — the CDC read that
    * lets downstream incremental consumers ([[maintainAggregate]], the
    * LSH/containment/IVF index appends) feed from the table's own history
    * instead of an external changeset. Cost is bounded by the CHANGED
    * file volume (manifest diff first; unchanged files are scanned only
    * when a new delete-key commit may have killed their rows).
    *
    * Returns the `vTo` schema plus `_change_type` (`insert` | `delete`);
    * an update appears as its delete+insert pair. File rewrites that
    * preserve rows (compaction) cancel out via multiset difference.
    *
    * Schema evolution: when the table records field-id schemas, the
    * whole range resolves to the `vTo` ([[readSnapshot]]'s schemaV)
    * schema by id — a range spanning a rename diffs correctly, with
    * pre-rename rows surfacing under the current name (r17; before
    * field ids the strict union failed loudly across evolution commits,
    * which remains the behavior for legacy schema-less tables). An
    * evolution commit by itself changes no files, so it contributes no
    * change rows. */
  def changes(spark: SparkSession, tablePath: String,
              vFrom: Long, vTo: Long): DataFrame = {
    require(vFrom <= vTo, s"vFrom=$vFrom must be <= vTo=$vTo")
    def noChanges(): DataFrame =
      readSnapshot(spark, tablePath, Some(vTo),
          allowSchemaEvolution = schemaOf(tablePath, Some(vTo)).isDefined)
        .limit(0)
        .withColumn("_change_type", lit(""))
    if (vFrom == vTo) return noChanges()
    // Compaction fast path (r13 VERDICT #6): a compaction replaces every
    // file, so a naive manifest diff reads BOTH endpoints in full only
    // for the multiset difference to cancel to empty. If every commit in
    // (vFrom, vTo] carries #compaction=true AND the #prev chain from vTo
    // lands exactly on vFrom, the range is row-preserving by construction
    // — answer at the manifest level, zero Spark scan jobs.
    val allCompaction = {
      var v = vTo
      var ok = true
      while (ok && v > vFrom) {
        if (!isCompaction(tablePath, v)) ok = false
        else prevOf(tablePath, v) match {
          case Some(p) if p >= vFrom && p < v => v = p
          case _ => ok = false // legacy manifest, or chain skips vFrom
        }
      }
      ok && v == vFrom
    }
    if (allCompaction) return noChanges()
    val from = manifest(tablePath, Some(vFrom))
    val to = manifest(tablePath, Some(vTo))
    def key(e: ManifestEntry) = (e.partSpec, e.relPath)
    val fromSet = from.map(key).toSet
    val toSet = to.map(key).toSet
    val addedData = to.filter(e => !e.isDelete && !fromSet(key(e)))
    val removedData = from.filter(e => !e.isDelete && !toSet(key(e)))
    val keptData = to.filter(e => !e.isDelete && fromSet(key(e)))
    val delFrom = deleteGroups(spark, tablePath, from.filter(_.isDelete))
    val delTo = deleteGroups(spark, tablePath, to.filter(_.isDelete))
    val newDeletes = delTo.filterNot(g => delFrom.exists(_._1 == g._1))
    // schema probe from whichever endpoint still HAS data files (vTo can
    // be all-deletes when a delete commit follows a full replace-away)
    val schemaV = if (to.exists(!_.isDelete)) vTo else vFrom
    // resolve the WHOLE range to schemaV's field-id schema when recorded:
    // both endpoints project onto the same target, so exceptAll compares
    // like with like even across a rename inside the range
    val evoSchema = schemaOf(tablePath, Some(schemaV))
    val schema = readSnapshot(spark, tablePath, Some(schemaV),
      allowSchemaEvolution = evoSchema.isDefined).limit(0)
    def readOr(entries: Seq[ManifestEntry],
               dels: Seq[(Long, Seq[String], DataFrame)]): DataFrame =
      if (entries.isEmpty) schema
      else readEntries(spark, tablePath, entries, dels,
        allowSchemaEvolution = evoSchema.isDefined, targetSchema = evoSchema)
    // rows visible among the added files at vTo / the removed files at vFrom
    val inserted = readOr(addedData, delTo)
    val removed = readOr(removedData, delFrom)
    // rows of files present in BOTH versions that a NEW delete-key commit
    // killed. Common case (all new deletes share key columns): ONE scan of
    // the kept files semi-joined against the broadcast-sized key union —
    // never a full-width multiset diff. Heterogeneous key sets fall back
    // to resolved-at-vFrom exceptAll resolved-at-vTo (two kept scans).
    val killedKept =
      if (newDeletes.isEmpty || keptData.isEmpty) schema
      else {
        val atFrom = readOr(keptData, delFrom)
        val keySets = newDeletes.map(_._2).distinct
        if (keySets.size == 1) {
          val keys = keySets.head
          val allKeys = newDeletes.map(_._3.select(keys.map(col): _*))
            .reduce(_.unionByName(_)).distinct()
          // a delete only applies to files OLDER than it; new deletes are
          // newer than every kept file by construction (kept files exist
          // at vFrom, the delete commits landed after), so no version
          // filter is needed here
          atFrom.join(allKeys, keys, "left_semi")
        } else atFrom.exceptAll(readOr(keptData, delTo))
      }
    inserted.exceptAll(removed).withColumn("_change_type", lit("insert"))
      .unionByName(removed.exceptAll(inserted)
        .unionByName(killedKept).withColumn("_change_type", lit("delete")))
  }

  /** Incremental CONSUMER front door over [[changes]]: process everything
    * committed since the last call, tracked by a version watermark file
    * (the [[JdbcIncremental]] watermark discipline — write-temp +
    * ATOMIC_MOVE, advanced only AFTER `process` returns).
    *
    *  - no watermark yet → the INITIAL LOAD: the full current snapshot is
    *    delivered as `_change_type = insert` rows;
    *  - watermark `w` < current `c` → `changes(w, c)` is delivered;
    *  - watermark current → NO-OP, `process` never runs.
    *
    * Delivery is at-least-once per version RANGE: a crash inside
    * `process` leaves the watermark untouched and the next call redelivers
    * — possibly a WIDER range if more commits landed meanwhile. Exactly-
    * once therefore needs an idempotent consumer: row-deduping sinks
    * (e.g. `SimilaritySearch.ivfAppend`) are safe as-is; snapshot-table
    * sinks should key [[commitAppendTxn]] by the FROM version
    * (`s"follow-$vFrom"` — stable across retries even when the TO version
    * drifts). Returns the processed (vFrom, vTo), or None on no-op. */
  def followChanges(spark: SparkSession, tablePath: String,
                    watermarkFile: String, ref: Option[String] = None)
                   (process: (DataFrame, Long, Long) => Unit): Option[(Long, Long)] = {
    val wmPath = Paths.get(root(watermarkFile))
    val wm =
      if (Files.exists(wmPath))
        new String(Files.readAllBytes(wmPath), "UTF-8").trim.toLong
      else 0L
    // track a named BRANCH instead of _current when `ref` is given — the
    // consumer advances only as far as the branch head, whatever the
    // main pointer does (a branch rewind below the watermark is a no-op
    // until the branch passes it again: ranges never run backwards)
    val cur = ref match {
      case Some(n) => refVersion(tablePath, n).getOrElse(
        sys.error(s"no ref '$n' at $tablePath"))
      case None => currentVersion(tablePath).getOrElse(
        sys.error(s"no committed snapshot at $tablePath"))
    }
    if (cur <= wm) return None
    val frame =
      if (wm == 0L)
        readSnapshot(spark, tablePath, Some(cur),
            allowSchemaEvolution = schemaOf(tablePath, Some(cur)).isDefined)
          .withColumn("_change_type", lit("insert"))
      else changes(spark, tablePath, wm, cur)
    process(frame, wm, cur)
    if (wmPath.getParent != null) Files.createDirectories(wmPath.getParent)
    val tmp = wmPath.resolveSibling(s"${wmPath.getFileName}.tmp.$cur")
    Files.write(tmp, cur.toString.getBytes("UTF-8"))
    Files.move(tmp, wmPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    Some((wm, cur))
  }

  /** EXACTLY-ONCE incremental table MIRROR (round 17): replicate `src`
    * into `dst` one source VERSION at a time — the composition the
    * [[followChanges]] scaladoc promises ("snapshot-table sinks should
    * key commitAppendTxn by the from version"), hardened into a real
    * primitive. Per source version v (from the watermark forward):
    *
    *  - v = 1 → the initial snapshot delivered as inserts; otherwise
    *    `changes(v-1, v)` — a single-commit range, so retries always
    *    redeliver EXACTLY the same rows (a multi-commit range would
    *    widen under a crash-retry and either lose or double-apply the
    *    widened sliver, which is why this loops versions individually);
    *  - deletes apply FIRST as a txn-keyed delete-key commit
    *    (`<appId>-v<v>-d`), then inserts as a txn-keyed append
    *    (`<appId>-v<v>-i`) — an update's delete+insert pair lands with
    *    the insert surviving (MoR deletes only bite older files);
    *  - the watermark advances only after both commits settle, so every
    *    crash point replays idempotently (settled txns no-op).
    *
    * The mirror needs `src` retention ≥ its lag: a vacuumed intermediate
    * version fails loudly (changes() requires both manifests). Source
    * schema evolution mid-stream is resolved by changes() to each
    * version's schema. Returns the number of versions applied. */
  def mirrorChanges(spark: SparkSession, src: String, dst: String,
                    watermarkFile: String, keyCols: Seq[String],
                    partitionCols: Seq[String], txnAppId: String = "mirror",
                    filesPerPartition: Int = 1): Int = {
    val wmPath = Paths.get(root(watermarkFile))
    val wm =
      if (Files.exists(wmPath))
        new String(Files.readAllBytes(wmPath), "UTF-8").trim.toLong
      else 0L
    val cur = currentVersion(src).getOrElse(
      sys.error(s"no committed snapshot at $src"))
    var applied = 0
    var v = wm + 1
    while (v <= cur) {
      val frame =
        if (v == 1L) readSnapshot(spark, src, Some(1L))
          .withColumn("_change_type", lit("insert"))
        else changes(spark, src, v - 1, v)
      // one materialization feeds both legs (the change frame is
      // changed-file-bounded, not table-sized)
      val ch = frame.localCheckpoint()
      val dels = ch.filter(col("_change_type") === "delete")
        .select(keyCols.map(col): _*).distinct()
      val ins = ch.filter(col("_change_type") === "insert")
        .drop("_change_type")
      // r18 perf: ONE ≤2-row aggregate over the checkpoint decides both
      // emptiness probes — the two isEmpty calls each cost a planned
      // limit-1 job, pure per-version fixed overhead (guide §1.2: fewer
      // actions), and the counts job reads the already-materialized
      // blocks only
      val nByType = ch.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      if (nByType.getOrElse("delete", 0L) > 0L && currentVersion(dst).isDefined)
        commitDeleteByKeys(spark, dst, dels, keyCols,
          txnId = Some(s"$txnAppId-v$v-d"))
      if (nByType.getOrElse("insert", 0L) > 0L)
        commitAppendTxn(ins, dst, partitionCols, s"$txnAppId-v$v-i",
          filesPerPartition)
      if (wmPath.getParent != null) Files.createDirectories(wmPath.getParent)
      val tmp = wmPath.resolveSibling(s"${wmPath.getFileName}.tmp.$v")
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, wmPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      applied += 1
      v += 1
    }
    applied
  }

  // ---------------------------------------------------------------- refs

  private def refsDir(t: String) = Paths.get(root(t), "_refs")
  private val RefName = "[A-Za-z0-9][A-Za-z0-9._-]{0,63}"
  private def refPath(t: String, name: String) = {
    require(name.matches(RefName) && name != "_current",
      s"invalid ref name '$name' (allowed: $RefName)")
    refsDir(t).resolve(name)
  }

  /** Create a NAMED REF (branch/tag — the Iceberg ref surface,
    * minimally): a version pointer beside `_current`, maintained with
    * the same write-temp + ATOMIC_MOVE discipline. Experiments pin a
    * corpus version by name ([[readRef]]), [[vacuum]] retains every
    * ref'd version, and an incremental consumer can track a branch
    * ([[followChanges]]' `ref`). Creation is exclusive — an existing
    * ref of the same name fails LOUDLY (the no-replace move); move an
    * existing ref with [[advanceRef]]. Defaults to the current
    * committed version; returns the pinned version. */
  def createRef(tablePath: String, name: String,
                version: Option[Long] = None): Long =
    lockFor(tablePath).synchronized {
      val v = version.orElse(currentVersion(tablePath)).getOrElse(
        sys.error(s"no committed snapshot at $tablePath"))
      require(Files.exists(manifestPath(tablePath, v)),
        s"cannot ref nonexistent snapshot v$v at $tablePath")
      val p = refPath(tablePath, name)
      // exclusive create enforced under the lock: POSIX rename(2) — the
      // ATOMIC_MOVE implementation — replaces silently, so a bare
      // no-REPLACE move does NOT fail on an existing ref
      if (Files.exists(p))
        throw new java.nio.file.FileAlreadyExistsException(
          s"ref '$name' already exists at $tablePath (advanceRef moves it)")
      Files.createDirectories(refsDir(tablePath))
      val tmp = p.resolveSibling(s".${p.getFileName}.tmp.$v")
      Files.write(tmp, v.toString.getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      v
    }

  /** The version ref `name` pins, if the ref exists. */
  def refVersion(tablePath: String, name: String): Option[Long] = {
    val p = refPath(tablePath, name)
    if (Files.exists(p))
      Some(new String(Files.readAllBytes(p), "UTF-8").trim.toLong)
    else None
  }

  /** Move ref `name` to `to` — per-ref OCC: when `expected` is given the
    * move only lands if the ref still pins that version, else
    * [[ConcurrentCommitException]] (two experiments advancing the same
    * branch: one rebases or aborts, never a silent clobber). Unlike
    * `_current` a ref MAY move backward — rewinding an experiment
    * branch is legitimate. */
  def advanceRef(tablePath: String, name: String, to: Long,
                 expected: Option[Long] = None): Long =
    lockFor(tablePath).synchronized {
      val cur = refVersion(tablePath, name).getOrElse(
        sys.error(s"no ref '$name' at $tablePath"))
      expected.filter(_ != cur).foreach { e =>
        throw new ConcurrentCommitException(
          s"ref '$name' moved: expected v$e but found v$cur at $tablePath")
      }
      require(Files.exists(manifestPath(tablePath, to)),
        s"cannot ref nonexistent snapshot v$to at $tablePath")
      val p = refPath(tablePath, name)
      val tmp = p.resolveSibling(s".${p.getFileName}.tmp.$to")
      Files.write(tmp, to.toString.getBytes("UTF-8"))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      to
    }

  /** Drop ref `name`; returns whether it existed. The pinned snapshot
    * becomes reclaimable by the NEXT [[vacuum]] (if outside its
    * retention set). */
  def dropRef(tablePath: String, name: String): Boolean =
    lockFor(tablePath).synchronized(Files.deleteIfExists(refPath(tablePath, name)))

  /** All refs as name → pinned version. */
  def listRefs(tablePath: String): Map[String, Long] = {
    val d = refsDir(tablePath)
    if (!Files.exists(d)) return Map.empty
    val ls = Files.list(d)
    val out = Map.newBuilder[String, Long]
    try ls.forEach { p =>
      val n = p.getFileName.toString
      if (!n.startsWith(".")) // skip in-flight temps
        out += n -> new String(Files.readAllBytes(p), "UTF-8").trim.toLong
    } finally ls.close()
    out.result()
  }

  /** Read the snapshot a named ref pins — `readSnapshot` by name. */
  def readRef(spark: SparkSession, tablePath: String, name: String,
              partitionPruning: String => Boolean = _ => true,
              allowSchemaEvolution: Boolean = false,
              statsPruning: Map[String, ColStats] => Boolean = _ => true): DataFrame = {
    val v = refVersion(tablePath, name).getOrElse(
      sys.error(s"no ref '$name' at $tablePath"))
    readSnapshot(spark, tablePath, Some(v), partitionPruning,
      allowSchemaEvolution, statsPruning)
  }

  /** Table history as a DataFrame — (version, committed, txn, n_files,
    * n_partitions, n_delete_files): the DESCRIBE-HISTORY introspection a
    * maintenance job reads before choosing what to vacuum or which
    * version to pin. Driver-side over the manifests (version-count-
    * bounded). */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val committed = currentVersion(tablePath).getOrElse(-1L)
    snapshots(tablePath).map { v =>
      val es = manifest(tablePath, Some(v))
      val (dels, datas) = es.partition(_.isDelete)
      (v, v <= committed, txnOf(tablePath, v).getOrElse(""),
        datas.size.toLong, datas.map(_.partSpec).distinct.size.toLong,
        dels.size.toLong)
    }.toDF("version", "committed", "txn", "n_files", "n_partitions",
      "n_delete_files")
  }

  /** Compaction as a COMMIT: rewrite the current snapshot into one fresh
    * commit directory (resetting the per-snapshot scan-union count that
    * grows with contributing commits) and ABSORB merge-on-read delete
    * files (the overwrite reads resolved rows and composes a manifest
    * with no delete entries) — readers switch atomically, prior versions
    * stay time-travelable until [[vacuum]] reclaims them. */
  def compact(spark: SparkSession, tablePath: String,
              partitionCols: Seq[String] = Nil,
              filesPerPartition: Int = 1,
              clusterBy: Seq[Column] = Nil,
              statsCols: Seq[String] = Nil): Long = {
    // no caching: the rewrite reads the old commit dirs while writing a
    // fresh one — conflict-free by the layout, and a 100 TB table must
    // stream through, not materialize. Base pinned: a commit landing
    // mid-compaction aborts the compaction instead of being dropped.
    val base = currentVersion(tablePath).getOrElse(
      sys.error(s"no committed snapshot at $tablePath"))
    // the #compaction=true header lets changes() cancel a row-preserving
    // range at the manifest level instead of two full-table scans.
    // Evolution-aware read when the table records schemas: a compaction
    // spanning a rename must resolve pre-rename files by FIELD ID and
    // rewrite everything under the CURRENT names (the rewrite also
    // retires the old physical names — post-compaction reads need no id
    // mapping for these files).
    commit(readSnapshot(spark, tablePath, Some(base),
        allowSchemaEvolution = schemaOf(tablePath, Some(base)).isDefined),
      tablePath,
      partitionCols, filesPerPartition, clusterBy, statsCols, Some(base),
      headers = Map("compaction" -> "true"))(_ => OverwritePolicy) {
      (_, fresh) => fresh
    }
  }

  /** DELETE-FILE MAINTENANCE (r16 VERDICT #4 — the Iceberg "rewrite
    * position deletes" pass): fold every pending merge-on-read delete-key
    * file into rewritten data files, committing a version whose read
    * needs NO anti-join. Unlike [[compact]] this touches only the
    * partitions that actually HOLD doomed rows:
    *
    *  1. one semi-join scan finds the partitions containing any pending
    *     delete key (the unavoidable victim-location cost — keys are
    *     global, so dropping a delete file is only safe once every
    *     partition it could bite has been rewritten or proven clean);
    *  2. those partitions are re-read RESOLVED (anti-joins applied) and
    *     rewritten — untouched partitions keep their files byte-for-byte;
    *  3. one commit replaces the affected partitions' entries AND drops
    *     every delete entry from the manifest.
    *
    * Without this pass delete files accumulate forever and the read-side
    * anti-join grows without bound under a delete-heavy workload; after
    * it, reads are plain scans again and [[metadataAggregate]] works
    * (it refuses tables with pending deletes). Interleaved commits
    * rebase/abort exactly like [[commitReplacePartitions]] (any
    * concurrent delete commit conflicts — it could bite a partition
    * this pass just proved clean). Returns the committed version (the
    * unchanged current version when there are no pending deletes). */
  def rewriteDeletes(spark: SparkSession, tablePath: String,
                     partitionCols: Seq[String],
                     filesPerPartition: Int = 1,
                     statsCols: Seq[String] = Nil): Long = {
    val base = currentVersion(tablePath).getOrElse(
      sys.error(s"no committed snapshot at $tablePath"))
    val entries = manifest(tablePath, Some(base))
    val (dels, datas) = entries.partition(_.isDelete)
    if (dels.isEmpty) return base
    require(datas.nonEmpty, s"snapshot has only delete files at $tablePath")
    val evo = schemaOf(tablePath, Some(base)).isDefined
    // victim location: per distinct key-set, semi-join the UNRESOLVED
    // data against the (small, scanned-per-read anyway) key union; the
    // output is partition-value-bounded. Rows re-inserted AFTER a delete
    // flag their partition too — harmless: the resolved rewrite keeps
    // them (the anti-join only applies to files older than the delete).
    val groups = deleteGroups(spark, tablePath, dels)
    val targetSchema = if (evo) schemaOf(tablePath, Some(base)) else None
    val unresolved = readEntries(spark, tablePath, datas, Nil, evo, targetSchema)
    val affected: Set[String] = groups.map(_._2).distinct.flatMap { keyCols =>
      val keys = groups.filter(_._2 == keyCols)
        .map(_._3.select(keyCols.map(col): _*)).reduce(_.unionByName(_))
        .distinct()
      unresolved.join(keys, keyCols, "left_semi")
        .select(partitionCols.map(col): _*).distinct().collect()
        .map(row => partitionCols.zipWithIndex
          .map { case (p, i) => s"$p=${row.get(i)}" }.mkString("/"))
    }.toSet
    if (affected.isEmpty) {
      // every pending delete bites nothing: drop the delete entries with
      // a metadata-only commit. Drop exactly the BASE snapshot's delete
      // entries (the ones the victim scan proved clean) — a delete
      // commit interleaving between the scan and this commit stays in
      // the manifest untouched (review r17: filterNot(_.isDelete) here
      // would silently erase it and resurrect its rows; base deletes
      // can never bite data committed after them, so the scoped drop
      // needs no conflict check at all)
      val baseDeletePaths = dels.map(_.relPath).toSet
      return lockFor(tablePath).synchronized {
        val v = commitManifest(tablePath, Nil, None,
          headers = Map("rewrite_deletes" -> "true"))(
          (prev, _) => prev.filterNot(e =>
            e.isDelete && baseDeletePaths(e.relPath)))
        swapPointer(tablePath, v)
        v
      }
    }
    val resolved = readSnapshot(spark, tablePath, Some(base),
        partitionPruning = affected.contains, allowSchemaEvolution = evo)
      .localCheckpoint() // lineage cut before the overwrite (mergeUpsert discipline)
    // statsCols: re-record per-file bounds + row counts for the
    // rewritten partitions, so a stats-maintained table keeps
    // metadataAggregate working straight after maintenance (clean
    // partitions keep their original stats untouched)
    commit(resolved, tablePath, partitionCols, filesPerPartition, Nil,
        statsCols, Some(base), headers = Map("rewrite_deletes" -> "true"))(
      _ => ReplacePolicy(affected)) { (prev, fresh) =>
      prev.filterNot(e => e.isDelete || affected.contains(e.partSpec)) ++ fresh
    }
  }

  /** Reclaim space: delete data files referenced by NO retained manifest
    * (keep the last `keepSnapshots` committed versions; orphaned
    * preparations beyond the pointer are reclaimed too) and drop the
    * expired manifests. Time travel remains valid for every kept
    * version. Returns (filesDeleted, manifestsDeleted).
    *
    * Runs UNDER the per-table lock and only reclaims artifacts older
    * than `minAgeMs` (r13 ADVICE, medium): an in-flight commit writes
    * its data files BEFORE taking the lock, so an unguarded vacuum
    * could delete files the commit is about to reference (and
    * above-pointer manifests a committer just moved into place). The
    * default window is the Delta/Iceberg retention-age discipline —
    * far longer than any commit's write-to-swap gap; tests that plant
    * crash states and reclaim them immediately pass `minAgeMs = 0`. */
  def vacuum(spark: SparkSession, tablePath: String,
             keepSnapshots: Int = 2,
             minAgeMs: Long = 20L * 60 * 1000): (Long, Long) =
      lockFor(tablePath).synchronized {
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: java.nio.file.Path): Boolean =
      scala.util.Try(Files.getLastModifiedTime(p).toMillis <= cutoff)
        .getOrElse(false) // vanished concurrently: not ours to delete
    val committed = currentVersion(tablePath).getOrElse(
      sys.error(s"no committed snapshot at $tablePath"))
    val all = snapshots(tablePath)
    // named refs PIN their versions: an experiment reading a branch by
    // name must survive maintenance, whatever the retention count says
    val refPins = listRefs(tablePath).values.toSet
      .filter(v => Files.exists(manifestPath(tablePath, v)))
    val keep = all.filter(_ <= committed)
      .takeRight(math.max(1, keepSnapshots)).toSet ++ refPins
    val referenced = keep.toSeq.flatMap(v => manifest(tablePath, Some(v)))
      .map(_.relPath).toSet
    val r = root(tablePath)
    var filesDeleted = 0L
    val youngDirs = scala.collection.mutable.Set.empty[String]
    listDataFiles(spark, s"$r/data").foreach { abs =>
      val rel = abs.stripPrefix(s"$r/")
      if (!referenced.contains(rel)) {
        val p = Paths.get(abs)
        if (oldEnough(p)) {
          Files.deleteIfExists(p)
          filesDeleted += 1
        } else youngDirs += rel.split("/").take(2).mkString("/")
      }
    }
    var manifestsDeleted = 0L
    all.filterNot(keep.contains)
      .filter(v => oldEnough(manifestPath(tablePath, v))).foreach { v =>
        Files.deleteIfExists(manifestPath(tablePath, v))
        // deleting an ABOVE-POINTER orphan manifest frees its version
        // number for reallocation (allocation takes max over manifests),
        // so a cached header for it would serve a DEAD transaction's
        // #txn/#prev under the recycled version — an exactly-once hole
        // (r15 review). Evict the whole version from the cache here,
        // under the same table lock every settle/commit takes.
        headerCache.remove(s"$r#$v")
        manifestsDeleted += 1
      }
    // remove commit DIRECTORIES that no retained manifest references at
    // all (a vacuumed crash-orphan, or a fully-superseded commit): only
    // hidden markers (_SUCCESS, .crc) remain in them after the file pass
    // above, and a leftover LEGACY data/vN shell would wedge the version
    // counter forever. Partially-referenced dirs (replace-partitions
    // keeps some of an old commit's files) are left alone: their files
    // are still live.
    val referencedDirs = referenced.map(_.split("/").take(2).mkString("/"))
    val dataRoot = Paths.get(r, "data")
    if (Files.exists(dataRoot)) {
      val ls = Files.list(dataRoot)
      val children = try {
        val b = Seq.newBuilder[java.nio.file.Path]
        ls.forEach(p => b += p)
        b.result()
      } finally ls.close()
      children.filter { p =>
          val dirRel = s"data/${p.getFileName}"
          Files.isDirectory(p) && !referencedDirs.contains(dirRel) &&
            !youngDirs.contains(dirRel) && oldEnough(p)
        }
        .foreach { p =>
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
          finally walk.close()
        }
    }
    (filesDeleted, manifestsDeleted)
  }
}
