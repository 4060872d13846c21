package graft.fls

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Versioned manifest commit for object stores. Rename-based commit
  * (staged files renamed at job commit) is atomic per file on HDFS/local
  * but copy+delete on S3-like stores — a visible
  * non-atomic window per file. In `commit_mode=manifest` the table's
  * contents are defined by ONE small immutable file per table version,
  * `_fls_manifest_log/v<N>`: tasks write data files directly under
  * attempt-unique final names (no renames at all), and readers trust the
  * newest manifest version instead of directory listing — which also
  * removes the recursive-listing RPC from planning (a 100k-file table
  * plans from one tiny-directory listing + one manifest read). Files on
  * disk but not in the manifest (losing speculative attempts, crashed
  * jobs, junk) are invisible.
  *
  * CONCURRENCY: every version is published by [[commit]], one
  * optimistic-concurrency loop — each committer turns the newest
  * version into a [[Delta]] (what it adds, removes and restates) and
  * claims `v<N+1>` with a create-exclusive primitive (hard link on local
  * filesystems, no-overwrite rename on HDFS-likes); the loser of a race
  * re-reads the winner's version and recomputes its delta, which is
  * metadata-only because data files are attempt-unique. The commit
  * opens only the entry chunks the delta touches. Two concurrent
  * appenders both land; compact-vs-append is resolved by
  * [[FlsMaintenance]] verifying its frozen inputs are still present at
  * swap time. Concurrent OVERWRITES remain last-writer-wins (an
  * overwrite semantically deletes everything committed before it — the
  * usual contract for catalogless table formats).
  *
  * The reference has no cluster commit story at all (single-process
  * writer, /root/reference/src/writer/fls_writer.cpp:332-347); this and
  * the staged-rename protocol are the Spark-scale additions.
  *
  * Format (UTF-8 text): header line `#fls-manifest v1`, then one line
  * per data file: `<length>\t<mtime>\t<relativePath>`. mtime 0 means
  * "immutable" (manifest-mode files are never rewritten in place);
  * lengths ride along so readers can build FileStatus without a
  * per-file stat. A pre-versioned `_fls_manifest` single file (same
  * format) is read as version 0 and retired on the first versioned
  * commit. */
object FlsManifest {
  /** Legacy (pre-versioned) manifest name, still read as version 0. */
  val FileName = "_fls_manifest"
  /** Directory of immutable versioned manifests, `v<20-digit-N>`. */
  val LogDirName = "_fls_manifest_log"
  private val Header = "#fls-manifest v1"
  /** SEGMENTED manifest header (format v3 of the log, file-format
    * "v2"): past [[InlineThresholdKey]] entries, a version file stops
    * carrying one line per data file and instead points at immutable
    * entry CHUNKS (`#chunk\t<name>\t<count>` lines; chunk files live
    * under `_fls_manifest_log/chunks/`, [[ChunkHeader]] format). A
    * commit then writes only the version file plus the chunks it
    * TOUCHED — O(delta + touched chunks) bytes, not O(table): the
    * Iceberg manifest-file/manifest-list split. Without this, every
    * hourly append to a million-file table re-serializes ~1 GB of
    * entry+stats lines through a driver StringBuilder, forever. The
    * header is a NEW string on purpose: a pre-segmentation reader of a
    * chunked manifest must fail loudly on the header check, never
    * silently read `#chunk` pointers as skippable metadata and serve
    * an empty table. */
  private val HeaderV2 = "#fls-manifest v2"
  private val ChunkHeader = "#fls-chunk v1"
  /** Subdirectory of [[LogDirName]] holding immutable entry chunks,
    * shared by every ref (branch version files point into the same
    * pool; chunk files are content-immutable and name-unique). */
  val ChunksDirName = "chunks"
  def chunksDir(dir: Path): Path = new Path(logDir(dir), ChunksDirName)
  /** Hadoop-conf knob: manifests with at most this many entries stay
    * INLINE (one line per file in the version file itself — zero extra
    * reads, the right shape for small tables). Above it, commits
    * switch to chunked layout. */
  val InlineThresholdKey = "graft.fls.manifest.inline.threshold"
  val DefaultInlineThreshold = 1024
  /** Hadoop-conf knob: target entries per chunk. With 8k entries/chunk
    * a 1M-file table is ~125 chunk pointers per version file, and a
    * single-file append writes one pointer file + one 1-entry chunk. */
  val ChunkTargetKey = "graft.fls.manifest.chunk.target"
  val DefaultChunkTarget = 8192

  /** When this many reusable chunks have decayed below half the target
    * size (single-append commits each add a tiny chunk), fold them into
    * the delta and rewrite right-sized ones — amortized O(chunkTarget)
    * per commit, keeping the chunk count O(entries/target + bound). */
  private val SmallChunkMergeBound = 8
  /** Default versions retained behind the newest — headroom for pinned
    * (`manifest_version`) readers planned just before a burst of
    * commits; older versions are GC'd best-effort at each commit.
    * Override per table with the [[RetentionProperty]] table property:
    * retention is the budget for EVERY versioned surface (time travel,
    * rollback, incremental reads, the batch and streaming change-data-
    * feed), so tables with slow downstream consumers or deep-history
    * requirements raise it, high-churn staging tables lower it. */
  val DefaultKeepVersions = 8
  /** `TBLPROPERTIES ('retention_versions'='N')` — how many versions to
    * retain behind the newest (catalog tables; the table-metadata log
    * follows the same budget). */
  val RetentionProperty = "retention_versions"
  private val MaxCasAttempts = 100

  /** Parse + bound a retention override; throws on junk so a typo'd
    * property is refused at DDL, never silently defaulted at GC. */
  def validateRetention(s: String): Int = {
    val k =
      try s.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"fls: $RetentionProperty must be an integer, got '$s'")
      }
    require(k >= 1 && k <= 100000,
      s"fls: $RetentionProperty must be in [1, 100000], got $k")
    k
  }

  /** The retention in force for a table's logs. Strict validation runs
    * at CREATE/ALTER ([[validateRetention]]); HERE — inside every data
    * commit's GC — a malformed value (written by an external tool or a
    * path that bypassed DDL validation) falls back to
    * [[DefaultKeepVersions]] with a warning instead of throwing, so a
    * bad property can never brick writes to the table. */
  private[fls] def keepOf(meta: Option[FlsTableMeta.Meta]): Int =
    meta.flatMap(_.properties.get(RetentionProperty)).map { s =>
      try validateRetention(s)
      catch {
        case e: IllegalArgumentException =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"fls: ignoring malformed $RetentionProperty='$s' at commit-" +
              s"time GC (${e.getMessage}); using $DefaultKeepVersions — " +
              "fix the property with ALTER TABLE ... SET TBLPROPERTIES")
          DefaultKeepVersions
      }
    }.getOrElse(DefaultKeepVersions)

  /** `stats`: optional per-file statistics (compact JSON, see
    * [[FlsFileStats]]) carried IN the manifest line so a cold driver can
    * prune files against pushed filters without opening a single footer
    * — the Iceberg-style manifest min/max, absent from the reference
    * (which re-opens every footer at bind,
    * /root/reference/src/reader/fls_multi_file_info.cpp:99-110). Null =
    * stats unknown (legacy entries, compaction seeds): the file is
    * always planned and its footer read as before. Footers stay
    * authoritative — manifest stats only ever SKIP files, row-group
    * pruning re-decides from the footer. */
  final case class Entry(rel: String, length: Long, mtime: Long,
      stats: String = null)

  /** What KIND of commit a version was (`#op` header line, v2 of the
    * manifest format — absent on pre-tag manifests). `dataChange=false`
    * marks commits that reorganize bytes without changing the table's
    * ROWS (compaction, the legacy-upgrade identity commit): the
    * change-data-feed skips their file churn, exactly like Delta's
    * `dataChange=false` actions.
    *
    * `schemaVersion` (`#schema` header line) is the [[FlsTableMeta]]
    * version that was CURRENT when this data version committed — the
    * Iceberg snapshot/schema-id correspondence: `VERSION AS OF v` binds
    * to the schema as of v, not the schema of today
    * ([[graft.fls.connector.FlsCatalog]]). None for path-based tables
    * (no metadata log — schema inferred from footers) and for versions
    * committed before the stamp existed (those read through the current
    * schema, the documented legacy stance). */
  final case class VersionMeta(op: String, dataChange: Boolean,
      schemaVersion: Option[Long] = None)

  /** Per-commit change-data-feed SPLIT metadata (`#cdc` header lines,
    * v3 of the manifest format — written only by MERGE commits on
    * tables with `merge_cdc=true`). A merge commit mixes matched
    * updates with unmatched inserts and matched deletes; file-level
    * diffs cannot tell them apart, so the row-level operation records
    * the split AT COMMIT, from inside the write that knows which rows
    * matched (Delta's CDC-file approach re-expressed as manifest
    * metadata + position sidecars):
    *   - [[CdcPost]]: an ADDED file whose rows are all
    *     `update_postimage` (the delta writer routes matched-update
    *     rows to their own files);
    *   - [[CdcSplit]]: a re-vectored surviving file whose DV growth
    *     splits into `pre` (positions deleted BY UPDATE — served as
    *     `update_preimage`) and `pure` (positions deleted by a
    *     matched-DELETE action — served as `delete`), each an
    *     [[FlsDeleteVectors]]-format sidecar basename, absent when
    *     that side is empty.
    * Lines are header metadata: pre-cdc readers skip unknown `#` lines,
    * so the extension is backward- and forward-compatible. Vacuum
    * vouches the sidecars of every retained version. */
  sealed trait CdcLine { def rel: String }
  final case class CdcPost(rel: String) extends CdcLine
  final case class CdcSplit(rel: String, pre: Option[String],
      pure: Option[String]) extends CdcLine

  def manifestPath(dir: Path): Path = new Path(dir, FileName)
  def logDir(dir: Path): Path = new Path(dir, LogDirName)
  def versionPath(dir: Path, v: Long): Path = new Path(logDir(dir), f"v$v%020d")

  // ---------------------------------------------------------------- refs
  // Write-audit-publish: a BRANCH is a sibling version lineage under
  // `_fls_manifest_log/refs/<name>/` sharing the table's data files —
  // created as a copy of the main head's (immutable) version file,
  // advanced by the same CAS commit, invisible to main readers until
  // `fast_forward` republishes its head entry set on main. A TAG is an
  // immutable named pointer `_fls_manifest_log/tags/<name>` to a main
  // version; tagged versions are exempt from log GC (and therefore
  // from vacuum) for as long as the tag exists. Both piggyback on the
  // log dir: version listing parses only `v<20-digit>` names, so the
  // `refs/`/`tags/` subdirectories are invisible to pre-refs readers —
  // backward- and forward-compatible like every other log extension.

  /** The default lineage (the bare `_fls_manifest_log/v*` files). */
  val MainRef = "main"
  def refsDir(dir: Path): Path = new Path(logDir(dir), "refs")
  def tagsDir(dir: Path): Path = new Path(logDir(dir), "tags")
  /** The version-file directory of one lineage. */
  def refLog(dir: Path, ref: String): Path =
    if (ref == MainRef) logDir(dir) else new Path(refsDir(dir), ref)
  def versionPath(dir: Path, v: Long, ref: String): Path =
    new Path(refLog(dir, ref), f"v$v%020d")

  def validateRefName(name: String): String = {
    require(name != null && name.nonEmpty &&
        name.forall(c => c.isLetterOrDigit || c == '_' || c == '-') &&
        name != MainRef,
      s"fls: ref name must be [A-Za-z0-9_-]+ and not '$MainRef', got '$name'")
    // an all-digit name would be shadowed forever: VERSION AS OF
    // resolves numbers as manifest versions FIRST
    require(!name.forall(_.isDigit),
      s"fls: ref name '$name' is all digits — VERSION AS OF would read " +
        "it as a manifest version number; include a letter")
    name
  }

  /** Existing branch names (empty when none). */
  def branches(fs: FileSystem, dir: Path): Seq[String] =
    try fs.listStatus(refsDir(dir)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).sorted
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Tag name → pinned main version. Runs inside every main commit's
    * GC-protect step, so it follows [[keepOf]]'s degrade-don't-throw
    * stance: a malformed or foreign file in the tags dir (an editor
    * backup, a partial external write) is SKIPPED with a warning
    * instead of bricking every subsequent write to the table. */
  def tags(fs: FileSystem, dir: Path): Map[String, Long] =
    try fs.listStatus(tagsDir(dir)).toSeq.filter(_.isFile).flatMap { s =>
      val in = fs.open(s.getPath)
      val buf = new Array[Byte](s.getLen.toInt)
      try in.readFully(0, buf) finally in.close()
      val body = new String(buf, StandardCharsets.UTF_8).trim
      try Some(s.getPath.getName -> body.toLong)
      catch {
        case _: NumberFormatException =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"fls: ignoring malformed tag file ${s.getPath} (content " +
              s"'${body.take(40)}' is not a version number) — remove or " +
              "re-create the tag")
          None
      }
    }.toMap
    catch { case _: java.io.FileNotFoundException => Map.empty }

  /** One `#chunk` pointer line AS WRITTEN — name, recorded entry
    * count, and (post-r15 format) the chunk's inclusive [minRel,
    * maxRel]. This is the O(delta) commit currency: a pointer whose
    * range cannot intersect a commit's touched rels is carried into
    * the next version VERBATIM, without ever opening the chunk.
    * `ranged=false` marks pre-range pointers, which must always be
    * opened (and are thereby upgraded to ranged on the rewrite). */
  private[fls] final case class Pointer(name: String, count: Long,
      minRel: String, maxRel: String, ranged: Boolean,
      /** Optional chunk-level VALUE stats (merged per-file bounds for
        * the table's `manifest_chunk_stats` columns, [[FlsFileStats]]
        * JSON) — lets key-range DML planning skip the chunk unopened.
        * Null = no recorded stats: always open. */
      stats: String = null,
      /** Minimum birth version over this chunk's entries (`b:` field,
        * r17; -1 = written before the field). The equality-delete
        * absorption proof of [[commit]]: a carried predicate of
        * version pv is DEAD — applies to no retained entry — iff every
        * kept pointer's minBv > pv and every entry the commit
        * materialized has bv > pv, all computable without opening a
        * single kept chunk. A pointer without the field is opened by
        * the next commit that carries a predicate and rewritten with it. */
      minBv: Long = -1L) {
    /** Could any rel of `sortedRels` live in this chunk? Rangeless
      * pointers answer yes (must open). */
    def mayContainAny(sortedRels: Array[String]): Boolean = {
      if (!ranged) return true
      if (sortedRels.isEmpty || count == 0L) return false
      // first rel >= minRel, then check it is <= maxRel
      var lo = 0; var hi = sortedRels.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (sortedRels(mid) < minRel) lo = mid + 1 else hi = mid
      }
      lo < sortedRels.length && sortedRels(lo) <= maxRel
    }
  }

  /** Everything one version file resolves to: its op metadata, the
    * entry set (inline lines plus every resolved chunk's), the CDC
    * split lines, and the chunk pointers — the last is what lets the
    * NEXT commit reuse untouched chunks by pointer. */
  private[fls] final case class Layout(meta: Option[VersionMeta],
      entries: Seq[Entry], cdc: Seq[CdcLine],
      /** Active equality-delete predicates (`#eqdel` lines, raw JSON —
        * [[FlsEqDeletes]]): carried forward by every commit until
        * absorbed (no retained entry predates the predicate). */
      eq: Seq[String] = Nil,
      /** The raw `#chunk` pointer lines, parsed but UNRESOLVED —
        * populated for every v2 file regardless of `resolveChunks`,
        * so [[commit]] can plan which chunks to open without reading
        * any of them. */
      pointers: Seq[Pointer] = Nil,
      /** Last committed epoch of each streaming query that has committed
        * to this ref (`#stream\t<queryId>\t<epoch>` lines): carried by
        * every commit, like `#eqdel`, so a replayed epoch is skipped. */
      streams: Map[String, Long] = Map.empty)

  /** Newest (version, entries), or None when the table has no manifest
    * (listing mode). The legacy single-file manifest reads as version 0;
    * any versioned log entry outranks it. */
  def readVersioned(fs: FileSystem, dir: Path,
      ref: String = MainRef): Option[(Long, Seq[Entry])] =
    readLayoutVersioned(fs, dir, ref).map { case (v, l) => (v, l.entries) }

  private[fls] def readLayoutVersioned(fs: FileSystem, dir: Path,
      ref: String = MainRef,
      relBounds: Option[(String, String)] = None,
      resolveChunks: Boolean = true): Option[(Long, Layout)] = {
    def listLog(): Seq[Long] =
      try fs.listStatus(refLog(dir, ref)).iterator
        .flatMap(s => parseVersionName(s.getPath.getName))
        .toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val versions = listLog()
    if (ref != MainRef) {
      // branches have no legacy fallback; a missing branch is a loud
      // error at the CALLER (None here = branch does not exist)
      return versions.maxOption.map(v =>
        (v, readFileWithMeta(fs, versionPath(dir, v, ref), dir,
          relBounds = relBounds, resolveChunks = resolveChunks)))
    }
    if (versions.nonEmpty) {
      val v = versions.max
      Some((v, readFileWithMeta(fs, versionPath(dir, v), dir,
        relBounds = relBounds, resolveChunks = resolveChunks)))
    } else {
      val legacy = manifestPath(dir)
      val exists = try fs.exists(legacy) catch { case _: java.io.IOException => false }
      if (exists) Some((0L, readFileWithMeta(fs, legacy, dir,
        relBounds = relBounds)))
      else {
        // One-time migration race: the first versioned commit publishes
        // v1 THEN deletes the legacy file. A reader that listed an empty
        // log just before the publish and found the legacy file missing
        // just after the delete would silently fall back to listing mode
        // (exposing uncommitted files). Log-empty-then-legacy-missing is
        // that exact window — re-check the log before concluding None.
        val again = listLog()
        if (again.nonEmpty) {
          val v = again.max
          Some((v, readFileWithMeta(fs, versionPath(dir, v), dir,
            relBounds = relBounds)))
        } else None
      }
    }
  }

  /** Entries, or None when the table has no manifest (listing mode). */
  def read(fs: FileSystem, dir: Path): Option[Seq[Entry]] =
    readVersioned(fs, dir).map(_._2)

  /** Entries of one PINNED version — versions are immutable, so this is
    * a consistent snapshot regardless of concurrent commits (used by
    * the `manifest_version` reader option and compaction). Fails loudly
    * if the version was GC'd (more than [[DefaultKeepVersions]] commits behind). */
  def readVersion(fs: FileSystem, dir: Path, v: Long,
      ref: String = MainRef): Seq[Entry] =
    readLayoutVersion(fs, dir, v, ref).entries

  private[fls] def readLayoutVersion(fs: FileSystem, dir: Path, v: Long,
      ref: String = MainRef,
      relBounds: Option[(String, String)] = None): Layout =
    if (v == 0L && ref == MainRef) readFileWithMeta(fs, manifestPath(dir),
      dir, relBounds = relBounds)
    else readFileWithMeta(fs, versionPath(dir, v, ref), dir,
      relBounds = relBounds)

  /** POINT-LOOKUP read of the newest version: entries restricted to
    * chunks intersecting the inclusive `[loRel, hiRel]` range — a
    * SUPERSET of the in-range entries, a SUBSET of the table, read in
    * O(intersecting chunks). For `file_subset` scans and `.files`
    * equality pushdown; never a substitute for the full entry set
    * (inline and legacy manifests return whole, as today). */
  def readVersionedSubset(fs: FileSystem, dir: Path, loRel: String,
      hiRel: String, ref: String = MainRef): Option[(Long, Seq[Entry])] =
    readLayoutVersioned(fs, dir, ref, relBounds = Some((loRel, hiRel)))
      .map { case (v, l) => (v, l.entries) }

  /** Same point-lookup read of one PINNED version. */
  def readVersionSubset(fs: FileSystem, dir: Path, v: Long, loRel: String,
      hiRel: String, ref: String = MainRef): Seq[Entry] =
    readLayoutVersion(fs, dir, v, ref,
      relBounds = Some((loRel, hiRel))).entries

  /** The equality-delete predicates active AT version `v` (cheap:
    * header-only read, chunks unresolved). */
  def versionEq(fs: FileSystem, dir: Path, v: Long,
      ref: String = MainRef): Seq[String] =
    readFileWithMeta(fs,
      if (v == 0L && ref == MainRef) manifestPath(dir)
      else versionPath(dir, v, ref), dir, resolveChunks = false).eq

  /** Retained `(version, commitTimeMillis)` pairs, oldest first — the
    * time-travel index (`VERSION AS OF` validation, `TIMESTAMP AS OF`
    * resolution, the `.history` metadata table). Commit time is the
    * manifest file's own mtime: the manifest IS the commit, published
    * atomically, so its mtime is the instant the version became
    * visible. One tiny-directory listing, O([[DefaultKeepVersions]]) results —
    * never O(data files). Empty when the table has no manifest. */
  def versionsWithTimes(fs: FileSystem, dir: Path,
      ref: String = MainRef): Seq[(Long, Long)] = {
    val logged =
      try fs.listStatus(refLog(dir, ref)).toSeq
        .flatMap(s => parseVersionName(s.getPath.getName)
          .map(v => (v, s.getModificationTime)))
      catch { case _: java.io.FileNotFoundException => Nil }
    val legacy =
      if (ref != MainRef || logged.exists(_._1 == 0L)) Nil
      else try Seq((0L, fs.getFileStatus(manifestPath(dir)).getModificationTime))
      catch { case _: java.io.FileNotFoundException => Nil }
    (legacy ++ logged).sortBy(_._1)
  }

  /** Files ADDED in the commit range `(fromV, toV]` — the incremental
    * read set (`changes_from_version` / `changes_to_version` reader
    * options): process only what landed since the last run's cursor,
    * the pattern that turns a 100 TB daily pipeline into a
    * new-data-sized one. `fromV = 0` means "since table creation";
    * `toV = None` means the newest version. APPEND-ONLY by contract:
    * if any file of `fromV` is gone by `toV`, a commit in the range
    * rewrote history (DELETE/UPDATE/OVERWRITE/compaction), the added
    * files re-serve pre-existing rows, and "rows since" would be a lie
    * — fail loudly instead (same stance as Iceberg's incremental
    * append scan). */
  def changedEntries(fs: FileSystem, dir: Path, fromV: Long,
      toV: Option[Long]): Seq[Entry] = {
    require(fromV >= 0, s"fls: changes_from_version must be >= 0, got $fromV")
    val (newestV, newestEntries) = readVersioned(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"fls: $dir has no manifest log — incremental reads need a " +
          "commit_mode=manifest table"))
    val to = toV.getOrElse(newestV)
    require(fromV <= to,
      s"fls: changes_from_version=$fromV is newer than the target " +
        s"version $to")
    def versionAt(v: Long, role: String): Seq[Entry] =
      try readVersion(fs, dir, v)
      catch {
        case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"fls: $role version $v of $dir is not retained — incremental " +
            "reads can only span the retention window; restart the cursor " +
            "from a full snapshot")
      }
    if (fromV == to) return Nil
    val toEntries = if (to == newestV) newestEntries else versionAt(to, "changes_to")
    val fromEntries =
      if (fromV == 0L)
        try readVersion(fs, dir, 0L) // legacy pre-versioned manifest
        catch { case _: java.io.FileNotFoundException => Nil } // creation
      else versionAt(fromV, "changes_from")
    // a surviving file whose DELETE-VECTOR pointer changed in the range
    // is a rewrite in place: its rows changed without its rel changing
    val toDv = toEntries.map(e => e.rel -> FlsFileStats.dvOf(e.stats)).toMap
    val rewritten = fromEntries.filter(e =>
      !toDv.contains(e.rel) || toDv(e.rel) != FlsFileStats.dvOf(e.stats))
    require(rewritten.isEmpty,
      s"fls: the commit range ($fromV, $to] is not append-only — " +
        s"${rewritten.length} file(s) of v$fromV were replaced, deleted, or " +
        "delete-vectored in the range (DELETE/UPDATE/OVERWRITE or a " +
        "compaction rewrite), so 'files added in the range' no longer means " +
        "'rows added in the range'. Process a full snapshot instead, or " +
        s"restart the cursor at v$to")
    // equality deletes are row churn with NO file churn: a predicate
    // committed inside the range deletes rows from files the cursor
    // already served (and from files added earlier in the range), so
    // "files added in the range" stops meaning "rows added" — same
    // loud refusal as the rewrite check above
    val eqInRange = versionEq(fs, dir, to)
      .map(FlsEqDeletes.versionOf).filter(pv => pv > fromV && pv <= to)
    require(eqInRange.isEmpty,
      s"fls: the commit range ($fromV, $to] is not append-only — " +
        s"${eqInRange.length} equality delete(s) committed in the range " +
        s"(at version(s) ${eqInRange.mkString(", ")}) delete rows without " +
        "touching the file list. Process a full snapshot instead, or " +
        s"restart the cursor at v$to")
    val fromRels = fromEntries.map(_.rel).toSet
    toEntries.filterNot(e => fromRels.contains(e.rel))
  }

  private def parseVersionName(name: String): Option[Long] =
    FlsCas.parseVersionName(name)

  private def readAllBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val st = fs.getFileStatus(p)
    val buf = new Array[Byte](st.getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  private def parseEntryLine(l: String, p: Path): Entry = {
    val a = l.split('\t')
    require(a.length == 3 || a.length == 4, s"fls: corrupt manifest line '$l' in $p")
    Entry(a(2), a(0).toLong, a(1).toLong, if (a.length == 4) a(3) else null)
  }

  /** Chunk files opened since JVM start — the spec's observable for
    * chunk-granularity pruning (subset reads must NOT touch every
    * chunk of a million-file table). */
  private[fls] val chunkReadCount = new java.util.concurrent.atomic.AtomicLong

  /** Entries of ONE named chunk, count-checked against its pointer —
    * for planners doing their own chunk-granularity pruning
    * (value-pruned DML, [[graft.fls.connector.FlsDelete]]). */
  private[fls] def readChunkEntries(fs: FileSystem, tableDir: Path,
      pt: Pointer): Seq[Entry] = {
    val es = readChunk(fs, new Path(chunksDir(tableDir), pt.name))
    require(es.length == pt.count,
      s"fls: chunk ${pt.name} holds ${es.length} entries, the manifest " +
        s"recorded ${pt.count} — chunk pool corrupted")
    es
  }

  /** One immutable entry chunk ([[ChunkHeader]] + entry lines). */
  private def readChunk(fs: FileSystem, p: Path): Seq[Entry] = {
    chunkReadCount.incrementAndGet()
    val lines = new String(readAllBytes(fs, p), StandardCharsets.UTF_8)
      .split('\n').filter(_.nonEmpty)
    require(lines.nonEmpty && lines(0) == ChunkHeader,
      s"fls: corrupt manifest chunk at $p")
    lines.drop(1).toSeq.map(parseEntryLine(_, p))
  }

  /** `#`-prefixed lines after the header are metadata, not entries —
    * pre-tag readers of this codebase never shipped to users with `#`
    * rels (rels never start with `#`: writers generate them), so the
    * format extension is backward- AND forward-compatible. The one
    * deliberate exception is segmentation itself: `#chunk` pointers
    * ride the NEW [[HeaderV2]] so a pre-segmentation reader fails
    * loudly instead of serving an empty table ([[HeaderV2]] doc). */
  private def readFileWithMeta(fs: FileSystem, p: Path, tableDir: Path,
      resolveChunks: Boolean = true,
      /** Inclusive rel range for POINT-LOOKUP reads: chunks whose
        * recorded [minRel, maxRel] cannot intersect it are never
        * OPENED — so `file_subset` scans and `.files` equality
        * lookups on a million-file table read O(intersecting chunks)
        * of metadata, not all of it. The result is then a SUPERSET of
        * the in-range entries but a SUBSET of the table: only the
        * subset-lookup entry points may pass this. Pointers without a
        * recorded range (pre-range format) always load. */
      relBounds: Option[(String, String)] = None): Layout = {
    val lines = new String(readAllBytes(fs, p), StandardCharsets.UTF_8)
      .split('\n').filter(_.nonEmpty)
    require(lines.nonEmpty && (lines(0) == Header || lines(0) == HeaderV2),
      s"fls: corrupt manifest at $p")
    val schemaV = lines.drop(1).find(_.startsWith("#schema\t")).map { l =>
      val a = l.split('\t')
      require(a.length == 2, s"fls: corrupt #schema line '$l' in $p")
      a(1).toLong
    }
    val meta = lines.drop(1).find(_.startsWith("#op\t")).map { l =>
      val a = l.split('\t')
      require(a.length == 3, s"fls: corrupt #op line '$l' in $p")
      VersionMeta(a(1), a(2) == "1", schemaV)
    }
    val cdc = lines.drop(1).filter(_.startsWith("#cdc\t")).toSeq.map { l =>
      val a = l.split('\t')
      def opt(s: String): Option[String] = if (s == "-") None else Some(s)
      a(1) match {
        case "post" if a.length == 3 => CdcPost(a(2))
        case "split" if a.length == 5 => CdcSplit(a(2), opt(a(3)), opt(a(4)))
        case _ => throw new IllegalArgumentException(
          s"fls: corrupt #cdc line '$l' in $p")
      }
    }
    val inline = lines.drop(1).filterNot(_.startsWith("#")).toSeq
      .map(parseEntryLine(_, p))
    val pointers: Seq[Pointer] =
      if (lines(0) != HeaderV2) Nil
      else lines.drop(1).filter(_.startsWith("#chunk\t")).toSeq.map { l =>
        val a = l.split('\t')
        require(a.length >= 3 && a.length <= 8 && a.length != 4,
          s"fls: corrupt #chunk line '$l' in $p")
        if (a.length >= 5) {
          // trailing fields are shape-tagged: `{...}` = chunk value
          // stats, `b:<n>` = min birth version, `w:<id>,<id>` = epoch
          // markers of earlier writers (read into `streams` below) —
          // any subset may follow the range
          val tail = a.drop(5)
          val stats = tail.find(_.startsWith("{")).orNull
          val minBv = tail.find(_.startsWith("b:"))
            .map(_.substring(2).toLong).getOrElse(-1L)
          require(tail.forall(t => t.startsWith("{") || t.startsWith("w:") ||
              t.startsWith("b:")),
            s"fls: corrupt #chunk line '$l' in $p")
          Pointer(a(1), a(2).toLong, a(3), a(4),
            ranged = true, stats = stats, minBv = minBv)
        } else Pointer(a(1), a(2).toLong, "", "", ranged = false)
      }
    // Earlier writers recorded a committed epoch as a `w:` marker
    // `<queryId>-e<epoch>[@<stamp>]` on the chunk pointers it wrote; a
    // query without a `#stream` line reads its newest marker as one,
    // and the next commit writes it back as a line.
    val marked = lines.drop(1).iterator.filter(_.startsWith("#chunk\t"))
      .flatMap(_.split('\t').drop(5).find(_.startsWith("w:")))
      .flatMap(_.substring(2).split(',')).flatMap { m =>
        val w = m.takeWhile(_ != '@')
        val i = w.lastIndexOf("-e")
        val e = if (i > 0) w.substring(i + 2) else ""
        if (e.nonEmpty && e.length <= 18 && e.forall(_.isDigit))
          Some((w.substring(0, i), e.toLong))
        else None
      }.toSeq.groupBy(_._1).map { case (q, es) => q -> es.map(_._2).max }
    val streams = marked ++ lines.drop(1).filter(_.startsWith("#stream\t"))
      .map { l =>
        val a = l.split('\t')
        require(a.length == 3 && a(2).nonEmpty && a(2).length <= 18 &&
            a(2).forall(_.isDigit),
          s"fls: corrupt #stream line '$l' in $p")
        a(1) -> a(2).toLong
      }
    val chunked: Seq[Entry] =
      if (!resolveChunks) Nil
      else pointers.filterNot(pt => relBounds.exists { case (lo, hi) =>
        pt.ranged && (pt.maxRel < lo || pt.minRel > hi)
      }).flatMap(readChunkEntries(fs, tableDir, _))
    // deterministic global order regardless of chunk boundaries (the
    // inline writer always sorted by rel; keep that contract)
    val entries =
      if (chunked.isEmpty) inline
      else (inline ++ chunked).sortBy(_.rel)
    val eq = lines.drop(1).filter(_.startsWith("#eqdel\t")).toSeq
      .map(_.substring("#eqdel\t".length))
    Layout(meta, entries, cdc, eq, pointers, streams)
  }

  /** Whether `head` records streaming epoch `(queryId, epoch)`: its
    * line for the query is at or past the epoch, or, for a query
    * without one, an inline entry carries the epoch's writeId infix
    * `-<queryId>-e<epoch>-` (an inline epoch commit of an earlier
    * writer). Opens no chunk. */
  private[fls] def recordsEpoch(head: Layout, epoch: (String, Long)): Boolean =
    head.streams.get(epoch._1) match {
      case Some(last) => last >= epoch._2
      case None =>
        val infix = s"-${epoch._1}-e${epoch._2}-"
        head.entries.exists(_.rel.contains(infix))
    }

  /** The operation tag of one retained version (None = legacy manifest
    * or a version written before op tags — CDF treats those as
    * `dataChange=true` conservatively). */
  def versionMeta(fs: FileSystem, dir: Path, v: Long): Option[VersionMeta] =
    readFileWithMeta(fs,
      if (v == 0L) manifestPath(dir) else versionPath(dir, v), dir,
      resolveChunks = false).meta

  /** The CDC split lines of one retained version (empty for non-merge
    * commits, merges on tables without `merge_cdc`, and pre-cdc
    * versions — the feed then serves merge churn as insert/delete, the
    * documented legacy contract). */
  def versionCdc(fs: FileSystem, dir: Path, v: Long): Seq[CdcLine] =
    readFileWithMeta(fs,
      if (v == 0L) manifestPath(dir) else versionPath(dir, v), dir,
      resolveChunks = false).cdc

  /** The head a commit's change function is given: the newest version of
    * the ref (0, with `exists = false`, when the table has no manifest),
    * its active equality-delete predicates, its stream lines, and its
    * `entries`, resolved on first use. The commit reuses every chunk
    * `entries` resolved, so no chunk is read twice in one attempt. */
  final class Head private[FlsManifest] (val version: Long,
      val exists: Boolean, layout: Layout, open: Pointer => Seq[Entry]) {
    def eq: Seq[String] = layout.eq
    def streams: Map[String, Long] = layout.streams
    lazy val entries: Seq[Entry] =
      if (layout.pointers.isEmpty) layout.entries
      else (layout.entries ++ layout.pointers.flatMap(open)).sortBy(_.rel)
  }

  /** A commit expressed as the CHANGE it makes, not the table it leaves
    * behind. `add` rels must be new to the table (attempt-unique
    * data-file names guarantee it for every writer here); `restate`
    * replaces same-rel entries in place (DV re-vector, stats refresh);
    * `removeRels` drops entries whole. A removed or restated rel that is
    * NOT in the head aborts the commit loudly — that is the
    * chunk-granularity conflict check: a concurrent commit rewrote the
    * target out from under this one. */
  final case class Delta(add: Seq[Entry] = Nil,
      removeRels: Set[String] = Set.empty,
      restate: Seq[Entry] = Nil)

  object Delta {
    /** The change that turns entry set `before` into `after` — for
      * callers that compute the whole resulting set. */
    def between(before: Seq[Entry], after: Seq[Entry]): Delta = {
      val old = new java.util.HashMap[String, Entry](before.length * 2)
      before.foreach(e => old.put(e.rel, e))
      val (kept, added) = after.partition(e => old.containsKey(e.rel))
      val keptRels = kept.iterator.map(_.rel).toSet
      Delta(added, before.iterator.map(_.rel).filterNot(keptRels).toSet,
        kept.filter(e => old.get(e.rel) != e))
    }
  }

  /** Spec observable: CAS attempts the last [[commit]] used. */
  private[fls] val lastCommitAttempts = new java.util.concurrent.atomic.AtomicInteger
  /** Test hook: runs after an attempt stages its version file, BEFORE
    * the publish CAS — the window in which a concurrent committer can
    * win, so race specs can interleave deterministically. */
  private[fls] var beforePublishForTest: () => Unit = () => ()

  /** Publish a new table version with optimistic concurrency: read the
    * newest version's pointer lines, ask `change` for the [[Delta]] it
    * makes to that [[Head]], and claim `v<N+1>` exclusively; on a lost
    * race, re-read and ask again (callers keep data files
    * attempt-unique, so retries are metadata-only). `change` may throw
    * to abort (e.g. compaction detecting its inputs were removed by a
    * concurrent commit) — the exception propagates with nothing
    * published. Returns the published version.
    *
    * The commit opens a chunk only when it holds a removed or restated
    * rel (by membership if `Head.entries` read it, else by its pointer's
    * rel range — a rangeless pointer always may), when its pointer has
    * no min birth version while a predicate is carried, or when the
    * result fits inline; every other pointer is carried into the new
    * version VERBATIM. So an append to a 1M-file table reads one
    * version file (~125 pointer lines) and writes one version file plus
    * one tiny chunk. Small chunks are folded into the
    * commit once [[SmallChunkMergeBound]] of them have piled up.
    *
    * `op`/`dataChange` stamp the version's `#op` header line — the
    * change-data-feed skips `dataChange=false` commits (compaction
    * churn is not row churn). A streaming epoch passes `stream =
    * (queryId, epoch)`: an attempt whose head already records it
    * ([[recordsEpoch]]) publishes nothing and returns the head's
    * version, so a replayed epoch keeps its first committed attempt;
    * otherwise the version records it. */
  def commit(fs: FileSystem, dir: Path, writeId: String,
      conf: org.apache.hadoop.conf.Configuration, op: String = "append",
      dataChange: Boolean = true, cdc: Seq[CdcLine] = Nil,
      ref: String = MainRef,
      /** Equality-delete predicates this commit ADDS ([[FlsEqDeletes]]
        * JSON, version unstamped — stamped per attempt). */
      eqAdd: Seq[String] = Nil,
      /** Carry the active-predicate set from THIS version instead of
        * the current head — rollback restores eq-deleted rows by
        * restoring the predicate set as-of the target. */
      eqBase: Option[Long] = None,
      /** Drop carried predicates with commit version <= this, beyond
        * the no-retained-entry absorption filter. ONLY for callers who
        * PROVED the drop exact — absorb_deletes, which rewrote every
        * file a predicate may match and stats-proved the rest
        * ([[FlsEqDeletes.mayMatchDesc]]); its change function must
        * guard against concurrent commits introducing unproven old-bv
        * entries. -1 = off. */
      eqDropUpTo: Long = -1L,
      stream: Option[(String, Long)] = None)(
      change: Head => Delta): Long = {
    val inlineMax = math.max(0, conf.getInt(InlineThresholdKey, DefaultInlineThreshold))
    val target = math.max(1, conf.getInt(ChunkTargetKey, DefaultChunkTarget))
    lastCommitAttempts.set(0)
    var attempt = 0
    while (attempt < MaxCasAttempts) {
      lastCommitAttempts.incrementAndGet()
      val cur = readLayoutVersioned(fs, dir, ref, resolveChunks = false)
      if (ref != MainRef) require(cur.isDefined,
        s"fls: branch '$ref' of $dir does not exist — " +
          "CALL system.create_branch first")
      val curV = cur.map(_._1).getOrElse(0L)
      val layout = cur.map(_._2).getOrElse(Layout(None, Nil, Nil))
      if (stream.exists(recordsEpoch(layout, _))) return curV
      val resolved = scala.collection.mutable.HashMap[String, Seq[Entry]]()
      def open(pt: Pointer): Seq[Entry] =
        resolved.getOrElseUpdate(pt.name, readChunkEntries(fs, dir, pt))
      val d = change(new Head(curV, cur.isDefined, layout, open))
      val restated = d.restate.map(e => e.rel -> e).toMap
      require(!d.removeRels.exists(restated.contains),
        "fls commit: a rel cannot be both removed and restated")
      val next = curV + 1
      val carried = eqBase match {
        case None => layout.eq
        // v0 = the legacy / implicit-empty manifest, which predates
        // equality deletes by construction
        case Some(bv) => if (bv == 0L) Nil else versionEq(fs, dir, bv, ref)
      }
      val newCount = layout.entries.length + layout.pointers.map(_.count).sum -
        d.removeRels.size + d.add.size
      val (opened, kept) =
        if (newCount <= inlineMax) (layout.pointers, Nil)
        else {
          val touched = d.removeRels ++ restated.keys
          val sortedTouched = touched.toArray.sorted
          // a chunk `entries` already read is tested by membership (rel
          // ranges of different writes overlap); any other by its range.
          // A pointer without `b:` is opened only when a carried
          // predicate needs the absorption proof.
          def holds(pt: Pointer): Boolean = resolved.get(pt.name) match {
            case Some(es) if pt.ranged => es.exists(e => touched.contains(e.rel))
            case _ => pt.mayContainAny(sortedTouched)
          }
          val (open0, keep0) = layout.pointers.partition(pt =>
            (pt.minBv < 0L && carried.nonEmpty) || holds(pt))
          val small = keep0.filter(_.count < target / 2)
          if (small.length < SmallChunkMergeBound) (open0, keep0)
          else (open0 ++ small, keep0.filterNot(small.contains))
        }
      val base = layout.entries ++ opened.flatMap(open)
      // every targeted rel must still be present (ranges are exact, so
      // absence from the opened chunks is absence from the table)
      val present = new java.util.HashSet[String](base.length * 2)
      base.foreach(e => present.add(e.rel))
      (d.removeRels.iterator ++ restated.keysIterator).foreach { r =>
        if (!present.contains(r))
          throw new java.util.ConcurrentModificationException(
            s"fls commit: '$r' is not in version $curV of $dir — a " +
              "concurrent commit removed or rewrote it; rerun the operation")
      }
      // Birth versions (first commit that added a rel) are the
      // applicability cursor for equality deletes: a predicate committed
      // at V applies to entries with bv <= V only. A restated entry
      // inherits the old one's unless the caller stamped one; a new entry
      // that already carries one keeps it (rollback restoring a file a
      // later rewrite dropped — restamping would resurrect eq-deleted
      // rows); every other new entry is stamped with this version.
      val survivors = base.filterNot(e => d.removeRels.contains(e.rel)).map { e =>
        restated.get(e.rel) match {
          case Some(n) =>
            val oldBv = FlsFileStats.birthOf(e.stats)
            if (FlsFileStats.birthOf(n.stats) > 0L || oldBv == 0L) n
            else n.copy(stats = FlsFileStats.withBirth(n.stats, oldBv))
          case None => e
        }
      }
      val added = d.add.map(e =>
        if (FlsFileStats.birthOf(e.stats) > 0L) e
        else e.copy(stats = FlsFileStats.withBirth(e.stats, next)))
      val leftover = survivors ++ added
      // a predicate of version pv is ABSORBED — dropped — once no
      // retained entry predates it: min birth version over the kept
      // pointers (each records its chunk's) and the entries written here
      // (lazy: parsing every entry's stats is wasted without predicates)
      lazy val minBv = math.min(
        kept.foldLeft(Long.MaxValue)((m, pt) => math.min(m, pt.minBv)),
        minBvFor(leftover))
      val eqAll = (carried ++ eqAdd.map(FlsEqDeletes.stamp(_, next))).filter { j =>
        val pv = FlsEqDeletes.versionOf(j)
        pv > eqDropUpTo && pv >= minBv
      }
      fs.mkdirs(refLog(dir, ref))
      // stamp the table-meta version in force at THIS commit (if the
      // table keeps a metadata log) — snapshot reads bind to it; its
      // properties also carry the retention override
      val tableMeta = FlsTableMeta.read(fs, dir)
      val tmp = new Path(new Path(new Path(dir, "_temporary"), writeId),
        f"manifest_v$next%020d")
      val newChunks = writeVersion(fs, dir, tmp, kept, leftover, inlineMax,
        target, VersionMeta(op, dataChange, tableMeta.map(_._1)), cdc, eqAll,
        layout.streams ++ stream, chunkStatCols(tableMeta.map(_._2)))
      def dropNewChunks(): Unit = newChunks.foreach(p =>
        try fs.delete(p, false) catch { case _: Throwable => () })
      beforePublishForTest()
      val won =
        try FlsCas.publishExclusive(fs, tmp, versionPath(dir, next, ref), conf)
        catch { case t: Throwable => dropNewChunks(); throw t }
        finally { try fs.delete(tmp, false) catch { case _: Throwable => () } }
      if (won) {
        // retire the legacy single-file manifest (best effort — if this
        // crashes, versioned entries outrank it on every future read)
        if (ref == MainRef && curV == 0L && cur.isDefined)
          try fs.delete(manifestPath(dir), false) catch { case _: Throwable => () }
        // tagged versions are exempt from main-log GC while the tag
        // lives (one tags-dir listing per commit, O(tags))
        val protect = if (ref == MainRef) tags(fs, dir).values.toSet
          else Set.empty[Long]
        gcVersionsAndChunks(fs, dir, ref, next, keepOf(tableMeta.map(_._2)), protect)
        return next
      }
      // lost the race: the pointers to this attempt's chunks were never
      // published anywhere — reclaim them before the retry
      dropNewChunks()
      attempt += 1
    }
    throw new java.io.IOException(
      s"fls manifest commit: lost the publish race $MaxCasAttempts times at $dir — giving up")
  }

  /** Write one version file. It is INLINE (one line per entry, zero
    * extra reads) exactly when nothing is `kept` and `leftover` fits
    * `inlineMax`; otherwise the `kept` pointers are written back
    * verbatim and `leftover` is grouped into new chunk files. Returns
    * the chunk files created — the caller reclaims them if the version
    * never publishes. Streams through a buffered writer: no full-table
    * StringBuilder at any size. */
  private def writeVersion(fs: FileSystem, dir: Path, p: Path,
      kept: Seq[Pointer], leftover: Seq[Entry], inlineMax: Int, target: Int,
      meta: VersionMeta, cdc: Seq[CdcLine], eqDeletes: Seq[String],
      streams: Map[String, Long], statCols: Seq[String]): Seq[Path] = {
    val inline = kept.isEmpty && leftover.length <= inlineMax
    val sorted = leftover.sortBy(_.rel)
    if (!inline) fs.mkdirs(chunksDir(dir))
    val written: Seq[(Pointer, Path)] =
      if (inline) Nil
      else sorted.grouped(target).map { group =>
        val name = "c" + java.util.UUID.randomUUID().toString.replace("-", "")
        val cp = new Path(chunksDir(dir), name)
        val w = writerFor(fs, cp)
        try {
          w.write(ChunkHeader); w.write('\n')
          group.foreach(writeEntryLine(w, _))
        } finally w.close()
        (Pointer(name, group.length, group.head.rel, group.last.rel,
          ranged = true, stats = chunkStatsFor(group, statCols),
          minBv = minBvFor(group)), cp)
      }.toSeq
    val out = writerFor(fs, p)
    try {
      // eqdel-carrying files take the v2 header even inline: a reader
      // that skipped `#eqdel` as unknown metadata would silently
      // resurrect deleted rows — same loud-failure argument as chunks
      out.write(if (inline && eqDeletes.isEmpty) Header else HeaderV2)
      out.write('\n')
      writeMetaLines(out, meta, cdc, eqDeletes, streams)
      // pointer lines are ordered by each chunk's first rel so the file
      // is deterministic for a given layout; each carries the chunk's
      // [minRel, maxRel] so point-lookup reads skip the rest unopened
      if (inline) sorted.foreach(writeEntryLine(out, _))
      else (kept ++ written.map(_._1)).sortBy(_.minRel)
        .foreach(writePointerLine(out, _))
    } finally out.close()
    written.map(_._2)
  }

  private def validEntry(e: Entry): Entry = {
    require(!e.rel.contains('\n') && !e.rel.contains('\t'),
      s"fls: unsupported character in file name '${e.rel}'")
    require(e.stats == null ||
        (!e.stats.contains('\n') && !e.stats.contains('\t')),
      s"fls: stats JSON must be compact (no tabs/newlines) for '${e.rel}'")
    e
  }

  private def writeEntryLine(w: java.io.Writer, e: Entry): Unit = {
    validEntry(e)
    w.write(e.length.toString); w.write('\t')
    w.write(e.mtime.toString); w.write('\t')
    w.write(e.rel)
    if (e.stats != null) { w.write('\t'); w.write(e.stats) }
    w.write('\n')
  }

  private def writerFor(fs: FileSystem, p: Path): java.io.Writer =
    new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), StandardCharsets.UTF_8), 1 << 16)

  private def writeMetaLines(out: java.io.Writer, m: VersionMeta,
      cdc: Seq[CdcLine], eqDeletes: Seq[String],
      streams: Map[String, Long]): Unit = {
    require(!m.op.contains('\n') && !m.op.contains('\t'),
      s"fls: manifest op tag must be a plain word, got '${m.op}'")
    out.write("#op\t"); out.write(m.op)
    out.write('\t'); out.write(if (m.dataChange) "1" else "0"); out.write('\n')
    m.schemaVersion.foreach { v =>
      out.write("#schema\t"); out.write(v.toString); out.write('\n') }
    cdc.foreach { line =>
      def chk(s: String): String = {
        require(!s.contains('\n') && !s.contains('\t') && s != "-",
          s"fls: unsupported character in cdc metadata '$s'")
        s
      }
      line match {
        case CdcPost(rel) =>
          out.write("#cdc\tpost\t"); out.write(chk(rel)); out.write('\n')
        case CdcSplit(rel, pre, pure) =>
          out.write("#cdc\tsplit\t"); out.write(chk(rel))
          out.write('\t'); out.write(pre.map(chk).getOrElse("-"))
          out.write('\t'); out.write(pure.map(chk).getOrElse("-"))
          out.write('\n')
      }
    }
    eqDeletes.foreach { j =>
      require(!j.contains('\n') && !j.contains('\t'),
        s"fls: eqdel JSON must be compact (no tabs/newlines): '$j'")
      out.write("#eqdel\t"); out.write(j); out.write('\n')
    }
    streams.toSeq.sortBy(_._1).foreach { case (q, e) =>
      require(!q.contains('\n') && !q.contains('\t'),
        s"fls: streaming query id must be one word, got '$q'")
      out.write("#stream\t"); out.write(q)
      out.write('\t'); out.write(e.toString); out.write('\n')
    }
  }

  private def writePointerLine(out: java.io.Writer, pt: Pointer): Unit = {
    out.write("#chunk\t"); out.write(pt.name)
    out.write('\t'); out.write(pt.count.toString)
    if (pt.ranged) {
      out.write('\t'); out.write(pt.minRel)
      out.write('\t'); out.write(pt.maxRel)
      if (pt.stats != null) {
        require(!pt.stats.contains('\n') && !pt.stats.contains('\t'),
          s"fls: chunk stats JSON must be compact: '${pt.stats}'")
        out.write('\t'); out.write(pt.stats)
      }
      if (pt.minBv >= 0L) {
        out.write("\tb:"); out.write(pt.minBv.toString)
      }
    }
    out.write('\n')
  }

  /** Min birth version over a chunk's entries (legacy unstamped
    * entries read as 0 — subject to every predicate, which keeps the
    * absorption proof conservative exactly where it must be). */
  private def minBvFor(es: Seq[Entry]): Long =
    es.foldLeft(Long.MaxValue)((m, e) =>
      math.min(m, FlsFileStats.birthOf(e.stats)))

  /** Table property naming the columns whose merged VALUE bounds ride
    * each `#chunk` pointer line — normally the table's cluster key.
    * Key-range DML planning then skips non-intersecting chunks
    * UNOPENED ([[graft.fls.connector.FlsDelete]]), the value analog of
    * the rel-range point lookup. */
  val ChunkStatsProperty = "manifest_chunk_stats"

  private def chunkStatCols(meta: Option[FlsTableMeta.Meta]): Seq[String] =
    meta.flatMap(_.properties.get(ChunkStatsProperty))
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)

  private def chunkStatsFor(es: Seq[Entry], statCols: Seq[String]): String =
    if (statCols.isEmpty) null
    else FlsFileStats.mergeStats(es.map(_.stats), statCols).orNull

  /** The chunk names a version file points at (empty for inline/legacy
    * files). Lax on FileNotFound — a concurrent committer's GC may
    * have deleted the version (its chunks are then that committer's to
    * reap); every other failure propagates so callers can decide. */
  private def chunkRefNames(fs: FileSystem, p: Path): Seq[String] =
    try {
      val lines = new String(readAllBytes(fs, p), StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty)
      if (lines.isEmpty || lines(0) != HeaderV2) Nil
      else lines.drop(1).filter(_.startsWith("#chunk\t")).toSeq
        .map(_.split('\t')(1))
    } catch { case _: java.io.FileNotFoundException => Nil }

  /** Chunk names referenced by ANY retained version of ANY ref — the
    * live set chunk GC must never touch (branch version files point
    * into the shared pool; tagged main versions are still listed). */
  private[fls] def liveChunkRefs(fs: FileSystem, dir: Path): Set[String] = {
    val logs = refLog(dir, MainRef) +:
      branches(fs, dir).map(b => refLog(dir, b))
    logs.flatMap { log =>
      val vs = try fs.listStatus(log).toSeq
        .filter(s => parseVersionName(s.getPath.getName).isDefined)
      catch { case _: java.io.FileNotFoundException => Nil }
      vs.flatMap(s => chunkRefNames(fs, s.getPath))
    }.toSet
  }

  /** Version GC plus the chunk sweep it implies: capture the chunk
    * refs of the versions ABOUT to fall (before their files are gone),
    * let [[FlsCas.gcOldVersions]] delete them, then reap the chunks no
    * retained version of any ref still points at. Best-effort like the
    * version GC itself — a failure leaks a chunk for a later commit or
    * vacuum's [[sweepOrphanChunks]] to reclaim, never breaks the
    * commit. Inline-mode tables take the fast path (no doomed chunk
    * refs → zero extra I/O). */
  private def gcVersionsAndChunks(fs: FileSystem, dir: Path, ref: String,
      newest: Long, keep: Int, protect: Set[Long]): Unit = {
    val log = refLog(dir, ref)
    val cutoff = newest - keep + 1
    val doomedRefs: Set[String] =
      if (cutoff <= 0) Set.empty
      else try fs.listStatus(log).toSeq.flatMap { s =>
        parseVersionName(s.getPath.getName) match {
          case Some(v) if v < cutoff && !protect.contains(v) =>
            chunkRefNames(fs, s.getPath)
          case _ => Nil
        }
      }.toSet catch { case _: Throwable => Set.empty }
    FlsCas.gcOldVersions(fs, log, newest, keep, protect)
    if (doomedRefs.nonEmpty) try {
      val orphaned = doomedRefs -- liveChunkRefs(fs, dir)
      orphaned.foreach { n =>
        try fs.delete(new Path(chunksDir(dir), n), false)
        catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
  }

  /** Reap chunk files no retained version of any ref references and
    * older than `ttlMs` — the leftovers of commits that crashed between
    * chunk write and version publish (and of best-effort GC failures).
    * Called by vacuum with its horizon; the age gate keeps in-flight
    * commits' not-yet-published chunks safe. Returns files deleted. */
  def sweepOrphanChunks(fs: FileSystem, dir: Path, ttlMs: Long): Int = {
    val cdir = chunksDir(dir)
    val listed =
      try fs.listStatus(cdir).toSeq.filter(_.isFile)
      catch { case _: java.io.FileNotFoundException => return 0 }
    if (listed.isEmpty) return 0
    val live = liveChunkRefs(fs, dir)
    val cutoff = System.currentTimeMillis() - ttlMs
    listed.count { s =>
      s.getModificationTime < cutoff && !live.contains(s.getPath.getName) &&
        (try fs.delete(s.getPath, false) catch { case _: Throwable => false })
    }
  }

  /** The FileStatus view of the manifest — what listing would have
    * produced, without any listStatus RPC. */
  def statuses(fs: FileSystem, dir: Path, entries: Seq[Entry]): Seq[FileStatus] =
    statusesWithStats(fs, dir, entries).map(_._1)

  /** Same view with each entry's carried stats JSON alongside (None =
    * entry predates stats or the writer had none) — the input to
    * manifest-level file pruning ([[FlsFileStats]]). */
  def statusesWithStats(fs: FileSystem, dir: Path,
      entries: Seq[Entry]): Seq[(FileStatus, Option[String])] = {
    val qualified = fs.makeQualified(dir)
    entries.map { e =>
      (new FileStatus(e.length, false, 1, 128L * 1024 * 1024, e.mtime,
        new Path(qualified, e.rel)), Option(e.stats))
    }
  }

  /** Durable fork-point marker inside the branch's log dir. The fork
    * version CANNOT be recovered as min(retained branch versions):
    * every branch commit GCs the branch log, so after >= retention
    * branch commits the fork version file is gone and the minimum
    * drifts upward — [[fastForward]] would then refuse a legitimate
    * publish forever, or (worse) if main had meanwhile advanced to
    * exactly that drifted minimum, the `curV == forkV` guard would
    * falsely pass and silently drop main's concurrent commits. The
    * marker name never parses as `v<digits>`, so version listing and
    * log GC ignore it; dropBranch's recursive delete removes it. */
  private def forkMarkerPath(dir: Path, name: String): Path =
    new Path(refLog(dir, name), "_fork")

  /** The branch's recorded fork version. Branches created before the
    * marker existed fall back to min(retained) — correct until the
    * branch log's first GC, which is all those legacy branches ever
    * had. */
  private[fls] def forkVersion(fs: FileSystem, dir: Path, name: String): Long = {
    val p = forkMarkerPath(dir, name)
    val marked =
      try {
        val st = fs.getFileStatus(p)
        val buf = new Array[Byte](st.getLen.toInt)
        val in = fs.open(p)
        try in.readFully(0, buf) finally in.close()
        Some(new String(buf, StandardCharsets.UTF_8).trim.toLong)
      } catch { case _: java.io.FileNotFoundException => None }
    marked.getOrElse(versionsWithTimes(fs, dir, name).map(_._1).min)
  }

  /** Create branch `name` at the current main head: its first version
    * is a byte copy of the head's (immutable) version file, so the
    * branch starts with the exact same entry set AND version number —
    * the fork point is recorded durably in the branch's `_fork` marker
    * (it must survive branch-log GC, see [[forkVersion]]).
    * Create-exclusive: a racing create of the same name loses loudly. */
  def createBranch(fs: FileSystem, dir: Path, name: String,
      conf: org.apache.hadoop.conf.Configuration): Long = {
    validateRefName(name)
    val (headV, _) = readVersioned(fs, dir).getOrElse(
      throw new IllegalArgumentException(
        s"fls: $dir has no manifest log — branches need a " +
          "commit_mode=manifest table"))
    require(headV >= 1,
      s"fls: cannot branch $dir before its first versioned commit")
    require(readVersioned(fs, dir, name).isEmpty,
      s"fls: branch '$name' of $dir already exists")
    val src = versionPath(dir, headV)
    val tmp = new Path(new Path(new Path(dir, "_temporary"),
      java.util.UUID.randomUUID().toString), s"branch_$name")
    fs.mkdirs(refLog(dir, name))
    val in = fs.open(src)
    val buf = new Array[Byte](fs.getFileStatus(src).getLen.toInt)
    try in.readFully(0, buf) finally in.close()
    val out = fs.create(tmp, true)
    try out.write(buf) finally out.close()
    val won =
      try FlsCas.publishExclusive(fs, tmp, versionPath(dir, headV, name), conf)
      finally { try fs.delete(tmp, false) catch { case _: Throwable => () } }
    require(won, s"fls: branch '$name' of $dir already exists (lost the race)")
    // record the fork point durably AFTER winning: a crash in between
    // leaves a marker-less branch, which forkVersion serves correctly
    // (min retained == headV until the branch's first GC)
    val mOut = fs.create(forkMarkerPath(dir, name), true)
    try mOut.write(headV.toString.getBytes(StandardCharsets.UTF_8))
    finally mOut.close()
    headV
  }

  def dropBranch(fs: FileSystem, dir: Path, name: String): Unit = {
    validateRefName(name)
    require(readVersioned(fs, dir, name).isDefined,
      s"fls: branch '$name' of $dir does not exist")
    // capture the branch's chunk refs before its version files go, then
    // reap the ones no surviving ref points at (shared-pool semantics:
    // a branch fresh off main references main's chunks — those live on)
    val branchRefs: Set[String] =
      try fs.listStatus(refLog(dir, name)).toSeq
        .filter(s => parseVersionName(s.getPath.getName).isDefined)
        .flatMap(s => chunkRefNames(fs, s.getPath)).toSet
      catch { case _: Throwable => Set.empty }
    fs.delete(refLog(dir, name), true)
    if (branchRefs.nonEmpty) try {
      (branchRefs -- liveChunkRefs(fs, dir)).foreach { n =>
        try fs.delete(new Path(chunksDir(dir), n), false)
        catch { case _: Throwable => () }
      }
    } catch { case _: Throwable => () }
  }

  /** Tag `name` → main version `v` (default head). The tagged version's
    * manifest file is exempt from log GC while the tag exists, so
    * `VERSION AS OF '<tag>'` keeps answering past the normal retention
    * window (vacuum vouches every listed version's files, tagged ones
    * included). */
  def createTag(fs: FileSystem, dir: Path, name: String,
      version: Option[Long],
      conf: org.apache.hadoop.conf.Configuration): Long = {
    validateRefName(name)
    val have = versionsWithTimes(fs, dir).map(_._1)
    require(have.nonEmpty,
      s"fls: $dir has no manifest log — tags need a commit_mode=manifest table")
    val v = version.getOrElse(have.max)
    require(have.contains(v),
      s"fls: cannot tag version $v of $dir — not retained (have: " +
        s"${have.mkString(", ")})")
    require(!tags(fs, dir).contains(name),
      s"fls: tag '$name' of $dir already exists (tags are immutable — " +
        "drop_tag first)")
    val tmp = new Path(new Path(new Path(dir, "_temporary"),
      java.util.UUID.randomUUID().toString), s"tag_$name")
    fs.mkdirs(tagsDir(dir))
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val won =
      try FlsCas.publishExclusive(fs, tmp, new Path(tagsDir(dir), name), conf)
      finally { try fs.delete(tmp, false) catch { case _: Throwable => () } }
    require(won, s"fls: tag '$name' of $dir already exists (lost the race)")
    v
  }

  def dropTag(fs: FileSystem, dir: Path, name: String): Unit = {
    require(tags(fs, dir).contains(name),
      s"fls: tag '$name' of $dir does not exist")
    fs.delete(new Path(tagsDir(dir), name), false)
  }

  /** Publish branch `name`'s head entry set as a NEW main version —
    * the "publish" of write-audit-publish. Requires main NOT to have
    * advanced past the fork point (the branch's durable `_fork`
    * marker, [[forkVersion]]): a concurrent main commit means the
    * branch no longer descends from the head, and silently merging
    * would drop that commit — refuse loudly, re-branch to rebase.
    * Metadata-only: the branch's data files are already on disk
    * (written attempt-unique), main just starts vouching for them.
    * Returns (previous main head, new main version). */
  def fastForward(fs: FileSystem, dir: Path, name: String,
      conf: org.apache.hadoop.conf.Configuration): (Long, Long) = {
    validateRefName(name)
    val (branchHead, branchEntries) = readVersioned(fs, dir, name).getOrElse(
      throw new IllegalArgumentException(
        s"fls: branch '$name' of $dir does not exist"))
    val forkV = forkVersion(fs, dir, name)
    var prev = 0L
    val newV = commit(fs, dir, java.util.UUID.randomUUID().toString, conf,
        op = "fast_forward") { head =>
      if (head.version != forkV) throw new java.util.ConcurrentModificationException(
        s"fls fast_forward: main of $dir advanced to v${head.version} past the " +
          s"fork point v$forkV while branch '$name' was being written — " +
          "the branch no longer descends from the head; re-create the " +
          "branch from the new head and replay (or merge manually)")
      prev = head.version
      // strip branch-only entries' birth versions: branch commits
      // numbered them on the BRANCH lineage (forkV+1, forkV+2, …),
      // which can exceed the main version this publish mints — an
      // equality delete on main would then wrongly exempt those rows.
      // commit() restamps them with the published main version, the
      // moment they became visible to main readers.
      val mainRels = head.entries.map(_.rel).toSet
      Delta.between(head.entries, branchEntries.map(e =>
        if (mainRels.contains(e.rel)) e
        else e.copy(stats = FlsFileStats.stripBirth(e.stats))))
    }
    (prev, newV)
  }

  /** Whether the table has a manifest (a version in the main log, or the
    * legacy single file) — the same test [[readVersioned]] makes, with
    * its re-check of the log for the legacy-migration window, without
    * reading one. */
  def exists(fs: FileSystem, dir: Path): Boolean = {
    def logHasVersion: Boolean =
      try fs.listStatus(logDir(dir)).exists(s => parseVersionName(s.getPath.getName).isDefined)
      catch { case _: java.io.FileNotFoundException => false }
    logHasVersion || fs.exists(manifestPath(dir)) || logHasVersion
  }
}
