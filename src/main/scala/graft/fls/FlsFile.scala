package graft.fls

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

import Format._

/** File-level writer: header, streamed row groups, inline footer — or,
  * with `inlineFooter=false`, the footer in a `<name>.footer` sidecar
  * (≙ reference `inline_footer` writer option,
  * /root/reference/src/include/writer/fls_writer.hpp:17-18; the sidecar
  * lets a catalog fetch all footers without touching data files). The
  * data file's 12-byte tail then stores footerLen = -1 as the sentinel.
  * One file holds one table (SURVEY.md §1.1). All IO goes through the
  * Hadoop FileSystem API so paths work identically on local disk, HDFS,
  * or object stores on a real cluster. */
final class FlsFileWriter(path: Path, conf: Configuration, schema: Array[ColumnDesc],
    inlineFooter: Boolean = true, transpose: Boolean = false) {
  private val fs = path.getFileSystem(conf)
  private val out = fs.create(path, true)
  private var pos: Long = 0L
  private val rowGroups = scala.collection.mutable.ArrayBuffer[RowGroupDesc]()

  out.write(Magic); out.write(Version.toInt); pos += 5

  def writeRowGroup(cols: Array[ColData]): Unit = {
    require(cols.length == schema.length, "column count mismatch")
    val n = if (cols.isEmpty) 0 else cols(0).n
    val segs = new Array[SegmentDesc](cols.length)
    var c = 0
    while (c < cols.length) {
      require(cols(c).n == n, "ragged row group")
      // MCC EXP_EQUAL (≙ reference cross-column encodings,
      // /root/reference/src/reader/fls_reader.cpp:43-82): a column whose
      // row-group content exactly duplicates an earlier column stores a
      // 4-byte reference instead of re-encoded data. Only non-EQUAL
      // sources are referenced, so chains are one hop. contentEquals
      // fails on the first differing element, so non-duplicate columns
      // cost O(1) per candidate pair.
      val dup = (0 until c).find { p =>
        segs(p).encoding != Enc.EQUAL &&
          physOf(schema(p).colType.tag) == physOf(schema(c).colType.tag) &&
          Codecs.contentEquals(cols(p), cols(c))
      }
      val w = new ByteWriter()
      val desc = dup match {
        case Some(p) =>
          Codecs.encodeEqual(p, w)
          Encoder.statsOf(cols(c)).copy(encoding = Enc.EQUAL)
        case None =>
          Encoder.encodeColumn(cols(c), w, transpose)._2
      }
      val bytes = w.toArray
      out.write(bytes)
      segs(c) = desc.copy(offset = pos, length = bytes.length.toLong)
      pos += bytes.length
      c += 1
    }
    rowGroups += RowGroupDesc(n, segs)
  }

  def numRowGroups: Int = rowGroups.length

  /** Total bytes of the closed data file (valid after close) — lets the
    * manifest commit record lengths without a getFileStatus round-trip. */
  def fileLength: Long = pos

  /** Per-file min/max stats of what was written (valid after the last
    * writeRowGroup) — rides the commit message into the manifest so cold
    * planning prunes without this footer ([[FlsFileStats]]). `ndv`
    * attaches the writer-accumulated HLL sketches ([[Hll]]). */
  def fileStats(ndv: Map[String, Array[Byte]] = Map.empty): String =
    FlsFileStats.fromTable(TableDesc(schema, rowGroups.toArray), ndv)

  def close(): Unit = {
    val fw = new ByteWriter()
    Format.writeFooter(fw, TableDesc(schema, rowGroups.toArray))
    val footer = fw.toArray
    val tail = new ByteWriter()
    if (inlineFooter) {
      out.write(footer)
      pos += footer.length
    } else {
      val side = fs.create(FlsFile.footerPath(path), true)
      side.write(footer)
      side.close()
    }
    tail.writeLong(if (inlineFooter) footer.length.toLong else -1L)
    out.write(tail.toArray)
    out.write(Magic)
    pos += 12
    out.close()
  }

  def abort(): Unit = {
    try out.close() catch { case _: Throwable => () }
    try fs.delete(path, false) catch { case _: Throwable => () }
    if (!inlineFooter)
      try fs.delete(FlsFile.footerPath(path), false) catch { case _: Throwable => () }
  }
}

/** File-level reader: footer parse on open; segment reads are
  * positioned (seek + read exactly the projected column's byte range),
  * so projection pushdown prunes IO, not just decode (≙ reference
  * projection plan, /root/reference/src/reader/fls_reader.cpp:560-613). */
final class FlsFileReader(val path: Path, conf: Configuration) extends AutoCloseable {
  private val fs = path.getFileSystem(conf)
  val fileSize: Long = fs.getFileStatus(path).getLen
  private var in: FSDataInputStream = fs.open(path)

  val table: TableDesc = FlsErrors.wrap(s"opening $path") {
    val tailLen = 12
    val headerLen = 5 // magic + version
    if (fileSize < headerLen + tailLen)
      FlsErrors.corrupt(s"truncated file ($fileSize bytes, " +
        s"minimum ${headerLen + tailLen}): $path")
    val tail = new Array[Byte](tailLen)
    in.readFully(fileSize - tailLen, tail)
    if (!(tail(8) == 'F' && tail(9) == 'L' && tail(10) == 'S' && tail(11) == '1'))
      FlsErrors.corrupt(s"bad tail magic (not an fls file, or truncated): $path")
    val footerLen = new ByteReader(tail).readLong()
    val footer =
      if (footerLen == -1L) {
        // separate-footer mode: sentinel tail, footer lives in a sidecar
        val side = FlsFile.footerPath(path)
        val buf =
          try {
            val st = fs.getFileStatus(side)
            new Array[Byte](st.getLen.toInt)
          } catch {
            case _: java.io.FileNotFoundException =>
              FlsErrors.corrupt(s"missing footer sidecar $side for $path")
          }
        val sin = fs.open(side)
        try sin.readFully(0, buf) finally sin.close()
        buf
      } else {
        if (footerLen < 0L || footerLen > fileSize - tailLen - headerLen)
          FlsErrors.corrupt(s"footer length $footerLen out of bounds " +
            s"(file $fileSize bytes): $path")
        val buf = new Array[Byte](footerLen.toInt)
        in.readFully(fileSize - tailLen - footerLen, buf)
        buf
      }
    FlsErrors.wrap(s"footer of $path") {
      Format.readFooter(new ByteReader(footer))
    }
  }

  def readSegmentBytes(seg: SegmentDesc): Array[Byte] = {
    // each bound checked on its own BEFORE the sum: an adversarial
    // footer with offset=length=2^62 wraps the Long sum negative and
    // would sneak past a combined check (and a length > Int.MaxValue
    // would silently truncate in toInt below)
    if (seg.length < 0L || seg.offset < 0L ||
        seg.length > fileSize || seg.offset > fileSize ||
        seg.offset > fileSize - seg.length) // subtraction form cannot wrap
      FlsErrors.corrupt(s"segment out of bounds (offset=${seg.offset} " +
        s"length=${seg.length} file=$fileSize bytes): $path")
    if (seg.length > Int.MaxValue)
      FlsErrors.corrupt(s"segment length ${seg.length} exceeds the 2 GiB " +
        s"single-buffer limit: $path")
    val bytes = new Array[Byte](seg.length.toInt)
    in.readFully(seg.offset, bytes)
    bytes
  }

  /** One column of one row group, its cross-column references resolved;
    * fresh arrays, so the caller may keep the result. */
  def decodeSegment(rgIdx: Int, colIdx: Int): ColData =
    FlsErrors.wrap(s"rowGroup=$rgIdx column=$colIdx of $path") {
      val rg = table.rowGroups(rgIdx)
      val d = new Codecs.GroupResolver(rg, table.columns, readSegmentBytes,
        _ => new Codecs.ReuseBufs)(colIdx)
      // a segment can be internally consistent yet disagree with the
      // footer's row count — that's corruption, not a shorter column
      if (d.n != rg.nTuples)
        throw new IllegalStateException(
          s"segment decoded ${d.n} rows, footer says ${rg.nTuples}")
      d
    }

  override def close(): Unit = if (in != null) { in.close(); in = null }
}

object FlsFile {
  /** Sidecar footer path for separate-footer mode. */
  def footerPath(data: Path): Path = new Path(data.getParent, data.getName + ".footer")

  /** List the .fls data files under a path (a file or a directory). */
  def listDataFiles(path: Path, conf: Configuration): Seq[Path] =
    listDataStatuses(path, conf).map(_.getPath)

  def listDataStatuses(path: Path, conf: Configuration): Seq[org.apache.hadoop.fs.FileStatus] =
    listDataStatuses(path, conf, None)

  /** Same listing with the FileStatus kept — one RPC serves both the
    * file list and the (mtime, length) footer-cache key. Recurses into
    * subdirectories (hive-partitioned layouts, `dt=.../part-*.fls`),
    * skipping hidden/`_`-prefixed entries (`_temporary` staging,
    * `_done` markers, dotfiles) — the same convention Spark's file
    * sources use. Sorted by full path so multi-level layouts keep a
    * deterministic planning order. */
  /** `pinnedManifestVersion`: plan from exactly that (immutable)
    * manifest version instead of the newest — a consistent snapshot
    * regardless of concurrent commits (the `manifest_version` reader
    * option; compaction pins its frozen input set this way). */
  def listDataStatuses(path: Path, conf: Configuration,
      pinnedManifestVersion: Option[Long]): Seq[org.apache.hadoop.fs.FileStatus] =
    listDataWithStats(path, conf, pinnedManifestVersion).map(_._1)

  /** `ref`: list the named BRANCH's head (or its pinned version)
    * instead of main — write-audit-publish reads
    * ([[FlsManifest.createBranch]]). */

  /** Same listing with each file's manifest-carried stats JSON alongside
    * (None on listing-mode tables and stats-less entries) — one RPC
    * serves the file list, the footer-cache key, AND manifest-level file
    * pruning ([[FlsFileStats]]). */
  def listDataWithStats(path: Path, conf: Configuration,
      pinnedManifestVersion: Option[Long],
      ref: String = FlsManifest.MainRef,
      relBounds: Option[(String, String)] = None)
    : Seq[(org.apache.hadoop.fs.FileStatus, Option[String])] = {
    val fs = path.getFileSystem(conf)
    // a not-yet-created table lists as empty (a tailing stream started
    // before its writer is the normal pipeline order); batch reads
    // still fail clearly via inferSchema's "no .fls files" require
    val st =
      try fs.getFileStatus(path)
      catch { case _: java.io.FileNotFoundException => return Nil }
    // equality-delete residuals ride the per-file stats JSON from HERE:
    // the snapshot's `#eqdel` predicates are resolved against each
    // entry's birth version once at listing, and only the APPLICABLE
    // ones attach (planning-time `"eq"` field — never written to disk),
    // so the reader needs no table-level channel ([[FlsEqResidual]]).
    def withResiduals(entries: Seq[FlsManifest.Entry],
        eq: Seq[String]): Seq[FlsManifest.Entry] =
      if (eq.isEmpty) entries
      else {
        val byV = eq.map(j => (FlsEqDeletes.parse(j), j))
        // rename reconciliation for the prune (mirrors
        // FlsFileStats.mayMatch): files written before an `ALTER TABLE
        // RENAME COLUMN` carry the OLD name in their stats desc, and a
        // raw-name match would keep their residual forever — exactly
        // the old-generation files the prune exists to exempt. One
        // lazy metadata read, only on tables with active predicates
        // AND recorded rename history.
        lazy val renameSchema = FlsTableMeta.read(fs, path).map(_._2.schema)
          .filter(_.fields.exists(f => Format.previousNames(f).nonEmpty))
        entries.map { e =>
          // zone-map + bloom prune (r16): a predicate the file's
          // manifest stats (or its bloom sidecar, for scattered point
          // keys zone maps can't bound) PROVE cannot match any stored
          // row is dropped HERE — the file then carries no residual at
          // all, so metadata shortcuts (footer count(*)/aggregates,
          // TopN bounds) re-arm and the decode loop never compiles it.
          // A retention predicate taxes only the files it touches on a
          // clustered table; a GDPR point delete taxes only the files
          // that bloom-contain the key. Sidecar reads ride the same
          // LRU cache as the scan-filter bloom path. Conservative:
          // missing/NaN-dropped/drifted stats keep the residual (and
          // keep the decode-time drift THROW).
          lazy val desc = FlsFileStats.toDesc(e.stats)
            .map(d => renameSchema.fold(d)(s => Format.applyRenames(d, s)))
          val applicable = byV.collect {
            case (p, j) if FlsFileStats.birthOf(e.stats) <= p.v &&
              desc.forall(d => FlsEqDeletes.mayMatchDesc(p, d) &&
                Bloom.mayMatchEq(p, d, e.stats, new Path(path, e.rel),
                  conf)) => j
          }
          if (applicable.isEmpty) e
          else e.copy(stats = FlsFileStats.withEq(e.stats, applicable))
        }
      }
    def serve(l: FlsManifest.Layout): Seq[(org.apache.hadoop.fs.FileStatus, Option[String])] =
      FlsManifest.statusesWithStats(fs, path, withResiduals(l.entries, l.eq))
        .sortBy(_._1.getPath.toString)
    if (st.isFile) Seq((st, None))
    else if (ref != FlsManifest.MainRef) {
      pinnedManifestVersion match {
        case Some(pv) => serve(FlsManifest.readLayoutVersion(fs, path, pv,
          ref, relBounds))
        case None => serve(FlsManifest.readLayoutVersioned(fs, path, ref,
            relBounds)
          .getOrElse(throw new IllegalArgumentException(
            s"fls: branch '$ref' of $path does not exist — " +
              "CALL system.create_branch first"))._2)
      }
    }
    else pinnedManifestVersion match {
      case Some(v) => serve(FlsManifest.readLayoutVersion(fs, path, v,
        relBounds = relBounds))
      case None => FlsManifest.readLayoutVersioned(fs, path,
          relBounds = relBounds) match {
        // manifest table: the manifest IS the file list — no recursive
        // listing RPC, and on-disk files outside it (losing speculative
        // attempts, crashed jobs, junk) are invisible by design
        case Some((_, layout)) => serve(layout)
        case None =>
          val out = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
          walkFiles(fs, path, Seq(".fls"))((s, _) => out += s)
          out.sortBy(_.getPath.toString).toSeq.map((_, None))
      }
    }
  }

  /** THE recursive directory walk: visits non-hidden files matching one
    * of `suffixes` with their dir-relative paths, skipping `_`/`.`
    * prefixed entries (`_temporary` staging, `_fls_manifest`, `_done`
    * markers, dotfiles) at every level — the single definition of the
    * hidden-entry convention, shared by read-side listing and
    * commit-side cleanup so their visibility can never diverge. */
  def walkFiles(fs: org.apache.hadoop.fs.FileSystem, dir: Path, suffixes: Seq[String])(
      visit: (org.apache.hadoop.fs.FileStatus, String) => Unit): Unit = {
    def walk(d: Path, rel: String): Unit =
      fs.listStatus(d).foreach { s =>
        val name = s.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (s.isDirectory) walk(s.getPath, rel + name + "/")
          else if (suffixes.exists(name.endsWith)) visit(s, rel + name)
        }
      }
    if (fs.exists(dir)) walk(dir, "")
  }
}
