package graft.fls.connector

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.fls.{FlsDeleteVectors, FlsFileStats, FlsManifest, Format}

/** DELTA (merge-on-read) row-level operations — the sibling of the
  * group-based rewrite in [[FlsRowLevelOperation]]: instead of reading
  * affected files WHOLE and rewriting them, Spark hands this operation
  * only the CHANGED rows, keyed by the `(_fls_file, _fls_pos)` row
  * identity the scan serves as metadata columns. Deletes become
  * delete-vector positions; updates become a delete position plus an
  * appended row; inserts append. A one-row UPDATE on a 100 TB table
  * costs one DV sidecar and one tiny data file — no file rewrite at
  * all (Iceberg's position-delta write, `SupportsDelta`).
  *
  * The commit is ONE manifest CAS: attach merged DVs to the targeted
  * entries, append the new files. Conflict rules match the rest of the
  * format: a target replaced or re-vectored since the operation's scan
  * aborts with "rerun" (the deltas were computed against stale rows);
  * the write is manifest-only (the DV pointer lives in manifest
  * metadata). Mode knobs: `delete_mode` / `update_mode` / `merge_mode`
  * = 'merge-on-read' ([[FlsRowLevelOperationBuilder]]). */
class FlsDeltaOperation(
    cmd: Command,
    tableSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends RowLevelOperation with SupportsDelta {

  /** Scan-time DV pointer per planned file (abs → abs) — the commit
    * verifies targets are still at these vectors. */
  private val scanDvs = new AtomicReference[Map[String, String]](Map.empty)
  /** Scan-time equality-delete residuals of the planned files — the
    * commit aborts when a NEW predicate applies to its targets. */
  private val scanEq = new AtomicReference[Set[String]](Set.empty)

  override def command(): Command = cmd
  override def description(): String = s"fls row-level $cmd (merge-on-read)"

  override def rowId(): Array[NamedReference] = Array(
    Expressions.column(FlsVirtual.MetaFile),
    Expressions.column(FlsVirtual.MetaPos))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged =
      if (options.isEmpty) tableOptions
      else {
        val m = new java.util.HashMap[String, String](tableOptions)
        m.putAll(options)
        new CaseInsensitiveStringMap(m)
      }
    new FlsScanBuilder(tableSchema, merged, session) {
      override def build(): Scan = super.build() match {
        case f: FlsScan =>
          f.onPlannedDv = Some(dvs => scanDvs.set(dvs))
          f.onPlannedEq = Some(eq => scanEq.set(eq))
          f
        case other => other
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder = {
    // the replacement rows carry partition columns; route them back
    // into the hive layout (same contract as the group-based path)
    val declared = Option(tableOptions.get("partition_by"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // merge_cdc=true: the MERGE records its matched/unmatched split at
    // commit (CDC sidecars + #cdc manifest lines) so the change-data-
    // feed can serve update_preimage/update_postimage instead of
    // insert/delete churn — possible HERE because the delta writer
    // sees each row's operation; the copy-on-write rewrite does not
    // (Spark hands it "all rows of the affected files, changes
    // applied" with no matched-row marking), which is why
    // [[FlsRowLevelOperationBuilder]] refuses that combination.
    val cdc = cmd == Command.MERGE && tableOptions.getBoolean("merge_cdc", false)
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new FlsDeltaWrite(info, tableOptions, declared,
          () => scanDvs.get(), session,
          op = cmd.toString.toLowerCase(java.util.Locale.ROOT), cdc = cdc,
          scanEq = () => scanEq.get())
    }
  }
}

class FlsDeltaWrite(info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap, partitionBy: Seq[String],
    scanDvs: () => Map[String, String],
    session: org.apache.spark.sql.SparkSession,
    /** Manifest op tag: "delete" / "update" / "merge". */
    op: String,
    /** Record the merge's matched/unmatched split for the CDF. */
    cdc: Boolean = false,
    /** Scan-time equality residuals ([[FlsDeltaOperation]]). */
    scanEq: () => Set[String] = () => Set.empty) extends DeltaWrite
  with RequiresDistributionAndOrdering {

  /** Cluster the delta rows by TARGET FILE so each task owns whole
    * files and can write their delete-vector sidecars TASK-SIDE —
    * positions never serialize to the driver (the r12 design hauled
    * every position through commit messages behind a 4M cap). Best
    * effort (`distributionStrictlyRequired=false`): if the planner
    * declines, multiple tasks may emit fragments for one file and the
    * driver merges just those at commit — correct either way. */
  override def requiredDistribution()
    : org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(Expressions.column(FlsVirtual.MetaFile)))
  override def distributionStrictlyRequired(): Boolean = false
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: DeltaBatchWrite =
    new FlsDeltaBatchWrite(info, tableOptions, partitionBy, scanDvs, session,
      op, cdc, scanEq)
}

class FlsDeltaBatchWrite(info: LogicalWriteInfo,
    tableOptions: CaseInsensitiveStringMap, partitionBy: Seq[String],
    scanDvs: () => Map[String, String],
    session: org.apache.spark.sql.SparkSession,
    op: String, cdc: Boolean = false,
    scanEq: () => Set[String] = () => Set.empty) extends DeltaBatchWrite {

  private val dir = FlsDataSource.parsePaths(tableOptions).headOption
    .getOrElse(throw new IllegalArgumentException("fls delta write: no path"))
  private val writeId = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
      new IllegalStateException("fls delta write: Spark supplied no row ID " +
        "schema — the operation declared (_fls_file, _fls_pos)"))
    val fileIdx = rowIdSchema.fieldIndex(FlsVirtual.MetaFile)
    val posIdx = rowIdSchema.fieldIndex(FlsVirtual.MetaPos)
    val hconfSer = new SerializableConfiguration(session.sessionState.newHadoopConf())
    val inner = FlsWriterFactory(dir, info.schema(),
      tableOptions.getInt("row_group_size", Format.DefaultRowGroupSize),
      tableOptions.getInt("row_groups_per_file", 0),
      hconfSer,
      writeId,
      inlineFooter = tableOptions.getBoolean("inline_footer", true),
      transpose = tableOptions.getBoolean("transpose", false),
      partitionBy = partitionBy,
      directWrite = true, // manifest-mode final names, no renames
      ndvColumns = Option(tableOptions.get("ndv_columns"))
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil))
    // the scan planned when the write's input RDD was built (before this
    // factory), so the DV-pointer snapshot is complete — ship it so
    // tasks can merge each target's OLD vector into the one they write
    val root = new Path(dir)
    val fs = root.getFileSystem(hconfSer.value)
    val qdir = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    // CDC mode routes matched-update rows to their OWN files (whole
    // files tag `update_postimage` in the feed — no per-row position
    // bookkeeping on the insert side); the "c" writeId suffix keeps the
    // two writers' attempt-unique final names disjoint
    val postInner = if (cdc) Some(inner.copy(writeId = writeId + "c")) else None
    FlsDeltaWriterFactory(inner, fileIdx, posIdx, dir, qdir, hconfSer,
      writeId, scanDvs(), postInner)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val qdir = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    def relOf(abs: String): String = {
      require(abs.startsWith(qdir),
        s"fls delta write: targeted file $abs is outside the table root $qdir")
      abs.stripPrefix(qdir)
    }

    // tasks already wrote the DV sidecars (one per file they owned,
    // OLD vector merged in — see FlsDeltaWriter); messages carry only
    // (file → sidecar name, count): the driver haul is O(touched
    // files), never O(deleted rows), so no position cap is needed
    val dvFragsByAbs = mutable.HashMap[String, mutable.ArrayBuffer[String]]()
    // CDC split fragments: file → (pre sidecar, pure sidecar) per task
    val cdcFragsByAbs =
      mutable.HashMap[String, mutable.ArrayBuffer[(Option[String], Option[String])]]()
    var totalDeletes = 0L
    val insertEntries = mutable.ArrayBuffer[FlsManifest.Entry]()
    val postRels = mutable.ArrayBuffer[String]()
    def entriesOf(m: FlsCommitMessage): Seq[FlsManifest.Entry] =
      m.files.zip(m.lengths).zipWithIndex.collect {
        case ((rel, len), i) if rel.endsWith(".fls") =>
          FlsManifest.Entry(rel, len, 0L,
            if (i < m.stats.length) m.stats(i) else null)
      }.toSeq
    messages.foreach {
      case FlsDeltaCommitMessage(ins, dels, post, cdcSplits) =>
        dels.foreach { case (f, (base, n)) =>
          dvFragsByAbs.getOrElseUpdate(f, mutable.ArrayBuffer[String]()) += base
          totalDeletes += n
        }
        cdcSplits.foreach { case (f, pair) =>
          cdcFragsByAbs.getOrElseUpdate(f,
            mutable.ArrayBuffer[(Option[String], Option[String])]()) += pair
        }
        insertEntries ++= entriesOf(ins)
        val pe = entriesOf(post)
        insertEntries ++= pe
        postRels ++= pe.map(_.rel)
      case other => throw new IllegalStateException(
        s"fls delta write: unexpected commit message $other")
    }
    // optional explicit guard (unlimited by default now that sidecars
    // are task-written): a pipeline can still pin a width past which
    // the operation must be re-routed at copy-on-write
    val cap = tableOptions.getLong("merge_on_read_max_rows", -1L)
    require(cap < 0 || totalDeletes <= cap,
      s"fls delta write: $totalDeletes deleted positions " +
        s"(> merge_on_read_max_rows=$cap) — an operation this wide should " +
        "run in copy-on-write mode; raise the option and schedule " +
        "compaction to override")
    require(FlsManifest.readVersioned(fs, root).isDefined,
      "fls: merge-on-read row-level operations need a " +
        "commit_mode=manifest table (the delete-vector pointer lives in " +
        "the manifest) — or use copy-on-write mode")
    // backstop to FlsRowLevelOperationBuilder's refusal: this commit
    // goes to MAIN unconditionally, so a branch-optioned operation that
    // somehow reached here would break write-audit-publish isolation
    require(FlsDataSource.branchRef(tableOptions) == FlsManifest.MainRef,
      "fls: row-level operations on a branch are not supported — " +
        "run DML after fast_forward")

    val atScan = scanDvs()
    val written = mutable.ArrayBuffer[String]()
    val dvBaseByRel: Map[String, String] = dvFragsByAbs.map { case (abs, bases) =>
      val rel = relOf(abs)
      bases.foreach(b => written += FlsDeleteVectors.relFor(rel, b))
      val base =
        if (bases.length == 1) bases.head
        else {
          // the clustered distribution was best-effort: several tasks
          // emitted fragments for this file — merge them here (each
          // already contains the old vector; write() dedups)
          val all = bases.toArray.flatMap(b =>
            FlsDeleteVectors.read(fs, root, FlsDeleteVectors.relFor(rel, b)))
          val merged = FlsDeleteVectors.write(fs, root, rel, s"$writeId-m", all)
          written += merged
          bases.foreach(b =>
            try fs.delete(new Path(root, FlsDeleteVectors.relFor(rel, b)), false)
            catch { case _: Throwable => () })
          new Path(merged).getName
        }
      rel -> base
    }.toMap
    val scanDvBase: Map[String, Option[String]] = dvFragsByAbs.keysIterator.map {
      abs => relOf(abs) -> atScan.get(abs).map(a => new Path(a).getName)
    }.toMap

    // CDC split sidecars: one (pre, pure) pair per re-vectored file.
    // Like the DV sidecars, multiple fragments per file only appear
    // when the best-effort clustering declined — merge just those.
    def mergeSide(rel: String, frags: Seq[String], tag: String): Option[String] = {
      frags.foreach(b => written += FlsDeleteVectors.relFor(rel, b))
      if (frags.isEmpty) None
      else if (frags.length == 1) Some(frags.head)
      else {
        val all = frags.toArray.flatMap(b =>
          FlsDeleteVectors.read(fs, root, FlsDeleteVectors.relFor(rel, b)))
        val merged = FlsDeleteVectors.write(fs, root, rel, s"$writeId-$tag", all)
        written += merged
        frags.foreach(b =>
          try fs.delete(new Path(root, FlsDeleteVectors.relFor(rel, b)), false)
          catch { case _: Throwable => () })
        Some(new Path(merged).getName)
      }
    }
    val cdcLines: Seq[FlsManifest.CdcLine] =
      postRels.sorted.map(FlsManifest.CdcPost(_): FlsManifest.CdcLine).toSeq ++
        cdcFragsByAbs.toSeq.map { case (abs, pairs) =>
          val rel = relOf(abs)
          FlsManifest.CdcSplit(rel,
            mergeSide(rel, pairs.flatMap(_._1).toSeq, "mcpre"),
            mergeSide(rel, pairs.flatMap(_._2).toSeq, "mcpur"))
        }.sortBy(_.rel)

    try {
      FlsManifest.commit(fs, root, writeId, conf, op = op,
          cdc = cdcLines) { head =>
        val entries = head.entries
        val byRel = entries.map(e => e.rel -> e).toMap
        // a NEW equality delete that applies to our targets means the
        // deltas were computed from rows it has since deleted — the
        // appended update/post-image rows would resurrect them (their
        // fresh birth version is out of the predicate's scope). Same
        // conflict class as the DV pointer check below.
        locally {
          val atScan = scanEq()
          val fresh = head.eq.filterNot(atScan.contains)
            .filter { j =>
              val pv = graft.fls.FlsEqDeletes.versionOf(j)
              dvBaseByRel.keysIterator.exists(rel => byRel.get(rel)
                .exists(e => FlsFileStats.birthOf(e.stats) <= pv))
            }
          if (fresh.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              "fls delta write: an equality delete committed after the " +
                "operation's scan and applies to its targets — rerun the " +
                "operation")
          // a predicate REMOVED since the scan (concurrent rollback)
          // needs no abort, unlike the rewrite legs: this commit only
          // ADDS positions for rows the operation matched (which the
          // residual-applied scan never saw eq-deleted rows among) and
          // appends postimage files — rows the rolled-back predicate
          // had hidden stay in their ORIGINAL files, untouched, and
          // resurrect exactly as the rollback intends.
        }
        dvBaseByRel.keysIterator.foreach { rel =>
          val e = byRel.getOrElse(rel,
            throw new java.util.ConcurrentModificationException(
              s"fls delta write: target $rel was replaced or removed " +
                "concurrently — rerun the operation"))
          if (FlsFileStats.dvOf(e.stats) != scanDvBase(rel))
            throw new java.util.ConcurrentModificationException(
              s"fls delta write: a concurrent DELETE re-vectored $rel " +
                "after the operation's scan — rerun the operation")
        }
        FlsManifest.Delta(add = insertEntries.toSeq,
          restate = dvBaseByRel.toSeq.map { case (rel, b) =>
            val e = byRel(rel)
            e.copy(stats = FlsFileStats.withDv(e.stats, b))
          })
      }
    } catch {
      case e: Throwable =>
        written.foreach(r =>
          try fs.delete(new Path(root, r), false)
          catch { case _: Throwable => () })
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    // nothing published: remove the staged insert files AND the
    // task-written DV sidecars of successfully-committed tasks (a
    // failed task cleaned its own in FlsDeltaWriter.abort)
    val conf = session.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val qdir = fs.makeQualified(root).toString.stripSuffix("/") + "/"
    messages.foreach {
      case FlsDeltaCommitMessage(ins, dels, post, cdcSplits) =>
        (ins.files ++ post.files).foreach { rel =>
          try fs.delete(new Path(root, rel), false) catch { case _: Throwable => () }
          try fs.delete(new Path(root, rel + ".footer"), false)
          catch { case _: Throwable => () }
        }
        dels.foreach { case (abs, (base, _)) =>
          if (abs.startsWith(qdir)) {
            val rel = FlsDeleteVectors.relFor(abs.stripPrefix(qdir), base)
            try fs.delete(new Path(root, rel), false) catch { case _: Throwable => () }
          }
        }
        cdcSplits.foreach { case (abs, (pre, pure)) =>
          if (abs.startsWith(qdir)) (pre.toSeq ++ pure.toSeq).foreach { base =>
            val rel = FlsDeleteVectors.relFor(abs.stripPrefix(qdir), base)
            try fs.delete(new Path(root, rel), false) catch { case _: Throwable => () }
          }
        }
      case _ => ()
    }
  }
}

case class FlsDeltaWriterFactory(inner: FlsWriterFactory,
    fileIdx: Int, posIdx: Int, rootStr: String, qdir: String,
    hconfSer: SerializableConfiguration, writeId: String,
    scanDvsAbs: Map[String, String],
    /** CDC mode: matched-update rows go to this second data writer so
      * whole files tag `update_postimage` in the feed. */
    postInner: Option[FlsWriterFactory] = None) extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    // LAZY inner writer: a pure DELETE delta has an empty write schema
    // (nothing will ever be inserted) that the data writer rightly
    // refuses — instantiate it on the first actual insert
    new FlsDeltaWriter(() => inner.createWriter(partitionId, taskId),
      fileIdx, posIdx, rootStr, qdir, hconfSer, writeId, scanDvsAbs,
      partitionId, postInner.map(f => () => f.createWriter(partitionId, taskId)))
}

/** Task side: inserts stream through a normal fls data writer
  * (attempt-unique final names); deletes accumulate as (file →
  * positions) and are written as DELETE-VECTOR sidecars AT TASK COMMIT
  * — the write is clustered by target file ([[FlsDeltaWrite]]), so a
  * task normally owns every position of the files it touches and the
  * commit message carries one (sidecar name, count) per file instead
  * of the positions themselves. Sidecar names carry partition + task
  * attempt, so speculative twins never collide; a losing attempt's
  * file is unvouched junk vacuum reclaims. Per-task memory is bounded
  * by the positions of its own files (≤ rows per file). */
class FlsDeltaWriter(mkInner: () => DataWriter[InternalRow],
    fileIdx: Int, posIdx: Int, rootStr: String, qdir: String,
    hconfSer: SerializableConfiguration, writeId: String,
    scanDvsAbs: Map[String, String], partitionId: Int,
    /** CDC mode when defined: update() routes its positions/rows to
      * separate tracking so the commit can record the merge's
      * matched/unmatched split ([[graft.fls.FlsManifest.CdcLine]]). */
    mkPost: Option[() => DataWriter[InternalRow]] = None)
  extends DeltaWriter[InternalRow] {

  /** Positions deleted by a DELETE action (or any delete when CDC is
    * off — update() folds into delete+insert then). */
  private val dels = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
  /** CDC only: positions deleted BY UPDATE (the preimages). */
  private val updDels = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
  private val wrote = mutable.ArrayBuffer[String]() // DV rels, for abort
  private var inner: DataWriter[InternalRow] = null
  private var post: DataWriter[InternalRow] = null

  override def delete(meta: InternalRow, id: InternalRow): Unit =
    dels.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
      mutable.ArrayBuffer[Long]()) += id.getLong(posIdx)

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = mkPost match {
    case None =>
      delete(meta, id)
      insert(row)
    case Some(mk) =>
      updDels.getOrElseUpdate(id.getUTF8String(fileIdx).toString,
        mutable.ArrayBuffer[Long]()) += id.getLong(posIdx)
      if (post == null) post = mk()
      post.write(row)
  }

  override def insert(row: InternalRow): Unit = {
    if (inner == null) inner = mkInner()
    inner.write(row)
  }

  private def commitOf(w: DataWriter[InternalRow]): FlsCommitMessage =
    if (w == null) FlsCommitMessage(Array.empty, Array.empty)
    else w.commit() match {
      case m: FlsCommitMessage => m
      case other => throw new IllegalStateException(
        s"fls delta writer: unexpected inner commit message $other")
    }

  override def commit(): WriterCommitMessage = {
    val ins = commitOf(inner)
    val postIns = commitOf(post)
    val conf = hconfSer.value
    val root = new Path(rootStr)
    val fs = root.getFileSystem(conf)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId()).getOrElse(0L)
    val touched = (dels.keySet ++ updDels.keySet).toSeq
    val cdcSplits = mutable.HashMap[String, (Option[String], Option[String])]()
    val emitted: Map[String, (String, Long)] = touched.map { abs =>
      require(abs.startsWith(qdir),
        s"fls delta write: targeted file $abs is outside the table root $qdir")
      val rel = abs.stripPrefix(qdir)
      val pure = dels.getOrElse(abs, mutable.ArrayBuffer.empty[Long])
      val upd = updDels.getOrElse(abs, mutable.ArrayBuffer.empty[Long])
      // merge the target's OLD vector (frozen at the operation's scan;
      // the driver CAS re-verifies the pointer hasn't moved since)
      val old = scanDvsAbs.get(abs)
        .map(a => FlsDeleteVectors.readAbsolute(a, conf))
        .getOrElse(Array.empty[Long])
      val dvRel = FlsDeleteVectors.write(fs, root, rel,
        s"$writeId-p$partitionId-a$attempt", old ++ pure ++ upd)
      wrote += dvRel
      // CDC: the split sidecars say which of the fresh deletions were
      // update preimages vs DELETE-action rows — only needed when the
      // file saw an update (pure-only growth reads correctly as
      // 'delete' from the generic DV diff)
      if (upd.nonEmpty) {
        def side(ps: mutable.ArrayBuffer[Long], tag: String): Option[String] =
          if (ps.isEmpty) None
          else {
            val r = FlsDeleteVectors.write(fs, root, rel,
              s"$writeId-p$partitionId-a$attempt-$tag", ps.toArray)
            wrote += r
            Some(new Path(r).getName)
          }
        cdcSplits(abs) = (side(upd, "cpre"), side(pure, "cpur"))
      }
      abs -> ((new Path(dvRel).getName, (pure.length + upd.length).toLong))
    }.toMap
    FlsDeltaCommitMessage(ins, emitted, postIns, cdcSplits.toMap)
  }

  override def abort(): Unit = {
    if (inner != null) inner.abort()
    if (post != null) post.abort()
    val root = new Path(rootStr)
    val fs = root.getFileSystem(hconfSer.value)
    wrote.foreach(r =>
      try fs.delete(new Path(root, r), false) catch { case _: Throwable => () })
  }
  override def close(): Unit = {
    if (inner != null) inner.close()
    if (post != null) post.close()
  }
}

/** `deletes`: target file (absolute) → (sidecar basename, fresh
  * position count) — names and counts only, never positions.
  * `postInserts`/`cdcSplits` are the merge-CDC channel: postimage
  * files and per-file (preimage, pure-delete) split sidecar basenames
  * (empty unless the table sets `merge_cdc`). */
case class FlsDeltaCommitMessage(inserts: FlsCommitMessage,
    deletes: Map[String, (String, Long)],
    postInserts: FlsCommitMessage = FlsCommitMessage(Array.empty, Array.empty),
    cdcSplits: Map[String, (Option[String], Option[String])] = Map.empty)
  extends WriterCommitMessage
