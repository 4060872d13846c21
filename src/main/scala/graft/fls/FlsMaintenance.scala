package graft.fls

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Table maintenance for fls directories. The one that matters at
  * 100 TB is small-file compaction: streaming ingestion and frequent
  * small appends leave a table as thousands of near-empty files, and
  * planning cost, footer-cache pressure, and per-file scheduling
  * overhead all scale with file COUNT, not byte size. `compact`
  * rewrites a table (or one partition subdirectory) into
  * `targetRowsPerFile`-sized files.
  *
  * MANIFEST tables compact CONCURRENTLY-SAFELY: the rewrite reads a
  * pinned manifest version (immutable snapshot), writes its outputs
  * invisibly, and swaps them in via the versioned-manifest CAS commit —
  * replacing exactly the frozen input files and keeping any rows that
  * concurrent appenders published mid-rewrite. If a concurrent commit
  * REMOVED an input file (another compact, an overwrite), the swap
  * aborts loudly and rolls the outputs back; appends never conflict.
  *
  * LISTING-mode tables compact via read-then-overwrite, which cannot
  * distinguish concurrent rows — so that path still refuses a live
  * staging tree and carries the sealed-partitions contract: run it on
  * partitions the ingest has finished, `compact(spark, s"$dir/dt=...")`
  * (a partition subdirectory of a listing-mode table is itself a valid
  * flat fls table, and rewriting it in place preserves the hive
  * layout).
  *
  * The reference's writer has file rotation but no rewrite/maintenance
  * surface at all (/root/reference/src/writer/fls_writer.cpp:189-211);
  * this is Spark-cluster machinery for the formats the reference
  * leaves single-process. */
object FlsMaintenance {

  final case class CompactStats(filesBefore: Int, filesAfter: Int, rows: Long)

  /** Rewrite the fls table at `dir` into ~`targetRowsPerFile`-row files.
    * Preserves hive partition layout (partition columns re-routed
    * through `partition_by`) and commit mode. `extraOptions` pass
    * through to the writer (`row_group_size`, `transpose`, ...).
    *
    * `sortBy` clusters the rewrite: the table range-partitions on the
    * given columns and sorts within each output task, so every file
    * (and row group) covers a narrow, near-disjoint value range — zone
    * maps then prune range/equality filters on those columns to a
    * handful of row groups instead of all of them. This is the linear
    * form of OPTIMIZE…ZORDER: at 100 TB, clustering the sealed
    * partitions on the hot filter key is what turns full-partition
    * scans into single-row-group reads. */
  def compact(spark: SparkSession, dir: String,
      targetRowsPerFile: Long = Format.DefaultRowGroupSize.toLong * 16,
      extraOptions: Map[String, String] = Map.empty,
      sortBy: Seq[String] = Nil,
      eagerDeleteInputs: Boolean = false,
      zorderBy: Seq[String] = Nil): CompactStats = {
    require(targetRowsPerFile > 0, "fls compact: targetRowsPerFile must be positive")
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "fls compact: sortBy and zorderBy are alternative clustering modes — pick one")
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "fls compact: zorderBy needs >= 2 columns (use sortBy for one)")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    FlsManifest.readVersioned(fs, root) match {
      case Some(frozen) =>
        compactManifest(spark, dir, frozen, targetRowsPerFile, extraOptions,
          sortBy, eagerDeleteInputs, zorderBy)
      case None =>
        compactListing(spark, dir, targetRowsPerFile, extraOptions, sortBy, zorderBy)
    }
  }

  /** Listing-mode compaction: read-then-overwrite. Rows appended AFTER
    * the input file list freezes would be deleted by the overwrite's
    * job commit, so refuse when a writer is in flight (live staging
    * tree) — and the operational contract is the same as every
    * rewrite-based OPTIMIZE: run it on SEALED tables/partitions (a
    * writer that starts mid-compaction is not detectable here; manifest
    * tables don't have this caveat — their swap is conflict-checked). */
  private def compactListing(spark: SparkSession, dir: String,
      targetRowsPerFile: Long, extraOptions: Map[String, String],
      sortBy: Seq[String], zorderBy: Seq[String]): CompactStats = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val staging = new Path(root, connector.FlsCommit.TempDirName)
    val inFlight =
      try fs.listStatus(staging).exists(_.isDirectory)
      catch { case _: java.io.FileNotFoundException => false }
    require(!inFlight,
      s"fls compact: a write job is in flight under $dir (staging tree present) — " +
        "compact sealed tables/partitions only, or wait for the writer to finish")
    val before = FlsFile.listDataStatuses(root, conf)
    require(before.nonEmpty, s"fls compact: no data files under $dir")
    // compacting a partition SUBDIR of a manifest table in place would
    // leave the parent manifest pointing at deleted files — refuse
    var p = root.getParent
    var hops = 0
    while (p != null && hops < 64) {
      if (FlsManifest.read(fs, p).isDefined)
        throw new IllegalArgumentException(
          s"fls compact: $dir sits under the manifest table at $p — compact " +
            "the manifest table whole (its manifest is table-scoped)")
      p = p.getParent
      hops += 1
    }
    val discovery = connector.FlsPartitioning.discover(
      Seq(dir), before.map(_.getPath), conf)
    val df = spark.read.format("fls").load(dir)
    val rows = df.count() // footer-served via the metadata-aggregate scan
    val keys = discovery.keys
    var w = clustered(df, rows, keys, sortBy, zorderBy, targetRowsPerFile)
      .write.format("fls").mode("overwrite")
      // this rewrite IS the layout: the writer contract must not add a
      // second exchange on top of the compaction's own repartitioning
      .option("write_distribution", "none")
    if (keys.nonEmpty) w = w.option("partition_by", keys.mkString(","))
    w = rotation(w, targetRowsPerFile, extraOptions)
    w.save(dir)
    CompactStats(before.length, FlsFile.listDataStatuses(root, conf).length, rows)
  }

  /** Manifest-table compaction: pin → rewrite invisibly → CAS swap.
    *
    *  1. Freeze manifest version V (immutable snapshot).
    *  2. Rewrite the pinned snapshot into a hidden `_compact_<id>`
    *     subdir through the normal write path.
    *  3. Move the outputs to their final table-relative names — still
    *     invisible (the manifest doesn't vouch for them yet).
    *  4. Swap via the versioned-manifest CAS commit: replace exactly
    *     V's entries, KEEP entries concurrent appends published since V
    *     (their rows were not in the rewrite input). Abort loudly if a
    *     concurrent commit removed any input file.
    *  5. After the swap published, V's files are no longer vouched for.
    *     By default they stay on disk for `vacuum` to reclaim past its
    *     age horizon: the manifest retains a few versions for pinned
    *     `manifest_version` readers, and an in-flight scan planned
    *     before the swap still reads the replaced files — eager
    *     deletion would fail both mid-scan. `eagerDeleteInputs=true`
    *     restores immediate cleanup for sealed tables with no pinned
    *     readers (accepting that it invalidates retained versions). */
  private def compactManifest(spark: SparkSession, dir: String,
      frozen: (Long, Seq[FlsManifest.Entry]), targetRowsPerFile: Long,
      extraOptions: Map[String, String], sortBy: Seq[String],
      eagerDeleteInputs: Boolean, zorderBy: Seq[String] = Nil): CompactStats = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    var (frozenV, frozenEntries) = frozen
    if (frozenV == 0L) {
      // legacy single-file manifest: the first versioned commit RETIRES
      // that file, so pinning "version 0" could break mid-rewrite if a
      // concurrent append upgrades the table — mint an identical v1
      // (an empty delta) and freeze that instead
      FlsManifest.commit(fs, root, java.util.UUID.randomUUID().toString, conf,
          op = "upgrade", dataChange = false) { head =>
        if (!head.exists) throw new IllegalStateException(
          s"fls compact: manifest at $dir vanished before compaction started")
        FlsManifest.Delta()
      }
      val again = FlsManifest.readVersioned(fs, root).getOrElse(
        throw new IllegalStateException(s"fls compact: manifest at $dir vanished"))
      frozenV = again._1
      frozenEntries = again._2
    }
    require(frozenEntries.nonEmpty, s"fls compact: no data files under $dir")
    val frozenRels = frozenEntries.map(_.rel).toSet
    // Capture the frozen predicate set NOW, not inside the change
    // function: frozenV's version file can be retention-pruned during a
    // long compaction, and re-reading it per CAS attempt would surface
    // as FileNotFoundException instead of the intended
    // ConcurrentModificationException. absorbDeletes freezes its `eq`
    // the same way.
    val frozenEqSet = FlsManifest.versionEq(fs, root, frozenV).toSet
    val discovery = connector.FlsPartitioning.discover(
      Seq(dir), FlsManifest.statuses(fs, root, frozenEntries).map(_.getPath), conf)
    // Re-layout under the table's CURRENT declared spec when one exists
    // (after evolve_partition_spec the discovered layout is the UNION
    // of key generations — compacting under the union would freeze the
    // mixed layout forever; compacting under the current spec is the
    // physical re-layout that makes the table uniform again, restoring
    // storage-partitioned joins and path-grouped metadata aggregates).
    val keys = FlsTableMeta.read(fs, root).map(_._2.partitionBy)
      .filter(_.nonEmpty).getOrElse(discovery.keys)
    // the pinned read makes the input set exact even while appends land
    val df = spark.read.format("fls")
      .option("manifest_version", frozenV.toString).load(dir)
    val rows = df.count()
    val compactId = java.util.UUID.randomUUID().toString
    val tmpDir = new Path(root, s"_compact_$compactId") // _-prefixed: invisible
    var w = clustered(df, rows, keys, sortBy, zorderBy, targetRowsPerFile)
      .write.format("fls").mode("overwrite")
      .option("write_distribution", "none") // same: compaction owns the layout
    if (keys.nonEmpty) w = w.option("partition_by", keys.mkString(","))
    w = rotation(w, targetRowsPerFile, extraOptions)
    val moved = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    try {
      w.save(tmpDir.toString)
      // move outputs to final table-relative names (attempt-unique file
      // names can't collide); invisible until the swap below publishes
      moved ++= connector.FlsCommit.publishDir(fs, root, tmpDir)
      val outEntries = moved.collect {
        case (rel, len) if rel.endsWith(".fls") => FlsManifest.Entry(rel, len, 0L)
      }.toSeq
      FlsManifest.commit(fs, root, compactId, conf,
          op = "compact", dataChange = false) { head =>
        if (!head.exists) throw new IllegalStateException(
          s"fls compact: $dir lost its manifest mid-compaction — aborting")
        val cur = head.entries
        // the predicate SET in force must be exactly the frozen one:
        // a predicate ADDED since the freeze would be silently undone
        // (outputs built without its residual, fresh birth versions
        // exempt them), and a predicate REMOVED since — a concurrent
        // ROLLBACK undoing the delete — would be silently RE-APPLIED
        // (outputs built WITH its residual). Either direction aborts.
        if (head.eq.toSet != frozenEqSet)
          throw new java.util.ConcurrentModificationException(
            s"fls compact: the active equality-delete set changed under " +
              s"$dir after the compaction froze its inputs (concurrent " +
              "delete or rollback) — aborting; re-run compact on the " +
              "new table state")
        val curRels = cur.map(_.rel).toSet
        val gone = frozenRels.diff(curRels)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"fls compact: a concurrent commit removed ${gone.size} compaction input " +
              s"file(s) under $dir (another compact or an overwrite) — aborting; " +
              "re-run compact on the new table state")
        // a DV change is a rewrite-in-place: a concurrent merge-on-read
        // DELETE attached a delete vector to a frozen input, whose rows
        // our outputs were built WITHOUT knowing — swapping would
        // silently undo that delete
        val frozenDv = frozenEntries.map(e => e.rel -> FlsFileStats.dvOf(e.stats)).toMap
        val dvChanged = cur.filter(e => frozenRels(e.rel) &&
          FlsFileStats.dvOf(e.stats) != frozenDv(e.rel))
        if (dvChanged.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"fls compact: a concurrent merge-on-read DELETE re-vectored " +
              s"${dvChanged.size} compaction input file(s) under $dir — " +
              "aborting; re-run compact on the new table state")
        // entries since V (concurrent appends) survive; V's are replaced
        FlsManifest.Delta(add = outEntries, removeRels = frozenRels)
      }
    } catch {
      case t: Throwable =>
        // nothing published: roll the invisible outputs back
        moved.foreach { case (rel, _) =>
          try fs.delete(new Path(root, rel), false) catch { case _: Throwable => () }
        }
        try fs.delete(tmpDir, true) catch { case _: Throwable => () }
        throw t
    }
    // The swap is live. Replaced inputs are un-vouched now, but pinned
    // manifest_version readers and scans planned before the swap still
    // reference them physically — deleting here would FileNotFound those
    // readers. Default: leave them for vacuum's horizon-gated sweep.
    if (eagerDeleteInputs) frozenEntries.foreach { e =>
      try fs.delete(new Path(root, e.rel), false) catch { case _: Throwable => () }
      try fs.delete(new Path(root, e.rel + ".footer"), false) catch { case _: Throwable => () }
    }
    try fs.delete(tmpDir, true) catch { case _: Throwable => () }
    CompactStats(frozenEntries.length,
      FlsManifest.read(fs, root).map(_.length).getOrElse(0), rows)
  }

  final case class AbsorbStats(predicates: Int, subjectFiles: Int,
      filesAfter: Int, rows: Long)

  /** TARGETED equality-delete absorption: rewrite ONLY the files the
    * active predicates can still apply to (birth version <= the newest
    * predicate's commit version — the same subject set the read-time
    * residual rule derives), then drop the absorbed predicates and
    * re-arm the value-producing metadata shortcuts those files were
    * refusing. A full `compact` absorbs too, but at O(table): on a
    * 100 TB table where one GDPR delete touches a few old files,
    * absorption must cost O(subject), not O(everything). Non-subject
    * files are never read, never rewritten, and keep their manifest
    * entries (and zone-map stats) byte-identical.
    *
    * The rewrite reads the subject files THROUGH the manifest
    * (pinned `manifest_version` + `file_subset`), so delete vectors
    * and the residuals themselves apply — outputs hold exactly the
    * live rows. The swap is the same conflict-checked CAS as
    * compaction: a concurrent equality delete, a removed input, or a
    * re-vectored input aborts with nothing published. With zero
    * subject files (every file the predicates apply to is
    * stats-proven exempt), one metadata-only commit drops them. */
  def absorbDeletes(spark: SparkSession, dir: String,
      targetRowsPerFile: Long = Format.DefaultRowGroupSize.toLong * 16,
      extraOptions: Map[String, String] = Map.empty): AbsorbStats = {
    require(targetRowsPerFile > 0,
      "fls absorb_deletes: targetRowsPerFile must be positive")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val (frozenV, layout) = FlsManifest.readLayoutVersioned(fs, root)
      .getOrElse(throw new IllegalArgumentException(
        s"fls absorb_deletes: $dir has no manifest — equality deletes " +
          "need a commit_mode=manifest table"))
    val eq = layout.eq
    if (eq.isEmpty) return AbsorbStats(0, 0, layout.entries.length, 0L)
    val maxPv = eq.map(FlsEqDeletes.versionOf).max
    val parsedEq = eq.map(FlsEqDeletes.parse)
    val frozenEntries = layout.entries
    val subjectAll = frozenEntries.filter(e =>
      FlsFileStats.birthOf(e.stats) <= maxPv)
    // zone-map subject pruning (r16): a subject file whose manifest
    // stats PROVE no applicable predicate matches any of its rows
    // needs no rewrite — its residual was a no-op. With every
    // may-match file rewritten and the rest stats-proven, the commit
    // drops the predicates EXPLICITLY (`eqDropUpTo`) instead of
    // relying on the no-retained-entry absorption filter: exempt
    // entries are never touched, never restated, never re-chunked. A
    // retention delete that touched 1% of a clustered table absorbs
    // by rewriting the 1% — O(affected) in data AND metadata, not
    // O(subject).
    // rename reconciliation for the subject classification (mirrors
    // FlsFileStats.mayMatch / the listing-time residual prune): files
    // written before a RENAME COLUMN carry the old name in their stats
    // desc — without the mapping they'd be classified subject (and
    // rewritten) even when their zone maps prove exemption.
    val renameSchema = FlsTableMeta.read(fs, root).map(_._2.schema)
      .filter(_.fields.exists(f => Format.previousNames(f).nonEmpty))
    val (subject, exempt) = subjectAll.partition { e =>
      val bv = FlsFileStats.birthOf(e.stats)
      FlsFileStats.toDesc(e.stats)
          .map(d => renameSchema.fold(d)(s => Format.applyRenames(d, s))) match {
        case Some(d) => parsedEq.exists(p =>
          bv <= p.v && FlsEqDeletes.mayMatchDesc(p, d) &&
            Bloom.mayMatchEq(p, d, e.stats, new Path(root, e.rel), conf))
        case None => true // no stats: conservative rewrite
      }
    }
    val exemptRels = exempt.map(_.rel).toSet
    val subjectRels = subject.map(_.rel).toSet
    val frozenDv = subject.map(e => e.rel -> FlsFileStats.dvOf(e.stats)).toMap
    val absorbId = java.util.UUID.randomUUID().toString
    /** The absorb's one change: remove the rewritten subjects, add their
      * outputs, drop the frozen predicates (`eqDropUpTo`). While the
      * head is still the frozen version the classification and the
      * drop proof hold verbatim; after any advance the head is checked
      * first, and any conflict aborts with nothing published. */
    def change(outEntries: Seq[FlsManifest.Entry])(
        head: FlsManifest.Head): FlsManifest.Delta = {
      if (head.version != frozenV) {
        if (!head.exists) throw new IllegalStateException(
          s"fls absorb_deletes: $dir lost its manifest mid-absorb — aborting")
        // the predicate SET in force must be exactly the frozen one: a
        // predicate ADDED since the freeze applies to our outputs'
        // input rows (built without it, fresh bv exempts them); a
        // predicate REMOVED since — a concurrent ROLLBACK undoing the
        // delete — would be silently RE-APPLIED by our outputs (built
        // WITH its residual). Either direction aborts.
        if (head.eq.toSet != eq.toSet)
          throw new java.util.ConcurrentModificationException(
            s"fls absorb_deletes: the active predicate set changed under " +
              s"$dir after the absorb froze its inputs (concurrent " +
              "delete or rollback) — aborting; rerun")
        val cur = head.entries
        val gone = subjectRels.diff(cur.map(_.rel).toSet)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"fls absorb_deletes: a concurrent commit removed ${gone.size} " +
              s"input file(s) under $dir — aborting; rerun")
        if (cur.exists(e => subjectRels(e.rel) &&
            FlsFileStats.dvOf(e.stats) != frozenDv(e.rel)))
          throw new java.util.ConcurrentModificationException(
            s"fls absorb_deletes: a concurrent DELETE re-vectored an input " +
              s"file under $dir — aborting; rerun")
        // the drop proof: every retained old-bv entry must be one this
        // absorb proved (exempt) or rewrote — a concurrent ROLLBACK
        // could restore an entry the freeze never classified, and
        // dropping the predicates over it would resurrect rows.
        // (Concurrent appends/rewrites are safe: fresh birth versions >
        // maxPv put them out of scope.)
        cur.foreach { e =>
          if (FlsFileStats.birthOf(e.stats) <= maxPv &&
              !exemptRels(e.rel) && !subjectRels(e.rel))
            throw new java.util.ConcurrentModificationException(
              s"fls absorb_deletes: a concurrent commit (re)introduced " +
                s"'${e.rel}' inside the absorbed predicates' scope under " +
                s"$dir — aborting; rerun")
        }
      }
      FlsManifest.Delta(add = outEntries, removeRels = subjectRels)
    }
    if (subject.isEmpty) {
      FlsManifest.commit(fs, root, absorbId, conf, op = "absorb",
        dataChange = false, eqDropUpTo = maxPv)(change(Nil))
      return AbsorbStats(eq.length, 0,
        FlsManifest.read(fs, root).map(_.length).getOrElse(0), 0L)
    }
    val discovery = connector.FlsPartitioning.discover(
      Seq(dir), FlsManifest.statuses(fs, root, subject).map(_.getPath), conf)
    val keys = FlsTableMeta.read(fs, root).map(_._2.partitionBy)
      .filter(_.nonEmpty).getOrElse(discovery.keys)
    // pinned + subset: the residuals and DVs apply during this read,
    // so the outputs hold exactly the subject files' LIVE rows
    val df = spark.read.format("fls")
      .option("manifest_version", frozenV.toString)
      .option("file_subset", subjectRels.mkString(","))
      .load(dir)
    val rows = df.count()
    val tmpDir = new Path(root, s"_absorb_$absorbId") // _-prefixed: invisible
    var w = clustered(df, rows, keys, Nil, Nil, targetRowsPerFile)
      .write.format("fls").mode("overwrite")
      .option("write_distribution", "none")
    if (keys.nonEmpty) w = w.option("partition_by", keys.mkString(","))
    w = rotation(w, targetRowsPerFile, extraOptions)
    val moved = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    try {
      // rows == 0 still writes (a schema-only file): the swap must
      // leave the table readable even if every subject row was deleted
      w.save(tmpDir.toString)
      moved ++= connector.FlsCommit.publishDir(fs, root, tmpDir)
      val outEntries = moved.collect {
        case (rel, len) if rel.endsWith(".fls") =>
          FlsManifest.Entry(rel, len, 0L)
      }.toSeq
      FlsManifest.commit(fs, root, absorbId, conf, op = "absorb",
        dataChange = false, eqDropUpTo = maxPv)(change(outEntries))
    } catch {
      case t: Throwable =>
        moved.foreach { case (rel, _) =>
          try fs.delete(new Path(root, rel), false) catch { case _: Throwable => () }
        }
        try fs.delete(tmpDir, true) catch { case _: Throwable => () }
        throw t
    }
    // replaced inputs stay for vacuum, like compaction (pinned readers)
    try fs.delete(tmpDir, true) catch { case _: Throwable => () }
    AbsorbStats(eq.length, subject.length,
      FlsManifest.read(fs, root).map(_.length).getOrElse(0), rows)
  }

  final case class RollbackStats(fromVersion: Long, restoredVersion: Long,
      newVersion: Long, files: Int)

  /** Restore the table head to a RETAINED historical version's entry
    * set — the recovery move after a bad commit (wrong overwrite, buggy
    * MERGE). One metadata-only CAS republish: the target version's
    * entries become a NEW head version, so history is preserved (the
    * bad commit stays visible to `.history` / `VERSION AS OF` forensics)
    * and vacuum semantics are untouched — within the retention window
    * every retained version's data files AND delete-vector sidecars are
    * still vouched on disk ([[vacuum]] honors all retained versions), so
    * no data moves or rewrites happen. Past the window the target
    * manifest is gone and this refuses loudly: recovering then means a
    * rewrite from a backup, not a pointer flip. Refuses if the head
    * advanced mid-rollback (a racing commit would be silently undone). */
  def rollback(spark: SparkSession, dir: String, toVersion: Long): RollbackStats = {
    require(toVersion >= 0, s"fls rollback: version must be >= 0, got $toVersion")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val (headV, headEntries) = FlsManifest.readVersioned(fs, root).getOrElse(
      throw new IllegalArgumentException(
        s"fls rollback: $dir has no manifest — rollback needs a " +
          "commit_mode=manifest table"))
    require(toVersion <= headV,
      s"fls rollback: target version $toVersion is newer than the head v$headV")
    if (toVersion == headV)
      return RollbackStats(headV, toVersion, headV, headEntries.length)
    val target =
      try FlsManifest.readVersion(fs, root, toVersion)
      catch {
        case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
          s"fls rollback: version $toVersion of $dir is not retained — " +
            "rollback can only target the retention window (older state " +
            "needs a restore from backup / a rewrite, its files may be " +
            "vacuumed)")
      }
    val newV = FlsManifest.commit(fs, root,
      java.util.UUID.randomUUID().toString, conf, op = "rollback",
      // restore the equality-delete predicate set AS OF the target too:
      // rolling back past an eqdelete commit must resurrect its rows,
      // exactly like rolling back past a DV commit restores positions
      eqBase = Some(toVersion)) { head =>
      if (head.version != headV) throw new java.util.ConcurrentModificationException(
        s"fls rollback: the table advanced to v${head.version} while rolling back to " +
          s"v$toVersion (decision was made against head v$headV) — " +
          "re-inspect the new head and retry")
      FlsManifest.Delta.between(head.entries, target)
    }
    RollbackStats(headV, toVersion, newV, target.length)
  }

  final case class VacuumStats(deleted: Int, bytes: Long)

  /** Physically remove files a MANIFEST table does not vouch for —
    * losing speculative attempts and crashed manifest-mode jobs write
    * directly to attempt-unique final names, so their leftovers are
    * invisible to readers but accumulate on disk forever (nothing
    * sweeps them until a rename-mode write reverts the table). The
    * standard VACUUM contract: only files older than `olderThanHours`
    * are deleted, so an IN-FLIGHT writer's not-yet-published files
    * (always recent) are never touched; size the horizon beyond your
    * longest-running job. Also GCs orphaned `_temporary` staging trees
    * past the same horizon. Refuses listing-mode tables (every file on
    * disk is live there). */
  def vacuum(spark: SparkSession, dir: String,
      olderThanHours: Long = 24): VacuumStats = {
    require(olderThanHours >= 0, "fls vacuum: olderThanHours must be >= 0")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (FlsManifest.read(fs, root).isEmpty)
      throw new IllegalArgumentException(
        s"fls vacuum: $dir is a listing-mode table — every file on disk is " +
          "live; vacuum applies to manifest tables only")
    // Vouch for EVERY retained version's files, not just the newest:
    // retained versions are readable (VERSION AS OF / TIMESTAMP AS OF /
    // manifest_version pinned readers), so a vacuum that only honored
    // the head would tear historical snapshots out from under them.
    // Files fall to vacuum only once every version naming them has been
    // GC'd past the retention window.
    // every REF's retained versions vouch: tagged versions appear in
    // the main listing (GC skips them while the tag lives), and each
    // branch lineage vouches its own entry sets — a branch's
    // not-yet-published files must survive vacuum until fast_forward
    // or drop_branch decides their fate
    val retained = FlsManifest.versionsWithTimes(fs, root).map(_._1)
    val refRetained: Seq[(String, Long)] =
      (FlsManifest.MainRef +: FlsManifest.branches(fs, root)).flatMap(r =>
        FlsManifest.versionsWithTimes(fs, root, r).map(v => r -> v._1))
    val vouched = (refRetained.flatMap { case (r, v) =>
      try FlsManifest.readVersion(fs, root, v, r)
      catch { case _: java.io.FileNotFoundException => Nil } // GC race
    }.flatMap(e => // a version vouches its data file, its DV, its bloom
      e.rel +: (FlsFileStats.dvOf(e.stats).toSeq ++
          FlsFileStats.bfOf(e.stats).toSeq)
        .map(b => FlsDeleteVectors.relFor(e.rel, b))
    ) ++ retained.flatMap { v =>
      // merge-CDC commits also vouch their split sidecars (the
      // update-preimage / pure-delete position lists the change-data-
      // feed serves for that version) for as long as the version lives
      try FlsManifest.versionCdc(fs, root, v)
      catch { case _: java.io.FileNotFoundException => Nil }
    }.flatMap {
      case FlsManifest.CdcSplit(rel, pre, pure) =>
        (pre.toSeq ++ pure.toSeq).map(b => FlsDeleteVectors.relFor(rel, b))
      case _ => Nil
    }).toSet
    val cutoff = System.currentTimeMillis() - olderThanHours * 3600L * 1000L
    var deleted = 0
    var bytes = 0L
    FlsFile.walkFiles(fs, root, Seq(".fls", ".fls.footer",
        FlsDeleteVectors.Suffix, Bloom.Suffix)) { (s, rel) =>
      // a data file vouches its sidecar footer; DVs are vouched by
      // their own rel (attached per retained version above)
      val dataRel = if (rel.endsWith(".footer")) rel.stripSuffix(".footer") else rel
      if (!vouched.contains(dataRel) && s.getModificationTime < cutoff) {
        try {
          if (fs.delete(s.getPath, false)) { deleted += 1; bytes += s.getLen }
        } catch { case _: Throwable => () }
      }
    }
    connector.FlsCommit.sweepOrphans(fs, root, ownWriteId = "",
      ttlMs = olderThanHours * 3600L * 1000L)
    // manifest chunk pool: reap chunks no retained version of any ref
    // points at (crashed commits' leftovers, best-effort-GC misses) —
    // same horizon gate so in-flight commits' unpublished chunks survive
    FlsManifest.sweepOrphanChunks(fs, root,
      ttlMs = olderThanHours * 3600L * 1000L)
    VacuumStats(deleted, bytes)
  }

  /** Cluster the rewrite: partitioned tables group by partition key so
    * each task holds few open buckets (then cluster within by sortBy);
    * flat tables range-cluster on sortBy, or round-robin into exactly
    * nOut writer tasks. */
  private def clustered(df: DataFrame, rows: Long, keys: Seq[String],
      sortBy: Seq[String], zorderBy: Seq[String], targetRowsPerFile: Long): DataFrame = {
    val nOut = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile).toInt
    // zorderBy = the multi-dimensional form of sortBy clustering
    // (OPTIMIZE...ZORDER): rows sort by the Morton code of the listed
    // columns, so zone maps stay narrow in EVERY listed dimension. On a
    // partitioned table the curve applies WITHIN each partition dir
    // (cuts are still global — one quantile pass).
    val zval: Option[org.apache.spark.sql.Column] =
      if (zorderBy.isEmpty) None
      else {
        val buckets = 1024
        val probs = (1 until buckets).map(_.toDouble / buckets).toArray
        val castNames = zorderBy.map(c => s"__zq_$c")
        val cuts = df.select(zorderBy.zip(castNames).map { case (c, n) =>
            col(c).cast("double").as(n) }: _*)
          .stat.approxQuantile(castNames.toArray, probs, 0.001)
          .map(a => a.filter(d => !d.isNaN).distinct.sorted)
        Some(org.apache.spark.sql.graftexprs.ZValue.column(zorderBy.map(col), cuts.toSeq))
      }
    if (keys.nonEmpty) {
      val base = df.repartition(nOut, keys.map(col): _*)
      zval match {
        case Some(z) => base.sortWithinPartitions(keys.map(col) :+ z: _*)
        case None if sortBy.nonEmpty =>
          base.sortWithinPartitions((keys ++ sortBy).map(col): _*)
        case None => base
      }
    } else zval match {
      case Some(z) => df.repartitionByRange(nOut, z).sortWithinPartitions(z)
      case None if sortBy.nonEmpty =>
        df.repartitionByRange(nOut, sortBy.map(col): _*)
          .sortWithinPartitions(sortBy.map(col): _*)
      case None => df.repartition(nOut)
    }
  }

  /** Rotate files at ~targetRowsPerFile INSIDE each writer task too: a
    * partitioned rewrite routes a whole partition value to one task
    * (and flat rewrites can skew), so without rotation a hot partition
    * would collapse into one unbounded file — the opposite of the
    * contract. */
  private def rotation(w0: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row],
      targetRowsPerFile: Long,
      extraOptions: Map[String, String]): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val rowGroupSize = extraOptions.get("row_group_size")
      .map(_.toLong).getOrElse(Format.DefaultRowGroupSize.toLong)
    var w = w0.option("row_groups_per_file",
      math.max(1L, targetRowsPerFile / rowGroupSize).toString)
    extraOptions.foreach { case (k, v) => w = w.option(k, v) }
    w
  }
}
