package graft.fls.connector

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.fls.{FlsFile, FlsFileWriter, FlsFooters, FlsManifest, Format}

/** Whole-file verdict of a predicate conjunction (shared by DELETE,
  * INSERT OVERWRITE, and the row-level operations): Drop = every row
  * matches, Keep = none does, Straddle = mixed/unknown. */
private[connector] sealed trait FileVerdict
private[connector] object FileVerdict {
  case object Drop extends FileVerdict
  case object Keep extends FileVerdict
  case object Straddle extends FileVerdict
}

/** DELETE for fls tables (see [[FlsTable.canDeleteWhere]]) — metadata
  * decisions first, surgical copy-on-write second.
  *
  * Every live file is classified against the predicate conjunction:
  *   - `Drop`: every row matches — partition values decide it, or the
  *     file's zone maps prove it (negated-predicate pruning: all rows
  *     match `f` iff no row can match `¬f`). The file is removed whole;
  *     zero rows read. On a `cluster_by` table a retention predicate
  *     decides every file except the one straddling the cutoff.
  *   - `Keep`: no row matches (partition values, or plain zone-map
  *     pruning). Untouched.
  *   - `Straddle`: the file straddles the predicate. Only these files —
  *     typically one per clustered axis — are read and rewritten
  *     without the matching rows. O(straddling files), not O(table).
  *
  * Straddler rewrites run here for FLAT tables (no hive partition
  * columns: reading a bare file list loses path-encoded values);
  * partitioned tables route undecidable predicates to the row-level
  * operation path instead ([[FlsRowLevelOperation]] — canDeleteWhere
  * returns false and Spark plans a group-based rewrite). Listing mode
  * appends replacements before removing originals (a reader planning
  * in that window can see a transient duplicate — the sealed-table
  * caveat shared with listing-mode compaction). Manifest mode stages
  * replacements invisibly and publishes ONE CAS version: concurrent
  * appends are re-classified inside the merge, an undecidable newcomer
  * aborts with nothing changed, and dropped/rewritten files stay on
  * disk for `vacuum` (pinned snapshot readers survive). */
object FlsDelete {
  import FileVerdict.{Drop, Keep, Straddle}
  private type D = FileVerdict

  private def tablePath(options: CaseInsensitiveStringMap): String =
    FlsDataSource.parsePaths(options).headOption.getOrElse(
      throw new IllegalArgumentException("fls delete: no path"))

  private def hconf(session: org.apache.spark.sql.SparkSession): Configuration =
    session.sessionState.newHadoopConf()

  /** Filter negation over the shapes zone maps understand. Sound on
    * this format because stored columns hold no NULLs (two-valued
    * logic per row). */
  private def neg(f: Filter): Option[Filter] = f match {
    case EqualTo(c, v) => Some(Or(LessThan(c, v), GreaterThan(c, v)))
    case EqualNullSafe(c, v) => neg(EqualTo(c, v))
    case GreaterThan(c, v) => Some(LessThanOrEqual(c, v))
    case GreaterThanOrEqual(c, v) => Some(LessThan(c, v))
    case LessThan(c, v) => Some(GreaterThanOrEqual(c, v))
    case LessThanOrEqual(c, v) => Some(GreaterThan(c, v))
    case In(c, vs) =>
      vs.foldLeft(Option(AlwaysTrue().asInstanceOf[Filter])) { (acc, v) =>
        acc.map(a => And(a, Or(LessThan(c, v), GreaterThan(c, v))))
      }
    case IsNull(c) => Some(IsNotNull(c))
    case IsNotNull(c) => Some(IsNull(c))
    case And(l, r) => for { a <- neg(l); b <- neg(r) } yield Or(a, b)
    case Or(l, r) => for { a <- neg(l); b <- neg(r) } yield And(a, b)
    case Not(x) => Some(x)
    case _ => None
  }

  /** Whole-file zone-map verdict for ONE conjunct: Some(true) = every
    * row matches, Some(false) = none does, None = straddles/unknown. */
  private def zoneVerdict(t: Format.TableDesc, f: Filter): Option[Boolean] = {
    if (t.rowGroups.isEmpty) return Some(false) // zero rows: nothing matches
    val cols = t.columns
    val idx = cols.zipWithIndex.map { case (c, i) => c.name -> i }.toMap
    if (t.rowGroups.forall(rg => !FlsZoneMap.mayMatch(rg, idx, cols, Array(f), 0L)))
      return Some(false)
    neg(f) match {
      case Some(nf) if t.rowGroups.forall(rg =>
        !FlsZoneMap.mayMatch(rg, idx, cols, Array(nf), 0L)) => Some(true)
      case _ => None
    }
  }

  /** Classify every file against the conjunction, loading footers via
    * the session cache. Shared with INSERT OVERWRITE. */
  private[connector] def verdicts(schema: StructType, path: String,
      manifestVersion: Option[Long], filters: Array[Filter], files: Seq[Path],
      conf: Configuration): Map[String, FileVerdict] = {
    val footers = FlsFooters.list(Seq(path), conf, manifestVersion)
      .map(e => e.file.toString -> Format.applyRenames(e.table, schema)).toMap
    classify(schema, path, filters, files, footers, conf)
  }

  /** Classify every file. `footers` must cover all of `files`. */
  private def classify(schema: StructType, path: String, filters: Array[Filter],
      files: Seq[Path], footers: Map[String, Format.TableDesc],
      conf: Configuration): Map[String, D] = {
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.exists(_.isInstanceOf[AlwaysFalse]))
      return files.map(_.toString -> (Keep: D)).toMap
    if (real.isEmpty) return files.map(_.toString -> (Drop: D)).toMap
    if (files.isEmpty) return Map.empty
    val disc = FlsPartitioning.discover(Seq(path), files, conf)
    val types = disc.partTypes(schema)
    files.map { f =>
      val key = f.toString
      val verdicts = real.map { fl =>
        disc.byFile.get(key)
          .flatMap(raw => FlsPartitioning.evaluates(fl, types, disc.keys, raw))
          .orElse(footers.get(key).flatMap(t => zoneVerdict(t, fl)))
      }
      key -> {
        if (verdicts.exists(_.contains(false))) Keep: D
        else if (verdicts.forall(_.contains(true))) Drop: D
        else Straddle: D
      }
    }.toMap
  }

  /** v1 Filter → Column, for the copy-on-write residual. */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(x) => toColumn(x).map(!_)
    case _ => None
  }

  private case class Plan(cls: Map[String, D], partitioned: Boolean,
      survivors: Column, matches: Column)

  /** `delete_mode` table property / write option: `merge-on-read`
    * turns straddling-file deletes into delete-vector commits
    * ([[graft.fls.FlsDeleteVectors]]) instead of copy-on-write
    * rewrites — O(deleted rows) new bytes, the right trade for
    * GDPR-style point deletes scattered across a huge table. Requires
    * a manifest table (the DV pointer lives in the manifest's
    * per-file metadata). Decided files still take the zero-read
    * metadata path in both modes. */
  private[connector] def deleteMode(options: CaseInsensitiveStringMap): String = {
    val m = Option(options.get("delete_mode")).getOrElse("copy-on-write")
    require(m == "copy-on-write" || m == "merge-on-read" || m == "equality",
      "fls: delete_mode must be 'copy-on-write', 'merge-on-read', or " +
        s"'equality', got '$m'")
    m
  }

  private[connector] def morEnabled(options: CaseInsensitiveStringMap): Boolean =
    deleteMode(options) == "merge-on-read"

  /** `delete_mode=equality`: a supported-shape DELETE (a conjunction
    * of `=` / `IN` / range conjuncts over distinct non-partition scalar
    * columns — the composite GDPR key AND the retention shape
    * `ts < cutoff`, [[graft.fls.FlsEqDeletes]])
    * commits the PREDICATE itself as an `#eqdel` manifest line —
    * O(1) data reads regardless of how many files the key straddles;
    * readers apply it as a decode-time residual until rewrites absorb
    * it. Unsupported shapes fall back to the decide/rewrite ladder
    * below, exactly as in copy-on-write mode. */
  private def eqDelete(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Array[Filter], files: Seq[Path], manifest: Boolean,
      conf: Configuration,
      /** the already-derived predicate shape, when the caller computed
        * it for routing — fromFilters re-parses/converts/intersects
        * the whole conjunction, once per DELETE is enough */
      shape: Option[Option[graft.fls.FlsEqDeletes.EqDelete]] = None,
      /** the manifest entries' stats JSONs — the DECIMAL-leg scale
        * check reads per-file stored scales from them (r17) */
      entryStats: Seq[String] = Nil)
      : Option[graft.fls.FlsEqDeletes.EqDelete] = {
    if (deleteMode(options) != "equality" || !manifest) return None
    if (FlsDataSource.branchRef(options) != FlsManifest.MainRef) return None
    shape.getOrElse(graft.fls.FlsEqDeletes.fromFilters(filters, schema))
      .filterNot { p =>
      // a partition column lives in the PATH, not the data — the
      // residual would decode nothing; the partition-decided metadata
      // path below handles those with zero reads anyway
      val partCols = FlsPartitioning
        .discover(Seq(tablePath(options)), files, conf).keys
      p.legs.exists(l => partCols.contains(l.col))
    }.filter { p =>
      // DECIMAL legs compare unscaled longs at the TABLE schema's
      // scale: commit the predicate only when every file VERIFIABLY
      // stores the column at that scale (manifest stats descs carry
      // per-file (p,s); rename history applied so pre-RENAME
      // generations verify too). A stats-less entry or a genuinely
      // mixed-scale legacy file refuses — the DELETE then takes the
      // CoW/MOR ladder, exact as ever. Absent columns are fine:
      // all-NULL storage never matches a literal.
      val scaled = p.legs.filter(_.scale >= 0)
      scaled.isEmpty || {
        val renameSchema =
          if (schema.fields.exists(f =>
              graft.fls.Format.previousNames(f).nonEmpty)) Some(schema)
          else None
        entryStats.nonEmpty && entryStats.forall { sj =>
          graft.fls.FlsFileStats.toDesc(sj)
            .map(d => renameSchema.fold(d)(s =>
              graft.fls.Format.applyRenames(d, s))) match {
            case None => false // stats-less entry: cannot verify
            case Some(d) => scaled.forall { l =>
              val idx = d.columns.indexWhere(_.name == l.col)
              idx < 0 || graft.fls.FlsEqDeletes.domainOk(l,
                d.columns(idx).colType)
            }
          }
        }
      }
    }
  }

  private def plan(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Array[Filter], files: Seq[Path],
      conf: Configuration, mor: Boolean = false,
      activeEq: Boolean = false): Option[Plan] = {
    val path = tablePath(options)
    val cls = verdicts(schema, path, FlsDataSource.manifestVersion(options),
      filters, files, conf)
    val partitioned =
      FlsPartitioning.discover(Seq(path), files, conf).keys.nonEmpty
    val needRewrite = cls.valuesIterator.contains(Straddle)
    // ACTIVE equality deletes gate every path that touches row data
    // here: the straddler rewrite and the MOR position scan both read
    // RAW file paths, which bypasses the manifest's residual injection
    // — a rewrite would RESURRECT eq-deleted rows, and MOR positions
    // would re-mark them. Fall back to the row-level operation (it
    // scans THROUGH the table, residual applied). Decided files
    // (drop/keep whole) stay metadata-only: supersets are conservative.
    if (needRewrite && activeEq) return None
    // a DV commit never rewrites, so path-encoded values are safe —
    // partitioned tables take MOR deletes stock Spark's row-level path
    // would otherwise serve
    if (needRewrite && partitioned && !mor) return None
    val matches: Column =
      if (!needRewrite) lit(false)
      else {
        val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
        val pred = real.flatMap(toColumn).reduceOption(_ && _)
        real.foreach { f =>
          if (toColumn(f).isEmpty) return None // cannot express the residual
        }
        coalesce(pred.getOrElse(lit(true)), lit(false))
      }
    Some(Plan(cls, partitioned, not(matches), matches))
  }

  def canDelete(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Array[Filter],
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): Boolean = {
    val conf = hconf(session)
    val root = new Path(tablePath(options))
    val fs = root.getFileSystem(conf)
    // contradictory range bounds: the DELETE provably matches no row
    if (graft.fls.FlsEqDeletes.provablyEmpty(filters, schema)) return true
    // the chunk-pruned leg decides from pointer-line value stats plus
    // the intersecting chunks only — when it applies, answer WITHOUT
    // resolving the full manifest (the whole point of the leg)
    if (valuePrunedPlan(schema, options, filters, root, fs, conf).isDefined)
      return true
    val manifest = FlsManifest.readVersioned(fs, root)
    val files = manifest match {
      case Some((_, entries)) => entries.map(e => new Path(root, e.rel))
      case None => FlsFile.listDataFiles(root, conf)
    }
    val activeEq = manifest.isDefined &&
      FlsManifest.versionEq(fs, root, manifest.get._1).nonEmpty
    eqDelete(schema, options, filters, files, manifest.isDefined, conf,
        entryStats = manifest.map(_._2.map(_.stats)).getOrElse(Nil)).isDefined ||
      plan(schema, options, filters, files, conf,
        mor = morEnabled(options) && manifest.isDefined,
        activeEq = activeEq).isDefined
  }

  /** Plan the chunk-pruned decided-whole-file DELETE: None = not
    * applicable (caller runs the normal ladder); Some((frozenV,
    * dropRels)) = applies, possibly with zero drops (the predicate
    * provably matches nothing). Reads the head's POINTER LINES plus
    * only the chunks whose recorded value range intersects the
    * predicate — never the whole manifest, never a footer. Sound
    * under delete vectors and active equality predicates: manifest
    * stats describe a SUPERSET of a file's live rows, so "every row
    * in range matches" still implies every LIVE row matches. */
  private def valuePrunedPlan(schema: StructType,
      options: CaseInsensitiveStringMap, filters: Array[Filter],
      root: Path, fs: org.apache.hadoop.fs.FileSystem,
      conf: Configuration): Option[(Long, Set[String])] = {
    if (FlsDataSource.branchRef(options) != FlsManifest.MainRef) return None
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) return None // truncate: normal path
    val cur = FlsManifest.readLayoutVersioned(fs, root, resolveChunks = false)
    if (cur.isEmpty) return None
    val (frozenV, layout) = cur.get
    val pointers = layout.pointers
    if (pointers.isEmpty || pointers.exists(pt => !pt.ranged || pt.stats == null))
      return None // inline/legacy, or no recorded chunk value stats
    val (open, skip) = pointers.partition(pt =>
      graft.fls.FlsFileStats.mayMatch(pt.stats, real, schema, Set.empty))
    if (skip.isEmpty) return None // nothing prunable — same cost as the ladder
    val cand = layout.entries ++
      open.flatMap(pt => FlsManifest.readChunkEntries(fs, root, pt))
    if (cand.isEmpty) return Some((frozenV, Set.empty)) // matches nothing
    val files = cand.map(e => new Path(root, e.rel))
    // classify candidates from their MANIFEST stats alone (synthetic
    // one-row-group descs through the same zone evaluator) — zero
    // footer reads; a file without stats classifies Straddle and
    // sends the whole delete to the ladder
    val footers: Map[String, Format.TableDesc] = cand.flatMap { e =>
      graft.fls.FlsFileStats.toDesc(e.stats).map(t =>
        new Path(root, e.rel).toString -> Format.applyRenames(t, schema))
    }.toMap
    val cls = classify(schema, root.toString, filters, files, footers, conf)
    if (cls.valuesIterator.contains(Straddle)) return None
    Some((frozenV, cand.collect {
      case e if cls(new Path(root, e.rel).toString) == Drop => e.rel
    }.toSet))
  }

  /** Execute [[valuePrunedPlan]]: True = handled (a version committed,
    * or a provable no-op). False = not applicable. */
  private def valuePrunedDelete(schema: StructType,
      options: CaseInsensitiveStringMap, filters: Array[Filter],
      root: Path, fs: org.apache.hadoop.fs.FileSystem,
      conf: Configuration): Boolean = {
    val planned = valuePrunedPlan(schema, options, filters, root, fs, conf)
    if (planned.isEmpty) return false
    val (frozenV, dropRels) = planned.get
    if (dropRels.isEmpty) return true // decided whole: nothing matches
    FlsManifest.commit(fs, root, UUID.randomUUID().toString, conf,
        op = "delete") { head =>
      if (head.version != frozenV)
        throw new java.util.ConcurrentModificationException(
          "fls delete: the table advanced during a chunk-pruned delete " +
            s"(planned against v$frozenV, head is v${head.version}) — rerun the delete")
      FlsManifest.Delta(removeRels = dropRels)
    }
    true
  }

  def delete(schema: StructType, options: CaseInsensitiveStringMap,
      filters: Array[Filter],
      session: org.apache.spark.sql.SparkSession =
        org.apache.spark.sql.SparkSession.active): Unit = {
    val conf = hconf(session)
    val path = tablePath(options)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val spark = session

    def dataFields(files: Seq[Path]) = {
      val disc = FlsPartitioning.discover(Seq(path), files, conf)
      schema.fields.filterNot(f => disc.keys.contains(f.name)).toSeq
    }

    /** The rewrite scans must read raw file paths under the TABLE's
      * declared data schema, not the files' own union bind: a predicate
      * on a column ADDED after a target file was written (nullable →
      * NULL, or DEFAULT → the frozen exists-default) would otherwise
      * fail to resolve against the file-derived schema. `withVirtuals`
      * appends the row-identity columns the DV paths project (explicit
      * schemas bypass inferSchema, where options normally add them). */
    def readSchema(files: Seq[Path], withVirtuals: Boolean): StructType = {
      val base = dataFields(files)
      StructType(
        if (!withVirtuals) base
        else base :+
          StructField(FlsVirtual.RowNumber, LongType, nullable = false) :+
          StructField(FlsVirtual.FileIndex, LongType, nullable = false))
    }

    /** Fills a fresh stage directory, moves its files to table-root
      * names, then drops the directory. */
    def publishFrom(fill: Path => Unit): Seq[(String, Long)] = {
      val stageDir = new Path(root, s"_delete_${UUID.randomUUID()}")
      try {
        fill(stageDir)
        FlsCommit.publishDir(fs, root, stageDir)
      } finally try fs.delete(stageDir, true) catch { case _: Throwable => () }
    }

    /** Schema-only file so an emptied table still reads (same contract
      * as an empty write), staged and published like every other file. */
    def writeSchemaOnly(files: Seq[Path]): FlsManifest.Entry = {
      val (rel, len) = publishFrom { d =>
        new FlsFileWriter(new Path(d, f"part-${0}%05d-${UUID.randomUUID()}-${0}%04d.fls"),
          conf, Format.physicalColumns(dataFields(files)), inlineFooter = true).close()
      }.head
      FlsManifest.Entry(rel, len, 0L)
    }

    /** Rewrite `targets` without the matching rows into `outDir`,
      * preserving writer-visible schema. `dvOf` maps an input file's
      * absolute path to its delete-vector's absolute path: a direct
      * file-path read bypasses the manifest metadata, so an already-
      * DV'd straddler must have its dead positions anti-joined out
      * here or the rewrite would RESURRECT them. */
    def rewriteTo(targets: Seq[Path], survivors: Column, outDir: Path,
        dvOf: Map[String, String] = Map.empty): Unit = {
      val live =
        if (!targets.exists(t => dvOf.contains(t.toString)))
          spark.read.format("fls")
            .schema(readSchema(targets, withVirtuals = false))
            .load(targets.map(_.toString): _*)
            .filter(survivors)
        else {
          val df = spark.read.format("fls")
            .option("file_row_number", "true").option("file_index", "true")
            .schema(readSchema(targets, withVirtuals = true))
            .load(targets.map(_.toString): _*)
          val deadRows = targets.zipWithIndex.flatMap { case (t, i) =>
            dvOf.get(t.toString).toSeq.flatMap(dv =>
              graft.fls.FlsDeleteVectors.readAbsolute(dv, conf)
                .map(pos => (i.toLong, pos)))
          }
          val dead = spark.createDataFrame(deadRows).toDF("__fi", "__fp")
          df.join(org.apache.spark.sql.functions.broadcast(dead),
              df("file_index") === dead("__fi") &&
                df("file_row_number") === dead("__fp"), "left_anti")
            .drop("file_index", "file_row_number")
            .filter(survivors)
        }
      live.write.format("fls").mode("overwrite")
        .option("write_distribution", "none")
        .save(outDir.toString)
    }

    /** Absolute DV path of a manifest entry, if it carries one. */
    def dvAbs(e: FlsManifest.Entry): Option[String] =
      graft.fls.FlsFileStats.dvOf(e.stats).map(b =>
        new Path(root, graft.fls.FlsDeleteVectors.relFor(e.rel, b)).toString)

    // ---- value-pruned decided-whole-file leg (r16): on a CHUNKED
    // manifest whose pointer lines carry cluster-key value ranges
    // (TBLPROPERTIES manifest_chunk_stats), a key-range DELETE plans
    // from the intersecting chunks ONLY — non-intersecting chunks stay
    // unopened through planning AND the commit (which carries their
    // pointers verbatim), so `DELETE WHERE ts < cutoff` on a
    // million-file clustered table reads O(matching chunks) of
    // metadata, not the whole manifest. Applies when every candidate
    // decides whole from its manifest stats / partition values; a
    // straddler or a missing-stats file falls back to the ladder below
    // (its rewrite reads data — O(metadata) stops mattering).
    // A contradictory range conjunction (`id > 50 AND id < 51`)
    // matches no row in ANY mode: constant-fold the DELETE to a no-op
    // — no commit, no rewrite, no version advance.
    if (graft.fls.FlsEqDeletes.provablyEmpty(filters, schema)) return

    // Routing vs the predicate leg: PURE-equality shapes on
    // delete_mode=equality tables keep their own O(1) leg (point keys
    // almost never decide whole files; one #eqdel line beats even
    // this). Range-carrying shapes (the retention cutoff) try the
    // value-pruned leg FIRST — on a clustered table it physically
    // drops the decided files (space reclaimed, no residual read tax)
    // while still reading only the intersecting chunks; only when the
    // cutoff straddles (or the table has no chunk stats) does the
    // predicate line take over below.
    val predShape = graft.fls.FlsEqDeletes.fromFilters(filters, schema)
    val pureEqShape = deleteMode(options) == "equality" &&
      predShape.exists(_.legs.forall(
        _.isInstanceOf[graft.fls.FlsEqDeletes.InLeg]))
    if (!pureEqShape &&
        valuePrunedDelete(schema, options, filters, root, fs, conf))
      return

    FlsManifest.readVersioned(fs, root) match {
      case Some((frozenV, frozenEntries)) =>
        val frozenFiles = frozenEntries.map(e => new Path(root, e.rel))
        // equality mode, supported shape: commit the PREDICATE — one
        // manifest line, zero data reads, whatever the key straddles
        eqDelete(schema, options, filters, frozenFiles, manifest = true,
            conf, shape = Some(predShape),
            entryStats = frozenEntries.map(_.stats)).foreach { pred =>
          // metadata-only commit: an EMPTY delta — on a chunked table
          // this opens ZERO chunks (pointer lines carried verbatim),
          // so the GDPR-shape delete is O(1) in both data AND metadata
          FlsManifest.commit(fs, root, UUID.randomUUID().toString,
              conf, op = "eqdelete", eqAdd = Seq(pred.json)) { head =>
            if (!head.exists) throw new IllegalStateException(
              s"fls delete: manifest of $root vanished mid-delete")
            FlsManifest.Delta()
          }
          return
        }
        val mor = morEnabled(options)
        val activeEq = FlsManifest.versionEq(fs, root, frozenV).nonEmpty
        val p0 = plan(schema, options, filters, frozenFiles, conf, mor,
          activeEq).getOrElse(
          throw new IllegalStateException(
            "fls delete: predicate not decidable per file (and the table is " +
              "partitioned, so a row-level rewrite would lose path values)"))
        val rewriteTargets = frozenFiles.filter(f => p0.cls(f.toString) == Straddle)

        if (mor && rewriteTargets.nonEmpty) {
          // ---- merge-on-read: straddlers take DELETE VECTORS, no
          // rewrites. Decided files still drop/keep whole (below, in
          // the same CAS). O(deleted rows) new bytes — the GDPR shape.
          //
          // Sidecars are written TASK-SIDE: matched (file, position)
          // rows repartition by file so each task owns whole files,
          // merges the file's frozen old DV, and writes the new sidecar
          // under an attempt-unique name (writeId + task attempt —
          // speculative twins never collide; a losing attempt's file is
          // unvouched junk vacuum reclaims). The driver hauls back ONE
          // row per touched FILE, never per deleted row, so a
          // million-file-wide delete costs the driver O(files) — the
          // old design collect()ed every position and needed a 4M cap.
          val writeId = UUID.randomUUID().toString
          val matchedDf = spark.read.format("fls")
            .option("file_row_number", "true").option("file_index", "true")
            .schema(readSchema(rewriteTargets, withVirtuals = true))
            .load(rewriteTargets.map(_.toString): _*)
            .filter(p0.matches)
            .select(col(FlsVirtual.FileIndex).cast("int").as("fi"),
              col(FlsVirtual.RowNumber).as("fp"))
          // optional explicit guard (unlimited by default now that the
          // haul is distributed): a pipeline can still pin a width past
          // which a delete must be re-routed at copy-on-write
          val cap = options.getLong("merge_on_read_max_rows", -1L)
          if (cap >= 0) {
            val n = matchedDf.count()
            require(n <= cap,
              s"fls delete: merge-on-read would record $n deleted " +
                s"positions (> merge_on_read_max_rows=$cap) — a delete this " +
                "wide should run in copy-on-write mode (the default), or " +
                "raise the option and schedule compaction")
          }
          val entryByIdx: Map[Int, FlsManifest.Entry] =
            rewriteTargets.zipWithIndex.map { case (t, i) =>
              i -> frozenEntries.find(en =>
                new Path(root, en.rel).toString == t.toString).get
            }.toMap
          val relByIdx: Map[Int, String] = entryByIdx.map { case (i, e) => i -> e.rel }
          val oldDvByIdx: Map[Int, String] =
            entryByIdx.flatMap { case (i, e) => dvAbs(e).map(i -> _) }
          val rootStr = root.toString
          val hconfSer = new org.apache.spark.util.SerializableConfiguration(conf)
          val sp = spark
          import sp.implicits._
          val dvRows: Array[(Int, String)] = matchedDf
            .as[(Int, Long)]
            .repartition(col("fi"))
            .sortWithinPartitions(col("fi"), col("fp"))
            .mapPartitions { it =>
              val tconf = hconfSer.value
              val rootP = new Path(rootStr)
              val tfs = rootP.getFileSystem(tconf)
              val attempt = Option(org.apache.spark.TaskContext.get())
                .map(_.taskAttemptId()).getOrElse(0L)
              val out = scala.collection.mutable.ArrayBuffer[(Int, String)]()
              var curIdx = -1
              val buf = scala.collection.mutable.ArrayBuffer[Long]()
              def flush(): Unit = if (curIdx >= 0 && buf.nonEmpty) {
                val rel = relByIdx(curIdx)
                val old = oldDvByIdx.get(curIdx)
                  .map(a => graft.fls.FlsDeleteVectors.readAbsolute(a, tconf))
                  .getOrElse(Array.empty[Long])
                val dvRel = graft.fls.FlsDeleteVectors.write(tfs, rootP, rel,
                  s"$writeId-a$attempt", old ++ buf)
                out += ((curIdx, new Path(dvRel).getName))
                buf.clear()
              }
              it.foreach { case (fi, fp) =>
                if (fi != curIdx) { flush(); curIdx = fi }
                buf += fp
              }
              flush()
              out.iterator
            }.collect()
          val written = scala.collection.mutable.ArrayBuffer[String]()
          val dvBaseByRel: Map[String, String] = dvRows.map { case (i, base) =>
            val rel = relByIdx(i)
            written += graft.fls.FlsDeleteVectors.relFor(rel, base)
            rel -> base
          }.toMap
          try {
            FlsManifest.commit(fs, root, writeId, conf, op = "delete") { head =>
              val entries = head.entries
              val files = entries.map(e => new Path(root, e.rel))
              // positions were computed from a raw read (no residual;
              // plan() already required zero ACTIVE predicates at the
              // freeze for this leg): an equality delete that landed
              // SINCE the freeze would have its rows re-marked by our
              // DV — refuse, loudly, and rerun against the new state.
              // (A predicate RESTORED by a concurrent rollback needs no
              // abort here, unlike the rewrite legs: DVs only ADD dead
              // positions for rows this DELETE matched — the restored
              // predicate applies independently and the union is the
              // correct combined state.)
              if (head.eq.exists(graft.fls.FlsEqDeletes.versionOf(_) > frozenV))
                throw new java.util.ConcurrentModificationException(
                  "fls delete: an equality delete committed concurrently — " +
                    "rerun the delete")
              val pNow = plan(schema, options, filters, files, conf,
                mor = true).getOrElse(
                throw new IllegalStateException(
                  "fls delete: a concurrently-added file is not decided by " +
                    "the predicate — aborting with nothing removed"))
              if (files.exists(f => pNow.cls(f.toString) == Straddle &&
                  !rewriteTargets.exists(_.toString == f.toString)))
                throw new IllegalStateException(
                  "fls delete: a concurrently-added file straddles the " +
                    "predicate — rerun the delete")
              // our merged DVs were built from the FROZEN pointers: a
              // concurrent delete that re-vectored a target in between
              // would have its positions silently dropped by ours
              val frozenDvByRel = frozenEntries.map(e =>
                e.rel -> graft.fls.FlsFileStats.dvOf(e.stats)).toMap
              entries.foreach { e =>
                if (dvBaseByRel.contains(e.rel) &&
                    frozenDvByRel.get(e.rel).exists(
                      _ != graft.fls.FlsFileStats.dvOf(e.stats)))
                  throw new IllegalStateException(
                    "fls delete: a concurrent DELETE re-vectored " +
                      s"${e.rel} — rerun the delete")
              }
              val merged = entries.flatMap { e =>
                pNow.cls(new Path(root, e.rel).toString) match {
                  case Drop => None // file stays on disk for vacuum
                  case Keep => Some(e)
                  case Straddle => Some(dvBaseByRel.get(e.rel) match {
                    case Some(base) =>
                      e.copy(stats = graft.fls.FlsFileStats.withDv(e.stats, base))
                    case None => e // straddler with zero matching rows
                  })
                }
              }
              FlsManifest.Delta.between(entries,
                if (merged.nonEmpty) merged else Seq(writeSchemaOnly(files)))
            }
          } catch {
            case e: Throwable =>
              written.foreach(r =>
                try fs.delete(new Path(root, r), false)
                catch { case _: Throwable => () })
              throw e
          }
          return
        }
        // ---- copy-on-write: stage replacement files invisibly, then
        // publish ONE version
        val staged =
          if (rewriteTargets.isEmpty) Nil
          else {
            val dvOf = frozenEntries.flatMap(e =>
              dvAbs(e).map(a => new Path(root, e.rel).toString -> a)).toMap
            publishFrom(rewriteTo(rewriteTargets, p0.survivors, _, dvOf))
          }
        try {
          FlsManifest.commit(fs, root, UUID.randomUUID().toString, conf,
              op = "delete") { head =>
            val entries = head.entries
            val files = entries.map(e => new Path(root, e.rel))
            // replacements were built from a raw read (no residual;
            // this leg only rewrites when no predicate was active at
            // the freeze): ANY predicate active at publish — committed
            // since the freeze, OR restored by a concurrent rollback
            // with an old commit version — would be silently undone by
            // publishing them (fresh birth versions exempt the
            // outputs). Refuse and rerun. Decided-only deletes (no
            // staged rewrites) stay safe under any predicate:
            // drop/keep whole are superset-conservative.
            if (rewriteTargets.nonEmpty && head.eq.nonEmpty)
              throw new java.util.ConcurrentModificationException(
                "fls delete: an equality delete committed concurrently — " +
                  "rerun the delete")
            // re-classify the CURRENT set: a concurrent append since the
            // freeze must also be decided, or nothing changes
            val pNow = plan(schema, options, filters, files, conf).getOrElse(
              throw new IllegalStateException(
                "fls delete: a concurrently-added file is not decided by the " +
                  "predicate — aborting with nothing removed"))
            val newcomersNeedRewrite = files.exists(f =>
              pNow.cls(f.toString) == Straddle &&
                !rewriteTargets.exists(_.toString == f.toString))
            if (newcomersNeedRewrite)
              throw new IllegalStateException(
                "fls delete: a concurrently-added file straddles the predicate " +
                  "— rerun the delete")
            // replacements were built from the FROZEN delete vectors:
            // a concurrent merge-on-read DELETE that re-vectored a
            // rewrite target in between would be silently undone
            val frozenDvByRel = frozenEntries.map(e =>
              e.rel -> graft.fls.FlsFileStats.dvOf(e.stats)).toMap
            entries.foreach { e =>
              if (rewriteTargets.exists(_.toString == new Path(root, e.rel).toString) &&
                  frozenDvByRel.get(e.rel).exists(
                    _ != graft.fls.FlsFileStats.dvOf(e.stats)))
                throw new IllegalStateException(
                  "fls delete: a concurrent DELETE re-vectored " +
                    s"${e.rel} mid-rewrite — rerun the delete")
            }
            val kept = entries.filter { e =>
              pNow.cls(new Path(root, e.rel).toString) == Keep
            }
            val merged = kept ++ staged.collect { case (rel, len) if rel.endsWith(".fls") =>
              FlsManifest.Entry(rel, len, 0L)
            }
            // dropped/rewritten inputs stay on disk for vacuum
            FlsManifest.Delta.between(entries,
              if (merged.nonEmpty) merged else Seq(writeSchemaOnly(files)))
          }
        } catch {
          case e: Throwable =>
            // unpublished replacements are junk; vacuum or best-effort now
            staged.foreach { case (rel, _) =>
              try fs.delete(new Path(root, rel), false) catch { case _: Throwable => () }
            }
            throw e
        }

      case None =>
        val files = FlsFile.listDataFiles(root, conf)
        val p0 = plan(schema, options, filters, files, conf).getOrElse(
          throw new IllegalStateException(
            "fls delete: predicate not decidable per file (and the table is " +
              "partitioned, so a row-level rewrite would lose path values)"))
        val doomed = files.filter(f => p0.cls(f.toString) == Drop)
        val rewriteTargets = files.filter(f => p0.cls(f.toString) == Straddle)
        // replacements land (as a normal append) BEFORE originals go
        if (rewriteTargets.nonEmpty)
          publishFrom(rewriteTo(rewriteTargets, p0.survivors, _))
        val removals = doomed ++ rewriteTargets
        if (removals.size == files.size &&
            FlsFile.listDataFiles(root, conf).size == removals.size)
          writeSchemaOnly(files)
        removals.foreach { f =>
          fs.delete(f, false)
          val sidecar = FlsFile.footerPath(f)
          try { if (fs.exists(sidecar)) fs.delete(sidecar, false) }
          catch { case _: Throwable => () }
        }
        // sweep now-empty partition directories bottom-up (best effort)
        removals.map(_.getParent).distinct.foreach { d =>
          var p = d
          var hops = 0
          while (p != null && p != root && hops < 16 &&
              (try fs.listStatus(p).isEmpty catch { case _: Throwable => false })) {
            try { if (!fs.delete(p, false)) hops = 16 }
            catch { case _: Throwable => hops = 16 }
            p = p.getParent
            hops += 1
          }
        }
    }
  }
}
