package graft.fls.connector

import java.util.{OptionalLong, UUID}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.fls._
import graft.fls.Format._

/** DataSource V2 connector for the `.fls`-analog columnar format —
  * the Spark-native re-expression of the reference's two entry points
  * (SURVEY.md §0): the `read_fls` table function
  * (/root/reference/src/read_fls.cpp:32-46) becomes this provider's
  * scan; `COPY TO (FORMAT fls)` (/root/reference/src/write_fls.cpp:8-29)
  * becomes its write.
  *
  * Usage:
  * {{{
  *   df.write.format("fls").mode("overwrite")
  *     .option("row_group_size", 65536).save(dir)
  *   spark.read.format("fls").load(dir)
  * }}}
  *
  * Scale model: one InputPartition per (file, row group) — the same
  * parallelism unit the reference uses one thread per row group for
  * (/root/reference/src/reader/fls_multi_file_info.cpp:99-110) — so a
  * 1000-executor cluster schedules row groups exactly like any parquet
  * scan. Row-group descriptors are serialized INTO the partition, so
  * executors never re-read footers (SURVEY.md §7.4).
  */
class FlsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fls"
  override def supportsExternalMetadata(): Boolean = true

  private def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = FlsDataSource.parsePaths(options)
    require(paths.nonEmpty, "fls: no path specified")
    val conf = hadoopConf
    // A table-metadata log ([[FlsTableMeta]], written by FlsCatalog
    // CREATE/ALTER) is AUTHORITATIVE when present: a path read of an
    // evolved table must see the declared schema (added columns, widened
    // types, renames), not whatever one footer happens to store —
    // inference cannot know about a column every existing file predates.
    if (paths.length == 1) {
      val p = new Path(paths.head)
      val metaOpt = scala.util.Try(
        FlsTableMeta.read(p.getFileSystem(conf), p)).toOption.flatten
      metaOpt.foreach { case (_, meta) => return withVirtuals(meta.schema, options) }
    }
    val listed = FlsFooters.listStatuses(paths, conf,
      FlsDataSource.manifestVersion(options), FlsDataSource.branchRef(options))
    require(listed.nonEmpty, s"fls: no .fls files under ${paths.mkString(",")}")
    val base =
      if (!options.getBoolean("union_by_name", false)) {
        // single-schema bind: ONE footer read decides the schema — on a
        // cold driver over a million-file table this is the difference
        // between instant and O(files) planning (footers for the files a
        // filtered scan actually touches are read later, post-pruning)
        FlsFooters.fetch(Seq(listed.head._1), conf).head.table.sparkSchema
      } else {
        // ≙ reference union_by_name multi-file bind (BindUnionReader,
        // /root/reference/src/reader/fls_multi_file_info.cpp:75-81):
        // union columns by name in first-seen order, promote types,
        // mark columns absent from some file nullable; STRUCT columns
        // union their fields recursively (beyond the reference).
        // Necessarily reads every footer — union semantics need every
        // file's columns.
        val files = FlsFooters.fetch(listed.map(_._1), conf)
        Format.unionByName(files.map(_.table.sparkSchema))
      }
    // Hive-partitioned layout: surface `k=v` path segments as typed
    // partition columns after the data columns, exactly like Spark's
    // parquet source (the reference has no partitioned-read support;
    // see FlsPartitioning).
    val disc = FlsPartitioning.discover(paths, listed.map(_._1.getPath), conf)
    val withParts =
      if (disc.keys.isEmpty) base
      else {
        // a spec-EVOLVED table legitimately has a key that is a DATA
        // column in the other generation's files (month in path for
        // gen-1, in data for gen-2) — the union schema already carries
        // it; only append keys no file stores as data. On uniform
        // layouts the collision stays a loud error (ambiguous source).
        disc.keys.foreach { k =>
          require(disc.uniform == false || !base.fieldNames.contains(k),
            s"fls: partition column '$k' collides with a data column")
        }
        StructType(base.fields ++
          disc.keys.filterNot(base.fieldNames.contains).map(k =>
            StructField(k, disc.inferredTypes(k),
              nullable = disc.nullableKeys.contains(k))))
      }
    withVirtuals(withParts, options)
  }

  /** Virtual columns opt in via reader options, like the reference's
    * read_fls named parameters (/root/reference/src/read_fls.cpp:32-46).
    * Appended after data+partition columns, for inferred AND declared
    * ([[FlsTableMeta]]) schemas alike. */
  private def withVirtuals(withParts: StructType,
      options: CaseInsensitiveStringMap): StructType = {
    var s = withParts
    FlsVirtual.sizeVirtuals(options).toSeq.sortBy(_._1).foreach { case (virt, baseName) =>
      val baseField = withParts.fields.find(_.name == baseName).getOrElse(
        throw new IllegalArgumentException(
          s"fls: array_size column '$baseName' not in the table schema"))
      require(baseField.dataType.isInstanceOf[ArrayType] ||
          baseField.dataType.isInstanceOf[MapType],
        s"fls: array_size column '$baseName' is ${baseField.dataType.simpleString}, " +
          "not an array or map")
      require(!withParts.fieldNames.contains(virt),
        s"fls: virtual column '$virt' collides with a data column")
      s = StructType(s.fields :+ StructField(virt, LongType, nullable = false))
    }
    if (options.getBoolean(FlsVirtual.RowNumber, false))
      s = StructType(s.fields :+ StructField(FlsVirtual.RowNumber, LongType, nullable = false))
    if (options.getBoolean(FlsVirtual.FileIndex, false))
      s = StructType(s.fields :+ StructField(FlsVirtual.FileIndex, LongType, nullable = false))
    // change-data-feed read: the feed's two tag columns ride after
    // everything else ([[FlsCdf]]); getTable routes to FlsCdfTable
    if (FlsCdf.requested(options))
      s = StructType(s.fields ++ FlsCdf.cdfSchemaFields)
    s
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // `CREATE TABLE ... PARTITIONED BY (k) USING fls` arrives as
    // identity transforms: translate them to the writer's partition_by
    // so SQL INSERTs (which carry no write options) route rows into the
    // hive layout, and remember them for FlsTable.partitioning()
    val declared = partitioning.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
        t.references()(0).fieldNames.length == 1 =>
        t.references()(0).fieldNames()(0)
      case other => throw new IllegalArgumentException(
        s"fls: unsupported partition transform '$other' — only plain column " +
          "(identity) partitioning is supported")
    }
    val opts =
      if (declared.isEmpty) new CaseInsensitiveStringMap(properties)
      else {
        val m = new java.util.HashMap[String, String](properties)
        m.put("partition_by", declared.mkString(","))
        new CaseInsensitiveStringMap(m)
      }
    // the session is captured HERE, on the resolving query's thread,
    // and threaded through the table/scan/write graph — the connector
    // never consults the SparkSession.active global from a lazily-run
    // code path again (multi-session drivers: a table resolved by
    // session A must keep using A's hadoop/SQL conf even when its scan
    // is planned while session B is active on the thread)
    if (FlsCdf.requested(opts)) {
      // the feed diffs the MAIN lineage's versions; silently serving
      // main's changes under a branch option would be a wrong answer
      require(FlsDataSource.branchRef(opts) == graft.fls.FlsManifest.MainRef,
        "fls: the change-data-feed reads the main lineage — branches " +
          "are short-lived audit lineages with no CDF; fast_forward " +
          "first, then read the feed from main")
      new FlsCdfTable(s"fls cdf ${FlsDataSource.parsePaths(opts).mkString(",")}",
        schema, opts, org.apache.spark.sql.SparkSession.active)
    } else
      new FlsTable(schema, opts, org.apache.spark.sql.SparkSession.active)
  }
}

object FlsDataSource {
  /** Pinned-snapshot read of a manifest table: `manifest_version=N`
    * plans from exactly that (immutable) version regardless of
    * concurrent commits. Versions are retained a few commits back;
    * compaction uses this to freeze its input set. */
  def manifestVersion(options: CaseInsensitiveStringMap): Option[Long] =
    Option(options.get("manifest_version")).map(_.toLong)

  /** `branch=<name>`: read (or commit) against the named branch's
    * lineage instead of main — write-audit-publish
    * ([[graft.fls.FlsManifest.createBranch]]). */
  def branchRef(options: CaseInsensitiveStringMap): String =
    Option(options.get("branch")) match {
      case Some(n) => graft.fls.FlsManifest.validateRefName(n)
      case None => graft.fls.FlsManifest.MainRef
    }

  /** Incremental read range: `changes_from_version=N` (exclusive; 0 =
    * table creation) with optional `changes_to_version=M` (inclusive;
    * default newest) — plan ONLY the files commits in `(N, M]` added.
    * See [[graft.fls.FlsManifest.changedEntries]] for the append-only
    * contract. */
  def changesRange(options: CaseInsensitiveStringMap): Option[(Long, Option[Long])] = {
    val from = Option(options.get("changes_from_version")).map(_.toLong)
    val to = Option(options.get("changes_to_version")).map(_.toLong)
    require(from.isDefined || to.isEmpty,
      "fls: changes_to_version without changes_from_version — set the " +
        "range's start (0 = since table creation)")
    from.map { f =>
      require(manifestVersion(options).isEmpty,
        "fls: manifest_version and changes_from_version are mutually " +
          "exclusive — pin a snapshot OR read a commit range")
      (f, to)
    }
  }

  /** The read-time file listing every batch-scan path shares: the
    * newest manifest (or directory listing), a pinned snapshot, or an
    * incremental commit-range diff — one switch, so a new snapshot
    * addressing mode lands everywhere at once. */
  def listForRead(options: CaseInsensitiveStringMap,
      conf: org.apache.hadoop.conf.Configuration)
    : Seq[(org.apache.hadoop.fs.FileStatus, Option[String])] = {
    // a file_subset bounds the LISTING itself: segmented manifests
    // then open only the entry chunks intersecting [min(rels),
    // max(rels)] — a 3-file CDF/point plan over a million-file table
    // reads O(intersecting chunks) of metadata, not all of it
    val subsetBounds: Option[(String, String)] =
      fileSubset(options).filter(_.nonEmpty).map(r => (r.min, r.max))
    val listed = changesRange(options) match {
      case None =>
        graft.fls.FlsFooters.listStatuses(parsePaths(options), conf,
          manifestVersion(options), branchRef(options), subsetBounds)
      case Some((from, to)) =>
        require(branchRef(options) == graft.fls.FlsManifest.MainRef,
          "fls: incremental reads (changes_from_version) are main-only — " +
            "branches are short-lived audit lineages; fast_forward first")
        val paths = parsePaths(options)
        require(paths.length == 1,
          s"fls: incremental reads address ONE table directory, got " +
            s"${paths.length} paths")
        val dir = new Path(paths.head)
        val fs = dir.getFileSystem(conf)
        graft.fls.FlsManifest.statusesWithStats(fs, dir,
            graft.fls.FlsManifest.changedEntries(fs, dir, from, to))
          .sortBy(_._1.getPath.toString)
    }
    fileSubset(options) match {
      case None => listed
      case Some(rels) =>
        val paths = parsePaths(options)
        require(paths.length == 1,
          s"fls: file_subset addresses ONE table directory, got " +
            s"${paths.length} paths")
        val dir = new Path(paths.head)
        val qdir = dir.getFileSystem(conf).makeQualified(dir)
          .toString.stripSuffix("/") + "/"
        val kept = listed.filter { case (st, _) =>
          val p = st.getPath.toString
          p.startsWith(qdir) && rels.contains(p.stripPrefix(qdir))
        }
        require(kept.size == rels.size,
          s"fls: file_subset names ${rels.size} file(s) but the selected " +
            s"snapshot holds only ${kept.size} of them — the subset is " +
            "stale (vacuumed/rewritten files?); re-plan against a current " +
            "snapshot")
        kept
    }
  }

  /** `file_subset=relA,relB,…` — restrict a scan to the named
    * table-relative files of whatever snapshot the other options
    * select. Pruned at LISTING time, before any footer IO, so reading
    * 3 files of a 100k-file table plans exactly 3 footers (the
    * change-data-feed plans its branches the same listing-time way,
    * via [[FlsCdfScan]]). Unknown rels are an error: a subset naming a
    * file the snapshot lacks is a stale plan, not an empty result. */
  def fileSubset(options: CaseInsensitiveStringMap): Option[Set[String]] =
    Option(options.get("file_subset"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Spark passes one path as "path", several as a JSON array "paths";
    * session-catalog tables (`CREATE TABLE ... USING fls LOCATION ...`)
    * carry the table root as "location" instead. */
  def parsePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map(parseJsonStringArray).getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    val location = Option(options.get("location")).toSeq
    (single ++ multi ++ location).distinct
  }

  private def parseJsonStringArray(s: String): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    var i = 0
    while (i < s.length) {
      if (s(i) == '"') {
        val sb = new StringBuilder
        i += 1
        while (s(i) != '"') {
          if (s(i) == '\\') { i += 1; sb.append(s(i) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case 'u' => val c = Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4; c
            case c => c })
          } else sb.append(s(i))
          i += 1
        }
        out += sb.toString
      }
      i += 1
    }
    out.toSeq
  }
}

class FlsTable(schema: StructType, options: CaseInsensitiveStringMap,
    /** Captured at CONSTRUCTION (the default evaluates then, on the
      * resolving thread) and threaded to every scan/write/DML path —
      * no lazy SparkSession.active lookups that would bind a table to
      * whatever session happens to be active later. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** `_fls_file` + `_fls_pos` — the file-position row identity. Served
    * by the scan for free (path constant + row counter); the delta
    * (merge-on-read) row-level operations key deletes by them, and
    * they are queryable like any metadata column
    * (`SELECT _fls_file, count(*) FROM t GROUP BY 1`). */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FlsVirtual.MetaFile
        override def dataType(): org.apache.spark.sql.types.DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "absolute path of the row's data file"
      },
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = FlsVirtual.MetaPos
        override def dataType(): org.apache.spark.sql.types.DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "file-absolute row position"
      })

  /** Historical snapshots (`VERSION AS OF` / `TIMESTAMP AS OF` /
    * `manifest_version=N`) are immutable by contract — a write routed
    * at one would publish a NEW newest version derived from stale
    * state, silently undoing every commit in between. */
  private def requireUnpinned(op: String): Unit =
    require(FlsDataSource.manifestVersion(options).isEmpty,
      s"fls: cannot $op a pinned snapshot (manifest_version=" +
        s"${options.get("manifest_version")}) — historical versions are " +
        "read-only; run the write against the table itself")

  /** UPDATE / MERGE INTO / copy-on-write DELETE — see
    * [[FlsRowLevelOperation]]. Decidable DELETEs still take the
    * zero-read metadata path (Spark's metadata-only-delete optimization
    * consults [[canDeleteWhere]] first). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
    : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireUnpinned("UPDATE/MERGE/DELETE")
    new FlsRowLevelOperationBuilder(info, schema, options, session)
  }

  override def name(): String = s"fls:${FlsDataSource.parsePaths(options).mkString(",")}"
  override def schema(): StructType = schema

  /** Partition columns, reported to the analyzer so
    * `INSERT OVERWRITE ... PARTITION (k=...)` resolves: the declared
    * `partition_by` (CREATE TABLE PARTITIONED BY arrives translated
    * into it), falling back to one lazy discovery of the on-disk hive
    * layout for tables created over an existing directory. */
  override lazy val partitioning: Array[Transform] = {
    val declared = Option(options.get("partition_by"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val keys =
      if (declared.nonEmpty) declared
      else scala.util.Try {
        val conf = session.sessionState.newHadoopConf()
        val paths = FlsDataSource.parsePaths(options)
        val files = graft.fls.FlsFooters.list(paths, conf,
          FlsDataSource.manifestVersion(options))
        FlsPartitioning.discover(paths, files.map(_.file), conf).keys
      }.getOrElse(Nil)
    keys.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(k)).toArray
  }
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC).asJava

  /** `DELETE FROM t WHERE ...` (+ `TRUNCATE TABLE` via the
    * SupportsDelete bridge): files the predicate decides — by partition
    * values or by zone maps — drop or stay whole with zero rows read;
    * only straddling files are surgically rewritten (copy-on-write,
    * flat tables; see [[FlsDelete]] for the classification, the
    * manifest one-version CAS publish, and the partitioned-table
    * contract). `DELETE FROM corpus WHERE dt < '2020-01-01'` —
    * retention, THE lifecycle operation at 100 TB — reads nothing;
    * `DELETE ... WHERE ts < cutoff` on a `cluster_by=ts` table reads
    * one file. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    FlsDelete.canDelete(schema, options, filters, session)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireUnpinned("DELETE FROM")
    FlsDelete.delete(schema, options, filters, session)
  }

  /** SQL reads of a catalog table (`SELECT ... FROM t` after
    * `CREATE TABLE t USING fls LOCATION ...`) arrive with EMPTY read
    * options — path and reader options must fall back to the table's
    * own (read-time options still win). A missing merge here silently
    * plans ZERO files, not an error, so it is load-bearing. */
  override def newScanBuilder(readOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged =
      if (readOptions.isEmpty) options
      else if (options.isEmpty) readOptions
      else {
        val m = new java.util.HashMap[String, String](options)
        m.putAll(readOptions)
        new CaseInsensitiveStringMap(m)
      }
    new FlsScanBuilder(schema, merged, session)
  }

  // DECLARED partitioning (CREATE TABLE PARTITIONED BY) already rides in
  // as the partition_by option (getTable translates the transforms); a
  // merely-DISCOVERED layout is reported by `partitioning` but not
  // silently adopted by writes — an append that doesn't declare the
  // table's layout still fails loudly (FlsBatchWrite's layout check)
  // instead of guessing.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireUnpinned("write to")
    new FlsWriteBuilder(info, options, session)
  }
}

// ---------------------------------------------------------------- read

class FlsScanBuilder(tableSchema: StructType, options: CaseInsensitiveStringMap,
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns
  with SupportsPushDownFilters
  with SupportsPushDownAggregates
  with SupportsPushDownLimit
  with SupportsPushDownTopN {

  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.connector.expressions.NamedReference

  private var requiredSchema: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var aggSpecs: Option[(Seq[String], Seq[FlsAggSpec])] = None

  override def pruneColumns(required: StructType): Unit = { requiredSchema = required }

  /** Accept every filter for zone-map skipping and return them as
    * residual so Catalyst re-applies them row-level — mirroring the
    * reference which keeps engine-side pruning on
    * (/root/reference/src/read_fls.cpp:41-42) while the scan also
    * filters (SURVEY.md §2.A5). Filters over partition columns are
    * accepted too (any shape whose references are all partition keys) —
    * they prune whole files/directories in planInputPartitions.
    *
    * A partition filter that every file DECIDES (evaluates to a definite
    * true/false on its path values — partition columns are constant per
    * file, so a decided-true file satisfies it on every row) is fully
    * CONSUMED: no residual FilterExec, and — the point — aggregate
    * pushdown stays available, so `COUNT(*) WHERE dt = ...` answers
    * from footer metadata over the pruned file set. Any file that
    * cannot decide (unparseable value, unsupported shape) keeps the
    * filter residual instead. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val partKeys: Set[String] = builderDisc.keys.toSet
    pushed = filters.filter(f => FlsZoneMap.usable(f) ||
      (f.references.nonEmpty && f.references.forall(partKeys.contains)))
    val types = builderPartTypes
    // decided-check runs on the footer-LESS listing (only path values
    // matter) so accepting filters costs zero footer IO
    consumedPartFilters = filters.filter { f =>
      f.references.nonEmpty && f.references.forall(partKeys.contains) &&
        listed.forall { case (st, _) =>
          builderDisc.byFile.get(st.getPath.toString).exists { raw =>
            FlsPartitioning.decides(f, types, builderDisc.keys, raw)
          }
        }
    }.toSet
    filters.filterNot(consumedPartFilters)
  }

  private var consumedPartFilters: Set[Filter] = Set.empty

  /** Planning phase 1: the file list + manifest-carried stats, no footer
    * IO ([[FlsFooters.listStatuses]]). Everything pushFilters needs
    * (paths, partition values) lives here. */
  private lazy val listed: Seq[(org.apache.hadoop.fs.FileStatus, Option[String])] =
    FlsDataSource.listForRead(options, session.sessionState.newHadoopConf())

  private lazy val builderDisc: FlsPartitioning.Discovery =
    FlsPartitioning.discover(FlsDataSource.parsePaths(options),
      listed.map(_._1.getPath),
      session.sessionState.newHadoopConf())
  private lazy val builderPartTypes: Map[String, DataType] =
    builderDisc.partTypes(tableSchema)

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*)/MIN/MAX answered from footer metadata — no data scan.
    * Only for unfiltered aggregates over long-physical columns
    * (doubles can drop stats on NaN) and strings with EXACT byte stats
    * (beyond the reference, which is stats-less on strings). Grouping
    * is allowed when EVERY group-by expression is a bare partition
    * column: groups are then partition directories and the group
    * values decode from the paths, so `SELECT dt, count(*) ... GROUP BY
    * dt` never touches data. Complete pushdown: the emitted rows ARE
    * the result (one per group; one total when ungrouped). */
  private def planAgg(agg: Aggregation): Option[(Seq[String], Seq[FlsAggSpec])] = {
    // fully-consumed partition filters keep metadata aggregates legal:
    // the agg then runs over exactly the decided-true file subset
    if (!pushed.forall(consumedPartFilters.contains)) return None
    // a delete-vector'd (or equality-deleted) file's footer counts/
    // extremes include DELETED rows — a metadata answer would resurrect
    // them; fall back to the real scan (which applies both at decode)
    if (footers.exists(e => e.dv.isDefined || e.eq.nonEmpty)) return None
    // grouping decodes group values from partition DIRECTORIES — only
    // sound when every file stores every key in its path (a
    // spec-evolved table has generations where a key lives in data)
    if (agg.groupByExpressions().nonEmpty && !builderDisc.uniform) return None
    val groupCols: Seq[String] = agg.groupByExpressions().toSeq.map {
      case f: NamedReference if f.fieldNames().length == 1 &&
        builderDisc.keys.contains(f.fieldNames()(0)) => f.fieldNames()(0)
      case _ => return None
    }
    val specs = agg.aggregateExpressions().map {
      case _: CountStar => Some(FlsAggSpec(FlsAggSpec.Count, ""))
      case m: Min => m.column() match {
        case f: NamedReference if f.fieldNames().length == 1 &&
          minMaxPushable(f.fieldNames()(0)) => Some(FlsAggSpec(FlsAggSpec.MinCol, f.fieldNames()(0)))
        case _ => None
      }
      case m: Max => m.column() match {
        case f: NamedReference if f.fieldNames().length == 1 &&
          minMaxPushable(f.fieldNames()(0)) => Some(FlsAggSpec(FlsAggSpec.MaxCol, f.fieldNames()(0)))
        case _ => None
      }
      case _ => None
    }
    if (!specs.forall(_.isDefined)) return None
    val flat = specs.flatten.toSeq
    // Ungrouped MIN/MAX over a fully-pruned (or all-empty) file subset
    // must yield NULL — only the real scan can produce it (readSchema
    // here is non-nullable); COUNT over the empty subset is a plain 0
    // and fine. Grouped aggregates drop empty groups instead, so zero
    // rows is exactly the SQL answer.
    if (groupCols.isEmpty && flat.exists(_.kind != FlsAggSpec.Count) &&
      !aggFooters.exists(_.table.rowGroups.nonEmpty)) return None
    Some((groupCols, flat))
  }

  /** Planning phase 2: footer reads for the files that SURVIVE
    * path-level partition pruning and manifest-stats pruning under the
    * pushed filters. Forced only at build()/aggregate time — after
    * pushFilters — so a cold filtered scan of a large table opens
    * O(survivors) footers, not O(files). Dropping a file here is sound
    * for every downstream consumer: the pushed filters prove it
    * contributes no rows (both prunings are conservative, same rules as
    * pruneFiles/zone maps), and Catalyst re-applies the filters
    * row-level regardless. */
  private lazy val footers: Seq[graft.fls.FlsFooters.Entry] = {
    val conf = session.sessionState.newHadoopConf()
    val virtNames: Set[String] = FlsVirtual.sizeVirtuals(options).keySet +
      FlsVirtual.RowNumber + FlsVirtual.FileIndex
    val kept = listed.filter { case (st, stats) =>
      (pushed.isEmpty || builderDisc.keys.isEmpty ||
        builderDisc.byFile.get(st.getPath.toString).forall(raw =>
          FlsPartitioning.mayMatch(pushed, builderPartTypes, builderDisc.keys, raw))) &&
        FlsFileStats.mayMatch(stats.orNull, pushed, tableSchema, virtNames) &&
        // point-lookup bloom pruning: files whose sidecar proves the
        // needle absent never even open their footer (graft.fls.Bloom)
        graft.fls.Bloom.mayMatch(stats.orNull, st.getPath, pushed,
          tableSchema, conf)
    }
    FlsFooters.fetchMeta(kept, conf)
      // rename reconciliation (schema evolution): files written under an
      // earlier column name serve the current one from here on down
      .map(e => e.copy(table = Format.applyRenames(e.table, tableSchema)))
  }

  /** Footer subset a metadata aggregate runs over: the files every
    * consumed partition filter decided TRUE for. */
  private def aggFooters: Seq[graft.fls.FlsFooters.Entry] =
    if (consumedPartFilters.isEmpty) footers
    else footers.filter { e =>
      builderDisc.byFile.get(e.file.toString).exists(raw =>
        consumedPartFilters.forall(f =>
          FlsPartitioning.evaluates(f, builderPartTypes, builderDisc.keys, raw) == Some(true)))
    }

  /** Footer minLong/maxLong are PHYSICAL values (e.g. unscaled decimal
    * digits), so comparing them across files is only sound when every
    * file stores the column with the SAME ColumnType (scale included) —
    * a union_by_name read can legally mix scales. Checked here, before
    * supportCompletePushDown commits us; a miss falls back to a normal
    * scan instead of failing at runtime.
    *
    * Strings push too, when every segment's byte stats are EXACT
    * (untruncated min/max — a truncated prefix is only a pruning bound,
    * never an aggregate answer). */
  private def minMaxPushable(name: String): Boolean =
    tableSchema.fields.find(_.name == name).exists { f =>
      scala.util.Try(ColumnType.fromSpark(f.dataType)).toOption
        .exists(ct => physOf(ct.tag) == Phys.LONG || ct.tag == TypeTag.STRING)
    } && {
      // validate stats over the DECIDED-TRUE subset the aggregate will
      // actually run on (footers is already partition-pruned, so a
      // no-match filter legitimately leaves it empty — grouped
      // aggregates then answer with zero rows, which IS the SQL result;
      // the ungrouped MIN/MAX-over-zero-rows NULL case falls back to
      // the scan via planAgg's aggFooters row-group check)
      val subset = aggFooters
      subset.isEmpty ||
        Format.uniformColType(subset.map(_.table), name).exists { ct =>
          val isStr = ct.tag == TypeTag.STRING
          subset.forall { e =>
            val idx = e.table.columns.indexWhere(_.name == name)
            e.table.rowGroups.forall { rg =>
              val s = rg.segments(idx)
              if (isStr) s.hasByteStats && s.byteStatsExact else s.hasStats
            }
          }
        }
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean = planAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    planAgg(agg) match {
      case Some(gs) => aggSpecs = Some(gs); true
      case None => false
    }
  }

  /** LIMIT n without residual filters: plan just enough row groups to
    * cover n rows (partial pushdown — Spark still applies the exact
    * limit on top). With filters the row yield per group is unknown, so
    * no truncation. */
  private var limit: Int = -1
  private var topN: Option[FlsTopNSpec] = None

  override def pushLimit(l: Int): Boolean = {
    if (pushed.isEmpty) { limit = l; true } else false
  }

  /** ORDER BY col LIMIT n over a stats-bearing column: sound zone-map
    * TopN pruning (partial — Spark still sorts/limits the survivors).
    * Greedily cover n rows by the groups with the best MINIMUM (for
    * DESC; maximum for ASC): those rows are all >= bound B, so the
    * true n-th value >= B and any group whose max < B cannot
    * contribute. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (pushed.nonEmpty || orders.isEmpty) return false
    orders.head.expression() match {
      case f: NamedReference if f.fieldNames().length == 1 &&
        tableSchema.fields.find(_.name == f.fieldNames()(0)).exists(fld =>
          scala.util.Try(ColumnType.fromSpark(fld.dataType)).toOption
            .exists(ct => physOf(ct.tag) == Phys.LONG)) =>
        topN = Some(FlsTopNSpec(f.fieldNames()(0),
          orders.head.direction() == SortDirection.DESCENDING, l))
        true
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = aggSpecs match {
    // the VALIDATED footer list is captured into the agg scan: the
    // files minMaxPushable vetted (uniform ColumnType, stats present)
    // are exactly the files the aggregate computes over, so a file
    // appearing between pushdown acceptance and execution can't slip
    // incomparable stats into the result
    case Some((gCols, specs)) =>
      val gFields = gCols.map(c => StructField(c, builderPartTypes(c),
        nullable = builderDisc.nullableKeys.contains(c)))
      val idxs = gCols.map(builderDisc.keys.indexOf)
      val rawByFile: Map[String, Seq[String]] =
        if (gCols.isEmpty) Map.empty
        else builderDisc.byFile.map { case (f, vals) => f -> idxs.map(vals).toSeq }
      new FlsAggScan(tableSchema, specs, options, aggFooters, gFields, rawByFile)
    // the builder's footer list rides into the scan too: planning reuses
    // one listing + one partition discovery per query instead of
    // re-walking the table (at 100k files that re-walk is real driver
    // time), and pushdown decisions and execution see the same file set
    case None => new FlsScan(tableSchema, requiredSchema, pushed, options, limit, topN,
      footers, consumedPartFilters.toArray, session)
  }
}

case class FlsTopNSpec(col: String, desc: Boolean, n: Int)

case class FlsAggSpec(kind: Int, col: String)
object FlsAggSpec { val Count = 0; val MinCol = 1; val MaxCol = 2 }

// Spark re-instantiates CustomMetric classes reflectively on the driver
// (zero-arg constructor required) to aggregate task values; a parameterized
// class makes every query log a SparkException and silently drops the
// metric, so each metric is its own concrete zero-arg class.
class FlsRowGroupsMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowGroupsRead"
  override def description(): String = "row groups read"
}
class FlsRowsMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "flsRowsRead"
  override def description(): String = "rows read"
}
class FlsRowsFilteredMetric
  extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "flsRowsFiltered"
  override def description(): String = "rows dropped by scan-side filters"
}

class FlsScan(
    tableSchema: StructType,
    requiredSchema: StructType,
    filters: Array[Filter],
    options: CaseInsensitiveStringMap,
    limit: Int = -1,
    topN: Option[FlsTopNSpec] = None,
    preFooters: Seq[graft.fls.FlsFooters.Entry] = null,
    consumedFilters: Array[Filter] = Array.empty,
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
  with SupportsReportPartitioning {

  override def readSchema(): StructType = requiredSchema

  /** Storage-partitioned joins: when the table is hive-partitioned, the
    * partition keys survive column pruning, and the session opted in
    * (`spark.sql.sources.v2.bucketing.enabled`), report the layout as
    * KeyGroupedPartitioning and plan partition-pure splits carrying
    * their key — a join of two fls tables co-partitioned on the join
    * key then runs with NO shuffle on either side. At 100 TB this is
    * the difference between moving both tables and moving neither.
    * Inactive under limit/TopN pushdown (those pack key-mixed splits). */
  private def spjActive: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled &&
      // key-grouped splits need ONE layout: a spec-evolved table has
      // files whose paths lack some keys — no key purity to report
      partDisc.uniform &&
      partDisc.keys.nonEmpty && limit < 0 && topN.isEmpty &&
      // a row-level group scan packs whole files without key-pure
      // splits — it must not claim key-grouped partitioning
      !groupGranularity &&
      partDisc.keys.forall(k => requiredSchema.fieldNames.contains(k))

  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    if (spjActive) {
      // numPartitions is informational — Spark re-derives the count
      // from the actual key-grouped splits after pruning
      val distinctKeys = partDisc.byFile.values.map(_.toSeq).toSet.size
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partDisc.keys.map(k =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(k)).toArray,
        math.max(distinctKeys, 1))
    } else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)

  /** Runtime (AQE/DPP-style) filters: Spark may inject join-derived
    * In/EqualTo filters after planning — they feed the same zone-map
    * pruning as static filters, skipping row groups a broadcast-side
    * key set can't touch. */
  private var runtimeFilters: Array[Filter] = Array.empty

  /** Join DPP builds one single-column subquery per join key, so a plain
    * scan advertises every partition and numeric column. A row-level
    * group scan advertises ONE: Spark's RowLevelOperationRuntimeGroupFiltering
    * turns all advertised columns into one `named_struct(..) IN (subquery)`,
    * and DSv2 translates only a single-column IN into a runtime filter —
    * with two or more columns the subquery runs and [[filter]] never sees
    * its result. The one column is the first partition column, else the
    * first `cluster_by` column (the column files are range-clustered on,
    * so its zone maps separate files), else the first column the plain
    * rule accepts. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // MUST be a subset of the scan OUTPUT (requiredSchema): Spark
    // resolves these against the pruned relation — advertising pruned
    // columns breaks analysis ("Unable to resolve ... given [...]")
    val prunable = requiredSchema.fields
      .filter(f => partTypes.contains(f.name) || // partition cols prune whole files
        scala.util.Try(ColumnType.fromSpark(f.dataType)).toOption
          .exists(ct => physOf(ct.tag) == Phys.LONG || physOf(ct.tag) == Phys.DOUBLE))
      .map(_.name).toSeq
    def inOutput(cols: Seq[String]): Option[String] =
      cols.find(requiredSchema.fieldNames.contains)
    val names =
      if (!groupGranularity) prunable
      else inOutput(partDisc.keys.filter(partTypes.contains))
        .orElse(inOutput(FlsWriteLayout.parse(options, tableSchema).clusterBy.map(_._1)))
        .orElse(prunable.headOption).toSeq
    names.map(org.apache.spark.sql.connector.expressions.Expressions.column).toArray
  }

  /** In a group scan the runtime IN lists the filter column's values
    * among MATCHED target rows, NULL included when a matched row holds
    * NULL there (a `__HIVE_DEFAULT_PARTITION__` file, or a column its
    * file lacks). SQL's `c IN (NULL, ..)` is never TRUE on that row, so
    * its file would be pruned and the match silently lost;
    * `c IS NULL OR c IN (..)` keeps it. */
  override def filter(newFilters: Array[Filter]): Unit = {
    runtimeFilters = newFilters.filter(FlsZoneMap.usable).map {
      case In(c, vs) if groupGranularity && vs.contains(null) =>
        Or(IsNull(c), In(c, vs.filter(_ != null)))
      case f => f
    }.map(FlsZoneMap.sortIns)
  }

  override def toBatch: Batch = this

  /** Streaming read: tail the table directory as a micro-batch stream
    * (see [[FlsMicroBatchStream]]); pushed filters ride along for
    * per-batch partition + zone-map pruning. */
  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(FlsDataSource.branchRef(options) == graft.fls.FlsManifest.MainRef,
      "fls: streaming reads tail the main lineage — branches are " +
        "short-lived audit lineages; fast_forward first")
    new FlsMicroBatchStream(tableSchema, requiredSchema, filters, consumedFilters,
      options, checkpointLocation, session)
  }

  override def description(): String =
    s"fls scan, pushed=[${filters.mkString(", ")}], cols=[${requiredSchema.fieldNames.mkString(",")}]" +
      (if (limit >= 0) s", limit=$limit" else "") +
      topN.map(t => s", topN=(${t.col},${if (t.desc) "DESC" else "ASC"},${t.n})").getOrElse("")

  private def hadoopConf: Configuration =
    session.sessionState.newHadoopConf()

  private lazy val scanEntries: Seq[graft.fls.FlsFooters.Entry] =
    if (preFooters != null) preFooters // builder already rename-reconciled
    else FlsFooters.fetchMeta(
      FlsDataSource.listForRead(options, hadoopConf), hadoopConf)
      .map(e => e.copy(table = Format.applyRenames(e.table, tableSchema)))

  private lazy val files: Seq[(Path, TableDesc, Long)] =
    scanEntries.map(e => (e.file, e.table, e.fileSize))

  /** file → absolute delete-vector path, for every planned file that
    * has deletes. Applied at decode ([[FlsPartitionReader]]); its mere
    * presence also disables the value-PRODUCING metadata shortcuts
    * (TopN bound pruning, limit row-counting) whose footer numbers
    * would include deleted rows — see the planning gates below.
    * "Can any row match?" pruning (partition, zone-map) stays on:
    * stats over a SUPERSET of live rows are conservative. */
  private lazy val dvByFile: Map[String, String] =
    scanEntries.flatMap(e => e.dv.map(d => e.file.toString -> d)).toMap

  /** file → applicable equality-delete predicates (planning-injected
    * at listing, [[graft.fls.FlsEqDeletes]]) — applied at decode like
    * the DV, and gating the same value-producing shortcuts. */
  private lazy val eqByFile: Map[String, Seq[String]] =
    scanEntries.flatMap(e =>
      if (e.eq.nonEmpty) Some(e.file.toString -> e.eq) else None).toMap

  /** Hive-partition layout of the listed files (empty keys = flat dir).
    * Partition column types resolve against the TABLE schema (which
    * carries the user/inferred type), falling back to path inference. */
  private lazy val partDisc: FlsPartitioning.Discovery =
    FlsPartitioning.discover(FlsDataSource.parsePaths(options), files.map(_._1), hadoopConf)
  private lazy val partTypes: Map[String, DataType] = partDisc.partTypes(tableSchema)

  /** Files surviving partition pruning under `fs` (sound: a file is only
    * dropped when some pushed filter is provably false on its partition
    * values). At 100 TB this is the difference between touching one
    * `dt=` directory and touching all of them. */
  private def pruneFiles(fs: Array[Filter]): Seq[(Path, TableDesc, Long)] =
    if (partDisc.keys.isEmpty || fs.isEmpty) files
    else files.filter { case (p, _, _) =>
      partDisc.byFile.get(p.toString).forall(raw =>
        FlsPartitioning.mayMatch(fs, partTypes, partDisc.keys, raw))
    }

  /** Row-level-operation mode (set by FlsRowLevelScanBuilder): every
    * pruning decision collapses to FILE granularity — a file whose ANY
    * row group may match is read WHOLE (no row-group pruning, no
    * scan-side row filters), because a group-based REPLACE writes back
    * exactly what this scan returns: dropping an innocent row here
    * would delete it from the table. `onPlanned` receives the kept file
    * list (last call wins) — the write's commit replaces exactly it. */
  private[connector] var groupGranularity: Boolean = false
  private[connector] var onPlanned: Option[Seq[String] => Unit] = None
  /** Companion to `onPlanned`: the SCAN-TIME delete-vector pointer of
    * each kept file (absolute paths) — the replace commit verifies
    * these are still current, or a concurrent merge-on-read DELETE's
    * positions would be silently undone by the rewrite. */
  private[connector] var onPlannedDv: Option[Map[String, String] => Unit] = None
  /** Scan-time equality-delete residuals of the planned files (the
    * predicate JSONs) — row-level commits abort when a NEW predicate
    * appears on their targets after the scan ([[graft.fls.FlsEqDeletes]]):
    * the replacement/update rows were built without it, and their
    * fresh birth version would carry them OUT of its scope. */
  private[connector] var onPlannedEq: Option[Set[String] => Unit] = None

  override def planInputPartitions(): Array[InputPartition] = {
    val allFilters = filters ++ runtimeFilters
    val survivors = pruneFiles(allFilters).map(_._1.toString).toSet
    val sizeVirtuals = FlsVirtual.sizeVirtuals(options)
    val units = scanEntries.zipWithIndex.flatMap { case (e, fileIdx) =>
      val f = e.file.toString
      if (!survivors.contains(f)) Nil
      else FlsRgPlanner.plan(f, e.table, FlsFileCtx(fileIdx, partDisc.pvalsOf(f), e.dv, e.eq),
        allFilters, sizeVirtuals, wholeFile = groupGranularity)
    }
    // row-level operations capture the kept files, with their scan-time
    // DV pointers and equality residuals, for the commit's checks
    val kept = units.map(_.file).distinct
    val keptSet = kept.toSet
    onPlanned.foreach(_(kept))
    onPlannedDv.foreach(_(dvByFile.filter(kv => keptSet.contains(kv._1))))
    onPlannedEq.foreach(_(eqByFile.filter(kv => keptSet.contains(kv._1)).values.flatten.toSet))
    if (groupGranularity) return FlsSplitPacking.pack(units, session)
    // TopN pruning (no filters): greedily cover n rows by best
    // boundary stat, drop groups that cannot reach the bound
    topN match {
      case Some(FlsTopNSpec(colName, desc, n))
          if filters.isEmpty && runtimeFilters.isEmpty && dvByFile.isEmpty &&
            eqByFile.isEmpty =>
        // dv/eq gate: boundary stats include DELETED rows — a deleted
        // fake extreme could tighten the bound and wrongly drop groups
        // holding real top rows
        // Stats are PHYSICAL (unscaled) values — only comparable across
        // files when every file stores the column with one ColumnType
        // (union_by_name may mix decimal scales); otherwise skip pruning.
        val uniform = Format.uniformColType(files.map(_._2), colName).isDefined
        val withStats = if (!uniform) Nil
        else units.flatMap { u =>
          val idx = u.cols.indexWhere(_.name == colName)
          if (idx < 0) None
          else {
            val seg = u.rg.segments(idx)
            if (seg.hasStats) Some((u, seg.minLong, seg.maxLong)) else None
          }
        }
        if (uniform && withStats.length == units.length) {
          // boundary = min for DESC (all rows of the group >= min),
          // max for ASC
          val byBoundary = withStats.sortBy { case (_, mn, mx) =>
            if (desc) -mn else mx
          }
          var covered = 0L
          var bound = 0L
          var haveBound = false
          val it = byBoundary.iterator
          while (covered < n && it.hasNext) {
            val (u, mn, mx) = it.next()
            covered += u.rg.nTuples
            bound = if (desc) mn else mx
            haveBound = true
          }
          if (haveBound && covered >= n) {
            val kept = withStats.collect {
              case (u, _, mx) if desc && mx >= bound => u
              case (u, mn, _) if !desc && mn <= bound => u
            }
            return FlsSplitPacking.pack(kept, session)
          }
        }
      case _ => ()
    }
    // limit pushdown (no filters): keep just enough row groups
    if (limit >= 0 && filters.isEmpty && runtimeFilters.isEmpty &&
        dvByFile.isEmpty && eqByFile.isEmpty) {
      // nTuples counts deleted rows (DV'd or equality-deleted): kept
      // groups could cover fewer LIVE rows than `limit`
      val out = mutable.ArrayBuffer[FlsRgUnit]()
      var covered = 0L
      val it = units.iterator
      while (covered < limit && it.hasNext) {
        val u = it.next()
        out += u
        covered += u.rg.nTuples
      }
      return FlsSplitPacking.pack(out.toSeq, session)
    }
    if (spjActive) {
      // partition-pure splits: pack WITHIN each partition key so every
      // split carries exactly one key (HasPartitionKey contract); key
      // order is stabilized for deterministic planning
      val grouped = units.groupBy(u => partDisc.keys.map(u.ctx.pvals))
      grouped.toSeq.sortBy(_._1.map(String.valueOf).mkString("\u0000"))
        .flatMap { case (raw, us) =>
          val keyVals: Array[Any] = partDisc.keys.zip(raw).map { case (k, r) =>
            FlsPartitioning.internal(r, partTypes(k))
          }.toArray
          FlsSplitPacking.pack(us, session).map {
            case p: FlsInputPartition => p.copy(keyVals = keyVals)
            case p => p
          }
        }.toArray
    } else FlsSplitPacking.pack(units, session)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    FlsReaderFactory(readSchema(), options, hadoopConf,
      if (groupGranularity) Array.empty[Filter] else filters ++ runtimeFilters)

  /** Scan progress metrics (≙ reference GetProgressInFile,
    * /root/reference/src/reader/fls_reader.cpp:556-558 — Spark surfaces
    * these in the UI/listener instead of a polled percentage). */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FlsRowGroupsMetric, new FlsRowsMetric, new FlsRowsFilteredMetric)

  override def estimateStatistics(): Statistics = new Statistics {
    // explicit_cardinality named option overrides the footer count
    // (≙ reference read_fls named parameter, /root/reference/src/
    // reader/fls_multi_file_info.cpp:152-164)
    // partition-pruned with the static pushed filters, so CBO sees the
    // post-pruning cardinality (a dt= filter on a 1000-partition table
    // should make the scan broadcast-able)
    private val statFiles = pruneFiles(filters)
    private val rows = {
      val explicit = options.getLong("explicit_cardinality", -1L)
      if (explicit >= 0) explicit else statFiles.map(_._2.numRows).sum
    }
    private val bytes = {
      val raw = statFiles.map(_._3).sum
      val frac =
        if (tableSchema.fields.isEmpty) 1.0
        else requiredSchema.fields.length.toDouble / tableSchema.fields.length
      math.max(1L, (raw * frac).toLong)
    }
    override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
    override def numRows(): OptionalLong = OptionalLong.of(rows)

    /** Per-column min/max + no-null merged across row groups from
      * footer stats, served to Catalyst CBO (≙ reference
      * GetStatistics + CANNOT_HAVE_NULL_VALUES,
      * /root/reference/src/reader/fls_reader.cpp:190-292; SURVEY §2.A7). */
    override def columnStats(): java.util.Map[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      import org.apache.spark.sql.connector.expressions.Expressions
      import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
      requiredSchema.fields.foreach { f =>
        // Resolve the column index PER FILE (column order/count may
        // differ under union_by_name) and require one uniform
        // ColumnType so physical stats are comparable. Files lacking
        // the column surface its rows as NULL, so nullCount is their
        // row total (exact: the format itself stores no NULLs).
        val perFile = files.map { case (_, t, _) => (t, t.columns.indexWhere(_.name == f.name)) }
        val present = perFile.filter(_._2 >= 0)
        if (present.nonEmpty) {
          val uniform = Format.uniformColType(files.map(_._2), f.name).isDefined
          val absentRows = perFile.collect { case (t, i) if i < 0 => t.numRows }.sum
          val phys = physOf(present.head._1.columns(present.head._2).colType.tag)
          val segs = present.flatMap { case (t, i) => t.rowGroups.map(_.segments(i)) }
          // Serve min/max in the column's LOGICAL type (unscaled longs
          // rescale to BigDecimal; ints narrow) — CBO compares them to
          // query literals of that type.
          def longObj(v: Long): Option[AnyRef] = f.dataType match {
            case LongType | TimestampType | TimestampNTZType => Some(java.lang.Long.valueOf(v))
            case IntegerType | DateType => Some(java.lang.Integer.valueOf(v.toInt))
            case ShortType => Some(java.lang.Short.valueOf(v.toShort))
            case ByteType => Some(java.lang.Byte.valueOf(v.toByte))
            case d: DecimalType =>
              Some(new java.math.BigDecimal(java.math.BigInteger.valueOf(v), d.scale))
            case _ => None
          }
          val mm: Option[(AnyRef, AnyRef)] =
            if (!uniform || segs.isEmpty || !segs.forall(_.hasStats)) None
            else phys match {
              case Phys.LONG =>
                longObj(segs.map(_.minLong).min).zip(longObj(segs.map(_.maxLong).max)).headOption
              case Phys.DOUBLE if f.dataType == DoubleType =>
                Some((java.lang.Double.valueOf(segs.map(_.minDouble).min),
                  java.lang.Double.valueOf(segs.map(_.maxDouble).max)))
              case Phys.DOUBLE if f.dataType == FloatType =>
                Some((java.lang.Float.valueOf(segs.map(_.minDouble).min.toFloat),
                  java.lang.Float.valueOf(segs.map(_.maxDouble).max.toFloat)))
              case _ => None
            }
          // Distinct count from the manifest HLL sketches (ndv_columns
          // writes, [[graft.fls.Hll]]): register-wise union across the
          // planned files, defined only when EVERY file carrying the
          // column carries a sketch — one stats-less legacy file and
          // the column degrades to no-distinct-count, exactly the
          // pre-sketch behavior. DV'd files make it a live-rows
          // SUPERSET estimate (fine for CBO, never for results).
          val ndvEst: Option[Long] = {
            val presentPaths = files.zip(perFile).collect {
              case ((p, _, _), (_, i)) if i >= 0 => p.toString
            }.toSet
            val sketches = scanEntries.filter(e =>
              presentPaths.contains(e.file.toString)).map(_.ndv.get(f.name))
            if (sketches.isEmpty || sketches.exists(_.isEmpty)) None
            else {
              val regs = sketches.map(_.get)
              if (regs.map(_.length).distinct.length != 1) None
              else {
                val merged = java.util.Arrays.copyOf(regs.head, regs.head.length)
                regs.tail.foreach(graft.fls.Hll.mergeInto(merged, _))
                Some(graft.fls.Hll.estimate(merged))
              }
            }
          }
          out.put(Expressions.column(f.name), new ColumnStatistics {
            override def nullCount(): OptionalLong = OptionalLong.of(absentRows)
            override def distinctCount(): OptionalLong =
              ndvEst.map(OptionalLong.of).getOrElse(OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              mm.map(p => java.util.Optional.of(p._1: Object))
                .getOrElse(java.util.Optional.empty[Object]())
            override def max(): java.util.Optional[Object] =
              mm.map(p => java.util.Optional.of(p._2: Object))
                .getOrElse(java.util.Optional.empty[Object]())
          })
        }
      }
      out
    }
  }
}

/** CONSECUTIVE row groups of ONE file inside a split, with their
  * descriptors and the file's column list serialized in (no
  * executor-side footer read). `rowStarts(i)` seeds the
  * `file_row_number` virtual column for `rowGroups(i)` (≙ reference
  * A10, /root/reference/src/reader/fls_reader.cpp:474-495). */
case class FlsFileChunk(
    file: String,
    rowGroups: Array[RowGroupDesc],
    rowStarts: Array[Long],
    fileColumns: Array[ColumnDesc],
    fileIndex: Int,
    partitionValues: Map[String, String] = Map.empty,
    /** Absolute path of the file's delete-vector sidecar (None = no
      * deletes): the reader drops these row positions at decode —
      * UNCONDITIONALLY, in every scan mode including the row-level
      * group scans, because no Catalyst residual re-checks deletes. */
    dv: Option[String] = None,
    /** Change-data-feed context (None = ordinary snapshot scan): the
      * `_change_type`/`_commit_version` constants for this chunk's
      * rows, plus the optional emit-mode sidecar diff that REPLACES the
      * base selection (see [[FlsCdfChunkSpec]]). */
    cdf: Option[FlsCdfChunkSpec] = None,
    /** Equality-delete residuals applicable to this file (predicate
      * JSON, [[graft.fls.FlsEqDeletes]]) — applied at decode like the
      * DV, unconditionally, in every scan mode. */
    eq: Seq[String] = Nil)

/** Fully self-contained scan unit: one or more file chunks. Row groups
  * PACK into splits parquet-style (see [[FlsSplitPacking]]): the row
  * group stays the unit of pruning and decode, but the TASK is sized by
  * `spark.sql.files.maxPartitionBytes` /
  * `spark.sql.files.openCostInBytes` / default parallelism — a 64Ki-row
  * row group is far too fine a task at cluster (or local[32]) scale,
  * and per-task overhead dominated large scans when every row group was
  * its own partition (measured: TPC-H Q1 at 64×, 608 single-rg tasks
  * 1.45 s vs packed ~0.5 s). Chunks let one split span MANY SMALL FILES
  * too (streaming-ingested tables before compaction), like Spark's
  * `FilePartition`. */
case class FlsInputPartition(chunks: Array[FlsFileChunk],
    /** Catalyst-internal partition-key values (UTF8String/Int/Long/…)
      * in `partDisc.keys` order; non-null ONLY when the scan reports
      * KeyGroupedPartitioning, in which case every row in this split is
      * guaranteed to carry exactly this key (storage-partitioned-join
      * contract). Spark consults [[partitionKey]] only when grouping. */
    keyVals: Array[Any] = null)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {

  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyVals)
}

object FlsInputPartition {
  def single(file: String, rg: RowGroupDesc, cols: Array[ColumnDesc],
      rowStart: Long, fileIndex: Int,
      pvals: Map[String, String] = Map.empty): FlsInputPartition =
    FlsInputPartition(Array(
      FlsFileChunk(file, Array(rg), Array(rowStart), cols, fileIndex, pvals)))
}

/** A file's scan context besides its footer: what every one of its row
  * groups carries into the reader. */
final case class FlsFileCtx(
    fileIdx: Int,
    pvals: Map[String, String] = Map.empty,
    dv: Option[String] = None,
    eq: Seq[String] = Nil,
    cdf: Option[FlsCdfChunkSpec] = None)

/** One prunable/packable unit: a single row group of a single file. */
case class FlsRgUnit(file: String, cols: Array[ColumnDesc], ctx: FlsFileCtx,
    rg: RowGroupDesc, rowStart: Long)

/** THE row-group planner of every fls read — batch scan, file stream
  * and change feed: one file's footer plus its context become that
  * file's [[FlsRgUnit]]s, on the driver, once (≙ the reference's
  * row-group filter, `src/reader/row_group_filter.cpp:20-199`). A
  * group is kept when its zone maps may match every filter
  * (`sizeVirtuals` compare `<col>_size` filters against LIST
  * element-count bounds). `wholeFile` (row-level group scans) keeps
  * every group of a file in which any group may match: the replace
  * write gets back exactly what the scan returns. */
object FlsRgPlanner {
  def plan(file: String, table: TableDesc, ctx: FlsFileCtx, filters: Array[Filter],
      sizeVirtuals: Map[String, String], wholeFile: Boolean = false): Seq[FlsRgUnit] = {
    val nameToIdx = table.columns.map(_.name).zipWithIndex.toMap
    val starts = table.rowGroups.scanLeft(0L)(_ + _.nTuples)
    val may = table.rowGroups.indices.filter(g => FlsZoneMap.mayMatch(table.rowGroups(g),
      nameToIdx, table.columns, filters, starts(g), sizeVirtuals))
    val kept = if (wholeFile && may.nonEmpty) table.rowGroups.indices else may
    kept.map(g => FlsRgUnit(file, table.columns, ctx, table.rowGroups(g), starts(g)))
  }
}

/** Parquet-style split packing (mirrors Spark's
  * `FilePartition.maxSplitBytes` + packing loop): row groups cost
  * `bytes + openCostInBytes`; the split target adapts to
  * `totalBytes / defaultParallelism`, clamped to
  * [openCostInBytes, maxPartitionBytes]. Small tables therefore keep
  * one row group per split (openCost dominates — pruning granularity
  * unchanged) while large scans get ~core-count splits instead of
  * thousands of 64Ki-row tasks, and many-small-files tables scan with
  * sane task counts (splits span files via chunks). */
object FlsSplitPacking {
  def pack(units: Seq[FlsRgUnit],
      session: org.apache.spark.sql.SparkSession): Array[InputPartition] = {
    if (units.isEmpty) return Array.empty
    val conf = session.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    def cost(u: FlsRgUnit): Long = u.rg.segments.map(_.length).sum + openCost
    val totalBytes = units.map(cost).sum
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(session.sparkContext.defaultParallelism)
    val target = math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, totalBytes / math.max(1, minPartitionNum)))
    val out = mutable.ArrayBuffer[InputPartition]()
    val chunks = mutable.ArrayBuffer[FlsFileChunk]()
    val rgs = mutable.ArrayBuffer[RowGroupDesc]()
    val starts = mutable.ArrayBuffer[Long]()
    var cur: FlsRgUnit = null
    var curCost = 0L
    def sealChunk(): Unit = if (rgs.nonEmpty) {
      chunks += FlsFileChunk(cur.file, rgs.toArray, starts.toArray, cur.cols,
        cur.ctx.fileIdx, cur.ctx.pvals, cur.ctx.dv, cur.ctx.cdf, cur.ctx.eq)
      rgs.clear(); starts.clear()
    }
    def flush(): Unit = {
      sealChunk()
      if (chunks.nonEmpty) {
        out += FlsInputPartition(chunks.toArray)
        chunks.clear(); curCost = 0L
      }
    }
    units.foreach { u =>
      if (cur != null && curCost + cost(u) > target) flush()
      // a CDF feed can scan the SAME file under two branch contexts
      // (e.g. rows deleted then restored) — never merge across them
      else if (cur != null && (u.file != cur.file || u.ctx.cdf != cur.ctx.cdf)) sealChunk()
      cur = u
      rgs += u.rg
      starts += u.rowStart
      curCost += cost(u)
    }
    flush()
    out.toArray
  }
}

class FlsReaderFactory private (readSchema: StructType, conf: SerializableConfiguration,
    stringDictionary: Option[Boolean], sizeBase: Map[String, String],
    rowFilters: Array[Filter], filterKeepRatio: Double, stringDictAutoRows: Long)
  extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("fls scan is columnar-only")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new FlsPartitionReader(partition.asInstanceOf[FlsInputPartition], readSchema, conf.value,
      stringDictionary, sizeBase, rowFilters, filterKeepRatio, stringDictAutoRows)
}

object FlsReaderFactory {
  /** THE reader configuration of every fls read: the only reader of the
    * `array_size`, `string_dictionary` (tri-state: explicit true/false
    * wins, absent = size-adaptive), `string_dictionary_auto_rows` and
    * `filter_keep_ratio` options. `rowFilters` are the conjuncts the
    * reader applies as selection vectors — none for a row-level group
    * scan, whose replace write needs every row of the kept files back. */
  def apply(readSchema: StructType, options: CaseInsensitiveStringMap,
      hadoopConf: Configuration, rowFilters: Array[Filter] = Array.empty): FlsReaderFactory =
    new FlsReaderFactory(readSchema, new SerializableConfiguration(hadoopConf),
      if (options.containsKey("string_dictionary"))
        Some(options.getBoolean("string_dictionary", false)) else None,
      FlsVirtual.sizeVirtuals(options), rowFilters,
      options.getDouble("filter_keep_ratio", 0.0),
      options.getLong("string_dictionary_auto_rows", 512L * 1024))
}

// --------------------------------------------------------------- write

class FlsWriteBuilder(info: LogicalWriteInfo,
    /** The owning table's options — SQL `INSERT INTO` arrives with EMPTY
      * write options, so path/commit_mode/etc. must fall back to what
      * `CREATE TABLE ... USING fls OPTIONS (...) LOCATION ...` declared.
      * Write-time options (DataFrame API `.option(...)`) still win. */
    tableOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
  private var doTruncate = false
  private var overwriteFilters: Option[Array[Filter]] = None
  private var dynamicOverwrite = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  /** `INSERT OVERWRITE ... PARTITION (k=v)` / static-mode overwrite:
    * replace exactly the rows the filter matches. A trivial filter is
    * a truncate; otherwise every existing file must be DECIDED by the
    * filter (partition values or zone maps, FlsDelete.verdicts) —
    * checked fail-fast before tasks run AND re-checked at commit. */
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    if (filters.isEmpty || filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
      doTruncate = true
    else overwriteFilters = Some(filters)
    this
  }

  /** `INSERT OVERWRITE` in dynamic partition-overwrite mode: replace
    * exactly the partitions the new rows land in. */
  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamicOverwrite = true
    this
  }

  protected val merged: LogicalWriteInfo =
    if (tableOptions == null || tableOptions.isEmpty) info
    else {
      val m = new java.util.HashMap[String, String](tableOptions)
      m.putAll(info.options())
      val o = new CaseInsensitiveStringMap(m)
      new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap = o
        override def queryId(): String = info.queryId()
        override def schema(): StructType = info.schema()
      }
    }

  override def build(): Write =
    new FlsWrite(merged, doTruncate, overwriteFilters, dynamicOverwrite,
      session = session)
}

/** Physical-layout contract of an fls write, declared to Spark through
  * [[RequiresDistributionAndOrdering]] so the planner inserts the
  * exchange/sort BEFORE rows reach the writer tasks:
  *
  *   - `partition_by=dt,country` — partition columns become the leading
  *     distribution + ordering keys. Without this, a W-task write over a
  *     table with P live partition values produces up to W×P files (every
  *     task holds every partition open); at cluster scale that is the
  *     small-files explosion. Distributed+sorted, each partition value
  *     lands in a handful of tasks and each task streams through its
  *     values IN ORDER, so the writer holds ~1 partition dir open at a
  *     time (max_open_partitions pressure gone).
  *   - `cluster_by=c1,c2:desc` — GLOBAL range clustering: rows are
  *     range-distributed and sorted on the listed columns, so files
  *     carry disjoint value ranges and the scan-side zone maps
  *     (FlsZoneMap) skip whole row groups/files on point/range filters.
  *   - `sort_by=c1,c2:desc` — per-TASK sort only (no extra shuffle):
  *     tightens per-row-group zone maps and groups dictionary/RLE runs
  *     without paying a global exchange.
  *   - `write_distribution=ordered|clustered|none` — override. `ordered`
  *     (default) range-partitions on partition+cluster keys, splitting a
  *     skewed partition value across tasks; `clustered` hash-partitions
  *     (exact co-location: at most one file set per value per write, but
  *     a hot value serializes into one task); `none` restores the
  *     shuffle-free legacy behavior.
  *   - `target_file_bytes=N` — advisory shuffle-partition size; with AQE
  *     on, Spark coalesces/splits the write-side shuffle so each task —
  *     and therefore each rotated file chain — lands near N bytes. The
  *     knob that replaces "guess the right repartition(n)" at 100 TB.
  *
  * Ordering is declared as partition cols ++ cluster cols ++ sort cols;
  * distribution only exists when partition/cluster keys do, so a plain
  * unoptioned write keeps its exchange-free plan. Applies to batch AND
  * streaming epochs (each micro-batch is planned with the same
  * contract). */
class FlsWrite(merged: LogicalWriteInfo, doTruncate: Boolean,
    overwriteFilters: Option[Array[Filter]] = None,
    dynamicOverwrite: Boolean = false,
    replaceFilesThunk: Option[() => Seq[String]] = None,
    replacedDvThunk: Option[() => Map[String, String]] = None,
    replacedEqThunk: Option[() => Set[String]] = None,
    /** The manifest `#op` tag to stamp instead of the default
      * append/overwrite — copy-on-write row-level operations pass their
      * real command (delete/update/merge) so `.history` and the
      * change-data-feed see what the commit WAS, not how it was
      * physically executed. */
    opOverride: Option[String] = None,
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution => V2Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder => V2SortOrder}

  private val opts = merged.options()
  private val layout = FlsWriteLayout.parse(opts, merged.schema())

  override def requiredDistribution(): V2Distribution = {
    val keys = layout.distributionKeys
    if (keys.isEmpty || layout.mode == "none") Distributions.unspecified()
    else if (layout.mode == "clustered")
      Distributions.clustered(keys.map(c => Expressions.column(c)).toArray)
    else Distributions.ordered(keys.map(c =>
      Expressions.sort(Expressions.column(c), SortDirection.ASCENDING)).toArray)
  }

  override def requiredOrdering(): Array[V2SortOrder] =
    layout.ordering.map { case (c, desc) =>
      Expressions.sort(Expressions.column(c),
        if (desc) SortDirection.DESCENDING else SortDirection.ASCENDING)
    }.toArray

  override def requiredNumPartitions(): Int = 0

  override def advisoryPartitionSizeInBytes(): Long = layout.targetBytes

  override def toBatch: BatchWrite =
    new FlsBatchWrite(merged, doTruncate,
      overwriteFilters = overwriteFilters, dynamicOverwrite = dynamicOverwrite,
      replaceFilesThunk = replaceFilesThunk, replacedDvThunk = replacedDvThunk,
      replacedEqThunk = replacedEqThunk,
      opOverride = opOverride, session = session)
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(!doTruncate && overwriteFilters.isEmpty && !dynamicOverwrite,
      "fls streaming sink supports Append output mode only (complete/update " +
        "would truncate the table every trigger)")
    new FlsStreamingWrite(merged, session)
  }
}

/** Parsed write-layout options (shared by [[FlsWrite]]'s plan-side
  * declaration and [[FlsBatchWrite]]'s validation). `c:desc` / `c:asc`
  * suffixes pick the direction; bare names are ascending. */
case class FlsWriteLayout(partitionBy: Seq[String], clusterBy: Seq[(String, Boolean)],
    sortBy: Seq[(String, Boolean)], mode: String, targetBytes: Long) {
  /** partition + cluster columns, in declaration order — the keys rows
    * are exchanged on when a distribution is requested. */
  def distributionKeys: Seq[String] = partitionBy ++ clusterBy.map(_._1)
  /** Full per-task ordering: partition cols first (groups the writer's
    * open-partition set), then cluster, then sort columns. */
  def ordering: Seq[(String, Boolean)] =
    (if (mode == "none") Nil else partitionBy.map(_ -> false)) ++ clusterBy ++ sortBy
}

object FlsWriteLayout {
  private def parseCols(spec: String): Seq[(String, Boolean)] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { tok =>
      tok.split(":").map(_.trim) match {
        case Array(c) => c -> false
        case Array(c, d) if d.equalsIgnoreCase("asc") => c -> false
        case Array(c, d) if d.equalsIgnoreCase("desc") => c -> true
        case _ => throw new IllegalArgumentException(
          s"fls: bad sort spec '$tok' — use col, col:asc or col:desc")
      }
    }

  def parse(options: CaseInsensitiveStringMap, schema: StructType): FlsWriteLayout = {
    val partitionBy = Option(options.get("partition_by"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val clusterBy = Option(options.get("cluster_by")).map(parseCols).getOrElse(Nil)
    val sortBy = Option(options.get("sort_by")).map(parseCols).getOrElse(Nil)
    val mode = Option(options.get("write_distribution")).getOrElse("ordered")
    require(mode == "ordered" || mode == "clustered" || mode == "none",
      s"fls: write_distribution must be ordered, clustered or none, got '$mode'")
    val targetBytes = options.getLong("target_file_bytes", 0L)
    require(targetBytes >= 0, s"fls: target_file_bytes must be >= 0, got $targetBytes")
    (clusterBy ++ sortBy).foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"fls: sort/cluster column '$c' not in the written schema")
      require(!partitionBy.contains(c),
        s"fls: column '$c' is a partition column — it already leads the write ordering")
    }
    val dup = (clusterBy.map(_._1) ++ sortBy.map(_._1)).diff(
      (clusterBy.map(_._1) ++ sortBy.map(_._1)).distinct)
    require(dup.isEmpty, s"fls: duplicate sort/cluster column(s): ${dup.distinct.mkString(",")}")
    FlsWriteLayout(partitionBy, clusterBy, sortBy,
      if (partitionBy.isEmpty && clusterBy.isEmpty) "none" else mode, targetBytes)
  }
}

/** `writeStream.format("fls")` — the continuous-ingestion sink. Each
  * micro-batch epoch runs as one append job through the SAME commit
  * protocol as batch writes (staged rename or manifest publish), with
  * a DETERMINISTIC writeId (`<queryId>-e<epoch>`), so a replayed epoch
  * (driver crash between the sink commit and Spark's commit log)
  * converges instead of duplicating. On a manifest table each version
  * records every query's last committed epoch, and a replay of a
  * recorded epoch publishes nothing: the first committed attempt stays,
  * as in Spark's own file sink. A listing-mode replay publishes over
  * the prior attempt's final names and retires any other file of the
  * same writeId; those files wait in the job's staging tree until the
  * commit ends, so an epoch abort puts them back. Idle triggers on a
  * populated table commit nothing (no schema-only file per empty
  * epoch). Composes with `partition_by`, `commit_mode=manifest`, and
  * the fls STREAMING READ — an fls-to-fls pipeline is readStream →
  * transform → writeStream. */
class FlsStreamingWrite(info: LogicalWriteInfo,
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def forEpoch(epochId: Long): FlsBatchWrite =
    new FlsBatchWrite(info, doTruncate = false,
      epoch = Some((info.queryId(), epochId)), session = session)

  override def createStreamingWriterFactory(
      pInfo: PhysicalWriteInfo): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // Spark asks for a factory once per micro-batch, so each batch
    // resolves the options, runs the layout guard and decides direct
    // writes from the table as it is then; writers swap in the epoch's
    // writeId. Task ids restart at 0 in a restarted driver, so direct
    // names also carry a tag of this attempt: a replay never writes over
    // the files of the attempt its manifest recorded.
    val base = forEpoch(0L).createBatchWriterFactory(pInfo).asInstanceOf[FlsWriterFactory]
    FlsStreamingWriterFactory(
      base.copy(attemptTag = "-" + UUID.randomUUID().toString.take(8)),
      info.queryId())
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    forEpoch(epochId).commit(messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    forEpoch(epochId).abort(messages)
}

case class FlsStreamingWriterFactory(base: FlsWriterFactory, queryId: String)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    base.copy(writeId = s"$queryId-e$epochId").createWriter(partitionId, taskId)
}

/** Job-level write coordination. Tasks stage files under
  * `_temporary/<writeId>/<attempt>/` and leave them there on task commit
  * (see [[FlsDataWriter]]); job `commit` moves EXACTLY the files named in
  * the commit messages to their final names ([[FlsCommit.publish]]) —
  * the one point where a staged file becomes visible — and only then,
  * in listing mode, removes what the write replaces (truncate, filter
  * or dynamic overwrite, row-level replace) and any stale same-writeId
  * file a retried epoch's prior attempt left, so old data survives until
  * the new data is fully committed. Removal moves those files aside into
  * the job's staging tree, dropped when the commit ends. `abort` deletes
  * the message-named files this job already moved, puts back what the
  * commit set aside, then drops the staging dir. */
class FlsBatchWrite(info: LogicalWriteInfo, doTruncate: Boolean,
    /** A streaming epoch `(queryId, epoch)`. Its writeId is
      * deterministic, `<queryId>-e<epoch>`, so a replay finds what a
      * prior attempt left: a manifest commit publishes nothing for an
      * epoch the head records, and a listing-mode commit publishes over
      * the prior attempt's final names and retires its other files. An
      * epoch with zero rows adds no schema-only file to a populated
      * table. Batch writes take a random writeId. */
    epoch: Option[(String, Long)] = None,
    /** `INSERT OVERWRITE` by filter: existing files the filter decides
      * TRUE are replaced at commit; a file it cannot decide aborts. */
    overwriteFilters: Option[Array[Filter]] = None,
    /** Dynamic partition overwrite: existing files in every partition
      * directory the committed files touch are replaced at commit. */
    dynamicOverwrite: Boolean = false,
    /** Row-level operation (UPDATE/MERGE/copy-on-write DELETE): the
      * commit replaces exactly the files the operation's group scan
      * read (absolute paths, supplied after the scan planned). */
    replaceFilesThunk: Option[() => Seq[String]] = None,
    /** Scan-time delete-vector pointers of the replaced files (abs
      * file path -> abs DV path): the commit aborts if a concurrent
      * merge-on-read DELETE re-vectored one of them after the scan —
      * the replacement rows were built WITHOUT those deletions. */
    replacedDvThunk: Option[() => Map[String, String]] = None,
    /** Scan-time equality-delete residuals of the replaced files: the
      * commit aborts if a NEW predicate applies to one of them — the
      * replacement rows were built without it, and their fresh birth
      * version would carry them out of its scope. */
    replacedEqThunk: Option[() => Set[String]] = None,
    /** Manifest `#op` tag override (copy-on-write row-level ops pass
      * their real command — delete/update/merge). */
    opOverride: Option[String] = None,
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active) extends BatchWrite {
  private val options = info.options()
  private val path = FlsDataSource.parsePaths(options).headOption
    .getOrElse(throw new IllegalArgumentException("fls write: no path"))
  private val rowGroupSize = options.getInt("row_group_size", DefaultRowGroupSize)
  private val rowGroupsPerFile = options.getInt("row_groups_per_file", 0)
  private val inlineFooter = options.getBoolean("inline_footer", true)
  private val transpose = options.getBoolean("transpose", false)
  /** Hive-style partitioned write: `partition_by=dt,country` routes rows
    * into `dt=.../country=.../` subdirectories (values live in the path,
    * not the data files — see FlsPartitioning). */
  private val partitionBy: Seq[String] =
    Option(options.get("partition_by")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
  private val maxOpenPartitions = options.getInt("max_open_partitions", 1000)
  /** `ndv_columns=k1,k2`: sketch these columns' distinct counts per
    * file into the manifest stats ([[graft.fls.Hll]]) — plan-time CBO
    * distinct counts on a cold driver, zero footer reads. */
  private val ndvColumns: Seq[String] =
    Option(options.get("ndv_columns")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
  /** `bloom_columns=id` (+ `bloom_fpp`): per-file Bloom sidecars for
    * point-lookup file skipping ([[graft.fls.Bloom]], manifest
    * tables). */
  private val bloomColumns: Seq[String] =
    Option(options.get("bloom_columns")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
  private val bloomFpp = options.getDouble("bloom_fpp", 0.01)
  private val stagingTtlMs =
    options.getLong("staging_ttl_hours", 24L) * 3600L * 1000L
  private val commitMode: Option[String] = {
    val m = Option(options.get("commit_mode"))
    require(m.forall(v => v == "rename" || v == "manifest"),
      s"fls: commit_mode must be 'rename' or 'manifest', got '${m.get}'")
    m
  }
  /** A table with a manifest always commits through it: readers plan
    * from the manifest, and only a new version keeps the table's
    * history, time travel and tags. `commit_mode` picks the mode only
    * for a table without one. `rename` (default): job commit renames
    * the staged files to final names — atomic per file on HDFS/local.
    * `manifest`: job commit also atomically publishes `_fls_manifest`
    * naming the exact table contents (see [[graft.fls.FlsManifest]]).
    * Decided at job commit, so a job that planned before another job's
    * first manifest commit still lands in the manifest. */
  private def viaManifest(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean =
    commitMode.contains("manifest") || graft.fls.FlsManifest.exists(fs, dir)
  private val writeId = epoch.map { case (q, e) => s"$q-e$e" }
    .getOrElse(UUID.randomUUID().toString)

  partitionBy.foreach { c =>
    require(info.schema().fieldNames.contains(c),
      s"fls: partition_by column '$c' not in the written schema")
  }

  require(rowGroupSize > 0 && rowGroupSize % VecSize == 0,
    // reference writer requires a multiple of the vector size
    // (/root/reference/src/include/writer/fls_writer.hpp:13)
    s"fls: row_group_size must be a positive multiple of $VecSize, got $rowGroupSize")

  private def hadoopConf: Configuration =
    session.sessionState.newHadoopConf()

  /** "" for root files, the dir-relative partition path otherwise. */
  private def parentRel(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory = {
    val conf = hadoopConf
    val dir = new Path(path)
    dir.getFileSystem(conf).mkdirs(dir)
    // Tasks write attempt-unique final names directly only when a
    // manifest already hides them until a version names them — the
    // object-store-safe path, no renames. Otherwise they stage, and
    // nothing of this job is visible before its commit.
    val directWrite = graft.fls.FlsManifest.exists(dir.getFileSystem(conf), dir)
    require(!(directWrite && commitMode.contains("rename")),
      s"fls: commit_mode=rename on $path, which has a manifest — a " +
        "manifest table commits through its manifest; drop the option")
    require(bloomColumns.isEmpty || directWrite || commitMode.contains("manifest"),
      "fls: bloom_columns needs commit_mode=manifest — the sidecar pointer " +
        "lives in manifest stats (listing-mode tables have nowhere to " +
        "record it)")
    overwriteFilters.foreach { fls =>
      // fail BEFORE tasks run when the filter cannot decide a file;
      // commit re-checks (concurrent appends) with the same contract
      val existing = graft.fls.FlsFile.listDataFiles(dir, conf)
      val cls = FlsDelete.verdicts(info.schema(), path, None, fls, existing, conf)
      val straddler = existing.find(f => cls(f.toString) == FileVerdict.Straddle)
      straddler.foreach { f =>
        throw new IllegalArgumentException(
          s"fls: INSERT OVERWRITE filter does not decide file $f whole — " +
            "overwrite by filter replaces whole files (partition values or " +
            "zone maps must decide every file); use DELETE + append, or a " +
            "partition-aligned filter")
      }
    }
    if (!doTruncate) {
      // appending with a partition layout different from the table's
      // would silently produce a mixed layout (discovery turns off and
      // the partition columns vanish, then rows fail to materialize at
      // read time) — fail here, before any task runs. Cost-bounded: one
      // TOP-LEVEL listStatus decides; the full recursive discovery only
      // runs when this write or the existing table is partitioned (a
      // flat append onto a flat 100k-file table must not pay a
      // recursive walk per write).
      val fs = dir.getFileSystem(conf)
      val top =
        try fs.listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      val existingPartitioned = top.exists(s =>
        s.isDirectory && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") && s.getPath.getName.contains('='))
      if (partitionBy.nonEmpty || existingPartitioned) {
        val existing = graft.fls.FlsFile.listDataStatuses(dir, conf)
        if (existing.nonEmpty) {
          val disc = FlsPartitioning.discover(Seq(path), existing.map(_.getPath), conf)
          // spec_evolved (set by CALL system.evolve_partition_spec —
          // the recorded intent) sanctions a DIFFERENT layout for new
          // files: old generations keep serving under their own spec,
          // the scan unions per-file layouts. Without it a layout
          // mismatch stays a loud error (an accidental mixed layout
          // silently loses partition columns at read time).
          require(disc.keys == partitionBy ||
              options.getBoolean("spec_evolved", false),
            s"fls: append with partition_by=[${partitionBy.mkString(",")}] does not match " +
              s"the existing table's partition layout [${disc.keys.mkString(",")}] — " +
              "use the table's own partition columns, overwrite the table, or " +
              "evolve the spec first (CALL <cat>.system.evolve_partition_spec)")
        }
      }
    }
    FlsWriterFactory(path, info.schema(), rowGroupSize, rowGroupsPerFile,
      new SerializableConfiguration(conf), writeId, inlineFooter, transpose,
      partitionBy, maxOpenPartitions, directWrite, ndvColumns,
      bloomColumns, bloomFpp)
  }

  /** Recursively visit managed (.fls/.fls.footer) files under `dir`
    * with their dir-relative paths — the same walk (and hidden-entry
    * convention) the read-side listing uses. */
  private def walkManaged(fs: org.apache.hadoop.fs.FileSystem, dir: Path)(
      visit: (org.apache.hadoop.fs.FileStatus, String) => Unit): Unit =
    graft.fls.FlsFile.walkFiles(fs, dir, FlsCommit.ManagedSuffixes)(visit)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val conf = hadoopConf
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val manifestMode = viaManifest(fs, dir)
    // write-audit-publish: `branch=<name>` commits this write to the
    // named branch lineage — data files land in the table directory
    // as always (attempt-unique), but only the branch's manifest
    // vouches for them; main readers never see them until
    // system.fast_forward republishes the branch head
    val branch = FlsDataSource.branchRef(options)
    require(manifestMode || branch == graft.fls.FlsManifest.MainRef,
      "fls: branch writes need commit_mode=manifest — the branch IS a " +
        "manifest lineage")
    var committedLen = messages.flatMap {
      case FlsCommitMessage(files, lengths, _, _) => files.zip(lengths) // dir-relative paths
      case _ => Array.empty[(String, Long)]
    }.toMap
    // per-file stats JSON by rel path (manifest-level pruning); absent
    // for the driver-side empty-write and legacy messages
    val committedStats: Map[String, String] = messages.flatMap {
      case FlsCommitMessage(files, _, stats, _) if stats.length == files.length =>
        files.zip(stats).filter(_._2 != null)
      case _ => Array.empty[(String, String)]
    }.toMap
    // the head's pointer lines, no chunk opened
    lazy val headLayout = if (!manifestMode) None else graft.fls.FlsManifest
      .readLayoutVersioned(fs, dir, branch, resolveChunks = false).map(_._2)
    if (committedLen.isEmpty && epoch.isDefined && (headLayout match {
        case Some(h) => h.entries.nonEmpty || h.pointers.exists(_.count > 0)
        case None => graft.fls.FlsFile.listDataStatuses(dir, conf).nonEmpty
      })) {
      // an idle trigger on a populated table: nothing to publish; drop
      // whatever a prior attempt of this epoch staged
      FlsCommit.removeStaging(fs, dir, writeId)
      return
    }
    if (committedLen.isEmpty && dynamicOverwrite) {
      // dynamic overwrite with zero rows touches zero partitions —
      // classic Hive semantics: a no-op, never a truncate
      FlsCommit.removeStaging(fs, dir, writeId)
      return
    }
    if (epoch.exists(e => headLayout.exists(graft.fls.FlsManifest.recordsEpoch(_, e)))) {
      // a replay of an epoch the manifest records publishes nothing
      // (the commit below would skip it too, but a staged replay must
      // not first move its files onto the names the recorded entries
      // point at)
      FlsCommit.removeStaging(fs, dir, writeId)
      return
    }
    // staged (rename-mode) files become visible here and only here:
    // exactly the files the messages name, from the attempts that
    // committed. An empty result set adds one schema-only file so a
    // later read sees the schema instead of "no .fls files" — the DSv2
    // analog of parquet's empty-write behavior.
    val staged = messages.toSeq.flatMap {
      case FlsCommitMessage(files, _, _, staging) if staging != null =>
        files.toSeq.map(rel => new Path(staging, rel) -> rel)
      case _ => Nil
    }
    val emptyFile =
      if (committedLen.isEmpty && overwriteFilters.isEmpty && replaceFilesThunk.isEmpty)
        stageSchemaOnly(conf, dir, f"part-${0}%05d-$writeId-${0}%04d.fls")
      else Nil
    // a replayed epoch reuses its names: the prior attempt's files go
    // aside, where an abort finds them again
    val aside = FlsCommit.asideDir(dir, writeId)
    committedLen ++= FlsCommit.publish(fs, dir, staged ++ emptyFile,
      epoch.map(_ => aside))
    val committed = committedLen.keySet

    /** Row-level replace set as dir-relative paths. */
    lazy val replacedRels: Set[String] = replaceFilesThunk match {
      case None => Set.empty
      case Some(thunk) =>
        val qdir = fs.makeQualified(dir).toString.stripSuffix("/") + "/"
        thunk().map { abs =>
          require(abs.startsWith(qdir),
            s"fls replace: scanned file $abs is outside the table root $qdir")
          abs.stripPrefix(qdir)
        }.toSet
    }

    /** `INSERT OVERWRITE` replacement set: existing data-file rels the
      * overwrite filter decides TRUE (whole-file replacement, verdicts
      * from partition values or zone maps — FlsDelete), or, in dynamic
      * mode, every file in a partition directory the new files touch.
      * A file the filter cannot decide aborts the job — the table is
      * rolled back untouched. */
    def doomedAmong(rels: Seq[String]): Set[String] = {
      if (replaceFilesThunk.isDefined)
        return rels.filter(replacedRels.contains).toSet
      if (overwriteFilters.isEmpty && !dynamicOverwrite) return Set.empty
      val dataRels = rels.filter(_.endsWith(".fls")).filterNot(committed.contains)
        .filterNot(_.contains(s"-$writeId-"))
      if (dynamicOverwrite) {
        val touched = committed.filter(_.endsWith(".fls")).map(parentRel)
        dataRels.filter(r => touched.contains(parentRel(r))).toSet
      } else {
        val files = dataRels.map(r => new Path(dir, r))
        val cls = FlsDelete.verdicts(info.schema(), path, None,
          overwriteFilters.get, files, conf)
        dataRels.zip(files).foreach { case (r, f) =>
          if (cls(f.toString) == FileVerdict.Straddle)
            throw new IllegalStateException(
              s"fls: INSERT OVERWRITE filter does not decide file $r whole " +
                "(a file added since planning straddles it) — aborting; " +
                "nothing replaced")
        }
        dataRels.zip(files).collect {
          case (r, f) if cls(f.toString) == FileVerdict.Drop => r
        }.toSet
      }
    }

    // whether the job can remove existing files beyond a truncate
    val removes = overwriteFilters.isDefined || dynamicOverwrite ||
      replaceFilesThunk.isDefined
    if (manifestMode) {
      // The publish is a CAS retry loop (FlsManifest.commit): this job
      // applies its change to whatever version is newest AT PUBLISH
      // TIME, so two concurrent appenders both land — the loser
      // recomputes and retries, metadata-only (data files are
      // attempt-unique). A plain append names no existing entry, so it
      // opens no chunk; a streaming epoch is such an append, skipped if
      // a concurrent attempt recorded it first.
      val newEntries = committedLen.collect {
        case (rel, len) if rel.endsWith(".fls") =>
          graft.fls.FlsManifest.Entry(rel, len, 0L, committedStats.getOrElse(rel, null))
      }.toSeq
      require(branch == graft.fls.FlsManifest.MainRef ||
          replaceFilesThunk.isEmpty,
        "fls: row-level operations on a branch are not supported — " +
          "branch writes are append/overwrite lineages for " +
          "write-audit-publish; run DML after fast_forward")
      val manifestOp = opOverride.getOrElse(
        if (doTruncate) "overwrite" else "append")
      graft.fls.FlsManifest.commit(fs, dir, writeId, conf, op = manifestOp,
          ref = branch, stream = epoch) { head =>
        // appending onto a pre-manifest (listing-mode) table: seed the
        // manifest from one last recursive listing — without this job's
        // own uncommitted attempt files
        val seeded = scala.collection.mutable.ArrayBuffer[graft.fls.FlsManifest.Entry]()
        if (!head.exists && !doTruncate) walkManaged(fs, dir) { (s, rel) =>
          if (rel.endsWith(".fls") && !committed.contains(rel) &&
              !rel.contains(s"-$writeId-"))
            seeded += graft.fls.FlsManifest.Entry(rel, s.getLen, s.getModificationTime)
        }
        val gone: Set[String] =
          if (doTruncate) head.entries.map(_.rel).toSet
          else if (!removes) Set.empty
          else {
            val base = head.entries ++ seeded
            // Row-level replace: the replacement rows were built from
            // the group scan's view — if a concurrent merge-on-read
            // DELETE re-vectored one of the replaced files since, the
            // swap would silently undo those deletions. Abort instead.
            replacedDvThunk.foreach { t =>
              val qdir = fs.makeQualified(dir).toString.stripSuffix("/") + "/"
              val scanDvByRel = t().map { case (f, d) =>
                f.stripPrefix(qdir) -> new Path(d).getName
              }
              base.foreach { e =>
                if (replacedRels.contains(e.rel) &&
                    graft.fls.FlsFileStats.dvOf(e.stats) != scanDvByRel.get(e.rel))
                  throw new java.util.ConcurrentModificationException(
                    s"fls replace: a concurrent DELETE re-vectored ${e.rel} " +
                      "after the operation's scan — rerun the operation")
              }
            }
            // same class of conflict for EQUALITY deletes: a predicate
            // committed after the group scan applies to the replaced
            // files, but the replacement rows were built without it
            replacedEqThunk.foreach { t =>
              val scanEq = t()
              val fresh = head.eq.filterNot(scanEq.contains).filter { j =>
                val pv = graft.fls.FlsEqDeletes.versionOf(j)
                base.exists(e => replacedRels.contains(e.rel) &&
                  graft.fls.FlsFileStats.birthOf(e.stats) <= pv)
              }
              if (fresh.nonEmpty)
                throw new java.util.ConcurrentModificationException(
                  "fls replace: an equality delete committed after the " +
                    "operation's scan and applies to its targets — rerun " +
                    "the operation")
            }
            // INSERT OVERWRITE: re-classified per CAS attempt, so the
            // replacement set tracks the entry set actually committed
            // onto; replaced files stay on disk for vacuum (pinned readers)
            doomedAmong(base.map(_.rel))
          }
        graft.fls.FlsManifest.Delta(
          add = seeded.filterNot(e => gone.contains(e.rel)).toSeq ++ newEntries,
          removeRels = gone -- seeded.map(_.rel))
      }
    } else if (doTruncate || removes || epoch.isDefined) {
      // Listing mode, and the job can remove something: the directory
      // IS the table, so what the write replaces leaves it now — moved
      // into the job's staging tree, where an abort finds it again. (A
      // final name of this writeId not committed here is a replayed
      // epoch's prior attempt.) Manifest mode removes nothing: the new
      // version no longer names replaced files, pinned VERSION AS OF
      // readers still resolve them, and vacuum reclaims them with
      // every uncommitted attempt file.
      val listed = scala.collection.mutable.ArrayBuffer[(org.apache.hadoop.fs.FileStatus, String)]()
      walkManaged(fs, dir) { (s, rel) => listed += ((s, rel)) }
      val doomedNow =
        doomedAmong(listed.collect { case (_, rel) if rel.endsWith(".fls") => rel }.toSeq)
      listed.foreach { case (s, rel) =>
        val doomed = doomedNow.contains(rel) ||
          (rel.endsWith(".footer") && doomedNow.contains(rel.stripSuffix(".footer")))
        if (!committed.contains(rel) &&
            (s.getPath.getName.contains(s"-$writeId-") || doTruncate || doomed))
          FlsCommit.setAside(fs, dir, rel, aside)
      }
      if (doomedNow.nonEmpty && graft.fls.FlsFile.listDataStatuses(dir, conf).isEmpty)
        // a filter overwrite with zero new rows can empty the table —
        // leave it readable, like every other emptying path
        FlsCommit.publish(fs, dir,
          stageSchemaOnly(conf, dir, f"part-${0}%05d-$writeId-${9999}%04d.fls"))
    }
    FlsCommit.removeStaging(fs, dir, writeId)
    FlsCommit.sweepOrphans(fs, dir, writeId, stagingTtlMs)
  }

  /** Writes a schema-only (zero row group) file into this job's driver
    * staging dir, to be published under `name` like every task file: a
    * driver killed mid-write leaves no truncated final-named file. (A
    * partitioned table keeps only the DATA schema — there are no paths
    * to carry the partition values of zero rows.) */
  private def stageSchemaOnly(conf: Configuration, dir: Path,
      name: String): Seq[(Path, String)] = {
    val tmp = new Path(new Path(new Path(new Path(dir, FlsCommit.TempDirName),
      writeId), "driver"), name)
    new FlsFileWriter(tmp, conf,
      Format.physicalColumns(
        info.schema().fields.filterNot(f => partitionBy.contains(f.name)).toSeq),
      inlineFooter).close()
    (tmp -> name) +:
      (if (inlineFooter) Nil else Seq(graft.fls.FlsFile.footerPath(tmp) -> (name + ".footer")))
  }

  /** Only the job commit moves staged files to final names, and only the
    * ones its messages name. Abort undoes what a failed commit did: a
    * message-named final whose staged copy is gone is one this job moved,
    * and is deleted; a file the commit set aside (a file the write
    * replaces, or a replayed epoch's prior attempt) moves back. Every other final-named file is left alone —
    * another job owns it, or it is a direct write, which only happens
    * when a manifest already hides it, and vacuum reclaims. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(hadoopConf)
    messages.foreach {
      case FlsCommitMessage(files, _, _, staging) if staging != null =>
        files.foreach { rel =>
          FlsCommit.bestEffort(s"rolling back $rel under $dir") {
            if (!fs.exists(new Path(staging, rel))) fs.delete(new Path(dir, rel), false)
          }
        }
      case _ => ()
    }
    FlsCommit.restoreAside(fs, dir, FlsCommit.asideDir(dir, writeId))
    FlsCommit.removeStaging(fs, dir, writeId)
  }
}

case class FlsWriterFactory(
    dir: String,
    schema: StructType,
    rowGroupSize: Int,
    rowGroupsPerFile: Int,
    conf: SerializableConfiguration,
    writeId: String,
    inlineFooter: Boolean = true,
    transpose: Boolean = false,
    partitionBy: Seq[String] = Nil,
    maxOpenPartitions: Int = 1000,
    directWrite: Boolean = false,
    ndvColumns: Seq[String] = Nil,
    bloomColumns: Seq[String] = Nil,
    bloomFpp: Double = 0.01,
    /** Appended to direct-write names (streaming epochs). */
    attemptTag: String = "") extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // taskId is unique per task ATTEMPT, so speculative twins stage to
    // disjoint temp dirs and the job commit publishes only the files of
    // the attempt the commit coordinator let commit; the writeId level
    // keeps CONCURRENT JOBS' staging trees disjoint (commit/abort only
    // ever delete their own writeId subtree). In direct mode (the table
    // already has a manifest) the taskId goes INTO the final file name,
    // so twins write disjoint final files and only the committed
    // attempt's names enter the manifest.
    new FlsDataWriter(dir, schema, rowGroupSize, rowGroupsPerFile,
      conf.value,
      if (directWrite) f"part-$partitionId%05d-$writeId-$taskId$attemptTag"
      else f"part-$partitionId%05d-$writeId",
      s"$writeId/attempt-$partitionId-$taskId", inlineFooter, transpose,
      partitionBy, maxOpenPartitions, directWrite, ndvColumns,
      bloomColumns, bloomFpp)
}
