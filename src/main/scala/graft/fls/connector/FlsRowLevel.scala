package graft.fls.connector

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Group-based (copy-on-write) row-level operations: `UPDATE`,
  * `MERGE INTO`, and the copy-on-write leg of `DELETE` on shapes the
  * metadata path rejects (e.g. data-column predicates on partitioned
  * tables — `FlsDelete` still serves every decidable predicate
  * zero-read via Spark's metadata-only-delete optimization).
  *
  * The contract that makes this exact:
  *   - the operation's SCAN works at FILE granularity
  *     ([[FlsScan.groupGranularity]]): condition and runtime-group
  *     filters prune whole files only, and kept files are read WHOLE
  *     with scan-side row filters off — the rewritten data Spark hands
  *     the write is "all rows of the affected files, changes applied",
  *     so nothing can be silently lost;
  *   - the scan reports the kept file list into [[replacedFiles]]
  *     (last planning wins — AQE may re-plan after runtime filters
  *     narrow), and the WRITE's commit replaces exactly that list:
  *     listing mode lands the new files then removes the replaced ones;
  *     manifest mode publishes remove+add as ONE CAS version with the
  *     replaced inputs left for `vacuum` (pinned snapshots survive).
  *
  * Spark narrows the scan to affected groups via
  * RowLevelOperationRuntimeGroupFiltering over the scan's
  * `filterAttributes`, which for this scan is ONE column: the first
  * partition column, else the first `cluster_by` column, else the first
  * numeric one. One, because Spark folds all advertised columns into a
  * single `named_struct(..) IN (subquery)` and DSv2 hands the scan only
  * a single-column IN — with two columns nothing would be pruned. The
  * matched rows' values of that column then prune files by partition
  * value and zone map, so a MERGE or UPDATE touching one partition or
  * cluster range rewrites those files, not the table, and a MERGE that
  * matches nothing rewrites no file. The replacement write goes through
  * the normal layout contract (FlsWrite) — partition routing and
  * clustering survive. */
class FlsRowLevelOperation(
    cmd: Command,
    tableSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    /** Captured at construction — see [[FlsTable]]'s session note. */
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active) extends RowLevelOperation {

  /** Files the group scan last planned (absolute paths). */
  private val replacedFiles = new AtomicReference[Seq[String]](null)
  /** Scan-time DV pointer per kept file — the commit verifies these
    * are still current (a concurrent merge-on-read DELETE would
    * otherwise be silently undone by the rewrite). */
  private val replacedDvs =
    new AtomicReference[Map[String, String]](Map.empty)
  /** Scan-time equality-delete residuals of the kept files — the
    * commit aborts when a NEW predicate applies to them (replacement
    * rows were built without it). */
  private val replacedEq = new AtomicReference[Set[String]](Set.empty)

  override def command(): Command = cmd

  override def description(): String = s"fls row-level $cmd (copy-on-write)"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged =
      if (options == null || options.isEmpty) tableOptions
      else {
        val m = new java.util.HashMap[String, String](tableOptions)
        m.putAll(options)
        new CaseInsensitiveStringMap(m)
      }
    new FlsScanBuilder(tableSchema, merged, session) {
      override def build(): Scan = super.build() match {
        case f: FlsScan =>
          f.groupGranularity = true
          f.onPlanned = Some(files => replacedFiles.set(files))
          f.onPlannedDv = Some(dvs => replacedDvs.set(dvs))
          f.onPlannedEq = Some(eq => replacedEq.set(eq))
          f
        case other => other // aggregate pushdown never fires here
      }
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // Spark's group-based ReplaceData plan prepends the __row_operation
    // column (RowDeltaUtils.OPERATION_COLUMN) to the replacement rows,
    // but declares the write with the TABLE schema — and its
    // row-stripping projection is only applied when the operation
    // declares metadata attributes (ReplaceDataExec.writingTask falls
    // back to the plain DataWritingSparkTask otherwise). So rows reach
    // the writer one field WIDER than the declared schema; unstripped,
    // the operation value would land as a physical column and shift
    // the partition-routing ordinals (observed: k=<body value>
    // directories). OpStrippingBatchWrite drops the leading field per
    // row, numFields-guarded so a future Spark that projects upstream
    // passes through untouched.
    val dataSchema = info.schema()
    // the replacement rows carry the partition columns; the write must
    // route them back into the hive layout whether the table declared
    // partition_by or it was discovered from the directory
    val keys = discoveredKeys()
    val opts =
      if (keys.isEmpty || tableOptions.containsKey("partition_by")) tableOptions
      else {
        val m = new java.util.HashMap[String, String](tableOptions)
        m.put("partition_by", keys.mkString(","))
        new CaseInsensitiveStringMap(m)
      }
    val thunk: () => Seq[String] = () => {
      val files = replacedFiles.get()
      if (files == null) throw new IllegalStateException(
        "fls row-level write committed before its group scan planned — " +
          "cannot determine the replaced file set")
      files
    }
    new FlsWriteBuilder(info, opts, session) {
      override def build(): Write = {
        val underlying = new FlsWrite(merged, doTruncate = false,
          replaceFilesThunk = Some(thunk),
          replacedDvThunk = Some(() => replacedDvs.get()),
          replacedEqThunk = Some(() => replacedEq.get()),
          // history + the change-data-feed see the COMMAND (delete/
          // update/merge), not the physical append-of-replacements
          opOverride =
            Some(cmd.toString.toLowerCase(java.util.Locale.ROOT)),
          session = session)
        new org.apache.spark.sql.connector.write.Write
          with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def requiredDistribution() = underlying.requiredDistribution()
          override def requiredOrdering() = underlying.requiredOrdering()
          override def requiredNumPartitions() = underlying.requiredNumPartitions()
          override def advisoryPartitionSizeInBytes() =
            underlying.advisoryPartitionSizeInBytes()
          override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
            new OpStrippingBatchWrite(underlying.toBatch, dataSchema)
        }
      }
    }
  }

  private def discoveredKeys(): Seq[String] = {
    val declared = Option(tableOptions.get("partition_by"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (declared.nonEmpty) declared
    else scala.util.Try {
      val conf = session.sessionState.newHadoopConf()
      val paths = FlsDataSource.parsePaths(tableOptions)
      val files = graft.fls.FlsFooters.list(paths, conf,
        FlsDataSource.manifestVersion(tableOptions))
      FlsPartitioning.discover(paths, files.map(_.file), conf).keys
    }.getOrElse(Nil)
  }
}

/** Drops the leading __row_operation metadata column from every row
  * before it reaches the real fls writers. */
private[connector] class OpStrippingBatchWrite(
    inner: org.apache.spark.sql.connector.write.BatchWrite,
    dataSchema: StructType)
  extends org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, PhysicalWriteInfo, WriterCommitMessage}
  import org.apache.spark.sql.catalyst.InternalRow

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    OpStrippingFactory(inner.createBatchWriterFactory(info), dataSchema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = inner.commit(messages)
  override def abort(messages: Array[WriterCommitMessage]): Unit = inner.abort(messages)
  override def useCommitCoordinator(): Boolean = inner.useCommitCoordinator()
}

private[connector] case class OpStrippingFactory(
    inner: org.apache.spark.sql.connector.write.DataWriterFactory,
    dataSchema: StructType)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.catalyst.InternalRow

  override def createWriter(partitionId: Int, taskId: Long)
    : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val w = inner.createWriter(partitionId, taskId)
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
        dataSchema, (1 to dataSchema.length).toIndexedSeq)
      override def write(row: InternalRow): Unit =
        if (row.numFields == dataSchema.length) w.write(row) // already projected
        else {
          proj.project(row)
          w.write(proj)
        }
      override def commit() = w.commit()
      override def abort(): Unit = w.abort()
      override def close(): Unit = w.close()
    }
  }
}

class FlsRowLevelOperationBuilder(
    info: RowLevelOperationInfo,
    tableSchema: StructType,
    tableOptions: CaseInsensitiveStringMap,
    session: org.apache.spark.sql.SparkSession =
      org.apache.spark.sql.SparkSession.active) extends RowLevelOperationBuilder {
  /** Per-command mode knobs (Iceberg's write.<op>.mode shape):
    * `delete_mode` / `update_mode` / `merge_mode`, each
    * 'copy-on-write' (default — the group-based rewrite above) or
    * 'merge-on-read' (the delta operation: delete vectors + appended
    * rows, [[FlsDeltaOperation]]). `delete_mode` is shared with the
    * SupportsDelete path, so one knob governs BOTH delete legs. */
  override def build(): RowLevelOperation = {
    // branch lineages are append/overwrite-only (write-audit-publish):
    // the copy-on-write path refuses branch DML at commit
    // (FlsConnector's replaceFiles guard); refuse HERE, before the mode
    // dispatch, so the merge-on-read path can never scan a branch's
    // file list and then commit the DV/append to MAIN — that would
    // either fail with a misleading concurrent-modification error or,
    // on a fresh branch whose state still equals main's, silently
    // publish the DML to main and break the audit isolation.
    require(FlsDataSource.branchRef(tableOptions) == graft.fls.FlsManifest.MainRef,
      "fls: row-level operations on a branch are not supported — " +
        "branch writes are append/overwrite lineages for " +
        "write-audit-publish; run DML after fast_forward")
    val knob = info.command() match {
      case Command.DELETE => "delete_mode"
      case Command.UPDATE => "update_mode"
      case Command.MERGE => "merge_mode"
    }
    val mode = Option(tableOptions.get(knob)).getOrElse("copy-on-write")
    // `delete_mode=equality` routes supported-shape DELETEs to the
    // O(1) predicate commit BEFORE Spark plans a row-level operation
    // ([[FlsDelete]] via canDeleteWhere); a DELETE that still lands
    // here has an unsupported shape and takes the copy-on-write leg
    require(mode == "copy-on-write" || mode == "merge-on-read" ||
        (mode == "equality" && info.command() == Command.DELETE),
      s"fls: $knob must be 'copy-on-write' or 'merge-on-read'" +
        (if (info.command() == Command.DELETE) " or 'equality'" else "") +
        s", got '$mode'")
    // merge CDC needs the delta write path: only there does the writer
    // see each row's operation (matched update vs unmatched insert vs
    // matched delete). The copy-on-write rewrite receives "all rows of
    // the affected files, changes applied" with no per-row marking, so
    // honoring merge_cdc there would silently serve insert/delete churn
    // — refuse loudly instead (same stance as every silent-degradation
    // edge in this format).
    require(!(info.command() == Command.MERGE &&
        Option(tableOptions.get("merge_cdc")).exists(_.toBoolean) &&
        mode == "copy-on-write"),
      "fls: merge_cdc=true requires merge_mode=merge-on-read — the " +
        "copy-on-write rewrite cannot tell matched updates from carried-" +
        "over rows, so it cannot emit update pre/post images; set " +
        "merge_mode=merge-on-read or drop merge_cdc")
    if (mode == "merge-on-read")
      new FlsDeltaOperation(info.command(), tableSchema, tableOptions, session)
    else
      new FlsRowLevelOperation(info.command(), tableSchema, tableOptions, session)
  }
}
