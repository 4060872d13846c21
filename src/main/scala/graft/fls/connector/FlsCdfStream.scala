package graft.fls.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.fls.FlsManifest

/** Streaming offset of the change-data-feed: the highest manifest
  * VERSION whose changes have been emitted. */
case class FlsCdfOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

/** The change-data-feed as a micro-batch STREAM — the row-level
  * retraction channel the append-only file stream
  * ([[FlsMicroBatchStream]]) spec-locks away: downstream sees
  * 'delete' rows for DV'd/rewritten data instead of silently stale
  * results, Delta's `readChangeFeed` streaming contract.
  *
  * The table's own manifest log IS the write-ahead log, so this source
  * keeps NO state of its own:
  *   - the OFFSET is the manifest version (one number);
  *   - `latestOffset` is one tiny-directory listing (the head version);
  *   - a micro-batch (start, end] plans with the same
  *     [[FlsCdf.planUnits]] as the batch feed — per-commit file diffs
  *     from manifest metadata, DV diffs applied executor-side at decode;
  *   - manifest versions are IMMUTABLE, so a committed batch replans
  *     identically on restart: exactly-once replay with zero log files
  *     under the checkpoint.
  *
  * Retention is the contract's bound: versions live as far back as the
  * table's `retention_versions` property allows
  * ([[FlsManifest.DefaultKeepVersions]] = 8 when unset — size it to the
  * consumer's worst-case lag), so a consumer that falls further behind
  * than the table's commit cadence × retention cannot resume —
  * planning fails loudly with the restart-from-snapshot remedy (same
  * stance as batch CDF and incremental reads). Cap burst catch-up with
  * `max_versions_per_trigger`; `Trigger.AvailableNow` freezes the head
  * at prepare time and drains to exactly there.
  *
  * Start cursor: `cdf_from_version=N` streams changes of versions > N
  * (EXCLUSIVE — N is the last version already processed);
  * `cdf_starting_version=N` streams version N's own changes and later
  * (INCLUSIVE, Delta's startingVersion); `earliest` starts at the
  * oldest retained transition; ABSENT (plain `read_change_feed=true`)
  * tails NEW changes from the head at stream start — the
  * Kafka-`latest` default, matching "subscribe me to future
  * changes". */
class FlsCdfMicroBatchStream(
    fullSchema: StructType,
    requiredSchema: StructType,
    options: CaseInsensitiveStringMap,
    /** Captured at construction (driver, planning thread) — micro-batch
      * threads must keep using the OWNING session's conf. */
    session: SparkSession)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private val paths = FlsDataSource.parsePaths(options)
  require(paths.length == 1,
    s"fls cdf stream: the change-data-feed addresses ONE table directory, " +
      s"got ${paths.length}")
  private val dir = paths.head

  /** Versions per micro-batch (0 = unlimited): bounds a catch-up burst
    * so a consumer resuming N commits behind drains as N/cap batches. */
  private val maxVersions = options.getLong("max_versions_per_trigger", 0L)
  private var availableNowHead: Long = -1L

  private def hadoopConf: Configuration = session.sessionState.newHadoopConf()

  private def withFs[T](f: (FileSystem, Path) => T): T = {
    val root = new Path(dir)
    f(root.getFileSystem(hadoopConf), root)
  }

  private def headVersion(): Long = withFs { (fs, root) =>
    FlsManifest.readVersioned(fs, root).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"fls cdf stream: $dir has no manifest log — the change-data-feed " +
          "needs a commit_mode=manifest table"))
  }

  override def initialOffset(): Offset = withFs { (fs, root) =>
    val headV = FlsManifest.readVersioned(fs, root).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"fls cdf stream: $dir has no manifest log — the change-data-feed " +
          "needs a commit_mode=manifest table"))
    val from = options.get(FlsCdf.FromTimestampOption) match {
      case ts if ts != null => FlsCdf.fromForTimestamp(fs, root, dir, ts)
      case _ =>
        if (options.containsKey(FlsCdf.StartingVersionOption) ||
            options.containsKey(FlsCdf.FromOption)) {
          val v = FlsCdf.resolveFrom(options, fs, root, dir, headV)
          require(v >= 0,
            s"fls cdf stream: the cursor must be >= 0, got $v")
          require(v <= headV,
            s"fls cdf stream: the start cursor $v is beyond the newest " +
              s"version $headV")
          v
        } else headV // tail: only changes committed after stream start
    }
    FlsCdfOffset(from)
  }

  override def deserializeOffset(json: String): Offset =
    FlsCdfOffset(json.trim.toLong)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowHead = headVersion()
  }

  override def latestOffset(): Offset =
    FlsCdfOffset(if (availableNowHead >= 0) availableNowHead else headVersion())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FlsCdfOffset].version
    val h = if (availableNowHead >= 0) availableNowHead else headVersion()
    val e = if (maxVersions > 0) math.min(h, s + maxVersions) else h
    FlsCdfOffset(math.max(s, e))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FlsCdfOffset].version
    val e = end.asInstanceOf[FlsCdfOffset].version
    if (e <= s) return Array.empty
    val dataSchema = StructType(fullSchema.fields.filterNot(f =>
      f.name == FlsCdf.ChangeType || f.name == FlsCdf.CommitVersion))
    FlsSplitPacking.pack(
      FlsCdf.planUnits(hadoopConf, dir, s, e, dataSchema), session)
  }

  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    FlsReaderFactory(requiredSchema, options, hadoopConf)

  /** Nothing to do: the manifest log is the WAL and Spark's own offset
    * log is the cursor — this source holds no files to compact. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
