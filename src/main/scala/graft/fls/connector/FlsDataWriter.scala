package graft.fls.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

import graft.fls._
import graft.fls.Format._
import FlsDataWriter._

/** Per-task writer: buffers rows into columnar builders, flushes a row
  * group at exactly `rowGroupSize` rows, rotates files after
  * `rowGroupsPerFile` row groups (≙ reference Sink + RotateFiles,
  * /root/reference/src/writer/fls_writer.cpp:46-102,189-211). Task
  * leftovers flush as a final short row group — Spark has no cross-task
  * Combine; SURVEY.md §2.A16 documents this divergence. NULL input is
  * rejected (format stores no NULLs, SURVEY.md §1.1).
  *
  * With `partitionBy` non-empty the writer is hive-partitioned: each row
  * routes to a bucket keyed by its partition values, buckets write under
  * `k1=v1/k2=v2/` subdirectories, and the partition columns are NOT
  * stored in the data files (the path is their storage, exactly like
  * Spark's parquet writer). Each open bucket holds one row group of
  * builder memory, so callers writing high-cardinality partitions should
  * `df.repartition(partCols)` first; the `max_open_partitions` guard
  * fails loudly instead of OOMing.
  *
  * Commit protocol (the Spark-cluster analog of the reference writer's
  * finalize/abort pair, /root/reference/src/writer/fls_writer.cpp:332-347):
  * every file is created under `dir/_temporary/<writeId>/<taskUid>/<rel>`
  * — a path unique to this task ATTEMPT, so a speculative duplicate never
  * writes the same bytes stream. Task commit (authorized once per
  * partition by Spark's OutputCommitCoordinator) only closes the files:
  * they stay staged, and its message names their dir-RELATIVE final
  * paths plus the attempt's staging directory. Files become visible
  * only at job commit, which moves exactly the files its messages name
  * ([[FlsCommit.publish]]) — the shape of Hadoop's `FileOutputCommitter`
  * v1, so a task that commits after its job aborted publishes nothing.
  * With `directWrite` (set only when the table already has a manifest)
  * files go straight to attempt-unique final names instead, which the
  * manifest hides until a version names them. `abort` deletes every
  * file this attempt produced, not just the open one. */
class FlsDataWriter(
    dir: String,
    schema: StructType,
    rowGroupSize: Int,
    rowGroupsPerFile: Int,
    conf: Configuration,
    baseName: String,
    taskUid: String,
    inlineFooter: Boolean = true,
    transpose: Boolean = false,
    partitionBy: Seq[String] = Nil,
    maxOpenPartitions: Int = 1000,
    directWrite: Boolean = false,
    /** Columns to NDV-sketch per file (`ndv_columns` writer option):
      * each closed file's manifest stats carry an [[Hll]] register
      * array for these, merged at plan time into CBO distinct counts.
      * Opt-in — hashing every value costs write CPU, so it belongs on
      * join/group keys, not every column. */
    ndvColumns: Seq[String] = Nil,
    /** Columns to Bloom-sketch per file (`bloom_columns` writer
      * option, manifest tables): each closed file gets a [[Bloom]]
      * sidecar so point lookups (`id = ?`) skip whole files — footer
      * unopened — where zone maps cannot decide (high-cardinality
      * unclustered keys). */
    bloomColumns: Seq[String] = Nil,
    bloomFpp: Double = 0.01)
  extends DataWriter[InternalRow] {

  private val partIdx: Array[Int] = partitionBy.map(schema.fieldIndex).toArray
  private val dataIdx: Array[Int] =
    schema.fields.indices.filterNot(partIdx.contains).toArray
  require(dataIdx.nonEmpty, "fls: cannot partition by every column")
  private val dataFields: Array[StructField] = dataIdx.map(schema.fields)

  /** Physical footer columns: STRUCT fields flatten into a parent
    * marker plus dotted children (see [[Format.physicalColumns]]). */
  private val colDescs: Array[ColumnDesc] = Format.physicalColumns(dataFields.toSeq)
  /** Top-level field ordinal each PHYSICAL builder reads (a struct's
    * marker and children all read the parent ordinal). */
  private val physOrds: Array[Int] = dataFields.zipWithIndex.flatMap { case (f, li) =>
    f.dataType match {
      case st: StructType => Seq.fill(1 + st.fields.length)(dataIdx(li))
      case _ => Seq(dataIdx(li))
    }
  }.toArray

  /** Stages one physical column of a row group: `add(g, i)` reads value
    * `i` of a row, a struct value or an array. The same builders stage a
    * column and the flattened element, key or value stream of a LIST or
    * MAP column, so each grows on demand. */
  private sealed trait Builder {
    def add(g: SpecializedGetters, i: Int): Unit
    def result(): ColData
    def clear(): Unit
  }

  private final class LongBuilder(get: LongGet) extends Builder {
    private var arr = new Array[Long](rowGroupSize)
    private var n = 0
    def add(g: SpecializedGetters, i: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(n) = get(g, i); n += 1
    }
    def result(): ColData = LongData(java.util.Arrays.copyOf(arr, n))
    def clear(): Unit = n = 0
  }

  private final class DoubleBuilder(get: DoubleGet) extends Builder {
    private var arr = new Array[Double](rowGroupSize)
    private var n = 0
    def add(g: SpecializedGetters, i: Int): Unit = {
      if (n == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(n) = get(g, i); n += 1
    }
    def result(): ColData = DoubleData(java.util.Arrays.copyOf(arr, n))
    def clear(): Unit = n = 0
  }

  /** Bytes-plus-offsets staging, one slice per value. */
  private abstract class SliceBuilder extends Builder {
    private var offsets = new Array[Int](rowGroupSize + 1)
    protected var bytes = new Array[Byte](rowGroupSize * 8)
    private var n = 0
    /** Appends a `len`-byte slice; returns its start in [[bytes]]. */
    protected final def reserve(len: Int): Int = {
      if (n + 1 == offsets.length) offsets = java.util.Arrays.copyOf(offsets, offsets.length * 2)
      val at = offsets(n)
      val end = at + len
      if (end > bytes.length) {
        var cap = bytes.length
        while (cap < end) cap <<= 1
        bytes = java.util.Arrays.copyOf(bytes, cap)
      }
      offsets(n + 1) = end
      n += 1
      at
    }
    def result(): ColData =
      BytesData(java.util.Arrays.copyOf(offsets, n + 1), java.util.Arrays.copyOf(bytes, offsets(n)))
    def clear(): Unit = n = 0
  }

  /** STRING: each value's UTF-8 bytes are copied straight from the
    * `UTF8String` into the buffer, with no array per value. */
  private final class Utf8Builder extends SliceBuilder {
    def add(g: SpecializedGetters, i: Int): Unit = {
      val s = g.getUTF8String(i)
      val at = reserve(s.numBytes)
      s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + at)
    }
  }

  private final class BytesBuilder(get: BytesGet) extends SliceBuilder {
    def add(g: SpecializedGetters, i: Int): Unit = {
      val b = get(g, i)
      val at = reserve(b.length)
      System.arraycopy(b, 0, bytes, at, b.length)
    }
  }

  /** Builder of a LIST element or MAP key/value stream: float values
    * keep their raw 32-bit patterns as longs (see
    * [[graft.fls.Format.elemPhysOf]]); `what` names the role in the
    * error for an unsupported type. */
  private def elemBuilder(dt: DataType, what: String): Builder = dt match {
    case FloatType => new LongBuilder((g, i) =>
      java.lang.Float.floatToRawIntBits(g.getFloat(i)).toLong & 0xFFFFFFFFL)
    case other => scalarBuilder(other).getOrElse(
      throw new UnsupportedOperationException(s"fls write: unsupported $what $other"))
  }

  /** LIST columns: per-row offsets + a flattened element builder; null
    * ELEMENTS are rejected like null scalars (the format stores no NULLs
    * at any nesting level). */
  private final class ArrayColBuilder(name: String, et: DataType) extends Builder {
    private var offsets = new Array[Int](rowGroupSize + 1)
    private var n = 0
    private val elems = elemBuilder(et, "array element")

    def add(g: SpecializedGetters, i: Int): Unit = {
      val a = g.getArray(i)
      val len = a.numElements()
      // Flattened offsets are Int: a row group whose total element count
      // crosses 2^31 must fail with a clear message, not wrap negative.
      if (len > Int.MaxValue - offsets(n))
        throw new UnsupportedOperationException(
          s"fls: row group exceeds ${Int.MaxValue} flattened elements in array " +
            s"column '$name' — lower row_group_size")
      var j = 0
      while (j < len) {
        if (a.isNullAt(j))
          throw new UnsupportedOperationException(
            s"fls: NULL element in array column '$name' — the format stores no NULLs " +
              "(reference parity); filter or fill null elements before writing")
        elems.add(a, j)
        j += 1
      }
      offsets(n + 1) = offsets(n) + len
      n += 1
    }
    def result(): ColData = ArrayColData(java.util.Arrays.copyOf(offsets, n + 1), elems.result())
    def clear(): Unit = { n = 0; elems.clear() }
  }

  /** MAP columns: per-row entry counts + flattened key and value
    * builders. NULL map VALUES are rejected like null scalars; Spark map
    * keys cannot be null by contract. */
  private final class MapColBuilder(name: String, kt: DataType, vt: DataType) extends Builder {
    private var offsets = new Array[Int](rowGroupSize + 1)
    private var n = 0
    private val keys = elemBuilder(kt, "map key/value")
    private val values = elemBuilder(vt, "map key/value")

    def add(g: SpecializedGetters, i: Int): Unit = {
      val m = g.getMap(i)
      val len = m.numElements()
      if (len > Int.MaxValue - offsets(n))
        throw new UnsupportedOperationException(
          s"fls: row group exceeds ${Int.MaxValue} flattened entries in map " +
            s"column '$name' — lower row_group_size")
      val ka = m.keyArray()
      val va = m.valueArray()
      var j = 0
      while (j < len) {
        if (va.isNullAt(j))
          throw new UnsupportedOperationException(
            s"fls: NULL value in map column '$name' — the format stores no NULLs " +
              "(reference parity); filter or fill null values before writing")
        keys.add(ka, j)
        values.add(va, j)
        j += 1
      }
      offsets(n + 1) = offsets(n) + len
      n += 1
    }
    def result(): ColData =
      MapColData(java.util.Arrays.copyOf(offsets, n + 1), keys.result(), values.result())
    def clear(): Unit = { n = 0; keys.clear(); values.clear() }
  }

  /** STRUCT parent: counts rows, encodes to a zero-byte segment. */
  private final class MarkerBuilder extends Builder {
    private var n = 0
    def add(g: SpecializedGetters, i: Int): Unit = n += 1
    def result(): ColData = StructMarker(n)
    def clear(): Unit = n = 0
  }

  /** Builder for struct field j (of k): reads the struct value at the
    * PARENT ordinal, rejects a null field like a null scalar, and hands
    * the field to its scalar builder. */
  private final class StructFieldBuilder(fieldName: String, k: Int, j: Int, inner: Builder)
    extends Builder {
    def add(g: SpecializedGetters, i: Int): Unit = {
      val s = g.getStruct(i, k)
      if (s.isNullAt(j))
        throw new UnsupportedOperationException(
          s"fls: NULL in struct field '$fieldName' — the format stores no " +
            "NULLs (reference parity); coalesce() nulls away before writing")
      inner.add(s, j)
    }
    def result(): ColData = inner.result()
    def clear(): Unit = inner.clear()
  }

  /** One builder per PHYSICAL column, aligned with [[colDescs]]. */
  private def mkPhysBuilders(): Array[Builder] =
    dataFields.flatMap { f =>
      f.dataType match {
        case st: StructType =>
          new MarkerBuilder +: st.fields.zipWithIndex.map { case (ch, j) =>
            val inner = scalarBuilder(ch.dataType).getOrElse(
              throw new UnsupportedOperationException(
                s"fls write: unsupported struct field type ${ch.dataType}"))
            new StructFieldBuilder(s"${f.name}.${ch.name}", st.fields.length, j, inner)
          }.toSeq
        case _ => Seq(mkBuilder(f))
      }
    }

  /** Builders for the types a struct field may also have. */
  private def scalarBuilder(dt: DataType): Option[Builder] = dt match {
    case t if integralGet.isDefinedAt(t) => Some(new LongBuilder(integralGet(t)))
    case FloatType => Some(new DoubleBuilder((r, i) => r.getFloat(i).toDouble))
    case DoubleType => Some(new DoubleBuilder((r, i) => r.getDouble(i)))
    case StringType => Some(new Utf8Builder)
    case BinaryType => Some(new BytesBuilder((r, i) => r.getBinary(i)))
    case _ => None
  }

  private def mkBuilder(f: StructField): Builder = scalarBuilder(f.dataType).getOrElse {
    f.dataType match {
      case d: DecimalType if d.precision <= 18 =>
        new LongBuilder((r, i) => r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case d: DecimalType =>
        new BytesBuilder((r, i) =>
          r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal
            .unscaledValue().toByteArray)
      case ArrayType(et, _) => new ArrayColBuilder(f.name, et)
      case MapType(kt, vt, _) => new MapColBuilder(f.name, kt, vt)
      case other =>
        throw new UnsupportedOperationException(s"fls write: unsupported type $other")
    }
  }

  /** A sketched column: its schema ordinal and its value hash. */
  private final class HashAccessor(val ord: Int, val hash: LongGet)

  /** One accessor per sketched column — resolved and type-checked once
    * at construction, refused loudly for nested types (no canonical
    * value hash). Shared by the NDV and Bloom sketches (one definition
    * of "same SQL value"). */
  private def mkHashAccessors(names: Seq[String], option: String): Array[HashAccessor] =
    names.toArray.map { name =>
      val ord =
        try schema.fieldIndex(name)
        catch {
          case _: IllegalArgumentException => throw new IllegalArgumentException(
            s"fls: $option names '$name', which is not a column of the " +
              s"write schema [${schema.fieldNames.mkString(", ")}]")
        }
      require(!partitionBy.contains(name),
        s"fls: $option names partition column '$name' — partition values " +
          "are exact from the directory layout; sketch data columns only")
      val hash: LongGet = schema.fields(ord).dataType match {
        case t if integralGet.isDefinedAt(t) =>
          val get = integralGet(t)
          (r, i) => Hll.hashLong(get(r, i))
        case FloatType => (r, i) => Hll.hashDouble(r.getFloat(i).toDouble)
        case DoubleType => (r, i) => Hll.hashDouble(r.getDouble(i))
        case StringType => (r, i) => Hll.hashBytes(r.getUTF8String(i).getBytes)
        case BinaryType => (r, i) => Hll.hashBytes(r.getBinary(i))
        case d: DecimalType if d.precision <= 18 =>
          (r, i) => Hll.hashLong(r.getDecimal(i, d.precision, d.scale).toUnscaledLong)
        case d: DecimalType =>
          (r, i) => Hll.hashBytes(r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.unscaledValue().toByteArray)
        case other => throw new UnsupportedOperationException(
          s"fls: $option cannot sketch '$name' of type $other — " +
            "sketches are for scalar join/group/lookup keys")
      }
      new HashAccessor(ord, hash)
    }

  private val ndvAccessors = mkHashAccessors(ndvColumns, "ndv_columns")
  private val bloomAccessors = mkHashAccessors(bloomColumns, "bloom_columns")

  private val tempDir = new Path(new Path(dir, FlsCommit.TempDirName), taskUid)
  /** (path written, dir-relative final path). In staged mode the
    * written path lives under `_temporary/`; in direct mode it IS the
    * final path — the attempt-unique name makes staging
    * unnecessary and the manifest makes uncommitted files invisible. */
  private val written = scala.collection.mutable.ArrayBuffer[(Path, String)]()
  /** Closed data-file lengths by rel path (for the manifest). */
  private val lengths = scala.collection.mutable.HashMap[String, Long]()
  /** Closed data-file stats JSON by rel path (for the manifest; may be
    * null for files with nothing prunable). */
  private val fileStats = scala.collection.mutable.HashMap[String, String]()

  /** All writer state for one partition-value combination ("" = flat). */
  private final class Bucket(relDir: String) {
    val builders: Array[Builder] = mkPhysBuilders()
    var rowsInGroup = 0
    private var fileSeq = 0
    private var writer: FlsFileWriter = _
    private var currentRel: String = _
    /** Per-FILE NDV sketches, parallel to [[ndvAccessors]] — reset at
      * every file rotation so each manifest entry's sketch covers
      * exactly its file. */
    private val sketches: Array[Hll] = Array.fill(ndvAccessors.length)(new Hll)
    /** Per-FILE Bloom builders, parallel to [[bloomAccessors]]. */
    private val blooms: Array[Bloom.Builder] =
      Array.fill(bloomAccessors.length)(new Bloom.Builder(bloomFpp))

    def add(row: InternalRow): Unit = {
      var c = 0
      while (c < builders.length) {
        builders(c).add(row, physOrds(c))
        c += 1
      }
      var s = 0
      while (s < ndvAccessors.length) {
        val a = ndvAccessors(s)
        sketches(s).addHash(a.hash(row, a.ord))
        s += 1
      }
      var b = 0
      while (b < bloomAccessors.length) {
        val a = bloomAccessors(b)
        blooms(b).add(a.hash(row, a.ord))
        b += 1
      }
      rowsInGroup += 1
      if (rowsInGroup == rowGroupSize) flushRowGroup()
    }

    private def ensureWriter(): Unit =
      if (writer == null) {
        val finalRel =
          (if (relDir.isEmpty) "" else relDir + "/") + f"$baseName-$fileSeq%04d.fls"
        val p =
          if (directWrite) new Path(dir, finalRel) else new Path(tempDir, finalRel)
        written += ((p, finalRel))
        if (!inlineFooter) // sidecar footer travels alongside its data file
          written += ((graft.fls.FlsFile.footerPath(p), finalRel + ".footer"))
        fileSeq += 1
        currentRel = finalRel
        writer = new FlsFileWriter(p, conf, colDescs, inlineFooter, transpose)
      }

    private def closeWriter(): Unit =
      if (writer != null) {
        writer.close()
        lengths(currentRel) = writer.fileLength
        val ndv = ndvAccessors.indices.collect {
          case s if !sketches(s).isEmpty =>
            schema.fields(ndvAccessors(s).ord).name ->
              java.util.Arrays.copyOf(sketches(s).regs, sketches(s).regs.length)
        }.toMap
        var stats = writer.fileStats(ndv)
        if (bloomAccessors.nonEmpty && blooms.exists(_.size > 0)) {
          // the sidecar travels like the data file: staged or at the
          // final (attempt-unique) name, vouched only once the
          // manifest entry's "bf" pointer publishes
          val cols = bloomAccessors.indices.map { b =>
            schema.fields(bloomAccessors(b).ord).name -> blooms(b).seal()
          }
          val root = if (directWrite) new Path(dir) else tempDir
          val bfRel = Bloom.write(root.getFileSystem(conf), root, currentRel, "bf", cols)
          written += ((new Path(root, bfRel), bfRel))
          stats = FlsFileStats.withBf(stats, new Path(bfRel).getName)
        }
        fileStats(currentRel) = stats
        sketches.foreach(_.clear())
        blooms.foreach(_.clear())
        writer = null
      }

    def flushRowGroup(): Unit =
      if (rowsInGroup > 0) {
        ensureWriter()
        writer.writeRowGroup(builders.map(_.result()))
        builders.foreach(_.clear())
        rowsInGroup = 0
        maybeHeartbeat()
        if (rowGroupsPerFile > 0 && writer.numRowGroups >= rowGroupsPerFile)
          closeWriter()
      }

    def finish(): Unit = {
      flushRowGroup()
      closeWriter()
    }

    def abortOpen(): Unit =
      if (writer != null) { writer.abort(); writer = null }
  }

  /** Orphan-sweep liveness: a long-running task (> staging TTL) must not
    * have its staging tree GC'd out from under it by another job's
    * commit, so the writer touches a `.heartbeat` file in its attempt
    * dir (throttled) as rows ARRIVE — checked every [[HbCheckRows]] rows
    * and on every row-group flush, so a trickle-input task that never
    * fills a row group still heartbeats (a task receiving ZERO rows for
    * longer than the TTL remains exposed; size staging_ttl_hours for
    * that). `sweepOrphans` only deletes trees whose NEWEST subtree
    * mtime is past the TTL. Direct (manifest) mode writes no staged
    * files, so it needs no heartbeat. */
  private val hbIntervalMs =
    conf.getLong("graft.fls.heartbeat.interval.ms", 5 * 60 * 1000L)
  private val HbCheckRows = 4096
  private var lastHb = 0L
  private var rowsSinceHbCheck = 0
  private def maybeHeartbeat(): Unit =
    if (!directWrite) {
      val now = System.currentTimeMillis()
      if (now - lastHb >= hbIntervalMs) {
        lastHb = now
        try {
          val fs = tempDir.getFileSystem(conf)
          fs.create(new Path(tempDir, ".heartbeat"), true).close()
        } catch { case _: Throwable => () }
      }
    }

  private val buckets = scala.collection.mutable.LinkedHashMap[String, Bucket]()
  /** The one bucket of an unpartitioned write, once opened: its rows
    * skip the per-row bucket lookup. */
  private var flat: Bucket = _

  private def bucketFor(row: InternalRow): Bucket = {
    val relDir =
      if (partIdx.isEmpty) ""
      else {
        val sb = new StringBuilder
        var i = 0
        while (i < partIdx.length) {
          if (row.isNullAt(partIdx(i)))
            throw new UnsupportedOperationException(
              s"fls: NULL in partition column '${partitionBy(i)}' — the format " +
                "stores no NULLs (reference parity); coalesce() nulls away before writing")
          if (i > 0) sb.append('/')
          sb.append(FlsPartitioning.escape(partitionBy(i))).append('=')
            .append(FlsPartitioning.escape(
              FlsPartitioning.pathString(schema.fields(partIdx(i)).dataType, row, partIdx(i))))
          i += 1
        }
        sb.toString
      }
    val bucket = buckets.getOrElseUpdate(relDir, {
      if (buckets.size >= maxOpenPartitions)
        throw new IllegalStateException(
          s"fls: task opened more than $maxOpenPartitions partitions — " +
            "repartition the dataframe by the partition columns before writing, " +
            "or raise the max_open_partitions writer option")
      new Bucket(relDir)
    })
    if (partIdx.isEmpty) flat = bucket
    bucket
  }

  override def write(row: InternalRow): Unit = {
    var c = 0
    while (c < dataIdx.length) {
      if (row.isNullAt(dataIdx(c)))
        throw new UnsupportedOperationException(
          s"fls: NULL in column '${dataFields(c).name}' — the format stores no NULLs " +
            "(reference parity); coalesce() nulls away before writing")
      c += 1
    }
    rowsSinceHbCheck += 1
    if (rowsSinceHbCheck >= HbCheckRows) { // amortized clock check, off the hot path
      rowsSinceHbCheck = 0
      maybeHeartbeat()
    }
    (if (flat != null) flat else bucketFor(row)).add(row)
  }

  /** Close every file and name them. Nothing is renamed here: staged
    * files stay under this attempt's staging directory until the job
    * commit publishes them (direct-write files are already at their
    * final, attempt-unique names). */
  override def commit(): WriterCommitMessage = {
    buckets.valuesIterator.foreach(_.finish())
    val finals = written.map(_._2)
    FlsCommitMessage(finals.toArray, finals.map(lengths.getOrElse(_, -1L)).toArray,
      finals.map(fileStats.getOrElse(_, null)).toArray,
      if (directWrite) null else tempDir.toString)
  }

  /** Delete EVERY file this attempt wrote (rotated ones included), then
    * the attempt's temp dir — a failed attempt leaves nothing behind. */
  override def abort(): Unit = {
    buckets.valuesIterator.foreach(_.abortOpen())
    val fs = tempDir.getFileSystem(conf)
    written.foreach { case (tmp, _) =>
      try fs.delete(tmp, false) catch { case _: Throwable => () }
    }
    try fs.delete(tempDir, true) catch { case _: Throwable => () }
  }

  override def close(): Unit = ()
}

private[connector] object FlsDataWriter {
  /** Reads one value as a long from a row, a struct value or an array.
    * A single-method trait rather than a `Function2`: Scala does not
    * specialize `Function2` on an object argument, so a closure of that
    * shape boxes the ordinal and the result of every staged value. */
  trait LongGet { def apply(g: SpecializedGetters, i: Int): Long }
  trait DoubleGet { def apply(g: SpecializedGetters, i: Int): Double }
  trait BytesGet { def apply(g: SpecializedGetters, i: Int): Array[Byte] }

  /** Types stored as a plain long, the same way in a column, a struct
    * field, an array element or a map entry. */
  val integralGet: PartialFunction[DataType, LongGet] = {
    case BooleanType => (g, i) => if (g.getBoolean(i)) 1L else 0L
    case ByteType => (g, i) => g.getByte(i).toLong
    case ShortType => (g, i) => g.getShort(i).toLong
    case IntegerType | DateType => (g, i) => g.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType => (g, i) => g.getLong(i)
  }
}

object FlsCommit {
  val TempDirName = "_temporary"

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Moves staged files to their dir-relative final names under `root` —
    * the one step that makes a staged data file visible. Creates each
    * missing parent directory and fails loudly when the file system
    * refuses a rename. A file already at a final name (a replayed
    * streaming epoch reuses its names) is first moved into `aside`, so
    * an abort can put it back ([[restoreAside]]); without `aside` the
    * names must be fresh. Returns each rel with its published length. */
  def publish(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      staged: Seq[(Path, String)], aside: Option[Path] = None): Seq[(String, Long)] = {
    staged.map { case (_, rel) => new Path(root, rel).getParent }.distinct
      .foreach(fs.mkdirs)
    staged.map { case (src, rel) =>
      val dst = new Path(root, rel)
      aside.foreach(a => if (fs.exists(dst)) setAside(fs, root, rel, a))
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"fls commit: rename $src -> $dst failed")
      rel -> fs.getFileStatus(dst).getLen
    }
  }

  /** Publishes every data file and footer sidecar under `stageDir` to the
    * same relative name under `root`. */
  def publishDir(fs: org.apache.hadoop.fs.FileSystem, root: Path,
      stageDir: Path): Seq[(String, Long)] = {
    val staged = scala.collection.mutable.ArrayBuffer[(Path, String)]()
    graft.fls.FlsFile.walkFiles(fs, stageDir, Seq(".fls", ".fls.footer")) { (s, rel) =>
      staged += ((s.getPath, rel))
    }
    publish(fs, root, staged.toSeq)
  }

  /** Where a job commit keeps the visible files it replaces or retires
    * until the job ends: dropped with the job's staging tree, moved back
    * by [[restoreAside]]. */
  def asideDir(dir: Path, writeId: String): Path =
    new Path(new Path(new Path(dir, TempDirName), writeId), "replaced")

  /** Moves the visible file `root/rel` to `aside/rel`. */
  def setAside(fs: org.apache.hadoop.fs.FileSystem, root: Path, rel: String,
      aside: Path): Unit = {
    val to = new Path(aside, rel)
    fs.mkdirs(to.getParent)
    if (!fs.rename(new Path(root, rel), to))
      throw new java.io.IOException(s"fls commit: setting aside ${new Path(root, rel)} failed")
  }

  /** Moves every file set aside under `aside` back to its name under
    * `root`. Best effort per file. */
  def restoreAside(fs: org.apache.hadoop.fs.FileSystem, root: Path, aside: Path): Unit =
    bestEffort(s"listing $aside") {
      graft.fls.FlsFile.walkFiles(fs, aside, ManagedSuffixes) { (s, rel) =>
        bestEffort(s"restoring $rel under $root") {
          val dst = new Path(root, rel)
          fs.mkdirs(dst.getParent)
          if (!fs.rename(s.getPath, dst))
            throw new java.io.IOException(s"rename ${s.getPath} -> $dst failed")
        }
      }
    }

  /** Suffixes of the files a table directory holds for its data: data
    * files, footer, delete-vector and Bloom sidecars. */
  val ManagedSuffixes: Seq[String] =
    Seq(".fls", ".fls.footer", graft.fls.FlsDeleteVectors.Suffix, graft.fls.Bloom.Suffix)

  /** Runs a cleanup step that must not fail its caller — one that runs
    * after a commit point, where a throw would make Spark abort a write
    * that already committed. A failure is logged and leaves junk that
    * readers never see. */
  def bestEffort(what: String)(step: => Unit): Unit =
    try step
    catch {
      case e: Exception => log.warn(s"fls: $what failed; continuing", e)
    }

  /** Remove ONE job's staging subtree (`_temporary/<writeId>`), then the
    * shared `_temporary` root only if now empty — concurrent jobs'
    * staged files are never touched. Best effort: the orphan sweep
    * reclaims a tree this leaves. */
  def removeStaging(fs: org.apache.hadoop.fs.FileSystem, dir: Path, writeId: String): Unit = {
    bestEffort(s"removing staging of $writeId under $dir") {
      fs.delete(new Path(new Path(dir, TempDirName), writeId), true)
    }
    try fs.delete(new Path(dir, TempDirName), false) catch { case _: Throwable => () }
  }

  /** GC staging subtrees orphaned by drivers that crashed before
    * commit/abort: any `_temporary/<otherWriteId>` with no write
    * activity for `ttlMs` is assumed dead and removed. "No activity"
    * means the NEWEST mtime anywhere in the subtree is past the TTL —
    * writers touch a throttled `.heartbeat` file as they flush
    * (`FlsDataWriter.maybeHeartbeat`), so a legitimately long-running
    * job (> TTL wall-clock) keeps its tree fresh and is never swept,
    * unlike a pure top-level-mtime check. Swept trees are logged
    * loudly. Called from job commit, so the sweep rides an existing
    * driver-side RPC window rather than adding one to the read path. */
  def sweepOrphans(fs: org.apache.hadoop.fs.FileSystem, dir: Path,
      ownWriteId: String, ttlMs: Long): Unit = {
    val root = new Path(dir, TempDirName)
    try {
      if (!fs.exists(root)) return
      val cutoff = System.currentTimeMillis() - ttlMs
      fs.listStatus(root).foreach { s =>
        if (s.getPath.getName != ownWriteId && s.getModificationTime < cutoff &&
            newestMtime(fs, s.getPath) < cutoff) {
          try {
            fs.delete(s.getPath, true)
            log.warn(
              s"fls: swept orphaned staging tree ${s.getPath} — no write " +
                s"activity (incl. heartbeats) for over $ttlMs ms; if that job " +
                "was alive, raise the staging_ttl_hours writer option")
          } catch { case _: Throwable => () }
        }
      }
    } catch { case _: Throwable => () }
  }

  /** Newest modification time anywhere under `p`; Long.MaxValue when the
    * subtree cannot be inspected (never sweep what we cannot see). */
  private def newestMtime(fs: org.apache.hadoop.fs.FileSystem, p: Path): Long = {
    var mx = 0L
    try {
      fs.listStatus(p).foreach { s =>
        mx = math.max(mx, s.getModificationTime)
        if (s.isDirectory) mx = math.max(mx, newestMtime(fs, s.getPath))
      }
    } catch { case _: Throwable => mx = Long.MaxValue }
    mx
  }
}

/** `files` are dir-RELATIVE final paths (partition subdirs included);
  * `lengths` align with `files` (data-file byte sizes for the manifest;
  * -1 for sidecar footer entries). `stats(i)` is the per-file stats JSON
  * for `files(i)` (null when the writer had nothing prunable; always null
  * at sidecar-footer slots). `staging` is the attempt's staging
  * directory, holding `files` at the same relative paths until the job
  * commit publishes them; null for direct (manifest-mode) writes, whose
  * files are already at their final names. */
case class FlsCommitMessage(files: Array[String], lengths: Array[Long],
    stats: Array[String] = Array.empty, staging: String = null)
  extends WriterCommitMessage
