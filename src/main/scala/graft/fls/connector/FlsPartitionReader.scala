package graft.fls.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.fls._
import graft.fls.Format._

/** Executor-side scan of ONE row group: positioned reads of exactly the
  * projected segments, full-row-group decode, then 2048-row ColumnarBatch
  * slices (reference scan granule, /root/reference/src/reader/
  * fls_reader.cpp:430,516-547). Virtual columns `file_row_number` /
  * `file_index` are synthesized here (≙ PopulateVirtualColumns,
  * fls_reader.cpp:474-495). */
class FlsPartitionReader(
    part: FlsInputPartition,
    readSchema: StructType,
    conf: Configuration,
    /** Zero-copy dictionary vectors (string AND numeric/timestamp dict
      * groups): Some(x) = forced by the `string_dictionary` option;
      * None = SIZE-ADAPTIVE — measured at sf0.1 the eager gather wins
      * (~19%: cache-resident data re-fetched through the dict
      * indirection costs more than one bulk copy) while at 64× the
      * dictionary path wins ~23% (memory-bandwidth-bound scans stop
      * materializing n values per split). The auto rule keys on the
      * SPLIT'S ROW COUNT — the quantity that decides whether the scan
      * streams past cache — and serves dictionary vectors once it
      * exceeds `stringDictAutoRows`. */
    stringDictionary: Option[Boolean] = None,
    /** virtual `<col>_size` name → base LIST column (see FlsVirtual). */
    sizeBase: Map[String, String] = Map.empty,
    /** Pushed conjuncts for executor-side selection-vector filtering
      * (see [[FlsRowFilter]]); Catalyst still re-checks them. */
    rowFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    /** Compact a group only when at most this fraction survives.
      * DEFAULT 0 = never compact: measured at 64× on local[32], the
      * gather pass loses to codegen's filter over full batches at every
      * selectivity tried (10% keep, 2-col: 0.24 vs 0.17 s; 7-col: 0.27
      * vs 0.24 s) — a memory-bandwidth-rich single node refilters 2048-row
      * batches faster than it gathers them. The EMPTY-group skip below
      * stays on regardless (an all-false group skips decoding every
      * non-filter column). On storage-bound clusters or with expensive
      * downstream operators the trade can flip: set filter_keep_ratio
      * (e.g. 0.5) to enable compaction. */
    filterKeepRatio: Double = 0.0,
    stringDictAutoRows: Long = 512L * 1024)
  extends PartitionReader[ColumnarBatch] {

  /** Dictionary-vector decision: forced by option, or auto by this
    * split's total row count (which columns/encodings qualify is the
    * `dictable` check per column). */
  private val useDictVectors: Boolean = stringDictionary.getOrElse {
    var rows = 0L
    part.chunks.foreach(c => c.rowGroups.foreach(rg => rows += rg.nTuples))
    rows >= stringDictAutoRows
  }

  /** Multi-chunk, multi-row-group split state: `cIdx` is the current
    * file chunk, `gIdx` the current group within it; decode is per
    * group (eager within a group, lazy across groups), with ONE file
    * handle per chunk and ONE set of output vectors for the whole
    * split. */
  private var cIdx = 0
  private var gIdx = -1
  private var chunk: FlsFileChunk = part.chunks.headOption.orNull
  private var nTuples = 0
  private var groupRowStart = 0L
  private var rowPos = 0
  private var rowsReadTotal = 0L
  private var groupsRead = 0L
  /** Rows dropped by executor-side selection vectors (scan-visible
    * filter effectiveness; the residual FilterExec's own numOutputRows
    * can't attribute drops to the scan). */
  private var rowsFilteredTotal = 0L
  private var in: org.apache.hadoop.fs.FSDataInputStream = _
  private var decoded: Array[ColData] = _ // null slots = virtual/absent columns
  private val vectors: Array[OnHeapColumnVector] =
    readSchema.fields.map(f => new OnHeapColumnVector(BatchSize, f.dataType))
  private val batch = new ColumnarBatch(vectors.asInstanceOf[Array[ColumnVector]])

  /** Per-column dictionary (zero-copy dictionary path); parallel to
    * `decoded`, non-null only for Dict* columns. */
  private var colDicts: Array[org.apache.spark.sql.execution.vectorized.Dictionary] = _
  private var colDictIds: Array[Array[Int]] = _
  /** Reused selection scratch (one per reader, sized to the largest row
    * group seen) — a fresh 64Ki-int array per group is pure churn. */
  private var selScratch: Array[Int] = _

  /** Frozen exists-DEFAULT per projected field (null = none), resolved
    * once per reader from the field metadata ([[FlsDefaults]]). */
  private lazy val existsDefaults: Array[Any] =
    readSchema.fields.map(f => FlsDefaults.existenceDefault(f).orNull)

  // ---- per-chunk state, set by openChunk

  /** File-side type per projected field (None = virtual or absent in
    * this file — absent happens under union_by_name). */
  private var fileTypes: Array[Option[ColumnType]] = _
  /** Row-level predicates compiled against the chunk's column types
    * (union_by_name lets types drift across files), and their adaptive
    * conjunct order (compile can drop different conjuncts per file, so
    * positions don't transfer). */
  private var preds: Array[FlsRowFilter.Pred] = _
  private var adaptOrder: FlsRowFilter.AdaptiveOrder = _
  /** The chunk's base selection: sorted file-absolute positions (null =
    * none) that are the ONLY rows served (`baseKeep`, change-data-feed
    * emit mode: the set difference of the chunk's two sidecars, computed
    * here where the sidecars live) or rows never served (its delete
    * vector). One tiny sidecar read per chunk, applied to every row
    * group before any other conjunct, in every scan mode: no Catalyst
    * residual re-checks either. The planner never sets both. */
  private var basePositions: Array[Long] = _
  private var baseKeep = false
  /** Equality-delete exclusions compiled against THIS file's column
    * types ([[graft.fls.FlsEqResidual]]) — like the DV, applied
    * unconditionally, by decoding the predicate column (memo-shared with
    * the projection) and narrowing the selection. */
  private var eqExcls: Array[graft.fls.FlsEqResidual.Excl] = _
  /** Per-SEGMENT recycled decode buffers (see [[Codecs.ReuseBufs]]): a
    * group's output arrays are reused by the next group of the same
    * column — safe because a group is filled into vectors strictly
    * before the next decodeGroup, and each segment index owns its slot. */
  private var segBufs: Array[Codecs.ReuseBufs] = _
  /** Per projected field, the value it holds in every row of the chunk
    * when the file serves it without data (null = not a constant: file
    * data, a row number, or NULLs): a partition value, a feed tag, the
    * file index or path, or an exists-DEFAULT. Evaluated at the first
    * batch fill, so a partition value that does not parse fails there. */
  private var constants: Array[Constant] = _

  private final class Constant(v: => Any) { lazy val value: Any = v }

  private def constantOf(f: StructField, fi: Int, c: FlsFileChunk): Constant =
    if (c.partitionValues.contains(f.name))
      new Constant(FlsPartitioning.internal(c.partitionValues(f.name), f.dataType))
    else (f.name, f.dataType, c.cdf) match {
      case (FlsCdf.ChangeType, StringType, Some(cdf)) =>
        new Constant(UTF8String.fromString(cdf.changeType))
      case (FlsCdf.CommitVersion, LongType, Some(cdf)) => new Constant(cdf.commitVersion)
      case (FlsVirtual.FileIndex, LongType, _) => new Constant(c.fileIndex.toLong)
      case (FlsVirtual.MetaFile, StringType, _) => new Constant(UTF8String.fromString(c.file))
      case _ if f.metadata.contains(FlsDefaults.ExistsKey) => new Constant(existsDefaults(fi))
      case _ => null
    }

  private def openChunk(c: FlsFileChunk): Unit = {
    fileTypes = readSchema.fields.map(f => c.fileColumns.find(_.name == f.name).map(_.colType))
    preds = FlsRowFilter.compile(rowFilters, readSchema, fileTypes, sizeBase)
    adaptOrder = new FlsRowFilter.AdaptiveOrder(preds.length)
    def positions(p: String) = graft.fls.FlsDeleteVectors.readAbsolute(p, conf)
    c.cdf.flatMap(_.emitDiff) match {
      case Some((a, b)) =>
        // sorted-merge difference a \ b
        val ap = a.map(positions).getOrElse(Array.empty[Long])
        val bp = b.map(positions).getOrElse(Array.empty[Long])
        val out = new Array[Long](ap.length)
        var k = 0
        var j = 0
        ap.foreach { v =>
          while (j < bp.length && bp(j) < v) j += 1
          if (j >= bp.length || bp(j) != v) { out(k) = v; k += 1 }
        }
        basePositions = java.util.Arrays.copyOf(out, k)
        baseKeep = true
      case None =>
        basePositions = c.dv.map(positions).orNull
        baseKeep = false
    }
    eqExcls =
      if (c.eq.isEmpty) Array.empty else graft.fls.FlsEqResidual.compile(c.eq, c.fileColumns)
    segBufs = Array.fill(c.fileColumns.length)(new Codecs.ReuseBufs)
    constants = readSchema.fields.zipWithIndex.map { case (f, fi) => constantOf(f, fi, c) }
  }
  if (chunk != null) openChunk(chunk)

  /** The selection scratch, grown to hold `n` row indices. */
  private def scratch(n: Int): Array[Int] = {
    if (selScratch == null || selScratch.length < n) selScratch = new Array[Int](n)
    selScratch
  }

  /** Base selection of the group's rows [start, start+n) from
    * `basePositions`, written to `sel` as group-relative indices: the
    * listed rows (keep mode) or every other row (drop mode). Returns
    * the selection count, or -1 when the group drops no row. */
  private def baseSelect(sel: Array[Int], start: Long, n: Int): Int = {
    val pos = basePositions
    var lo = java.util.Arrays.binarySearch(pos, start)
    if (lo < 0) lo = -lo - 1
    var hi = java.util.Arrays.binarySearch(pos, start + n)
    if (hi < 0) hi = -hi - 1
    var k = 0
    if (baseKeep) {
      while (lo < hi) { sel(k) = (pos(lo) - start).toInt; k += 1; lo += 1 }
    } else {
      if (hi == lo) return -1
      var i = 0
      while (i < n) {
        if (lo < hi && pos(lo) == start + i) lo += 1
        else { sel(k) = i; k += 1 }
        i += 1
      }
    }
    k
  }

  /** Decode row group `g` of the current chunk eagerly. The file handle
    * opens once per CHUNK (not per row group — that per-task open was
    * part of why single-rg tasks were too fine) and closes when the
    * chunk is exhausted or the reader closes.
    *
    * Corruption choke point: any failure inside — short reads, codec
    * bounds, bad lengths — re-surfaces as one fls-labeled IOException
    * naming the file and row group (already-labeled errors pass
    * through), so a corrupt file can never crash a scan with a bare
    * codec exception. */
  private def decodeGroup(g: Int): Unit =
    FlsErrors.wrap(s"row group $g of ${chunk.file}") { decodeGroupBody(g) }

  private def decodeGroupBody(g: Int): Unit = {
    if (in == null) {
      val path = new Path(chunk.file)
      in = path.getFileSystem(conf).open(path)
    }
    val rowGroup = chunk.rowGroups(g)
    colDicts = new Array(readSchema.fields.length)
    colDictIds = new Array(readSchema.fields.length)
    // MCC resolution: an EQUAL or EXP_DICT segment widens this reader's
    // reads to its source column (≙ reference fls_reader.cpp:583-590,
    // which widens to the full row group; the dependency is explicit
    // here, so only the referenced segment is read)
    def readSeg(seg: SegmentDesc): Array[Byte] = {
      val segBytes = new Array[Byte](seg.length.toInt)
      in.readFully(seg.offset, segBytes)
      segBytes
    }
    val decodeAt = new Codecs.GroupResolver(rowGroup, chunk.fileColumns, readSeg, segBufs)
    def decodeCol(f: StructField, fi: Int): ColData = {
        val idx = chunk.fileColumns.indexWhere(_.name == f.name)
        if (idx < 0) {
          sizeBase.get(f.name).map(b => chunk.fileColumns.indexWhere(_.name == b)) match {
            case Some(baseIdx) if baseIdx >= 0 =>
              // virtual `<col>_size`: per-row element counts, derived
              // from the base LIST column's offsets (decode shared via
              // the memo when the values are also projected)
              def counts(offsets: Array[Int]): LongData = {
                val n = offsets.length - 1
                val out = new Array[Long](n)
                var i = 0
                while (i < n) { out(i) = (offsets(i + 1) - offsets(i)).toLong; i += 1 }
                LongData(out)
              }
              decodeAt(baseIdx) match {
                case a: ArrayColData => counts(a.offsets)
                case m: MapColData => counts(m.offsets)
                case other => throw new IllegalStateException(
                  s"fls: ${f.name} base column decoded to ${other.getClass.getSimpleName}")
              }
            case _ =>
              // served without data: a constant, a row number, or (a
              // nullable column this file lacks, union_by_name) NULLs
              if (constants(fi) != null || f.name == FlsVirtual.RowNumber ||
                f.name == FlsVirtual.MetaPos || f.nullable) null
              else throw new IllegalArgumentException(
                s"fls: column ${f.name} not present in ${chunk.file}")
          }
        } else if (chunk.fileColumns(idx).colType.tag == TypeTag.STRUCT) {
          // struct parent: assemble from its dotted child columns,
          // decoding only the REQUESTED children (nested column pruning
          // — an unprojected field's segment is never read)
          val st = f.dataType match {
            case s: StructType => s
            case other => throw new IllegalArgumentException(
              s"fls: column ${f.name} is a STRUCT in ${chunk.file}, read as $other")
          }
          val children = st.fields.map { ch =>
            val chIdx = chunk.fileColumns.indexWhere(_.name == s"${f.name}.${ch.name}")
            if (chIdx < 0) {
              // drifted struct schema (union_by_name): a field this file
              // predates reads as NULL, like a missing top-level column
              if (ch.nullable) null
              else throw new IllegalArgumentException(
                s"fls: struct field ${f.name}.${ch.name} not present in ${chunk.file}")
            } else decodeAt(chIdx)
          }
          StructData(children, rowGroup.nTuples)
        } else {
          val seg = rowGroup.segments(idx)
          val phys = physOf(chunk.fileColumns(idx).colType.tag)
          // Zero-copy dictionary-vector path (≙ reference
          // dictionary_kernel.hpp:11-101): keep (dict, codes); the
          // vector serves values through a shared dictionary — no
          // per-row gather copy, and repeated values share one slot.
          // Strings AND numeric/timestamp domains (the parquet reader's
          // own lazy-dictionary trick via setDictionary). Size-adaptive:
          // below the auto threshold the eager gather wins (~19% at
          // sf0.1 — cache-resident data re-fetched through the dict
          // indirection costs more than one bulk copy); past it the
          // dictionary path wins (~23% at 64×, memory-bandwidth-bound).
          val dictable = useDictVectors && (seg.encoding match {
            case Enc.DICT | Enc.FSST_DICT | Enc.FSST12_DICT => true
            case _ => false
          }) && (phys match {
            case Phys.BYTES => f.dataType == StringType || f.dataType == BinaryType
            case Phys.LONG => longDictServable(f, fi)
            case Phys.DOUBLE => f.dataType == DoubleType || f.dataType == FloatType
            case _ => false
          })
          if (dictable) {
            val (dict, codes) = Codecs.dictParts(new ByteReader(readSeg(seg)),
              seg.encoding, phys, segBufs(idx))
            dictColumn(fi, dict, codes)
          } else decodeAt(idx)
        }
    }
    val nFields = readSchema.fields.length
    val rgTuples = rowGroup.nTuples
    decoded = new Array[ColData](nFields)
    val done = new Array[Boolean](nFields)
    def ensure(fi: Int): ColData = {
      if (!done(fi)) {
        val d = decodeCol(readSchema.fields(fi), fi)
        // A segment can be internally consistent yet DISAGREE with the
        // footer's row count (corrupt length field): without this
        // cross-check the batch fill crashes later with a bare
        // out-of-bounds — or, worse, a LONGER segment silently serves
        // truncated data. Unlabeled throw: decodeGroup's wrap attaches
        // file + row group.
        if (d != null && d.n != rgTuples)
          throw new IllegalStateException(
            s"column ${readSchema.fields(fi).name} decoded ${d.n} rows, " +
              s"footer says $rgTuples")
        decoded(fi) = d
        done(fi) = true
      }
      decoded(fi)
    }
    // Selection-vector filtering (FlsRowFilter): decode the FILTER
    // columns first and narrow the selection conjunct by conjunct; an
    // all-false group skips decoding every other column entirely.
    // selCount == -1 means "no selection yet" (all rows) — the first
    // evaluable conjunct writes kept indices directly (filterAll),
    // avoiding the identity-array init and its indirection.
    var selCount = -1
    val sel = scratch(rgTuples)
    // Base selection first (delete vector, or a change feed's emit set):
    // the rows it serves ARE what the pushed conjuncts then narrow.
    // dvApplied forces compaction — no residual FilterExec re-checks it.
    if (basePositions != null) selCount = baseSelect(sel, chunk.rowStarts(g), rgTuples)
    var dvApplied = selCount >= 0
    // Equality-delete residuals: decode each predicate's column(s)
    // (memo-shared with the projection) and drop matching rows from the
    // selection — mandatory like the DV (dvApplied forces compaction:
    // no FilterExec re-checks these). A composite-key predicate is the
    // AND of its legs' masks. A file lacking any leg's column stores
    // only NULLs for it — never equal to a literal — so the predicate
    // compiled non-applicable and is skipped whole. Emit mode never
    // coexists (the CDF refuses ranges containing an equality-delete
    // commit).
    if (eqExcls.length > 0 && !baseKeep) {
      var x = 0
      while (x < eqExcls.length && selCount != 0) {
        val ex = eqExcls(x)
        // zone-map fast path: a group whose footer stats prove the
        // predicate can't match skips the mask AND its column decodes
        if (ex.applicable &&
            !graft.fls.FlsEqResidual.groupNoMatch(ex, rowGroup)) {
          val del = graft.fls.FlsEqResidual.deletedMask(ex, decodeAt)
          if (selCount < 0) {
            var k = 0
            var i = 0
            while (i < rgTuples) {
              if (!del(i)) { sel(k) = i; k += 1 }
              i += 1
            }
            if (k < rgTuples) { selCount = k; dvApplied = true }
            else selCount = -1 // nothing deleted in this group
          } else {
            var k = 0
            var i = 0
            while (i < selCount) {
              val r = sel(i)
              if (!del(r)) { sel(k) = r; k += 1 }
              i += 1
            }
            if (k < selCount) dvApplied = true
            selCount = k
          }
        }
        x += 1
      }
    }
    if (preds.nonEmpty) {
      // conjuncts run in adaptOrder.perm order (adaptive reordering by
      // observed cost × selectivity; exact under any order — each
      // conjunct only narrows the selection)
      var p = 0
      while (p < preds.length && selCount != 0) {
        val pi = adaptOrder.perm(p)
        val t0 = System.nanoTime()
        // decode cost charged to the conjunct that triggers it: an
        // early all-false exit skips later filter columns entirely, so
        // decode IS part of a conjunct's marginal cost in a position
        val data = ensure(preds(pi).colIdx)
        if (data != null) {
          val in = if (selCount < 0) rgTuples else selCount
          if (selCount < 0) {
            val k = preds(pi).filterAll(data, rgTuples, sel)
            if (k >= 0) selCount = k
          } else selCount = preds(pi).filter(data, sel, selCount)
          val out = if (selCount < 0) in else selCount
          adaptOrder.record(pi, System.nanoTime() - t0, in, out)
        }
        p += 1
      }
      adaptOrder.groupDone()
    }
    if (selCount < 0) selCount = rgTuples
    var effTuples = rgTuples
    if (selCount == 0) {
      effTuples = 0
    } else {
      var fi = 0
      while (fi < nFields) { ensure(fi); fi += 1 }
      // Compact to the survivors when the filters were selective
      // enough — or UNCONDITIONALLY when a delete vector removed rows:
      // deleted rows have no residual FilterExec to drop them later,
      // so serving the group full would resurrect them. compact()
      // gathers every shape, nested included.
      if (selCount < rgTuples &&
          (dvApplied || selCount <= rgTuples * filterKeepRatio)) {
        var fj = 0
        while (fj < nFields) {
          val f = readSchema.fields(fj)
          if (decoded(fj) == null &&
              (f.name == FlsVirtual.RowNumber || f.name == FlsVirtual.MetaPos)) {
            // virtual row numbers must carry ORIGINAL positions; the
            // batch-time synthesis assumes dense rows, so materialize
            val base = chunk.rowStarts(g)
            val out = new Array[Long](selCount)
            var i = 0
            while (i < selCount) { out(i) = base + sel(i); i += 1 }
            decoded(fj) = LongData(out)
          } else if (decoded(fj) != null) {
            decoded(fj) = FlsRowFilter.compact(decoded(fj), sel, selCount)
          }
          fj += 1
        }
        effTuples = selCount
      }
    }
    // dict-id sidecars are built ONCE here, from the FINAL codes —
    // building them at decode time would waste a full-length alloc+copy
    // whenever compaction shrinks the codes afterwards
    if (effTuples > 0) {
      var fj = 0
      while (fj < nFields) {
        decoded(fj) match {
          case DictBytes(_, codes) if colDicts(fj) != null =>
            colDictIds(fj) = toIntIds(codes)
          case DictLongs(_, codes) if colDicts(fj) != null =>
            colDictIds(fj) = toIntIds(codes)
          case DictDoubles(_, codes) if colDicts(fj) != null =>
            colDictIds(fj) = toIntIds(codes)
          case _ => ()
        }
        fj += 1
      }
    }
    // only rows the scan actually withheld count as filtered — under
    // filter_keep_ratio=0 a non-empty selection is served in full and
    // the residual FilterExec does the dropping, so nothing is counted
    rowsFilteredTotal += rgTuples - effTuples
    nTuples = effTuples
    groupRowStart = chunk.rowStarts(g)
    rowPos = 0
    groupsRead += 1
  }

  override def next(): Boolean = {
    while (decoded == null || rowPos >= nTuples) {
      if (chunk == null) return false
      if (gIdx + 1 >= chunk.rowGroups.length) {
        // chunk exhausted: close its handle, move to the next file chunk
        if (in != null) { in.close(); in = null }
        cIdx += 1
        if (cIdx >= part.chunks.length) { chunk = null; return false }
        chunk = part.chunks(cIdx)
        openChunk(chunk)
        gIdx = -1
        decoded = null
      } else {
        gIdx += 1
        decodeGroup(gIdx)
      }
    }
    val len = math.min(BatchSize, nTuples - rowPos)
    var c = 0
    while (c < vectors.length) {
      vectors(c).reset()
      // A packed split reuses this vector across row groups, and
      // WritableColumnVector.reset() does NOT clear an installed
      // dictionary — a dict-decoded group followed by a plain group for
      // the same column would otherwise serve stale dictionary values
      // (FlsDictMixedGroupSpec locks this). Cleared HERE, for every
      // column shape, so no fill case can forget it.
      vectors(c).setDictionary(null)
      if (decoded(c) == null && constants(c) != null)
        FlsDefaults.fill(vectors(c), readSchema.fields(c).dataType, constants(c).value, len)
      else fill(vectors(c), readSchema.fields(c), decoded(c), rowPos, len)
      c += 1
    }
    batch.setNumRows(len)
    rowPos += len
    rowsReadTotal += len
    true
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "rowGroupsRead"
        override def value(): Long = groupsRead
      },
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "flsRowsRead"
        override def value(): Long = rowsReadTotal
      },
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = "flsRowsFiltered"
        override def value(): Long = rowsFilteredTotal
      })

  override def close(): Unit = if (in != null) { in.close(); in = null }

  private def fieldIdx(field: StructField): Int =
    readSchema.fieldIndex(field.name)

  private def toIntIds(codes: Array[Long]): Array[Int] = {
    val ids = new Array[Int](codes.length)
    var i = 0
    while (i < codes.length) { ids(i) = codes(i).toInt; i += 1 }
    ids
  }

  /** THE dictionary-vector constructor: installs the column's Spark
    * dictionary and keeps the codes un-gathered. */
  private def dictColumn(fi: Int, dict: ColData, codes: Array[Long]): ColData = dict match {
    case LongData(d) => colDicts(fi) = new FlsLongDictionary(d); DictLongs(d, codes)
    case DoubleData(d) => colDicts(fi) = new FlsDoubleDictionary(d); DictDoubles(d, codes)
    case b: BytesData =>
      val values = Array.tabulate(b.n)(i =>
        java.util.Arrays.copyOfRange(b.bytes, b.offsets(i), b.offsets(i + 1)))
      colDicts(fi) = new FlsBytesDictionary(values)
      DictBytes(values, codes)
    case other => throw new IllegalStateException(
      s"fls: dictionary decoded to ${other.getClass.getSimpleName}")
  }

  /** Can a LONG-domain dict group be served through a dictionary vector
    * for this read type? Mirrors the eager `fill` cases that are pure
    * per-value casts (OnHeapColumnVector routes byte/short/int through
    * decodeToInt and long/timestamp through decodeToLong). Excluded:
    * BooleanType (getBoolean is not dictionary-aware), u64→DECIMAL(20,0)
    * reinterpretation and cross-file decimal rescale (both transform
    * values, not just cast them). */
  private def longDictServable(f: StructField, fi: Int): Boolean = f.dataType match {
    case LongType | TimestampType | TimestampNTZType | IntegerType | DateType |
         ShortType | ByteType => true
    case d: DecimalType =>
      d.precision <= 18 &&
        fileTypes(fi).forall(ft => ft.tag != TypeTag.UINT64 && ft.scale == d.scale)
    case _ => false
  }

  /** Fill a flattened element/entry stream [base, base+total) into an
    * array/map child vector — shared by LIST values and MAP keys and
    * values (all three store the same physical scalar streams). */
  private def fillElems(
      child: org.apache.spark.sql.execution.vectorized.WritableColumnVector,
      data: ColData,
      et: DataType,
      base: Int,
      total: Int,
      widenFloat: Boolean): Unit = (data, et) match {
    case (LongData(bits), FloatType) =>
      // float elements ride as raw 32-bit patterns (Format.elemPhysOf)
      var m = 0
      while (m < total) {
        child.putFloat(m, java.lang.Float.intBitsToFloat(bits(base + m).toInt))
        m += 1
      }
    case (DoubleData(vs), DoubleType) =>
      child.putDoubles(0, total, vs, base)
    case (LongData(bits), DoubleType) if widenFloat =>
      var m = 0
      while (m < total) {
        child.putDouble(m,
          java.lang.Float.intBitsToFloat(bits(base + m).toInt).toDouble)
        m += 1
      }
    case (LongData(vs), LongType | TimestampType | TimestampNTZType) =>
      child.putLongs(0, total, vs, base)
    case (LongData(vs), IntegerType | DateType) =>
      var m = 0
      while (m < total) { child.putInt(m, vs(base + m).toInt); m += 1 }
    case (LongData(vs), ShortType) =>
      var m = 0
      while (m < total) { child.putShort(m, vs(base + m).toShort); m += 1 }
    case (LongData(vs), ByteType) =>
      var m = 0
      while (m < total) { child.putByte(m, vs(base + m).toByte); m += 1 }
    case (LongData(vs), BooleanType) =>
      var m = 0
      while (m < total) { child.putBoolean(m, vs(base + m) != 0L); m += 1 }
    case (b: BytesData, StringType | BinaryType) =>
      if (total > 0) {
        val s0 = b.offsets(base)
        val byteTotal = b.offsets(base + total) - s0
        val grandChild = child.arrayData()
        grandChild.reserve(byteTotal)
        grandChild.putBytes(0, byteTotal, b.bytes, s0)
        var m = 0
        while (m < total) {
          child.putArray(m, b.offsets(base + m) - s0,
            b.offsets(base + m + 1) - b.offsets(base + m))
          m += 1
        }
      }
    case (d, t) =>
      throw new IllegalStateException(
        s"fls: cannot fill element stream <$t> from ${d.getClass.getSimpleName}")
  }

  private def fill(
      vec: OnHeapColumnVector,
      field: StructField,
      data: ColData,
      start: Int,
      len: Int): Unit = {
    (data, field.dataType) match {
      case (null, LongType) if field.name == FlsVirtual.RowNumber ||
          field.name == FlsVirtual.MetaPos =>
        val base = groupRowStart + start
        var i = 0
        while (i < len) { vec.putLong(i, base + i); i += 1 }
      case (null, _) =>
        // column absent from this file and no constant: union_by_name
        // semantics → NULLs
        vec.putNulls(0, len)
      case (LongData(vs), d: DecimalType)
          if fileTypes(fieldIdx(field)).exists(_.tag == TypeTag.UINT64) =>
        // u64 read fallback: the stored long is the RAW 64-bit pattern;
        // reinterpret unsigned into DECIMAL(20,0)
        val two64 = java.math.BigInteger.ONE.shiftLeft(64)
        var i = 0
        while (i < len) {
          val v = vs(start + i)
          val bd = new java.math.BigDecimal(
            if (v >= 0) java.math.BigInteger.valueOf(v)
            else java.math.BigInteger.valueOf(v).add(two64))
          vec.putDecimal(i,
            org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale), d.precision)
          i += 1
        }
      case (LongData(vs), d: DecimalType)
          if fileTypes(fieldIdx(field)).exists(ft => ft.scale != d.scale) =>
        // cross-file decimal promotion: rescale unscaled values
        val ft = fileTypes(fieldIdx(field)).get
        var factor = 1L
        var k = ft.scale
        while (k < d.scale) { factor *= 10; k += 1 }
        if (d.precision <= 18) {
          var i = 0
          while (i < len) {
            val unscaled = vs(start + i) * factor
            if (d.precision <= 9) vec.putInt(i, unscaled.toInt)
            else vec.putLong(i, unscaled)
            i += 1
          }
        } else {
          var i = 0
          while (i < len) {
            vec.putDecimal(i, org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(
                java.math.BigInteger.valueOf(vs(start + i)), ft.scale)
                .setScale(d.scale), d.precision, d.scale), d.precision)
            i += 1
          }
        }
      case (sd: StructData, st: StructType) =>
        // parent vector reports no nulls (format stores none); children
        // fill recursively — vec.reset() already reset them
        var ci = 0
        while (ci < st.fields.length) {
          fill(vec.getChild(ci).asInstanceOf[OnHeapColumnVector],
            st.fields(ci), sd.children(ci), start, len)
          ci += 1
        }
      case (LongData(vs), LongType | TimestampType | TimestampNTZType) =>
        vec.putLongs(0, len, vs, start)
      case (LongData(vs), IntegerType | DateType) =>
        var i = 0
        while (i < len) { vec.putInt(i, vs(start + i).toInt); i += 1 }
      case (LongData(vs), ShortType) =>
        var i = 0
        while (i < len) { vec.putShort(i, vs(start + i).toShort); i += 1 }
      case (LongData(vs), ByteType) =>
        var i = 0
        while (i < len) { vec.putByte(i, vs(start + i).toByte); i += 1 }
      case (LongData(vs), BooleanType) =>
        var i = 0
        while (i < len) { vec.putBoolean(i, vs(start + i) != 0L); i += 1 }
      case (LongData(vs), d: DecimalType) if d.precision <= 9 =>
        var i = 0
        while (i < len) { vec.putInt(i, vs(start + i).toInt); i += 1 }
      case (LongData(vs), d: DecimalType) if d.precision <= 18 =>
        vec.putLongs(0, len, vs, start)
      case (DoubleData(vs), DoubleType) =>
        vec.putDoubles(0, len, vs, start)
      case (DoubleData(vs), FloatType) =>
        var i = 0
        while (i < len) { vec.putFloat(i, vs(start + i).toFloat); i += 1 }
      case (b: BytesData, StringType | BinaryType) =>
        // BytesData is contiguous: ship the batch slice's whole byte
        // range into the vector's child with ONE copy, then write only
        // per-row (offset, length) pairs — putByteArray would memcpy
        // per row (measured on string-heavy 64× scans)
        val base = b.offsets(start)
        val total = b.offsets(start + len) - base
        val child = vec.arrayData()
        child.reserve(total)
        child.putBytes(0, total, b.bytes, base)
        var i = 0
        while (i < len) {
          vec.putArray(i, b.offsets(start + i) - base,
            b.offsets(start + i + 1) - b.offsets(start + i))
          i += 1
        }
      case (_: DictBytes | _: DictLongs | _: DictDoubles, _) =>
        // serve through the shared dictionary built at decode time
        // (decodeCol gates which (physical, read-type) pairs qualify)
        val fi = fieldIdx(field)
        vec.setDictionary(colDicts(fi))
        val ids = vec.reserveDictionaryIds(len)
        ids.putInts(0, len, colDictIds(fi), start)
      case (a: ArrayColData, ArrayType(et, _)) =>
        // batch slice [start, start+len): ship the slice's element range
        // into the vector's child and record per-row (offset, length)
        // pairs relative to the child's origin
        val base = a.offsets(start)
        val total = a.offsets(start + len) - base
        val child = vec.arrayData() // reset by vec.reset() already
        child.reserve(total)
        // file stored array<float> (raw 32-bit patterns) but the read
        // schema widened elements to double — mirror the scalar
        // float-as-DoubleData transparency
        val widenFloat = et == DoubleType &&
          fileTypes(fieldIdx(field)).exists(ft =>
            ft.tag == TypeTag.LIST && ft.elem.tag == TypeTag.FLOAT)
        fillElems(child, a.values, et, base, total, widenFloat)
        var i = 0
        while (i < len) {
          vec.putArray(i, a.offsets(start + i) - base,
            a.offsets(start + i + 1) - a.offsets(start + i))
          i += 1
        }
      case (m: MapColData, MapType(kt, vt, _)) =>
        // maps use the same offsets mechanism with TWO children:
        // getChild(0) = keys, getChild(1) = values
        val base = m.offsets(start)
        val total = m.offsets(start + len) - base
        val keys = vec.getChild(0)
        val values = vec.getChild(1)
        keys.reserve(total)
        values.reserve(total)
        fillElems(keys, m.keys, kt, base, total, widenFloat = false)
        fillElems(values, m.values, vt, base, total, widenFloat = false)
        var i = 0
        while (i < len) {
          vec.putArray(i, m.offsets(start + i) - base,
            m.offsets(start + i + 1) - m.offsets(start + i))
          i += 1
        }
      case (b: BytesData, d: DecimalType) =>
        // bytes-backed decimals carry the FILE's scale; rescale if the
        // merged schema promoted it
        val fileScale = fileTypes(fieldIdx(field)).map(_.scale).getOrElse(d.scale)
        var i = 0
        while (i < len) {
          val s = b.offsets(start + i)
          val unscaled = new java.math.BigInteger(
            java.util.Arrays.copyOfRange(b.bytes, s, b.offsets(start + i + 1)))
          vec.putDecimal(i,
            org.apache.spark.sql.types.Decimal(
              new java.math.BigDecimal(unscaled, fileScale).setScale(d.scale),
              d.precision, d.scale),
            d.precision)
          i += 1
        }
      case (d, t) =>
        throw new IllegalStateException(s"fls: cannot fill $t from ${d.getClass.getSimpleName}")
    }
  }
}

/** Bytes dictionary served to Spark's vectorized reader: decode returns
  * the pre-split value array DIRECTLY (UTF8String.fromBytes wraps it
  * without copying), so a scan of a dict-encoded string column does no
  * per-row byte copying at all. */
private[connector] final class FlsBytesDictionary(values: Array[Array[Byte]])
  extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToBinary(id: Int): Array[Byte] = values(id)
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("bytes dictionary")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("bytes dictionary")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("bytes dictionary")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("bytes dictionary")
}

/** Long-domain dictionary (bigint/timestamp/int/date/short/byte and
  * unscaled decimals ≤18 digits): byte/short/int vectors route through
  * decodeToInt, long-backed ones through decodeToLong. */
private[connector] final class FlsLongDictionary(values: Array[Long])
  extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToInt(id: Int): Int = values(id).toInt
  override def decodeToLong(id: Int): Long = values(id)
  override def decodeToBinary(id: Int): Array[Byte] =
    throw new UnsupportedOperationException("long dictionary")
  override def decodeToFloat(id: Int): Float =
    throw new UnsupportedOperationException("long dictionary")
  override def decodeToDouble(id: Int): Double =
    throw new UnsupportedOperationException("long dictionary")
}

private[connector] final class FlsDoubleDictionary(values: Array[Double])
  extends org.apache.spark.sql.execution.vectorized.Dictionary {
  override def decodeToDouble(id: Int): Double = values(id)
  override def decodeToFloat(id: Int): Float = values(id).toFloat
  override def decodeToBinary(id: Int): Array[Byte] =
    throw new UnsupportedOperationException("double dictionary")
  override def decodeToInt(id: Int): Int =
    throw new UnsupportedOperationException("double dictionary")
  override def decodeToLong(id: Int): Long =
    throw new UnsupportedOperationException("double dictionary")
}

object FlsVirtual {
  /** Virtual column names (≙ reference's read_fls named columns,
    * /root/reference/src/read_fls.cpp:13-18). Enabled per-read via
    * options of the same name. */
  val RowNumber = "file_row_number"
  val FileIndex = "file_index"
  /** METADATA columns (SupportsMetadataColumns — always available, no
    * option needed): the file's absolute path and the file-absolute
    * row position. Together they are the ROW ID the delta (merge-on-
    * read) row-level operations key deletes/updates by. */
  val MetaFile = "_fls_file"
  val MetaPos = "_fls_pos"

  /** `array_size=v,w` surfaces virtual `v_size`/`w_size` BIGINT columns
    * carrying each row's element count. Spark cannot push `size(col)`
    * predicates to a source (not in the V2 predicate vocabulary), but a
    * filter on `v_size` is an ordinary column filter — it pushes, and
    * the LIST segments' element-count footer stats zone-map-prune row
    * groups WITHOUT touching data (degenerate/odd-dimension screening
    * over an embedding corpus becomes footer-only). */
  val ArraySizeOption = "array_size"
  val SizeSuffix = "_size"

  /** virtual name → base array column name, from the read options. */
  def sizeVirtuals(options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Map[String, String] =
    Option(options.get(ArraySizeOption)) match {
      case None => Map.empty
      case Some(s) =>
        s.split(",").map(_.trim).filter(_.nonEmpty).map(c => (c + SizeSuffix, c)).toMap
    }
}
