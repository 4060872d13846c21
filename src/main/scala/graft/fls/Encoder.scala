package graft.fls

import Format._

/** Writer-side encoding selection: per column, per row group, sample the
  * data and pick the cheapest encoding by an explicit size model — the
  * role the external fls library's cascade selection plays for the
  * reference's writer (/root/reference/src/writer/fls_writer.cpp:33-34,
  * where `WriteColumn` delegates the choice; SURVEY.md §4 "Encoding
  * selection at write" marks this as custom work). Deterministic: same
  * data → same encoding. */
object Encoder {

  /** Encodes `col` into `out`, returning the SegmentDesc (offset filled
    * by caller). With `transpose=true`, numeric columns are stored in
    * the FastLanes interleaved layout (K16): the inner encoding runs
    * over the permuted values, wrapped as Enc.TRANSPOSED; stats stay
    * those of the ORIGINAL order (min/max are order-invariant). Note
    * RLE degrades under transpose (runs break) — the option exists for
    * layout parity, not compression. */
  def encodeColumn(col: ColData, out: ByteWriter,
      transpose: Boolean = false): (Int, SegmentDesc) = {
    val start = out.size
    // a bytes column's distinct values, when its scan kept them all,
    // give its zone-map stats without comparing every row
    var stats: SegmentDesc = null
    val enc = col match {
      case _: StructMarker =>
        // STRUCT parent: zero-byte segment — the fields live in their
        // own dotted child columns
        Enc.PLAIN
      case LongData(vs) if transpose =>
        out.writeByte(0) // placeholder patched below
        val innerStart = out.size
        val inner = encodeLong(Codecs.transposeLongs(vs), out)
        out.patchByte(innerStart - 1, inner)
        Enc.TRANSPOSED
      case DoubleData(vs) if transpose =>
        out.writeByte(0)
        val innerStart = out.size
        val inner = encodeDouble(Codecs.transposeDoubles(vs), out)
        out.patchByte(innerStart - 1, inner)
        Enc.TRANSPOSED
      case LongData(vs) => encodeLong(vs, out)
      case DoubleData(vs) => encodeDouble(vs, out)
      case b: BytesData =>
        val (e, seen) = encodeBytes(b, out)
        if (seen != null) stats = bytesStats(b, seen.rows, seen.size)
        e
      case ArrayColData(offsets, values) =>
        // LIST: per-row lengths then the flattened element stream, each
        // a nested scalar segment (tag byte patched after the inner
        // encoder runs, like TRANSPOSED). Constant-length vectors
        // (embeddings) pay a CONSTANT lengths sub-segment; elements get
        // the full scalar cascade. Transpose never applies (the element
        // stream is not row-aligned to 1024-vectors).
        val n = offsets.length - 1
        out.writeInt(n)
        val lengths = new Array[Long](n)
        var i = 0
        while (i < n) { lengths(i) = (offsets(i + 1) - offsets(i)).toLong; i += 1 }
        out.writeByte(0)
        val lStart = out.size
        out.patchByte(lStart - 1, encodeLong(lengths, out))
        out.writeByte(0)
        val vStart = out.size
        val vEnc = values match {
          case LongData(vs) => encodeLong(vs, out)
          case DoubleData(vs) => encodeDouble(vs, out)
          case b: BytesData => encodeBytes(b, out)._1
          case other =>
            throw new IllegalArgumentException(s"fls: array of ${other.getClass.getSimpleName}")
        }
        out.patchByte(vStart - 1, vEnc)
        Enc.ARRAY
      case MapColData(offsets, keys, values) =>
        // MAP: per-row entry counts, then the flattened key and value
        // streams, each a nested scalar segment like ARRAY
        val n = offsets.length - 1
        out.writeInt(n)
        val lengths = new Array[Long](n)
        var i = 0
        while (i < n) { lengths(i) = (offsets(i + 1) - offsets(i)).toLong; i += 1 }
        out.writeByte(0)
        val lStart = out.size
        out.patchByte(lStart - 1, encodeLong(lengths, out))
        def sub(d: ColData): Unit = {
          out.writeByte(0)
          val sStart = out.size
          val e = d match {
            case LongData(vs) => encodeLong(vs, out)
            case DoubleData(vs) => encodeDouble(vs, out)
            case b: BytesData => encodeBytes(b, out)._1
            case other =>
              throw new IllegalArgumentException(s"fls: map stream of ${other.getClass.getSimpleName}")
          }
          out.patchByte(sStart - 1, e)
        }
        sub(keys)
        sub(values)
        Enc.MAP
      case scanSide @ (_: DictBytes | _: DictLongs | _: DictDoubles | _: StructData) =>
        throw new IllegalArgumentException(
          s"${scanSide.getClass.getSimpleName} is a scan-side representation")
    }
    if (stats == null) stats = statsOf(col)
    (enc, stats.copy(encoding = enc, offset = start.toLong, length = (out.size - start).toLong))
  }

  /** Zone-map stats for a column's data, independent of its encoding —
    * EQUAL (MCC) segments carry the stats of the duplicated content so
    * pruning and metadata aggregates work unchanged. */
  def statsOf(col: ColData): SegmentDesc = col match {
    case LongData(vs) if vs.nonEmpty =>
      var mn = vs(0); var mx = vs(0)
      var i = 1
      while (i < vs.length) {
        val v = vs(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        i += 1
      }
      SegmentDesc(0, 0, 0, hasStats = true, mn, mx, 0, 0)
    case DoubleData(vs) if vs.nonEmpty =>
      var mn = vs(0); var mx = vs(0)
      var hasNaN = java.lang.Double.isNaN(vs(0))
      var i = 1
      while (i < vs.length) {
        val v = vs(i)
        if (java.lang.Double.isNaN(v)) hasNaN = true
        else { if (v < mn) mn = v; if (v > mx) mx = v }
        i += 1
      }
      // NaN poisons ordering — drop stats rather than emit a wrong zone map.
      SegmentDesc(0, 0, 0, hasStats = !hasNaN, 0, 0, mn, mx)
    case b: BytesData if b.n > 0 =>
      // Byte-prefix zone maps (beyond the reference), see [[byteBounds]]
      var mnI = 0; var mxI = 0
      var i = 1
      while (i < b.n) {
        if (cmpSlice(b, i, mnI) < 0) mnI = i
        if (cmpSlice(b, i, mxI) > 0) mxI = i
        i += 1
      }
      byteBounds(b, mnI, mxI)
    case a: ArrayColData if a.offsets.length > 1 =>
      // LIST: element-count bounds (the elements themselves have no
      // usable ordering). Equal bounds also tell the reader the column
      // is fixed-width — the dominant embeddings case.
      elemCountStatsOf(a.offsets)
    case m: MapColData if m.offsets.length > 1 =>
      // MAP: entry-count bounds, same shape as LIST
      elemCountStatsOf(m.offsets)
    case _ => SegmentDesc(0, 0, 0, hasStats = false, 0, 0, 0, 0)
  }

  /** Byte-prefix zone maps (beyond the reference) over the values at
    * `rows(0 until count)`, which must include every distinct value of
    * `b`: see [[byteBounds]]. */
  private def bytesStats(b: BytesData, rows: Array[Int], count: Int): SegmentDesc = {
    var mnI = rows(0); var mxI = rows(0)
    var k = 1
    while (k < count) {
      val i = rows(k)
      if (cmpSlice(b, i, mnI) < 0) mnI = i
      if (cmpSlice(b, i, mxI) > 0) mxI = i
      k += 1
    }
    byteBounds(b, mnI, mxI)
  }

  /** Stats from the rows holding the min and the max under unsigned-
    * lexicographic order, truncated to StatPrefixLen bytes. A truncated
    * MIN stays a lower bound for free; a truncated MAX increments its
    * last non-0xFF byte to stay an upper bound (parquet's truncate
    * semantics) — if every prefix byte is 0xFF the stats are dropped
    * rather than emitted unsound. */
  private def byteBounds(b: BytesData, mnI: Int, mxI: Int): SegmentDesc = {
    val mnFull = slice(b, mnI); val mxFull = slice(b, mxI)
    val mn = truncatePrefix(mnFull)
    truncateUpper(mxFull) match {
      case Some(mx) => SegmentDesc(0, 0, 0, hasStats = false, 0, 0, 0, 0, mn, mx,
        // exact = nothing truncated: the stored bounds ARE the true
        // min/max values, so MIN/MAX aggregates can answer from them
        byteStatsExact =
          mnFull.length <= StatPrefixLen && mxFull.length <= StatPrefixLen)
      case None => SegmentDesc(0, 0, 0, hasStats = false, 0, 0, 0, 0)
    }
  }

  private def elemCountStatsOf(offsets: Array[Int]): SegmentDesc = {
    var mn = Int.MaxValue; var mx = Int.MinValue
    var i = 0
    val n = offsets.length - 1
    while (i < n) {
      val len = offsets(i + 1) - offsets(i)
      if (len < mn) mn = len
      if (len > mx) mx = len
      i += 1
    }
    SegmentDesc(0, 0, 0, hasStats = false, mn.toLong, mx.toLong, 0, 0,
      elemCountStats = true)
  }

  /** Bound on stored string-stat prefixes: long document bodies must not
    * bloat the footer. */
  val StatPrefixLen = 16

  private def cmpSlice(b: BytesData, x: Int, y: Int): Int = {
    val xs = b.offsets(x); val xe = b.offsets(x + 1)
    val ys = b.offsets(y); val ye = b.offsets(y + 1)
    var i = xs; var j = ys
    while (i < xe && j < ye) {
      val c = (b.bytes(i) & 0xFF) - (b.bytes(j) & 0xFF)
      if (c != 0) return c
      i += 1; j += 1
    }
    (xe - xs) - (ye - ys)
  }

  private def slice(b: BytesData, i: Int): Array[Byte] =
    java.util.Arrays.copyOfRange(b.bytes, b.offsets(i), b.offsets(i + 1))

  private def truncatePrefix(v: Array[Byte]): Array[Byte] =
    if (v.length <= StatPrefixLen) v else java.util.Arrays.copyOf(v, StatPrefixLen)

  private def truncateUpper(v: Array[Byte]): Option[Array[Byte]] =
    if (v.length <= StatPrefixLen) Some(v)
    else {
      val p = java.util.Arrays.copyOf(v, StatPrefixLen)
      var i = StatPrefixLen - 1
      while (i >= 0 && p(i) == -1) i -= 1 // 0xFF cannot increment
      if (i < 0) None
      else Some({ p(i) = (p(i) + 1).toByte; java.util.Arrays.copyOf(p, i + 1) })
    }

  // ---- distinct tables ----

  /** Open-addressing `long → id` table for the distinct scans. Ids are
    * handed out in first-seen order and each id keeps how often its key
    * was added, so one pass yields the dictionary, the codes and the FREQ
    * tally without boxing a key or a count. Linear probing over a
    * power-of-two slot array kept at most half full. */
  private[fls] final class LongIdTable {
    private var slotKeys = new Array[Long](16)
    private var slotIds = new Array[Int](16) // id + 1; 0 = empty slot
    private var shift = 60 // 64 - log2(slots)
    /** Distinct keys added so far. */
    var size = 0
    /** `keys(id)`: the key of each id. */
    var keys = new Array[Long](8)
    /** `counts(id)`: how often each id's key was added. */
    var counts = new Array[Int](8)

    private def home(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> shift).toInt

    /** The slot holding `k`, or the empty slot where it would go. */
    private def slotOf(k: Long): Int = {
      val mask = slotIds.length - 1
      var s = home(k)
      while (slotIds(s) != 0 && slotKeys(s) != k) s = (s + 1) & mask
      s
    }

    /** Adds one occurrence of `k` and returns its id. */
    def add(k: Long): Int = {
      val s = slotOf(k)
      val id1 = slotIds(s)
      if (id1 != 0) { counts(id1 - 1) += 1; id1 - 1 }
      else {
        val id = size
        if (id == keys.length) {
          keys = java.util.Arrays.copyOf(keys, 2 * id)
          counts = java.util.Arrays.copyOf(counts, 2 * id)
        }
        keys(id) = k; counts(id) = 1; size += 1
        slotKeys(s) = k; slotIds(s) = id + 1
        if (2 * size > slotIds.length) grow()
        id
      }
    }

    /** The id of `k`, or -1 when it was never added. */
    def get(k: Long): Int = slotIds(slotOf(k)) - 1

    private def grow(): Unit = {
      val cap = 2 * slotIds.length
      slotKeys = new Array[Long](cap); slotIds = new Array[Int](cap); shift -= 1
      var id = 0
      while (id < size) {
        var s = home(keys(id))
        while (slotIds(s) != 0) s = (s + 1) & (cap - 1)
        slotKeys(s) = keys(id); slotIds(s) = id + 1
        id += 1
      }
    }
  }

  /** [[LongIdTable]]'s twin over the row slices of one [[BytesData]]: an
    * id stands for the first row holding its bytes, and rows are told
    * apart by comparing slices, so no key object is made per row. */
  private[fls] final class SliceIdTable(d: BytesData) {
    private var slotHashes = new Array[Int](16)
    private var slotIds = new Array[Int](16) // id + 1; 0 = empty slot
    /** Distinct values added so far. */
    var size = 0
    /** `rows(id)`: the first row holding each id's bytes. */
    var rows = new Array[Int](8)
    /** `counts(id)`: how many rows hold each id's bytes. */
    var counts = new Array[Int](8)

    /** Adds row `r` and returns the id of its bytes. */
    def add(r: Int): Int = {
      val h = sliceHash(d, r)
      val mask = slotIds.length - 1
      var s = h & mask
      var id1 = slotIds(s)
      while (id1 != 0 && !(slotHashes(s) == h && sameSlice(d, rows(id1 - 1), r))) {
        s = (s + 1) & mask; id1 = slotIds(s)
      }
      if (id1 != 0) { counts(id1 - 1) += 1; id1 - 1 }
      else {
        val id = size
        if (id == rows.length) {
          rows = java.util.Arrays.copyOf(rows, 2 * id)
          counts = java.util.Arrays.copyOf(counts, 2 * id)
        }
        rows(id) = r; counts(id) = 1; size += 1
        slotHashes(s) = h; slotIds(s) = id + 1
        if (2 * size > slotIds.length) grow()
        id
      }
    }

    private def grow(): Unit = {
      val cap = 2 * slotIds.length
      val oldHashes = slotHashes; val oldIds = slotIds
      slotHashes = new Array[Int](cap); slotIds = new Array[Int](cap)
      var o = 0
      while (o < oldIds.length) {
        if (oldIds(o) != 0) {
          var s = oldHashes(o) & (cap - 1)
          while (slotIds(s) != 0) s = (s + 1) & (cap - 1)
          slotHashes(s) = oldHashes(o); slotIds(s) = oldIds(o)
        }
        o += 1
      }
    }
  }

  private def sliceLen(d: BytesData, r: Int): Int = d.offsets(r + 1) - d.offsets(r)

  private def sameSlice(d: BytesData, a: Int, b: Int): Boolean = {
    val as = d.offsets(a); val bs = d.offsets(b)
    val len = d.offsets(a + 1) - as
    len == d.offsets(b + 1) - bs && {
      val bytes = d.bytes
      var k = 0
      while (k < len && bytes(as + k) == bytes(bs + k)) k += 1
      k == len
    }
  }

  /** Polynomial hash of row `r`'s bytes, finished with murmur3's fmix32
    * so the low bits the slot index uses are well mixed. */
  private def sliceHash(d: BytesData, r: Int): Int = {
    var h = 1
    var i = d.offsets(r)
    val end = d.offsets(r + 1)
    while (i < end) { h = 31 * h + d.bytes(i); i += 1 }
    h ^= h >>> 16; h *= 0x85EBCA6B
    h ^= h >>> 13; h *= 0xC2B2AE35
    h ^ (h >>> 16)
  }

  // ---- long columns ----

  private def encodeLong(vs: Array[Long], out: ByteWriter): Int = {
    val n = vs.length
    if (n == 0) { Codecs.encodePlainLong(vs, out); return Enc.PLAIN }
    var mn = vs(0); var mx = vs(0); var runs = 1
    var i = 1
    while (i < n) {
      val v = vs(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (v != vs(i - 1)) runs += 1
      i += 1
    }
    if (mn == mx) { Codecs.encodeConstLong(n, mn, out); return Enc.CONSTANT }

    val range = mx - mn
    val rangeBw = // unsigned width of the full range (overflow-safe)
      if (range < 0) 64 else Codecs.bitWidth(range)
    val fforCost = n.toLong * rangeBw / 8 + (n / VecSize + 1) * 9L
    val rleCost = runs.toLong * 10

    // Distinct scan, capped: dictionary only pays off for small dicts.
    // It also stops, exactly, once 8 × distinct passes min(FFOR, RLE):
    // DICT costs at least 8 bytes per distinct value and FREQ at least
    // 10, so neither can win from there on.
    val dictCap = math.min(n / 2, 1 << 16)
    val stopAt = math.min(fforCost, rleCost)
    val seen = new LongIdTable
    var capped = false
    i = 0
    while (i < n && !capped) {
      seen.add(vs(i))
      capped = seen.size > dictCap || seen.size * 8L > stopAt
      i += 1
    }
    val nDistinct = if (capped) Int.MaxValue else seen.size

    val dictCost =
      if (nDistinct == Int.MaxValue) Long.MaxValue
      else nDistinct.toLong * 8 + n.toLong * Codecs.bitWidth(math.max(0, nDistinct - 1).toLong) / 8
    // K15 frequency: pays off when one value dominates. Highest count
    // wins; ties go to the larger `-value` (so the smaller value, with
    // Long.MinValue, which negates to itself, ranked last).
    var freqVal = 0L; var freqCount = 0
    if (nDistinct != Int.MaxValue) {
      var id = 0
      while (id < seen.size) {
        val c = seen.counts(id); val v = seen.keys(id)
        if (c > freqCount || (c == freqCount && -v > -freqVal)) { freqVal = v; freqCount = c }
        id += 1
      }
    }
    val freqCost = // only competitive with >=90% dominance
      if (freqCount.toLong * 10 < n.toLong * 9) Long.MaxValue
      else 16L + (n - freqCount).toLong * 10
    val minCost = math.min(math.min(fforCost, freqCost), math.min(dictCost, rleCost))

    if (minCost == freqCost) {
      Codecs.encodeFreqLong(vs, freqVal, out)
      Enc.FREQ
    } else if (minCost == rleCost) {
      val runVals = new Array[Long](runs)
      val runLens = new Array[Long](runs)
      var r = -1
      i = 0
      while (i < n) {
        if (r < 0 || vs(i) != runVals(r)) { r += 1; runVals(r) = vs(i); runLens(r) = 1 }
        else runLens(r) += 1
        i += 1
      }
      Codecs.encodeRleLong(n, runVals, runLens, out)
      Enc.RLE
    } else if (minCost == dictCost) {
      val codes = new Array[Long](n)
      i = 0
      while (i < n) { codes(i) = seen.get(vs(i)).toLong; i += 1 }
      Codecs.encodeDictLong(vs, java.util.Arrays.copyOf(seen.keys, nDistinct), codes, out)
      Enc.DICT
    } else {
      Codecs.encodeFFOR(vs, out)
      Enc.FFOR
    }
  }

  // ---- double columns ----

  private def encodeDouble(vs: Array[Double], out: ByteWriter): Int = {
    val n = vs.length
    if (n == 0) { Codecs.encodePlainDouble(vs, out); return Enc.PLAIN }
    val firstBits = java.lang.Double.doubleToRawLongBits(vs(0))
    var allSame = true
    var i = 1
    while (i < n && allSame) {
      if (java.lang.Double.doubleToRawLongBits(vs(i)) != firstBits) allSame = false
      i += 1
    }
    if (allSame) { Codecs.encodeConstDouble(n, vs(0), out); return Enc.CONSTANT }

    val (e, exactFrac) = Codecs.alpChooseExponent(vs)
    if (exactFrac >= 0.8) { Codecs.encodeAlp(vs, e, out); return Enc.ALP }

    // low-cardinality doubles → dictionary (keys by raw bits)
    val dictCap = math.min(n / 4, 1 << 16)
    val seen = new LongIdTable
    i = 0
    while (i < n && seen.size <= dictCap) {
      seen.add(java.lang.Double.doubleToRawLongBits(vs(i)))
      i += 1
    }
    if (seen.size <= dictCap) {
      val dict = new Array[Double](seen.size)
      i = 0
      while (i < seen.size) { dict(i) = java.lang.Double.longBitsToDouble(seen.keys(i)); i += 1 }
      val codes = new Array[Long](n)
      i = 0
      while (i < n) { codes(i) = seen.get(java.lang.Double.doubleToRawLongBits(vs(i))).toLong; i += 1 }
      Codecs.encodeDictDouble(n, dict, codes, out)
      Enc.DICT
    } else {
      // K6 ALP-RD for "real doubles": pick a right-bits split whose
      // front-bits dictionary (≤8 entries) covers most values
      alpRdPlan(vs) match {
        case Some((rbits, dict)) =>
          Codecs.encodeAlpRd(vs, rbits, dict, out)
          Enc.ALP_RD
        case None =>
          Codecs.encodePlainDouble(vs, out)
          Enc.PLAIN
      }
    }
  }

  /** Try right-bit widths; accept the cheapest plan that beats PLAIN by
    * >=10%. Dictionary = the up-to-8 most frequent front-bit patterns
    * over the full column, ordered by (-count, value). */
  private def alpRdPlan(vs: Array[Double]): Option[(Int, Array[Long])] = {
    val n = vs.length
    var best: Option[(Long, Int, Array[Long])] = None // (cost, rbits, dict)
    var rbits = 40
    while (rbits <= 56) {
      val counts = new LongIdTable
      var i = 0
      while (i < n && counts.size <= 4096) {
        counts.add(java.lang.Double.doubleToRawLongBits(vs(i)) >>> rbits)
        i += 1
      }
      if (counts.size <= 4096) {
        // selection of the top entries: at most 8 passes over ≤4096 ids
        val dict = new Array[Long](math.min(8, counts.size))
        val taken = new Array[Boolean](counts.size)
        var covered = 0
        var k = 0
        while (k < dict.length) {
          var pick = -1
          var id = 0
          while (id < counts.size) {
            if (!taken(id) && (pick < 0 || counts.counts(id) > counts.counts(pick) ||
                (counts.counts(id) == counts.counts(pick) && counts.keys(id) < counts.keys(pick))))
              pick = id
            id += 1
          }
          taken(pick) = true
          dict(k) = counts.keys(pick)
          covered += counts.counts(pick)
          k += 1
        }
        val nEx = n - covered
        val bw = Codecs.bitWidth(math.max(0, dict.length - 1).toLong)
        val cost = n.toLong * (rbits + bw) / 8 + dict.length * 8L + nEx * 12L
        if (best.forall(_._1 > cost)) best = Some((cost, rbits, dict))
      }
      rbits += 4
    }
    best.collect { case (cost, r, dict) if cost < n.toLong * 8 * 9 / 10 => (r, dict) }
  }

  // ---- bytes columns ----

  /** Returns the encoding and, when the distinct scan saw every value,
    * its table (else null). */
  private def encodeBytes(d: BytesData, out: ByteWriter): (Int, SliceIdTable) = {
    val n = d.n
    if (n == 0) { Codecs.encodePlainBytes(d, out); return (Enc.PLAIN, null) }

    var runs = 1
    var i = 1
    while (i < n) { if (!sameSlice(d, i, i - 1)) runs += 1; i += 1 }

    val dictCap = math.min(math.max(16, n / 2), 1 << 16)
    val seen = new SliceIdTable(d)
    val codes = new Array[Long](n)
    i = 0
    while (i < n && seen.size <= dictCap) { codes(i) = seen.add(i).toLong; i += 1 }
    val nDistinct = if (seen.size > dictCap) Int.MaxValue else seen.size

    // frequency_str (K15 string variant): dominant value + exceptions.
    // Wins over DICT when one value dominates so hard that per-exception
    // costs beat paying code bits on every row, and over RLE when the
    // exceptions are scattered (runs ~ 2·nEx). Highest count wins; ties
    // go to the first seen.
    var freqId = -1; var freqCount = 0
    if (nDistinct != Int.MaxValue) {
      var id = 0
      while (id < seen.size) {
        if (seen.counts(id) > freqCount) { freqId = id; freqCount = seen.counts(id) }
        id += 1
      }
    }
    val totalBytes = d.offsets(n)
    val freqCost =
      if (freqId < 0 || freqCount * 2 < n) Long.MaxValue
      else {
        val freqLen = sliceLen(d, seen.rows(freqId))
        16L + freqLen + (n - freqCount).toLong * 10 +
          (totalBytes - freqCount.toLong * freqLen)
      }
    val dictTotal = {
      var t = 0L
      var id = 0
      while (id < seen.size) { t += sliceLen(d, seen.rows(id)); id += 1 }
      t
    }
    val dictCostB =
      if (nDistinct == Int.MaxValue) Long.MaxValue
      else dictTotal + n.toLong * Codecs.bitWidth(math.max(0, nDistinct - 1).toLong) / 8
    val rleCostB = runs.toLong * (totalBytes / n + 10)

    val enc = if (nDistinct == 1) {
      val v = java.util.Arrays.copyOfRange(d.bytes, d.offsets(0), d.offsets(1))
      Codecs.encodeConstBytes(n, v, out)
      Enc.CONSTANT
    } else if (freqCost < math.min(dictCostB, rleCostB)) {
      val r = seen.rows(freqId)
      Codecs.encodeFreqBytes(d, d.offsets(r), d.offsets(r + 1), out)
      Enc.FREQ
    } else if (nDistinct != Int.MaxValue && runs <= n / 4 && runs <= nDistinct * 4) {
      // each run's value is the slice of its first row
      val runStarts = new Array[Int](runs)
      var r = 1
      i = 1
      while (i < n) { if (!sameSlice(d, i, i - 1)) { runStarts(r) = i; r += 1 }; i += 1 }
      val runOffsets = new Array[Int](runs + 1)
      val runLens = new Array[Long](runs)
      r = 0
      while (r < runs) {
        runOffsets(r + 1) = runOffsets(r) + sliceLen(d, runStarts(r))
        runLens(r) = (if (r + 1 < runs) runStarts(r + 1) else n).toLong - runStarts(r)
        r += 1
      }
      val runVals = new Array[Byte](runOffsets(runs))
      r = 0
      while (r < runs) {
        System.arraycopy(d.bytes, d.offsets(runStarts(r)), runVals, runOffsets(r),
          runOffsets(r + 1) - runOffsets(r))
        r += 1
      }
      Codecs.encodeRleBytes(n, BytesData(runOffsets, runVals), runLens, out)
      Enc.RLE
    } else if (nDistinct != Int.MaxValue && nDistinct <= n / 2) {
      val dictOffsets = new Array[Int](nDistinct + 1)
      i = 0
      while (i < nDistinct) { dictOffsets(i + 1) = dictOffsets(i) + sliceLen(d, seen.rows(i)); i += 1 }
      val total = dictOffsets(nDistinct)
      val dictBytes = new Array[Byte](total)
      i = 0
      while (i < nDistinct) {
        System.arraycopy(d.bytes, d.offsets(seen.rows(i)), dictBytes, dictOffsets(i),
          dictOffsets(i + 1) - dictOffsets(i))
        i += 1
      }
      val dict = BytesData(dictOffsets, dictBytes)
      // K10/K12: large dictionaries earn FSST compression of the values
      (if (total >= 4096) fsstPlan(dict) else None) match {
        case Some((Enc.FSST, table)) =>
          Codecs.encodeFsstDict(n, dict, codes, table, out)
          Enc.FSST_DICT
        case Some((Enc.FSST12, table)) =>
          Codecs.encodeFsst12Dict(n, dict, codes, table, out)
          Enc.FSST12_DICT
        case _ =>
          Codecs.encodeDictBytes(n, dict, codes, out)
          Enc.DICT
      }
    } else {
      // K9/K11: high-cardinality strings → FSST when the sample compresses
      fsstPlan(d) match {
        case Some((Enc.FSST, table)) =>
          Codecs.encodeFsst(d, table, out)
          Enc.FSST
        case Some((Enc.FSST12, table)) =>
          Codecs.encodeFsst12(d, table, out)
          Enc.FSST12
        case _ =>
          Codecs.encodePlainBytes(d, out)
          Enc.PLAIN
      }
    }
    (enc, if (nDistinct == Int.MaxValue) null else seen)
  }

  /** Train 8-bit and 12-bit FSST on a bounded sample; pick whichever
    * probe-encodes smaller, and only if below 90% of raw (escape-heavy
    * tables would inflate). Returns (Enc tag, table). */
  private def fsstPlan(d: BytesData): Option[(Int, Fsst.SymbolTable)] = {
    val total = d.offsets(d.n)
    if (total < 1024) return None
    val sampleLen = math.min(total, 1 << 16)
    val sample = java.util.Arrays.copyOfRange(d.bytes, 0, sampleLen)
    val probeLen = math.min(total, 1 << 14)

    val t8 = Fsst.train(sample)
    val cost8 =
      if (t8.nSymbols == 0) Long.MaxValue
      else {
        val probe = scala.collection.mutable.ArrayBuilder.make[Byte]
        Fsst.encode(t8, d.bytes, 0, probeLen, probe).toLong
      }
    val t12 = Fsst12.train(sample)
    val cost12 =
      if (t12.nSymbols == 0) Long.MaxValue
      else {
        val codes = new scala.collection.mutable.ArrayBuilder.ofInt
        val nCodes = Fsst12.encode(t12, d.bytes, 0, probeLen, codes)
        nCodes.toLong * 12 / 8 + t12.nSymbols * 9L * probeLen / math.max(1, total)
      }
    val best = math.min(cost8, cost12)
    if (best * 10 >= probeLen.toLong * 9) None
    else if (cost8 <= cost12) Some((Format.Enc.FSST, t8))
    else Some((Format.Enc.FSST12, t12))
  }
}
