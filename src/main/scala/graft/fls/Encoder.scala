package graft.fls

import scala.collection.mutable

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
      case b: BytesData => encodeBytes(b, out)
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
          case b: BytesData => encodeBytes(b, out)
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
            case b: BytesData => encodeBytes(b, out)
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
    val stats = statsOf(col)
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
      // Byte-prefix zone maps (beyond the reference): min/max under
      // unsigned-lexicographic order, truncated to StatPrefixLen bytes.
      // A truncated MIN stays a lower bound for free; a truncated MAX
      // increments its last non-0xFF byte to stay an upper bound
      // (parquet's truncate semantics) — if every prefix byte is 0xFF
      // the stats are dropped rather than emitted unsound.
      var mnI = 0; var mxI = 0
      var i = 1
      while (i < b.n) {
        if (cmpSlice(b, i, mnI) < 0) mnI = i
        if (cmpSlice(b, i, mxI) > 0) mxI = i
        i += 1
      }
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

    // distinct scan, capped: dictionary only pays off for small dicts
    val dictCap = math.min(n / 2, 1 << 16)
    val seen = new mutable.HashMap[Long, Int]()
    i = 0
    while (i < n && seen.size <= dictCap) {
      val v = vs(i)
      if (!seen.contains(v)) seen(v) = seen.size
      i += 1
    }
    val nDistinct = if (seen.size > dictCap) Int.MaxValue else seen.size

    val range = mx - mn
    val rangeBw = // unsigned width of the full range (overflow-safe)
      if (range < 0) 64 else Codecs.bitWidth(range)
    val fforCost = n.toLong * rangeBw / 8 + (n / VecSize + 1) * 9L
    val dictCost =
      if (nDistinct == Int.MaxValue) Long.MaxValue
      else nDistinct.toLong * 8 + n.toLong * Codecs.bitWidth(math.max(0, nDistinct - 1).toLong) / 8
    val rleCost = runs.toLong * 10
    // K15 frequency: pays off when one value dominates
    val (freqVal, freqCount) =
      if (nDistinct == Int.MaxValue) (0L, 0)
      else {
        val counts = new mutable.HashMap[Long, Int]()
        var j = 0
        while (j < n) { counts.updateWith(vs(j))(c => Some(c.getOrElse(0) + 1)); j += 1 }
        counts.maxBy { case (v, c) => (c, -v) } // deterministic tie-break
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
      val dict = new Array[Long](nDistinct)
      seen.foreach { case (v, idx) => dict(idx) = v }
      val codes = new Array[Long](n)
      i = 0
      while (i < n) { codes(i) = seen(vs(i)).toLong; i += 1 }
      Codecs.encodeDictLong(vs, dict, codes, out)
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
    val seen = new mutable.HashMap[Long, Int]()
    i = 0
    while (i < n && seen.size <= dictCap) {
      val b = java.lang.Double.doubleToRawLongBits(vs(i))
      if (!seen.contains(b)) seen(b) = seen.size
      i += 1
    }
    if (seen.size <= dictCap) {
      val dict = new Array[Double](seen.size)
      seen.foreach { case (bits, idx) => dict(idx) = java.lang.Double.longBitsToDouble(bits) }
      val codes = new Array[Long](n)
      i = 0
      while (i < n) { codes(i) = seen(java.lang.Double.doubleToRawLongBits(vs(i))).toLong; i += 1 }
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
    * over the full column (deterministic tie-break on value). */
  private def alpRdPlan(vs: Array[Double]): Option[(Int, Array[Long])] = {
    val n = vs.length
    var best: Option[(Long, Int, Array[Long])] = None // (cost, rbits, dict)
    var rbits = 40
    while (rbits <= 56) {
      val counts = new mutable.HashMap[Long, Int]()
      var i = 0
      var tooMany = false
      while (i < n && !tooMany) {
        val left = java.lang.Double.doubleToRawLongBits(vs(i)) >>> rbits
        counts.updateWith(left)(c => Some(c.getOrElse(0) + 1))
        if (counts.size > 4096) tooMany = true
        i += 1
      }
      if (!tooMany && counts.nonEmpty) {
        val dict = counts.toArray
          .sortBy { case (v, c) => (-c, v) }
          .take(8).map(_._1)
        val dictSet = dict.toSet
        var nEx = 0
        i = 0
        while (i < n) {
          if (!dictSet.contains(java.lang.Double.doubleToRawLongBits(vs(i)) >>> rbits)) nEx += 1
          i += 1
        }
        val bw = Codecs.bitWidth(math.max(0, dict.length - 1).toLong)
        val cost = n.toLong * (rbits + bw) / 8 + dict.length * 8L + nEx * 12L
        if (best.forall(_._1 > cost)) best = Some((cost, rbits, dict))
      }
      rbits += 4
    }
    best.collect { case (cost, r, dict) if cost < n.toLong * 8 * 9 / 10 => (r, dict) }
  }

  // ---- bytes columns ----

  private final class BytesKey(val bytes: Array[Byte], val start: Int, val end: Int) {
    override val hashCode: Int = {
      var h = 1
      var i = start
      while (i < end) { h = 31 * h + bytes(i); i += 1 }
      h
    }
    override def equals(o: Any): Boolean = o match {
      case k: BytesKey =>
        (end - start) == (k.end - k.start) && {
          var i = start; var j = k.start
          var eq = true
          while (eq && i < end) { eq = bytes(i) == k.bytes(j); i += 1; j += 1 }
          eq
        }
      case _ => false
    }
  }

  private def encodeBytes(d: BytesData, out: ByteWriter): Int = {
    val n = d.n
    if (n == 0) { Codecs.encodePlainBytes(d, out); return Enc.PLAIN }

    def key(i: Int) = new BytesKey(d.bytes, d.offsets(i), d.offsets(i + 1))

    var runs = 1
    var i = 1
    while (i < n) { if (key(i) != key(i - 1)) runs += 1; i += 1 }

    val dictCap = math.min(math.max(16, n / 2), 1 << 16)
    val seen = new mutable.HashMap[BytesKey, Int]()
    i = 0
    while (i < n && seen.size <= dictCap) {
      val k = key(i)
      if (!seen.contains(k)) seen(k) = seen.size
      i += 1
    }
    val nDistinct = if (seen.size > dictCap) Int.MaxValue else seen.size

    // frequency_str (K15 string variant): dominant value + exceptions.
    // Wins over DICT when one value dominates so hard that per-exception
    // costs beat paying code bits on every row, and over RLE when the
    // exceptions are scattered (runs ~ 2·nEx).
    val (freqKey, freqCount) =
      if (nDistinct == Int.MaxValue) (null: BytesKey, 0)
      else {
        val counts = new mutable.HashMap[BytesKey, Int]()
        i = 0
        while (i < n) { counts.updateWith(key(i))(c => Some(c.getOrElse(0) + 1)); i += 1 }
        counts.maxBy { case (k, c) => (c, -seen(k)) } // deterministic: first-seen breaks ties
      }
    val totalBytes = d.offsets(n)
    val freqCost =
      if (freqKey == null || freqCount * 2 < n) Long.MaxValue
      else {
        val freqLen = freqKey.end - freqKey.start
        16L + freqLen + (n - freqCount).toLong * 10 +
          (totalBytes - freqCount.toLong * freqLen)
      }
    val dictCostB =
      if (nDistinct == Int.MaxValue) Long.MaxValue
      else seen.keysIterator.map(k => (k.end - k.start).toLong).sum +
        n.toLong * Codecs.bitWidth(math.max(0, nDistinct - 1).toLong) / 8
    val rleCostB = runs.toLong * (totalBytes / n + 10)

    if (nDistinct == 1) {
      val v = java.util.Arrays.copyOfRange(d.bytes, d.offsets(0), d.offsets(1))
      Codecs.encodeConstBytes(n, v, out)
      Enc.CONSTANT
    } else if (freqCost < math.min(dictCostB, rleCostB)) {
      Codecs.encodeFreqBytes(d, freqKey.start, freqKey.end, out)
      Enc.FREQ
    } else if (nDistinct != Int.MaxValue && runs <= n / 4 && runs <= nDistinct * 4) {
      val runVals = mutable.ArrayBuilder.make[Byte]
      val runOffsets = mutable.ArrayBuilder.make[Int]
      val runLens = mutable.ArrayBuilder.make[Long]
      runOffsets += 0
      var total = 0
      var curStart = 0
      i = 1
      while (i <= n) {
        if (i == n || key(i) != key(i - 1)) {
          val s = d.offsets(curStart); val e2 = d.offsets(curStart + 1)
          var j = s
          while (j < e2) { runVals += d.bytes(j); j += 1 }
          total += e2 - s
          runOffsets += total
          runLens += (i - curStart).toLong
          curStart = i
        }
        i += 1
      }
      Codecs.encodeRleBytes(n, BytesData(runOffsets.result(), runVals.result()), runLens.result(), out)
      Enc.RLE
    } else if (nDistinct != Int.MaxValue && nDistinct <= n / 2) {
      val dictOffsets = new Array[Int](nDistinct + 1)
      val ordered = new Array[BytesKey](nDistinct)
      seen.foreach { case (k, idx) => ordered(idx) = k }
      var total = 0
      i = 0
      while (i < nDistinct) {
        total += ordered(i).end - ordered(i).start
        dictOffsets(i + 1) = total
        i += 1
      }
      val dictBytes = new Array[Byte](total)
      i = 0
      while (i < nDistinct) {
        val k = ordered(i)
        System.arraycopy(k.bytes, k.start, dictBytes, dictOffsets(i), k.end - k.start)
        i += 1
      }
      val codes = new Array[Long](n)
      i = 0
      while (i < n) { codes(i) = seen(key(i)).toLong; i += 1 }
      val dict = BytesData(dictOffsets, dictBytes)
      // K10/K12: large dictionaries earn FSST compression of the values
      if (total >= 4096) {
        fsstPlan(dict) match {
          case Some((Enc.FSST, table)) =>
            Codecs.encodeFsstDict(n, dict, codes, table, out)
            return Enc.FSST_DICT
          case Some((Enc.FSST12, table)) =>
            Codecs.encodeFsst12Dict(n, dict, codes, table, out)
            return Enc.FSST12_DICT
          case _ => ()
        }
      }
      Codecs.encodeDictBytes(n, dict, codes, out)
      Enc.DICT
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
