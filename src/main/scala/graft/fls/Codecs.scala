package graft.fls

import java.util.Arrays

/** Decoded physical column data for one row group. */
sealed trait ColData { def n: Int }
/** bool/int/date/timestamp/decimal(<=18) physical values. */
final case class LongData(v: Array[Long]) extends ColData { def n: Int = v.length }
final case class DoubleData(v: Array[Double]) extends ColData { def n: Int = v.length }
/** Variable-length values: `offsets` has n+1 entries into `bytes`. */
/** Dictionary-coded bytes kept un-gathered: `dict(codes(i))` is row i.
  * The scan serves these through a Spark dictionary vector (zero-copy
  * gather, ≙ reference dictionary_kernel.hpp:79-101). */
final case class DictBytes(values: Array[Array[Byte]], codes: Array[Long]) extends ColData {
  def n: Int = codes.length
}

/** Dictionary-coded longs kept un-gathered (the numeric/timestamp
  * analog of [[DictBytes]]): `dict(codes(i).toInt)` is row i. Served
  * through a Spark dictionary vector — no per-row gather copy; the
  * reference's dictionary kernel materializes the same way
  * (dictionary_kernel.hpp:11-50). */
final case class DictLongs(dict: Array[Long], codes: Array[Long]) extends ColData {
  def n: Int = codes.length
}

/** Dictionary-coded doubles kept un-gathered; see [[DictLongs]]. */
final case class DictDoubles(dict: Array[Double], codes: Array[Long]) extends ColData {
  def n: Int = codes.length
}

final case class BytesData(offsets: Array[Int], bytes: Array[Byte]) extends ColData {
  def n: Int = offsets.length - 1
}

/** LIST column: `offsets` has n+1 entries into the flattened element
  * stream `values` (a scalar ColData — LongData for integral/temporal
  * AND float elements, which ride as raw 32-bit patterns per
  * [[Format.elemPhysOf]]; DoubleData for double; BytesData for
  * string/binary). */
final case class ArrayColData(offsets: Array[Int], values: ColData) extends ColData {
  def n: Int = offsets.length - 1
}

/** STRUCT parent column: carries no data of its own — the struct's
  * fields are ordinary dotted child columns in the footer (so stats,
  * zone maps, and MCC apply to them unchanged); the parent's segment is
  * zero bytes. Write-side only (readers fill struct vectors from the
  * child columns and never decode the parent). */
final case class StructMarker(n: Int) extends ColData

/** Scan-side struct assembly: the decoded child streams of the
  * REQUESTED struct fields (nested column pruning — unrequested
  * children are never decoded), aligned with the read StructType. */
final case class StructData(children: Array[ColData], n: Int) extends ColData

/** MAP column: `offsets` has n+1 entries into the flattened `keys` and
  * `values` streams (scalar ColData each; float keys/values ride as
  * raw 32-bit patterns like array elements). */
final case class MapColData(offsets: Array[Int], keys: ColData, values: ColData) extends ColData {
  def n: Int = offsets.length - 1
}

/** Encode/decode kernels (SURVEY.md §2.A′ re-expressed for the JVM).
  * All operate on whole-row-group primitive arrays; FFOR/ALP use
  * 1024-value blocks internally (≙ fastlanes::CFG::VEC_SZ — the kernels
  * in /root/reference/src/include/reader/materializer/kernels/ decode
  * one 1024-vector at a time; we decode all blocks of a row group in one
  * tight loop, which JIT-vectorizes and amortizes dispatch). */
object Codecs {
  import Format.{Enc, VecSize}

  // ---------- bit packing ----------

  /** Bits needed for the largest unsigned delta. */
  def bitWidth(maxDeltaUnsigned: Long): Int =
    64 - java.lang.Long.numberOfLeadingZeros(maxDeltaUnsigned) match {
      case 0 => 0
      case w => w
    }

  /** Pack `len` unsigned values of `bw` bits each into longs. */
  def pack(vs: Array[Long], off: Int, len: Int, bw: Int, out: ByteWriter): Unit = {
    if (bw == 0) return
    val nWords = ((len.toLong * bw + 63) / 64).toInt
    val words = new Array[Long](nWords)
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    var i = 0
    while (i < len) {
      val v = vs(off + i) & mask
      val bitPos = i.toLong * bw
      val w = (bitPos >>> 6).toInt
      val shift = (bitPos & 63).toInt
      words(w) |= v << shift
      if (shift + bw > 64) words(w + 1) |= v >>> (64 - shift)
      i += 1
    }
    out.writeLongs(words, 0, nWords)
  }

  def unpack(in: ByteReader, len: Int, bw: Int, out: Array[Long], off: Int): Unit =
    unpackAdd(in, len, bw, 0L, out, off)

  /** Unpack `len` bw-bit values and add `ref` to each (fusing the FFOR
    * frame-of-reference pass). Fast path for bw ≤ 56: one unaligned
    * 8-byte load per value — a value at bit position p starts at byte
    * p/8 with an in-byte shift of at most 7, so shift+bw ≤ 63 always
    * fits one load; no word-crossing branch, no intermediate words
    * array. Falls back to the two-word combine when the value's load
    * would run past the buffer tail (only the final block of a segment)
    * or bw > 56. */
  def unpackAdd(in: ByteReader, len: Int, bw: Int, ref: Long,
      out: Array[Long], off: Int): Unit = {
    if (bw == 0) { Arrays.fill(out, off, off + len, ref); return }
    val nBytes = ((len.toLong * bw + 63) / 64).toInt * 8 // word-aligned format
    val buf = in.buffer
    val base = in.position
    val mask = if (bw == 64) -1L else (1L << bw) - 1
    if (bw <= 56 && base.toLong + nBytes + 8 <= buf.length) {
      var i = 0
      while (i < len) {
        val bp = i.toLong * bw
        val v = BitsLE.getLong(buf, base + (bp >>> 3).toInt) >>> (bp & 7).toInt
        out(off + i) = (v & mask) + ref
        i += 1
      }
      in.skip(nBytes)
    } else {
      val words = in.readLongs(nBytes >>> 3)
      var i = 0
      while (i < len) {
        val bitPos = i.toLong * bw
        val w = (bitPos >>> 6).toInt
        val shift = (bitPos & 63).toInt
        var v = words(w) >>> shift
        if (shift + bw > 64) v |= words(w + 1) << (64 - shift)
        out(off + i) = (v & mask) + ref
        i += 1
      }
    }
  }

  // ---------- FFOR (K3): per-1024-block frame-of-reference + bit-pack ----------

  def encodeFFOR(vs: Array[Long], out: ByteWriter): Unit = {
    val n = vs.length
    out.writeInt(n)
    var start = 0
    while (start < n) {
      val len = math.min(VecSize, n - start)
      var ref = vs(start)
      var i = start + 1
      while (i < start + len) { if (vs(i) < ref) ref = vs(i); i += 1 }
      var maxDelta = 0L
      i = start
      while (i < start + len) {
        val d = vs(i) - ref
        if (java.lang.Long.compareUnsigned(d, maxDelta) > 0) maxDelta = d
        i += 1
      }
      val bw = bitWidth(maxDelta)
      out.writeLong(ref)
      out.writeByte(bw)
      if (bw > 0) {
        val deltas = new Array[Long](len)
        i = 0
        while (i < len) { deltas(i) = vs(start + i) - ref; i += 1 }
        pack(deltas, 0, len, bw, out)
      }
      start += len
    }
  }

  private def decodeFFOR(in: ByteReader, bufs: ReuseBufs): Array[Long] = {
    val n = in.readInt()
    val out = bufs.fitLongs(n)
    var start = 0
    while (start < n) {
      val len = math.min(VecSize, n - start)
      val ref = in.readLong()
      val bw = in.readByte() & 0xff
      unpackAdd(in, len, bw, ref, out, start)
      start += len
    }
    out
  }

  // ---------- PLAIN (K1) ----------

  def encodePlainLong(vs: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(vs.length); out.writeLongs(vs, 0, vs.length)
  }

  def encodePlainDouble(vs: Array[Double], out: ByteWriter): Unit = {
    out.writeInt(vs.length)
    var i = 0
    while (i < vs.length) { out.writeDouble(vs(i)); i += 1 }
  }

  def encodePlainBytes(d: BytesData, out: ByteWriter): Unit = {
    val n = d.n
    out.writeInt(n)
    val lens = new Array[Long](n)
    var i = 0
    while (i < n) { lens(i) = (d.offsets(i + 1) - d.offsets(i)).toLong; i += 1 }
    encodeFFOR(lens, out)
    val total = d.offsets(n)
    out.writeInt(total)
    out.writeBytes(d.bytes, 0, total)
  }

  private def decodePlainLong(in: ByteReader, bufs: ReuseBufs): Array[Long] = {
    val n = in.readInt()
    val out = bufs.fitLongs(n)
    in.readLongsInto(out, n)
    out
  }

  private def decodePlainDouble(in: ByteReader, bufs: ReuseBufs): Array[Double] = {
    val n = in.readInt()
    val out = bufs.fitDoubles(n)
    var i = 0
    while (i < n) { out(i) = in.readDouble(); i += 1 }
    out
  }

  private def decodePlainBytes(in: ByteReader, bufs: ReuseBufs): BytesData = {
    val n = in.readInt()
    val lens = decodeFFOR(in, bufs.scratch)
    val total = in.readInt()
    val bytes = bufs.fitBytesCap(total)
    in.readBytesInto(bytes, total)
    val offsets = bufs.fitOffsets(n)
    var i = 0
    while (i < n) { offsets(i + 1) = offsets(i) + lens(i).toInt; i += 1 }
    BytesData(offsets, bytes)
  }

  // ---------- CONSTANT (K2) ----------

  def encodeConstLong(n: Int, v: Long, out: ByteWriter): Unit = { out.writeInt(n); out.writeLong(v) }
  def encodeConstDouble(n: Int, v: Double, out: ByteWriter): Unit = { out.writeInt(n); out.writeDouble(v) }
  def encodeConstBytes(n: Int, v: Array[Byte], out: ByteWriter): Unit = {
    out.writeInt(n); out.writeInt(v.length); out.writeBytes(v)
  }

  private def decodeConstLong(in: ByteReader, bufs: ReuseBufs): Array[Long] = {
    val n = in.readInt(); val v = in.readLong()
    val out = bufs.fitLongs(n); Arrays.fill(out, v); out
  }

  private def decodeConstDouble(in: ByteReader, bufs: ReuseBufs): Array[Double] = {
    val n = in.readInt(); val v = in.readDouble()
    val out = bufs.fitDoubles(n); Arrays.fill(out, v); out
  }

  private def decodeConstBytes(in: ByteReader, bufs: ReuseBufs): BytesData = {
    val n = in.readInt(); val len = in.readInt()
    val v = in.readBytes(len)
    val bytes = bufs.fitBytesCap(len * n)
    val offsets = bufs.fitOffsets(n)
    var i = 0
    while (i < n) {
      System.arraycopy(v, 0, bytes, i * len, len)
      offsets(i + 1) = (i + 1) * len
      i += 1
    }
    BytesData(offsets, bytes)
  }

  // ---------- DICT (K7/K8): dictionary values + FFOR-packed codes ----------

  def encodeDictLong(vs: Array[Long], dict: Array[Long], codes: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(vs.length)
    out.writeInt(dict.length)
    out.writeLongs(dict, 0, dict.length)
    encodeFFOR(codes, out)
  }

  def encodeDictDouble(n: Int, dict: Array[Double], codes: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(n)
    out.writeInt(dict.length)
    var i = 0
    while (i < dict.length) { out.writeDouble(dict(i)); i += 1 }
    encodeFFOR(codes, out)
  }

  /** Range-check decoded index arrays (dictionary codes, exception
    * positions) BEFORE any gather indexes through them: the gather's
    * `.toInt` truncation would map a corrupt value whose low 32 bits
    * land in range onto a VALID slot — silent wrong data, the one
    * failure mode the corruption contract forbids (out-of-range after
    * truncation merely crashes, which the reader-boundary wrap labels).
    * ~1 ns/row against a multi-ns decode. Throws UNLABELED — file and
    * row-group context exist only at the reader boundary, whose
    * FlsErrors.wrap attaches them exactly once. */
  private def checkCodes(codes: Array[Long], size: Int): Unit = {
    var i = 0
    while (i < codes.length) {
      val c = codes(i)
      if (c < 0L || c >= size)
        throw new IllegalStateException(
          s"index $c out of range [0, $size) at position $i")
      i += 1
    }
  }

  def encodeDictBytes(n: Int, dict: BytesData, codes: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(n)
    out.writeInt(dict.n)
    encodePlainBytes(dict, out)
    encodeFFOR(codes, out)
  }

  /** THE parser of the dictionary layouts — DICT (long, double, bytes),
    * FSST_DICT and FSST12_DICT — as (dictionary, codes), ≙ the
    * reference's Prepare step (dictionary_kernel.hpp:52-103): the scan
    * serves the pair through a Spark dictionary vector, and [[decode]]
    * gathers it. The codes are the holder's scratch; the dictionary,
    * which the gather reads from, decodes into fresh arrays. */
  def dictParts(in: ByteReader, enc: Int, phys: Int, bufs: ReuseBufs): (ColData, Array[Long]) = {
    import Format.Phys
    val n = in.readInt()
    val dict = (enc, phys) match {
      case (Enc.DICT, Phys.LONG) => LongData(in.readLongs(in.readInt()))
      case (Enc.DICT, Phys.DOUBLE) =>
        val d = new Array[Double](in.readInt())
        var i = 0
        while (i < d.length) { d(i) = in.readDouble(); i += 1 }
        DoubleData(d)
      case (Enc.DICT, Phys.BYTES) =>
        in.readInt() // dict size (redundant with dict payload)
        decodePlainBytes(in, fresh)
      case (Enc.FSST_DICT, Phys.BYTES) => decodeFsst(in, fresh)
      case (Enc.FSST12_DICT, Phys.BYTES) => decodeFsst12(in, fresh)
      case other => throw new IllegalStateException(s"fls: bad (encoding, phys) pair $other")
    }
    val codes = decodeFFOR(in, bufs.scratch)
    require(codes.length == n, s"fls: ${codes.length} dictionary codes for $n rows")
    checkCodes(codes, dict.n)
    (dict, codes)
  }

  /** THE gather (DICT, FSST_DICT, FSST12_DICT and EXP_DICT):
    * `dict(codes(i))` is row i, written into the holder's output arrays.
    * `codes` must already be range-checked against `dict.n`. */
  private def gather(dict: ColData, codes: Array[Long], bufs: ReuseBufs): ColData = {
    val n = codes.length
    dict match {
      case LongData(vs) =>
        val out = bufs.fitLongs(n)
        var i = 0
        while (i < n) { out(i) = vs(codes(i).toInt); i += 1 }
        LongData(out)
      case DoubleData(vs) =>
        val out = bufs.fitDoubles(n)
        var i = 0
        while (i < n) { out(i) = vs(codes(i).toInt); i += 1 }
        DoubleData(out)
      case BytesData(offsets, bytes) =>
        val outOff = bufs.fitOffsets(n)
        var total = 0
        var i = 0
        while (i < n) {
          val c = codes(i).toInt
          total += offsets(c + 1) - offsets(c)
          outOff(i + 1) = total
          i += 1
        }
        val outBytes = bufs.fitBytesCap(total)
        i = 0
        while (i < n) {
          val c = codes(i).toInt
          System.arraycopy(bytes, offsets(c), outBytes, outOff(i), offsets(c + 1) - offsets(c))
          i += 1
        }
        BytesData(outOff, outBytes)
      case other => throw new UnsupportedOperationException(
        s"fls: dictionary decoded to ${other.getClass.getSimpleName} — " +
          "dictionaries over nested columns are not supported")
    }
  }

  // ---------- EQUAL (MCC EXP_EQUAL): cross-column reference ----------

  /** Payload of an EQUAL segment: just the source column's index. */
  def encodeEqual(target: Int, out: ByteWriter): Unit = out.writeInt(target)

  // ---- EXP_DICT (MCC external dictionary): codes into another column ----

  /** Payload of an EXP_DICT segment: the dependency column's index plus
    * FFOR-packed codes — row i of this column is
    * `source.values(codes(i))`. Read-side reference parity (our writer
    * never emits it); see [[Format.Enc.EXP_DICT]]. */
  def encodeExpDict(source: Int, codes: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(source)
    encodeFFOR(codes, out)
  }

  /** THE segment resolver of one row group (MCC, ≙ reference
    * fls_reader.cpp:43-82), for the scan and `FlsFileReader` alike:
    * `apply(c)` decodes column c once. EQUAL is its source column,
    * EXP_DICT its source gathered through its codes; every other
    * encoding decodes on its own. Memoized, so N duplicates of one
    * source decode it once. A reference out of range, or to a column
    * still being resolved (an EQUAL/EXP_DICT cycle), is corruption.
    * `read` fetches a segment's bytes; `bufs(c)` is column c's holder. */
  final class GroupResolver(rg: Format.RowGroupDesc, cols: Array[Format.ColumnDesc],
      read: Format.SegmentDesc => Array[Byte], bufs: Int => ReuseBufs)
    extends (Int => ColData) {
    private val memo = new Array[ColData](cols.length)
    private val open = new Array[Boolean](cols.length)

    def apply(c: Int): ColData = {
      if (c < 0 || c >= cols.length)
        throw new IllegalStateException(s"segment reference to column $c of ${cols.length}")
      if (memo(c) == null) {
        if (open(c))
          throw new IllegalStateException(s"segment reference cycle through column $c")
        open(c) = true
        val seg = rg.segments(c)
        val bytes = read(seg)
        memo(c) = seg.encoding match {
          case Enc.EQUAL => apply(new ByteReader(bytes).readInt())
          case Enc.EXP_DICT =>
            val in = new ByteReader(bytes)
            val source = apply(in.readInt())
            val codes = decodeFFOR(in, bufs(c).scratch)
            checkCodes(codes, source.n)
            gather(source, codes, bufs(c))
          case enc => decode(bytes, enc, cols(c).colType, bufs(c))
        }
        open(c) = false
      }
      memo(c)
    }
  }

  /** Exact physical-content equality (the writer-side MCC detector). */
  def contentEquals(a: ColData, b: ColData): Boolean = (a, b) match {
    case (LongData(x), LongData(y)) => java.util.Arrays.equals(x, y)
    case (DoubleData(x), DoubleData(y)) =>
      // bitwise: NaN payloads and -0.0 must survive the indirection
      x.length == y.length && {
        var i = 0
        var eq = true
        while (eq && i < x.length) {
          eq = java.lang.Double.doubleToRawLongBits(x(i)) ==
            java.lang.Double.doubleToRawLongBits(y(i))
          i += 1
        }
        eq
      }
    case (BytesData(xo, xb), BytesData(yo, yb)) =>
      java.util.Arrays.equals(xo, yo) &&
        java.util.Arrays.equals(xb, 0, xo(xo.length - 1), yb, 0, yo(yo.length - 1))
    case (ArrayColData(xo, xv), ArrayColData(yo, yv)) =>
      java.util.Arrays.equals(xo, yo) && contentEquals(xv, yv)
    case (MapColData(xo, xk, xv), MapColData(yo, yk, yv)) =>
      java.util.Arrays.equals(xo, yo) && contentEquals(xk, yk) && contentEquals(xv, yv)
    case _ => false
  }

  // ---------- RLE (K13/K14): run values + FFOR-packed run lengths ----------

  def encodeRleLong(n: Int, runVals: Array[Long], runLens: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(n)
    out.writeInt(runVals.length)
    out.writeLongs(runVals, 0, runVals.length)
    encodeFFOR(runLens, out)
  }

  private def decodeRleLong(in: ByteReader, bufs: ReuseBufs): Array[Long] = {
    val n = in.readInt()
    val nRuns = in.readInt()
    val vals = in.readLongs(nRuns)
    val lens = decodeFFOR(in, fresh)
    val out = bufs.fitLongs(n)
    var pos = 0
    var r = 0
    while (r < nRuns) {
      val end = pos + lens(r).toInt
      Arrays.fill(out, pos, end, vals(r))
      pos = end
      r += 1
    }
    checkRuns(pos, n)
    out
  }

  /** Runs must cover every row: a recycled output array still holds the
    * previous row group past the last run. */
  private def checkRuns(covered: Int, n: Int): Unit =
    if (covered != n) throw new IllegalStateException(s"runs cover $covered of $n rows")

  def encodeRleDouble(n: Int, runVals: Array[Double], runLens: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(n)
    out.writeInt(runVals.length)
    var i = 0
    while (i < runVals.length) { out.writeDouble(runVals(i)); i += 1 }
    encodeFFOR(runLens, out)
  }

  private def decodeRleDouble(in: ByteReader, bufs: ReuseBufs): Array[Double] = {
    val n = in.readInt()
    val nRuns = in.readInt()
    val vals = new Array[Double](nRuns)
    var i = 0
    while (i < nRuns) { vals(i) = in.readDouble(); i += 1 }
    val lens = decodeFFOR(in, fresh)
    val out = bufs.fitDoubles(n)
    var pos = 0
    var r = 0
    while (r < nRuns) {
      val end = pos + lens(r).toInt
      Arrays.fill(out, pos, end, vals(r))
      pos = end
      r += 1
    }
    checkRuns(pos, n)
    out
  }

  def encodeRleBytes(n: Int, runVals: BytesData, runLens: Array[Long], out: ByteWriter): Unit = {
    out.writeInt(n)
    out.writeInt(runVals.n)
    encodePlainBytes(runVals, out)
    encodeFFOR(runLens, out)
  }

  private def decodeRleBytes(in: ByteReader, bufs: ReuseBufs): BytesData = {
    val n = in.readInt()
    val nRuns = in.readInt()
    val vals = decodePlainBytes(in, fresh)
    val lens = decodeFFOR(in, fresh)
    val offsets = bufs.fitOffsets(n)
    var total = 0
    var pos = 0
    var r = 0
    while (r < nRuns) {
      val vLen = vals.offsets(r + 1) - vals.offsets(r)
      var k = 0
      val rl = lens(r).toInt
      while (k < rl) { total += vLen; offsets(pos + k + 1) = total; k += 1 }
      pos += rl
      r += 1
    }
    checkRuns(pos, n)
    val bytes = bufs.fitBytesCap(total)
    pos = 0
    r = 0
    while (r < nRuns) {
      val vStart = vals.offsets(r)
      val vLen = vals.offsets(r + 1) - vStart
      var k = 0
      val rl = lens(r).toInt
      while (k < rl) {
        System.arraycopy(vals.bytes, vStart, bytes, offsets(pos + k), vLen)
        k += 1
      }
      pos += rl
      r += 1
    }
    BytesData(offsets, bytes)
  }

  // ---------- ALP (K5): doubles as 10^e-scaled ints + patched exceptions ----------

  private val Pow10: Array[Double] = (0 to 18).map(e => math.pow(10, e)).toArray

  /** Max |scaled int| we allow: stays exactly representable as double. */
  private val MaxDigits = 1L << 51

  private val Recip10: Array[Double] = Pow10.map(1.0 / _)

  /** Correctly-rounded x/div via Markstein reciprocal-multiply + two-FMA
    * correction. This is THE decode arithmetic: `alpExact` and
    * `decodeAlp` both call it, so encoder exactness and decoder
    * output agree bitwise by construction (and the expression itself is
    * verified bitwise against divsd over 60M random (digits, e)
    * samples). Plain reciprocal multiply — the ALP paper's shape —
    * mis-rounds ~13% of a 10M-value k/100 sweep into exceptions
    * (measured), bloating the segment ~40%; the FMA correction keeps
    * multiply speed with divide bits. */
  @inline private def marksteinDiv(x: Double, div: Double, rcp: Double): Double = {
    val q = x * rcp
    Math.fma(Math.fma(-div, q, x), rcp, q)
  }

  /** Is v exactly digits/10^e for digits = rint(v*10^e)? Verified with
    * the identical Markstein-FMA expression the decoder runs
    * (`marksteinDiv`), so round-trip is bitwise exact by construction. */
  @inline def alpExact(v: Double, e: Int): Boolean = {
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) false
    else {
      val scaled = Math.rint(v * Pow10(e))
      if (Math.abs(scaled) >= MaxDigits) false
      else marksteinDiv(scaled, Pow10(e), Recip10(e)) == v &&
        !(v == 0.0 && java.lang.Double.doubleToRawLongBits(v) != 0L) // -0.0 → exception
    }
  }

  /** Pick the smallest exponent maximizing exact hits on a 1024-sample;
    * returns (exponent, exactFractionOnSample). */
  def alpChooseExponent(vs: Array[Double]): (Int, Double) = {
    val n = vs.length
    val step = math.max(1, n / VecSize)
    var bestE = -1
    var bestHits = -1
    var sampleN = 0
    var e = 0
    while (e <= 14) {
      var hits = 0
      var i = 0
      sampleN = 0
      while (i < n) { if (alpExact(vs(i), e)) hits += 1; sampleN += 1; i += step }
      if (hits > bestHits) { bestHits = hits; bestE = e }
      e += 1
    }
    (bestE, if (sampleN == 0) 0.0 else bestHits.toDouble / sampleN)
  }

  def encodeAlp(vs: Array[Double], e: Int, out: ByteWriter): Unit = {
    val n = vs.length
    out.writeInt(n)
    out.writeByte(e)
    val ints = new Array[Long](n)
    var nEx = 0
    var i = 0
    while (i < n) {
      if (alpExact(vs(i), e)) ints(i) = Math.rint(vs(i) * Pow10(e)).toLong
      else { ints(i) = 0L; nEx += 1 }
      i += 1
    }
    encodeFFOR(ints, out)
    out.writeInt(nEx)
    if (nEx > 0) {
      val exPos = new Array[Long](nEx)
      val exVal = new Array[Double](nEx)
      var k = 0
      i = 0
      while (i < n) {
        if (!alpExact(vs(i), e)) { exPos(k) = i.toLong; exVal(k) = vs(i); k += 1 }
        i += 1
      }
      encodeFFOR(exPos, out)
      var j = 0
      while (j < nEx) { out.writeDouble(exVal(j)); j += 1 }
    }
  }

  /** The digits decode into the holder's scratch. */
  private def decodeAlp(in: ByteReader, bufs: ReuseBufs): Array[Double] = {
    val n = in.readInt()
    val e = in.readByte() & 0xff
    val ints = decodeFFOR(in, bufs.scratch)
    val div = Pow10(e)
    val rcp = 1.0 / div
    val out = bufs.fitDoubles(n)
    // marksteinDiv = correctly-rounded x/div with ~15% less loop time
    // than the hardware divide on the measured long→double path; the
    // SAME helper gates encoder exactness (alpExact), so round-trip is
    // bitwise by construction.
    var i = 0
    while (i < n) {
      out(i) = marksteinDiv(ints(i).toDouble, div, rcp)
      i += 1
    }
    val nEx = in.readInt()
    if (nEx > 0) {
      val exPos = decodeFFOR(in, fresh)
      checkCodes(exPos, n)
      var k = 0
      while (k < nEx) { out(exPos(k).toInt) = in.readDouble(); k += 1 }
    }
    out
  }

  // ---------- FSST (K9) & FSST-dict (K10) ----------

  def encodeFsst(d: BytesData, table: Fsst.SymbolTable, out: ByteWriter): Unit = {
    val n = d.n
    out.writeInt(n)
    Fsst.writeTable(table, out)
    val encLens = new Array[Long](n)
    val enc = scala.collection.mutable.ArrayBuilder.make[Byte]
    enc.sizeHint(d.bytes.length)
    var i = 0
    while (i < n) {
      encLens(i) = Fsst.encode(table, d.bytes, d.offsets(i), d.offsets(i + 1), enc).toLong
      i += 1
    }
    encodeFFOR(encLens, out)
    val encBytes = enc.result()
    out.writeInt(encBytes.length)
    out.writeBytes(encBytes)
  }

  private def decodeFsst(in: ByteReader, bufs: ReuseBufs): BytesData = {
    val n = in.readInt()
    val table = Fsst.readTable(in)
    val encLens = decodeFFOR(in, bufs.scratch)
    val total = in.readInt()
    val encBytes = in.readBytes(total)
    val out = scala.collection.mutable.ArrayBuilder.make[Byte]
    out.sizeHint(total * 3)
    val offsets = bufs.fitOffsets(n)
    var pos = 0
    var i = 0
    while (i < n) {
      offsets(i + 1) = offsets(i) +
        Fsst.decode(table, encBytes, pos, encLens(i).toInt, out)
      pos += encLens(i).toInt
      i += 1
    }
    BytesData(offsets, out.result())
  }

  def encodeFsstDict(n: Int, dict: BytesData, codes: Array[Long],
      table: Fsst.SymbolTable, out: ByteWriter): Unit = {
    out.writeInt(n)
    encodeFsst(dict, table, out)
    encodeFFOR(codes, out)
  }

  // ---------- FSST12 (K11) & FSST12-dict (K12) ----------

  def encodeFsst12(d: BytesData, table: Fsst.SymbolTable, out: ByteWriter): Unit = {
    val n = d.n
    out.writeInt(n)
    Fsst12.writeTable(table, out)
    val codeCounts = new Array[Long](n)
    val codes = new scala.collection.mutable.ArrayBuilder.ofInt
    codes.sizeHint(d.bytes.length / 2)
    var i = 0
    while (i < n) {
      codeCounts(i) = Fsst12.encode(table, d.bytes, d.offsets(i), d.offsets(i + 1), codes).toLong
      i += 1
    }
    encodeFFOR(codeCounts, out)
    val packed = Fsst12.packCodes(codes.result())
    out.writeInt(packed.length)
    out.writeBytes(packed)
  }

  private def decodeFsst12(in: ByteReader, bufs: ReuseBufs): BytesData = {
    val n = in.readInt()
    val table = Fsst12.readTable(in)
    val codeCounts = decodeFFOR(in, bufs.scratch)
    val packedLen = in.readInt()
    val packed = in.readBytes(packedLen)
    val out = scala.collection.mutable.ArrayBuilder.make[Byte]
    out.sizeHint(packedLen * 4)
    val offsets = bufs.fitOffsets(n)
    var codePos = 0
    var i = 0
    while (i < n) {
      offsets(i + 1) = offsets(i) +
        Fsst12.decode(table, packed, codePos, codeCounts(i).toInt, out)
      codePos += codeCounts(i).toInt
      i += 1
    }
    BytesData(offsets, out.result())
  }

  def encodeFsst12Dict(n: Int, dict: BytesData, codes: Array[Long],
      table: Fsst.SymbolTable, out: ByteWriter): Unit = {
    out.writeInt(n)
    encodeFsst12(dict, table, out)
    encodeFFOR(codes, out)
  }

  // ---------- FREQ (K15): frequent value + patched exceptions ----------

  def encodeFreqLong(vs: Array[Long], freqVal: Long, out: ByteWriter): Unit = {
    val n = vs.length
    out.writeInt(n)
    out.writeLong(freqVal)
    var nEx = 0
    var i = 0
    while (i < n) { if (vs(i) != freqVal) nEx += 1; i += 1 }
    out.writeInt(nEx)
    if (nEx > 0) {
      val exPos = new Array[Long](nEx)
      val exVal = new Array[Long](nEx)
      var k = 0
      i = 0
      while (i < n) {
        if (vs(i) != freqVal) { exPos(k) = i.toLong; exVal(k) = vs(i); k += 1 }
        i += 1
      }
      encodeFFOR(exPos, out)
      encodeFFOR(exVal, out)
    }
  }

  private def decodeFreqLong(in: ByteReader, bufs: ReuseBufs): Array[Long] = {
    val n = in.readInt()
    val freqVal = in.readLong()
    val out = bufs.fitLongs(n)
    Arrays.fill(out, freqVal)
    val nEx = in.readInt()
    if (nEx > 0) {
      val exPos = decodeFFOR(in, fresh)
      checkCodes(exPos, n)
      val exVal = decodeFFOR(in, fresh)
      var k = 0
      while (k < nEx) { out(exPos(k).toInt) = exVal(k); k += 1 }
    }
    out
  }

  /** frequency_str (K15 string variant, ≙ reference
    * /root/reference/src/include/reader/materializer/kernels/frequency_kernel.hpp:8-69):
    * one dominant byte value stored once + FFOR-packed exception
    * positions + plainly-encoded exception values. */
  def encodeFreqBytes(d: BytesData, freqStart: Int, freqEnd: Int, out: ByteWriter): Unit = {
    val n = d.n
    out.writeInt(n)
    out.writeInt(freqEnd - freqStart)
    out.writeBytes(d.bytes, freqStart, freqEnd - freqStart)
    def isFreq(i: Int): Boolean = {
      val s = d.offsets(i); val e = d.offsets(i + 1)
      (e - s) == (freqEnd - freqStart) && {
        var j = s; var k = freqStart; var eq = true
        while (eq && j < e) { eq = d.bytes(j) == d.bytes(k); j += 1; k += 1 }
        eq
      }
    }
    var nEx = 0
    var i = 0
    while (i < n) { if (!isFreq(i)) nEx += 1; i += 1 }
    out.writeInt(nEx)
    if (nEx > 0) {
      val exPos = new Array[Long](nEx)
      val exOffsets = new Array[Int](nEx + 1)
      var k = 0
      var total = 0
      i = 0
      while (i < n) {
        if (!isFreq(i)) {
          exPos(k) = i.toLong
          total += d.offsets(i + 1) - d.offsets(i)
          exOffsets(k + 1) = total
          k += 1
        }
        i += 1
      }
      val exBytes = new Array[Byte](total)
      k = 0
      i = 0
      while (i < n) {
        if (!isFreq(i)) {
          System.arraycopy(d.bytes, d.offsets(i), exBytes, exOffsets(k),
            d.offsets(i + 1) - d.offsets(i))
          k += 1
        }
        i += 1
      }
      encodeFFOR(exPos, out)
      encodePlainBytes(BytesData(exOffsets, exBytes), out)
    }
  }

  private def decodeFreqBytes(in: ByteReader, bufs: ReuseBufs): BytesData = {
    val n = in.readInt()
    val freqLen = in.readInt()
    val freqVal = in.readBytes(freqLen)
    val nEx = in.readInt()
    val offsets = bufs.fitOffsets(n)
    if (nEx == 0) {
      val bytes = bufs.fitBytesCap(n * freqLen)
      var i = 0
      while (i < n) {
        System.arraycopy(freqVal, 0, bytes, i * freqLen, freqLen)
        offsets(i + 1) = (i + 1) * freqLen
        i += 1
      }
      BytesData(offsets, bytes)
    } else {
      val exPos = decodeFFOR(in, fresh)
      checkCodes(exPos, n)
      val ex = decodePlainBytes(in, fresh)
      val exTotal = ex.offsets(ex.n)
      val bytes = bufs.fitBytesCap((n - nEx) * freqLen + exTotal)
      var i = 0
      var k = 0
      var pos = 0
      while (i < n) {
        if (k < nEx && exPos(k) == i.toLong) {
          val s = ex.offsets(k); val e = ex.offsets(k + 1)
          System.arraycopy(ex.bytes, s, bytes, pos, e - s)
          pos += e - s
          k += 1
        } else {
          System.arraycopy(freqVal, 0, bytes, pos, freqLen)
          pos += freqLen
        }
        offsets(i + 1) = pos
        i += 1
      }
      BytesData(offsets, bytes)
    }
  }

  // ---------- ALP-RD (K6): front-bits dictionary + raw right bits ----------

  def encodeAlpRd(vs: Array[Double], rightBits: Int, dict: Array[Long],
      out: ByteWriter): Unit = {
    val n = vs.length
    out.writeInt(n)
    out.writeByte(rightBits)
    out.writeByte(dict.length)
    var d = 0
    while (d < dict.length) { out.writeLong(dict(d)); d += 1 }
    val dictIdx = dict.zipWithIndex.toMap
    val leftBw = bitWidth(math.max(0, dict.length - 1).toLong)
    out.writeByte(leftBw)
    val rightMask = if (rightBits == 64) -1L else (1L << rightBits) - 1
    val leftCodes = new Array[Long](n)
    val rights = new Array[Long](n)
    val exPosB = scala.collection.mutable.ArrayBuilder.make[Long]
    val exLeftB = scala.collection.mutable.ArrayBuilder.make[Long]
    var i = 0
    while (i < n) {
      val bits = java.lang.Double.doubleToRawLongBits(vs(i))
      val left = bits >>> rightBits
      rights(i) = bits & rightMask
      dictIdx.get(left) match {
        case Some(c) => leftCodes(i) = c.toLong
        case None =>
          leftCodes(i) = 0L
          exPosB += i.toLong
          exLeftB += left
      }
      i += 1
    }
    pack(leftCodes, 0, n, leftBw, out)
    pack(rights, 0, n, rightBits, out)
    val exPos = exPosB.result(); val exLeft = exLeftB.result()
    out.writeInt(exPos.length)
    if (exPos.nonEmpty) { encodeFFOR(exPos, out); encodeFFOR(exLeft, out) }
  }

  private def decodeAlpRd(in: ByteReader, bufs: ReuseBufs): Array[Double] = {
    val n = in.readInt()
    val rightBits = in.readByte() & 0xff
    val dictN = in.readByte() & 0xff
    val dict = in.readLongs(dictN)
    val leftBw = in.readByte() & 0xff
    val leftCodes = new Array[Long](n)
    unpack(in, n, leftBw, leftCodes, 0)
    val rights = new Array[Long](n)
    unpack(in, n, rightBits, rights, 0)
    val lefts = new Array[Long](n)
    checkCodes(leftCodes, dict.length)
    var i = 0
    while (i < n) { lefts(i) = dict(leftCodes(i).toInt); i += 1 }
    val nEx = in.readInt()
    if (nEx > 0) {
      val exPos = decodeFFOR(in, fresh)
      checkCodes(exPos, n)
      val exLeft = decodeFFOR(in, fresh)
      var k = 0
      while (k < nEx) { lefts(exPos(k).toInt) = exLeft(k); k += 1 }
    }
    val out = bufs.fitDoubles(n)
    i = 0
    while (i < n) {
      out(i) = java.lang.Double.longBitsToDouble((lefts(i) << rightBits) | rights(i))
      i += 1
    }
    out
  }

  // ---------- TRANSPOSED (K16): FastLanes interleaved vector layout ----------

  /** Per-1024-value permutation of the FastLanes unified transposed
    * layout (FastLanes paper §4: 8 tiles of 128 in 0,4,2,6,1,5,3,7
    * order, 16-lane interleave within each tile). `TransposePerm(i)` is
    * the ORIGINAL index of the i-th stored value. Tail blocks shorter
    * than 1024 stay in sequential order (permutation is block-local). */
  val TransposePerm: Array[Int] = {
    val tiles = Array(0, 4, 2, 6, 1, 5, 3, 7)
    val perm = new Array[Int](VecSize)
    var p = 0
    var t = 0
    while (t < 8) {
      val base = tiles(t) * 128
      var j = 0
      while (j < 128) {
        perm(p) = base + (j % 8) * 16 + j / 8
        j += 1
        p += 1
      }
      t += 1
    }
    perm
  }

  private val TransposeInv: Array[Int] = {
    val inv = new Array[Int](VecSize)
    var i = 0
    while (i < VecSize) { inv(TransposePerm(i)) = i; i += 1 }
    inv
  }

  private def permuteBlocks[T](n: Int, get: Int => T, set: (Int, T) => Unit,
      perm: Array[Int]): Unit = {
    var blk = 0
    while (blk + VecSize <= n) {
      var i = 0
      while (i < VecSize) { set(blk + i, get(blk + perm(i))); i += 1 }
      blk += VecSize
    } // tail < VecSize: untouched (sequential)
  }

  def transposeLongs(vs: Array[Long]): Array[Long] = {
    val out = java.util.Arrays.copyOf(vs, vs.length)
    permuteBlocks[Long](vs.length, vs(_), out(_) = _, TransposePerm)
    out
  }

  def untransposeLongs(vs: Array[Long]): Array[Long] = {
    val out = java.util.Arrays.copyOf(vs, vs.length)
    permuteBlocks[Long](vs.length, vs(_), out(_) = _, TransposeInv)
    out
  }

  def transposeDoubles(vs: Array[Double]): Array[Double] = {
    val out = java.util.Arrays.copyOf(vs, vs.length)
    permuteBlocks[Double](vs.length, vs(_), out(_) = _, TransposePerm)
    out
  }

  def untransposeDoubles(vs: Array[Double]): Array[Double] = {
    val out = java.util.Arrays.copyOf(vs, vs.length)
    permuteBlocks[Double](vs.length, vs(_), out(_) = _, TransposeInv)
    out
  }

  // ---------- dispatch ----------

  /** Per-segment recycled arrays: the caller keeps one holder per
    * segment alive across row groups, and a kernel writes its top-level
    * output into the holder's slots (adopted or replaced as sizes
    * demand). A recycled row-group array skips the JVM's zeroing of a
    * fresh 512 KB allocation (~2 ns/value measured, ~20% of the ALP
    * decode). The returned ColData may alias the holder's arrays; they
    * stay valid until the next decode with the same holder. Only the
    * top-level output and the one code/digit [[scratch]] go through the
    * holder: payloads a gather or expansion reads from (dictionary
    * values, run values and lengths, exception lists, LIST/MAP lengths
    * and children) decode into fresh arrays, or MAP values would
    * overwrite MAP keys. */
  final class ReuseBufs {
    private var longs: Array[Long] = null
    private var doubles: Array[Double] = null
    private var ints: Array[Int] = null
    private var bytes: Array[Byte] = null
    private var scratch0: ReuseBufs = null
    /** The segment's one code/digit scratch: dictionary codes, ALP
      * digits, byte-string lengths. */
    private[Codecs] def scratch: ReuseBufs = {
      if (scratch0 == null) scratch0 = new ReuseBufs
      scratch0
    }
    private[Codecs] def fitLongs(n: Int): Array[Long] = {
      if (longs == null || longs.length != n) longs = new Array[Long](n)
      longs
    }
    private[Codecs] def fitDoubles(n: Int): Array[Double] = {
      if (doubles == null || doubles.length != n) doubles = new Array[Double](n)
      doubles
    }
    /** Offsets of `n` strings: exact length n+1 (ColData.n derives from
      * it), first entry 0 — a recycled array carries the last group. */
    private[Codecs] def fitOffsets(n: Int): Array[Int] = {
      if (ints == null || ints.length != n + 1) ints = new Array[Int](n + 1)
      ints(0) = 0
      ints
    }
    /** Capacity-based: BytesData consumers only read ranges the offsets
      * describe, so slop past the payload is never observed. */
    private[Codecs] def fitBytesCap(n: Int): Array[Byte] = {
      if (bytes == null || bytes.length < n) bytes = new Array[Byte](n)
      bytes
    }
  }

  /** A holder for a payload that a gather or expansion reads from. */
  private def fresh: ReuseBufs = new ReuseBufs

  /** THE dispatcher: decode one segment by its column's footer type.
    * The scan passes each segment's own holder; every other caller gets
    * a fresh one, so the result owns its arrays. */
  def decode(bytes: Array[Byte], enc: Int, ct: Format.ColumnType,
      bufs: ReuseBufs = new ReuseBufs): ColData = {
    import Format.{TypeTag, elemPhysOf, physOf}
    val in = new ByteReader(bytes)
    ct.tag match {
      case TypeTag.STRUCT => StructMarker(0) // parents carry no data
      case TypeTag.MAP => decodeFrom(in, enc, Format.Phys.MAP,
        elemPhysOf(ct.mapKey.tag), elemPhysOf(ct.mapValue.tag), bufs)
      case TypeTag.LIST => decodeFrom(in, enc, Format.Phys.ARRAY, elemPhysOf(ct.elem.tag), -1, bufs)
      case tag => decodeFrom(in, enc, physOf(tag), -1, -1, bufs)
    }
  }

  /** `elemPhys` is a LIST's element stream kind or a MAP's key stream
    * kind, `elemPhys2` a MAP's value stream kind. */
  private def decodeFrom(in: ByteReader, enc: Int, phys: Int, elemPhys: Int,
      elemPhys2: Int, bufs: ReuseBufs): ColData = {
    import Format.Phys
    // a LIST/MAP's per-row lengths, as n+1 offsets
    def rowOffsets(): Array[Int] = {
      val n = in.readInt()
      val lengths = decodeFrom(in, in.readByte() & 0xff, Phys.LONG, -1, -1, fresh) match {
        case LongData(vs) => vs
        case other => throw new IllegalStateException(s"fls: lengths decoded to $other")
      }
      require(lengths.length == n, s"fls: lengths count ${lengths.length} != $n")
      val offsets = new Array[Int](n + 1)
      var i = 0
      while (i < n) { offsets(i + 1) = offsets(i) + lengths(i).toInt; i += 1 }
      offsets
    }
    def child(p: Int): ColData = decodeFrom(in, in.readByte() & 0xff, p, -1, -1, fresh)
    (enc, phys) match {
      case (Enc.MAP, Phys.MAP) =>
        val offsets = rowOffsets()
        val keys = child(elemPhys)
        MapColData(offsets, keys, child(elemPhys2))
      case (Enc.ARRAY, Phys.ARRAY) =>
        val offsets = rowOffsets()
        ArrayColData(offsets, child(elemPhys))
      case (Enc.TRANSPOSED, _) =>
        decodeFrom(in, in.readByte() & 0xff, phys, -1, -1, bufs) match {
          case LongData(vs) => LongData(untransposeLongs(vs))
          case DoubleData(vs) => DoubleData(untransposeDoubles(vs))
          case other =>
            throw new IllegalStateException(s"fls: TRANSPOSED over non-numeric $other")
        }
      case (Enc.DICT | Enc.FSST_DICT | Enc.FSST12_DICT, _) =>
        val (dict, codes) = dictParts(in, enc, phys, bufs)
        gather(dict, codes, bufs)
      case (Enc.PLAIN, Phys.LONG) => LongData(decodePlainLong(in, bufs))
      case (Enc.PLAIN, Phys.DOUBLE) => DoubleData(decodePlainDouble(in, bufs))
      case (Enc.PLAIN, Phys.BYTES) => decodePlainBytes(in, bufs)
      case (Enc.CONSTANT, Phys.LONG) => LongData(decodeConstLong(in, bufs))
      case (Enc.CONSTANT, Phys.DOUBLE) => DoubleData(decodeConstDouble(in, bufs))
      case (Enc.CONSTANT, Phys.BYTES) => decodeConstBytes(in, bufs)
      case (Enc.FFOR, Phys.LONG) => LongData(decodeFFOR(in, bufs))
      case (Enc.RLE, Phys.LONG) => LongData(decodeRleLong(in, bufs))
      case (Enc.RLE, Phys.DOUBLE) => DoubleData(decodeRleDouble(in, bufs))
      case (Enc.RLE, Phys.BYTES) => decodeRleBytes(in, bufs)
      case (Enc.ALP, Phys.DOUBLE) => DoubleData(decodeAlp(in, bufs))
      case (Enc.FSST, Phys.BYTES) => decodeFsst(in, bufs)
      case (Enc.FSST12, Phys.BYTES) => decodeFsst12(in, bufs)
      case (Enc.FREQ, Phys.LONG) => LongData(decodeFreqLong(in, bufs))
      case (Enc.FREQ, Phys.BYTES) => decodeFreqBytes(in, bufs)
      case (Enc.ALP_RD, Phys.DOUBLE) => DoubleData(decodeAlpRd(in, bufs))
      case other =>
        throw new IllegalStateException(s"fls: bad (encoding, phys) pair $other")
    }
  }
}
