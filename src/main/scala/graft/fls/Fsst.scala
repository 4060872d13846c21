package graft.fls

import scala.collection.mutable

/** FSST string compression (per the published FSST paper: a symbol
  * table of up to 255 symbols, each 1-8 bytes; code 255 escapes a
  * literal byte), re-implemented from scratch for the JVM — the
  * reference consumes an FSST library through decode kernels
  * (/root/reference/src/include/reader/materializer/kernels/
  * fsst_kernel.hpp:11-59); here both sides live in Scala.
  *
  * Training is the paper's iterative scheme, simplified: each round
  * encodes a sample with the current table, counts symbol and
  * adjacent-pair frequencies, and keeps the 255 candidates with the
  * best gain (frequency × length). Deterministic: ties break on the
  * packed symbol value.
  */
object Fsst {
  val EscapeCode = 255
  val MaxSymbols = 255
  val MaxSymbolLen = 8

  /** A symbol is ≤8 bytes packed little-endian into a Long + a length. */
  final class SymbolTable(
      val packed: Array[Long], // by code
      val lens: Array[Int]) {
    val nSymbols: Int = packed.length

    /** first-byte → codes sorted by symbol length descending (greedy
      * longest-match encode support). */
    private[fls] val byFirstByte: Array[Array[Int]] = {
      val buckets = Array.fill(256)(mutable.ArrayBuffer[Int]())
      var c = 0
      while (c < nSymbols) {
        buckets((packed(c) & 0xff).toInt) += c
        c += 1
      }
      buckets.map(_.sortBy(c2 => -lens(c2)).toArray)
    }

    def symbolBytes(code: Int): Array[Byte] = {
      val out = new Array[Byte](lens(code))
      var i = 0
      while (i < out.length) { out(i) = (packed(code) >>> (8 * i)).toByte; i += 1 }
      out
    }
  }

  @inline private def packAt(data: Array[Byte], pos: Int, len: Int): Long = {
    var v = 0L
    var i = 0
    while (i < len) { v |= (data(pos + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** The code of the longest symbol at `pos` ending by `until`, or -1. */
  private[fls] def codeAt(t: SymbolTable, data: Array[Byte], pos: Int, until: Int): Int = {
    val avail = math.min(MaxSymbolLen, until - pos)
    val codes = t.byFirstByte((data(pos) & 0xff).toInt)
    var i = 0
    while (i < codes.length) {
      val c = codes(i)
      if (t.lens(c) <= avail && packAt(data, pos, t.lens(c)) == t.packed(c)) return c
      i += 1
    }
    -1
  }

  /** Train a table on a sample (bounded; callers pass ≤ ~64KB). */
  def train(sample: Array[Byte], rounds: Int = 5): SymbolTable =
    trainTable(sample, rounds, MaxSymbols, literalsGain = true)

  /** The training loop of both code widths: keeps the `maxSymbols`
    * candidates of best gain. A candidate is a symbol or literal the
    * current table emits, or two adjacent ones concatenated; its gain
    * is its length times its count, counted in one primitive table per
    * length. With `literalsGain` false (FSST12, whose literals cost 12
    * bits against 8 raw) lone literals earn nothing. */
  private[fls] def trainTable(sample: Array[Byte], rounds: Int, maxSymbols: Int,
      literalsGain: Boolean): SymbolTable = {
    var table = new SymbolTable(Array.empty, Array.empty)
    if (sample.isEmpty) return table
    var r = 0
    while (r < rounds) {
      val byLen = Array.fill(MaxSymbolLen)(new Encoder.LongIdTable) // length - 1
      var pos = 0
      var prevPacked = 0L
      var prevLen = 0
      while (pos < sample.length) {
        val c = codeAt(table, sample, pos, sample.length)
        val p = if (c >= 0) table.packed(c) else sample(pos) & 0xffL
        val l = if (c >= 0) table.lens(c) else 1
        if (literalsGain || l > 1) byLen(l - 1).add(p)
        if (prevLen > 0 && prevLen + l <= MaxSymbolLen)
          byLen(prevLen + l - 1).add(prevPacked | (p << (8 * prevLen)))
        prevPacked = p; prevLen = l
        pos += l
      }
      // best gain first; (-gain, len, packed) is a total order, so ties
      // break deterministically
      val chosen = (1 to MaxSymbolLen).flatMap { l =>
        val t = byLen(l - 1)
        (0 until t.size).map(id => (t.counts(id).toLong * l, l, t.keys(id)))
      }.sortBy { case (g, l, p) => (-g, l, p) }.take(maxSymbols)
      table = new SymbolTable(chosen.map(_._3).toArray, chosen.map(_._2).toArray)
      r += 1
    }
    table
  }

  /** Encode one string; returns bytes appended to `out`. */
  def encode(t: SymbolTable, data: Array[Byte], from: Int, until: Int,
      out: mutable.ArrayBuilder[Byte]): Int = {
    var written = 0
    var pos = from
    while (pos < until) {
      val matched = codeAt(t, data, pos, until)
      if (matched >= 0) {
        out += matched.toByte
        written += 1
        pos += t.lens(matched)
      } else {
        out += EscapeCode.toByte
        out += data(pos)
        written += 2
        pos += 1
      }
    }
    written
  }

  /** Decode one string of `encLen` bytes starting at `pos` into `out`. */
  def decode(t: SymbolTable, enc: Array[Byte], pos: Int, encLen: Int,
      out: mutable.ArrayBuilder[Byte]): Int = {
    var p = pos
    val end = pos + encLen
    var produced = 0
    while (p < end) {
      val code = enc(p) & 0xff
      if (code == EscapeCode) {
        out += enc(p + 1)
        produced += 1
        p += 2
      } else {
        val l = t.lens(code)
        val v = t.packed(code)
        var i = 0
        while (i < l) { out += (v >>> (8 * i)).toByte; i += 1 }
        produced += l
        p += 1
      }
    }
    produced
  }

  // ---- segment (de)serialization of the table ----

  def writeTable(t: SymbolTable, out: ByteWriter): Unit = {
    out.writeByte(t.nSymbols)
    writeSymbols(t, out)
  }

  def readTable(in: ByteReader): SymbolTable = readSymbols(in, in.readByte() & 0xff)

  /** The symbols after the count, whose width differs per code width. */
  private[fls] def writeSymbols(t: SymbolTable, out: ByteWriter): Unit = {
    var c = 0
    while (c < t.nSymbols) {
      out.writeByte(t.lens(c))
      out.writeLong(t.packed(c))
      c += 1
    }
  }

  private[fls] def readSymbols(in: ByteReader, n: Int): SymbolTable = {
    val packed = new Array[Long](n)
    val lens = new Array[Int](n)
    var c = 0
    while (c < n) {
      lens(c) = in.readByte() & 0xff
      packed(c) = in.readLong()
      c += 1
    }
    new SymbolTable(packed, lens)
  }
}

/** FSST12 (≙ reference K11/K12 kernels, /root/reference/.../kernels/
  * fsst12_kernel.hpp): 12-bit codes. Codes 0-255 are literal bytes (no
  * escape marker needed), codes 256..4095 index a symbol table of up to
  * 3840 symbols of ≤8 bytes. Wins over 8-bit FSST when the corpus has
  * more than ~255 frequent substrings. */
object Fsst12 {
  val MaxSymbols = 4096 - 256
  val LiteralBase = 256

  /** Fsst's trainer over the larger code space; literals gain nothing
    * (they cost 12 bits vs 8 raw), so only multi-byte symbols earn
    * table slots. */
  def train(sample: Array[Byte], rounds: Int = 5): Fsst.SymbolTable =
    Fsst.trainTable(sample, rounds, MaxSymbols, literalsGain = false)

  /** Encode one string into 12-bit codes appended to `codes`. */
  def encode(t: Fsst.SymbolTable, data: Array[Byte], from: Int, until: Int,
      codes: scala.collection.mutable.ArrayBuilder.ofInt): Int = {
    var n = 0
    var pos = from
    while (pos < until) {
      val matched = Fsst.codeAt(t, data, pos, until)
      if (matched >= 0) {
        codes += LiteralBase + matched
        pos += t.lens(matched)
      } else {
        codes += (data(pos) & 0xff)
        pos += 1
      }
      n += 1
    }
    n
  }

  /** Decode `nCodes` 12-bit codes starting at code index `codeStart`
    * within the packed stream. */
  def decode(t: Fsst.SymbolTable, packed: Array[Byte], codeStart: Int, nCodes: Int,
      out: scala.collection.mutable.ArrayBuilder[Byte]): Int = {
    var produced = 0
    var k = 0
    while (k < nCodes) {
      val code = readCode(packed, codeStart + k)
      if (code < LiteralBase) {
        out += code.toByte
        produced += 1
      } else {
        val c = code - LiteralBase
        val l = t.lens(c)
        val v = t.packed(c)
        var i = 0
        while (i < l) { out += (v >>> (8 * i)).toByte; i += 1 }
        produced += l
      }
      k += 1
    }
    produced
  }

  /** 12-bit little-endian packing: code i occupies bits [12i, 12i+12). */
  @inline def readCode(packed: Array[Byte], idx: Int): Int = {
    val bitPos = idx * 12
    val byte0 = bitPos >>> 3
    val shift = bitPos & 7 // 0 or 4
    (((packed(byte0) & 0xff) | ((packed(byte0 + 1) & 0xff) << 8)) >>> shift) & 0xfff
  }

  def packCodes(codes: Array[Int]): Array[Byte] = {
    val out = new Array[Byte]((codes.length * 12 + 7) / 8 + 1)
    var i = 0
    while (i < codes.length) {
      val bitPos = i * 12
      val byte0 = bitPos >>> 3
      val shift = bitPos & 7
      val v = (codes(i) & 0xfff) << shift
      out(byte0) = (out(byte0) | (v & 0xff)).toByte
      out(byte0 + 1) = (out(byte0 + 1) | ((v >>> 8) & 0xff)).toByte
      i += 1
    }
    out
  }

  def writeTable(t: Fsst.SymbolTable, out: ByteWriter): Unit = {
    out.writeInt(t.nSymbols)
    Fsst.writeSymbols(t, out)
  }

  def readTable(in: ByteReader): Fsst.SymbolTable = Fsst.readSymbols(in, in.readInt())
}
