package org.apache.spark.sql.graftexprs

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.fls.Encoder.LongIdTable

/** Native word-shingle kernels for the text queries (q30's winnowing
  * fingerprint, the dedup shingle sets of q21-q23 and q119). They
  * replace higher-order-function pipelines that split the document once
  * per shingle (O(words²) per document) and hashed each shingle through
  * one-character strings, all in lambdas Spark interprets element by
  * element. Here each document is scanned once.
  *
  * Tokens are exactly those of Spark's `split(text, ' ')`: the text cut
  * at every 0x20 byte, empty tokens kept (a trailing one too), and `''`
  * is one empty token. 0x20 never occurs inside a multi-byte UTF-8
  * sequence, so byte cutting is character cutting. Because tokens are
  * separated by exactly one space, the n-gram "t_i t_i+1 … t_i+n-1"
  * joined with single spaces is the text's own byte range from the
  * start of t_i to the end of t_i+n-1.
  *
  * Both the interpreted and the generated paths call [[TextKernels]],
  * so the two cannot disagree. */
object TextKernels {

  private val EmptyLongs = UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))

  /** Start byte of every token of `split(s, ' ')`, plus one sentinel at
    * `numBytes + 1`, so token j spans `[st(j), st(j + 1) - 1)`. */
  private def tokenStarts(s: UTF8String): Array[Int] = {
    val nb = s.numBytes()
    var spaces = 0
    var i = 0
    while (i < nb) { if (s.getByte(i) == ' ') spaces += 1; i += 1 }
    val st = new Array[Int](spaces + 2)
    var j = 1
    i = 0
    while (i < nb) {
      if (s.getByte(i) == ' ') { st(j) = i + 1; j += 1 }
      i += 1
    }
    st(j) = nb + 1
    st
  }

  /** The positional word n-grams of `s`, each joined with one space;
    * empty when `s` has fewer than `n` tokens. */
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val st = tokenStarts(s)
    val count = st.length - n
    if (count <= 0) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      // end byte (inclusive) of token i + n - 1
      out(i) = s.copyUTF8String(st(i), st(i + n) - 2)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The code point of the `k`-byte character starting at byte `i`
    * (`k` from Spark's own `numBytesForFirstByte`, so characters are cut
    * where `split(s, '')` cuts them). A malformed sequence counts as
    * U+FFFD, the replacement Java's decoder gives it. */
  private def codePoint(s: UTF8String, i: Int, k: Int): Int = {
    val b0 = s.getByte(i) & 0xFF
    def cont(j: Int): Int = {
      val b = s.getByte(i + j) & 0xFF
      if ((b & 0xC0) == 0x80) b & 0x3F else -1
    }
    val cp = k match {
      case 1 => if (b0 < 0x80) b0 else -1
      case 2 =>
        val c1 = cont(1)
        if (c1 < 0) -1 else ((b0 & 0x1F) << 6) | c1
      case 3 =>
        val c1 = cont(1); val c2 = cont(2)
        val v = ((b0 & 0x0F) << 12) | (c1 << 6) | c2
        if ((c1 | c2) < 0 || v < 0x800 || (v >= 0xD800 && v <= 0xDFFF)) -1 else v
      case 4 =>
        val c1 = cont(1); val c2 = cont(2); val c3 = cont(3)
        val v = ((b0 & 0x07) << 18) | (c1 << 12) | (c2 << 6) | c3
        if ((c1 | c2 | c3) < 0 || v < 0x10000 || v > 0x10FFFF) -1 else v
      case _ => -1
    }
    if (cp >= 0) cp else 0xFFFD
  }

  /** The 32-bit rolling hash of every positional word n-gram of `s`:
    * seed 7, `h = (h*31 + codePoint) mod 2^32` over the n-gram's code
    * points, spaces included. One pass over the code points gives each
    * token its seedless hash `g` and `31^len`; an n-gram's hash is then
    * folded from its tokens, since in 32-bit arithmetic
    * `hash(seed, A ++ B) = hash(seed, A) * 31^|B| + hash(0, B)`. */
  def shingleHashes(s: UTF8String, n: Int): ArrayData = {
    val st = tokenStarts(s)
    val tokens = st.length - 1
    val count = tokens - n + 1
    if (count <= 0) return EmptyLongs
    val g = new Array[Int](tokens)
    val pw = new Array[Int](tokens)
    var t = 0
    while (t < tokens) {
      val end = st(t + 1) - 1
      var h = 0
      var p = 1
      var i = st(t)
      while (i < end) {
        val k = math.min(UTF8String.numBytesForFirstByte(s.getByte(i)), end - i)
        h = h * 31 + codePoint(s, i, k)
        p *= 31
        i += k
      }
      g(t) = h; pw(t) = p
      t += 1
    }
    val out = new Array[Long](count)
    var i = 0
    while (i < count) {
      var h = 7 * pw(i) + g(i)
      var j = 1
      while (j < n) {
        h = (h * 31 + ' ') * pw(i + j) + g(i + j)
        j += 1
      }
      out(i) = h & 0xFFFFFFFFL
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Winnowing: the distinct minima of every `w`-wide window of `hs`,
    * in first-seen order; `[min(hs)]` when `0 < size < w`, `[]` when
    * empty. NULL elements are skipped like `array_min` skips them, and a
    * window of only NULLs yields one NULL, kept once like
    * `array_distinct` keeps it. */
  def winnow(hs: ArrayData, w: Int): ArrayData = {
    val m = hs.numElements()
    if (m == 0) return EmptyLongs
    val span = math.min(w, m)
    val seen = new LongIdTable
    var nullAt = -1
    var t = 0
    while (t + span <= m) {
      var found = false
      var min = 0L
      var i = t
      while (i < t + span) {
        if (!hs.isNullAt(i)) {
          val v = hs.getLong(i)
          if (!found || v < min) { min = v; found = true }
        }
        i += 1
      }
      if (found) seen.add(min)
      else if (nullAt < 0) nullAt = seen.size
      t += 1
    }
    val mins = java.util.Arrays.copyOf(seen.keys, seen.size)
    if (nullAt < 0) UnsafeArrayData.fromPrimitiveArray(mins)
    else {
      val out = new Array[Any](mins.length + 1)
      var i = 0
      while (i < out.length) {
        out(i) = if (i < nullAt) mins(i) else if (i == nullAt) null else mins(i - 1)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Exact sum of a BIGINT array: 0 when empty, NULL when an element is
    * NULL, an `ArithmeticException` on overflow. */
  def sum(xs: ArrayData): java.lang.Long = {
    var s = 0L
    var i = 0
    while (i < xs.numElements()) {
      if (xs.isNullAt(i)) return null
      s = Math.addExact(s, xs.getLong(i))
      i += 1
    }
    s
  }

  private[graftexprs] val Name: String = getClass.getName.stripSuffix("$")
}

/** [[TextKernels.wordShingles]]: ARRAY<STRING> of word `n`-grams. */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"graft_word_shingles: n must be >= 1, got $n")

  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_shingles"

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.wordShingles(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${TextKernels.Name}.wordShingles($s, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[TextKernels.shingleHashes]]: ARRAY<BIGINT> of word `n`-gram hashes. */
case class ShingleHashes(child: Expression, n: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"graft_shingle_hashes: n must be >= 1, got $n")

  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override protected def nullSafeEval(s: Any): Any =
    TextKernels.shingleHashes(s.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"${TextKernels.Name}.shingleHashes($s, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[TextKernels.winnow]]: distinct `w`-window minima of a BIGINT array. */
case class Winnow(child: Expression, w: Int)
  extends UnaryExpression with ExpectsInputTypes {
  require(w >= 1, s"graft_winnow: w must be >= 1, got $w")

  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_winnow"

  override protected def nullSafeEval(a: Any): Any =
    TextKernels.winnow(a.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"${TextKernels.Name}.winnow($a, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[TextKernels.sum]]: exact BIGINT sum of an array. */
case class ArraySum(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = child.nullable || (child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_array_sum"

  override protected def nullSafeEval(a: Any): Any =
    TextKernels.sum(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      if (!nullable) s"${ev.value} = ${TextKernels.Name}.sum($a).longValue();"
      else {
        val s = ctx.freshName("s")
        s"""
           |Long $s = ${TextKernels.Name}.sum($a);
           |if ($s == null) { ${ev.isNull} = true; } else { ${ev.value} = $s.longValue(); }
         """.stripMargin
      })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
