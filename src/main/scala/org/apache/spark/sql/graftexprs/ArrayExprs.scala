// Lives under org.apache.spark.sql to reach private[sql] helpers
// (AbstractDataType, classic.ExpressionUtils) — the standard pattern
// for out-of-tree connectors shipping native expressions.
package org.apache.spark.sql.graftexprs

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen'd kernels for the similarity hot paths — preference
  * order (b) from the build brief: a Catalyst Expression with doGenCode
  * beats the interpreted higher-order-function lambdas these replace
  * (zip_with+aggregate allocates an intermediate array per row and
  * evaluates an interpreted lambda per element; these compile to a
  * tight scalar loop inside whole-stage codegen). */

/** Dot product of two ArrayType(DoubleType) columns. NULL on length
  * mismatch — matching the zip_with+aggregate HOF pipeline it replaces
  * (null padding poisons the sum to NULL there), so a bad embedding row
  * surfaces as a detectable null, never a plausible partial product. */
case class ArrayDotProduct(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_array_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double ${ev.value}Acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = ${ev.value}Acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two ASCENDING-SORTED ArrayType(StringType)
  * columns (callers sort once per row with array_sort; the merge here
  * is O(n+m) with zero allocation — vs the hash-set the builtin
  * array_intersect builds per row). */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val cmp = ctx.freshName("cmp")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  int $cmp = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Map-side group routing for the two-level IVF quantizer: score one
  * row's vector against a driver-collected, broadcast L1 centroid set
  * and return the top-`k` group ids, ordered exactly like the
  * crossJoin+row_number it replaces (cosine desc, group id asc —
  * java.lang.Double total order, as Spark's sort uses). The L1 set is
  * tiny BY CONSTRUCTION (⌈√nCentroids⌉ ≤ ⌈√cap⌉ ≈ 256 rows at the
  * default 64Ki cap), so the broadcast is a few hundred KB while the
  * old shape shuffled the n·√nCent expanded vector×group product just
  * to pick each vector's top groups (the r15 verdict's routing gap:
  * ~2.4×10¹² rows through an exchange at the activation scale). The
  * per-row arithmetic is IDENTICAL (same sequential dot product, same
  * divide), so rankings — and the q120 oracle hash — are unchanged. */
case class TopGroups(vec: Expression, norm: Expression,
    groups: org.apache.spark.broadcast.Broadcast[
      (Array[Long], Array[Array[Double]], Array[Double])],
    k: Int)
  extends BinaryExpression with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def left: Expression = vec
  override def right: Expression = norm
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_top_groups"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val nr = b.asInstanceOf[Double]
    val (ids, vs, ns) = groups.value
    val m = ids.length
    val take = math.min(k, m)
    // one cosine per group (O(m·dim)), then top-k by repeated max over
    // the scores (k is 1–8, the l1probe knob — beats a per-row heap)
    val cos = new Array[Double](m)
    var g = 0
    while (g < m) {
      val gv = vs(g)
      val n = math.min(x.numElements(), gv.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * gv(i); i += 1 }
      cos(g) = s / (nr * ns(g))
      g += 1
    }
    val bestIds = new Array[Long](take)
    val used = new Array[Boolean](m)
    var r = 0
    while (r < take) {
      var bi = -1
      g = 0
      while (g < m) {
        // (cos desc, id asc) — ids are ascending, so strict > keeps
        // the first (smallest) id on ties, like row_number's order
        if (!used(g) &&
            (bi < 0 || java.lang.Double.compare(cos(g), cos(bi)) > 0)) bi = g
        g += 1
      }
      used(bi) = true
      bestIds(r) = ids(bi)
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bestIds)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, norm = newRight)
}

/** Pack an ArrayType(IntegerType) of PQ code ids (each 0..255, m
  * order) into a BINARY of one byte per code — the persisted ANN
  * artifact shape (M bytes/vector instead of the ~dim×8 B
  * reconstruction it replaces; FAISS's codes layout). Out-of-range
  * codes fail loudly: a silent truncation would corrupt every ADC
  * score downstream. */
case class PackCodes(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_pack_codes"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val c = x.getInt(i)
      if (c < 0 || c > 255)
        throw new IllegalArgumentException(
          s"graft_pack_codes: code $c out of the unsigned-byte range")
      out(i) = c.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  int $c = $a.getInt($i);
         |  if ($c < 0 || $c > 255) {
         |    throw new IllegalArgumentException(
         |      "graft_pack_codes: code " + $c + " out of the unsigned-byte range");
         |  }
         |  $out[$i] = (byte) $c;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC score of a normalized query vector against a PQ-CODED candidate
  * — the scoring kernel of the codes-shaped ANN artifact (M bytes per
  * vector; the broadcast codebook carries the geometry). The
  * accumulator is CARRIED across subspaces in m order, so the result
  * is bit-identical to reconstructing rv = flatten(cb(m)(code_m)) and
  * taking the full sequential dot <uq, rv> — which is exactly what the
  * DuckDB oracle computes relationally; the q124 hash cannot move.
  * (FAISS amortizes the same arithmetic into a per-query M×K LUT — an
  * optional speed path; per-candidate cost here already equals the
  * plain dot while the ARTIFACT shrinks ~dim×8/M ≈ 64×.)
  *
  * `anchored = true` adds the candidate's cell centroid back during
  * the scan (residual IVFADC, q126): the inner term becomes
  * uq(j) * (anchor(j) + entry(i)) — IEEE addition is commutative, so
  * this is bit-identical to zip_with(rr, cn, +) then dot. */
case class AdcFromCodes(vec: Expression, codes: Expression,
    anchor: Expression,
    cb: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
    anchored: Boolean)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
  with ExpectsInputTypes {

  override def first: Expression = vec
  override def second: Expression = codes
  override def third: Expression = anchor
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), BinaryType, ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_adc_from_codes"

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val cd = b.asInstanceOf[Array[Byte]]
    val anc = if (anchored) c.asInstanceOf[ArrayData] else null
    val cbv = cb.value
    var s = 0.0
    var m = 0
    var off = 0
    while (m < cd.length) {
      val e = cbv(m)(cd(m) & 0xFF)
      var i = 0
      if (anchored) {
        while (i < e.length) {
          s += x.getDouble(off + i) * (anc.getDouble(off + i) + e(i)); i += 1
        }
      } else {
        while (i < e.length) { s += x.getDouble(off + i) * e(i); i += 1 }
      }
      off += e.length
      m += 1
    }
    s
  }

  /** Codegen keeps the scoring projection inside whole-stage codegen
    * (the verdicted hot path): the BROADCAST handle rides the
    * generated class's references (executors resolve `.value()` once
    * into a mutable-state field at init — the codebook itself is
    * never serialized into the plan), and the scan loop mirrors
    * [[nullSafeEval]]'s accumulation order exactly — same IEEE
    * bit-exactness argument. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("adcCb", cb,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    val cbv = ctx.addMutableState("double[][][]", "adcCbv",
      v => s"$v = (double[][][]) $bcRef.value();")
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val acc = ctx.freshName("acc")
      val off = ctx.freshName("off")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val e = ctx.freshName("e")
      val inner =
        if (anchored)
          s"$acc += $a.getDouble($off + $i) * ($c.getDouble($off + $i) + $e[$i]);"
        else
          s"$acc += $a.getDouble($off + $i) * $e[$i];"
      s"""
         |double $acc = 0.0;
         |int $off = 0;
         |for (int $m = 0; $m < $b.length; $m++) {
         |  double[] $e = $cbv[$m][$b[$m] & 0xFF];
         |  for (int $i = 0; $i < $e.length; $i++) {
         |    $inner
         |  }
         |  $off += $e.length;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(vec = newFirst, codes = newSecond, anchor = newThird)
}

/** Column-API entry points for the native kernels. */
object GraftFunctions {
  import org.apache.spark.sql.classic.ExpressionUtils

  def arrayDot(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayDotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Inputs MUST be ascending-sorted string arrays. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Top-`k` L1 group ids for one vector — map-side IVF routing over a
    * broadcast (ids, vectors, norms) centroid set; ids must be
    * ascending. See [[TopGroups]]. */
  def topGroups(v: Column, nr: Column,
      groups: org.apache.spark.broadcast.Broadcast[
        (Array[Long], Array[Array[Double]], Array[Double])],
      k: Int): Column =
    ExpressionUtils.column(TopGroups(
      ExpressionUtils.expression(v), ExpressionUtils.expression(nr),
      groups, k))

  /** Pack an m-ordered ARRAY<INT> of PQ code ids into M bytes. */
  def packCodes(codes: Column): Column =
    ExpressionUtils.column(PackCodes(ExpressionUtils.expression(codes)))

  /** ADC score of a normalized query against packed PQ codes — see
    * [[AdcFromCodes]] (bit-identical to <uq, reconstruct(codes)>). */
  def adcScore(uq: Column, codes: Column,
      cb: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
    : Column =
    ExpressionUtils.column(AdcFromCodes(
      ExpressionUtils.expression(uq), ExpressionUtils.expression(codes),
      // never read (anchored = false) — an empty non-null array keeps
      // the null-intolerant ternary from nulling the score out
      ExpressionUtils.expression(org.apache.spark.sql.functions.array()
        .cast(ArrayType(DoubleType))),
      cb, anchored = false))

  /** Residual-IVFADC scoring: adds the candidate cell's normalized
    * centroid back during the scan — bit-identical to
    * <uq, cn + reconstruct(codes)>. */
  def adcScoreAnchored(uq: Column, codes: Column, anchor: Column,
      cb: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
    : Column =
    ExpressionUtils.column(AdcFromCodes(
      ExpressionUtils.expression(uq), ExpressionUtils.expression(codes),
      ExpressionUtils.expression(anchor), cb, anchored = true))

  /** Positional word `n`-grams of `text`, tokenized like
    * `split(text, ' ')` and joined with one space — see [[TextKernels]]. */
  def wordShingles(text: Column, n: Int): Column =
    ExpressionUtils.column(WordShingles(ExpressionUtils.expression(text), n))

  /** 32-bit rolling hash (seed 7, h*31 + code point) of every word
    * `n`-gram of `text`, from one pass over its code points. */
  def shingleHashes(text: Column, n: Int): Column =
    ExpressionUtils.column(ShingleHashes(ExpressionUtils.expression(text), n))

  /** Distinct minima of the `w`-wide windows of a BIGINT array, in
    * first-seen order (winnowing). */
  def winnow(hashes: Column, w: Int): Column =
    ExpressionUtils.column(Winnow(ExpressionUtils.expression(hashes), w))

  /** Exact sum of a BIGINT array (0 when empty). */
  def arraySum(xs: Column): Column =
    ExpressionUtils.column(ArraySum(ExpressionUtils.expression(xs)))

  /** Exact floor division of a LONG column by a positive constant.
    * `x DIV w` truncates toward zero (mis-buckets negatives) and a
    * double `floor(x/w)` loses exactness near 2^53; subtracting `pmod`
    * (non-negative) first lands on the largest multiple of `w` at or
    * below `x`, making the integral divide remainder-free and so exact
    * regardless of truncation direction. Needs `IntegralDivide`, which
    * is sql-private — hence it lives here, not in graft.functions. */
  def floorDiv(x: Column, w: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, EvalMode}
    val exact = x - org.apache.spark.sql.functions.pmod(
      x, org.apache.spark.sql.functions.lit(w))
    ExpressionUtils.column(IntegralDivide(
      ExpressionUtils.expression(exact),
      ExpressionUtils.expression(org.apache.spark.sql.functions.lit(w)),
      EvalMode.LEGACY))
  }
}
