package graft.fls

import org.scalatest.funsuite.AnyFunSuite

/** encode ∘ decode = id for every kernel (SURVEY.md §5 port strategy:
  * per-codec property tests the reference lacks). Seeded fuzz loops
  * stand in for scalacheck properties (no scalatest-scalacheck bridge
  * in the offline cache). */
class CodecsSpec extends AnyFunSuite {

  private def fuzzLongs(seed: Int)(body: Array[Long] => Unit): Unit = {
    val rng = new scala.util.Random(seed)
    (0 until 200).foreach { _ =>
      val n = rng.nextInt(3000)
      val vs = Array.fill(n) {
        rng.nextInt(4) match {
          case 0 => rng.nextLong()
          case 1 => rng.nextInt(200).toLong - 100
          case 2 => Long.MinValue + rng.nextInt(3)
          case _ => Long.MaxValue - rng.nextInt(3)
        }
      }
      body(vs)
    }
  }

  private def decodeAs(w: ByteWriter, enc: Int, ct: Format.ColumnType): ColData =
    Codecs.decode(w.toArray, enc, ct)
  private def longsOf(w: ByteWriter, enc: Int): Array[Long] =
    decodeAs(w, enc, Format.ColumnType(Format.TypeTag.INT64)).asInstanceOf[LongData].v
  private def doublesOf(w: ByteWriter, enc: Int): Array[Double] =
    decodeAs(w, enc, Format.ColumnType(Format.TypeTag.DOUBLE)).asInstanceOf[DoubleData].v
  private def bytesOf(w: ByteWriter, enc: Int): BytesData =
    decodeAs(w, enc, Format.ColumnType(Format.TypeTag.STRING)).asInstanceOf[BytesData]

  private def scalarType(col: ColData): Format.ColumnType = Format.ColumnType(col match {
    case _: LongData => Format.TypeTag.INT64
    case _: DoubleData => Format.TypeTag.DOUBLE
    case _: BytesData => Format.TypeTag.STRING
    case other => fail(s"no scalar type for ${other.getClass.getSimpleName}")
  })

  private def viaFFOR(vs: Array[Long]): Array[Long] = {
    val w = new ByteWriter()
    Codecs.encodeFFOR(vs, w)
    longsOf(w, Format.Enc.FFOR)
  }

  test("FFOR round-trips arbitrary longs incl. extremes") {
    fuzzLongs(1) { vs => assert(viaFFOR(vs).sameElements(vs)) }
    val edge = Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L)
    assert(viaFFOR(edge).sameElements(edge))
  }

  test("FFOR round-trips multi-block (crosses 1024 boundary)") {
    val vs = Array.tabulate(3000)(i => (i * 7 - 1000).toLong)
    assert(viaFFOR(vs).sameElements(vs))
  }

  test("bit widths: constant block packs to zero payload") {
    val vs = Array.fill(2048)(42L)
    val w = new ByteWriter()
    Codecs.encodeFFOR(vs, w)
    // 4 (n) + 2 blocks * (8 ref + 1 bw) = 22 bytes
    assert(w.size == 22)
  }

  test("ALP round-trips decimal-ish doubles and exceptions") {
    val vs = Array(1.25, 3.14, 100.0, -2.5, 0.001, Double.NaN,
      Double.PositiveInfinity, 1.0 / 3.0, -0.0, 1e300)
    val (e, _) = Codecs.alpChooseExponent(vs)
    val w = new ByteWriter()
    Codecs.encodeAlp(vs, e, w)
    val out = doublesOf(w, Format.Enc.ALP)
    vs.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(out(i)) ==
        java.lang.Double.doubleToRawLongBits(vs(i)), s"index $i")
    }
  }

  test("ALP round-trips arbitrary doubles bitwise") {
    val rng = new scala.util.Random(2)
    (0 until 200).foreach { _ =>
      val n = rng.nextInt(3000)
      val vs = Array.fill(n) {
        rng.nextInt(3) match {
          case 0 => math.rint(rng.nextDouble() * 2e8 - 1e8) / 100
          case 1 => java.lang.Double.longBitsToDouble(rng.nextLong())
          case _ => rng.nextDouble()
        }
      }
      val (e, _) = Codecs.alpChooseExponent(vs)
      val w = new ByteWriter()
      Codecs.encodeAlp(vs, e, w)
      val out = doublesOf(w, Format.Enc.ALP)
      vs.indices.foreach { i =>
        assert(java.lang.Double.doubleToRawLongBits(out(i)) ==
          java.lang.Double.doubleToRawLongBits(vs(i)))
      }
    }
  }

  test("RLE long round-trip") {
    val vs = Array.fill(100)(7L) ++ Array.fill(50)(-3L) ++ Array(9L)
    val runVals = Array(7L, -3L, 9L)
    val runLens = Array(100L, 50L, 1L)
    val w = new ByteWriter()
    Codecs.encodeRleLong(vs.length, runVals, runLens, w)
    assert(longsOf(w, Format.Enc.RLE).sameElements(vs))
  }

  private def mkBytes(strs: Seq[String]): BytesData = {
    val bytes = strs.flatMap(_.getBytes("UTF-8")).toArray
    val offsets = strs.scanLeft(0)(_ + _.getBytes("UTF-8").length).toArray
    BytesData(offsets, bytes)
  }

  private def strsOf(d: BytesData): Seq[String] =
    (0 until d.n).map(i => new String(d.bytes, d.offsets(i), d.offsets(i + 1) - d.offsets(i), "UTF-8"))

  test("plain/const/dict/rle bytes round-trip") {
    val strs = Seq("alpha", "beta", "alpha", "", "日本語", "alpha", "beta")
    val d = mkBytes(strs)

    val w1 = new ByteWriter()
    Codecs.encodePlainBytes(d, w1)
    assert(strsOf(bytesOf(w1, Format.Enc.PLAIN)) == strs)

    val w2 = new ByteWriter()
    Codecs.encodeConstBytes(4, "xy".getBytes, w2)
    assert(strsOf(bytesOf(w2, Format.Enc.CONSTANT)) == Seq("xy", "xy", "xy", "xy"))

    val dict = mkBytes(Seq("alpha", "beta", "", "日本語"))
    val codes = Array(0L, 1L, 0L, 2L, 3L, 0L, 1L)
    val w3 = new ByteWriter()
    Codecs.encodeDictBytes(strs.length, dict, codes, w3)
    assert(strsOf(bytesOf(w3, Format.Enc.DICT)) == strs)

    val runs = Seq("aa", "aa", "bb", "bb", "bb", "c")
    val w4 = new ByteWriter()
    Codecs.encodeRleBytes(6, mkBytes(Seq("aa", "bb", "c")), Array(2L, 3L, 1L), w4)
    assert(strsOf(bytesOf(w4, Format.Enc.RLE)) == runs)
  }

  test("Encoder picks sane encodings and round-trips through decode") {
    def roundTrip(col: ColData): ColData = {
      val w = new ByteWriter()
      val (enc, _) = Encoder.encodeColumn(col, w)
      decodeAs(w, enc, scalarType(col))
    }

    // constant
    val c = roundTrip(LongData(Array.fill(500)(5L)))
    assert(c.asInstanceOf[LongData].v.forall(_ == 5L))
    // sequential ints → FFOR
    val seq0 = Array.tabulate(5000)(_.toLong * 3)
    assert(roundTrip(LongData(seq0)).asInstanceOf[LongData].v.sameElements(seq0))
    // low-cardinality strings → dict or rle
    val strs = (0 until 4000).map(i => s"val${i % 7}")
    assert(strsOf(roundTrip(mkBytes(strs)).asInstanceOf[BytesData]) == strs)
    // prices → ALP
    val prices = Array.tabulate(4000)(i => (i * 17 % 10000) / 100.0)
    assert(roundTrip(DoubleData(prices)).asInstanceOf[DoubleData].v.sameElements(prices))
    // random doubles → plain (still exact)
    val rng = new scala.util.Random(42)
    val rnd = Array.fill(3000)(rng.nextDouble() * 1e18)
    assert(roundTrip(DoubleData(rnd)).asInstanceOf[DoubleData].v.sameElements(rnd))
  }

  test("fuzz: Encoder round-trips arbitrary long columns") {
    fuzzLongs(3) { vs =>
      val w = new ByteWriter()
      val (enc, _) = Encoder.encodeColumn(LongData(vs), w)
      val out = longsOf(w, enc)
      assert(out.sameElements(vs))
    }
  }

  test("FSST round-trips text and compresses a wordy corpus") {
    val rng = new scala.util.Random(7)
    val vocab = Array("table", "query", "spark", "filter", "window", "batch",
      "merge", "hash", "value", "column")
    val strs = (0 until 2000).map(_ =>
      (0 until 10).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    val d = mkBytes(strs)
    val sample = java.util.Arrays.copyOfRange(d.bytes, 0, math.min(d.bytes.length, 1 << 16))
    val table = Fsst.train(sample)
    val w = new ByteWriter()
    Codecs.encodeFsst(d, table, w)
    assert(strsOf(bytesOf(w, Format.Enc.FSST)) == strs)
    assert(w.size < d.bytes.length / 2, s"fsst ${w.size} vs raw ${d.bytes.length}")
  }

  test("FSST round-trips adversarial bytes (escapes, empty, binary)") {
    val rng = new scala.util.Random(11)
    val strs = Seq("", "\u0000\u00ff", new String(Array.fill(300)(rng.nextInt(256).toByte).map(_.toChar))) ++
      (0 until 50).map(_ => new String(Array.fill(rng.nextInt(40))((rng.nextInt(90) + 32).toChar)))
    val bytes = strs.flatMap(_.toCharArray.map(_.toByte)).toArray
    val offsets = strs.scanLeft(0)(_ + _.length).toArray
    val d = BytesData(offsets, bytes)
    val table = Fsst.train(java.util.Arrays.copyOf(bytes, bytes.length))
    val w = new ByteWriter()
    Codecs.encodeFsst(d, table, w)
    val back = bytesOf(w, Format.Enc.FSST)
    assert(back.offsets.sameElements(d.offsets))
    assert(back.bytes.sameElements(d.bytes))
  }

  test("FREQ round-trips dominated columns") {
    val vs = Array.fill(5000)(42L)
    vs(17) = -1L; vs(900) = 7L; vs(4999) = Long.MaxValue
    val w = new ByteWriter()
    Codecs.encodeFreqLong(vs, 42L, w)
    assert(longsOf(w, Format.Enc.FREQ).sameElements(vs))
  }

  test("FREQ bytes round-trips dominated string columns (incl. edge shapes)") {
    // scattered exceptions
    val strs = (0 until 4000).map { i =>
      if (i % 97 == 0) s"outlier-$i" else "the-dominant-value"
    }
    val d = mkBytes(strs)
    val w = new ByteWriter()
    val dom = strs.indexOf("the-dominant-value")
    Codecs.encodeFreqBytes(d, d.offsets(dom), d.offsets(dom + 1), w)
    assert(strsOf(bytesOf(w, Format.Enc.FREQ)) == strs)
    // no exceptions at all
    val pure = mkBytes(Seq.fill(100)("same"))
    val w2 = new ByteWriter()
    Codecs.encodeFreqBytes(pure, 0, 4, w2)
    assert(strsOf(bytesOf(w2, Format.Enc.FREQ)) == Seq.fill(100)("same"))
    // exceptions at both ends, empty strings among exceptions
    val edge = Seq("", "x", "x", "x", "") ++ Seq.fill(50)("x") :+ ""
    val de = mkBytes(edge)
    val w3 = new ByteWriter()
    Codecs.encodeFreqBytes(de, de.offsets(1), de.offsets(2), w3)
    assert(strsOf(bytesOf(w3, Format.Enc.FREQ)) == edge)
  }

  test("Encoder picks FREQ for a scattered-dominant string column and compresses") {
    val rng = new scala.util.Random(31)
    // 99% one long value, 1% unique long outliers scattered randomly:
    // RLE degenerates (runs ~ 2*nEx), DICT pays code bits on every row
    val strs = (0 until 20000).map { i =>
      if (rng.nextInt(100) == 0) s"unique-outlier-value-$i-${rng.nextInt()}"
      else "the-overwhelmingly-dominant-string-value-of-this-column"
    }
    val d = mkBytes(strs)
    val w = new ByteWriter()
    val (enc, _) = Encoder.encodeColumn(d, w)
    assert(enc == Format.Enc.FREQ, s"expected FREQ, got $enc")
    assert(strsOf(bytesOf(w, enc)) == strs)
    val dictSize = {
      val w2 = new ByteWriter()
      val distinct = strs.distinct
      val codeOf = distinct.zipWithIndex.toMap
      Codecs.encodeDictBytes(strs.length, mkBytes(distinct),
        strs.map(s => codeOf(s).toLong).toArray, w2)
      w2.size
    }
    assert(w.size < dictSize, s"FREQ ${w.size} should beat DICT $dictSize here")
  }

  test("fuzz: FREQ bytes round-trips random dominated columns") {
    val rng = new scala.util.Random(77)
    (0 until 20).foreach { trial =>
      val domLen = rng.nextInt(30)
      val dom = Array.fill(domLen)(rng.nextInt(256).toByte)
      val domStr = new String(dom.map(b => ('a' + (b & 15)).toChar))
      val n = 200 + rng.nextInt(2000)
      val strs = (0 until n).map { _ =>
        if (rng.nextInt(10) == 0) new String(Array.fill(rng.nextInt(20))(('a' + rng.nextInt(26)).toChar))
        else domStr
      }
      val d = mkBytes(strs)
      val di = strs.indexOf(domStr)
      val w = new ByteWriter()
      Codecs.encodeFreqBytes(d, d.offsets(di), d.offsets(di + 1), w)
      assert(strsOf(bytesOf(w, Format.Enc.FREQ)) == strs, s"trial $trial")
    }
  }

  test("K16 transpose: permutation is a bijection; inverse restores order") {
    assert(Codecs.TransposePerm.sorted.sameElements(0 until Format.VecSize))
    val rng = new scala.util.Random(41)
    // full blocks + a short tail (tail stays sequential)
    val vs = Array.fill(3 * Format.VecSize + 137)(rng.nextLong())
    val t = Codecs.transposeLongs(vs)
    assert(!t.sameElements(vs)) // permutation actually moves values
    assert(Codecs.untransposeLongs(t).sameElements(vs))
    assert(t.takeRight(137).sameElements(vs.takeRight(137))) // tail untouched
    val ds = Array.fill(2 * Format.VecSize + 5)(rng.nextDouble())
    assert(Codecs.untransposeDoubles(Codecs.transposeDoubles(ds)).sameElements(ds))
  }

  test("K16 transpose: TRANSPOSED wrapper round-trips through encode/decode") {
    val rng = new scala.util.Random(43)
    val vs = Array.fill(4096)(rng.nextInt(100000).toLong)
    val w = new ByteWriter()
    val (enc, desc) = Encoder.encodeColumn(LongData(vs), w, transpose = true)
    assert(enc == Format.Enc.TRANSPOSED)
    assert(desc.hasStats && desc.minLong == vs.min && desc.maxLong == vs.max)
    val back = longsOf(w, enc)
    assert(back.sameElements(vs))
    val dvs = Array.fill(2048)(rng.nextDouble() * 1000)
    val w2 = new ByteWriter()
    val (enc2, _) = Encoder.encodeColumn(DoubleData(dvs), w2, transpose = true)
    assert(enc2 == Format.Enc.TRANSPOSED)
    val back2 = doublesOf(w2, enc2)
    dvs.indices.foreach(i => assert(
      java.lang.Double.doubleToRawLongBits(back2(i)) ==
        java.lang.Double.doubleToRawLongBits(dvs(i))))
  }

  test("ALP-RD round-trips real doubles bitwise and compresses") {
    val rng = new scala.util.Random(5)
    val vs = Array.fill(8000)(rng.nextDouble() * 1e17 + 1e16)
    val w = new ByteWriter()
    val (enc, _) = Encoder.encodeColumn(DoubleData(vs), w)
    assert(enc == Format.Enc.ALP_RD, s"expected ALP_RD, got $enc")
    val out = doublesOf(w, enc)
    vs.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(out(i)) ==
        java.lang.Double.doubleToRawLongBits(vs(i)))
    }
    assert(w.size < vs.length * 8, s"alp-rd ${w.size} vs raw ${vs.length * 8}")
  }

  test("Encoder picks FSST for high-cardinality wordy strings") {
    val rng = new scala.util.Random(9)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon")
    val strs = (0 until 3000).map(i =>
      s"doc$i " + (0 until 8).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    val d = mkBytes(strs)
    val w = new ByteWriter()
    val (enc, _) = Encoder.encodeColumn(d, w)
    assert(enc == Format.Enc.FSST, s"expected FSST, got $enc")
    assert(strsOf(bytesOf(w, enc)) == strs)
  }

  test("FSST12 round-trips and wins on high-symbol-count corpora") {
    val rng = new scala.util.Random(13)
    // ~600 distinct frequent words -> more symbols than 8-bit FSST holds
    val vocab = Array.tabulate(600)(i => s"token${i}word")
    val strs = (0 until 3000).map(_ =>
      (0 until 12).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
    val d = mkBytes(strs)
    val table = Fsst12.train(java.util.Arrays.copyOfRange(d.bytes, 0, math.min(d.bytes.length, 1 << 16)))
    val w = new ByteWriter()
    Codecs.encodeFsst12(d, table, w)
    assert(strsOf(bytesOf(w, Format.Enc.FSST12)) == strs)
    assert(w.size < d.bytes.length, s"fsst12 ${w.size} vs raw ${d.bytes.length}")
  }

  test("FSST12 12-bit packing round-trips all code values") {
    val rng = new scala.util.Random(17)
    val codes = Array.fill(5000)(rng.nextInt(4096))
    val packed = Fsst12.packCodes(codes)
    codes.indices.foreach { i =>
      assert(Fsst12.readCode(packed, i) == codes(i), s"idx $i")
    }
  }

  test("FSST12 adversarial bytes round-trip") {
    val rng = new scala.util.Random(19)
    val strs = Seq("", "\u0000") ++ (0 until 60).map(_ =>
      new String(Array.fill(rng.nextInt(50))((rng.nextInt(256)).toChar)))
    val bytes = strs.flatMap(_.toCharArray.map(_.toByte)).toArray
    val offsets = strs.scanLeft(0)(_ + _.length).toArray
    val d = BytesData(offsets, bytes)
    val table = Fsst12.train(java.util.Arrays.copyOf(bytes, bytes.length))
    val w = new ByteWriter()
    Codecs.encodeFsst12(d, table, w)
    val back = bytesOf(w, Format.Enc.FSST12)
    assert(back.offsets.sameElements(d.offsets))
    assert(back.bytes.sameElements(d.bytes))
  }

  test("ALP Markstein decode is bitwise identical to IEEE division") {
    // decodeAlp divides digits by 10^e via the reciprocal-multiply +
    // two-FMA correction; the encoder's exactness check uses the plain
    // divide — the two must agree on EVERY representable digit, or a
    // value the encoder kept as "exact" decodes differently
    val rng = new scala.util.Random(23)
    (0 to 14).foreach { e =>
      val d = math.pow(10, e)
      val rcp = 1.0 / d
      (0 until 200000).foreach { _ =>
        val digits = rng.nextLong() % (1L << 51)
        val x = digits.toDouble
        val q = x * rcp
        val fma = Math.fma(Math.fma(-d, q, x), rcp, q)
        assert(java.lang.Double.doubleToRawLongBits(fma) ==
          java.lang.Double.doubleToRawLongBits(x / d),
          s"digits=$digits e=$e: fma=$fma div=${x / d}")
      }
    }
  }

  /** Seeded columns of every shape the encoder distinguishes, each with
    * the encoding it must pick and the SHA-256 of its `encodeColumn`
    * bytes: any change to the selection logic or to a tie-break shows up
    * as a changed digest, so a faster encoder is held to the same files. */
  private def pinnedColumns: Seq[(String, ColData, Boolean, Int)] = {
    import Format.Enc._
    val rng = new scala.util.Random(2024)
    def shuffled[T: scala.reflect.ClassTag](xs: Array[T]): Array[T] = rng.shuffle(xs.toSeq).toArray
    def strs(xs: Seq[String]): BytesData = mkBytes(xs)
    // 8 × distinct == FFOR cost exactly: n = 1030 values over [0, 255]
    // (bit width 8) cost 1030 + 2 × 9 = 1048 = 8 × 131
    def boundary(distinct: Int): Array[Long] = {
      val vals = (0L +: 255L +: (1L to 253L).take(distinct - 2)).toArray
      shuffled(Array.tabulate(1030)(i => vals(i % distinct)))
    }
    val wide = Array.fill(100)(rng.nextLong())
    val dictCap = Array.fill(1001)(rng.nextLong())
    // the FSST12 shapes draw from their own generator, so adding them
    // left every earlier shape's input unchanged
    val rng12 = new scala.util.Random(4096)
    val vocab = Array.fill(1500)(Array.fill(7)(('a' + rng12.nextInt(26)).toChar).mkString + " ")
    val words = Array("table", "query", "spark", "filter", "window", "batch",
      "merge", "hash", "value", "column", "segment", "vector")
    Seq(
      ("long constant", LongData(Array.fill(3000)(7L)), false, CONSTANT),
      ("long ffor", LongData(Array.fill(5000)(rng.nextInt(1 << 20).toLong)), false, FFOR),
      ("long ffor extremes", LongData(Long.MinValue +: Long.MaxValue +: Array.fill(2046)(rng.nextLong())),
        false, FFOR),
      ("long dict extremes", LongData(Array.fill(2048)(
        if (rng.nextBoolean()) Long.MinValue + rng.nextInt(5) else Long.MaxValue - rng.nextInt(5))),
        false, DICT),
      ("long dict", LongData(Array.fill(5000)(wide(rng.nextInt(wide.length)))), false, DICT),
      ("long rle", LongData(Array.tabulate(5000)(i => wide(i / 100))), false, RLE),
      ("long freq", LongData(Array.tabulate(5000)(i =>
        if (i % 20 == 7) rng.nextLong() else 42L)), false, FREQ),
      ("long freq min value", LongData(Array.tabulate(4000)(i =>
        if (i % 50 == 3) i.toLong else Long.MinValue)), false, FREQ),
      ("long count tie", LongData(shuffled(Array.tabulate(4000)(i =>
        if (i % 2 == 0) 9L else -9L))), false, DICT),
      ("long count tie ffor", LongData(shuffled(Array.tabulate(4000)(i =>
        if (i < 1000) 5L else if (i < 2000) 3L else i.toLong))), false, FFOR),
      ("long stop boundary at 8x distinct", LongData(boundary(131)), false, FFOR),
      ("long stop boundary past 8x distinct", LongData(boundary(132)), false, FFOR),
      ("long dict at dictCap", LongData(shuffled(Array.tabulate(2000)(i => dictCap(i % 1000)))),
        false, DICT),
      ("long dict past dictCap", LongData(shuffled(Array.tabulate(2000)(i => dictCap(i % 1001)))),
        false, FFOR),
      ("long tiny", LongData(Array(3L, 1L, 3L)), false, FFOR),
      ("long transposed", LongData(Array.fill(4096)(rng.nextInt(100000).toLong)), true, TRANSPOSED),
      ("double constant", DoubleData(Array.fill(2000)(2.5)), false, CONSTANT),
      ("double alp", DoubleData(Array.fill(4000)(rng.nextInt(1000000) / 100.0)), false, ALP),
      ("double dict nan and zeros", DoubleData(Array.fill(4000)(rng.nextInt(6) match {
        case 0 => Double.NaN
        case 1 => -0.0
        case 2 => 0.0
        case 3 => math.Pi
        case 4 => 1.0 / 3.0
        case _ => java.lang.Double.longBitsToDouble(0x7FF8000000000001L)
      })), false, DICT),
      ("double alp_rd", DoubleData(Array.fill(8000)(rng.nextDouble() * 1e17 + 1e16)), false, ALP_RD),
      ("double alp_rd count ties", DoubleData(Array.tabulate(6144)(i =>
        math.scalb(1.0 + rng.nextDouble(), i % 12 - 6))), false, ALP_RD),
      ("double plain", DoubleData(Array.fill(3000)(
        java.lang.Double.longBitsToDouble(rng.nextLong()))), false, PLAIN),
      ("double transposed", DoubleData(Array.fill(2048)(rng.nextDouble() * 1000)), true, TRANSPOSED),
      ("string empty", strs(Seq.fill(500)("")), false, CONSTANT),
      ("string one value", strs(Seq.fill(500)("only")), false, CONSTANT),
      ("string empty and one", strs(Seq.tabulate(600)(i => if (i % 3 == 0) "" else "x")),
        false, DICT),
      ("string long values", strs(Seq.tabulate(3000)(i => ("\u00ff" * 20) + (i % 5))), false, DICT),
      ("bytes 0xFF prefixes", BytesData(Array.tabulate(1001)(_ * 20),
        Array.tabulate(20000)(j => if (j % 20 < 18) -1.toByte else (j / 20 % 3).toByte)), false, DICT),
      ("string freq", strs(Seq.tabulate(20000)(i =>
        if (i % 97 == 5) s"outlier-$i" else "the-dominant-value-of-this-column")), false, FREQ),
      ("string at dictCap", strs(Seq.tabulate(40)(i =>
        if (i < 19) s"u$i-${"z" * 40}" else "a" * 200)), false, DICT),
      ("string past dictCap", strs(Seq.tabulate(40)(i =>
        if (i < 20) s"u$i-${"z" * 40}" else "a" * 200)), false, FSST),
      ("string count tie", strs(shuffled(Array.tabulate(3000)(i =>
        if (i % 2 == 0) "even" else "odd")).toSeq), false, DICT),
      ("string rle", strs(Seq.tabulate(4000)(i => s"run-${i / 250}")), false, RLE),
      ("string dict", strs(Seq.fill(4000)(words(rng.nextInt(words.length)))), false, DICT),
      ("string fsst_dict", strs(Seq.fill(2000)(rng.nextInt(300)).map(k =>
        s"$k " + (0 until 6).map(j => words((k * 7 + j * 3) % words.length)).mkString(" "))),
        false, FSST_DICT),
      ("string fsst", strs(Seq.tabulate(3000)(i =>
        s"doc$i " + (0 until 8).map(_ => words(rng.nextInt(words.length))).mkString(" "))),
        false, FSST),
      ("bytes plain", BytesData(Array.tabulate(501)(_ * 6), Array.fill(3000)(rng.nextInt(256).toByte)),
        false, PLAIN),
      // 1500 random 7-letter words: more frequent symbols than 8-bit
      // FSST's 255 codes hold
      ("string fsst12", strs(Seq.fill(3000)((0 until 12).map(_ =>
        vocab(rng12.nextInt(vocab.length))).mkString)), false, FSST12),
      ("string fsst12_dict", {
        val docs = Array.fill(1000)((0 until 12).map(_ => vocab(rng12.nextInt(vocab.length))).mkString)
        strs(Seq.fill(3000)(docs(rng12.nextInt(docs.length))))
      }, false, FSST12_DICT)
    )
  }

  /** Recorded from the encoder that used boxed hash maps for its
    * distinct scans and frequency counts. */
  private val pinnedDigests: Map[String, String] = Map(
    "long constant" ->
      "ed72c165a30708d866c6831490433151c14e65729218487309c44f8776cb5eec",
    "long ffor" ->
      "f17caba6460e15c437076efc1d611dd1889f48244ce8c6ec4337d2770e1c892b",
    "long ffor extremes" ->
      "c408bcddbca665be463d23a22d5262804fac7c639960295db7658ff22139ea53",
    "long dict extremes" ->
      "3d8b9cf7c55e3fa1eb26b17e8bd06f8aa4665dd6236848bcba27134d0f14041e",
    "long dict" ->
      "90bee7162f5575342a65ac6946c31ecebf070c94dc106d580f7e341111e63490",
    "long rle" ->
      "e17a64eb6978a624f424e10b9af65c8fec8d0bb693c60b369cf6faf344296a4c",
    "long freq" ->
      "002352473ebdf9722767fede3373e6c456eef0d632cfc20170009e496480c708",
    "long freq min value" ->
      "eb6996d1c699079bd2511a064587ff4b08ec183b76122e4821c4ef8806628214",
    "long count tie" ->
      "d4c2b7e36cd9e2500de9647642545e7bff9a2127ab1fb30e38cda4a8ad19d663",
    "long count tie ffor" ->
      "3955df4bab4f1e5cc549a30e6fab7d73aa80bc0795731413b80f04f4171db364",
    "long stop boundary at 8x distinct" ->
      "580d573d26efc85dda240026876a014b6067ee2d2c29956dffc4d9320bf5c02f",
    "long stop boundary past 8x distinct" ->
      "a5fda4b35e132a2daba6b0e8572bc38e5fdd0b7fbc8df6b6d518814ccd26e615",
    "long dict at dictCap" ->
      "ed3d14d90057fbb440414f114d24354e881cfd7882f80bcb77d3b6bebcf6005e",
    "long dict past dictCap" ->
      "0e408acf6def1ccc4e48096395a7fb1b77544e4da96e981cde1b27ce1f0a9587",
    "long tiny" ->
      "ef5c4c4c393c8ef2ded5fe64022fea0d90ec8ce70b43d4955598cdde2580329d",
    "long transposed" ->
      "c3bdedcad2e4da99d7836ef1bf1243c26007f33ecbf03247a3fb6d88654645ad",
    "double constant" ->
      "07f8f66cc7e97f4871dd24746c2427ea6740a1bd49648b40fd7c247a101c24b7",
    "double alp" ->
      "eec470dcd4560f149b185d4f7008cbb1b832802db09b09ba5b9fd2ad07d73a75",
    "double dict nan and zeros" ->
      "17db8fa672d41f3bef9e79a9681c707182b71798e827a39ab8e4397154858907",
    "double alp_rd" ->
      "5f50e19a173065e9614d1f9b68f222c19e57be777257a67aec27688010f5793c",
    "double alp_rd count ties" ->
      "e47fcd2bd6c717d1627d8cf27520686f6ca5369e2d03dad6d3a609e94847060f",
    "double plain" ->
      "14cf831348750ec069ae446d02edb703fd0e3d59e546c01b70d516fd629c0372",
    "double transposed" ->
      "c0c55ac9b26c870f72c7193eb998108b8490c9280997576cf414590fd1b5a2f0",
    "string empty" ->
      "cf5cb2f4d37db6ef4456abfbcdc112844e93c25fec167470d3f2e51a57c5d166",
    "string one value" ->
      "da960b7b2fda4b35ef73e2bd69dd94d1142eff20c277800f8b61ac0e9c2d06a0",
    "string empty and one" ->
      "874811f0782f663a1ff6b5c7de282769c7bb4006fc5b44b5a80c2c03d0b608b4",
    "string long values" ->
      "e686f3edc410eec2cf3c2e85679e5034ab0d63183dc1782fd8028ff72f82be5b",
    "bytes 0xFF prefixes" ->
      "6138aa8c511ac36700b76b06ba9228d9a10b5141273de5726ff1614cc5d07b41",
    "string freq" ->
      "6421ce019c3094d5ab53b17e45a4d352ca3e3eb6510b3df362e72633317b410b",
    "string at dictCap" ->
      "9274b9753264bb519a15e30f79d36729fdcf5b6101de7bcbcb36bf4db0ec5b2c",
    "string past dictCap" ->
      "87a80fcbd8d03298c479a5d7ff233756466159b41184935b39d3350ec8a2b0c5",
    "string count tie" ->
      "f47aeb6690d88f239358c216f2baec17f4ade8c0ad844218a507f5efafc95f37",
    "string rle" ->
      "d4257ae0d79c4bc285da7df3eaf6d856c24f70217730539c89cdd04a41859077",
    "string dict" ->
      "d80f8ee1b937407c969c121f3074c587b8fb2dbc26af0ab9b8362b6b3baf4834",
    "string fsst_dict" ->
      "a82f1728dcded5ec80fad896d449ec33a9da36584f2046456666d4c514c6ebae",
    "string fsst" ->
      "5123f316ef9811ba9d250cbd51584635009b225a898cd06f83839cba26d01cdb",
    "bytes plain" ->
      "4a90e16e6872a942ccb79c106791a6bd580aca83c76fd07056dc35b6d71149e4",
    "string fsst12" ->
      "f7118288e782dc667200f48398d616f80a0daeeeb7c04f4c0dff872b6a863ad2",
    "string fsst12_dict" ->
      "e646b0441282ab5d98e62a4d87d23a2a73711a4ff5d48f88916442ab120bf6ff"
  )

  test("Encoder output is byte-identical per column shape (pinned SHA-256)") {
    def sha(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString
    def sameBytes(a: Array[Byte], b: Array[Byte]) =
      (a == null && b == null) || (a != null && b != null && a.sameElements(b))
    val bad = pinnedColumns.flatMap { case (name, col, transpose, want) =>
      val w = new ByteWriter()
      val (enc, desc) = Encoder.encodeColumn(col, w, transpose)
      val digest = sha(w.toArray)
      // the zone-map stats equal those taken over every row
      val full = Encoder.statsOf(col).copy(encoding = enc, offset = 0, length = w.size.toLong)
      val statsOk = desc.copy(minBytes = null, maxBytes = null) ==
        full.copy(minBytes = null, maxBytes = null) &&
        sameBytes(desc.minBytes, full.minBytes) && sameBytes(desc.maxBytes, full.maxBytes)
      if (enc == want && statsOk && pinnedDigests.get(name).contains(digest)) None
      else Some(s"""$name: encoding $enc (expected $want), stats equal: $statsOk, digest "$digest"""")
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  /** `n` rows of `col` from row `from`, in order, or reversed. */
  private def rows(col: ColData, from: Int, n: Int, reverse: Boolean): ColData = {
    def ix(i: Int) = if (reverse) from + n - 1 - i else from + i
    col match {
      case LongData(v) => LongData(Array.tabulate(n)(i => v(ix(i))))
      case DoubleData(v) => DoubleData(Array.tabulate(n)(i => v(ix(i))))
      case b: BytesData => mkBytesRaw((0 until n).map { i =>
        java.util.Arrays.copyOfRange(b.bytes, b.offsets(ix(i)), b.offsets(ix(i) + 1))
      })
      case other => fail(s"no row slice for ${other.getClass.getSimpleName}")
    }
  }

  private def mkBytesRaw(vals: Seq[Array[Byte]]): BytesData =
    BytesData(vals.scanLeft(0)(_ + _.length).toArray, vals.flatten.toArray)

  test("a recycled holder decodes like a fresh one: same length twice, then a new length") {
    import Format.{ColumnType, TypeTag}
    val rng = new scala.util.Random(71)
    def listCol(n: Int): ColData = {
      val lens = Array.fill(n)(rng.nextInt(5))
      ArrayColData(lens.scanLeft(0)(_ + _), LongData(Array.fill(lens.sum)(rng.nextInt(1000).toLong)))
    }
    def mapCol(n: Int): ColData = {
      val lens = Array.fill(n)(rng.nextInt(4))
      val m = lens.sum
      MapColData(lens.scanLeft(0)(_ + _), LongData(Array.tabulate(m)(i => (i % 50).toLong)),
        LongData(Array.fill(m)(rng.nextInt(1 << 20).toLong)))
    }
    // three row groups per shape: two of one length, one of another
    val shapes: Seq[(String, ColumnType, Boolean, Seq[ColData])] =
      pinnedColumns.map { case (name, col, transpose, _) =>
        val n = col.n
        (name, scalarType(col), transpose, Seq(col, rows(col, 0, n, reverse = true),
          rows(col, n / 3, n - n / 3, reverse = false)))
      } ++ Seq(
        ("list of long", ColumnType(TypeTag.LIST, TypeTag.INT64), false,
          Seq(listCol(3000), listCol(3000), listCol(1700))),
        ("map of long to long", ColumnType(TypeTag.MAP, TypeTag.INT64, TypeTag.INT64), false,
          Seq(mapCol(3000), mapCol(3000), mapCol(1700))))
    val bad = shapes.flatMap { case (name, ct, transpose, groups) =>
      val bufs = new Codecs.ReuseBufs
      groups.zipWithIndex.flatMap { case (col, g) =>
        val w = new ByteWriter()
        val (enc, _) = Encoder.encodeColumn(col, w, transpose)
        val got = Codecs.decode(w.toArray, enc, ct, bufs)
        val want = Codecs.decode(w.toArray, enc, ct)
        if (Codecs.contentEquals(got, want) && Codecs.contentEquals(want, col)) None
        else Some(s"$name: row group $g (encoding $enc) decodes differently through the holder")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }

  test("LongIdTable: first-seen ids and counts through growth and collisions") {
    val rng = new scala.util.Random(61)
    Seq(1, 7, 100, 5000).foreach { distinct =>
      val pool = Array.fill(distinct)(rng.nextInt(4) match {
        case 0 => rng.nextLong()
        case 1 => rng.nextInt(64).toLong << 58 // equal low bits
        case 2 => Long.MinValue + rng.nextInt(3)
        case _ => rng.nextInt(1000).toLong
      })
      val keys = Array.fill(20000)(pool(rng.nextInt(distinct)))
      val t = new Encoder.LongIdTable
      val ids = scala.collection.mutable.Map[Long, Int]()
      keys.foreach(k => assert(t.add(k) == ids.getOrElseUpdate(k, ids.size)))
      assert(t.size == ids.size)
      ids.foreach { case (k, id) =>
        assert(t.keys(id) == k && t.counts(id) == keys.count(_ == k) && t.get(k) == id)
      }
      assert(t.get(Iterator.from(0).map(_.toLong).find(k => !ids.contains(k)).get) == -1)
    }
  }

  test("SliceIdTable: an id per distinct slice, at its first row, with its count") {
    val rng = new scala.util.Random(67)
    val pool = Seq("", "a", "b", "ab", "ba", "\u0000", "\u0000\u0000") ++
      Seq.fill(300)(new String(Array.fill(rng.nextInt(12))(('a' + rng.nextInt(3)).toChar)))
    val strs = Seq.fill(6000)(pool(rng.nextInt(pool.length)))
    val d = mkBytes(strs)
    val t = new Encoder.SliceIdTable(d)
    val ids = strs.indices.map(t.add)
    val firstRow = strs.zipWithIndex.groupBy(_._1).map { case (v, rows) => v -> rows.map(_._2).min }
    val distinct = strs.distinct
    assert(t.size == distinct.size)
    distinct.zipWithIndex.foreach { case (v, id) =>
      assert(t.rows(id) == firstRow(v) && t.counts(id) == strs.count(_ == v), v)
    }
    strs.indices.foreach(i => assert(strs(t.rows(ids(i))) == strs(i)))
  }

  private def src(p: String): String = {
    val path = java.nio.file.Paths.get(p)
    assert(java.nio.file.Files.isRegularFile(path), s"run from the repository root: $p")
    java.nio.file.Files.readString(path)
  }

  test("source guard: the encoder and the writer's staging stay box-free") {
    val encoder = src("src/main/scala/graft/fls/Encoder.scala")
    assert(!encoder.contains("mutable.HashMap"), "Encoder.scala uses a boxed HashMap")
    assert(!encoder.contains("updateWith"), "Encoder.scala counts through updateWith")
    val fsst = src("src/main/scala/graft/fls/Fsst.scala")
    assert(!fsst.contains("HashMap") && !fsst.contains("updateWith"),
      "Fsst.scala counts symbol gains in a boxed map")
    val writer = src("src/main/scala/graft/fls/connector/FlsDataWriter.scala")
    val boxing = """\(\s*\w+\s*,\s*Int\s*\)\s*=>\s*(Long|Double)\b""".r
    assert(boxing.findFirstIn(writer).isEmpty,
      s"FlsDataWriter.scala builds a boxing closure: ${boxing.findFirstIn(writer)}")
  }

  test("source guard: Codecs keeps one dispatcher and one dictionary parser") {
    val codecs = src("src/main/scala/graft/fls/Codecs.scala")
    Seq("""def decode\w*Reuse""", """decodeDict\w*Raw""").foreach { p =>
      assert(p.r.findFirstIn(codecs).isEmpty, s"Codecs.scala has a twin entry point: ${p.r.findFirstIn(codecs)}")
    }
    // each top-level member runs from its `def` to the next one
    val defs = """(?m)^  (?:private |@inline )*def (\w+)""".r.findAllMatchIn(codecs).toSeq
    val bodies = defs.zip(defs.drop(1).map(_.start) :+ codecs.length)
      .map { case (m, end) => (m.group(1), codecs.substring(m.start, end)) }
    val fsstCallers = bodies.collect {
      case (name, body) if name != "decodeFsst" && name != "decodeFsst12" &&
        (body.contains("decodeFsst(") || body.contains("decodeFsst12(")) => name
    }
    assert(fsstCallers.toSet == Set("dictParts", "decodeFrom"),
      s"FSST kernels reached from: ${fsstCallers.mkString(", ")}")
  }
}
