package graft.fls

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.Format._

/** The corrupt-file error contract: a truncated, bit-flipped, or
  * otherwise malformed .fls file must surface a CLEAR `fls:`-labeled
  * error naming the file — never a bare codec exception from deep in
  * the decode stack, and never silent wrong data for structurally
  * detectable corruption (bounds, magics, lengths, dictionary code
  * ranges). Matrix per the round-7 verdict: footer truncation, bad
  * magic, footer-length overflow, segment-length overflow past EOF,
  * dict-code out-of-range, missing footer sidecar, plus a seeded
  * byte-flip fuzz over both the footer and the data region. */
class FlsCorruptionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-corrupt").toString
  private var seq = 0

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("fls-corruption-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Rows chosen so the file carries dict strings, FFOR longs, and ALP
    * doubles — the codecs the fuzz must not crash un-labeled. */
  private def srcDf: DataFrame =
    spark.range(0, 4096, 1, 1).selectExpr(
      "id",
      "concat('k', lpad(CAST(id % 40 AS STRING), 3, '0')) AS s", // dict-able
      "CAST(id AS DOUBLE) / 8 AS d")

  /** Write a pristine single-file table into a FRESH dir (footer cache
    * keys on (path, mtime, length) — fresh dirs keep tests honest). */
  private def writeTable(opts: Map[String, String] = Map.empty): (String, File) = {
    seq += 1
    val d = s"$tmp/t$seq"
    var w = srcDf.write.format("fls").mode("overwrite")
      .option("row_group_size", 1024)
    opts.foreach { case (k, v) => w = w.option(k, v) }
    w.save(d)
    val f = new File(d).listFiles().filter(_.getName.endsWith(".fls")).head
    (d, f)
  }

  /** True when the failure (anywhere in the cause chain — Spark wraps
    * executor errors in SparkException layers) is fls-labeled. */
  private def flsLabeled(t: Throwable): Boolean = {
    var e: Throwable = t
    var hops = 0
    while (e != null && hops < 12) {
      val m = e.getMessage
      if (m != null && m.contains("fls:")) return true
      e = e.getCause; hops += 1
    }
    false
  }

  private def expectFlsError(dir: String): Throwable = {
    val t = intercept[Throwable] {
      spark.read.format("fls").load(dir).collect()
    }
    assert(flsLabeled(t),
      s"failure was not fls-labeled: ${t.getClass.getName}: ${t.getMessage}")
    t
  }

  private def bytesOf(f: File): Array[Byte] = Files.readAllBytes(f.toPath)

  /** Corrupt in place, and drop Hadoop's local-fs `.crc` sidecar: the
    * contract under test is OUR detection of corruption the filesystem
    * cannot see (HDFS/object stores verify transport, not bit-rot that
    * arrives with a matching checksum or none at all). */
  private def rewrite(f: File, b: Array[Byte]): Unit = {
    Files.write(f.toPath, b)
    val crc = new File(f.getParentFile, "." + f.getName + ".crc")
    if (crc.exists()) assert(crc.delete())
  }

  test("file truncated below header+tail minimum") {
    val (d, f) = writeTable()
    rewrite(f, bytesOf(f).take(9))
    expectFlsError(d)
  }

  test("file truncated mid-stream (tail magic gone)") {
    val (d, f) = writeTable()
    val b = bytesOf(f)
    rewrite(f, b.take(b.length / 2))
    expectFlsError(d)
  }

  test("bad tail magic") {
    val (d, f) = writeTable()
    val b = bytesOf(f)
    b(b.length - 2) = 'X'.toByte
    rewrite(f, b)
    expectFlsError(d)
  }

  test("footer length out of bounds (positive overflow and negative)") {
    for (bogus <- Seq(Long.MaxValue / 2, -7L)) {
      val (d, f) = writeTable()
      val b = bytesOf(f)
      val w = new ByteWriter()
      w.writeLong(bogus)
      System.arraycopy(w.toArray, 0, b, b.length - 12, 8)
      rewrite(f, b)
      expectFlsError(d)
    }
  }

  test("segment offsets past EOF (data region cut out, footer kept)") {
    val (d, f) = writeTable()
    val b = bytesOf(f)
    val footerLen = new ByteReader(
      java.util.Arrays.copyOfRange(b, b.length - 12, b.length - 4)).readLong()
    assert(footerLen > 0 && footerLen < b.length)
    val keepHead = 64 // header + a sliver of data; all segments now dangle
    val spliced = b.take(keepHead) ++
      java.util.Arrays.copyOfRange(b, (b.length - 12 - footerLen).toInt, b.length)
    rewrite(f, spliced)
    expectFlsError(d)
  }

  test("missing footer sidecar (inline_footer=false)") {
    val (d, f) = writeTable(Map("inline_footer" -> "false"))
    val side = new File(f.getParentFile, f.getName + ".footer")
    assert(side.exists(), "setup: sidecar must exist")
    assert(side.delete())
    expectFlsError(d)
  }

  test("dictionary codes out of range are corruption, not an index crash") {
    // unit-level: both readings of a dictionary layout — the
    // dictionary-vector parts and the gathered decode — refuse a code
    // past the dictionary BEFORE the .toInt gather could truncate a huge
    // corrupt value onto a VALID slot (silent wrong data). The throw is
    // unlabeled here — file context attaches at the reader boundary
    // (covered below).
    def refused(bytes: Array[Byte], enc: Int, tag: Int): Unit = {
      val ct = ColumnType(tag)
      assert(intercept[IllegalStateException] {
        Codecs.dictParts(new ByteReader(bytes), enc, physOf(tag), new Codecs.ReuseBufs)
      }.getMessage.contains("out of range"), s"dictionary parts of enc $enc, tag $tag")
      assert(intercept[IllegalStateException] {
        Codecs.decode(bytes, enc, ct)
      }.getMessage.contains("out of range"), s"gathered decode of enc $enc, tag $tag")
    }
    val dict = Array(10L, 20L, 30L)
    val w = new ByteWriter()
    Codecs.encodeDictLong(new Array[Long](4), dict, Array(0L, 1L, 2L, 7L), w) // 7 >= dict size
    refused(w.toArray, Enc.DICT, TypeTag.INT64)
    // before the range check, .toInt mapped (2^32 + 1) onto dict(1) silently
    val wTrunc = new ByteWriter()
    Codecs.encodeDictLong(new Array[Long](3), dict, Array(0L, (1L << 32) + 1L, 2L), wTrunc)
    refused(wTrunc.toArray, Enc.DICT, TypeTag.INT64)

    val wd = new ByteWriter()
    Codecs.encodeDictDouble(3, Array(1.5, 2.5), Array(0L, 5L, 1L), wd)
    refused(wd.toArray, Enc.DICT, TypeTag.DOUBLE)

    val dictBytes = BytesData(Array(0, 1, 2), "ab".getBytes)
    val bd = new ByteWriter()
    Codecs.encodeDictBytes(3, dictBytes, Array(1L, 9L, 0L), bd)
    refused(bd.toArray, Enc.DICT, TypeTag.STRING)

    val wordy = BytesData(Array(0, 11, 22), "alpha-alpha".getBytes ++ "beta-beta-b".getBytes)
    val fd = new ByteWriter()
    Codecs.encodeFsstDict(3, wordy, Array(0L, 1L, 2L), Fsst.train(wordy.bytes), fd)
    refused(fd.toArray, Enc.FSST_DICT, TypeTag.STRING)
  }

  test("RLE runs that stop short of the row count are corruption") {
    // a recycled output array still holds the previous row group past
    // the last run, so a short run list must be refused, not served
    val bufs = new Codecs.ReuseBufs
    val ct = ColumnType(TypeTag.INT64)
    val ok = new ByteWriter()
    Codecs.encodeRleLong(5, Array(1L, 2L), Array(3L, 2L), ok)
    assert(Codecs.contentEquals(Codecs.decode(ok.toArray, Enc.RLE, ct, bufs),
      LongData(Array(1L, 1L, 1L, 2L, 2L))))
    val short = new ByteWriter()
    Codecs.encodeRleLong(5, Array(7L, 8L), Array(2L, 2L), short)
    assert(intercept[IllegalStateException] {
      Codecs.decode(short.toArray, Enc.RLE, ct, bufs)
    }.getMessage.contains("runs cover 4 of 5 rows"))
  }

  /** Drive a hand-built single-segment file through the SCAN so the
    * boundary contract (fls label + file + row group named) is what's
    * asserted, not codec internals. */
  private def scanSyntheticSegment(segBytes: Array[Byte], enc: Int,
      claimedRows: Int): Throwable = {
    import graft.fls.connector.{FlsInputPartition, FlsPartitionReader}
    val tmp2 = Files.createTempDirectory("fls-corrupt-seg")
    val file = new File(tmp2.toFile, "c.fls")
    Files.write(file.toPath, segBytes)
    val cols = Array(ColumnDesc("x", ColumnType(TypeTag.INT64)))
    val rg = RowGroupDesc(claimedRows, Array(
      SegmentDesc(enc, 0L, segBytes.length.toLong, hasStats = false, 0L, 0L, 0.0, 0.0)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val part = FlsInputPartition.single(file.getAbsolutePath, rg, cols, 0L, 0)
    val reader = new FlsPartitionReader(part,
      schema, new org.apache.hadoop.conf.Configuration())
    val t = intercept[Throwable] {
      try { while (reader.next()) reader.get() } finally reader.close()
    }
    t
  }

  test("reader boundary labels dict corruption with file and row group") {
    val w = new ByteWriter()
    Codecs.encodeDictLong(new Array[Long](4), Array(10L, 20L, 30L),
      Array(0L, 1L, 2L, 9L), w)
    val t = scanSyntheticSegment(w.toArray, Enc.DICT, claimedRows = 4)
    assert(flsLabeled(t), s"${t.getClass.getName}: ${t.getMessage}")
    assert(t.getMessage.contains("row group 0") && t.getMessage.contains("c.fls"),
      t.getMessage)
  }

  test("segment row count disagreeing with the footer is corruption, not a crash") {
    // internally consistent 768-value segment, footer claims 1024: the
    // cross-check must label it — without it the batch fill dies later
    // with a bare ArrayIndexOutOfBounds (or serves truncated data)
    val w = new ByteWriter()
    Codecs.encodeFFOR(Array.tabulate(768)(_.toLong), w)
    val t = scanSyntheticSegment(w.toArray, Enc.FFOR, claimedRows = 1024)
    assert(flsLabeled(t), s"${t.getClass.getName}: ${t.getMessage}")
    assert(t.getMessage.contains("768") && t.getMessage.contains("1024"),
      t.getMessage)
  }

  /** Lay `segs` (encoding, payload) out as one `n`-row group of INT64
    * columns in a complete file (header, segments, footer, tail), then
    * read column 0 through BOTH readers — the file reader's
    * `decodeSegment` and the scan — and return their two failures. */
  private def readBothWays(n: Int, segs: Seq[(Int, Array[Byte])]): Seq[Throwable] = {
    import graft.fls.connector.{FlsInputPartition, FlsPartitionReader}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val w = new ByteWriter()
    w.writeBytes(Magic); w.writeByte(Version.toInt)
    val rg = RowGroupDesc(n, segs.map { case (enc, bytes) =>
      val off = w.size.toLong
      w.writeBytes(bytes)
      SegmentDesc(enc, off, bytes.length.toLong, hasStats = false, 0L, 0L, 0.0, 0.0)
    }.toArray)
    val cols = segs.indices.map(i => ColumnDesc(s"c$i", ColumnType(TypeTag.INT64))).toArray
    val fw = new ByteWriter()
    Format.writeFooter(fw, TableDesc(cols, Array(rg)))
    w.writeBytes(fw.toArray)
    w.writeLong(fw.size.toLong)
    w.writeBytes(Magic)
    val file = new File(Files.createTempDirectory("fls-corrupt-ref").toFile, "r.fls")
    Files.write(file.toPath, w.toArray)
    val conf = new org.apache.hadoop.conf.Configuration()
    val fileReader = new FlsFileReader(new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
    val viaFile = intercept[Throwable] {
      try fileReader.decodeSegment(0, 0) finally fileReader.close()
    }
    val scan = new FlsPartitionReader(
      FlsInputPartition.single(file.getAbsolutePath, rg, cols, 0L, 0),
      StructType(Seq(StructField("c0", LongType, nullable = false))), conf)
    val viaScan = intercept[Throwable] {
      try { while (scan.next()) scan.get() } finally scan.close()
    }
    Seq(viaFile, viaScan)
  }

  test("an EQUAL segment naming itself is corruption, not a stack overflow") {
    val self = new ByteWriter()
    Codecs.encodeEqual(0, self)
    readBothWays(4, Seq((Enc.EQUAL, self.toArray))).foreach { t =>
      assert(flsLabeled(t) && t.getMessage.contains("cycle"),
        s"${t.getClass.getName}: ${t.getMessage}")
    }
  }

  test("a two-column EQUAL/EXP_DICT reference cycle is corruption, not a stack overflow") {
    val toOne = new ByteWriter()
    Codecs.encodeEqual(1, toOne)
    val toZero = new ByteWriter()
    Codecs.encodeExpDict(0, Array(0L, 1L, 0L, 1L), toZero)
    readBothWays(4, Seq((Enc.EQUAL, toOne.toArray), (Enc.EXP_DICT, toZero.toArray)))
      .foreach { t =>
        assert(flsLabeled(t) && t.getMessage.contains("cycle"),
          s"${t.getClass.getName}: ${t.getMessage}")
      }
  }

  test("byte-flip fuzz: every failure is fls-labeled, reads never crash bare") {
    val (d, f) = writeTable()
    val pristine = bytesOf(f)
    val expected = spark.read.format("fls").load(d).collect().length
    val rnd = new scala.util.Random(0xF15)
    val dataEnd = pristine.length - 12
    var flips = 0
    var failures = 0
    while (flips < 24) {
      // positions spread across data AND footer; XOR a random bit
      val pos = 5 + rnd.nextInt(dataEnd - 5)
      val b = pristine.clone()
      b(pos) = (b(pos) ^ (1 << rnd.nextInt(8))).toByte
      rewrite(f, b)
      // bump mtime so the footer cache cannot serve the pristine parse
      f.setLastModified(f.lastModified() + 1000 * (flips + 1))
      try {
        val rows = spark.read.format("fls").load(d).collect()
        // a flip may land in slack bytes or produce valid alternate
        // values — fine; the CONTRACT is only about how failures look
        assert(rows.length <= expected * 2)
      } catch {
        case t: Throwable =>
          failures += 1
          assert(flsLabeled(t),
            s"flip at $pos escaped un-labeled: ${t.getClass.getName}: ${t.getMessage}")
      }
      flips += 1
    }
    rewrite(f, pristine)
    assert(failures > 0, "fuzz never failed — corruption matrix too weak to test the contract")
  }
}
