package graft.fls

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.Format._
import graft.fls.connector.{FlsInputPartition, FlsPartitionReader}

/** MCC external dictionary (EXP_DICT) read fallback: our writer never
  * emits it, but a file carrying it (reference EXP_DICT_* with a
  * dependency column) must materialize correctly — the reader widens to
  * the dependency column's segment and gathers through the codes. The
  * file here is synthetic: segments and footer laid out by hand, the
  * scan driven through its public InputPartition surface and the
  * file-level reader through `decodeSegment`. */
class FlsExpDictSpec extends AnyFunSuite {

  /** Lay `segs` (encoding, payload) out as one row group of `n` rows in
    * a complete file: header, segments, footer, tail. */
  private def writeFile(dir: String, cols: Array[ColumnDesc], n: Int,
      segs: Seq[(Int, Array[Byte])]): (java.io.File, RowGroupDesc) = {
    val w = new ByteWriter()
    w.writeBytes(Magic); w.writeByte(Version.toInt)
    val descs = segs.map { case (enc, bytes) =>
      val off = w.size.toLong
      w.writeBytes(bytes)
      SegmentDesc(enc, off, bytes.length.toLong, hasStats = false, 0L, 0L, 0.0, 0.0)
    }
    val rg = RowGroupDesc(n, descs.toArray)
    val fw = new ByteWriter()
    Format.writeFooter(fw, TableDesc(cols, Array(rg)))
    w.writeBytes(fw.toArray)
    w.writeLong(fw.size.toLong)
    w.writeBytes(Magic)
    val file = new java.io.File(dir, "synthetic.fls")
    Files.write(file.toPath, w.toArray)
    (file, rg)
  }

  /** The file-level reader resolves the EXP_DICT segment like the scan. */
  private def decodeSegment(file: java.io.File, col: Int): ColData = {
    val r = new FlsFileReader(new org.apache.hadoop.fs.Path(file.getAbsolutePath), new Configuration())
    try r.decodeSegment(0, col) finally r.close()
  }

  private def strsOf(d: ColData): Seq[String] = d match {
    case b: BytesData =>
      (0 until b.n).map(i => new String(b.bytes, b.offsets(i), b.offsets(i + 1) - b.offsets(i), "UTF-8"))
    case other => fail(s"expected bytes, got ${other.getClass.getSimpleName}")
  }

  private def readAll(reader: FlsPartitionReader,
      get: org.apache.spark.sql.vectorized.ColumnarBatch => Seq[Seq[Any]]): Seq[Seq[Any]] = {
    val out = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    while (reader.next()) out ++= get(reader.get())
    reader.close()
    out.toSeq
  }

  test("EXP_DICT string column gathers through the dependency column") {
    val tmp = Files.createTempDirectory("fls-expdict").toString
    val n = 10
    // dependency column: 3 distinct country names, plain-encoded
    val dictVals = Seq("sweden", "norway", "denmark")
    val dictBytes = dictVals.flatMap(_.getBytes("UTF-8")).toArray
    val dictOffsets = dictVals.scanLeft(0)(_ + _.length).toArray
    val w0 = new ByteWriter()
    Codecs.encodePlainBytes(BytesData(dictOffsets, dictBytes), w0)
    val seg0 = w0.toArray
    // EXP_DICT column: codes into the dependency column
    val codes = Array.tabulate(n)(i => (i % 3).toLong)
    val w1 = new ByteWriter()
    Codecs.encodeExpDict(0, codes, w1)
    val seg1 = w1.toArray
    // a third, ordinary column to prove normal decode coexists
    val ids = Array.tabulate(n)(_.toLong)
    val w2 = new ByteWriter()
    Codecs.encodeFFOR(ids, w2)
    val seg2 = w2.toArray

    val cols = Array(
      ColumnDesc("country_src", ColumnType(TypeTag.STRING)),
      ColumnDesc("country", ColumnType(TypeTag.STRING)),
      ColumnDesc("id", ColumnType(TypeTag.INT64)))
    val (file, rg) = writeFile(tmp, cols, n,
      Seq((Enc.PLAIN, seg0), (Enc.EXP_DICT, seg1), (Enc.FFOR, seg2)))
    val part = FlsInputPartition.single(file.getAbsolutePath, rg, cols, 0L, 0)
    val schema = StructType(Seq(
      StructField("country", StringType, nullable = false),
      StructField("id", LongType, nullable = false)))
    val reader = new FlsPartitionReader(part, schema, new Configuration())
    val rows = readAll(reader, b => (0 until b.numRows()).map(i =>
      Seq(b.column(0).getUTF8String(i).toString, b.column(1).getLong(i))))
    val exp = (0 until n).map(i => Seq(dictVals(i % 3), i.toLong))
    assert(rows == exp, s"EXP_DICT gather wrong: $rows")
    assert(strsOf(decodeSegment(file, 1)) == (0 until n).map(i => dictVals(i % 3)))
  }

  test("EXP_DICT works when the dependency column is ALSO projected") {
    val tmp = Files.createTempDirectory("fls-expdict2").toString
    val n = 6
    val vals = Seq("aa", "bbb", "c")
    val bytes = vals.flatMap(_.getBytes("UTF-8")).toArray
    val offsets = vals.scanLeft(0)(_ + _.length).toArray
    val w0 = new ByteWriter()
    Codecs.encodePlainBytes(BytesData(offsets, bytes), w0)
    val seg0 = w0.toArray
    val codes = Array.tabulate(n)(i => ((i * 2) % 3).toLong)
    val w1 = new ByteWriter()
    Codecs.encodeExpDict(0, codes, w1)
    val seg1 = w1.toArray
    val cols = Array(
      ColumnDesc("src", ColumnType(TypeTag.STRING)),
      ColumnDesc("derived", ColumnType(TypeTag.STRING)))
    val (file, rg) = writeFile(tmp, cols, n, Seq((Enc.PLAIN, seg0), (Enc.EXP_DICT, seg1)))
    val part = FlsInputPartition.single(file.getAbsolutePath, rg, cols, 0L, 0)
    // NOTE: src has 3 rows, derived has 6 — projecting both from one
    // row group is not meaningful data-wise, but the reader must still
    // serve the EXP_DICT gather; project only `derived` here.
    val schema = StructType(Seq(StructField("derived", StringType, nullable = false)))
    val reader = new FlsPartitionReader(part, schema, new Configuration())
    val rows = readAll(reader, b => (0 until b.numRows()).map(i =>
      Seq(b.column(0).getUTF8String(i).toString)))
    assert(rows == (0 until n).map(i => Seq(vals((i * 2) % 3))))
    assert(strsOf(decodeSegment(file, 1)) == (0 until n).map(i => vals((i * 2) % 3)))
  }

  test("EXP_DICT over a numeric dependency column") {
    val tmp = Files.createTempDirectory("fls-expdict3").toString
    val n = 8
    val srcVals = Array(100L, 200L, 300L, 400L)
    val w0 = new ByteWriter()
    Codecs.encodeFFOR(srcVals, w0)
    val seg0 = w0.toArray
    val codes = Array.tabulate(n)(i => (i % 4).toLong)
    val w1 = new ByteWriter()
    Codecs.encodeExpDict(0, codes, w1)
    val seg1 = w1.toArray
    val cols = Array(
      ColumnDesc("src", ColumnType(TypeTag.INT64)),
      ColumnDesc("derived", ColumnType(TypeTag.INT64)))
    val (file, rg) = writeFile(tmp, cols, n, Seq((Enc.FFOR, seg0), (Enc.EXP_DICT, seg1)))
    val part = FlsInputPartition.single(file.getAbsolutePath, rg, cols, 0L, 0)
    val schema = StructType(Seq(StructField("derived", LongType, nullable = false)))
    val reader = new FlsPartitionReader(part, schema, new Configuration())
    val rows = readAll(reader, b => (0 until b.numRows()).map(i =>
      Seq(b.column(0).getLong(i))))
    assert(rows == (0 until n).map(i => Seq(srcVals(i % 4))))
    decodeSegment(file, 1) match {
      case LongData(v) => assert(v.toSeq == (0 until n).map(i => srcVals(i % 4)))
      case other => fail(s"expected longs, got ${other.getClass.getSimpleName}")
    }
  }
}
