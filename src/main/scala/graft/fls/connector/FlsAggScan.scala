package graft.fls.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.fls._
import graft.fls.Format._

/** Metadata-only aggregate scan: COUNT(*)/MIN/MAX computed on the
  * driver from footer row counts and zone-map stats (≙ serving the
  * reference's statistics to the engine, SURVEY §2.A7 — taken one step
  * further: the whole aggregate is answered without touching data).
  *
  * Two shapes, both complete pushdown (Catalyst performs no further
  * aggregation):
  *   - ungrouped: exactly one row (a COUNT over an empty table is 0);
  *   - GROUP BY partition columns: one row per live partition-value
  *     combination, the group values decoded from the directory paths —
  *     `SELECT dt, count(*) FROM corpus GROUP BY dt` over a 100 TB
  *     table is a footer walk, zero data bytes. Groups whose files hold
  *     zero rows are dropped (SQL emits no group for no rows).
  *
  * Group columns lead the output schema (the DSv2 pushed-aggregate
  * column order contract, mirroring the built-in JDBC pushdown). */
class FlsAggScan(
    tableSchema: StructType,
    specs: Seq[FlsAggSpec],
    options: CaseInsensitiveStringMap,
    validatedFooters: Seq[FlsFooters.Entry],
    groupBy: Seq[StructField] = Nil,
    /** file path → raw path-segment values of the groupBy columns (in
      * groupBy order; null = __HIVE_DEFAULT_PARTITION__). */
    groupRawByFile: Map[String, Seq[String]] = Map.empty)
  extends Scan with Batch {

  /** The footer set the ScanBuilder VALIDATED at pushdown time (uniform
    * ColumnType + stats present) — not re-listed here, so files changing
    * under a concurrent write between pushdown and execution cannot feed
    * incomparable unscaled stats into the aggregate. */
  private val tables: Seq[TableDesc] = validatedFooters.map(_.table)

  override def readSchema(): StructType =
    StructType(groupBy.toArray ++ specs.map {
      case FlsAggSpec(FlsAggSpec.Count, _) => StructField("count(*)", LongType, nullable = false)
      case FlsAggSpec(FlsAggSpec.MinCol, c) =>
        StructField(s"min($c)", tableSchema(c).dataType, nullable = false)
      case FlsAggSpec(FlsAggSpec.MaxCol, c) =>
        StructField(s"max($c)", tableSchema(c).dataType, nullable = false)
      case FlsAggSpec(k, c) =>
        throw new IllegalStateException(s"fls: unknown aggregate kind $k on $c")
    })

  override def toBatch: Batch = this

  override def description(): String =
    s"fls metadata-aggregate scan: ${specs.map(s => (s.kind, s.col)).mkString(",")}" +
      (if (groupBy.isEmpty) "" else s" group by ${groupBy.map(_.name).mkString(",")}")

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Aggregate values over one group's footer tables. */
  private def aggOver(ts: Seq[TableDesc]): (Array[Long], Array[Array[Byte]]) = {
    val longs = new Array[Long](specs.length)
    val bytes = new Array[Array[Byte]](specs.length)
    specs.zipWithIndex.foreach {
      case (FlsAggSpec(FlsAggSpec.Count, _), i) =>
        longs(i) = ts.map(_.numRows).sum
      case (FlsAggSpec(kind, c), i) =>
        val segs = ts.flatMap { t =>
          val idx = t.columns.indexWhere(_.name == c)
          require(idx >= 0, s"fls agg: column $c missing")
          t.rowGroups.map(_.segments(idx))
        }
        val isStr = tableSchema(c).dataType == StringType
        if (isStr) {
          require(segs.nonEmpty && segs.forall(s => s.hasByteStats && s.byteStatsExact),
            s"fls agg: exact string stats unavailable for $c")
          bytes(i) =
            if (kind == FlsAggSpec.MinCol) segs.map(_.minBytes).reduce((a, b) => if (cmpBytes(a, b) <= 0) a else b)
            else segs.map(_.maxBytes).reduce((a, b) => if (cmpBytes(a, b) >= 0) a else b)
        } else {
          require(segs.nonEmpty && segs.forall(_.hasStats),
            s"fls agg: stats unavailable for $c")
          longs(i) =
            if (kind == FlsAggSpec.MinCol) segs.map(_.minLong).min else segs.map(_.maxLong).max
        }
    }
    (longs, bytes)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // compute on the driver; ship the finished values (longs for the
    // numeric physical types, bytes for exact string stats)
    val rows: Seq[FlsAggRow] =
      if (groupBy.isEmpty) {
        val (longs, bytes) = aggOver(tables)
        Seq(FlsAggRow(Array.empty, longs, bytes))
      } else {
        validatedFooters.groupBy(e => groupRawByFile(e.file.toString)).toSeq
          .filter { case (_, es) => es.exists(_.table.rowGroups.nonEmpty) }
          .sortBy { case (raw, _) =>
            raw.map(r => if (r == null) "" else r).mkString("\u0000")
          }
          .map { case (raw, es) =>
            val (longs, bytes) = aggOver(es.map(_.table))
            FlsAggRow(raw.toArray, longs, bytes)
          }
      }
    Array(FlsAggPartition(rows.toArray, groupBy.length))
  }

  override def createReaderFactory(): PartitionReaderFactory = new PartitionReaderFactory {
    private val schema = readSchema()
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val part = partition.asInstanceOf[FlsAggPartition]
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < part.rows.length }
        override def get(): InternalRow = {
          val row = part.rows(i)
          val nG = part.numGroupCols
          val out = new Array[Any](nG + row.values.length)
          var g = 0
          while (g < nG) {
            out(g) = FlsPartitioning.internal(row.raw(g), schema.fields(g).dataType)
            g += 1
          }
          var j = 0
          while (j < row.values.length) {
            out(nG + j) = schema.fields(nG + j).dataType match {
              case LongType | TimestampType | TimestampNTZType => row.values(j)
              case IntegerType | DateType => row.values(j).toInt
              case ShortType => row.values(j).toShort
              case ByteType => row.values(j).toByte
              case BooleanType => row.values(j) != 0L
              case StringType =>
                org.apache.spark.unsafe.types.UTF8String.fromBytes(row.byteValues(j))
              case d: DecimalType => Decimal.createUnsafe(row.values(j), d.precision, d.scale)
              case other => throw new IllegalStateException(s"fls agg: bad type $other")
            }
            j += 1
          }
          new GenericInternalRow(out)
        }
        override def close(): Unit = ()
      }
    }
    override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] =
      throw new UnsupportedOperationException("agg scan is row-based")
    override def supportColumnarReads(p: InputPartition): Boolean = false
  }
}

case class FlsAggRow(raw: Array[String], values: Array[Long],
    byteValues: Array[Array[Byte]])

case class FlsAggPartition(rows: Array[FlsAggRow], numGroupCols: Int)
  extends InputPartition
