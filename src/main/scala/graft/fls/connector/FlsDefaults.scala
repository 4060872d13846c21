package graft.fls.connector

import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
import org.apache.spark.sql.execution.vectorized.WritableColumnVector
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Column-DEFAULT plumbing for the fls scan: an `ALTER TABLE ... ADD
  * COLUMN d T DEFAULT x` stores the analyzed constant in the field's
  * metadata ([[FlsCatalog]]); files written BEFORE the ALTER lack the
  * column, and the reader serves this frozen "exists default" as a
  * constant vector instead of NULLs — so a backfilled default on a
  * 100 TB table is one O(1) metadata commit, never a rewrite. New
  * INSERTs never reach this path: Spark materializes the CURRENT
  * default at write analysis (the catalog declares
  * `SUPPORT_COLUMN_DEFAULT_VALUE`), so post-ALTER files physically
  * carry the column. Uses Spark's own metadata keys + resolution
  * (`ResolveDefaultColumns`), the same contract file sources follow. */
object FlsDefaults {

  val CurrentKey: String = ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  val ExistsKey: String = ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Types [[fill]] can serve constantly — validated at ALTER time so a
    * DEFAULT that cannot be decoded is rejected at DDL, not at scan. */
  def fillable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** The frozen exists-default as a Catalyst-internal constant, or None
    * when the field has none (plain nullable ADD COLUMN → NULLs). */
  def existenceDefault(field: StructField): Option[Any] =
    if (!field.metadata.contains(ExistsKey)) None
    else Option(ResolveDefaultColumns.getExistenceDefaultValue(field))

  /** Fill `len` slots of `vec` with the internal-format constant (null
    * = NULLs): the one constant-vector fill of the scan, for DEFAULTs,
    * partition values and the virtual tag columns alike. */
  def fill(vec: WritableColumnVector, dt: DataType, v: Any, len: Int): Unit =
    if (v == null) vec.putNulls(0, len)
    else dt match {
      case BooleanType => vec.putBooleans(0, len, v.asInstanceOf[Boolean])
      case ByteType => vec.putBytes(0, len, v.asInstanceOf[Byte])
      case ShortType => vec.putShorts(0, len, v.asInstanceOf[Short])
      case IntegerType | DateType => vec.putInts(0, len, v.asInstanceOf[Int])
      case LongType | TimestampType | TimestampNTZType => vec.putLongs(0, len, v.asInstanceOf[Long])
      case FloatType => vec.putFloats(0, len, v.asInstanceOf[Float])
      case DoubleType => vec.putDoubles(0, len, v.asInstanceOf[Double])
      case StringType | BinaryType =>
        val b = v match {
          case s: UTF8String => s.getBytes
          case bytes => bytes.asInstanceOf[Array[Byte]]
        }
        var i = 0
        while (i < len) { vec.putByteArray(i, b, 0, b.length); i += 1 }
      case d: DecimalType =>
        val x = v.asInstanceOf[Decimal]
        var i = 0
        while (i < len) { vec.putDecimal(i, x, d.precision); i += 1 }
      case other => throw new IllegalStateException(
        s"fls: unservable constant type $other (DEFAULTs are guarded at ALTER)")
    }
}
