package graft.fls.connector

import org.apache.spark.sql.sources._
import org.apache.spark.unsafe.types.UTF8String

import graft.fls.Format._

/** Driver-side zone-map row-group skipping: decide from footer min/max
  * whether a row group can possibly satisfy the pushed filters — the
  * planner-time equivalent of the reference's RowGroupFilter
  * (/root/reference/src/reader/row_group_filter.cpp:96-199; SURVEY.md
  * §2.A6). Conservative: any conversion doubt keeps the row group. */
object FlsZoneMap {

  /** Long magnitudes at/past 2^52 round when stored as double. */
  @inline def inexact(v: Double): Boolean = math.abs(v) >= 4.503599627370496E15

  /** Filters we can use for skipping (reported as PushedFilters). */
  def usable(f: Filter): Boolean = f match {
    case EqualTo(_, _) | GreaterThan(_, _) | GreaterThanOrEqual(_, _) |
         LessThan(_, _) | LessThanOrEqual(_, _) | In(_, _) |
         IsNull(_) | IsNotNull(_) | StringStartsWith(_, _) => true
    case And(l, r) => usable(l) && usable(r)
    case Or(l, r) => usable(l) && usable(r)
    case _ => false
  }

  def mayMatch(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      filters: Array[Filter],
      rowStart: Long,
      /** virtual `<col>_size` name → base LIST column name: filters on
        * these compare against the segment's element-count bounds. */
      sizeBase: Map[String, String] = Map.empty): Boolean =
    filters.forall(f => mayMatchOne(rg, nameToIdx, columns, f, rowStart, sizeBase))

  private def mayMatchOne(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      f: Filter,
      rowStart: Long,
      sizeBase: Map[String, String]): Boolean = f match {
    case And(l, r) =>
      mayMatchOne(rg, nameToIdx, columns, l, rowStart, sizeBase) &&
        mayMatchOne(rg, nameToIdx, columns, r, rowStart, sizeBase)
    case Or(l, r) =>
      mayMatchOne(rg, nameToIdx, columns, l, rowStart, sizeBase) ||
        mayMatchOne(rg, nameToIdx, columns, r, rowStart, sizeBase)
    // The format stores no NULLs (/root/reference/src/reader/fls_reader.cpp:200-210):
    case IsNull(col) if nameToIdx.contains(col) || col == FlsVirtual.RowNumber ||
      sizeBase.contains(col) => false
    case IsNotNull(_) => true
    case EqualTo(col, v) =>
      strCmp(rg, nameToIdx, columns, col, v)((cMin, cMax) => cMin >= 0 && cMax <= 0)
        .getOrElse(cmp(rg, nameToIdx, columns, col, v, rowStart, sizeBase) { (mn, mx, x) => x >= mn && x <= mx })
    // Strict compares: double rounding is monotonic, so >=/<=/= can
    // never mis-prune; > / < could collapse at longs past 2^52 where
    // doubles lose exactness — only there, widen by 1 ulp instead of
    // risking a wrong skip. Below 2^52 the compare is exact and the
    // boundary row group prunes.
    case GreaterThan(col, v) =>
      // keep iff some value can exceed v: maxBytes ≥ true max, so
      // maxBytes ≤ v proves none does (cMax = cmp(v, maxBytes))
      strCmp(rg, nameToIdx, columns, col, v)((_, cMax) => cMax < 0)
        .getOrElse(cmp(rg, nameToIdx, columns, col, v, rowStart, sizeBase) { (_, mx, x) =>
          (if (FlsZoneMap.inexact(mx)) Math.nextUp(mx) else mx) > x })
    case GreaterThanOrEqual(col, v) =>
      strCmp(rg, nameToIdx, columns, col, v)((_, cMax) => cMax <= 0)
        .getOrElse(cmp(rg, nameToIdx, columns, col, v, rowStart, sizeBase) { (_, mx, x) => mx >= x })
    case LessThan(col, v) =>
      strCmp(rg, nameToIdx, columns, col, v)((cMin, _) => cMin > 0)
        .getOrElse(cmp(rg, nameToIdx, columns, col, v, rowStart, sizeBase) { (mn, _, x) =>
          (if (FlsZoneMap.inexact(mn)) Math.nextDown(mn) else mn) < x })
    case LessThanOrEqual(col, v) =>
      strCmp(rg, nameToIdx, columns, col, v)((cMin, _) => cMin >= 0)
        .getOrElse(cmp(rg, nameToIdx, columns, col, v, rowStart, sizeBase) { (mn, _, x) => mn <= x })
    case s: SortedIn => sortedInMayMatch(rg, nameToIdx, columns, s, rowStart, sizeBase)
    // an empty list is FALSE in SQL (as in FlsPartitioning.evalMask): a
    // runtime IN whose subquery matched nothing prunes every row group
    case In(col, vs) =>
      vs.exists { v =>
        strCmp(rg, nameToIdx, columns, col, v)((cMin, cMax) => cMin >= 0 && cMax <= 0)
          .getOrElse(cmp(rg, nameToIdx, columns, col, v, rowStart, sizeBase) { (mn, mx, x) => x >= mn && x <= mx })
      }
    case StringStartsWith(col, p) if p != null =>
      // values with prefix p live in [p, increment(p)): prune when the
      // whole zone sits below p or at/above increment(p)
      strCmp(rg, nameToIdx, columns, col, p) { (_, cMax) => cMax <= 0 } match {
        case Some(false) => false // maxBytes < p: nothing reaches the prefix
        case _ =>
          incrementBytes(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)) match {
            case Some(upper) =>
              strCmpBytes(rg, nameToIdx, columns, col, upper)((cMin, _) => cMin > 0)
                .getOrElse(true)
            case None => true
          }
      }
    case _ => true
  }

  /** Unsigned-lexicographic compare (the order Spark's UTF8String and
    * DuckDB both use for strings). */
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

  /** Smallest byte string greater than every string with prefix `p`
    * (increment the last non-0xFF byte); None when p is all 0xFF. */
  private def incrementBytes(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** String zone-map test: Some(keep?) when `col` is a STRING column
    * with byte-prefix stats and `value` is a string — `test` receives
    * (cmp(value, minBytes), cmp(value, maxBytes)); None = not applicable,
    * fall through to the numeric path. */
  private def strCmp(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      col: String,
      value: Any)(test: (Int, Int) => Boolean): Option[Boolean] =
    value match {
      case s: String =>
        strCmpBytes(rg, nameToIdx, columns, col,
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8))(test)
      case s: org.apache.spark.unsafe.types.UTF8String =>
        strCmpBytes(rg, nameToIdx, columns, col, s.getBytes)(test)
      case _ => None
    }

  private def strCmpBytes(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      col: String,
      v: Array[Byte])(test: (Int, Int) => Boolean): Option[Boolean] =
    nameToIdx.get(col) match {
      case Some(idx) if columns(idx).colType.tag == TypeTag.STRING =>
        val seg = rg.segments(idx)
        if (!seg.hasByteStats) None
        else Some(test(cmpBytes(v, seg.minBytes), cmpBytes(v, seg.maxBytes)))
      case _ => None
    }

  /** A runtime `In` with its values sorted once, so a row group is
    * tested by binary search instead of a scan of the list: a MERGE's
    * runtime IN holds one value per distinct matched key, and the group
    * scan tests it against every row group of every file. Every other
    * consumer still sees a plain `In`. Values are sorted per comparison
    * space ([[Zone.space]]) on first use; planning is single-threaded. */
  final class SortedIn(col: String, vs: Array[Any]) extends In(col, vs) {
    /** The values as UTF-8, unsigned-byte sorted; None when one is not a string. */
    @transient lazy val sortedBytes: Option[Array[Array[Byte]]] =
      if (!values.forall(v => v.isInstanceOf[String] || v.isInstanceOf[UTF8String])) None
      else Some(values.map {
        case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        case s: UTF8String => s.getBytes
      }.sortWith(cmpBytes(_, _) < 0))
    @transient private lazy val spaces =
      scala.collection.mutable.HashMap.empty[Option[ColumnType], Option[Array[Double]]]
    /** The values in `space`, sorted, NaN dropped (NaN is inside no
      * zone); None when one does not convert — the zone is then kept,
      * as the linear test keeps it. */
    def sortedIn(space: Option[ColumnType]): Option[Array[Double]] =
      spaces.getOrElseUpdate(space, {
        val xs = values.map(literal(_, space))
        if (xs.exists(_.isEmpty)) None
        else {
          val ds = xs.flatten.filterNot(_.isNaN)
          java.util.Arrays.sort(ds)
          Some(ds)
        }
      })
  }

  /** Prepare runtime filters for many zone tests: each `In` becomes a
    * [[SortedIn]]. */
  def sortIns(f: Filter): Filter = f match {
    case In(col, vs) => new SortedIn(col, vs)
    case And(l, r) => And(sortIns(l), sortIns(r))
    case Or(l, r) => Or(sortIns(l), sortIns(r))
    case other => other
  }

  /** Some value of the sorted `xs` lies in [lo, hi] (binary search). */
  private def anyWithin[A](xs: Array[A], geLo: A => Boolean, leHi: A => Boolean): Boolean = {
    var a = 0
    var b = xs.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (geLo(xs(m))) b = m else a = m + 1
    }
    a < xs.length && leHi(xs(a))
  }

  /** The linear `In` test below, by binary search: per value, a string
    * literal on a byte-stats STRING column is tested on bytes, any other
    * in the zone's double space. */
  private def sortedInMayMatch(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      s: SortedIn,
      rowStart: Long,
      sizeBase: Map[String, String]): Boolean = {
    val col = s.attribute
    if (s.values.isEmpty) false // FALSE in SQL, as in the linear test
    else nameToIdx.get(col) match {
      case Some(idx) if columns(idx).colType.tag == TypeTag.STRING &&
          rg.segments(idx).hasByteStats =>
        val seg = rg.segments(idx)
        // a non-string literal never converts on a STRING column: kept
        s.sortedBytes.forall(bs =>
          anyWithin[Array[Byte]](bs, cmpBytes(_, seg.minBytes) >= 0, cmpBytes(_, seg.maxBytes) <= 0))
      case _ =>
        zone(rg, nameToIdx, columns, col, rowStart, sizeBase).forall { z =>
          s.sortedIn(z.space).forall(xs =>
            anyWithin[Double](xs, _ >= z.mn, _ <= z.mx))
        }
    }
  }

  /** A row group's bounds for one column in double space, and the space
    * its literals convert into: the column type, or None for a virtual
    * column (row number, `<col>_size`) whose literals are plain numbers. */
  private final case class Zone(mn: Double, mx: Double, space: Option[ColumnType])

  /** Bounds of `col` in `rg`; None when the row group has none (kept). */
  private def zone(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      col: String,
      rowStart: Long,
      sizeBase: Map[String, String]): Option[Zone] = {
    // Virtual row-number filters skip by row range, the reference's
    // rowid special path (/root/reference/src/reader/row_group_filter.cpp:136-153).
    if (col == FlsVirtual.RowNumber && !nameToIdx.contains(col))
      return Some(Zone(rowStart.toDouble, (rowStart + rg.nTuples - 1).toDouble, None))
    // Virtual `<col>_size` filters compare against the LIST segment's
    // element-count bounds — footer-only pruning for size screening.
    sizeBase.get(col).flatMap(nameToIdx.get) match {
      case Some(baseIdx) =>
        val seg = rg.segments(baseIdx)
        return if (!seg.elemCountStats) None
          else Some(Zone(seg.minLong.toDouble, seg.maxLong.toDouble, None))
      case None => ()
    }
    nameToIdx.get(col).flatMap { idx =>
      val seg = rg.segments(idx)
      val ct = columns(idx).colType
      if (!seg.hasStats) None
      else physOf(ct.tag) match {
        case Phys.LONG if ct.tag == TypeTag.UINT64 =>
          // Stats are SIGNED min/max of the raw bits. Signed and
          // unsigned order agree within each half of the domain,
          // so same-sign stats ARE the unsigned bounds; a group
          // straddling 2^63 has unknowable unsigned bounds from
          // signed stats — keep it (conservative, rare when data
          // is clustered at 64Ki-row granularity).
          if ((seg.minLong < 0L) != (seg.maxLong < 0L)) None
          else Some(Zone(u64ToDouble(seg.minLong), u64ToDouble(seg.maxLong), Some(ct)))
        case Phys.LONG => Some(Zone(seg.minLong.toDouble, seg.maxLong.toDouble, Some(ct)))
        case Phys.DOUBLE => Some(Zone(seg.minDouble, seg.maxDouble, Some(ct)))
        case _ => None
      }
    }
  }

  /** A pushed literal in a zone's comparison space. */
  private def literal(value: Any, space: Option[ColumnType]): Option[Double] = space match {
    case Some(ct) => toComparable(value, ct)
    case None => value match {
      case n: Number => Some(n.longValue().toDouble)
      case _ => None
    }
  }

  /** Run `test(min, max, value)` in double space (exact for longs up to
    * 2^53 — beyond that the compare is approximate but still
    * conservative only if we widen; to stay safe we only prune when the
    * strict inequality holds with a 1-ulp margin for huge longs). */
  private def cmp(
      rg: RowGroupDesc,
      nameToIdx: Map[String, Int],
      columns: Array[ColumnDesc],
      col: String,
      value: Any,
      rowStart: Long,
      sizeBase: Map[String, String] = Map.empty)(
      test: (Double, Double, Double) => Boolean): Boolean =
    zone(rg, nameToIdx, columns, col, rowStart, sizeBase).forall(z =>
      literal(value, z.space).forall(x => test(z.mn, z.mx, x)))

  /** Convert a pushed literal to the column's physical comparison space. */
  private def toComparable(value: Any, ct: ColumnType): Option[Double] = {
    import TypeTag._
    try {
      (ct.tag, value) match {
        case (_, null) => None
        case (BOOLEAN, b: java.lang.Boolean) => Some(if (b) 1.0 else 0.0)
        case (DATE, d: java.sql.Date) =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toDouble)
        case (DATE, d: java.time.LocalDate) => Some(d.toEpochDay.toDouble)
        case (TIMESTAMP | TIMESTAMP_NTZ, t: java.sql.Timestamp) =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t).toDouble)
        case (TIMESTAMP | TIMESTAMP_NTZ, t: java.time.Instant) =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t).toDouble)
        case (TIMESTAMP | TIMESTAMP_NTZ, t: java.time.LocalDateTime) =>
          Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t).toDouble)
        case (DECIMAL, d: java.math.BigDecimal) =>
          Some(d.setScale(ct.scale).unscaledValue().doubleValue())
        case (DECIMAL, d: BigDecimal) =>
          Some(d.setScale(ct.scale).underlying().unscaledValue().doubleValue())
        case (FLOAT | DOUBLE, n: Number) => Some(n.doubleValue())
        // u8/u16/u32 widen to non-negative longs: same comparison space
        case (INT8 | INT16 | INT32 | INT64 | UINT8 | UINT16 | UINT32,
            n: Number) => Some(n.longValue().toDouble)
        // UINT64 (surfaced as DECIMAL(20,0)): compare in unsigned-value
        // double space [0, 2^64) — strict ops already widen by 1 ulp
        // past 2^52 (inexact guard), so rounding cannot mis-prune
        case (UINT64, d: java.math.BigDecimal) =>
          val bi = d.toBigIntegerExact // throws ArithmeticException → None
          if (bi.signum() < 0 || bi.bitLength() > 64) None
          else Some(bi.doubleValue())
        case (UINT64, d: BigDecimal) =>
          val bi = d.underlying().toBigIntegerExact
          if (bi.signum() < 0 || bi.bitLength() > 64) None
          else Some(bi.doubleValue())
        case (UINT64, n: java.lang.Integer) =>
          if (n >= 0) Some(n.doubleValue()) else None
        case (UINT64, n: java.lang.Long) =>
          if (n >= 0L) Some(n.doubleValue()) else None
        case _ => None
      }
    } catch { case _: ArithmeticException => None }
  }

  /** Raw 64-bit pattern → unsigned numeric value as double, CORRECTLY
    * rounded (shift + round-to-odd, the classic unsigned-long trick).
    * Single rounding matters: the literal side converts via
    * BigInteger.doubleValue (also correctly rounded), so the same u64
    * value maps to the SAME double on both sides — a double-rounded
    * `toDouble + 2^64` could land a few ulp away and mis-prune an
    * equality against a constant group. */
  @inline def u64ToDouble(raw: Long): Double =
    if (raw >= 0L) raw.toDouble
    else ((raw >>> 1) | (raw & 1L)).toDouble * 2.0
}
