package graft.fls.connector

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Hive-style partitioned directory support for the fls connector:
  * `base/dt=2026-08-12/country=NL/part-*.fls`.
  *
  * The reference sidesteps partitioned layouts entirely — it rides
  * DuckDB's multi-file glob expansion
  * (/root/reference/src/reader/fls_multi_file_info.cpp:57-82) and never
  * surfaces path segments as columns. At 100 TB every real table is
  * partitioned, so this connector treats `k=v` path segments exactly
  * like Spark's built-in parquet source does: discovered as typed
  * partition columns, served as constant vectors, and — the point —
  * pruned at planning time so a filtered scan never opens (or even
  * footer-reads) non-matching partition directories' files.
  *
  * Discovery is pure path parsing: the footer listing already walked the
  * tree, so no extra filesystem RPC happens here.
  */
object FlsPartitioning {

  /** Hive's escapePathName character set (subset sufficient for
    * round-tripping what our writer emits + standard hive layouts). */
  private val NeedsEscape: Set[Char] =
    Set('"', '#', '%', '\'', '*', '/', ':', '=', '?', '\\',
      '{', '}', '[', ']', '^', (127).toChar) ++ (0 until 32).map(_.toChar)

  val DefaultPartitionName = "__HIVE_DEFAULT_PARTITION__"

  def escape(s: String): String = {
    val sb = new StringBuilder
    s.foreach { c =>
      if (NeedsEscape.contains(c)) sb.append(f"%%${c.toInt}%02X")
      else sb.append(c)
    }
    sb.toString
  }

  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c == '%' && i + 2 < s.length) {
        val hex = s.substring(i + 1, i + 3)
        try { sb.append(Integer.parseInt(hex, 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Ordered `(key, rawValue)` pairs parsed from the `k=v` directory
    * segments of `file` strictly below one of `bases` (walk up parents
    * until a base matches; non-`k=v` segments between are rejected as
    * not-a-partition-layout → Nil). `rawValue` is unescaped; the hive
    * default-partition token maps to null. */
  def valuesFor(bases: Seq[Path], file: Path): Seq[(String, String)] = {
    var segs = List.empty[(String, String)]
    var p = file.getParent
    var hops = 0
    while (p != null && hops < 64) {
      if (bases.contains(p)) return segs
      val name = p.getName
      val eq = name.indexOf('=')
      if (eq <= 0) return Nil // non-k=v intermediate dir: not a hive layout
      val raw = unescape(name.substring(eq + 1))
      segs = (unescape(name.substring(0, eq)),
        if (raw == DefaultPartitionName) null else raw) :: segs
      p = p.getParent
      hops += 1
    }
    Nil
  }

  /** Raw-value sentinel: this file's path does not carry the key at
    * all (heterogeneous layouts after partition-spec evolution) —
    * distinct from `null` (the hive default-partition VALUE). Pruning
    * treats it as "can't tell"; planning omits it from the file's
    * partition-value map so the column binds to the file's DATA (or
    * NULL via union_by_name) instead. The NUL prefix cannot appear in
    * a real directory name on any supported filesystem. */
  val AbsentRaw: String = "\u0000__fls_spec_absent__"

  /** Discovered partition layout: key order + per-file raw values.
    * Empty `keys` = not partitioned. `uniform=false` marks a
    * spec-EVOLVED table (files under different `partition_by`
    * generations): `keys` is the union, and a file's array holds
    * [[AbsentRaw]] for keys its own path lacks. Consumers that need
    * one table-wide layout (storage-partitioned joins, metadata
    * aggregates grouped by partition dirs) must gate on `uniform`. */
  final case class Discovery(
      keys: Seq[String],
      inferredTypes: Map[String, DataType],
      nullableKeys: Set[String],
      byFile: Map[String, Array[String]],
      uniform: Boolean = true) {
    /** One file's key→raw map for the READER: absent keys omitted, so
      * the column falls through to the file's data columns. */
    def pvalsOf(file: String): Map[String, String] =
      byFile.get(file) match {
        case Some(raw) =>
          keys.zip(raw).filterNot(_._2 == AbsentRaw).toMap
        case None => Map.empty
      }
    /** THE partition-column type resolution (table schema wins — it
      * carries the user/inferred type — falling back to path
      * inference); one definition so builder-side consumption and
      * scan-side pruning can never disagree. */
    def partTypes(tableSchema: StructType): Map[String, DataType] =
      keys.map { k =>
        k -> tableSchema.fields.find(_.name == k).map(_.dataType)
          .getOrElse(inferredTypes(k))
      }.toMap
  }

  /** Parse every file's partition values. Files that all agree on one
    * key sequence give the classic uniform layout. Files under
    * DIFFERENT non-empty key sequences are a spec-EVOLVED table
    * (partition_by changed between write generations —
    * `CALL system.evolve_partition_spec`): keys union, per-file absent
    * markers, `uniform=false`. Any unpartitioned file (or a mix of flat
    * and partitioned) still turns discovery off rather than failing the
    * read — matching Spark's parquet source leniency for flat dirs
    * while staying strict enough that pruning is only enabled when it
    * is sound for every file. */
  def discover(basePaths: Seq[String], files: Seq[Path], conf: Configuration): Discovery = {
    if (files.isEmpty) return Discovery(Nil, Map.empty, Set.empty, Map.empty)
    val bases = basePaths.map { p =>
      val hp = new Path(p)
      hp.getFileSystem(conf).makeQualified(hp)
    }
    val parsed = files.map(f => f -> valuesFor(bases, f))
    val keySeqs = parsed.map(_._2.map(_._1)).distinct
    if (keySeqs.length == 1 && keySeqs.head.nonEmpty) {
      val keys = keySeqs.head
      val byFile = parsed.map { case (f, kvs) => f.toString -> kvs.map(_._2).toArray }.toMap
      val types = keys.zipWithIndex.map { case (k, i) =>
        k -> inferType(byFile.valuesIterator.map(_(i)).filter(_ != null).toSeq)
      }.toMap
      val nullable = keys.zipWithIndex.collect {
        case (k, i) if byFile.valuesIterator.exists(_(i) == null) => k
      }.toSet
      Discovery(keys, types, nullable, byFile)
    } else if (keySeqs.length > 1 && keySeqs.forall(_.nonEmpty)) {
      // heterogeneous layouts: union the keys (first-appearance order);
      // a file's array carries AbsentRaw for keys its path lacks —
      // those columns bind to the file's DATA at decode, pruning on
      // them keeps the file
      val keys = keySeqs.flatten.distinct
      val byFile = parsed.map { case (f, kvs) =>
        val m = kvs.toMap
        f.toString -> keys.map(k => m.getOrElse(k, AbsentRaw)).toArray
      }.toMap
      val types = keys.zipWithIndex.map { case (k, i) =>
        k -> inferType(byFile.valuesIterator.map(_(i))
          .filter(v => v != null && v != AbsentRaw).toSeq)
      }.toMap
      // a key some file lacks must be nullable in inferred schemas: the
      // file may serve it from data or as NULL
      val nullable = keys.zipWithIndex.collect {
        case (k, i) if byFile.valuesIterator.exists(v =>
          v(i) == null || v(i) == AbsentRaw) => k
      }.toSet
      Discovery(keys, types, nullable, byFile, uniform = false)
    } else Discovery(Nil, Map.empty, Set.empty, Map.empty)
  }

  private val DateRe = """\d{4}-\d{2}-\d{2}""".r
  private val IntRe = """-?\d{1,19}""".r

  /** Conservative type inference (int → long → date → boolean →
    * string); doubles deliberately stay strings — "1.10" vs "1.1"
    * would not round-trip. */
  def inferType(values: Seq[String]): DataType = {
    if (values.isEmpty) return StringType
    if (values.forall(v => IntRe.pattern.matcher(v).matches() &&
        scala.util.Try(v.toLong).isSuccess)) {
      if (values.forall(v => { val l = v.toLong; l >= Int.MinValue && l <= Int.MaxValue }))
        IntegerType else LongType
    } else if (values.forall(v => DateRe.pattern.matcher(v).matches() &&
        scala.util.Try(java.time.LocalDate.parse(v)).isSuccess)) {
      DateType
    } else if (values.forall(v => v == "true" || v == "false")) {
      BooleanType
    } else StringType
  }

  /** Raw path string → typed value for `dt` (null raw → null). Types
    * beyond int/long/date/string read back as strings-cast-on-demand —
    * the writer only ever emits these four. */
  def castRaw(raw: String, dt: DataType): Any = {
    if (raw == null) return null
    dt match {
      case IntegerType => raw.trim.toInt
      case LongType => raw.trim.toLong
      case ShortType => raw.trim.toShort
      case ByteType => raw.trim.toByte
      case DateType => java.time.LocalDate.parse(raw.trim).toEpochDay.toInt
      case BooleanType => raw.trim.toBoolean
      case StringType => raw
      case other =>
        throw new UnsupportedOperationException(s"fls: partition column type $other")
    }
  }

  /** [[castRaw]] in Catalyst's internal form (strings as UTF8String):
    * the value a constant vector or a partition-key row holds. */
  def internal(raw: String, dt: DataType): Any = castRaw(raw, dt) match {
    case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case v => v
  }

  /** Hive path form of a partition value read from an InternalRow. */
  def pathString(dt: DataType, row: org.apache.spark.sql.catalyst.InternalRow, ord: Int): String =
    dt match {
      case IntegerType => row.getInt(ord).toString
      case LongType => row.getLong(ord).toString
      case ShortType => row.getShort(ord).toString
      case ByteType => row.getByte(ord).toString
      case DateType => java.time.LocalDate.ofEpochDay(row.getInt(ord).toLong).toString
      case StringType => row.getUTF8String(ord).toString
      case BooleanType => row.getBoolean(ord).toString
      case other =>
        throw new UnsupportedOperationException(
          s"fls: cannot partition by column of type $other")
    }

  // ------------------------------------------------------------- pruning

  /** Internal comparison value: numeric/date collapse to Long, strings
    * stay String (ordering comparisons are only trusted for longs —
    * UTF8 binary order vs java.lang.String order diverge off-BMP). */
  private def litToLong(v: Any): Option[Long] = v match {
    case n: java.lang.Integer => Some(n.longValue())
    case n: java.lang.Long => Some(n.longValue())
    case n: java.lang.Short => Some(n.longValue())
    case n: java.lang.Byte => Some(n.longValue())
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private def litToString(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
    case _ => None
  }

  /** Truth-SET evaluation under SQL three-valued logic. A predicate on
    * a file's (constant) partition values takes one of the 3VL values
    * TRUE / FALSE / NULL; when we cannot tell (unsupported shape, data
    * column, unparseable value) the result is the full set. Tracking
    * the SET — not a collapsed boolean — is what keeps `Not` sound:
    * NULL comparisons must stay NULL through negation (Not(NULL) =
    * NULL, not TRUE), or a consumed `dt != x` filter over a
    * __HIVE_DEFAULT_PARTITION__ file would return rows SQL excludes. */
  private final val T = 1
  private final val F = 2
  private final val N = 4
  private final val Any3 = T | F | N

  private def not3(m: Int): Int =
    (if ((m & T) != 0) F else 0) | (if ((m & F) != 0) T else 0) | (m & N)

  private def and3(a: Int, b: Int): Int = {
    var out = 0
    if ((a & F) != 0 || (b & F) != 0) out |= F
    if ((a & T) != 0 && (b & T) != 0) out |= T
    if (((a & N) != 0 && (b & (T | N)) != 0) ||
        ((b & N) != 0 && (a & (T | N)) != 0)) out |= N
    out
  }

  private def or3(a: Int, b: Int): Int = {
    var out = 0
    if ((a & T) != 0 || (b & T) != 0) out |= T
    if ((a & F) != 0 && (b & F) != 0) out |= F
    if (((a & N) != 0 && (b & (F | N)) != 0) ||
        ((b & N) != 0 && (a & (F | N)) != 0)) out |= N
    out
  }

  /** Possible 3VL values of `f` on one file (bitmask of T/F/N). */
  def evalMask(
      f: Filter,
      types: Map[String, DataType],
      values: Map[String, Any]): Int = {

    // a partition column is only decidable on THIS file when its path
    // actually carries it (spec evolution omits absent keys from
    // `values`) — otherwise fall through to Any3 like a data column
    def part(col: String): Boolean = types.contains(col) && values.contains(col)

    def cmp(col: String, lit: Any)(longTest: (Long, Long) => Boolean): Int = {
      val v = values(col)
      if (v == null || lit == null) return N // SQL comparison with NULL is NULL
      (v, litToLong(lit)) match {
        case (pv: java.lang.Long, Some(l)) => if (longTest(pv, l)) T else F
        case (pv: java.lang.Integer, Some(l)) => if (longTest(pv.longValue(), l)) T else F
        case _ => Any3
      }
    }

    def eq(col: String, lit: Any): Int = {
      val v = values(col)
      if (v == null || lit == null) return N
      (v, lit) match {
        case (pv: String, _) =>
          litToString(lit).map(l => if (l == pv) T else F).getOrElse(Any3)
        case (pv: java.lang.Boolean, l: java.lang.Boolean) => if (pv == l) T else F
        case _ => cmp(col, lit)(_ == _)
      }
    }

    f match {
      case And(l, r) => and3(evalMask(l, types, values), evalMask(r, types, values))
      case Or(l, r) => or3(evalMask(l, types, values), evalMask(r, types, values))
      case Not(x) => not3(evalMask(x, types, values))
      case EqualTo(c, v) if part(c) => eq(c, v)
      case EqualNullSafe(c, v) if part(c) =>
        // null-safe: never NULL-valued
        if (values(c) == null) { if (v == null) T else F }
        else if (v == null) F
        else eq(c, v) match { case N => Any3; case m => m }
      case In(c, vs) if part(c) =>
        // v IN (a, b, ...) == (v = a) OR (v = b) OR ...; empty list is FALSE
        if (vs.isEmpty) F else vs.map(v => eq(c, v)).reduce(or3)
      case GreaterThan(c, v) if part(c) => cmp(c, v)(_ > _)
      case GreaterThanOrEqual(c, v) if part(c) => cmp(c, v)(_ >= _)
      case LessThan(c, v) if part(c) => cmp(c, v)(_ < _)
      case LessThanOrEqual(c, v) if part(c) => cmp(c, v)(_ <= _)
      case IsNull(c) if part(c) => if (values(c) == null) T else F
      case IsNotNull(c) if part(c) => if (values(c) != null) T else F
      case StringStartsWith(c, p) if part(c) =>
        values(c) match {
          case null => N
          case _ if p == null => N
          case s: String => if (s.startsWith(p)) T else F
          case _ => Any3
        }
      case _ => Any3
    }
  }

  /** Evaluate `f` on one file's partition values. Some(true) = every
    * row of the file satisfies it; Some(false) = no row does (the
    * predicate is FALSE or NULL on the file — SQL excludes both);
    * None = cannot tell. */
  def evaluates(
      f: Filter,
      types: Map[String, DataType],
      keys: Seq[String],
      raw: Array[String]): Option[Boolean] = {
    if (keys.isEmpty) return None
    // a raw value that doesn't parse at the (possibly user-supplied)
    // column type is "can't tell", never a planning failure; a key the
    // file's path LACKS (spec evolution) is omitted — the evaluator
    // then treats the column as undecidable for this file
    val values: Map[String, Any] =
      try keys.zipWithIndex.collect {
        case (k, i) if raw(i) != AbsentRaw =>
          k -> castRaw(raw(i), types.getOrElse(k, StringType))
      }.toMap
      catch { case _: Exception => return None }
    evalMask(f, types, values) match {
      case m if m == T => Some(true)
      case m if (m & T) == 0 => Some(false)
      case _ => None
    }
  }

  /** True iff the file gives a DEFINITE answer for `f` — the predicate
    * that lets the scan builder consume a partition filter entirely
    * (no residual row-level re-check needed). */
  def decides(
      f: Filter,
      types: Map[String, DataType],
      keys: Seq[String],
      raw: Array[String]): Boolean =
    evaluates(f, types, keys, raw).isDefined

  /** File survives unless some filter provably excludes every row. */
  def mayMatch(
      filters: Array[Filter],
      types: Map[String, DataType],
      keys: Seq[String],
      raw: Array[String]): Boolean =
    filters.forall(f => evaluates(f, types, keys, raw) != Some(false))
}
