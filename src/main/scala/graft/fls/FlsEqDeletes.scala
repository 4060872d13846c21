package graft.fls

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.fls.Format.{ColumnType, SegmentDesc, physOf, Phys, TypeTag}

/** PREDICATE deletes — Iceberg-v2-style metadata deletes re-expressed
  * as manifest lines. A `DELETE FROM t WHERE key = X` on an
  * unclustered key is the worst shape for both existing delete legs:
  * copy-on-write rewrites (or at best DV-scans) every straddling file,
  * and merge-on-read still READS every candidate file at commit time
  * to find positions. A predicate delete instead commits the PREDICATE
  * itself — one `#eqdel` header line in the next manifest version,
  * O(1) data reads — and every reader applies it as an unconditional
  * residual at decode ([[FlsEqResidual]]), exactly like delete-vector
  * positions. Rewrites absorb it: files written after the delete carry
  * a birth version (`bv` in the entry stats) newer than the
  * predicate's commit version, so compaction / UPDATE / MERGE output
  * is no longer subject, and the predicate is dropped from the log
  * once no retained entry predates it.
  *
  * APPLICABILITY is by birth version, the Iceberg sequence-number
  * rule: predicate committed at version V applies to a file iff the
  * file's `bv <= V` (legacy entries without a stamp read as bv=0 —
  * conservatively subject until rewritten). This is what makes the
  * commit O(1): nothing per-file is written, applicability is derived.
  *
  * SCOPE: a conjunction of conjuncts over DISTINCT scalar columns,
  * each either an equality (`=` / `IN` over non-null literals — one
  * column, the r15 shape, or a composite key `user_id = X AND
  * tenant_id = Y`, the Iceberg equality_ids shape) or a RANGE
  * (`</<=/>/>=`, any combination of bounds — the retention shape
  * `DELETE WHERE ts < cutoff`, r16; multiple range conjuncts on one
  * column intersect into one leg). Supported domains: integral /
  * boolean (eq only) / date / timestamp / string / float / double /
  * DECIMAL(p ≤ 18) (r17 — literals normalize to unscaled longs at the
  * TABLE schema's scale, carried as `sc` on the leg; the planner
  * commits only when every file verifiably stores the column at that
  * scale, so cross-file comparison stays unambiguous) / wide DECIMAL
  * (p > 18, r18 — same normalization into an unscaled BigInteger
  * domain, compared numerically against the stored two's-complement
  * bytes). Anything else falls back to the copy-on-write or
  * merge-on-read leg (binary/nested; NaN / ±Inf literals: Spark's
  * NaN-equality and JSON round-tripping diverge from the storage
  * comparison). Value-producing
  * metadata shortcuts (footer aggregates, TopN/limit bound pruning)
  * refuse files carrying a residual, the same discipline as delete
  * vectors; "can any row match?" pruning (zone maps, Bloom, partition
  * values) stays on — stats over a superset of live rows are
  * conservative.
  *
  * The reference format is scan-only with no DML at all
  * (/root/reference/src/read_fls.cpp:32-46); the delete ladder
  * (CoW → DVs → equality/range predicates) is this repo's own. */
object FlsEqDeletes {

  /** Kind tags: the literal domain values are serialized in.
    * `l` = long semantic domain (integers, boolean 0/1, date epochDay,
    * timestamp micros), `d` = double, `s` = UTF-8 string, `B` = wide
    * DECIMAL (r18): unscaled BigInteger at the TABLE schema's scale,
    * serialized as decimal strings — the p > 18 domain the storage
    * keeps as two's-complement bytes. */
  val KindLong = "l"
  val KindDouble = "d"
  val KindString = "s"
  val KindBig = "B"

  /** One conjunct of a committed predicate: an IN set or a range over
    * one column. Values live in the storage-semantic domain of
    * `kind`. */
  sealed trait Leg {
    def col: String
    def kind: String
    /** DECIMAL legs (r17): the table-schema scale the long values are
      * unscaled at; -1 = plain long domain. */
    def scale: Int
    private[fls] def bodyJson: List[(String, JValue)]
  }

  /** One conjunct of a committed predicate: an IN set or a range over
    * one column. Values live in the storage-semantic domain of
    * `kind`. `scale >= 0` marks a DECIMAL leg (r17): the long values
    * are UNSCALED decimals at the TABLE schema's scale — literals are
    * normalized to it at predicate-compile time, and the residual /
    * zone-map / bloom consumers apply only to files storing the
    * column at exactly that scale (the delete planner refuses
    * mixed-scale tables up front; a post-commit drift THROWS at
    * decode, the standard degrade-loudly contract). */
  /** `col IN vals` (a single `=` is a one-element IN); values sorted
    * for the decode-time binary search. */
  final case class InLeg(col: String, kind: String, longs: Array[Long],
      doubles: Array[Double], strings: Array[String],
      scale: Int = -1,
      /** wide-DECIMAL values (KindBig): sorted unscaled BigIntegers at
        * `scale` (r18). */
      bigs: Array[java.math.BigInteger] = Array.empty) extends Leg {
    private[fls] def valsJson: JArray = kind match {
      case KindLong => JArray(longs.toList.map(JLong(_)))
      case KindDouble => JArray(doubles.toList.map(JDouble(_)))
      case KindString => JArray(strings.toList.map(JString(_)))
      case KindBig => JArray(bigs.toList.map(b => JString(b.toString)))
    }
    private[fls] def bodyJson: List[(String, JValue)] =
      List("c" -> JString(col), "k" -> JString(kind), "x" -> valsJson) ++
        (if (scale >= 0) List("sc" -> JInt(scale)) else Nil)
  }

  /** One bound of a [[RangeLeg]], in the semantic domain of the leg's
    * kind (only the matching slot is meaningful). `inc` = inclusive.
    * Long-domain bounds are ALWAYS inclusive ([[RangeLeg]] normalizes
    * `> v` to `>= v+1` at construction — integers are discrete). */
  final case class Bound(l: Long, d: Double, s: String, inc: Boolean)

  object Bound {
    def ofLong(v: Long): Bound = Bound(v, 0.0, null, inc = true)
    def ofDouble(v: Double, inc: Boolean): Bound = Bound(0L, v, null, inc)
    def ofString(v: String, inc: Boolean): Bound = Bound(0L, 0.0, v, inc)
    /** Wide-DECIMAL bounds ride the string slot as the unscaled
      * BigInteger's decimal text; like long bounds they are ALWAYS
      * closed (the domain is discrete at the table scale). */
    def ofBig(v: java.math.BigInteger): Bound =
      Bound(0L, 0.0, v.toString, inc = true)
  }

  /** `lo <(=) col <(=) hi` — either side may be absent (the retention
    * shape `ts < cutoff` has only `hi`). Matches only stored values
    * (SQL: NULL never satisfies a comparison); string order is
    * unsigned UTF-8 byte order (= code-point order — what both Spark's
    * UTF8String and the storage comparison use). */
  final case class RangeLeg(col: String, kind: String,
      lo: Option[Bound], hi: Option[Bound], scale: Int = -1) extends Leg {
    require(lo.nonEmpty || hi.nonEmpty,
      s"fls eqdel: unbounded range on '$col'")
    private def boundJson(b: Bound): JValue = kind match {
      case KindLong => JLong(b.l)
      case KindDouble => JDouble(b.d)
      case KindString | KindBig => JString(b.s)
    }
    private[fls] def bodyJson: List[(String, JValue)] = {
      val base = List("c" -> JString(col), "k" -> JString(kind)) ++
        (if (scale >= 0) List("sc" -> JInt(scale)) else Nil)
      val loJ = lo.toList.flatMap(b =>
        List("lo" -> boundJson(b)) ++
          (if (b.inc) Nil else List("lx" -> JBool(true))))
      val hiJ = hi.toList.flatMap(b =>
        List("hi" -> boundJson(b)) ++
          (if (b.inc) Nil else List("hx" -> JBool(true))))
      base ++ loJ ++ hiJ
    }
  }

  /** One committed predicate: delete rows matching EVERY leg — the
    * Iceberg equality_ids shape (a composite GDPR key `user_id = X
    * AND tenant_id = Y` commits as ONE line; each leg may carry an IN
    * set or a range, so the matched set is the legs' cross product,
    * exactly the rows the DELETE's WHERE matched). `v` = the manifest
    * version the delete committed at (0 = not yet stamped — [[stamp]]
    * fills it inside the commit attempt). */
  final case class EqDelete(v: Long, legs: Seq[Leg]) {
    require(legs.nonEmpty, "fls eqdel: a predicate needs at least one leg")
    /** Fixed-size digest of the serialized predicate — the planner's
      * memo-key currency. Case-class equality/hashCode are unusable
      * here (legs hold Arrays — identity semantics), and keying on the
      * raw JSON would retain megabytes per large IN list in
      * count-bounded caches. Lazy: computed once per parsed instance,
      * and listings parse each predicate once, not per file. */
    lazy val digest: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(json.getBytes(StandardCharsets.UTF_8))
      md.digest().map(b => f"$b%02x").mkString
    }
    def json: String = {
      // single-leg predicates keep the original flat form so every
      // #eqdel line written before multi-column support parses the
      // same bytes it always did
      val body: List[(String, JValue)] =
        if (legs.length == 1) ("v" -> JLong(v): (String, JValue)) ::
          legs.head.bodyJson
        else List("v" -> JLong(v), "a" -> JArray(legs.toList.map(l =>
          JObject(l.bodyJson))))
      JsonMethods.compact(JsonMethods.render(JObject(body)))
    }
  }

  private def parseLong(v: JValue, json: String): Long = v match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case other => sys.error(s"fls eqdel: bad long $other in '$json'")
  }

  private def parseDouble(v: JValue, json: String): Double = v match {
    case JDouble(d) => d
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case other => sys.error(s"fls eqdel: bad double $other in '$json'")
  }

  private def parseString(v: JValue, json: String): String = v match {
    case JString(s) => s
    case other => sys.error(s"fls eqdel: bad string $other in '$json'")
  }

  private def parseLeg(o: JValue, json: String): Leg = {
    val col = o \ "c" match { case JString(s) => s
      case _ => sys.error(s"fls eqdel: missing column in '$json'") }
    val kind = o \ "k" match { case JString(s) => s
      case _ => sys.error(s"fls eqdel: missing kind in '$json'") }
    if (kind != KindLong && kind != KindDouble && kind != KindString &&
        kind != KindBig)
      sys.error(s"fls eqdel: unknown kind '$kind' in '$json'")
    val scale = o \ "sc" match {
      case JNothing =>
        if (kind == KindBig)
          sys.error(s"fls eqdel: wide-decimal leg without a scale in '$json'")
        -1
      case v =>
        val s = parseLong(v, json)
        if ((kind != KindLong && kind != KindBig) || s < 0 || s > 38)
          sys.error(s"fls eqdel: bad scale $s in '$json'")
        s.toInt
    }
    def parseBig(v: JValue): java.math.BigInteger =
      try new java.math.BigInteger(parseString(v, json))
      catch { case _: NumberFormatException =>
        sys.error(s"fls eqdel: bad wide-decimal value in '$json'") }
    o \ "x" match {
      case JArray(xs) => kind match {
        case KindLong => InLeg(col, kind,
          xs.map(parseLong(_, json)).toArray, Array.empty, Array.empty,
          scale)
        case KindDouble => InLeg(col, kind, Array.empty,
          xs.map(parseDouble(_, json)).toArray, Array.empty)
        case KindString => InLeg(col, kind, Array.empty, Array.empty,
          xs.map(parseString(_, json)).toArray)
        case KindBig => InLeg(col, kind, Array.empty, Array.empty,
          Array.empty, scale, xs.map(parseBig).toArray)
      }
      case JNothing =>
        def bound(at: String, exAt: String): Option[Bound] =
          o \ at match {
            case JNothing => None
            case v =>
              val inc = o \ exAt match {
                case JBool(b) => !b
                case JNothing => true
                case other => sys.error(s"fls eqdel: bad $exAt $other")
              }
              Some(kind match {
                case KindLong =>
                  // The writer always emits CLOSED long bounds
                  // (legFromRanges normalizes `> v` → `>= v+1`), and
                  // the long residual + zone-map test rely on that
                  // invariant. Enforce it at the format boundary: a
                  // foreign/hand-edited exclusive long bound is
                  // closed-normalized here (integers are discrete), so
                  // it can never be silently applied as inclusive.
                  val raw = parseLong(v, json)
                  if (inc) Bound(raw, 0.0, null, inc = true)
                  else {
                    val closed =
                      if (at == "lo") {
                        if (raw == Long.MaxValue) sys.error(
                          s"fls eqdel: empty exclusive lo bound in '$json'")
                        raw + 1
                      } else {
                        if (raw == Long.MinValue) sys.error(
                          s"fls eqdel: empty exclusive hi bound in '$json'")
                        raw - 1
                      }
                    Bound(closed, 0.0, null, inc = true)
                  }
                case KindDouble => Bound(0L, parseDouble(v, json), null, inc)
                case KindString => Bound(0L, 0.0, parseString(v, json), inc)
                case KindBig =>
                  // discrete like the long domain: closed-normalize a
                  // foreign exclusive bound at the format boundary (no
                  // saturation — BigInteger is unbounded)
                  val raw = parseBig(v)
                  val one = java.math.BigInteger.ONE
                  val closed =
                    if (inc) raw
                    else if (at == "lo") raw.add(one) else raw.subtract(one)
                  Bound(0L, 0.0, closed.toString, inc = true)
              })
          }
        RangeLeg(col, kind, bound("lo", "lx"), bound("hi", "hx"), scale)
      case other => sys.error(s"fls eqdel: bad values $other in '$json'")
    }
  }

  def parse(json: String): EqDelete = {
    val o = JsonMethods.parse(json)
    val v = o \ "v" match { case JInt(n) => n.toLong; case JLong(n) => n
      case other => sys.error(s"fls eqdel: bad version in '$json': $other") }
    o \ "a" match {
      case JArray(ls) =>
        require(ls.nonEmpty, s"fls eqdel: empty conjunction in '$json'")
        EqDelete(v, ls.map(parseLeg(_, json)))
      case _ => EqDelete(v, Seq(parseLeg(o, json)))
    }
  }

  /** The predicate's commit version without a full parse. */
  def versionOf(json: String): Long = parse(json).v

  /** Fill the commit version (called inside each commit ATTEMPT — a
    * lost CAS race restamps with the retried version). */
  def stamp(json: String, v: Long): String = parse(json).copy(v = v).json

  /** Does the predicate of `predJson` apply to an entry with stats
    * `statsJson`? Birth-version rule; legacy entries (no `bv`) are
    * subject to everything. */
  def applies(predV: Long, statsJson: String): Boolean =
    FlsFileStats.birthOf(statsJson) <= predV

  /** Does the file's stored domain line up with the leg's semantic
    * kind — the SAME guard the decode-time residual compile enforces
    * (so any stats/bloom proof talks about the values the residual
    * would actually compare)? DECIMAL legs additionally require the
    * file's stored scale to equal the leg's — unscaled longs at
    * different scales are incomparable. */
  def domainOk(leg: Leg, ct: ColumnType): Boolean = {
    val phys = physOf(ct.tag)
    leg.kind match {
      case KindLong if leg.scale >= 0 =>
        phys == Phys.LONG && ct.tag == TypeTag.DECIMAL &&
          ct.scale == leg.scale
      case KindLong => phys == Phys.LONG && ct.tag != TypeTag.UINT64 &&
        ct.tag != TypeTag.DECIMAL
      case KindDouble => phys == Phys.DOUBLE
      case KindString => phys == Phys.BYTES && ct.tag == TypeTag.STRING
      case KindBig => phys == Phys.BYTES && ct.tag == TypeTag.BIG_DECIMAL &&
        ct.scale == leg.scale
      case _ => false
    }
  }

  /** Can `leg` match ANY value inside the recorded bounds of `seg` —
    * the zone-map test for delete predicates. False ONLY when the
    * stats PROVE no stored value matches (so dropping the residual for
    * this file / row group serves bit-identical results); every doubt
    * — missing stats (NaN-poisoned double segments drop theirs),
    * domain drift (decode-time residual THROWS there by contract, and
    * pruning must not mask that), prefix-truncated string bounds —
    * keeps the leg. Stats-present double segments are NaN-free
    * (Encoder.statsOf), so pure interval logic is exact there. */
  def legMayMatch(leg: Leg, ct: ColumnType, seg: SegmentDesc): Boolean = {
    val phys = physOf(ct.tag)
    leg.kind match {
      // plain-long and matched-scale DECIMAL legs share the unscaled
      // interval logic (domainOk guards both shapes; a scale-drifted
      // file falls to the conservative default below — pruning must
      // never mask the decode-time drift THROW)
      case KindLong if domainOk(leg, ct) =>
        if (!seg.hasStats) true
        else leg match {
          case in: InLeg =>
            in.longs.exists(v => v >= seg.minLong && v <= seg.maxLong)
          case r: RangeLeg => // long bounds are closed-normalized
            val lo = r.lo.map(_.l).getOrElse(Long.MinValue)
            val hi = r.hi.map(_.l).getOrElse(Long.MaxValue)
            seg.maxLong >= lo && seg.minLong <= hi
        }
      case KindDouble if phys == Phys.DOUBLE =>
        if (!seg.hasStats) true
        else leg match {
          case in: InLeg => in.doubles.exists(v =>
            v >= seg.minDouble && v <= seg.maxDouble)
          case r: RangeLeg =>
            r.lo.forall(b => if (b.inc) seg.maxDouble >= b.d
              else seg.maxDouble > b.d) &&
            r.hi.forall(b => if (b.inc) seg.minDouble <= b.d
              else seg.minDouble < b.d)
        }
      case KindString if phys == Phys.BYTES && ct.tag == TypeTag.STRING =>
        if (!seg.hasByteStats) true
        else {
          // minBytes ≤ true min and maxBytes ≥ true max (bounds may be
          // prefix-truncated) — outside [minBytes, maxBytes] is proof
          val cmp = FlsFileStats.cmpBytes _
          leg match {
            case in: InLeg => in.strings.exists { s =>
              val b = s.getBytes(StandardCharsets.UTF_8)
              cmp(b, seg.minBytes) >= 0 && cmp(b, seg.maxBytes) <= 0
            }
            case r: RangeLeg =>
              r.lo.forall { bd =>
                val c = cmp(seg.maxBytes, bd.s.getBytes(StandardCharsets.UTF_8))
                if (bd.inc) c >= 0 else c > 0
              } &&
              r.hi.forall { bd =>
                val c = cmp(seg.minBytes, bd.s.getBytes(StandardCharsets.UTF_8))
                if (bd.inc) c <= 0 else c < 0
              }
          }
        }
      case _ => true // u64/decimal or drifted domain: decode-time contract
    }
  }

  /** Does the file described by `desc` (a manifest-stats synthetic
    * descriptor or a real footer's table desc) possibly contain a row
    * the predicate matches? False = PROVEN no-match (conjunction
    * semantics: one impossible leg kills the whole predicate) — the
    * residual can be dropped for this file with bit-identical results.
    * Conservative on every doubt, including columns the stats don't
    * describe. */
  def mayMatchDesc(p: EqDelete, desc: Format.TableDesc): Boolean = {
    if (desc.rowGroups.isEmpty) return true
    p.legs.forall { l =>
      val idx = desc.columns.indexWhere(_.name == l.col)
      idx < 0 || desc.rowGroups.exists(rg =>
        legMayMatch(l, desc.columns(idx).colType, rg.segments(idx)))
    }
  }

  /** Unsigned UTF-8 byte comparison — the storage (and UTF8String)
    * string order. Java String.compareTo is UTF-16 code-unit order,
    * which DIVERGES above U+FFFF; compare the encoded bytes. */
  private[fls] def utf8Compare(a: String, b: String): Int =
    FlsFileStats.cmpBytes(a.getBytes(StandardCharsets.UTF_8),
      b.getBytes(StandardCharsets.UTF_8))

  /** Driver-side shape check + literal conversion: the DELETE filter
    * conjunction as ONE supported predicate — each column carrying
    * either one `=` / `IN` conjunct or any number of range conjuncts
    * (intersected) — or None (caller falls back to the copy-on-write /
    * merge-on-read leg). Values are converted to the storage-semantic
    * domain HERE, with the same rules as the scan-side literal
    * conversion, so executors compare raw decoded values with zero
    * per-row conversion. `IsNotNull` conjuncts implied by another
    * conjunct on the same column are absorbed (Spark's pushdown adds
    * them; a comparison never matches NULL anyway). An intersection
    * that is provably EMPTY returns None — the ladder proves the
    * no-op cheaply instead of committing a dead predicate line. */
  def fromFilters(filters: Array[Filter], schema: StructType): Option[EqDelete] = {
    val real = filters.filterNot(_.isInstanceOf[AlwaysTrue])
    if (real.isEmpty) return None
    // split IsNotNull markers from substantive conjuncts
    val (notNulls, subst) = real.partition(_.isInstanceOf[IsNotNull])
    if (subst.isEmpty) return None
    val byCol = subst.map(f => (colOf(f).getOrElse(return None), f))
    val legs = byCol.groupBy(_._1).toSeq.map { case (col, fs) =>
      legForColumn(col, fs.map(_._2).toSeq, schema).getOrElse(return None)
    }
    // every IsNotNull must be implied by a substantive conjunct on the
    // same column, else the shape is not expressible here
    val covered = legs.map(_.col).toSet
    if (notNulls.exists { case IsNotNull(c) => !covered.contains(c)
        case _ => true }) return None
    // deterministic leg order (groupBy order is hash order)
    Some(EqDelete(0L, legs.sortBy(_.col)))
  }

  /** True when the filter conjunction PROVABLY matches no row: some
    * column's range conjuncts (over a supported domain) intersect
    * empty — `id > 50 AND id < 51`, `v > 5.0 AND v < 5.0`. One empty
    * conjunct empties the whole conjunction regardless of any other
    * (even inexpressible) conjunct, so the DELETE is a sound no-op in
    * EVERY delete mode — callers skip the commit entirely instead of
    * rewriting the table to remove zero rows. */
  def provablyEmpty(filters: Array[Filter], schema: StructType): Boolean = {
    val subst = filters.filterNot(f =>
      f.isInstanceOf[AlwaysTrue] || f.isInstanceOf[IsNotNull])
    val ranged = subst.flatMap(f => colOf(f).map((_, f))).filter {
      case (_, f) => f.isInstanceOf[GreaterThan] ||
        f.isInstanceOf[GreaterThanOrEqual] || f.isInstanceOf[LessThan] ||
        f.isInstanceOf[LessThanOrEqual]
    }
    ranged.groupBy(_._1).exists { case (col, fs) =>
      legFromRanges(col, fs.map(_._2).toSeq, schema) == RangeEmpty
    }
  }

  private def colOf(f: Filter): Option[String] = f match {
    case EqualTo(c, _) => Some(c)
    case EqualNullSafe(c, _) => Some(c)
    case In(c, _) => Some(c)
    case GreaterThan(c, _) => Some(c)
    case GreaterThanOrEqual(c, _) => Some(c)
    case LessThan(c, _) => Some(c)
    case LessThanOrEqual(c, _) => Some(c)
    case _ => None
  }

  /** All of one column's conjuncts as one leg: one equality conjunct
    * (the original shape), or 1+ range conjuncts intersected. A mix of
    * equality and range on one column, or two equality conjuncts,
    * is degenerate — ladder fallback keeps it exact. A provably-empty
    * range intersection also returns None here (no dead predicate
    * line); [[provablyEmpty]] lets callers skip the DELETE whole. */
  private def legForColumn(col: String, fs: Seq[Filter],
      schema: StructType): Option[Leg] = {
    val isRange = fs.forall {
      case _: GreaterThan | _: GreaterThanOrEqual |
           _: LessThan | _: LessThanOrEqual => true
      case _ => false
    }
    if (fs.length == 1 && !isRange) legFromEquality(fs.head, schema)
    else if (isRange) legFromRanges(col, fs, schema) match {
      case RangeOk(leg) => Some(leg)
      case _ => None
    }
    else None
  }

  /** Outcome of intersecting one column's range conjuncts. */
  private sealed trait RangeResult
  private final case class RangeOk(leg: Leg) extends RangeResult
  /** Provably matches no value (contradictory bounds). */
  private case object RangeEmpty extends RangeResult
  /** Unsupported domain / literal — ladder fallback. */
  private case object RangeUnsupported extends RangeResult

  private def legFromEquality(f: Filter, schema: StructType): Option[Leg] = {
    val (col, raw) = f match {
      case EqualTo(c, v) if v != null => (c, Seq(v))
      case EqualNullSafe(c, v) if v != null => (c, Seq(v))
      case In(c, vs) if vs.nonEmpty && !vs.contains(null) => (c, vs.toSeq)
      case _ => return None
    }
    val field = schema.fields.find(_.name == col).getOrElse(return None)
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType | BooleanType |
           DateType | TimestampType | TimestampNTZType =>
        val conv = raw.map(toSemanticLong)
        if (conv.exists(_.isEmpty)) None
        else Some(InLeg(col, KindLong,
          conv.map(_.get).distinct.sorted.toArray, Array.empty, Array.empty))
      case DoubleType | FloatType =>
        val conv = raw.map(toSemanticDouble)
        // refuse NaN (Spark's NaN = NaN is TRUE while the storage
        // comparison is IEEE) and ±Inf (JSON round-trip) — CoW leg
        if (conv.exists(c => c.isEmpty || c.get.isNaN || c.get.isInfinite))
          None
        else Some(InLeg(col, KindDouble, Array.empty,
          conv.map(c => if (c.get == 0.0) 0.0 else c.get) // -0.0 == 0.0
            .distinct.sorted.toArray, Array.empty))
      case StringType =>
        val conv = raw.map(toSemanticString)
        if (conv.exists(_.isEmpty)) None
        else Some(InLeg(col, KindString, Array.empty, Array.empty,
          conv.map(_.get).distinct.sorted.toArray))
      case d: DecimalType if d.precision <= 18 =>
        // unscaled-long domain at the TABLE schema's scale (r17) — a
        // literal that doesn't round-trip exactly at that scale can
        // never equal a stored value; the ladder handles it
        val conv = raw.map(toUnscaledExact(_, d.scale))
        if (conv.exists(_.isEmpty)) None
        else Some(InLeg(col, KindLong,
          conv.map(_.get).distinct.sorted.toArray, Array.empty,
          Array.empty, scale = d.scale))
      case d: DecimalType =>
        // wide-DECIMAL domain (r18): unscaled BigInteger at the table
        // scale — same exactness stance as the long leg, no magnitude
        // ceiling
        val conv = raw.map(toUnscaledBigExact(_, d.scale))
        if (conv.exists(_.isEmpty)) None
        else Some(InLeg(col, KindBig, Array.empty, Array.empty,
          Array.empty, scale = d.scale,
          bigs = conv.map(_.get).distinct.sortWith(_.compareTo(_) < 0)
            .toArray))
      case _ => None // binary/nested: CoW or MOR leg
    }
  }

  /** The literal as an unscaled long at scale `s`, or None when it is
    * not EXACTLY representable there (equality can then never hold
    * against a stored value) or doesn't fit a long. */
  private def toUnscaledExact(v: Any, s: Int): Option[Long] = {
    val bd = v match {
      case b: java.math.BigDecimal => b
      case b: BigDecimal => b.bigDecimal
      case n: java.lang.Long => java.math.BigDecimal.valueOf(n.longValue())
      case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue())
      case _ => return None
    }
    try Some(bd.setScale(s).unscaledValue().longValueExact())
    catch { case _: ArithmeticException => None }
  }

  /** The literal as a java BigDecimal, or None for foreign shapes. */
  private def toBigDecimal(v: Any): Option[java.math.BigDecimal] = v match {
    case b: java.math.BigDecimal => Some(b)
    case b: BigDecimal => Some(b.bigDecimal)
    case n: java.lang.Long => Some(java.math.BigDecimal.valueOf(n.longValue()))
    case n: java.lang.Integer =>
      Some(java.math.BigDecimal.valueOf(n.longValue()))
    case _ => None
  }

  /** Wide-decimal analog of [[toUnscaledExact]]: the literal as an
    * unscaled BigInteger at scale `s`, or None when not exactly
    * representable there. */
  private def toUnscaledBigExact(v: Any,
      s: Int): Option[java.math.BigInteger] =
    toBigDecimal(v).flatMap { bd =>
      try Some(bd.setScale(s).unscaledValue())
      catch { case _: ArithmeticException => None }
    }

  /** Intersect one column's range conjuncts into one [[RangeLeg]].
    * Long-domain bounds normalize to CLOSED (`> v` → `>= v+1` —
    * integers are discrete); double/string keep inclusivity flags,
    * with exclusive winning ties (it is strictly tighter). */
  private def legFromRanges(col: String, fs: Seq[Filter],
      schema: StructType): RangeResult = {
    val field = schema.fields.find(_.name == col)
      .getOrElse(return RangeUnsupported)
    field.dataType match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType =>
        // closed-normalize in the discrete long domain; saturating
        // edges (`> MaxValue` / `< MinValue`) are provably empty
        var lo = Long.MinValue
        var hi = Long.MaxValue
        var hasLo = false
        var hasHi = false
        fs.foreach { f =>
          val (raw, isLo, inc) = f match {
            case GreaterThan(_, v) => (v, true, false)
            case GreaterThanOrEqual(_, v) => (v, true, true)
            case LessThan(_, v) => (v, false, false)
            case LessThanOrEqual(_, v) => (v, false, true)
            case _ => return RangeUnsupported
          }
          val sem = toSemanticLong(raw).getOrElse(return RangeUnsupported)
          if (isLo) {
            if (!inc && sem == Long.MaxValue) return RangeEmpty
            val b = if (inc) sem else sem + 1
            if (!hasLo || b > lo) lo = b
            hasLo = true
          } else {
            if (!inc && sem == Long.MinValue) return RangeEmpty
            val b = if (inc) sem else sem - 1
            if (!hasHi || b < hi) hi = b
            hasHi = true
          }
        }
        if (hasLo && hasHi && lo > hi) return RangeEmpty
        RangeOk(RangeLeg(col, KindLong,
          if (hasLo) Some(Bound.ofLong(lo)) else None,
          if (hasHi) Some(Bound.ofLong(hi)) else None))
      case DoubleType | FloatType =>
        mergeBounds(fs, col, KindDouble) { v =>
          toSemanticDouble(v).filterNot(d => d.isNaN || d.isInfinite)
            .map(d => if (d == 0.0) 0.0 else d) // -0.0 == 0.0
        } ((a, b) => java.lang.Double.compare(a.asInstanceOf[Double],
          b.asInstanceOf[Double]),
          (v, inc) => Bound.ofDouble(v.asInstanceOf[Double], inc))
      case StringType =>
        mergeBounds(fs, col, KindString)(toSemanticString)(
          (a, b) => utf8Compare(a.asInstanceOf[String], b.asInstanceOf[String]),
          (v, inc) => Bound.ofString(v.asInstanceOf[String], inc))
      case d: DecimalType if d.precision <= 18 =>
        // closed-normalize in the DISCRETE unscaled-long domain at the
        // table scale s: stored values are exact multiples of 10^-s,
        // so  x >  v ⟺ u(x) ≥ ⌊v·10^s⌋+1,  x ≥ v ⟺ u(x) ≥ ⌈v·10^s⌉,
        //     x <  v ⟺ u(x) ≤ ⌈v·10^s⌉−1,  x ≤ v ⟺ u(x) ≤ ⌊v·10^s⌋ —
        // exact for ANY literal, representable at s or not
        val LongMin = java.math.BigInteger.valueOf(Long.MinValue)
        val LongMax = java.math.BigInteger.valueOf(Long.MaxValue)
        var lo = Long.MinValue
        var hi = Long.MaxValue
        var hasLo = false
        var hasHi = false
        fs.foreach { f =>
          val (raw, isLo, inc) = f match {
            case GreaterThan(_, v) => (v, true, false)
            case GreaterThanOrEqual(_, v) => (v, true, true)
            case LessThan(_, v) => (v, false, false)
            case LessThanOrEqual(_, v) => (v, false, true)
            case _ => return RangeUnsupported
          }
          val bd = raw match {
            case b: java.math.BigDecimal => b
            case b: BigDecimal => b.bigDecimal
            case n: java.lang.Long => java.math.BigDecimal.valueOf(n.longValue())
            case n: java.lang.Integer => java.math.BigDecimal.valueOf(n.longValue())
            case _ => return RangeUnsupported
          }
          import java.math.RoundingMode
          val b: java.math.BigInteger =
            if (isLo) {
              if (inc) bd.setScale(d.scale, RoundingMode.CEILING).unscaledValue()
              else bd.setScale(d.scale, RoundingMode.FLOOR).unscaledValue()
                .add(java.math.BigInteger.ONE)
            } else {
              if (inc) bd.setScale(d.scale, RoundingMode.FLOOR).unscaledValue()
              else bd.setScale(d.scale, RoundingMode.CEILING).unscaledValue()
                .subtract(java.math.BigInteger.ONE)
            }
          if (isLo) {
            if (b.compareTo(LongMax) > 0) return RangeEmpty
            if (b.compareTo(LongMin) >= 0) { // below-long lo: vacuous
              val bl = b.longValue()
              if (!hasLo || bl > lo) lo = bl
              hasLo = true
            }
          } else {
            if (b.compareTo(LongMin) < 0) return RangeEmpty
            if (b.compareTo(LongMax) <= 0) { // above-long hi: vacuous
              val bl = b.longValue()
              if (!hasHi || bl < hi) hi = bl
              hasHi = true
            }
          }
        }
        if (hasLo && hasHi && lo > hi) return RangeEmpty
        if (!hasLo && !hasHi)
          // every bound was vacuous over the representable domain: the
          // leg still matters (NULL never satisfies a comparison) —
          // keep it as the all-values range rather than dropping it
          RangeOk(RangeLeg(col, KindLong, Some(Bound.ofLong(Long.MinValue)),
            None, scale = d.scale))
        else RangeOk(RangeLeg(col, KindLong,
          if (hasLo) Some(Bound.ofLong(lo)) else None,
          if (hasHi) Some(Bound.ofLong(hi)) else None, scale = d.scale))
      case d: DecimalType =>
        // wide-DECIMAL range (r18): the same FLOOR/CEILING closed
        // normalization in the discrete unscaled domain at the table
        // scale — BigInteger end to end, so there is no saturation and
        // no vacuous-bound bookkeeping
        var lo: java.math.BigInteger = null
        var hi: java.math.BigInteger = null
        fs.foreach { f =>
          val (raw, isLo, inc) = f match {
            case GreaterThan(_, v) => (v, true, false)
            case GreaterThanOrEqual(_, v) => (v, true, true)
            case LessThan(_, v) => (v, false, false)
            case LessThanOrEqual(_, v) => (v, false, true)
            case _ => return RangeUnsupported
          }
          val bd = toBigDecimal(raw).getOrElse(return RangeUnsupported)
          import java.math.RoundingMode
          val b: java.math.BigInteger =
            if (isLo) {
              if (inc) bd.setScale(d.scale, RoundingMode.CEILING).unscaledValue()
              else bd.setScale(d.scale, RoundingMode.FLOOR).unscaledValue()
                .add(java.math.BigInteger.ONE)
            } else {
              if (inc) bd.setScale(d.scale, RoundingMode.FLOOR).unscaledValue()
              else bd.setScale(d.scale, RoundingMode.CEILING).unscaledValue()
                .subtract(java.math.BigInteger.ONE)
            }
          if (isLo) { if (lo == null || b.compareTo(lo) > 0) lo = b }
          else { if (hi == null || b.compareTo(hi) < 0) hi = b }
        }
        if (lo != null && hi != null && lo.compareTo(hi) > 0)
          return RangeEmpty
        RangeOk(RangeLeg(col, KindBig,
          Option(lo).map(Bound.ofBig),
          Option(hi).map(Bound.ofBig), scale = d.scale))
      case _ =>
        RangeUnsupported // boolean range is degenerate
    }
  }

  /** Continuous-domain (double/string) bound intersection: tightest lo
    * and hi with exclusivity; empty when lo > hi, or lo == hi with
    * either side open. */
  private def mergeBounds(fs: Seq[Filter], col: String, kind: String)(
      conv: Any => Option[Any])(cmp: (Any, Any) => Int,
      mk: (Any, Boolean) => Bound): RangeResult = {
    var lo: Option[(Any, Boolean)] = None
    var hi: Option[(Any, Boolean)] = None
    fs.foreach { f =>
      val (raw, isLo, inc) = f match {
        case GreaterThan(_, v) => (v, true, false)
        case GreaterThanOrEqual(_, v) => (v, true, true)
        case LessThan(_, v) => (v, false, false)
        case LessThanOrEqual(_, v) => (v, false, true)
        case _ => return RangeUnsupported
      }
      val sem = conv(raw).getOrElse(return RangeUnsupported)
      if (isLo) lo match {
        case Some((cur, curInc)) =>
          val c = cmp(sem, cur)
          if (c > 0 || (c == 0 && curInc && !inc)) lo = Some((sem, inc))
        case None => lo = Some((sem, inc))
      } else hi match {
        case Some((cur, curInc)) =>
          val c = cmp(sem, cur)
          if (c < 0 || (c == 0 && curInc && !inc)) hi = Some((sem, inc))
        case None => hi = Some((sem, inc))
      }
    }
    (lo, hi) match {
      case (Some((l, li)), Some((h, hi2))) =>
        val c = cmp(l, h)
        if (c > 0 || (c == 0 && !(li && hi2))) return RangeEmpty
      case _ =>
    }
    RangeOk(RangeLeg(col, kind,
      lo.map { case (v, inc) => mk(v, inc) },
      hi.map { case (v, inc) => mk(v, inc) }))
  }

  private def toSemanticLong(v: Any): Option[Long] = v match {
    case n: java.lang.Byte => Some(n.longValue())
    case n: java.lang.Short => Some(n.longValue())
    case n: java.lang.Integer => Some(n.longValue())
    case n: java.lang.Long => Some(n.longValue())
    case b: java.lang.Boolean => Some(if (b) 1L else 0L)
    case d: java.sql.Date =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case t: java.sql.Timestamp =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case t: java.time.LocalDateTime =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
    case _ => None
  }

  private def toSemanticDouble(v: Any): Option[Double] = v match {
    case d: java.lang.Double => Some(d.doubleValue())
    case f: java.lang.Float => Some(f.doubleValue())
    case _ => None
  }

  private def toSemanticString(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case _ => None
  }
}
