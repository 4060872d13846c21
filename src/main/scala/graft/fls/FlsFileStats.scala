package graft.fls

import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.fls.Format._

/** Per-FILE column statistics carried in the manifest
  * ([[FlsManifest.Entry.stats]]): row count + min/max per numeric
  * column, merged across the file's row groups at WRITE time — so a
  * cold driver planning a filtered scan over a million-file table can
  * drop files from the manifest alone, opening footers only for
  * survivors. Zone maps then re-prune at row-group granularity from the
  * footer as before; the manifest level only ever SKIPS whole files
  * (conservative: a column without stats, a stats-less entry, or any
  * parse doubt keeps the file).
  *
  * Compact JSON, one line, no tabs (manifest field constraint):
  * {{{ {"r":<rows>,"c":{"<col>":{"t":[tag,prec,scale],"l":[min,max]}
  *                     |{"t":[...],"d":[min,max]}
  *                     |{"t":[...],"b":[b64min,b64max]}, ...}} }}}
  * `l` = long (physical) bounds, `d` = double bounds, `b` = base64
  * byte-PREFIX bounds for STRING columns (the footers' truncated
  * Iceberg/parquet-style bounds — truncated maxima already increment
  * their last byte at encode time, so lex-min of mins / lex-max of
  * maxes stays a valid file-level bound). String keys are the most
  * common `cluster_by` choice in LLM corpora (lang, id prefix); without
  * `b` a cold driver cannot skip a single file on them. List element
  * counts remain footer-only (v1 scope).
  *
  * Evaluation builds a synthetic one-row-group [[Format.TableDesc]] and
  * reuses [[graft.fls.connector.FlsZoneMap]] verbatim — one pruning
  * semantics at both granularities, not two evaluators to keep in sync. */
object FlsFileStats {

  /** The per-file metadata JSON also carries the file's current
    * DELETE-VECTOR pointer under key `"dv"`
    * ([[FlsDeleteVectors]]) — same field, same plumbing, one place
    * every planner-side consumer already reads. Stats semantics stay
    * sound with a DV attached: stats describe a SUPERSET of the live
    * rows, so file pruning / zone maps / drop-keep DELETE verdicts
    * (all "can any row match?" questions) remain conservative; only
    * value-PRODUCING metadata shortcuts (footer COUNT/MIN/MAX
    * aggregates, TopN bound pruning) must refuse DV'd files — they
    * do, see FlsScanBuilder. */
  def dvOf(json: String): Option[String] =
    if (json == null) None
    else try JsonMethods.parse(json) \ "dv" match {
      case JString(rel) => Some(rel)
      case _ => None
    } catch { case _: Exception => None }

  /** Attach (or replace) the DV pointer in an entry's metadata JSON —
    * `null` base JSON becomes a dv-only object (stats stay absent:
    * [[toDesc]] needs `"r"`, so the file still always plans). */
  def withDv(json: String, dvRel: String): String =
    withKey(json, "dv", dvRel)

  /** The file's BLOOM-sidecar pointer (basename, [[Bloom]]) — same
    * plumbing as the DV pointer. */
  def bfOf(json: String): Option[String] =
    if (json == null) None
    else try JsonMethods.parse(json) \ "bf" match {
      case JString(rel) => Some(rel)
      case _ => None
    } catch { case _: Exception => None }

  def withBf(json: String, bfRel: String): String =
    withKey(json, "bf", bfRel)

  private def withKey(json: String, key: String, value: String): String = {
    val base = if (json == null) JObject(Nil)
      else try JsonMethods.parse(json) match {
        case o: JObject => o
        case _ => JObject(Nil)
      } catch { case _: Exception => JObject(Nil) }
    val kept = base.obj.filterNot(_._1 == key)
    JsonMethods.compact(JsonMethods.render(
      JObject(kept :+ (key -> JString(value)))))
  }

  /** Writer side: merge row-group stats into one per-file JSON, or null
    * when the file carries nothing prunable (no row groups, or no column
    * with complete stats). `ndv` attaches per-column HLL register
    * arrays ([[Hll]], `ndv_columns` writer option) under key `"n"` —
    * estimate-only metadata (CBO distinct counts), never pruning. */
  def fromTable(t: TableDesc,
      ndv: Map[String, Array[Byte]] = Map.empty): String = {
    if (t.rowGroups.isEmpty) return null
    val b64e = java.util.Base64.getEncoder
    def ndvField(name: String): List[(String, JValue)] =
      ndv.get(name).map(r =>
        "n" -> (JString(b64e.encodeToString(r)): JValue)).toList
    val cols = scala.collection.mutable.ArrayBuffer[(String, JValue)]()
    var i = 0
    while (i < t.columns.length) {
      val c = t.columns(i)
      val phys = physOf(c.colType.tag)
      val tArr = JArray(List(JInt(c.colType.tag), JInt(c.colType.precision),
        JInt(c.colType.scale)))
      val before = cols.length
      if ((phys == Phys.LONG || phys == Phys.DOUBLE) &&
          t.rowGroups.forall(_.segments(i).hasStats)) {
        val segs = t.rowGroups.map(_.segments(i))
        if (phys == Phys.LONG) {
          cols += c.name -> JObject(List("t" -> tArr,
            "l" -> JArray(List(JLong(segs.map(_.minLong).min),
              JLong(segs.map(_.maxLong).max)))) ++ ndvField(c.name))
        } else {
          val mn = segs.map(_.minDouble).min
          val mx = segs.map(_.maxDouble).max
          // non-finite bounds do not serialize portably in JSON; such a
          // column is simply footer-only
          if (!mn.isNaN && !mx.isNaN && !mn.isInfinite && !mx.isInfinite)
            cols += c.name -> JObject(List("t" -> tArr,
              "d" -> JArray(List(JDouble(mn), JDouble(mx)))) ++ ndvField(c.name))
        }
      } else if (c.colType.tag == TypeTag.STRING &&
          t.rowGroups.forall(_.segments(i).hasByteStats)) {
        // byte-prefix bounds (already ≤16B truncated, upper-incremented
        // at encode time): selecting among valid row-group bounds keeps
        // a valid file bound, no re-truncation needed
        val segs = t.rowGroups.map(_.segments(i))
        val mn = segs.map(_.minBytes).reduce((a, b) => if (cmpBytes(a, b) <= 0) a else b)
        val mx = segs.map(_.maxBytes).reduce((a, b) => if (cmpBytes(a, b) >= 0) a else b)
        cols += c.name -> JObject(List("t" -> tArr,
          "b" -> JArray(List(JString(b64e.encodeToString(mn)),
            JString(b64e.encodeToString(mx))))) ++ ndvField(c.name))
      }
      // a sketched column whose bounds didn't qualify still carries its
      // sketch (ndv-only object; readers skip it for pruning)
      if (cols.length == before && ndv.contains(c.name))
        cols += c.name -> JObject(List("t" -> tArr) ++ ndvField(c.name))
      i += 1
    }
    if (cols.isEmpty && t.numRows == 0) return null
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "r" -> JLong(t.numRows),
      "c" -> JObject(cols.toList)))))
  }

  /** Per-column HLL registers carried in the stats JSON (empty map on
    * null/garbled stats or no sketches — callers degrade to no
    * distinct-count, exactly the pre-sketch behavior). */
  def ndvOf(json: String): Map[String, Array[Byte]] = {
    if (json == null) return Map.empty
    try ndvFrom(JsonMethods.parse(json))
    catch { case _: Exception => Map.empty }
  }

  private def ndvFrom(j: JValue): Map[String, Array[Byte]] = {
    val b64d = java.util.Base64.getDecoder
    j \ "c" match {
      case JObject(fields) => fields.flatMap { case (name, v) =>
        v \ "n" match {
          case JString(s) => Some(name -> b64d.decode(s))
          case _ => None
        }
      }.toMap
      case _ => Map.empty
    }
  }

  /** The DV pointer and the NDV sketches in ONE parse — fetchMeta runs
    * per planned file, and at 100 TB the planning path cannot afford
    * re-parsing the same JSON once per field. The `"n":` substring
    * guard skips the sketch walk entirely for the (overwhelmingly
    * common) bounds-only entries. */
  def dvAndNdvOf(json: String): (Option[String], Map[String, Array[Byte]]) = {
    val (dv, ndv, _) = metaOf(json)
    (dv, ndv)
  }

  /** DV pointer + NDV sketches + applicable equality-delete residuals,
    * still ONE parse per planned file (see [[dvAndNdvOf]]'s note). */
  def metaOf(json: String)
    : (Option[String], Map[String, Array[Byte]], Seq[String]) = {
    if (json == null) return (None, Map.empty, Nil)
    try {
      val j = JsonMethods.parse(json)
      val dv = j \ "dv" match {
        case JString(rel) => Some(rel)
        case _ => None
      }
      val ndv =
        if (json.contains("\"n\":")) ndvFrom(j) else Map.empty[String, Array[Byte]]
      val eq =
        if (!json.contains("\"eq\":")) Nil
        else j \ "eq" match {
          case JArray(a) => a.collect { case JString(s) => s }
          case _ => Nil
        }
      (dv, ndv, eq)
    } catch { case _: Exception => (None, Map.empty, Nil) }
  }

  /** The entry's BIRTH VERSION — the manifest version that first added
    * it, stamped centrally by [[FlsManifest.commit]]. 0 for legacy
    * entries (pre-stamp), which makes them subject to EVERY equality
    * delete — the conservative-correct direction ([[FlsEqDeletes]]). */
  def birthOf(json: String): Long = {
    if (json == null) return 0L
    try JsonMethods.parse(json) \ "bv" match {
      case JInt(n) => n.toLong
      case JLong(n) => n
      case _ => 0L
    } catch { case _: Exception => 0L }
  }

  /** Remove the birth-version stamp — fastForward strips it from
    * branch-only entries before publishing, because branch-lineage
    * version numbers do not map onto main's ([[FlsManifest.commit]]
    * then restamps with the published MAIN version, which is when
    * those rows became visible to main readers). */
  def stripBirth(json: String): String = {
    if (json == null) return null
    try JsonMethods.parse(json) match {
      case o: JObject =>
        val kept = o.obj.filterNot(_._1 == "bv")
        if (kept.isEmpty) null
        else JsonMethods.compact(JsonMethods.render(JObject(kept)))
      case _ => json
    } catch { case _: Exception => json }
  }

  def withBirth(json: String, v: Long): String = {
    val base = if (json == null) JObject(Nil)
      else try JsonMethods.parse(json) match {
        case o: JObject => o
        case _ => JObject(Nil)
      } catch { case _: Exception => JObject(Nil) }
    val kept = base.obj.filterNot(_._1 == "bv")
    JsonMethods.compact(JsonMethods.render(
      JObject(kept :+ ("bv" -> (JLong(v): JValue)))))
  }

  /** PLANNING-TIME-ONLY injection: the equality-delete predicates that
    * apply to this entry, attached under `"eq"` so the residual rides
    * the same per-file stats plumbing as the DV pointer all the way to
    * the reader. Never written to disk — the on-disk predicate lives
    * once per version file (`#eqdel`), applicability is derived from
    * `bv` at listing ([[FlsFile.listDataWithStats]]). */
  def withEq(json: String, preds: Seq[String]): String = {
    val base = if (json == null) JObject(Nil)
      else try JsonMethods.parse(json) match {
        case o: JObject => o
        case _ => JObject(Nil)
      } catch { case _: Exception => JObject(Nil) }
    val kept = base.obj.filterNot(_._1 == "eq")
    JsonMethods.compact(JsonMethods.render(
      JObject(kept :+ ("eq" -> (JArray(preds.toList.map(JString(_))): JValue)))))
  }

  /** Parsed stats as a synthetic single-row-group TableDesc (segments
    * carry the file-level bounds; offsets/lengths are meaningless and
    * zero). None on any parse doubt — the caller keeps the file. */
  def toDesc(json: String): Option[TableDesc] = {
    if (json == null) return None
    try {
      val j = JsonMethods.parse(json)
      val rows = j \ "r" match {
        case JInt(n) => n.toLong
        case JLong(n) => n
        case _ => return None
      }
      val cols = scala.collection.mutable.ArrayBuffer[ColumnDesc]()
      val segs = scala.collection.mutable.ArrayBuffer[SegmentDesc]()
      j \ "c" match {
        case JObject(fields) => fields.foreach { case (name, v) =>
          val t = v \ "t" match {
            case JArray(List(a, b, c)) =>
              ColumnType(num(a).toInt, num(b).toInt, num(c).toInt)
            case _ => return None
          }
          v \ "l" match {
            case JArray(List(mn, mx)) =>
              cols += ColumnDesc(name, t)
              segs += SegmentDesc(0, 0L, 0L, hasStats = true,
                minLong = num(mn), maxLong = num(mx),
                minDouble = 0.0, maxDouble = 0.0)
            case _ => v \ "d" match {
              case JArray(List(mn, mx)) =>
                cols += ColumnDesc(name, t)
                segs += SegmentDesc(0, 0L, 0L, hasStats = true,
                  minLong = 0L, maxLong = 0L,
                  minDouble = dbl(mn), maxDouble = dbl(mx))
              case _ => v \ "b" match {
                case JArray(List(JString(mn), JString(mx))) =>
                  val b64 = java.util.Base64.getDecoder
                  // hasStats=false: `b` bounds serve ONLY the zone-map
                  // pruning path; the CBO/metadata-agg paths key off
                  // hasStats and must never read these as value stats
                  cols += ColumnDesc(name, t)
                  segs += SegmentDesc(0, 0L, 0L, hasStats = false,
                    minLong = 0L, maxLong = 0L,
                    minDouble = 0.0, maxDouble = 0.0,
                    minBytes = b64.decode(mn), maxBytes = b64.decode(mx))
                // no bounds at all (e.g. an ndv-only sketch column):
                // the column just isn't prunable — don't fail the
                // whole file's stats over it
                case _ => ()
              }
            }
          }
        }
        case _ => return None
      }
      val n = math.min(rows, Int.MaxValue.toLong).toInt
      Some(TableDesc(cols.toArray, Array(RowGroupDesc(n, segs.toArray))))
    } catch { case _: Exception => None }
  }

  /** Merge per-FILE stats into ONE chunk-level stats JSON (same
    * format, consumed by the same [[mayMatch]] evaluator) for the
    * named columns — what lets a `#chunk` pointer line carry the
    * chunk's cluster-key VALUE range, so key-range DML planning skips
    * whole chunks unopened (r15 verdict stretch #7). A column is
    * emitted only when EVERY entry carries bounds for it with the
    * same type tag and bound kind — one stats-less file in the chunk
    * would make the chunk range a lie, so the whole merge degrades to
    * None (chunk always opened, as before). Byte bounds are prefix
    * bounds (truncated maxima are already incremented at encode time),
    * so lex-min of mins / lex-max of maxes stays valid. */
  def mergeStats(jsons: Seq[String], cols: Seq[String]): Option[String] = {
    if (cols.isEmpty || jsons.isEmpty || jsons.exists(_ == null)) return None
    try {
      val parsed = jsons.map(JsonMethods.parse(_))
      var rows = 0L
      parsed.foreach { j =>
        j \ "r" match {
          case JInt(n) => rows += n.toLong
          case JLong(n) => rows += n
          case _ => return None
        }
      }
      val out = scala.collection.mutable.ListBuffer[(String, JValue)]()
      cols.foreach { c =>
        val vs = parsed.map(j => j \ "c" \ c)
        val tags = vs.map(_ \ "t")
        val tag = tags.head
        if (tag != JNothing && tags.forall(_ == tag)) {
          val longs = vs.map(_ \ "l")
          val dbls = vs.map(_ \ "d")
          val bts = vs.map(_ \ "b")
          if (longs.forall(_.isInstanceOf[JArray])) {
            val bs = longs.map {
              case JArray(List(mn, mx)) => (num(mn), num(mx))
              case _ => return None
            }
            out += c -> JObject(List("t" -> tag,
              "l" -> JArray(List(JLong(bs.map(_._1).min), JLong(bs.map(_._2).max)))))
          } else if (dbls.forall(_.isInstanceOf[JArray])) {
            val bs = dbls.map {
              case JArray(List(mn, mx)) => (dbl(mn), dbl(mx))
              case _ => return None
            }
            if (!bs.exists(b => b._1.isNaN || b._2.isNaN))
              out += c -> JObject(List("t" -> tag,
                "d" -> JArray(List(JDouble(bs.map(_._1).min), JDouble(bs.map(_._2).max)))))
          } else if (bts.forall(_.isInstanceOf[JArray])) {
            val b64 = java.util.Base64.getDecoder
            val bs = bts.map {
              case JArray(List(JString(mn), JString(mx))) => (b64.decode(mn), b64.decode(mx))
              case _ => return None
            }
            val mn = bs.map(_._1).reduce((a, b) => if (cmpBytes(a, b) <= 0) a else b)
            val mx = bs.map(_._2).reduce((a, b) => if (cmpBytes(a, b) >= 0) a else b)
            val e = java.util.Base64.getEncoder
            out += c -> JObject(List("t" -> tag,
              "b" -> JArray(List(JString(e.encodeToString(mn)),
                JString(e.encodeToString(mx))))))
          }
        }
      }
      if (out.isEmpty) None
      else Some(JsonMethods.compact(JsonMethods.render(JObject(List(
        "r" -> JLong(rows), "c" -> JObject(out.toList))))))
    } catch { case _: Exception => None }
  }

  /** Unsigned-lexicographic compare (UTF8String / DuckDB string order)
    * — THE byte-order definition for the format; zone maps, delete
    * predicates, and residuals all compare through here. */
  private[fls] def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  private def num(v: JValue): Long = v match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case JDouble(d) => d.toLong
    case JDecimal(d) => d.toLong
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }
  private def dbl(v: JValue): Double = v match {
    case JDouble(d) => d
    case JDecimal(d) => d.toDouble
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** File-level keep/skip against the pushed filters. Conservative-keep
    * on: null/garbled stats, filters over virtual columns (their bounds
    * are positional, not file-local — `file_row_number` numbering spans
    * files), or anything the zone-map evaluator cannot decide. `schema`
    * supplies rename history so files written under an earlier column
    * name still prune ([[Format.applyRenames]]). */
  def mayMatch(statsJson: String, filters: Array[Filter], schema: StructType,
      virtualNames: Set[String]): Boolean = {
    if (filters.isEmpty || statsJson == null) return true
    val evaluable = filters.filter(_.references.forall(r => !virtualNames.contains(r)))
    if (evaluable.isEmpty) return true
    toDesc(statsJson) match {
      case None => true
      case Some(desc0) =>
        val desc = Format.applyRenames(desc0, schema)
        val nameToIdx = desc.columns.map(_.name).zipWithIndex.toMap
        graft.fls.connector.FlsZoneMap.mayMatch(
          desc.rowGroups(0), nameToIdx, desc.columns, evaluable, 0L)
    }
  }
}
