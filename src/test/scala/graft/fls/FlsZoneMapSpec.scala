package graft.fls

import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.Format._
import graft.fls.connector.FlsZoneMap

class FlsZoneMapSpec extends AnyFunSuite {

  private def rg(min: Long, max: Long): RowGroupDesc =
    RowGroupDesc(1024, Array(SegmentDesc(0, 0, 0, hasStats = true, min, max, 0, 0)))

  private val cols = Array(ColumnDesc("x", ColumnType(TypeTag.INT64)))
  private val idx = Map("x" -> 0)

  private def keeps(f: Filter, min: Long, max: Long): Boolean =
    FlsZoneMap.mayMatch(rg(min, max), idx, cols, Array(f), 0L)

  test("range and equality pruning") {
    assert(!keeps(EqualTo("x", 5L), 10, 20))
    assert(keeps(EqualTo("x", 15L), 10, 20))
    assert(!keeps(GreaterThan("x", 20L), 10, 20))
    assert(keeps(GreaterThanOrEqual("x", 20L), 10, 20))
    assert(!keeps(LessThan("x", 10L), 10, 20))
    assert(keeps(LessThanOrEqual("x", 10L), 10, 20))
    assert(keeps(In("x", Array(1L, 15L)), 10, 20))
    assert(!keeps(In("x", Array(1L, 2L)), 10, 20))
    // x IN () is FALSE in SQL: a runtime IN whose subquery matched
    // nothing prunes everything, also on a column the file lacks
    assert(!keeps(In("x", Array.empty[Any]), 10, 20))
    assert(!keeps(Or(In("x", Array.empty[Any]), EqualTo("x", 5L)), 10, 20))
    assert(keeps(Or(In("x", Array.empty[Any]), EqualTo("x", 15L)), 10, 20))
    assert(!keeps(In("y", Array.empty[Any]), 10, 20))
  }

  test("IsNull prunes everything (no-NULL format); IsNotNull keeps") {
    assert(!keeps(IsNull("x"), 10, 20))
    assert(keeps(IsNotNull("x"), 10, 20))
  }

  test("And/Or combinations") {
    assert(!keeps(And(GreaterThan("x", 5L), LessThan("x", 8L)), 10, 20))
    assert(keeps(Or(LessThan("x", 5L), GreaterThan("x", 15L)), 10, 20))
    assert(!keeps(Or(LessThan("x", 5L), GreaterThan("x", 50L)), 10, 20))
  }

  test("strict compares never mis-prune past 2^53 (1-ulp margin)") {
    val big = (1L << 53) + 1
    // max = 2^53+1 > 2^53 exactly, but both round to the same double
    assert(keeps(GreaterThan("x", 1L << 53), big - 10, big))
    assert(keeps(LessThan("x", big), big, big + 10))
  }

  test("unknown columns and unconvertible values keep the row group") {
    assert(keeps(EqualTo("y", 5L), 10, 20))
    assert(keeps(EqualTo("x", "not-a-number"), 10, 20))
  }

  // ---- string byte-prefix zone maps (beyond the reference) ----

  private val sCols = Array(ColumnDesc("s", ColumnType(TypeTag.STRING)))
  private val sIdx = Map("s" -> 0)

  private def srg(min: String, max: String): RowGroupDesc =
    RowGroupDesc(1024, Array(SegmentDesc(0, 0, 0, hasStats = false, 0, 0, 0, 0,
      min.getBytes("UTF-8"), max.getBytes("UTF-8"))))

  private def sKeeps(f: Filter, min: String, max: String): Boolean =
    FlsZoneMap.mayMatch(srg(min, max), sIdx, sCols, Array(f), 0L)

  test("string equality and range pruning on byte prefixes") {
    assert(!sKeeps(EqualTo("s", "aardvark"), "banana", "mango"))
    assert(!sKeeps(EqualTo("s", "zebra"), "banana", "mango"))
    assert(sKeeps(EqualTo("s", "cherry"), "banana", "mango"))
    assert(!sKeeps(GreaterThan("s", "mango"), "banana", "mango"))
    assert(sKeeps(GreaterThanOrEqual("s", "mango"), "banana", "mango"))
    assert(!sKeeps(GreaterThanOrEqual("s", "mangoes"), "banana", "mango"))
    assert(!sKeeps(LessThan("s", "banana"), "banana", "mango"))
    assert(sKeeps(LessThanOrEqual("s", "banana"), "banana", "mango"))
    assert(sKeeps(In("s", Array[Any]("aaa", "cherry")), "banana", "mango"))
    assert(!sKeeps(In("s", Array[Any]("aaa", "zzz")), "banana", "mango"))
  }

  test("string prefix (LIKE 'p%') pruning") {
    assert(!sKeeps(StringStartsWith("s", "aa"), "banana", "mango"))
    assert(!sKeeps(StringStartsWith("s", "zz"), "banana", "mango"))
    assert(sKeeps(StringStartsWith("s", "ch"), "banana", "mango"))
    assert(sKeeps(StringStartsWith("s", "ban"), "banana", "mango"))
    assert(sKeeps(StringStartsWith("s", "mango"), "banana", "mango"))
    // boundary: "man" covers values in [man, mao) which intersects the zone
    assert(sKeeps(StringStartsWith("s", "man"), "banana", "mango"))
  }

  test("string stats-less segments and non-string values keep the row group") {
    val noStats = RowGroupDesc(1024, Array(SegmentDesc(0, 0, 0, false, 0, 0, 0, 0)))
    assert(FlsZoneMap.mayMatch(noStats, sIdx, sCols, Array(EqualTo("s", "x")), 0L))
    assert(sKeeps(EqualTo("s", 42L), "banana", "mango")) // type confusion: keep
  }

  test("truncated-prefix semantics stay conservative at the bound") {
    // writer semantics check through Encoder.statsOf: 20-char values
    // truncate to 16; the max prefix increments so it upper-bounds
    val d = BytesData(Array(0, 20, 40),
      ("aaaaaaaaaaaaaaaaaaaa" + "zzzzzzzzzzzzzzzzzzzz").getBytes("UTF-8"))
    val st = Encoder.statsOf(d)
    assert(st.hasByteStats && !st.hasStats)
    assert(new String(st.minBytes, "UTF-8") == "aaaaaaaaaaaaaaaa")
    assert(new String(st.maxBytes, "UTF-8") == "zzzzzzzzzzzzzzz{") // z+1 = {
    val rgT = RowGroupDesc(2, Array(st))
    // the true max "zzz...z" (20 z's) must still be KEPT by an equality
    // on it even though the stored prefix is shorter
    assert(FlsZoneMap.mayMatch(rgT, sIdx, sCols,
      Array(EqualTo("s", "zzzzzzzzzzzzzzzzzzzz")), 0L))
    // and values just past the incremented prefix prune
    assert(!FlsZoneMap.mayMatch(rgT, sIdx, sCols,
      Array(EqualTo("s", "zzzzzzzzzzzzzzz|")), 0L))
  }

  test("all-0xFF max prefix drops stats instead of emitting unsound bounds") {
    val ff = Array.fill[Byte](20)(-1)
    val d = BytesData(Array(0, 20), ff)
    val st = Encoder.statsOf(d)
    assert(!st.hasByteStats)
  }

  test("a sorted runtime IN keeps exactly the zones the linear IN keeps") {
    val rnd = new scala.util.Random(11)
    val dCols = Array(ColumnDesc("d", ColumnType(TypeTag.DOUBLE)))
    val dIdx = Map("d" -> 0)
    // UTF-16 and UTF-8 order disagree on the last two: zones use bytes
    val pool = Array("a", "b", "m", "zz", "\u00e9", "\uE000", "\uD83D\uDE00")
    def bytesCmp(a: String, b: String): Int = {
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      x.zip(y).map { case (p, q) => (p & 0xFF) - (q & 0xFF) }.find(_ != 0)
        .getOrElse(x.length - y.length)
    }
    def agree(z: RowGroupDesc, names: Map[String, Int], cs: Array[ColumnDesc],
        col: String, vs: Array[Any], rowStart: Long = 0L): Unit = {
      val linear = FlsZoneMap.mayMatch(z, names, cs, Array(In(col, vs)), rowStart)
      val sorted = FlsZoneMap.mayMatch(z, names, cs,
        Array(FlsZoneMap.sortIns(And(IsNotNull(col), In(col, vs)))), rowStart)
      assert(linear == sorted, s"$col IN (${vs.mkString(", ")}) on $rowStart")
    }
    for (_ <- 0 until 400) {
      val n = rnd.nextInt(7)
      val lo = rnd.nextInt(40) - 20
      val hi = lo + rnd.nextInt(10)
      def pick[T](gen: => T): Array[Any] = Array.fill[Any](n)(
        if (rnd.nextInt(12) == 0) null else if (rnd.nextInt(12) == 0) "x" else gen)
      val longs = pick((rnd.nextInt(60) - 30).toLong)
      agree(rg(lo, hi), idx, cols, "x", longs)
      agree(rg(lo, hi), idx, cols, "absent", longs)
      agree(RowGroupDesc(hi - lo + 1, Array(SegmentDesc(0, 0, 0, false, 0, 0, 0, 0))),
        idx, cols, connector.FlsVirtual.RowNumber, longs, rowStart = lo + 20L)
      val ds = pick(rnd.nextInt(5) match {
        case 0 => Double.NaN
        case 1 => -0.0
        case _ => rnd.nextInt(60) / 2.0 - 15
      })
      val dz = RowGroupDesc(1024, Array(SegmentDesc(0, 0, 0, hasStats = true, 0, 0,
        lo / 2.0, hi / 2.0)))
      agree(dz, dIdx, dCols, "d", ds)
      val Array(smin, smax) = Array(pool(rnd.nextInt(pool.length)),
        pool(rnd.nextInt(pool.length))).sortWith(bytesCmp(_, _) < 0)
      agree(srg(smin, smax), sIdx, sCols, "s", pick(pool(rnd.nextInt(pool.length))))
    }
    // still an In for every other consumer (partition pruning, executors)
    assert(FlsZoneMap.sortIns(In("x", Array[Any](3L, 1L))) match {
      case In("x", vs) => vs.toSeq == Seq(3L, 1L)
      case _ => false
    })
  }

  test("virtual row-number range pruning") {
    val plain = RowGroupDesc(1024, Array(SegmentDesc(0, 0, 0, false, 0, 0, 0, 0)))
    // row group covers rows [2048, 3072)
    assert(!FlsZoneMap.mayMatch(plain, idx, cols,
      Array(LessThan(connector.FlsVirtual.RowNumber, 1000L)), 2048L))
    assert(FlsZoneMap.mayMatch(plain, idx, cols,
      Array(GreaterThanOrEqual(connector.FlsVirtual.RowNumber, 3000L)), 2048L))
    assert(!FlsZoneMap.mayMatch(plain, idx, cols,
      Array(GreaterThanOrEqual(connector.FlsVirtual.RowNumber, 4000L)), 2048L))
  }
}
