package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftexprs.GraftFunctions
import org.apache.spark.sql.types.LongType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The word-shingle kernels ([[org.apache.spark.sql.graftexprs.TextKernels]])
  * against the Spark expressions they replaced, evaluated row for row in
  * one session over 10^4+ seeded texts. The sf0.01 testdata is ASCII with
  * single spaces, so the gate oracle alone would miss a tokenization or
  * code-point slip: these texts carry runs of spaces, leading and
  * trailing spaces, `''`, NULL, 1-3 tokens, and 2-, 3- and 4-byte UTF-8
  * including supplementary code points. Every comparison runs with
  * whole-stage codegen on, with it off, and fully interpreted. */
class TextExprsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = Files.createTempDirectory("text_exprs").toString

  // ---- the replaced expressions, kept here only as references ----

  /** q30's positional word 3-grams: `text` split three times per shingle. */
  private val PosShinglesSpark: String =
    """CASE WHEN size(split(text, ' ')) >= 3 THEN
         transform(sequence(1, size(split(text, ' ')) - 2),
           i -> concat(element_at(split(text, ' '), i), ' ',
                       element_at(split(text, ' '), i + 1), ' ',
                       element_at(split(text, ' '), i + 2)))
       ELSE CAST(array() AS ARRAY<STRING>) END"""

  /** q30's shingle hash: the shingle split into one-character strings. */
  private val ShingleHashSpark: String =
    "aggregate(split(s, ''), CAST(7 AS BIGINT), (a, c) -> pmod(a * 31 + ascii(c), 4294967296))"

  /** q30's winnowing over `hs`. */
  private val MinsSpark: String =
    """CASE WHEN size(hs) >= 4 THEN
         array_distinct(transform(sequence(1, size(hs) - 3),
           t -> array_min(slice(hs, t, 4))))
       WHEN size(hs) > 0 THEN array(array_min(hs))
       ELSE CAST(array() AS ARRAY<BIGINT>) END"""

  /** q30's fingerprint sum. */
  private val SumSpark: String =
    "coalesce(aggregate(mins, CAST(0 AS BIGINT), (a, x) -> a + x), CAST(0 AS BIGINT))"

  /** The dedup shingle set of q21-q23 and q119. */
  private val ShinglesSetSpark: String =
    """CASE WHEN size(split(text, ' ')) >= 3 THEN
         array_distinct(transform(sequence(1, size(split(text, ' ')) - 2),
           i -> concat(element_at(split(text, ' '), i), ' ',
                       element_at(split(text, ' '), i + 1), ' ',
                       element_at(split(text, ' '), i + 2))))
       ELSE CAST(array() AS ARRAY<STRING>) END"""

  /** Word n-grams for any n, through `split` and `slice`. */
  private def nGramsSpark(n: Int): String =
    s"""CASE WHEN size(split(text, ' ')) >= $n THEN
          transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
            i -> array_join(slice(split(text, ' '), i, $n), ' '))
        ELSE CAST(array() AS ARRAY<STRING>) END"""

  // ---- seeded corpus ----

  /** 1-, 2-, 3- and 4-byte UTF-8; U+10000 and U+10FFFF bound the
    * supplementary planes. */
  private val Words = Seq("a", "the", "zz", "\u00e9", "na\u00efve", "\u4e2d\u6587",
    "\u65e5\u672c\u8a9e", "\u20ac", "\ud83d\ude00", "a\ud83d\ude00b", "\ud800\udc00",
    "\udbff\udfff", "x y", "tab\tin", "\u03a9\u03bc\u03ad\u03b3\u03b1",
    "\ud834\udd1eclef", "ab", "ba", "q")

  private val Fixed: Seq[String] = Seq("", " ", "  ", "   ", "a", "a ", " a",
    "a b", "a  b", " a b", "a b ", "a b c", " a b c", "a b c ", "a  b  c",
    "\ud83d\ude00", "\ud83d\ude00 \ud83d\ude00", "\ud83d\ude00 \ud83d\ude00 \ud83d\ude00",
    "\u00e9 \u4e2d \ud83d\ude00", " \ud83d\ude00  \u4e2d \u00e9 ", "a b c d", "a b c d e")

  private def texts(seed: Long, n: Int): Seq[String] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n) {
      val tokens = r.nextInt(10) match {
        case 0 => 0
        case 1 => 1
        case 2 => 2
        case 3 => 3
        case 4 => 4 + r.nextInt(3)
        case _ => r.nextInt(40)
      }
      val sb = new StringBuilder
      if (r.nextInt(5) == 0) sb.append(" " * (1 + r.nextInt(3)))
      var i = 0
      while (i < tokens) {
        if (i > 0) sb.append(if (r.nextInt(6) == 0) " " * (2 + r.nextInt(3)) else " ")
        sb.append(Words(r.nextInt(Words.size)))
        i += 1
      }
      if (r.nextInt(5) == 0) sb.append(" " * (1 + r.nextInt(3)))
      sb.toString
    }
  }

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rows = (Fixed.map(Option(_)) ++ Seq(None) ++ texts(42L, 10000).map(Option(_)))
      .zipWithIndex.map { case (t, i) => (i.toLong, t.orNull) }
    val s = spark
    import s.implicits._
    // through parquet, so no optimizer rule folds the expressions over
    // a local relation
    rows.toDF("doc_id", "text").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // the replaced expressions are O(words²) lambdas: evaluate each once
    // (in this session), and compare every kernel mode against that
    docs
      .withColumn("sh3", expr(PosShinglesSpark))
      .withColumn("sh1", expr(nGramsSpark(1)))
      .withColumn("sh2", expr(nGramsSpark(2)))
      .withColumn("sh4", expr(nGramsSpark(4)))
      .withColumn("set3", expr(ShinglesSetSpark))
      .withColumn("hs", expr(s"transform($PosShinglesSpark, s -> $ShingleHashSpark)"))
      .withColumn("mins", expr(MinsSpark))
      .withColumn("fp_count", size(col("mins")).cast("long"))
      .withColumn("fp_min", expr("coalesce(array_min(mins), CAST(0 AS BIGINT))"))
      .withColumn("fp_sum", expr(SumSpark))
      .write.mode("overwrite").parquet(s"$dir/refs.parquet")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  private def refs: DataFrame = spark.read.parquet(s"$dir/refs.parquet")
  private def texts: DataFrame = refs.filter(col("text").isNotNull)

  private val Modes = Seq(
    "whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "true"),
    "no whole-stage codegen" -> Map("spark.sql.codegen.wholeStage" -> "false"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def inEveryMode(f: String => Unit): Unit =
    Modes.foreach { case (mode, conf) =>
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try f(mode) finally conf.keys.foreach(spark.conf.unset)
    }

  /** No row of `df` where `got` and `want` differ (null-safe), in every mode. */
  private def assertSame(df: DataFrame, got: Column, want: Column): Unit =
    inEveryMode { mode =>
      val bad = df.select(col("*"), got.as("got"), want.as("want"))
        .filter(!(col("got") <=> col("want")))
      val n = bad.count()
      assert(n == 0, s"[$mode] $n rows differ, e.g.\n" +
        bad.limit(5).collect().mkString("\n"))
    }

  test("the seeded corpus holds the edge cases it is meant to") {
    val ts = docs.collect().map(r => Option(r.getString(1)))
    assert(ts.length >= 10000)
    assert(ts.contains(None) && ts.contains(Some("")))
    val s = ts.flatten
    assert(s.exists(_.contains("  ")) && s.exists(_.startsWith(" ")) &&
      s.exists(_.endsWith(" ")))
    Seq(1, 2, 3).foreach(k => assert(s.exists(_.split(" ", -1).length == k)))
    val bytes = s.flatMap(_.codePoints().toArray.map(cp =>
      new String(Character.toChars(cp)).getBytes("UTF-8").length)).toSet
    assert(bytes == Set(1, 2, 3, 4), bytes)
  }

  test("wordShingles(text, 3) equals the split/transform shingles; NULL for NULL") {
    assertSame(texts, GraftFunctions.wordShingles(col("text"), 3), col("sh3"))
    assert(docs.filter(col("text").isNull)
      .select(GraftFunctions.wordShingles(col("text"), 3).isNull).head().getBoolean(0))
  }

  test("wordShingles(text, n) equals split/slice n-grams for n = 1, 2, 4") {
    Seq(1, 2, 4).foreach { n =>
      assertSame(texts, GraftFunctions.wordShingles(col("text"), n), col(s"sh$n"))
    }
  }

  test("shingleHashes(text, 3) equals hashing each shingle's characters; NULL for NULL") {
    assertSame(texts, GraftFunctions.shingleHashes(col("text"), 3), col("hs"))
    assert(docs.filter(col("text").isNull)
      .select(GraftFunctions.shingleHashes(col("text"), 3).isNull).head().getBoolean(0))
  }

  test("winnow(hs, 4) equals the slice/array_min/array_distinct minima") {
    assertSame(texts, GraftFunctions.winnow(col("hs"), 4), col("mins"))
    // arrays with repeats and NULL elements, windows of only NULLs
    val odd = spark.range(0, 10000).toDF("id").withColumn("hs", expr(
      """transform(sequence(0, CAST(id % 13 AS INT) - 1), i ->
           CASE WHEN (id + i) % 7 = 0 THEN CAST(NULL AS BIGINT)
                WHEN id % 5 = 0 THEN CAST(NULL AS BIGINT)
                ELSE (id * 31 + i * 17) % 11 END)"""))
    assertSame(odd, GraftFunctions.winnow(col("hs"), 4), expr(MinsSpark))
  }

  test("arraySum equals the aggregate sum; NULL on a NULL element") {
    assertSame(texts, GraftFunctions.arraySum(col("mins")), col("fp_sum"))
    val odd = spark.range(0, 1000).toDF("id").withColumn("xs", expr(
      """transform(sequence(0, CAST(id % 6 AS INT) - 1), i ->
           CASE WHEN id % 4 = 0 AND i = 1 THEN CAST(NULL AS BIGINT) ELSE id - i * 3 END)"""))
    assertSame(odd, GraftFunctions.arraySum(col("xs")),
      expr("aggregate(xs, CAST(0 AS BIGINT), (a, x) -> a + x)"))
  }

  test("Dedup.shingleSet equals the old shingle-set expression, NULL text included") {
    assertSame(refs, graft.queries.Dedup.shingleSet(col("text")), col("set3"))
  }

  test("q30 equals its old HOF body row for row, NULL text included") {
    val want = refs.select("doc_id", "fp_count", "fp_min", "fp_sum")
      .orderBy("doc_id").collect().toSeq
    inEveryMode { mode =>
      val got = graft.queries.TextAnalysis.q30Fingerprint(spark, dir)
      assert(got.schema.map(f => f.name -> f.dataType) ==
        Seq("doc_id" -> LongType, "fp_count" -> LongType, "fp_min" -> LongType,
          "fp_sum" -> LongType), got.schema)
      assert(got.collect().toSeq == want, mode)
    }
  }
}
