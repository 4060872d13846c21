package graft.fls

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector._

/** Hive-partitioned fls tables: partitioned write (`partition_by`),
  * recursive discovery, typed partition columns, and — the scale
  * property — whole-file pruning at planning time (a partition filter
  * must plan ZERO input partitions for non-matching directories, and
  * never footer-read... the footers are read for listing, but the data
  * files of pruned partitions contribute no scan tasks). */
class FlsPartitioningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-part-spec").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-part-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  import org.apache.spark.sql.connector.read.InputPartition

  /** Plan a scan over `dir` with `filters` pushed, return its input
    * partitions (what a cluster would actually schedule). */
  private def planParts(
      dir: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[InputPartition] = {
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val schema = new FlsDataSource().inferSchema(opts)
    val builder = new FlsScanBuilder(schema, opts)
    builder.pushFilters(filters)
    // pin split packing to one row group per task so partition counts
    // measure PRUNING, not packing
    spark.conf.set("spark.sql.files.openCostInBytes", "134217728")
    try builder.build().toBatch.planInputPartitions()
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  private def sample(): DataFrame = {
    val sp = spark; import sp.implicits._
    (1 to 300).map { i =>
      val country = (i % 3) match { case 0 => "nl"; case 1 => "us"; case _ => "de" }
      val day = 10 + ((i / 3) % 3) // decorrelated from country: all 9 combos occur
      (i.toLong, s"doc-$i", country, java.sql.Date.valueOf(f"2026-08-$day%02d"))
    }.toDF("id", "body", "country", "dt")
  }

  test("partitioned write + read round-trips with typed partition columns") {
    val dir = s"$tmp/two_level"
    // repartition by the partition cols so each combo writes ONE file —
    // the layout a real pipeline produces
    sample().repartition(col("dt"), col("country"))
      .write.format("fls").mode("overwrite")
      .option("partition_by", "dt,country").save(dir)
    val back = spark.read.format("fls").load(dir)
    // partition columns come back AFTER data columns, typed
    assert(back.schema.fieldNames.toSeq == Seq("id", "body", "dt", "country"))
    assert(back.schema("dt").dataType == DateType)
    assert(back.schema("country").dataType == StringType)
    val a = sample().select("id", "body", "dt", "country")
    assert(back.exceptAll(a).count() == 0 && a.exceptAll(back).count() == 0)
    // values live in the path, not the files: 3 dt dirs × 3 countries
    val dtDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filterNot(_.startsWith("_"))
    assert(dtDirs.toSet == Set("dt=2026-08-10", "dt=2026-08-11", "dt=2026-08-12"))

    // BIGINT, SMALLINT and TINYINT partition columns under a declared
    // schema, one of them NULL
    val sp = spark; import sp.implicits._
    val wdir = s"$tmp/int_widths"
    val rows = Seq((1L, 5000000000L, 300.toShort, 7.toByte),
      (2L, -1L, (-2).toShort, (-128).toByte), (3L, 5000000000L, 300.toShort, 127.toByte))
    rows.toDF("id", "b", "s", "t").repartition(col("b"), col("s"), col("t"))
      .write.format("fls").mode("overwrite").option("partition_by", "b,s,t").save(wdir)
    // the writer refuses NULL partition values; external tools write
    // __HIVE_DEFAULT_PARTITION__
    Seq(4L).toDF("id").coalesce(1).write.format("fls").mode("overwrite")
      .save(s"$wdir/b=${FlsPartitioning.DefaultPartitionName}/s=9/t=1")
    val declared = StructType(Seq(StructField("id", LongType),
      StructField("b", LongType), StructField("s", ShortType), StructField("t", ByteType)))
    val widths = spark.read.format("fls").schema(declared).load(wdir)
    assert(widths.schema == declared)
    val got = widths.collect().map(r =>
      (r.getLong(0), Option(r.get(1)), r.getShort(2), r.getByte(3))).sortBy(_._1).toSeq
    assert(got == rows.map { case (i, b, s, t) => (i, Some(b), s, t) } :+
      ((4L, None, 9.toShort, 1.toByte)))
  }

  test("partition filter plans zero input partitions for non-matching dirs") {
    import org.apache.spark.sql.sources._
    val dir = s"$tmp/two_level"
    val all = planParts(dir, Array.empty)
    assert(all.length == 9, s"expected 9 files (3 dt × 3 country), got ${all.length}")
    // equality on the string partition col: 3 of 9 files survive
    val us = planParts(dir, Array(EqualTo("country", "us")))
    assert(us.length == 3, s"country=us should plan 3 partitions, got ${us.length}")
    // date range on dt: 2 of 3 dt dirs survive (6 files)
    val dt = planParts(dir,
      Array(GreaterThanOrEqual("dt", java.sql.Date.valueOf("2026-08-11"))))
    assert(dt.length == 6, s"dt>= should plan 6 partitions, got ${dt.length}")
    // conjunction prunes to exactly one file's worth
    val both = planParts(dir, Array(EqualTo("country", "nl"),
      EqualTo("dt", java.sql.Date.valueOf("2026-08-12"))))
    assert(both.length == 1, s"expected 1 partition, got ${both.length}")
    // no-match prunes everything
    val none = planParts(dir, Array(EqualTo("country", "jp")))
    assert(none.isEmpty, s"country=jp should plan 0 partitions, got ${none.length}")
  }

  test("partition-filtered query returns the same rows as a post-filter") {
    val dir = s"$tmp/two_level"
    val back = spark.read.format("fls").load(dir)
    val filtered = back.filter(col("country") === "nl" && col("dt") >= "2026-08-11")
    val expected = sample().select("id", "body", "dt", "country")
      .filter(col("country") === "nl" && col("dt") >= "2026-08-11")
    assert(filtered.exceptAll(expected).count() == 0 &&
      expected.exceptAll(filtered).count() == 0)
    // and the physical plan only schedules the matching files
    val parts = filtered.rdd.getNumPartitions
    assert(parts <= 2, s"expected <=2 scheduled partitions, got $parts")
  }

  test("integer partition values infer IntegerType and prune on ranges") {
    import org.apache.spark.sql.sources._
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/int_part"
    (1 to 100).map(i => (i.toLong, i % 5)).toDF("id", "bucket")
      .repartition(col("bucket"))
      .write.format("fls").mode("overwrite").option("partition_by", "bucket").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.schema("bucket").dataType == IntegerType)
    assert(back.filter($"bucket" > 2).count() == 40)
    assert(planParts(dir, Array(GreaterThan("bucket", 2))).length == 2)
    assert(planParts(dir, Array(In("bucket", Array[Any](0, 4)))).length == 2)
  }

  test("special characters in partition values escape and round-trip") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/escaped"
    val odd = Seq((1L, "a/b"), (2L, "c:d=e"), (3L, "plain"), (4L, "x%20y"))
    odd.toDF("id", "k").write.format("fls").mode("overwrite")
      .option("partition_by", "k").save(dir)
    val back = spark.read.format("fls").load(dir)
      .select("id", "k").as[(Long, String)].collect().sortBy(_._1)
    assert(back.toSeq == odd)
  }

  test("partition pruning composes with zone maps and virtual columns") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/zm_combo"
    (1 to 4096).map(i => (i.toLong, if (i <= 2048) "a" else "b"))
      .toDF("id", "g")
      .repartition(1).sortWithinPartitions("g", "id")
      .write.format("fls").mode("overwrite")
      .option("partition_by", "g").option("row_group_size", 1024).save(dir)
    import org.apache.spark.sql.sources._
    // g=b kills 2 files... 1 dir; id<=1024 zone-prunes 1 of g=a's 2 row groups
    val parts = planParts(dir, Array(EqualTo("g", "a"), LessThanOrEqual("id", 1024L)))
    assert(parts.length == 1, s"expected 1 row group after both prunings, got ${parts.length}")
    val got = spark.read.format("fls").load(dir)
      .filter($"g" === "a" && $"id" <= 1024).count()
    assert(got == 1024)
  }

  test("runtime (DPP-style) filters prune partition files after planning") {
    import org.apache.spark.sql.sources._
    val dir = s"$tmp/two_level"
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val schema = new FlsDataSource().inferSchema(opts)
    val builder = new FlsScanBuilder(schema, opts)
    builder.pushFilters(Array.empty)
    val scan = builder.build().asInstanceOf[FlsScan]
    spark.conf.set("spark.sql.files.openCostInBytes", "134217728") // 1 rg/split
    try {
      assert(scan.toBatch.planInputPartitions().length == 9)
      // Spark injects join-derived filters via SupportsRuntimeFiltering
      // AFTER planning — partition columns must be advertised and prune
      assert(scan.filterAttributes().map(_.describe()).contains("country"))
      scan.filter(Array[Filter](In("country", Array[Any]("us"))))
      assert(scan.toBatch.planInputPartitions().length == 3,
        "runtime In-filter on a partition column must prune whole files")
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  test("aggregates with decided partition filters answer from metadata") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/two_level"
    def load = spark.read.format("fls").load(dir)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // COUNT with an equality partition filter: pure metadata
    val c1 = load.filter($"country" === "us").agg(count(lit(1)))
    assert(planOf(c1).contains("metadata-aggregate"), planOf(c1))
    assert(c1.collect()(0).getLong(0) == sample().filter($"country" === "us").count())
    // date-range partition filter too
    val c2 = load.filter($"dt" >= "2026-08-11").agg(count(lit(1)))
    assert(planOf(c2).contains("metadata-aggregate"), planOf(c2))
    assert(c2.collect()(0).getLong(0) == sample().filter($"dt" >= "2026-08-11").count())
    // no-match partition filter: metadata COUNT of zero
    val c3 = load.filter($"country" === "jp").agg(count(lit(1)))
    assert(planOf(c3).contains("metadata-aggregate"), planOf(c3))
    assert(c3.collect()(0).getLong(0) == 0L)
    // MIN/MAX over the decided-true subset
    val m1 = load.filter($"country" === "us").agg(min("id"), max("id"))
    assert(planOf(m1).contains("metadata-aggregate"), planOf(m1))
    assert(m1.collect()(0).toSeq == Seq(1L, 298L))
    // MIN over a fully-pruned subset must fall back and yield NULL
    val m2 = load.filter($"country" === "jp").agg(min("id"))
    assert(!planOf(m2).contains("metadata-aggregate"), planOf(m2))
    assert(m2.collect()(0).isNullAt(0))
    // a data-column filter alongside keeps the aggregate off metadata
    val c4 = load.filter($"country" === "us" && $"id" > 100).agg(count(lit(1)))
    assert(!planOf(c4).contains("metadata-aggregate"), planOf(c4))
    assert(c4.collect()(0).getLong(0) ==
      sample().filter($"country" === "us" && $"id" > 100).count())
  }

  test("GROUP BY partition columns answers from metadata (one row per live dir)") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/two_level"
    def load = spark.read.format("fls").load(dir)
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString

    // single partition group column, count + min/max of a data column
    val g1 = load.groupBy($"country")
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
      .orderBy("country")
    assert(planOf(g1).contains("metadata-aggregate") && planOf(g1).contains("group by"),
      planOf(g1))
    val exp1 = sample().groupBy($"country")
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
      .orderBy("country").collect().toSeq
    assert(g1.collect().toSeq == exp1)

    // both partition columns (typed date group value decoded from paths)
    val g2 = load.groupBy($"dt", $"country").agg(count(lit(1)).as("n"))
      .orderBy("dt", "country")
    assert(planOf(g2).contains("metadata-aggregate"), planOf(g2))
    assert(g2.collect().toSeq ==
      sample().groupBy($"dt", $"country").agg(count(lit(1)).as("n"))
        .orderBy("dt", "country").collect().toSeq)

    // a decided partition filter composes: agg over the pruned subset
    val g3 = load.filter($"country" === "us").groupBy($"dt").agg(count(lit(1)).as("n"))
      .orderBy("dt")
    assert(planOf(g3).contains("metadata-aggregate"), planOf(g3))
    assert(g3.collect().toSeq ==
      sample().filter($"country" === "us").groupBy($"dt").agg(count(lit(1)).as("n"))
        .orderBy("dt").collect().toSeq)

    // no-match filter + grouping: EMPTY result (not a zero row)
    val g5 = load.filter($"country" === "jp").groupBy($"dt").agg(min("id"))
    assert(planOf(g5).contains("metadata-aggregate"), planOf(g5))
    assert(g5.collect().isEmpty)

    // grouping by a DATA column cannot come from metadata
    val g4 = load.groupBy($"body").agg(count(lit(1)))
    assert(!planOf(g4).contains("metadata-aggregate"), planOf(g4))

    // SELECT DISTINCT <partition col> = grouping with zero aggregates:
    // the live partition values, straight from the directory names
    val g6 = load.select("country").distinct().orderBy("country")
    assert(planOf(g6).contains("metadata-aggregate"), planOf(g6))
    assert(g6.collect().map(_.getString(0)).toSeq == Seq("de", "nl", "us"))
  }

  test("three-valued logic: Not over null partition values stays excluded") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    val t1 = Map[String, DataType]("dt" -> StringType)
    // NOT(dt = 'x') on a null-dt file: SQL NULL -> row excluded (a
    // boolean-collapsing evaluator would wrongly invert to true)
    assert(FlsPartitioning.evaluates(Not(EqualTo("dt", "x")), t1,
      Seq("dt"), Array[String](null)) == Some(false))
    // ...but decided-true on a plain mismatch
    assert(FlsPartitioning.evaluates(Not(EqualTo("dt", "x")), t1,
      Seq("dt"), Array("y")) == Some(true))
    // UNKNOWN OR FALSE = UNKNOWN -> still excluded
    val t2 = Map[String, DataType]("dt" -> StringType, "country" -> StringType)
    assert(FlsPartitioning.evaluates(
      Or(Not(EqualTo("dt", "x")), EqualTo("country", "jp")),
      t2, Seq("dt", "country"), Array[String](null, "us")) == Some(false))
    // filters over unknown/data columns stay undecided through Not
    assert(FlsPartitioning.evaluates(Not(EqualTo("body", "z")), t1,
      Seq("dt"), Array("y")).isEmpty)
    // IS NULL / null-safe equality decide on the default partition
    assert(FlsPartitioning.evaluates(IsNull("dt"), t1,
      Seq("dt"), Array[String](null)) == Some(true))
    assert(FlsPartitioning.evaluates(EqualNullSafe("dt", null), t1,
      Seq("dt"), Array[String](null)) == Some(true))
    assert(FlsPartitioning.evaluates(In("dt", Array[Any]("x", "y")), t1,
      Seq("dt"), Array[String](null)) == Some(false))
  }

  test("externally-written default partition: negated filters exclude null rows") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/defpart"
    // build a hive layout by hand (our writer rejects NULL partition
    // values; external tools emit __HIVE_DEFAULT_PARTITION__)
    Seq((1L, 10L)).toDF("id", "v").coalesce(1)
      .write.format("fls").mode("overwrite").save(s"$dir/k=a")
    Seq((2L, 20L)).toDF("id", "v").coalesce(1)
      .write.format("fls").mode("overwrite").save(s"$dir/k=b")
    Seq((3L, 30L)).toDF("id", "v").coalesce(1)
      .write.format("fls").mode("overwrite")
      .save(s"$dir/k=${FlsPartitioning.DefaultPartitionName}")
    val back = spark.read.format("fls").load(dir)
    assert(back.schema("k").nullable)
    // SQL: NOT(k = 'a') excludes the NULL partition too
    assert(back.filter(!(col("k") === "a")).select("id").as[Long].collect().toSeq
      == Seq(2L))
    assert(back.filter(col("k").isNull).select("id").as[Long].collect().toSeq
      == Seq(3L))
    // metadata COUNT with a decided filter stays exact across the nulls
    val c = back.filter(col("k") === "b").agg(count(lit(1)))
    assert(c.collect()(0).getLong(0) == 1L)
  }

  test("truncate-mode overwrite of a partitioned table removes stale partitions") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/overwrite"
    Seq((1L, "old")).toDF("id", "p").write.format("fls")
      .mode("overwrite").option("partition_by", "p").save(dir)
    Seq((2L, "new")).toDF("id", "p").write.format("fls")
      .mode("overwrite").option("partition_by", "p").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.select("id", "p").as[(Long, String)].collect().toSeq == Seq((2L, "new")))
  }

  test("append with a different partition layout fails loudly, not mixed") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/mixed"
    Seq((1L, 1L)).toDF("id", "v").write.format("fls").mode("overwrite").save(dir)
    // appending a PARTITIONED write onto a flat table would silently
    // produce a mixed layout (discovery off, partition values lost) —
    // the writer must reject it before any task runs
    val e1 = intercept[Exception] {
      Seq((2L, 2L)).toDF("id", "v").write.format("fls").mode("append")
        .option("partition_by", "v").save(dir)
    }
    assert(e1.getMessage.contains("partition layout"), e1.getMessage)
    // ...and the reverse: flat append onto a partitioned table
    val pdir = s"$tmp/mixed_p"
    Seq((1L, 1L)).toDF("id", "v").write.format("fls").mode("overwrite")
      .option("partition_by", "v").save(pdir)
    val e2 = intercept[Exception] {
      Seq((2L, 2L)).toDF("id", "v").write.format("fls").mode("append").save(pdir)
    }
    assert(e2.getMessage.contains("partition layout"), e2.getMessage)
    // matching layout still appends fine
    Seq((3L, 1L)).toDF("id", "v").write.format("fls").mode("append")
      .option("partition_by", "v").save(pdir)
    assert(spark.read.format("fls").load(pdir).count() == 2)
    // original flat table unharmed
    assert(spark.read.format("fls").load(dir).count() == 1)
  }

  test("boolean partition values infer BooleanType and round-trip") {
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/bool_part"
    Seq((1L, true), (2L, false), (3L, true)).toDF("id", "flag")
      .repartition(col("flag"))
      .write.format("fls").mode("overwrite").option("partition_by", "flag").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.schema("flag").dataType == org.apache.spark.sql.types.BooleanType)
    assert(back.filter(col("flag")).select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    import org.apache.spark.sql.sources._
    assert(planParts(dir, Array(EqualTo("flag", true))).length == 1)
  }

  test("unparseable partition value under a user schema keeps the file (no planning crash)") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    // external layout: k=abc, but the user schema types k as INT —
    // pruning must treat the file as unprunable, not throw
    assert(FlsPartitioning.mayMatch(Array(EqualTo("k", 1)),
      Map("k" -> IntegerType), Seq("k"), Array("abc")))
    // and a type castRaw doesn't support at all
    assert(FlsPartitioning.mayMatch(Array(EqualTo("k", new java.sql.Timestamp(0))),
      Map("k" -> TimestampType), Seq("k"), Array("2026-08-12 00:00:00")))
  }
}
