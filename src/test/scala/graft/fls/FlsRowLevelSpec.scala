package graft.fls

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Row-level operations (FlsRowLevelOperation): UPDATE, MERGE INTO and
  * the copy-on-write DELETE leg — group-based replacement where the
  * scan reads affected FILES whole and the commit swaps exactly them. */
class FlsRowLevelSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-rowlevel").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-rowlevel-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def mkPartitioned(name: String, dir: String,
      extra: (String, String)*): Unit = {
    val sp = spark; import sp.implicits._
    (1 to 300).map(i => (i.toLong, s"old-$i", (i % 3).toString))
      .toDF("id", "body", "k")
      .write.format("fls").mode("overwrite").option("partition_by", "k")
      .options(extra.toMap).save(dir)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val opts = if (extra.isEmpty) ""
      else "OPTIONS (" + extra.map { case (k, v) => s"$k '$v'" }.mkString(", ") + ") "
    spark.sql(s"CREATE TABLE $name (id BIGINT, body STRING, k STRING) " +
      s"USING fls PARTITIONED BY (k) $opts LOCATION '$dir'")
  }

  private def fileNames(dir: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    FlsFile.listDataFiles(new org.apache.hadoop.fs.Path(dir), conf)
      .map(_.toString).toSet
  }

  test("UPDATE with a data-column predicate rewrites rows exactly, SQL end-to-end") {
    val dir = s"$tmp/update"
    mkPartitioned("fls_rl_u", dir)
    spark.sql("UPDATE fls_rl_u SET body = concat('new-', id) WHERE id % 10 = 0")
    val t = spark.table("fls_rl_u")
    assert(t.count() == 300)
    assert(t.filter(col("body").startsWith("new-")).count() == 30)
    assert(t.filter(col("body").startsWith("old-")).count() == 270)
    // untouched rows are bit-identical
    assert(t.filter(col("id") === 7L).select("body").collect()(0).getString(0) == "old-7")
    assert(t.filter(col("id") === 10L).select("body").collect()(0).getString(0) == "new-10")
    // partition layout survived the rewrite
    assert(t.filter(col("k") =!= pmod(col("id"), lit(3)).cast("string")).count() == 0)
    spark.sql("DROP TABLE fls_rl_u")
  }

  test("UPDATE narrowed to one partition leaves the other partitions' files in place") {
    val dir = s"$tmp/update_narrow"
    mkPartitioned("fls_rl_n", dir)
    val before = fileNames(dir)
    spark.sql("UPDATE fls_rl_n SET body = 'patched' WHERE k = '1' AND id < 50")
    val after = fileNames(dir)
    val t = spark.table("fls_rl_n")
    assert(t.filter(col("body") === "patched").count() ==
      (1 until 50).count(_ % 3 == 1))
    // files of k=0 / k=2 were not rewritten (the static k = '1' filter
    // pruned them)
    val untouched = before.filter(f => f.contains("k=0") || f.contains("k=2"))
    assert(untouched.subsetOf(after), "unaffected partitions must keep their files")
    spark.sql("DROP TABLE fls_rl_n")
  }

  test("copy-on-write DELETE: data-column predicate on a partitioned table") {
    val dir = s"$tmp/cow_delete"
    mkPartitioned("fls_rl_d", dir)
    // FlsDelete.canDeleteWhere is false here (no file decides id%7) —
    // the row-level path takes over instead of rejecting
    spark.sql("DELETE FROM fls_rl_d WHERE id % 7 = 0")
    val t = spark.table("fls_rl_d")
    assert(t.count() == 300 - (1 to 300).count(_ % 7 == 0))
    assert(t.filter(pmod(col("id"), lit(7)) === 0).count() == 0)
    // survivors intact
    assert(t.filter(col("id") === 1L).count() == 1)
    spark.sql("DROP TABLE fls_rl_d")
  }

  test("MERGE INTO: matched update + not-matched insert") {
    val dir = s"$tmp/merge"
    mkPartitioned("fls_rl_m", dir)
    val before = fileNames(dir)
    val sp = spark; import sp.implicits._
    Seq((5L, "merged-5", "2"), (301L, "merged-301", "1"))
      .toDF("id", "body", "k").createOrReplaceTempView("rl_source")
    spark.sql("""
      MERGE INTO fls_rl_m t USING rl_source s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.body = s.body
      WHEN NOT MATCHED THEN INSERT (id, body, k) VALUES (s.id, s.body, s.k)""")
    val t = spark.table("fls_rl_m")
    assert(t.count() == 301)
    assert(t.filter(col("id") === 5L).select("body").collect()(0).getString(0) == "merged-5")
    // the matched row keeps its ORIGINAL partition (only body updated)
    assert(t.filter(col("id") === 5L).select("k").collect()(0).getString(0) == "2")
    assert(t.filter(col("id") === 301L).select("k").collect()(0).getString(0) == "1")
    assert(t.filter(col("body").startsWith("old-")).count() == 299)
    // only the matched row's partition (k=2) is rewritten: runtime group
    // filtering on `k` kept the k=0 and k=1 files out of the group scan
    val after = fileNames(dir)
    val unmatched = before.filterNot(_.contains("k=2"))
    assert(unmatched.nonEmpty && unmatched.subsetOf(after),
      s"unmatched partitions must keep their files: ${unmatched -- after}")
    assert(before.filter(_.contains("k=2")).intersect(after).isEmpty)
    spark.sql("DROP TABLE fls_rl_m")
  }

  test("MERGE matching a row in the default partition never loses the match") {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.fls.connector.{FlsInputPartition, FlsPartitioning, FlsRowLevelOperation, FlsScan}
    val sp = spark; import sp.implicits._
    val dir = s"$tmp/merge_defpart"
    val default = s"k=${FlsPartitioning.DefaultPartitionName}"
    // a hive layout with a NULL partition, built by hand: the writer
    // rejects NULL partition values, external tools emit the default one
    Seq("k=a" -> 1L, "k=b" -> 2L, default -> 3L).foreach { case (part, id) =>
      Seq((id, s"old-$id")).toDF("id", "body").coalesce(1)
        .write.format("fls").mode("overwrite").save(s"$dir/$part")
    }
    // a match in the NULL partition makes the runtime filter
    // `k IN (NULL, 'a')`, which is never TRUE there: the group scan
    // must still plan that partition's file
    def planned(keys: Any*): Set[String] = {
      val scan = new FlsRowLevelOperation(Command.MERGE,
          spark.read.format("fls").load(dir).schema,
          new CaseInsensitiveStringMap(Map("path" -> dir).asJava), spark)
        .newScanBuilder(CaseInsensitiveStringMap.empty()).build().asInstanceOf[FlsScan]
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", keys.toArray)))
      scan.planInputPartitions().toSet.flatMap((p: org.apache.spark.sql.connector.read.InputPartition) =>
        p.asInstanceOf[FlsInputPartition].chunks.map(c =>
          new org.apache.hadoop.fs.Path(c.file).getParent.getName))
    }
    assert(planned(null, "a") == Set("k=a", default))
    assert(planned("a") == Set("k=a"))
    assert(planned(null) == Set(default))

    spark.sql("DROP TABLE IF EXISTS fls_rl_dp")
    spark.sql("CREATE TABLE fls_rl_dp (id BIGINT, body STRING, k STRING) " +
      s"USING fls PARTITIONED BY (k) LOCATION '$dir'")
    def rows = spark.table("fls_rl_dp").select("id", "body").as[(Long, String)]
      .collect().toSet
    def merge(ids: Long*): Unit = {
      ids.map(i => (i, s"merged-$i")).toDF("id", "body")
        .createOrReplaceTempView("rl_defpart_src")
      spark.sql("""
        MERGE INTO fls_rl_dp t USING rl_defpart_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET t.body = s.body
        WHEN NOT MATCHED THEN INSERT (id, body, k) VALUES (s.id, s.body, 'c')""")
    }
    val before = fileNames(dir)
    // end to end, the rewrite then refuses the NULL partition value: a
    // loud failure, not a lost update plus a duplicate insert. With 4
    // write tasks a sibling may commit after the job aborted; its files
    // stay staged, since only the job commit publishes
    val e = intercept[Exception](merge(1L, 3L))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("NULL in partition column")), e)
    assert(rows == Set((1L, "old-1"), (2L, "old-2"), (3L, "old-3")))
    assert(fileNames(dir) == before)
    // a MERGE that matches only `k = 'a'` leaves the default partition alone
    merge(1L, 4L)
    assert(rows == Set((1L, "merged-1"), (2L, "old-2"), (3L, "old-3"), (4L, "merged-4")))
    val kept = before.filterNot(_.contains("k=a"))
    assert(kept.subsetOf(fileNames(dir)), s"${kept -- fileNames(dir)}")
    spark.sql("DROP TABLE fls_rl_dp")
  }

  test("manifest table: UPDATE publishes ONE CAS version; old files stay for vacuum") {
    val dir = s"$tmp/manifest_u"
    mkPartitioned("fls_rl_mf", dir, "commit_mode" -> "manifest")
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    val (v0, entries0) = FlsManifest.readVersioned(fs, root).get
    spark.sql("UPDATE fls_rl_mf SET body = 'bumped' WHERE id % 10 = 0")
    val (v1, _) = FlsManifest.readVersioned(fs, root).get
    assert(v1 == v0 + 1, "update must publish exactly one new version")
    assert(spark.table("fls_rl_mf").filter(col("body") === "bumped").count() == 30)
    // pinned snapshot still reads the pre-update table
    assert(spark.read.format("fls").option("manifest_version", v0.toString)
      .load(dir).filter(col("body") === "bumped").count() == 0)
    assert(entries0.map(_.rel).forall(r =>
      fs.exists(new org.apache.hadoop.fs.Path(root, r))))
    spark.sql("DROP TABLE fls_rl_mf")
  }

  /** A manifest table of ids 1..10000 in `v, id, body` order, clustered
    * on `id` into files of one 1024-row group: every file holds one
    * disjoint id range, and `v` (numeric) comes first so the cluster
    * column is not simply the first prunable one. */
  private def mkClustered(name: String, dir: String): Unit = {
    val sp = spark; import sp.implicits._
    val layout = Seq("commit_mode" -> "manifest", "cluster_by" -> "id",
      "row_group_size" -> "1024", "row_groups_per_file" -> "1")
    (1 to 10000).map(i => ((i % 7).toLong, i.toLong, s"old-$i"))
      .toDF("v", "id", "body")
      .write.format("fls").mode("overwrite").options(layout.toMap).save(dir)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING fls OPTIONS (path '$dir', " +
      layout.map { case (k, v) => s"$k '$v'" }.mkString(", ") + ")")
  }

  /** Live files of a manifest table → their `[min, max]` of `id`. */
  private def idRanges(dir: String): Map[String, (Long, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    FlsFooters.list(Seq(dir), conf, None).map { e =>
      val i = e.table.columns.indexWhere(_.name == "id")
      val segs = e.table.rowGroups.map(_.segments(i))
      e.file.toString -> (segs.map(_.minLong).min, segs.map(_.maxLong).max)
    }.toMap
  }

  private def mergeUpsert(table: String, rows: Seq[(Long, Long, String)]): Unit = {
    val sp = spark; import sp.implicits._
    rows.toDF("v", "id", "body").createOrReplaceTempView("rl_cluster_src")
    spark.sql(s"""
      MERGE INTO $table t USING rl_cluster_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET t.body = s.body
      WHEN NOT MATCHED THEN INSERT *""")
  }

  test("MERGE on a clustered table rewrites only the files holding a matched key") {
    val dir = s"$tmp/merge_clustered"
    mkClustered("fls_rl_mc", dir)
    val before = idRanges(dir)
    assert(before.size >= 8, s"expected small files, got ${before.size}")
    val matched = Seq(5L, 7L, 4555L)
    mergeUpsert("fls_rl_mc",
      matched.map(k => (0L, k, s"merged-$k")) :+ ((0L, 50000L, "fresh")))
    val after = idRanges(dir)
    val holding = before.filter { case (_, (mn, mx)) =>
      matched.exists(k => k >= mn && k <= mx) }.keySet
    assert(holding.nonEmpty && holding.size < before.size)
    assert(before.keySet -- after.keySet == holding,
      "exactly the files whose id range holds a matched key are replaced")
    val t = spark.table("fls_rl_mc")
    assert(t.count() == 10001)
    assert(t.filter(col("body").startsWith("merged-")).count() == matched.size)
    assert(t.filter(col("id") === 4555L).select("body").collect()(0).getString(0) == "merged-4555")
    assert(t.filter(col("id") === 4556L).select("body").collect()(0).getString(0) == "old-4556")
    spark.sql("DROP TABLE fls_rl_mc")
  }

  test("MERGE whose source matches no target row removes no file") {
    val dir = s"$tmp/merge_insert_only"
    mkClustered("fls_rl_mi", dir)
    val before = idRanges(dir).keySet
    mergeUpsert("fls_rl_mi", Seq((1L, 20001L, "fresh-1"), (1L, 20002L, "fresh-2")))
    val after = idRanges(dir).keySet
    assert(before.subsetOf(after), s"no file may be replaced: ${before -- after}")
    val t = spark.table("fls_rl_mi")
    assert(t.count() == 10002)
    assert(t.filter(col("body").startsWith("fresh-")).count() == 2)
    spark.sql("DROP TABLE fls_rl_mi")
  }

  test("the group scan advertises one runtime-filter column: partition, cluster, numeric") {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import graft.fls.connector.{FlsRowLevelOperation, FlsScan, FlsScanBuilder}
    def attrs(dir: String, group: Boolean, layout: (String, String)*): Seq[String] = {
      val schema = spark.read.format("fls").load(dir).schema
      val opts = new CaseInsensitiveStringMap((layout.toMap + ("path" -> dir)).asJava)
      val builder =
        if (group) new FlsRowLevelOperation(Command.MERGE, schema, opts, spark)
          .newScanBuilder(CaseInsensitiveStringMap.empty())
        else new FlsScanBuilder(schema, opts, spark)
      builder.build().asInstanceOf[FlsScan].filterAttributes().map(_.describe()).toSeq
    }
    val partitioned = s"$tmp/fa_partitioned"
    val clustered = s"$tmp/fa_clustered"
    val plain = s"$tmp/fa_plain"
    mkPartitioned("fls_rl_fa_p", partitioned)
    mkClustered("fls_rl_fa_c", clustered)
    val sp = spark; import sp.implicits._
    (1 to 10).map(i => (s"b-$i", (i % 2).toLong, i.toLong)).toDF("body", "v", "id")
      .write.format("fls").mode("overwrite").save(plain)
    // rule 1: the partition column; rule 2: the first cluster_by column
    // (ahead of the numeric `v`); rule 3: the first prunable column
    assert(attrs(partitioned, group = true) == Seq("k"))
    assert(attrs(clustered, group = true, "cluster_by" -> "id") == Seq("id"))
    assert(attrs(plain, group = true) == Seq("v"))
    // plain scans keep every partition and numeric column for join DPP
    assert(attrs(partitioned, group = false).toSet == Set("id", "k"))
    assert(attrs(clustered, group = false, "cluster_by" -> "id") == Seq("v", "id"))
    assert(attrs(plain, group = false) == Seq("v", "id"))
    Seq("fls_rl_fa_p", "fls_rl_fa_c").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  test("decidable DELETE still takes the zero-read metadata path") {
    val dir = s"$tmp/meta_still"
    mkPartitioned("fls_rl_meta", dir)
    val before = fileNames(dir)
    spark.sql("DELETE FROM fls_rl_meta WHERE k = '0'")
    val after = fileNames(dir)
    assert(spark.table("fls_rl_meta").count() == 200)
    // metadata delete REMOVES files; it never rewrites the survivors
    assert(after.subsetOf(before), s"metadata delete must not write new files: ${after -- before}")
    spark.sql("DROP TABLE fls_rl_meta")
  }
}
