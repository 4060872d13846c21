package graft.fls

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector.FlsCdf

/** Change-data-feed ([[graft.fls.connector.FlsCdf]]): per-commit
  * row-level inserts/deletes derived from the manifest log — the
  * incremental-consumer contract for commits the append-only reader
  * option refuses (DML, overwrites, rollbacks). Locks the four branch
  * kinds (added files, removed files, DV growth, DV shrink-on-
  * rollback), the dataChange=false skip for compaction, op tags in
  * `.history`, and the loud refusals. */
class FlsCdfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-cdf-spec").toString
  private val cat = "fls_cdf_spec"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-cdf-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(s"spark.sql.catalog.$cat", "graft.fls.connector.FlsCatalog")
      .config(s"spark.sql.catalog.$cat.path", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def mkTable(name: String, mor: Boolean): (String, String) = {
    val tbl = s"$cat.db.$name"
    val mode = if (mor) ",'delete_mode'='merge-on-read'" else ""
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      s"('commit_mode'='manifest'$mode)")
    (tbl, s"$tmp/warehouse/db/$name")
  }

  private def changeSet(df: DataFrame): Set[(String, Long, Long)] =
    df.select("_change_type", "_commit_version", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("appends emit per-commit inserts; range endpoints select commits") {
    val (tbl, dir) = mkTable("appends", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0), (2, 2.0)") // v1
    spark.sql(s"INSERT INTO $tbl VALUES (3, 3.0)")           // v2
    assert(changeSet(FlsCdf.changes(spark, dir, 0)) ==
      Set(("insert", 1L, 1L), ("insert", 1L, 2L), ("insert", 2L, 3L)))
    assert(changeSet(FlsCdf.changes(spark, dir, 1)) ==
      Set(("insert", 2L, 3L)))
    assert(changeSet(FlsCdf.changes(spark, dir, 0, Some(1L))) ==
      Set(("insert", 1L, 1L), ("insert", 1L, 2L)))
    assert(FlsCdf.changes(spark, dir, 2).count() == 0)
  }

  test("merge-on-read DELETE emits exactly the DV'd positions as deletes") {
    val (tbl, dir) = mkTable("mor_del", mor = true)
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (7, 42, 99)") // v2: DV growth
    val v2 = changeSet(FlsCdf.changes(spark, dir, 1))
    assert(v2 == Set(("delete", 2L, 7L), ("delete", 2L, 42L), ("delete", 2L, 99L)))
    // a second DV delete merges vectors; CDF still emits ONLY the new ones
    spark.sql(s"DELETE FROM $tbl WHERE id = 13")
    assert(changeSet(FlsCdf.changes(spark, dir, 2)) == Set(("delete", 3L, 13L)))
  }

  test("copy-on-write DELETE emits removed-file churn, like Delta sans DV") {
    val (tbl, dir) = mkTable("cow_del", mor = false)
    spark.sql(s"INSERT INTO $tbl SELECT /*+ REPARTITION(1) */ id, " +
      "CAST(id AS DOUBLE) FROM range(1, 4)") // ONE file — churn is per-file
    spark.sql(s"DELETE FROM $tbl WHERE id = 2") // rewrites the file
    val v2 = changeSet(FlsCdf.changes(spark, dir, 1))
    // the whole file is deleted; survivors re-insert
    assert(v2 == Set(("delete", 2L, 1L), ("delete", 2L, 2L), ("delete", 2L, 3L),
      ("insert", 2L, 1L), ("insert", 2L, 3L)))
  }

  test("INSERT OVERWRITE emits old rows deleted, new rows inserted") {
    val (tbl, dir) = mkTable("ovw", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)")
    spark.sql(s"INSERT OVERWRITE $tbl VALUES (9, 9.0)")
    assert(changeSet(FlsCdf.changes(spark, dir, 1)) ==
      Set(("delete", 2L, 1L), ("insert", 2L, 9L)))
  }

  test("compaction is dataChange=false: skipped by CDF, visible in history") {
    val (tbl, dir) = mkTable("compact", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)")
    spark.sql(s"INSERT INTO $tbl VALUES (2, 2.0)")
    spark.sql(s"CALL $cat.system.compact(`table` => 'db.compact')")
    // three versions; the compact one contributes nothing
    assert(changeSet(FlsCdf.changes(spark, dir, 0)) ==
      Set(("insert", 1L, 1L), ("insert", 2L, 2L)))
    val ops = spark.sql(
      s"SELECT version, operation FROM $tbl.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(ops == Seq((1L, "append"), (2L, "append"), (3L, "compact")))
  }

  test("rollback restores DV'd rows as inserts (vector shrink branch)") {
    val (tbl, dir) = mkTable("rb", mor = true)
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) FROM range(0, 50)")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (10, 20)") // v2 DVs
    spark.sql(s"CALL $cat.system.rollback(`table` => 'db.rb', version => 1)") // v3
    assert(changeSet(FlsCdf.changes(spark, dir, 2)) ==
      Set(("insert", 3L, 10L), ("insert", 3L, 20L)))
    // and across the whole range the per-commit story is coherent
    assert(changeSet(FlsCdf.changes(spark, dir, 1)) ==
      Set(("delete", 2L, 10L), ("delete", 2L, 20L),
        ("insert", 3L, 10L), ("insert", 3L, 20L)))
  }

  test("rollback across an append removes the appended file as deletes") {
    val (tbl, dir) = mkTable("rb2", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)")
    spark.sql(s"INSERT INTO $tbl VALUES (2, 2.0)")
    spark.sql(s"CALL $cat.system.rollback(`table` => 'db.rb2', version => 1)")
    assert(changeSet(FlsCdf.changes(spark, dir, 2)) ==
      Set(("delete", 3L, 2L)))
  }

  test("refusals: no manifest, future version, unretained version") {
    val plain = s"$tmp/plain_parquet_like"
    spark.range(5).selectExpr("id", "CAST(id AS DOUBLE) v")
      .write.format("fls").mode("overwrite").save(plain)
    val e1 = intercept[IllegalArgumentException] {
      FlsCdf.changes(spark, plain, 0)
    }
    assert(e1.getMessage.contains("no manifest log"))
    val (tbl, dir) = mkTable("refuse", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)")
    val e2 = intercept[IllegalArgumentException] {
      FlsCdf.changes(spark, dir, 0, Some(9L)).count()
    }
    assert(e2.getMessage.contains("beyond the newest"))
    // bury v1 beyond the 8-version retention window
    (1 to 10).foreach(i => spark.sql(s"INSERT INTO $tbl VALUES ($i, 1.0)"))
    val e3 = intercept[IllegalArgumentException] {
      FlsCdf.changes(spark, dir, 1).count()
    }
    assert(e3.getMessage.contains("not retained"))
  }

  test("the feed is ONE native scan: no joins, no unions in the plan") {
    val (tbl, dir) = mkTable("planshape", mor = true)
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) FROM range(0, 50)")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (3, 4)") // DV branch
    spark.sql(s"INSERT INTO $tbl VALUES (100, 1.0)")  // add branch
    val df = FlsCdf.changes(spark, dir, 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), plan)
    assert(!plan.contains("Join") && !plan.contains("Union"), plan)
    // and it still answers correctly across both branch kinds
    assert(df.count() == 53) // 50 + 2 deletes + 1 insert
  }

  test("SQL surface: SELECT FROM t.changes serves the retained range") {
    val (tbl, dir) = mkTable("sqlsurface", mor = true)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"DELETE FROM $tbl WHERE id = 2")
    val viaSql = spark.sql(
      s"SELECT _change_type, _commit_version, id FROM $tbl.changes")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaSql == Set(("insert", 1L, 1L), ("insert", 1L, 2L),
      ("delete", 2L, 2L)))
    assert(viaSql == changeSet(FlsCdf.changes(spark, dir, 0)))
    // column pruning reaches the feed scan: the leaf's output is
    // exactly the selected column, not the whole table
    val pruned = spark.sql(s"SELECT _change_type FROM $tbl.changes")
    val leafOut = pruned.queryExecution.executedPlan.collectLeaves()
      .head.output.map(_.name)
    assert(leafOut == Seq("_change_type"), leafOut.mkString(","))
  }

  test("UPDATE commits emit update_preimage/update_postimage, Delta-style") {
    // merge-on-read: the DV'd old row is the preimage, the appended new
    // row the postimage
    val tbl = s"$cat.db.upd_cdf"
    val dir = s"$tmp/warehouse/db/upd_cdf"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest','update_mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) FROM range(0, 10)")
    spark.sql(s"UPDATE $tbl SET v = -1.0 WHERE id = 4") // v2, op=update
    val v2 = FlsCdf.changes(spark, dir, 1)
      .select("_change_type", "_commit_version", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(v2 == Set(("update_preimage", 2L, 4L, 4.0),
      ("update_postimage", 2L, 4L, -1.0)))

    // copy-on-write: the rewritten file churns whole (like Delta sans
    // CDC files), but the churn is still TAGGED as an update
    val (ctbl, cdir) = mkTable("upd_cdf_cow", mor = false)
    spark.sql(s"INSERT INTO $ctbl VALUES (2, 2.0)")
    spark.sql(s"UPDATE $ctbl SET v = 9.0 WHERE id = 2") // v2 rewrites the file
    val cow = FlsCdf.changes(spark, cdir, 1)
      .select("_change_type", "_commit_version", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(cow == Set(("update_preimage", 2L, 2L, 2.0),
      ("update_postimage", 2L, 2L, 9.0)))
    // .history reports the command, not the physical append
    assert(spark.sql(s"SELECT operation FROM $ctbl.history WHERE version = 2")
      .collect()(0).getString(0) == "update")
  }

  test("merge CDC: matched updates emit pre/post images; deletes and inserts stay exact") {
    val tbl = s"$cat.db.mcdc"
    val dir = s"$tmp/warehouse/db/mcdc"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest','merge_mode'='merge-on-read'," +
      "'merge_cdc'='true')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) FROM range(0, 20)")
    // one merge commit mixing all three actions: matched DELETE (id 5),
    // matched UPDATE (ids 3, 4), unmatched INSERT (id 100)
    spark.sql(s"""MERGE INTO $tbl t
      USING (SELECT * FROM VALUES (3L), (4L), (5L), (100L) AS x(id)) s
      ON t.id = s.id
      WHEN MATCHED AND t.id = 5 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = t.v * 10
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1.0)""")
    def feed(): Set[(String, Long, Long, Double)] =
      FlsCdf.changes(spark, dir, 1)
        .select("_change_type", "_commit_version", "id", "v").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val expected = Set(
      ("update_preimage", 2L, 3L, 3.0), ("update_preimage", 2L, 4L, 4.0),
      ("update_postimage", 2L, 3L, 30.0), ("update_postimage", 2L, 4L, 40.0),
      ("delete", 2L, 5L, 5.0),
      ("insert", 2L, 100L, -1.0))
    assert(feed() == expected)
    // the table itself reads post-merge correct
    assert(spark.table(tbl).count() == 20)
    assert(spark.sql(s"SELECT v FROM $tbl WHERE id = 3").collect()(0)
      .getDouble(0) == 30.0)
    // vacuum at a ZERO horizon keeps every sidecar the retained merge
    // version vouches (data, DV, and the CDC split lists) — the feed
    // must survive it byte-for-byte
    FlsMaintenance.vacuum(spark, dir, olderThanHours = 0)
    assert(feed() == expected)
    // and the streaming feed serves the same split
    val out = s"$tmp/mcdc_stream_out"
    val q = spark.readStream.format("fls")
      .option("cdf_from_version", "earliest").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$tmp/mcdc_stream_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).where("_commit_version = 2")
      .select("_change_type", "_commit_version", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet == expected)
  }

  test("without merge_cdc a merge-on-read MERGE stays insert/delete (legacy contract)") {
    val tbl = s"$cat.db.mlegacy"
    val dir = s"$tmp/warehouse/db/mlegacy"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest','merge_mode'='merge-on-read')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) FROM range(0, 10)")
    spark.sql(s"""MERGE INTO $tbl t
      USING (SELECT * FROM VALUES (3L), (100L) AS x(id)) s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = -3.0
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1.0)""")
    assert(changeSet(FlsCdf.changes(spark, dir, 1)) ==
      Set(("delete", 2L, 3L), ("insert", 2L, 3L), ("insert", 2L, 100L)))
  }

  test("merge_cdc on a copy-on-write merge refuses loudly") {
    val tbl = s"$cat.db.mcow"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest','merge_cdc'='true')") // merge_mode default = cow
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $tbl t USING (SELECT 1L AS id) s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET v = 2.0"""))
    assert(e.getMessage.contains("merge_cdc=true requires merge_mode=merge-on-read"))
  }

  test("cdf_from_timestamp starts the feed at the first commit at/after the instant") {
    val (tbl, dir) = mkTable("ts_cursor", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)") // v1
    Thread.sleep(30)
    spark.sql(s"INSERT INTO $tbl VALUES (2, 2.0)") // v2
    Thread.sleep(30)
    spark.sql(s"INSERT INTO $tbl VALUES (3, 3.0)") // v3
    val times = spark.sql(
      s"SELECT version, unix_millis(committed_at) FROM $tbl.history")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def feedFrom(ms: Long) = spark.read.format("fls")
      .option("cdf_from_timestamp", ms.toString).load(dir)
      .select("_commit_version", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // at v2's instant -> v2 is the first served commit
    assert(feedFrom(times(2L)) == Set((2L, 2L), (3L, 3L)))
    // before v1 -> the whole feed
    assert(feedFrom(times(1L) - 10) ==
      Set((1L, 1L), (2L, 2L), (3L, 3L)))
    // future -> loud refusal naming the newest commit
    val e = intercept[Exception](feedFrom(times(3L) + 3600 * 1000))
    assert(e.getMessage.contains("no commit of"))
    // a read-time timestamp overrides the .changes table's earliest
    assert(spark.read.option("cdf_from_timestamp", times(3L).toString)
      .table(s"$tbl.changes").select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L))
    // non-timestamp junk refuses with the accepted formats
    val e2 = intercept[Exception](spark.read.format("fls")
      .option("cdf_from_timestamp", "yesterday-ish").load(dir).collect())
    assert(e2.getMessage.contains("cannot parse"))
  }

  test("cdf_starting_version is INCLUSIVE (Delta parity); from_version stays the exclusive cursor") {
    val (tbl, dir) = mkTable("startv", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)") // v1
    spark.sql(s"INSERT INTO $tbl VALUES (2, 2.0)") // v2
    spark.sql(s"INSERT INTO $tbl VALUES (3, 3.0)") // v3
    def byOpt(opt: String, v: String): Set[(Long, Long)] =
      spark.read.format("fls").option(opt, v).load(dir)
        .select("_commit_version", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // starting_version=2 serves v2's OWN changes and later...
    assert(byOpt(FlsCdf.StartingVersionOption, "2") ==
      Set((2L, 2L), (3L, 3L)))
    // ...while from_version=2 (the cursor) serves strictly after v2
    assert(byOpt(FlsCdf.FromOption, "2") == Set((3L, 3L)))
    // starting_version=1 = the whole feed; 0 refuses (v0 is implicit)
    assert(byOpt(FlsCdf.StartingVersionOption, "1") ==
      Set((1L, 1L), (2L, 2L), (3L, 3L)))
    val e = intercept[Exception](byOpt(FlsCdf.StartingVersionOption, "0"))
    assert(e.getMessage.contains("INCLUSIVE"))
    // and the streaming source honors the inclusive spelling too
    val out = s"$tmp/startv_stream_out"
    val q = spark.readStream.format("fls")
      .option(FlsCdf.StartingVersionOption, "2").load(dir)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", s"$tmp/startv_stream_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.read.parquet(out).select("_commit_version", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((2L, 2L), (3L, 3L)))
  }

  test("legacy-upgrade bootstrap: earliest serves the pre-upgrade table as v1 inserts") {
    // build a versioned table, then rewind it into the LEGACY
    // single-file-manifest state (copy v-head to _fls_manifest, drop
    // the log) — the shape of a table written by a pre-versioned binary
    val (tbl, dir) = mkTable("legacyboot", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0), (2, 2.0)")
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val v1 = FlsManifest.versionPath(root, 1L)
    val legacy = FlsManifest.manifestPath(root)
    val out = fs.create(legacy, true)
    out.write(readAll(fs, v1))
    out.close()
    fs.delete(FlsManifest.logDir(root), true)
    // the upgrade identity commit (what compaction mints on a legacy
    // table) publishes v1 = the legacy entries and RETIRES the legacy
    // file — after which entriesAt(0) is empty
    FlsManifest.commit(fs, root, "spec-upgrade", hconf,
      op = "upgrade", dataChange = false)(_ => FlsManifest.Delta())
    assert(!fs.exists(legacy))
    // a consumer bootstrapping from the beginning must see the
    // pre-upgrade rows, not an empty feed
    assert(changeSet(FlsCdf.changes(spark, dir, 0)) ==
      Set(("insert", 1L, 1L), ("insert", 1L, 2L)))
    // and a cursor AT the upgrade commit still serves nothing (the
    // bootstrap only fires for from == 0)
    assert(FlsCdf.changes(spark, dir, 1).count() == 0)
  }

  test("malformed retention_versions degrades to the default at commit-time GC") {
    // strict at DDL: the ALTER refuses junk outright
    val (tbl, dir) = mkTable("badret", mor = false)
    spark.sql(s"INSERT INTO $tbl VALUES (1, 1.0)")
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $tbl SET TBLPROPERTIES ('retention_versions'='lots')"))
    assert(e.getMessage.contains("must be an integer"))
    // lenient at commit: a junk value smuggled past DDL (external tool)
    // must not brick writes — keepOf falls back to the default
    assert(FlsManifest.keepOf(Some(FlsTableMeta.Meta(
      new org.apache.spark.sql.types.StructType(), Nil,
      Map("retention_versions" -> "lots")))) ==
      FlsManifest.DefaultKeepVersions)
    assert(FlsManifest.keepOf(Some(FlsTableMeta.Meta(
      new org.apache.spark.sql.types.StructType(), Nil,
      Map("retention_versions" -> "3")))) == 3)
  }

  test("op tags round-trip the manifest format; legacy lines still parse") {
    val (_, dir) = mkTable("tags", mor = false)
    spark.sql(s"INSERT INTO $cat.db.tags VALUES (1, 1.0)")
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    // catalog tables carry a metadata log, so the commit also stamps
    // the table-meta version in force (snapshot-schema time travel)
    assert(FlsManifest.versionMeta(fs, root, 1L).contains(
      FlsManifest.VersionMeta("append", dataChange = true,
        schemaVersion = Some(1L))))
    // hand-write a pre-tag manifest (no #op line): meta is None and
    // entries still parse — the format extension is backward-compatible
    val v2 = FlsManifest.commit(fs, root, "spec", hconf)(_ => FlsManifest.Delta())
    val p = FlsManifest.versionPath(root, v2)
    val raw = new String(readAll(fs, p), java.nio.charset.StandardCharsets.UTF_8)
    val noTag = raw.linesIterator.filterNot(_.startsWith("#op")).mkString("\n") + "\n"
    fs.delete(p, false)
    val out = fs.create(p, true)
    out.write(noTag.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    assert(FlsManifest.versionMeta(fs, root, v2).isEmpty)
    assert(FlsManifest.readVersion(fs, root, v2).nonEmpty)
  }

  private def readAll(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }
}
