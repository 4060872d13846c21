package graft.fls

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Segmented manifests ([[FlsManifest]] format v2): past the inline
  * threshold, entries live in immutable chunks and a commit writes
  * O(delta + touched chunks) bytes, never O(table) — the Iceberg
  * manifest-file/manifest-list split, the r14 verdict's #1 scale gap
  * (a 1M-file table paid ~1 GB of driver StringBuilder + bytes written
  * on EVERY hourly append, with retention keeping N copies). Locks:
  * the bytes-written bound, chunk reuse by pointer, the small-chunk
  * amortized fold, deletion touching one chunk, chunk GC past
  * retention (shared-pool safety across branches/tags), orphan sweep,
  * one read per chunk per commit attempt, and end-to-end correctness
  * (reads, time travel, CDF, DML) on a chunked table via SQL. */
class FlsManifestSegmentSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-segment-spec").toString
  private val cat = "fls_seg_spec"

  // tiny thresholds so 30-file tables exercise the chunked layout
  private val InlineMax = 8
  private val Target = 4

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-segment-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config(s"spark.hadoop.${FlsManifest.InlineThresholdKey}", InlineMax.toString)
      .config(s"spark.hadoop.${FlsManifest.ChunkTargetKey}", Target.toString)
      .config(s"spark.sql.catalog.$cat", "graft.fls.connector.FlsCatalog")
      .config(s"spark.sql.catalog.$cat.path", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def conf(): Configuration = {
    val c = new Configuration(false)
    c.setInt(FlsManifest.InlineThresholdKey, InlineMax)
    c.setInt(FlsManifest.ChunkTargetKey, Target)
    c
  }

  private def fsOf(dir: Path, c: Configuration): FileSystem = dir.getFileSystem(c)

  private def entry(i: Int, stats: String = null): FlsManifest.Entry =
    FlsManifest.Entry(f"part-$i%05d.fls", 100L + i, 0L, stats)

  /** total bytes + names of everything under the manifest log
    * (version files AND chunks) — the write-cost observable. */
  private def logFiles(fs: FileSystem, dir: Path): Map[String, Long] = {
    def walk(d: Path): Seq[(String, Long)] =
      try fs.listStatus(d).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath.toString -> s.getLen)
      } catch { case _: java.io.FileNotFoundException => Nil }
    walk(FlsManifest.logDir(dir)).toMap
  }

  private def chunkNames(fs: FileSystem, dir: Path): Set[String] =
    try fs.listStatus(FlsManifest.chunksDir(dir)).toSeq
      .filter(_.isFile).map(_.getPath.getName).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }

  private def append(fs: FileSystem, dir: Path, c: Configuration,
      adds: Seq[FlsManifest.Entry]): Long =
    FlsManifest.commit(fs, dir, java.util.UUID.randomUUID().toString, c)(
      _ => FlsManifest.Delta(add = adds))

  test("a single-file append to a chunked table writes O(delta) bytes, " +
      "not O(table), and reuses every untouched chunk by pointer") {
    val dir = new Path(s"$tmp/seg_delta")
    val c = conf()
    val fs = fsOf(dir, c)
    fs.mkdirs(dir)
    val base = (0 until 200).map(i => entry(i, s"""{"rows":${i * 10}}"""))
    append(fs, dir, c, base) // v1: first chunked commit, pays O(table) once
    val before = logFiles(fs, dir)
    val chunksBefore = chunkNames(fs, dir)
    assert(chunksBefore.size == math.ceil(200.0 / Target).toInt)

    append(fs, dir, c, Seq(entry(9000))) // v2: ONE appended file
    val after = logFiles(fs, dir)
    val newFiles = after.keySet -- before.keySet
    val newBytes = newFiles.toSeq.map(after).sum
    // full re-serialization is >= 200 entry lines (~30 B each); the
    // delta commit writes one pointer file + one 1-entry chunk
    val fullBytes = before.values.max // v1's own cost ~ chunks total
    assert(newBytes < 6000, s"append wrote $newBytes bytes: $newFiles")
    // the v2 version file is pointer-sized: ~51 chunk pointers (name,
    // count, rel range), no entry lines — far below one line per file
    val v2 = after.keys.find(_.endsWith(FlsCas.versionName(2L))).get
    assert(after(v2) < 4500, s"v2 pointer file is ${after(v2)} B")
    // every v1 chunk survived by pointer (names unchanged, plus one new)
    val chunksAfter = chunkNames(fs, dir)
    assert(chunksBefore.subsetOf(chunksAfter))
    assert((chunksAfter -- chunksBefore).size == 1)
    // and the table still round-trips exactly: every entry carries its
    // original stats PLUS the commit-stamped birth version (v1 for the
    // base, v2 for the append — the equality-delete applicability cursor)
    val got = FlsManifest.readVersion(fs, dir, 2L)
    assert(got.map(_.rel).toSet == (base :+ entry(9000)).map(_.rel).toSet)
    got.foreach { e =>
      val expectBv = if (e.rel == entry(9000).rel) 2L else 1L
      assert(FlsFileStats.birthOf(e.stats) == expectBv, e.rel)
      if (e.rel != entry(9000).rel)
        assert(e.stats.contains("\"rows\":"), s"stats lost fields: ${e.stats}")
    }
    assert(got.map(_.rel) == got.map(_.rel).sorted) // deterministic order
  }

  test("point lookups open only intersecting chunks: file_subset scans " +
      "and subset reads stay O(chunks-touched), not O(table)") {
    val dir = new Path(s"$tmp/seg_point")
    val c = conf()
    val fs = fsOf(dir, c)
    fs.mkdirs(dir)
    append(fs, dir, c, (0 until 200).map(i => entry(i, s"""{"rows":$i}""")))
    // 50 chunks of 4; a single-rel subset read must touch ~1 of them
    val needle = entry(117).rel
    val before = FlsManifest.chunkReadCount.get()
    val (v, got) = FlsManifest.readVersionedSubset(fs, dir, needle, needle).get
    val opened = FlsManifest.chunkReadCount.get() - before
    assert(v == 1L)
    assert(got.exists(_.rel == needle))
    assert(opened <= 3, s"subset read opened $opened of 50 chunks")
    // pinned-version variant
    val before2 = FlsManifest.chunkReadCount.get()
    assert(FlsManifest.readVersionSubset(fs, dir, 1L, needle, needle)
      .exists(_.rel == needle))
    assert(FlsManifest.chunkReadCount.get() - before2 <= 3)
    // and the FULL read still resolves everything
    assert(FlsManifest.readVersion(fs, dir, 1L).length == 200)
  }

  test("removing one file rewrites ONLY its chunk; the rest reuse") {
    val dir = new Path(s"$tmp/seg_del")
    val c = conf()
    val fs = fsOf(dir, c)
    fs.mkdirs(dir)
    append(fs, dir, c, (0 until 40).map(entry(_)))
    val before = chunkNames(fs, dir)
    val victim = entry(17).rel
    FlsManifest.commit(fs, dir, "del-1", c, op = "delete") { h =>
      FlsManifest.Delta.between(h.entries, h.entries.filterNot(_.rel == victim))
    }
    val after = chunkNames(fs, dir)
    // exactly one chunk (the victim's) was replaced by one rewritten chunk
    assert((before -- after).size <= 1) // old chunk may linger until GC
    assert((after -- before).size == 1, s"new chunks: ${after -- before}")
    assert(FlsManifest.readVersion(fs, dir, 2L).map(_.rel).toSet ==
      (0 until 40).map(entry(_).rel).toSet - victim)
  }

  test("small-chunk fold keeps chunk count O(entries/target) across " +
      "many single-file appends") {
    val dir = new Path(s"$tmp/seg_fold")
    val c = conf()
    val fs = fsOf(dir, c)
    fs.mkdirs(dir)
    append(fs, dir, c, (0 until 40).map(entry(_)))
    (100 until 130).foreach(i => append(fs, dir, c, Seq(entry(i))))
    val (_, entries) = FlsManifest.readVersioned(fs, dir).get
    assert(entries.length == 70)
    // head version's pointer count stays bounded: ideal = 70/4 ≈ 18,
    // plus at most the fold bound of small chunks awaiting merge
    val layout = FlsManifest.readLayoutVersioned(fs, dir).get._2
    assert(layout.pointers.nonEmpty)
    assert(layout.pointers.length <= 70 / Target + 10,
      s"${layout.pointers.length} chunks — small-chunk fold not engaging")
  }

  test("chunk GC: chunks referenced only by GC'd versions fall; " +
      "retained + tagged + branch versions keep theirs readable") {
    val dir = new Path(s"$tmp/seg_gc")
    val c = conf()
    val fs = fsOf(dir, c)
    fs.mkdirs(dir)
    append(fs, dir, c, (0 until 40).map(entry(_))) // v1
    // churn WELL past DefaultKeepVersions=8 with full rewrites so old
    // chunks become uniquely owned by old versions
    (1 to 12).foreach { k =>
      FlsManifest.commit(fs, dir, s"rw-$k", c, op = "overwrite") { h =>
        FlsManifest.Delta.between(h.entries,
          (0 until 40).map(i => entry(i, s"""{"gen":$k}""")))
      }
    }
    // every retained version still resolves fully (chunks present)
    val retained = FlsManifest.versionsWithTimes(fs, dir).map(_._1)
    retained.foreach { v =>
      assert(FlsManifest.readVersion(fs, dir, v).length == 40, s"v$v")
    }
    // the chunk pool holds nothing unreferenced (GC kept pace): every
    // on-disk chunk is referenced by some retained version
    val live = FlsManifest.liveChunkRefs(fs, dir)
    val onDisk = chunkNames(fs, dir)
    assert(onDisk == live, s"orphans: ${onDisk -- live}")
    // and the pool is bounded ~ retained * chunksPerVersion, nowhere
    // near 13 generations * 10 chunks
    assert(onDisk.size <= (FlsManifest.DefaultKeepVersions + 2) * 10 + 10)
  }

  /** Chunk reads of the second attempt of the one manifest commit `run`
    * makes: its first attempt loses the publish race to an empty commit
    * made in the window before its CAS. */
  private def secondAttemptReads(fs: FileSystem, dir: Path)(run: => Unit): Long = {
    var marks = Vector.empty[Long]
    lazy val hook: () => Unit = () => {
      if (marks.isEmpty) {
        FlsManifest.beforePublishForTest = () => ()
        FlsManifest.commit(fs, dir, "race", conf())(_ => FlsManifest.Delta())
        FlsManifest.beforePublishForTest = hook
      }
      marks :+= FlsManifest.chunkReadCount.get()
    }
    FlsManifest.beforePublishForTest = hook
    try run finally FlsManifest.beforePublishForTest = () => ()
    assert(marks.length == 2 && FlsManifest.lastCommitAttempts.get() == 2,
      s"the commit must lose one race and win the retry: $marks")
    marks(1) - marks(0)
  }

  test("overwrite and compact read each chunk once per attempt") {
    val dir = s"$tmp/seg_once"
    val p = new Path(dir)
    val fs = fsOf(p, conf())
    def write(mode: String): Unit = spark.range(0, 40, 1, 40).toDF("v")
      .write.format("fls").mode(mode).option("commit_mode", "manifest")
      .option("write_distribution", "none").save(dir)
    def pointers = FlsManifest.readLayoutVersioned(fs, p,
      resolveChunks = false).get._2.pointers
    write("append")
    assert(pointers.length == 10, s"spec setup: a 10-chunk table, got $pointers")
    val overwrite = secondAttemptReads(fs, p)(write("overwrite"))
    assert(overwrite <= 10L, s"the overwrite's retry read $overwrite chunks of 10")
    assert(pointers.length == 10)
    val compact = secondAttemptReads(fs, p)(FlsMaintenance.compact(spark, dir))
    assert(compact <= 10L, s"the compaction's retry read $compact chunks of 10")
    assert(spark.read.format("fls").load(dir).count() == 40L)
  }

  test("sweepOrphanChunks reaps crashed-commit leftovers but never a " +
      "referenced or fresh chunk") {
    val dir = new Path(s"$tmp/seg_orphan")
    val c = conf()
    val fs = fsOf(dir, c)
    fs.mkdirs(dir)
    append(fs, dir, c, (0 until 20).map(entry(_)))
    val referenced = chunkNames(fs, dir)
    // plant a stale orphan (a commit that died before publish)
    val orphan = new Path(FlsManifest.chunksDir(dir), "cdeadbeef")
    val out = fs.create(orphan, true)
    try out.write("#fls-chunk v1\n1\t0\tghost.fls\n".getBytes("UTF-8"))
    finally out.close()
    fs.setTimes(orphan, System.currentTimeMillis() - 100000, -1)
    // a FRESH unreferenced chunk (in-flight commit) must survive a
    // horizon-gated sweep
    val fresh = new Path(FlsManifest.chunksDir(dir), "cfreshling")
    val out2 = fs.create(fresh, true)
    try out2.write("#fls-chunk v1\n1\t0\tnew.fls\n".getBytes("UTF-8"))
    finally out2.close()
    val n = FlsManifest.sweepOrphanChunks(fs, dir, ttlMs = 50000)
    assert(n == 1)
    val left = chunkNames(fs, dir)
    assert(left == referenced + "cfreshling")
    // zero-horizon sweep (vacuum olderThanHours=0) takes the fresh one too
    assert(FlsManifest.sweepOrphanChunks(fs, dir, ttlMs = -1000) == 1)
    assert(chunkNames(fs, dir) == referenced)
  }

  test("end-to-end on a chunked catalog table: reads, DML, time travel, " +
      "CDF, branch publish all stay exact") {
    val tbl = s"$cat.db.segmented"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'delete_mode'='merge-on-read')")
    // 3 inserts x 4 shuffle partitions ≈ 12 files > InlineMax=8 → chunked
    (0 until 3).foreach { k =>
      spark.range(k * 10, k * 10 + 10).repartition(4)
        .selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .writeTo(tbl).append()
    }
    val dir = new Path(s"$tmp/warehouse/db/segmented")
    val fs = fsOf(dir, spark.sessionState.newHadoopConf())
    val layout = FlsManifest.readLayoutVersioned(fs, dir).get._2
    assert(layout.pointers.nonEmpty, "table did not go chunked")
    assert(spark.table(tbl).count() == 30)
    // merge-on-read DELETE re-vectors entries inside chunks
    spark.sql(s"DELETE FROM $tbl WHERE id % 10 = 3")
    assert(spark.table(tbl).count() == 27)
    // time travel across chunked versions
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 3")
      .collect()(0).getLong(0) == 30)
    // CDF over the chunked range: v4 is the DV-only delete commit
    val cdf = spark.read.format("fls").option("cdf_from_version", "3")
      .load(dir.toString)
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType == Map("delete" -> 3L), byType.toString)
    // branch off the chunked head, write, publish — shared chunk pool
    spark.sql(s"CALL $cat.system.create_branch(`table` => 'db.segmented', " +
      "name => 'seg_wap')")
    spark.range(100, 110).repartition(4)
      .selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .write.format("fls").mode("append")
      .option("commit_mode", "manifest").option("branch", "seg_wap")
      .save(dir.toString)
    assert(spark.table(tbl).count() == 27) // invisible on main
    spark.sql(s"CALL $cat.system.fast_forward(`table` => 'db.segmented', " +
      "name => 'seg_wap')")
    assert(spark.table(tbl).count() == 37)
    // vacuum with orphan sweep leaves the table fully readable
    FlsMaintenance.vacuum(spark, dir.toString, olderThanHours = 0)
    assert(spark.table(tbl).count() == 37)
    assert(FlsManifest.liveChunkRefs(fs, dir) == chunkNames(fs, dir))
    // the metadata tables read through the chunk resolve too: .history
    // lists every retained version, .files serves the head's entry set
    // with its pruning pushdown intact
    val hist = spark.sql(s"SELECT version, operation FROM $tbl.history " +
      "ORDER BY version").collect()
    assert(hist.length >= 5, hist.mkString(","))
    assert(hist.last.getString(1) == "fast_forward")
    val files = spark.sql(s"SELECT file, n_rows FROM $tbl.files").collect()
    assert(files.length > InlineMax) // chunked head, all entries served
    assert(files.map(r => if (r.isNullAt(1)) 0L else r.getLong(1)).sum == 40L)
    // file-name pushdown still prunes entry rows (filter-sized output)
    // AND opens only the chunks intersecting the needle — the .files
    // point lookup on a chunked table is chunk-bounded end to end
    val one = files.head.getString(0)
    val before = FlsManifest.chunkReadCount.get()
    assert(spark.sql(s"SELECT * FROM $tbl.files WHERE file = '$one'")
      .count() == 1)
    val opened = FlsManifest.chunkReadCount.get() - before
    // head read + per-retained-version back-tracking, each bounded to
    // the needle's chunk (< ~2 per version; full resolve would be
    // chunks × versions)
    assert(opened <= 2L * (FlsManifest.versionsWithTimes(fs, dir).length + 1),
      s".files point lookup opened $opened chunks")
    // file_subset scans ride the same bound: one file's rows, O(1) chunks
    val before2 = FlsManifest.chunkReadCount.get()
    val rows = spark.read.format("fls").option("file_subset", one)
      .load(dir.toString).count()
    assert(rows > 0)
    assert(FlsManifest.chunkReadCount.get() - before2 <= 3,
      "file_subset scan resolved more than the intersecting chunks")
  }
}
