package graft.fls

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.LogicalWriteInfo
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector._

/** `commit_mode=manifest`: tasks write attempt-unique FINAL names (no
  * renames — the object-store-safe protocol) and job commit atomically
  * publishes `_fls_manifest`; readers trust the manifest and never
  * recursively list the table. */
class FlsManifestSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-manifest-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val schema = StructType(Seq(StructField("v", LongType, nullable = false)))

  private def writeInfo(dir: String, extra: Map[String, String] = Map.empty): LogicalWriteInfo =
    new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("commit_mode", "manifest")
        extra.foreach { case (k, v) => if (v == null) m.remove(k) else m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "test-query"
      override def schema(): StructType = FlsManifestSpec.this.schema
    }

  private def row(v: Long): InternalRow = new GenericInternalRow(Array[Any](v))

  private def readLongs(dir: String): Seq[Long] =
    spark.read.format("fls").load(dir).collect().map(_.getLong(0)).toSeq.sorted

  private def manifestEntries(dir: String): Seq[FlsManifest.Entry] = {
    val p = new Path(dir)
    FlsManifest.read(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .getOrElse(fail(s"no manifest in $dir"))
  }

  test("manifest write round-trips; junk and uncommitted files are invisible") {
    val dir = Files.createTempDirectory("fls-man-rt").toString
    val sp = spark; import sp.implicits._
    (1L to 5000L).toDF("v").repartition(3)
      .write.format("fls").mode("overwrite").option("commit_mode", "manifest").save(dir)
    val entries = manifestEntries(dir)
    assert(entries.length == 3)
    assert(readLongs(dir) == (1L to 5000L))
    // manifest lengths must match the physical files (readers build
    // FileStatus from them without a stat call)
    entries.foreach { e =>
      assert(new java.io.File(dir, e.rel).length() == e.length, s"bad length for ${e.rel}")
    }
    // a junk .fls file (invalid content!) dropped into the directory is
    // ignored: the scan plans from the manifest, not from listing —
    // if listing were consulted this junk would fail footer parsing
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "junk.fls"),
      "not an fls file".getBytes)
    assert(readLongs(dir) == (1L to 5000L))
    assert(spark.read.format("fls").load(dir).count() == 5000)
  }

  test("speculative twins in direct-write mode: loser's final-named files never publish") {
    val dir = Files.createTempDirectory("fls-man-twin").toString
    val sp = spark; import sp.implicits._
    // an existing manifest is what lets tasks write final names directly
    Seq(0L).toDF("v").write.format("fls").mode("append")
      .option("commit_mode", "manifest").save(dir)
    val batch = new FlsBatchWrite(
      writeInfo(dir, Map("row_group_size" -> Format.VecSize.toString)), doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    val a = factory.createWriter(0, 1L)
    val b = factory.createWriter(0, 2L) // twin attempt, same partition
    val n = Format.VecSize + 100L // a full row group reaches disk before commit
    (1L to n).foreach { i => a.write(row(i)); b.write(row(i + 100000)) }
    val msg = a.commit()
    val twinFiles = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith("-2-0000.fls"))
    assert(twinFiles.nonEmpty, "the twin's final-named file must be on disk")
    // twin b "crashes" WITHOUT abort — its direct-written file stays on
    // disk through job commit, outside the manifest, until vacuum
    batch.commit(Array(msg))
    assert(readLongs(dir) == 0L +: (1L to n))
    assert(twinFiles.forall(f => !manifestEntries(dir).exists(_.rel == f)),
      s"the loser's files entered the manifest: ${twinFiles.toSeq}")
    FlsMaintenance.vacuum(spark, dir, olderThanHours = 0)
    assert(twinFiles.forall(f => !new java.io.File(dir, f).exists()),
      s"vacuum must delete the loser's files: ${twinFiles.toSeq}")
    assert(readLongs(dir) == 0L +: (1L to n))
  }

  test("a job's first manifest commit leaves its own uncommitted attempt files out") {
    val dir = Files.createTempDirectory("fls-man-seed-twin").toString
    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    val a = factory.createWriter(0, 1L)
    val b = factory.createWriter(0, 2L)
    (1L to 100L).foreach { i => a.write(row(i)); b.write(row(i + 1000)) }
    val msg = a.commit()
    b.commit() // the losing twin closed its final-named file; no message reaches the job
    // no manifest yet: the commit seeds one from a listing that sees b's file
    batch.commit(Array(msg))
    assert(readLongs(dir) == (1L to 100L))
  }

  test("driver crash before job commit leaves the previous table state visible") {
    val dir = Files.createTempDirectory("fls-man-crash").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    // second job: tasks write + task-commit, then the driver dies (job
    // commit never runs, manifest never updates)
    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = true)
    val factory = batch.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 7L)
    (100L to 120L).foreach(i => w.write(row(i)))
    w.commit() // task-level only
    assert(readLongs(dir) == (1L to 10L),
      "reader must keep seeing the OLD manifest state after a mid-job crash")
  }

  test("append mode accumulates; overwrite publishes exactly the new set") {
    val dir = Files.createTempDirectory("fls-man-app").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    (11L to 20L).toDF("v").write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dir)
    assert(readLongs(dir) == (1L to 20L))
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val (preV, _) = FlsManifest.readVersioned(fs, p).get
    (50L to 55L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    assert(readLongs(dir) == (50L to 55L))
    // the truncated files stay ON DISK (un-vouched by the new manifest,
    // invisible to current readers) so pinned VERSION AS OF readers
    // survive the overwrite — vacuum reclaims them past retention
    // (r12 time-travel contract; before r12 overwrite deleted eagerly)
    val files = new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".fls"))
    assert(files.length > manifestEntries(dir).length,
      "replaced files must remain for pinned readers")
    val pinned = spark.read.format("fls")
      .option("manifest_version", preV.toString).load(dir)
      .select("v").collect().map(_.getLong(0)).toSeq.sorted
    assert(pinned == (1L to 20L), "pre-overwrite snapshot still reads whole")
  }

  test("manifest append onto a listing-mode table seeds the old files") {
    val dir = Files.createTempDirectory("fls-man-seed").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls").mode("overwrite").save(dir) // rename mode
    (11L to 20L).toDF("v").write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dir)
    assert(manifestEntries(dir).nonEmpty)
    assert(readLongs(dir) == (1L to 20L))
  }

  test("an aborted manifest append onto a listing-mode table leaves it unchanged") {
    val dir = Files.createTempDirectory("fls-man-abort-seed").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls").mode("overwrite").save(dir) // rename mode
    def files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".fls") || n.endsWith(".footer")).toSet
    val before = files
    // no manifest yet, so nothing hides a direct write: the tasks stage
    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    val done = factory.createWriter(0, 1L)
    (11L to 20L).foreach(i => done.write(row(i)))
    val msg = done.commit()
    val late = factory.createWriter(1, 2L)
    (21L to 30L).foreach(i => late.write(row(i)))
    batch.abort(Array(msg, null))
    late.commit() // authorised before the abort, committing after it
    assert(files == before, s"an aborted job left files: ${files -- before}")
    assert(readLongs(dir) == (1L to 10L))
    val p = new Path(dir)
    assert(FlsManifest.read(p.getFileSystem(spark.sessionState.newHadoopConf()), p).isEmpty)
  }

  test("a plain job planned before the first manifest commit lands in the manifest") {
    val dir = Files.createTempDirectory("fls-man-late-plain").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls").mode("overwrite").save(dir) // rename mode
    val plain = new FlsBatchWrite(writeInfo(dir, Map("commit_mode" -> null)), doTruncate = false)
    val w = plain.createBatchWriterFactory(null).createWriter(0, 1L)
    (11L to 20L).foreach(i => w.write(row(i)))
    val msg = w.commit()
    // another job's first manifest commit seeds from a listing that
    // cannot see the plain job's staged file
    (21L to 30L).toDF("v").write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dir)
    plain.commit(Array(msg))
    assert(readLongs(dir) == (1L to 30L))
    assert(manifestEntries(dir).exists(_.rel == msg.asInstanceOf[FlsCommitMessage].files.head))
  }

  test("a plain write over a manifest table publishes a version") {
    val dir = Files.createTempDirectory("fls-man-plain").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val (v0, _) = FlsManifest.readVersioned(fs, p).get
    (21L to 30L).toDF("v").write.format("fls").mode("overwrite").save(dir)
    val (v1, _) = FlsManifest.readVersioned(fs, p).get
    assert(v1 == v0 + 1, "the overwrite must commit through the manifest")
    assert(readLongs(dir) == (21L to 30L))
    // history and time travel survive the plain write
    val pinned = spark.read.format("fls").option("manifest_version", v0.toString)
      .load(dir).select("v").collect().map(_.getLong(0)).toSeq.sorted
    assert(pinned == (1L to 10L), "the pre-overwrite version must stay readable")
    // asking for listing mode on a manifest table fails loudly
    val e = intercept[Exception] {
      (31L to 32L).toDF("v").write.format("fls").mode("append")
        .option("commit_mode", "rename").save(dir)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("fls: commit_mode=rename")), e)
    assert(readLongs(dir) == (21L to 30L))
    assert(FlsManifest.readVersioned(fs, p).get._1 == v1)
  }

  test("a plain write over a manifest table keeps crashed-job junk hidden") {
    val dir = Files.createTempDirectory("fls-man-plain-junk").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").coalesce(1).write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    // a crashed manifest-mode job's leftovers, invisible ONLY because
    // the manifest doesn't name them: a complete-but-uncommitted data
    // file (valid fls bytes) and a partial file (garbage bytes)
    val side = Files.createTempDirectory("fls-man-junk-src").toString
    (991L to 999L).toDF("v").coalesce(1).write.format("fls").mode("append").save(side)
    val src = new java.io.File(side).listFiles().filter(_.getName.endsWith(".fls")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(dir, "part-00000-crashedjob-77.fls").toPath)
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00001-crashedjob-77.fls").toPath,
      Array.fill[Byte](100)(0x42))
    assert(readLongs(dir) == (1L to 10L), "manifest must hide the junk")

    // a plain APPEND publishes a new version: the junk stays unnamed, so
    // readers neither crash on the partial file nor count the
    // uncommitted rows, and the table keeps its history
    (11L to 20L).toDF("v").write.format("fls").mode("append").save(dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(FlsManifest.versionsWithTimes(fs, p).size == 2,
      "the append must add a version on top of the first")
    assert(readLongs(dir) == (1L to 20L))
  }

  test("manifest composes with hive partitioning and partition pruning") {
    val dir = Files.createTempDirectory("fls-man-part").toString
    val sp = spark; import sp.implicits._
    (1 to 300).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd % x"))
      .toDF("v", "p").repartition(col("p"))
      .write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").option("partition_by", "p").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.count() == 300)
    assert(back.filter(col("p") === "odd % x").agg(sum("v")).collect()(0).getLong(0)
      == (1 to 300 by 2).map(_.toLong).sum)
    // pruning still plans zero partitions for a no-match filter
    val opts = new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
    val sch = new FlsDataSource().inferSchema(opts)
    val b = new FlsScanBuilder(sch, opts)
    b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("p", "missing")))
    assert(b.build().toBatch.planInputPartitions().isEmpty)
  }

  test("versioned log: every commit bumps the version; retention keeps a bounded window") {
    val dir = Files.createTempDirectory("fls-man-vlog").toString
    val sp = spark; import sp.implicits._
    (1 to 12).foreach { i =>
      Seq(i.toLong).toDF("v").coalesce(1)
        .write.format("fls").mode("append").option("commit_mode", "manifest").save(dir)
    }
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val versions = fs.listStatus(FlsManifest.logDir(p)).map(_.getPath.getName).sorted
    assert(versions.last == f"v${12L}%020d", s"newest version must be 12, got $versions")
    assert(versions.length <= 8, s"old versions must GC, ${versions.length} kept")
    assert(readLongs(dir) == (1L to 12L))
  }

  test("CAS publish: the loser of a concurrent-commit race re-merges and retries") {
    val dir = Files.createTempDirectory("fls-man-cas").toString
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    def add(rel: String, len: Long) =
      FlsManifest.Delta(add = Seq(FlsManifest.Entry(rel, len, 0)))
    FlsManifest.commit(fs, p, "seed", conf)(_ => add("a.fls", 1))
    var merges = 0
    val v = FlsManifest.commit(fs, p, "loser", conf) { _ =>
      merges += 1
      if (merges == 1)
        // a competing committer lands BETWEEN our read and our publish —
        // the exact window the old read-modify-write silently lost
        FlsManifest.commit(fs, p, "winner", conf)(_ => add("b.fls", 2))
      add("c.fls", 3)
    }
    assert(merges == 2, "the loser must re-run its merge on the winner's version")
    assert(v == 3L)
    assert(FlsManifest.read(fs, p).get.map(_.rel).sorted == Seq("a.fls", "b.fls", "c.fls"),
      "no committer's entries may be dropped")
  }

  test("two concurrent appender jobs: both file sets publish (no silent drop)") {
    val dir = Files.createTempDirectory("fls-man-conc").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    val batchA = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val batchB = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val wA = batchA.createBatchWriterFactory(null).createWriter(0, 1L)
    val wB = batchB.createBatchWriterFactory(null).createWriter(0, 2L)
    (101L to 150L).foreach(i => wA.write(row(i)))
    (201L to 250L).foreach(i => wB.write(row(i)))
    val mA = wA.commit()
    val mB = wB.commit()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      new Thread(() => try batchA.commit(Array(mA)) catch { case t: Throwable => errs.add(t) }),
      new Thread(() => try batchB.commit(Array(mB)) catch { case t: Throwable => errs.add(t) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent commits must both succeed: ${errs.toArray.toSeq}")
    assert(readLongs(dir) == ((1L to 10L) ++ (101L to 150L) ++ (201L to 250L)),
      "a concurrent appender's files were silently dropped from the manifest")
  }

  test("manifest_version option reads an immutable pinned snapshot") {
    val dir = Files.createTempDirectory("fls-man-pin").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    (11L to 20L).toDF("v").write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dir)
    assert(readLongs(dir) == (1L to 20L))
    val pinned = spark.read.format("fls").option("manifest_version", "1").load(dir)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(pinned == (1L to 10L), "pinned version must see the version-1 snapshot only")
  }

  test("legacy single-file manifest reads as v0 and upgrades on the next commit") {
    val dir = Files.createTempDirectory("fls-man-legacy").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    val p = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    // demote the table to the pre-versioned layout: copy the newest
    // version's bytes to `_fls_manifest` and drop the log dir
    val (v, entries) = FlsManifest.readVersioned(fs, p).get
    val src = FlsManifest.versionPath(p, v)
    val bytes = new Array[Byte](fs.getFileStatus(src).getLen.toInt)
    val in = fs.open(src); try in.readFully(0, bytes) finally in.close()
    val out = fs.create(FlsManifest.manifestPath(p), true)
    try out.write(bytes) finally out.close()
    fs.delete(FlsManifest.logDir(p), true)
    assert(FlsManifest.readVersioned(fs, p).get._1 == 0L, "legacy file must read as v0")
    assert(readLongs(dir) == (1L to 10L))
    // next commit upgrades: versioned log appears, legacy file retires
    (11L to 20L).toDF("v").write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dir)
    assert(FlsManifest.readVersioned(fs, p).get._1 == 1L)
    assert(!fs.exists(FlsManifest.manifestPath(p)), "legacy manifest must retire")
    assert(readLongs(dir) == (1L to 20L))
    // the v0 entries all survived the upgrade merge
    val upgraded = FlsManifest.read(fs, p).get.map(_.rel).toSet
    assert(entries.map(_.rel).toSet.subsetOf(upgraded))
  }

  test("empty manifest write leaves a readable schema-only table") {
    val dir = Files.createTempDirectory("fls-man-empty").toString
    val sp = spark; import sp.implicits._
    (1L to 10L).toDF("v").filter(col("v") < 0)
      .write.format("fls").mode("overwrite").option("commit_mode", "manifest").save(dir)
    val back = spark.read.format("fls").load(dir)
    assert(back.count() == 0)
    assert(back.schema.fieldNames.toSeq == Seq("v"))
    assert(manifestEntries(dir).length == 1)
  }
}
