package graft.fls

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.fls.connector._

/** Write-commit protocol under task retry + speculative execution — the
  * cluster analog of the reference writer's finalize/abort guarantees
  * (/root/reference/src/writer/fls_writer.cpp:332-347). Tasks stage into
  * attempt-unique temp dirs and leave their files there on task commit;
  * the job commit publishes exactly the committed file set. */
class FlsCommitSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-commit-spec")
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
        extra.foreach { case (k, v) => m.put(k, v) }
        new CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "test-query"
      override def schema(): StructType = FlsCommitSpec.this.schema
    }

  private def row(v: Long): InternalRow = new GenericInternalRow(Array[Any](v))

  private def flsFiles(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && f.getName.endsWith(".fls")).map(_.getName).sorted
  }

  private def readLongs(dir: String): Seq[Long] =
    spark.read.format("fls").load(dir).collect().map(_.getLong(0)).toSeq.sorted

  test("speculative twin: two live attempts of one partition, one commits, one aborts") {
    val dir = Files.createTempDirectory("fls-spec-twin").toString
    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    // same partition, different task attempts, interleaved writes
    val a = factory.createWriter(0, 1L)
    val b = factory.createWriter(0, 2L)
    (1L to 100L).foreach { i => a.write(row(i)); b.write(row(i + 1000)) }
    val msg = a.commit()     // coordinator-authorized winner
    b.abort()                // loser: must leave no trace
    batch.commit(Array(msg))
    assert(flsFiles(dir).nonEmpty)
    assert(!new java.io.File(dir, FlsCommit.TempDirName).exists())
    assert(readLongs(dir) == (1L to 100L))
  }

  test("abort deletes rotated files too, not just the open one") {
    val dir = Files.createTempDirectory("fls-spec-rot").toString
    val conf = spark.sessionState.newHadoopConf()
    val w = new FlsDataWriter(dir, schema, rowGroupSize = Format.VecSize,
      rowGroupsPerFile = 1, conf, "part-00000-w1", "attempt-0-1")
    (1L to (3L * Format.VecSize)).foreach(i => w.write(row(i))) // 3 rotated files
    w.abort()
    val fs = new Path(dir).getFileSystem(conf)
    val leftovers = fs.listFiles(new Path(dir), true)
    var names = List.empty[String]
    while (leftovers.hasNext) names ::= leftovers.next().getPath.getName
    assert(names.isEmpty, s"abort left: $names")
  }

  test("task retry after crash-mid-commit: job commit keeps exactly the committed set") {
    val dir = Files.createTempDirectory("fls-spec-retry").toString
    // 1 row group per file so the crashed attempt rotates TWO files and
    // the retry (one short group) produces only one — the stale second
    // file must not survive job commit
    val batch = new FlsBatchWrite(writeInfo(dir,
      Map("row_group_size" -> Format.VecSize.toString, "row_groups_per_file" -> "1")),
      doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    val ok = factory.createWriter(0, 10L)
    (1L to 50L).foreach(i => ok.write(row(i)))
    val msgOk = ok.commit()

    // attempt 11 of partition 1 rotates two files, "crashes" after its
    // task commit (commit message lost — never reaches the driver)
    val crashed = new FlsDataWriterProbe(dir, factory, 1, 11L)
    (1L to (2L * Format.VecSize)).foreach(i => crashed.write(row(i + 100)))
    crashed.commit() // files closed in staging; message discarded

    // retry attempt 12 produces FEWER files (one short row group)
    val retry = factory.createWriter(1, 12L)
    (1L to 60L).foreach(i => retry.write(row(i + 100)))
    val msgRetry = retry.commit()

    batch.commit(Array(msgOk, msgRetry))
    val committed = (msgOk.asInstanceOf[FlsCommitMessage].files ++
      msgRetry.asInstanceOf[FlsCommitMessage].files).map(new Path(_).getName).sorted
    assert(flsFiles(dir) == committed.toSeq,
      s"stale files survived: ${flsFiles(dir)} vs $committed")
    assert(readLongs(dir) == ((1L to 50L) ++ (101L to 160L)).sorted)
  }

  test("truncate defers old-data deletion to job commit") {
    val dir = Files.createTempDirectory("fls-spec-trunc").toString
    spark.range(1, 11).selectExpr("id AS v").write.format("fls").mode("append").save(dir)
    val oldFiles = flsFiles(dir)
    assert(oldFiles.nonEmpty)

    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = true)
    val factory = batch.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 1L)
    (21L to 30L).foreach(i => w.write(row(i)))
    val msg = w.commit()
    // old data still present after task commit, gone only after job commit
    assert(oldFiles.forall(flsFiles(dir).contains), "truncate deleted old data early")
    batch.commit(Array(msg))
    assert(oldFiles.forall(f => !flsFiles(dir).contains(f)))
    assert(readLongs(dir) == (21L to 30L))
  }

  test("a listing-mode plain append lists no table directory at job commit") {
    val dir = Files.createTempDirectory("fls-spec-append-walk").toString
    spark.range(1, 6).selectExpr("id AS v").write.format("fls").mode("append").save(dir)
    def commitListings(doTruncate: Boolean, lo: Long): Seq[Path] = {
      val batch = new FlsBatchWrite(writeInfo(dir), doTruncate)
      val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
      (lo until lo + 5).foreach(i => w.write(row(i)))
      val msg = w.commit()
      FaultyFs.during(spark, (_, _) => false)(batch.commit(Array(msg)))
      // hidden directories (`_temporary`, `_fls_manifest_log`) aside
      FaultyFs.listed.asScala.toSeq.filterNot(_.getName.startsWith("_"))
    }
    assert(commitListings(doTruncate = false, 10L).isEmpty)
    assert(readLongs(dir) == (1L to 5L) ++ (10L to 14L))
    // a truncate removes what it replaces, so it walks the table
    assert(commitListings(doTruncate = true, 20L).nonEmpty)
    assert(readLongs(dir) == (20L to 24L))
  }

  test("job abort rolls back committed tasks' renamed files") {
    val dir = Files.createTempDirectory("fls-spec-jobabort").toString
    spark.range(1, 6).selectExpr("id AS v").write.format("fls").mode("append").save(dir)
    val before = flsFiles(dir)

    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    val w = factory.createWriter(0, 1L)
    (1L to 10L).foreach(i => w.write(row(i)))
    val msg = w.commit()
    batch.abort(Array(msg, null)) // null ≙ a task that never committed
    assert(flsFiles(dir) == before, "job abort must restore the pre-job file set")
    assert(readLongs(dir) == (1L to 5L))
  }

  test("a task that commits after its job aborted publishes nothing") {
    val dir = Files.createTempDirectory("fls-spec-late").toString
    spark.range(1, 6).selectExpr("id AS v").write.format("fls").mode("append").save(dir)
    val before = flsFiles(dir)

    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    // authorised to commit just before another task failed: its rows are
    // still buffered (less than one row group), so no file exists yet
    val late = factory.createWriter(0, 1L)
    (1L to 10L).foreach(i => late.write(row(i)))
    batch.abort(Array(null)) // the failed task's slot; the late one has not committed
    late.commit()            // writes its file only now, after the abort
    assert(flsFiles(dir) == before, "a task committed after the abort left a visible file")
    assert(readLongs(dir) == (1L to 5L))
  }

  test("a published manifest survives a cleanup failure after the publish") {
    val dir = Files.createTempDirectory("fls-spec-cleanup").toString
    spark.range(1, 6).selectExpr("id AS v").write.format("fls").mode("append")
      .option("commit_mode", "manifest").save(dir)
    val batch = new FlsBatchWrite(writeInfo(dir, Map("commit_mode" -> "manifest")),
      doTruncate = false)
    val factory = batch.createBatchWriterFactory(null)
    val a = factory.createWriter(0, 1L)
    val twin = factory.createWriter(0, 2L) // its final-named files are junk to clean
    (11L to 50L).foreach { i => a.write(row(i)); twin.write(row(i + 1000)) }
    val msg = a.commit()
    twin.commit() // denied by the coordinator in a real job: message never sent
    val failure = FaultyFs.during(spark, (_, dst) => dst == null) {
      try { batch.commit(Array(msg)); None }
      catch { case e: Exception => Some(e) }
    }
    failure.foreach(_ => batch.abort(Array(msg))) // what Spark does when commit throws
    assert(failure.isEmpty, s"job commit failed after publishing its manifest: $failure")
    assert(readLongs(dir) == (1L to 5L) ++ (11L to 50L))
  }

  test("a failed overwrite commit puts the replaced files back") {
    val dir = Files.createTempDirectory("fls-spec-ovw-fail").toString
    spark.range(1, 6).selectExpr("id AS v").coalesce(1)
      .write.format("fls").mode("append").save(dir)
    spark.range(6, 11).selectExpr("id AS v").coalesce(1)
      .write.format("fls").mode("append").save(dir)
    val old = flsFiles(dir).toSet
    assert(old.size == 2)
    val batch = new FlsBatchWrite(writeInfo(dir), doTruncate = true)
    val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
    (100L to 120L).foreach(i => w.write(row(i)))
    val msg = w.commit()
    // the store refuses to remove whichever old file the commit reaches
    // second, after the new file is published and the first is removed
    var reached = 0
    val tableRoot = new Path(dir).toUri.getPath
    FaultyFs.during(spark, (src, _) =>
        src.getParent.toUri.getPath == tableRoot && old(src.getName) &&
          { reached += 1; reached > 1 }) {
      intercept[Exception](batch.commit(Array(msg)))
      batch.abort(Array(msg)) // what Spark does when commit throws
    }
    assert(flsFiles(dir).toSet == old)
    assert(readLongs(dir) == (1L to 10L))
  }

  test("concurrent jobs appending to one directory never touch each other's staging") {
    val dir = Files.createTempDirectory("fls-spec-conc").toString
    val batchA = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val batchB = new FlsBatchWrite(writeInfo(dir), doTruncate = false)
    val fa = batchA.createBatchWriterFactory(null)
    val fb = batchB.createBatchWriterFactory(null)
    // interleave: A stages and commits its job while B is still staging
    val wb = fb.createWriter(0, 7L)
    (1L to 30L).foreach(i => wb.write(row(i + 500)))
    val wa = fa.createWriter(0, 7L) // same (partitionId, taskId) as B's
    (1L to 20L).foreach(i => wa.write(row(i)))
    val msgA = wa.commit()
    batchA.commit(Array(msgA)) // must NOT delete B's staged files
    val msgB = wb.commit()
    batchB.commit(Array(msgB))
    assert(readLongs(dir) == ((1L to 20L) ++ (501L to 530L)).sorted,
      "one job's commit destroyed the other's staged or committed files")
    assert(!new java.io.File(dir, FlsCommit.TempDirName).exists())
  }

  test("overwrite-mode end-to-end through the DataFrame API stays atomic") {
    val dir = Files.createTempDirectory("fls-spec-e2e").toString
    spark.range(1, 101).selectExpr("id AS v").write.format("fls").mode("append").save(dir)
    spark.range(201, 221).selectExpr("id AS v")
      .write.format("fls").mode("overwrite").save(dir)
    assert(readLongs(dir) == (201L to 220L))
    assert(!new java.io.File(dir, FlsCommit.TempDirName).exists())
  }

  test("writer touches a staging heartbeat as it flushes row groups") {
    val dir = Files.createTempDirectory("fls-spec-hb").toString
    val conf = spark.sessionState.newHadoopConf()
    conf.setLong("graft.fls.heartbeat.interval.ms", 0L) // every flush
    val w = new FlsDataWriter(dir, schema, rowGroupSize = 64,
      rowGroupsPerFile = 0, conf, "part-00000-hbjob", "hbjob/attempt-0-1")
    (1L to 64L).foreach(i => w.write(row(i))) // exactly one flushed group
    val hb = new java.io.File(
      s"$dir/${FlsCommit.TempDirName}/hbjob/attempt-0-1/.heartbeat")
    assert(hb.exists(), "no heartbeat after a row-group flush")
    w.abort()
  }

  test("orphan sweep spares trees with fresh activity; sweeps truly dead ones") {
    val dir = Files.createTempDirectory("fls-spec-sweep").toString
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val old = System.currentTimeMillis() - 10 * 60 * 1000L
    def mk(writeId: String): Path = {
      val attempt = new Path(new Path(new Path(root, FlsCommit.TempDirName), writeId), "attempt-0-1")
      fs.mkdirs(attempt)
      fs.create(new Path(attempt, "data.fls"), true).close()
      attempt
    }
    def ageTree(p: Path): Unit = { // make every mtime past the TTL
      fs.listStatus(p).foreach { s =>
        if (s.isDirectory) ageTree(s.getPath)
        fs.setTimes(s.getPath, old, -1)
      }
      fs.setTimes(p, old, -1)
    }
    val liveAttempt = mk("livejob")
    val deadAttempt = mk("deadjob")
    ageTree(new Path(new Path(root, FlsCommit.TempDirName), "livejob"))
    ageTree(new Path(new Path(root, FlsCommit.TempDirName), "deadjob"))
    // the live job's writer heartbeats while it runs — only that file is fresh
    fs.create(new Path(liveAttempt, ".heartbeat"), true).close()

    FlsCommit.sweepOrphans(fs, root, "ownjob", ttlMs = 60 * 1000L)
    assert(fs.exists(liveAttempt),
      "a >TTL-old tree with a fresh heartbeat was swept — long-running job lost")
    assert(!fs.exists(deadAttempt.getParent),
      "a tree with no activity past the TTL must be swept")
  }
}

/** Test-only handle that drives a real writer for (partitionId, taskId)
  * but lets the test discard its commit message — simulating a task that
  * crashed after its task commit. */
private class FlsDataWriterProbe(
    dir: String,
    factory: org.apache.spark.sql.connector.write.DataWriterFactory,
    partitionId: Int,
    taskId: Long) {
  private val w = factory.createWriter(partitionId, taskId)
  def write(r: InternalRow): Unit = w.write(r)
  def commit(): WriterCommitMessage = w.commit()
}

/** Local file system that refuses every delete and rename
  * `FaultyFs.refuses(src, dst)` accepts (`dst` is null for a delete) — a
  * store that fails in the middle of a commit — and records every
  * directory it lists in `FaultyFs.listed`. */
class FaultyFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    FaultyFs.listed.add(p)
    super.listStatus(p)
  }
  override def delete(p: Path, recursive: Boolean): Boolean =
    if (FaultyFs.refuses(p, null)) throw new java.io.IOException(s"injected delete failure: $p")
    else super.delete(p, recursive)
  override def rename(src: Path, dst: Path): Boolean =
    !FaultyFs.refuses(src, dst) && super.rename(src, dst)
}

object FaultyFs {
  @volatile var refuses: (Path, Path) => Boolean = (_, _) => false
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** Runs `body` with `refuses` installed as the session's local file
    * system, `listed` cleared first. */
  def during[T](spark: SparkSession, refuses: (Path, Path) => Boolean)(body: => T): T = {
    spark.conf.set("fs.file.impl", classOf[FaultyFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    FaultyFs.refuses = refuses
    FaultyFs.listed.clear()
    try body
    finally {
      FaultyFs.refuses = (_, _) => false
      spark.conf.unset("fs.file.impl")
      spark.conf.unset("fs.file.impl.disable.cache")
    }
  }
}
