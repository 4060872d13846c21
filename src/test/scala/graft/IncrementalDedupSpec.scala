package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Dedup, IncrementalArtifact, IncrementalDedup}

/** Incremental MinHash signatures ([[IncrementalDedup]]): the refresh
  * reads ONLY the files appended since the cursor (scan-bytes
  * asserted), the maintained table is bit-identical to a from-scratch
  * recompute, an up-to-date refresh is a zero-job no-op, non-append
  * ranges refuse and rebuild() recovers, and the near-dup result from
  * persisted signatures matches q22 end to end. */
class IncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("inc-dedup-spec").toString
  private val sf = "/root/testdata/sf0.001"
  private val docsDir = s"$tmp/docs"
  private val sigDir = s"$tmp/sigs"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("inc-dedup-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def docs() = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), col("text"))

  private class Metrics extends SparkListener {
    @volatile var jobs = 0
    @volatile var bytesRead = 0L
    override def onJobStart(s: SparkListenerJobStart): Unit = jobs += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskMetrics != null)
        bytesRead += t.taskMetrics.inputMetrics.bytesRead
  }

  private def measured[A](body: => A): (A, Metrics) = {
    val m = new Metrics
    spark.sparkContext.addSparkListener(m)
    try {
      val r = body
      Thread.sleep(400) // listener bus drains asynchronously
      (r, m)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("refresh is O(new data): the second refresh reads only the " +
      "appended commit's files; an up-to-date refresh runs zero jobs") {
    docs().filter(col("doc_id") % 5 < 4)
      .write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").save(docsDir)
    val s1 = IncrementalDedup.refresh(spark, docsDir, sigDir)
    assert(s1.fromVersion == 0L && s1.toVersion == 1L && s1.docsSigned > 0)
    assert(IncrementalArtifact.cursorOf(spark, sigDir) == 1L)
    // total bytes of the FULL docs table so far (what a naive refresh
    // would re-read)
    val fullBytes = new java.io.File(docsDir).listFiles()
      .filter(_.getName.endsWith(".fls")).map(_.length()).sum
    docs().filter(col("doc_id") % 5 === 4)
      .write.format("fls").mode("append")
      .option("commit_mode", "manifest").save(docsDir)
    val (s2, m2) = measured(IncrementalDedup.refresh(spark, docsDir, sigDir))
    assert(s2.fromVersion == 1L && s2.toVersion == 2L && s2.docsSigned > 0)
    assert(m2.bytesRead < (fullBytes * 0.6).toLong,
      s"second refresh read ${m2.bytesRead} B of a $fullBytes B table — " +
        "not incremental")
    // already current: zero jobs, nothing signed
    val (s3, m3) = measured(IncrementalDedup.refresh(spark, docsDir, sigDir))
    assert(s3.docsSigned == 0L)
    assert(m3.jobs == 0, s"no-op refresh launched ${m3.jobs} job(s)")
  }

  test("the maintained table equals a from-scratch recompute, and the " +
      "near-dup result from signatures matches q22") {
    // (depends on the table built above)
    val maintained = spark.read.format("fls").load(sigDir)
      .drop("src_version").collect().toSet
    IncrementalDedup.rebuild(spark, docsDir, s"$tmp/sigs_full")
    val full = spark.read.format("fls").load(s"$tmp/sigs_full")
      .drop("src_version").collect().toSet
    assert(maintained == full)
    val viaSigs = IncrementalDedup
      .nearDupsFromSignatures(spark, docsDir, sigDir, cacheKey = s"$tmp#spec")
      .collect().toSeq
    val viaQ22 = Dedup.q22MinhashLsh(spark, sf).collect().toSeq
    assert(viaSigs == viaQ22)
  }

  test("the serving cache is version-keyed: a refresh that advances " +
      "the signature table is never served a stale cached frame") {
    val dDir = s"$tmp/docs_vk"
    val gDir = s"$tmp/sigs_vk"
    docs().filter(col("doc_id") % 5 < 4).write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dDir)
    IncrementalDedup.refresh(spark, dDir, gDir)
    // first serve fills the r20 per-(key, version) persisted cache
    val before = IncrementalDedup
      .nearDupsFromSignatures(spark, dDir, gDir, cacheKey = s"$tmp#stale")
      .collect().toSeq
    // append the held-out docs and refresh: the table version advances
    docs().filter(col("doc_id") % 5 === 4).write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dDir)
    IncrementalDedup.refresh(spark, dDir, gDir)
    // same cacheKey: a version-blind cache would replay `before`
    val after = IncrementalDedup
      .nearDupsFromSignatures(spark, dDir, gDir, cacheKey = s"$tmp#stale")
      .collect().toSeq
    val full = Dedup.q22MinhashLsh(spark, sf).collect().toSeq
    assert(after == full,
      "post-refresh serve does not match the full-corpus result — " +
        "stale cached signatures were served")
    assert(before != after, "test vacuous: the append changed nothing")
  }

  test("a non-append-only range refuses loudly; rebuild() recovers") {
    val dDir = s"$tmp/docs2"
    val gDir = s"$tmp/sigs2"
    docs().limit(50).write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").save(dDir)
    IncrementalDedup.refresh(spark, dDir, gDir)
    // an overwrite rewrites history: stale signatures would survive
    docs().limit(30).write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").save(dDir)
    val e = intercept[Exception](IncrementalDedup.refresh(spark, dDir, gDir))
    assert(e.getMessage.contains("not append-only"), e.getMessage)
    val st = IncrementalDedup.rebuild(spark, dDir, gDir)
    assert(st.docsSigned > 0)
    assert(spark.read.format("fls").load(gDir)
      .select("doc_id").distinct().count() <= 30)
  }

  test("concurrent refreshes of one index are single-writer: the loser " +
      "refuses loudly instead of appending duplicate rows; a stale " +
      "crashed-refresh lock is taken over") {
    val dDir = s"$tmp/docs3"
    val gDir = s"$tmp/sigs3"
    // disjoint, deterministic splits: overlapping appends would
    // legitimately sign a doc twice and mask the duplicate check
    val docIds = docs().select("doc_id").distinct().orderBy("doc_id")
      .limit(60).collect().map(_.get(0))
    docs().filter(col("doc_id").isin(docIds.take(20).toIndexedSeq: _*))
      .write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").save(dDir)
    IncrementalDedup.refresh(spark, dDir, gDir)
    docs().filter(col("doc_id").isin(docIds.drop(20).toIndexedSeq: _*))
      .write.format("fls").mode("append")
      .option("commit_mode", "manifest").save(dDir)
    // simulate an in-flight refresh: a FRESH lock refuses the second
    val lock = new java.io.File(s"$gDir/_refresh_lock")
    assert(lock.createNewFile(), "spec setup: lock must not pre-exist")
    val e = intercept[java.util.ConcurrentModificationException](
      IncrementalDedup.refresh(spark, dDir, gDir))
    assert(e.getMessage.contains("another refresh"), e.getMessage)
    // a STALE lock (crashed refresh) is taken over, refresh proceeds
    assert(lock.setLastModified(System.currentTimeMillis() - 3600L * 1000))
    val st = IncrementalDedup.refresh(spark, dDir, gDir)
    assert(st.toVersion > st.fromVersion)
    assert(!lock.exists(), "the lock must release after the refresh")
    // and no duplicates: one signature row per doc
    val sig = spark.read.format("fls").load(gDir)
    assert(sig.count() == sig.select("doc_id").distinct().count())
  }

  test("a LIVE refresh running PAST the TTL keeps its lock fresh via " +
      "the mtime heartbeat (r18): a concurrent runner refuses instead " +
      "of taking over mid-refresh — only a heartbeat-less (crashed) " +
      "stale lock is recoverable") {
    val dir = s"$tmp/lock_hb"
    new java.io.File(dir).mkdirs()
    // generous margins: the contender probes at 2×ttl while the holder
    // runs to 3×ttl — a heartbeat (every ttl/4 = 400 ms) would have to
    // stall > ttl (1.6 s) for the lock to look stale, far beyond any
    // plausible CI scheduler pause
    val ttl = 1600L
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var holderResult: Option[String] = None
    val holder = new Thread(() => {
      holderResult = Some(IncrementalArtifact.withRefreshLock(dir, ttl) {
        started.countDown()
        Thread.sleep(3 * ttl) // a refresh legitimately outliving the TTL
        "done"
      })
    })
    holder.start()
    assert(started.await(5, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(2 * ttl) // well past the TTL — only heartbeats keep it live
    val e = intercept[java.util.ConcurrentModificationException](
      IncrementalArtifact.withRefreshLock(dir, ttl) { "stolen" })
    assert(e.getMessage.contains("another refresh"),
      s"a live-heartbeat lock past its TTL must refuse, got: ${e.getMessage}")
    holder.join(10000)
    assert(holderResult.contains("done"), "the long refresh must finish")
    assert(!new java.io.File(s"$dir/_refresh_lock").exists(),
      "the lock must release when the long refresh completes")
  }
}
