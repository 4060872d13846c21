package graft.fls

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Streaming epochs on a manifest table. Each version carries one
  * `#stream\t<queryId>\t<epoch>` line per query that has committed to
  * its ref; an epoch commit whose head already records its query at
  * that epoch or later publishes nothing. Locks: epoch commits open no
  * chunk (first epoch, steady state, replay); the lines survive a fold,
  * a compaction and a rollback; the skip is decided inside the CAS
  * attempt; a replay after compaction keeps the rows single; and a
  * table whose epochs an earlier writer recorded as `w:` chunk markers
  * still recognizes them; an idle epoch opens no chunk either. */
class FlsEpochDeltaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-epoch-delta").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-epoch-delta-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // force CHUNKED manifests at spec scale
      .config(s"spark.hadoop.${FlsManifest.InlineThresholdKey}", "4")
      .config(s"spark.hadoop.${FlsManifest.ChunkTargetKey}", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val vSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType, nullable = false)))

  private def writeInfo(dir: String, qid: String) =
    new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("commit_mode", "manifest")
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = qid
      override def schema() = vSchema
    }

  private def row(v: Long) =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))

  private def readLongs(dir: String): Seq[Long] =
    spark.read.format("fls").load(dir).select("v").collect()
      .map(_.getLong(0)).toSeq.sorted

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  private def head(dir: String): (Long, FlsManifest.Layout) =
    FlsManifest.readLayoutVersioned(fsOf(dir), new Path(dir),
      resolveChunks = false).get

  private def seed(dir: String, n: Long): Unit = {
    val sp = spark
    import sp.implicits._
    // several single-file commits so the manifest holds several chunks
    (0L until n by 20).foreach { lo =>
      (lo until math.min(lo + 20, n)).toDF("v").coalesce(1)
        .write.format("fls").mode("append")
        .option("commit_mode", "manifest").save(dir)
    }
  }

  private def opened[A](body: => A): (A, Long) = {
    val before = FlsManifest.chunkReadCount.get()
    val r = body
    (r, FlsManifest.chunkReadCount.get() - before)
  }

  /** Runs epoch `e` of query `qid` writing `vs` through a fresh sink, as
    * Spark does per micro-batch; returns the chunks the commit opened. */
  private def epoch(dir: String, qid: String, e: Long, vs: Seq[Long]): Long = {
    import graft.fls.connector._
    val sw = new FlsStreamingWrite(writeInfo(dir, qid), spark)
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 10L + e, e)
    vs.foreach(v => w.write(row(v)))
    val msg = w.commit()
    opened(sw.commit(e, Array(msg)))._2
  }

  test("epoch commits open zero chunks: the first epoch, steady state and a replay") {
    val dir = s"$tmp/zero"
    seed(dir, 100L)
    assert(head(dir)._2.pointers.nonEmpty, "spec setup: must be chunked")
    (0L to 3L).foreach { e =>
      val n = epoch(dir, "q-zero", e, (1000L + e * 100) to (1019L + e * 100))
      assert(n == 0L, s"epoch $e opened $n chunks")
    }
    assert(head(dir)._2.streams == Map("q-zero" -> 3L))
    val before = head(dir)._1
    // the replay reads other data here only to tell the attempts apart;
    // it runs under the first attempt's task id, as a restarted driver
    // may hand out, so its direct file must not take the recorded name
    val n = epoch(dir, "q-zero", 3L, 9000L to 9019L)
    assert(n == 0L, s"the replay opened $n chunks")
    assert(head(dir)._1 == before, "the replay must publish no version")
    val vs = readLongs(dir)
    assert(vs.size == 100 + 4 * 20 && !vs.exists(_ >= 9000L),
      "the replay must keep the first attempt's rows")
  }

  test("an idle epoch on a chunked table opens no chunk") {
    val dir = s"$tmp/idle"
    seed(dir, 240L) // 12 single-file commits
    val (v, layout) = head(dir)
    assert(layout.pointers.nonEmpty && layout.pointers.map(_.count).sum == 12L,
      "spec setup: a 12-file chunked table")
    val n = epoch(dir, "q-idle", 0L, Nil)
    assert(n == 0L, s"the idle epoch opened $n chunks")
    assert(head(dir)._1 == v, "an idle epoch publishes no version")
    assert(readLongs(dir) == (0L until 240L))
  }

  test("#stream lines survive a fold, a compaction and a rollback") {
    val dir = s"$tmp/carry"
    seed(dir, 100L)
    epoch(dir, "q-carry", 1L, Seq(600L))
    val recordedAt = head(dir)._1
    assert(head(dir)._2.streams == Map("q-carry" -> 1L))
    // a rollback carries the HEAD's lines: the epoch stays recorded
    FlsMaintenance.rollback(spark, dir, recordedAt - 1)
    assert(head(dir)._2.streams == Map("q-carry" -> 1L), "lost by rollback")
    assert(!readLongs(dir).contains(600L), "spec setup: rolled back")
    // a burst of tiny BATCH appends folds the small chunks (>= 8)
    val sp = spark
    import sp.implicits._
    (0 until 10).foreach { i =>
      Seq(9000L + i).toDF("v").coalesce(1)
        .write.format("fls").mode("append")
        .option("commit_mode", "manifest").save(dir)
    }
    assert(head(dir)._2.streams == Map("q-carry" -> 1L), "lost by the fold")
    FlsMaintenance.compact(spark, dir)
    assert(head(dir)._2.streams == Map("q-carry" -> 1L), "lost by compaction")
  }

  test("compaction between an epoch and its replay keeps the epoch's rows single") {
    val dir = s"$tmp/compact_replay"
    seed(dir, 100L)
    epoch(dir, "q-compact", 1L, 600L to 619L)
    FlsMaintenance.compact(spark, dir)
    val rels = FlsManifest.readVersioned(fsOf(dir), new Path(dir)).get._2.map(_.rel)
    assert(!rels.exists(_.contains("-q-compact-e1-")),
      "spec setup: compaction must rewrite the epoch's file")
    // the driver died before Spark's commit log recorded epoch 1, so
    // the restarted query replays it with the same offsets
    epoch(dir, "q-compact", 1L, 600L to 619L)
    assert(readLongs(dir) == ((0L until 100L) ++ (600L to 619L)),
      "the replay after compaction doubled the epoch's rows")
  }

  test("the replay skip is decided inside the CAS attempt") {
    val dir = s"$tmp/cas"
    seed(dir, 100L)
    val fs = fsOf(dir)
    val p = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    def entry(task: Int) =
      FlsManifest.Entry(s"part-00000-q-cas-e1-$task-0000.fls", 1L, 0L)
    def commitEpoch(task: Int): Long =
      FlsManifest.commit(fs, p, s"q-cas-e1-$task", conf,
        stream = Some(("q-cas", 1L)))(_ => FlsManifest.Delta(add = Seq(entry(task))))
    // a second attempt of epoch 1 commits inside the first attempt's
    // window between staging its version and the publish CAS
    FlsManifest.beforePublishForTest = () => {
      FlsManifest.beforePublishForTest = () => ()
      commitEpoch(2)
    }
    val v = try commitEpoch(1)
      finally FlsManifest.beforePublishForTest = () => ()
    assert(FlsManifest.lastCommitAttempts.get() == 2,
      "the first attempt must lose the race and read the new head")
    assert(v == head(dir)._1, "a skipped commit returns the head's version")
    val rels = FlsManifest.readVersioned(fs, p).get._2.map(_.rel)
    assert(rels.contains(entry(2).rel) && !rels.contains(entry(1).rel),
      s"exactly the attempt that won must be recorded: $rels")
    // an inline head skips the same way
    val inlineDir = s"$tmp/cas_inline"
    val ip = new Path(inlineDir)
    def commitFull(task: Int): Long =
      FlsManifest.commit(fs, ip, s"q-full-e0-$task", conf,
          stream = Some(("q-full", 0L))) { _ =>
        FlsManifest.Delta(add = Seq(FlsManifest.Entry(s"part-q-full-e0-$task.fls", 1L, 0L)))
      }
    val v1 = commitFull(1)
    assert(commitFull(2) == v1)
    assert(FlsManifest.readVersioned(fs, ip).get._2.map(_.rel) ==
      Seq("part-q-full-e0-1.fls"))
  }

  test("an epoch an earlier writer recorded as a w: marker is still skipped; " +
      "the next commit writes a #stream line instead") {
    val dir = s"$tmp/old_format"
    seed(dir, 100L)
    val fs = fsOf(dir)
    val (v, _) = head(dir)
    val vp = FlsManifest.versionPath(new Path(dir), v)
    def text(p: Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    // the pointer-line field an earlier writer stamped for epoch 3 of q
    val edited = text(vp).split('\n').map(l =>
      if (l.startsWith("#chunk\t")) l + "\tw:q-e3@5:100" else l).mkString("", "\n", "\n")
    val out = fs.create(vp, true) // rewrites the checksum sidecar too
    try out.write(edited.getBytes(StandardCharsets.UTF_8)) finally out.close()
    assert(readLongs(dir) == (0L until 100L), "the edited table must read")
    assert(head(dir)._2.streams == Map("q" -> 3L))
    val n = epoch(dir, "q", 3L, 600L to 619L)
    assert(n == 0L, s"the replay opened $n chunks")
    assert(head(dir)._1 == v && readLongs(dir) == (0L until 100L),
      "a replay of the marked epoch must publish nothing")
    epoch(dir, "q", 4L, 700L to 719L)
    val next = text(FlsManifest.versionPath(new Path(dir), head(dir)._1))
    assert(!next.contains("\tw:"), s"the next commit wrote a w: field:\n$next")
    assert(next.contains("#stream\tq\t4\n"))
    assert(readLongs(dir) == ((0L until 100L) ++ (700L to 719L)))
  }
}
