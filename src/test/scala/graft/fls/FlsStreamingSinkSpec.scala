package graft.fls

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `writeStream.format("fls")`: continuous ingestion through the same
  * commit protocol as batch writes, with deterministic per-epoch
  * writeIds so retried epochs converge instead of duplicating: a
  * listing-mode replay replaces its prior attempt's files, a manifest
  * table keeps the attempt its manifest recorded. */
class FlsStreamingSinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-sink-spec").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-streaming-sink-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def readLongs(dir: String): Seq[Long] =
    spark.read.format("fls").load(dir).select("v").collect().map(_.getLong(0)).toSeq.sorted

  private def flsCount(dir: String): Int =
    FlsFile.listDataStatuses(new Path(dir), spark.sessionState.newHadoopConf()).length

  test("micro-batches append exactly once; restart on the checkpoint resumes") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val dir = s"$tmp/basic"
    val ckpt = s"$tmp/basic_ckpt"
    val in = MemoryStream[Long]
    val q1 = in.toDF().withColumnRenamed("value", "v")
      .writeStream.format("fls")
      .option("path", dir).option("checkpointLocation", ckpt).start()
    in.addData(1L to 50L: _*)
    q1.processAllAvailable()
    in.addData(51L to 80L: _*)
    q1.processAllAvailable()
    q1.stop()
    assert(readLongs(dir) == (1L to 80L))

    // restart on the same checkpoint: only NEW data lands
    val q2 = in.toDF().withColumnRenamed("value", "v")
      .writeStream.format("fls")
      .option("path", dir).option("checkpointLocation", ckpt).start()
    in.addData(81L to 100L: _*)
    q2.processAllAvailable()
    q2.stop()
    assert(readLongs(dir) == (1L to 100L))
  }

  test("idle triggers add no files to a populated table") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val dir = s"$tmp/idle"
    val in = MemoryStream[Long]
    val q = in.toDF().withColumnRenamed("value", "v")
      .writeStream.format("fls")
      .option("path", dir).option("checkpointLocation", s"$tmp/idle_ckpt").start()
    in.addData(1L to 10L: _*)
    q.processAllAvailable()
    val files = flsCount(dir)
    q.processAllAvailable() // no new data
    q.processAllAvailable()
    q.stop()
    assert(flsCount(dir) == files, "empty epochs must not add schema-only files")
    assert(readLongs(dir) == (1L to 10L))
  }

  test("a retried epoch converges: prior attempt's files are replaced, not doubled") {
    val dir = Files.createTempDirectory("fls-sink-retry").toString
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    def writeInfo(extra: Map[String, String] = Map.empty) =
      new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def options() = {
          val m = new java.util.HashMap[String, String]()
          m.put("path", dir)
          extra.foreach { case (k, v) => m.put(k, v) }
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
        }
        override def queryId(): String = "q-retry-test"
        override def schema() = vSchema
      }
    def row(v: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))

    import graft.fls.connector._
    val sw = new FlsStreamingWrite(writeInfo())
    val factory = sw.createStreamingWriterFactory(null)

    // attempt 1 of epoch 7: task commits (its files stay staged), then
    // the driver "crashes" before the sink's job commit publishes them
    val crashed = factory.createWriter(0, 1L, 7L)
    (1L to 40L).foreach(i => crashed.write(row(i)))
    crashed.commit()

    // epoch 7 re-executes (possibly different data partitioning)
    val retry = factory.createWriter(0, 2L, 7L)
    (101L to 140L).foreach(i => retry.write(row(i)))
    val msg = retry.commit()
    sw.commit(7L, Array(msg))

    assert(readLongs(dir) == (101L to 140L),
      "retried epoch must replace the crashed attempt's rows, not append to them")
  }

  test("a replayed epoch that writes fewer files drops its prior attempt's extra file") {
    val dir = Files.createTempDirectory("fls-sink-fewer").toString
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("row_group_size", Format.VecSize.toString)
        m.put("row_groups_per_file", "1")
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "q-fewer-test"
      override def schema() = vSchema
    }
    def row(v: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))

    import graft.fls.connector._
    val sw = new FlsStreamingWrite(info)
    val factory = sw.createStreamingWriterFactory(null)
    // epoch 2, attempt 1: two rotated files, PUBLISHED by its job commit;
    // the driver dies before Spark's commit log records the batch
    val a1 = factory.createWriter(0, 1L, 2L)
    (1L to 2L * Format.VecSize).foreach(i => a1.write(row(i)))
    sw.commit(2L, Array(a1.commit()))
    assert(flsCount(dir) == 2)
    // the replay writes one short file: it replaces the first name, and
    // the job commit's same-writeId sweep must drop the second
    val a2 = factory.createWriter(0, 2L, 2L)
    (1L to 60L).foreach(i => a2.write(row(i + 10000)))
    sw.commit(2L, Array(a2.commit()))
    assert(readLongs(dir) == (10001L to 10060L))
  }

  test("an aborted replay puts its prior attempt's published files back") {
    val dir = Files.createTempDirectory("fls-sink-abort-replay").toString
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("row_group_size", Format.VecSize.toString)
        m.put("row_groups_per_file", "1")
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "q-abort-replay-test"
      override def schema() = vSchema
    }
    def row(v: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))

    import graft.fls.connector._
    val sw = new FlsStreamingWrite(info)
    val factory = sw.createStreamingWriterFactory(null)
    // epoch 3, attempt 1: two files, published; the batch never reaches
    // Spark's commit log
    val a1 = factory.createWriter(0, 1L, 3L)
    (1L to 2L * Format.VecSize).foreach(i => a1.write(row(i)))
    sw.commit(3L, Array(a1.commit()))
    assert(flsCount(dir) == 2)
    // the replay writes the same two names; its publish replaces the
    // first, then the store refuses the second
    val a2 = factory.createWriter(0, 2L, 3L)
    (1L to 2L * Format.VecSize).foreach(i => a2.write(row(i + 100000)))
    val msg = a2.commit()
    FaultyFs.during(spark, (src, dst) => dst != null &&
        src.toString.contains("/attempt-") && dst.getName.endsWith("-0001.fls")) {
      intercept[Exception](sw.commit(3L, Array(msg)))
      sw.abort(3L, Array(msg)) // what Spark does when the commit throws
    }
    assert(readLongs(dir) == (1L to 2L * Format.VecSize),
      "the abort must leave the prior attempt's rows visible")
  }

  test("retried epoch converges in manifest mode too (no duplicate manifest entries)") {
    val dir = Files.createTempDirectory("fls-sink-retry-man").toString
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("commit_mode", "manifest")
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "q-retry-man"
      override def schema() = vSchema
    }
    def row(v: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))

    import graft.fls.connector._
    val sw = new FlsStreamingWrite(info)
    val factory = sw.createStreamingWriterFactory(null)

    // epoch 3, attempt 1: direct-write files land, job commit PUBLISHES
    // the manifest — then the driver dies before Spark's commit log
    val a1 = factory.createWriter(0, 1L, 3L)
    (1L to 20L).foreach(i => a1.write(row(i)))
    sw.commit(3L, Array(a1.commit()))
    assert(readLongs(dir) == (1L to 20L))

    // epoch 3 re-executes; its other data only tells the attempts apart
    // (a replay reads the same offsets)
    val a2 = factory.createWriter(0, 2L, 3L)
    (201L to 220L).foreach(i => a2.write(row(i)))
    sw.commit(3L, Array(a2.commit()))

    assert(readLongs(dir) == (1L to 20L),
      "the manifest must keep exactly the recorded attempt's files")
    // a later epoch appends normally
    val b = factory.createWriter(0, 3L, 4L)
    (301L to 310L).foreach(i => b.write(row(i)))
    sw.commit(4L, Array(b.commit()))
    assert(readLongs(dir) == ((1L to 20L) ++ (301L to 310L)))
  }

  test("epoch abort never deletes a prior attempt's published files") {
    val dir = Files.createTempDirectory("fls-sink-abort").toString
    val vSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("commit_mode", "manifest")
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "q-abort-test"
      override def schema() = vSchema
    }
    def row(v: Long) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v))

    import graft.fls.connector._
    val sw = new FlsStreamingWrite(info)
    val factory = sw.createStreamingWriterFactory(null)

    // epoch 5, attempt 1: commits AND publishes the manifest; the
    // driver dies before Spark's commit log records the batch
    val a1 = factory.createWriter(0, 1L, 5L)
    (1L to 30L).foreach(i => a1.write(row(i)))
    sw.commit(5L, Array(a1.commit()))
    assert(readLongs(dir) == (1L to 30L))

    // epoch 5 re-executes and FAILS mid-flight → Spark aborts the epoch.
    // The deterministic writeId must not take attempt 1's manifest-named
    // files down with it — the table must stay fully readable.
    val a2 = factory.createWriter(0, 2L, 5L)
    (101L to 130L).foreach(i => a2.write(row(i)))
    val orphanMsg = a2.commit() // task committed; job will abort
    sw.abort(5L, Array(orphanMsg))
    assert(readLongs(dir) == (1L to 30L),
      "abort of a retried epoch destroyed the published attempt's data")

    // and a subsequent SUCCESSFUL retry keeps the recorded attempt
    val a3 = factory.createWriter(0, 3L, 5L)
    (201L to 230L).foreach(i => a3.write(row(i)))
    sw.commit(5L, Array(a3.commit()))
    assert(readLongs(dir) == (1L to 30L))
  }

  /** The real crash-restart: the driver dies AFTER the sink committed
    * epoch N but BEFORE Spark wrote `commits/N` to the checkpoint —
    * simulated exactly by deleting the newest commit-log entry after a
    * clean stop. On restart Spark replays epoch N (same epochId, same
    * offsets); the sink's deterministic writeId must converge to
    * exactly-once instead of doubling the epoch's rows. */
  private def crashRestartCase(label: String, extra: Map[String, String]): Unit =
    test(s"crash between sink commit and commit log converges on restart ($label)") {
      val sp = spark
      import sp.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
      val dir = s"$tmp/crash_$label"
      val ckpt = s"$tmp/crash_${label}_ckpt"
      val in = MemoryStream[Long]
      def start() = {
        var w = in.toDF().withColumnRenamed("value", "v")
          .withColumn("p", (col("v") % 3).cast("string"))
          .writeStream.format("fls")
          .option("path", dir).option("checkpointLocation", ckpt)
        extra.foreach { case (k, v) => w = w.option(k, v) }
        w.start()
      }
      val q1 = start()
      in.addData(1L to 25L: _*)
      q1.processAllAvailable()
      in.addData(26L to 40L: _*)
      q1.processAllAvailable()
      q1.stop()
      assert(readLongs(dir) == (1L to 40L))

      // the sink committed the newest epoch, but "the driver crashed"
      // before the commit log recorded it
      val commits = new java.io.File(ckpt, "commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      assert(commits.nonEmpty)
      val dropped = commits.last
      assert(dropped.delete(), s"could not drop commit-log entry $dropped")
      // the local checksum fs leaves a CRC sidecar that would make the
      // re-written entry fail verification — a real crash leaves neither
      new java.io.File(dropped.getParentFile, s".${dropped.getName}.crc").delete()

      // restart: Spark re-executes the epoch with the same epochId; the
      // deterministic writeId replaces the prior attempt's files
      val q2 = start()
      q2.processAllAvailable()
      assert(readLongs(dir) == (1L to 40L),
        "re-executed epoch must converge to exactly-once, not double its rows")
      // and the stream keeps ingesting normally afterwards
      in.addData(41L to 50L: _*)
      q2.processAllAvailable()
      q2.stop()
      assert(readLongs(dir) == (1L to 50L))
    }

  crashRestartCase("rename", Map.empty)
  crashRestartCase("manifest", Map("commit_mode" -> "manifest"))
  crashRestartCase("manifest_partitioned",
    Map("commit_mode" -> "manifest", "partition_by" -> "p"))

  test("a manifest stream on a new table stages its first epoch and writes " +
      "the next one directly") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val dir = s"$tmp/direct_after_first"
    val in = MemoryStream[Long]
    val q = in.toDF().withColumnRenamed("value", "v")
      .writeStream.format("fls").option("commit_mode", "manifest")
      .option("path", dir).option("checkpointLocation", s"$tmp/direct_ckpt").start()
    in.addData(1L to 10L: _*)
    q.processAllAvailable()
    in.addData(11L to 20L: _*)
    q.processAllAvailable()
    q.stop()
    assert(readLongs(dir) == (1L to 20L))
    val p = new Path(dir)
    val rels = FlsManifest.read(p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .get.map(_.rel)
    // a staged name is `part-<partition>-<writeId>-<seq>.fls`; a direct
    // one carries the task id and attempt tag after the writeId
    val direct = "-e[01]-[0-9]+-".r
    val (e0, e1) = (rels.filter(_.contains("-e0-")), rels.filter(_.contains("-e1-")))
    assert(e0.nonEmpty && e0.forall(direct.findFirstIn(_).isEmpty),
      s"epoch 0 has no manifest to hide direct files, so it stages: $e0")
    assert(e1.nonEmpty && e1.forall(direct.findFirstIn(_).isDefined),
      s"epoch 1 must write directly under the manifest epoch 0 made: $e1")
  }

  test("streaming writes compose with hive partitioning") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val dir = s"$tmp/part"
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("v", "p")
      .writeStream.format("fls")
      .option("path", dir).option("partition_by", "p")
      .option("checkpointLocation", s"$tmp/part_ckpt").start()
    in.addData((1L, "a"), (2L, "b"), (3L, "a"))
    q.processAllAvailable()
    q.stop()
    assert(new java.io.File(dir, "p=a").isDirectory && new java.io.File(dir, "p=b").isDirectory)
    val got = spark.read.format("fls").load(dir)
      .select("v", "p").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "a")))
  }
}
