package graft.fls

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-carried per-file stats ([[FlsFileStats]]): writers merge
  * row-group min/max into the manifest entry, and a COLD driver planning
  * a filtered scan prunes files from the manifest alone — footers are
  * opened only for survivors ([[FlsFooters.footerReadCount]] proves it).
  * Correctness is untouched: zone maps re-prune from the footer, and a
  * stats-less entry (legacy manifest, compaction seed) is always kept. */
class FlsManifestStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-manifest-stats-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** 8 single-file appends with DISJOINT v-ranges: file i covers
    * [i*100, i*100+99]. */
  private def mkTable(): String = {
    val dir = Files.createTempDirectory("fls-mstats").toString
    val s0 = spark
    import s0.implicits._
    (0 until 8).foreach { i =>
      (i * 100 until i * 100 + 100).map(v => (v.toLong, s"r$v")).toDF("v", "s")
        .coalesce(1).write.format("fls")
        .mode(if (i == 0) "overwrite" else "append")
        .option("commit_mode", "manifest").save(dir)
    }
    dir
  }

  test("writers carry per-file min/max stats into the manifest") {
    val dir = mkTable()
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val entries = FlsManifest.read(p.getFileSystem(conf), p)
      .getOrElse(fail("no manifest"))
    assert(entries.length == 8)
    assert(entries.forall(_.stats != null), "every entry must carry stats")
    // stats parse back and bound the file's actual values
    val descs = entries.map(e => FlsFileStats.toDesc(e.stats)
      .getOrElse(fail(s"garbled stats: ${e.stats}")))
    descs.foreach { d =>
      val vIdx = d.columns.indexWhere(_.name == "v")
      assert(vIdx >= 0, "numeric column v must have stats")
      val seg = d.rowGroups(0).segments(vIdx)
      assert(seg.hasStats && seg.maxLong - seg.minLong == 99,
        s"one 100-value range per file, got [${seg.minLong},${seg.maxLong}]")
      assert(d.rowGroups(0).nTuples == 100)
    }
  }

  test("cold filtered scan opens only surviving footers") {
    val dir = mkTable()
    // cold driver: no cached footers
    FlsFooters.clear()
    val before = FlsFooters.footerReadCount
    val rows = spark.read.format("fls").load(dir)
      .filter("v >= 250 AND v <= 260").collect()
    val opened = FlsFooters.footerReadCount - before
    assert(rows.map(_.getLong(0)).sorted.toSeq == (250L to 260L),
      "pruning must never drop matching rows")
    // 1 footer for schema inference + 1 for the single surviving file
    // (v in [200,299]); without manifest stats this is 8
    assert(opened <= 2, s"expected <=2 footer reads (schema + survivor), got $opened")
  }

  test("a stats-less (legacy) manifest keeps every file — correctness first") {
    val dir = mkTable()
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    // hand-edit the head as a pre-stats writer wrote it: every entry
    // line loses its stats column (length, mtime, rel are kept)
    val (headV, _) = FlsManifest.readVersioned(fs, p).getOrElse(fail("no manifest"))
    val vp = FlsManifest.versionPath(p, headV)
    val text = {
      val in = fs.open(vp)
      try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
    }
    val stripped = text.split('\n').map(l =>
      if (l.startsWith("#")) l else l.split('\t').take(3).mkString("\t"))
      .mkString("", "\n", "\n")
    assert(stripped != text, "spec setup: the head must carry stats")
    val out = fs.create(vp, true)
    try out.write(stripped.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val entries = FlsManifest.read(fs, p).getOrElse(fail("no manifest"))
    assert(entries.length == 8 && entries.forall(_.stats == null),
      "spec setup: every entry must read back stats-less")
    FlsFooters.clear()
    val before = FlsFooters.footerReadCount
    val rows = spark.read.format("fls").load(dir)
      .filter("v = 555").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(555L))
    // all files kept (no stats to prune on): 8 footers + 1 inference
    assert(FlsFooters.footerReadCount - before >= 8)
  }

  test("full unfiltered scan is unchanged by stats") {
    val dir = mkTable()
    assert(spark.read.format("fls").load(dir).count() == 800)
    assert(spark.read.format("fls").load(dir).agg(
      org.apache.spark.sql.functions.sum("v")).collect()(0).getLong(0)
      == (0L until 800L).sum)
  }

  test("string bounds prune files cold — cluster_by-style string key") {
    val dir = Files.createTempDirectory("fls-mstats-s").toString
    val s0 = spark
    import s0.implicits._
    // 8 single-file appends with DISJOINT string-key ranges — the shape
    // a string cluster_by (lang, id prefix) produces
    (0 until 8).foreach { i =>
      (0 until 100).map(j => (f"k$i%02d_$j%03d", j.toLong)).toDF("k", "v")
        .coalesce(1).write.format("fls")
        .mode(if (i == 0) "overwrite" else "append")
        .option("commit_mode", "manifest").save(dir)
    }
    // manifests carry `b` bounds for the string column
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val entries = FlsManifest.read(p.getFileSystem(conf), p)
      .getOrElse(fail("no manifest"))
    entries.foreach { e =>
      val d = FlsFileStats.toDesc(e.stats).getOrElse(fail(s"garbled: ${e.stats}"))
      assert(d.columns.exists(_.name == "k"), "string column must carry bounds")
      val seg = d.rowGroups(0).segments(d.columns.indexWhere(_.name == "k"))
      assert(seg.hasByteStats && !seg.hasStats,
        "string bounds are pruning-only: never numeric stats")
    }
    // COLD range scan on the string key: one survivor + schema inference
    FlsFooters.clear()
    val before = FlsFooters.footerReadCount
    val rows = spark.read.format("fls").load(dir)
      .filter("k >= 'k03_' AND k < 'k04_'").collect()
    assert(rows.length == 100, "pruning must never drop matching rows")
    val opened = FlsFooters.footerReadCount - before
    assert(opened <= 2, s"expected <=2 footer reads (schema + survivor), got $opened")
    // cold string equality prunes the same way
    FlsFooters.clear()
    val b2 = FlsFooters.footerReadCount
    val one = spark.read.format("fls").load(dir).filter("k = 'k05_007'").collect()
    assert(one.length == 1 && one(0).getString(0) == "k05_007")
    assert(FlsFooters.footerReadCount - b2 <= 2,
      s"equality must prune cold, got ${FlsFooters.footerReadCount - b2}")
  }

  test("truncated string bounds stay conservative at the file level") {
    // 17+-byte strings truncate to 16-byte prefixes (upper increments):
    // pruning must keep the file whenever a match is possible
    val dir = Files.createTempDirectory("fls-mstats-t").toString
    val s0 = spark
    import s0.implicits._
    Seq(("aaaaaaaaaaaaaaaaZZ", 1L), ("aaaaaaaaaaaaaaaa__tail", 2L))
      .toDF("k", "v").coalesce(1).write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    // both rows share the 16-byte prefix; bounds are [prefix, prefix+1)
    val hit = spark.read.format("fls").load(dir)
      .filter("k = 'aaaaaaaaaaaaaaaaZZ'").collect()
    assert(hit.length == 1 && hit(0).getLong(1) == 1L)
    val miss = spark.read.format("fls").load(dir)
      .filter("k = 'zzzzzzzzzzzzzzzzzz'").collect()
    assert(miss.isEmpty)
  }

  test("double stats prune too; non-finite bounds are footer-only") {
    val dir = Files.createTempDirectory("fls-mstats-d").toString
    val s0 = spark
    import s0.implicits._
    Seq(1.5, 2.5).toDF("d").coalesce(1).write.format("fls")
      .mode("overwrite").option("commit_mode", "manifest").save(dir)
    Seq(100.5, Double.NaN).toDF("d").coalesce(1).write.format("fls")
      .mode("append").option("commit_mode", "manifest").save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val entries = FlsManifest.read(p.getFileSystem(conf), p).get.sortBy(_.rel)
    // the NaN file must NOT carry d-bounds (unrepresentable in JSON,
    // and NaN poisons min/max); the clean file must
    val parsed = entries.map(e => Option(e.stats).flatMap(FlsFileStats.toDesc))
    val withD = parsed.flatMap(_.map(_.columns.exists(_.name == "d")))
    assert(withD.count(identity) == 1,
      s"exactly the finite file carries d stats: $withD")
    // the NaN row must still be readable (footer path, never pruned)
    val all = spark.read.format("fls").load(dir).collect().map(_.getDouble(0))
    assert(all.length == 4 && all.count(_.isNaN) == 1)
  }
}
