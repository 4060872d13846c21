package graft.fls

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Per-chunk VALUE ranges on manifest pointer lines (r16 stretch):
  * with `TBLPROPERTIES ('manifest_chunk_stats'='<cluster key>')`,
  * every `#chunk` pointer carries the merged min/max of its entries'
  * per-file bounds for that key, and a key-range DELETE on a
  * clustered chunked table plans AND commits by opening only the
  * chunks whose value range intersects the predicate — the value
  * analog of the rel-range point lookup. */
class FlsChunkStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("fls-chunkstats-spec").toString
  private val cat = "fls_cks_spec"

  private val InlineMax = 8
  private val Target = 4

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("fls-chunkstats-spec")
      .config("spark.sql.shuffle.partitions", "20")
      // keep the clustered write at exactly 20 range files — AQE
      // coalescing would merge them and starve the chunk count
      .config("spark.sql.adaptive.enabled", "false")
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

  private def chunkReads[A](body: => A): (A, Long) = {
    val before = FlsManifest.chunkReadCount.get()
    val r = body
    (r, FlsManifest.chunkReadCount.get() - before)
  }

  /** The recorded [min,max] of column `c` from one pointer's stats. */
  private def boundsOf(pt: FlsManifest.Pointer, c: String): (Long, Long) = {
    val desc = FlsFileStats.toDesc(pt.stats).get
    val i = desc.columns.indexWhere(_.name == c)
    assert(i >= 0, s"chunk stats lack column $c: ${pt.stats}")
    val seg = desc.rowGroups(0).segments(i)
    (seg.minLong, seg.maxLong)
  }

  test("key-range DELETE on a clustered chunked table opens only the " +
      "intersecting chunk (planning AND commit)") {
    val tbl = s"$cat.db.clustered"
    val dir = s"$tmp/warehouse/db/clustered"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    assert(pointers.length >= 4, s"expected a chunked layout, got $pointers")
    assert(pointers.forall(pt => pt.ranged && pt.stats != null),
      s"pointer lines must carry chunk value stats: $pointers")
    // clustered write + rel-ordered chunking => disjoint id ranges per
    // chunk; cut at the top chunk's min so exactly one chunk intersects
    val ranges = pointers.map(boundsOf(_, "id"))
    val m = ranges.maxBy(_._2)._1
    assert(ranges.count(_._2 >= m) == 1,
      s"expected exactly one chunk past $m, ranges=$ranges")
    val before = pointers.map(_.name).toSet
    val (_, opened) = chunkReads {
      spark.sql(s"DELETE FROM $tbl WHERE id >= $m")
    }
    // the intersecting chunk opens at most three times — canDeleteWhere
    // plan, deleteWhere plan, and the commit's rebuild; every other
    // chunk is pruned by VALUE and never opened
    assert(opened <= 3,
      s"key-range delete opened $opened chunks of ${pointers.length}")
    assert(spark.table(tbl).count() == m)
    assert(spark.sql(s"SELECT max(id) FROM $tbl").collect()(0).getLong(0) == m - 1)
    // the untouched chunks' pointers survived by name
    val after = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val afterNames = after.map(_.name).toSet
    val doomed = pointers.filter(r => boundsOf(r, "id")._2 >= m).map(_.name).toSet
    assert((before -- doomed).subsetOf(afterNames),
      "non-intersecting chunk pointers must carry over verbatim")
  }

  test("equality mode + chunk stats: a decidable range DELETE prefers " +
      "the value-pruned DROP (files reclaimed, no residual line); a " +
      "straddling cutoff takes the predicate line") {
    val tbl = s"$cat.db.clustered_eq"
    val dir = s"$tmp/warehouse/db/clustered_eq"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id', 'delete_mode'='equality')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val ranges = pointers.map(boundsOf(_, "id"))
    val m = ranges.maxBy(_._2)._1 // top chunk's min: decides whole files
    val filesBefore = FlsManifest.read(fs, root).get.size
    spark.sql(s"DELETE FROM $tbl WHERE id >= $m")
    def headEq: Seq[String] = {
      val (headV, _) = FlsManifest.readVersioned(fs, root).get
      FlsManifest.versionEq(fs, root, headV)
    }
    assert(headEq.isEmpty,
      "a whole-file-decidable range delete must DROP files, not park a " +
        "residual predicate")
    assert(FlsManifest.read(fs, root).get.size < filesBefore,
      "decided files must leave the manifest")
    assert(spark.table(tbl).count() == m)
    // a cutoff INSIDE one file straddles → the predicate line takes over
    spark.sql(s"DELETE FROM $tbl WHERE id >= ${m - 7}")
    assert(headEq.nonEmpty, "a straddling cutoff must commit the predicate")
    assert(spark.table(tbl).count() == m - 7)
    assert(spark.sql(s"SELECT max(id) FROM $tbl").collect()(0).getLong(0)
      == m - 8)
  }

  test("absorb of a chunk-confined range predicate commits O(delta): " +
      "untouched chunk pointers carry verbatim, predicates drop " +
      "without touching exempt entries") {
    val tbl = s"$cat.db.clustered_absorb"
    val dir = s"$tmp/warehouse/db/clustered_absorb"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id', 'delete_mode'='equality')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val ranges = pointers.map(boundsOf(_, "id"))
    val m = ranges.maxBy(_._2)._1
    // cutoff INSIDE the top file -> straddles -> predicate line commits
    spark.sql(s"DELETE FROM $tbl WHERE id >= ${m + 3}")
    def headEq: Seq[String] = {
      val (headV, _) = FlsManifest.readVersioned(fs, root).get
      FlsManifest.versionEq(fs, root, headV)
    }
    assert(headEq.nonEmpty, "fixture: the cutoff must park a predicate")
    val before = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val untouchedNames = before.filter(pt => boundsOf(pt, "id")._2 < m + 3)
      .map(_.name).toSet
    assert(untouchedNames.nonEmpty, "fixture: want untouched chunks")
    val st = FlsMaintenance.absorbDeletes(spark, dir,
      targetRowsPerFile = 1000000)
    assert(st.predicates == 1)
    assert(headEq.isEmpty, "absorb must drop the predicate")
    val after = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    assert(untouchedNames.subsetOf(after.map(_.name).toSet),
      "the O(delta) absorb commit must carry untouched chunk pointers " +
        "verbatim (exempt entries never re-chunked)")
    assert(spark.table(tbl).count() == m + 3)
  }

  test("absorb survives a concurrent append landing mid-commit: the " +
      "O(delta) fast path defers to the tolerant full merge") {
    val tbl = s"$cat.db.clustered_race"
    val dir = s"$tmp/warehouse/db/clustered_race"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id', 'delete_mode'='equality')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val m = pointers.map(boundsOf(_, "id")).maxBy(_._2)._1
    spark.sql(s"DELETE FROM $tbl WHERE id >= ${m + 3}") // straddles → #eqdel
    // interleave: an append commits in the window between the absorb's
    // staged delta and its publish CAS — the absorb must lose the race,
    // see the advanced head in its retried change function, and pass
    // the tolerant conflict checks (self-disarming hook: the append's
    // own commit must not recurse)
    @volatile var fired = false
    FlsManifest.beforePublishForTest = () => {
      if (!fired) {
        fired = true
        FlsManifest.beforePublishForTest = () => ()
        spark.sql(s"INSERT INTO $tbl VALUES (999999, 42.0)")
      }
    }
    try {
      val st = FlsMaintenance.absorbDeletes(spark, dir,
        targetRowsPerFile = 1000000)
      assert(st.predicates == 1)
    } finally FlsManifest.beforePublishForTest = () => ()
    assert(fired, "the race hook must have fired")
    val (headV, _) = FlsManifest.readVersioned(fs, root).get
    assert(FlsManifest.versionEq(fs, root, headV).isEmpty,
      "the retried commit must still drop the predicate")
    // deleted rows stay dead, the concurrently appended row survives
    assert(spark.table(tbl).count() == m + 3 + 1)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id = 999999")
      .collect()(0).getLong(0) == 1L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id >= ${m + 3} " +
      "AND id < 2000").collect()(0).getLong(0) == 0L)
  }

  test("a concurrent ROLLBACK undoing the delete mid-absorb ABORTS the " +
      "absorb: rolled-back rows must not be re-killed by outputs built " +
      "with the residual") {
    val tbl = s"$cat.db.clustered_rb"
    val dir = s"$tmp/warehouse/db/clustered_rb"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id', 'delete_mode'='equality')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val v1 = FlsManifest.readVersioned(fs, root).get._1
    val pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val m = pointers.map(boundsOf(_, "id")).maxBy(_._2)._1
    spark.sql(s"DELETE FROM $tbl WHERE id >= ${m + 3}") // straddles → #eqdel
    assert(spark.table(tbl).count() == m + 3)
    // interleave: the user ROLLS BACK the delete in the absorb's
    // stage-to-publish window — the absorb's outputs were built WITH
    // the residual, so publishing them would re-apply the rolled-back
    // delete; the set-equality guard must abort instead
    @volatile var fired = false
    FlsManifest.beforePublishForTest = () => {
      if (!fired) {
        fired = true
        FlsManifest.beforePublishForTest = () => ()
        FlsMaintenance.rollback(spark, dir, v1)
      }
    }
    try {
      intercept[java.util.ConcurrentModificationException](
        FlsMaintenance.absorbDeletes(spark, dir,
          targetRowsPerFile = 1000000))
    } finally FlsManifest.beforePublishForTest = () => ()
    assert(fired, "the rollback hook must have fired")
    // the rollback's state survives whole: every row back, no predicate
    assert(spark.table(tbl).count() == 2000L,
      "rolled-back rows must survive the aborted absorb")
    val (headV, _) = FlsManifest.readVersioned(fs, root).get
    assert(FlsManifest.versionEq(fs, root, headV).isEmpty)
  }

  test("a delete the chunk stats cannot decide falls back to the " +
      "ladder and stays exact") {
    val tbl = s"$cat.db.clustered2"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    // an odd-values predicate: every file straddles it — the pruned
    // leg must bail and the rewrite ladder must stay exact
    spark.sql(s"DELETE FROM $tbl WHERE id % 2 = 1")
    assert(spark.table(tbl).count() == 1000)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id % 2 = 1")
      .collect()(0).getLong(0) == 0)
  }

  test("a one-file DELETE rewrites only the chunk holding the file, " +
      "though chunks of two appends overlap in rel range") {
    val tbl = s"$cat.db.two_appends"
    val dir = s"$tmp/warehouse/db/two_appends"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'delete_mode'='merge-on-read')")
    // 12 tasks per append, each a contiguous 100-id file: writer names
    // part-<task>-<writeId>-..., so both appends' chunks span
    // part-00000..part-00003 and so on
    Seq(0L, 1200L).foreach { lo =>
      spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
        s"FROM range($lo, ${lo + 1200}, 1, 12)")
    }
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val before = pointers
    assert(before.length == 6, s"expected 2 appends x 3 chunks, got $before")
    val task1 = FlsManifest.read(fs, root).get.map(_.rel)
      .filter(_.startsWith("part-00001-"))
    assert(task1.length == 2 && before.count(pt =>
      task1.forall(r => pt.minRel <= r && r <= pt.maxRel)) == 2,
      s"spec setup: each append's first chunk spans both task-1 files: $before")
    // id 150 lives in the first append's task-1 file only: its delete
    // vector restates that one entry
    spark.sql(s"DELETE FROM $tbl WHERE id = 150")
    val written = pointers.map(_.name).toSet -- before.map(_.name)
    assert(written.size == 1,
      s"only the victim's chunk is rewritten; wrote ${written.size} chunks")
    assert(spark.table(tbl).count() == 2399L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id = 150")
      .collect()(0).getLong(0) == 0L)
  }

  test("streaming epochs fold chunk VALUE stats into their delta " +
      "pointer lines without opening other chunks; a key-range DELETE " +
      "then opens only the epoch's chunk (r17 — the streaming shape " +
      "of the r16 stretch)") {
    val tbl = s"$cat.db.stream_stats"
    val dir = s"$tmp/warehouse/db/stream_stats"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v DOUBLE) TBLPROPERTIES " +
      "('commit_mode'='manifest', 'cluster_by'='id', " +
      "'manifest_chunk_stats'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, CAST(id AS DOUBLE) " +
      "FROM range(0, 2000)")
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // drive the sink directly (the epoch harness): every epoch is a
    // pure O(delta) append
    val streamSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() = {
        val m = new java.util.HashMap[String, String]()
        m.put("path", dir)
        m.put("commit_mode", "manifest")
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(m)
      }
      override def queryId(): String = "q-stats"
      override def schema() = streamSchema
    }
    def row(i: Long) = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](i, i.toDouble))
    import graft.fls.connector._
    val sw = new FlsStreamingWrite(info, spark)
    val factory = sw.createStreamingWriterFactory(null)
    def epoch(e: Long, lo: Long, hi: Long): Long = {
      val w = factory.createWriter(0, 10L + e, e)
      (lo to hi).foreach(i => w.write(row(i)))
      val (_, n) = chunkReads(sw.commit(e, Array(w.commit())))
      n
    }
    val n0 = epoch(0L, 2000L, 2099L)
    val n1 = epoch(1L, 2100L, 2199L)
    assert(n0 == 0L && n1 == 0L, s"epochs opened $n0 and $n1 chunks")
    // the epoch's new chunk carries the id VALUE range in its pointer
    // stats — computed from the delta alone, no chunk was opened
    val pointers = FlsManifest
      .readLayoutVersioned(fs, root, resolveChunks = false).get._2.pointers
    val epochChunks = pointers.filter(_.minRel.contains("-q-stats-e1-"))
    assert(epochChunks.nonEmpty, "epoch 1's file must lead its own chunk")
    val (lo, hi) = boundsOf(epochChunks.head, "id")
    assert(lo >= 2100L && hi <= 2199L,
      s"epoch chunk stats must bound the epoch's ids, got [$lo,$hi]")
    // key-range DELETE over the streamed range: VALUE stats prune all
    // batch chunks at PLANNING; the commit additionally opens any chunk
    // whose REL range contains the dropped file's name (the epoch file
    // name sorts between batch part files — one O(1) false positive,
    // not O(chunks)): ≤ 2 plan opens + ≤ 2 commit opens
    val (_, opened) = chunkReads {
      spark.sql(s"DELETE FROM $tbl WHERE id >= 2100")
    }
    assert(opened <= 4,
      s"key-range delete over the streamed range opened $opened chunks " +
        s"of ${pointers.length}")
    assert(spark.table(tbl).count() == 2100)
  }
}
