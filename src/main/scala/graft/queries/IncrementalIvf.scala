package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftexprs.GraftFunctions
import graft.fls.FlsManifest

/** Incremental IVF index maintenance — the r15 verdict's gap #4: the
  * persisted index ([[Similarity.ivfAnn]]'s artifact) invalidated on
  * ANY corpus change and re-ran the full corpus sweep, so at 100 TB an
  * hourly append re-triggered the multi-hour warmup the persistence
  * was built to kill. This maintains an index over an fls-manifest
  * embeddings table with the SAME cursor discipline as
  * [[IncrementalDedup.refresh]]: each [[refresh]] reads ONLY the
  * corpus files appended since the cursor (`changes_from_version`),
  * assigns those vectors against the PERSISTED centroids — flat
  * broadcast ranking or the two-level map-side routing, whichever
  * geometry the index was built with — and appends the new ranked
  * triples in one manifest commit stamped with the source version.
  *
  * CRASH CONSISTENCY: the cursor is `max(src_version)` over the
  * assignment table's own manifest stats (zero data reads), so the
  * assignment append and the cursor advance are one atomic CAS — the
  * [[IncrementalDedup]] trick verbatim.
  *
  * EXACTNESS OF THE PATCH: centroids are FROZEN at build (the n
  * smallest ids at build time — seeds by rank since r17, so any id
  * space works), and every vector ranks against them independently —
  * a patched index is BIT-IDENTICAL to re-assigning the whole corpus
  * against the same frozen centroids (spec-asserted; a from-scratch
  * REBUILD additionally re-derives seeds from the then-current id
  * space, which coincides for append-increasing ids). What drifts is the geometry itself: ⌈√n⌉ grows
  * with the corpus, so once the corpus outgrows the build size by
  * `graft.ivf.drift` (default 2× — √n ~41% past ideal), refresh
  * RECLUSTERS (full rebuild at the new geometry). Non-append ranges
  * (DELETE/OVERWRITE/equality deletes) make `changes_from_version`
  * itself refuse — stale assignments would serve deleted vectors —
  * and [[rebuild]] is the recovery. */
object IncrementalIvf {

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      vecsAssigned: Long, rebuilt: Boolean)

  private def vecsOf(df: DataFrame): DataFrame = df
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    .withColumn("nr", sqrt(GraftFunctions.arrayDot(col("v"), col("v"))))

  private final case class Meta(mode: String, n: Long, cent: Long,
      upTo: Int, l1: Long, l1p: Int) {
    def serialized: String =
      s"mode=$mode;n=$n;cent=$cent;upTo=$upTo;l1=$l1;l1p=$l1p"
  }

  private def parseMeta(s: String): Meta = {
    val kv = s.split(';').map(_.split('=')).map(a => a(0) -> a(1)).toMap
    Meta(kv("mode"), kv("n").toLong, kv("cent").toLong, kv("upTo").toInt,
      kv("l1").toLong, kv("l1p").toInt)
  }

  private def markerOf(idxDir: String) = new java.io.File(s"$idxDir/_ivf_inc_done")

  private def corpusHead(spark: SparkSession, corpusDir: String): Long = {
    val root = new Path(corpusDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    FlsManifest.readVersioned(fs, root).map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"fls: $corpusDir has no manifest log — incremental index " +
          "maintenance needs a commit_mode=manifest embeddings table"))
  }

  /** Bring the index at `idxDir` up to the corpus head: a full build
    * when no index exists (or the corpus outgrew the drift threshold),
    * otherwise an O(new data) patch — only the appended files are
    * read, only their vectors are assigned. No-op (zero jobs) when
    * already current. */
  def refresh(spark: SparkSession, corpusDir: String, idxDir: String,
      nprobe: Int = 2,
      maxCentroids: Long = -1L): RefreshStats =
      IncrementalDedup.withRefreshLock(idxDir) {
    val head = corpusHead(spark, corpusDir)
    val marker = markerOf(idxDir)
    // PINNED at `head`: every read this refresh does must describe the
    // exact version the cursor will advance to — a live read racing a
    // concurrent append would assign extra vectors under head's stamp
    // and the next refresh would re-assign them (duplicates)
    def corpus() = spark.read.format("fls")
      .option("manifest_version", head.toString).load(corpusDir)
    if (!marker.exists())
      return buildAll(spark, corpus(), idxDir, head, nprobe, maxCentroids)
    // an unparseable (truncated/garbled) marker means "no marker" —
    // rebuild, never throw from refresh (ADVICE r18)
    val metaOpt =
      try Some(parseMeta {
        val src = scala.io.Source.fromFile(marker)
        try src.mkString finally src.close()
      })
      catch { case _: Exception => None }
    if (metaOpt.isEmpty)
      return buildAll(spark, corpus(), idxDir, head, nprobe, maxCentroids)
    val meta = metaOpt.get
    val cursor = IncrementalDedup.cursorOf(spark, idxDir)
    if (cursor >= head) return RefreshStats(cursor, head, 0L, rebuilt = false)
    // geometry drift: ⌈√n⌉ wants to grow with the corpus — past the
    // threshold, patching a too-coarse quantizer costs recall forever;
    // recluster instead (the one O(corpus) case, by design)
    val drift = sys.props.get("graft.ivf.drift").map(_.toDouble).getOrElse(2.0)
    val nNow = corpus().count() // footer-served metadata count
    if (nNow > meta.n * drift) {
      val st = buildAll(spark, corpus(), idxDir, head, nprobe, maxCentroids)
      return st.copy(fromVersion = cursor)
    }
    // refuses loudly on a non-append range (the q105 contract) — stale
    // assignments would otherwise keep serving deleted vectors
    val added = spark.read.format("fls")
      .option("changes_from_version", cursor.toString)
      .option("changes_to_version", head.toString)
      .load(corpusDir)
    val eNew = vecsOf(added)
    val cents = spark.read.format("fls").load(s"$idxDir/_centroids")
    val ranked =
      if (meta.mode == "2l") {
        val l1Bc = Similarity.broadcastGroups(
          cents.filter(col("cent_id") < meta.l1)
            .select(col("cent_id"), col("v_q"), col("nr_q")))
        Similarity.rankedTwoLevelAgainst(eNew, cents, l1Bc, meta.upTo, meta.l1p)
      } else Similarity.rankedAgainst(eNew, cents, meta.upTo)
    ranked.withColumn("src_version", lit(head))
      .write.format("fls").mode("append")
      .option("commit_mode", "manifest").save(idxDir)
    val n = spark.read.format("fls").load(idxDir)
      .filter(col("src_version") === head)
      .select("vec_id").distinct().count()
    RefreshStats(cursor, head, n, rebuilt = false)
  }

  /** Recovery from a non-append-only range, and the reclustering path:
    * recompute the whole index from the current snapshot. */
  def rebuild(spark: SparkSession, corpusDir: String, idxDir: String,
      nprobe: Int = 2, maxCentroids: Long = -1L): RefreshStats = {
    markerOf(idxDir).delete()
    refresh(spark, corpusDir, idxDir, nprobe, maxCentroids)
  }

  private def buildAll(spark: SparkSession, corpus: DataFrame,
      idxDir: String, head: Long, nprobe: Int,
      maxCentroids: Long): RefreshStats = {
    val cap = if (maxCentroids > 0) maxCentroids else Similarity.MaxCentroids
    val n = corpus.count()
    require(n > 0, "fls ivf: empty corpus")
    val e = vecsOf(corpus)
    val ideal = math.ceil(math.sqrt(n.toDouble)).toLong
    val upTo = math.max(nprobe, 1)
    // seeds by RANK (r17 — the dense-from-0 id contract is lifted):
    // the n-smallest ids become centroids with cent_id = their dense
    // rank, identical to the raw-id selection on a dense corpus
    val (meta, cents) =
      if (ideal > cap) {
        val nCent = math.min(ideal, cap * cap)
        val l1 = math.max(2L, math.ceil(math.sqrt(nCent.toDouble)).toLong)
        (Meta("2l", n, nCent, upTo, l1, Similarity.L1Probe),
          Similarity.seedsByRank(e, nCent, broadcastJoin = false))
      } else {
        (Meta("flat", n, ideal, upTo, 0L, 0),
          Similarity.seedsByRank(e, ideal, broadcastJoin = true))
      }
    markerOf(idxDir).delete() // invalidate BEFORE the overwrite
    val ranked =
      if (meta.mode == "2l") {
        val l1Bc = Similarity.broadcastGroups(
          cents.filter(col("cent_id") < meta.l1)
            .select(col("cent_id"), col("v_q"), col("nr_q")))
        Similarity.rankedTwoLevelAgainst(e, cents, l1Bc, meta.upTo, meta.l1p)
      } else Similarity.rankedAgainst(e, cents, meta.upTo)
    Similarity.indexBuilds += 1
    ranked.withColumn("src_version", lit(head))
      .write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").save(idxDir)
    cents.write.format("fls").mode("overwrite")
      .option("commit_mode", "manifest").save(s"$idxDir/_centroids")
    cents.unpersist() // flat seeds persist inside seedsByRank; release
    IncrementalDedup.writeMarkerAtomic(markerOf(idxDir), meta.serialized)
    RefreshStats(0L, head, n, rebuilt = true)
  }

  /** ANN (q26 shape: 8 query vectors, top-5 neighbors) served FROM the
    * maintained index — persisted narrow triples + the corpus vectors,
    * no quantizer work. */
  def ann(spark: SparkSession, corpusDir: String, idxDir: String,
      nprobe: Int = 2): DataFrame = {
    val e = vecsOf(spark.read.format("fls").load(corpusDir))
    val r = spark.read.format("fls").load(idxDir)
    Similarity.finishAnn(spark, e, r, nprobe)
  }
}
