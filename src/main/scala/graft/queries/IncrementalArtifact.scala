package graft.queries

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fls.{FlsFileStats, FlsManifest}

/** The incremental-artifact protocol: one refresh/rebuild skeleton for
  * the tables kept current from an fls manifest corpus's change feed —
  * [[IncrementalIvf]], [[IncrementalPq]], [[IncrementalAdc]] and
  * [[IncrementalDedup]]. Each supplies a whole [[Artifact.build]] and an
  * [[Artifact.encodeDelta]]; the rest lives here, under the artifact's
  * [[withRefreshLock]].
  *
  *  - CURSOR: `max(src_version)` from the artifact table's own manifest
  *    stats ([[cursorOf]]). Every write stamps `src_version = head`, so
  *    the append and the cursor advance are one atomic manifest CAS: a
  *    refresh that crashes before its commit changes nothing. A current
  *    artifact refreshes with zero jobs.
  *  - PINNED: the corpus head is read once and every corpus read is
  *    pinned at it — a live read racing an append would encode rows
  *    under head's stamp that the next refresh encodes again.
  *  - PATCH: only the files appended in (cursor, head] are read
  *    (`changes_from_version`) and encoded against the frozen model, so
  *    a patched artifact is BIT-IDENTICAL to encoding the whole corpus
  *    against it. A delete or overwrite in the range makes the feed
  *    refuse loudly — stale rows would keep serving deleted data — and
  *    [[rebuild]] recovers.
  *  - MARKER: a frozen model (centroids, codebooks) is recorded in a
  *    `k=v;...` marker with `fmt` and the build's corpus size `n`. A
  *    build deletes it BEFORE the overwrite and writes it atomically
  *    LAST, so it is the build's commit point. An absent, garbled or
  *    wrong-`fmt` marker means "build", never an error (ADVICE r18).
  *  - DRIFT: past `n × drift` corpus rows (`graft.ivf.drift`,
  *    `graft.pq.drift`, default 2) the frozen model no longer
  *    summarizes the corpus and the refresh rebuilds — the one
  *    O(corpus) case. That rebuild, like one for a stale model, reports
  *    the pre-refresh cursor as `fromVersion`. An artifact without a
  *    model keeps no marker, never drifts, and patches from version 0. */
object IncrementalArtifact {

  /** The artifact covers corpus versions up to `toVersion`; `rows`
    * corpus rows were encoded (patch) or built. `as` hands the fields
    * to a maintainer's own `RefreshStats`. */
  final case class Refreshed(fromVersion: Long, toVersion: Long,
      rows: Long, rebuilt: Boolean) {
    def as[R](f: (Long, Long, Long, Boolean) => R): R =
      f(fromVersion, toVersion, rows, rebuilt)
  }

  /** A frozen model: marker file name, artifact format, drift property. */
  final case class Model(marker: String, fmt: String, driftProp: String)

  /** One artifact table at `dir`, derived from the table at `corpusDir`. */
  abstract class Artifact(val spark: SparkSession, val corpusDir: String,
      val dir: String) {
    def model: Option[Model]
    /** The artifact rows that stand for one corpus row each. */
    def counted: Column = lit(true)
    /** The corpus version this refresh brings the artifact to. */
    def head(): Long = headOf(spark, corpusDir,
      "incremental maintenance needs a commit_mode=manifest source table")
    /** Build from the `n`-row pinned corpus: hand the artifact rows to
      * `overwrite`, write any side tables, return the marker state. */
    def build(corpus: DataFrame, n: Long,
        overwrite: DataFrame => Unit): Map[String, String]
    /** Artifact rows for the appended corpus rows `added`. */
    def encodeDelta(added: DataFrame, state: Map[String, String]): DataFrame
    /** True when an input the model froze has moved: rebuild whole. */
    def stale(state: Map[String, String]): Boolean = false
    private[IncrementalArtifact] def marker: Option[File] =
      model.map(m => new File(dir, m.marker))
  }

  /** Bring the artifact up to the corpus head: a whole build when it has
    * no usable marker, its model went stale, or the corpus drifted past
    * it; otherwise an O(new data) patch. No-op (zero jobs) when current. */
  def refresh(a: Artifact): Refreshed =
    withRefreshLock(a.dir)(patchOrBuild(a, a.head()))

  /** Recovery from a non-append-only range: recompute the whole artifact
    * from the current snapshot. Takes the lock before it touches the
    * marker, so a rebuild that loses to a running refresh changes
    * nothing. */
  def rebuild(a: Artifact): Refreshed =
    withRefreshLock(a.dir)(build(a, a.head(), fromVersion = 0L))

  private def patchOrBuild(a: Artifact, head: Long): Refreshed = {
    val cursor = cursorOf(a.spark, a.dir)
    val state = a.model match {
      case None => Map.empty[String, String]
      case Some(m) =>
        val saved = readState(a.marker.get).filter(s =>
          s.get("fmt").contains(m.fmt) &&
            s.get("n").flatMap(_.toLongOption).isDefined)
        if (saved.isEmpty) return build(a, head, fromVersion = 0L)
        if (a.stale(saved.get)) return build(a, head, fromVersion = cursor)
        saved.get
    }
    if (cursor >= head) return Refreshed(cursor, head, 0L, rebuilt = false)
    val drifted = a.model.exists { m =>
      val drift = sys.props.get(m.driftProp).map(_.toDouble).getOrElse(2.0)
      // footer-served metadata count
      pinned(a, head).count() > state("n").toLong * drift
    }
    if (drifted) return build(a, head, fromVersion = cursor)
    val added = a.spark.read.format("fls")
      .option("changes_from_version", cursor.toString)
      .option("changes_to_version", head.toString)
      .load(a.corpusDir)
    commit(a.encodeDelta(added, state), a.dir, head, "append")
    Refreshed(cursor, head, rowsAt(a, head), rebuilt = false)
  }

  private def build(a: Artifact, head: Long, fromVersion: Long): Refreshed = {
    val corpus = pinned(a, head)
    val n = corpus.count()
    require(n > 0 || a.model.isEmpty, s"fls: empty corpus at ${a.corpusDir}")
    a.marker.foreach(_.delete()) // invalidate BEFORE the overwrite
    val state = a.build(corpus, n, commit(_, a.dir, head, "overwrite"))
    for (f <- a.marker; m <- a.model)
      writeMarkerAtomic(f, (Seq("n" -> n.toString, "fmt" -> m.fmt) ++ state)
        .map { case (k, v) => s"$k=$v" }.mkString(";"))
    Refreshed(fromVersion, head, rowsAt(a, head), rebuilt = true)
  }

  private def pinned(a: Artifact, head: Long): DataFrame =
    a.spark.read.format("fls")
      .option("manifest_version", head.toString).load(a.corpusDir)

  private def commit(rows: DataFrame, dir: String, head: Long,
      mode: String): Unit =
    rows.withColumn("src_version", lit(head))
      .write.format("fls").mode(mode)
      .option("commit_mode", "manifest").save(dir)

  private def rowsAt(a: Artifact, head: Long): Long =
    a.spark.read.format("fls").load(a.dir)
      .filter(col("src_version") === head && a.counted).count()

  private def manifest(spark: SparkSession, dir: String) = {
    val root = new Path(dir)
    FlsManifest.readVersioned(
      root.getFileSystem(spark.sessionState.newHadoopConf()), root)
  }

  /** The manifest head of the table at `dir`; fails loudly, with `why`,
    * on a table without a manifest log. */
  private[graft] def headOf(spark: SparkSession, dir: String,
      why: String): Long =
    manifest(spark, dir).map(_._1).getOrElse(throw new
      IllegalArgumentException(s"fls: $dir has no manifest log — $why"))

  /** The artifact's cursor: the newest source version whose appends it
    * covers, from the per-file max of `src_version` in its manifest
    * stats — no data read, no Spark job. 0 for an absent table. */
  def cursorOf(spark: SparkSession, dir: String): Long =
    manifest(spark, dir).toSeq.flatMap(_._2).flatMap { e =>
      FlsFileStats.toDesc(e.stats).flatMap { t =>
        val i = t.columns.indexWhere(_.name == "src_version")
        if (i < 0) None else t.rowGroups.headOption.map(_.segments(i).maxLong)
      }
    }.maxOption.getOrElse(0L)

  /** A marker's text; `None` when it is absent or unreadable. */
  private[graft] def readMarker(f: File): Option[String] =
    try Some(new String(Files.readAllBytes(f.toPath), "UTF-8"))
    catch { case _: java.io.IOException => None }

  /** A `k=v;...` marker as a map; fragments that are not `k=v` drop. */
  private[graft] def readState(f: File): Option[Map[String, String]] =
    readMarker(f).map(_.split(';').iterator.map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap)

  /** Atomic (temp file + rename) marker write (ADVICE r18): a crash
    * mid-write leaves the old marker or none, never a truncated one;
    * readers still treat an unparseable marker as none. */
  private[graft] def writeMarkerAtomic(f: File, text: String): Unit = {
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    Files.write(tmp.toPath, text.getBytes("UTF-8"))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Advisory single-writer guard around every refresh and rebuild:
    * two concurrent refreshes would both read cursor c, both encode
    * (c, head] and both append — each CAS succeeds and the artifact
    * holds duplicate rows. A create-exclusive lock file guards the
    * cursor-read → encode → append window; the loser gets a loud
    * ConcurrentModificationException instead. The holder HEARTBEATS
    * the lock's mtime every ttl/4, so a long refresh (a day's append on
    * a 100 TB corpus outlives any fixed TTL) never looks crashed; a lock
    * with no heartbeat for `ttlMs` was left by a dead process and is
    * taken over. Two racers taking over one stale lock can both
    * proceed — that needs a crash AND a double schedule; the guard
    * targets the everyday double schedule. */
  private[graft] def withRefreshLock[T](idxDir: String,
      ttlMs: Long = 30L * 60 * 1000)(body: => T): T = {
    val lock = new File(s"$idxDir/_refresh_lock")
    Option(lock.getParentFile).foreach(_.mkdirs())
    def acquire(): Boolean =
      try lock.createNewFile() catch { case _: java.io.IOException => false }
    if (!acquire()) {
      val age = System.currentTimeMillis() - lock.lastModified()
      if (age < ttlMs)
        throw new java.util.ConcurrentModificationException(
          s"fls: another refresh of $idxDir is in flight " +
            s"(lock age ${age / 1000}s) — rerun after it finishes, or " +
            s"remove ${lock.getPath} if it crashed")
      lock.delete() // stale (heartbeat-less) lock from a crash: take over
      if (!acquire())
        throw new java.util.ConcurrentModificationException(
          s"fls: lost the refresh-lock takeover race for $idxDir — rerun")
    }
    val beat = math.max(1L, ttlMs / 4)
    val hb = new java.util.Timer(s"fls-refresh-heartbeat:$idxDir", true)
    hb.schedule(new java.util.TimerTask {
      // best-effort: a failed touch (fs hiccup) just ages the lock
      // toward the TTL — the next beat usually recovers it
      def run(): Unit = lock.setLastModified(System.currentTimeMillis())
    }, beat, beat)
    try body finally {
      hb.cancel()
      lock.delete()
      ()
    }
  }
}
