package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.util.Tables._

/** Structured Streaming + typed-Dataset surface over the `events`
  * table. The reference is batch-only (SURVEY.md §1.1 "no streams"),
  * so this is engine capability beyond parity: streams declared with
  * `readStream` → windowed agg → `writeStream`, and stateful typed
  * sessionization — both with exact batch-SQL oracles, since
  * Trigger.AvailableNow drains the full input deterministically. */
object Streaming {

  private val memSeq = new AtomicInteger(0)

  /** Scale-adaptive STATEFUL-shuffle sizing, shared by every stateful
    * stream here (r20 — generalizing q92's r19 measurement): a stateful
    * operator opens one state store per shuffle partition, each with
    * fixed per-micro-batch checkpoint cost, so at small inputs extra
    * partitions are pure overhead (q92 at sf0.1: 32 parts = 9.3 s vs
    * 8 parts = 3.4 s) while too few serialize state writes at scale
    * (q92 at 128×: 8 parts = 630 s vs 32 parts = 220 s). Size from the
    * SOURCE volume — ~8 MiB of input per partition, floored at 8,
    * capped at the session's parallelism — the same decision a
    * deployment makes before the FIRST start (the value is
    * checkpointed for the life of a streaming query). */
  private[graft] def statefulParts(spark: SparkSession, srcPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(srcPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val srcBytes = fs.getContentSummary(p).getLength
    val cpus = spark.sparkContext.defaultParallelism
    math.max(8L, math.min(cpus.toLong, srcBytes / (8L << 20)))
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` pinned to
    * [[statefulParts]] of the source, restoring the previous value —
    * the streaming query must START (plan its stateful shuffle) inside
    * `body`; the conf is irrelevant once the checkpoint exists.
    *
    * SINGLE-THREADED-START contract (ADVICE r20): the conf is
    * session-global, so two streams (or a stream and a batch query)
    * STARTED concurrently on the same session race, and the loser
    * freezes the wrong partition count into its checkpoint for the
    * query's lifetime. The harness starts queries sequentially; a
    * concurrent deployment must start each stream on its own
    * `spark.newSession()` (confs are session-scoped) — running
    * already-started streams concurrently is fine either way. */
  private[graft] def withStatefulParts[T](spark: SparkSession,
      srcPath: String)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      statefulParts(spark, srcPath).toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  /** File-stream view of the read-only `events.parquet`: stream sources
    * ingest DIRECTORIES. The driver's testdata ships events as a single
    * FILE, exposed through a symlinked stream dir; a directory-shaped
    * events table (scaled copies, real pipelines) streams directly —
    * the symlink-a-file trick would otherwise feed the source an
    * entry it silently skips (a dir named *.parquet), i.e. an empty
    * stream. The batch `events` loader supplies the schema, so the
    * stream's `ts` dtype matches whatever the current runtime produces
    * (nanos long on <=4.0 with the legacy conf, TIMESTAMP_NTZ on 4.1+)
    * and `tsMicros` dispatches identically on both paths. One
    * definition — four stream queries (q32/q35/q37/q65) must never
    * drift on this setup. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = events(spark, dir).schema
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val streamPath =
      if (java.nio.file.Files.isDirectory(src)) src.toString
      else {
        val streamDir = java.nio.file.Paths.get(
          s"/tmp/graft_stream/${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
        java.nio.file.Files.createDirectories(streamDir)
        val link = streamDir.resolve("events.parquet")
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link, src)
        streamDir.toString
      }
    spark.readStream.schema(schema).parquet(streamPath)
  }

  /** q32: file-stream → event-time hourly window aggregate → memory
    * sink, drained with Trigger.AvailableNow. At scale this is the same
    * plan kafka/files feed continuously; the memory sink stands in for
    * the serving store. */
  def q32StreamingHourly(spark: SparkSession, dir: String): DataFrame = {
    val stream = eventsStream(spark, dir)
    val agg = stream
      .withColumn("ts_us", timestamp_micros(tsMicros(stream)))
      .withWatermark("ts_us", "1 hour")
      .groupBy(window(col("ts_us"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dbl(sum(d6w(col("value")))).as("sum_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value"))
    val name = s"q32mem${memSeq.incrementAndGet()}"
    withStatefulParts(spark, s"$dir/events.parquet") {
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name).orderBy("hour_ts", "event_type")
  }

  val q32Sql: String = {
    import graft.util.Tables.{sql => S}
    s"""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
        count(*) AS n_events, ${S.sumD6w("value", "sum_value")}
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  case class Ev(user_id: Long, event_id: Long, ts_us: Long)
  /** Ev + the watermarked timestamp column (must be present in the
    * stateful operator's input for event-time timeouts to resolve). */
  case class EvW(user_id: Long, event_id: Long, ts_us: Long,
      ts_wm: java.sql.Timestamp)
  case class Session(user_id: Long, session_idx: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** q33: typed sessionization via KeyValueGroupedDataset.flatMapGroups
    * — 30-minute inactivity gap. The shuffle is one hash partition by
    * user; per-group state fits memory at any corpus scale (events per
    * user, not per corpus). Streaming twin: flatMapGroupsWithState with
    * a session timeout — same grouping, same state shape. */
  def q33Sessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val ev = events(spark, dir)
    ev.select(col("user_id"), col("event_id"), tsMicros(ev).as("ts_us"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer[Session]()
        var idx = 0L
        var start = 0L
        var last = Long.MinValue
        var n = 0L
        def flush(): Unit = if (n > 0) out += Session(uid, idx, n, start, last)
        evs.foreach { e =>
          if (n == 0 || e.ts_us - last > gapUs) {
            flush(); idx += 1; start = e.ts_us; n = 0
          }
          last = e.ts_us; n += 1
        }
        flush()
        out.iterator
      }
      .toDF()
      .orderBy("user_id", "session_idx")
  }

  val q33Sql: String =
    """WITH e AS (
        SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
      marked AS (
        SELECT user_id, event_id, ts_us,
          CASE WHEN lag(ts_us) OVER w IS NULL
                 OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      sess AS (
        SELECT user_id, ts_us,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM marked)
      SELECT user_id, session_idx::BIGINT AS session_idx,
             count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us
      FROM sess GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""

  case class UserAgg(user_id: Long, n_events: Long, sum_value_micros: Long)
  /** q35 per-user accumulator held in stream state: running totals plus
    * the latest event time seen, which anchors the inactivity TTL. */
  case class UserAggState(n_events: Long, sum_value_micros: Long,
      last_ts_us: Long)
  /** q35 stream row: key, exact-micros value, event time, and the
    * watermarked timestamp (must reach the stateful operator for
    * event-time timeouts to resolve). */
  case class EvV(user_id: Long, vmic: Long, ts_us: Long,
      ts_wm: java.sql.Timestamp)

  /** The q35 state-transition function, shared with the timeout spec:
    * on DATA, fold the batch into the user's running totals and re-arm
    * an event-time timeout at `last_seen + horizon` — the inactivity
    * TTL. On TIMEOUT, emit the finalized totals and REMOVE the state:
    * a user quiet for `horizon` of event time is closed out and their
    * state evicted, so state is bounded by ACTIVE users, never by the
    * key domain (the r12 NoTimeout version held every user id ever
    * seen, forever). Sentinel/negative user ids carry no state and emit
    * nothing. A user who speaks again after finalizing starts a fresh
    * accumulator — the TTL contract, sized by the caller. */
  def userAggFn(horizonUs: Long)(
      uid: Long, it: Iterator[EvV],
      state: org.apache.spark.sql.streaming.GroupState[UserAggState]): Iterator[UserAgg] = {
    if (state.hasTimedOut) {
      val fin = state.get
      state.remove()
      Iterator.single(UserAgg(uid, fin.n_events, fin.sum_value_micros))
    } else if (uid < 0) Iterator.empty // watermark-advancing sentinel
    else {
      var (n, s, last) = state.getOption match {
        case Some(p) => (p.n_events, p.sum_value_micros, p.last_ts_us)
        case None => (0L, 0L, Long.MinValue)
      }
      it.foreach { e => n += 1; s += e.vmic; if (e.ts_us > last) last = e.ts_us }
      state.update(UserAggState(n, s, last))
      // strictly past last+horizon (ceil to ms): fires only when the
      // watermark proves the user has been quiet a full horizon
      state.setTimeoutTimestamp((last + horizonUs) / 1000 + 1)
      Iterator.empty
    }
  }

  /** q35: stateful streaming per-user running totals via
    * flatMapGroupsWithState with EVENT-TIME TIMEOUT ([[userAggFn]]) —
    * each user's totals finalize (emit once, state evicted) after a
    * `horizon` of event-time inactivity, so state stays bounded on an
    * unbounded key stream. For the exact batch-GROUP-BY oracle the
    * horizon is sized past the table's full event-time span (no user
    * can finalize early → totals are complete), and the sentinel stream
    * ([[eventsWithSentinel]]) drives the final watermark past every
    * timeout so AvailableNow's trailing batch drains all held state.
    * In production the horizon is the business TTL (e.g. 30 days) and
    * re-appearing users simply open a new accumulator. `value` sums as
    * exact micros (×1e6 round) to stay order-independent. */
  /** (min, max) event-time micros per dataset — the TTL-sizing scan,
    * cached in-process AND on disk next to the stream fixtures so
    * repeat invocations (bench loops, sweeps, fresh JVMs) pay the scan
    * once per machine; the table is read-only driver testdata. */
  private val tsSpanCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
  private def tsSpan(spark: SparkSession, dir: String): (Long, Long) =
    tsSpanCache.computeIfAbsent(dir, _ => {
      val f = new java.io.File(
        s"/tmp/graft_stream/${dir.replaceAll("[^a-zA-Z0-9]", "_")}_tsspan")
      val cached = if (f.exists()) {
        scala.util.Try {
          val Array(a, b) = java.nio.file.Files.readString(f.toPath)
            .trim.split(' ')
          (a.toLong, b.toLong)
        }.toOption
      } else None
      cached.getOrElse {
        val ev = events(spark, dir)
        val row = ev.agg(min(tsMicros(ev)), max(tsMicros(ev))).collect()(0)
        val span = (row.getLong(0), row.getLong(1))
        scala.util.Try {
          f.getParentFile.mkdirs()
          java.nio.file.Files.writeString(f.toPath, s"${span._1} ${span._2}")
        }
        span
      }
    })

  def q35StreamState(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    // bounded fixture scan (cached): the span sizes the TTL for oracle
    // exactness
    val (mn, mx) = tsSpan(spark, dir)
    val hourUs = 3600L * 1000 * 1000
    val horizonUs = (mx - mn) + hourUs
    val unioned = eventsWithSentinel(spark, dir, horizonUs + hourUs)
    val fn = userAggFn(horizonUs) _
    val finals = unioned
      .select(col("user_id"),
        expr("CAST(round(value * 1000000) AS BIGINT)").as("vmic"),
        tsMicros(unioned).as("ts_us"),
        timestamp_micros(tsMicros(unioned)).as("ts_wm"))
      .withWatermark("ts_wm", "0 seconds")
      .as[EvV]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EvV],
         state: org.apache.spark.sql.streaming.GroupState[UserAggState]) =>
          fn(uid, it, state)
      }
    val name = s"q35mem${memSeq.incrementAndGet()}"
    withStatefulParts(spark, s"$dir/events.parquet") {
      val q = finals.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name).orderBy("user_id")
  }

  val q35Sql: String =
    """SELECT user_id, count(*) AS n_events,
        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS sum_value_micros
      FROM events GROUP BY user_id ORDER BY user_id"""

  /** One open session per user held across micro-batches — the WHOLE
    * per-user state of streaming sessionization. Bounded by the live
    * user count, never by stream length; closed sessions leave state
    * the moment they emit. */
  case class OpenSession(start_us: Long, end_us: Long, n_events: Long,
      session_idx: Long)

  /** The q37 state-transition function, shared with the timeout spec:
    * on DATA, fold the batch's (sorted) events into the open session —
    * sessions the batch itself closes emit immediately; the tail stays
    * open in state with an event-time timeout at `end + gap`, so the
    * WATERMARK closes it (emits + evicts) once no in-gap event can
    * still arrive. On TIMEOUT, emit the held session and REMOVE the
    * state — this eviction is what keeps state bounded on an unbounded
    * stream (the r11 NoTimeout version held nothing, but only because
    * it assumed a draining single batch). Sentinel/negative user ids
    * carry no state and emit nothing. */
  def sessionizeFn(gapUs: Long)(
      uid: Long, it: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[OpenSession]): Iterator[Session] = {
    if (state.hasTimedOut) {
      val o = state.get
      state.remove()
      Iterator.single(Session(uid, o.session_idx, o.n_events, o.start_us, o.end_us))
    } else if (uid < 0) Iterator.empty // watermark-advancing sentinel
    else {
      val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
      if (evs.isEmpty) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer[Session]()
        var (idx, start, last, n) = state.getOption match {
          case Some(o) => (o.session_idx, o.start_us, o.end_us, o.n_events)
          case None => (0L, 0L, Long.MinValue, 0L)
        }
        def flush(): Unit = if (n > 0) out += Session(uid, idx, n, start, last)
        evs.foreach { e =>
          if (n == 0 || e.ts_us - last > gapUs) {
            flush(); idx += 1; start = e.ts_us; n = 0
          }
          last = e.ts_us; n += 1
        }
        state.update(OpenSession(start, last, n, idx))
        // strictly past end+gap (ceil to ms): fires only when the
        // watermark proves no event can extend this session
        state.setTimeoutTimestamp((last + gapUs) / 1000 + 1)
        out.iterator
      }
    }
  }

  /** Watermark-advancing sentinel: a one-row stream whose single event
    * sits `aheadUs` past the events table's max timestamp, under a
    * negative user id. Unioned into a 0-delay-watermark stream it pushes
    * the final watermark beyond every session's `end + gap`, so
    * AvailableNow's trailing batch fires every EventTimeTimeout and the
    * held sessions drain — the finite-stream stand-in for "the stream
    * keeps running". */
  /** ONE streaming source serving the events AND the watermark
    * sentinel, replacing the former two-source `unionByName`: the
    * sentinel parquet is written into a directory alongside hardlinks
    * to the events part-files, so each micro-batch plans ONE file-
    * source scan with one offset log instead of two sources plus a
    * union — the EventTimeTimeout mechanics (sentinel drives the final
    * watermark past every TTL so AvailableNow's trailing batch drains
    * held state) are unchanged, only the per-batch plan is thinner. */
  private def eventsWithSentinel(spark: SparkSession, dir: String,
      aheadUs: Long): DataFrame = {
    val ev = events(spark, dir)
    val out = new java.io.File(
      s"/tmp/graft_stream/${dir.replaceAll("[^a-zA-Z0-9]", "_")}_evsent_$aheadUs")
    synchronized {
      if (!graft.util.CacheStamp.valid(new java.io.File(out, "_done"))) {
        rmrf(out)
        // the sentinel row (negative user id, max ts + ahead) lands
        // first — its write creates the directory
        val mx = tsSpan(spark, dir)._2
        val tsCol = ev.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => lit((mx + aheadUs) * 1000L)
          case org.apache.spark.sql.types.TimestampNTZType =>
            expr(s"timestampadd(MICROSECOND, ${mx + aheadUs}, " +
              "TIMESTAMP_NTZ '1970-01-01 00:00:00')")
          case _ => timestamp_micros(lit(mx + aheadUs))
        }
        ev.limit(1)
          .withColumn("user_id", lit(-1L).cast(ev.schema("user_id").dataType))
          .withColumn("event_id", lit(-1L).cast(ev.schema("event_id").dataType))
          .withColumn("ts", tsCol)
          .coalesce(1).write.mode("overwrite").parquet(out.toString)
        // hardlink (fall back to copy) every events part-file alongside
        val src = java.nio.file.Paths.get(s"$dir/events.parquet")
        val parts =
          if (java.nio.file.Files.isDirectory(src))
            java.nio.file.Files.list(src).iterator().asScala
              .filter(p => p.getFileName.toString.endsWith(".parquet") &&
                !p.getFileName.toString.startsWith("_") &&
                !p.getFileName.toString.startsWith("."))
              .toSeq
          else Seq(src)
        parts.zipWithIndex.foreach { case (p, i) =>
          val dst = out.toPath.resolve(f"ev_$i%05d.parquet")
          try java.nio.file.Files.createLink(dst, p)
          catch { case _: Exception => java.nio.file.Files.copy(p, dst) }
        }
        graft.util.CacheStamp.write(new java.io.File(out, "_done"))
      }
    }
    spark.readStream.schema(ev.schema).parquet(out.toString)
  }

  /** q37: streaming sessionization via flatMapGroupsWithState with
    * EVENT-TIME TIMEOUT — the stateful-stream twin of q33, production-
    * shaped: the open session per user lives in state until the
    * watermark passes `end + gap`, then emits and is EVICTED
    * ([[sessionizeFn]]). State is bounded by live users, not stream
    * length — on a true unbounded stream the r11 NoTimeout version
    * would have held session state forever. The oracle stays exact
    * because the sentinel row ([[eventsWithSentinel]]) drives the final
    * watermark past every session, draining held state before the
    * query terminates. Caveat (documented, inherent to watermarks): an
    * event arriving LATER than the watermark's bound on its session
    * would start a new session instead of extending — delay is 0 here
    * because AvailableNow delivers in order; size the watermark delay
    * to the source's real disorder in production. */
  def q37StreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    val unioned = eventsWithSentinel(spark, dir, 2 * gapUs)
    val fn = sessionizeFn(gapUs) _
    val sessions = unioned
      .select(col("user_id"), col("event_id"), tsMicros(unioned).as("ts_us"),
        timestamp_micros(tsMicros(unioned)).as("ts_wm"))
      .withWatermark("ts_wm", "0 seconds")
      // the watermarked column must reach the stateful operator — it
      // rides in the typed row and is simply ignored by the fold
      .as[EvW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[EvW],
         state: org.apache.spark.sql.streaming.GroupState[OpenSession]) =>
          fn(uid, it.map(e => Ev(e.user_id, e.event_id, e.ts_us)), state)
      }
    val name = s"q37mem${memSeq.incrementAndGet()}"
    withStatefulParts(spark, s"$dir/events.parquet") {
      val q = sessions.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name).orderBy("user_id", "session_idx")
  }

  /** q65: streaming deduplication — `dropDuplicates` over the event
    * stream on (user_id, event_type), then distinct-user counts per
    * type from the deduped append output. The dedup key domain here is
    * bounded, so plain dropDuplicates state is safe; an unbounded key
    * (content hashes in an ingest pipeline) switches to
    * `withWatermark` + `dropDuplicatesWithinWatermark`, which expires
    * state and keeps the same first-wins semantics inside the
    * watermark horizon. Output compares key SETS, not which physical
    * row won the race — arrival order across partitions is
    * nondeterministic, the key set is not. */
  def q65StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    val name = s"q65mem${memSeq.incrementAndGet()}"
    withStatefulParts(spark, s"$dir/events.parquet") {
      val q = deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.table(name)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  val q65Sql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""

  /** q92: STREAM-STREAM interval join — purchases attributed to signup
    * windows with BOTH sides streaming, the q82 semantics live. Stock
    * Spark cannot run this at all: a stream-stream join without an
    * equality predicate has no key for the symmetric-hash state and
    * the streaming planner refuses. With GraftExtensions and a pinned
    * `spark.graft.rangeJoin.bucketWidth` (the bucket id must be stable
    * across micro-batches — a measuring subquery can't scan a stream)
    * the [[org.apache.spark.sql.graftplans.RewriteRangeJoins]] rewrite
    * manufactures that key, and the residual time-range condition +
    * watermarks drive state eviction exactly as in a keyed interval
    * join. The joined rows append to the memory sink (the serving
    * store); the per-signup aggregation runs batch over it. Oracle =
    * the batch q82 SQL — the streaming drain must be COMPLETE, not
    * just plan-shaped. */
  /** q92's per-micro-batch partials under `parts/batch=<id>`, read
    * with exactly `schema`: recursive file lookup turns partition
    * discovery off, which would otherwise add a `batch` column. */
  private[graft] def readPartials(spark: SparkSession, parts: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(parts)

  def q92StreamStreamRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val tenMinUs = 600L * 1000 * 1000
    val stream = eventsStream(spark, dir)
    val ev = stream.select(col("event_id"), col("event_type"), col("value"),
      timestamp_micros(tsMicros(stream)).as("ts_ev"))
    // NO purchase_id (r21): the aggregate only reads (signup_id,
    // p_value), so the id was dead weight in the symmetric-hash state
    // AND in every one of the ~n² joined pair rows (guide §2.3 —
    // project before the exchange; here, before the state store).
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("ts_ev").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("ts_ev").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    spark.conf.set("spark.graft.rangeJoin.bucketWidth", (tenMinUs + 1).toString)
    // Stateful parallelism is a real sizing decision, measured both
    // ways at 128x: the symmetric-hash join opens FOUR state stores
    // per shuffle partition, so at toy scale extra partitions are
    // pure fixed store cost (32 parts: 9.3 s vs 8 parts: 3.4 s at
    // sf0.1) — but too few serialize the state writes at scale
    // (8 parts: 630 s vs 32 parts: 220 s at 128x). Size from the
    // input volume, as a deployment would before the FIRST start
    // (the value is checkpointed for the life of the query).
    val srcBytes = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.getContentSummary(p).getLength
    }
    val cpus = spark.sparkContext.defaultParallelism
    val parts = math.max(8L, math.min(cpus.toLong, srcBytes / (8L << 20)))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try {
      val joined = purchases.join(signups,
        col("p_ts") >= col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("INTERVAL 10 MINUTES"))
      // PER-MICRO-BATCH PARTIAL AGGREGATION via foreachBatch (r21,
      // guide §2.3 "aggregate before you shuffle" applied to the sink):
      // the raw joined stream is the quadratic pair set — measured
      // 94,193 pairs at sf0.1 ⇒ ~1.54e9 at 128× (timestamps replicate
      // unshifted, so pairs grow mult²) — and r20 paid a full parquet
      // write + re-read of ALL of it just to aggregate one row per
      // signup. Each micro-batch now writes its own per-signup partial
      // (count + DECIMAL-exact sum), and the final pass re-aggregates
      // the partials: decimal addition is exact and associative and
      // count re-sums, so the result is bit-identical to the
      // single-pass aggregate at any batch count. Batch output lands
      // under parts/batch=<id> with overwrite — a retried batch
      // REPLACES its own output (idempotent), never duplicates it.
      // Still distributed, never through the driver; the sink dir
      // stays the DETERMINISTIC per-dataset-and-PROCESS path, wiped up
      // front (the r19 nanotime dirs filled the disk), and the bulk
      // intermediate — now the small partials — is deleted once the
      // final aggregate lands. The pid component keeps two concurrent
      // harness JVMs on the same dataset from wiping each other's
      // in-flight checkpoint.
      val out = new java.io.File(
        s"/tmp/graft_q92_cache/${dir.replaceAll("[^a-zA-Z0-9]", "_")}" +
          s"_pid${ProcessHandle.current().pid()}")
      rmrf(out); out.mkdirs()
      // state observability (r17): the symmetric-hash join's
      // per-micro-batch state rows/bytes are captured from
      // StreamingQueryProgress and summarized — the 128× GC band is
      // now a measured footprint, not an inference from GC drain
      // the partial schema is captured from the first batch so the
      // outer read never depends on parquet schema inference — a batch
      // whose join produced ZERO rows commits a fileless directory,
      // which inference would refuse
      @volatile var partsSchema: org.apache.spark.sql.types.StructType = null
      graft.util.StreamStateMetrics.observe(spark) {
        val q = joined.writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val pa = batch.groupBy("signup_id")
              .agg(count(lit(1)).as("n_purch"), sum(d6w(col("p_value"))).as("sv"))
            partsSchema = pa.schema
            pa.write.mode("overwrite").parquet(s"$out/parts/batch=$id")
          }
          .option("checkpointLocation", s"$out/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      graft.util.StreamStateMetrics.lastSummary.foreach(s =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .info(s"q92 stream-stream range join ${s.line}"))
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      val partials =
        if (partsSchema != null) {
          new java.io.File(s"$out/parts").mkdirs()
          readPartials(spark, s"$out/parts", partsSchema)
        } else {
          // zero micro-batches ran (empty source): an empty frame with
          // the partial shape keeps the aggregate below well-typed
          import org.apache.spark.sql.types._
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("signup_id", LongType),
              StructField("n_purch", LongType),
              StructField("sv", DecimalType(35, 6)))))
        }
      partials
        .groupBy("signup_id")
        .agg(sum(col("n_purch")).as("n_purch"), dbl(sum(col("sv"))).as("sum_value"))
        .write.mode("overwrite").parquet(s"$out/agg")
      rmrf(new java.io.File(s"$out/parts"))
      rmrf(new java.io.File(s"$out/ckpt"))
      spark.read.parquet(s"$out/agg").orderBy("signup_id")
    } finally {
      spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_streaming_hourly" -> (q32StreamingHourly _),
    "q33_sessionize_typed" -> (q33Sessionize _),
    "q35_stream_state" -> (q35StreamState _),
    "q37_stream_sessionize" -> (q37StreamSessionize _),
    "q65_stream_dedup" -> (q65StreamDedup _),
    "q92_stream_range_join" -> (q92StreamStreamRangeJoin _),
  )

  val oracles: Map[String, String] = Map(
    "q32_streaming_hourly" -> q32Sql,
    "q33_sessionize_typed" -> q33Sql,
    "q35_stream_state" -> q35Sql,
    "q37_stream_sessionize" -> q33Sql, // same truth as the batch twin
    "q65_stream_dedup" -> q65Sql,
    "q92_stream_range_join" -> graft.queries.Joins.q82Sql, // batch truth
  )
}
