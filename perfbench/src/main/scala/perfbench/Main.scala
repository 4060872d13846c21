package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload, one seed, one closed-loop client in
  * a single-process Spark (`local[cpus]`). Prints a provenance header
  * line and, last, `RESULT {...}` with the raw metric values; run.py
  * attaches units and checks the names against BENCHMARK.json.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` runs the
  * same loop half untraced and half traced and reports the per-layer
  * metrics, the self time of each traced layer, and writes the spans
  * to `<work>/spans-<workload>-<seed>.json`. */
object Main {
  /** Set-ups per `--trace 0` run; `setup_s` is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val w = Workloads.byName(args.workload)
    val sessionStart = System.nanoTime()
    val spark = session(args)
    val sessionEnd = System.nanoTime()
    val sessionS = (sessionEnd - sessionStart) / 1e9
    val ctx = new Ctx(spark, args)
    val gc0 = gcMillis
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val wlStartMs = System.currentTimeMillis()

    val reps = if (args.trace) 1 else SetupReps
    val setups = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      w.setup(ctx)
      (System.nanoTime() - t0) / 1e9
    }
    val flsBytes = tableBytes(w.table(ctx))
    val parquetBytes = tableBytes(w.parquet(ctx))
    val tSetup = System.nanoTime()
    w.prepare(ctx)
    // exact counts of the freshly set-up table, before any operation
    val fresh = if (args.trace) Some(freshCounts(w, ctx)) else None
    val tPrepare = System.nanoTime()
    // JIT and caches warm up on the same operations; their samples are
    // dropped (their checks still count)
    val warmOps = w.ops(ctx, args.trace)
    ctx.loop(w.warmupSeconds, warmOps, w.warmupUnit(warmOps.size))
    ctx.clearSamples()
    val tWarm = System.nanoTime()

    val metrics: Map[String, Double] = fresh match {
      case None =>
        val ops = w.ops(ctx, trace = false)
        ctx.loop(args.seconds, ops, w.unit(trace = false, ops.size))
        w.finish(ctx)
        endToEnd(w, ctx, setups, flsBytes, parquetBytes)
      case Some(counts) => traced(w, ctx, counts, wlStartMs, gc0)
    }

    val header = Seq(
      "workload" -> q(args.workload), "seed" -> args.seed.toString,
      "cpus" -> args.cpus.toString, "master" -> q(spark.sparkContext.master),
      "spark" -> q(spark.version), "java" -> q(System.getProperty("java.version")),
      "trace" -> args.trace.toString, "seconds" -> args.seconds.toString,
      "phases_s" -> obj(Seq("session" -> sessionS, "setup" -> (tSetup - sessionEnd) / 1e9,
        "prepare" -> (tPrepare - tSetup) / 1e9, "warmup" -> (tWarm - tPrepare) / 1e9,
        "measure" -> (System.nanoTime() - tWarm) / 1e9).map { case (k, v) => k -> fmt(v) }),
      "setup_reps_s" -> setups.map(fmt).mkString("[", ", ", "]"),
      "rows" -> w.parquetRows.toString, "fls_bytes" -> flsBytes.toString, "parquet_bytes" -> parquetBytes.toString,
      "attempted" -> ctx.attempted.toString, "failed" -> ctx.failed.toString,
      "failed_frac" -> fmt(ctx.failed.toDouble / math.max(1, ctx.attempted)),
      "samples" -> obj(ctx.samples.toSeq.map { case (k, v) => k -> v.size.toString }),
      "p50_ms" -> obj(ctx.samples.toSeq.map { case (k, v) => k -> fmt(Stats.median(v.toSeq) * 1000) }),
      "p25_ms" -> obj(ctx.samples.toSeq.map { case (k, v) => k -> fmt(Stats.quantile(v.toSeq, 0.25) * 1000) }),
      "cpu_p50_ms" -> obj(ctx.cpuSamples.toSeq.map { case (k, v) => k -> fmt(Stats.median(v.toSeq) * 1000) }),
      "calib_ms" -> fmt(Stats.median(Calib.ms.toSeq)),
      "tail" -> {
        val prim = w.primary.flatMap(ctx.times)
        val (p, v) = Stats.tail(prim)
        obj(Seq("percentile" -> p.toString, "ms" -> fmt(v * 1000), "samples" -> prim.size.toString))
      })
    for ((k, v) <- ctx.samples)
      System.err.println(s"[perfbench] $k ms: " + v.map(x => f"${x * 1000}%.0f").mkString(" "))
    for ((k, v) <- ctx.cpuSamples)
      System.err.println(s"[perfbench] $k cpu ms: " + v.map(x => f"${x * 1000}%.0f").mkString(" "))
    spark.stop()
    println("HEADER " + obj(header))
    println("RESULT " + obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> fmt(v) })))
    )
    System.out.flush()
    sys.exit(if (ctx.failed == 0) 0 else 1)
  }

  // ---- end-to-end ----------------------------------------------------------

  private def endToEnd(w: Workload, ctx: Ctx, setupS: Seq[Double], flsBytes: Long,
      parquetBytes: Long): Map[String, Double] = Map(
    "setup_s" -> Stats.median(setupS),
    "op_cpu_ms" -> Stats.geomean(w.primary.map(ctx.cpuMedian)) * 1000,
    "mix_cpu_s" -> w.mix.map(ctx.cpuMedian).sum,
    "scan_cpu_ns_per_row" -> Stats.median(ctx.scanCpuPerRow.toSeq) * Calib.scale,
    "write_cpu_ns_per_row" -> ctx.cpuMedian("write") * 1e9 / w.writeRows,
    "bytes_per_parquet_byte" -> flsBytes.toDouble / parquetBytes)

  // ---- traced run ----------------------------------------------------------

  /** Counts that repeat exactly for a seed: the encodings' footprint
    * and the pruning of a fixed probe, on the freshly set-up table. */
  private def freshCounts(w: Workload, ctx: Ctx): Map[String, Double] = {
    val footprint = Codec.footprint(w.table(ctx))
    val groups = Codec.rowGroups(w.table(ctx))
    val pt = new Tracer(ctx.spark)
    pt.start()
    ctx.tracer = Some(pt)
    w.pruningProbe(ctx)
    ctx.tracer = None
    pt.stop()
    val plans = pt.allPlans
    ctx.clearSamples()
    Codec.Named.map(_._1).map(e => s"codec.bits_per_value.$e" ->
      footprint.get(e).map(a => a.bytes * 8.0 / a.values).getOrElse(0.0)).toMap +
      ("scan.rowgroups_read_frac" -> plans.map(_.rowGroupsRead).sum.toDouble / (plans.map(_.flsScans).sum * groups))
  }

  private def traced(w: Workload, ctx: Ctx, fresh: Map[String, Double], wlStartMs: Long,
      gc0: Long): Map[String, Double] = {
    val half = ctx.args.seconds / 2.0
    val ops = w.ops(ctx, trace = true)
    ctx.loop(half, ops, w.unit(trace = false, ops.size))
    val untraced = ctx.samples.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap
    ctx.clearSamples()

    val tr = new Tracer(ctx.spark)
    tr.start()
    ctx.tracer = Some(tr)
    ctx.loop(half, ops, w.unit(trace = true, ops.size))
    for (_ <- 0 until 3) { w.scan(ctx); w.scanParquet(ctx) }
    ctx.tracer = None
    tr.stop()
    w.finish(ctx)
    val probe = Codec.probe(w.table(ctx), ctx.path("tmp"), maxGroups = 8, reps = 3, Some(tr))
    val wlEndMs = System.currentTimeMillis()

    val spans = tr.spans(wlStartMs, wlEndMs)
    val spanFile = ctx.path(s"spans-${w.name}-${ctx.seed}.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(spanFile), Tracer.toJson(spans).getBytes("UTF-8"))
    val self = tr.selfSeconds(spans)

    val opIds = ctx.samples.keys.toSeq.flatMap(tr.opIds)
    def perOp(f: String => Double): Double = if (opIds.isEmpty) 0.0 else opIds.map(f).sum / opIds.size
    val plans = tr.allPlans
    val scanCpu = tr.opIds("scan").map(tr.cpuSeconds)
    val writeIds = tr.opIds("write")
    val overhead = ctx.samples.keys.toSeq.filter(untraced.contains).map(k => ctx.median(k) / untraced(k) - 1)

    val codec = Codec.Named.map(_._1).flatMap { e =>
      Seq(s"codec.decode_ns_per_value.$e" -> probe.decodeNsPerValue(e),
        s"codec.encode_ns_per_value.$e" -> probe.encodeNsPerValue(e))
    }
    val base: Map[String, Double] = (codec ++ Seq(
      "file.read_ns_per_byte" -> probe.readNsPerByte,
      "scan.task_cpu_s" -> Stats.median(scanCpu),
      "scan.fls_over_parquet" -> (ctx.median("scan") / w.scanRows) / (ctx.median("scan_parquet") / w.parquetRows),
      "scan.rows_decoded_per_row_returned" -> plans.map(_.flsRowsRead).sum.toDouble / plans.map(_.scanRowsOut).sum,
      "write.task_cpu_s" -> Stats.median(writeIds.map(tr.cpuSeconds)),
      "write.files" -> Codec.files(w.table(ctx), new org.apache.hadoop.conf.Configuration()).size.toDouble,
      "write.bytes" -> tableBytes(w.table(ctx)).toDouble,
      "commit.files_added" -> 0.0, "commit.files_removed" -> 0.0, "commit.versions" -> 0.0,
      "commit.bytes_added_per_byte_changed" -> 0.0,
      "plan.planning_ms" -> Stats.median(plans.map(_.planningMs)),
      "plan.jobs" -> perOp(id => tr.jobCount(id).toDouble),
      "plan.stages" -> perOp(id => tr.stageCount(id).toDouble),
      "plan.shuffle_write_bytes" -> perOp(id => tr.shuffleWriteBytes(id).toDouble),
      "plan.spill_bytes" -> perOp(id => tr.spillBytes(id).toDouble),
      "jvm.gc_s" -> (gcMillis - gc0) / 1000.0,
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.overhead_frac" -> Stats.median(overhead)) ++
      Tracer.GraftNodes.map(n => s"plan.graft_nodes.$n" ->
        ctx.samples.keys.count(k => tr.plansOf(k).exists(_.graftNodes.contains(n))).toDouble) ++
      Seq("workload", "operation", "job", "stage", "codec").map(l => s"trace.self_s.$l" -> self.getOrElse(l, 0.0)) ++
      GateHotspots.Queries.flatMap(q => Seq(s"query.noop_s.$q" -> 0.0, s"query.count_s.$q" -> 0.0))).toMap
    System.err.println(s"[perfbench] spans: ${spans.size} -> $spanFile")
    base ++ fresh ++ w.layers(ctx, tr)
  }

  // ---- helpers -------------------------------------------------------------

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cpus").toInt, need("work"))
  }

  /** Bytes of every file under a table directory except Hadoop's local
    * `.crc` checksums, which neither format needs. */
  def tableBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(new org.apache.hadoop.conf.Configuration()).listFiles(p, true)
    var n = 0L
    while (it.hasNext) { val s = it.next(); if (!s.getPath.getName.endsWith(".crc")) n += s.getLen }
    n
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
  /** All digits a double carries; NaN/inf become null (run.py rejects). */
  private def fmt(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
