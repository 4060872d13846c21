package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, work: String)

/** One measured run: the closed-loop client, its samples and its
  * failure count. The client issues each operation only after the
  * previous one returned, from this single thread. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val seed: Long = args.seed
  var attempted = 0L
  var failed = 0L
  /** Seconds per successful operation, by operation kind. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** Engine CPU seconds per successful operation, by operation kind. */
  val cpuSamples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val meter = new CpuMeter(spark)
  /** Set while the traced part of a `--trace 1` run is measured. */
  var tracer: Option[Tracer] = None
  private var opSeq = 0L

  /** Runs one operation: `body` does the timed work and returns the
    * untimed check of its output. A throw or a failed check counts the
    * operation as failed, and a failed operation is never timed.
    * Records wall and engine CPU time (see [[CpuMeter]]), after a run
    * of the calibration kernel (see [[Calib]]) that neither counts.
    * Returns the seconds of a successful operation. */
  def op(kind: String)(body: => (() => Boolean)): Option[Double] = {
    opSeq += 1
    val id = s"op-$opSeq"
    val sc = spark.sparkContext
    sc.setJobGroup(id, kind, interruptOnCancel = false)
    attempted += 1
    Calib.run()
    val c0 = meter.nanos
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val check = try body catch { case e: Throwable => fail(kind, e); () => false }
    val secs = (System.nanoTime() - t0) / 1e9
    val cpu = (meter.nanos - c0) / 1e9
    sc.clearJobGroup()
    tracer.foreach(_.op(id, kind, startMs, startMs + secs * 1000))
    val ok = try check() catch { case e: Throwable => fail(kind, e); false }
    if (ok) { samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += secs
      cpuSamples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += cpu; Some(secs) }
    else { failed += 1; System.err.println(s"[perfbench] WRONG ANSWER in $kind ($id)"); None }
  }

  /** An untimed correctness check outside the loop (reference answers,
    * end states); it counts in `attempted`/`failed` like an operation. */
  def verify(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Throwable => fail(what, e); false }
    if (!good) { failed += 1; System.err.println(s"[perfbench] WRONG ANSWER: $what") }
  }

  private def fail(kind: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $kind failed: ${e.toString.take(600)}")

  /** Engine CPU ns per row of successful `scan` operations (the table
    * they read can grow during a run). */
  val scanCpuPerRow = mutable.ArrayBuffer[Double]()

  /** Drops every sample so far (warm-up, probes). */
  def clearSamples(): Unit = {
    samples.clear(); cpuSamples.clear(); scanCpuPerRow.clear()
    Calib.ms.clear()
  }

  def times(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
  def median(kind: String): Double = Stats.median(times(kind))
  def cpu(kind: String): Seq[Double] = cpuSamples.get(kind).map(_.toSeq).getOrElse(Nil)
  /** Median engine CPU seconds of a kind, at reference speed. */
  def cpuMedian(kind: String): Double = Stats.median(cpu(kind)) * Calib.scale

  /** Runs `ops` round-robin for `seconds`, always starting at the first
    * op, then on until a multiple of `unit` ops has run. */
  def loop(seconds: Double, ops: IndexedSeq[() => Unit], unit: Int = 1): Int = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < end || i % unit != 0) {
      ops(i % ops.size)()
      i += 1
    }
    i
  }

  def path(rel: String): String = s"${args.work}/$rel"
}

/** Engine CPU time: the client thread's own CPU time (planning,
  * commits, collecting results) plus the CPU time of every Spark task
  * (`executorCpuTime` and `executorDeserializeCpuTime`). Unlike wall
  * time it does not grow when other processes share the cores, and it
  * leaves out the JVM's compiler and collector threads. Only the
  * client's operations run tasks, one at a time, so the difference of
  * two readings is the CPU time of the operation between them. */
final class CpuMeter(spark: SparkSession) extends org.apache.spark.scheduler.SparkListener {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong()
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
  }

  /** Total so far; waits until the listener has seen every task that
    * ended before the call. */
  def nanos: Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    threads.getCurrentThreadCpuTime + taskNs.get
  }
}

/** The speed of the machine during this run, measured in the run
  * itself. CPU time excludes time other processes held the cores, but
  * not their effect on the cores this process runs on (shared caches,
  * memory bandwidth, sibling hyper-threads), which on a shared machine
  * shifts every operation of a run by the same factor. A fixed kernel
  * runs before every operation: a radix sort of 128k longs, inserts and
  * lookups in an open-addressing hash table, and building and walking a
  * linked list: branches, allocation and pointer chasing, like much of
  * the engine's own work. It calls no library code, whose compiled form
  * would depend on how the engine used it in this run. Its median CPU
  * time over the measured part is the run's speed; engine CPU times are
  * reported scaled to the reference speed at which it takes `RefMs`. */
object Calib {
  val RefMs = 12.0
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private val keys = {
    var x = 88172645463325252L
    Array.fill(1 << 18) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
  }
  private final class Node(val key: Long, val next: Node)
  val ms = mutable.ArrayBuffer[Double]()
  /** Keeps the kernel's results alive, so no step of it is dead code. */
  var sink = 0L

  def run(): Unit = {
    val t0 = threads.getCurrentThreadCpuTime
    sink += sort() + hash() + list()
    ms += (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** LSD radix sort of the first 128k keys, 8 bits a pass. */
  private def sort(): Long = {
    val n = 1 << 17
    var a = java.util.Arrays.copyOf(keys, n)
    var b = new Array[Long](n)
    var shift = 0
    while (shift < 64) {
      val count = new Array[Int](257)
      var i = 0
      while (i < n) { count((((a(i) >>> shift) & 0xff) + 1).toInt) += 1; i += 1 }
      i = 0
      while (i < 256) { count(i + 1) += count(i); i += 1 }
      i = 0
      while (i < n) {
        val d = ((a(i) >>> shift) & 0xff).toInt
        b(count(d)) = a(i); count(d) += 1; i += 1
      }
      val t = a; a = b; b = t
      shift += 8
    }
    a(n / 2)
  }

  /** 64k inserts, then 256k lookups, with linear probing. */
  private def hash(): Long = {
    val slots = 1 << 17
    val ks = new Array[Long](slots)
    val vs = new Array[Long](slots)
    val used = new Array[Boolean](slots)
    def slot(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> 47).toInt
    var i = 0
    while (i < (1 << 16)) {
      val k = keys(i * 4)
      var j = slot(k)
      while (used(j) && ks(j) != k) j = (j + 1) & (slots - 1)
      used(j) = true; ks(j) = k; vs(j) = i
      i += 1
    }
    var s = 0L
    i = 0
    while (i < keys.length) {
      val k = keys(i)
      var j = slot(k)
      while (used(j) && ks(j) != k) j = (j + 1) & (slots - 1)
      if (used(j)) s += vs(j)
      i += 1
    }
    s
  }

  /** A 64k-node list, built from keys and walked twice. */
  private def list(): Long = {
    var head: Node = null
    var i = 0
    while (i < (1 << 16)) { head = new Node(keys(i), head); i += 1 }
    var s = 0L
    var r = 0
    while (r < 2) {
      var p = head
      while (p != null) { s ^= p.key; p = p.next }
      r += 1
    }
    s
  }

  /** Factor that turns this run's CPU times into reference-speed ones. */
  def scale: Double = RefMs / Stats.median(ms.toSeq)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Linear-interpolated quantile; NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it,
    * and its value: (percentile, value). With fewer than 11 samples
    * there is no such percentile and the maximum is reported as p0. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    if (n < 11) (0, if (xs.isEmpty) Double.NaN else xs.max)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (p, xs.sorted.apply(math.ceil(p / 100.0 * n).toInt - 1))
    }
  }
}

object Check {
  /** Fully materializes `df` (every column of every row is converted
    * to a row, as a `noop` sink would consume it) and returns its row
    * count. Column pruning cannot apply: nothing is aggregated. */
  def materialize(df: DataFrame): Long =
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      Iterator.single(n)
    }.collect().sum

  /** Row count and an order-insensitive 32-bit-lane hash sum over all
    * columns, computed by Spark. Two frames agree when both match. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(col): _*).bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Order-insensitive hash of collected rows. */
  def hash(rows: Array[Row]): Long = rows.foldLeft(0L)((a, r) => a + r.toString.hashCode.toLong)
}
