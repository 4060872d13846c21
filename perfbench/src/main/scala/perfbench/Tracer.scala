package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a layer boundary the benchmark crossed. Times are epoch
  * milliseconds, the clock Spark's listener events carry. */
final case class Span(id: String, parent: String, layer: String, name: String,
    startMs: Double, endMs: Double)

/** Records spans workload -> operation -> Spark job -> stage, linked
  * through the job-group id [[Ctx.op]] sets, plus per-operation plan
  * facts from each finished query execution. Everything stays in memory
  * until the run ends. */
final class Tracer(spark: SparkSession) extends SparkListener with AdaptiveSparkPlanHelper {
  private final class Job(val group: String, val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = startMs
  }
  private final class Stage(val id: Int, val startMs: Long, val endMs: Long,
      val cpuNs: Long, val shuffleWrite: Long, val spill: Long)

  /** Plan facts of one query execution. */
  final case class Plan(startMs: Long, planningMs: Double, graftNodes: Set[String],
      rowGroupsRead: Long, flsRowsRead: Long, scanRowsOut: Long, flsScans: Int)

  private val ops = mutable.ArrayBuffer[Span]()
  private val extra = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val plans = mutable.ArrayBuffer[Plan]()
  private val opKind = mutable.Map[String, String]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  /** Detaches, then waits for the asynchronous listener bus to deliver
    * what is still queued (it goes quiet within a few polls). */
  def stop(): Unit = {
    var last = -1
    var polls = 0
    while (polls < 40 && last != eventCount) { last = eventCount; Thread.sleep(100); polls += 1 }
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(this)
  }
  private def eventCount: Int = synchronized(jobs.size + stages.size + plans.size)

  def op(id: String, kind: String, startMs: Long, endMs: Double): Unit = synchronized {
    ops += Span(id, "workload", "operation", kind, startMs, endMs)
    opKind(id) = kind
  }
  /** A span the benchmark timed around a direct library call. */
  def span(layer: String, name: String, startMs: Double, endMs: Double): Unit = synchronized {
    extra += Span(s"${layer}-${extra.size}", "workload", layer, name, startMs, endMs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(g, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    for (s <- i.submissionTime; c <- i.completionTime; if m != null)
      stages(i.stageId) = new Stage(i.stageId, s, c, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Records a finished query execution; the listener calls this for
    * Dataset actions, the benchmark for plans it runs through `toRdd`. */
  def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
    val plan = qe.executedPlan
    val nodes = collect(plan) {
      case p if p.getClass.getName.startsWith("org.apache.spark.sql.graftplans.") =>
        p.getClass.getSimpleName
    }.toSet
    val flsScans = collect(plan) {
      case b: BatchScanExec if b.scan.getClass.getName.startsWith("graft.fls") => b
    }
    def m(b: BatchScanExec, k: String): Long = b.metrics.get(k).map(_.value).getOrElse(0L)
    synchronized {
      plans += Plan(start, phases.map(_.durationMs.toDouble).sum, nodes,
        flsScans.map(m(_, "rowGroupsRead")).sum, flsScans.map(m(_, "flsRowsRead")).sum,
        flsScans.map(m(_, "numOutputRows")).sum, flsScans.size)
    }
  }

  // ---- per-operation views -------------------------------------------------

  private def opOf(startMs: Long): Option[Span] =
    ops.find(s => s.startMs <= startMs && startMs <= s.endMs + 1)

  /** Query executions attributed to the operation whose span holds
    * their first planning phase. */
  def plansOf(kind: String): Seq[Plan] = synchronized {
    plans.filter(p => opOf(p.startMs).exists(_.name == kind)).toSeq
  }
  /** Plans of operations only (not of the benchmark's own checks). */
  def allPlans: Seq[Plan] = synchronized(plans.filter(p => opOf(p.startMs).isDefined).toSeq)
  def opIds(kind: String): Seq[String] = synchronized(ops.filter(_.name == kind).map(_.id).toSeq)

  private def jobsOf(opId: String): Seq[Job] = jobs.values.filter(_.group == opId).toSeq
  def jobCount(opId: String): Int = synchronized(jobsOf(opId).size)
  private def stagesOf(opId: String): Seq[Stage] = synchronized {
    jobsOf(opId).flatMap(_.stages).distinct.flatMap(stages.get)
  }
  def stageCount(opId: String): Int = stagesOf(opId).size
  def cpuSeconds(opId: String): Double = stagesOf(opId).map(_.cpuNs).sum / 1e9
  def shuffleWriteBytes(opId: String): Long = stagesOf(opId).map(_.shuffleWrite).sum
  def spillBytes(opId: String): Long = stagesOf(opId).map(_.spill).sum

  // ---- spans and self times ------------------------------------------------

  /** Every span: workload (the given interval), operations and direct
    * library calls, Spark jobs (parent: their operation) and stages
    * (parent: their first job). */
  def spans(workloadStartMs: Double, workloadEndMs: Double): Seq[Span] = synchronized {
    val wl = Span("workload", "", "workload", "workload", workloadStartMs, workloadEndMs)
    val js = jobs.toSeq.collect { case (id, j) if opKind.contains(j.group) =>
      Span(s"job-$id", j.group, "job", s"job $id", j.startMs, j.endMs) }
    val jobOfStage = jobs.toSeq.filter(j => opKind.contains(j._2.group))
      .flatMap { case (id, j) => j.stages.map(_ -> id) }.groupBy(_._1).map { case (s, v) => s -> v.map(_._2).min }
    val ss = stages.values.toSeq.flatMap(s => jobOfStage.get(s.id).map(j =>
      Span(s"stage-${s.id}", s"job-$j", "stage", s"stage ${s.id}", s.startMs, s.endMs)))
    wl +: (ops.toSeq ++ extra ++ js ++ ss)
  }

  /** Per layer: the sum over its spans of the span's duration minus the
    * part of it that its children cover, in seconds. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => (s.endMs - s.startMs - covered(s, children.getOrElse(s.id, Nil))) / 1000.0).sum
    }
  }

  private def covered(s: Span, kids: Seq[Span]): Double = {
    var total = 0.0
    var curLo = Double.NaN
    var curHi = Double.NaN
    for (k <- kids.map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter(k => k._2 > k._1).sortBy(_._1)) {
      if (curHi.isNaN || k._1 > curHi) {
        if (!curHi.isNaN) total += curHi - curLo
        curLo = k._1; curHi = k._2
      } else curHi = math.max(curHi, k._2)
    }
    if (!curHi.isNaN) total += curHi - curLo
    total
  }
}

object Tracer {
  /** The physical nodes the graft planner extensions contribute. */
  val GraftNodes: Seq[String] = Seq("GlobalFirstValueExec", "GlobalOffsetExec", "GlobalRankExec",
    "GlobalRowNumberExec", "GlobalRunningSumExec", "GlobalSlidingExec")

  def toJson(spans: Seq[Span]): String = spans.map { s =>
    f"""{"id":"${s.id}","parent":"${s.parent}","layer":"${s.layer}","name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
