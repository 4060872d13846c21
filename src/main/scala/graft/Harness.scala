package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared core of the driver-facing mains (`Verify`, `Bench`), extracted
  * so the failure contract is spec-testable (HarnessSpec): a query that
  * throws must surface as a LOUD per-query error — recorded in the
  * artifact itself and reflected in the process exit code — never as a
  * silently-missing row or a fail-fast "time". Round 9 shipped five
  * broken queries as ~0.06 s bench entries because the old mains
  * swallowed exceptions; this contract makes that class of miss
  * impossible to hide. */
object Harness {

  /** One [[benchAll]] result: min time per query, errors, the per-query
    * spread of the timed passes ((max-min)/min — the measurement-noise
    * channel of the artifact), and the core count and master the
    * session actually ran with. The runtime pair is read from the LIVE
    * SparkContext, not from `$SPARK_GRAFT_CPUS` (r21: a scaling check
    * must see what the bench really ran with), and before Bench stops
    * the session to print. */
  final case class BenchRun(times: Map[String, Double],
      errors: Map[String, String], spreads: Map[String, Double],
      cpus: Int, master: String)

  /** Runs every query and dumps its result as parquet under
    * `outDir/<name>`. Returns name -> error message for every query
    * that threw (empty map = all green). */
  def dumpAll(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String, outDir: String): Map[String, String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] FAILED $name: ${e.toString.take(400)}")
        Some(name -> e.toString.take(2000))
      }
    }
  }

  /** Warm pass doubling as a pre-flight gate: every query must RUN on
    * the current runtime before it is benched (analysis alone is not
    * enough — the streaming queries execute inside their builder, and
    * runtime behavior shifts like the 4.0→4.1 TIMESTAMP(NANOS) change
    * only surface on execution). Queries that fail the warm pass are
    * excluded from the timed passes and returned as errors; a timed-pass
    * throw likewise records an error and drops the query's time.
    * Survivors get three timed passes, min per query (GC/compilation noise
    * on a busy 32-thread JVM is one-sided, so min is the honest
    * steady-state). */
  def benchAll(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame],
      sfDir: String): BenchRun = {
    val errors = scala.collection.mutable.Map[String, String]()
    val ok = queries.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).count(); Some(name -> fn) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] PRE-FLIGHT FAILED $name: ${e.toString.take(400)}")
        errors(name) = e.toString.take(2000)
        None
      }
    }
    def timedPass(): Map[String, Double] =
      ok.flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some(name -> (System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] FAILED $name: ${e.toString.take(400)}")
          errors(name) = e.toString.take(2000)
          None
        }
      }
    // three timed passes, min per query (r19 — VERDICT #7): the
    // pre-flight already pins cache state (every timed pass is WARM),
    // so run-to-run drift is box load; min-of-3 absorbs one loaded
    // pass per query, and the per-query SPREAD (max-min)/min lands in
    // the artifact so a "regression" that is really measurement noise
    // is visible as such without a re-run.
    val passes = Seq(timedPass(), timedPass(), timedPass())
    val times = passes.head.keys.flatMap { k =>
      val vs = passes.flatMap(_.get(k))
      if (vs.size == passes.size) Some(k -> vs.min) else None
    }.toMap
    val spreads = passes.head.keys.flatMap { k =>
      val vs = passes.flatMap(_.get(k))
      if (vs.size == passes.size && vs.min > 0)
        Some(k -> (vs.max - vs.min) / vs.min)
      else None
    }.toMap
    BenchRun(times, errors.toMap -- times.keys, spreads,
      spark.sparkContext.defaultParallelism, spark.sparkContext.master)
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL or an exception
    * message would otherwise make the driver's json.load fail and
    * silently zero the round. */
  def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jObj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${jq(k)}: ${jq(v)}" }
      .mkString("{", ",", "}")

  /** `"cpus":…,"master":…` — emitted into both JSON shapes. */
  private def runtimeFields(run: BenchRun): String =
    s""""cpus":${run.cpus},"master":${jq(run.master)}"""

  /** The one JSON line Bench prints. Failed queries appear ONLY under
    * "errors" — never as a time — so the artifact itself shows the
    * breakage (ADVICE r9: annotate in the artifact, not just VERDICT). */
  def benchJson(run: BenchRun, sfDir: String): String = {
    val qs = run.times.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jq(k)}:$v" }.mkString("{", ",", "}")
    val total = if (run.times.nonEmpty) run.times.values.sum else 0.0
    val errPart =
      if (run.errors.isEmpty) "" else s""","errors":${jObj(run.errors)}"""
    val spreads = run.spreads.toSeq.sortBy(_._1)
      .map { case (k, v) => f"${jq(k)}:$v%.4f" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"""" +
      s""","queries_spread":$spreads,${runtimeFields(run)}""" +
      s""","spark_version":"${org.apache.spark.SPARK_VERSION}"$errPart}"""
  }

  /** STDOUT variant of [[benchJson]] sized for the driver's bounded
    * tail capture (~2000 chars): the full 110-query map at double
    * precision is ~4.5 KB, so every round's BENCH artifact since the
    * suite passed ~60 queries parsed as null. Keeps total + the `keep`
    * slowest queries at 3 decimals and points at the full-precision
    * file. */
  def benchJsonCompact(run: BenchRun, sfDir: String, fullPath: String,
      keep: Int = 30): String = {
    val top = run.times.toSeq.sortBy(-_._2).take(keep).sortBy(_._1)
      .map { case (k, v) => f"${jq(k)}:$v%.3f" }.mkString("{", ",", "}")
    val total = if (run.times.nonEmpty) run.times.values.sum else 0.0
    val errPart =
      if (run.errors.isEmpty) ""
      else s""","errors":${jObj(run.errors.map { case (k, v) => k -> v.take(60) })}"""
    // median relative spread — one number for "how noisy was this box"
    val medSpread = {
      val vs = run.spreads.values.toSeq.sorted
      if (vs.isEmpty) 0.0 else vs(vs.size / 2)
    }
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${run.times.size},"queries":$top,""" +
      f""""median_spread":$medSpread%.4f,""" +
      s"""${runtimeFields(run)},""" +
      s""""queries_full":"$fullPath"""" +
      s""","spark_version":"${org.apache.spark.SPARK_VERSION}"$errPart}"""
  }

  /** Writes `errors.json` (name -> message) into outDir so a broken
    * query leaves a visible failure artifact next to the result dumps. */
  def writeErrors(outDir: String, errors: Map[String, String]): Unit =
    Files.writeString(Paths.get(s"$outDir/errors.json"), jObj(errors))
}
