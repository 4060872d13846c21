package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Locks the harness failure contract (see Harness scaladoc): a query
  * that throws must surface as a loud, artifact-visible error — never a
  * silently-missing result or a fail-fast "time". Round 9 shipped five
  * runtime-broken queries as ~0.06 s bench entries; these specs make
  * that failure mode a test failure forever. */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("harness-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val good: (SparkSession, String) => DataFrame =
    (s, d) => s.read.parquet(s"$d/nation.parquet").groupBy("n_regionkey").count()
  // Deliberately broken: analysis error on every runtime (bad column).
  private val broken: (SparkSession, String) => DataFrame =
    (s, d) => s.read.parquet(s"$d/nation.parquet").select(col("no_such_column"))
  private val qs = Map("good_q" -> good, "broken_q" -> broken)

  test("dumpAll records the broken query as an error, still dumps the good one") {
    val out = Files.createTempDirectory("harness_dump").toString
    val errors = Harness.dumpAll(spark, qs, dir, out)
    assert(errors.keySet == Set("broken_q"), errors)
    assert(errors("broken_q").toLowerCase.contains("no_such_column"))
    assert(spark.read.parquet(s"$out/good_q").count() == 5)
    assert(!Files.exists(Paths.get(s"$out/broken_q")))
    Harness.writeErrors(out, errors)
    val json = Files.readString(Paths.get(s"$out/errors.json"))
    assert(json.contains("broken_q"), json)
  }

  test("benchAll excludes the broken query from times and reports it as an error") {
    val Harness.BenchRun(times, errors, _, _, _) = Harness.benchAll(spark, qs, dir)
    assert(times.keySet == Set("good_q"), times)
    assert(times("good_q") > 0.0)
    assert(errors.keySet == Set("broken_q"), errors)
  }

  test("benchJson carries errors in the artifact itself, never as a time") {
    def run(times: Map[String, Double], errors: Map[String, String]) =
      Harness.BenchRun(times, errors, Map.empty, 4, "local[4]")
    val json = Harness.benchJson(run(Map("good_q" -> 0.5), Map("broken_q" -> "boom")), dir)
    assert(json.contains(""""errors":{"broken_q": "boom"}"""), json)
    assert(json.contains(""""good_q":0.5"""), json)
    assert(!json.contains(""""broken_q":0"""), json)
    assert(json.contains(s""""spark_version":"${org.apache.spark.SPARK_VERSION}""""), json)
    // exception messages with control chars must not break the driver's json.load
    val hairy = Harness.benchJson(run(Map(), Map("q" -> "line1\nline2\t\"quoted\"")), dir)
    assert(hairy.contains("""line1\nline2\t\"quoted\""""), hairy)
  }

  test("a fully-green run yields an empty errors map and no errors key") {
    val run = Harness.benchAll(spark, Map("good_q" -> good), dir)
    assert(run.errors.isEmpty)
    val json = Harness.benchJson(run, dir)
    assert(!json.contains("errors"), json)
  }

  test("both JSON shapes carry the session's real core count and master (r21)") {
    // benchAll captures from the LIVE context; the emit runs after stop
    val run = Harness.benchAll(spark, Map("good_q" -> good), dir)
    val expected = s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""master":"local[4]""""
    assert(Harness.benchJson(run, dir).contains(expected))
    assert(Harness.benchJsonCompact(run, dir, "/tmp/x.json")
      .contains(expected))
  }
}
