package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftplans.{GlobalRowNumberStrategy, RewriteGlobalWindows}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every main runs in the session [[GraftSession]] builds: extensions
  * installed, UTC, one shuffle partition per core. The tooling guard
  * keeps it the only builder in `src/main` and the set of mains fixed,
  * so one-off probe mains and drifting session configs do not return. */
class GraftSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = spark = GraftSession()

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("the session resolves the graft SQL functions (extensions installed)") {
    val dot = spark.sql(
      "SELECT graft_array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .collect().head.getDouble(0)
    assert(dot == 11.0)
  }

  test("UTC session time and one shuffle partition per core") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
    assert(spark.sparkContext.master.startsWith("local["))
  }

  test("a second call returns the same session without re-injecting rules") {
    assert(GraftSession() eq spark)
    val state = spark.sessionState
    assert(state.planner.extraPlanningStrategies
      .count(_ == GlobalRowNumberStrategy) == 1)
    assert(state.optimizer.extendedOperatorOptimizationRules
      .count(_ == RewriteGlobalWindows) == 1)
  }

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".scala") || n.endsWith(".java")
    }.toList
    finally files.close()
  }

  private def stem(p: Path): String =
    p.getFileName.toString.replaceAll("\\.(scala|java)$", "")

  test("GraftSession is the only session builder in src/main") {
    val builders = mainSources
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(stem)
    assert(builders == Seq("GraftSession"), builders)
  }

  test("the mains are exactly Bench, Verify, Smoke, Explain and ScaleSweep") {
    val mains = mainSources
      .filter(p => Files.readString(p).contains("def main("))
      .map(stem).toSet
    assert(mains == Set("Bench", "Verify", "Smoke", "Explain", "ScaleSweep"),
      mains)
  }
}
