package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{IncrementalAdc, IncrementalArtifact, IncrementalIvf, IncrementalPq}

/** The incremental-artifact protocol ([[IncrementalArtifact]]) is one
  * skeleton: a rebuild forced by drift or by an IVF recluster reports
  * the cursor from before the refresh, a rebuild that loses the lock
  * leaves the marker alone, and the tooling guard keeps the lock,
  * marker write, change-feed read, manifest head and drift read out of
  * the four maintainers. */
class IncrementalArtifactSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private lazy val tmp = Files.createTempDirectory("inc-artifact-spec").toString
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("inc-artifact-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  // 500 vectors per copy, ids shifted so copies never collide
  private def copyAt(i: Int) = spark.read.parquet(s"$sf/embeddings.parquet")
    .withColumn("vec_id", col("vec_id") + lit(i * 1000L))

  private def write(copies: Range, dir: String, mode: String): Unit =
    copies.map(copyAt).reduce(_ union _).repartition(2)
      .write.format("fls").mode(mode)
      .option("commit_mode", "manifest").save(dir)

  private def withProp[A](k: String, v: String)(body: => A): A = {
    sys.props(k) = v
    try body finally sys.props.remove(k)
  }

  test("a drift or recluster rebuild reports the cursor from before the " +
      "refresh as fromVersion (IVF drift, PQ drift, ADC after an IVF " +
      "recluster)") {
    val corpus = s"$tmp/corpus_from"
    write(0 until 1, corpus, "overwrite")
    val (ivf, pq, adcIvf, adc) =
      (s"$tmp/ivf_from", s"$tmp/pq_from", s"$tmp/adc_ivf_from", s"$tmp/adc_from")
    IncrementalIvf.refresh(spark, corpus, ivf)
    IncrementalPq.refresh(spark, corpus, pq)
    IncrementalAdc.refresh(spark, corpus, adcIvf, adc)
    write(1 until 4, corpus, "append") // 500 → 2000 vectors
    for (dir <- Seq(ivf, pq, adc))
      assert(IncrementalArtifact.cursorOf(spark, dir) == 1L, dir)
    val i = withProp("graft.ivf.drift", "1.5")(
      IncrementalIvf.refresh(spark, corpus, ivf))
    assert(i.rebuilt && i.fromVersion == 1L && i.toVersion == 2L, i)
    val p = withProp("graft.pq.drift", "1.5")(
      IncrementalPq.refresh(spark, corpus, pq))
    assert(p.rebuilt && p.fromVersion == 1L && p.toVersion == 2L, p)
    // the IVF index under the residual codes reclusters inside this
    // refresh; the residual codes retrain because their anchors moved
    val a = withProp("graft.ivf.drift", "1.5")(
      IncrementalAdc.refresh(spark, corpus, adcIvf, adc))
    assert(a.rebuilt && a.vecsEncoded == 2000L, a)
    assert(a.fromVersion == 1L && a.toVersion == 2L,
      s"the recluster retrain must report the pre-refresh cursor: $a")
  }

  test("a rebuild that finds a fresh refresh lock throws and leaves the " +
      "marker in place (IVF, PQ, ADC)") {
    val corpus = s"$tmp/corpus_lock"
    write(0 until 1, corpus, "overwrite")
    val (ivf, pq, adcIvf, adc) =
      (s"$tmp/ivf_lock", s"$tmp/pq_lock", s"$tmp/adc_ivf_lock", s"$tmp/adc_lock")
    IncrementalIvf.refresh(spark, corpus, ivf)
    IncrementalPq.refresh(spark, corpus, pq)
    IncrementalAdc.refresh(spark, corpus, adcIvf, adc)
    val cases = Seq[(String, String, () => Any)](
      (ivf, "_ivf_inc_done", () => IncrementalIvf.rebuild(spark, corpus, ivf)),
      (pq, "_pq_inc_done", () => IncrementalPq.rebuild(spark, corpus, pq)),
      (adc, "_adc_inc_done",
        () => IncrementalAdc.rebuild(spark, corpus, adcIvf, adc)))
    val touched = cases.filter { case (dir, name, rebuild) =>
      val marker = new java.io.File(dir, name)
      val before = Files.readString(marker.toPath)
      val lock = new java.io.File(dir, "_refresh_lock")
      assert(lock.createNewFile(), s"spec setup: $lock must not pre-exist")
      try {
        val e = intercept[java.util.ConcurrentModificationException](rebuild())
        assert(e.getMessage.contains("another refresh"), e.getMessage)
      } finally lock.delete()
      !marker.exists() || Files.readString(marker.toPath) != before
    }.map(_._2)
    assert(touched.isEmpty,
      s"a rebuild that lost the lock must leave its marker unchanged: $touched")
  }

  private def querySources: Seq[Path] = {
    val root = Paths.get("src/main/scala/graft/queries")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val files = Files.walk(root)
    try files.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".scala")).toList
    finally files.close()
  }

  test("the protocol lives in IncrementalArtifact alone: no maintainer " +
      "locks, writes markers, reads the change feed or the manifest, or " +
      "reads a drift property itself") {
    val maintainers = Seq("IncrementalIvf", "IncrementalPq",
      "IncrementalAdc", "IncrementalDedup")
    val forbidden = Seq("withRefreshLock(", "changes_from_version",
      "readVersioned", "writeMarkerAtomic", "sys.props")
    val sources = querySources
    for (m <- maintainers) {
      val p = sources.find(_.getFileName.toString == s"$m.scala")
      assert(p.isDefined, s"$m.scala not found")
      val text = Files.readString(p.get)
      val hits = forbidden.filter(text.contains)
      assert(hits.isEmpty, s"$m.scala re-implements protocol steps: $hits")
    }
    // each protocol helper is defined exactly once, in IncrementalArtifact
    for (helper <- Seq("withRefreshLock", "writeMarkerAtomic", "cursorOf",
        "headOf", "readMarker")) {
      val defs = sources.filter(p => Files.readString(p)
        .contains(s"def $helper")).map(_.getFileName.toString)
      assert(defs == Seq("IncrementalArtifact.scala"), s"$helper: $defs")
    }
  }
}
