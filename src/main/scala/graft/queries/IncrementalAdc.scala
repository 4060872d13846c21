package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental RESIDUAL-IVFADC maintenance (r17) — the q126 recall
  * rung (encode vector − cell centroid, recall@5 1.000 vs plain PQ's
  * 0.950) under the [[IncrementalArtifact]] protocol. The residual
  * codes freeze TWO inputs: the IVF centroids (each vector's cell and
  * subtraction anchor) and the residual-trained codebooks. [[refresh]]
  * first brings the cell assignments current through
  * [[IncrementalIvf.refresh]], then encodes only the appended vectors'
  * residuals. An IVF RECLUSTER moves every anchor, so a changed IVF
  * marker retrains the codes whole; `graft.pq.drift` retrains the
  * codebooks as in [[IncrementalPq]]. */
object IncrementalAdc {

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      vecsEncoded: Long, rebuilt: Boolean)

  /** Residual frame for `u` (vec_id, uv-normalized): join each vector
    * to its assigned cell (ar=1 rows of the IVF index) and subtract
    * the cell's normalized centroid ([[Similarity.adcResiduals]]). The
    * anchors come from the IVF index's persisted centroids through the
    * shared [[Similarity.adcAnchors]] convention, so the gate and this
    * maintainer can never diverge. */
  private def residualsOf(spark: SparkSession, u: DataFrame,
      ivfDir: String): DataFrame = {
    val cells = spark.read.format("fls").load(ivfDir)
      .filter(col("ar") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    Similarity.adcResiduals(u, cells, Similarity.adcAnchors(
      spark.read.format("fls").load(s"$ivfDir/_centroids")))
  }

  private final class Residuals(spark: SparkSession, corpusDir: String,
      ivfDir: String, adcDir: String, nprobe: Int, maxCentroids: Long)
      extends IncrementalPq.Codes(spark, corpusDir, adcDir, "_adc_inc_done") {
    // head = the version the IVF refresh just covered, NOT a fresh
    // read: a corpus append landing between the two would leave
    // vectors with no assignment — residualsOf's inner join would
    // silently drop them while the cursor advanced past them, losing
    // them from the artifact forever. The protocol pins every corpus
    // read to this version.
    override def head(): Long = IncrementalIvf.refresh(spark, corpusDir,
      ivfDir, nprobe, maxCentroids).toVersion
    /** The IVF index's marker state, stored in this artifact's marker
      * under `ivf.`-prefixed keys. */
    private def ivfStamp: Map[String, String] = {
      val s = IncrementalArtifact.readState(
        new java.io.File(ivfDir, IncrementalIvf.Frozen.marker))
      require(s.isDefined, s"graft adc: no IVF index marker at $ivfDir")
      s.get.map { case (k, v) => s"ivf.$k" -> v }
    }
    // the IVF index reclustered: every subtraction anchor moved —
    // stored codes are stale as a SET, retrain
    override def stale(state: Map[String, String]): Boolean =
      state.filter(_._1.startsWith("ivf.")) != ivfStamp
    override def vectors(corpus: DataFrame): DataFrame = residualsOf(spark,
      IncrementalPq.normalized(corpus).select(col("vec_id"), col("uv")),
      ivfDir)
    override def build(corpus: DataFrame, n: Long,
        overwrite: DataFrame => Unit): Map[String, String] =
      super.build(corpus, n, overwrite) ++ ivfStamp
  }

  /** Bring the IVF index at `ivfDir` (which owns its own geometry and
    * drift policy), then the residual codes at `adcDir`, up to the
    * corpus head ([[IncrementalArtifact.refresh]]). */
  def refresh(spark: SparkSession, corpusDir: String, ivfDir: String,
      adcDir: String, nprobe: Int = 2,
      maxCentroids: Long = -1L): RefreshStats = IncrementalArtifact.refresh(
    new Residuals(spark, corpusDir, ivfDir, adcDir, nprobe, maxCentroids)).as(
    RefreshStats)

  /** Frozen-anchor + frozen-codebook encode of a normalized (vec_id,
    * uv) frame into packed residual codes (the centroid add-back lives
    * in the scoring kernel, not the artifact) — what [[refresh]] does to
    * appended vectors; specs re-encode the whole corpus through it to
    * assert the patch is bit-identical. */
  def encodeAgainst(spark: SparkSession, u: DataFrame, ivfDir: String,
      cb: DataFrame): DataFrame =
    Similarity.pqCodesAgainst(spark, residualsOf(spark, u, ivfDir), cb)

  /** Refresh the IVF index, then retrain and re-encode the residual
    * codes from the current snapshot. */
  def rebuild(spark: SparkSession, corpusDir: String, ivfDir: String,
      adcDir: String): RefreshStats = IncrementalArtifact.rebuild(
    new Residuals(spark, corpusDir, ivfDir, adcDir, 2, -1L)).as(RefreshStats)
}
