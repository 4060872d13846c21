package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftexprs.GraftFunctions
import IncrementalArtifact.{Artifact, Model}

/** Incremental IVF index maintenance — the r15 verdict's gap #4: the
  * persisted index ([[Similarity.ivfAnn]]'s artifact) rebuilt on ANY
  * corpus change, so at 100 TB an hourly append re-ran the multi-hour
  * warmup. Under the [[IncrementalArtifact]] protocol each [[refresh]]
  * ranks only the appended vectors against the frozen centroids — flat
  * broadcast ranking or two-level map-side routing, whichever geometry
  * the index was built with. Seeds are the n smallest ids by RANK (r17,
  * any id space), so a from-scratch rebuild coincides with the patch
  * for append-increasing ids. The geometry itself drifts: ⌈√n⌉ grows
  * with the corpus, so past `graft.ivf.drift` (2× by default — √n ~41%
  * past ideal) refresh RECLUSTERS at the new geometry. */
object IncrementalIvf {

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      vecsAssigned: Long, rebuilt: Boolean)

  private[queries] val Frozen = Model("_ivf_inc_done", "ivf", "graft.ivf.drift")

  private[queries] def vecsOf(df: DataFrame): DataFrame = df
    .select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    .withColumn("nr", sqrt(GraftFunctions.arrayDot(col("v"), col("v"))))

  private final case class Meta(mode: String, cent: Long, upTo: Int,
      l1: Long, l1p: Int) {
    def state: Map[String, String] = Map("mode" -> mode,
      "cent" -> cent.toString, "upTo" -> upTo.toString,
      "l1" -> l1.toString, "l1p" -> l1p.toString)
  }

  private object Meta {
    def of(s: Map[String, String]): Meta = Meta(s("mode"), s("cent").toLong,
      s("upTo").toInt, s("l1").toLong, s("l1p").toInt)
  }

  /** `e`'s vectors ranked against the centroids `cents` in the geometry
    * `meta` describes. */
  private def ranked(e: DataFrame, cents: DataFrame, meta: Meta): DataFrame =
    if (meta.mode == "2l") {
      val l1Bc = Similarity.broadcastGroups(
        cents.filter(col("cent_id") < meta.l1)
          .select(col("cent_id"), col("v_q"), col("nr_q")))
      Similarity.rankedTwoLevelAgainst(e, cents, l1Bc, meta.upTo, meta.l1p)
    } else Similarity.rankedAgainst(e, cents, meta.upTo)

  private final class Index(spark: SparkSession, corpusDir: String,
      idxDir: String, nprobe: Int, maxCentroids: Long)
      extends Artifact(spark, corpusDir, idxDir) {
    def model = Some(Frozen)
    // each vector has exactly one top-ranked (ar = 1) cell row
    override def counted = col("ar") === 1
    def build(corpus: DataFrame, n: Long,
        overwrite: DataFrame => Unit): Map[String, String] = {
      val cap = if (maxCentroids > 0) maxCentroids else Similarity.MaxCentroids
      val e = vecsOf(corpus)
      val ideal = math.ceil(math.sqrt(n.toDouble)).toLong
      val upTo = math.max(nprobe, 1)
      // seeds by RANK (r17 — the dense-from-0 id contract is lifted):
      // the n-smallest ids become centroids with cent_id = their dense
      // rank, identical to the raw-id selection on a dense corpus
      val (meta, cents) =
        if (ideal > cap) {
          val nCent = math.min(ideal, cap * cap)
          val l1 = math.max(2L, math.ceil(math.sqrt(nCent.toDouble)).toLong)
          (Meta("2l", nCent, upTo, l1, Similarity.L1Probe),
            Similarity.seedsByRank(e, nCent, broadcastJoin = false))
        } else {
          (Meta("flat", ideal, upTo, 0L, 0),
            Similarity.seedsByRank(e, ideal, broadcastJoin = true))
        }
      Similarity.indexBuilds += 1
      overwrite(ranked(e, cents, meta))
      cents.write.format("fls").mode("overwrite")
        .option("commit_mode", "manifest").save(s"$idxDir/_centroids")
      cents.unpersist() // flat seeds persist inside seedsByRank; release
      meta.state
    }
    def encodeDelta(added: DataFrame, state: Map[String, String]): DataFrame =
      ranked(vecsOf(added),
        spark.read.format("fls").load(s"$idxDir/_centroids"), Meta.of(state))
  }

  /** Bring the index at `idxDir` up to the corpus head
    * ([[IncrementalArtifact.refresh]]). */
  def refresh(spark: SparkSession, corpusDir: String, idxDir: String,
      nprobe: Int = 2, maxCentroids: Long = -1L): RefreshStats =
    IncrementalArtifact.refresh(
      new Index(spark, corpusDir, idxDir, nprobe, maxCentroids)).as(RefreshStats)

  /** Recompute the whole index from the current snapshot. */
  def rebuild(spark: SparkSession, corpusDir: String, idxDir: String,
      nprobe: Int = 2, maxCentroids: Long = -1L): RefreshStats =
    IncrementalArtifact.rebuild(
      new Index(spark, corpusDir, idxDir, nprobe, maxCentroids)).as(RefreshStats)

  /** ANN (q26 shape: 8 query vectors, top-5 neighbors) served FROM the
    * maintained index — persisted narrow triples + the corpus vectors,
    * no quantizer work. */
  def ann(spark: SparkSession, corpusDir: String, idxDir: String,
      nprobe: Int = 2): DataFrame = {
    val e = vecsOf(spark.read.format("fls").load(corpusDir))
    val r = spark.read.format("fls").load(idxDir)
    Similarity.finishAnn(spark, e, r, nprobe)
  }
}
