package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IncrementalArtifact.{Artifact, Model}

/** Incremental PQ index maintenance — the [[IncrementalArtifact]]
  * protocol applied to the product-quantization artifact (q124): the
  * codebooks train ONCE (seeds + one exact-decimal Lloyd pass, frozen
  * thereafter — the FAISS operational shape: train on a corpus sample,
  * encode forever), and each [[refresh]] ENCODES ONLY the appended
  * vectors against the frozen codebooks. The codebook's Lloyd means
  * summarize the BUILD-TIME distribution, so past `graft.pq.drift`
  * (default 2× corpus growth) refresh RETRAINS. The `fmt=codes` fence
  * (r18) keeps a pre-codes artifact, which stored rv reconstructions,
  * from taking a codes patch: it rebuilds whole instead. */
object IncrementalPq {

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      vecsEncoded: Long, rebuilt: Boolean)

  private[graft] def normalized(df: DataFrame): DataFrame = IncrementalIvf
    .vecsOf(df).withColumn("uv", expr("transform(v, x -> x / nr)"))

  /** Codes of the corpus's `vectors` against a codebook trained at
    * build; [[IncrementalAdc]] is this artifact over residual vectors. */
  private[queries] class Codes(spark: SparkSession, corpusDir: String,
      idxDir: String, marker: String)
      extends Artifact(spark, corpusDir, idxDir) {
    def model = Some(Model(marker, "codes", "graft.pq.drift"))
    def vectors(corpus: DataFrame): DataFrame = normalized(corpus)
    def build(corpus: DataFrame, n: Long,
        overwrite: DataFrame => Unit): Map[String, String] = {
      val u = vectors(corpus)
      val cb = Similarity.pqCodebook(spark, u)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        overwrite(Similarity.pqCodesAgainst(spark, u, cb))
        cb.write.format("fls").mode("overwrite")
          .option("commit_mode", "manifest").save(s"$idxDir/_codebook")
      } finally cb.unpersist()
      Map.empty
    }
    def encodeDelta(added: DataFrame, state: Map[String, String]): DataFrame =
      Similarity.pqCodesAgainst(spark, vectors(added),
        spark.read.format("fls").load(s"$idxDir/_codebook"))
  }

  /** Bring the PQ codes table at `idxDir` up to the corpus head
    * ([[IncrementalArtifact.refresh]]). */
  def refresh(spark: SparkSession, corpusDir: String,
      idxDir: String): RefreshStats = IncrementalArtifact.refresh(
    new Codes(spark, corpusDir, idxDir, "_pq_inc_done")).as(RefreshStats)

  /** Verification hook: frozen-codebook encode of an arbitrary
    * normalized (vec_id, uv) frame — what [[refresh]] does to appended
    * vectors; specs re-encode the whole corpus through it to assert
    * the patch is bit-identical. */
  def encodeAgainst(spark: SparkSession, u: DataFrame,
      cb: DataFrame): DataFrame = Similarity.pqCodesAgainst(spark, u, cb)

  /** Retrain and re-encode from the current snapshot. */
  def rebuild(spark: SparkSession, corpusDir: String,
      idxDir: String): RefreshStats = IncrementalArtifact.rebuild(
    new Codes(spark, corpusDir, idxDir, "_pq_inc_done")).as(RefreshStats)
}
