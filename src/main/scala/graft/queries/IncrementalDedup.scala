package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import IncrementalArtifact.{Artifact, Model}

/** Incremental MinHash signature maintenance — the r14 verdict's gap
  * #4: q22's signatures recomputed over the WHOLE corpus on every run.
  * [[refresh]] keeps a per-document signature table under the
  * [[IncrementalArtifact]] protocol, signing only the documents appended
  * since the cursor with q22's exact expressions ([[Dedup.minHashAggs]]
  * — bit-identical to a from-scratch pass). Signatures have no frozen
  * model: no marker, no drift. At 100 TB daily dedup ingest becomes
  * O(new data) — the day's signatures, then q22's bucket join over the
  * accumulated narrow rows (17 columns, ~140 B/doc), with exact jaccard
  * verification still reading only candidate groups. */
object IncrementalDedup {

  final case class RefreshStats(fromVersion: Long, toVersion: Long,
      docsSigned: Long)

  /** Signatures of one documents frame: (doc_id, ghash, nsh,
    * m0..m15) — per DOC (not per distinct set): each doc
    * signs independently, which is what makes maintenance
    * embarrassingly incremental. Empty shingle sets sign as no row
    * (they can never appear in a candidate bucket — q22 semantics). */
  private def signatures(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), Dedup.shingleSet(col("text")).as("gr"))
      .withColumn("nsh", size(col("gr")))
      .withColumn("ghash",
        expr("md5(CAST(array_join(array_sort(gr), '') AS BINARY))"))
    val hashed = sh.select(col("doc_id"), col("ghash"), col("nsh"),
      explode(col("gr")).as("s"))
    val aggs = Dedup.minHashAggs
    hashed.groupBy("doc_id", "ghash", "nsh").agg(aggs.head, aggs.tail: _*)
  }

  private final class Signatures(spark: SparkSession, docsDir: String,
      sigDir: String) extends Artifact(spark, docsDir, sigDir) {
    def model: Option[Model] = None
    def build(corpus: DataFrame, n: Long,
        overwrite: DataFrame => Unit): Map[String, String] = {
      overwrite(signatures(corpus))
      Map.empty
    }
    def encodeDelta(added: DataFrame, state: Map[String, String]): DataFrame =
      signatures(added)
  }

  /** Bring the signature table at `sigDir` up to `docsDir`'s head
    * ([[IncrementalArtifact.refresh]]). */
  def refresh(spark: SparkSession, docsDir: String,
      sigDir: String): RefreshStats = IncrementalArtifact.refresh(
    new Signatures(spark, docsDir, sigDir)).as(
    (from, to, n, _) => RefreshStats(from, to, n))

  /** Recompute the whole signature table from the current snapshot
    * (also the recovery for a lost table). */
  def rebuild(spark: SparkSession, docsDir: String,
      sigDir: String): RefreshStats = IncrementalArtifact.rebuild(
    new Signatures(spark, docsDir, sigDir)).as(
    (from, to, n, _) => RefreshStats(from, to, n))

  /** Distinct-set signature frame, persisted per (cacheKey, sig-table
    * version) (r20): the bucket self-join reads it on BOTH sides, and
    * without the cache each side re-reads the fls table and re-runs
    * the distinct — the exact double-pay q22 eliminated with its
    * sigCache. 17 narrow columns per distinct set, cacheable at any
    * corpus size. The cache key carries the table's cursor (a zero-job
    * manifest-stats read), so a refresh() that advances the signature
    * table can NEVER be served stale cached signatures — the new
    * version simply builds a new entry. */
  private val sigServeCache = new graft.util.SessionCache

  /** Releases the serving cache — wired into [[Dedup.unpersistAll]] so
    * the sweep's between-pass release covers this frame too. */
  def unpersistAll(): Unit = sigServeCache.clearAll()

  /** q22's full near-dup result served FROM the maintained signature
    * table: bucket candidates from persisted signatures (dedup'd to
    * distinct sets — identical docs share a ghash and carry identical
    * signatures by construction), exact-jaccard verification and
    * member expansion against the documents table. The signature
    * sweep — the corpus-sized cost center — reads narrow persisted
    * rows instead of re-shingling the world. */
  def nearDupsFromSignatures(spark: SparkSession, docsDir: String,
      sigDir: String, cacheKey: String): DataFrame = {
    // keep-latest-only (ADVICE r20): each refresh advances the version
    // in the cache key, so without eviction a long-lived serving
    // session accumulates one persisted frame per superseded version —
    // evict every other version of this prefix before (re)building
    val sigKey =
      s"$cacheKey#sig@${IncrementalArtifact.cursorOf(spark, sigDir)}"
    sigServeCache.evictPrefixExcept(spark, s"$cacheKey#sig@", sigKey)
    val sig = sigServeCache.getOrBuild(spark, sigKey)(
      spark.read.format("fls").load(sigDir)
        .dropDuplicates("ghash")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the doc-side shingle/group caches are version-keyed the same way
    // (manifest head of the DOCS table, zero-job): a serve after an
    // append builds fresh frames instead of replaying the old corpus —
    // same-version serves (bench passes, repeated queries) still hit.
    // Fails LOUDLY on a manifest-less docs table (ADVICE r20): the
    // version key would otherwise freeze at a constant and a rewritten
    // table would be served stale cached shingle/group frames — the
    // same contract refresh() already enforces.
    val docsVer = IncrementalArtifact.headOf(spark, docsDir,
      "signature serving needs a commit_mode=manifest documents table " +
        "(the cache version key has nothing to track otherwise)")
    val docCacheKey = s"$cacheKey@$docsVer"
    Dedup.evictDocCachesExcept(spark, s"$cacheKey@", docCacheKey)
    val buckets = sig.select(col("ghash"),
      posexplode(array((0 until 16).map(k => col(s"m$k")): _*)).as(Seq("slot", "mh")))
    val cand = buckets.select(col("ghash").as("gh_a"), col("slot"), col("mh"))
      .join(buckets.select(col("ghash").as("gh_b"), col("slot"), col("mh")),
        Seq("slot", "mh"))
      .filter(col("gh_a") < col("gh_b"))
      .groupBy("gh_a", "gh_b")
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") >= 2)
      .select("gh_a", "gh_b")
    val docs = spark.read.format("fls").load(docsDir)
      .select(col("doc_id"), col("text"))
    val sh = Dedup.shingledFrom(spark, docCacheKey, docs)
    Dedup.verifyAndExpandFrom(cand, sh, Dedup.groupsFrom(spark, docCacheKey, sh))
  }
}
