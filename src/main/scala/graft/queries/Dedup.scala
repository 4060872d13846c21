package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftexprs.GraftFunctions
import graft.util.Tables._

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline surface (north-star extras beyond reference
  * parity, SURVEY.md §7.1 step 5). Every operator is exact-verifiable:
  * approximate stages (LSH banding, simhash bands) only GENERATE
  * candidates; the emitted result is always re-verified with the exact
  * measure, so the DuckDB oracle is plain brute force.
  *
  * Scale design: the near-dup joins never run an unblocked O(n²)
  * self-join — identical shingle sets collapse to one representative,
  * then a sound blocking key (AllPairs prefix token / LSH bucket /
  * simhash band) shuffles candidate ids to the same partition, which is
  * what holds at 100 TB where brute force cannot. q24's embedding pass
  * is the deliberate brute-force baseline; q26 is its ANN scale path.
  */
object Dedup {

  /** Word 3-gram shingle set of `text`, tokenized like
    * `split(text, ' ')`; a NULL text has the empty set, like the
    * oracle's [[ShinglesDuck]]. */
  def shingleSet(text: Column): Column =
    coalesce(array_distinct(GraftFunctions.wordShingles(text, 3)),
      typedLit(Array.empty[String]))

  /** Same shingle set, DuckDB dialect (for oracles). */
  val ShinglesDuck: String =
    """list_distinct(list_transform(
         generate_series(1, greatest(len(str_split(text, ' ')) - 2, 0)),
         i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
              || ' ' || str_split(text, ' ')[i+2]))"""

  /** Brute-force truth for near-dup pairs at jaccard >= 0.8 — the shared
    * oracle of q21 (blocked exact) and q22 (MinHash-LSH). */
  val NearDupOracleSql: String =
    s"""WITH sh AS (SELECT doc_id, $ShinglesDuck AS gr FROM documents)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         len(list_intersect(a.gr, b.gr))::DOUBLE
           / len(list_distinct(list_concat(a.gr, b.gr))) AS jaccard
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.gr, b.gr))::DOUBLE
           / len(list_distinct(list_concat(a.gr, b.gr))) >= 0.8
       ORDER BY doc_a, doc_b"""

  /** q20: exact dedup — content-hash groupBy, keep lowest doc_id.
    * The one-shuffle pattern that holds at any scale. */
  def q20ExactDedup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")
      .orderBy("doc_id")

  val q20Sql: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY doc_id"""

  /** Shingle the corpus, spread over all cores first: the parquet input
    * is one small file → one partition. Shingling is one native pass per
    * document ([[GraftFunctions.wordShingles]]); whether the pre-shuffle
    * still pays for itself against it has not been measured. */
  private val shCache = new graft.util.SessionCache

  /** Storage level for the shingled-corpus cache. Default spills to
    * disk; set `-Dgraft.dedup.storage=DISK_ONLY` on a cluster where a
    * memory bet on the shingled corpus is unwanted (it is ~the corpus
    * size again). `unpersistAll()` releases everything — long-lived
    * sessions should call it when the dedup pass is done. */
  private def storageLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      sys.props.getOrElse("graft.dedup.storage", "MEMORY_AND_DISK"))

  private val sigCache = new graft.util.SessionCache

  /** Keep-latest-only eviction over the doc-side shingle/group caches,
    * for version-keyed callers ([[IncrementalDedup]] — ADVICE r20). */
  private[queries] def evictDocCachesExcept(spark: SparkSession,
      prefix: String, keep: String): Unit = {
    shCache.evictPrefixExcept(spark, prefix, keep)
    grCache.evictPrefixExcept(spark, prefix, keep)
  }

  def unpersistAll(): Unit = {
    shCache.clearAll()
    grCache.clearAll()
    simCache.clearAll()
    sigCache.clearAll()
    blkCache.clearAll()
    IncrementalDedup.unpersistAll()
  }

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledFrom(spark, dir, t(spark, dir, "documents"))

  /** Same shingling over an arbitrary documents frame (doc_id, text) --
    * the fls-sourced incremental-signature path ([[IncrementalDedup]])
    * shares one definition with the parquet queries. */
  private[queries] def shingledFrom(spark: SparkSession, cacheKey: String,
      docs: DataFrame): DataFrame =
    shCache.getOrBuild(spark, cacheKey)(
        docs
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"), shingleSet(col("text")).as("gr"))
          .withColumn("nsh", size(col("gr")))
          // canonical set fingerprint: identical shingle SETS collapse
          // into one similarity-join row (crawl corpora are dominated
          // by exact copies — the stress probe showed 16x duplication
          // turning AllPairs quadratic without this)
          .withColumn("ghash",
            // 128-bit md5 over the \u0001-joined sorted set: separator
            // cannot occur in words (unambiguous); 128-bit collisions
            // ~1e-29 — exactness holds in practice
            expr("md5(CAST(array_join(array_sort(gr), '\u0001') AS BINARY))"))
          // consumed by several plan branches — cache instead of
          // re-shingling per branch
          .persist(storageLevel))

  /** One representative row per distinct shingle set. Persisted like
    * the shingled frame: verifyAndExpand alone references it four
    * times (sizes, both verify sides, self-join), and without caching
    * each reference re-runs the full distinct-set aggregation over the
    * whole corpus. Released by [[unpersistAll]]. */
  private val grCache = new graft.util.SessionCache

  private def groupsOf(spark: SparkSession, dir: String): DataFrame =
    groupsFrom(spark, dir, shingled(spark, dir))

  private[queries] def groupsFrom(spark: SparkSession, cacheKey: String,
      sh: DataFrame): DataFrame =
    grCache.getOrBuild(spark, cacheKey)(
        sh
          .groupBy("ghash").agg(first(col("gr")).as("gr"), first(col("nsh")).as("nsh"))
          .persist(storageLevel))

  // Builtin array_intersect/array_union beat a sorted-merge Expression
  // here (measured 1.7s vs 6.3s at sf0.1): UTF8String accessor churn in
  // the merge loop costs more than one hash set per row.
  private val exactJaccard =
    expr("CAST(size(array_intersect(gr_a, gr_b)) AS DOUBLE) / size(array_union(gr_a, gr_b))")

  /** Finish candidate GROUP pairs (gh_a, gh_b): verify exact jaccard on
    * the distinct-set representatives (after the sound size-ratio
    * prefilter: j >= 0.8 forces min/max >= 0.8), then expand to member
    * doc pairs — inter-group matches cross-join member lists; identical
    * sets (jaccard computed once per GROUP, gr vs gr) expand to all
    * within-group pairs. Output == naive per-doc join, at the cost of a
    * similarity join over distinct sets only. */
  private def verifyAndExpand(candGroups: DataFrame, spark: SparkSession,
      dir: String): DataFrame =
    verifyAndExpandFrom(candGroups, shingled(spark, dir), groupsOf(spark, dir))

  /** Same verification + expansion over explicit shingled/groups
    * frames -- shared with the fls-sourced incremental-signature gate
    * ([[IncrementalDedup]]). */
  private[queries] def verifyAndExpandFrom(candGroups: DataFrame,
      sh: DataFrame, groups: DataFrame): DataFrame = {
    // Size-ratio prefilter FIRST, over (ghash, nsh) only: j >= 0.8
    // forces min/max size >= 0.8, and pruning on the narrow sizes means
    // the full shingle arrays are only shuffled for pairs that survive
    // — at crawl scale the arrays are the payload, the sizes are free.
    val sizes = groups.select(col("ghash"), col("nsh"))
    val candSized = candGroups
      .join(sizes.select(col("ghash").as("gh_a"), col("nsh").as("nsh_a")), Seq("gh_a"))
      .join(sizes.select(col("ghash").as("gh_b"), col("nsh").as("nsh_b")), Seq("gh_b"))
      .filter(least(col("nsh_a"), col("nsh_b")).cast("double") /
        greatest(col("nsh_a"), col("nsh_b")) >= 0.8)
      .select("gh_a", "gh_b")
    val ga = groups.select(col("ghash").as("gh_a"), col("gr").as("gr_a"))
    val gb = groups.select(col("ghash").as("gh_b"), col("gr").as("gr_b"))
    val verified = candSized
      .join(ga, Seq("gh_a")).join(gb, Seq("gh_b"))
      .withColumn("jaccard", exactJaccard)
      .filter(col("jaccard") >= 0.8)
      .select("gh_a", "gh_b", "jaccard")
    val docs = sh.select(col("ghash"), col("doc_id"))
    val inter = verified
      .join(docs.select(col("ghash").as("gh_a"), col("doc_id").as("id_a")), Seq("gh_a"))
      .join(docs.select(col("ghash").as("gh_b"), col("doc_id").as("id_b")), Seq("gh_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("jaccard"))
    // within-group pairs: jaccard(gr, gr) evaluated once per group (1.0,
    // or NaN for empty sets — matching what the naive join would emit)
    val selfJ = groups
      .select(col("ghash"), col("gr").as("gr_a"), col("gr").as("gr_b"))
      .withColumn("jaccard", exactJaccard)
      .filter(col("jaccard") >= 0.8)
      .select("ghash", "jaccard")
    val intra = selfJ
      .join(docs.select(col("ghash"), col("doc_id").as("doc_a")), Seq("ghash"))
      .join(docs.select(col("ghash"), col("doc_id").as("doc_b")), Seq("ghash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "jaccard")
    inter.union(intra).orderBy("doc_a", "doc_b")
  }

  /** q21: exact set-similarity join via AllPairs prefix filtering over
    * DISTINCT shingle sets: sort each set by a global order (hash, then
    * string); if J(A,B) >= t, the first |x|-⌈t|x|⌉+1 tokens of both
    * sides must intersect, so an equi-join on prefix tokens is sound
    * AND complete — the standard exact near-dup join that scales where
    * size-bucket blocking degenerates (all docs similar length). */
  def q21NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val groups = groupsOf(spark, dir)
    // Token order = (xxhash64, string): a fixed pseudo-random global
    // order. (The textbook ascending-document-frequency order was
    // implemented and MEASURED SLOWER here at both sf0.1 and a 16x
    // stress corpus — its extra shuffle + per-group sort outweigh the
    // candidate reduction once identical sets are collapsed; revisit
    // only if candidate counts dominate at larger corpora. The
    // interpreted array_sort comparator below was also measured against
    // an explode + codegen'd window-rank rewrite at sf0.1 (commit
    // da865a5; no RESULTS file archives it): identical at 0.18-0.19 s
    // — post-collapse groups are too few for the lambda to matter, so
    // the shuffle-free HOF form stays.)
    // prefix length n - ceil(0.8n) + 1 in INTEGER arithmetic:
    // ceil(4n/5) = (4n+4) div 5 — a float ceil(0.8*n) can round up
    // (0.8 is inexact in binary) and silently shorten the prefix,
    // breaking completeness exactly at the threshold boundary
    val prefixes = groups.select(col("ghash"),
      explode(expr(
        """slice(array_sort(transform(gr, s -> struct(xxhash64(s) AS h, s)), (x, y) ->
             CASE WHEN x.h < y.h THEN -1 WHEN x.h > y.h THEN 1
                  WHEN x.s < y.s THEN -1 WHEN x.s > y.s THEN 1 ELSE 0 END),
           1, CAST(size(gr) - ((4 * size(gr) + 4) DIV 5) + 1 AS INT))""")).as("tok"))
    val cand = prefixes.select(col("ghash").as("gh_a"), col("tok"))
      .join(prefixes.select(col("ghash").as("gh_b"), col("tok")), Seq("tok"))
      .filter(col("gh_a") < col("gh_b"))
      .select("gh_a", "gh_b")
      .dropDuplicates("gh_a", "gh_b")
    verifyAndExpand(cand, spark, dir)
  }

  /** The 16 salted min-hash slot aggregates of q22, over an exploded
    * shingle column `s` -- ONE definition shared with the incremental
    * signature maintenance ([[IncrementalDedup]]), so a signature
    * computed per-doc at ingest is bit-identical to the one q22 would
    * compute from scratch. Each slot re-hashes with a distinct salt:
    * affine remixes of one base hash correlate slot minima (observed:
    * a true pair missed at 80k-doc scale). */
  private[queries] def minHashAggs: Seq[org.apache.spark.sql.Column] =
    (0 until 16).map { k =>
      min(pmod(xxhash64(concat(col("s"), lit("" + k))), lit(2147483647L))).as(s"m$k")
    }

  /** q22: MinHash-LSH near-dup over DISTINCT shingle sets: 16
    * min-hashes per set, each a bucket key (b=16, r=1 with a >=2-slot
    * vote → recall at j=0.8 is 1 - 4e-10); bucket-join candidates, then
    * exact-jaccard verification + member expansion. The 100 TB path:
    * candidates shuffle by (hash-slot, value) — never the shingle
    * payloads. */
  def q22MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val groups = groupsOf(spark, dir)
    // Explode shingles once, then 16 codegen'd min-aggregates — NOT a
    // nested HOF lambda (interpreted: measured 50× slower). Each slot
    // re-hashes the string with a distinct salt: affine remixes of ONE
    // base hash correlate slot minima (observed: a true pair missed at
    // 80k-doc scale), salted xxhash64 slots are independent.
    val hashed = groups.select(col("ghash"), explode(col("gr")).as("s"))
    val minAggs = minHashAggs
    // persisted (17 narrow columns per distinct set): the bucket
    // self-join references this on both sides, and without the cache
    // each side re-runs the shingle explode + 16 min-aggregates
    val sig = sigCache.getOrBuild(spark, dir)(
      hashed.groupBy("ghash").agg(minAggs.head, minAggs.tail: _*).persist(storageLevel))
    val buckets = sig.select(col("ghash"),
      posexplode(array((0 until 16).map(k => col(s"m$k")): _*)).as(Seq("slot", "mh")))
    // Require >= 2 colliding slots: at j=0.8, P(a slot collides) = 0.8,
    // so P(<2 of 16) = 0.2^16 + 16*0.8*0.2^15 ≈ 4e-10 — recall still
    // ~certain, while single-slot false candidates (the bulk) drop
    // before the expensive jaccard verify.
    val cand = buckets.select(col("ghash").as("gh_a"), col("slot"), col("mh"))
      .join(buckets.select(col("ghash").as("gh_b"), col("slot"), col("mh")), Seq("slot", "mh"))
      .filter(col("gh_a") < col("gh_b"))
      .groupBy("gh_a", "gh_b")
      .agg(count(lit(1)).as("n_slots"))
      .filter(col("n_slots") >= 2)
      .select("gh_a", "gh_b")
    verifyAndExpand(cand, spark, dir)
  }

  /** Portable 60-bit word hashes, identical in Spark SQL and DuckDB SQL:
    * 15 hex chars of md5(word) starting at `pos` as an integer. Spark
    * evaluates this fully codegen'd (md5+conv); the DuckDB oracle folds
    * the hex chars with list_reduce. Positions 1 and 17 yield two
    * independent 60-bit halves of a 120-bit feature hash. */
  def wordHashSpark(pos: Int): String =
    s"CAST(conv(substr(md5(CAST(w AS BINARY)), $pos, 15), 16, 10) AS BIGINT)"

  def wordHashDuck(pos: Int): String =
    s"""list_reduce(list_prepend(0::BIGINT,
         list_transform(string_split(substr(md5(w), $pos, 15), ''),
           c -> (CASE WHEN unicode(c) >= 97 THEN unicode(c) - 87
                      ELSE unicode(c) - 48 END)::BIGINT)),
       (a, d) -> a * 16 + d)"""

  /** q23: SimHash near-dup. 120-bit simhash (two 60-bit halves) over
    * word-hash features; the 4×30-bit band join is sound-complete for
    * hamming<=3 (pigeonhole: 3 flipped bits can't touch all 4 bands).
    * Band values live in a 2^30 key space, so bucket sizes keep
    * SHRINKING as the corpus grows — the 60-bit/15-bit-band variant
    * saturated at ~10^10 docs (76k docs per bucket → quadratic
    * candidates); at 2^30 the same corpus puts ~9 docs per bucket.
    * Output is exact: hamming re-checked on the full fingerprint. Bit
    * sums run as 120 codegen'd aggregates over exploded words (not
    * nested HOF lambdas — measured 50× slower interpreted). */
  /** Per-doc 120-bit fingerprints, persisted per dir: the band
    * self-join references this frame on BOTH sides and Catalyst does
    * not reuse the exchange across the differing projections, so an
    * uncached frame pays the 120-aggregate sweep twice. 16 bytes/doc —
    * cacheable at any corpus size. Released by [[unpersistAll]]. */
  private val simCache = new graft.util.SessionCache

  private def simFingerprints(spark: SparkSession, dir: String): DataFrame =
    simCache.getOrBuild(spark, dir)({
        val words = t(spark, dir, "documents")
          .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
            explode(expr("filter(split(text, ' '), w -> w != '')")).as("w"))
          .withColumn("h1", expr(wordHashSpark(1)))
          .withColumn("h2", expr(wordHashSpark(17)))
        val bitAggs =
          (0 until 60).map(j => sum(expr(s"(shiftright(h1, $j) & 1) * 2 - 1")).as(s"p$j")) ++
            (0 until 60).map(j => sum(expr(s"(shiftright(h2, $j) & 1) * 2 - 1")).as(s"q$j"))
        words.groupBy("doc_id").agg(bitAggs.head, bitAggs.tail: _*)
          .select(col("doc_id"),
            (0 until 60).map(j => when(col(s"p$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_ + _).as("sim_lo"),
            (0 until 60).map(j => when(col(s"q$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
              .reduce(_ + _).as("sim_hi"))
          .persist(storageLevel)
      })

  def q23Simhash(spark: SparkSession, dir: String): DataFrame = {
    val d = simFingerprints(spark, dir)
    val banded = d.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      explode(expr(
        """transform(sequence(0, 3), b -> struct(b AS band,
             CASE WHEN b = 0 THEN sim_lo & 1073741823
                  WHEN b = 1 THEN shiftright(sim_lo, 30)
                  WHEN b = 2 THEN sim_hi & 1073741823
                  ELSE shiftright(sim_hi, 30) END AS bv))""")).as("bb"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"), col("bb.band"), col("bb.bv"))
    val a = banded.select(col("doc_id").as("doc_a"),
      col("sim_lo").as("lo_a"), col("sim_hi").as("hi_a"), col("band"), col("bv"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("sim_lo").as("lo_b"), col("sim_hi").as("hi_b"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      // hamming first (two long xors), THEN pair-dedup: only true
      // near-dup pairs reach the distinct shuffle
      .withColumn("hamming",
        expr("bit_count(lo_a ^ lo_b) + bit_count(hi_a ^ hi_b)").cast("long"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  val q23Sql: String = {
    val bitSums = ((0 until 60).map(j => s"sum(((h1 >> $j) & 1) * 2 - 1) AS p$j") ++
      (0 until 60).map(j => s"sum(((h2 >> $j) & 1) * 2 - 1) AS q$j")).mkString(", ")
    val loExpr = (0 until 60)
      .map(j => s"CASE WHEN p$j >= 0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END")
      .mkString(" + ")
    val hiExpr = (0 until 60)
      .map(j => s"CASE WHEN q$j >= 0 THEN ${1L << j}::BIGINT ELSE 0::BIGINT END")
      .mkString(" + ")
    s"""WITH w AS (
         SELECT doc_id, unnest(list_filter(str_split(text, ' '), w -> w != '')) AS w
         FROM documents),
       h AS (SELECT doc_id, ${wordHashDuck(1)} AS h1, ${wordHashDuck(17)} AS h2 FROM w),
       bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       f AS (SELECT doc_id, $loExpr AS sim_lo, $hiExpr AS sim_hi FROM bits)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              (bit_count(xor(a.sim_lo, b.sim_lo))
               + bit_count(xor(a.sim_hi, b.sim_hi)))::BIGINT AS hamming
       FROM f a JOIN f b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sim_lo, b.sim_lo)) + bit_count(xor(a.sim_hi, b.sim_hi)) <= 3
       ORDER BY doc_a, doc_b"""
  }

  /** q24: embedding-cosine near-dup pairs (threshold 0.45; the synthetic
    * embeddings top out ≈0.51). Exact doubles: vectors cast to double,
    * sequential dot products. DELIBERATE brute-force exactness baseline:
    * `broadcast(b)` ships the whole table to every executor, so this
    * caps out where the table no longer fits in executor memory
    * (~10M 64-dim vectors at 5 GiB); past that ceiling use the IVF path
    * (Similarity.q26 — corpus shuffles once by cell, cells stay
    * bounded), which this query exists to validate against. */
  /** The ONE exact embedding near-dup entry point: picks the physical
    * shape from the corpus' estimated broadcast footprint. Below
    * `maxBroadcastBytes` the q24 broadcast plan wins (zero shuffle of
    * pair payloads, measured fastest up to at least 320k vectors /
    * ~82 MB broadcast at 64×); past it the q43 block-grid engages —
    * bounded per-task memory at any corpus size. Both shapes remain
    * individually reachable (mode = "broadcast" | "grid") for probes
    * and plan tests; results are identical by construction, and the
    * dispatch threshold only changes WHERE the O(n²) compare runs.
    *
    * Sizing: a row costs ~dim doubles + array headers; the measured
    * curve (82 MB at 320k × 64-dim) gives ~256 B/vector ≈ dim × 4 —
    * i.e. ≈ the raw float payload, which is also what Catalyst's
    * `stats.sizeInBytes` estimates for the scan. So the dispatch reads
    * the optimizer statistic (one Catalyst call, NO Spark job — at
    * 100 TB a `count()` here would be a full scan just to pick a mode)
    * and compares it to the same measured ceiling. An empty or missing
    * corpus estimates ~0 → broadcast path, which degrades gracefully.
    *
    * Ceiling history: 512 MiB (r8-r20) was a MEMORY bound — where the
    * broadcast would start to hurt executors. r20's 128× sweep showed
    * the grid already BEATS broadcast at 256 Ki vectors (281 s vs
    * 324 s) even with the old row-at-a-time cell loop, and the r21
    * tiled kernel widens that to ~20×, so the dispatch now switches at
    * the measured PERFORMANCE crossover instead: 64 MiB estimated
    * (≈ 32 Ki 64-dim vectors), below which the broadcast's zero-shuffle
    * constant still wins and above which the cache-tiled grid is
    * strictly faster AND memory-bounded. */
  def embeddingNearDup(spark: SparkSession, dir: String,
      mode: String = "auto",
      maxBroadcastBytes: Long = 64L << 20): DataFrame = mode match {
    case "broadcast" => q24EmbeddingNearDup(spark, dir)
    case "grid" => q43EmbeddingBlocked(spark, dir)
    case "auto" =>
      val base = t(spark, dir, "embeddings")
      // stats.sizeInBytes is FILE bytes (compressed/encoded), not the
      // heap cost of the collected vectors — 4× inflation covers the
      // gap (high-entropy float32 barely compresses, but the JVM-side
      // rows/arrays carry object headers and boxing over raw payload).
      // When a source reports NO stats Catalyst substitutes the
      // defaultSizeInBytes sentinel (Long.MaxValue), which would
      // silently force the grid path even for a 10-row in-memory view —
      // in that case fall back to a count-based estimate (256 B/vector,
      // the measured heap cost). File sources always report
      // sizeInBytes, so the count job only ever runs for in-memory or
      // exotic sources where it is cheap.
      val rawStat = base.queryExecution.optimizedPlan.stats.sizeInBytes
      val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
      val estBytes =
        if (rawStat < sentinel) rawStat * 4
        else BigInt(base.count()) * 256
      if (estBytes <= BigInt(maxBroadcastBytes)) q24EmbeddingNearDup(spark, dir)
      else q43EmbeddingBlocked(spark, dir)
    case other => throw new IllegalArgumentException(
      s"embeddingNearDup: unknown mode '$other' (auto | broadcast | grid)")
  }

  def q24EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("nr", sqrt(GraftFunctions.arrayDot(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("v_a"), col("nr").as("nr_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("v_b"), col("nr").as("nr_b"))
    // left stays spread over all cores; the right side broadcasts, so
    // the O(n²) compare parallelizes with no shuffle of pair payloads
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos",
        GraftFunctions.arrayDot(col("v_a"), col("v_b")) / (col("nr_a") * col("nr_b")))
      .filter(col("cos") >= 0.45)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  val q24Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                  FROM embeddings),
        n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nr FROM e)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_dot_product(a.v, b.v) / (a.nr * b.nr), 6) AS cos_sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nr * b.nr) >= 0.45
      ORDER BY vec_a, vec_b"""

  /** Normalized vectors with a grid-block id, persisted per dir (the
    * a/b sides of the grid join are differently-projected reads of this
    * frame — the exchange-reuse lesson from q21–q23 applies). The block
    * id only steers DISTRIBUTION; results are block-count-invariant. */
  private val blkCache = new graft.util.SessionCache

  /** Blocks sized ~64 Ki vectors max (64-dim doubles ≈ 32 MiB — two
    * blocks per task stay far inside executor memory), with a floor
    * that keeps the CELL count well above the shuffle partition count:
    * `repartition(col("cell"))` hash-partitions the cells, and with
    * only ~36 cells over 32 partitions the collision skew left 2-3
    * cells on one task while others idled (guide §2.5 — synthetic
    * partition keys need 20-100× more distinct values than
    * partitions). ceil(sqrt(16·parallelism)) blocks ≈ 8·parallelism
    * cells (B(B+1)/2), enough for the hash to spread evenly; at scale
    * the memory term dominates and cells are abundant anyway. */
  private def blockCount(n: Long, parallelism: Int): Int = {
    val memBlocks = (n + 65535L) / 65536L
    val balanceBlocks = math.ceil(math.sqrt(16.0 * parallelism)).toLong
    math.max(math.max(8L, balanceBlocks), memBlocks).toInt
  }

  /** q43: the SCALE form of exact embedding near-dup — identical
    * semantics and oracle as q24, different physical shape. Instead of
    * broadcasting the whole table (q24's documented ~10M-vector
    * ceiling), the corpus splits into B blocks and every unordered
    * block pair (i ≤ j) becomes a grid cell: the a-side replicates each
    * vector to cells (blk, j ≥ blk), the b-side to cells (i ≤ blk, blk),
    * and ONE shuffle-hash join on the cell key co-locates exactly the
    * two blocks each task compares. Per-task memory is two blocks
    * (~64 MiB) at ANY corpus size; shuffle volume is n·(B+1) vectors —
    * at 10M vectors/1000 executors that is ~150× replication vs
    * broadcast's 1000×, with no single-executor table copy. The O(n²)
    * dot products are inherent to EXACT all-pairs (this is the exactness
    * baseline; q26's IVF is the sub-quadratic approximate path).
    *
    * Each unordered pair lands in exactly one cell (cross-block pairs
    * in (blk_a, blk_b); same-block pairs in (c, c) where the vec_id
    * order filter drops the mirrored orientation), so no distinct is
    * needed and the oracle is plain brute force. */
  def q43EmbeddingBlocked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blocked = blkCache.getOrBuild(spark, dir)({
      val base = t(spark, dir, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      val b = blockCount(base.count(), spark.sparkContext.defaultParallelism)
      base
        .withColumn("nr", sqrt(GraftFunctions.arrayDot(col("v"), col("v"))))
        .withColumn("blk", pmod(hash(col("vec_id")), lit(b)))
        .withColumn("nblk", lit(b))
        .persist(storageLevel)
    })
    // cell id in LONG: blk*nblk overflows Int past ~46341 blocks
    // (~3e9 vectors) — exactly the scale this query exists for
    val a = blocked.withColumn("cell",
        explode(expr(
          "transform(sequence(blk, nblk - 1), j -> CAST(blk AS BIGINT) * nblk + j)")))
      .select(col("cell"), lit(0).as("side"), col("blk"),
        col("vec_id"), col("v"), col("nr"))
    val b = blocked.withColumn("cell",
        explode(expr(
          "transform(sequence(0, blk), i -> CAST(i AS BIGINT) * nblk + blk)")))
      .select(col("cell"), lit(1).as("side"), col("blk"),
        col("vec_id"), col("v"), col("nr"))
    // One shuffle co-locates each grid cell; the pair product runs as a
    // per-cell PRIMITIVE block nested loop (mapPartitions — the
    // documented last resort, taken on measurement: the r8 128× sweep
    // put the ShuffledHashJoin form at 4× the broadcast baseline's
    // per-pair cost, all of it join-machinery — per-pair hash-bucket
    // chain hops over 32Ki-duplicate cell keys and per-pair array
    // re-extraction. Here each row deserializes ONCE into primitive
    // arrays; the inner loop is pure multiply-add in the exact
    // accumulation order of GraftFunctions.arrayDot, so results stay
    // bitwise identical to q24's broadcast plan.)
    // 8 × parallelism partitions, NOT the session shuffle default
    // (r21): blockCount guarantees ≥ ~8·parallelism cells, and hashing
    // them into only `parallelism` partitions left 2-3 cells on one
    // task while others idled (guide §2.5 — measured 19/32 cores busy
    // at 128×). One task ≈ one cell also makes the within-partition
    // sort near-free (it was spilling 3.4 GB when every partition
    // held ~9 cells). At corpus scale cells ≫ partitions again and the
    // streaming loader keeps per-task memory at ONE cell regardless.
    val pairs = a.union(b)
      .repartition(8 * spark.sparkContext.defaultParallelism, col("cell"))
      .sortWithinPartitions("cell")
      .as[(Long, Int, Int, Long, Array[Double], Double)]
      .mapPartitions(cellBlockLoop(0.45))
    pairs.toDF("vec_a", "vec_b", "cos")
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Per-cell block nested loop over `(cell, side, blk, vec_id, v, nr)`
    * rows sorted by cell: buffer ONE cell's two blocks (bounded:
    * two ~64Ki-vector blocks ≈ 64 MiB) into FLAT primitive arrays, run a
    * cache-tiled dot-product sweep, emit thresholded cosine pairs, move
    * on. Two per-task-work fixes over the r8 row-at-a-time loop (guide
    * §1.2 step 2), measured 281 s → tens of s at 128×:
    *
    *  - MEMORY: the naive j-inner loop re-streamed the whole b-block
    *    (~MBs, far past L2) from DRAM for every a-row — at 256 Ki
    *    vectors that is ~16 TB of traffic, the measured wall. Tiling j
    *    into [[TileJ]]-row blocks (64-dim doubles ≈ 128 KiB, L2-resident
    *    across the whole i sweep) cuts DRAM traffic by ~TileJ×.
    *  - LATENCY: `s += a(k)*b(k)` is one serial FP-add dependency chain
    *    (~4 cycles/element). Four pairs advance together, each with its
    *    OWN accumulator, so four independent chains fill the pipeline.
    *
    * Results stay bitwise identical to the broadcast plan: each dot
    * product still accumulates in the exact k = 0..d-1 order of
    * GraftFunctions.arrayDot (the unroll never reassociates a single
    * sum — it interleaves independent sums), and element multiplication
    * commutes bitwise, so diagonal cells may read both operands from
    * the side-0 buffer. Cross-block cells pair everything (one
    * orientation exists by grid construction); diagonal cells sweep the
    * strict upper triangle of the side-0 block (each unordered pair
    * once — the side-1 copy is ignored). Pairs emit as
    * (min id, max id, cos), the normalization the SQL plan's
    * least/greatest applied. Matches are buffered per cell — output is
    * a thresholded NEAR-DUP set, sparse by definition (and the prior
    * shape buffered the same blocks, so peak memory is unchanged). */
  private val TileJ = 256

  private def flatRows(vs: scala.collection.mutable.ArrayBuffer[Array[Double]],
      d: Int): Array[Double] = {
    val out = new Array[Double](vs.length * d)
    var i = 0
    while (i < vs.length) { System.arraycopy(vs(i), 0, out, i * d, d); i += 1 }
    out
  }

  private def cellBlockLoop(threshold: Double)(
      rows: Iterator[(Long, Int, Int, Long, Array[Double], Double)])
      : Iterator[(Long, Long, Double)] = {
    val in = rows.buffered
    new scala.collection.AbstractIterator[(Long, Long, Double)] {
      private var out: Iterator[(Long, Long, Double)] = Iterator.empty

      override def hasNext: Boolean = {
        while (!out.hasNext && in.hasNext) out = nextCell()
        out.hasNext
      }

      override def next(): (Long, Long, Double) = {
        if (!hasNext) throw new NoSuchElementException
        out.next()
      }

      private def nextCell(): Iterator[(Long, Long, Double)] = {
        val cell = in.head._1
        val ai = scala.collection.mutable.ArrayBuffer[Long]()
        val av = scala.collection.mutable.ArrayBuffer[Array[Double]]()
        val an = scala.collection.mutable.ArrayBuffer[Double]()
        val bi = scala.collection.mutable.ArrayBuffer[Long]()
        val bv = scala.collection.mutable.ArrayBuffer[Array[Double]]()
        val bn = scala.collection.mutable.ArrayBuffer[Double]()
        var blkA = -1
        var blkB = -1
        while (in.hasNext && in.head._1 == cell) {
          val r = in.next()
          if (r._2 == 0) { ai += r._4; av += r._5; an += r._6; blkA = r._3 }
          else { bi += r._4; bv += r._5; bn += r._6; blkB = r._3 }
        }
        val diag = blkA == blkB && blkA >= 0
        if (ai.isEmpty || (bi.isEmpty && !diag)) return Iterator.empty
        val d = av.head.length // uniform dim; arrayDot order preserved
        val hits = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        if (diag)
          diagSweep(flatRows(av, d), ai.toArray, an.toArray, d, hits)
        else
          crossSweep(flatRows(av, d), ai.toArray, an.toArray,
            flatRows(bv, d), bi.toArray, bn.toArray, d, hits)
        hits.iterator
      }

      @inline private def emit(ida: Long, idb: Long, s: Double, nn: Double,
          hits: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        val cos = s / nn
        if (cos >= threshold)
          hits += ((math.min(ida, idb), math.max(ida, idb), cos))
      }

      /** All (i, j) pairs across two distinct blocks. Rows advance in
        * PAIRS (2 a-rows × 4 b-rows = 8 independent accumulators per
        * pass): the 1×4 form needs 5 loads per 4 multiply-adds and the
        * load ports stall the FP pipe; 2×4 amortizes the same 4 b-loads
        * over 8 multiply-adds. Per-dot accumulation order unchanged. */
      private def crossSweep(av: Array[Double], aIds: Array[Long],
          aNrs: Array[Double], bv: Array[Double], bIds: Array[Long],
          bNrs: Array[Double], d: Int,
          hits: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        val na = aIds.length; val nb = bIds.length
        var j0 = 0
        while (j0 < nb) {
          val jEnd = math.min(j0 + TileJ, nb)
          var i = 0
          while (i + 2 <= na) {
            sweepRowPair(av, i, aIds, aNrs, bv, bIds, bNrs, d, j0, jEnd, hits)
            i += 2
          }
          if (i < na)
            sweepRow(av, i * d, aIds(i), aNrs(i), bv, bIds, bNrs, d,
              j0, jEnd, hits)
          j0 += TileJ
        }
      }

      /** Two a-rows (i, i+1) against b-rows [jStart, jEnd). */
      private def sweepRowPair(av: Array[Double], i: Int, aIds: Array[Long],
          aNrs: Array[Double], bv: Array[Double], bIds: Array[Long],
          bNrs: Array[Double], d: Int, jStart: Int, jEnd: Int,
          hits: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        val ao0 = i * d; val ao1 = ao0 + d
        val id0 = aIds(i); val id1 = aIds(i + 1)
        val nr0 = aNrs(i); val nr1 = aNrs(i + 1)
        var j = jStart
        while (j + 4 <= jEnd) {
          val b0 = j * d; val b1 = b0 + d; val b2 = b1 + d; val b3 = b2 + d
          var s00 = 0.0; var s01 = 0.0; var s02 = 0.0; var s03 = 0.0
          var s10 = 0.0; var s11 = 0.0; var s12 = 0.0; var s13 = 0.0
          var k = 0
          while (k < d) {
            val a0 = av(ao0 + k); val a1 = av(ao1 + k)
            val x0 = bv(b0 + k); val x1 = bv(b1 + k)
            val x2 = bv(b2 + k); val x3 = bv(b3 + k)
            s00 += a0 * x0; s01 += a0 * x1; s02 += a0 * x2; s03 += a0 * x3
            s10 += a1 * x0; s11 += a1 * x1; s12 += a1 * x2; s13 += a1 * x3
            k += 1
          }
          emit(id0, bIds(j), s00, nr0 * bNrs(j), hits)
          emit(id0, bIds(j + 1), s01, nr0 * bNrs(j + 1), hits)
          emit(id0, bIds(j + 2), s02, nr0 * bNrs(j + 2), hits)
          emit(id0, bIds(j + 3), s03, nr0 * bNrs(j + 3), hits)
          emit(id1, bIds(j), s10, nr1 * bNrs(j), hits)
          emit(id1, bIds(j + 1), s11, nr1 * bNrs(j + 1), hits)
          emit(id1, bIds(j + 2), s12, nr1 * bNrs(j + 2), hits)
          emit(id1, bIds(j + 3), s13, nr1 * bNrs(j + 3), hits)
          j += 4
        }
        while (j < jEnd) {
          val bo = j * d
          var s0 = 0.0; var s1 = 0.0
          var k = 0
          while (k < d) {
            val x = bv(bo + k)
            s0 += av(ao0 + k) * x; s1 += av(ao1 + k) * x
            k += 1
          }
          emit(id0, bIds(j), s0, nr0 * bNrs(j), hits)
          emit(id1, bIds(j), s1, nr1 * bNrs(j), hits)
          j += 1
        }
      }

      /** Strict upper triangle (i < j) of one block against itself. */
      private def diagSweep(av: Array[Double], aIds: Array[Long],
          aNrs: Array[Double], d: Int,
          hits: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        val na = aIds.length
        var j0 = 0
        while (j0 < na) {
          val jEnd = math.min(j0 + TileJ, na)
          var i = 0
          while (i < jEnd - 1) {
            val jStart = math.max(j0, i + 1)
            sweepRow(av, i * d, aIds(i), aNrs(i), av, aIds, aNrs, d,
              jStart, jEnd, hits)
            i += 1
          }
          j0 += TileJ
        }
      }

      /** One a-row against b-rows [jStart, jEnd): 4 pairs per pass, one
        * accumulator each (independent chains; per-dot k-order exact). */
      private def sweepRow(av: Array[Double], ao: Int, ida: Long, nra: Double,
          bv: Array[Double], bIds: Array[Long], bNrs: Array[Double], d: Int,
          jStart: Int, jEnd: Int,
          hits: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
        var j = jStart
        while (j + 4 <= jEnd) {
          val b0 = j * d; val b1 = b0 + d; val b2 = b1 + d; val b3 = b2 + d
          var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
          var k = 0
          while (k < d) {
            val a = av(ao + k)
            s0 += a * bv(b0 + k); s1 += a * bv(b1 + k)
            s2 += a * bv(b2 + k); s3 += a * bv(b3 + k)
            k += 1
          }
          emit(ida, bIds(j), s0, nra * bNrs(j), hits)
          emit(ida, bIds(j + 1), s1, nra * bNrs(j + 1), hits)
          emit(ida, bIds(j + 2), s2, nra * bNrs(j + 2), hits)
          emit(ida, bIds(j + 3), s3, nra * bNrs(j + 3), hits)
          j += 4
        }
        while (j < jEnd) {
          val bo = j * d
          var s = 0.0
          var k = 0
          while (k < d) { s += av(ao + k) * bv(bo + k); k += 1 }
          emit(ida, bIds(j), s, nra * bNrs(j), hits)
          j += 1
        }
      }
    }
  }

  /** q119: q22's near-dup result served from INCREMENTALLY MAINTAINED
    * signatures ([[IncrementalDedup]]): the documents land in an fls
    * manifest table in TWO commits, the signature table refreshes
    * after each (the second refresh reads only the second commit's
    * files — spec-asserted scan bytes), and the bucket join runs over
    * the persisted per-doc signatures instead of re-shingling the
    * corpus. The oracle is the same brute-force near-dup SQL as
    * q21/q22 over the full parquet table, so one stale, missing, or
    * double-counted signature breaks the hash. */
  def q119DedupIncrementalSig(spark: SparkSession, dir: String): DataFrame = {
    val key = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val base = s"/tmp/graft_fls_cache_v4/${key}_incsig"
    val docsDir = s"$base/docs"
    val sigDir = s"$base/sigs"
    synchronized {
      val marker = new java.io.File(s"$base/_done_incsig")
      if (!incSigDone.contains(base) && !graft.util.CacheStamp.valid(marker)) {
        new java.io.File(base).mkdirs()
        val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
        docs.filter(col("doc_id") % 5 < 4)
          .write.format("fls").mode("overwrite")
          .option("commit_mode", "manifest").save(docsDir)
        IncrementalDedup.refresh(spark, docsDir, sigDir)
        docs.filter(col("doc_id") % 5 === 4)
          .write.format("fls").mode("append")
          .option("commit_mode", "manifest").save(docsDir)
        IncrementalDedup.refresh(spark, docsDir, sigDir)
        graft.util.CacheStamp.write(marker)
      }
      incSigDone += base
    }
    IncrementalDedup.nearDupsFromSignatures(spark, docsDir, sigDir,
      cacheKey = s"$dir#incsig")
  }
  private val incSigDone = scala.collection.mutable.HashSet[String]()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q119_dedup_incremental_sig" -> (q119DedupIncrementalSig _),
    "q20_dedup_exact" -> (q20ExactDedup _),
    "q21_dedup_ngram_jaccard" -> (q21NgramJaccard _),
    "q22_dedup_minhash_lsh" -> (q22MinhashLsh _),
    "q23_dedup_simhash" -> (q23Simhash _),
    // q24 routes through the auto-dispatcher (picks broadcast at bench
    // scale); q43 pins the grid shape so the scale path stays exercised
    "q24_dedup_embedding" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d)),
    "q43_dedup_embedding_blocked" -> ((s: SparkSession, d: String) => embeddingNearDup(s, d, mode = "grid")),
  )

  val oracles: Map[String, String] = Map(
    "q119_dedup_incremental_sig" -> NearDupOracleSql,
    "q20_dedup_exact" -> q20Sql,
    "q21_dedup_ngram_jaccard" -> NearDupOracleSql,
    "q22_dedup_minhash_lsh" -> NearDupOracleSql,
    "q23_dedup_simhash" -> q23Sql,
    "q24_dedup_embedding" -> q24Sql,
    "q43_dedup_embedding_blocked" -> q24Sql,
  )
}
