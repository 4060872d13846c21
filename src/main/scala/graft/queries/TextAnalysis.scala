package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftexprs.GraftFunctions

import graft.util.Tables._

/** Text-analysis operators over `documents`: language-ID heuristic,
  * quality scoring, token counting, rolling-hash fingerprinting
  * (winnowing). All single-pass, shuffle-free per-row transforms —
  * embarrassingly parallel at any scale — with exact integer/double
  * arithmetic mirrored in the DuckDB oracles. */
object TextAnalysis {

  /** Count non-overlapping occurrences of a marker, portable:
    * (len(text) - len(replace(text, m, ''))) / len(m). */
  private def cntSpark(m: String): String =
    s"CAST((length(text) - length(replace(text, '$m', ''))) / ${m.length} AS BIGINT)"
  private def cntDuck(m: String): String =
    s"((length(text) - length(replace(text, '$m', ''))) // ${m.length})::BIGINT"

  /** q27: language-ID by character-n-gram marker profiles. Markers per
    * language are fixed; prediction = argmax score, ties and all-zero →
    * 'und'. (The synthetic corpus shares one vocabulary, so the value
    * here is the deterministic operator, not linguistic accuracy.) */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq(" the ", " a ", "th"),
    "de" -> Seq(" der ", " und ", "sch"),
    "es" -> Seq(" el ", " los ", "ción"),
    "fr" -> Seq(" le ", " les ", "eau"),
    "zh" -> Seq("的", "是", "了"))

  def q27LangId(spark: SparkSession, dir: String): DataFrame = {
    val scored = langMarkers.foldLeft(t(spark, dir, "documents")) {
      case (df, (lang, ms)) =>
        df.withColumn(s"score_$lang", expr(ms.map(cntSpark).mkString(" + ")))
    }
    val best = langMarkers.map(_._1).map(l => col(s"score_$l")).reduce(greatest(_, _))
    val pred = langMarkers.foldRight(lit("und")) { case ((lang, _), elseCol) =>
      when(col(s"score_$lang") === best && best > 0, lit(lang)).otherwise(elseCol)
    }
    scored
      .withColumn("predicted", pred)
      .select(col("doc_id"), col("score_en"), col("score_de"), col("predicted"))
      .orderBy("doc_id")
  }

  val q27Sql: String = {
    val scores = langMarkers.map { case (lang, ms) =>
      s"(${ms.map(cntDuck).mkString(" + ")}) AS score_$lang"
    }.mkString(", ")
    val langs = langMarkers.map(_._1)
    val best = s"greatest(${langs.map("score_" + _).mkString(", ")})"
    val pred = langs.foldRight("'und'") { case (lang, els) =>
      s"CASE WHEN score_$lang = $best AND $best > 0 THEN '$lang' ELSE $els END"
    }
    s"""WITH s AS (SELECT doc_id, $scores FROM documents)
       SELECT doc_id, score_en, score_de, $pred AS predicted
       FROM s ORDER BY doc_id"""
  }

  /** q28: quality scoring — word count, mean word length, stopword
    * ratio, long-word fraction, composite score. Ratios are int/int
    * divisions → bitwise-identical doubles in both engines. */
  def q28QualityScore(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("words", expr("filter(split(text, ' '), w -> w != '')"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("sum_wlen",
        expr("aggregate(words, CAST(0 AS BIGINT), (a, w) -> a + length(w))"))
      .withColumn("n_stop",
        expr("CAST(size(filter(words, w -> w IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS BIGINT)"))
      .withColumn("n_long", expr("CAST(size(filter(words, w -> length(w) >= 6)) AS BIGINT)"))
      .withColumn("avg_wlen", col("sum_wlen").cast("double") / col("n_words"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words"))
      .withColumn("long_frac", col("n_long").cast("double") / col("n_words"))
      .withColumn("quality",
        lit(0.5) * col("stop_ratio") + lit(0.3) * col("long_frac") +
          lit(0.2) * (col("avg_wlen") / lit(10.0)))
      .select("doc_id", "n_words", "avg_wlen", "stop_ratio", "long_frac", "quality")
      .orderBy("doc_id")

  val q28Sql: String =
    """WITH w AS (
        SELECT doc_id, list_filter(str_split(text, ' '), w -> w != '') AS words
        FROM documents),
      m AS (
        SELECT doc_id,
          len(words)::BIGINT AS n_words,
          list_sum(list_transform(words, w -> length(w)))::BIGINT AS sum_wlen,
          len(list_filter(words, w -> w IN ('the', 'a', 'of', 'and', 'to', 'in')))::BIGINT AS n_stop,
          len(list_filter(words, w -> length(w) >= 6))::BIGINT AS n_long
        FROM w)
      SELECT doc_id, n_words,
        sum_wlen::DOUBLE / n_words AS avg_wlen,
        n_stop::DOUBLE / n_words AS stop_ratio,
        n_long::DOUBLE / n_words AS long_frac,
        0.5 * (n_stop::DOUBLE / n_words) + 0.3 * (n_long::DOUBLE / n_words)
          + 0.2 * ((sum_wlen::DOUBLE / n_words) / 10.0) AS quality
      FROM m ORDER BY doc_id"""

  /** q29: token counting — whitespace tokens, BPE-ish regex tokens
    * (letter runs | digit runs | single punctuation), chars/4 estimate. */
  def q29TokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("ws_tokens",
        expr("CAST(size(filter(split(text, ' '), w -> w != '')) AS BIGINT)"))
      .withColumn("re_tokens",
        expr("CAST(size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS BIGINT)"))
      .withColumn("est_bpe", expr("CAST((length(text) + 3) DIV 4 AS BIGINT)"))
      .select("doc_id", "ws_tokens", "re_tokens", "est_bpe")
      .orderBy("doc_id")

  val q29Sql: String =
    """SELECT doc_id,
        len(list_filter(str_split(text, ' '), w -> w != ''))::BIGINT AS ws_tokens,
        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS re_tokens,
        ((length(text) + 3) // 4)::BIGINT AS est_bpe
      FROM documents ORDER BY doc_id"""

  /** q30: document fingerprinting (winnowing): positional word-3-gram
    * rolling hashes (seed 7, h*31 + code point, 2^32 modulus), distinct
    * sliding-window (w=4) minima, reported as (count, min, sum). Native
    * kernels ([[GraftFunctions]]) split each document once; a NULL text
    * fingerprints as the empty set, like the oracle's. */
  def q30Fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("mins", GraftFunctions.winnow(
        coalesce(GraftFunctions.shingleHashes(col("text"), 3),
          typedLit(Array.empty[Long])), 4))
      .select(col("doc_id"),
        size(col("mins")).cast("long").as("fp_count"),
        coalesce(array_min(col("mins")), lit(0L)).as("fp_min"),
        GraftFunctions.arraySum(col("mins")).as("fp_sum"))
      .orderBy("doc_id")

  val q30Sql: String =
    """WITH sh AS (
        SELECT doc_id, list_transform(
          generate_series(1, greatest(len(str_split(text, ' ')) - 2, 0)),
          i -> str_split(text, ' ')[i] || ' ' || str_split(text, ' ')[i+1]
               || ' ' || str_split(text, ' ')[i+2]) AS gr
        FROM documents),
      h AS (
        SELECT doc_id, list_transform(gr, s -> list_reduce(
          list_prepend(7::BIGINT,
            list_transform(string_split(s, ''), c -> unicode(c)::BIGINT)),
          (a, c) -> (a * 31 + c) % 4294967296)) AS hs
        FROM sh),
      m AS (
        SELECT doc_id, CASE
            WHEN len(hs) >= 4 THEN list_distinct(list_transform(
              generate_series(1, len(hs) - 3), t -> list_min(list_slice(hs, t, t + 3))))
            WHEN len(hs) > 0 THEN [list_min(hs)]
            ELSE []::BIGINT[] END AS mins
        FROM h)
      SELECT doc_id, len(mins)::BIGINT AS fp_count,
        coalesce(list_min(mins), 0)::BIGINT AS fp_min,
        coalesce(list_sum(mins), 0)::BIGINT AS fp_sum
      FROM m ORDER BY doc_id"""

  /** q67: boilerplate/stopword scrubbing — the cleaning pass every
    * corpus pipeline runs before tokenization (strip filler tokens,
    * measure how much each language sheds). Pure map-side regex work
    * feeding one small aggregate: embarrassingly parallel at 100 TB.
    * Word-boundary regex semantics agree between Java (Spark) and RE2
    * (DuckDB) for this alternation, so the oracle is exact. */
  def q67Scrub(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("docs"),
        sum(size(regexp_extract_all(col("text"),
          lit("\\b(a|the)\\b"), lit(0)))).as("removed_words"),
        sum(length(col("text")) -
          length(regexp_replace(col("text"), lit("\\b(a|the)\\b"), lit(""))))
          .as("chars_removed"))
      .orderBy("lang")

  val q67Sql: String =
    """SELECT lang,
         COUNT(*)::BIGINT AS docs,
         SUM(len(regexp_extract_all(text, '\b(a|the)\b')))::BIGINT AS removed_words,
         SUM(length(text) -
             length(regexp_replace(text, '\b(a|the)\b', '', 'g')))::BIGINT AS chars_removed
       FROM documents GROUP BY lang ORDER BY lang"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q27_text_lang_id" -> (q27LangId _),
    "q28_text_quality" -> (q28QualityScore _),
    "q29_text_tokens" -> (q29TokenCount _),
    "q30_text_fingerprint" -> (q30Fingerprint _),
    "q67_scrub" -> (q67Scrub _),
  )

  val oracles: Map[String, String] = Map(
    "q27_text_lang_id" -> q27Sql,
    "q28_text_quality" -> q28Sql,
    "q29_text_tokens" -> q29Sql,
    "q30_text_fingerprint" -> q30Sql,
    "q67_scrub" -> q67Sql,
  )
}
