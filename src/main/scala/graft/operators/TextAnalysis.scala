package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for an LLM-training-data pipeline over the
  * `documents` table: tokenization, quality scoring, language ID,
  * content fingerprinting (SURVEY.md §2D).
  *
  * Everything is built from codegen'd built-ins + higher-order array
  * functions — no UDFs — so the whole stage stays in Tungsten. Each
  * operator is a narrow map over documents (no shuffle at all), which
  * at 100 TB is embarrassingly parallel and bounded only by scan
  * throughput.
  */
object TextAnalysis {

  private val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "on")

  private def tokens(c: Column): Column = split(trim(c), "\\s+")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, x => x.isin(words.map(lit(_)): _*)))

  private def sqlCountIn(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x IN (", ", ", ")))")

  /** Token counting: whitespace tokens + regex word tokens (the
    * "BPE-ish" lower bound) + chars-per-token. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("char_count"),
        size(tokens(col("text"))).as("ws_token_count"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("word_token_count"),
        (length(col("text")).cast("double") /
          greatest(size(tokens(col("text"))), lit(1)).cast("double")).as("chars_per_token"))
      .orderBy("doc_id")

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INT) AS char_count,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS ws_token_count,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS word_token_count,
      |  CAST(length(text) AS DOUBLE) / CAST(GREATEST(len(string_split_regex(trim(text), '\s+')), 1) AS DOUBLE) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Readability census — Flesch reading ease + Flesch–Kincaid grade
    * per document (Kincaid et al. 1975), the classic pairing beside
    * `text_quality_score`'s [0,1] cascade: quality says "keep or
    * drop", readability says WHO the kept text is for (a corpus
    * drifting toward grade-16 legalese or grade-2 listicles is a
    * mixture problem quality ratios miss). Syllables estimated as
    * vowel GROUPS (`[aeiouy]+` runs — the standard cheap estimator,
    * exact for the regular phonotactics the formulas were fit on);
    * sentences as terminal-punctuation runs, floored at 1 so
    * punctuation-free docs read as one sentence rather than dividing
    * by zero. Same lowercase-corpus word rule as `text_token_count`.
    *
    * Scale shape: a pure narrow map over documents — three
    * regexp_extract_all counts per row, zero shuffles; the constants
    * are shared literals and both formulas fixed left-associative
    * IEEE chains, so the oracle hashes bit-identically. */
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    textReadabilityFrom(Tables.documents(spark, dir))

  def textReadabilityFrom(d: DataFrame): DataFrame = {
    val nWords = size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    val nSent = greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
    val nSyl = greatest(size(expr("regexp_extract_all(text, '[aeiouy]+', 0)")), lit(1))
    val w = greatest(nWords, lit(1)).cast("double")
    val wps = w / nSent.cast("double")
    val spw = nSyl.cast("double") / w
    d.select(col("doc_id"),
        nWords.as("n_words"), nSent.as("n_sentences"), nSyl.as("n_syllables"),
        wps.as("words_per_sentence"), spw.as("syllables_per_word"),
        (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"),
        (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("reading_ease"))
      .orderBy("doc_id")
  }

  val textReadabilitySql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_words,
      |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS INT) AS n_sentences,
      |    CAST(GREATEST(len(regexp_extract_all(text, '[aeiouy]+')), 1) AS INT) AS n_syllables
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, n_words, n_sentences, n_syllables,
      |    CAST(GREATEST(n_words, 1) AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
      |    CAST(n_syllables AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE) AS spw
      |  FROM c
      |)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  wps AS words_per_sentence, spw AS syllables_per_word,
      |  0.39 * wps + 11.8 * spw - 15.59 AS fk_grade,
      |  206.835 - 1.015 * wps - 84.6 * spw AS reading_ease
      |FROM s ORDER BY doc_id""".stripMargin

  /** Corpus-level readability per source — the MIXTURE readout of
    * `text_readability` (the per-doc score says who one doc is for;
    * this says which sources pull the corpus toward legalese or
    * listicles — the input a mixture rebalance acts on). Pooled-ratio
    * form, not mean-of-doc-scores: per-source INTEGER sums of the
    * per-doc word/sentence/syllable counts (exact BIGINT through the
    * one source-grain exchange — never a shuffle-ordered float sum),
    * then the same fixed FK chains on the pooled ratios. Per-doc
    * floors (sentences, syllables ≥ 1) apply BEFORE the sum, so both
    * engines pool identical integers. */
  def readabilityBySource(spark: SparkSession, dir: String): DataFrame =
    readabilityBySourceFrom(Tables.documents(spark, dir))

  def readabilityBySourceFrom(d: DataFrame): DataFrame = {
    val nWords = size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)"))
    val nSent = greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1))
    val nSyl = greatest(size(expr("regexp_extract_all(text, '[aeiouy]+', 0)")), lit(1))
    val agg = d
      .select(col("source"), nWords.as("w"), nSent.as("s"), nSyl.as("y"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w").cast("long")).as("n_words"),
        sum(col("s").cast("long")).as("n_sentences"),
        sum(col("y").cast("long")).as("n_syllables"))
    val w = greatest(col("n_words"), lit(1L)).cast("double")
    val wps = w / col("n_sentences").cast("double")
    val spw = col("n_syllables").cast("double") / w
    agg.select(col("source"), col("n_docs"), col("n_words"),
        col("n_sentences"), col("n_syllables"),
        wps.as("words_per_sentence"), spw.as("syllables_per_word"),
        (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"),
        (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("reading_ease"))
      .orderBy("source")
  }

  val readabilityBySourceSql: String =
    """WITH c AS (
      |  SELECT source,
      |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS w,
      |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS s,
      |    CAST(GREATEST(len(regexp_extract_all(text, '[aeiouy]+')), 1) AS BIGINT) AS y
      |  FROM documents
      |), a AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(w) AS BIGINT) AS n_words,
      |    CAST(SUM(s) AS BIGINT) AS n_sentences,
      |    CAST(SUM(y) AS BIGINT) AS n_syllables
      |  FROM c GROUP BY source
      |), s AS (
      |  SELECT *,
      |    CAST(GREATEST(n_words, 1) AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
      |    CAST(n_syllables AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE) AS spw
      |  FROM a
      |)
      |SELECT source, n_docs, n_words, n_sentences, n_syllables,
      |  wps AS words_per_sentence, spw AS syllables_per_word,
      |  0.39 * wps + 11.8 * spw - 15.59 AS fk_grade,
      |  206.835 - 1.015 * wps - 84.6 * spw AS reading_ease
      |FROM s ORDER BY source""".stripMargin

  /** The [0,1] quality score as a reusable column over `text`. */
  private[graft] def qualityScoreCol: Column = {
    val toks = tokens(col("text"))
    val nWords = size(toks)
    val stopRatio = countIn(toks, Stopwords).cast("double") / greatest(nWords, lit(1)).cast("double")
    val avgWordLen = length(col("text")).cast("double") / greatest(nWords, lit(1)).cast("double")
    least(nWords.cast("double") / lit(100.0), lit(1.0)) * lit(0.4) +
      stopRatio * lit(0.3) +
      when(avgWordLen.between(3.0, 8.0), lit(1.0)).otherwise(lit(0.0)) * lit(0.3)
  }

  /** Document quality scoring: length, stopword ratio, word-shape
    * heuristics → one [0,1] score (the classic pre-training quality
    * filter stack: length/punct/stopword ratios). */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nWords = size(toks)
    val stopRatio = countIn(toks, Stopwords).cast("double") / greatest(nWords, lit(1)).cast("double")
    val avgWordLen = length(col("text")).cast("double") / greatest(nWords, lit(1)).cast("double")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"), col("lang"),
        nWords.as("word_count"),
        stopRatio.as("stopword_ratio"),
        avgWordLen.as("avg_word_len"),
        qualityScoreCol.as("quality_score"))
      .orderBy("doc_id")
  }

  val qualityScoreSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""SELECT doc_id, lang,
       |  CAST($nWords AS INT) AS word_count,
       |  $stopR AS stopword_ratio,
       |  $awl AS avg_word_len,
       |  LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |    (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Encoding-corruption ("garbage"/mojibake) detection — the
    * orthogonal axis to qualityScore's LINGUISTIC signals: control
    * characters (anything below 0x20 except tab/newline/CR), U+FFFD
    * replacement characters (the tombstone a broken decode leaves),
    * and a letter-ratio collapse (binary-as-text, OCR line noise).
    * Narrow map, zero shuffle; every count is a length difference
    * after deleting one character class (identical arithmetic in both
    * engines — no engine-specific regex-count function), the ratios
    * are single divisions of those integers. The flag is the standard
    * pre-filter: any hard corruption marker, or <40% letters on a
    * ≥20-char doc (short docs are exempt — "3x + 7 = 19" is fine). */
  def garbageScore(spark: SparkSession, dir: String): DataFrame = {
    def without(pattern: String): Column =
      length(col("text")) - length(regexp_replace(col("text"), pattern, ""))
    val nChars = length(col("text"))
    val nCtrl = without("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    val nRepl = without("\uFFFD")
    val nLetters = without("[A-Za-z]")
    val letterRatio = nLetters.cast("double") / greatest(nChars, lit(1)).cast("double")
    val garbage = nCtrl > 0 || nRepl > 0 ||
      (nChars >= 20 && letterRatio < lit(0.4))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nChars.as("n_chars"),
        nCtrl.cast("int").as("n_ctrl"),
        nRepl.cast("int").as("n_replacement"),
        letterRatio.as("letter_ratio"),
        garbage.cast("int").as("is_garbage"))
      .orderBy("doc_id")
  }

  val garbageScoreSql: String = {
    def without(pattern: String) =
      s"length(text) - length(regexp_replace(text, '$pattern', '', 'g'))"
    val nCtrl = without("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]")
    val nRepl = without("\\x{fffd}")
    val nLetters = without("[A-Za-z]")
    val letterR = s"CAST(($nLetters) AS DOUBLE) / CAST(GREATEST(length(text), 1) AS DOUBLE)"
    s"""SELECT doc_id,
       |  CAST(length(text) AS INT) AS n_chars,
       |  CAST($nCtrl AS INT) AS n_ctrl,
       |  CAST($nRepl AS INT) AS n_replacement,
       |  $letterR AS letter_ratio,
       |  CAST(CASE WHEN ($nCtrl) > 0 OR ($nRepl) > 0
       |    OR (length(text) >= 20 AND $letterR < 0.4) THEN 1 ELSE 0 END AS INT) AS is_garbage
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  /** The predicted-language column (argmax with fixed precedence). */
  private[graft] def predictedLangCol: Column = {
    val toks = tokens(col("text"))
    val scores = Markers.map { case (l, ws) => l -> countIn(toks, ws) }
    scores.foldRight(lit("und"): Column) { case ((l, s), els) =>
      when(s > lit(0) && scores.filter(_._1 != l).map(_._2).foldLeft(lit(true): Column)((acc, o) => acc && s >= o), lit(l)).otherwise(els)
    }
  }

  /** Marker-token language ID (n-gram heuristic): score = marker-token
    * hits per language, argmax with fixed precedence. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val scores = Markers.map { case (l, ws) => l -> countIn(toks, ws) }
    val predicted = predictedLangCol
    Tables.documents(spark, dir)
      .select(Seq(col("doc_id"), col("lang").as("actual_lang")) ++
        scores.map { case (l, s) => s.cast("int").as(s"score_$l") } :+
        predicted.as("predicted_lang"): _*)
      .orderBy("doc_id")
  }

  /** The predicted-language CASE expression in oracle SQL. */
  private def sqlPredictedLang: String = {
    val scoreExprs = Markers.map { case (l, ws) => l -> sqlCountIn(ws) }
    val preds = scoreExprs.map { case (l, e) =>
      val others = scoreExprs.filter(_._1 != l).map(_._2)
      s"WHEN $e > 0 AND ${others.map(o => s"$e >= $o").mkString(" AND ")} THEN '$l'"
    }.mkString("\n    ")
    s"CASE $preds ELSE 'und' END"
  }

  val langIdSql: String = {
    val scoreExprs = Markers.map { case (l, ws) => l -> sqlCountIn(ws) }
    s"""SELECT doc_id, lang AS actual_lang,
       |  ${scoreExprs.map { case (l, e) => s"CAST($e AS INT) AS score_$l" }.mkString(",\n  ")},
       |  $sqlPredictedLang AS predicted_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Language-ID confusion matrix — declared label × heuristic
    * prediction, with each cell's share of its declared-label row: the
    * census that says WHERE to trust which label (a big en→und cell
    * means short docs starve the marker heuristic; off-diagonal mass
    * between related languages flags marker overlap). The evaluation
    * closure of text_langid the way markov_next_event closes
    * session_transitions.
    *
    * Scale shape: one narrow prediction projection (the same fused
    * when-chain as text_langid), one |langs|²-bounded rollup, and the
    * row-share window runs over that tiny frame. */
  def langidConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .select(col("lang").as("actual_lang"), predictedLangCol.as("predicted_lang"),
        col("n_chars"))
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("total_chars"))
      .withColumn("row_share_pct",
        col("docs").cast("double")
          / sum(col("docs")).over(Window.partitionBy("actual_lang")).cast("double")
          * lit(100))
      .orderBy("actual_lang", "predicted_lang")
  }

  val langidConfusionSql: String =
    s"""WITH cells AS (
       |  SELECT lang AS actual_lang, $sqlPredictedLang AS predicted_lang,
       |    COUNT(*) AS docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
       |  FROM documents GROUP BY 1, 2
       |)
       |SELECT actual_lang, predicted_lang, docs, total_chars,
       |  CAST(docs AS DOUBLE)
       |    / CAST(SUM(docs) OVER (PARTITION BY actual_lang) AS DOUBLE) * 100 AS row_share_pct
       |FROM cells
       |ORDER BY actual_lang, predicted_lang""".stripMargin

  /** Polynomial rolling-hash fingerprint over the document's characters
    * (mod 1e9+7) — a portable content fingerprint computed with
    * higher-order aggregate, identical in Spark and the oracle. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        aggregate(
          transform(filter(split(col("text"), ""), c => c =!= ""), c => ascii(c).cast("long")),
          lit(0L),
          (acc, x) => (acc * lit(31L) + x) % lit(1000000007L)).as("fingerprint"),
        length(col("text")).as("char_count"))
      .orderBy("doc_id")

  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fingerprint,
      |  CAST(length(text) AS INT) AS char_count
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sampling — the corpus-balancing step of
    * a training-data pipeline (e.g. downsample the dominant language).
    * The strata rates are applied with a modulus on the stable doc id,
    * so the sample is reproducible across runs/retries and needs no
    * shuffle at all (a pure pushed-down filter; `sample()` would be
    * seed-dependent per partitioning). */
  def sampleStratified(spark: SparkSession, dir: String,
                       rates: Map[String, Int] = Map("en" -> 5), defaultRate: Int = 2): DataFrame = {
    val keep = rates.foldLeft(lit(defaultRate)) { case (acc, (l, r)) =>
      when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(10)) < keep)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  val sampleStratifiedSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE doc_id % 10 < (CASE WHEN lang = 'en' THEN 5 ELSE 2 END)
      |ORDER BY doc_id""".stripMargin

  /** Per-language corpus stats (grouped rollup over derived metrics). */
  def statsByLang(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("source")).as("distinct_sources"))
      .orderBy("lang")

  val statsByLangSql: String =
    """SELECT lang, COUNT(*) AS doc_count, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      |  COUNT(DISTINCT source) AS distinct_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Per-source corpus mix report — the token-budget table behind
    * every data-mixing decision (how much of the training budget each
    * source occupies, in docs AND in tokens; doc share and token
    * share diverge whenever sources have different document lengths).
    * Companion to sample_weighted_sources, which RESAMPLES to target
    * shares; this op MEASURES the current shares.
    *
    * Scale shape: one scan, one map-side-combined aggregate to
    * |sources| rows; the share window runs over that aggregated frame
    * only (a single-partition exchange of a handful of rows — never
    * of documents). */
  def sourceMix(spark: SparkSession, dir: String): DataFrame =
    sourceMixFrom(Tables.documents(spark, dir))

  def sourceMixFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    docs
      .select(col("source"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("bigint").as("toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("doc_count"), sum(col("toks")).as("token_count"))
      .withColumn("doc_share",
        col("doc_count").cast("double") / sum(col("doc_count")).over(w).cast("double") * lit(100))
      .withColumn("token_share",
        col("token_count").cast("double") / sum(col("token_count")).over(w).cast("double") * lit(100))
      .orderBy("source")
  }

  val sourceMixSql: String =
    """WITH per_source AS (
      |  SELECT source, COUNT(*) AS doc_count,
      |    CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS token_count
      |  FROM documents GROUP BY source
      |)
      |SELECT source, doc_count, token_count,
      |  CAST(doc_count AS DOUBLE) / CAST(SUM(doc_count) OVER () AS DOUBLE) * 100 AS doc_share,
      |  CAST(token_count AS DOUBLE) / CAST(SUM(token_count) OVER () AS DOUBLE) * 100 AS token_share
      |FROM per_source ORDER BY source""".stripMargin

  /** Quality-decile token budget per source — the curriculum /
    * quality-mixing companion to sourceMix: how the corpus's token
    * budget distributes across quality-score deciles WITHIN each
    * source. This is the table behind threshold picking ("what
    * fraction of tokens does quality ≥ 0.5 keep, per source?") and
    * quality-curriculum schedules (sample high buckets late). Bucket
    * = floor(score×10) clamped to 9; score doubles are bit-identical
    * across engines (text_quality_score is hash-green), so the floor
    * lands in the same bucket on both sides.
    *
    * Scale shape: identical to sourceMix — one scan, one map-side-
    * combined aggregate to |sources|×10 rows; the share window moves
    * only that aggregated frame. */
  def qualityBuckets(spark: SparkSession, dir: String): DataFrame =
    qualityBucketsFrom(Tables.documents(spark, dir))

  def qualityBucketsFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    docs
      .select(col("source"),
        least(floor(qualityScoreCol * 10).cast("int"), lit(9)).as("quality_bucket"),
        size(tokens(col("text"))).cast("bigint").as("toks"))
      .groupBy(col("source"), col("quality_bucket"))
      .agg(count(lit(1)).as("doc_count"), sum(col("toks")).as("token_count"))
      .withColumn("token_share",
        col("token_count").cast("double") / sum(col("token_count")).over(w).cast("double") * lit(100))
      .orderBy("source", "quality_bucket")
  }

  val qualityBucketsSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""WITH scored AS (
       |  SELECT source,
       |    CAST(LEAST(CAST(FLOOR((LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |      (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3) * 10) AS INT), 9)
       |      AS INTEGER) AS quality_bucket,
       |    CAST($nWords AS BIGINT) AS toks
       |  FROM documents
       |), per AS (
       |  SELECT source, quality_bucket, COUNT(*) AS doc_count,
       |    CAST(SUM(toks) AS BIGINT) AS token_count
       |  FROM scored GROUP BY 1, 2
       |)
       |SELECT source, quality_bucket, doc_count, token_count,
       |  CAST(token_count AS DOUBLE) / CAST(SUM(token_count) OVER () AS DOUBLE) * 100
       |    AS token_share
       |FROM per ORDER BY source, quality_bucket""".stripMargin
  }

  /** The end-to-end corpus-cleaning pass (the pipeline every
    * pre-training dataset runs): quality filter + language filter +
    * exact dedup composed in ONE plan — quality score and language ID
    * are free riders in the same projection as the scan, and the only
    * shuffle is the dedup-keeper window on the content hash. At 100 TB
    * this is a single scan + single exchange; running the three
    * operators separately would triple the scan and materialize two
    * intermediate corpora. */
  def cleanCorpus(spark: SparkSession, dir: String, minQuality: Double = 0.5,
                  langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        qualityScoreCol.as("quality_score"),
        predictedLangCol.as("predicted_lang"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("quality_score") >= minQuality &&
        col("predicted_lang").isin(langs.map(lit(_)): _*) &&
        col("doc_id") === col("keeper"))
      .select(col("doc_id"), col("lang"), col("predicted_lang"),
        col("quality_score"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** The cleaning pass with decontamination: everything cleanCorpus
    * gates PLUS exclusion of docs whose trigram overlap with the
    * held-out benchmark set reaches `tau` (eval-set leakage — the
    * filter every honest pre-training corpus runs so benchmark
    * answers don't end up in the training mix). Benchmark member
    * docs themselves are excluded too. Plan: the contamination pass
    * (gram scan + broadcast benchmark grams) reduces to a SMALL
    * contaminated-id set that anti-joins the cleaning plan broadcast —
    * the corpus never reshuffles for the exclusion. */
  def cleanCorpusDecontaminated(spark: SparkSession, dir: String,
      minQuality: Double = 0.5, langs: Seq[String] = Seq("en", "es", "de", "fr"),
      modulus: Int = 97, tau: Double = 0.3): DataFrame = {
    val contaminated = contaminationCheck(spark, dir, modulus)
      .filter(col("contamination_frac") >= tau)
      .select(col("doc_id").as("bad_id"))
    cleanCorpus(spark, dir, minQuality, langs)
      .filter(col("doc_id") % modulus =!= 0)
      .join(broadcast(contaminated), col("doc_id") === col("bad_id"), "left_anti")
      .orderBy("doc_id")
  }

  val cleanCorpusDecontaminatedSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    unnest(list_distinct(list_transform(range(1, greatest(len(words)-2, 0) + 1),
       |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS gram
       |  FROM w
       |), bench AS (
       |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
       |), corpus AS (
       |  SELECT * FROM g WHERE doc_id % 97 <> 0
       |), cont AS (
       |  SELECT corpus.doc_id
       |  FROM corpus LEFT JOIN bench ON corpus.gram = bench.gram
       |  GROUP BY corpus.doc_id
       |  HAVING CAST(COUNT(bench.gram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) >= 0.3
       |), clean AS (
       |  SELECT doc_id, lang, predicted_lang, quality_score, n_chars
       |  FROM (
       |    SELECT doc_id, lang, n_chars,
       |      LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |        (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score,
       |      $sqlPredictedLang AS predicted_lang,
       |      MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |    FROM documents
       |  ) t
       |  WHERE quality_score >= 0.5
       |    AND predicted_lang IN ('en', 'es', 'de', 'fr')
       |    AND doc_id = keeper
       |)
       |SELECT * FROM clean
       |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
       |ORDER BY doc_id""".stripMargin
  }

  val cleanCorpusSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""SELECT doc_id, lang, predicted_lang, quality_score, n_chars
       |FROM (
       |  SELECT doc_id, lang, n_chars,
       |    LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |      (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score,
       |    $sqlPredictedLang AS predicted_lang,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |  FROM documents
       |) t
       |WHERE quality_score >= 0.5
       |  AND predicted_lang IN ('en', 'es', 'de', 'fr')
       |  AND doc_id = keeper
       |ORDER BY doc_id""".stripMargin
  }

  /** The cleaning pass as a FUNNEL — per-stage drop census over
    * exactly `cleanCorpus`'s gates (same score columns, same keeper
    * window, same thresholds), the observability table a production
    * corpus pipeline alerts on: a langid regression shows up as the
    * language_gate row doubling, an ingest feeding duplicates as
    * exact_dup swelling, long before anyone inspects survivors. Each
    * doc is attributed to its FIRST failing stage (quality →
    * language → exact-dup), so the rows partition the corpus and
    * sum to the input count by construction.
    *
    * Scale shape: identical to cleanCorpus — one scan + the one
    * content-hash keeper exchange — then a ≤4-row stage rollup,
    * zero-filled against the literal stage list (a stage with no
    * drops must REPORT its zero: a silent missing row reads as "gate
    * broken", not "gate clean"), with pct/remaining algebra on the
    * tiny frame (1-row broadcast total). */
  def corpusFunnel(spark: SparkSession, dir: String, minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame =
    corpusFunnelFrom(Tables.documents(spark, dir), minQuality, langs)

  /** The per-doc first-failing-stage classification shared by the
    * corpus-wide and per-source funnels (one definition — the two
    * census grains cannot disagree about a doc's fate). */
  private def funnelStageFrom(docs: DataFrame, minQuality: Double,
      langs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    val src = if (docs.columns.contains("source")) col("source") else lit("all")
    docs
      .select(col("doc_id"), src.as("source"), col("text"),
        qualityScoreCol.as("q"), predictedLangCol.as("pl"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      // null-robust gates: a NULL text scores NULL, every `when`
      // condition evaluates NULL and the doc would fall through to
      // '4_survived' while cleanCorpus's conjunctive filter DROPS it —
      // breaking the pinned survived == cleanCorpus-count invariant.
      // A NULL score/lang fails its gate, exactly as the filter treats it.
      .select(col("source"),
        when(col("q").isNull || col("q") < minQuality, "1_quality_gate")
          .when(col("pl").isNull ||
            !col("pl").isin(langs.map(lit(_)): _*), "2_language_gate")
          .when(col("doc_id") =!= col("keeper"), "3_exact_dup")
          .otherwise("4_survived").as("stage"))
  }

  private[graft] val FunnelStages =
    Seq("1_quality_gate", "2_language_gate", "3_exact_dup", "4_survived")

  private[graft] def corpusFunnelFrom(docs: DataFrame, minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classified = funnelStageFrom(docs, minQuality, langs).select("stage")
    val counts = classified.groupBy("stage").agg(count(lit(1)).as("n_docs"))
    val spark2 = counts.sparkSession
    import spark2.implicits._
    val stages = FunnelStages.toDF("stage")
    val wCum = Window.orderBy("stage")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r15 (guide §2.4): n_input rides a global window over the
    // ≤|stages| frame (every classified stage ∈ FunnelStages, so the
    // left-join loses no counts) — the 1-row agg + crossJoin
    // re-derived the whole corpus classification a second time.
    val wAllStages = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stages.join(counts, Seq("stage"), "left")
      .withColumn("n_docs", coalesce(col("n_docs"), lit(0L)))
      .withColumn("n_input", sum(col("n_docs")).over(wAllStages))
      .withColumn("cum", sum(col("n_docs")).over(wCum))
      .select(col("stage"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_input").cast("double") * 100)
          .as("pct_of_input"),
        // docs still alive after this stage's cut (for the survived
        // row this equals its own count: input − all drops)
        when(col("stage") === "4_survived", col("n_docs"))
          .otherwise(col("n_input") - col("cum")).as("remaining_after"),
        col("n_input"))
      .orderBy("stage")
  }

  /** The funnel at (source × stage) grain — WHICH ingest's
    * quality/language/duplicate mix moved (the row an operator pages
    * on; the corpus-wide funnel says something changed, this says
    * whose feed). Same one-scan classification core as
    * `corpus_funnel` (shared `funnelStageFrom` — the two grains
    * cannot disagree about a doc's fate); the zero-filled
    * |sources|×4 grid is the intended tiny cross join (a gate with
    * no drops in a source must report its zero), per-source shares
    * divide by per-source inputs carried on the grid. */
  def corpusFunnelBySource(spark: SparkSession, dir: String,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame =
    corpusFunnelBySourceFrom(Tables.documents(spark, dir), minQuality, langs)

  private[graft] def corpusFunnelBySourceFrom(docs: DataFrame,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame = {
    val classified = funnelStageFrom(docs, minQuality, langs)
    val counts = classified.groupBy("source", "stage")
      .agg(count(lit(1)).as("n_docs"))
    val spark2 = counts.sparkSession
    import spark2.implicits._
    val perSource = counts.groupBy("source").agg(sum(col("n_docs")).as("source_input"))
    val grid = perSource.crossJoin(broadcast(FunnelStages.toDF("stage")))
    // null-SAFE source join: a NULL-source doc forms a real group in
    // both rollups, and an equi-join would zero its stage rows while
    // its source_input stayed positive — silently breaking the
    // sums-to-the-corpus-wide-funnel invariant
    grid.as("g").join(counts.as("c"),
        col("g.source") <=> col("c.source") && col("g.stage") === col("c.stage"),
        "left")
      .select(col("g.source").as("source"), col("g.stage").as("stage"),
        coalesce(col("c.n_docs"), lit(0L)).as("n_docs"),
        (coalesce(col("c.n_docs"), lit(0L)).cast("double")
          / col("g.source_input").cast("double") * 100).as("pct_of_source"),
        col("g.source_input").as("source_input"))
      .orderBy("source", "stage")
  }

  val corpusFunnelBySourceSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |      (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score,
       |    $sqlPredictedLang AS predicted_lang,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |  FROM documents
       |), classified AS (
       |  SELECT source,
       |    CASE WHEN quality_score IS NULL OR quality_score < 0.5 THEN '1_quality_gate'
       |         WHEN predicted_lang IS NULL OR predicted_lang NOT IN ('en', 'es', 'de', 'fr') THEN '2_language_gate'
       |         WHEN doc_id <> keeper THEN '3_exact_dup'
       |         ELSE '4_survived' END AS stage
       |  FROM scored
       |), counts AS (
       |  SELECT source, stage, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM classified GROUP BY source, stage
       |), per_source AS (
       |  SELECT source, CAST(SUM(n_docs) AS BIGINT) AS source_input FROM counts GROUP BY source
       |), stages(stage) AS (
       |  VALUES ('1_quality_gate'), ('2_language_gate'), ('3_exact_dup'), ('4_survived')
       |)
       |SELECT p.source, s.stage, COALESCE(c.n_docs, 0) AS n_docs,
       |  CAST(COALESCE(c.n_docs, 0) AS DOUBLE) / CAST(p.source_input AS DOUBLE) * 100
       |    AS pct_of_source,
       |  p.source_input
       |FROM per_source p CROSS JOIN stages s
       |LEFT JOIN counts c
       |  ON c.source IS NOT DISTINCT FROM p.source AND c.stage = s.stage
       |ORDER BY p.source, s.stage""".stripMargin
  }

  val corpusFunnelSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |      (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score,
       |    $sqlPredictedLang AS predicted_lang,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
       |  FROM documents
       |), classified AS (
       |  SELECT CASE WHEN quality_score IS NULL OR quality_score < 0.5 THEN '1_quality_gate'
       |              WHEN predicted_lang IS NULL OR predicted_lang NOT IN ('en', 'es', 'de', 'fr') THEN '2_language_gate'
       |              WHEN doc_id <> keeper THEN '3_exact_dup'
       |              ELSE '4_survived' END AS stage
       |  FROM scored
       |), counts AS (
       |  SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs FROM classified GROUP BY stage
       |), stages(stage) AS (
       |  VALUES ('1_quality_gate'), ('2_language_gate'), ('3_exact_dup'), ('4_survived')
       |), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_input FROM counts),
       |filled AS (
       |  SELECT s.stage, COALESCE(c.n_docs, 0) AS n_docs
       |  FROM stages s LEFT JOIN counts c ON s.stage = c.stage
       |)
       |SELECT stage, n_docs,
       |  CAST(n_docs AS DOUBLE) / CAST(n_input AS DOUBLE) * 100 AS pct_of_input,
       |  CASE WHEN stage = '4_survived' THEN n_docs
       |       ELSE n_input - CAST(SUM(n_docs) OVER (ORDER BY stage
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) END
       |    AS remaining_after,
       |  n_input
       |FROM filled CROSS JOIN tot
       |ORDER BY stage""".stripMargin
  }

  /** Quality-threshold sweep — the tuning table for `minQuality`
    * itself (closing the closure set: GapSeconds → gap histogram,
    * salt → key skew, nProbe → recall curve, estThreshold → minhash
    * calibration, minQuality → THIS): for every candidate cut
    * t = b/10, how many docs and what token share survive `score ≥ t`
    * — the cost curve read BEFORE moving the gate (quality_buckets
    * shows where the mass sits per source; this shows what each cut
    * keeps corpus-wide). Suffix-cumulative of the same decile
    * histogram: one doc-grain rollup to ≤10 bucket rows, reverse
    * running sums over that tiny frame, 1-row broadcast totals; exact
    * bigints until the two share divisions. */
  def qualityThresholdCurve(spark: SparkSession, dir: String): DataFrame =
    qualityThresholdCurveFrom(Tables.documents(spark, dir))

  private[graft] def qualityThresholdCurveFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark2 = docs.sparkSession
    import spark2.implicits._
    val hist = docs
      .select(least(floor(qualityScoreCol * 10).cast("int"), lit(9)).as("b"),
        size(tokens(col("text"))).cast("bigint").as("toks"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("docs"), sum(col("toks")).as("toks"))
    val buckets = (0 to 9).toDF("b")
    val filled = buckets.join(hist, Seq("b"), "left")
      .select(col("b"), coalesce(col("docs"), lit(0L)).as("docs"),
        coalesce(col("toks"), lit(0L)).as("toks"))
    val wSuffix = Window.orderBy(desc("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r15 (guide §2.4): totals ride a global window over the 10-row
    // filled frame (the oracle already computes them as SUM() OVER ()
    // FROM filled) — the 1-row agg + crossJoin re-derived the whole
    // doc-grain histogram subtree a second time.
    val wAllB = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    filled
      .withColumn("n_docs", sum(col("docs")).over(wAllB))
      .withColumn("n_toks", sum(col("toks")).over(wAllB))
      .withColumn("surviving_docs", sum(col("docs")).over(wSuffix))
      .withColumn("surviving_tokens", sum(col("toks")).over(wSuffix))
      .select(col("b").as("threshold_decile"),
        (col("b").cast("double") / 10.0).as("min_quality"),
        col("surviving_docs"),
        (col("surviving_docs").cast("double") / col("n_docs").cast("double") * 100)
          .as("doc_pct"),
        col("surviving_tokens"),
        (col("surviving_tokens").cast("double") / col("n_toks").cast("double") * 100)
          .as("token_pct"))
      .orderBy("threshold_decile")
  }

  val qualityThresholdCurveSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""WITH scored AS (
       |  SELECT LEAST(CAST(FLOOR((LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4
       |      + ($stopR) * 0.3
       |      + (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3) * 10)
       |      AS INT), 9) AS b,
       |    $nWords AS toks
       |  FROM documents
       |), hist AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(toks) AS BIGINT) AS toks
       |  FROM scored GROUP BY b
       |), buckets(b) AS (SELECT unnest(range(0, 10))),
       |filled AS (
       |  SELECT CAST(buckets.b AS INT) AS b, COALESCE(hist.docs, 0) AS docs,
       |    COALESCE(hist.toks, 0) AS toks
       |  FROM buckets LEFT JOIN hist ON buckets.b = hist.b
       |), tot AS (
       |  SELECT CAST(SUM(docs) AS BIGINT) AS n_docs, CAST(SUM(toks) AS BIGINT) AS n_toks
       |  FROM filled
       |)
       |SELECT b AS threshold_decile, CAST(b AS DOUBLE) / 10.0 AS min_quality,
       |  CAST(SUM(docs) OVER ws AS BIGINT) AS surviving_docs,
       |  CAST(CAST(SUM(docs) OVER ws AS BIGINT) AS DOUBLE)
       |    / CAST(n_docs AS DOUBLE) * 100 AS doc_pct,
       |  CAST(SUM(toks) OVER ws AS BIGINT) AS surviving_tokens,
       |  CAST(CAST(SUM(toks) OVER ws AS BIGINT) AS DOUBLE)
       |    / CAST(n_toks AS DOUBLE) * 100 AS token_pct
       |FROM filled CROSS JOIN tot
       |WINDOW ws AS (ORDER BY b DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY threshold_decile""".stripMargin
  }

  /** Quality × rarity agreement grid — do the repo's two quality
    * axes agree, and WHERE do they disagree (the manual-review-queue
    * selector): the rule score judges FORM (length, stopwords, word
    * shape), corpus rarity judges CONTENT-TYPICALITY (share of words
    * the corpus rarely uses). The grid's off-diagonal corners are the
    * interesting docs — high-form/high-rarity is novel content OR
    * undetected garbage, low-form/low-rarity is common boilerplate
    * the rule gate is about to throw away. Per (quality decile,
    * rarity decile): doc count and corpus share.
    *
    * Scale shape: the rarity pass's one word-dimension shuffle (the
    * rarityScore frame), the quality score a narrow map, one
    * doc-grain join, rollup to ≤100 cells + a 1-row broadcast total.
    * Exact: both bucket keys floor bit-identical doubles; only
    * integers cross the cell rollup. */
  def qualityRarityGrid(spark: SparkSession, dir: String,
      minCount: Int = 5): DataFrame = {
    val q = Tables.documents(spark, dir)
      .select(col("doc_id"),
        least(floor(qualityScoreCol * 10).cast("int"), lit(9)).as("q_bucket"))
    val r = rarityScore(spark, dir, minCount)
      .select(col("doc_id"),
        least(floor(col("rare_frac") * 10).cast("int"), lit(9)).as("r_bucket"))
    val cells = q.join(r, Seq("doc_id"))
      .groupBy(col("q_bucket"), col("r_bucket"))
      .agg(count(lit(1)).as("n_docs"))
    // r15 (guide §2.4): window total over the ≤100-cell grid — the
    // 1-row agg + crossJoin re-derived the q⋈r doc join a second time.
    val wAllCells = org.apache.spark.sql.expressions.Window.partitionBy()
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    cells
      .withColumn("n_total", sum(col("n_docs")).over(wAllCells))
      .select(col("q_bucket"), col("r_bucket"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double")).as("share"))
      .orderBy("q_bucket", "r_bucket")
  }

  val qualityRarityGridSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""WITH q AS (
       |  SELECT doc_id, LEAST(CAST(FLOOR((LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4
       |      + ($stopR) * 0.3
       |      + (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3) * 10)
       |      AS INT), 9) AS q_bucket
       |  FROM documents
       |), words AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents
       |), freq AS (
       |  SELECT word AS fword, COUNT(*) AS freq FROM words GROUP BY word
       |), r AS (
       |  SELECT doc_id, LEAST(CAST(FLOOR(
       |      CAST(COUNT(*) FILTER (WHERE freq < 5) AS DOUBLE)
       |        / CAST(COUNT(*) AS DOUBLE) * 10) AS INT), 9) AS r_bucket
       |  FROM words JOIN freq ON word = fword
       |  GROUP BY doc_id
       |), cells AS (
       |  SELECT q_bucket, r_bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM q JOIN r USING (doc_id)
       |  GROUP BY 1, 2
       |)
       |SELECT CAST(q_bucket AS INT) AS q_bucket, CAST(r_bucket AS INT) AS r_bucket,
       |  n_docs,
       |  CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER () AS DOUBLE) AS share
       |FROM cells
       |ORDER BY q_bucket, r_bucket""".stripMargin
  }

  /** PII patterns shared by the Spark op and the oracle — kept to the
    * regex subset Java and RE2 agree on (no backrefs, no lookaround). */
  private[graft] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val PhoneRe = """\b\d{2,4}[-.]\d{3,4}[-.]\d{4}\b"""
  private[graft] val IpRe    = """\b(?:\d{1,3}\.){3}\d{1,3}\b"""

  /** PII scrubbing — the redaction pass every shared training corpus
    * needs before release: emails, phone-shaped numbers, and IPv4
    * addresses replaced with typed placeholder tokens, plus a per-doc
    * redaction count for audit. A pure narrow map (regex projections,
    * no shuffle); the patterns are sequential REPLACEs over the text
    * while the counts are taken from the ORIGINAL text, so overlapping
    * matches are counted consistently in both engines. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    def hits(re: String) = size(expr(s"regexp_extract_all(text, '${re.replace("\\", "\\\\")}', 0)"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), scrubbed.as("clean_text"),
        (hits(EmailRe) + hits(PhoneRe) + hits(IpRe)).cast("bigint").as("n_redactions"))
      .orderBy("doc_id")
  }

  /** The same scrub over an arbitrary (id, text) frame — the reusable
    * entry for corpora that don't come from the documents table. */
  private[graft] def piiScrubText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")

  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '<EMAIL>', 'g'),
       |    '$PhoneRe', '<PHONE>', 'g'),
       |    '$IpRe', '<IP>', 'g') AS clean_text,
       |  CAST(len(regexp_extract_all(text, '$EmailRe'))
       |     + len(regexp_extract_all(text, '$PhoneRe'))
       |     + len(regexp_extract_all(text, '$IpRe')) AS BIGINT) AS n_redactions
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-source PII census — the report BEFORE the scrub (where is
    * the PII coming from; which ingest needs upstream fixing), per
    * type: emails, phone numbers, IPs, documents carrying any, with
    * the carrying-rate. Same three regexes as text_pii_scrub so the
    * census and the scrub cannot disagree. A pure narrow projection
    * into a \|sources\|-row rollup — embarrassingly parallel. */
  def piiCensus(spark: SparkSession, dir: String): DataFrame = {
    def hits(re: String) =
      size(expr(s"regexp_extract_all(text, '${re.replace("\\", "\\\\")}', 0)")).cast("bigint")
    Tables.documents(spark, dir)
      .select(col("source"), hits(EmailRe).as("e"), hits(PhoneRe).as("p"), hits(IpRe).as("i"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        count(when(col("e") + col("p") + col("i") > 0, 1)).as("docs_with_pii"),
        sum(col("e")).as("emails"),
        sum(col("p")).as("phones"),
        sum(col("i")).as("ips"))
      .withColumn("pii_doc_rate",
        col("docs_with_pii").cast("double") / col("docs").cast("double") * lit(100))
      .orderBy("source")
  }

  val piiCensusSql: String =
    s"""WITH h AS (
       |  SELECT source,
       |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS e,
       |    CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS p,
       |    CAST(len(regexp_extract_all(text, '$IpRe')) AS BIGINT) AS i
       |  FROM documents
       |)
       |SELECT source, COUNT(*) AS docs,
       |  COUNT(*) FILTER (WHERE e + p + i > 0) AS docs_with_pii,
       |  CAST(SUM(e) AS BIGINT) AS emails, CAST(SUM(p) AS BIGINT) AS phones,
       |  CAST(SUM(i) AS BIGINT) AS ips,
       |  CAST(COUNT(*) FILTER (WHERE e + p + i > 0) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) * 100 AS pii_doc_rate
       |FROM h GROUP BY source ORDER BY source""".stripMargin

  /** The split-assignment column — shared by `corpusSplit` and
    * `CorpusPipeline`'s partitioned write so the two can't drift. */
  private[graft] def splitCol(id: Column): Column = {
    val b = substring(md5(id.cast("string").cast("binary")), 1, 1)
    when(b <= "9" || b === "a" || b === "b", "train")
      .when(b.isin("c", "d"), "val")
      .otherwise("test")
  }

  /** Deterministic train/val/test split census — assignment is a pure
    * function of the stable doc id (first hex char of its md5), so the
    * split is reproducible across runs, engines, and repartitioning,
    * and membership never flips when the corpus grows (no count-based
    * percentile cut, which would reassign docs on every append).
    * 12/16 hex chars → train (75%), 2 → val, 2 → test. Zero-shuffle
    * assignment; one aggregate for the census. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitCol(col("doc_id")))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("n_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("split")

  val corpusSplitSql: String =
    """SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM (
      |  SELECT n_chars, source,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9'
      |           OR substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('a', 'b') THEN 'train'
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c', 'd') THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents
      |) t GROUP BY split ORDER BY split""".stripMargin

  /** Seeded deterministic corpus shuffle — the reproducible
    * training-order primitive: every doc gets a shuffle key =
    * md5(seed:doc_id) and a shard = the key's first hex nibble (16
    * shards), so the epoch's global read order (shard, key) is a pure
    * function of (seed, doc_id) — identical across runs, engines,
    * partitionings, and appends, and a NEW seed ("epoch1") is a fresh
    * independent permutation. This is what makes training runs
    * resumable and ablations comparable; rand()-based shuffles
    * reshuffle on every retry of a failed stage.
    *
    * Scale shape: key + shard assignment is a zero-shuffle narrow
    * projection. The registered query materializes the full order for
    * verification via one range exchange (sampled range partitioner —
    * parallel, no single reducer); a production epoch write skips even
    * that: `partitionBy(shard)` + `sortWithinPartitions(shuffle_key)`
    * gives the same order shard-by-shard. */
  def corpusShuffle(spark: SparkSession, dir: String, seed: String = "epoch0"): DataFrame =
    corpusShuffleFrom(Tables.documents(spark, dir), seed)

  def corpusShuffleFrom(docs: DataFrame, seed: String = "epoch0"): DataFrame =
    docs
      .select(col("doc_id"),
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")).cast("binary"))
          .as("shuffle_key"))
      .select(substring(col("shuffle_key"), 1, 1).as("shard"),
        col("doc_id"), col("shuffle_key"))
      .orderBy("shard", "shuffle_key", "doc_id")

  val corpusShuffleSql: String =
    """SELECT substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
      |  doc_id,
      |  md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      |FROM documents
      |ORDER BY shard, shuffle_key, doc_id""".stripMargin

  /** Domain mixing — per-source target sampling rates (in 1/16 units
    * for exactness) applied via a deterministic md5 bucket of the doc
    * id, the distributed form of the "mix web/code/books at fixed
    * ratios" step of pre-training data prep. Like `corpusSplit` the
    * keep decision is a pure per-row function (no shuffle, no seed
    * drift); the census reports realized vs target rates per source. */
  /** Greedy token-budget mix plan across sources — the allocation
    * mechanics of data mixing: rank sources by a deterministic prose
    * proxy (stopword share — exact integer counts divided once at the
    * end; a real LM quality rank is libm territory and stays with the
    * rows-only scorers), then fill a token budget (default: half the
    * corpus) best-source-first, taking each source whole until the
    * budget clips the marginal one (the fractional knapsack solution
    * under a single budget constraint). `alloc_frac` is the per-source
    * sampling rate a downstream `sample_weighted_sources`-style pass
    * would apply. One corpus pass to source grain; the rank/cumsum
    * windows run on the |sources| frame (bounded — lint-allowlisted).
    * Full SQL: counts, integer cumsum, one exact division per source. */
  def corpusMixPlan(spark: SparkSession, dir: String,
      budgetFrac: Double = 0.5): DataFrame =
    corpusMixPlanFrom(Tables.documents(spark, dir), budgetFrac)

  def corpusMixPlanFrom(docs: DataFrame, budgetFrac: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // budgetFrac is interpreted at basis-point precision and the
    // budget computed as (total · bps) div 10000 in EXACT integer
    // arithmetic — floor(double(total) · frac) loses ulps past 2^53
    // tokens and could disagree with mixBudgetCurve's integer grid at
    // the 50% point on a very large corpus. Long multiply is safe to
    // ~9.2e14 total tokens (≫ any corpus this runs on; 100 TB of text
    // is ~2.5e13 tokens).
    val bps: Long = math.round(budgetFrac * 10000)
    require(bps >= 0L && bps <= 10000L,
      s"budgetFrac must be in [0, 1]: $budgetFrac")
    val toks = tokens(col("text"))
    val perSource = docs
      .filter(col("text").isNotNull)
      .select(col("source"), size(toks).as("nw"),
        countIn(toks, Stopwords).as("st"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).cast("long").as("n_tokens"),
        sum(col("st")).cast("long").as("stop_tokens"))
      .withColumn("stop_share",
        col("stop_tokens").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
    val wAll = Window.partitionBy(lit(1))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("stop_share").desc, col("source").asc)
    perSource
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("budget", expr(s"(total * ${bps}L) div 10000"))
      .drop("total")
      .withColumn("mix_rank", row_number().over(wRank))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          wRank.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("alloc_tokens",
        least(col("n_tokens"),
          greatest(col("budget") - col("cum_before"), lit(0L))))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("stop_share"), col("mix_rank"), col("alloc_tokens"),
        (col("alloc_tokens").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")).as("alloc_frac"))
      .orderBy("mix_rank")
  }

  def corpusMixPlanSql(budgetFrac: Double = 0.5): String = {
    val bps: Long = math.round(budgetFrac * 10000)
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    s"""WITH s AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM($nWords) AS BIGINT) AS n_tokens,
       |    CAST(SUM(${sqlCountIn(Stopwords)}) AS BIGINT) AS stop_tokens
       |  FROM documents WHERE text IS NOT NULL
       |  GROUP BY source
       |), r AS (
       |  SELECT source, n_docs, n_tokens,
       |    CAST(stop_tokens AS DOUBLE) / CAST(GREATEST(n_tokens, 1) AS DOUBLE)
       |      AS stop_share,
       |    (CAST(SUM(n_tokens) OVER () AS BIGINT) * $bps) // 10000 AS budget
       |  FROM s
       |), k AS (
       |  SELECT *,
       |    CAST(ROW_NUMBER() OVER w AS INT) AS mix_rank,
       |    CAST(COALESCE(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM r
       |  WINDOW w AS (ORDER BY stop_share DESC, source ASC)
       |)
       |SELECT source, n_docs, n_tokens, stop_share, mix_rank,
       |  LEAST(n_tokens, GREATEST(budget - cum_before, 0)) AS alloc_tokens,
       |  CAST(LEAST(n_tokens, GREATEST(budget - cum_before, 0)) AS DOUBLE)
       |    / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS alloc_frac
       |FROM k ORDER BY mix_rank""".stripMargin
  }

  /** [[corpusMixPlan]] swept over a budget GRID — the threshold-curve
    * sibling (ppl_threshold_curve / quality_threshold_curve pattern)
    * for data mixing: per (budget_pct ∈ 10..90 step 10, source), the
    * allocation the greedy fill gives, so the "how much junk enters at
    * what budget" conversation reads one table instead of nine runs.
    * Same single corpus pass to source grain; the grid explode is
    * 9×|sources| rows. Budget per row = floor(total · pct / 100) in
    * EXACT integer arithmetic (no double rounding anywhere on the
    * grid). Full SQL. */
  def mixBudgetCurve(spark: SparkSession, dir: String): DataFrame =
    mixBudgetCurveFrom(Tables.documents(spark, dir))

  def mixBudgetCurveFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = tokens(col("text"))
    val perSource = docs
      .filter(col("text").isNotNull)
      .select(col("source"), size(toks).as("nw"),
        countIn(toks, Stopwords).as("st"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).cast("long").as("n_tokens"),
        sum(col("st")).cast("long").as("stop_tokens"))
      .withColumn("stop_share",
        col("stop_tokens").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
    val wAll = Window.partitionBy(lit(1))
    val wRank = Window.partitionBy(lit(1))
      .orderBy(col("stop_share").desc, col("source").asc)
    perSource
      .withColumn("total", sum(col("n_tokens")).over(wAll))
      .withColumn("mix_rank", row_number().over(wRank))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(
          wRank.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("n_tokens"), col("mix_rank"),
        col("total"), col("cum_before"),
        explode(expr("sequence(10, 90, 10)")).as("budget_pct"))
      .withColumn("budget",
        expr("(total * CAST(budget_pct AS BIGINT)) div 100"))
      .withColumn("alloc_tokens",
        least(col("n_tokens"),
          greatest(col("budget") - col("cum_before"), lit(0L))))
      .select(col("budget_pct"), col("source"), col("mix_rank"),
        col("n_tokens"), col("alloc_tokens"),
        (col("alloc_tokens").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")).as("alloc_frac"))
      .orderBy("budget_pct", "mix_rank")
  }

  val mixBudgetCurveSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    s"""WITH s AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM($nWords) AS BIGINT) AS n_tokens,
       |    CAST(SUM(${sqlCountIn(Stopwords)}) AS BIGINT) AS stop_tokens
       |  FROM documents WHERE text IS NOT NULL
       |  GROUP BY source
       |), k AS (
       |  SELECT source, n_tokens,
       |    CAST(ROW_NUMBER() OVER w AS INT) AS mix_rank,
       |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS total,
       |    CAST(COALESCE(SUM(n_tokens) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM (
       |    SELECT *, CAST(stop_tokens AS DOUBLE)
       |      / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS stop_share
       |    FROM s)
       |  WINDOW w AS (ORDER BY stop_share DESC, source ASC)
       |), g AS (
       |  SELECT k.*, CAST(gp.budget_pct AS INT) AS budget_pct,
       |    (total * gp.budget_pct) // 100 AS budget
       |  FROM k, (SELECT unnest(generate_series(10, 90, 10)) AS budget_pct) gp
       |)
       |SELECT budget_pct, source, mix_rank, n_tokens,
       |  LEAST(n_tokens, GREATEST(budget - cum_before, 0)) AS alloc_tokens,
       |  CAST(LEAST(n_tokens, GREATEST(budget - cum_before, 0)) AS DOUBLE)
       |    / CAST(GREATEST(n_tokens, 1) AS DOUBLE) AS alloc_frac
       |FROM g ORDER BY budget_pct, mix_rank""".stripMargin
  }

  def sampleWeightedSources(spark: SparkSession, dir: String,
                            sixteenths: Map[String, Int] = Map("src0" -> 16, "src1" -> 8, "src2" -> 4),
                            defaultSixteenths: Int = 2): DataFrame = {
    val c = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val bucket16 = when(c <= "9", ascii(c) - 48).otherwise(ascii(c) - 87)
    val rate = sixteenths.foldLeft(lit(defaultSixteenths)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("kept", (bucket16 < rate).cast("int"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("kept")).cast("bigint").as("n_kept"),
        (sum(col("kept")).cast("double") / count(lit(1))).as("realized_rate"))
      .orderBy("source")
  }

  val sampleWeightedSourcesSql: String =
    """SELECT source, COUNT(*) AS n_total, CAST(SUM(kept) AS BIGINT) AS n_kept,
      |  CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS realized_rate
      |FROM (
      |  SELECT source,
      |    CASE WHEN (CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9'
      |                    THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48
      |                    ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END)
      |             < (CASE WHEN source = 'src0' THEN 16 WHEN source = 'src1' THEN 8
      |                     WHEN source = 'src2' THEN 4 ELSE 2 END)
      |         THEN 1 ELSE 0 END AS kept
      |  FROM documents
      |) t GROUP BY source ORDER BY source""".stripMargin

  /** Deterministic uniform k-sample — bottom-k by a seeded content-
    * independent hash (md5(seed:doc_id)): every doc's rank key is a
    * pure function of (seed, doc_id), so the SAME k docs come back
    * across runs, engines, partitionings, and appends-that-don't-
    * displace (a doc leaves the sample only when a lower-keyed doc
    * arrives — bottom-k is a mergeable sketch). A new seed is a fresh
    * independent sample; rand()-based sampling gives none of this.
    *
    * Scale shape: narrow key projection + TakeOrdered top-k (per-
    * partition heaps, k rows to the driver) — no global sort, no
    * shuffle of the corpus. */
  def sampleUniformK(spark: SparkSession, dir: String, k: Int = 200,
                     seed: String = "s0"): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(concat(lit(seed), lit(":"), col("doc_id").cast("string")).cast("binary"))
          .as("rank_key"))
      .orderBy("rank_key", "doc_id")
      .limit(k)

  val sampleUniformKSql: String =
    """SELECT doc_id, source, n_chars,
      |  md5('s0:' || CAST(doc_id AS VARCHAR)) AS rank_key
      |FROM documents
      |ORDER BY rank_key, doc_id
      |LIMIT 200""".stripMargin

  /** Deterministic WEIGHTED k-sampling without replacement — the
    * Efraimidis–Spirakis one-pass scheme (priority sampling): each doc
    * gets key = −ln(u)/w with u a seeded-hash uniform and w its token
    * count; the k SMALLEST keys are a weight-proportional
    * without-replacement sample (key ~ Exponential(w); the minimum of
    * exponentials lands on doc i with probability w_i/Σw). The
    * token-budget sampler pre-training mixtures actually want: long
    * docs proportionally more likely, no doc twice, one pass, and the
    * plan is the proven bottom-k TakeOrdered (per-partition heaps, no
    * corpus shuffle), mergeable/append-stable like sampleUniformK.
    * Full SQL via the libm grid idiom (see textEntropy's Scaladoc): the
    * ONE libm call (−ln u, bounded by 33·ln 2 ≈ 22.9 since u ≥
    * 2⁻³³) quantizes to a 1e-9 integer grid at doc grain before the
    * exact-IEEE division by the integer token weight, so keys — and
    * the (key, doc_id) bottom-k they induce — are bit-identical
    * cross-engine; the spec recomputes the quantized keys driver-side
    * and asserts the exact sample. */
  def sampleWeightedK(spark: SparkSession, dir: String, k: Int = 200,
                      seed: String = "s0"): DataFrame =
    sampleWeightedKFrom(Tables.documents(spark, dir), k, seed)

  def sampleWeightedKFrom(docs: DataFrame, k: Int = 200,
                          seed: String = "s0"): DataFrame = {
    val w = size(tokens(col("text"))).cast("bigint")
    docs
      .select(col("doc_id"), col("source"), w.as("weight"))
      .filter(col("weight") > 0)
      // u ∈ (0,1): first 8 md5 hex digits as a 32-bit integer, +0.5
      // offset so u is never 0 (ln(0) = −∞ would pin the doc first)
      .withColumn("u",
        (conv(substring(md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))
            .cast("binary")), 1, 8), 16, 10).cast("double") + 0.5) / lit(4294967296.0))
      // −ln u on the 1e-9 integer grid (see Scaladoc), then the exact
      // IEEE division by the integer weight — mirrored op-for-op in
      // the DuckDB oracle
      .withColumn("sample_key",
        expr("CAST(CAST(ROUND(-LN(u) * 1000000000.0D) AS BIGINT) AS DOUBLE)" +
          " / 1000000000.0D") / col("weight").cast("double"))
      .drop("u")
      .orderBy("sample_key", "doc_id")
      .limit(k)
  }

  /** DuckDB oracle for [[sampleWeightedKFrom]] at the defaults —
    * identical md5-uniform (the 8-hex prefix parses via
    * `CAST('0x…' AS BIGINT)`, exactly Spark's `conv(…, 16, 10)`),
    * identical 1e-9 −ln grid, identical two-division literal shape,
    * identical (key, doc_id) bottom-k. */
  val sampleWeightedKSql: String =
    """SELECT doc_id, source, weight,
      |  (CAST(CAST(ROUND(-LN((CAST(CAST(('0x' ||
      |      substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
      |      + 0.5) / 4294967296.0) * 1000000000.0) AS BIGINT) AS DOUBLE)
      |    / 1000000000.0) / CAST(weight AS DOUBLE) AS sample_key
      |FROM (
      |  SELECT doc_id, source,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS weight
      |  FROM documents
      |) WHERE weight > 0
      |ORDER BY sample_key, doc_id
      |LIMIT 200""".stripMargin

  /** DSIR-style importance resampling (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023):
    * select candidate docs whose hashed-unigram distribution
    * resembles a TARGET domain — here the corpus's own high-quality
    * seed set (`quality_score ≥ targetQuality`), the practical
    * bootstrap when no external target corpus ships with the
    * pipeline. Per candidate, log importance weight
    * log w(x) = Σ_b c_b(x)·(ln p_t[b] − ln p_r[b]) under add-one-
    * smoothed bucket LMs (B hashed buckets), and selection is Gumbel
    * top-k on log w + g (g = −ln(−ln u), u a seeded md5 uniform) —
    * the exact sampling-without-replacement ∝ softmax(log w) rule,
    * deterministic across runs like every sampler here.
    *
    * Scale shape — the IVF pattern, applied to data selection: the
    * two LM rollups are map-side-combined fact scans whose OUTPUT is
    * ≤ B rows each (B fixed at 4096 — state never grows with the
    * corpus); the driver assembles the B-double log-ratio table and
    * pushes it back as ONE array literal, so scoring is a pure
    * codegen'd narrow fold per doc (token → bucket → ratio lookup —
    * zero fact shuffle, zero join); the top-k is a TakeOrdered heap.
    * The per-doc fold is a deterministic left fold in token order, so
    * log_weight is bit-stable. rows-only (ln is libm); the spec
    * replays one doc's weight driver-exactly and pins the planted
    * preference ordering. */
  def sampleDsir(spark: SparkSession, dir: String, k: Int = 200,
                 targetQuality: Double = 0.6, numBuckets: Int = 4096,
                 seed: String = "s0"): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("quality_score", qualityScoreCol)
    sampleDsirFrom(
      docs.filter(col("quality_score") >= targetQuality),
      docs.filter(col("quality_score") < targetQuality),
      k, numBuckets, seed)
  }

  /** Hashed-unigram bucket counts of a doc frame, rolled to ≤ B rows. */
  private def dsirBucketCounts(docs: DataFrame, numBuckets: Int): Array[Long] = {
    val counts = new Array[Long](numBuckets)
    docs
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .select(pmod(xxhash64(col("w")), lit(numBuckets.toLong)).cast("int").as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect() // ≤ numBuckets rows by construction
      .foreach(r => counts(r.getAs[Int]("b")) = r.getAs[Long]("c"))
    counts
  }

  /** Fit the B-double log-ratio table from a target seed and the
    * candidate pool — the trainable half of DSIR, separated so it can
    * persist as an artifact (`saveDsirModel`) and score streams. */
  def trainDsirRatio(target: DataFrame, candidates: DataFrame,
                     numBuckets: Int = 4096): Array[Double] = {
    val tc = dsirBucketCounts(target, numBuckets)
    val rc = dsirBucketCounts(candidates, numBuckets)
    val (tn, rn) = (tc.sum + numBuckets, rc.sum + numBuckets)
    // add-one smoothing: no bucket zeroes either LM, so the ratio is
    // finite everywhere — an unseen-in-target bucket penalizes, it
    // doesn't veto
    Array.tabulate(numBuckets) { b =>
      math.log((tc(b) + 1).toDouble / tn) - math.log((rc(b) + 1).toDouble / rn)
    }
  }

  /** The shared scoring fold: log w(x) as a codegen'd narrow left
    * fold of the doc's tokens against the ratio-table literal —
    * batch sampling and the streaming admission gate score in
    * IDENTICAL units through this one definition. */
  def dsirLogWeightCol(ratio: Array[Double], text: Column): Column = {
    val ratioLit = typedLit(ratio.toIndexedSeq)
    val bucketOf = (w: Column) => pmod(xxhash64(w), lit(ratio.length.toLong)).cast("int")
    aggregate(tokens(text), lit(0.0),
      (acc, w) => acc + element_at(ratioLit, bucketOf(w) + 1))
  }

  def sampleDsirFrom(target: DataFrame, candidates: DataFrame, k: Int = 200,
                     numBuckets: Int = 4096, seed: String = "s0"): DataFrame =
    sampleDsirWith(candidates, trainDsirRatio(target, candidates, numBuckets), k, seed)

  /** Gumbel-top-k selection under an already-fitted ratio table. */
  def sampleDsirWith(candidates: DataFrame, ratio: Array[Double], k: Int = 200,
                     seed: String = "s0"): DataFrame =
    candidates
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"),
        dsirLogWeightCol(ratio, col("text")).as("log_weight"))
      .filter(col("n_tokens") > 0)
      .withColumn("u",
        (conv(substring(md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))
            .cast("binary")), 1, 8), 16, 10).cast("double") + 0.5) / lit(4294967296.0))
      .withColumn("gumbel_key", col("log_weight") - log(-log(col("u"))))
      .drop("u")
      .orderBy(desc("gumbel_key"), asc("doc_id"))
      .limit(k)

  /** Order-canonical content fingerprint of a ratio table (bucket
    * order, exact double bits). */
  def dsirRatioFp(ratio: Array[Double]): String =
    graft.sources.ArtifactManifest.fp(
      "dsir_model:" + ratio.map(d =>
        java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))).mkString(","))

  /** Persist the fitted ratio table with its compatibility stamp (the
    * saveBpeVocab lifecycle): selection thresholds tuned under one
    * model are meaningless under another, so the gate refuses a
    * swapped artifact rather than admitting with re-denominated
    * scores. */
  def saveDsirModel(spark: SparkSession, ratio: Array[Double], outPath: String,
                    builtFrom: String): Unit = {
    import spark.implicits._
    ratio.zipWithIndex.map { case (r, b) => (b, r) }.toSeq
      .toDF("bucket", "log_ratio").coalesce(1)
      .write.mode("overwrite").parquet(outPath)
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("dsir_model", dsirRatioFp(ratio), builtFrom))
  }

  def loadDsirModel(spark: SparkSession, path: String): (Array[Double], String) = {
    val rows = spark.read.parquet(path)
      .select(col("bucket"), col("log_ratio")).collect() // ≤ B rows
    val ratio = new Array[Double](rows.length)
    rows.foreach(r => ratio(r.getAs[Int]("bucket")) = r.getAs[Double]("log_ratio"))
    val fp = dsirRatioFp(ratio)
    graft.sources.ArtifactManifest.verifyContent(path, "dsir_model", fp)
    (ratio, fp)
  }

  /** DSIR against an EXTERNAL target corpus (the paper's actual
    * deployment: the target is Wikipedia/books, not the raw pool's
    * own quality tail) — same fitted-ratio machinery, the seed just
    * comes from another documents directory. */
  def sampleDsirAgainst(spark: SparkSession, dir: String, targetDir: String,
                        k: Int = 200, numBuckets: Int = 4096,
                        seed: String = "s0"): DataFrame =
    sampleDsirFrom(Tables.documents(spark, targetDir),
      Tables.documents(spark, dir), k, numBuckets, seed)

  /** The k-vs-budget tuning curve — what each selection budget buys
    * (the pack_efficiency pattern applied to data selection): per
    * candidate k, the selected set's mean log weight, its token
    * mass, and the ADMISSION BAR (the k-th Gumbel key — the score a
    * doc must beat to make that budget). Read before fixing k: the
    * knee where mean weight collapses toward the pool's is where the
    * target's look-alikes run out and the budget starts buying
    * ordinary docs.
    *
    * Scale shape: the whole curve derives from ONE scored ranking —
    * the top-max(ks) frame comes off the same TakeOrdered heap the
    * sampler uses (corpus-sized scan, ≤ max(ks)-row result), and
    * every budget is a rank cut of those rows (windows over ≤
    * max(ks) rows by construction; adding a budget costs nothing).
    * rows-only (ln). */
  def dsirBudgetCurve(spark: SparkSession, dir: String,
                      ks: Seq[Int] = Seq(50, 100, 200, 400, 800),
                      targetQuality: Double = 0.6, numBuckets: Int = 4096,
                      seed: String = "s0"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark2 = spark
    import spark2.implicits._
    val top = sampleDsir(spark, dir, ks.max, targetQuality, numBuckets, seed)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(desc("gumbel_key"), asc("doc_id"))))
    ranked
      .join(broadcast(ks.toDF("k")), col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_selected"),
        avg(col("log_weight")).as("mean_log_weight"),
        sum(col("n_tokens")).cast("bigint").as("token_mass"),
        min(col("gumbel_key")).as("admission_bar"))
      .orderBy("k")
  }

  /** The selection's per-source census — which domains DSIR favors:
    * candidate pool vs selected counts, selection rate, and mean log
    * weight per source. The diagnostic read before trusting the
    * sample (a selection that collapses onto one source is measuring
    * that source's quirks, not "quality"). Rides the same scored
    * frame; the census is a ≤|sources| rollup of the k-row sample
    * full-outer'd with the pool census. */
  def dsirSourceShift(spark: SparkSession, dir: String, k: Int = 200): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("quality_score", qualityScoreCol)
    val candidates = docs.filter(col("quality_score") < 0.6)
    val selected = sampleDsir(spark, dir, k)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_selected"),
        avg(col("log_weight")).as("mean_log_weight"))
    candidates
      .groupBy(col("source")).agg(count(lit(1)).as("n_candidates"))
      .join(selected, Seq("source"), "left")
      .select(col("source"), col("n_candidates"),
        coalesce(col("n_selected"), lit(0L)).as("n_selected"),
        (coalesce(col("n_selected"), lit(0L)).cast("double") /
          col("n_candidates").cast("double")).as("selection_rate"),
        col("mean_log_weight"))
      .orderBy(desc("selection_rate"), asc("source"))
  }

  /** Temperature-scaled source mixing at τ = 2 (sqrt temperature —
    * the standard flattening used to up-weight rare sources in
    * pre-training mixtures): target share ∝ √(observed token share),
    * realized by DOWN-sampling every source relative to the one that
    * needs no trimming, through a deterministic 256-bucket md5 gate
    * per doc. Census per source: kept docs/tokens, realized vs target
    * token share.
    *
    * Cross-engine determinism is why τ is fixed at 2: sqrt is IEEE-
    * correctly-rounded in both engines, so the derived rates, the
    * floor to 256ths, and therefore the exact kept set are
    * bit-identical; an arbitrary-τ `pow` is not correctly rounded and
    * could flip a boundary bucket between engines. Two corpus passes
    * by design (shares, then the gate) — at scale the shares come
    * from a metadata table and the second pass is the only scan. */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame =
    sampleTemperatureFrom(Tables.documents(spark, dir))

  def sampleTemperatureFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    val toks = size(tokens(col("text"))).cast("bigint")
    // √share is summed across sources to normalize — a DOUBLE sum
    // whose accumulation order differs between engines, so fix the
    // weights to a 1e15 integer grid first (the embedding_centroids
    // trick): BIGINT sums are exact and order-free, and every derived
    // double is then one identical IEEE expression on both sides.
    val shares = docs
      .select(col("source"), toks.as("toks"))
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("tokens"))
      // a zero-token source would make ratio = 0/0 = NaN, and NaN
      // ordering in MAX differs between engines — such a source has
      // nothing to sample anyway, so drop it before the shares
      .filter(col("tokens") > 0)
      .withColumn("share", col("tokens").cast("double") / sum(col("tokens")).over(w).cast("double"))
      .withColumn("twf", round(sqrt(col("share")) * lit(1e15)).cast("bigint"))
      .withColumn("target_share",
        col("twf").cast("double") / sum(col("twf")).over(w).cast("double"))
      .withColumn("ratio", col("target_share") / col("share"))
      .withColumn("rate", col("ratio") / max(col("ratio")).over(w))
      // clamp to >= 1: a source whose share exceeds ~65536× the
      // rarest source's would round to rate < 1/256 → n256 = 0 and be
      // dropped ENTIRELY — the opposite of down-weighting. One bucket
      // in 256 is the quantization floor, not a sampling statement.
      .withColumn("n256", greatest(lit(1L), floor(col("rate") * 256)).cast("int"))
      .select(col("source").as("src"), col("target_share"), col("n256"))
    val h = md5(col("doc_id").cast("string").cast("binary"))
    def nib(i: Int) = {
      val c = substring(h, i, 1)
      when(c <= "9", ascii(c) - 48).otherwise(ascii(c) - 87)
    }
    val bucket256 = nib(1) * 16 + nib(2)
    docs
      .select(col("source"), toks.as("toks"), bucket256.as("b"))
      .join(broadcast(shares), col("source") === col("src"))
      .withColumn("kept", (col("b") < col("n256")).cast("int"))
      .groupBy(col("source"), col("target_share"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(col("kept")).cast("bigint").as("n_kept"),
        sum(when(col("kept") === 1, col("toks")).otherwise(lit(0L))).cast("bigint")
          .as("tokens_kept"))
      .withColumn("realized_token_share",
        col("tokens_kept").cast("double") / sum(col("tokens_kept")).over(w).cast("double"))
      .select(col("source"), col("n_total"), col("n_kept"), col("tokens_kept"),
        col("target_share"), col("realized_token_share"))
      .orderBy("source")
  }

  val sampleTemperatureSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val nib1 = "(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '9' " +
      "THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 48 " +
      "ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 87 END)"
    val nib2 = "(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 2, 1) <= '9' " +
      "THEN ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 48 " +
      "ELSE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 87 END)"
    s"""WITH shares AS (
       |  SELECT source, CAST(SUM($nWords) AS BIGINT) AS tokens
       |  FROM documents GROUP BY source
       |  HAVING SUM($nWords) > 0
       |), sh AS (
       |  SELECT source,
       |    CAST(tokens AS DOUBLE) / CAST(SUM(tokens) OVER () AS DOUBLE) AS share
       |  FROM shares
       |), fixed AS (
       |  SELECT source, share,
       |    CAST(ROUND(SQRT(share) * 1e15) AS BIGINT) AS twf
       |  FROM sh
       |), rated AS (
       |  SELECT source, share,
       |    CAST(twf AS DOUBLE) / CAST(SUM(twf) OVER () AS DOUBLE) AS target_share
       |  FROM fixed
       |), gated AS (
       |  SELECT source, target_share,
       |    CAST(GREATEST(1, FLOOR((target_share / share) /
       |      MAX(target_share / share) OVER () * 256)) AS INT) AS n256
       |  FROM rated
       |), docs AS (
       |  SELECT d.source, CAST($nWords AS BIGINT) AS toks, g.target_share,
       |    CASE WHEN ($nib1 * 16 + $nib2) < g.n256 THEN 1 ELSE 0 END AS kept
       |  FROM documents d JOIN gated g ON d.source = g.source
       |), census AS (
       |  SELECT source, target_share, COUNT(*) AS n_total,
       |    CAST(SUM(kept) AS BIGINT) AS n_kept,
       |    CAST(SUM(CASE WHEN kept = 1 THEN toks ELSE 0 END) AS BIGINT) AS tokens_kept
       |  FROM docs GROUP BY source, target_share
       |)
       |SELECT source, n_total, n_kept, tokens_kept, target_share,
       |  CAST(tokens_kept AS DOUBLE) / CAST(SUM(tokens_kept) OVER () AS DOUBLE)
       |    AS realized_token_share
       |FROM census ORDER BY source""".stripMargin
  }

  /** Corpus-wide top-k word trigrams with document frequency — the
    * n-gram census behind contamination screening and boilerplate
    * detection. The explode-heavy plan family: flatMap each doc to its
    * trigram OCCURRENCES (not the per-doc distinct sets Jaccard uses),
    * a (gram, doc) count then a gram rollup — both map-side partially
    * aggregated — and a deterministic top-k (count desc, gram asc). At
    * 100 TB the explode's row blow-up is absorbed by partial
    * aggregation before the shuffle, and doc frequency is a plain
    * count at the second level, not a countDistinct (whose Expand
    * would double the exploded rows). */
  def topNgrams(spark: SparkSession, dir: String, k: Int = 50): DataFrame = {
    // two-level plain aggregate: (gram, doc) counts first, so doc_freq
    // degenerates to a plain count — no countDistinct Expand doubling
    // the exploded rows through the shuffle (same rewrite as q21).
    perDocGramCounts(Tables.documents(spark, dir), "n")
      .groupBy(col("gram"))
      .agg(
        sum(col("n")).cast("bigint").as("occurrences"),
        count(lit(1)).as("doc_freq"))
      .orderBy(desc("occurrences"), asc("gram"))
      .limit(k)
  }

  val topNgramsSql: String =
    """SELECT gram, COUNT(*) AS occurrences, COUNT(DISTINCT doc_id) AS doc_freq
      |FROM (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(w) >= 3
      |      THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      |      ELSE [] END) AS gram
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents) b
      |) t
      |GROUP BY gram
      |ORDER BY occurrences DESC, gram ASC
      |LIMIT 50""".stripMargin

  /** Word-trigram occurrence counts at the (gram, doc) grain — the
    * shared first stage of `topNgrams` and `Dedup.substringDup`: one
    * explode of the native one-pass `trigram_strings` (the
    * captured-array HOF form re-split the text per element) into a
    * map-side-combined count, so repeated grams collapse before the
    * shuffle. */
  private[graft] def perDocGramCounts(docs: DataFrame, countAs: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs
      .select(col("doc_id"), explode(call_function("trigram_strings", col("text"))).as("gram"))
      .groupBy(col("gram"), col("doc_id"))
      .agg(count(lit(1)).as(countAs))
  }

  /** Literal query-term set for `keywordSearch` — in production the
    * terms arrive with the search request; literals keep the DuckDB
    * oracle runnable over the same tables. */
  private val SearchTerms = Seq("spark", "vector", "stream", "window")

  /** Inverted-index keyword search: top-k postings per query term with
    * term frequency and document frequency — the retrieval shape of a
    * corpus-curation pipeline (targeted inspection: "show me the docs
    * that mention X most"). The decisive scale move is the term
    * FILTER placed before any aggregation: only postings for the
    * queried terms survive the explode, so the shuffle carries
    * O(matching positions) rows, not the whole inverted index; df is
    * a second-level plain count over distinct (term, doc) rows (no
    * countDistinct Expand), and the per-term df table (≤ #terms rows)
    * is broadcast back. Ranking is deterministic (tf desc, doc_id
    * asc). */
  def keywordSearch(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(SearchTerms: _*))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = postings.groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))
    val w = Window.partitionBy("term").orderBy(desc("tf"), asc("doc_id"))
    postings.join(broadcast(docFreq), "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("term"), col("doc_id"), col("tf"), col("doc_freq"), col("rank"))
      .orderBy("term", "rank")
  }

  val keywordSearchSql: String =
    """WITH p AS (
      |  SELECT term, doc_id, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
      |  ) t WHERE term IN ('spark', 'vector', 'stream', 'window')
      |  GROUP BY 1, 2
      |), d AS (
      |  SELECT term, COUNT(*) AS doc_freq FROM p GROUP BY 1
      |)
      |SELECT term, doc_id, tf, doc_freq, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT p.term, p.doc_id, p.tf, d.doc_freq,
      |    ROW_NUMBER() OVER (PARTITION BY p.term ORDER BY p.tf DESC, p.doc_id ASC) AS rank
      |  FROM p JOIN d USING (term)
      |) q WHERE rank <= 10
      |ORDER BY term, rank""".stripMargin

  /** A tiny "learned" merge vocabulary (the most frequent English
    * bigram merges — the first entries a BPE trainer learns on web
    * text). Literal so the estimator is a pure projection. */
  private val BpeMerges = Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd")

  /** BPE-ish token count estimate — closer to a real subword
    * tokenizer than whitespace counting: start from character-level
    * tokens (whitespace excluded) and subtract one per occurrence of
    * each vocabulary merge, clamped below by the word count (a word
    * never tokenizes to less than one token). Merges are counted
    * independently on the raw text (first-iteration estimate — the
    * sequential-merge fixpoint is the tokenizer's job, not the
    * corpus-stats pass); occurrence counting is the portable
    * length-difference-after-replace, identical in Spark and DuckDB.
    * A pure narrow map. */
  /** Shared estimator columns (also the per-language fertility
    * rollup's input): whitespace word count and the merge-list BPE
    * token estimate. */
  private def wsWordsCol: Column = size(tokens(col("text")))
  private def estBpeTokensCol: Column = {
    val charsNoWs = length(regexp_replace(col("text"), "\\s+", ""))
    val mergeHits = BpeMerges.map(m =>
      (length(col("text")) - length(expr(s"replace(text, '$m', '')"))) / lit(2))
      .reduce(_ + _)
    greatest(wsWordsCol, charsNoWs - mergeHits)
  }

  def bpeEstimate(spark: SparkSession, dir: String): DataFrame = {
    val charsNoWs = length(regexp_replace(col("text"), "\\s+", ""))
    val mergeHits = BpeMerges.map(m =>
      (length(col("text")) - length(expr(s"replace(text, '$m', '')"))) / lit(2))
      .reduce(_ + _)
    val words = size(tokens(col("text")))
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("char_count"),
        words.as("ws_token_count"),
        greatest(words, charsNoWs - mergeHits).cast("int").as("est_bpe_tokens"),
        (length(col("text")).cast("double") /
          greatest(greatest(words, charsNoWs - mergeHits), lit(1)).cast("double"))
          .as("chars_per_bpe_token"))
      .orderBy("doc_id")
  }

  val bpeEstimateSql: String = {
    val occ = BpeMerges.map(m =>
      s"(length(text) - length(replace(text, '$m', ''))) / 2").mkString(" + ")
    val words = "len(string_split_regex(trim(text), '\\s+'))"
    val est = s"GREATEST($words, length(regexp_replace(text, '\\s+', '', 'g')) - ($occ))"
    s"""SELECT doc_id,
       |  CAST(length(text) AS INT) AS char_count,
       |  CAST($words AS INT) AS ws_token_count,
       |  CAST($est AS INT) AS est_bpe_tokens,
       |  CAST(length(text) AS DOUBLE) / CAST(GREATEST($est, 1) AS DOUBLE) AS chars_per_bpe_token
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  final case class BpeMerge(rank: Int, left: String, right: String,
                            merged: String, pair_count: Long)

  /** Distributed BPE VOCABULARY TRAINING — the trained counterpart of
    * `bpeEstimate`'s literal merge list: learn the merge table from
    * the corpus itself, the way a real tokenizer build does. Classic
    * BPE trains on the WORD-FREQUENCY dictionary, not the raw corpus
    * — so the corpus collapses to (word, count) in one shuffle
    * (vocabulary-scale, the same honesty argument as
    * text_rarity_score), each word becomes its character-symbol
    * sequence + an end-of-word marker, and every merge round is a
    * DataFrame aggregate over that frame (the ann_ivf_kmeans
    * iterative-training pattern): adjacent symbol pairs explode into
    * a count-weighted, map-side-combined rollup; the winning pair
    * (count desc, pair asc — fully deterministic) is collected — ONE
    * row per round, like a centroid set — and folded back into the
    * symbol arrays by a pure HOF aggregate (left-to-right,
    * non-overlapping, the BPE merge rule; no UDF). The vocab frame is
    * re-checkpointed per round so k rounds build k shallow plans, not
    * one k-deep plan.
    *
    * At 100 TB the word dictionary is millions of rows — far too big
    * to collect, exactly right as a DataFrame; only k winner rows
    * ever cross the driver. */
  def trainBpeMerges(docs: DataFrame, numMerges: Int = 20,
                     maxPerRound: Int = 1): Seq[BpeMerge] =
    trainBpeMergesCounted(docs, numMerges, maxPerRound)._1

  /** Training with the driver-round count exposed — the multi-merge
    * speedup's measurable quantity (each round is one pair-table
    * aggregate + one collect + one checkpoint; at dictionary scale
    * that ROUND LATENCY, not data volume, is the wall clock).
    *
    * MULTI-MERGE rounds (`maxPerRound` > 1) accept up to m winners
    * from ONE pair table, provably equivalent to single-merge
    * training: candidates are scanned in (count desc, pair asc) order
    * and accepted while NON-INTERACTING with every already-accepted
    * pair — interaction = `cand.left == acc.right || cand.right ==
    * acc.left` (an occurrence of one can consume a symbol of the
    * other) — stopping at the first interacting candidate. Soundness
    * floor: pairs CREATED by an accepted merge (they contain the new
    * symbol) can climb the next round's table, but every such pair's
    * count is bounded by an old INTERACTING witness pair in this
    * round's table (a new `(p, xy)` needs `(p, x)` adjacent, a
    * `(xy, q)` needs `(y, q)`, a `(xy, xy)` needs `(y, x)`), so after
    * the scan, accepted pairs at counts ≤ the stop/boundary count are
    * dropped again — everything retained strictly dominates anything
    * a prior accepted merge could have created or changed, including
    * lex tie-breaks. Retained winners fold into the vocab as a chain
    * of merge HOFs in rank order with ONE checkpoint per round. */
  private[graft] def trainBpeMergesCounted(docs: DataFrame, numMerges: Int = 20,
                                           maxPerRound: Int = 1): (Seq[BpeMerge], Int) = {
    require(maxPerRound >= 1, "maxPerRound must be at least 1")
    var vocab = docs
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(expr("concat(split(word, ''), array('</w>'))").as("s"), col("cnt"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ListBuffer.empty[BpeMerge]
    var rounds = 0
    var done = false
    while (!done && merges.size < numMerges) {
      val want = math.min(maxPerRound, numMerges - merges.size)
      // window big enough to find `want` non-interacting winners most
      // rounds; a truncated window only costs batch width, never
      // correctness (the floor below treats the boundary as unknown)
      val k = math.max(want * 8, 16)
      val top = vocab
        .select(explode(when(size(col("s")) >= 2,
            expr("transform(sequence(1, size(s) - 1), " +
              "i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))"))
          .otherwise(expr("CAST(array() AS array<struct<l:string,r:string>>)"))).as("p"),
          col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), asc("l"), asc("r"))
        .limit(k)
        .collect()
        .map(r => (r.getAs[String]("l"), r.getAs[String]("r"), r.getAs[Long]("n")))
        .filter(_._3 >= 2) // below the merge floor — single-merge stops there too
      rounds += 1
      if (top.isEmpty) done = true
      else {
        val accepted = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        var floor = -1L
        var i = 0
        while (i < top.length && floor < 0 && accepted.size < want) {
          val c = top(i)
          if (accepted.exists(a => c._1 == a._2 || c._2 == a._1)) floor = c._3
          else { accepted += c; i += 1 }
        }
        if (floor < 0 && i < top.length) floor = top(i)._3 // batch-full boundary
        else if (floor < 0 && top.length == k) floor = top.last._3 // window may truncate
        // the round's argmax is what single-merge picks unconditionally;
        // later winners survive only strictly above the floor
        val retained = accepted.head +: accepted.tail.filter(_._3 > floor).toSeq
        retained.foreach { case (a, b, n) =>
          merges += BpeMerge(merges.size, a, b, a + b, n)
        }
        vocab = retained.foldLeft(vocab) { case (v, (a, b, _)) =>
          v.withColumn("s", mergeFoldExpr(a, b))
        }.localCheckpoint()
      }
    }
    (merges.toList, rounds)
  }

  /** Driver-contract form: the learned merge table as rows
    * (rank-ordered — the artifact a tokenizer build ships). Rows-only
    * oracle (iterative training isn't one SQL); the spec pins the
    * exact merge sequence on a hand-computable corpus and the
    * determinism of the full table. */
  def bpeVocab(spark: SparkSession, dir: String, numMerges: Int = 20,
               maxPerRound: Int = 4): DataFrame = {
    import spark.implicits._
    // multi-merge rounds: identical table (equivalence spec-pinned),
    // ~maxPerRound× fewer driver round-trips
    trainBpeMerges(Tables.documents(spark, dir), numMerges, maxPerRound)
      .toDF().orderBy("rank")
  }

  /** The left-to-right non-overlapping merge of (a, b) in symbol
    * column `s` — shared by the training loop (fold the winner back)
    * and the tokenizer (apply the learned table). */
  private def mergeFoldExpr(a: String, b: String): Column = {
    val qa = a.replace("\\", "\\\\").replace("'", "\\'")
    val qb = b.replace("\\", "\\\\").replace("'", "\\'")
    expr(
      s"""aggregate(
         |  sequence(0, size(s) - 1),
         |  named_struct('out', CAST(array() AS array<string>), 'skip', false),
         |  (acc, i) -> CASE
         |    WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
         |    WHEN i < size(s) - 1 AND element_at(s, i + 1) = '$qa'
         |         AND element_at(s, i + 2) = '$qb'
         |      THEN named_struct('out', concat(acc.out, array('$qa' || '$qb')), 'skip', true)
         |    ELSE named_struct('out', concat(acc.out, array(element_at(s, i + 1))), 'skip', false)
         |  END,
         |  acc -> acc.out)""".stripMargin)
  }

  /** EXACT BPE token counts with a learned merge table — what
    * `bpeEstimate` approximates, computed the way a tokenizer counts:
    * apply the merges in rank order and count the surviving symbols.
    * The scale move is tokenizing the WORD DICTIONARY, not the
    * corpus: distinct words collapse in one shuffle (the same
    * vocabulary-scale argument as trainBpeMerges), the merge table
    * applies as a chain of `merges` narrow HOF folds over that frame
    * — each word tokenized ONCE no matter how often it occurs — and
    * per-doc counts come from one (doc, word) rollup joined back to
    * the tokenized dictionary. At 100 TB the corpus never carries
    * symbol arrays; only the dictionary does. */
  def bpeTokensFrom(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val docWords = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("occ"))
    val dict0 = docWords.select(col("word")).distinct()
      .withColumn("s", expr("concat(split(word, ''), array('</w>'))"))
    val dict = merges.foldLeft(dict0) { (d, m) =>
      d.withColumn("s", mergeFoldExpr(m.left, m.right))
    }.select(col("word"), size(col("s")).cast("long").as("word_tokens"))
    docWords.join(dict, "word")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("occ")).cast("long").as("word_count"),
        sum(col("occ") * col("word_tokens")).cast("long").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Driver-contract form: train on the corpus, then count with the
    * learned table (train + apply in one call). Rows-only; spec pins
    * exact counts on the hand-computed corpus and the ≥word-count /
    * ≤char-count envelope corpus-wide. */
  def bpeTokens(spark: SparkSession, dir: String, numMerges: Int = 20,
                maxPerRound: Int = 4): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeTokensFrom(docs, trainBpeMerges(docs, numMerges, maxPerRound))
  }

  /** Vocabulary coverage curve — what share of all corpus tokens the
    * top-N words cover (N = 100 / 1k / 10k): the budget question a
    * tokenizer or stopword design starts from ("how big must the
    * vocabulary be before OOV mass is negligible"), the cumulative
    * complement of zipf_curve's per-rank shares.
    *
    * Scale shape: the vocab rollup is the one fact-sized exchange;
    * the candidate set cuts to max(N) rows via TakeOrdered (never a
    * full-dimension sort), so the rank/cumulative window runs
    * single-partition over ≤10k rows BY CONSTRUCTION — the bounded
    * case where a global window is the right plan; totals ride as a
    * 1-row broadcast. */
  def vocabCoverage(spark: SparkSession, dir: String,
      thresholds: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(spark, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).cast("bigint").as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    val w = Window.orderBy(desc("cnt"), asc("word"))
    counts
      .orderBy(desc("cnt"), asc("word")).limit(thresholds.max)
      .withColumn("rank", row_number().over(w))
      .withColumn("cum", sum(col("cnt"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      // threshold rows, plus the 100%-coverage full-vocab row whenever
      // the vocabulary fits under the cap (small corpora would
      // otherwise emit nothing)
      .filter(col("rank").isin(thresholds.map(Int.box): _*) ||
        col("rank") === col("vocab_size"))
      .select(col("rank").as("top_n"), col("cum").cast("bigint").as("tokens_covered"),
        col("total_tokens"), col("vocab_size"),
        (col("cum").cast("double") / col("total_tokens").cast("double") * lit(100))
          .as("coverage_pct"))
      .orderBy("top_n")
  }

  val vocabCoverageSql: String =
    """WITH c AS (
      |  SELECT word, COUNT(*) AS cnt FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents
      |  ) t WHERE word <> '' GROUP BY word
      |), tot AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS total_tokens, COUNT(*) AS vocab_size FROM c
      |), r AS (
      |  SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, word ASC) AS rank,
      |    SUM(cnt) OVER (ORDER BY cnt DESC, word ASC
      |                   ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM c
      |)
      |SELECT CAST(rank AS INT) AS top_n, CAST(cum AS BIGINT) AS tokens_covered,
      |  total_tokens, vocab_size,
      |  CAST(cum AS DOUBLE) / CAST(total_tokens AS DOUBLE) * 100 AS coverage_pct
      |FROM r CROSS JOIN tot
      |WHERE (rank IN (10, 100, 1000, 10000) OR rank = vocab_size) AND rank <= 10000
      |ORDER BY top_n""".stripMargin

  /** Persist a trained merge table as a parquet artifact — the
    * tokenizer-build product (train once on the corpus, ship the
    * table, tokenize everywhere), the text-side sibling of
    * `Similarity.saveIvfPqIndex`. Snapshot overwrite: retraining
    * replaces the artifact atomically. */
  def saveBpeVocab(spark: SparkSession, dir: String, outPath: String,
      numMerges: Int = 20, maxPerRound: Int = 4): Seq[BpeMerge] = {
    val docs = Tables.documents(spark, dir)
    val merges = trainBpeMerges(docs, numMerges, maxPerRound)
    import spark.implicits._
    merges.toDF().coalesce(1).write.mode("overwrite").parquet(outPath)
    // compatibility stamp: content = the merge table itself, built-from
    // = the training corpus state (order-independent xor fingerprint)
    val corpus = docs.agg(count(lit(1)),
      expr("bit_xor(xxhash64(doc_id, text))")).collect().head
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("bpe_vocab", bpeVocabFp(merges),
        s"documents:${corpus.getLong(0)}:${if (corpus.isNullAt(1)) 0L else corpus.getLong(1)}"))
    merges
  }

  /** Canonical content fingerprint of a merge table — what the
    * artifact manifest stamps and every vocab-derived log row carries
    * (`DocStream.tokenLogSink`), so counts taken under different
    * vocabularies can never silently mix. */
  def bpeVocabFp(merges: Seq[BpeMerge]): String =
    graft.sources.ArtifactManifest.fp(merges.sortBy(_.rank)
      .map(m => Seq(m.rank, m.left, m.right, m.merged, m.pair_count)
        .mkString("\u0001"))
      .mkString("\n"))

  /** Load a persisted merge table, rank order restored. A stamped
    * artifact is verified against its own manifest (corruption /
    * half-replacement fails loud); unstamped legacy artifacts load
    * as before. */
  def loadBpeVocab(spark: SparkSession, path: String): Seq[BpeMerge] = {
    import spark.implicits._
    val merges = spark.read.parquet(path).as[BpeMerge].collect().toSeq.sortBy(_.rank)
    graft.sources.ArtifactManifest.verifyContent(path, "bpe_vocab", bpeVocabFp(merges))
    merges
  }

  /** Tokenize against a PERSISTED vocabulary — the production path:
    * the corpus pays dictionary-tokenization only, never training;
    * new batches tokenize with the shipped table so counts are
    * comparable across ingests (retraining would silently change
    * every historical count). */
  def bpeTokensWithVocab(spark: SparkSession, dir: String,
      vocabPath: String): DataFrame =
    bpeTokensFrom(Tables.documents(spark, dir), loadBpeVocab(spark, vocabPath))

  /** Context-window packing census — the "pack documents into
    * fixed-token training sequences" step. Docs are sharded by id
    * (each shard packs independently — the embarrassingly parallel
    * form; a single global packing order would serialize the whole
    * corpus through one partition), then chunked in id order at
    * `budget`-token boundaries of the running token stream: a doc
    * joins the pack where its prefix starts, so packs can overhang by
    * less than one doc (offset chunking, the deterministic streaming
    * packer; token-level splitting of the straddler is the tokenizer's
    * job downstream). One shuffle on the shard key; the census per
    * (shard, pack) reports fill. */
  def corpusPack(spark: SparkSession, dir: String, budget: Int = 512,
                 shards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        pmod(col("doc_id"), lit(shards)).cast("int").as("shard"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("int"))
      .groupBy(col("shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("bigint").as("pack_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("shard", "pack_id")
  }

  val corpusPackSql: String =
    """SELECT shard, pack_id, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
      |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      |FROM (
      |  SELECT doc_id, shard, n_tokens,
      |    CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 512.0) AS INT) AS pack_id
      |  FROM (
      |    SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |      len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |    FROM documents
      |  ) b
      |) t GROUP BY shard, pack_id ORDER BY shard, pack_id""".stripMargin

  /** Pack-budget tuning curve — the eval closure of `corpus_pack`
    * (the same loop-closing pattern as session_gap_histogram →
    * GapSeconds and ann_recall_curve → nProbe): for each candidate
    * sequence budget, the realized packing efficiency — pack count,
    * fill ratio against capacity, and the share of packs a
    * boundary-straddling doc pushed past budget (truncation/padding
    * waste the training run will actually pay). The whole curve rides
    * ONE shared cumulative-token window (pack assignment for every
    * budget is a pure function of the same running sum — floor((cum −
    * n)/b)), one explode to the |budgets| grain, one map-combined
    * rollup: adding a candidate budget costs no new scan or window.
    * Oracle-green (exact integers until the final divisions). */
  def packEfficiency(spark: SparkSession, dir: String,
                     budgets: Seq[Int] = Seq(128, 256, 512, 1024),
                     shards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        pmod(col("doc_id"), lit(shards)).cast("int").as("shard"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("shard"), col("n_tokens"), col("cum"),
        explode(array(budgets.map(lit(_)): _*)).as("budget"))
      .withColumn("pack_id",
        floor((col("cum") - col("n_tokens")) / col("budget").cast("double")).cast("int"))
      .groupBy(col("budget"), col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("pack_tokens"))
    packs.groupBy(col("budget"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("pack_tokens")).cast("bigint").as("total_tokens"),
        sum(when(col("pack_tokens") > col("budget"), 1L).otherwise(0L))
          .as("overflow_packs"))
      .select(col("budget"), col("n_packs"), col("n_docs"), col("total_tokens"),
        col("overflow_packs"),
        (col("total_tokens").cast("double") /
          (col("n_packs") * col("budget").cast("long")).cast("double")).as("fill_ratio"),
        (col("overflow_packs").cast("double") / col("n_packs").cast("double"))
          .as("overflow_share"))
      .orderBy("budget")
  }

  val packEfficiencySql: String =
    """WITH b AS (
      |  SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard,
      |    len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |  FROM documents
      |), c AS (
      |  SELECT shard, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM b
      |), e AS (
      |  SELECT shard, n_tokens, cum, budget
      |  FROM c CROSS JOIN (SELECT UNNEST([128, 256, 512, 1024]) AS budget) u
      |), p AS (
      |  SELECT budget, shard,
      |    CAST(FLOOR((cum - n_tokens) / CAST(budget AS DOUBLE)) AS INT) AS pack_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
      |  FROM e GROUP BY 1, 2, 3
      |), a AS (
      |  SELECT budget, CAST(COUNT(*) AS BIGINT) AS n_packs,
      |    CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |    CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
      |    CAST(SUM(CASE WHEN pack_tokens > budget THEN 1 ELSE 0 END) AS BIGINT)
      |      AS overflow_packs
      |  FROM p GROUP BY budget
      |)
      |SELECT budget, n_packs, n_docs, total_tokens, overflow_packs,
      |  CAST(total_tokens AS DOUBLE) /
      |    CAST(n_packs * CAST(budget AS BIGINT) AS DOUBLE) AS fill_ratio,
      |  CAST(overflow_packs AS DOUBLE) / CAST(n_packs AS DOUBLE) AS overflow_share
      |FROM a ORDER BY budget""".stripMargin

  /** Overlapping token-window chunking — the retrieval/embedding
    * pipeline primitive (chunk → embed → index): each doc splits into
    * windows of `chunkTokens` whitespace tokens advancing by
    * `chunkTokens - overlap`, every chunk a row with its token span
    * and text. Deterministic boundaries (pure token arithmetic), so
    * chunk identity is stable across runs and engines — what makes
    * re-embedding incremental.
    *
    * Scale shape: narrow — tokenize once per doc in its own
    * projection BELOW the Generate (the text_bigram_rarity lesson:
    * an inlined split() re-tokenizes per output row; expressions do
    * not collapse through Generate, so the array computes once and
    * rides the explode), then per-chunk slices. No shuffle except the
    * presentation sort. */
  def docChunks(spark: SparkSession, dir: String, chunkTokens: Int = 128,
                overlap: Int = 32): DataFrame =
    docChunksFrom(Tables.documents(spark, dir), chunkTokens, overlap)

  def docChunksFrom(docs: DataFrame, chunkTokens: Int = 128,
                    overlap: Int = 32): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val step = chunkTokens - overlap
    docs
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .withColumn("n_chunks",
        greatest(lit(1), ceil((col("n") - lit(overlap)).cast("double") / step).cast("int")))
      .select(col("doc_id"), col("t"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * step).as("start_token"),
        least(col("chunk_idx") * step + chunkTokens, col("n")).cast("int").as("end_token"),
        array_join(
          slice(col("t"), col("chunk_idx") * step + 1,
            least(lit(chunkTokens), col("n") - col("chunk_idx") * step)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  val docChunksSql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
      |), sized AS (
      |  SELECT doc_id, t, CAST(len(t) AS INT) AS n,
      |    GREATEST(1, CAST(CEIL((len(t) - 32) / 96.0) AS INT)) AS n_chunks
      |  FROM base
      |), chunks AS (
      |  SELECT doc_id, t, n, CAST(u.idx AS INT) AS chunk_idx
      |  FROM sized, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS idx) u
      |)
      |SELECT doc_id, chunk_idx,
      |  chunk_idx * 96 AS start_token,
      |  CAST(LEAST(chunk_idx * 96 + 128, n) AS INTEGER) AS end_token,
      |  array_to_string(list_slice(t, chunk_idx * 96 + 1, LEAST(chunk_idx * 96 + 128, n)), ' ')
      |    AS chunk_text
      |FROM chunks
      |ORDER BY doc_id, chunk_idx""".stripMargin

  /** Chunk-grain exact-duplicate census — dedup at the retrieval
    * unit: identical chunk texts across the corpus (boilerplate
    * headers, licence blocks, templated passages) found by hashing
    * `docChunks` output. Composes the two primitives: chunk spans
    * from pure arithmetic, dup groups from one hash aggregate — the
    * chunk-level complement to dedup_substring's gram census (grams
    * find partial overlap; this finds whole duplicated retrieval
    * units, the thing a RAG index actually stores twice).
    *
    * Scale shape: one scan through the chunker (narrow), one
    * map-side-combined hash aggregate; output is |duplicated chunk
    * texts| rows. Default granularity is 32-token passages (8-token
    * overlap) — boilerplate shows at passage size long before whole
    * 128-token retrieval windows match exactly. */
  def chunkDedup(spark: SparkSession, dir: String, chunkTokens: Int = 32,
                 overlap: Int = 8): DataFrame =
    // (hash, doc) pre-aggregate first, so the distinct doc count is a
    // plain count — the de-Expand form (a mixed count+countDistinct
    // would Expand ×2 every chunk row through the shuffle)
    docChunksFrom(Tables.documents(spark, dir), chunkTokens, overlap)
      .groupBy(md5(col("chunk_text").cast("binary")).as("chunk_hash"), col("doc_id"))
      .agg(count(lit(1)).as("copies_in_doc"))
      .groupBy(col("chunk_hash"))
      .agg(
        sum(col("copies_in_doc")).cast("bigint").as("n_copies"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_copies") > 1)
      .orderBy(desc("n_copies"), asc("chunk_hash"))

  val chunkDedupSql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
      |), sized AS (
      |  SELECT doc_id, t, CAST(len(t) AS INT) AS n,
      |    GREATEST(1, CAST(CEIL((len(t) - 8) / 24.0) AS INT)) AS n_chunks
      |  FROM base
      |), chunks AS (
      |  SELECT doc_id,
      |    array_to_string(list_slice(t, CAST(u.idx AS INT) * 24 + 1,
      |      LEAST(CAST(u.idx AS INT) * 24 + 32, n)), ' ') AS chunk_text
      |  FROM sized, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS idx) u
      |)
      |SELECT md5(chunk_text) AS chunk_hash,
      |  COUNT(*) AS n_copies,
      |  COUNT(DISTINCT doc_id) AS n_docs,
      |  MIN(doc_id) AS first_doc
      |FROM chunks
      |GROUP BY chunk_text
      |HAVING COUNT(*) > 1
      |ORDER BY n_copies DESC, chunk_hash ASC""".stripMargin

  /** Content-defined chunking — `doc_chunks`' edit-robust sibling.
    * Spans come from the gear-hash cut rule (see
    * [[graft.functions.CdcChunkSpans]]): boundaries depend on the
    * trailing ≤64 chars of CONTENT, not on position, so an insertion
    * near a document's head shifts only the chunks up to the next
    * boundary and everything after re-synchronizes — the property
    * fixed windows lack and the one that makes chunk-grain dedup work
    * on re-crawled/near-revision corpora. One chunk per output row
    * with its char span and 64-bit content hash.
    *
    * Scale shape: narrow — the whole chunker is ONE codegen'd
    * expression pass per document in a projection below the Generate
    * (the array computes once and rides the explode); no shuffle
    * except the presentation sort. No SQL oracle (the gear table is
    * not SQL-expressible); the spec pins exact tiling, bound
    * discipline and boundary re-synchronization under planted
    * insertions. */
  def docChunksCdc(spark: SparkSession, dir: String): DataFrame =
    docChunksCdcFrom(spark, Tables.documents(spark, dir))

  def docChunksCdcFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs
      .select(col("doc_id"), call_function("cdc_spans", col("text")).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")).as(Seq("chunk_idx", "sp")))
      .select(col("doc_id"), col("chunk_idx"),
        col("sp.start").as("start_char"), col("sp.end").as("end_char"),
        (col("sp.end") - col("sp.start")).as("chunk_chars"),
        col("sp.hash").as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Chunk-grain duplicate census at CONTENT-DEFINED boundaries —
    * what `chunk_dedup` cannot see: a paragraph duplicated across
    * documents at DIFFERENT offsets never aligns to the same fixed
    * token windows, but its interior CDC chunks hash identically
    * wherever it sits (boundaries re-derive from the paragraph's own
    * content). This is the census production dedup actually runs on
    * re-crawls: dup mass shows up even when every copy is embedded in
    * different surroundings.
    *
    * Scale shape: the chunker is narrow; the census ships only
    * (8-byte hash, length, doc_id) through one map-side-combined
    * aggregate (the clean_dup_spans lesson — never chunk text);
    * output is |duplicated chunks| rows. Grouping by (hash, length)
    * keeps 64-bit collisions from merging unequal chunks of different
    * sizes. */
  def chunkDedupCdc(spark: SparkSession, dir: String): DataFrame =
    chunkDedupCdcFrom(spark, Tables.documents(spark, dir))

  def chunkDedupCdcFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    docs
      .select(col("doc_id"), explode(call_function("cdc_spans", col("text"))).as("sp"))
      // (hash, len, doc) pre-aggregate first so the distinct-doc count
      // is a plain count — the de-Expand form
      .groupBy(col("sp.hash").as("chunk_hash"),
        (col("sp.end") - col("sp.start")).as("chunk_chars"), col("doc_id"))
      .agg(count(lit(1)).as("copies_in_doc"))
      .groupBy(col("chunk_hash"), col("chunk_chars"))
      .agg(
        sum(col("copies_in_doc")).cast("bigint").as("n_copies"),
        count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_copies") > 1)
      .orderBy(desc("n_copies"), asc("chunk_hash"))
  }

  /** Per-source duplicated-chunk MASS at content-defined boundaries —
    * which FEEDS carry the boilerplate (`chunk_dedup_cdc` names the
    * duplicated chunks; this attributes their character mass to
    * sources, the table that decides which feed gets a boilerplate
    * scrub or a crawl-budget cut): per source, total CDC chars, chars
    * sitting in chunks whose content occurs ≥ 2 times corpus-wide,
    * and the dup share.
    *
    * Scale shape: one chunker pass (checkpointed for its two
    * consumers), a (hash, len) dup-key rollup, one hash-dimension
    * semi-join back (8-byte keys through the shuffle — never text),
    * ≤|sources| rows out. rows-only (gear table). */
  def cdcDupMassBySource(spark: SparkSession, dir: String): DataFrame =
    cdcDupMassBySourceFrom(spark, Tables.documents(spark, dir))

  def cdcDupMassBySourceFrom(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val spans = docs
      .select(col("source"), explode(call_function("cdc_spans", col("text"))).as("sp"))
      .select(col("source"), col("sp.hash").as("chunk_hash"),
        (col("sp.end") - col("sp.start")).as("chunk_chars"))
      .localCheckpoint()
    val dupKeys = spans
      .groupBy(col("chunk_hash"), col("chunk_chars"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("chunk_hash"), col("chunk_chars"))
    val marked = spans.join(dupKeys.withColumn("dup", lit(1)),
      Seq("chunk_hash", "chunk_chars"), "left")
    marked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("dup") === 1, 1L).otherwise(0L)).as("dup_chunks"),
        sum(col("chunk_chars")).cast("bigint").as("total_chars"),
        sum(when(col("dup") === 1, col("chunk_chars")).otherwise(lit(0)))
          .cast("bigint").as("dup_chars"))
      .withColumn("dup_share",
        col("dup_chars").cast("double") / col("total_chars").cast("double"))
      .orderBy(desc("dup_share"), asc("source"))
  }

  /** The cleaning pass extended with the Gopher repetition filters
    * (Rae et al. 2021 §A1.1): minimum length, top-word-fraction and
    * duplicate-bigram caps, on top of cleanCorpus's quality/language/
    * exact-dedup gates. Still ONE scan and ONE shuffle (the dedup
    * window): all repetition stats ride the same fused native
    * `word_rep_stats` call inside the existing projection. */
  def cleanCorpusGopher(spark: SparkSession, dir: String, minQuality: Double = 0.5,
                        langs: Seq[String] = Seq("en", "es", "de", "fr"),
                        minWords: Int = 20, maxTopWordFrac: Double = 0.2,
                        maxDupBigramFrac: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val st = call_function("word_rep_stats", col("text"))
    def f(i: Int) = element_at(st, i).cast("double")
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        qualityScoreCol.as("quality_score"),
        predictedLangCol.as("predicted_lang"),
        element_at(st, 1).as("n_words"),
        (f(2) / greatest(f(1), lit(1.0))).as("top_word_frac"),
        ((f(3) - f(4)) / greatest(f(3), lit(1.0))).as("dup_bigram_frac"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .filter(col("quality_score") >= minQuality &&
        col("predicted_lang").isin(langs.map(lit(_)): _*) &&
        col("doc_id") === col("keeper") &&
        col("n_words") >= minWords &&
        col("top_word_frac") < maxTopWordFrac &&
        col("dup_bigram_frac") < maxDupBigramFrac)
      .select(col("doc_id"), col("lang"), col("predicted_lang"), col("quality_score"),
        col("n_words"), col("top_word_frac"), col("dup_bigram_frac"))
      .orderBy("doc_id")
  }

  /** The shared Gopher-stats inner relation (per-doc scores, keeper,
    * rep-stats) — one SQL definition serving both the cascade filter
    * oracle and the ablation oracle, so the two cannot drift. */
  private val gopherInnerSql: String = {
    val nWords = "len(string_split_regex(trim(text), '\\s+'))"
    val stopR = s"CAST(${sqlCountIn(Stopwords)} AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    val awl = s"CAST(length(text) AS DOUBLE) / CAST(GREATEST($nWords, 1) AS DOUBLE)"
    s"""  SELECT doc_id, lang,
       |    LEAST(CAST($nWords AS DOUBLE) / 100.0, 1.0) * 0.4 + ($stopR) * 0.3 +
       |      (CASE WHEN $awl BETWEEN 3.0 AND 8.0 THEN 1.0 ELSE 0.0 END) * 0.3 AS quality_score,
       |    $sqlPredictedLang AS predicted_lang,
       |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
       |    CAST(rs.n_words AS INT) AS n_words,
       |    CAST(rs.top AS DOUBLE) / CAST(GREATEST(rs.n_words, 1) AS DOUBLE) AS top_word_frac,
       |    CAST(len(rs.g2) - len(list_distinct(rs.g2)) AS DOUBLE) / CAST(GREATEST(len(rs.g2), 1) AS DOUBLE) AS dup_bigram_frac
       |  FROM documents, LATERAL (
       |    SELECT len(words) AS n_words,
       |      list_max(list_transform(list_distinct(words), x -> len(list_filter(words, y -> y = x)))) AS top,
       |      list_transform(range(1, greatest(len(words)-1, 0) + 1), i -> words[i] || ' ' || words[i+1]) AS g2
       |    FROM (SELECT string_split_regex(trim(text), '\\s+') AS words)
       |  ) rs""".stripMargin
  }

  val cleanCorpusGopherSql: String =
    s"""SELECT doc_id, lang, predicted_lang, quality_score, n_words, top_word_frac, dup_bigram_frac
       |FROM (
       |$gopherInnerSql
       |) t
       |WHERE quality_score >= 0.5
       |  AND predicted_lang IN ('en', 'es', 'de', 'fr')
       |  AND doc_id = keeper
       |  AND n_words >= 20
       |  AND top_word_frac < 0.2
       |  AND dup_bigram_frac < 0.1
       |ORDER BY doc_id""".stripMargin

  /** Per-rule MARGINAL attribution for the Gopher cascade —
    * `corpus_funnel` answers "which stage killed this doc FIRST"
    * (sequential waterfall); this answers the filter-TUNING questions
    * the waterfall can't: how many docs does each rule reject at all
    * (`n_fail`, order-independent), and how many does ONLY that rule
    * reject (`n_unique_kill` — exactly the docs recovered by dropping
    * the rule; the standard ablation a filter-cascade owner reads
    * before loosening anything). Rules share their defining
    * expressions with [[cleanCorpusGopher]] (and the oracle shares
    * [[gopherInnerSql]]), so filter and ablation cannot drift. NULL
    * inputs count as failing their gate — matching the conjunctive
    * filter, which drops them. One corpus pass + the exact-dup keeper
    * window; the aggregate is a single 14-counter rollup, unpivoted
    * to rule rows. */
  def filterAblation(spark: SparkSession, dir: String,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en", "es", "de", "fr"),
      minWords: Int = 20, maxTopWordFrac: Double = 0.2,
      maxDupBigramFrac: Double = 0.1): DataFrame =
    filterAblationFrom(Tables.documents(spark, dir), minQuality, langs,
      minWords, maxTopWordFrac, maxDupBigramFrac)

  def filterAblationFrom(docs: DataFrame,
      minQuality: Double = 0.5,
      langs: Seq[String] = Seq("en", "es", "de", "fr"),
      minWords: Int = 20, maxTopWordFrac: Double = 0.2,
      maxDupBigramFrac: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val st = call_function("word_rep_stats", col("text"))
    def f(i: Int) = element_at(st, i).cast("double")
    val w = Window.partitionBy(md5(col("text").cast("binary")))
    val flags = docs
      .select(col("doc_id"), col("text"),
        qualityScoreCol.as("q"), predictedLangCol.as("pl"),
        element_at(st, 1).as("n_words"),
        (f(2) / greatest(f(1), lit(1.0))).as("top_word_frac"),
        ((f(3) - f(4)) / greatest(f(3), lit(1.0))).as("dup_bigram_frac"))
      .withColumn("keeper", min(col("doc_id")).over(w))
      .select(
        (col("q").isNull || col("q") < minQuality).as("f_quality"),
        (col("pl").isNull ||
          !col("pl").isin(langs.map(lit(_)): _*)).as("f_language"),
        (col("doc_id") =!= col("keeper")).as("f_exact_dup"),
        (col("n_words").isNull || col("n_words") < minWords).as("f_min_words"),
        (col("top_word_frac").isNull ||
          col("top_word_frac") >= maxTopWordFrac).as("f_top_word"),
        (col("dup_bigram_frac").isNull ||
          col("dup_bigram_frac") >= maxDupBigramFrac).as("f_dup_bigram"))
    val rules = Seq("quality", "language", "exact_dup", "min_words",
      "top_word", "dup_bigram")
    def fl(r: String) = col(s"f_$r")
    val allPass = rules.map(r => !fl(r)).reduce(_ && _)
    val aggs = rules.flatMap { r =>
      val others = rules.filter(_ != r).map(o => !fl(o)).reduce(_ && _)
      Seq(sum(when(fl(r), 1L).otherwise(0L)).as(s"fail_$r"),
        sum(when(fl(r) && others, 1L).otherwise(0L)).as(s"uniq_$r"))
    } ++ Seq(count(lit(1)).as("n_docs"),
      sum(when(allPass, 1L).otherwise(0L)).as("n_survived"))
    val stackExpr = rules
      .map(r => s"'$r', fail_$r, uniq_$r").mkString(", ")
    flags.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${rules.length}, $stackExpr) " +
        "as (rule, n_fail, n_unique_kill)"),
        col("n_docs"), col("n_survived"))
      .orderBy("rule")
  }

  val filterAblationSql: String = {
    val rules = Seq(
      "quality" -> "(quality_score IS NULL OR quality_score < 0.5)",
      "language" -> "(predicted_lang IS NULL OR predicted_lang NOT IN ('en', 'es', 'de', 'fr'))",
      "exact_dup" -> "(doc_id <> keeper)",
      "min_words" -> "(n_words IS NULL OR n_words < 20)",
      "top_word" -> "(top_word_frac IS NULL OR top_word_frac >= 0.2)",
      "dup_bigram" -> "(dup_bigram_frac IS NULL OR dup_bigram_frac >= 0.1)")
    val flagCols = rules.map { case (n, e) => s"    $e AS f_$n" }.mkString(",\n")
    val allPass = rules.map(r => s"NOT f_${r._1}").mkString(" AND ")
    val counters = rules.map { case (n, _) =>
      val others = rules.filter(_._1 != n).map(o => s"NOT f_${o._1}").mkString(" AND ")
      s"""    CAST(SUM(CASE WHEN f_$n THEN 1 ELSE 0 END) AS BIGINT) AS fail_$n,
         |    CAST(SUM(CASE WHEN f_$n AND $others THEN 1 ELSE 0 END) AS BIGINT) AS uniq_$n""".stripMargin
    }.mkString(",\n")
    val unpivot = rules.map { case (n, _) =>
      s"  SELECT '$n' AS rule, fail_$n AS n_fail, uniq_$n AS n_unique_kill, n_docs, n_survived FROM agg"
    }.mkString("\n  UNION ALL\n")
    s"""WITH t AS (
       |$gopherInnerSql
       |), flags AS (
       |  SELECT
       |$flagCols
       |  FROM t
       |), agg AS (
       |  SELECT
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CASE WHEN $allPass THEN 1 ELSE 0 END) AS BIGINT) AS n_survived,
       |$counters
       |  FROM flags
       |)
       |SELECT * FROM (
       |$unpivot
       |) ORDER BY rule""".stripMargin
  }

  /** Corpus-relative word-rarity scoring — the deterministic stand-in
    * for unigram-LM quality filtering: documents dominated by globally
    * rare tokens (misspellings, codes, boilerplate noise) score high.
    * A true log-prob scorer would hash-mismatch the oracle at the ulp
    * level (JVM Math.log vs DuckDB libm are not bit-identical), so the
    * signals here are pure integer arithmetic over global counts:
    * rare-word fraction (global freq < minCount) and mean word
    * frequency (exact integer sum / count).
    *
    * Plan: one shuffle for the global unigram counts, one shuffle join
    * of the exploded words against them on the word (broadcast is
    * wrong at scale — a 100 TB corpus's vocabulary is not small), one
    * shuffle back to the doc grain. */
  def rarityScore(spark: SparkSession, dir: String, minCount: Int = 5): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val freq = words.groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumnRenamed("word", "fword")
    words.join(freq, col("word") === col("fword"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        count(when(col("freq") < minCount, 1)).as("n_rare"),
        sum(col("freq")).as("freq_sum"))
      .select(
        col("doc_id"), col("n_words"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_words").cast("double")).as("rare_frac"),
        (col("freq_sum").cast("double") / col("n_words").cast("double")).as("mean_word_freq"))
      .orderBy("doc_id")
  }

  val rarityScoreSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents
      |), freq AS (
      |  SELECT word AS fword, COUNT(*) AS freq FROM words GROUP BY word
      |)
      |SELECT doc_id,
      |  COUNT(*) AS n_words,
      |  COUNT(*) FILTER (WHERE freq < 5) AS n_rare,
      |  CAST(COUNT(*) FILTER (WHERE freq < 5) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rare_frac,
      |  CAST(SUM(freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_word_freq
      |FROM words JOIN freq ON word = fword
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Per-source token-length histogram on FIXED power-of-two bins —
    * the length-distribution diagnostic a packing/filtering pipeline
    * reads before picking context budgets and min-length gates. Fixed
    * integer boundaries (not quantiles) keep bins comparable across
    * runs and sources, and the whole thing is one narrow projection +
    * one map-side-combined aggregate to |sources|·|bins| rows. */
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    tokenHistogramFrom(Tables.documents(spark, dir))

  def tokenHistogramFrom(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text")))
    val binLo = Seq(1024, 512, 256, 128, 64, 32, 16)
      .foldLeft(when(lit(false), 0)) { (acc, b) => acc.when(n >= b, b) }
      .otherwise(0)
    docs
      .select(col("source"), binLo.as("bin_lo"), n.as("nt"))
      .groupBy(col("source"), col("bin_lo"))
      .agg(count(lit(1)).as("docs"),
        sum(col("nt")).as("total_tokens"),
        (sum(col("nt")).cast("double") / count(lit(1)).cast("double")).as("avg_tokens"))
      .orderBy("source", "bin_lo")
  }

  val tokenHistogramSql: String = {
    val n = "len(string_split_regex(trim(text), '\\s+'))"
    s"""SELECT source,
       |  CASE WHEN $n >= 1024 THEN 1024 WHEN $n >= 512 THEN 512
       |       WHEN $n >= 256 THEN 256 WHEN $n >= 128 THEN 128
       |       WHEN $n >= 64 THEN 64 WHEN $n >= 32 THEN 32
       |       WHEN $n >= 16 THEN 16 ELSE 0 END AS bin_lo,
       |  COUNT(*) AS docs,
       |  CAST(SUM($n) AS BIGINT) AS total_tokens,
       |  CAST(SUM($n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_tokens
       |FROM documents
       |GROUP BY source, bin_lo
       |ORDER BY source, bin_lo""".stripMargin
  }

  /** Bigram-level corpus fluency signals — the deterministic stand-in
    * for bigram-LM perplexity filtering (CCNet-style: score each doc
    * against a model trained on the corpus itself). As with
    * `rarityScore`, true log-probabilities would hash-mismatch the
    * oracle at the ulp level (JVM Math.log vs DuckDB libm) AND a
    * distributed sum of per-position doubles is order-unstable, so the
    * signals are integer sums with ONE final division: mean corpus
    * frequency of the doc's bigrams (low = unusual word order) and the
    * fraction of bigram positions whose corpus count is below
    * `minCount` (high = disfluent/noisy text). Docs with < 2 tokens
    * have no bigram positions and emit no row.
    *
    * Plan shape mirrors rarityScore one level up: explode bigrams
    * (narrow — consecutive pairs are built per-row from the token
    * array, never via a self-join), one shuffle for the global bigram
    * counts, one shuffle join back on the bigram (broadcast is wrong
    * at scale — a 100 TB corpus's bigram vocabulary is huge), one
    * shuffle to the doc grain. */
  def bigramRarity(spark: SparkSession, dir: String, minCount: Int = 3): DataFrame = {
    // materialize the token array ONCE before the per-position lambda:
    // inlining `split` into the transform would re-tokenize the whole
    // text at every element_at — O(words²) per doc (measured 29× on
    // sf0.1; CollapseProject keeps this split un-inlined because the
    // alias is referenced more than once and split is not cheap)
    val ws = col("__graft_ws")
    val bigramArr = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => concat(element_at(ws, i), lit(" "), element_at(ws, i + lit(1)))))
      .otherwise(array().cast("array<string>"))
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("__graft_ws"))
      .select(col("doc_id"), explode(bigramArr).as("bigram"))
    val freq = bg.groupBy(col("bigram")).agg(count(lit(1)).as("freq"))
      .withColumnRenamed("bigram", "fbigram")
    bg.join(freq, col("bigram") === col("fbigram"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        count(when(col("freq") < minCount, 1)).as("n_rare"),
        sum(col("freq")).as("freq_sum"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams").cast("double")).as("rare_bigram_frac"),
        (col("freq_sum").cast("double") / col("n_bigrams").cast("double")).as("mean_bigram_freq"))
      .orderBy("doc_id")
  }

  val bigramRaritySql: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws)-1, 0) + 1),
      |    i -> ws[i] || ' ' || ws[i+1])) AS bigram
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents)
      |), freq AS (
      |  SELECT bigram AS fbigram, COUNT(*) AS freq FROM bg GROUP BY bigram
      |)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  COUNT(*) FILTER (WHERE freq < 3) AS n_rare,
      |  CAST(COUNT(*) FILTER (WHERE freq < 3) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rare_bigram_frac,
      |  CAST(SUM(freq) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_bigram_freq
      |FROM bg JOIN freq ON bigram = fbigram
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style repetition signals (cf. Rae et al. 2021 §A1.1:
    * repeated-line / top-n-gram filters), word-based because the
    * testdata documents are single-line: per-doc top-word count (the
    * mode), top-word fraction, and duplicate 2-/3-gram fractions.
    *
    * Entirely a NARROW map — no shuffle anywhere, embarrassingly
    * parallel at 100 TB. All six counts come from ONE call of the
    * fused native `word_rep_stats` expression (codegen'd; exact
    * string-equality mode and exact packed-id gram identity — see
    * graft.functions.WordRepStats); whole-stage codegen's common-
    * subexpression elimination evaluates it once per row across the
    * five derived columns. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val st = call_function("word_rep_stats", col("text"))
    def f(i: Int) = element_at(st, i).cast("double")
    // dup fractions as (total − distinct)/max(total, 1): exact 0.0 for
    // gram-free (short) docs, where `1 − distinct/total` would report a
    // nonsensical 1.0 — and the integer subtraction keeps the IEEE
    // expression shape identical to the oracle's
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        element_at(st, 1).as("n_words"),
        element_at(st, 2).as("top_word_count"),
        (f(2) / greatest(f(1), lit(1.0))).as("top_word_frac"),
        ((f(3) - f(4)) / greatest(f(3), lit(1.0))).as("dup_bigram_frac"),
        ((f(5) - f(6)) / greatest(f(5), lit(1.0))).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }

  /** Oracle computes the mode as max multiplicity over distinct words
    * (O(d·n), fine at oracle scale) — provably equal to the Spark
    * side's longest-sorted-run. */
  val repetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
      |), g AS (
      |  SELECT doc_id, len(words) AS n_words,
      |    list_max(list_transform(list_distinct(words), x -> len(list_filter(words, y -> y = x)))) AS top_word_count,
      |    list_transform(range(1, greatest(len(words)-1, 0) + 1), i -> words[i] || ' ' || words[i+1]) AS g2,
      |    list_transform(range(1, greatest(len(words)-2, 0) + 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]) AS g3
      |  FROM w
      |)
      |SELECT doc_id, CAST(n_words AS INT) AS n_words,
      |  CAST(top_word_count AS INT) AS top_word_count,
      |  CAST(top_word_count AS DOUBLE) / CAST(GREATEST(n_words, 1) AS DOUBLE) AS top_word_frac,
      |  CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / CAST(GREATEST(len(g2), 1) AS DOUBLE) AS dup_bigram_frac,
      |  CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / CAST(GREATEST(len(g3), 1) AS DOUBLE) AS dup_trigram_frac
      |FROM g ORDER BY doc_id""".stripMargin

  /** Benchmark-contamination check: corpus documents sharing any word
    * 3-gram with a held-out benchmark set (deterministically carved
    * out as doc_id % 97 = 0 — in production this is the eval-suite
    * text). Per-doc DISTINCT grams come from `array_distinct` BEFORE
    * the explode (narrow, no dedup shuffle); the benchmark gram set is
    * tiny by nature (eval suites, ~1% here) so the overlap probe is a
    * BROADCAST hash join on the gram — the only shuffle in the plan is
    * the final per-doc count. At 100 TB the corpus side streams
    * through map tasks against the broadcast gram set; for benchmark
    * sets too big to broadcast, the same plan shuffle-joins on a gram
    * hash (or goes through a bloom filter pre-pass). */
  def contaminationCheck(spark: SparkSession, dir: String, modulus: Int = 97): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val docs = Tables.documents(spark, dir)
    // Gram identity is the native trigram hash (sorted-distinct 64-bit
    // per doc, codegen'd — no gram strings are ever materialized);
    // docs under 3 words are excluded BEFORE hashing because
    // trigram_hashes falls back to single tokens there, which would
    // diverge from the oracle's pure-trigram gram sets. The guard is a
    // plain token count (same `\s` tokenizer contract) — word_rep_stats
    // would compute and discard gram sorts just to read n_words.
    // Distinct counts and the overlap join agree with the oracle's
    // string-gram form up to 64-bit hash collisions (cf. the same
    // argument on dedup_ngram_jaccard's shingle sets).
    val grams = (d: DataFrame) => d
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"), explode(call_function("trigram_hashes", col("text"))).as("gram"))
    val bench = grams(docs.filter(col("doc_id") % modulus === 0))
      .select(col("gram")).distinct()
    grams(docs.filter(col("doc_id") % modulus =!= 0))
      .join(broadcast(bench.withColumnRenamed("gram", "bgram")),
            col("gram") === col("bgram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("bgram")).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .withColumn("contamination_frac",
        col("n_overlap").cast("double") / col("n_grams").cast("double"))
      .orderBy("doc_id")
  }

  val contaminationCheckSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    unnest(list_distinct(list_transform(range(1, greatest(len(words)-2, 0) + 1),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS gram
      |  FROM w
      |), bench AS (
      |  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
      |), corpus AS (
      |  SELECT * FROM g WHERE doc_id % 97 <> 0
      |)
      |SELECT corpus.doc_id, COUNT(*) AS n_grams, COUNT(bench.gram) AS n_overlap,
      |  CAST(COUNT(bench.gram) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination_frac
      |FROM corpus LEFT JOIN bench ON corpus.gram = bench.gram
      |GROUP BY corpus.doc_id
      |HAVING COUNT(bench.gram) > 0
      |ORDER BY corpus.doc_id""".stripMargin

  /** Epoch/mixture plan for a token-budgeted training run — the
    * "how many passes over each source" table data-constrained
    * pre-training starts from: each source's target token allocation
    * is the budget × its normalized mixture weight; epochs =
    * target/available, CAPPED at `maxEpochs` (repeating data much
    * past ~4 epochs stops buying loss — the data-constrained scaling
    * result), and capped sources surrender the unmet remainder to the
    * realized-share column so the gap is visible, not silently
    * redistributed. Weights are the literal mixture
    * `sampleWeightedSources` enforces row-wise; this is its
    * PLANNING-side complement (that query subsamples to hit a ratio
    * today; this one says how far the budget stretches per source).
    *
    * Scale shape: one source rollup (the only corpus-sized pass) +
    * a 1-row broadcast total; everything after is per-source rational
    * arithmetic in a pinned order, so the oracle hashes exactly. */
  def corpusEpochPlan(spark: SparkSession, dir: String,
      budgetTokens: Long = 100000L, maxEpochs: Double = 4.0,
      sixteenths: Map[String, Int] = Map("src0" -> 16, "src1" -> 8, "src2" -> 4),
      defaultSixteenths: Int = 2): DataFrame = {
    val weight = sixteenths.foldLeft(lit(defaultSixteenths)) { case (acc, (s, r)) =>
      when(col("source") === s, lit(r)).otherwise(acc)
    }
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("bigint").as("tokens"))
      .withColumn("weight", weight)
    val totalW = perSource.agg(sum(col("weight")).cast("bigint").as("total_weight"))
    perSource
      .crossJoin(broadcast(totalW))
      .withColumn("target_tokens",
        lit(budgetTokens.toDouble) * col("weight").cast("double") /
          col("total_weight").cast("double"))
      .withColumn("epochs_unmet", col("target_tokens") / col("tokens").cast("double"))
      .withColumn("epochs", least(col("epochs_unmet"), lit(maxEpochs)))
      .withColumn("capped", (col("epochs_unmet") > lit(maxEpochs)).cast("int"))
      .withColumn("planned_tokens", col("epochs") * col("tokens").cast("double"))
      .withColumn("shortfall_tokens",
        col("target_tokens") - col("planned_tokens"))
      .select(col("source"), col("n_docs"), col("tokens"), col("weight"),
        col("target_tokens"), col("epochs"), col("capped"),
        col("planned_tokens"), col("shortfall_tokens"))
      .orderBy("source")
  }

  val corpusEpochPlanSql: String = {
    val nTok = "len(string_split_regex(trim(text), '\\s+'))"
    """WITH ps AS (
      |  SELECT source, COUNT(*) AS n_docs, CAST(SUM(NTOK) AS BIGINT) AS tokens,
      |    (CASE WHEN source = 'src0' THEN 16 WHEN source = 'src1' THEN 8
      |          WHEN source = 'src2' THEN 4 ELSE 2 END) AS weight
      |  FROM documents GROUP BY source
      |), tw AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_weight FROM ps)
      |SELECT source, n_docs, tokens, weight, target_tokens, epochs,
      |  CASE WHEN epochs_unmet > 4.0 THEN 1 ELSE 0 END AS capped,
      |  epochs * CAST(tokens AS DOUBLE) AS planned_tokens,
      |  target_tokens - epochs * CAST(tokens AS DOUBLE) AS shortfall_tokens
      |FROM (
      |  SELECT source, n_docs, tokens, weight,
      |    100000.0 * CAST(weight AS DOUBLE) / CAST(total_weight AS DOUBLE) AS target_tokens,
      |    100000.0 * CAST(weight AS DOUBLE) / CAST(total_weight AS DOUBLE)
      |      / CAST(tokens AS DOUBLE) AS epochs_unmet,
      |    LEAST(100000.0 * CAST(weight AS DOUBLE) / CAST(total_weight AS DOUBLE)
      |      / CAST(tokens AS DOUBLE), 4.0) AS epochs
      |  FROM ps CROSS JOIN tw
      |) q
      |ORDER BY source""".stripMargin.replace("NTOK", nTok)
  }

  /** Zipf frequency curve: the corpus' top-k terms with rank,
    * frequency, the rank×frequency product (Zipf's law predicts it
    * near-constant), and per-term + cumulative corpus share — the
    * first diagnostic plot of any tokenizer/corpus study.
    *
    * Scale shape: one explode→count term aggregate (map-side
    * combined), a TakeOrdered top-k (never a global sort), and THEN
    * the rank window — partitionless but over the ≤k-row frame the
    * limit already bounded, the same post-limit pattern as
    * product_top_n. The grand total joins as a 1-row broadcast. */
  def zipfCurve(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    zipfCurveFrom(Tables.documents(spark, dir), k)

  def zipfCurveFrom(docs: DataFrame, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(tokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum(col("freq")).cast("bigint").as("total_tokens"))
    val top = counts.orderBy(desc("freq"), asc("term")).limit(k)
    val w = Window.orderBy(desc("freq"), asc("term"))
    top
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("rank_freq", col("rank").cast("bigint") * col("freq"))
      .withColumn("share_pct",
        col("freq").cast("double") / col("total_tokens").cast("double") * lit(100.0))
      .withColumn("cum_share_pct",
        sum(col("freq")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("total_tokens").cast("double") * lit(100.0))
      .select(col("rank"), col("term"), col("freq"), col("rank_freq"),
        col("share_pct"), col("cum_share_pct"))
      .orderBy("rank")
  }

  val zipfCurveSql: String =
    """WITH c AS (
      |  SELECT term, COUNT(*) AS freq FROM (
      |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
      |  ) t GROUP BY term
      |), tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total_tokens FROM c),
      |top AS (SELECT term, freq FROM c ORDER BY freq DESC, term ASC LIMIT 100)
      |SELECT CAST(ROW_NUMBER() OVER w AS INT) AS rank, term, freq,
      |  CAST(ROW_NUMBER() OVER w AS BIGINT) * freq AS rank_freq,
      |  CAST(freq AS DOUBLE) / CAST(total_tokens AS DOUBLE) * 100.0 AS share_pct,
      |  CAST(SUM(freq) OVER (ORDER BY freq DESC, term ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(total_tokens AS DOUBLE) * 100.0 AS cum_share_pct
      |FROM top CROSS JOIN tot
      |WINDOW w AS (ORDER BY freq DESC, term ASC)
      |ORDER BY rank""".stripMargin

  /** Vocabulary growth (Heaps' law): bucket the corpus into ten
    * doc_id-range deciles and census tokens, DISTINCT words, and
    * FIRST-SEEN words per decile, with cumulative vocabulary and the
    * running type/token ratio — how much new vocabulary another slab
    * of corpus buys, the diagnostic behind "is more data still adding
    * words".
    *
    * Scale shape: the decile is pure arithmetic on doc_id against the
    * 1-row broadcast max (no global NTILE sort); first-seen attributes
    * each word to min(decile) — one word-grain shuffle; the final
    * cumulative window runs over the 10-row census. Deciles are
    * id-RANGE slabs (deterministic, ingestion-order-ish), not
    * equal-count buckets — the honest reading for append-only corpora. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowthFrom(Tables.documents(spark, dir))

  def vocabGrowthFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = docs.agg(max(col("doc_id")).as("max_id"))
    val decile = least(floor(col("doc_id") * lit(10) / (col("max_id") + lit(1))), lit(9L))
      .cast("int").as("decile")
    val based = docs.crossJoin(broadcast(maxId))
      .select(decile, col("doc_id"), tokens(col("text")).as("toks"))
    val docCensus = based
      .select(col("decile"), size(col("toks")).as("n"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("bigint").as("n_tokens"))
    val words = based
      .select(col("decile"), explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(min(col("decile")).as("first_decile"))
    val firstSeen = words.groupBy(col("first_decile").as("decile"))
      .agg(count(lit(1)).as("new_words"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docCensus.join(firstSeen, Seq("decile"), "left")
      .withColumn("new_words", coalesce(col("new_words"), lit(0L)))
      .withColumn("cum_vocab", sum(col("new_words")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("type_token_ratio",
        col("cum_vocab").cast("double") / col("cum_tokens").cast("double"))
      .select(col("decile"), col("n_docs"), col("n_tokens"), col("new_words"),
        col("cum_vocab"), col("cum_tokens"), col("type_token_ratio"))
      .orderBy("decile")
  }

  val vocabGrowthSql: String =
    """WITH m AS (SELECT MAX(doc_id) AS max_id FROM documents),
      |based AS (
      |  SELECT CAST(LEAST(CAST(FLOOR(doc_id * 10 / (max_id + 1)) AS BIGINT), 9) AS INT) AS decile,
      |    doc_id, string_split_regex(trim(text), '\s+') AS toks
      |  FROM documents CROSS JOIN m
      |), dc AS (
      |  SELECT decile, COUNT(*) AS n_docs, CAST(SUM(len(toks)) AS BIGINT) AS n_tokens
      |  FROM based GROUP BY decile
      |), fs AS (
      |  SELECT first_decile AS decile, COUNT(*) AS new_words FROM (
      |    SELECT word, MIN(decile) AS first_decile
      |    FROM (SELECT decile, unnest(toks) AS word FROM based) t GROUP BY word
      |  ) g GROUP BY first_decile
      |)
      |SELECT dc.decile, dc.n_docs, dc.n_tokens,
      |  COALESCE(fs.new_words, 0) AS new_words,
      |  CAST(SUM(COALESCE(fs.new_words, 0)) OVER cumw AS BIGINT) AS cum_vocab,
      |  CAST(SUM(dc.n_tokens) OVER cumw AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(fs.new_words, 0)) OVER cumw AS DOUBLE)
      |    / CAST(SUM(dc.n_tokens) OVER cumw AS DOUBLE) AS type_token_ratio
      |FROM dc LEFT JOIN fs USING (decile)
      |WINDOW cumw AS (ORDER BY dc.decile
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY dc.decile""".stripMargin

  /** Per-document TF-IDF keyword extraction: the top-3 most
    * characteristic terms of every document — the metadata tag a
    * curation pipeline attaches for topical routing and dedup triage.
    * The idf factor is the RAW rarity ratio N/df, not log(N/df): the
    * per-document ranking log idf produces is identical (log is
    * monotone and df is the only variable), and rational arithmetic
    * keeps the oracle hash exact (the repo's libm rule — see
    * rarityScore).
    *
    * Scale shape: one explode→(doc,term) count; document frequency is
    * a term-grain rollup of the SAME postings frame joined back on
    * term (term-partitioned, no broadcast assumption — vocabulary at
    * corpus scale is large); doc length rides the postings (a
    * doc-grain window subset-satisfied by the doc-term shuffle); the
    * final top-3 window is keyed by doc_id. N is a 1-row broadcast. */
  def tfidfKeywords(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfKeywordsFrom(Tables.documents(spark, dir), k)

  def tfidfKeywordsFrom(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val withDl = postings.withColumn("dl",
      sum(col("tf")).over(Window.partitionBy("doc_id")).cast("bigint"))
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val score = (col("tf").cast("double") / col("dl").cast("double")) *
      (col("n_docs").cast("double") / col("df").cast("double"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    withDl.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("df"),
        col("score"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  val tfidfKeywordsSql: String =
    """WITH p AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |    FROM documents
      |  ) t GROUP BY doc_id, term
      |), wd AS (
      |  SELECT doc_id, term, tf,
      |    CAST(SUM(tf) OVER (PARTITION BY doc_id) AS BIGINT) AS dl
      |  FROM p
      |), d AS (SELECT term, COUNT(*) AS df FROM p GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, term, tf, dl, df, score, CAST(rank AS INT) AS rank FROM (
      |  SELECT wd.doc_id, wd.term, wd.tf, wd.dl, d.df,
      |    (CAST(wd.tf AS DOUBLE) / CAST(wd.dl AS DOUBLE)) *
      |      (CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) AS score,
      |    ROW_NUMBER() OVER (PARTITION BY wd.doc_id
      |      ORDER BY (CAST(wd.tf AS DOUBLE) / CAST(wd.dl AS DOUBLE)) *
      |        (CAST(n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE)) DESC, wd.term ASC) AS rank
      |  FROM wd JOIN d USING (term) CROSS JOIN n
      |) q WHERE rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** Okapi BM25 ranking of the corpus against the shared literal
    * query-term set — keywordSearch's scored sibling (that query
    * ranks per-term postings by raw tf; this one fuses the terms into
    * one relevance score with saturation and length normalization).
    * Full SQL: the idf's LN quantizes to a 1e-7 integer grid at term
    * grain, and everything else in the score is exact-literal IEEE
    * arithmetic — see textEntropy's Scaladoc for the measurement
    * behind the pattern.
    *
    * Scale shape: the term filter lands BEFORE aggregation (only
    * query-term postings survive the explode, as in keywordSearch);
    * per-doc fusion is a FIXED-ORDER conditional aggregate over the
    * term list — not a float sum over shuffle-ordered rows, so scores
    * are bit-stable run to run; corpus stats (N, avgdl) are one tiny
    * aggregate broadcast back; df is ≤|terms| rows broadcast; top-10
    * is TakeOrdered. */
  def searchBm25(spark: SparkSession, dir: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchBm25From(Tables.documents(spark, dir), k, k1, b)

  def searchBm25From(docs: DataFrame, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val stats = docs.select(size(tokens(col("text"))).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val postings = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("bigint").as("dl"),
        explode(tokens(col("text"))).as("term"))
      .filter(col("term").isin(SearchTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
    val df = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // determinism model (see textEntropy's Scaladoc): the ONE libm call (LN in the idf) quantizes to a 1e-7 integer
    // grid at TERM grain (≤|SearchTerms| values — negligible boundary
    // exposure); the saturation/length-norm chain is pure IEEE
    // arithmetic over integer counts with exact-decimal literals, so
    // the whole score is bit-identical cross-engine → full SQL oracle.
    val idf = expr(
      "CAST(CAST(ROUND(LN(1.0D + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5D)" +
        " / (CAST(df AS DOUBLE) + 0.5D)) * 10000000.0D) AS BIGINT) AS DOUBLE) / 10000000.0D")
    val tfNorm = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    val contrib = postings.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("contrib", idf * tfNorm)
    // fixed-order fusion: one conditional aggregate per query term,
    // added in term-list order — never a shuffle-ordered float sum
    val perTerm = SearchTerms.map(t =>
      coalesce(max(when(col("term") === t, col("contrib"))), lit(0.0)))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_matched"),
        perTerm.reduce(_ + _).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** DuckDB oracle for [[searchBm25From]] at the default k1/b —
    * identical quantized idf, identical literal shapes ((1.2 + 1.0),
    * (1.0 - 0.75) mirror the Scala-side lit(k1 + 1.0)/lit(1.0 - b)
    * double computations bit-for-bit), identical fixed-order
    * term-fusion sum, identical (score DESC, doc_id ASC) cut. */
  val searchBm25Sql: String = {
    val termFusion = SearchTerms.map(t =>
      s"COALESCE(MAX(CASE WHEN term = '$t' THEN contrib END), 0.0)")
      .mkString("\n  + ")
    val termList = SearchTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM documents
       |), postings AS (
       |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
       |    SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS term
       |    FROM documents
       |  ) WHERE term IN ($termList)
       |  GROUP BY doc_id, dl, term
       |), dfreq AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
       |), contrib AS (
       |  SELECT doc_id, term,
       |    (CAST(CAST(ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |        / (CAST(df AS DOUBLE) + 0.5)) * 10000000.0) AS BIGINT) AS DOUBLE) / 10000000.0)
       |    * ((CAST(tf AS DOUBLE) * (1.2 + 1.0))
       |        / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS contrib
       |  FROM postings JOIN dfreq USING (term), stats
       |)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_matched,
       |  $termFusion AS score
       |FROM contrib GROUP BY doc_id
       |ORDER BY score DESC, doc_id ASC
       |LIMIT 10""".stripMargin
  }

  /** Self-retrieval evaluation of the BM25 ranker — the eval closure
    * `search_bm25` was missing (the pattern again: langid has its
    * confusion matrix, minhash its calibration, ANN its recall
    * curve): for each probe doc, a PSEUDO-QUERY of its own two most
    * distinctive terms (top tf·idf — the standard self-retrieval
    * trick when no labeled query set ships with the corpus), BM25
    * over the whole corpus, and the SOURCE doc's resulting rank. A
    * healthy index ranks a doc first for its own distinctive terms;
    * mass rank collapse means near-duplicate flooding or a
    * tokenization/scoring bug. Per-probe rows (rank, reciprocal
    * rank); MRR/recall@k are one rollup downstream.
    *
    * Scale shape: probes are a TakeOrdered sample; every probe-side
    * frame (query terms, source scores) is probe-bounded and rides
    * broadcast joins; the corpus pays ONE postings rollup filtered
    * to the ≤2·|probes| query terms (broadcast semi-join — no giant
    * isin literal), and the source's rank is computed by COUNTING
    * strictly-better candidates per query (a join-aggregate) instead
    * of a per-query ranking window whose partition width a hot term
    * would dictate. Ties break on doc_id, so ranks are deterministic.
    * Full SQL since r14: the idf quantizes at term grain like
    * searchBm25's (see the determinism comment at the idf below). */
  def searchSelfRecall(spark: SparkSession, dir: String, numQueries: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchSelfRecallFrom(Tables.documents(spark, dir), numQueries, k1, b)

  def searchSelfRecallFrom(docs: DataFrame, numQueries: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stats = docs.select(size(tokens(col("text"))).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    // postings built NARROWLY: sort each doc's token array once and
    // run-length encode it (run starts via filter, run lengths via
    // zip_with against the next start) — ZERO exchange, where the
    // explode+groupBy formulation shuffled the full (doc, term) fact
    // frame only to merge groups that never span a partition (explode
    // keeps row locality, so the map-side partials were already
    // final). Stage-grained at the 100× probe: 18.2 s groupBy vs
    // 6.1 s RLE — but ONLY with the sorted array bound ONCE in its
    // own projection; inlining sort_array into the lambdas
    // re-evaluates it per element and reads 38 s. tf/dl values are
    // identical to the groupBy's (dl keeps split()'s empty tokens,
    // postings drop them — both as before).
    val postings = docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("bigint").as("dl"),
        sort_array(expr("filter(ts, t -> length(t) > 0)")).as("ss"))
      .filter(size(col("ss")) > 0)
      .select(col("doc_id"), col("dl"), col("ss"),
        expr("filter(sequence(1, size(ss)), i -> i = 1 OR ss[i-1] != ss[i-2])")
          .as("starts"))
      .select(col("doc_id"), col("dl"),
        expr("""explode(zip_with(starts,
            concat(slice(starts, 2, size(ss)), array(size(ss) + 1)),
            (s, e) -> struct(ss[s-1] AS term, CAST(e - s AS BIGINT) AS tf)))""")
          .as("p"))
      .select(col("doc_id"), col("dl"), col("p.term"), col("p.tf"))
      .localCheckpoint() // feeds df for probe terms AND candidate scoring
    val probeIds = docs.select(col("doc_id")).orderBy("doc_id").limit(numQueries)
    val probePostings = postings
      .join(broadcast(probeIds), Seq("doc_id"))
    // corpus-wide document frequency, but only for terms a probe uses
    // (the probe vocabulary is probe-bounded — broadcast semi-join)
    val probeTerms = probePostings.select(col("term")).distinct()
    val df = postings
      .join(broadcast(probeTerms), Seq("term"), "leftsemi")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // determinism model (searchBm25's idf, same grid): the ONE libm
    // call quantizes to a 1e-7 integer grid at TERM grain, so the
    // tf·idf probe-term ranking and every BM25 contrib are exact IEEE
    // arithmetic over integer counts — bit-identical cross-engine
    // (see textEntropy's Scaladoc) → full SQL oracle. The
    // per-candidate score sums ≤2 such contribs (IEEE addition of two
    // operands is commutative), so scores are shuffle-order-free too.
    val idf = expr(
      "CAST(CAST(ROUND(LN(1.0D + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5D)" +
        " / (CAST(df AS DOUBLE) + 0.5D)) * 10000000.0D) AS BIGINT) AS DOUBLE) / 10000000.0D")
    // each probe's 2 most distinctive terms: tf·idf, ties on term —
    // the ranking window is per-PROBE (bounded by its own vocabulary)
    val wProbe = Window.partitionBy(col("doc_id"))
      .orderBy(desc("tfidf"), asc("term"))
    val queryTerms = probePostings
      .join(df, Seq("term")) // df frame is probe-vocab-sized
      .crossJoin(broadcast(stats))
      .withColumn("tfidf", col("tf").cast("double") * idf)
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= 2)
      .select(col("doc_id").as("query_doc"), col("term"),
        idf.as("term_idf"), col("avgdl"))
    // candidates: every doc containing a query term, scored BM25 on
    // the query's terms (≤ 2 per query — the sum is a 2-term
    // conditional fold, never a wide float reduction)
    val tfNorm = (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf").cast("double") + lit(k1) *
        (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    val cand = postings
      .join(broadcast(queryTerms), Seq("term"))
      .withColumn("contrib", col("term_idf") * tfNorm)
      .groupBy(col("query_doc"), col("doc_id"))
      .agg(sum(col("contrib")).as("score"),
        count(lit(1)).as("terms_matched"))
      .localCheckpoint() // feeds the source extract AND the rank count
    val src = cand.filter(col("query_doc") === col("doc_id"))
      .select(col("query_doc"), col("score").as("src_score"),
        col("terms_matched").as("src_terms"))
    // rank without a per-query window: count strictly-better
    // candidates (score, then doc_id for exact ties)
    val better = cand.join(broadcast(src), Seq("query_doc"))
      .filter(col("score") > col("src_score") ||
        (col("score") === col("src_score") && col("doc_id") < col("query_doc")))
      .groupBy(col("query_doc")).agg(count(lit(1)).as("n_better"))
    src.join(better, Seq("query_doc"), "left")
      .select(col("query_doc"), col("src_terms"),
        (coalesce(col("n_better"), lit(0L)) + 1L).as("rank"))
      .withColumn("reciprocal_rank", lit(1.0) / col("rank").cast("double"))
      .orderBy("query_doc")
  }

  /** DuckDB oracle for [[searchSelfRecallFrom]] at the defaults —
    * identical postings/dl token model to [[searchBm25Sql]], identical
    * 1e-7 term-grain idf quantization, identical (tf·idf DESC, term
    * ASC) top-2 probe-term pick, identical exact-literal BM25 chain,
    * identical strictly-better rank count with the doc_id tie rule.
    * The Spark side's probe-term semi-join on df is a pure
    * restriction (df VALUES are corpus-wide either way), so the
    * oracle computes df for all terms and joins. */
  val searchSelfRecallSql: String = {
    val qIdf = "(CAST(CAST(ROUND(LN(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)" +
      "\n      / (CAST(df AS DOUBLE) + 0.5)) * 10000000.0) AS BIGINT) AS DOUBLE) / 10000000.0)"
    s"""WITH stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM documents
       |), postings AS (
       |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS dl,
       |      unnest(string_split_regex(trim(text), '\\s+')) AS term
       |    FROM documents
       |  ) WHERE term <> ''
       |  GROUP BY doc_id, dl, term
       |), dfreq AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term
       |), idf AS (
       |  SELECT term, $qIdf AS term_idf
       |  FROM dfreq, stats
       |), probes AS (
       |  SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20
       |), qt AS (
       |  SELECT query_doc, term, term_idf FROM (
       |    SELECT p.doc_id AS query_doc, p.term, i.term_idf,
       |      ROW_NUMBER() OVER (PARTITION BY p.doc_id
       |        ORDER BY CAST(p.tf AS DOUBLE) * i.term_idf DESC, p.term ASC) AS r
       |    FROM postings p JOIN probes USING (doc_id) JOIN idf i USING (term)
       |  ) WHERE r <= 2
       |), cand AS (
       |  SELECT q.query_doc, p.doc_id,
       |    SUM(q.term_idf * ((CAST(p.tf AS DOUBLE) * (1.2 + 1.0))
       |      / (CAST(p.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
       |          + 0.75 * CAST(p.dl AS DOUBLE) / s.avgdl)))) AS score,
       |    CAST(COUNT(*) AS BIGINT) AS terms_matched
       |  FROM postings p JOIN qt q USING (term), stats s
       |  GROUP BY q.query_doc, p.doc_id
       |), src AS (
       |  SELECT query_doc, score AS src_score, terms_matched AS src_terms
       |  FROM cand WHERE query_doc = doc_id
       |), better AS (
       |  SELECT c.query_doc, CAST(COUNT(*) AS BIGINT) AS n_better
       |  FROM cand c JOIN src s USING (query_doc)
       |  WHERE c.score > s.src_score
       |     OR (c.score = s.src_score AND c.doc_id < c.query_doc)
       |  GROUP BY c.query_doc
       |)
       |SELECT s.query_doc, s.src_terms,
       |  COALESCE(b.n_better, CAST(0 AS BIGINT)) + 1 AS rank,
       |  1.0 / CAST(COALESCE(b.n_better, CAST(0 AS BIGINT)) + 1 AS DOUBLE) AS reciprocal_rank
       |FROM src s LEFT JOIN better b USING (query_doc)
       |ORDER BY s.query_doc""".stripMargin
  }

  /** Persist one self-retrieval run's per-probe rows to the retrieval
    * health log — the FromLog pattern applied to `search_selfrecall`
    * (the way the quality/volume/profile logs feed their rescores):
    * each pipeline run appends its probe ranks under a `run_id`
    * partition via the dynamic-overwrite mart writer, so a RERUN of
    * the same run_id replaces its own partition idempotently instead
    * of double-counting. The log is probe-grain (numQueries rows per
    * run) — it grows with runs, not corpus size. */
  def selfRecallLogAppend(recall: DataFrame, logDir: String, runId: String): Unit =
    graft.sources.MartSink.writePartitioned(
      recall.withColumn("run_id", lit(runId)), logDir, Seq("run_id"))

  /** The retrieval-health dial over the run log: per run, MRR,
    * recall@k and the rank-1 hit count — the trend a corpus swap, an
    * index regression or near-duplicate flooding bends downward hours
    * or days before anyone reads a per-run table. Sits beside the
    * other log-fed rescores (volume anomaly, profile drift, norm
    * drift) as the search-side health row. Tiny frame: |runs| rows.
    * Same run_id contract as the other run logs (ids must sort
    * chronologically as strings — enforced, see
    * [[RunLog.requireChronological]]): this reader has no lag window,
    * but its row order IS the trend a human reads. */
  def selfRecallTrendFromLog(spark: SparkSession, logDir: String,
      k: Int = 10): DataFrame = {
    val log = spark.read.parquet(logDir)
    RunLog.requireChronological(log)
    log
      .groupBy(col("run_id"))
      .agg(
        count(lit(1)).as("n_probes"),
        avg(col("reciprocal_rank")).as("mrr"),
        (sum(when(col("rank") <= k, 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double")).as("recall_at_k"),
        sum(when(col("rank") === 1, 1L).otherwise(0L)).as("rank1_hits"))
      .orderBy("run_id")
  }

  /** Collocation mining — word pairs that co-occur adjacently far
    * more than their unigram frequencies predict (the "New York" /
    * "machine learning" detector; the phrase inventory a tokenizer or
    * topic model wants). Association strength is LIFT, the exact
    * rational the repo's libm rule allows (PMI = log2(lift) orders
    * identically, so ranking by lift IS ranking by PMI without an
    * oracle-hostile log): lift = P(w1 w2) / (P(w1)·P(w2)) estimated
    * as (pair·total)/(c1·c2) with the double products formed BEFORE
    * the division (bigint products would overflow at corpus scale).
    *
    * Plan shape: adjacent pairs are built per-row from the token
    * array (narrow — never a self-join), partial-aggregated into pair
    * counts; unigram counts are a second explode-rollup; the two
    * joins run at pair/vocab dimension (hash join — a web corpus'
    * vocabulary outgrows broadcast), and the 1-row total rides as a
    * broadcast. minCount prunes the pair tail BEFORE the joins. */
  def wordCollocations(spark: SparkSession, dir: String, minCount: Int = 5,
      k: Int = 100): DataFrame =
    wordCollocationsFrom(Tables.documents(spark, dir), minCount, k)

  def wordCollocationsFrom(docs: DataFrame, minCount: Int = 5,
      k: Int = 100): DataFrame = {
    val ws = col("__graft_ws")
    val pairArr = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"), element_at(ws, i + lit(1)).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val pairs = docs
      .select(tokens(col("text")).as("__graft_ws"))
      .select(explode(pairArr).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val pairCounts = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val total = pairs.agg(count(lit(1)).as("total_pairs"))
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    pairCounts
      .join(uni.select(col("w").as("w1"), col("cnt").as("w1_count")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("cnt").as("w2_count")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("pair_count"), col("w1_count"),
        col("w2_count"), col("total_pairs"),
        ((col("pair_count").cast("double") * col("total_pairs").cast("double"))
          / (col("w1_count").cast("double") * col("w2_count").cast("double"))).as("lift"),
        (col("pair_count").cast("double") / col("w1_count").cast("double"))
          .as("p_w2_given_w1"))
      .orderBy(desc("lift"), asc("w1"), asc("w2"))
      .limit(k)
  }

  val wordCollocationsSql: String =
    """WITH b AS (
      |  SELECT string_split_regex(trim(text), '\s+') AS ws FROM documents
      |), pr AS (
      |  SELECT unnest(list_transform(range(1, greatest(len(ws)-1, 0) + 1), i -> ws[i])) AS w1,
      |    unnest(list_transform(range(1, greatest(len(ws)-1, 0) + 1), i -> ws[i+1])) AS w2
      |  FROM b
      |), pc AS (
      |  SELECT w1, w2, COUNT(*) AS pair_count FROM pr GROUP BY 1, 2 HAVING COUNT(*) >= 5
      |), total AS (SELECT COUNT(*) AS total_pairs FROM pr),
      |uni AS (
      |  SELECT w, COUNT(*) AS cnt FROM (SELECT unnest(ws) AS w FROM b) u GROUP BY w
      |)
      |SELECT pc.w1, pc.w2, pc.pair_count, u1.cnt AS w1_count, u2.cnt AS w2_count,
      |  total_pairs,
      |  (CAST(pc.pair_count AS DOUBLE) * CAST(total_pairs AS DOUBLE))
      |    / (CAST(u1.cnt AS DOUBLE) * CAST(u2.cnt AS DOUBLE)) AS lift,
      |  CAST(pc.pair_count AS DOUBLE) / CAST(u1.cnt AS DOUBLE) AS p_w2_given_w1
      |FROM pc
      |JOIN uni u1 ON pc.w1 = u1.w
      |JOIN uni u2 ON pc.w2 = u2.w
      |CROSS JOIN total
      |ORDER BY lift DESC, w1 ASC, w2 ASC
      |LIMIT 100""".stripMargin

  /** Per-doc unigram cross-entropy against the corpus' own add-one-
    * smoothed unigram LM — the real (log-domain) form of the quality
    * signal rarityScore approximates with integers: bits/token =
    * −Σ c(w)·log2 p̂(w) / n, p̂(w) = (corpus_count(w)+1)/(N+V). The
    * CCNet-style perplexity filter ("score each shard against an LM,
    * keep the fluent head") with the corpus itself as the LM.
    *
    * Full SQL: the per-word log-prob quantizes to a 1e-5-bit integer
    * at vocab grain, so the per-doc rollup sums exact BIGINTs —
    * shuffle-order independence AND an exact DuckDB hash in one move
    * (see textEntropy's Scaladoc for the measurement behind the
    * grain). Plan shape: per-doc
    * word counts (one shuffle, map-side combined), vocab rollup from
    * those SAME (word, doc) rows (no second corpus scan), a
    * vocab-dimension hash join back (broadcast is wrong at scale),
    * one doc rollup. */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame =
    textPerplexityFrom(Tables.documents(spark, dir))

  def textPerplexityFrom(docs: DataFrame): DataFrame = {
    val docCounts = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // one scan feeds the vocab rollup AND the join back
    val vocab = docCounts.groupBy(col("w")).agg(sum(col("c")).as("cw"))
    val totals = vocab.agg(sum(col("cw")).as("n_corpus"),
      count(lit(1)).as("v_vocab"))
    // determinism model (shared with textEntropy — see its
    // Scaladoc): the per-word log-prob quantizes to a
    // 1e-5-bit integer at VOCAB grain (one LOG2 per word, not per
    // (doc, word) — also strictly cheaper than the old fact-grain
    // log), so the per-doc rollup sums exact BIGINTs: bit-stable at
    // any partitioning and exactly reproducible by the DuckDB oracle.
    // perplexity = 2^bpt re-enters libm, so it re-quantizes at 1e-4.
    val lm = vocab.crossJoin(broadcast(totals))
      .select(col("w"), expr(
        "CAST(ROUND(-LOG2(CAST(cw + 1 AS DOUBLE) / CAST(n_corpus + v_vocab AS DOUBLE)) * 100000.0D) AS BIGINT)")
        .as("lp_q"))
    docCounts.join(lm, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("lp_q")).as("bits_q"))
      .withColumn("bits_per_token",
        col("bits_q").cast("double") / col("n_tokens").cast("double")
          / lit(100000.0))
      .withColumn("perplexity",
        expr("CAST(ROUND(POWER(2.0D, bits_per_token) * 10000.0D) AS BIGINT)")
          .cast("double") / lit(10000.0))
      .drop("bits_q")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[textPerplexityFrom]] — identical quantized
    * pipeline, identical operation order in every float expression. */
  val textPerplexitySql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
      |), dc AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
      |), vocab AS (
      |  SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM dc GROUP BY w
      |), tot AS (
      |  SELECT CAST(SUM(cw) AS BIGINT) AS n_corpus, CAST(COUNT(*) AS BIGINT) AS v_vocab FROM vocab
      |), lm AS (
      |  SELECT w, CAST(ROUND(-log2(CAST(cw + 1 AS DOUBLE) / CAST(n_corpus + v_vocab AS DOUBLE)) * 100000.0) AS BIGINT) AS lp_q
      |  FROM vocab, tot
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(SUM(c * lp_q) AS BIGINT) AS bits_q
      |  FROM dc JOIN lm USING (w) GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens,
      |  CAST(bits_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 100000.0 AS bits_per_token,
      |  CAST(CAST(ROUND(power(2.0, CAST(bits_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 100000.0) * 10000.0) AS BIGINT) AS DOUBLE) / 10000.0 AS perplexity
      |FROM agg ORDER BY doc_id""".stripMargin

  /** The tuning table for a PERPLEXITY cut — the CCNet-style "keep
    * the model-familiar tail" filter's dial (the quality_threshold_
    * curve pattern on the perplexity axis, completing the closure
    * set): per candidate max-bits threshold t, the docs and token
    * share `bits_per_token ≤ t` keeps. Perplexity filters cut from
    * the HIGH side (gibberish and OCR noise score high; repetitive
    * boilerplate scores low — read both ends before shipping a cut),
    * so the curve is the PREFIX cumulative of the per-bit histogram.
    * One ppl pass (textPerplexityFrom's fact shuffle) → ≤16-row
    * histogram → windows over ≤16 rows + a 1-row broadcast total.
    * Full SQL since r14: bits_per_token is an exact integer ratio
    * under the quantized LM (see textPerplexityFrom), so the FLOOR
    * binning, the integer prefix sums, and the two share divisions
    * are bit-identical cross-engine. */
  def pplThresholdCurve(spark: SparkSession, dir: String): DataFrame =
    pplThresholdCurveFrom(textPerplexityFrom(Tables.documents(spark, dir)))

  /** DuckDB oracle for [[pplThresholdCurve]] — the perplexity CTE
    * chain (shared shape with [[textPerplexitySql]]) reduced to the
    * filled 16-bin prefix-cumulative. */
  val pplThresholdCurveSql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
      |), dc AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
      |), vocab AS (
      |  SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM dc GROUP BY w
      |), tot AS (
      |  SELECT CAST(SUM(cw) AS BIGINT) AS n_corpus, CAST(COUNT(*) AS BIGINT) AS v_vocab FROM vocab
      |), lm AS (
      |  SELECT w, CAST(ROUND(-log2(CAST(cw + 1 AS DOUBLE) / CAST(n_corpus + v_vocab AS DOUBLE)) * 100000.0) AS BIGINT) AS lp_q
      |  FROM vocab, tot
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, CAST(SUM(c * lp_q) AS BIGINT) AS bits_q
      |  FROM dc JOIN lm USING (w) GROUP BY doc_id
      |), hist AS (
      |  SELECT LEAST(CAST(FLOOR(CAST(bits_q AS DOUBLE) / CAST(n_tokens AS DOUBLE) / 100000.0) AS INT), 15) AS b,
      |    CAST(COUNT(*) AS BIGINT) AS docs, CAST(SUM(n_tokens) AS BIGINT) AS toks
      |  FROM agg GROUP BY 1
      |), filled AS (
      |  SELECT CAST(r.range AS INT) AS b, COALESCE(docs, CAST(0 AS BIGINT)) AS docs,
      |    COALESCE(toks, CAST(0 AS BIGINT)) AS toks
      |  FROM range(16) r LEFT JOIN hist ON hist.b = r.range
      |), cum AS (
      |  SELECT b,
      |    CAST(SUM(docs) OVER (ORDER BY b) AS BIGINT) AS surviving_docs,
      |    CAST(SUM(toks) OVER (ORDER BY b) AS BIGINT) AS surviving_tokens,
      |    CAST(SUM(docs) OVER () AS BIGINT) AS n_docs,
      |    CAST(SUM(toks) OVER () AS BIGINT) AS n_toks
      |  FROM filled
      |)
      |SELECT CAST(b + 1 AS INT) AS max_bits, surviving_docs,
      |  CAST(surviving_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) * 100 AS doc_pct,
      |  surviving_tokens,
      |  CAST(surviving_tokens AS DOUBLE) / CAST(n_toks AS DOUBLE) * 100 AS token_pct
      |FROM cum ORDER BY max_bits""".stripMargin

  private[graft] def pplThresholdCurveFrom(ppl: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark2 = ppl.sparkSession
    import spark2.implicits._
    val hist = ppl
      .select(least(floor(col("bits_per_token")).cast("int"), lit(15)).as("b"),
        col("n_tokens"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).cast("bigint").as("toks"))
    val filled = (0 to 15).toDF("b").join(hist, Seq("b"), "left")
      .select(col("b"), coalesce(col("docs"), lit(0L)).as("docs"),
        coalesce(col("toks"), lit(0L)).as("toks"))
    val wPrefix = Window.orderBy(asc("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // r15 (guide §2.4): totals ride a global window over the 16-row
    // filled frame (the oracle already computes them as SUM() OVER ()
    // FROM filled) — the 1-row agg + crossJoin re-derived the whole
    // textPerplexity subtree (LM build included) a second time.
    val wAllB = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    filled
      .withColumn("n_docs", sum(col("docs")).over(wAllB))
      .withColumn("n_toks", sum(col("toks")).over(wAllB))
      .withColumn("surviving_docs", sum(col("docs")).over(wPrefix))
      .withColumn("surviving_tokens", sum(col("toks")).over(wPrefix))
      .select((col("b") + 1).cast("int").as("max_bits"),
        col("surviving_docs"),
        (col("surviving_docs").cast("double") / col("n_docs").cast("double") * 100)
          .as("doc_pct"),
        col("surviving_tokens"),
        (col("surviving_tokens").cast("double") / col("n_toks").cast("double") * 100)
          .as("token_pct"))
      .orderBy("max_bits")
  }

  /** Per-doc BIGRAM cross-entropy (bits per bigram position) against
    * the corpus' own Jelinek–Mercer-interpolated bigram LM — the word-
    * order-aware upgrade of `textPerplexity` (a unigram model can't
    * tell "the cat sat" from "sat the cat"; the CCNet-style filter
    * this approximates is exactly an n-gram LM perplexity cut):
    * P(w2|w1) = λ·c(w1w2)/c(w1·) + (1−λ)·(c(·w2)+1)/(N+V), with the
    * unigram leg add-one-smoothed over second positions so the mixture
    * never zeroes (the history leg alone would — and an unsmoothed
    * interpolation of an in-corpus doc can't, but the guard keeps the
    * operator correct on any LM/scoring corpus split).
    *
    * Scale shape: ONE fact-sized shuffle (the per-doc bigram count,
    * checkpointed — it feeds the LM rollups and the scoring join);
    * the LM assembles entirely at VOCAB dimension — history and
    * second-unigram marginals are second-level rollups of the bigram
    * vocab, joined vocab⋈vocab, totals a 1-row broadcast — and only
    * then joins back to the doc frame ONCE on (w1, w2) (assembling on
    * the fact frame instead would shuffle it three times; a broadcast
    * is wrong at scale — a 100 TB bigram vocabulary is huge). Docs
    * with < 2 tokens have no bigram positions and emit no row.
    *
    * Full SQL: the interpolated mixture is pure IEEE arithmetic over
    * integer counts, and the one libm call (LOG2) quantizes to a
    * 1e-5-bit integer at LM grain before the per-doc BIGINT rollup —
    * shuffle-order independent and exact-hash reproducible in DuckDB
    * (textEntropy's Scaladoc has the measurement). The spec replays the exact model on
    * the driver and pins the repetitive < mixed < diverse ordering. */
  def textPerplexityBigram(spark: SparkSession, dir: String,
      lambda: Double = 0.75): DataFrame =
    textPerplexityBigramFrom(Tables.documents(spark, dir), lambda)

  /** Vocab-row bound choosing the LM legs' join strategy: below it
    * every LM-side frame broadcasts EXPLICITLY (vocab-grain builds,
    * the right plan — and explicit, because checkpointed frames
    * carry misleading stats and the planner was observed electing
    * the corpus-sized FACT frame as the broadcast build instead, a
    * 3.7 GiB hash table that killed an 8 GiB driver at the ×100
    * deep leg); above it they pin SHUFFLE_HASH. The bound is
    * MEASURED, not guessed: bgVocab is already eagerly
    * checkpointed, so counting it is one cheap job over cached
    * blocks — the bot-census arming discipline. 4M vocab rows
    * ≈ low hundreds of MB broadcast, the sane ceiling. */
  private[graft] val BigramBroadcastMaxVocab = 4000000L

  def textPerplexityBigramFrom(docs: DataFrame,
      lambda: Double = 0.75,
      broadcastMaxVocab: Long = BigramBroadcastMaxVocab): DataFrame = {
    // tokenize once before the per-position lambda (the bigramRarity
    // O(words²) lesson)
    val ws = col("__graft_ws")
    val bigramArr = when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1),
        i => struct(element_at(ws, i).as("w1"),
          element_at(ws, i + lit(1)).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val docBg = docs
      .select(col("doc_id"), tokens(col("text")).as("__graft_ws"))
      .select(col("doc_id"), explode(bigramArr).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // one corpus scan: LM rollups + scoring join
    val bgVocab = docBg.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb"))
      .localCheckpoint() // history + unigram marginals + the LM frame
    // measured arming: the scoring join's build side must ALWAYS be
    // the LM — checkpointed frames carry misleading stats, and the
    // planner was observed electing the FACT frame (docBg) as a
    // BuildLeft broadcast (3.7 GiB at the ×100 deep leg, an 8 GiB
    // driver kill). Below the vocab bound the LM broadcasts
    // EXPLICITLY (the correct plan — vocab-grain build, fact side
    // streams); past it the LM pins SHUFFLE_HASH, as do the marginal
    // joins, so no stats misestimate can elect a broadcast anywhere
    val bigVocab = bgVocab.count() > broadcastMaxVocab
    def lmSide(df: DataFrame): DataFrame =
      if (bigVocab) df.hint("shuffle_hash") else broadcast(df)
    val hist = bgVocab.groupBy(col("w1")).agg(sum(col("cb")).as("ch"))
    val uni = bgVocab.groupBy(col("w2")).agg(sum(col("cb")).as("cu"))
    val totals = uni.agg(sum(col("cu")).as("n2"), count(lit(1)).as("v2"))
    // r14 determinism model (shared with textPerplexity): the mixture
    // itself is pure IEEE arithmetic over integer counts (identical
    // bits in both engines — λ = 0.75 and 1−λ = 0.25 are exact binary
    // literals), only the LOG2 is libm, so the per-bigram log-prob
    // quantizes to a 1e-5-bit integer at LM grain and the per-doc
    // rollup sums exact BIGINTs.
    val lm = bgVocab
      .join(lmSide(hist), Seq("w1"))
      .join(lmSide(uni), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"),
        expr(s"""CAST(ROUND(-LOG2(
          |  ${lambda}D * (CAST(cb AS DOUBLE) / CAST(ch AS DOUBLE)) +
          |  ${1.0 - lambda}D * (CAST(cu + 1 AS DOUBLE) / CAST(n2 + v2 AS DOUBLE))
          |) * 100000.0D) AS BIGINT)""".stripMargin).as("lp_q"))
    docBg.join(lmSide(lm), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("lp_q")).as("bits_q"))
      .withColumn("bits_per_token",
        col("bits_q").cast("double") / col("n_bigrams").cast("double")
          / lit(100000.0))
      .withColumn("perplexity",
        expr("CAST(ROUND(POWER(2.0D, bits_per_token) * 10000.0D) AS BIGINT)")
          .cast("double") / lit(10000.0))
      .drop("bits_q")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[textPerplexityBigramFrom]] at the default
    * λ = 0.75 — identical quantized pipeline, identical float
    * operation order (the mixture's literals are exact binary). */
  val textPerplexityBigramSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
      |  FROM documents WHERE text IS NOT NULL
      |), pos AS (
      |  SELECT doc_id, unnest(generate_series(1, len(ws) - 1)) AS i, ws
      |  FROM d WHERE len(ws) >= 2
      |), dbg AS (
      |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2, COUNT(*) AS c
      |  FROM pos GROUP BY doc_id, w1, w2
      |), bgv AS (
      |  SELECT w1, w2, CAST(SUM(c) AS BIGINT) AS cb FROM dbg GROUP BY w1, w2
      |), hist AS (
      |  SELECT w1, CAST(SUM(cb) AS BIGINT) AS ch FROM bgv GROUP BY w1
      |), uni AS (
      |  SELECT w2, CAST(SUM(cb) AS BIGINT) AS cu FROM bgv GROUP BY w2
      |), tot AS (
      |  SELECT CAST(SUM(cu) AS BIGINT) AS n2, CAST(COUNT(*) AS BIGINT) AS v2 FROM uni
      |), lm AS (
      |  SELECT w1, w2, CAST(ROUND(-log2(
      |    0.75 * (CAST(cb AS DOUBLE) / CAST(ch AS DOUBLE)) +
      |    0.25 * (CAST(cu + 1 AS DOUBLE) / CAST(n2 + v2 AS DOUBLE))
      |  ) * 100000.0) AS BIGINT) AS lp_q
      |  FROM bgv JOIN hist USING (w1) JOIN uni USING (w2), tot
      |), agg AS (
      |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, CAST(SUM(c * lp_q) AS BIGINT) AS bits_q
      |  FROM dbg JOIN lm USING (w1, w2) GROUP BY doc_id
      |)
      |SELECT doc_id, n_bigrams,
      |  CAST(bits_q AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 100000.0 AS bits_per_token,
      |  CAST(CAST(ROUND(power(2.0, CAST(bits_q AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 100000.0) * 10000.0) AS BIGINT) AS DOUBLE) / 10000.0 AS perplexity
      |FROM agg ORDER BY doc_id""".stripMargin

  /** Tokenizer fertility by language — tokens-per-word, the standard
    * "how well does this tokenizer fit this language" dial (fertility
    * near 1 = word-level efficiency; high fertility = the vocabulary
    * fragments that language, so its token BUDGET buys fewer words —
    * the per-language correction `corpus_epoch_plan`'s word budgets
    * need). Pure eval closure of `text_bpe_estimate`: the SAME
    * estimator columns roll up at language grain — one map-combined
    * shuffle to the ≤|langs| dimension, exact longs until two final
    * IEEE divisions. Oracle-green. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("lang").isNotNull)
      .select(col("lang"), wsWordsCol.cast("long").as("w"),
        estBpeTokensCol.cast("long").as("t"), length(col("text")).cast("long").as("ch"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("word_count"),
        sum(col("t")).as("est_bpe_tokens"), sum(col("ch")).as("char_count"))
      .select(col("lang"), col("n_docs"), col("word_count"), col("est_bpe_tokens"),
        (col("est_bpe_tokens").cast("double") / col("word_count").cast("double"))
          .as("fertility"),
        (col("char_count").cast("double") / col("est_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")

  val tokenizerFertilitySql: String = {
    val occ = BpeMerges.map(m =>
      s"(length(text) - length(replace(text, '$m', ''))) / 2").mkString(" + ")
    val words = "len(string_split_regex(trim(text), '\\s+'))"
    val est = s"GREATEST($words, length(regexp_replace(text, '\\s+', '', 'g')) - ($occ))"
    s"""WITH d AS (
       |  SELECT lang, CAST($words AS BIGINT) AS w, CAST($est AS BIGINT) AS t,
       |    CAST(length(text) AS BIGINT) AS ch
       |  FROM documents WHERE lang IS NOT NULL
       |), a AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(w) AS BIGINT) AS word_count,
       |    CAST(SUM(t) AS BIGINT) AS est_bpe_tokens,
       |    CAST(SUM(ch) AS BIGINT) AS char_count
       |  FROM d GROUP BY lang
       |)
       |SELECT lang, n_docs, word_count, est_bpe_tokens,
       |  CAST(est_bpe_tokens AS DOUBLE) / CAST(word_count AS DOUBLE) AS fertility,
       |  CAST(char_count AS DOUBLE) / CAST(est_bpe_tokens AS DOUBLE) AS chars_per_token
       |FROM a ORDER BY lang""".stripMargin
  }

  /** Per-doc word-level Shannon entropy (bits/word) — the classic
    * repetitiveness/quality signal beside `text_repetition`'s
    * fraction rules: H = log2(n) − (Σ cᵢ·log2 cᵢ)/n over the doc's
    * own word counts; `entropy_ratio` normalizes by the doc's
    * attainable maximum log2(distinct) so 1.0 = every word
    * equally-frequent and 0.0 = one word repeated (a spam/boilerplate
    * detector that needs no corpus statistics at all).
    *
    * Plan shape — ZERO shuffle: the per-doc counts never materialize
    * as rows. The words sort within their own array and a codegen'd
    * `aggregate` fold walks the runs of equals, accumulating
    * Σ run·log2(run) in one pass — the narrow-map alternative to the
    * (doc, word)-exploded two-exchange plan `text_perplexity` needs
    * (perplexity needs corpus-wide counts; within-doc entropy does
    * not, so paying an exchange for it would be wrong at any scale).
    *
    * Determinism / oracle: every libm output is quantized to an
    * INTEGER at the point of use — each run's c·log2(c) term and the
    * two log2(n) terms round at 1e-4-bit grain before any arithmetic
    * combines them, so the result is a pure function of integer
    * counts: bit-stable at any partitioning AND exactly reproducible
    * by the DuckDB oracle (measured over these queries' input
    * populations: raw LOG2 disagrees cross-engine on up to 24% of
    * inputs at the ulp, but the engines' values differ ≤ 4e-15 — a
    * 1e-4 grid flips with probability ~1e-11 per term). The 1e-4 grain is invisible for a
    * quality signal measured in whole bits; the GREATEST(…, 0) clamp
    * absorbs the ±1e-4 quantization residue that could otherwise push
    * a constant-ish doc's entropy microscopically negative. */
  def textEntropy(spark: SparkSession, dir: String): DataFrame =
    textEntropyFrom(Tables.documents(spark, dir))

  /** round(x·1e4) as BIGINT — the shared quantization grain (SQL
    * fragment used inside the fold, mirrored verbatim in the oracle). */
  private def q4(inner: String): String =
    s"CAST(ROUND(($inner) * 10000.0D) AS BIGINT)"

  def textEntropyFrom(docs: DataFrame): DataFrame = {
    val term =
      q4("CAST(s.run AS DOUBLE) * LOG2(CAST(s.run AS DOUBLE))")
    val runFold = expr(
      s"""aggregate(
         |  array_sort(split(trim(text), '\\\\s+')),
         |  struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS acc),
         |  (s, w) -> CASE WHEN s.prev IS NULL OR w != s.prev THEN
         |      struct(w AS prev, 1L AS run,
         |        s.acc + CASE WHEN s.run > 1 THEN $term ELSE 0L END AS acc)
         |    ELSE struct(s.prev AS prev, s.run + 1L AS run, s.acc AS acc) END,
         |  s -> s.acc + CASE WHEN s.run > 1 THEN $term ELSE 0L END)
         |""".stripMargin)
    docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_words"),
        size(array_distinct(tokens(col("text")))).cast("long").as("n_distinct"),
        runFold.as("sum_clogc_q"))
      .withColumn("entropy_bits",
        greatest(
          (expr(q4("LOG2(CAST(n_words AS DOUBLE))")).cast("double") -
            col("sum_clogc_q").cast("double") / col("n_words").cast("double"))
            / lit(10000.0),
          lit(0.0)))
      .withColumn("entropy_ratio",
        when(col("n_distinct") > 1,
          col("entropy_bits") /
            (expr(q4("LOG2(CAST(n_distinct AS DOUBLE))")).cast("double")
              / lit(10000.0)))
          .otherwise(lit(0.0)))
      .drop("sum_clogc_q")
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[textEntropyFrom]] — the identical quantized
    * integer pipeline ((doc, word) counts stand in for the fold's
    * runs; Σ of per-run BIGINTs is order-free, so the grouped rollup
    * matches the array fold exactly). */
  val textEntropySql: String =
    """WITH words AS (
      |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
      |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
      |), wc AS (
      |  SELECT doc_id, w, COUNT(*) AS c FROM words GROUP BY doc_id, w
      |), agg AS (
      |  SELECT doc_id,
      |    CAST(SUM(c) AS BIGINT) AS n_words,
      |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
      |    CAST(SUM(CASE WHEN c > 1 THEN CAST(ROUND(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) * 10000.0) AS BIGINT) ELSE 0 END) AS BIGINT) AS sumq
      |  FROM wc GROUP BY doc_id
      |), e AS (
      |  SELECT doc_id, n_words, n_distinct,
      |    GREATEST((CAST(CAST(ROUND(log2(CAST(n_words AS DOUBLE)) * 10000.0) AS BIGINT) AS DOUBLE)
      |      - CAST(sumq AS DOUBLE) / CAST(n_words AS DOUBLE)) / 10000.0, 0.0) AS entropy_bits
      |  FROM agg
      |)
      |SELECT doc_id, n_words, n_distinct, entropy_bits,
      |  CASE WHEN n_distinct > 1 THEN entropy_bits /
      |    (CAST(CAST(ROUND(log2(CAST(n_distinct AS DOUBLE)) * 10000.0) AS BIGINT) AS DOUBLE) / 10000.0)
      |  ELSE 0.0 END AS entropy_ratio
      |FROM e ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Quality classifier: distributed full-batch logistic regression
  // distilling the Gopher rule CASCADE into one linear score.
  // ------------------------------------------------------------------

  /** Feature names for the LR quality classifier, in weight order. */
  private[graft] val LrFeatureNames = Seq(
    "n_words", "avg_word_len", "stopword_ratio", "top_word_frac", "dup_bigram_frac")

  /** Shared feature/label frame: (doc_id, label = the Gopher per-doc
    * text gates, f0..f4). The same five signals the rule cascade
    * thresholds — the classifier learns a GRADED combination of them,
    * which is what the cascade can't give you: a ranking for
    * budget-constrained selection ("best 40% of the crawl"), not just
    * a binary gate. All columns are native codegen'd expressions
    * (word_rep_stats is the fused single-pass native fn) — zero UDFs,
    * one corpus scan. */
  /** The five raw feature columns over `text`, in LrFeatureNames
    * order — ONE definition shared by training, batch scoring and
    * streaming scoring (the no-drift argument rests on this). */
  private def lrRawFeatureCols: Seq[Column] = {
    val st = call_function("word_rep_stats", col("text"))
    def f(i: Int) = element_at(st, i).cast("double")
    val nWords = f(1)
    Seq(
      nWords,
      length(col("text")).cast("double") / greatest(nWords, lit(1.0)),
      countIn(tokens(col("text")), Stopwords).cast("double") / greatest(nWords, lit(1.0)),
      f(2) / greatest(f(1), lit(1.0)),
      (f(3) - f(4)) / greatest(f(3), lit(1.0)))
  }

  /** The Gopher per-doc text gates as one boolean-ish label column. */
  private def lrLabelCol(minQuality: Double = 0.5, minWords: Int = 20,
      maxTopWordFrac: Double = 0.2, maxDupBigramFrac: Double = 0.1): Column = {
    val fs = lrRawFeatureCols
    when(qualityScoreCol >= minQuality && fs(0) >= minWords &&
        fs(3) < maxTopWordFrac && fs(4) < maxDupBigramFrac, 1.0)
      .otherwise(0.0)
  }

  private[graft] def qualityLrFeatures(docs: DataFrame,
      minQuality: Double = 0.5, minWords: Int = 20,
      maxTopWordFrac: Double = 0.2, maxDupBigramFrac: Double = 0.1): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    val fs = lrRawFeatureCols
    docs.select(
      (col("doc_id") +:
        lrLabelCol(minQuality, minWords, maxTopWordFrac, maxDupBigramFrac).as("label") +:
        fs.zipWithIndex.map { case (c, j) => c.as(s"f$j") }): _*)
  }

  /** The trained model: standardized + raw-space weights per feature
    * and the training-loss bookends (the `__intercept__` row carries
    * loss0/lossF in the feature_mean/feature_std columns — the one
    * place they'd otherwise be NULL). Full-batch gradient descent,
    * `iters` fixed rounds at `step` on Z-SCORED features (exact
    * moment standardization from one aggregate — without it the
    * n_words axis drowns the ratios and GD crawls).
    *
    * Scale shape — the Lloyd/PageRank control-flow class: the feature
    * frame is ONE corpus scan, localCheckpoint'ed; each round is one
    * map-combined aggregate of (k+1) sums with the current weights
    * riding the plan as literals, collected as a 1-row gradient (the
    * only driver traffic — k+2 doubles per round, independent of
    * corpus size). Nothing iterates over rows driver-side; 100 TB
    * changes the scan cost, not the round structure. rows-only by
    * design: iterated float sums (and the loss's log) are not
    * bit-reproducible cross-engine; the spec pins exact separation on
    * planted corpora and baseline-beating agreement at sf. */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    renderQualityLr(spark, trainedQualityLr(spark, dir))

  def qualityClassifierFrom(spark: SparkSession, docs: DataFrame,
      iters: Int = 40, step: Double = 1.0): DataFrame =
    renderQualityLr(spark, trainQualityLr(docs, iters, step))

  private def renderQualityLr(spark: SparkSession, m: LrModel): DataFrame = {
    import spark.implicits._
    val rows = LrFeatureNames.zipWithIndex.map { case (nme, j) =>
      (nme, m.wStd(j), m.wStd(j) / m.std(j), m.mean(j), m.std(j))
    } :+ (("__intercept__", m.bStd,
      m.bStd - (0 until LrFeatureNames.size)
        .map(j => m.wStd(j) * m.mean(j) / m.std(j)).sum,
      m.loss0, m.lossF))
    rows.toDF("feature", "weight_std", "weight_raw", "feature_mean", "feature_std")
      .orderBy("feature")
  }

  // ---- shared trained-model memo for the classifier family ----
  // quality_classifier / _eval / _calibration (and saveQualityLr) all
  // consume the SAME trained model at registry defaults; training is
  // deterministic given the corpus and (iters, step) — a fixed round
  // count of exact map-combined aggregates, no RNG — so three
  // trainings in one session are pure waste (~5-6 s apiece at sf0.1,
  // three of the seven slowest bench entries). The held LrModel
  // carries a localCheckpointed feature frame, which the memo checks
  // before serving and unpersists on clear. `*From` forms (arbitrary
  // frames — no cheap identity) stay uncached.
  private[graft] val qualityLrMemo =
    new graft.Caches.Memo[LrModel](8, m => Seq(m.features))

  private[graft] def trainedQualityLr(spark: SparkSession, dir: String,
      iters: Int = 40, step: Double = 1.0): LrModel = {
    val docs = Tables.documents(spark, dir)
    qualityLrMemo(graft.Caches.dirKey(spark,
      dir +: docs.inputFiles.sorted :+ s"iters=$iters" :+ s"step=$step")) {
      trainQualityLr(docs, iters, step)
    }
  }

  private[graft] case class LrModel(wStd: Array[Double], bStd: Double,
      mean: Array[Double], std: Array[Double], loss0: Double, lossF: Double,
      features: DataFrame)

  private[graft] def trainQualityLr(docs: DataFrame, iters: Int,
      step: Double): LrModel = {
    val k = LrFeatureNames.size
    val raw = qualityLrFeatures(docs).localCheckpoint()
    // exact-moment standardization in ONE aggregate
    val mrow = raw.agg(
      count(lit(1)).cast("double").as("n"),
      (0 until k).flatMap(j => Seq(
        sum(col(s"f$j")).as(s"s$j"),
        sum(col(s"f$j") * col(s"f$j")).as(s"q$j"))): _*).collect().head
    val n = mrow.getAs[Double]("n")
    val mean = (0 until k).map(j => mrow.getAs[Double](s"s$j") / n).toArray
    val std = (0 until k).map { j =>
      val v = mrow.getAs[Double](s"q$j") / n - mean(j) * mean(j)
      if (v > 1e-12) math.sqrt(v) else 1.0
    }.toArray
    val z = raw.select(
      (col("doc_id") +: col("label") +:
        (0 until k).map(j => ((col(s"f$j") - mean(j)) / std(j)).as(s"z$j"))): _*)
      .localCheckpoint()
    var w = Array.fill(k)(0.0)
    var b = 0.0
    var loss0 = 0.0
    var lossF = 0.0
    for (it <- 0 until iters) {
      val zlin = (0 until k).map(j => col(s"z$j") * w(j)).reduce(_ + _) + lit(b)
      val p = lit(1.0) / (lit(1.0) + exp(-zlin))
      val pc = least(greatest(p, lit(1e-12)), lit(1.0 - 1e-12))
      val g = z.agg(
        sum((p - col("label"))).as("gb"),
        (0 until k).map(j => sum((p - col("label")) * col(s"z$j")).as(s"g$j")) :+
          sum(-(col("label") * log(pc) +
            (lit(1.0) - col("label")) * log(lit(1.0) - pc))).as("loss"): _*)
        .collect().head
      val loss = g.getAs[Double]("loss") / n
      if (it == 0) loss0 = loss
      lossF = loss
      b -= step * g.getAs[Double]("gb") / n
      w = (0 until k).map(j => w(j) - step * g.getAs[Double](s"g$j") / n).toArray
    }
    LrModel(w, b, mean, std, loss0, lossF, z)
  }

  /** Eval closure of `quality_classifier` (the langid_confusion
    * pattern): the trained score against the rule label it distills —
    * the 2×2 confusion census at the 0.5 cut with per-cell mean
    * predicted probability. Read it before replacing the cascade with
    * the score: the (pred 1, label 0) cell is what a score-based
    * filter would ADMIT that the rules reject. One extra pass over
    * the checkpointed standardized features with the weights as
    * literals. */
  def qualityClassifierEval(spark: SparkSession, dir: String): DataFrame =
    renderQualityLrEval(trainedQualityLr(spark, dir))

  def qualityClassifierEvalFrom(spark: SparkSession, docs: DataFrame,
      iters: Int = 40, step: Double = 1.0): DataFrame =
    renderQualityLrEval(trainQualityLr(docs, iters, step))

  private def renderQualityLrEval(m: LrModel): DataFrame = {
    val k = LrFeatureNames.size
    val zlin = (0 until k).map(j => col(s"z$j") * m.wStd(j)).reduce(_ + _) + lit(m.bStd)
    val p = lit(1.0) / (lit(1.0) + exp(-zlin))
    m.features
      .select(col("label").cast("long").as("label_pass"),
        when(p >= 0.5, 1L).otherwise(0L).as("pred_pass"), p.as("p"))
      .groupBy("pred_pass", "label_pass")
      .agg(count(lit(1)).as("n_docs"), avg(col("p")).as("mean_p"))
      .orderBy("pred_pass", "label_pass")
  }

  /** Reliability diagram of the quality classifier — the calibration
    * view the confusion cells (`quality_classifier_eval`) can't give:
    * a scorer can have fine accuracy while its probabilities lie (a
    * 0.9 bucket passing 60% of the time means downstream threshold
    * picks are miscalibrated). Predicted probabilities bin into ten
    * fixed deciles; per bin: doc mass, mean predicted p, and the
    * EMPIRICAL pass rate of the Gopher-proxy label — a calibrated
    * scorer tracks the diagonal, and the signed gap
    * (mean_p − label_rate) is the per-bin overconfidence. Rows-only
    * (sigmoid = exp); same one-scan feature projection as the eval. */
  def qualityClassifierCalibration(spark: SparkSession, dir: String): DataFrame =
    renderQualityLrCalibration(trainedQualityLr(spark, dir))

  def qualityClassifierCalibrationFrom(spark: SparkSession, docs: DataFrame,
      iters: Int = 40, step: Double = 1.0): DataFrame =
    renderQualityLrCalibration(trainQualityLr(docs, iters, step))

  private def renderQualityLrCalibration(m: LrModel): DataFrame = {
    val k = LrFeatureNames.size
    val zlin = (0 until k).map(j => col(s"z$j") * m.wStd(j)).reduce(_ + _) + lit(m.bStd)
    val p = lit(1.0) / (lit(1.0) + exp(-zlin))
    m.features
      .select(col("label").cast("long").as("label"), p.as("p"))
      .withColumn("bin", least(floor(col("p") * 10).cast("int"), lit(9)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        avg(col("p")).as("mean_p"),
        avg(col("label").cast("double")).as("label_rate"))
      .withColumn("gap", col("mean_p") - col("label_rate"))
      .orderBy("bin")
  }

  /** The shipped form of the trained classifier: per-feature
    * standardized weight + the moments that standardized it, plus the
    * intercept. Scoring needs exactly this — train once on the
    * corpus, ship the weights, score everywhere (batches AND streams
    * in identical units), the BPE-vocab lifecycle for the quality
    * filter. */
  final case class LrScorer(weights: Seq[(String, Double, Double, Double)],
      intercept: Double)

  /** Canonical content fingerprint of a scorer — Double.toString is
    * an exact round-trip, so the stamp survives save/load bit-for-bit. */
  private[graft] def qualityLrFp(s: LrScorer): String =
    graft.sources.ArtifactManifest.fp(
      (s.weights.sortBy(_._1).map { case (n, w, m, sd) =>
        Seq(n, w.toString, m.toString, sd.toString).mkString("")
      } :+ s.intercept.toString).mkString("\n"))

  /** Train on `dir`'s corpus and persist the scorer as a stamped
    * parquet artifact (snapshot overwrite — retraining replaces it
    * atomically; built-from = the order-independent corpus
    * fingerprint, the saveBpeVocab pattern). */
  def saveQualityLr(spark: SparkSession, dir: String, outPath: String,
      iters: Int = 40, step: Double = 1.0): LrScorer = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val m = trainedQualityLr(spark, dir, iters, step)
    val scorer = LrScorer(
      LrFeatureNames.zipWithIndex.map { case (nme, j) =>
        (nme, m.wStd(j), m.mean(j), m.std(j)) }, m.bStd)
    scorer.weights.toDF("feature", "weight_std", "feature_mean", "feature_std")
      .withColumn("intercept", lit(scorer.intercept))
      .coalesce(1).write.mode("overwrite").parquet(outPath)
    val corpus = docs.agg(count(lit(1)),
      expr("bit_xor(xxhash64(doc_id, text))")).collect().head
    graft.sources.ArtifactManifest.write(outPath,
      graft.sources.ArtifactManifest.Stamp("quality_lr", qualityLrFp(scorer),
        s"documents:${corpus.getLong(0)}:${if (corpus.isNullAt(1)) 0L else corpus.getLong(1)}"))
    scorer
  }

  /** Load a persisted scorer; stamped artifacts verify against their
    * own manifest (corruption / half-replacement fails loud). */
  def loadQualityLr(spark: SparkSession, path: String): LrScorer = {
    val rows = spark.read.parquet(path).collect()
    require(rows.nonEmpty, s"empty quality_lr artifact at $path")
    val scorer = LrScorer(
      rows.map(r => (r.getAs[String]("feature"), r.getAs[Double]("weight_std"),
        r.getAs[Double]("feature_mean"), r.getAs[Double]("feature_std")))
        .sortBy(w => LrFeatureNames.indexOf(w._1)).toSeq,
      rows.head.getAs[Double]("intercept"))
    graft.sources.ArtifactManifest.verifyContent(path, "quality_lr",
      qualityLrFp(scorer))
    scorer
  }

  /** The shipped score as a single COLUMN over `text`: the same
    * feature expressions as training, Z-scored with the ARTIFACT's
    * moments (not the scoring batch's — scores must be comparable
    * across ingests), then the sigmoid. Pure stateless expression —
    * no shuffle, no join: drops identically onto a static frame and a
    * streaming one, which is the point — the live ingest filter and
    * the nightly batch filter CANNOT drift when both are this column
    * over the same artifact. */
  def qualityPCol(scorer: LrScorer): Column = {
    val z = scorer.weights.zip(lrRawFeatureCols).map { case ((_, w, m, sd), c) =>
      (c - lit(m)) / lit(sd) * lit(w) }
      .reduce(_ + _) + lit(scorer.intercept)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Score a doc frame with a shipped scorer: doc_id, the rule label,
    * and the graded probability — one narrow projection. */
  def scoreQualityWith(docs: DataFrame, scorer: LrScorer): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.select(col("doc_id"), lrLabelCol().as("rule_pass"),
      qualityPCol(scorer).as("quality_p"))
  }
}
