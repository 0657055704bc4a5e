package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.TextAnalysis

/** Streaming corpus ingest — the continuous flavor of the batch
  * `clean_corpus` pass (SURVEY.md §2D) for a training-data pipeline
  * that receives documents as a feed rather than a snapshot: PII
  * scrub → quality + language gate → watermark-bounded exact dedup.
  *
  * Scale design: every gate is a narrow projection over the stream
  * (the same codegen'd columns the batch operators use — one shared
  * definition, no drift between batch and streaming cleaning); the
  * only stateful step is `dropDuplicatesWithinWatermark` on the
  * scrubbed content hash, whose state is bounded by the watermark
  * horizon instead of growing with the corpus (the unbounded
  * `dropDuplicates` would OOM a long-running ingest).
  */
object DocStream {

  /** Feed schema: the documents-table layout plus an arrival/event
    * timestamp to watermark on. */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("ts", TimestampType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** File-source stream of JSONL documents. */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", 8)
      .json(path)

  /** The cleaning transform over a streaming (or batch) documents
    * frame: scrub PII, gate on quality score and predicted language,
    * drop exact duplicates of the scrubbed content within the
    * watermark. Emits the surviving docs with their audit columns. */
  def cleanDocs(docs: DataFrame, watermark: String = "1 hour",
                minQuality: Double = 0.5,
                langs: Seq[String] = Seq("en", "es", "de", "fr")): DataFrame =
    docs.withWatermark("ts", watermark)
      .withColumn("clean_text", TextAnalysis.piiScrubText(col("text")))
      .withColumn("quality_score", TextAnalysis.qualityScoreCol)
      .withColumn("predicted_lang", TextAnalysis.predictedLangCol)
      .filter(col("quality_score") >= minQuality &&
        col("predicted_lang").isin(langs.map(lit(_)): _*))
      .withColumn("content_md5", md5(col("clean_text").cast("binary")))
      .dropDuplicatesWithinWatermark("content_md5")
      .select(col("doc_id"), col("ts"), col("lang"), col("predicted_lang"),
        col("quality_score"), col("clean_text"))

  /** Score-gated ingest with the PERSISTED LR scorer
    * (`TextAnalysis.loadQualityLr` — train once, ship the weights):
    * the graded replacement for `cleanDocs`' binary rule gate. Pure
    * stateless projection over the stream — the SAME
    * `scoreQualityWith` expressions the batch filter runs, Z-scored
    * with the ARTIFACT's moments, so live and nightly admission
    * thresholds are in identical units and cannot drift (the
    * tokenLogSink comparability argument, applied to quality). Docs
    * below `minP` are dropped; survivors carry the probability for
    * downstream mixture/selection logic. */
  def scoredDocs(docs: DataFrame, scorer: TextAnalysis.LrScorer,
      minP: Double = 0.5): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(docs.sparkSession)
    docs.withColumn("quality_p", TextAnalysis.qualityPCol(scorer))
      .filter(col("quality_p") >= minP)
  }

  /** Domain-resemblance ingest gate with the PERSISTED DSIR model
    * (`TextAnalysis.saveDsirModel` — fit once against the target
    * seed, ship the ratio table): each doc scores through the SAME
    * `dsirLogWeightCol` fold batch selection uses, so live admission
    * and nightly resampling judge content in identical units. The
    * gate cuts on log weight PER TOKEN (a stream sees unbounded
    * lengths — the raw sum would admit any long doc with a few
    * on-domain tokens and reject short on-domain ones); survivors
    * carry both columns for downstream selection. Pure stateless
    * narrow projection — the ratio table rides the plan as one array
    * literal, nothing joins, nothing shuffles. */
  def dsirGatedDocs(docs: DataFrame, ratio: Array[Double],
      minLwPerToken: Double = 0.0): DataFrame =
    docs
      .withColumn("n_tokens",
        size(split(trim(col("text")), "\\s+")).cast("bigint"))
      .filter(col("n_tokens") > 0)
      .withColumn("log_weight", TextAnalysis.dsirLogWeightCol(ratio, col("text")))
      .withColumn("lw_per_token",
        col("log_weight") / col("n_tokens").cast("double"))
      .filter(col("lw_per_token") >= minLwPerToken)

  /** Live token-budget accounting with the PERSISTED BPE artifact
    * (`TextAnalysis.loadBpeVocab` — train once, ship the merge table):
    * each micro-batch's docs are tokenized with the SAME merge chain
    * batch counting uses (the dictionary-grain fold — distinct words
    * pay the chain once per batch), rolled to per-source doc/word/
    * token totals, and appended under a batch_id partition — the
    * idempotent replay pattern every log sink here uses (a re-emitted
    * batch rewrites only its own partition). This is the ingest-side
    * half of `corpus_epoch_plan`: the planner decides the per-source
    * token budget, this sink watches it fill in real time, in
    * COMPARABLE units (same artifact ⇒ same token counts; retraining
    * per batch would silently re-denominate the budget). */
  def tokenLogSink(docs: DataFrame, merges: Seq[TextAnalysis.BpeMerge],
      logDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    // every log row carries the producing vocabulary's fingerprint —
    // counts taken under different merge tables are different UNITS,
    // and the readout refuses to sum across them
    val vocabFp = TextAnalysis.bpeVocabFp(merges)
    graft.sources.MartSink.batchSink(docs, logDir, checkpointDir, Nil) { batch =>
      // left join FROM the batch side: a doc that tokenizes to
      // nothing still arrived — n_docs must count every ingested
      // doc, not just the ones with token rows
      batch.select(col("doc_id"), col("source"))
        .join(TextAnalysis.bpeTokensFrom(batch, merges), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("word_count"), lit(0L))).cast("long").as("word_count"),
          sum(coalesce(col("bpe_tokens"), lit(0L))).cast("long").as("bpe_tokens"))
        .withColumn("vocab_fp", lit(vocabFp))
    }
  }

  /** Budget readout over the token log: per-source totals since the
    * stream started — compared against `corpus_epoch_plan`'s target
    * allocation, this is the live "how much of each source's budget
    * has arrived" table.
    *
    * Unit safety: log rows stamped with a vocabulary fingerprint must
    * all share ONE fingerprint (a mid-stream retrain re-denominates
    * every count — summing across is silent drift), and when
    * `vocabPath` names the shipped artifact, the log's fingerprint
    * must match it (a retrained vocab with a stale log, or vice
    * versa, refuses instead of reading plausible nonsense). Legacy
    * logs without the stamp column read as before. */
  def tokenBudgetFromLog(spark: SparkSession, logDir: String,
      vocabPath: Option[String] = None): DataFrame = {
    val log = spark.read.parquet(logDir)
    if (log.columns.contains("vocab_fp")) {
      val fps = log.select("vocab_fp").distinct().collect().map(_.getString(0)).sorted
      if (fps.length > 1)
        throw new IllegalStateException(
          s"token log $logDir mixes ${fps.length} vocabularies " +
            s"(${fps.map(_.take(12) + "…").mkString(", ")}) — counts are not comparable units")
      vocabPath.foreach { vp =>
        val current = TextAnalysis.bpeVocabFp(TextAnalysis.loadBpeVocab(spark, vp))
        if (fps.nonEmpty && fps.head != current)
          throw new IllegalStateException(
            s"token log $logDir was counted under vocab ${fps.head.take(12)}… but the " +
              s"artifact at $vp is ${current.take(12)}… — retrain drift; rebuild the log " +
              "or restore the matching vocabulary")
      }
    }
    log.groupBy(col("source"))
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("word_count")).cast("long").as("word_count"),
        sum(col("bpe_tokens")).cast("long").as("bpe_tokens"))
      .orderBy("source")
  }

  /** The live budget-FILL table — `corpus_epoch_plan`'s targets
    * joined with the token log's arrivals (the two halves the r8
    * notes promised each other): per source, target tokens, arrived
    * words/BPE tokens, fill share, and what's still missing. Units:
    * the plan budgets in WORD tokens (the corpus census unit), so the
    * fill share is word-based; the BPE column rides along for the
    * tokenizer-budget view. Inherits `tokenBudgetFromLog`'s
    * fingerprint discipline (stale/mixed vocab logs refuse). */
  def budgetFillFromLog(spark: SparkSession, logDir: String, dir: String,
      budgetTokens: Long, vocabPath: Option[String] = None): DataFrame = {
    val arrived = tokenBudgetFromLog(spark, logDir, vocabPath)
      .select(col("source"), col("word_count").as("arrived_words"),
        col("bpe_tokens").as("arrived_bpe"))
    TextAnalysis.corpusEpochPlan(spark, dir, budgetTokens)
      .select(col("source"), col("target_tokens"))
      .join(arrived, Seq("source"), "left")
      .select(col("source"), col("target_tokens"),
        coalesce(col("arrived_words"), lit(0L)).as("arrived_words"),
        coalesce(col("arrived_bpe"), lit(0L)).as("arrived_bpe"),
        (coalesce(col("arrived_words"), lit(0L)).cast("double") /
          col("target_tokens")).as("fill_share"),
        greatest(col("target_tokens") -
          coalesce(col("arrived_words"), lit(0L)).cast("double"), lit(0.0))
          .as("remaining_tokens"))
      .orderBy("source")
  }

  /** One-call live corpus ingest — the streaming counterpart of
    * `CorpusPipeline.run`'s batch DAG, every gate a shipped artifact:
    * scrub/rule-gate/watermark-dedup (`cleanDocs`) → graded LR
    * admission (`scoredDocs`, the persisted quality scorer) →
    * domain-resemblance gate (`dsirGatedDocs`, the persisted DSIR
    * model), admitted docs appended under batch_id partitions
    * (idempotent replay). Survivors carry their audit columns
    * (quality_score, quality_p, log_weight, lw_per_token), so the
    * downstream mixer can re-weight without re-scoring. The only
    * stateful stage is the watermark dedup; everything after is a
    * stateless narrow projection — the chain adds no exchange. */
  def ingestChain(docs: DataFrame, scorer: TextAnalysis.LrScorer,
      ratio: Array[Double], outDir: String, checkpointDir: String,
      watermark: String = "1 hour", minQuality: Double = 0.5,
      minP: Double = 0.5, minLwPerToken: Double = 0.0,
      langs: Seq[String] = Seq("en", "es", "de", "fr"))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val admitted = dsirGatedDocs(
      scoredDocs(
        cleanDocs(docs, watermark, minQuality, langs)
          .withColumnRenamed("clean_text", "text"),
        scorer, minP),
      ratio, minLwPerToken)
    graft.sources.MartSink.batchSink(admitted, outDir, checkpointDir, Nil)(identity)
  }

  /** Live re-crawl/revision flagging against the PERSISTED chunk
    * index (`Dedup.saveChunkIndex` — build once over the corpus, ship
    * it): each micro-batch's documents get the SAME CDC containment
    * score the batch operator computes (`Dedup.incrementalCdcFrom` —
    * one shared definition, so live and nightly revision verdicts
    * cannot drift), appended under a batch_id partition (the
    * idempotent-replay pattern every log sink here uses). Every row
    * carries the scoring index's content fingerprint: containment
    * against different indexes is a different unit, and the readout
    * refuses to mix them. The index frame is read-only inside
    * foreachBatch — the stream never reshuffles it. */
  def revisionLogSink(docs: DataFrame, index: DataFrame, indexFp: String,
      logDir: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(docs, logDir, checkpointDir, Nil) { batch =>
      graft.operators.Dedup.incrementalCdcFrom(batch.sparkSession, batch, index)
        .withColumn("index_fp", lit(indexFp))
    }

  /** Per-batch revision-rate readout over the log — the live "how
    * much of today's crawl is already in the corpus" dial. Unit
    * safety mirrors `tokenBudgetFromLog`: rows must share ONE index
    * fingerprint, and when `indexPath` names the shipped artifact the
    * log's fingerprint must match it (a re-built index with a stale
    * log refuses instead of reading plausible nonsense). */
  def revisionRateFromLog(spark: SparkSession, logDir: String,
      indexPath: Option[String] = None): DataFrame = {
    val log = spark.read.parquet(logDir)
    val fps = log.select("index_fp").distinct().collect().map(_.getString(0)).sorted
    if (fps.length > 1)
      throw new IllegalStateException(
        s"revision log $logDir mixes ${fps.length} chunk indexes " +
          s"(${fps.map(_.take(12) + "…").mkString(", ")}) — scores are not comparable units")
    indexPath.foreach { p =>
      val (_, current) = graft.operators.Dedup.loadChunkIndex(spark, p)
      if (fps.nonEmpty && fps.head != current)
        throw new IllegalStateException(
          s"revision log $logDir was scored under index ${fps.head.take(12)}… but the " +
            s"artifact at $p is ${current.take(12)}… — retrain drift; rebuild the log " +
            "or restore the matching index")
    }
    log.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_revision"), 1L).otherwise(0L)).as("n_revisions"),
        avg(col("containment")).as("mean_containment"))
      .withColumn("revision_rate",
        col("n_revisions").cast("double") / col("n_docs").cast("double"))
      .orderBy("batch_id")
  }
}
