package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Similarity

/** Continuous ANN-index maintenance — the streaming flavor of the
  * IVF-PQ index build (SURVEY.md §2D `ann_ivfpq_topk`): codebooks and
  * coarse centroids are trained OFFLINE in batch
  * (`Similarity.pqCodebooks` / `kmeansCentroids`) and embedded as
  * literals; arriving vectors are deduped within the watermark and
  * turned into (cell, codes) index rows in stateless narrow
  * projections. The appended code table IS the index delta — float
  * vectors never accumulate in stream state, the existing index is
  * only ever appended to (the same never-reshuffle-the-corpus
  * contract as `dedup_incremental_minhash`'s persisted band index),
  * and re-training is an offline decision that swaps the literals.
  */
object EmbeddingStream {

  /** Feed schema: the embeddings-table layout plus an arrival/event
    * timestamp to watermark on. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("ts", TimestampType),
    StructField("embedding", ArrayType(FloatType))))

  /** Encode a streaming (or batch) vector feed into IVF-PQ index
    * rows: watermark-bounded exact dedup on vec_id (a replayed vector
    * must not duplicate its index row), L2-normalize, assign the IVF
    * cell and the M PQ codes against the literal index metadata.
    * Everything after the dedup is stateless. */
  def encode(vecs: DataFrame,
             books: Seq[Seq[(Int, Array[Float])]],
             cents: Seq[(Int, Array[Float])],
             watermark: String = "1 hour"): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(vecs.sparkSession)
    val normalized = Similarity.withNormalized(
      vecs.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("vec_id"),
      "embedding", "nv")
    normalized.select(
      col("vec_id"), col("ts"),
      explode(Similarity.nearestCellsCol(col("nv"), cents, 1)).as("cell"),
      call_function("pq_encode", col("nv"),
        Similarity.flatBooksLit(books), lit(books.length)).as("codes"))
  }

  /** Live encoder-health watch over the vector feed: per micro-batch,
    * the SAME quarter-unit norm histogram `embedding_norm_census`
    * computes (one shared bin rule — live and nightly verdicts can't
    * disagree on what "unnormalized" means), appended under batch_id
    * partitions (idempotent replay). An un-L2'd deploy or a pooling
    * change shows up as the batch's norm mass leaving the corpus's
    * bins — hours before recall degrades at the index. State is ZERO
    * (stateless per-batch rollup to ≤41 rows); the raw vectors are
    * never logged. Written through `MartSink.batchSink`. */
  def normLogSink(vecs: DataFrame, logDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(vecs, logDir, checkpointDir, Nil)(
      Similarity.embeddingNormCensusFrom)

  /** Norm-drift readout over the log: each batch's binned norm
    * distribution vs the PREVIOUS batch's, scored by total-variation
    * distance (½ Σ |share_b − share_prev_b| — the IndexMaintenance
    * occupancy metric, applied to the norm axis); tv > threshold
    * flags. The full-outer per-bin join zero-fills bins only one
    * side occupies, so a batch whose mass moved to NEW bins (the
    * unnormalized-deploy signature) scores the full distance. Reads
    * only the ≤41-row-per-batch log — never the vectors. */
  def normDriftFromLog(spark: SparkSession, logDir: String,
      threshold: Double = 0.25): DataFrame = {
    val log = spark.read.parquet(logDir)
      .select(col("batch_id"), col("bin"), col("share"))
    val prev = log.select((col("batch_id") + 1).as("batch_id"),
      col("bin"), col("share").as("prev_share"))
    log.join(prev, Seq("batch_id", "bin"), "fullouter")
      .groupBy(col("batch_id"))
      .agg((sum(abs(coalesce(col("share"), lit(0.0)) -
          coalesce(col("prev_share"), lit(0.0)))) / 2.0).as("tv_raw"),
        max(when(col("share").isNotNull, 1).otherwise(0)).as("has_current"),
        max(when(col("prev_share").isNotNull, 1).otherwise(0)).as("has_prev"))
      // prev's shifted ids synthesize a row one past the last real
      // batch — drop it; batch 0 has no predecessor: NULL distance,
      // no flag (the profileDriftFromLog contract)
      .filter(col("has_current") === 1)
      .select(col("batch_id"),
        when(col("has_prev") === 1, col("tv_raw")).as("tv_distance"))
      .withColumn("drift_flag",
        coalesce(col("tv_distance") > lit(threshold), lit(false)))
      .orderBy("batch_id")
  }
}
