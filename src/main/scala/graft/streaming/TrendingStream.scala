package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Exponentially-decayed trending products — the recency-weighted
  * counterpart of `EventStream.productCounts`: where windowed counts
  * weight an hour-old view and a week-old view the same inside their
  * windows, the decayed score ages every view by exp(−λ·Δt) with a
  * configurable half-life, so "trending now" reads directly off the
  * state.
  *
  * State is O(1) per product — (score, last_epoch, total): folding a
  * new event multiplies the score by the elapsed decay and adds 1, so
  * NO event history is retained (the algebraic trick: Σ exp(−λ(T−tᵢ))
  * updates incrementally). Events fold in (epoch, event_id) order
  * within each batch, and the decay math is StrictMath (no JIT
  * intrinsic drift), so a replayed stream reproduces scores
  * bit-for-bit — the spec pins the stream fold against a driver-side
  * replication exactly, and against the closed-form batch recompute
  * (`decayedScoresBatchFrom`, one groupBy) within float-sum
  * tolerance.
  *
  * Out-of-order arrivals across micro-batches fold in ARRIVAL order
  * (a late event decays the score as if it were current — its true
  * age is unrecoverable without history, the standard online-decay
  * trade-off); the watermarked window family stays the exact-window
  * surface, this one is the cheap live dial. */
object TrendingStream {

  case class TEv(product_k: Int, event_id: Long, epoch: Long)

  case class TState(score: Double, lastEpoch: Long, total: Long)

  case class TrendOut(product_k: Int, score: Double, last_epoch: Long,
                      total_events: Long)

  /** Default half-life: one day. */
  val HalfLifeSeconds = 86400L

  private def lambda(halfLife: Long): Double =
    StrictMath.log(2.0) / halfLife.toDouble

  /** Typed view-event stream (trending is a view-side signal). */
  def asTrendEvents(raw: DataFrame): Dataset[TEv] = {
    import raw.sparkSession.implicits._
    raw
      .withColumn("product_k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("event_type") === "view" && col("product_k").isNotNull &&
        col("ts").isNotNull && col("event_id").isNotNull)
      .select(col("product_k"), col("event_id"),
        unix_timestamp(col("ts")).as("epoch"))
      .as[TEv]
  }

  /** One decay-fold step — shared by the stream operator and the
    * spec's driver replication so the two can be compared exactly. */
  def fold(s: TState, e: TEv, halfLife: Long): TState = {
    val dt = math.max(e.epoch - s.lastEpoch, 0L)
    TState(s.score * StrictMath.exp(-lambda(halfLife) * dt.toDouble) + 1.0,
      math.max(e.epoch, s.lastEpoch), s.total + 1)
  }

  /** Per-product decayed scores, one updated row per product per
    * micro-batch (Update mode — state never expires; a product's
    * score only asymptotes to 0, and the state row is O(1)). */
  def trendScores(events: Dataset[TEv],
      halfLife: Long = HalfLifeSeconds): Dataset[TrendOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.product_k)
      .flatMapGroupsWithState[TState, TrendOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (k, evs, state: GroupState[TState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.epoch, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val init = state.getOption.getOrElse(
              TState(0.0, sorted.head.epoch, 0L))
            val out = sorted.foldLeft(init)((s, e) => fold(s, e, halfLife))
            state.update(out)
            Iterator.single(TrendOut(k, out.score, out.lastEpoch, out.total))
          }
      }
  }

  /** Append-log sink: `MartSink.batchSink`'s batchId-keyed dynamic
    * overwrite (replaying a micro-batch rewrites its own partition —
    * idempotent), in the operator's update mode. */
  def trendLogSink(scores: Dataset[TrendOut], logDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(scores.toDF(), logDir, checkpointDir, Nil,
      outputMode = "update")(identity)

  /** Full aged-score frame from the persisted log AS OF `asOfEpoch`:
    * latest state row per product among rows written at or before the
    * horizon (max (last_epoch, batch_id) — later batches win; rows
    * past the horizon are excluded so a historical rescore really is
    * the snapshot that existed then), every score aged to the common
    * `asOfEpoch` so products updated at different times compare
    * fairly. Product-dimension scale — one tiny-log rollup. */
  def agedScoresFromLog(spark: org.apache.spark.sql.SparkSession,
      logDir: String, asOfEpoch: Long,
      halfLife: Long = HalfLifeSeconds,
      maxBatchId: Option[Long] = None): DataFrame = {
    val lam = lambda(halfLife)
    spark.read.parquet(logDir)
      .filter(col("last_epoch") <= asOfEpoch &&
        maxBatchId.map(col("batch_id") <= _).getOrElse(lit(true)))
      .groupBy(col("product_k"))
      .agg(max(struct(col("last_epoch"), col("batch_id"), col("score"),
        col("total_events"))).as("s"))
      .select(col("product_k"), col("s.score").as("score"),
        col("s.last_epoch").as("last_epoch"), col("s.total_events").as("total_events"))
      .withColumn("score_now",
        col("score") * exp(lit(-lam) *
          greatest(lit(asOfEpoch) - col("last_epoch"), lit(0L)).cast("double")))
  }

  /** Trending top-N from the persisted score log — the aged frame
    * above, ranked and cut. */
  def trendingTopNFromLog(spark: org.apache.spark.sql.SparkSession,
      logDir: String, asOfEpoch: Long, n: Int = 10,
      halfLife: Long = HalfLifeSeconds,
      maxBatchId: Option[Long] = None): DataFrame =
    agedScoresFromLog(spark, logDir, asOfEpoch, halfLife, maxBatchId)
      .orderBy(desc("score_now"), asc("product_k"))
      .limit(n)
      .select(col("product_k"), col("score_now"), col("score"),
        col("last_epoch"), col("total_events"))

  /** One top-N membership/rank change between two rescores. `change`
    * ∈ {entered, left, up, down}; ranks are 1-based, 0 = not in the
    * top-N on that side. */
  case class TrendChange(product_k: Int, change: String, prev_rank: Int,
                         cur_rank: Int, score_now: Double)

  /** Top-N delta between two rescore horizons — the "what changed"
    * signal the alert loop fires on. Both snapshots are tiny (n rows
    * each, product-dimension rollups behind them), so the comparison
    * is a driver-side zip — the same class as the report extracts.
    * Ordered: entered (by cur rank), moved (by cur rank), left (by
    * prev rank). */
  def topNChanges(spark: org.apache.spark.sql.SparkSession, logDir: String,
      prevEpoch: Long, curEpoch: Long, n: Int = 10,
      halfLife: Long = HalfLifeSeconds): Seq[TrendChange] =
    changesBetween(spark, logDir, n, halfLife,
      prevEpoch, None, curEpoch, None)

  /** Shared diff core: top-N snapshot at (epoch, optional batch
    * horizon) on each side, driver-side rank diff, departures' current
    * aged scores filled with one tiny keyed filter. */
  private def changesBetween(spark: org.apache.spark.sql.SparkSession,
      logDir: String, n: Int, halfLife: Long,
      prevEpoch: Long, prevMaxBatch: Option[Long],
      curEpoch: Long, curMaxBatch: Option[Long]): Seq[TrendChange] = {
    def top(asOf: Long, mb: Option[Long]): Seq[(Int, Double)] =
      trendingTopNFromLog(spark, logDir, asOf, n, halfLife, mb)
        .collect().toIndexedSeq
        .map(r => (r.getAs[Int]("product_k"), r.getAs[Double]("score_now")))
    val prev = top(prevEpoch, prevMaxBatch)
    val cur = top(curEpoch, curMaxBatch)
    val prevRank = prev.zipWithIndex.map { case ((k, _), i) => k -> (i + 1) }.toMap
    val curRank = cur.zipWithIndex.map { case ((k, _), i) => k -> (i + 1) }.toMap
    val leftKeys = prev.map(_._1).filterNot(curRank.contains)
    val leftScores: Map[Int, Double] =
      if (leftKeys.isEmpty) Map.empty
      else agedScoresFromLog(spark, logDir, curEpoch, halfLife, curMaxBatch)
        .filter(col("product_k").isin(leftKeys.map(Int.box): _*))
        .select(col("product_k"), col("score_now"))
        .collect().map(r => r.getAs[Int](0) -> r.getAs[Double](1)).toMap
    val entered = cur.collect { case (k, s) if !prevRank.contains(k) =>
      TrendChange(k, "entered", 0, curRank(k), s) }
    val moved = cur.collect {
      case (k, s) if prevRank.contains(k) && prevRank(k) != curRank(k) =>
        TrendChange(k, if (curRank(k) < prevRank(k)) "up" else "down",
          prevRank(k), curRank(k), s)
    }
    val left = prev.collect { case (k, _) if !curRank.contains(k) =>
      TrendChange(k, "left", prevRank(k), 0, leftScores.getOrElse(k, 0.0)) }
    entered ++ moved ++ left
  }

  /** The alert-loop composition: rescore the log at two horizons and
    * emit a Block Kit payload ONLY when the top-N actually changed —
    * the "product entered/left trending" alert the reference's Slack
    * path implies. None = stable, nothing to send. */
  def trendingAlert(spark: org.apache.spark.sql.SparkSession, logDir: String,
      prevEpoch: Long, curEpoch: Long, n: Int = 10,
      halfLife: Long = HalfLifeSeconds): Option[String] = {
    val changes = topNChanges(spark, logDir, prevEpoch, curEpoch, n, halfLife)
    if (changes.isEmpty) None
    else Some(graft.Reporting.trendingAlertPayload(
      java.time.Instant.ofEpochSecond(curEpoch).toString, n, changes))
  }

  /** The stream-native alert loop: trendLogSink's idempotent
    * batchId-keyed append, PLUS after each micro-batch a top-N diff of
    * "the log without this batch" vs "the log with it" (both aged to
    * the batch's own max last_epoch) — `onAlert` fires with the Block
    * Kit payload ONLY when this batch changed top-N membership or
    * order. Alerting is at-least-once under replay (the log write is
    * idempotent, the alert callback is not — the reference's Slack
    * POST has the same semantics); transport stays the caller's
    * concern, matching the repo's payload/transport split. */
  def alertingLogSink(scores: Dataset[TrendOut], logDir: String,
      checkpointDir: String, n: Int = 10,
      halfLife: Long = HalfLifeSeconds)(
      onAlert: String => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    scores.toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (graft.sources.MartSink.writeBatch(batch, batchId, logDir, Nil)(identity)) {
          val spark = batch.sparkSession
          spark.catalog.refreshByPath(logDir)
          val asOf = batch.agg(max(col("last_epoch"))).collect().head.getLong(0)
          val changes = changesBetween(spark, logDir, n, halfLife,
            asOf, Some(batchId - 1), asOf, Some(batchId))
          if (changes.nonEmpty)
            onAlert(graft.Reporting.trendingAlertPayload(
              java.time.Instant.ofEpochSecond(asOf).toString, n, changes))
        }
        ()
      }
      .start()

  /** Closed-form batch recompute: the decayed score at `asOfEpoch`
    * over a bounded event frame — Σ exp(−λ(T−t)) per product. The
    * parity oracle for the stream fold (same math, sum order differs
    * by float associativity only). */
  def decayedScoresBatchFrom(e: DataFrame, asOfEpoch: Long,
      halfLife: Long = HalfLifeSeconds): DataFrame = {
    val lam = lambda(halfLife)
    e.filter(col("event_type") === "view" && col("product_k").isNotNull &&
        col("ts").isNotNull)
      .select(col("product_k"), col("event_epoch"))
      .filter(col("event_epoch") <= asOfEpoch)
      .groupBy(col("product_k"))
      .agg(
        sum(exp(lit(-lam) * (lit(asOfEpoch) - col("event_epoch")).cast("double")))
          .as("score"),
        count(lit(1)).as("total_events"))
      .orderBy(desc("score"), asc("product_k"))
  }
}
