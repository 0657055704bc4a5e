package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming flavors of the batch marts (SURVEY.md §2F).
  *
  * The reference ingests daily JSONL batches via Airflow
  * (dags/event_pipeline_dag.py); the streaming-native equivalent reads
  * the same event schema continuously, watermarks on event time, and
  * maintains the funnel/traffic marts incrementally. Sinks are
  * caller-provided (tests use the memory sink; production would use a
  * partitioned parquet/Delta sink with checkpointing).
  */
object EventStream {

  /** The events schema as produced by the reference generator
    * (schemas/event_schema.json) mapped to the testdata layout. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream of JSONL events (the reference's ingest format). */
  def readJsonl(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", 8)
      .json(path)

  /** Windowed funnel counts with a watermark: tumbling 1h windows of
    * distinct-ish step counts per segment. approx_count_distinct is the
    * streaming-safe distinct (exact distinct per window would need the
    * full user set in state; HLL keeps state O(1) per window — the
    * 100 TB answer). */
  def funnelCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    funnelCountsOn(events.withWatermark("ts", watermark))

  /** Core over an ALREADY-watermarked stream (a watermark may only be
    * defined once per query — e.g. upstream of `dedupEvents`). */
  def funnelCountsOn(events: DataFrame): DataFrame =
    aggregated(events.withColumn("segment", segment)
      .groupBy(window(col("ts"), "1 hour"), col("segment")), funnelAggs)

  /** The funnel mart's segment: `user_id` mod 3 (null for a null user). */
  private def segment: Column = (col("user_id") % 3).cast("int")

  /** The named aggregates of each windowed mart, written once for the
    * standalone streams and for [[windowedMartsOn]]. Defs, so every
    * plan gets its own aliases. */
  private def funnelAggs: Seq[(String, Column)] = Seq(
    "views" -> count(when(col("event_type") === "view", 1)),
    "clicks" -> count(when(col("event_type") === "click", 1)),
    "purchases" -> count(when(col("event_type") === "purchase", 1)),
    "purchasers_approx" ->
      approx_count_distinct(when(col("event_type") === "purchase", col("user_id"))),
    "revenue" ->
      sum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))))

  private def trafficAggs: Seq[(String, Column)] = Seq(
    "event_count" -> count(lit(1)),
    "unique_users_approx" -> approx_count_distinct(col("user_id")))

  private def qualityAggs: Seq[(String, Column)] = Seq(
    "total" -> count(lit(1)),
    "null_failed" -> count(when(graft.operators.Quality.nullFailed, 1)),
    "range_failed" -> count(when(graft.operators.Quality.rangeFailed, 1)),
    "ts_failed" -> count(when(graft.operators.Quality.tsFailed(), 1)))

  private def aggregated(grouped: org.apache.spark.sql.RelationalGroupedDataset,
                         aggs: Seq[(String, Column)]): DataFrame = {
    val named = aggs.map { case (name, agg) => agg.as(name) }
    grouped.agg(named.head, named.tail: _*)
  }

  /** Hourly traffic mart, streaming flavor. */
  def hourlyTraffic(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    hourlyTrafficOn(events.withWatermark("ts", watermark))

  def hourlyTrafficOn(events: DataFrame): DataFrame =
    aggregated(events.groupBy(window(col("ts"), "1 hour")), trafficAggs)

  /** Live level-shift watch: `traffic_changepoint`'s scaled-integer
    * CUSUM over the hourly-traffic log's finalized windows — the
    * volumeAnomalyFromLog pattern (stream maintains the cheap
    * windowed rollup; the batch rescore runs the full statistic on
    * the log, never re-scanning events). Hours roll up to days here,
    * then the SHARED `UserAnalytics.changepointFromDaily` core runs —
    * live and nightly verdicts are structurally identical, so "the
    * level moved at date X" alerts hours before the batch build.
    * Expects finalized hourly rows (append-mode sink or compacted
    * log). */
  def changepointFromTrafficLog(hourly: DataFrame): DataFrame =
    graft.operators.UserAnalytics.changepointFromDaily(
      hourly
        // max per window start first: an at-least-once parquet log
        // (foreachBatch replay) appends the same finalized window
        // twice with IDENTICAL counts — max absorbs it; on an
        // exactly-once feed (memory/compacted log) this is a no-op
        .groupBy(col("window.start").as("window_start"))
        .agg(max(col("event_count")).as("event_count"))
        .groupBy(col("window_start").cast("date").as("event_date"))
        .agg(sum(col("event_count")).as("n_events")))

  /** Live next-day forecast from the hourly-traffic log — the
    * capacity-planning rescore (`traffic_forecast`'s serving path):
    * the stream maintains the cheap hourly rollup; this reruns the
    * SHARED `UserAnalytics.forecastFromSlots` recipe on the log, so
    * live and nightly forecasts are structurally identical and
    * tomorrow's numbers refresh with every finalized hour instead of
    * waiting for the nightly build. A replayed at-least-once batch
    * appends the same finalized window again — max per window start
    * absorbs the duplicate exactly (counts are identical across
    * replays), the productTopNFromLog discipline. */
  def forecastFromTrafficLog(hourly: DataFrame): DataFrame =
    graft.operators.UserAnalytics.forecastFromSlots(
      hourly
        .groupBy(col("window.start").as("window_start"))
        .agg(max(col("event_count")).as("n"))
        .select(col("window_start").cast("date").as("event_date"),
          dayofweek(col("window_start").cast("date")).as("dow"),
          hour(col("window_start")).as("event_hour"), col("n")))

  /** Per-day user HLL sketch, maintained incrementally by the stream —
    * the streaming builder for the batch sketch marts
    * (`EventMarts.rollingActiveHllFrom`, approx_retention_hll's
    * day-pair algebra): each closed day window emits ONE fixed-size
    * sketch (binary), so the live pipeline keeps the rolling-actives /
    * retention inputs current without ever re-scanning history. HLL
    * registers depend only on the SET of users seen, so stream-built
    * and batch-built sketches are interchangeable. */
  def dailyUserSketch(events: DataFrame, watermark: String = "2 hours",
                      lgConfigK: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
      .select(col("window.start").cast("date").as("event_date"), col("sk"))

  /** Declarative gap-sessionization with the built-in `session_window`
    * (dynamic-gap windows merged by the engine; state evicted by the
    * watermark). The flatMapGroupsWithState variant
    * (SessionizeStream) exists for semantics the built-in cannot
    * express — ordered event sequences in the output; when plain
    * per-session aggregates suffice, THIS is the preferred form: no
    * user state code, and the engine can optimize the merge. */
  def sessionStats(events: DataFrame,
                   gap: String = s"${graft.operators.Sessionize.GapSeconds} seconds",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("session"))
      .agg(
        count(lit(1)).as("event_count"),
        count(when(col("event_type") === "purchase", 1)).as("purchase_count"),
        sum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0)))
          .as("session_revenue"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("event_count"),
        col("purchase_count"), col("session_revenue"))

  /** Streaming quality monitor: per-window failure counts for the
    * row-grain checks (null / range / timestamp), the continuous
    * flavor of graft.operators.Quality — alerting-oriented (the batch
    * suite is the gate; this feeds a live dashboard the way the
    * reference's Slack alert watches the daily run). The rules are
    * the batch suite's own (`Quality.nullFailed`, `rangeFailed`,
    * `tsFailed`), so a window's counts equal `Quality.perDateChecks`'
    * over the same rows. */
  def qualityCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    qualityCountsOn(events.withWatermark("ts", watermark))

  def qualityCountsOn(events: DataFrame): DataFrame =
    aggregated(events.groupBy(window(col("ts"), "1 hour")), qualityAggs)

  /** Persist the streaming quality monitor as a continuously-written
    * check log: each watermark-FINALIZED window's counts are unpivoted
    * to the reference's check-result shape — quality_check_log
    * continuity between the live monitor and the batch suite
    * (`Quality.trendFromLog` reads either: it needs check_name/
    * total_records/failed_records).
    *
    * Rows land under (run_date, batch_id) partitions through
    * `MartSink.batchSink`, so a replayed micro-batch rewrites exactly
    * its own partitions. */
  def qualityLogSink(quality: DataFrame, logDir: String,
                     checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(quality, logDir, checkpointDir, Seq("run_date"))(
      qualityLogShape)

  /** A [[qualityCountsOn]] batch in the check log's row shape: one
    * rated row per check and window, dated by the window start. */
  private def qualityLogShape(quality: DataFrame): DataFrame =
    quality.select(
        col("window.start").as("window_start"),
        expr("""stack(3,
          |  'null_check', total, null_failed,
          |  'range_check', total, range_failed,
          |  'timestamp_check', total, ts_failed
          |) as (check_name, total_records, failed_records)""".stripMargin))
      .transform(graft.operators.Quality.rated)
      .withColumn("run_date", to_date(col("window_start")))

  /** A windowed mart batch (funnel or traffic) in its parquet row
    * shape: the `window` struct flattened to `window_start` and
    * `window_end`, dated by the window start. */
  private def windowedMartShape(marts: DataFrame): DataFrame =
    marts
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")
      .withColumn("event_date", to_date(col("window_start")))

  /** The windowed marts of one watermarked stream as ONE stateful
    * aggregate: [[funnelCountsOn]]'s aggregates per (1-hour window,
    * segment) and [[hourlyTrafficOn]]'s and [[qualityCountsOn]]'s per
    * window, as two grouping sets over the same `window`. A query over
    * it keeps one window state where a query per mart keeps one each.
    * [[funnelMart]], [[trafficMart]] and [[qualityLog]] cut a batch
    * of it into the rows the standalone streams land: the per-window set
    * sees every event of its window, so even the HLL estimates equal
    * the standalone ones. */
  private[streaming] def windowedMartsOn(events: DataFrame): DataFrame =
    aggregated(
      events
        .withColumn("window", window(col("ts"), "1 hour"))
        .withColumn("segment", segment)
        .groupingSets(Seq(Seq(col("window"), col("segment")), Seq(col("window"))),
          col("window"), col("segment")),
      ("grouping_id" -> grouping_id()) +: (funnelAggs ++ trafficAggs ++ qualityAggs))

  /** One grouping set's rows of a [[windowedMartsOn]] batch, in the
    * standalone stream's columns (grouping_id 1 = segment rolled up). */
  private def groupingSetRows(marts: DataFrame, perWindow: Boolean,
                              aggs: Seq[(String, Column)]): DataFrame = {
    val keys = if (perWindow) Seq("window") else Seq("window", "segment")
    marts.filter(col("grouping_id") === (if (perWindow) 1 else 0))
      .select((keys ++ aggs.map(_._1)).map(col): _*)
  }

  /** The funnel mart's rows of a [[windowedMartsOn]] batch. */
  private[streaming] def funnelMart(marts: DataFrame): DataFrame =
    windowedMartShape(groupingSetRows(marts, perWindow = false, funnelAggs))

  /** The traffic mart's rows of a [[windowedMartsOn]] batch. */
  private[streaming] def trafficMart(marts: DataFrame): DataFrame =
    windowedMartShape(groupingSetRows(marts, perWindow = true, trafficAggs))

  /** The check log's rows of a [[windowedMartsOn]] batch. */
  private[streaming] def qualityLog(marts: DataFrame): DataFrame =
    qualityLogShape(groupingSetRows(marts, perWindow = true, qualityAggs))

  /** Per-window per-type event-volume counts — the feed for the
    * streaming flavor of `Quality.volumeAnomaly`. Append mode: a
    * window emits exactly once, when the watermark passes it. */
  def volumeCounts(events: DataFrame, windowLen: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"))

  /** The log sink of the windowed counts (`volumeCounts`,
    * `productCounts`, `valueBucketCounts`, `digitCounts`): each
    * watermark-finalized row lands as `window.start` AS `window_start`,
    * its other columns in order, and `run_date`, under (run_date,
    * batch_id) partitions through `MartSink.batchSink`. The `*FromLog`
    * rescorers (`Quality.volumeAnomalyFromLog`, `valueDriftFromLog`,
    * `benfordFromLog`, `EventMarts.productTopNFromLog`) read the log on
    * whatever cadence alerts are wanted. */
  def windowLogSink(counts: DataFrame, logDir: String,
                    checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(counts, logDir, checkpointDir, Seq("run_date")) { b =>
      b.select(col("window.start").as("window_start") +:
          b.columns.filter(_ != "window").toSeq.map(col): _*)
        .withColumn("run_date", to_date(col("window_start")))
    }

  /** Watermark-finalized per-window PRODUCT counts — the streaming
    * half of continuous top-product maintenance. The stream never
    * holds a global top-k (a cross-window rank is not incrementally
    * maintainable in append mode); it appends (window, product, count)
    * rows — |windows|×|active products| per window, already aggregated
    * — and the ranking is a cheap batch rollup over that compact log
    * (`EventMarts.productTopNFromLog` below mirrors batch
    * product_top_n; the fixed-state `freq_items_sketch` is the
    * further-compressed alternative when even the product grain is too
    * wide). Logged through `windowLogSink`. */
  def productCounts(events: DataFrame, windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("product_k", get_json_object(col("props"), "$.k").cast("int"))
      .filter(col("product_k").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("product_k"), col("event_type"))
      // value_dec stays decimal through every partial/merge so the
      // final rollup is bit-identical to the batch mart's decimal sum
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).as("value_dec"))

  /** Watermark-finalized per-window VALUE-BUCKET counts — the
    * streaming half of the continuous distribution-drift loop (the
    * unit-bug detector beside volumeCounts' traffic-spike detector):
    * fixed power-of-two buckets (Quality.bucketOf, the same column
    * the batch dq_value_drift buckets on), counts appended to a tiny
    * log, `Quality.valueDriftFromLog` rescores on the alerting
    * cadence with the SAME exact-integer L1 core as batch. */
  def valueBucketCounts(events: DataFrame, windowLen: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    events.filter(col("value").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen),
        graft.operators.Quality.bucketOf(col("value")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))

  /** Watermark-finalized per-window FIRST-DIGIT counts — the streaming
    * half of the Benford conformance loop (`Quality.dqBenford`'s live
    * sibling; the third drift detector beside volumeCounts' traffic
    * z-scores and valueBucketCounts' distribution L1). The digit is
    * the SAME `Quality.firstDigitCol` integer-DIV ladder the batch
    * census uses (one definition, no drift); state is O(windows × 9
    * digits), watermark-evicted. */
  def digitCounts(events: DataFrame, windowLen: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events.filter(col("value").isNotNull && col("value") > 0)
      .withColumn("cents", round(col("value") * lit(100)).cast("bigint"))
      .filter(col("cents") > 0)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen),
        graft.operators.Quality.firstDigitCol.as("digit"))
      .agg(count(lit(1)).as("n_values"))

  /** Per-arrival-batch column profile appended to a tiny parquet log —
    * the streaming half of the statistics-grain drift loop
    * (`Quality.profileDrift` diffs two batch profiles; this keeps the
    * live feed of profiles to diff). Unlike the windowed sinks above
    * this profiles the RAW micro-batch (no watermark, no event-time
    * window): the question is "did what just ARRIVED look different",
    * which is arrival-batch-grain by nature — an upstream deploy that
    * starts nulling a field shows in the very next batch's profile,
    * hours before any event-time window finalizes.
    *
    * Scale shape: the profile passes are column-pruned scans of the
    * one arriving batch (persisted once by `MartSink.writeBatches`,
    * so a re-readable source is not re-scanned per column; O(batch)
    * per trigger, no state); the log grows |columns| rows per batch —
    * dimension-sized forever. Idempotent per batch via the batch_id
    * partition. */
  def profileLogSink(events: DataFrame, logDir: String,
                     checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(events, logDir, checkpointDir, Nil)(
      graft.operators.Quality.columnProfileFrom)

  /** Stream-stream interval self-join: attribute each purchase to the
    * same user's views in the preceding hour. Both sides carry a
    * watermark and the join condition bounds event-time distance, so
    * the engine can evict per-side state once the watermark passes the
    * interval — bounded state on two unbounded streams. */
  def viewPurchaseAttribution(events: DataFrame, attributionWindow: String = "1 hour",
                              watermark: String = "2 hours"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("amount"))
      .withWatermark("purchase_ts", watermark)
    purchases.join(views, expr(
      s"""p_user = v_user AND
         |view_ts <= purchase_ts AND
         |view_ts >= purchase_ts - INTERVAL $attributionWindow""".stripMargin))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("view_ts"), col("amount"))
  }

  /** Streaming exact dedup on event_id: duplicates arriving within the
    * watermark horizon are dropped, and state for an id is released
    * once the watermark passes it — bounded state on an unbounded
    * stream (a plain dropDuplicates would grow state forever). This is
    * the ingest-side guard for the at-least-once delivery the
    * reference's loader tolerates via ON CONFLICT DO NOTHING. */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** State for [[uniqueViolations]]: the first-seen event time of a
    * key, kept until the watermark passes it by the horizon. */
  final case class UniqueSeen(firstTsMs: Long)

  final case class UniqueViolation(value: String,
      first_ts: java.sql.Timestamp, dup_ts: java.sql.Timestamp)

  private[streaming] def horizonMillis(watermark: String): Long = {
    val parts = watermark.trim.toLowerCase.split("\\s+")
    require(parts.length == 2, s"expected '<n> <unit>': $watermark")
    val n = parts(0).toLong
    parts(1).stripSuffix("s") match {
      case "millisecond" => n
      case "second"      => n * 1000L
      case "minute"      => n * 60000L
      case "hour"        => n * 3600000L
      case "day"         => n * 86400000L
      case other => throw new IllegalArgumentException(s"unknown unit: $other")
    }
  }

  /** The CHECK mirror of [[dedupEvents]] — the watermark-bounded
    * `unique` leg the live contract can honestly have. `contractFlags`
    * deliberately skips `unique` (a cross-row property has no row-local
    * predicate); this closes that gap with the SAME bounded-state
    * machinery dropDuplicatesWithinWatermark uses, inverted: instead of
    * silently dropping re-arrivals, it EMITS them as violation rows.
    * Per key: first-seen event time in state, every later arrival
    * within the horizon flagged with (first_ts, dup_ts); state released
    * once the watermark passes the last arrival by the horizon — so a
    * duplicate landing later than the horizon is NOT flagged, exactly
    * dropDuplicatesWithinWatermark's bound, and the output carries the
    * declared `horizon` so no consumer can mistake the bounded verdict
    * for the batch one. State expires from the FIRST-seen event time +
    * horizon (not the latest arrival) — the exact state lifetime
    * dropDuplicatesWithinWatermark uses, so the two legs agree on
    * which re-arrivals are duplicates: a dup within the horizon of a
    * previous dup but past the horizon of the first is passed through
    * by BOTH. "First" means first-SEEN: under out-of-order delivery,
    * if the true earliest event arrives second (within the watermark),
    * it is emitted as the violation and the stored `first_ts` stays
    * the later-but-first-seen one — again matching
    * dropDuplicatesWithinWatermark's keep-first-arrival semantics.
    * The nightly batch `unique` check stays the unbounded source of
    * truth; this is the live approximation with its approximation
    * printed on the row. */
  def uniqueViolations(events: DataFrame, column: String,
      watermark: String = "2 hours", tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val horizon = horizonMillis(watermark)
    events
      .withWatermark(tsCol, watermark)
      .select(col(column).cast("string").as("k"), col(tsCol).as("ts"))
      .filter(col("k").isNotNull)
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UniqueSeen, UniqueViolation](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (k, rows, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            val firstMs = state.getOption.map(_.firstTsMs)
              .getOrElse(sorted.head._2.getTime)
            val dups =
              (if (state.exists) sorted else sorted.tail).map(r =>
                UniqueViolation(k, new java.sql.Timestamp(firstMs), r._2))
            state.update(UniqueSeen(firstMs))
            // expire from first-seen + horizon, NOT the latest
            // arrival: extending on re-arrival would keep flagging
            // dups that dropDuplicatesWithinWatermark (state lifetime
            // = firstSeen + delay) already lets through
            state.setTimeoutTimestamp(math.max(
              firstMs + horizon,
              state.getCurrentWatermarkMs() + 1))
            dups.iterator
          }
      }
      .toDF()
      .select(lit(column).as("column_name"), col("value"),
        col("first_ts"), col("dup_ts"), lit(watermark).as("horizon"))
  }

  /** One [[uniqueViolations]] leg per `unique` suggestion in a
    * persisted contract — the other half of
    * `Quality.contractFlagsFrom`'s (flags, skipped) pair: `skipped`
    * names exactly the checks these legs cover, so the live contract
    * now spans all four rule types (not_null/range/isin row-local,
    * unique watermark-bounded with the declared horizon). */
  def contractUniqueLegs(frame: DataFrame, suggestionsPath: String,
      watermark: String = "2 hours", tsCol: String = "ts")
      : Map[String, DataFrame] = {
    val sugg = graft.operators.Quality
      .loadSuggestions(frame.sparkSession, suggestionsPath)
      .filter(col("check_type") === "unique")
      .select(col("column_name")).collect().map(_.getString(0)).toSeq
    sugg.map(c => c -> uniqueViolations(frame, c, watermark, tsCol)).toMap
  }

  /** The product dimension at the events' product_k grain, derived
    * from the part table (p_partkey mod 100 is the testdata's product
    * id space): one deterministic row per product id. */
  def productDim(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.part(spark, dir)
      .groupBy(pmod(col("p_partkey"), lit(100)).cast("int").as("product_k"))
      .agg(
        min(col("p_brand")).as("brand"),
        (sum(col("p_retailprice").cast("decimal(12,2)")).cast("double") /
          count(lit(1))).as("avg_retail_price"))

  /** Stream-static dimension enrichment: join the event stream to a
    * static (batch) product dimension — stateless on the stream side,
    * the static side is broadcast per micro-batch, no watermark
    * needed. This is THE pattern for attaching slowly-changing
    * reference data to a live feed (the streaming flavor of every
    * mart's dim join); a left join keeps events with unknown or
    * missing product ids flowing. */
  def enrichWithProductDim(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withColumn("product_k", get_json_object(col("props"), "$.k").cast("int"))
      .join(broadcast(dim), Seq("product_k"), "left")

  /** Live A/B experiment monitor — the streaming readout of
    * `UserAnalytics.abTestSummary`'s deterministic arms: per hourly
    * window and arm, event volume, view/purchase reach, and
    * approximate uniques. The arm is a STATELESS pure function of
    * user_id (the same salted-md5 assignment as the batch readout, so
    * stream and batch can never disagree about who is in which arm —
    * no assignment table, no stream-static join), which means the
    * only state is the windowed aggregate itself: O(windows × 2 arms)
    * rows, evicted by the watermark. The stream's job is the RAMP
    * WATCH — an arm's event share drifting off its design split
    * mid-flight means a broken splitter or a ramp accident, caught
    * hours before the batch readout runs; exact per-user conversion
    * stays the batch job's call. */
  def abArmCounts(events: DataFrame, experiment: String = "exp1",
                  windowLen: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .filter(col("user_id").isNotNull)
      // the SHARED assignment column (UserAnalytics.armCol) — stream
      // and batch agreeing on arms is structural, not copy-discipline
      .withColumn("arm", graft.operators.UserAnalytics.armCol(experiment))
      .groupBy(window(col("ts"), windowLen), col("arm"))
      .agg(
        count(lit(1)).as("events"),
        approx_count_distinct(col("user_id")).as("users_approx"),
        count(when(col("event_type") === "view", 1)).as("views"),
        count(when(col("event_type") === "purchase", 1)).as("purchases"),
        approx_count_distinct(when(col("event_type") === "purchase",
          col("user_id"))).as("purchasers_approx"))

  /** Per-window SRM tripwire over `abArmCounts`' finalized rows — the
    * streaming face of `UserAnalytics.abSrmCheck`, same integer-exact
    * verdict arithmetic (100·(nc−nt)² > 384·n, the χ²₁ 95% line with
    * no libm in the flag), applied per window to EVENT volume. The
    * honest division of labor: events from one user aren't
    * independent trials, so at stream grain this is a RAMP-ACCIDENT
    * tripwire on traffic share (a splitter break or a one-arm logging
    * outage slams volume share far past any dependence correction —
    * the hours-earlier catch), while the statistically rigorous
    * distinct-USER SRM stays the batch `ab_srm_check`. Expects
    * finalized rows (append-mode sink or a compacted log): one row
    * per (window, arm); missing arms read as zero, which is exactly
    * the one-arm-outage shape the flag must trip on. */
  def srmFromArmCounts(armCounts: DataFrame): DataFrame = {
    val diff = col("n_control") - col("n_treatment")
    val total = col("n_control") + col("n_treatment")
    armCounts
      .groupBy(col("window"))
      .agg(
        sum(when(col("arm") === "control", col("events")).otherwise(0L))
          .as("n_control"),
        sum(when(col("arm") === "treatment", col("events")).otherwise(0L))
          .as("n_treatment"))
      .select(col("window"), col("n_control"), col("n_treatment"),
        when(total > 0, (diff * diff).cast("double") / total.cast("double"))
          .as("chi_sq"),
        (lit(100L) * diff * diff > lit(384L) * total).as("srm_flag"))
      .orderBy("window")
  }
}
