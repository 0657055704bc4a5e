package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** The continuous flavor of graft.Pipeline: one deduped event stream
  * feeds the windowed funnel/traffic marts and the quality check log,
  * each with its own checkpointed sink.
  *
  * Reference parity: the Airflow DAG re-runs the batch pipeline per
  * execution date (dags/event_pipeline_dag.py); this is the same mart
  * surface maintained incrementally — watermarked windows instead of
  * date batches, dropDuplicatesWithinWatermark instead of the loader's
  * ON CONFLICT DO NOTHING, and the check log written per finalized
  * window instead of per run.
  *
  * Every sink is an idempotent batchId-keyed dynamic overwrite
  * (foreachBatch is at-least-once; a replayed batch rewrites exactly
  * its own partitions), so crash/restart never duplicates mart rows.
  */
object StreamingPipeline {

  /** Flatten a windowed aggregate and write it as an idempotent
    * parquet mart partitioned by (event_date, batch_id). */
  private def windowedMartSink(df: DataFrame, path: String,
                               checkpointDir: String): StreamingQuery =
    // append: watermark-finalized windows only
    graft.sources.MartSink.batchSink(df, path, checkpointDir, Seq("event_date")) {
      _.withColumn("window_start", col("window.start"))
        .withColumn("window_end", col("window.end"))
        .drop("window")
        .withColumn("event_date", to_date(col("window_start")))
    }

  /** Start the continuous pipeline over a JSONL ingest directory.
    * Returns the running queries (funnel mart, traffic mart, quality
    * log) — callers own their lifecycle (`processAllAvailable` in
    * tests, `awaitTermination` in production). */
  def start(spark: SparkSession, inDir: String, outDir: String,
            watermark: String = "2 hours"): Seq[StreamingQuery] = {
    // the watermark is defined ONCE, upstream of the dedup (a query
    // may not redefine it past a stateful operator) — the downstream
    // marts consume the already-watermarked deduped stream
    val raw = EventStream.readJsonl(spark, inDir)
    val events = EventStream.dedupEvents(raw, watermark)
    Seq(
      windowedMartSink(EventStream.funnelCountsOn(events),
        s"$outDir/funnel_hourly", s"$outDir/_checkpoints/funnel"),
      windowedMartSink(EventStream.hourlyTrafficOn(events),
        s"$outDir/hourly_traffic", s"$outDir/_checkpoints/traffic"),
      EventStream.qualityLogSink(EventStream.qualityCountsOn(events),
        s"$outDir/quality_check_log", s"$outDir/_checkpoints/quality"),
      // the dedup's EVIDENCE leg: dedupEvents silently drops in-horizon
      // re-arrivals from the mart path; this sink RECORDS each drop as
      // a violation row (the at-least-once delivery audit the batch
      // dq_duplicate_check gives the nightly side). Reads the RAW
      // stream — the deduped one no longer contains what it dropped.
      // Exactly-once: the parquet file sink's manifest.
      EventStream.uniqueViolations(raw, "event_id", watermark)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$outDir/_checkpoints/unique")
        .format("parquet").option("path", s"$outDir/unique_violations")
        .start())
  }

  // ---------------- routed (gated) flavor ----------------
  // `start` maintains live marts on the RAW stream while the nightly
  // batch builds marts on clean sessions (`Pipeline.run(quarantine =
  // true)`) — live and nightly disagree wherever the gate fires. The
  // routed flavor closes that gap: the session quality ROUTER
  // (SessionGateStream.routeSessions) lands clean sessions' events
  // under clean_events/ and quarantined ones under review_events/, and
  // the live funnel/traffic marts consume the CLEAN side through a
  // second file-source stage — the storage-decoupled two-stage
  // topology (stage 1's parquet output is stage 2's replayable input,
  // the same role a Kafka topic plays between jobs on a cluster).

  /** Schema of the router's clean/review parquet rows
    * (SessionGateStream.RoutedEvent minus the verdict, plus the sink's
    * partition columns). */
  val routedEventSchema: StructType = StructType(Seq(
    StructField("user_id", LongType),
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType),
    StructField("props", StringType),
    StructField("session_start_epoch", LongType),
    StructField("event_date", DateType),
    StructField("batch_id", LongType)))

  /** File-source stream over the router's clean side. The watermark
    * delay must absorb ROUTING lateness, not just ingest lateness: a
    * session's events emit only when the session CLOSES, so an event
    * arrives up to (session span + gap + upstream watermark) after
    * its own event time. The 6h default covers sessions spanning a
    * working day's browsing; events of sessions longer than the delay
    * would finalize out of their windows (counted, but late) — size it
    * to the corpus' session-length tail. */
  def routedCleanStream(spark: SparkSession, cleanDir: String,
                        martWatermark: String = "6 hours"): DataFrame = {
    new java.io.File(cleanDir).mkdirs() // the source dir may precede the router's first batch
    spark.readStream
      .schema(routedEventSchema)
      .option("maxFilesPerTrigger", 8)
      .parquet(cleanDir)
      .withWatermark("ts", martWatermark)
  }

  /** Start the routed pipeline over an already-streaming raw event
    * frame (tests drive this with MemoryStream; `startRouted` wraps it
    * for the JSONL ingest dir). Returns (router, clean funnel mart,
    * clean traffic mart) — the marts read `outDir/clean_events`, so on
    * restart they resume from the router's durable output, not from
    * the raw feed (no double-gating, no re-ingest). */
  def startRoutedOn(spark: SparkSession, rawEvents: DataFrame, outDir: String,
                    martWatermark: String = "6 hours"): Seq[StreamingQuery] = {
    val router = SessionGateStream.routingSink(
      SessionGateStream.routeSessions(SessionGateStream.asRouteEvents(rawEvents)),
      s"$outDir/clean_events", s"$outDir/review_events",
      s"$outDir/_checkpoints/router")
    val clean = routedCleanStream(spark, s"$outDir/clean_events", martWatermark)
    Seq(router,
      windowedMartSink(EventStream.funnelCountsOn(clean),
        s"$outDir/funnel_hourly_clean", s"$outDir/_checkpoints/funnel_clean"),
      windowedMartSink(EventStream.hourlyTrafficOn(clean),
        s"$outDir/hourly_traffic_clean", s"$outDir/_checkpoints/traffic_clean"))
  }

  /** Routed pipeline over a JSONL ingest directory: live marts that
    * agree with the nightly `quarantine = true` batch marts wherever
    * the gate fires, because both consume the SAME all-or-nothing
    * session verdict (`Sessionize.cleanEvents` semantics, enforced by
    * the shared flag expressions). */
  def startRouted(spark: SparkSession, inDir: String, outDir: String,
                  martWatermark: String = "6 hours"): Seq[StreamingQuery] =
    startRoutedOn(spark, EventStream.readJsonl(spark, inDir), outDir, martWatermark)

  /** Standalone runner: `runMain graft.streaming.StreamingPipeline
    * <jsonlInDir> <outDir>` — starts the three sinks and blocks. */
  def main(args: Array[String]): Unit = {
    val flags = args.filter(_.startsWith("--"))
    val pos = args.filterNot(_.startsWith("--"))
    val inDir = if (pos.nonEmpty) pos(0) else "/tmp/graft_stream_in"
    val outDir = if (pos.length > 1) pos(1) else "/tmp/graft_stream_out"
    val spark = graft.GraftSession.get()
    // --routed gates the live marts through the session quality
    // router (clean-session marts, the streaming quarantine mode);
    // the default maintains marts on the raw deduped stream
    val queries =
      if (flags.contains("--routed")) startRouted(spark, inDir, outDir)
      else start(spark, inDir, outDir)
    println(s"streaming pipeline up (${if (flags.contains("--routed")) "routed" else "raw"}): " +
      s"${queries.map(_.name).mkString(", ")} -> $outDir")
    queries.foreach(_.awaitTermination())
  }
}
