package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sources.MartSink

/** The continuous flavor of graft.Pipeline: one deduped event stream
  * feeds the windowed funnel/traffic marts and the quality check log
  * through ONE query — one dedup state, one hourly-window aggregate
  * (`EventStream.windowedMartsOn`) and one `foreachBatch` that lands
  * all three outputs — beside the duplicate-audit query.
  *
  * Reference parity: the Airflow DAG re-runs the batch pipeline per
  * execution date (dags/event_pipeline_dag.py); this is the same mart
  * surface maintained incrementally — watermarked windows instead of
  * date batches, dropDuplicatesWithinWatermark instead of the loader's
  * ON CONFLICT DO NOTHING, and the check log written per finalized
  * window instead of per run.
  *
  * The marts sink is an idempotent batchId-keyed dynamic overwrite
  * (`MartSink.writeBatches`: foreachBatch is at-least-once; a replayed
  * batch rewrites exactly its own partitions), and the violation leg
  * is a parquet file sink (exactly-once through its manifest), so
  * crash/restart never duplicates rows.
  */
object StreamingPipeline {

  /** The one query of a flavor's windowed marts: every micro-batch of
    * `events` (already watermarked) aggregated once and landed as the
    * funnel mart, the traffic mart and, when `qualityDir` is given,
    * the quality check log. The marts are partitioned by
    * (event_date, batch_id), the log by (run_date, batch_id). Append:
    * watermark-finalized windows only. */
  private def windowedMartsSink(events: DataFrame, funnelDir: String, trafficDir: String,
      qualityDir: Option[String], checkpointDir: String): StreamingQuery =
    MartSink.batchesSink(EventStream.windowedMartsOn(events), checkpointDir,
      Seq(MartSink.BatchOutput(funnelDir, Seq("event_date"), EventStream.funnelMart),
        MartSink.BatchOutput(trafficDir, Seq("event_date"), EventStream.trafficMart)) ++
        qualityDir.map(MartSink.BatchOutput(_, Seq("run_date"), EventStream.qualityLog)))

  /** Refuse an `outDir` that holds a checkpoint of the one-query-per-
    * mart layout: the merged query's own checkpoint would start from
    * offset 0 beside it and re-emit every finalized window under new
    * batch ids, so the mart dirs would count those windows twice. */
  private def refuseSplitCheckpoints(spark: SparkSession, outDir: String,
                                     names: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    names.map(n => new org.apache.hadoop.fs.Path(s"$outDir/_checkpoints/$n"))
      .find(p => p.getFileSystem(conf).exists(p))
      .foreach { p =>
        throw new IllegalStateException(
          s"$p is a checkpoint of the per-mart query layout, which the single windowed-marts " +
            "query cannot resume: it would re-emit every finalized window and the marts would " +
            "count them twice. Start on a fresh outDir, or delete the old checkpoints together " +
            "with the mart and log outputs they wrote.")
      }
  }

  /** Start the continuous pipeline over a JSONL ingest directory.
    * Returns the running queries: the windowed marts (funnel mart,
    * traffic mart and quality log, checkpointed under
    * `_checkpoints/marts`) and the duplicate audit — callers own their
    * lifecycle (`processAllAvailable` in tests, `awaitTermination` in
    * production). Throws `IllegalStateException` when `outDir` holds
    * a checkpoint of the earlier one-query-per-mart layout. */
  def start(spark: SparkSession, inDir: String, outDir: String,
            watermark: String = "2 hours"): Seq[StreamingQuery] = {
    refuseSplitCheckpoints(spark, outDir, Seq("funnel", "traffic", "quality"))
    // the watermark is defined ONCE, upstream of the dedup (a query
    // may not redefine it past a stateful operator) — the marts
    // consume the already-watermarked deduped stream
    val raw = EventStream.readJsonl(spark, inDir)
    Seq(
      windowedMartsSink(EventStream.dedupEvents(raw, watermark),
        s"$outDir/funnel_hourly", s"$outDir/hourly_traffic",
        Some(s"$outDir/quality_check_log"), s"$outDir/_checkpoints/marts"),
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
    * for the JSONL ingest dir). Returns (router, clean marts): the
    * clean marts query lands `funnel_hourly_clean` and
    * `hourly_traffic_clean`, checkpointed under
    * `_checkpoints/marts_clean`. It reads `outDir/clean_events`, so on
    * restart it resumes from the router's durable output, not from
    * the raw feed (no double-gating, no re-ingest). Throws
    * `IllegalStateException` when `outDir` holds a checkpoint of the
    * earlier one-query-per-mart layout. */
  def startRoutedOn(spark: SparkSession, rawEvents: DataFrame, outDir: String,
                    martWatermark: String = "6 hours"): Seq[StreamingQuery] = {
    refuseSplitCheckpoints(spark, outDir, Seq("funnel_clean", "traffic_clean"))
    val router = SessionGateStream.routingSink(
      SessionGateStream.routeSessions(SessionGateStream.asRouteEvents(rawEvents)),
      s"$outDir/clean_events", s"$outDir/review_events",
      s"$outDir/_checkpoints/router")
    Seq(router,
      windowedMartsSink(routedCleanStream(spark, s"$outDir/clean_events", martWatermark),
        s"$outDir/funnel_hourly_clean", s"$outDir/hourly_traffic_clean", None,
        s"$outDir/_checkpoints/marts_clean"))
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
    * <jsonlInDir> <outDir>` — starts the flavor's two queries and
    * blocks. */
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
