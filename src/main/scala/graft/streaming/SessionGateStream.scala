package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Sessionize
import SessionizeStream.{GapEvent, gapSessions}

/** Streaming session QUALITY GATE — the continuous counterpart of
  * `Sessionize.sessionQualityGate` (reference: validate_quality.py's
  * WARN path, materialized per session as it closes instead of per
  * batch run). Each closing session carries a verdict: the per-reason
  * flags and the overall `quarantined` bit, so a downstream sink can
  * route clean sessions into live marts and quarantined ones into a
  * review log WITHOUT waiting for the nightly batch gate.
  *
  * The event-level flags are THE SAME column expressions the batch
  * gate uses (Sessionize.fRange/fTs/fIntegrity — one definition, the
  * surfaces cannot drift); rows failing null_check are dropped before
  * keying, exactly like the batch gate. Session-level checks fold
  * incrementally in O(1) state: epoch minima for the funnel-sequence
  * invariant (order-independent — late events inside the watermark
  * fold to the same minima), boolean ORs for the flag checks, and a
  * BOUNDED recent-id window (`MaxDupWindow`) for in-session duplicate
  * detection — a replayed event lands next to its original, which a
  * window of 32 catches; the exact batch gate remains the authority
  * for pathological far-apart replays. State per live user is O(1),
  * so the operator survives an unbounded firehose; timeouts are
  * event-time (watermark-driven) for deterministic replay: both
  * operators here run SessionizeStream's one gap-session loop. */
object SessionGateStream {

  case class GEv(user_id: Long, event_id: Long, event_type: String,
                 epoch: Long, ts: java.sql.Timestamp,
                 f_range: Int, f_ts: Int, f_integrity: Int) extends GapEvent

  case class GState(start: Long, last: Long, count: Int,
                    qRange: Boolean, qTs: Boolean, qInteg: Boolean, qDup: Boolean,
                    firstPurchase: Long, firstTouch: Long, // Long.MaxValue = none
                    recentIds: List[Long])

  case class GateOut(user_id: Long, session_start_epoch: Long,
                     session_end_epoch: Long, event_count: Int,
                     q_range: Boolean, q_ts: Boolean, q_integrity: Boolean,
                     q_dup: Boolean, q_seq: Boolean, quarantined: Boolean)

  /** Recent event-id window for bounded in-session dup detection. */
  val MaxDupWindow = 32

  /** Typed gate-event stream from a raw events frame: drop rows
    * failing null_check, compute the shared event-level flags. */
  def asGateEvents(raw: DataFrame): Dataset[GEv] = {
    import raw.sparkSession.implicits._
    graft.operators.EventMarts.enrich(raw)
      .filter(Sessionize.typedRowFilter)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("event_epoch").as("epoch"), col("ts"),
        Sessionize.fRange.as("f_range"), Sessionize.fTs.as("f_ts"),
        Sessionize.fIntegrity.as("f_integrity"))
      .as[GEv]
  }

  def gateSessions(events: Dataset[GEv]): Dataset[GateOut] = {
    import events.sparkSession.implicits._
    gapSessions[GEv, GState, GateOut](events, _.last)(
      open = fresh, fold = (s, e) => (fold(s, e), Iterator.empty),
      close = (uid, s) => Iterator.single(finish(uid, s)))
  }

  private def fresh(e: GEv): GState =
    fold(GState(e.epoch, e.epoch, 0, qRange = false, qTs = false, qInteg = false,
      qDup = false, Long.MaxValue, Long.MaxValue, Nil), e)

  private def fold(s: GState, e: GEv): GState = {
    val isTouch = e.event_type == "view" || e.event_type == "click"
    val isPurchase = e.event_type == "purchase"
    GState(
      start = math.min(s.start, e.epoch),
      last = math.max(s.last, e.epoch),
      count = s.count + 1,
      qRange = s.qRange || e.f_range == 1,
      qTs = s.qTs || e.f_ts == 1,
      qInteg = s.qInteg || e.f_integrity == 1,
      qDup = s.qDup || s.recentIds.contains(e.event_id),
      firstPurchase = if (isPurchase) math.min(s.firstPurchase, e.epoch) else s.firstPurchase,
      firstTouch = if (isTouch) math.min(s.firstTouch, e.epoch) else s.firstTouch,
      recentIds = (e.event_id :: s.recentIds).take(MaxDupWindow))
  }

  /** Persist the verdict stream as a continuously-written session
    * quarantine log: one row per CLOSED session with its per-reason
    * flags. foreachBatch is at-least-once, so rows land under
    * (session_date, batch_id) partitions through `MartSink.batchSink`
    * — a replayed batch rewrites exactly its own partitions. The log
    * is the review queue quarantined sessions route into, and
    * `gateDailyFromLog` rescores it with the batch gate's OWN day
    * rollup. */
  def gateLogSink(gated: Dataset[GateOut], logDir: String,
                  checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    graft.sources.MartSink.batchSink(gated.toDF(), logDir, checkpointDir, Seq("session_date")) {
      _.withColumn("session_date",
        date_add(lit("1970-01-01").cast("date"),
          (col("session_start_epoch") / lit(86400)).cast("int")))
    }

  /** Day-grain quarantine census from the persisted verdict log —
    * byte-identical shape to the batch `session_quality_gate` query on
    * finalized sessions, because it runs the SAME day rollup
    * (Sessionize.gateDayRollup) over the logged verdicts. */
  def gateDailyFromLog(spark: org.apache.spark.sql.SparkSession, logDir: String): DataFrame =
    Sessionize.gateDayRollup(
      spark.read.parquet(logDir).select(
        col("session_start_epoch"), col("event_count").cast("long").as("event_count"),
        col("q_range").cast("int").as("q_range"), col("q_ts").cast("int").as("q_ts"),
        col("q_integrity").cast("int").as("q_integrity"),
        col("q_dup").cast("int").as("q_dup"), col("q_seq").cast("int").as("q_seq"),
        col("quarantined").cast("int").as("quarantined")))

  private def finish(uid: Long, s: GState): GateOut = {
    val qSeq = s.firstPurchase != Long.MaxValue &&
      (s.firstTouch == Long.MaxValue || s.firstTouch > s.firstPurchase)
    GateOut(uid, s.start, s.last, s.count,
      s.qRange, s.qTs, s.qInteg, s.qDup, qSeq,
      s.qRange || s.qTs || s.qInteg || s.qDup || qSeq)
  }

  // ------------------- quarantine ROUTING leg -------------------
  // The streaming mirror of `Pipeline.run(quarantine = true)` (the
  // reference DAG's PASS/FAIL branch, dags/event_pipeline_dag.py):
  // instead of only LOGGING verdicts, the EVENT rows themselves route
  // as their session closes — clean sessions' events to the live-mart
  // input, quarantined sessions' events to the review queue.

  /** Cap on event payloads buffered per OPEN session. A session that
    * exceeds it is bot-class by definition; its events flush to the
    * review side IMMEDIATELY (no data is ever dropped) and the session
    * stays review-routed to its end — the clean side is all-or-
    * nothing, never a partial session. This keeps state strictly
    * bounded per live user where a naive router would hold an
    * unbounded session tail on a firehose. */
  val MaxBufEvents = 512

  /** Gate event + the payload columns the routed sinks carry. */
  case class REv(user_id: Long, event_id: Long, event_type: String,
                 epoch: Long, ts: java.sql.Timestamp, value: Double, props: String,
                 f_range: Int, f_ts: Int, f_integrity: Int) extends GapEvent

  case class RState(gate: GState, buf: List[REv], bufN: Int, overflowed: Boolean)

  /** One event row tagged with its finalized session's verdict. */
  case class RoutedEvent(user_id: Long, event_id: Long, event_type: String,
                         ts: java.sql.Timestamp, value: Double, props: String,
                         session_start_epoch: Long, quarantined: Boolean)

  /** Typed routing-event stream: null_check-failing rows drop before
    * keying (exactly like the batch gate), flags are the shared
    * Sessionize expressions, and the raw payload rides along. */
  def asRouteEvents(raw: DataFrame): Dataset[REv] = {
    import raw.sparkSession.implicits._
    graft.operators.EventMarts.enrich(raw)
      .filter(Sessionize.typedRowFilter)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("event_epoch").as("epoch"), col("ts"), col("value"), col("props"),
        Sessionize.fRange.as("f_range"), Sessionize.fTs.as("f_ts"),
        Sessionize.fIntegrity.as("f_integrity"))
      .as[REv]
  }

  private def gev(e: REv): GEv =
    GEv(e.user_id, e.event_id, e.event_type, e.epoch, e.ts,
      e.f_range, e.f_ts, e.f_integrity)

  private def routedRow(e: REv, start: Long, q: Boolean): RoutedEvent =
    RoutedEvent(e.user_id, e.event_id, e.event_type, e.ts, e.value, e.props, start, q)

  private def freshRoute(e: REv): RState =
    RState(fresh(gev(e)), List(e), 1, overflowed = false)

  private def closeRoute(uid: Long, s: RState): Iterator[RoutedEvent] = {
    val v = finish(uid, s.gate)
    val q = v.quarantined || s.overflowed
    s.buf.reverse.iterator.map(e => routedRow(e, s.gate.start, q))
  }

  /** Fold one event into an open routed session. A session past
    * `MaxBufEvents` emits here: the overflowing event flushes the
    * whole buffer to review, and every later event passes through. */
  private def foldRoute(s: RState, e: REv): (RState, Iterator[RoutedEvent]) = {
    val g = fold(s.gate, gev(e))
    if (s.overflowed)
      (RState(g, Nil, 0, overflowed = true), Iterator.single(routedRow(e, g.start, q = true)))
    else if (s.bufN + 1 > MaxBufEvents)
      (RState(g, Nil, 0, overflowed = true),
        (e :: s.buf).reverse.iterator.map(x => routedRow(x, g.start, q = true)))
    else (RState(g, e :: s.buf, s.bufN + 1, overflowed = false), Iterator.empty)
  }

  /** Per-session event routing: buffers a session's events in state
    * (gate verdict folding in O(1) beside it) and emits EVERY event
    * with the session's final `quarantined` bit when the session
    * closes — the event-grain sibling of `gateSessions`. Verdict
    * semantics match `Sessionize.cleanEvents`: one failing event
    * poisons its whole session; clean output is all-or-nothing per
    * session. Overflowing sessions (see `MaxBufEvents`) route to
    * review in full, emitted incrementally so state stays bounded. */
  def routeSessions(events: Dataset[REv]): Dataset[RoutedEvent] = {
    import events.sparkSession.implicits._
    gapSessions[REv, RState, RoutedEvent](events, _.gate.last)(
      open = freshRoute, fold = foldRoute, close = closeRoute)
  }

  /** One micro-batch of the routing sink: split the routed rows on
    * the verdict and land each side under (event_date, batch_id)
    * partitions via dynamic overwrite — a replayed micro-batch (same
    * batchId) rewrites exactly its own partitions on BOTH sides, so
    * at-least-once delivery becomes effectively-once table state
    * (`MartSink.writeBatch`, once per side). Exposed separately
    * from `routingSink` so replay semantics are directly testable. */
  def routeBatch(batch: DataFrame, batchId: Long,
                 cleanDir: String, reviewDir: String): Unit = {
    if (!batch.isEmpty) {
      val rows = batch.withColumn("event_date", to_date(col("ts"))).persist()
      try {
        for ((dir, quarantined) <- Seq(cleanDir -> false, reviewDir -> true))
          graft.sources.MartSink.writeBatch(
            rows.filter(col("quarantined") === quarantined).drop("quarantined"),
            batchId, dir, Seq("event_date"))(identity)
      } finally {
        rows.unpersist()
        ()
      }
    }
  }

  /** Session INDEX over the routed output — the review-queue table of
    * contents derived from data already on disk, with ZERO additional
    * streaming state (the alternative — running `gateSessions` beside
    * `routeSessions` — doubles per-user state on the firehose to
    * produce rows the routed events already imply). One row per
    * routed session: which side it landed, its event count and span.
    * Per-REASON flags are deliberately absent here — they are
    * session-grain verdict detail, and `gateLogSink` remains the
    * full-fidelity path when the review workflow needs the why; this
    * index answers the queue's operational questions (how many, how
    * big, which side, when) from a plain batch read. */
  def sessionIndexFromRouted(spark: org.apache.spark.sql.SparkSession,
                             cleanDir: String, reviewDir: String): DataFrame = {
    def side(dir: String, label: String): Option[DataFrame] =
      if (new java.io.File(dir).exists())
        Some(spark.read.parquet(dir).withColumn("side", lit(label)))
      else None
    val frames = Seq(side(cleanDir, "clean"), side(reviewDir, "review")).flatten
    require(frames.nonEmpty, s"no routed output at $cleanDir or $reviewDir")
    frames.reduce(_ unionByName _)
      .groupBy(col("user_id"), col("session_start_epoch"), col("side"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .orderBy("user_id", "session_start_epoch")
  }

  /** Continuous quarantine routing: clean sessions' events accrete
    * under `cleanDir` (the live-mart input), quarantined sessions'
    * events under `reviewDir` (the review queue `gateLogSink`'s
    * verdict log indexes). */
  def routingSink(routed: Dataset[RoutedEvent], cleanDir: String, reviewDir: String,
                  checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    routed.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        routeBatch(batch, batchId, cleanDir, reviewDir)
      }
      .start()
}
