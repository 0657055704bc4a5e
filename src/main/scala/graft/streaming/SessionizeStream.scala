package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming sessionization with explicit state —
  * flatMapGroupsWithState per user, emitting a session row when the
  * 30-minute gap elapses.
  *
  * Timeouts are EVENT-TIME (watermark-driven), not processing-time:
  * a session closes when the watermark passes `last_event + gap`.
  * That keeps the operator deterministic and replayable (reprocessing
  * a day of history yields identical sessions — wall-clock timeouts
  * would close sessions mid-backfill), and it lets the engine idle
  * when no data arrives instead of re-running batches to poll the
  * clock.
  *
  * Batch equivalent: graft.operators.Sessionize (lag+cumsum windows).
  * Streaming state is O(1) per live user (running counters + last-seen
  * epoch + a bounded sequence tail), so state size is #active-users,
  * not #events — the property that keeps this runnable against an
  * unbounded firehose.
  */
object SessionizeStream {

  case class Ev(user_id: Long, event_id: Long, event_type: String,
                epoch: Long, ts: java.sql.Timestamp)

  case class SessionState(
      start: Long, last: Long, count: Int, hasPurchase: Boolean, seq: List[String])

  case class SessionOut(
      user_id: Long, session_start_epoch: Long, session_end_epoch: Long,
      event_count: Int, has_purchase: Boolean, event_sequence: String)

  val GapSeconds: Long = graft.operators.Sessionize.GapSeconds
  /** Bound the per-session sequence tail kept in state. */
  val MaxSeq = 32

  /** Watermark delay: how long we wait for late events before a
    * session may close. */
  val WatermarkDelay = "30 minutes"

  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, evs, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last_event + gap → the session is final
            val out = state.getOption.map(s => finish(uid, s))
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (e.epoch, e.event_id))
            var cur = state.getOption
            val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.epoch - s.last <= GapSeconds =>
                  cur = Some(s.copy(
                    last = e.epoch, count = s.count + 1,
                    hasPurchase = s.hasPurchase || e.event_type == "purchase",
                    seq = (e.event_type :: s.seq).take(MaxSeq)))
                case Some(s) =>
                  closed += finish(uid, s)
                  cur = Some(fresh(e))
                case None =>
                  cur = Some(fresh(e))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes the gap horizon; the
              // timestamp must exceed the current watermark, so clamp
              state.setTimeoutTimestamp(
                math.max((s.last + GapSeconds) * 1000L + 1,
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  private def fresh(e: Ev) = SessionState(e.epoch, e.epoch, 1, e.event_type == "purchase", List(e.event_type))

  private def finish(uid: Long, s: SessionState) = SessionOut(
    uid, s.start, s.last, s.count, s.hasPurchase, s.seq.reverse.mkString(" -> "))

  /** Typed event stream from the raw events DataFrame. */
  def asEvents(events: DataFrame): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events.select(
      col("user_id"), col("event_id"), col("event_type"),
      unix_timestamp(col("ts")).as("epoch"), col("ts")).as[Ev]
  }
}
