package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
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

  /** What the gap-session loop reads of an event: its key, its order
    * (epoch, event_id) and its epoch for the gap test. The loop also
    * watermarks on the event's `ts` column. */
  private[streaming] trait GapEvent {
    def user_id: Long
    def event_id: Long
    def epoch: Long
  }

  case class Ev(user_id: Long, event_id: Long, event_type: String,
                epoch: Long, ts: java.sql.Timestamp) extends GapEvent

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

  /** The one event-time gap-session loop, behind `sessionize`,
    * `SessionGateStream.gateSessions` and `routeSessions`. Per user,
    * each batch's events fold in (epoch, event_id) order into the open
    * session while `epoch - last <= GapSeconds`; a wider gap closes it
    * and opens the next. An open session times out in event time: once
    * the watermark passes `last + gap` it is closed and its state
    * removed. The operator supplies only its steps: `open` a session
    * on an event, `fold` an event in (with any rows to emit now),
    * `close` a session into rows, and `last`, its latest epoch — which
    * a fold must keep as a max, so a late event cannot rewind it. */
  private[streaming] def gapSessions[E <: GapEvent, S: Encoder, O: Encoder](
      events: Dataset[E], last: S => Long)(
      open: E => S, fold: (S, E) => (S, Iterator[O]),
      close: (Long, S) => Iterator[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", WatermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[S, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[E], state: GroupState[S]) =>
          if (state.hasTimedOut) {
            // watermark passed last_event + gap → the session is final
            val out = state.getOption.map(close(uid, _)).getOrElse(Iterator.empty)
            state.remove()
            out
          } else {
            var cur = state.getOption
            val out = scala.collection.mutable.ListBuffer.empty[O]
            evs.toSeq.sortBy(e => (e.epoch, e.event_id)).foreach { e =>
              cur = Some(cur match {
                case Some(s) if e.epoch - last(s) <= GapSeconds =>
                  val (next, emitted) = fold(s, e)
                  out ++= emitted
                  next
                case Some(s) =>
                  out ++= close(uid, s)
                  open(e)
                case None => open(e)
              })
            }
            cur.foreach { s =>
              state.update(s)
              // close when the watermark passes the gap horizon; the
              // timestamp must exceed the current watermark, so clamp
              state.setTimeoutTimestamp(
                math.max((last(s) + GapSeconds) * 1000L + 1,
                  state.getCurrentWatermarkMs() + 1))
            }
            out.iterator
          }
      }
  }

  def sessionize(events: Dataset[Ev]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    gapSessions[Ev, SessionState, SessionOut](events, _.last)(
      open = e => SessionState(e.epoch, e.epoch, 1, e.event_type == "purchase",
        List(e.event_type)),
      fold = (s, e) => (SessionState(
        start = math.min(s.start, e.epoch), last = math.max(s.last, e.epoch),
        count = s.count + 1,
        hasPurchase = s.hasPurchase || e.event_type == "purchase",
        seq = (e.event_type :: s.seq).take(MaxSeq)), Iterator.empty),
      close = (uid, s) => Iterator.single(SessionOut(uid, s.start, s.last, s.count,
        s.hasPurchase, s.seq.reverse.mkString(" -> "))))
  }

  /** Typed event stream from the raw events DataFrame. */
  def asEvents(events: DataFrame): Dataset[Ev] = {
    import events.sparkSession.implicits._
    events.select(
      col("user_id"), col("event_id"), col("event_type"),
      unix_timestamp(col("ts")).as("epoch"), col("ts")).as[Ev]
  }
}
