package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming sessionization — the streaming twin of the
  * batch `e01_sessionize` query (same 30-minute-gap semantics).
  *
  * Design: event-time watermark + `flatMapGroupsWithState` keyed by
  * user. State per user = the one open session; events that arrive
  * within the gap extend it, a larger gap closes it (emitting the
  * closed session) and opens a new one. Event-time timeout fires when
  * the watermark passes `session end + gap`, flushing idle sessions.
  *
  * Scale posture: state is O(#active users), not O(#events); the only
  * shuffle is the groupByKey on user_id; watermark bounds state
  * retention so a 100 TB/day stream cannot grow state unboundedly.
  *
  * == Late-event contract (where streaming can diverge from batch) ==
  * Batch-equality holds when each user's events are event-time ordered
  * ACROSS micro-batches. Within one micro-batch, disorder is free
  * (the group is sorted before folding). A CROSS-BATCH late event `t`
  * that is still inside the watermark:
  *  - `t >= open.start - gap`: merged into the open session (start
  *    extends backward) — same result as batch;
  *  - `t < open.start - gap`: the open session is emitted closed and a
  *    NEW session opens at `t`. Batch's global sort would instead have
  *    placed `t` first (possibly merging it with what came after), so
  *    session boundaries and counts for that user can differ. State
  *    holds only ONE open session per user by design (O(users) state);
  *    callers needing exact batch parity on out-of-order streams must
  *    widen the watermark so stragglers land in-batch, or reconcile
  *    downstream.
  * Events older than the watermark are dropped by Spark upstream of
  * this operator.
  */
object StreamingSessionize {

  case class Event(user_id: Long, event_id: Long, tus: Long)
  case class OpenSession(start: Long, end: Long, n: Long)
  case class Session(user_id: Long, session_start_us: Long,
                     session_end_us: Long, n_events: Long)

  /** Single source of truth for the gap lives with the batch operator —
    * e01 (batch), e05 (streaming), and their shared oracle all key off
    * the same constant, so the twins cannot silently diverge. */
  val DefaultGapUs: Long = graft.operators.Sessionize.DefaultGapUs

  /** Event-time timeout, in ms, for keyed state whose last event is at
    * `lastUs` and which closes `afterUs` later. It is the CEILING of
    * (lastUs + afterUs) in ms: flooring each µs term separately (the
    * r14 shape) let the timeout fire up to ~2 ms before the watermark
    * truly passed it, so an event in that sliver — which batch
    * semantics would merge into the open session — could find its
    * session already closed and split. Ceiling guarantees the timeout
    * is never early; at most 1 ms late, which only delays the flush,
    * never changes a boundary. The funnel, heavy-hitter and upsert
    * operators time out through it too. */
  def timeoutMs(lastUs: Long, afterUs: Long): Long = (lastUs + afterUs + 999L) / 1000L

  /** events must carry an event-time `ts_micro: timestamp` column used
    * for the watermark (build it with `timestamp_micros(tus)`). */
  def sessionize(events: Dataset[Event], gapUs: Long = DefaultGapUs,
                 watermarkDelay: String = "30 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ts_micro", timestamp_micros($"tus"))
      .withWatermark("ts_micro", watermarkDelay)
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
         state: GroupState[OpenSession]) => flushGroup(uid, rows, state, gapUs))
  }

  private def flushGroup(uid: Long, rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
                         state: GroupState[OpenSession], gapUs: Long): Iterator[Session] = {
    if (!rows.hasNext) {
      // event-time timeout: the watermark passed end+gap — close out.
      val out = state.getOption.map(s => Session(uid, s.start, s.end, s.n)).iterator
      state.remove()
      return out
    }
    val times = rows.map(_._3).toArray.sorted
    val closed = Vector.newBuilder[Session]
    var cur = state.getOption
    for (t <- times) {
      cur match {
        case Some(s) if t - s.end <= gapUs && t >= s.start - gapUs =>
          cur = Some(OpenSession(math.min(s.start, t), math.max(s.end, t), s.n + 1))
        case Some(s) =>
          closed += Session(uid, s.start, s.end, s.n)
          cur = Some(OpenSession(t, t, 1))
        case None =>
          cur = Some(OpenSession(t, t, 1))
      }
    }
    cur.foreach { s =>
      state.update(s)
      // flush when watermark passes the gap after session end
      state.setTimeoutTimestamp(timeoutMs(s.end, gapUs))
    }
    closed.result().iterator
  }
}
