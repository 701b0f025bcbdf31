package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming per-key frequency tracking — the stateful twin of the
  * batch heavy-hitters query (t14's exact-settle side). State per key
  * is ONE counter (16 bytes); keys flush on event-time timeout once
  * the watermark passes `last event + horizon`, emitting their exact
  * count. Emission is therefore append-mode and exactly-once per key
  * per horizon window — the contract an alerting/metering consumer
  * wants (one final figure, not a stream of revisions).
  *
  * Scale posture: state is O(distinct keys active within the
  * horizon), the only shuffle is the key groupBy. A web-scale key
  * space (tokens, URLs) would front this with the Count-Min pre-filter
  * ([[graft.operators.Sketches]]) so only sketch-heavy candidates
  * carry exact state; the operator itself stays exact.
  */
object StreamingHeavyHitters {

  case class KeyedEvent(key: Long, tus: Long)
  case class Counter(n: Long, lastUs: Long)
  case class KeyCount(key: Long, n_events: Long)

  def counts(events: Dataset[KeyedEvent], horizonUs: Long,
             watermarkDelay: String = "30 minutes"): Dataset[KeyCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("ts_micro", timestamp_micros($"tus"))
      .withWatermark("ts_micro", watermarkDelay)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
         state: GroupState[Counter]) => {
          if (!rows.hasNext) {
            // watermark passed last event + horizon: emit the final
            // count and drop the key's state
            val out = state.getOption.iterator.map(c => KeyCount(key, c.n))
            state.remove()
            out
          } else {
            var n = 0L
            var last = Long.MinValue
            rows.foreach { r => n += 1; last = math.max(last, r._2) }
            val cur = state.getOption.getOrElse(Counter(0L, Long.MinValue))
            val upd = Counter(cur.n + n, math.max(cur.lastUs, last))
            state.update(upd)
            state.setTimeoutTimestamp(StreamingSessionize.timeoutMs(upd.lastUs, horizonUs))
            Iterator.empty
          }
        })
  }
}
