package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming latest-wins CDC merge — the stateful twin of the batch
  * [[graft.operators.History.applyChangelog]]. A changelog stream
  * (upserts + deletes, sequence-ordered per key) folds into per-key
  * state holding ONLY the highest-sequence record seen; when the
  * watermark passes `last arrival + horizon`, the key flushes its
  * final state — live rows emit once, keys whose final op is a delete
  * emit nothing. Append-mode, exactly-once per key per horizon: the
  * materialized-view maintenance contract.
  *
  * Scale posture: state is O(active keys) × one (seq, digest, op)
  * record — independent of changelog volume; arrivals fold
  * incrementally, so a key receiving a million revisions still holds
  * one record. The only shuffle is the key groupBy.
  */
object StreamingUpsert {

  case class Change(key: Long, digest: String, seq: Long, op: String,
                    tus: Long)
  case class Latest(seq: Long, digest: String, op: String, lastUs: Long)
  case class Live(key: Long, digest: String, last_seq: Long)

  def latestWins(changes: Dataset[Change], horizonUs: Long,
                 watermarkDelay: String = "30 minutes"): Dataset[Live] = {
    val spark = changes.sparkSession
    import spark.implicits._
    changes
      .withColumn("ts_micro", timestamp_micros($"tus"))
      .withWatermark("ts_micro", watermarkDelay)
      .as[(Long, String, Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: Long, rows: Iterator[(Long, String, Long, String, Long, java.sql.Timestamp)],
         state: GroupState[Latest]) => {
          if (!rows.hasNext) {
            // watermark passed last arrival + horizon: flush the
            // final state; deleted keys emit nothing
            val out = state.getOption.iterator
              .filter(_.op != "D").map(l => Live(key, l.digest, l.seq))
            state.remove()
            out
          } else {
            var cur = state.getOption
              .getOrElse(Latest(Long.MinValue, null, "D", Long.MinValue))
            rows.foreach { r =>
              val lastUs = math.max(cur.lastUs, r._5)
              cur =
                if (r._3 > cur.seq) Latest(r._3, r._2, r._4, lastUs)
                else cur.copy(lastUs = lastUs)
            }
            state.update(cur)
            state.setTimeoutTimestamp(StreamingSessionize.timeoutMs(cur.lastUs, horizonUs))
            Iterator.empty
          }
        })
  }
}
