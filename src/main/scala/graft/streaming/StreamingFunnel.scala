package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered funnel — the stateful twin of
  * [[graft.operators.Funnel]]'s sequential-minima semantics.
  *
  * State per user: the reaching time of every stage so far (K
  * options). Folding events in ASCENDING event time computes the
  * batch semantics incrementally: stage 1's reach is the first
  * stage-1 event (later events only have larger times, so it never
  * needs revising), and stage k's reach is the first stage-k event at
  * or after stage k−1's reach — an earlier stage-k event was
  * correctly skipped because it preceded the prior stage. Same
  * cross-batch contract as the sessionizer: each user's events must
  * be event-time ordered ACROSS micro-batches (within a batch the
  * group is sorted before folding).
  *
  * Users flush on event-time timeout once the watermark passes
  * `last event + horizon` — the "conversion window" a production
  * funnel needs anyway (state cannot wait forever for the next
  * stage). Batch parity holds when the horizon exceeds the stream's
  * remaining span, which the bounded drains guarantee with their
  * sentinel watermark push. State is O(active users × K), the only
  * shuffle is the user groupByKey.
  */
object StreamingFunnel {

  case class FEvent(user_id: Long, event_type: String, tus: Long)
  /** `times(k)` = reach time of stage k, None once unreached (every
    * later stage is then None too). */
  case class Reach(times: Seq[Option[Long]], lastUs: Long)
  /** One output row per user per stage (emitted on flush). */
  case class StageReach(user_id: Long, stage_idx: Int, tus: Option[Long])

  def stageReaches(events: Dataset[FEvent], stages: Seq[String],
                   horizonUs: Long,
                   watermarkDelay: String = "30 minutes"): Dataset[StageReach] = {
    require(stages.nonEmpty && stages.distinct == stages,
      s"bad funnel stages: $stages")
    val spark = events.sparkSession
    import spark.implicits._
    val idx = stages.zipWithIndex.toMap
    events
      .withColumn("ts_micro", timestamp_micros($"tus"))
      .withWatermark("ts_micro", watermarkDelay)
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[(Long, String, Long, java.sql.Timestamp)],
         state: GroupState[Reach]) => {
          if (!rows.hasNext) {
            // watermark passed last event + horizon: flush and drop
            val out = state.getOption.iterator.flatMap { r =>
              if (r.times.head.isEmpty) Iterator.empty // never entered
              else r.times.indices.iterator
                .map(k => StageReach(uid, k, r.times(k)))
            }
            state.remove()
            out
          } else {
            // sort by (time, stage): same-microsecond events fold in
            // stage order, so an equal-time A→B cascade reaches B —
            // matching the batch rule `t_B = min{t ≥ t_A}` (t_A itself
            // qualifies)
            val evs = rows.map(e => (e._3, idx.get(e._2)))
              .filter(_._2.isDefined).map { case (t, k) => (t, k.get) }
              .toArray.sorted
            val cur = state.getOption
              .getOrElse(Reach(Seq.fill(stages.size)(None), Long.MinValue))
            val times = cur.times.toArray
            var last = cur.lastUs
            for ((t, k) <- evs) {
              last = math.max(last, t)
              if (times(k).isEmpty &&
                  (k == 0 || times(k - 1).exists(t >= _)))
                times(k) = Some(t)
            }
            if (last != Long.MinValue) {
              state.update(Reach(times.toSeq, last))
              state.setTimeoutTimestamp(StreamingSessionize.timeoutMs(last, horizonUs))
            }
            Iterator.empty
          }
        })
  }
}
