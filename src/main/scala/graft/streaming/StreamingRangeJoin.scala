package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stream-stream banded range join — the streaming twin of the batch
  * band join that [[graft.plans.BandJoinRewrite]] plans: pairs of
  * left/right rows sharing `keys` whose times fall within `[leftTime +
  * lowerUs, leftTime + upperUs]`, both sides UNBOUNDED streams.
  *
  * Spark's stream-stream join buffers both sides in state; the
  * event-time watermarks plus the time-range join condition are what
  * let it EVICT: a buffered left row can only ever match right rows
  * within the band around its time, so once the right watermark
  * passes `left time + upper + delay` the row is provably done and
  * state is dropped. Without the range condition state grows without
  * bound — that condition is the 100 TB posture, not a correctness
  * nicety. Inner-join matches emit immediately on arrival (the
  * watermark gates only eviction and late-row drops), so a bounded
  * drain needs no sentinel flush.
  *
  * Times are epoch-µs longs (the engine's convention); they are
  * lifted to timestamps internally because watermarks and range
  * eviction require event-time typed columns.
  */
object StreamingRangeJoin {

  /** `left`/`right` must share exactly `keys` as common columns; the
    * result carries the left columns plus right non-key columns, one
    * row per matched pair (inner). */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                leftTime: String, rightTime: String,
                lowerUs: Long, upperUs: Long,
                watermarkDelay: String = "30 minutes"): DataFrame = {
    require(upperUs >= lowerUs, s"rangeJoin: empty band [$lowerUs, $upperUs]")
    val overlap = (left.columns.toSet & right.columns.toSet) -- keys
    require(overlap.isEmpty,
      s"rangeJoin: non-key columns appear on both sides: $overlap — rename first")
    val clash = (left.columns.toSet ++ right.columns.toSet) & Set("_lts", "_rts")
    require(clash.isEmpty,
      "rangeJoin: column names _lts/_rts collide with internal working columns — rename first")

    val l = left.withColumn("_lts", timestamp_micros(col(leftTime)))
      .withWatermark("_lts", watermarkDelay)
    val r = right.withColumn("_rts", timestamp_micros(col(rightTime)))
      .withWatermark("_rts", watermarkDelay)
    // the band is stated on the EVENT-TIME columns so the join planner
    // derives state-eviction bounds from it
    val band =
      r("_rts") >= l("_lts") + expr(s"INTERVAL '$lowerUs' MICROSECOND") &&
      r("_rts") <= l("_lts") + expr(s"INTERVAL '$upperUs' MICROSECOND")
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) && band
    val rightPayload = right.columns.filterNot(keys.contains)
    l.join(r, cond, "inner")
      .select(left.columns.map(l(_)) ++ rightPayload.map(r(_)): _*)
  }
}
