package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Watermarked window aggregation — the streaming twin of the batch
  * `e03_hourly` query.
  *
  * Append-mode semantics: a window's row is emitted exactly once, when
  * the watermark passes `window.end + delay`; state held per
  * (window × type), bounded by the watermark — the 100 TB/day posture
  * is identical to sessionization's: state size tracks the *key*
  * cardinality of open windows, never the event volume.
  */
object StreamingWindowCounts {

  /** Per-(window, event_type) counts over `events` carrying `tus:
    * long` (epoch µs). Each event lands in `windowLen/slide`
    * overlapping windows (the generator is a codegen explode, state
    * still per (window × type)); `slide == windowLen` is the tumbling
    * case. Emission stays append-mode once-per-window — overlapping
    * windows close in slide-step order as the watermark advances. */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
                    slide: String = "30 minutes",
                    watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withColumn("ts_micro", timestamp_micros(col("tus")))
      .withWatermark("ts_micro", watermarkDelay)
      .groupBy(window(col("ts_micro"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_value"))
}
