package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{StreamingSessionize, StreamingWindowCounts}

/** Unbounded-ingestion demo (VERDICT r4 "What's missing" #3): the
  * streaming operators are source-agnostic, so here they run against
  * Spark's `rate` source — a genuinely unbounded stream with no
  * files, no drain, no replay. Event times are processing-time, so
  * results aren't deterministic row-for-row; the oracle-gated file
  * drains (e05/d06/e06) and MemoryStream specs pin exact semantics,
  * and this spec pins the structural invariants an unbounded run must
  * hold: output flows while the source keeps producing, sessions per
  * user never overlap, windows align to the tumbling grid. */
class RateSourceStreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Poll the in-memory sink until `table` has ≥ minRows or ~90 s
    * elapse; the query keeps running (unbounded) — the caller stops it. */
  private def awaitRows(q: StreamingQuery, table: String, minRows: Long): DataFrame = {
    val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
    var out = spark.table(table)
    while (out.count() < minRows && System.nanoTime() < deadline) {
      Thread.sleep(500)
      out = spark.table(table)
    }
    assert(out.count() >= minRows,
      s"unbounded query produced only ${out.count()} rows in 90s")
    out
  }

  test("sessionize runs unbounded on the rate source; sessions stay disjoint per user") {
    // rotate users in ~1 s bursts (100 rows/s, blocks of 100 values):
    // each user is idle ~4 s between bursts, far beyond the 2 s gap,
    // so sessions keep closing while the stream keeps flowing
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", "100").load()
      .select(((col("value") / 100).cast("long") % 5).as("user_id"),
        col("value").as("event_id"),
        unix_micros(col("timestamp")).as("tus"))
      .as[StreamingSessionize.Event]
    val q = StreamingSessionize
      .sessionize(events, gapUs = 2L * 1000000, watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("rate_sessions")
      .outputMode("append").start()
    try {
      val got = awaitRows(q, "rate_sessions", 3)
        .as[StreamingSessionize.Session].collect()
      assert(got.forall(s => s.user_id >= 0 && s.user_id < 5))
      assert(got.forall(s => s.session_start_us <= s.session_end_us && s.n_events >= 1))
      // a 1 s burst at 100 rows/s lands ~20 events on its user
      assert(got.exists(_.n_events > 1), "no session accumulated events")
      got.groupBy(_.user_id).foreach { case (u, ss) =>
        val sorted = ss.sortBy(_.session_start_us)
        sorted.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.session_end_us < b.session_start_us,
              s"user $u emitted overlapping sessions: $a / $b")
          case _ => ()
        }
      }
    } finally q.stop()
  }

  test("tumbling windows run unbounded on the rate source; grid-aligned output") {
    val winUs = 2L * 1000000
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", "200").load()
      .select(unix_micros(col("timestamp")).as("tus"),
        concat(lit("type_"), (col("value") % 3).cast("string")).as("event_type"),
        (col("value") % 7).cast("double").as("value"))
    val q = StreamingWindowCounts
      .slidingCounts(events, windowLen = "2 seconds", slide = "2 seconds",
        watermarkDelay = "1 second")
      .writeStream.format("memory").queryName("rate_windows")
      .outputMode("append").start()
    try {
      val got = awaitRows(q, "rate_windows", 3)
        .as[(Long, String, Long, Double)].collect()
      assert(got.forall(_._1 % winUs == 0), "window start off the tumbling grid")
      assert(got.forall(r => Set("type_0", "type_1", "type_2")(r._2)))
      assert(got.forall(r => r._3 > 0 && r._4 >= 0))
      // append mode: each (window, type) cell is emitted exactly once
      val cells = got.map(r => (r._1, r._2))
      assert(cells.distinct.length == cells.length, "duplicate window emission")
    } finally q.stop()
  }
}
