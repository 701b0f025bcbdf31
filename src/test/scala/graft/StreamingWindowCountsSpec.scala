package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.StreamingWindowCounts

class StreamingWindowCountsSpec extends SparkSpec {
  import spark.implicits._

  private val Hour = 3600L * 1000000
  private val Base = 24 * Hour

  test("tumbling hourly counts match batch aggregation of the same events") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)] // (tus, event_type, value)
    val events = input.toDS().toDF("tus", "event_type", "value")
    val counts = StreamingWindowCounts.slidingCounts(events, "1 hour", "1 hour")
    val query = counts.writeStream.format("memory").queryName("win_test")
      .outputMode("append").start()

    val data = for {
      h <- 0 until 3
      i <- 0 until 10
    } yield (Base + h * Hour + i * 300L * 1000000, if (i % 2 == 0) "click" else "view", i * 1.5)
    input.addData(data: _*)
    query.processAllAvailable()
    // advance the watermark far enough to finalize all three windows
    input.addData((Base + 50 * Hour, "flush", 0.0))
    query.processAllAvailable()
    input.addData((Base + 100 * Hour, "flush", 0.0))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("win_test")
      .filter($"event_type" =!= "flush")
      .select($"window_start_us", $"event_type", $"n", round($"sum_value", 4).as("s"))
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = data.toDF("tus", "event_type", "value")
      .groupBy((expr(s"tus div $Hour") * Hour).as("window_start_us"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 4).as("s"))
      .as[(Long, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size == 6) // 3 windows × 2 types
  }
}
