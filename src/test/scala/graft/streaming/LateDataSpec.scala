package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase

/** Watermark semantics: late events beyond the watermark are dropped from
  * windowed aggregates (bounded state), while in-watermark late events
  * still count. The reference accepts all late data trivially
  * (processing-time only, SURVEY.md §2.4); the engine's event-time surface
  * documents and tests the explicit late-data policy it adds.
  */
class LateDataSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")

  test("events later than the watermark are dropped; in-watermark stragglers count") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingAnalytics.windowedStats(df, window_ = "10 minutes",
        watermark = "15 minutes")
      .writeStream.format("memory").queryName("late_data")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((ts(0), "click", 1.0))
      q.processAllAvailable()
      // advance event time to min 20: watermark = 20 - 15 = min 5 (window
      // [0,10) still open), then a straggler for [0,10) arrives → counted
      mem.addData((ts(20), "view", 1.0))
      q.processAllAvailable()
      mem.addData((ts(5), "click", 2.0))
      q.processAllAvailable()
      // advance far: watermark passes min 10 → [0,10) closes and emits
      mem.addData((ts(60), "view", 1.0))
      q.processAllAvailable()
      // a VERY late event for [0,10) is beyond the watermark → dropped
      mem.addData((ts(1), "click", 100.0))
      q.processAllAvailable()
      mem.addData((ts(120), "view", 1.0))
      q.processAllAvailable()

      val clickWindows = spark.table("late_data")
        .filter($"event_type" === "click").collect()
      assert(clickWindows.length == 1)
      // straggler counted (n=2), very-late drop excluded (sum 3.0 not 103.0)
      assert(clickWindows.head.getAs[Long]("n") == 2L)
      assert(clickWindows.head.getAs[java.math.BigDecimal]("sum_value")
        .doubleValue() == 3.0)
    } finally q.stop()
  }
}
