package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkTestBase
import graft.streaming.StreamingAnalytics.SessionEvent

class StreamingAnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(min: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")

  test("windowed stats with watermark emit closed windows in append mode") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamingAnalytics.windowedStats(df, window_ = "10 minutes",
        watermark = "5 minutes")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((ts(0), "click", 1.0), (ts(5), "click", 2.0))
      q.processAllAvailable()
      // watermark far past the first window: it must close and emit
      mem.addData((ts(60), "view", 5.0))
      q.processAllAvailable()
      mem.addData((ts(120), "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
      assert(rows.exists(r => r.getAs[String]("event_type") == "click" &&
        r.getAs[Long]("n") == 2L))
    } finally q.stop()
  }

  test("streaming sessionization closes sessions via event-time timeout") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = StreamingAnalytics.sessionize(mem.toDS(), gapSeconds = 300,
      watermark = "1 minute")
    val q = out.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: two events 2 min apart (one session)
      mem.addData(SessionEvent(1L, ts(0), 1.0), SessionEvent(1L, ts(2), 2.0))
      q.processAllAvailable()
      // jump far ahead: watermark passes session end + gap → session closes
      mem.addData(SessionEvent(2L, ts(120), 9.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, ts(240), 1.0))
      q.processAllAvailable()
      val rows = spark.table("stream_sessions").collect()
      val u1 = rows.filter(_.getAs[Long]("user_id") == 1L)
      assert(u1.length == 1)
      assert(u1.head.getAs[Long]("n_events") == 2L)
      assert(u1.head.getAs[Double]("session_value") == 3.0)
      assert(u1.head.getAs[Timestamp]("session_start") == ts(0))
      assert(u1.head.getAs[Timestamp]("session_end") == ts(2))
    } finally q.stop()
  }

  test("sessionization splits on gap within one batch") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = StreamingAnalytics.sessionize(mem.toDS(), gapSeconds = 300,
      watermark = "0 seconds")
    val q = out.writeStream.format("memory").queryName("stream_sessions2")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // two bursts 30 min apart in ONE batch → first session emitted
      // immediately on the in-batch gap split
      mem.addData(SessionEvent(7L, ts(0), 1.0), SessionEvent(7L, ts(1), 1.0),
        SessionEvent(7L, ts(30), 5.0))
      q.processAllAvailable()
      val rows = spark.table("stream_sessions2").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("n_events") == 2L)
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases within the window only") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamingAnalytics.clickAttribution(
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      purchases.toDF().toDF("user_id", "purchase_ts", "purchase_value"),
      windowSeconds = 600, watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("attribution")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      clicks.addData((1L, ts(0), 100L), (2L, ts(0), 200L))
      // user 1 buys 5 min after the click (inside 10-min window);
      // user 2 buys 30 min after (outside); user 3 never clicked
      purchases.addData((1L, ts(5), 9.99), (2L, ts(30), 5.0), (3L, ts(5), 1.0))
      q.processAllAvailable()
      // advance both watermarks so results flush in append mode
      clicks.addData((9L, ts(120), 0L))
      purchases.addData((9L, ts(121), 0.0))
      q.processAllAvailable()
      val rows = spark.table("attribution").collect()
        .filter(_.getAs[Long]("user_id") < 9L)
      assert(rows.length == 1)
      assert(rows.head.getAs[Long]("user_id") == 1L)
      assert(rows.head.getAs[Long]("click_id") == 100L)
      assert(rows.head.getAs[Double]("purchase_value") == 9.99)
    } finally q.stop()
  }

  test("native session_window merges extensions and closes on the gap") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val q = StreamingAnalytics.sessionWindowStats(
        mem.toDF().toDF("user_id", "ts", "value"),
        gap = "10 minutes", watermark = "1 minute")
      .writeStream.format("memory").queryName("session_windows")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: events at t0, t5, t12 — one session (each gap < 10 min,
      // the t5 event EXTENDS the window, exercising state merge);
      // user 2: events at t0 and t25 — two sessions (gap 25 > 10)
      mem.addData((1L, ts(0), 1.0), (1L, ts(5), 2.0), (2L, ts(0), 5.0))
      q.processAllAvailable()
      mem.addData((1L, ts(12), 3.0), (2L, ts(25), 7.0))
      q.processAllAvailable()
      mem.addData((9L, ts(180), 0.0)) // watermark push: close everything
      q.processAllAvailable()
      val rows = spark.table("session_windows").collect()
        .filter(_.getAs[Long]("user_id") < 9L)
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[Timestamp]("session_start"),
          r.getAs[Long]("n_events"),
          r.getAs[java.math.BigDecimal]("session_value").doubleValue()))
        .sortBy(r => (r._1, r._2.getTime))
      assert(rows.map(r => (r._1, r._3, r._4)).toSeq ==
        Seq((1L, 3L, 6.0), (2L, 1L, 5.0), (2L, 1L, 7.0)),
        s"got ${rows.toSeq}")
      // user 1's merged session spans t0..t12 (window end = last + gap)
      val u1 = rows.filter(_._1 == 1L)
      assert(u1.length == 1 && u1.head._2 == ts(0))
    } finally q.stop()
  }

  test("stream-static enrichment broadcasts the dimension; unmatched rows keep nulls") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val events = mem.toDF().toDF("user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val q = StreamingAnalytics.enrichWithDimension(events, dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1L, 10.0), (3L, 7.0))
      q.processAllAvailable()
      mem.addData((2L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
      assert(rows.length == 3)
      assert(rows.exists(r => r.getAs[Long]("user_id") == 1L &&
        r.getAs[String]("segment") == "gold"))
      assert(rows.exists(r => r.getAs[Long]("user_id") == 2L &&
        r.getAs[String]("segment") == "silver"))
      // unmatched user passes through with a null segment, not dropped
      assert(rows.exists(r => r.getAs[Long]("user_id") == 3L &&
        r.getAs[String]("segment") == null))
    } finally q.stop()
  }

  test("observe() metrics report per-batch counters in query progress") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(java.lang.Long, Double)]
    val events = mem.toDF().toDF("user_id", "value")
    val q = StreamingAnalytics.withIngestMetrics(events)
      .writeStream.format("memory").queryName("observed")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1L, 10.5), (null, 2.5), (3L, 7.0))
      q.processAllAvailable()
      val progress = q.recentProgress.reverse
        .find(p => !p.observedMetrics.isEmpty)
        .getOrElse(fail("no batch reported observed metrics"))
      val m = progress.observedMetrics.get("ingest")
      assert(m.getAs[Long]("n_rows") == 3L)
      assert(m.getAs[java.math.BigDecimal]("sum_value").doubleValue() == 20.0)
      assert(m.getAs[Long]("null_keys") == 1L)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join emits unmatched clicks with nulls") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamingAnalytics.clickAttributionOuter(
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      purchases.toDF().toDF("user_id", "purchase_ts", "purchase_value"),
      windowSeconds = 600, watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("attribution_outer")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      clicks.addData((1L, ts(0), 100L), (2L, ts(0), 200L))
      purchases.addData((1L, ts(5), 9.99)) // user 2 never converts
      q.processAllAvailable()
      // push both watermarks far past click+interval so the state store
      // can PROVE user 2's null is final and emit it
      clicks.addData((9L, ts(120), 0L))
      purchases.addData((9L, ts(121), 0.0))
      q.processAllAvailable()
      clicks.addData((9L, ts(240), 1L))
      purchases.addData((9L, ts(241), 0.0))
      q.processAllAvailable()
      val rows = spark.table("attribution_outer").collect()
        .filter(_.getAs[Long]("user_id") < 9L)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id"),
          Option(r.getAs[java.lang.Double]("purchase_value"))))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(
        (1L, 100L, Some(9.99)),
        (2L, 200L, None)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI interval join emits converting clicks once") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = StreamingAnalytics.clickAttributionSemi(
      clicks.toDF().toDF("user_id", "click_ts", "click_id"),
      purchases.toDF().toDF("user_id", "purchase_ts", "purchase_value"),
      windowSeconds = 600, watermark = "1 minute")
    val q = joined.writeStream.format("memory").queryName("attribution_semi")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      clicks.addData((1L, ts(0), 100L), (2L, ts(0), 200L))
      // user 1 converts TWICE inside the window; user 2 never converts —
      // semi must emit user 1's click exactly once and user 2 not at all
      purchases.addData((1L, ts(5), 9.99), (1L, ts(30), 1.00))
      q.processAllAvailable()
      clicks.addData((9L, ts(240), 0L))
      purchases.addData((9L, ts(241), 0.0))
      q.processAllAvailable()
      val rows = spark.table("attribution_semi").collect()
        .filter(_.getAs[Long]("user_id") < 9L)
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("click_id")))
      assert(rows.toSeq == Seq((1L, 100L)),
        s"semi join must deduplicate matches and drop non-converters: ${rows.toSeq}")
    } finally q.stop()
  }

  test("heavy-hitters sketch aggregates inside a streaming window") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Timestamp, String)]
    val hh = graft.functions.HeavyHittersAggregator.heavyHitters(4)
    val q = mem.toDF().toDF("ts", "item")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(hh(col("item")).as("sketch"))
      .select(col("window.start").as("bucket"), explode(col("sketch"))
        .as(Seq("item", "est_count")))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((ts(0), "a"), (ts(1), "a"), (ts(2), "b"))
      q.processAllAvailable()
      mem.addData((ts(60), "late-watermark-pusher")) // closes the first window
      q.processAllAvailable()
      mem.addData((ts(120), "x"))
      q.processAllAvailable()
      val first = spark.table("hh_stream")
        .filter(col("bucket") === ts(0))
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      // exact regime (2 distinct <= capacity 4): counts are exact
      assert(first == Map("a" -> 2L, "b" -> 1L), s"got $first")
    } finally q.stop()
  }

  test("HyperLogLog sketch aggregates inside a streaming window (bounded state)") {
    implicit val ctx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Timestamp, String)]
    val hll = graft.functions.HyperLogLogAggregator.hllSketch
    val q = mem.toDF().toDF("ts", "uid")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(hll(col("uid")).as("regs"))
      .select(col("window.start").as("bucket"), col("regs"))
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // 300 distinct users, some repeated — state per window is 64 bytes
      // of registers regardless of cardinality. (n >> m: the raw-estimate
      // regime; below ~2.5m the raw formula is biased high and would need
      // the linear-counting correction the sketch deliberately omits.)
      mem.addData((1 to 300).map(i => (ts(i % 9), s"user-$i")): _*)
      mem.addData((ts(3), "user-1"), (ts(4), "user-2")) // duplicates
      q.processAllAvailable()
      mem.addData((ts(60), "closer"))
      q.processAllAvailable()
      val regs = spark.table("hll_stream")
        .filter(col("bucket") === ts(0))
        .collect().head.getSeq[Int](1).toArray.map(_.toByte)
      val est = graft.functions.HyperLogLogAggregator.estimate(regs)
      assert(math.abs(est - 300) / 300.0 < 0.4,
        s"windowed HLL estimate $est too far from 300")
    } finally q.stop()
  }

  test("streaming dedup drops redeliveries within the watermark, state bounded") {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val df = mem.toDF().toDF("event_id", "ts", "payload")
    val out = StreamingAnalytics.dedupEvents(df, Seq("event_id"),
      watermark = "5 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").option("checkpointLocation", newCheckpointDir())
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      mem.addData((1L, ts(0), "a"), (1L, ts(0), "a-dup"), (2L, ts(1), "b"))
      q.processAllAvailable()
      // redelivery of id 1 in a later batch, still inside the watermark
      mem.addData((1L, ts(2), "a-redelivered"), (3L, ts(2), "c"))
      q.processAllAvailable()
      val got = spark.table("dedup_stream").collect()
        .map(r => r.getAs[Long]("event_id")).sorted.toSeq
      assert(got == Seq(1L, 2L, 3L), s"got $got")
    } finally q.stop()
  }
}
