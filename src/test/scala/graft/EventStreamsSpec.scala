package graft

import graft.streaming.EventStreams
import graft.operators.Sessionize
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming operators driven through a MemoryStream + memory sink, and
  * cross-checked against their batch equivalents on the same rows. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  private def sampleEvents: Seq[EventStreams.Event] = Seq(
    // user 1: two sessions (gap > 30 min between event 2 and 3)
    EventStreams.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1, "view", 1.0),
    EventStreams.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 1, "click", 2.0),
    EventStreams.Event(3, java.sql.Timestamp.valueOf("2024-01-01 11:00:01"), 1, "view", 3.0),
    // user 2: one session
    EventStreams.Event(4, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 2, "view", 4.0),
    EventStreams.Event(5, java.sql.Timestamp.valueOf("2024-01-01 10:20:00"), 2, "purchase", 5.0))

  test("streaming hourly agg matches batch groupBy on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    mem.addData(sampleEvents: _*)
    val q = EventStreams.hourlyAgg(mem.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hourly")
      .select(date_format($"hour", "HH").as("h"), $"event_type", $"n", $"total_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("10", "view", 2L, 5.0), ("10", "click", 1L, 2.0),
      ("10", "purchase", 1L, 5.0), ("11", "view", 1L, 3.0)))
  }

  test("streaming sliding agg: each event covers windowDur/slideDur " +
    "overlapping windows, matches the batch explode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    mem.addData(sampleEvents: _*)
    val q = EventStreams.slidingAgg(mem.toDF())
      .writeStream.format("memory").queryName("sliding")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sliding")
      .select(date_format($"w_start", "HH:mm").as("w"), $"event_type", $"n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    // the views at 10:00 and 10:05 share all four windows 09:15..10:00;
    // the 11:00:01 view reaches windows 10:15..11:00
    assert(got(("10:00", "view", 2L)), got.toString)
    assert(got(("09:15", "view", 2L)), got.toString)
    assert(got(("11:00", "view", 1L)), got.toString)
    assert(got(("10:15", "purchase", 1L)))
    // every event appears in exactly 4 windows
    val totalView = spark.table("sliding")
      .where($"event_type" === "view").agg(sum($"n")).collect()(0).getLong(0)
    assert(totalView == 3L * 4L, s"view rows x 4 windows, got $totalView")
  }

  test("stream-static enrichment: broadcast dim join + complete-mode " +
    "rollup matches the batch join; misses land in the NULL group") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    mem.addData(sampleEvents: _*)
    val dim = Seq((1L, "gold"), (3L, "silver")).toDF("user_id", "tier")
    val q = EventStreams.enrichAgg(mem.toDF(), dim, "user_id", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getDouble(2))).toSet
    // user 1 (gold): events 1,2,3 -> 6.0; user 2 unmatched -> null tier
    assert(got == Set(
      (Some("gold"), 3L, 6.0), (None, 2L, 9.0)), got.toString)
  }

  test("rateLimitPerKey: at most R per key per window, slots ordered by " +
    "(ts, event_id), state persists across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    mem.addData(sampleEvents: _*)
    val q = EventStreams.rateLimitPerKey(mem.toDS(), windowMinutes = 60,
      maxPerWindow = 1L)
      .toDF().writeStream.format("memory").queryName("rate")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // u1: 10:00 admitted, 10:10 deferred, 11:00:01 admitted (new hour);
      // u2: 10:05 admitted, 10:20 deferred
      val got = spark.table("rate").select("event_id", "slot")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((1L, 1L), (3L, 1L), (4L, 1L)), got.toString)
      // a second micro-batch in an already-full window defers entirely
      mem.addData(EventStreams.Event(9,
        java.sql.Timestamp.valueOf("2024-01-01 10:40:00"), 1, "view", 1.0))
      q.processAllAvailable()
      val after = spark.table("rate").select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(after == Set(1L, 3L, 4L), after.toString)
    } finally q.stop()
    // R=2 admits the second event with slot 2
    val mem2 = MemoryStream[EventStreams.Event]
    mem2.addData(sampleEvents: _*)
    val q2 = EventStreams.rateLimitPerKey(mem2.toDS(), 60, 2L)
      .toDF().writeStream.format("memory").queryName("rate2")
      .outputMode("update").start()
    try q2.processAllAvailable() finally q2.stop()
    val got2 = spark.table("rate2").select("event_id", "slot")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == Set((1L, 1L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 2L)),
      got2.toString)
  }

  test("rateLimitPerKey: an evicted-window straggler is dropped, never " +
    "re-counted against a fresh zero — at-most-R survives re-ordered " +
    "delivery") {
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, ts: String) = EventStreams.Event(
      id, java.sql.Timestamp.valueOf(ts), 1L, "view", 1.0)
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.rateLimitPerKey(mem.toDS(), windowMinutes = 60,
      maxPerWindow = 1L, horizonWindows = 1L)
      .toDF().writeStream.format("memory").queryName("rate_evict")
      .outputMode("update").start()
    try {
      mem.addData(ev(1, "2024-01-01 10:00:00"))  // window 10:00 admitted
      q.processAllAvailable()
      mem.addData(ev(2, "2024-01-01 13:00:00"))  // newest -> 13:00; 10:00 evicted
      q.processAllAvailable()
      // straggler back in the evicted 10:00 window: its count (1 admit,
      // R=1) is forgotten — re-counting would admit a 2nd event there
      mem.addData(ev(3, "2024-01-01 10:30:00"))
      q.processAllAvailable()
      val got = spark.table("rate_evict").select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L), got.toString)
    } finally q.stop()
  }

  test("slidingAgg: non-dividing slide is refused loudly; duration " +
    "parser accepts fixed units only") {
    import org.apache.spark.sql.types._
    val eventSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val ev = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], eventSchema)
    intercept[IllegalArgumentException] {
      EventStreams.slidingAgg(ev, "1 hour", "25 minutes")
    }
    intercept[IllegalArgumentException] {
      EventStreams.slidingAgg(ev, "15 minutes", "1 hour") // slide > window
    }
    intercept[IllegalArgumentException] {
      EventStreams.durationMicros("3 months", "t")
    }
    assert(EventStreams.durationMicros("2 hours", "t") == 7200L * 1000000L)
    assert(EventStreams.durationMicros("1 second", "t") == 1000000L)
    // dividing pair still constructs a plan
    EventStreams.slidingAgg(ev, "1 hour", "20 minutes")
  }

  test("stateful sessionization agrees with the batch Sessionize operator") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    mem.addData(sampleEvents: _*)
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streaming = spark.table("sessions")
      .groupBy($"user_id").agg(max($"n_sessions").as("n_sessions"), max($"n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = Sessionize.userSessionStats(
      sampleEvents.toDF(), "user_id", "ts", "event_id", 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streaming == batch)
    assert(batch == Set((1L, 2L, 3L), (2L, 1L, 2L)))
  }

  test("file-source stream over the real events table matches batch agg") {
    // stream the driver's events parquet (nanos timestamps) end-to-end:
    // readStream -> micro conversion -> windowed agg -> memory sink
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema).parquet(dir.toString)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val q = EventStreams.hourlyAgg(stream)
      .writeStream.format("memory").queryName("file_hourly").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("file_hourly")
      .agg(sum($"n")).collect().head.getLong(0)
    val batchTotal = Tables.events(spark, "/root/testdata/sf0.001").count()
    assert(streamed == batchTotal)
  }

  test("hot key: one user, many unsorted events in one batch — exact sessions") {
    // the interval-merge sessionizer holds O(sessions) state while the
    // batch flows through, not O(events) — this feeds one user 30k events
    // (3 dense sessions, deliberately shuffled arrival order) in a single
    // micro-batch and checks exact agreement with the batch operator
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Event
    val base = java.sql.Timestamp.valueOf("2024-03-01 08:00:00").getTime
    val rnd = new scala.util.Random(42)
    val hot = (0 until 30000).map { i =>
      val session = i / 10000                      // 3 blocks
      val t = base + session * 7200000L + (i % 10000) * 50L // 50ms apart, 2h gaps
      Event(i.toLong, new java.sql.Timestamp(t), 99L, "view", 1.0)
    }
    val shuffled = rnd.shuffle(hot)
    val mem = MemoryStream[Event]
    mem.addData(shuffled: _*)
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("hotkey").outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hotkey").where($"user_id" === 99L)
      .agg(max($"n_sessions"), max($"n_events")).collect().head
    val batch = Sessionize.userSessionStats(
      shuffled.toDF(), "user_id", "ts", "event_id", 30)
      .where($"user_id" === 99L).collect().head
    assert(got.getLong(0) == batch.getLong(1), s"sessions ${got.getLong(0)}")
    assert(got.getLong(1) == batch.getLong(2), s"events ${got.getLong(1)}")
    assert(got.getLong(0) == 3L)
  }

  test("incremental delivery across micro-batches keeps session state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventStreams.Event]
    val q = EventStreams.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions2").outputMode("update").start()
    try {
      mem.addData(sampleEvents.take(2): _*) // user 1 session 1
      q.processAllAvailable()
      mem.addData(sampleEvents(2)) // 50 min later -> new session, carried state
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("sessions2").where($"user_id" === 1)
      .agg(max($"n_sessions"), max($"n_events")).collect().head
    assert(last.getLong(0) == 2L && last.getLong(1) == 3L)
  }

  test("stream-stream interval join: attribution pairs, inclusive bounds") {
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[Event]
    views.addData(
      Event(1, ts("2024-01-01 10:00:00"), 1, "view", 0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "view", 0),
      Event(3, ts("2024-01-01 10:05:00"), 2, "view", 0),
      Event(4, ts("2024-01-01 10:40:00"), 2, "view", 0), // AFTER the purchase
      Event(5, ts("2024-01-01 10:00:00"), 3, "view", 0)) // exactly horizon before
    val purchases = MemoryStream[Event]
    purchases.addData(
      Event(10, ts("2024-01-01 10:25:00"), 1, "purchase", 0),
      Event(11, ts("2024-01-01 11:30:00"), 1, "purchase", 0), // no view in window
      Event(12, ts("2024-01-01 10:20:00"), 2, "purchase", 0),
      Event(13, ts("2024-01-01 10:30:00"), 3, "purchase", 0))
    val q = EventStreams.intervalJoin(views.toDF(), purchases.toDF(),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("attrib").outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("attrib")
      .select($"effect_id", $"cause_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // purchase 10 <- views 1,2; purchase 11 <- none; purchase 12 <- view 3
    // (not 4: causes must precede); purchase 13 <- view 5 (>= boundary in)
    assert(got == Set((10L, 1L), (10L, 2L), (12L, 3L), (13L, 5L)))
  }

  test("interval join buffers state across micro-batches") {
    // causes arrive in batch 1, the matching effect only in batch 2: the
    // pair must still emit — the join's buffered (watermark-bounded)
    // state is what makes the operator correct under out-of-order arrival
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.Event
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    views.addData(Event(1, ts("2024-02-01 09:00:00"), 7, "view", 0))
    val q = EventStreams.intervalJoin(views.toDF(), purchases.toDF(),
        horizon = "30 minutes")
      .writeStream.format("memory").queryName("attrib2").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("attrib2").isEmpty) // no effect yet
      purchases.addData(Event(20, ts("2024-02-01 09:10:00"), 7, "purchase", 0))
      q.processAllAvailable()
      val got = spark.table("attrib2")
        .select($"effect_id", $"cause_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((20L, 1L)))
    } finally q.stop()
  }
}
