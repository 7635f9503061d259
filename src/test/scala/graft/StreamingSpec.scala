package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.FrameVersions
import graft.streaming.{FunnelEvent, GroupedToken, GroupedValue, MeteredEvent, SessionEvent, StreamingIngest, TypedEvent, UserEvent}

/** ST1 streaming dedup-by-id ingest + ST2 windowed aggregation — micro-batch
  * tests over MemoryStream (SURVEY.md §5 item 5). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Frame `name` of the latest committed version of the store at `dir`. */
  private def latest(dir: String, name: String) =
    FrameVersions.latest(spark, dir).read(name)

  test("ST1: dropDuplicatesWithinWatermark dedups ids across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("id", "ts", "payload")
    val deduped = StreamingIngest.dedupIngest(stream, "id", "ts", "2 hours")
    val q = deduped.writeStream.format("memory")
      .queryName("st1_out").outputMode("append").start()
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "a"),
        (1L, ts("2024-01-01 10:05:00"), "a-dup"),
        (2L, ts("2024-01-01 10:10:00"), "b"))
      q.processAllAvailable()
      mem.addData(
        (2L, ts("2024-01-01 10:20:00"), "b-dup"),
        (3L, ts("2024-01-01 10:30:00"), "c"))
      q.processAllAvailable()
      val ids = spark.table("st1_out").select("id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L)) // dups within watermark dropped
    } finally q.stop()
  }

  test("ST2: windowed agg over a stream matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedEventAgg(
      stream, "ts", "event_type", "1 hour", watermark = Some("1 hour"))
    val q = agg.writeStream.format("memory")
      .queryName("st2_out").outputMode("append").start()
    try {
      mem.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:25:00"), "click", 2.0),
        (ts("2024-01-01 10:45:00"), "view", 5.0))
      q.processAllAvailable()
      // advance event time past watermark so the 10:00 window closes
      mem.addData((ts("2024-01-01 13:00:00"), "late-driver", 0.0))
      q.processAllAvailable()
      val rows = spark.table("st2_out")
        .filter(col("event_type") === "click").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n_events") == 2L)
      assert(rows(0).getAs[Double]("sum_value") == 3.0)
    } finally q.stop()
  }

  test("ST2 sliding: stream emits one row per overlapping window") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val stream = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedEventAgg(
      stream, "ts", "event_type", "1 hour", slide = Some("15 minutes"),
      watermark = Some("1 hour"))
    val q = agg.writeStream.format("memory")
      .queryName("st2c_out").outputMode("append").start()
    try {
      mem.addData((ts("2024-01-01 10:05:00"), "click", 1.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 14:00:00"), "late-driver", 0.0))
      q.processAllAvailable()
      val starts = spark.table("st2c_out")
        .filter(col("event_type") === "click")
        .select("w_start").as[Timestamp].collect().map(_.toString).sorted
      // 1h window / 15min slide → the 10:05 event closes in 4 windows
      assert(starts.toSeq == Seq(
        "2024-01-01 09:15:00.0", "2024-01-01 09:30:00.0",
        "2024-01-01 09:45:00.0", "2024-01-01 10:00:00.0"))
    } finally q.stop()
  }

  test("ST4: expiringSessions emits exactly once when the watermark " +
      "passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = StreamingIngest.expiringSessions(
      mem.toDS(), gap = "30 minutes", watermark = "10 minutes")
    val q = out.writeStream.format("memory")
      .queryName("st4_out").outputMode("append").start()
    try {
      mem.addData(
        SessionEvent(7L, ts("2024-01-01 10:00:00"), 1.0),
        SessionEvent(7L, ts("2024-01-01 10:10:00"), 2.0),
        SessionEvent(8L, ts("2024-01-01 10:05:00"), 9.0))
      q.processAllAvailable()
      // nothing emitted while sessions are open
      assert(spark.table("st4_out").isEmpty)
      // watermark jumps past 10:40 (= 10:10 + 30min gap) → both expire
      mem.addData(SessionEvent(99L, ts("2024-01-01 12:00:00"), 0.0))
      q.processAllAvailable()
      val rows = spark.table("st4_out").orderBy("user_id").collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(0) == 7L)
      assert(rows(0).getAs[Long]("n_events") == 2L)
      assert(rows(0).getAs[Double]("sum_value") == 3.0)
      assert(rows(0).getAs[Timestamp]("sess_start") == ts("2024-01-01 10:00:00"))
      assert(rows(0).getAs[Timestamp]("sess_end") == ts("2024-01-01 10:10:00"))
      assert(rows(1).getLong(0) == 8L)
      // exactly-once: replaying the watermark driver emits nothing new
      mem.addData(SessionEvent(99L, ts("2024-01-01 13:00:00"), 0.0))
      q.processAllAvailable()
      assert(spark.table("st4_out").count() >= 2) // 7,8 (+99 later maybe)
      assert(spark.table("st4_out")
        .filter($"user_id" === 7L).count() == 1)
    } finally q.stop()
  }

  test("ST5: stream-stream join matches within the range bound only") {
    implicit val sqlCtx = spark.sqlContext
    val impressions = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamingIngest.streamStreamJoin(
      impressions.toDF().toDF("ad_id", "imp_ts"),
      clicks.toDF().toDF("ad_id", "click_ts", "target"),
      key = "ad_id", leftTs = "imp_ts", rightTs = "click_ts",
      watermark = "1 hour", within = "10 minutes")
    val q = joined.writeStream.format("memory")
      .queryName("st5_out").outputMode("append").start()
    try {
      impressions.addData(
        (1L, ts("2024-01-01 10:00:00")),
        (2L, ts("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, ts("2024-01-01 10:05:00"), "in-window"),   // +5 min → match
        (2L, ts("2024-01-01 10:30:00"), "too-late"),    // +30 min → no
        (3L, ts("2024-01-01 10:05:00"), "no-impression"))
      q.processAllAvailable()
      // advance both watermarks so state for the hour flushes
      impressions.addData((99L, ts("2024-01-01 13:00:00")))
      clicks.addData((99L, ts("2024-01-01 13:00:00"), "wm"))
      q.processAllAvailable()
      val out = spark.table("st5_out")
        .filter(col("ad_id") < 99L)
        .select("ad_id", "target").as[(Long, String)].collect().toSet
      assert(out == Set((1L, "in-window")))
      // joined row carries both timestamps and drops the dup key column
      assert(spark.table("st5_out").columns.toSeq ==
        Seq("ad_id", "imp_ts", "click_ts", "target"))
    } finally q.stop()
  }

  test("topk_freq works inside a streaming aggregation (sketch state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = mem.toDF().toDF("tk")
      .agg(graft.functions.GraftFunctions.topk_freq($"tk", 2, 16).as("hh"))
    val q = agg.writeStream.format("memory")
      .queryName("hh_stream").outputMode("complete").start()
    try {
      mem.addData("x", "x", "y")
      q.processAllAvailable()
      mem.addData("x", "z", "z", "z", "z") // x→3, z→4 across batches
      q.processAllAvailable()
      val hh = spark.table("hh_stream").head()
        .getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("hh")
      assert(hh.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("z", 4L), ("x", 3L))) // counts accumulate across micro-batches
    } finally q.stop()
  }

  test("ST4: expiringSessions rejects calendar-month gaps fail-fast") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val ex = intercept[IllegalArgumentException] {
      StreamingIngest.expiringSessions(mem.toDS(), gap = "1 month")
    }
    assert(ex.getMessage.contains("month"))
    // day/hour gaps (fixed duration) still compose fine
    StreamingIngest.expiringSessions(mem.toDS(), gap = "2 days")
  }

  test("ST3: stream-stream interval join with state expiry bounds") {
    implicit val sqlCtx = spark.sqlContext
    val clickMem = MemoryStream[(Long, Long, Timestamp)]
    val buyMem = MemoryStream[(Long, Timestamp, Double)]
    val clicks = clickMem.toDF().toDF("click_id", "user_id", "cts")
      .withWatermark("cts", "2 hours")
    val buys = buyMem.toDF().toDF("user_id", "bts", "amount")
      .withWatermark("bts", "2 hours")
    val joined = graft.operators.RangeJoin.intervalJoin(
      clicks, buys, Seq("user_id"), "cts", "bts",
      org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory")
      .queryName("st3_out").outputMode("append").start()
    try {
      buyMem.addData((7L, ts("2024-01-01 09:30:00"), 5.0),
        (7L, ts("2024-01-01 08:00:00"), 1.0)) // outside the 1h lookback
      clickMem.addData((1L, 7L, ts("2024-01-01 10:00:00")))
      q.processAllAvailable()
      val rows = spark.table("st3_out")
        .select("click_id", "amount").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((1L, 5.0))) // only the in-window purchase
    } finally q.stop()
  }

  test("ST1 end-to-end: streamToStaging appends deduped batches to parquet") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-staging")
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingIngest.streamToStaging(
      mem.toDF().toDF("id", "ts", "payload"), "id", "ts", "1 hour",
      s"$tmp/dest", s"$tmp/ckpt")
    try {
      mem.addData(
        (1L, ts("2024-01-01 10:00:00"), "a"),
        (1L, ts("2024-01-01 10:01:00"), "a-dup"),
        (2L, ts("2024-01-01 10:02:00"), "b"))
      q.processAllAvailable()
      mem.addData((3L, ts("2024-01-01 10:30:00"), "c"))
      q.processAllAvailable()
      val staged = spark.read.parquet(s"$tmp/dest")
      assert(staged.select("id").as[Long].collect().sorted.toSeq ==
        Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("ST2 batch mode: same definition runs on a static frame") {
    val df = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:25:00"), "click", 2.0),
      (ts("2024-01-01 11:05:00"), "click", 4.0)).toDF("ts", "event_type", "value")
    val out = StreamingIngest.windowedEventAgg(df, "ts", "event_type", "1 hour")
      .orderBy("w_start").collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_events") == 2L)
    assert(out(1).getAs[Double]("sum_value") == 4.0)
  }

  test("stateful mapGroupsWithState: running per-user totals across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[UserEvent]
    val q = StreamingIngest.runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("stateful_out")
      .outputMode("update").start()
    try {
      mem.addData(UserEvent(1L, 10.0), UserEvent(1L, 5.0), UserEvent(2L, 1.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1L, 2.0))
      q.processAllAvailable()
      // memory sink in update mode appends updated rows; last row per key
      // is the current state
      val last = spark.table("stateful_out")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("sum_value"))).as("s"))
        .select(col("user_id"), col("s.n_events"), col("s.sum_value"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(last == Set((1L, 3L, 17.0), (2L, 1L, 1.0)))
    } finally q.stop()
  }

  test("session windows: gap-based sessionization (batch)") {
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:30:00"), 1L, 1.0), // same session (gap < 1h)
      (ts("2024-01-01 13:00:00"), 1L, 1.0), // new session
      (ts("2024-01-01 10:00:00"), 2L, 9.0)).toDF("ts", "user_id", "value")
    val out = StreamingIngest.sessionAgg(df, "ts", "user_id", "1 hour")
      .orderBy("user_id", "w_start").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 2L) // user1 first session
    assert(out(1).getAs[Long]("n_events") == 1L)
  }

  test("sessionAgg batch plan ≡ session_window, including the exact-gap " +
      "boundary (an event at exactly prev + gap MERGES: session_window's " +
      "overlap test is inclusive of the window end)") {
    // 10:00 and 11:00 are EXACTLY the 1-hour gap apart — the one input
    // where a > vs >= merge rule diverges (native session_window merges
    // them; pinned here empirically); plus a dense run, a sub-second
    // offset, and a second user.
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 11:00:00"), 1L, 2.0), // boundary: MERGES
      (ts("2024-01-01 13:30:00"), 1L, 3.0), // gap > 1h: new session
      (Timestamp.valueOf("2024-01-01 13:59:59.750"), 1L, 4.0),
      (ts("2024-01-01 10:20:00"), 2L, 9.0)).toDF("ts", "user_id", "value")
    val fast = StreamingIngest.sessionAgg(df, "ts", "user_id", "1 hour")
      .orderBy("user_id", "w_start").collect()
    val native = df
      .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("n_events"), col("sum_value"))
      .orderBy("user_id", "w_start").collect()
    assert(fast.toSeq == native.toSeq)
    assert(fast.length == 3) // u1: {10:00,11:00}, {13:30,13:59:59.750}, u2
  }

  test("sessionAgg batch plan ≡ session_window on NULL keys: null users " +
      "form one ordinary group on both paths; null timestamps are " +
      "dropped by both (SessionWindowing injects isnotnull(ts))") {
    val df = Seq[(Timestamp, java.lang.Long, Double)](
      (ts("2024-01-01 10:00:00"), null, 1.0),  // null-user session 1
      (ts("2024-01-01 10:10:00"), null, 2.0),
      (ts("2024-01-01 14:00:00"), null, 3.0),  // null-user session 2
      (null, 1L, 99.0),                        // null ts: dropped
      (null, null, 98.0),                      // null ts: dropped
      (ts("2024-01-01 10:00:00"), 1L, 5.0)).toDF("ts", "user_id", "value")
    val fast = StreamingIngest.sessionAgg(df, "ts", "user_id", "1 hour")
      .orderBy(col("user_id").asc_nulls_first, col("w_start")).collect()
    val native = df
      .groupBy(session_window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id").asc_nulls_first, col("w_start")).collect()
    assert(fast.toSeq == native.toSeq)
    assert(fast.length == 3) // null-user ×2, user-1 ×1; null-ts rows gone
    assert(fast(0).isNullAt(0) && fast(0).getAs[Long]("n_events") == 2L)
  }

  test("ST6s: streamingCusum carries exact state across triggers and " +
      "matches the batch recurrence") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MeteredEvent]
    // target 10, slack 2, threshold 10 over 10,10,22,22 (one key):
    // S⁺: max(0, −2)=0, 0, 10, 20 → crosses only at the 4th event
    val out = StreamingIngest.streamingCusum(mem.toDS(), target = 10L,
      slack = 2L, threshold = 10L)
    val q = out.writeStream.format("memory")
      .queryName("st6s_out").outputMode("append").start()
    try {
      mem.addData(
        MeteredEvent(1L, ts("2024-01-01 10:00:00"), 10L),
        MeteredEvent(1L, ts("2024-01-01 10:01:00"), 10L))
      q.processAllAvailable()
      // second trigger: state (0,0) must carry over, not reset
      mem.addData(
        MeteredEvent(1L, ts("2024-01-01 10:02:00"), 22L),
        MeteredEvent(1L, ts("2024-01-01 10:03:00"), 22L))
      q.processAllAvailable()
      val rows = spark.table("st6s_out").orderBy("ts").collect()
        .map(r => (r.getAs[Long]("sp"), r.getAs[Boolean]("is_change")))
      assert(rows.toSeq == Seq((0L, false), (0L, false), (10L, false),
        (20L, true)))
      // a second key is independent state
      mem.addData(MeteredEvent(2L, ts("2024-01-01 10:00:30"), 25L))
      q.processAllAvailable()
      val k2 = spark.table("st6s_out").filter($"user_id" === 2L).collect()
      assert(k2.length == 1 && k2.head.getAs[Long]("sp") == 13L)
      assert(k2.head.getAs[Boolean]("is_change"))
    } finally q.stop()
  }

  test("ST15s: streamingFunnel emits stage advances across triggers " +
      "with the batch operator's anchored-window contract") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[FunnelEvent]
    val out = StreamingIngest.streamingFunnel(mem.toDS(),
      Seq("view", "click", "purchase"), windowSec = 100L)
    val q = out.writeStream.format("memory")
      .queryName("st15s_out").outputMode("append").start()
    try {
      // batch 1: click before any view emits nothing; view anchors
      mem.addData(
        FunnelEvent(1L, ts("2024-01-01 10:00:00"), "click"),
        FunnelEvent(1L, ts("2024-01-01 10:00:10"), "view"))
      q.processAllAvailable()
      val b1 = spark.table("st15s_out").collect()
      assert(b1.map(r => (r.getAs[Int]("stage"))).toSeq == Seq(1))
      // batch 2: click advances (state carried); duplicate view ignored;
      // purchase at anchor+110 > 100 s window never fires
      mem.addData(
        FunnelEvent(1L, ts("2024-01-01 10:00:30"), "click"),
        FunnelEvent(1L, ts("2024-01-01 10:00:40"), "view"),
        FunnelEvent(1L, ts("2024-01-01 10:02:00"), "purchase"))
      q.processAllAvailable()
      val b2 = spark.table("st15s_out").orderBy("ts").collect()
      assert(b2.map(_.getAs[Int]("stage")).toSeq == Seq(1, 2))
      assert(b2(1).getAs[Long]("dur_sec") == 20L)
      // independent key completes inside one batch
      mem.addData(
        FunnelEvent(2L, ts("2024-01-01 11:00:00"), "view"),
        FunnelEvent(2L, ts("2024-01-01 11:00:05"), "click"),
        FunnelEvent(2L, ts("2024-01-01 11:00:09"), "purchase"))
      q.processAllAvailable()
      val k2 = spark.table("st15s_out").filter($"user_id" === 2L)
        .orderBy("ts").collect()
      assert(k2.map(_.getAs[Int]("stage")).toSeq == Seq(1, 2, 3))
      assert(k2(2).getAs[Long]("dur_sec") == 9L)
    } finally q.stop()
  }

  test("ST17s: streamingZscore ring carries across triggers and " +
      "matches the batch operator bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MeteredEvent]
    val out = StreamingIngest.streamingZscore(mem.toDS(), window = 3)
    val q = out.writeStream.format("memory")
      .queryName("st17s_out").outputMode("append").start()
    try {
      mem.addData(
        MeteredEvent(1L, ts("2024-01-01 10:00:00"), 1L),
        MeteredEvent(1L, ts("2024-01-01 10:01:00"), 2L))
      q.processAllAvailable()
      // ring [1,2] carries into the next trigger
      mem.addData(
        MeteredEvent(1L, ts("2024-01-01 10:02:00"), 3L),
        MeteredEvent(1L, ts("2024-01-01 10:03:00"), 10L))
      q.processAllAvailable()
      val rows = spark.table("st17s_out").orderBy("ts").collect()
      val batch = graft.operators.TimeSeries.rollingZscore(
        Seq((1L, 0L, 1L, 1L), (1L, 60L, 2L, 2L), (1L, 120L, 3L, 3L),
          (1L, 180L, 4L, 10L)).toDF("u", "es", "eid", "v"),
        "u", "es", "eid", "v", window = 3)
        .orderBy("es").collect()
      def opt(r: org.apache.spark.sql.Row, i: Int): Option[Double] =
        if (r.isNullAt(i)) None else Some(r.getDouble(i))
      assert(rows.map(r => opt(r, 5)).toSeq ==
        batch.map(r => opt(r, 6)).toSeq) // z column, incl. leading Nones
      assert(rows.map(r => opt(r, 3)).toSeq ==
        batch.map(r => opt(r, 4)).toSeq) // mean
    } finally q.stop()
  }

  test("ST13s: streamingHolt state carries across triggers and matches " +
      "the batch recurrence bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val out = StreamingIngest.streamingHolt(mem.toDS(), alpha = 0.5,
      beta = 0.3)
    val q = out.writeStream.format("memory")
      .queryName("st13s_out").outputMode("append").start()
    try {
      mem.addData(
        SessionEvent(1L, ts("2024-01-01 10:00:00"), 10.0),
        SessionEvent(1L, ts("2024-01-01 10:01:00"), 12.0))
      q.processAllAvailable()
      // trigger boundary here — state (l=11, b=0.3) must carry over
      mem.addData(
        SessionEvent(1L, ts("2024-01-01 10:02:00"), 14.0),
        SessionEvent(1L, ts("2024-01-01 10:03:00"), 16.0))
      q.processAllAvailable()
      val rows = spark.table("st13s_out").orderBy("ts").collect()
      // the online chain must equal the batch operator's, bit-for-bit —
      // same recurrence, same l_t re-derivation in the trend arm
      val batch = graft.operators.TimeSeries.holt(
        Seq((1L, 0L, 1L, 10.0), (1L, 60L, 2L, 12.0),
          (1L, 120L, 3L, 14.0), (1L, 180L, 4L, 16.0))
          .toDF("user_id", "es", "eid", "v"),
        "user_id", "es", "eid", "v", alpha = 0.5, beta = 0.3)
        .orderBy("es").collect()
      assert(rows.map(_.getAs[Double]("level")).toSeq ==
        batch.map(_.getDouble(4)).toSeq)
      assert(rows.map(_.getAs[Double]("trend")).toSeq ==
        batch.map(_.getDouble(5)).toSeq)
      assert(rows.head.isNullAt(5) && batch.head.isNullAt(6))
      assert(rows.drop(1).map(_.getAs[Double]("forecast")).toSeq ==
        batch.drop(1).map(_.getDouble(6)).toSeq)
      assert(rows.drop(1).map(_.getAs[Double]("resid")).toSeq ==
        batch.drop(1).map(_.getDouble(7)).toSeq)
    } finally q.stop()
  }

  test("streamingHeavyHitters: counters carry across triggers, groups " +
      "stay independent, capped state matches the MG twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GroupedToken]
    val out = StreamingIngest.streamingHeavyHitters(mem.toDS(), k = 2,
      capacity = 10)
    val q = out.writeStream.format("memory")
      .queryName("hh_out").outputMode("update").start()
    try {
      mem.addData(
        GroupedToken("en", ts("2024-01-01 10:00:00"), "a"),
        GroupedToken("en", ts("2024-01-01 10:00:01"), "a"),
        GroupedToken("en", ts("2024-01-01 10:00:02"), "b"),
        GroupedToken("de", ts("2024-01-01 10:00:03"), "x"))
      q.processAllAvailable()
      mem.addData(
        GroupedToken("en", ts("2024-01-01 10:01:00"), "b"),
        GroupedToken("en", ts("2024-01-01 10:01:01"), "b"),
        GroupedToken("en", ts("2024-01-01 10:01:02"), "c"))
      q.processAllAvailable()
      val rows = spark.table("hh_out").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      // trigger 1 emits (a 2, b 1) + de's (x 1); trigger 2 re-emits en
      // with carried counters (b 3, a 2) — capacity ≥ distinct → exact
      assert(rows == Set(("en", "a", 2L), ("en", "b", 1L),
        ("de", "x", 1L), ("en", "b", 3L)))
    } finally q.stop()
    // capped state: the stream's counters replay the MG twin exactly
    val mem2 = MemoryStream[GroupedToken]
    val out2 = StreamingIngest.streamingHeavyHitters(mem2.toDS(), k = 2,
      capacity = 2)
    val q2 = out2.writeStream.format("memory")
      .queryName("hh_cap").outputMode("update").start()
    try {
      mem2.addData(
        GroupedToken("g", ts("2024-01-01 10:00:00"), "a"),
        GroupedToken("g", ts("2024-01-01 10:00:01"), "a"),
        GroupedToken("g", ts("2024-01-01 10:00:02"), "b"))
      q2.processAllAvailable()
      mem2.addData(GroupedToken("g", ts("2024-01-01 10:01:00"), "c"))
      q2.processAllAvailable()
      val twin = new graft.functions.TopKFreq.State(2)
      Seq("a", "a", "b", "c").foreach(twin.offer(_, 1L))
      val want = twin.top(2).map { case (i, c) => ("g", i, c) }.toSet
      val last = spark.table("hh_cap").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(want.subsetOf(last)) // trigger-2 emission ≡ the MG twin
    } finally q2.stop()
    intercept[IllegalArgumentException] {
      StreamingIngest.streamingHeavyHitters(mem.toDS(), k = 3,
        capacity = 2)
    }
  }

  test("streamingQuantiles: per-trigger estimates are bit-equal to the " +
      "batch sketch over the prefix; buckets carry; non-positive drop") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GroupedValue]
    val out = StreamingIngest.streamingQuantiles(mem.toDS(),
      qs = Seq(0.5, 0.99), k = 4)
    val q = out.writeStream.format("memory")
      .queryName("hdr_out").outputMode("update").start()
    try {
      val t1 = (1L to 10L).map(v =>
        GroupedValue("g", ts("2024-01-01 10:00:00"), v))
      mem.addData(t1 :+ GroupedValue("g", ts("2024-01-01 10:00:01"), 0L)
        :+ GroupedValue("h", ts("2024-01-01 10:00:02"), 100L): _*)
      q.processAllAvailable()
      val afterT1 = spark.table("hdr_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      // batch twin over the same prefix (0 excluded, n counts positives)
      def batchTwin(vals: Seq[Long]): Map[Long, (Long, Long)] =
        graft.operators.Quantiles.hdrQuantiles(
            vals.toDF("v"), "v", Seq(0.5, 0.99), k = 4)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      val twin1 = batchTwin(1L to 10L)
      assert(afterT1(("g", 500000L)) == twin1(500000L))
      assert(afterT1(("g", 990000L)) == twin1(990000L))
      // 100 → octave 6, sub ⌊36·4/64⌋=2, lower bound 64+⌈2·64/4⌉=96
      assert(afterT1(("h", 500000L))._1 == 96L)
      // trigger 2: buckets carry — estimates move to the union prefix
      mem.addData((11L to 40L).map(v =>
        GroupedValue("g", ts("2024-01-01 10:01:00"), v)): _*)
      q.processAllAvailable()
      val afterT2 = spark.table("hdr_out").collect()
        .filter(r => r.getString(0) == "g" && r.getLong(3) == 40L)
        .map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
      val twin2 = batchTwin(1L to 40L)
      assert(afterT2(500000L) == twin2(500000L))
      assert(afterT2(990000L) == twin2(990000L))
    } finally q.stop()
    intercept[IllegalArgumentException] {
      StreamingIngest.streamingQuantiles(mem.toDS(), qs = Seq(1.5))
    }
  }

  test("streamingPsi: per-trigger PSI is bit-equal to summing batch " +
      "psiDrift's bins over the prefix; counts carry across triggers; " +
      "outliers clamp into edge bins") {
    implicit val sqlCtx = spark.sqlContext
    val nBins = 4
    val (lo, hi) = (0.0, 40.0)
    // frozen reference window: near-uniform counts over [0, 40)
    val prevVals = Seq(1L, 5L, 12L, 18L, 22L, 28L, 31L, 39L)
    val base = {
      val m = prevVals.groupBy(v => math.min(math.max(math.floor(
        (v.toDouble - lo) * nBins / (hi - lo)), 0.0), 3.0).toInt)
      (0 until nBins).map(b => m.getOrElse(b, Seq()).size.toLong)
    }
    def batchPsi(cur: Seq[Long]): Double =
      graft.operators.SnapshotDiff.psiDrift(
          prevVals.toDF("v"), cur.toDF("v"), "v", nBins, lo, hi)
        .orderBy("bin").collect()
        .foldLeft(0.0)((acc, r) => acc + r.getAs[Double]("psi"))
    val mem = MemoryStream[GroupedValue]
    val out = StreamingIngest.streamingPsi(mem.toDS(), base, nBins, lo, hi)
    val q = out.writeStream.format("memory")
      .queryName("psi_out").outputMode("update").start()
    try {
      // trigger 1: skewed batch for g (all low bins), plus an outlier
      // at 99 that must CLAMP into the top bin, not drop; group h is
      // near-baseline-shaped
      val t1g = Seq(1L, 2L, 3L, 7L, 99L)
      mem.addData(t1g.map(v => GroupedValue("g", ts("2024-01-01 10:00:00"), v))
        :+ GroupedValue("h", ts("2024-01-01 10:00:01"), 15L): _*)
      q.processAllAvailable()
      val afterT1 = spark.table("psi_out").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(afterT1(("g", 5L)) == batchPsi(t1g)) // bit-equal, incl clamp
      assert(afterT1(("h", 1L)) == batchPsi(Seq(15L)))
      // trigger 2: counts carry — PSI moves to the union prefix
      val t2g = Seq(11L, 21L, 33L, 38L)
      mem.addData(t2g.map(v =>
        GroupedValue("g", ts("2024-01-01 10:01:00"), v)): _*)
      q.processAllAvailable()
      val afterT2 = spark.table("psi_out").collect()
        .filter(r => r.getString(0) == "g" && r.getLong(1) == 9L)
        .map(r => r.getDouble(2))
      assert(afterT2.nonEmpty && afterT2.head == batchPsi(t1g ++ t2g))
      // drifted-vs-matching sanity: g's skew scores worse than h's fit
      assert(afterT1(("g", 5L)) > afterT1(("h", 1L)))
    } finally q.stop()
    intercept[IllegalArgumentException] {
      StreamingIngest.streamingPsi(mem.toDS(), Seq(1L, 2L), nBins = 4,
        lo = 0.0, hi = 1.0) // baseline length != nBins
    }
    intercept[IllegalArgumentException] {
      StreamingIngest.streamingPsi(mem.toDS(), Seq(1L, 2L), nBins = 2,
        lo = 5.0, hi = 5.0)
    }
  }

  test("ST29s: streamingTransitions pairs carry across triggers, drop " +
      "null types before pairing, and aggregate to the batch " +
      "transition matrix bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TypedEvent]
    val out = StreamingIngest.streamingTransitions(mem.toDS())
    val q = out.writeStream.format("memory")
      .queryName("st29s_out").outputMode("append").start()
    try {
      mem.addData(
        TypedEvent(1L, ts("2024-01-01 10:00:00"), 1L, "view"),
        TypedEvent(1L, ts("2024-01-01 10:01:00"), 2L, "click"),
        TypedEvent(2L, ts("2024-01-01 10:00:30"), 3L, "view"))
      q.processAllAvailable()
      // trigger boundary — user 1 holds "click", user 2 holds "view";
      // the null-typed event must not break user 2's view→click chain
      mem.addData(
        TypedEvent(1L, ts("2024-01-01 10:02:00"), 4L, "buy"),
        TypedEvent(2L, ts("2024-01-01 10:03:00"), 5L, "view"),
        TypedEvent(2L, ts("2024-01-01 10:03:30"), 6L, null),
        TypedEvent(2L, ts("2024-01-01 10:04:00"), 7L, "click"))
      q.processAllAvailable()
      val wState = org.apache.spark.sql.expressions.Window
        .partitionBy(col("from_type"))
      val streamed = spark.table("st29s_out")
        .groupBy("from_type", "to_type")
        .agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"), col("n"),
          (col("n").cast("double") /
            sum(col("n")).over(wState).cast("double")).as("p"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      // the batch operator over the SAME events (same null included)
      val batch = graft.operators.Funnel.transitionMatrix(
        Seq((1L, 0L, 1L, "view"), (1L, 60L, 2L, "click"),
          (1L, 120L, 4L, "buy"),
          (2L, 30L, 3L, "view"), (2L, 180L, 5L, "view"),
          (2L, 210L, 6L, null), (2L, 240L, 7L, "click"))
          .toDF("user_id", "es", "eid", "etype"),
        "user_id", "es", "eid", "etype")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // sanity on the expected flows: view→{view, click}, click→buy
      assert(batch.map(t => (t._1, t._2)) ==
        Set(("view", "view"), ("view", "click"), ("click", "buy")))
    } finally q.stop()
  }

  test("streamingCommunities: labels store maintained incrementally — " +
      "cold start = plain louvain, arrivals = the batch primitive " +
      "bit-for-bit, untouched communities stable across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_comm").toString
    // an add-only stream through the CDC twin
    val mem = MemoryStream[(String, Long, Long)]
    def add(es: Seq[(Long, Long)]) = es.map { case (a, b) => ("add", a, b) }
    val stream = mem.toDF().toDF("op", "start_id", "end_id")
    val q = StreamingIngest.streamingCommunitiesCdc(stream,
      s"$tmp/edges", s"$tmp/dels", s"$tmp/labels", s"$tmp/ckpt")
    try {
      // batch 1: two triangles — cold start
      val b1 = Seq((1L, 2L), (1L, 3L), (2L, 3L),
        (10L, 11L), (10L, 12L), (11L, 12L))
      mem.addData(add(b1): _*)
      q.processAllAvailable()
      def labels(): Map[Long, Long] =
        latest(s"$tmp/labels", "labels")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val l1 = labels()
      val cold = graft.operators.GraphOps.louvain(
          b1.toDF("start_id", "end_id"), rounds = 4, schedule = "gggg")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l1 == cold) // cold start IS plain gated louvain
      assert(Set(1L, 2L, 3L).map(l1).size == 1)
      assert(Set(10L, 11L, 12L).map(l1).size == 1)
      assert(l1(1L) != l1(10L))
      // batch 2: a new bridged triangle — incremental maintenance
      val b2 = Seq((20L, 21L), (20L, 22L), (21L, 22L), (3L, 20L))
      mem.addData(add(b2): _*)
      q.processAllAvailable()
      val l2 = labels()
      // twin: the batch primitive folded by hand over the same stores
      val twin = graft.operators.GraphOps.incrementalCommunities(
          (b1 ++ b2).toDF("start_id", "end_id"),
          b2.toDF("start_id", "end_id"),
          l1.toSeq.toDF("id", "community"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l2 == twin, s"stored=$l2 twin=$twin")
      // untouched community keeps its stored labels verbatim
      assert(Set(10L, 11L, 12L).forall(id => l2(id) == l1(id)))
      // the new triangle is one community of its own
      assert(Set(20L, 21L, 22L).map(l2).size == 1)
      assert(l2(20L) != l2(3L))
    } finally q.stop()
  }

  test("streamingIntervals: exact island maintenance — cold start = " +
      "full merge, arrivals absorb islands+delta-sized, every trigger " +
      "equals the full recompute bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_ivl").toString
    val mem = MemoryStream[(String, Long, Long)]
    val stream = mem.toDF().toDF("k", "s", "e")
    val q = StreamingIngest.streamingIntervals(stream,
      s"$tmp/raw", s"$tmp/islands", s"$tmp/ckpt", "k", "s", "e",
      minGap = 2L)
    try {
      def store(): Map[(String, Long), (Long, Long, Long)] =
        store2(s"$tmp/islands")
      def full(rows: Seq[(String, Long, Long)]) =
        graft.operators.Funnel.mergeIntervals(
            rows.toDF("k", "s", "e"), "k", "s", "e", minGap = 2L)
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val b1 = Seq(("a", 1L, 3L), ("a", 10L, 12L), ("b", 0L, 1L))
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(store() == full(b1)) // cold start IS the full merge
      // batch 2 bridges a's islands and opens a new key
      val b2 = Seq(("a", 5L, 9L), ("c", 7L, 8L))
      mem.addData(b2: _*)
      q.processAllAvailable()
      val s2 = store()
      assert(s2 == full(b1 ++ b2),
        "incremental trigger must equal the full recompute")
      assert(s2(("a", 1L)) == ((1L, 12L, 3L))) // counts sum exactly
    } finally q.stop()
  }

  test("streamingAnnIngest: two triggers equal two batch updateIndex " +
      "calls bit-for-bit; ledger grows per trigger; a redelivered " +
      "batch is absorbed once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def vec(i: Long) = Seq.tabulate(8)(j => ((i * 8 + j) % 13).toFloat)
    val base = (0L until 16L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    // two identical base indexes: one fed by the stream, one by the
    // batch primitive
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_ann").toString
    for (d <- Seq("s", "b")) {
      val (c, a) = Similarity.ivfIndex(base, "embedding", "vec_id", 2)
      val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
        m = 4, k = 2)
      val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb,
        m = 4)
      val ae = a.select(col("centroid_id"), col("vec_id"))
        .join(enc, Seq("vec_id"))
      Similarity.saveIndex(s"$tmp/$d", c, cb, ae, m = 4, k = 2, 0.9)
    }
    def vset(dir: String) = spark.read.parquet(s"$dir/vectors")
      .select(col("vec_id"), col("codes").cast("string"),
        col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet
    val b1 = (100L until 108L).map(i => (i, vec(i)))
    val b2 = (200L until 204L).map(i => (i, vec(i)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingIngest.streamingAnnIngest(
      mem.toDF().toDF("vec_id", "embedding"),
      s"$tmp/s", s"$tmp/ckpt", "embedding", "vec_id")
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    Similarity.updateIndex(spark, s"$tmp/b",
      b1.toDF("vec_id", "embedding"), "embedding", "vec_id").collect()
    Similarity.updateIndex(spark, s"$tmp/b",
      b2.toDF("vec_id", "embedding"), "embedding", "vec_id").collect()
    assert(vset(s"$tmp/s") == vset(s"$tmp/b"),
      "stream ≡ batch primitive bit-for-bit")
    val ledger = spark.read.parquet(s"$tmp/s/drift_log").collect()
    assert(ledger.length == 2 && ledger.map(_.getLong(0)).sum == 12L,
      "one ledger row per trigger")
    // redelivery: a fresh checkpoint restarts batch ids at 0, so the
    // same data arrives again under an already-marked batchId — the
    // marker makes it a no-op instead of a duplicate append
    val rows = vset(s"$tmp/s").size
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingIngest.streamingAnnIngest(
      mem2.toDF().toDF("vec_id", "embedding"),
      s"$tmp/s", s"$tmp/ckpt2", "embedding", "vec_id")
    try {
      mem2.addData(b1: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(vset(s"$tmp/s").size == rows, "redelivered batch absorbed once")
    assert(spark.read.parquet(s"$tmp/s/drift_log").count() == 2L)
    // the compaction threshold fires inline once fragments exceed it
    val mem3 = MemoryStream[(Long, Seq[Float])]
    val q3 = StreamingIngest.streamingAnnIngest(
      mem3.toDF().toDF("vec_id", "embedding"),
      s"$tmp/b", s"$tmp/ckpt3", "embedding", "vec_id",
      maxFragments = 1)
    try {
      mem3.addData((300L until 302L).map(i => (i, vec(i))): _*)
      q3.processAllAvailable()
    } finally q3.stop()
    val frags = new java.io.File(s"$tmp/b/vectors").listFiles()
      .filter(_.isDirectory)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val cells = spark.read.parquet(s"$tmp/b/vectors")
      .select("centroid_id").distinct().count()
    assert(frags == cells, "inline compaction collapsed to one file/cell")
  }

  test("streamingDupClustersCdc: clusters under verified-pair adds " +
      "and document takedowns — same-batch takedown beats the add, a " +
      "takedown splits exactly, re-added pairs resurrect the doc with " +
      "only its post-return pairs, live-endpoint labels equal the " +
      "full recompute, redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_dupcdc").toString
    val mem = MemoryStream[(String, Long, Long)]
    val q = StreamingIngest.streamingDupClustersCdc(
      mem.toDF().toDF("op", "id_a", "id_b"),
      s"$tmp/pairs", s"$tmp/dels", s"$tmp/clusters", s"$tmp/ckpt")
    try {
      def store(): Map[Long, Long] =
        latest(s"$tmp/clusters", "clusters").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // t1: chain + untouched pair + a same-batch add-and-takedown
      mem.addData(Seq(("add", 1L, 2L), ("add", 2L, 3L),
        ("add", 10L, 11L), ("add", 20L, 21L), ("del", 20L, 0L)): _*)
      q.processAllAvailable()
      assert(store() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
        11L -> 10L, 21L -> 21L),
        "takedown kills its pair; the surviving endpoint stays as a " +
          s"singleton; got ${store()}")
      // t2: take down the bridge doc 2; add a new pair
      mem.addData(Seq(("del", 2L, 0L), ("add", 30L, 31L)): _*)
      q.processAllAvailable()
      val s2 = store()
      assert(s2 == Map(1L -> 1L, 3L -> 3L, 10L -> 10L, 11L -> 10L,
        21L -> 21L, 30L -> 30L, 31L -> 30L), s"got $s2")
      // live-endpoint labels ≡ full recompute over the live pairs
      val live2 = Seq((10L, 11L), (30L, 31L))
      val full2 = graft.operators.Dedup.connectedComponents(
          live2.flatMap(p => Seq(p._1, p._2)).distinct.toDF("id"), "id",
          live2.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(full2.forall { case (k, v) => s2(k) == v })
      // t3: a NEW pair mentioning the taken-down doc resurrects it
      // with only the post-return pair (the old (1,2) stays dead)
      mem.addData(("add", 2L, 3L))
      q.processAllAvailable()
      assert(store() == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 10L -> 10L,
        11L -> 10L, 21L -> 21L, 30L -> 30L, 31L -> 30L),
        s"got ${store()}")
    } finally q.stop()
    // redelivery under a fresh checkpoint: batch 0 re-sends — no-op
    val before = latest(s"$tmp/clusters", "clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mem2 = MemoryStream[(String, Long, Long)]
    val q2 = StreamingIngest.streamingDupClustersCdc(
      mem2.toDF().toDF("op", "id_a", "id_b"),
      s"$tmp/pairs", s"$tmp/dels", s"$tmp/clusters", s"$tmp/ckpt2")
    try {
      mem2.addData(("add", 1L, 2L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(latest(s"$tmp/clusters", "clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == before,
      "redelivered batch absorbed once")
  }

  test("streamingAnnCdc: index under interleaved adds and deletes — " +
      "same-batch del beats add, deletes tombstone, re-add resurrects " +
      "via inline purge with no duplicate live rows, redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def vec(i: Long) = Seq.tabulate(8)(j => ((i * 8 + j) % 13).toFloat)
    val base = (0L until 16L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_anncdc").toString
    val ix = s"$tmp/ix"
    val (c, a) = Similarity.ivfIndex(base, "embedding", "vec_id", 2)
    val cb = Similarity.pqCodebooks(base, "embedding", "vec_id",
      m = 4, k = 2)
    val enc = Similarity.pqEncode(base, "embedding", "vec_id", cb, m = 4)
    Similarity.saveIndex(ix, c, cb,
      a.select(col("centroid_id"), col("vec_id")).join(enc, Seq("vec_id")),
      m = 4, k = 2, 0.9)
    def live(): Set[Long] = {
      val v = spark.read.parquet(s"$ix/vectors").select("vec_id")
      val t = new java.io.File(s"$ix/tombstones")
      (if (t.exists)
        v.join(spark.read.parquet(s"$ix/tombstones"), Seq("vec_id"),
          "left_anti")
      else v).collect().map(_.getLong(0)).toSet
    }
    val mem = MemoryStream[(String, Long, Seq[Float])]
    val q = StreamingIngest.streamingAnnCdc(
      mem.toDF().toDF("op", "vec_id", "embedding"),
      ix, s"$tmp/ckpt", "embedding", "vec_id")
    try {
      // t1: adds 100..103 plus a same-batch add+del of 200 (born dead)
      mem.addData((Seq(("add", 200L, vec(200L)), ("del", 200L, null: Seq[Float])) ++
        (100L until 104L).map(i => ("add", i, vec(i)))): _*)
      q.processAllAvailable()
      assert(live() == ((0L until 16L) ++ (100L until 104L)).toSet)
      // t2: delete 101 — tombstoned, not rewritten
      mem.addData(("del", 101L, null: Seq[Float]))
      q.processAllAvailable()
      assert(!live().contains(101L))
      // t3: re-add 101 — resurrection via inline purge; exactly ONE
      // live row afterwards (the stale pre-delete row must be gone)
      mem.addData(("add", 101L, vec(101L)))
      q.processAllAvailable()
      assert(live().contains(101L))
      assert(spark.read.parquet(s"$ix/vectors")
        .filter(col("vec_id") === 101L).count() == 1L,
        "no duplicate live rows after resurrection")
      assert(!live().contains(200L), "born-dead id stays dead")
      // t4: TWO adds of one id in a single trigger — the batch fold
      // must leave exactly one live row (id contract)
      mem.addData(("add", 300L, vec(300L)), ("add", 300L, vec(301L)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$ix/vectors")
        .filter(col("vec_id") === 300L).count() == 1L,
        "same-trigger duplicate adds fold to one live row")
      assert(live().contains(300L))
      // t5: re-add of a currently LIVE id — update semantics: the old
      // row is purged in the same trigger, never two live rows
      mem.addData(("add", 102L, vec(777L)))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$ix/vectors")
        .filter(col("vec_id") === 102L).count() == 1L,
        "live re-add replaces, not duplicates")
      assert(live().contains(102L))
    } finally q.stop()
    // redelivery under a fresh checkpoint: batch 0 re-sends — no-op
    val before = live()
    val mem2 = MemoryStream[(String, Long, Seq[Float])]
    val q2 = StreamingIngest.streamingAnnCdc(
      mem2.toDF().toDF("op", "vec_id", "embedding"),
      ix, s"$tmp/ckpt2", "embedding", "vec_id")
    try {
      mem2.addData(("add", 100L, vec(100L)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(live() == before, "redelivered batch absorbed once")
  }

  test("streamingSccCdc: exact labels under interleaved adds and " +
      "deletes — every trigger equals the full recompute over the " +
      "effective edge set; same-batch del beats add; re-add resurrects") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_cdc").toString
    val mem = MemoryStream[(String, Long, Long)]
    val q = StreamingIngest.streamingSccCdc(
      mem.toDF().toDF("op", "start_id", "end_id"),
      s"$tmp/edges", s"$tmp/dels", s"$tmp/state", s"$tmp/ckpt")
    try {
      def labels(): Map[Long, Long] =
        latest(s"$tmp/state", "labels").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def full(edges: Seq[(Long, Long)]): Map[Long, Long] =
        graft.operators.GraphOps.stronglyConnectedComponents(
            edges.toDF("start_id", "end_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch 1: adds only — 4-cycle {1..4} + 2-cycle {7,8}; plus an
      // edge 9→10 added AND deleted in the SAME batch (del must win)
      mem.addData(Seq(("add", 1L, 2L), ("add", 2L, 3L), ("add", 3L, 4L),
        ("add", 4L, 1L), ("add", 7L, 8L), ("add", 8L, 7L),
        ("add", 9L, 10L), ("del", 9L, 10L)): _*)
      q.processAllAvailable()
      val eff1 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
        (7L, 8L), (8L, 7L))
      assert(labels() == full(eff1))
      assert(!labels().contains(9L), "same-batch del beats add")
      // batch 2: mixed — delete the cycle closer (SPLIT to a chain)
      // and add a new 2-cycle in the same trigger
      mem.addData(Seq(("del", 4L, 1L), ("add", 20L, 21L),
        ("add", 21L, 20L)): _*)
      q.processAllAvailable()
      val eff2 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (8L, 7L),
        (20L, 21L), (21L, 20L))
      assert(labels() == full(eff2))
      assert(Set(1L, 2L, 3L, 4L).map(labels()).size == 4, "cycle split")
      // batch 3: re-add the deleted closer — the SCC resurrects
      mem.addData(("add", 4L, 1L))
      q.processAllAvailable()
      val eff3 = eff2 :+ ((4L, 1L))
      assert(labels() == full(eff3))
      assert(Set(1L, 2L, 3L, 4L).map(labels()).size == 1, "re-merged")
      // quotient store equals the full condensation throughout
      val fullQ = graft.operators.GraphOps.condensation(
          eff3.toDF("start_id", "end_id"),
          eff3.toDF("start_id", "end_id").transform(df =>
            graft.operators.GraphOps.stronglyConnectedComponents(df)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(latest(s"$tmp/state", "quotient").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == fullQ)
    } finally q.stop()
  }

  test("streamingCommunitiesCdc: labels under interleaved adds and " +
      "deletes — cold start on the effective set, triggers equal the " +
      "hand-folded incremental→decremental composition, same-batch " +
      "del beats add, re-add re-coalesces") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_commcdc").toString
    val mem = MemoryStream[(String, Long, Long)]
    val q = StreamingIngest.streamingCommunitiesCdc(
      mem.toDF().toDF("op", "start_id", "end_id"),
      s"$tmp/edges", s"$tmp/dels", s"$tmp/labels", s"$tmp/ckpt")
    try {
      def labels(): Map[Long, Long] =
        latest(s"$tmp/labels", "labels").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch 1: two triangles, plus an edge added AND deleted in the
      // SAME batch — cold start must run on the effective set
      mem.addData(Seq(("add", 1L, 2L), ("add", 1L, 3L), ("add", 2L, 3L),
        ("add", 10L, 11L), ("add", 10L, 12L), ("add", 11L, 12L),
        ("add", 1L, 50L), ("del", 1L, 50L)): _*)
      q.processAllAvailable()
      val eff1 = Seq((1L, 2L), (1L, 3L), (2L, 3L),
        (10L, 11L), (10L, 12L), (11L, 12L))
      val l1 = labels()
      val cold = graft.operators.GraphOps.louvain(
          eff1.toDF("start_id", "end_id"), rounds = 4,
          schedule = "gggg")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l1 == cold, "cold start IS gated louvain on the effective set")
      assert(!l1.contains(50L), "same-batch del beats add")
      // batch 2: mixed — sever {1,2,3} down to the (1,2) edge and add
      // a new triangle in the same trigger
      val adds2 = Seq((20L, 21L), (20L, 22L), (21L, 22L))
      val dels2 = Seq((1L, 3L), (2L, 3L))
      mem.addData((adds2.map(e => ("add", e._1, e._2)) ++
        dels2.map(e => ("del", e._1, e._2))): _*)
      q.processAllAvailable()
      val l2 = labels()
      // twin: the batch primitives folded by hand in the trigger's
      // order — adds land in the pre-del world, deletes rebuild from
      // final ground truth
      val effAsOfAdds = eff1 ++ adds2
      val effFinal = effAsOfAdds.filterNot(dels2.contains)
      val afterAdd = graft.operators.GraphOps.incrementalCommunities(
        effAsOfAdds.toDF("start_id", "end_id"),
        adds2.toDF("start_id", "end_id"),
        l1.toSeq.toDF("id", "community"))
      val twin = graft.operators.GraphOps.decrementalCommunities(
          effFinal.toDF("start_id", "end_id"),
          dels2.toDF("start_id", "end_id"), afterAdd)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(l2 == twin, s"stored=$l2 twin=$twin")
      // untouched community keeps stored labels; severed node 3 is a
      // singleton; the new triangle is one community
      assert(Set(10L, 11L, 12L).forall(id => l2(id) == l1(id)))
      assert(l2(3L) == 3L && l2(1L) == l2(2L) && l2(1L) != 3L)
      assert(Set(20L, 21L, 22L).map(l2).size == 1)
      // batch 3: re-add the severed edges — the community re-coalesces
      mem.addData(Seq(("add", 1L, 3L), ("add", 2L, 3L)): _*)
      q.processAllAvailable()
      val l3 = labels()
      assert(Set(1L, 2L, 3L).map(l3).size == 1, "re-add re-coalesces")
      assert(Set(10L, 11L, 12L).forall(id => l3(id) == l1(id)))
    } finally q.stop()
  }

  test("streamingIntervalsCdc: islands under interleaved adds and " +
      "deletes — every trigger equals the full merge over the live " +
      "set bit-for-bit; same-batch del beats add; re-adding a live " +
      "interval never double-counts; re-add after delete resurrects; " +
      "redelivery absorbed once") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_ivlcdc").toString
    val mem = MemoryStream[(String, String, Long, Long)]
    val q = StreamingIngest.streamingIntervalsCdc(
      mem.toDF().toDF("op", "k", "s", "e"),
      s"$tmp/raw", s"$tmp/dels", s"$tmp/islands", s"$tmp/ckpt",
      "k", "s", "e", minGap = 2L)
    try {
      def store(): Map[(String, Long), (Long, Long, Long)] =
        store2(s"$tmp/islands")
      def full(rows: Seq[(String, Long, Long)]) =
        graft.operators.Funnel.mergeIntervals(
            rows.toDF("k", "s", "e"), "k", "s", "e", minGap = 2L)
          .collect()
          .map(r => (r.getString(0), r.getLong(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      // batch 1: adds plus a same-batch add+del on key c (del wins)
      mem.addData(Seq(("add", "a", 1L, 3L), ("add", "a", 10L, 12L),
        ("add", "b", 0L, 1L), ("add", "c", 7L, 8L),
        ("del", "c", 7L, 8L)): _*)
      q.processAllAvailable()
      val live1 = Seq(("a", 1L, 3L), ("a", 10L, 12L), ("b", 0L, 1L))
      assert(store() == full(live1), "cold start on the live set")
      // batch 2: bridge a's islands, DELETE one of them, and re-add
      // the still-live b interval (must not double n_merged)
      mem.addData(Seq(("add", "a", 5L, 9L), ("del", "a", 10L, 12L),
        ("add", "b", 0L, 1L)): _*)
      q.processAllAvailable()
      val live2 = Seq(("a", 1L, 3L), ("a", 5L, 9L), ("b", 0L, 1L))
      val s2 = store()
      assert(s2 == full(live2), s"trigger ≠ full merge: $s2")
      assert(s2(("a", 1L)) == ((1L, 9L, 2L)), "deleted interval gone")
      assert(s2(("b", 1L)) == ((0L, 1L, 1L)),
        "re-added live interval must count once")
      // batch 3: resurrect the deleted interval
      mem.addData(("add", "a", 10L, 12L))
      q.processAllAvailable()
      val live3 = live2 :+ (("a", 10L, 12L))
      assert(store() == full(live3), "re-add resurrects")
      assert(store()(("a", 1L)) == ((1L, 12L, 3L)))
    } finally q.stop()
    // redelivery: a fresh checkpoint restarts batch ids — the marker
    // makes the re-sent first batch a no-op
    val before = store2(s"$tmp/islands")
    val mem2 = MemoryStream[(String, String, Long, Long)]
    val q2 = StreamingIngest.streamingIntervalsCdc(
      mem2.toDF().toDF("op", "k", "s", "e"),
      s"$tmp/raw", s"$tmp/dels", s"$tmp/islands", s"$tmp/ckpt2",
      "k", "s", "e", minGap = 2L)
    try {
      mem2.addData(Seq(("add", "a", 1L, 3L), ("add", "a", 10L, 12L),
        ("add", "b", 0L, 1L), ("add", "c", 7L, 8L),
        ("del", "c", 7L, 8L)): _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(store2(s"$tmp/islands") == before,
      "redelivered batch absorbed once")
    // mid-batch crash: the previous attempt committed the islands
    // but died before the final marker (started left behind).
    // Redelivery must see the batch's commit and skip it — the absorb
    // path would re-merge the same (already-absorbed) delta and
    // inflate n_merged.
    assert(new java.io.File(s"$tmp/raw/_batches/0").delete(),
      "fixture: drop batch 0's final marker")
    assert(new java.io.File(s"$tmp/raw/_batches/0.started").mkdirs())
    val mem3 = MemoryStream[(String, String, Long, Long)]
    val q3 = StreamingIngest.streamingIntervalsCdc(
      mem3.toDF().toDF("op", "k", "s", "e"),
      s"$tmp/raw", s"$tmp/dels", s"$tmp/islands", s"$tmp/ckpt3",
      "k", "s", "e", minGap = 2L)
    try {
      mem3.addData(Seq(("add", "a", 1L, 3L), ("add", "a", 10L, 12L),
        ("add", "b", 0L, 1L), ("add", "c", 7L, 8L),
        ("del", "c", 7L, 8L)): _*)
      q3.processAllAvailable()
    } finally q3.stop()
    assert(store2(s"$tmp/islands") == before,
      "mid-crash redelivery skips the commit instead of re-absorbing")
    assert(new java.io.File(s"$tmp/raw/_batches/0").exists &&
      !new java.io.File(s"$tmp/raw/_batches/0.started").exists,
      "final marker restored, started cleared")
  }

  private def store2(dir: String): Map[(String, Long), (Long, Long, Long)] =
    latest(dir, "islands").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("streamingNeighborAgg: feature store under interleaved adds " +
      "and deletes — every trigger equals the full recompute over the " +
      "effective edge set bit-for-bit; redelivery absorbed once") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_nagg").toString
    val f = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("id")
      .select(col("id"), col("id").as("fv"))
    val mem = MemoryStream[(String, Long, Long)]
    val q = StreamingIngest.streamingNeighborAgg(
      mem.toDF().toDF("op", "start_id", "end_id"), f,
      s"$tmp/edges", s"$tmp/dels", s"$tmp/agg", s"$tmp/ckpt",
      "id", Seq("fv"), rounds = 2)
    try {
      def store(): Map[Long, Option[Any]] =
        latest(s"$tmp/agg", "agg").collect()
          .map(r => r.getLong(0) -> Option(r.get(1))).toMap
      def full(edges: Seq[(Long, Long)]): Map[Long, Option[Any]] =
        graft.operators.GraphOps.neighborAgg(
            edges.toDF("start_id", "end_id"), f, "id", Seq("fv"),
            rounds = 2)
          .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
      // trigger 1: the chain, plus a same-batch add+del edge
      mem.addData(Seq(("add", 1L, 2L), ("add", 2L, 3L), ("add", 3L, 4L),
        ("add", 10L, 2L), ("del", 10L, 2L)): _*)
      q.processAllAvailable()
      val eff1 = Seq((1L, 2L), (2L, 3L), (3L, 4L))
      assert(store() == full(eff1), "cold start on the effective set")
      // trigger 2: mixed — resurrect (10,2), add (11,3), delete (3,4)
      mem.addData(Seq(("add", 10L, 2L), ("add", 11L, 3L),
        ("del", 3L, 4L)): _*)
      q.processAllAvailable()
      val eff2 = Seq((1L, 2L), (2L, 3L), (10L, 2L), (11L, 3L))
      assert(store() == full(eff2),
        "mixed trigger ≡ full recompute over the effective set")
    } finally q.stop()
    // redelivery under a fresh checkpoint: batch 0 re-sends — marker
    // makes it a no-op
    val before = latest(s"$tmp/agg", "agg").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val mem2 = MemoryStream[(String, Long, Long)]
    val q2 = StreamingIngest.streamingNeighborAgg(
      mem2.toDF().toDF("op", "start_id", "end_id"), f,
      s"$tmp/edges", s"$tmp/dels", s"$tmp/agg", s"$tmp/ckpt2",
      "id", Seq("fv"), rounds = 2)
    try {
      mem2.addData(("add", 1L, 2L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(latest(s"$tmp/agg", "agg").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap == before,
      "redelivered batch absorbed once")
  }

  test("streamingScc: exact maintenance — cold start = full SCC, " +
      "arrivals merge on the quotient, every trigger equals the full " +
      "recompute bit-for-bit") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_scc").toString
    // an add-only stream through the CDC twin
    val mem = MemoryStream[(String, Long, Long)]
    def add(es: Seq[(Long, Long)]) = es.map { case (a, b) => ("add", a, b) }
    val stream = mem.toDF().toDF("op", "start_id", "end_id")
    val q = StreamingIngest.streamingSccCdc(stream,
      s"$tmp/edges", s"$tmp/dels", s"$tmp/state", s"$tmp/ckpt")
    try {
      def store(frame: String): Map[Long, Long] =
        latest(s"$tmp/state", frame)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def fullScc(edges: Seq[(Long, Long)]): Map[Long, Long] =
        graft.operators.GraphOps.stronglyConnectedComponents(
            edges.toDF("start_id", "end_id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch 1: 3-cycle {1,2,3} -> path 4 -> 5, separate 2-cycle {7,8}
      val b1 = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
        (7L, 8L), (8L, 7L))
      mem.addData(add(b1): _*)
      q.processAllAvailable()
      val l1 = store("labels")
      assert(l1 == fullScc(b1)) // cold start IS the full SCC
      assert(l1(3L) == 1L && l1(4L) == 4L && l1(8L) == 7L)
      // batch 2: 5 -> 1 closes the big cycle {1,2,3,4,5}; a brand-new
      // node 9 hangs off the untouched {7,8} SCC
      val b2 = Seq((5L, 1L), (8L, 9L))
      mem.addData(add(b2): _*)
      q.processAllAvailable()
      val l2 = store("labels")
      assert(l2 == fullScc(b1 ++ b2),
        "incremental trigger must equal the full recompute")
      assert(Set(1L, 2L, 3L, 4L, 5L).map(l2).toSet == Set(1L))
      assert(l2(7L) == 7L && l2(8L) == 7L && l2(9L) == 9L)
      // quotient store equals the full condensation
      val fullQ = graft.operators.GraphOps.condensation(
          (b1 ++ b2).toDF("start_id", "end_id"),
          l2.toSeq.toDF("id", "scc"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val storedQ = latest(s"$tmp/state", "quotient")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(storedQ == fullQ, s"stored=$storedQ full=$fullQ")
    } finally q.stop()
  }

  test("streamingLexIndex: served BM25 equals the full rebuild after " +
      "every trigger; same-batch takedown beats the add; takedown " +
      "re-weights df; re-add resurrects with new text only; re-send " +
      "replaces; mid-crash redelivery skips the committed batch; " +
      "redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Relevance
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_lex").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = StreamingIngest.streamingLexIndex(
      mem.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/ix", s"$tmp/ckpt")
    def served(): Map[(Long, String), (Long, Long, Long, Double, Double)] =
      Relevance.bm25FromIndex(Relevance.loadLexIndex(spark, s"$tmp/ix"))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
            r.getDouble(6)))).toMap
    def full(docs: Seq[(Long, String)]) =
      Relevance.bm25(docs.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
            r.getDouble(6)))).toMap
    try {
      // t1: three docs plus a born-dead add+del of 9 (del beats add)
      mem.addData(("add", 1L, "a a b"), ("add", 2L, "b c"),
        ("add", 3L, "c b"), ("add", 9L, "x y"),
        ("del", 9L, null: String))
      q.processAllAvailable()
      val live1 = Seq((1L, "a a b"), (2L, "b c"), (3L, "c b"))
      assert(served() == full(live1), "cold start ≡ rebuild")
      assert(!served().keySet.exists(_._1 == 9L), "born dead")
      // t2: take down 2 — 'c' re-weights (df 2 → 1), N drops
      mem.addData(("del", 2L, null: String))
      q.processAllAvailable()
      assert(served() == full(Seq((1L, "a a b"), (3L, "c b"))),
        "maintained takedown ≡ rebuild (df and N re-weighted)")
      // t3: resurrect 2 with NEW text and replace live 1 in one batch
      mem.addData(("add", 2L, "d d"), ("add", 1L, "a b d"))
      q.processAllAvailable()
      val live3 = Seq((1L, "a b d"), (2L, "d d"), (3L, "c b"))
      assert(served() == full(live3))
      assert(served().keySet.filter(_._1 == 2L).map(_._2) == Set("d"),
        "resurrected doc carries ONLY its new content")
    } finally q.stop()
    val before = served()
    // fresh-checkpoint redelivery: batch 0 re-sends — marker no-op
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = StreamingIngest.streamingLexIndex(
      mem2.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/ix", s"$tmp/ckpt2")
    try {
      mem2.addData(("add", 1L, "a a b"), ("add", 2L, "b c"),
        ("add", 3L, "c b"), ("add", 9L, "x y"),
        ("del", 9L, null: String))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(served() == before, "redelivered batch absorbed once")
    // mid-crash redelivery: started without final marker — the
    // store's latest commit carries a later batch's tag, so the
    // redelivered batch must not be applied again
    assert(new java.io.File(s"$tmp/docs/_batches/0").delete(),
      "fixture: drop batch 0's final marker")
    assert(new java.io.File(s"$tmp/docs/_batches/0.started").mkdirs())
    val mem3 = MemoryStream[(String, Long, String)]
    val q3 = StreamingIngest.streamingLexIndex(
      mem3.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/ix", s"$tmp/ckpt3")
    try {
      mem3.addData(("add", 1L, "a a b"), ("add", 2L, "b c"),
        ("add", 3L, "c b"), ("add", 9L, "x y"),
        ("del", 9L, null: String))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(served() == before,
      "mid-crash redelivery: the latest commit's tag skips the batch")
    assert(new java.io.File(s"$tmp/docs/_batches/0").exists &&
      !new java.io.File(s"$tmp/docs/_batches/0.started").exists)
  }

  test("streamingTrigramLm: stored counts equal the full rebuild after " +
      "every trigger; same-batch takedown beats the add; takedown " +
      "subtracts from the op-store fold (no per-doc rows in the " +
      "store); re-add resurrects with new text only; re-send " +
      "replaces; mid-crash redelivery skips the committed batch; " +
      "redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Relevance
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_lm").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = StreamingIngest.streamingTrigramLm(
      mem.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/lm", s"$tmp/ckpt")
    def stored(): Map[(String, String, String), Long] =
      Relevance.loadTrigramLm(spark, s"$tmp/lm").model.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          r.getLong(3)).toMap
    def registry(): Set[Long] =
      Relevance.loadTrigramLm(spark, s"$tmp/lm").docs.collect()
        .map(_.getLong(0)).toSet
    def full(docs: Seq[(Long, String)]): Map[(String, String, String), Long] =
      Relevance.buildTrigramLm(docs.toDF("doc_id", "text"),
          "doc_id", "text")
        .model.collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
          r.getLong(3)).toMap
    try {
      // t1: three docs plus a born-dead add+del of 9 (del beats add)
      mem.addData(("add", 1L, "a b c d"), ("add", 2L, "b c d"),
        ("add", 3L, "x y z x y"), ("add", 9L, "p q r"),
        ("del", 9L, null: String))
      q.processAllAvailable()
      val live1 = Seq((1L, "a b c d"), (2L, "b c d"),
        (3L, "x y z x y"))
      assert(stored() == full(live1), "cold start ≡ rebuild")
      assert(!stored().contains(("p", "q", "r")), "born dead")
      assert(registry() == Set(1L, 2L, 3L))
      // t2: take down 2 — its 'b c d' subtracts FROM THE OP-STORE
      // FOLD (the del op carries no text) and the count drops 2 → 1
      mem.addData(("del", 2L, null: String))
      q.processAllAvailable()
      assert(stored() == full(Seq((1L, "a b c d"),
        (3L, "x y z x y"))), "maintained takedown ≡ rebuild")
      assert(stored()(("b", "c", "d")) == 1L)
      assert(registry() == Set(1L, 3L))
      // t3: resurrect 2 with NEW text and replace live 1 in one batch
      // (the replace ships 1's old text from the prev-batch fold)
      mem.addData(("add", 2L, "c d e f"), ("add", 1L, "a b c"))
      q.processAllAvailable()
      val live3 = Seq((1L, "a b c"), (2L, "c d e f"),
        (3L, "x y z x y"))
      assert(stored() == full(live3))
      assert(!stored().contains(("b", "c", "d")),
        "replaced doc's old trigrams leave; resurrected doc carries " +
          "only its new content")
      // served KN perplexity off the store ≡ the one-shot build
      val servedPpl = Relevance.knTrigramFromModel(
        Relevance.loadTrigramLm(spark, s"$tmp/lm").model,
        live3.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      val oneShot = Relevance.knTrigramPerplexity(
        live3.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(servedPpl == oneShot)
    } finally q.stop()
    val before = stored()
    // fresh-checkpoint redelivery: batch 0 re-sends — marker no-op
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = StreamingIngest.streamingTrigramLm(
      mem2.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/lm", s"$tmp/ckpt2")
    try {
      mem2.addData(("add", 1L, "a b c d"), ("add", 2L, "b c d"),
        ("add", 3L, "x y z x y"), ("add", 9L, "p q r"),
        ("del", 9L, null: String))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(stored() == before, "redelivered batch absorbed once")
    // mid-crash redelivery: started without final marker — the
    // store's latest commit carries a later batch's tag, so the
    // redelivered batch must not be applied again
    assert(new java.io.File(s"$tmp/docs/_batches/0").delete(),
      "fixture: drop batch 0's final marker")
    assert(new java.io.File(s"$tmp/docs/_batches/0.started").mkdirs())
    val mem3 = MemoryStream[(String, Long, String)]
    val q3 = StreamingIngest.streamingTrigramLm(
      mem3.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/lm", s"$tmp/ckpt3")
    try {
      mem3.addData(("add", 1L, "a b c d"), ("add", 2L, "b c d"),
        ("add", 3L, "x y z x y"), ("add", 9L, "p q r"),
        ("del", 9L, null: String))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(stored() == before,
      "mid-crash redelivery: the latest commit's tag skips the batch")
    assert(new java.io.File(s"$tmp/docs/_batches/0").exists &&
      !new java.io.File(s"$tmp/docs/_batches/0.started").exists)
  }

  test("streamingWordStore: stored word counts equal the full rebuild " +
      "after every trigger; same-batch takedown beats the add; " +
      "takedown subtracts from the op-store fold; re-send replaces; " +
      "BPE merges re-induced off the store equal fresh training; " +
      "mid-crash redelivery skips the committed batch; redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Tokenizer
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_words").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = StreamingIngest.streamingWordStore(
      mem.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt")
    def stored(): Map[String, Long] =
      Tokenizer.loadWordStore(spark, s"$tmp/store").words.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    def full(docs: Seq[(Long, String)]): Map[String, Long] =
      Tokenizer.buildWordStore(docs.toDF("doc_id", "text"),
          "doc_id", "text")
        .words.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      // t1: three docs plus a born-dead add+del (del beats add)
      mem.addData(("add", 1L, "ab ab cd"), ("add", 2L, "ab ef"),
        ("add", 3L, "cd cd gh"), ("add", 9L, "zz zz"),
        ("del", 9L, null: String))
      q.processAllAvailable()
      val live1 = Seq((1L, "ab ab cd"), (2L, "ab ef"),
        (3L, "cd cd gh"))
      assert(stored() == full(live1), "cold start ≡ rebuild")
      assert(!stored().contains("zz"), "born dead")
      // t2: take down 3 — counts subtract from the op-store fold
      mem.addData(("del", 3L, null: String))
      q.processAllAvailable()
      assert(stored() == full(Seq((1L, "ab ab cd"), (2L, "ab ef"))))
      assert(stored()("cd") == 1L && !stored().contains("gh"))
      // t3: resurrect 3 with NEW text and replace live 2 in one batch
      mem.addData(("add", 3L, "ij ij"), ("add", 2L, "kl"))
      q.processAllAvailable()
      val live3 = Seq((1L, "ab ab cd"), (2L, "kl"), (3L, "ij ij"))
      assert(stored() == full(live3))
      assert(!stored().contains("ef"), "replaced doc's words leave")
      // merges re-induced off the maintained store ≡ fresh training
      val st = Tokenizer.loadWordStore(spark, s"$tmp/store")
      val (mm, _) = Tokenizer.bpeMergesFromWords(st.words, 3)
      val (fm, _) = Tokenizer.bpeMerges(live3.toDF("doc_id", "text"),
        "text", 3)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.orderBy("merge_rank").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getLong(3))).toSeq
      assert(rows(mm) == rows(fm))
    } finally q.stop()
    val before = stored()
    // fresh-checkpoint redelivery: marker no-op
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = StreamingIngest.streamingWordStore(
      mem2.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt2")
    try {
      mem2.addData(("add", 1L, "ab ab cd"), ("add", 2L, "ab ef"),
        ("add", 3L, "cd cd gh"), ("add", 9L, "zz zz"),
        ("del", 9L, null: String))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(stored() == before, "redelivered batch absorbed once")
    // mid-crash redelivery: started without final marker — a later
    // batch's tag is committed, so the store must stay as it is
    assert(new java.io.File(s"$tmp/docs/_batches/0").delete())
    assert(new java.io.File(s"$tmp/docs/_batches/0.started").mkdirs())
    val mem3 = MemoryStream[(String, Long, String)]
    val q3 = StreamingIngest.streamingWordStore(
      mem3.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt3")
    try {
      mem3.addData(("add", 1L, "ab ab cd"), ("add", 2L, "ab ef"),
        ("add", 3L, "cd cd gh"), ("add", 9L, "zz zz"),
        ("del", 9L, null: String))
      q3.processAllAvailable()
    } finally q3.stop()
    assert(stored() == before,
      "mid-crash redelivery: the latest commit's tag skips the batch")
    assert(new java.io.File(s"$tmp/docs/_batches/0").exists &&
      !new java.io.File(s"$tmp/docs/_batches/0.started").exists)
  }

  test("streamingPcaMoments: stored moments equal the one-shot " +
      "rebuild over the fold after every trigger; takedown subtracts; " +
      "re-send replaces; cascade refit off the store equals the " +
      "rescan fit; redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def h(a: Long, b: Long): Float =
      (((a * 2654435761L + b * 40503L) % 1000L + 1000L) % 1000L) /
        1000.0f - 0.5f
    def vec(i: Long): Seq[Float] = (0 until 8).map(d => h(i, d.toLong))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_moments").toString
    val mem = MemoryStream[(String, Long, Seq[Float])]
    val q = StreamingIngest.streamingPcaMoments(
      mem.toDF().toDF("op", "vec_id", "embedding"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt")
    def stored(): Map[(Long, Long), (Long, Long, Long, Long)] =
      Similarity.loadMomentsStore(spark, s"$tmp/store").moments.collect()
        .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j")) ->
          ((r.getAs[Long]("n"), r.getAs[Long]("s_i"),
            r.getAs[Long]("s_j"), r.getAs[Long]("sp")))).toMap
    def fullOf(rows: Seq[(Long, Seq[Float])])
        : Map[(Long, Long), (Long, Long, Long, Long)] =
      Similarity.pcaMoments(rows.toDF("vec_id", "embedding"),
          "embedding")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5)))).toMap
    try {
      mem.addData(("add", 1L, vec(1L)), ("add", 2L, vec(2L)),
        ("add", 3L, vec(3L)))
      q.processAllAvailable()
      assert(stored() == fullOf(Seq(1L, 2L, 3L).map(i => (i, vec(i)))),
        "cold start ≡ rebuild")
      // takedown subtracts exactly
      mem.addData(("del", 3L, null: Seq[Float]))
      q.processAllAvailable()
      assert(stored() == fullOf(Seq(1L, 2L).map(i => (i, vec(i)))))
      // re-send REPLACES: id 2 returns with DIFFERENT content
      mem.addData(("add", 2L, vec(200L)), ("add", 4L, vec(4L)))
      q.processAllAvailable()
      val eff = Seq((1L, vec(1L)), (2L, vec(200L)), (4L, vec(4L)))
      assert(stored() == fullOf(eff))
      // the point of the store: refit WITHOUT a rescan, bit-identical
      val st = Similarity.loadMomentsStore(spark, s"$tmp/store")
      val offs = Seq(4, 2, 1)
      val a = Similarity.givensCascadeFitFromMoments(st.moments, offs)
      val b = Similarity.givensCascadeFit(
        eff.toDF("vec_id", "embedding"), "embedding", offs)
      assert(a.zip(b).forall { case (x, y) =>
        x.offset == y.offset && x.cos.sameElements(y.cos) &&
          x.sin.sameElements(y.sin) })
    } finally q.stop()
    val before = stored()
    // fresh-checkpoint redelivery: marker no-op
    val mem2 = MemoryStream[(String, Long, Seq[Float])]
    val q2 = StreamingIngest.streamingPcaMoments(
      mem2.toDF().toDF("op", "vec_id", "embedding"),
      s"$tmp/docs", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt2")
    try {
      mem2.addData(("add", 1L, vec(1L)), ("add", 2L, vec(2L)),
        ("add", 3L, vec(3L)))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(stored() == before, "redelivered batch absorbed once")
  }

  test("streamingSigIndexDedup: every trigger's verdicts equal the " +
      "batch incrementalDedupFromIndex fold in batch order; kept " +
      "docs roll the index forward (a later copy of a kept doc dies " +
      "against it); store sigs ≡ fresh signing of the live corpus; " +
      "redelivery no-op; mid-crash redelivery self-heals") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_sigix").toString
    val base = Seq((0L, "aa bb cc dd"), (1L, "ee ff gg hh"),
      (2L, "ii jj kk ll"))
    base.toDF("doc_id", "text").write.parquet(s"$tmp/docs/batch=-1")
    def sigsOf(rows: Seq[(Long, String)]) =
      Dedup.minhashSignaturesPortable(rows.toDF("doc_id", "text"),
        "text", "doc_id", 16, 1)
    Dedup.saveSigIndex(Dedup.SigIndex(sigsOf(base), 16, 1, 42L,
      portable = true), s"$tmp/store")
    val mem = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingSigIndexDedup(
      mem.toDF().toDF("doc_id", "text"),
      s"$tmp/docs", s"$tmp/store", s"$tmp/rep", s"$tmp/ckpt",
      threshold = 0.5, bands = 8)
    def report(batch: Long): Set[(Long, Long, String)] =
      spark.read.parquet(s"$tmp/rep/batch=$batch").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"),
          r.getAs[String]("reason"))).toSet
    def expected(corpus: Seq[(Long, String)],
        batch: Seq[(Long, String)]): Set[(Long, Long, String)] =
      Dedup.incrementalDedupFromIndex(
        Dedup.SigIndex(sigsOf(corpus), 16, 1, 42L, portable = true),
        corpus.toDF("doc_id", "text"), batch.toDF("doc_id", "text"),
        "text", "doc_id", threshold = 0.5, bands = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getString(2))).toSet
    def storedSigs(): Set[Seq[Long]] =
      Dedup.loadSigIndex(spark, s"$tmp/store").sigs.collect()
        .map(r => r.schema.fieldNames.sorted.toSeq
          .map(f => r.getAs[Long](f))).toSet
    def freshSigs(rows: Seq[(Long, String)]): Set[Seq[Long]] =
      sigsOf(rows).collect()
        .map(r => r.schema.fieldNames.sorted.toSeq
          .map(f => r.getAs[Long](f))).toSet
    // t1: 10 duplicates corpus doc 0; 11 is novel; 12 duplicates 11
    // in the SAME batch (all-new chain: 11 keeps, 12 dies to it)
    val b1 = Seq((10L, "aa bb cc dd"), (11L, "mm nn oo pp"),
      (12L, "mm nn oo pp"))
    val live1 = base :+ (11L -> "mm nn oo pp")
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(report(0L) == expected(base, b1),
        "t1 verdicts ≡ the batch-mode increment")
      assert(report(0L) == Set((10L, 0L, "corpus"), (11L, 11L, "kept"),
        (12L, 11L, "batch")))
      assert(storedSigs() == freshSigs(live1),
        "t1 roll-forward ≡ fresh signing of the live corpus")
      val afterT1 = storedSigs()
      // fresh-checkpoint redelivery of batch 0: final marker → no-op
      val mem2 = MemoryStream[(Long, String)]
      val q2 = StreamingIngest.streamingSigIndexDedup(
        mem2.toDF().toDF("doc_id", "text"),
        s"$tmp/docs", s"$tmp/store", s"$tmp/rep", s"$tmp/ckpt2",
        threshold = 0.5, bands = 8)
      try {
        mem2.addData(b1: _*)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(storedSigs() == afterT1 && report(0L) == expected(base, b1),
        "redelivered batch absorbed once")
      // mid-crash redelivery: started-without-final, but the store's
      // latest commit carries batch 0's tag — the batch is not
      // applied again, same end state
      assert(new java.io.File(s"$tmp/store/_batches/0").delete())
      assert(
        new java.io.File(s"$tmp/store/_batches/0.started").mkdirs())
      val mem3 = MemoryStream[(Long, String)]
      val q3 = StreamingIngest.streamingSigIndexDedup(
        mem3.toDF().toDF("doc_id", "text"),
        s"$tmp/docs", s"$tmp/store", s"$tmp/rep", s"$tmp/ckpt3",
        threshold = 0.5, bands = 8)
      try {
        mem3.addData(b1: _*)
        q3.processAllAvailable()
      } finally q3.stop()
      assert(storedSigs() == afterT1 && report(0L) == expected(base, b1),
        "mid-crash redelivery self-heals to the same state")
      assert(new java.io.File(s"$tmp/store/_batches/0").exists &&
        !new java.io.File(s"$tmp/store/_batches/0.started").exists)
      // t2 (on the ORIGINAL query — batch ids stay monotonic): 20
      // duplicates the doc t1 KEPT — only the roll-forward can catch
      // it; 21 is novel
      val b2 = Seq((20L, "mm nn oo pp"), (21L, "qq rr ss tt"))
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(report(1L) == expected(live1, b2),
        "t2 verdicts ≡ the batch-mode fold off the rolled index")
      assert(report(1L) == Set((20L, 11L, "corpus"),
        (21L, 21L, "kept")))
      assert(storedSigs() == freshSigs(live1 :+
        (21L -> "qq rr ss tt")))
    } finally q.stop()
  }

  test("streamingPageRank: every trigger's committed scores equal " +
      "the batch warm-start fold in batch order (to summation-order " +
      "ulps — PageRank sums doubles, the q_g3 ROUND caveat); the " +
      "store's own batch tags make redelivery a no-op; a partial " +
      "uncommitted score version is invisible and the next trigger " +
      "overwrites it idempotently") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.GraphOps
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_pr").toString
    val baseEdges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 0L))
    baseEdges.toDF("start_id", "end_id")
      .write.parquet(s"$tmp/edges/batch=-1")
    val seed = GraphOps.pageRank(
      baseEdges.toDF("start_id", "end_id"), damping = 0.5,
      iterations = 20).localCheckpoint()
    GraphOps.saveRankStore(spark, s"$tmp/scores", seed, 0.5): Unit
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // double sums are partition-order-sensitive at one ulp (the
    // reason the q_g3-family oracles ROUND(8)) — same node set,
    // per-node agreement to 1e-12
    def close(a: Map[Long, Double], b: Map[Long, Double]) =
      a.keySet == b.keySet &&
        a.forall { case (k, v) => math.abs(v - b(k)) < 1e-12 }
    def served() = GraphOps.loadRankStore(spark, s"$tmp/scores")
    def fold(edges: Seq[(Long, Long)],
        prev: org.apache.spark.sql.DataFrame) =
      GraphOps.incrementalPageRank(edges.toDF("start_id", "end_id"),
        prev, damping = 0.5, iterations = 2).localCheckpoint()
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingIngest.streamingPageRank(
      mem.toDF().toDF("start_id", "end_id"),
      s"$tmp/edges", s"$tmp/scores", s"$tmp/ckpt", warmRounds = 2)
    val b1 = Seq((3L, 1L), (4L, 0L))
    val b2 = Seq((5L, 4L))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      val exp1 = fold(baseEdges ++ b1, seed)
      assert(close(m(served().scores), m(exp1)),
        "t1 ≡ the batch warm start over the grown graph")
      assert(served().tag == "0" && served().version == 2L)
      mem.addData(b2: _*)
      q.processAllAvailable()
      val exp2 = fold(baseEdges ++ b1 ++ b2, exp1)
      assert(close(m(served().scores), m(exp2)),
        "t2 ≡ the fold off t1's committed scores")
      // fresh-checkpoint redelivery: both batches' tags are already
      // committed — no new version, scores untouched
      val mem2 = MemoryStream[(Long, Long)]
      val q2 = StreamingIngest.streamingPageRank(
        mem2.toDF().toDF("start_id", "end_id"),
        s"$tmp/edges", s"$tmp/scores", s"$tmp/ckpt2", warmRounds = 2)
      try {
        mem2.addData(b1: _*)
        q2.processAllAvailable()
        mem2.addData(b2: _*)
        q2.processAllAvailable()
      } finally q2.stop()
      assert(served().version == 3L && close(m(served().scores), m(exp2)),
        "redelivered batches absorbed once")
      // a crashed publisher left a PARTIAL uncommitted v4: invisible
      // to loads, and the next real trigger rewrites it idempotently
      Seq((99L, 123.456)).toDF("id", "rank")
        .write.parquet(s"$tmp/scores/_v4/scores")
      assert(served().version == 3L &&
        !m(served().scores).contains(99L),
        "an uncommitted version is invisible")
      val b3 = Seq((6L, 5L))
      mem.addData(b3: _*)
      q.processAllAvailable()
      val exp3 = fold(baseEdges ++ b1 ++ b2 ++ b3, exp2)
      assert(served().version == 4L && served().tag == "2" &&
        close(m(served().scores), m(exp3)),
        "the next trigger overwrites the partial v4 and commits it")
      assert(!m(served().scores).contains(99L))
    } finally q.stop()
  }

  test("streamingAnnSearch: every trigger's results equal the batch " +
      "query against the index AS OF the trigger; maintenance between " +
      "triggers is visible; redelivery rewrites idempotently with " +
      "snapshot semantics") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def h(a: Long, b: Long): Float =
      (((a * 2654435761L + b * 40503L) % 1000L + 1000L) % 1000L) /
        1000.0f - 0.5f
    def vec(i: Long): Seq[Float] = (0 until 8).map(d => h(i, d.toLong))
    val corpus = (100L until 140L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_annq").toString
    val ixDir = s"$tmp/ix"
    val (cents, assigned) = Similarity.ivfIndex(corpus, "embedding",
      "vec_id", k = 4)
    val cb = Similarity.pqCodebooks(corpus, "embedding", "vec_id",
      m = 2, k = 4)
    val enc = Similarity.pqEncode(corpus, "embedding", "vec_id", cb,
      m = 2)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    Similarity.saveIndex(ixDir, cents, cb, ae, m = 2, k = 4)
    val queries = (0L until 3L).map(i => (i, vec(i + 500L)))
    def expect(): Set[(Long, Long, Int)] = {
      val ix = Similarity.loadIndex(spark, ixDir)
      Similarity.ivfPqTopK(queries.toDF("vec_id", "embedding"),
          ix.centroids, ix.codebooks, ix.assignedEncoded,
          "embedding", "vec_id", m = ix.m, k = ix.k, topK = 3,
          nProbe = 2)
        .collect().map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("vec_id"), r.getAs[Int]("rank"))).toSet
    }
    def got(b: Long): Set[(Long, Long, Int)] =
      spark.read.parquet(s"$tmp/out/batch=$b").collect()
        .map(r => (r.getAs[Long]("query_id"),
          r.getAs[Long]("vec_id"), r.getAs[Int]("rank"))).toSet
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingIngest.streamingAnnSearch(
      mem.toDF().toDF("vec_id", "embedding"), ixDir, s"$tmp/out",
      s"$tmp/ckpt", topK = 3, nProbe = 2)
    try {
      mem.addData(queries: _*)
      q.processAllAvailable()
      val exp1 = expect()
      assert(got(0L) == exp1, "trigger 1 ≡ batch query on the base index")
      // maintenance between triggers: absorb EXACT TWINS of the query
      // vectors — ids BELOW the corpus range so the ADC tie-break
      // (adist, vec_id) can't hide them behind code-identical
      // neighbors — they must surface as hits on the next trigger
      Similarity.updateIndex(spark, ixDir,
          (10L until 13L).map(i => (i, vec(i - 10L + 500L)))
            .toDF("vec_id", "embedding"), "embedding", "vec_id")
        .write.format("noop").mode("overwrite").save()
      mem.addData(queries: _*)
      q.processAllAvailable()
      val exp2 = expect()
      assert(got(1L) == exp2,
        "trigger 2 ≡ batch query on the UPDATED index")
      assert((10L until 13L).forall(id => got(1L).exists(_._2 == id)),
        "the absorbed query twins serve as hits")
      assert(got(1L) != got(0L))
    } finally q.stop()
    // fresh-checkpoint redelivery: batch 0 re-runs read-only and
    // overwrites its own directory against the CURRENT index state —
    // the documented snapshot semantics (search holds no marker tree)
    val mem2 = MemoryStream[(Long, Seq[Float])]
    val q2 = StreamingIngest.streamingAnnSearch(
      mem2.toDF().toDF("vec_id", "embedding"), ixDir, s"$tmp/out",
      s"$tmp/ckpt2", topK = 3, nProbe = 2)
    try {
      mem2.addData(queries: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(got(0L) == expect(), "redelivery re-serves the snapshot")
  }

  test("streamingAnnSearch over a ROTATED index: raw query batches " +
      "are brought into the index basis per trigger (the serveTopK " +
      "path), bit-equal to the batch serving row") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity
    def h(a: Long, b: Long): Float =
      (((a * 2654435761L + b * 40503L) % 1000L + 1000L) % 1000L) /
        1000.0f - 0.5f
    def vec(i: Long): Seq[Float] = (0 until 8).map(d => h(i, d.toLong))
    val corpus = (100L until 140L).map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_annrot").toString
    val ixDir = s"$tmp/ix"
    val stages = Similarity.givensCascadeFit(corpus, "embedding",
      Seq(4, 2, 1))
    val rot = Similarity.givensCascadeRotate(corpus, "vec_id",
      "embedding", stages).localCheckpoint()
    val (cents, assigned) = Similarity.ivfIndex(rot, "embedding",
      "vec_id", k = 4)
    val cb = Similarity.pqCodebooks(rot, "embedding", "vec_id",
      m = 2, k = 4)
    val enc = Similarity.pqEncode(rot, "embedding", "vec_id", cb, m = 2)
    val ae = assigned.select(col("centroid_id"), col("vec_id"))
      .join(enc, Seq("vec_id"))
    Similarity.saveIndex(ixDir, cents, cb, ae, m = 2, k = 4,
      rotation = stages)
    val queries = (0L until 3L).map(i => (i, vec(i + 500L)))
    def rows(d2: org.apache.spark.sql.DataFrame) =
      d2.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("vec_id"), r.getAs[Int]("rank"))).toSet
    val expected = rows(Similarity.serveTopK(spark, ixDir,
      queries.toDF("vec_id", "embedding"), "embedding", "vec_id",
      topK = 3, nProbe = 2))
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingIngest.streamingAnnSearch(
      mem.toDF().toDF("vec_id", "embedding"), ixDir, s"$tmp/out",
      s"$tmp/ckpt", topK = 3, nProbe = 2)
    try {
      mem.addData(queries: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = rows(spark.read.parquet(s"$tmp/out/batch=0"))
    assert(got == expected,
      "the stream must serve rotated queries exactly like the batch row")
    // and the basis actually matters on this corpus: serving the raw
    // batch against the rotated quantizers is a DIFFERENT answer
    val ix = Similarity.loadIndex(spark, ixDir)
    val rawServe = rows(Similarity.ivfPqTopK(
      queries.toDF("vec_id", "embedding"), ix.centroids, ix.codebooks,
      ix.assignedEncoded, "embedding", "vec_id", m = 2, k = 4,
      topK = 3, nProbe = 2))
    assert(rawServe != expected,
      "fixture must make the basis mismatch observable")
  }

  test("streamingLayout: store rows equal the op-store fold after " +
      "every trigger and the pruned scan stays lossless; same-batch " +
      "del beats add; re-send replaces (old bucket row leaves); " +
      "mid-crash redelivery rebuilds without duplicate appends; " +
      "redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Layout
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_layout").toString
    val mem = MemoryStream[(String, Long, Long, Long)]
    val q = StreamingIngest.streamingLayout(
      mem.toDF().toDF("op", "id", "x", "y"),
      s"$tmp/adds", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt",
      Seq("x", "y"), bits = 4, nBuckets = 16,
      bloomCols = Seq("id"))
    def stored(): Map[Long, (Long, Long)] =
      Layout.readLayoutVersion(spark, s"$tmp/store")
        .select("id", "x", "y").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      // t1: a 4×4 block + an outlier + a born-dead add+del of 99
      val block = for { x <- 0L until 4L; y <- 0L until 4L }
        yield ("add", y * 16L + x, x, y)
      mem.addData(block :+ ("add", 300L, 15L, 15L) :+
        ("add", 99L, 7L, 7L) :+ ("del", 99L, 0L, 0L): _*)
      q.processAllAvailable()
      assert(stored().size == 17 && !stored().contains(99L),
        "born dead; cold build carries the fold")
      assert(stored()(300L) == ((15L, 15L)))
      // pruned scan lossless over the cold-built store
      val box1 = Layout.prunedScan(spark, s"$tmp/store",
        Seq(("x", 0L, 3L), ("y", 0L, 3L))).count()
      assert(box1 == 16L)
      // t2: take down two cells, re-send one id with NEW coordinates
      mem.addData(("del", 0L, 0L, 0L), ("del", 17L, 0L, 0L),
        ("add", 2L, 9L, 9L))
      q.processAllAvailable()
      val s2 = stored()
      assert(s2.size == 15 && !s2.contains(0L) && !s2.contains(17L))
      assert(s2(2L) == ((9L, 9L)),
        "re-sent id carries only its new coordinates")
      val box2 = Layout.prunedScan(spark, s"$tmp/store",
        Seq(("x", 0L, 3L), ("y", 0L, 3L)))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(!box2.contains(2L) && box2.size == 13,
        "the moved row left its old bucket's box")
      // the twin carries the membership sketch: a point lookup on the
      // non-clustered id serves through delete+append maintenance
      assert(Layout.prunedScan(spark, s"$tmp/store", Nil,
          points = Seq(("id", 2L)))
        .select("x", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((9L, 9L)))
      assert(Layout.prunedScan(spark, s"$tmp/store", Nil,
        points = Seq(("id", 17L))).isEmpty)
    } finally q.stop()
    val before = stored()
    // fresh-checkpoint redelivery: marker no-op
    val mem2 = MemoryStream[(String, Long, Long, Long)]
    val q2 = StreamingIngest.streamingLayout(
      mem2.toDF().toDF("op", "id", "x", "y"),
      s"$tmp/adds", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt2",
      Seq("x", "y"), bits = 4, nBuckets = 16,
      bloomCols = Seq("id"))
    try {
      mem2.addData(("add", 0L, 0L, 0L), ("add", 300L, 15L, 15L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(stored() == before, "redelivered batch absorbed once")
    // mid-crash redelivery: re-running the append would duplicate rows
    // (the redelivered stream restarts at batch 0, so the marker
    // surgery targets batch 0, an OLDER batch than the store's latest
    // tagged commit) — the twin must find the later tag and leave the
    // store unchanged
    val vBefore = Layout.currentLayoutVersion(spark, s"$tmp/store")
    assert(new java.io.File(s"$tmp/adds/_batches/0").delete())
    assert(new java.io.File(s"$tmp/adds/_batches/0.started").mkdirs())
    val mem3 = MemoryStream[(String, Long, Long, Long)]
    val q3 = StreamingIngest.streamingLayout(
      mem3.toDF().toDF("op", "id", "x", "y"),
      s"$tmp/adds", s"$tmp/dels", s"$tmp/store", s"$tmp/ckpt3",
      Seq("x", "y"), bits = 4, nBuckets = 16,
      bloomCols = Seq("id"))
    try {
      mem3.addData((for { x <- 0L until 4L; y <- 0L until 4L }
        yield ("add", y * 16L + x, x, y)) :+
        ("add", 300L, 15L, 15L) :+ ("add", 99L, 7L, 7L) :+
        ("del", 99L, 0L, 0L): _*)
      q3.processAllAvailable()
    } finally q3.stop()
    assert(stored() == before &&
      Layout.currentLayoutVersion(spark, s"$tmp/store") == vBefore,
      "mid-crash redelivery of an applied batch: no duplicates, no commit")
    assert(new java.io.File(s"$tmp/adds/_batches/0").exists &&
      !new java.io.File(s"$tmp/adds/_batches/0.started").exists)
    // the cold build's sketch survived maintenance — point lookups
    // still serve
    assert(Layout.prunedScan(spark, s"$tmp/store", Nil,
        points = Seq(("id", 300L)))
      .select("x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((15L, 15L)))
  }

  test("streamingLayoutVersioned: every trigger publishes a committed " +
      "tagged snapshot whose rows equal the fold; a version pinned " +
      "BEFORE the stream survives every trigger; same-batch del " +
      "beats add; re-send replaces; mid-crash redelivery re-runs " +
      "mechanically (no rebuild) to the same content and clears " +
      "planted residue; redelivery no-op") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Layout
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_vlayout").toString
    val store = s"$tmp/store"
    val baseRows = for { x <- 0L until 4L; y <- 0L until 4L }
      yield (y * 16L + x, x, y)
    Layout.writeLayout(
      Layout.zOrderLayout(baseRows.toDF("id", "x", "y"),
        Seq("x", "y"), 4, 16), store, Seq("x", "y"), "z", 4, 16)
    val baseSet = baseRows.toSet
    def rowsAt(v: Long = -1L): Set[(Long, Long, Long)] =
      Layout.readLayoutVersion(spark, store, v)
        .select("id", "x", "y").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mem = MemoryStream[(String, Long, Long, Long)]
    val q = StreamingIngest.streamingLayout(
      mem.toDF().toDF("op", "id", "x", "y"),
      s"$tmp/adds", s"$tmp/dels", store, s"$tmp/ckpt",
      Seq("x", "y"), bits = 4, nBuckets = 16)
    val t1 = Seq(("add", 300L, 15L, 15L), ("add", 99L, 7L, 7L),
      ("del", 99L, 0L, 0L), ("del", 0L, 0L, 0L), ("add", 2L, 9L, 9L))
    val afterT1 = baseSet.filterNot(t => t._1 == 0L || t._1 == 2L) +
      ((300L, 15L, 15L)) + ((2L, 9L, 9L))
    val t2 = Seq(("del", 300L, 0L, 0L))
    val afterT2 = afterT1 - ((300L, 15L, 15L))
    try {
      mem.addData(t1: _*)
      q.processAllAvailable()
      assert(rowsAt() == afterT1,
        "t1 ≡ the fold: born-dead 99 never lands, 0 leaves, 2 moves")
      assert(Layout.snapshots(spark, store).exists(_.tag == "0"),
        "the snapshot chain records the batch")
      assert(rowsAt(1L) == baseSet,
        "the pre-stream pin is untouched by the trigger")
      mem.addData(t2: _*)
      q.processAllAvailable()
      assert(rowsAt() == afterT2 && rowsAt(1L) == baseSet)
      // per-file pruned scan over the maintained current snapshot
      assert(Layout.prunedScan(spark, store,
          Seq(("x", 0L, 3L), ("y", 0L, 3L)))
        .select("id").collect().map(_.getLong(0)).toSet ==
        afterT2.filter(t => t._2 <= 3 && t._3 <= 3).map(_._1))
    } finally q.stop()
    val vBefore = Layout.currentLayoutVersion(spark, store)
    // fresh-checkpoint redelivery: markers no-op, no new version
    val mem2 = MemoryStream[(String, Long, Long, Long)]
    val q2 = StreamingIngest.streamingLayout(
      mem2.toDF().toDF("op", "id", "x", "y"),
      s"$tmp/adds", s"$tmp/dels", store, s"$tmp/ckpt2",
      Seq("x", "y"), bits = 4, nBuckets = 16)
    try {
      mem2.addData(t1: _*)
      q2.processAllAvailable()
      mem2.addData(t2: _*)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(rowsAt() == afterT2 &&
      Layout.currentLayoutVersion(spark, store) == vBefore,
      "redelivered batches absorbed once")
    // mid-crash redelivery of the LATEST batch (the real crash
    // model: batches after an in-flight one never started): lose
    // batch 1's final marker, plant uncommitted residue, redeliver —
    // the trigger recovers the residue and re-runs mechanically
    assert(new java.io.File(s"$tmp/adds/_batches/1").delete())
    assert(new java.io.File(s"$tmp/adds/_batches/1.started").mkdirs())
    val fs = new org.apache.hadoop.fs.Path(store).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(
      s"$store/_versions/_v${vBefore + 1}/_claim"), true).close()
    val mem3 = MemoryStream[(String, Long, Long, Long)]
    val q3 = StreamingIngest.streamingLayout(
      mem3.toDF().toDF("op", "id", "x", "y"),
      s"$tmp/adds", s"$tmp/dels", store, s"$tmp/ckpt3",
      Seq("x", "y"), bits = 4, nBuckets = 16)
    try {
      mem3.addData(t1: _*)
      q3.processAllAvailable()
      mem3.addData(t2: _*)
      q3.processAllAvailable()
    } finally q3.stop()
    assert(rowsAt() == afterT2 && rowsAt(1L) == baseSet,
      "mid-crash re-run reaches the same content, pin intact")
    // dels-only batch 1's erasure was its last commit and carries its
    // tag, so the redelivery finds it committed and publishes nothing
    assert(Layout.snapshots(spark, store).last.tag == "1")
    assert(Layout.currentLayoutVersion(spark, store) == vBefore,
      "the redelivered dels-only batch published nothing")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$store/_versions/_v${vBefore + 1}/_claim")),
      "planted uncommitted residue was recovered")
    assert(new java.io.File(s"$tmp/adds/_batches/1").exists &&
      !new java.io.File(s"$tmp/adds/_batches/1.started").exists)
    // content-level idempotence of the delete→append pair (the
    // between-commits crash window): replaying a committed change
    // set reproduces the same live rows
    val adds = Seq((2L, 9L, 9L)).toDF("id", "x", "y")
    Layout.deleteFromLayout(spark, store,
      Seq(2L).toDF("id"), "id"): Unit
    Layout.appendToLayout(spark, store, adds,
      Seq("x", "y"), 4, 16): Unit
    assert(rowsAt() == afterT2, "delete→append replay is content-idempotent")
  }

  test("streamingDecontaminate: every trigger equals the batch scrub " +
      "bit-for-bit; a new eval set re-scrubs exactly the touched docs " +
      "from ORIGINAL text; doc re-send replaces; same-trigger dup " +
      "folds; redelivery absorbed once") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Decontaminate
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stream_decon").toString
    val mem = MemoryStream[(String, Long, String)]
    val q = StreamingIngest.streamingDecontaminate(
      mem.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/bench", s"$tmp/clean", s"$tmp/ckpt",
      shingleSize = 3)
    def store(): Map[Long, (String, Long, Long)] =
      latest(s"$tmp/clean", "clean").collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    def full(docs: Seq[(Long, String)], bench: Seq[(Long, String)]) =
      Decontaminate.scrubContaminatedSpans(
          docs.toDF("doc_id", "text"), "text", "doc_id",
          bench.toDF("doc_id", "text"), "text", 3)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    val d1 = "intro alpha beta gamma outro end"
    val d2 = "totally clean text here now"
    val d3 = "delta epsilon zeta plus filler words"
    val d4a = "dup one two three aa"
    val d4b = "dup one two three bb"
    val d1v2 = "delta epsilon zeta fresh tail words"
    val bx = "alpha beta gamma"
    val by = "delta epsilon zeta"
    try {
      // t1: two docs + the first eval set — doc 1 loses the quoted span
      mem.addData(("doc", 1L, d1), ("doc", 2L, d2), ("bench", 100L, bx))
      q.processAllAvailable()
      val s1 = store()
      assert(s1 == full(Seq((1L, d1), (2L, d2)), Seq((100L, bx))))
      assert(s1(1L)._3 == 3L && s1(2L)._3 == 0L)
      // t2: a doc containing a span the bench does NOT yet know, plus
      // a same-trigger duplicate id (folds to ONE deterministic row)
      mem.addData(("doc", 3L, d3), ("doc", 4L, d4a), ("doc", 4L, d4b))
      q.processAllAvailable()
      val d4 = if (d4a > d4b) d4a else d4b
      val live2 = Seq((1L, d1), (2L, d2), (3L, d3), (4L, d4))
      assert(store() == full(live2, Seq((100L, bx))))
      assert(store()(3L)._3 == 0L, "unknown span survives for now")
      // t3: the new eval set arrives — ONLY doc 3 is touched and it
      // re-scrubs from its original text; 1/2/4 stay verbatim
      mem.addData(("bench", 101L, by))
      q.processAllAvailable()
      val s3 = store()
      assert(s3 == full(live2, Seq((100L, bx), (101L, by))))
      assert(s3(3L)._3 == 3L, "the new span is scrubbed on re-scrub")
      assert(s3(1L) == s1(1L) && s3(2L) == s1(2L), "untouched verbatim")
      // t4: re-send doc 1 with NEW text containing the second span —
      // replace semantics, scrubbed against the accumulated bench
      mem.addData(("doc", 1L, d1v2))
      q.processAllAvailable()
      val live4 = Seq((1L, d1v2), (2L, d2), (3L, d3), (4L, d4))
      val s4 = store()
      assert(s4 == full(live4, Seq((100L, bx), (101L, by))))
      assert(s4(1L)._3 == 3L && !s4(1L)._1.contains("delta"))
    } finally q.stop()
    // redelivery under a fresh checkpoint: batch 0 re-sends — marker
    // makes it a no-op
    val before = store()
    val mem2 = MemoryStream[(String, Long, String)]
    val q2 = StreamingIngest.streamingDecontaminate(
      mem2.toDF().toDF("op", "doc_id", "text"),
      s"$tmp/docs", s"$tmp/bench", s"$tmp/clean", s"$tmp/ckpt2",
      shingleSize = 3)
    try {
      mem2.addData(("doc", 1L, d1), ("doc", 2L, d2), ("bench", 100L, bx))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(store() == before, "redelivered batch absorbed once")
  }
}
