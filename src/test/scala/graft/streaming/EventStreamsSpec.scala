package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Drives the streaming operators through real micro-batches with
  * MemoryStream: watermark advancement, session closure by gap and by
  * timeout, and window aggregation in update mode.
  */
class EventStreamsSpec extends SparkTestBase {

  import EventStreams._

  // Offset well past epoch 0: the initial watermark is 0 and an event at
  // exactly t=0 would be dropped as late data.
  private def ts(minutes: Long): Timestamp = new Timestamp((1440 + minutes) * 60000L)

  test("sessionize closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 1800, watermark = "30 minutes")
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1: two events 10 min apart (one session), then 60 min gap -> new session.
      // Nothing emits in batch 1: the watermark (0 during processing) hasn't
      // sealed anything yet — eager emission would be wrong under disorder.
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(70), 1, "view", 3.0))
      q.processAllAvailable()
      assert(spark.table("sessions").isEmpty,
        "no session may emit before the watermark seals it")

      // watermark jumps to ts(470): session (0,10) seals first (timeout tick
      // at ts(40)), then the follow-up timeout batch seals (70,70) too —
      // processAllAvailable drains timeout-only batches as well.
      input.addData(Event(9, ts(500), 2, "click", 9.0))
      q.processAllAvailable()
      val afterBatch2 = spark.table("sessions").as[Session].collect()
      assert(afterBatch2.contains(Session(1, ts(0), ts(10), 2, 3.0)),
        s"gap-closed session expected once sealed, got ${afterBatch2.toSeq}")

      input.addData(Event(10, ts(600), 2, "click", 9.0))
      q.processAllAvailable()
      val all = spark.table("sessions").as[Session].collect()
      assert(all.exists(s => s.user_id == 1 && s.session_start == ts(70) && s.n_events == 1),
        s"timeout-closed session expected, got ${all.toSeq}")
    } finally q.stop()
  }

  test("sessionize tolerates out-of-order events within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // gap (10 min) < watermark (30 min): late events can land before the
    // current session start, and can even be > gap older than it.
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "30 minutes")
      .writeStream.format("memory").queryName("ooo_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(1, ts(60), 1, "click", 1.0)) // watermark -> ts(30)
      q.processAllAvailable()
      // Late but admissible (ts > watermark 30):
      //  - ts(58) is within the gap of ts(60) -> merges, start moves EARLIER
      //  - ts(35) is > gap older than ts(58) -> a separate, earlier session
      input.addData(
        Event(2, ts(58), 1, "click", 2.0),
        Event(3, ts(35), 1, "view", 4.0))
      q.processAllAvailable()
      // Advance the watermark well past both runs' seal points.
      input.addData(Event(9, ts(200), 2, "click", 0.0)) // watermark stays ts(30)... -> ts(170) after
      q.processAllAvailable()
      input.addData(Event(10, ts(210), 2, "click", 0.0)) // batch runs with wm ts(170)
      q.processAllAvailable()
      val u1 = spark.table("ooo_sessions").as[Session].collect()
        .filter(_.user_id == 1).sortBy(_.session_start.getTime).toSeq
      assert(u1 == Seq(
        Session(1, ts(35), ts(35), 1, 4.0),
        Session(1, ts(58), ts(60), 2, 3.0)),
        s"out-of-order fold wrong: $u1")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupEvents(input.toDS().toDF()).writeStream
      .format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(1), 1, "click", 1.0), // dup id, same batch
        Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(Event(1, ts(3), 1, "click", 1.0)) // dup id, later batch
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id").collect().map(_.getLong(0))
      assert(ids.sorted.toSeq == Seq(1L, 2L), s"got ${ids.toSeq}")
    } finally q.stop()
  }

  test("dedup state is bounded by watermark x rate, not stream length") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = dedupEvents(input.toDS().toDF(), watermark = "1 hour").writeStream
      .format("memory").queryName("dedup_bound")
      .outputMode(OutputMode.Append()).start()
    def stateRows: Long =
      q.lastProgress.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)
    try {
      val waves = 5
      val perWave = 100
      for (w <- 0 until waves) {
        // one wave = perWave distinct ids spread over an hour, fed in a
        // fixed pseudo-random permutation — FULL disorder within the
        // watermark window, every event still admissible
        val events = (0 until perWave)
          .sortBy(i => (i * 7919) % perWave)
          .map(i => Event((w * perWave + i).toLong, ts(w * 120 + i * 59 / perWave),
            1L, "click", 1.0))
        input.addData(events)
        q.processAllAvailable()
        if (w >= 2) {
          // the eviction watermark lags one wave; waves are 2h apart with a
          // 1h watermark, so state may hold the current + previous wave of
          // ids — never the full history
          assert(stateRows <= 2L * perWave + 10,
            s"wave $w: state holds $stateRows rows — watermark eviction broken")
        }
      }
      assert(spark.table("dedup_bound").count() == waves * perWave,
        "every distinct id must pass through exactly once")
    } finally q.stop()
  }

  test("sessionize state is one buffer per open user and drains to the open tail") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = sessionize(input.toDS(), gapSeconds = 600, watermark = "30 minutes")
      .writeStream.format("memory").queryName("session_bound")
      .outputMode(OutputMode.Append()).start()
    def progressed: Seq[Long] =
      q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal))
    try {
      // 10 users, 20 events each, fed out of order within the watermark
      val users = 10
      val events = for {
        u <- 0 until users; i <- 0 until 20
      } yield Event((u * 100 + i).toLong, ts(i * 2), u.toLong, "click", 1.0)
      input.addData(events.sortBy(e => (e.event_id * 7919) % 200))
      q.processAllAvailable()
      assert(progressed.max <= users + 1,
        s"state rows exceeded one-buffer-per-user: ${progressed.max}")

      // advance the watermark far past every session's seal point: all 10
      // users' buffers must seal, emit, and be REMOVED from state — only
      // the watermark-advancing user's own open tail may remain
      input.addData(Event(9999, ts(5000), 99L, "click", 0.0))
      q.processAllAvailable()
      input.addData(Event(10000, ts(5001), 99L, "click", 0.0))
      q.processAllAvailable()
      val finalRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(finalRows <= 1,
        s"sealed sessions must leave state; still holding $finalRows buffers")
      assert(spark.table("session_bound").count() >= users,
        "every user's sealed session must have been emitted")
    } finally q.stop()
  }

  test("hourly rollup aggregates tumbling event-time windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = hourlyRollup(input.toDS().toDF()).writeStream
      .format("memory").queryName("rollup")
      .outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 2, "click", 2.0),
        Event(3, ts(65), 1, "view", 4.0))
      q.processAllAvailable()
      val rows = spark.table("rollup").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(60), "view", 1L, 4.0)))
    } finally q.stop()
  }

  test("windowed top-k emits sealed windows exactly once with deterministic ranks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // append mode: a window's counts appear only when the watermark seals
    // it, so the top-k rank can never be reordered by an admitted
    // straggler after emission
    val q = windowedTopK(input.toDS().toDF(), "event_type",
        windowLength = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("topk")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(10), 2, "click", 1.0),
        Event(3, ts(15), 3, "view", 1.0),
        Event(4, ts(20), 4, "view", 1.0),
        Event(5, ts(25), 5, "error", 1.0),
        // a late-but-admitted event INSIDE hour 0 flips the tie: 3 clicks
        Event(6, ts(7), 6, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("topk").count() == 0, "unsealed window must not emit")
      // watermark passage: events far ahead seal hour 0
      input.addData(Event(9, ts(200), 9, "click", 1.0))
      q.processAllAvailable()
      val ranked = topKOfWindows(spark.table("topk"), "event_type", k = 2)
        .collect().map(r => (r.getString(1), r.getLong(2), r.getInt(3))).toSeq
      // hour 0 final counts: click 3, view 2, error 1 -> top-2
      assert(ranked.toSet == Set(("click", 3L, 1), ("view", 2L, 2)), ranked.toString)
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to views within the window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = attributeClicks(views.toDS().toDF(), clicks.toDS().toDF(),
        attributionWindow = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("attrib")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(
        Event(100, ts(0), 1, "view", 0.0),
        Event(101, ts(120), 1, "view", 0.0))
      clicks.addData(
        Event(200, ts(30), 1, "click", 0.0),  // 30 min after view 100 -> pair
        Event(201, ts(90), 1, "click", 0.0),  // 90 min after 100, before 101 -> none
        Event(202, ts(150), 2, "click", 0.0)) // other user -> none
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows == Set((100L, 200L)), s"got $rows")
      // a click in a later micro-batch still joins the buffered view 101
      clicks.addData(Event(203, ts(130), 1, "click", 0.0))
      q.processAllAvailable()
      val rows2 = spark.table("attrib")
        .select("view_id", "click_id").as[(Long, Long)].collect().toSet
      assert(rows2 == Set((100L, 200L), (101L, 203L)), s"got $rows2")
    } finally q.stop()
  }

  test("streaming funnel under full disorder equals the batch chained-minima fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = funnel(input.toDS(), quietSeconds = 600, watermark = "30 minutes")
      .writeStream.format("memory").queryName("funnels")
      .outputMode(OutputMode.Append()).start()
    try {
      def usOf(m: Long): Long = ts(m).getTime * 1000L
      // user 1 delivered OUT OF ORDER: purchase first, then click, then the
      // view that qualifies both. user 2: click BEFORE its only view ->
      // depth 1. user 3: view only.
      input.addData(
        Event(1, ts(20), 1, "purchase", 1.0),
        Event(2, ts(10), 1, "click", 1.0),
        Event(3, ts(15), 2, "click", 1.0))
      q.processAllAvailable()
      input.addData(
        Event(4, ts(5), 1, "view", 1.0),   // late: admitted, lowers view_us
        Event(5, ts(16), 2, "view", 1.0),
        Event(6, ts(12), 3, "view", 1.0))
      q.processAllAvailable()
      assert(spark.table("funnels").isEmpty,
        "no funnel may emit before the quiet gap is sealed")
      // sentinel user far ahead pushes the watermark past everyone's seal
      input.addData(Event(99, ts(600), 9, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(100, ts(1300), 9, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("funnels").as[FunnelRow].collect()
        .filter(_.user_id < 9).map(r => r.user_id ->
          ((r.view_us, r.click_us, r.purchase_us, r.funnel_depth))).toMap
      assert(got == Map(
        1L -> ((Some(usOf(5)), Some(usOf(10)), Some(usOf(20)), 3)),
        2L -> ((Some(usOf(16)), None, None, 1)),
        3L -> ((Some(usOf(12)), None, None, 1))), s"got $got")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment joins the dim per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = enrichEvents(input.toDS().toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 3, "view", 2.0)) // no dim row -> null tier
      q.processAllAvailable()
      val rows = spark.table("enriched").select("event_id", "tier")
        .as[(Long, Option[String])].collect().toSet
      assert(rows == Set((1L, Some("gold")), (2L, None)), s"got $rows")
    } finally q.stop()
  }
}
