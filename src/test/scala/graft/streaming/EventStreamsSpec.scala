package graft.streaming

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Drives the streaming operators through real micro-batches with
  * MemoryStream: watermark advancement, session closure by gap and by
  * timeout, and the stream-stream interval join.
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
}
