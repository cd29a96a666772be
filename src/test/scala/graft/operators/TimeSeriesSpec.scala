package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** As-of join semantics against a hand-computed fixture plus plan-shape
  * and scale invariants (one shuffle, no range/cross join).
  */
class TimeSeriesSpec extends SparkTestBase {
  import spark.implicits._

  // trades: (key, t, trade_id) — the left side
  private def trades = Seq(
    ("a", 10L, 1L), ("a", 20L, 2L), ("a", 25L, 3L),
    ("b", 5L, 4L), ("b", 50L, 5L),
    ("c", 7L, 6L) // key with no quotes at all
  ).toDF("sym", "t", "trade_id")
    .withColumn("t", timestamp_micros(col("t")))

  // quotes: (key, t, px) — unique (key, t) by construction
  private def quotes = Seq(
    ("a", 10L, 1.0), ("a", 15L, 2.0), ("a", 30L, 3.0),
    ("b", 6L, 9.0)
  ).toDF("sym", "t", "px")
    .withColumn("t", timestamp_micros(col("t")))

  private def run(tolUs: Option[Long] = None) =
    TimeSeries.asOfJoin(trades, quotes, "sym", "t", "t", Seq("px"),
        toleranceUs = tolUs)
      .select(col("trade_id"), expr("unix_micros(asof_ts)").as("qt"),
        col("asof_px"))
      .orderBy("trade_id")
      .collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toSeq

  test("as-of join picks the latest quote at-or-before each trade") {
    assert(run() == Seq(
      (1L, Some(10L), Some(1.0)), // tie: quote AT the trade time matches
      (2L, Some(15L), Some(2.0)), // latest of {10, 15}
      (3L, Some(15L), Some(2.0)), // quote at 30 is in the future
      (4L, None, None),           // b's first quote is later
      (5L, Some(6L), Some(9.0)),
      (6L, None, None)            // key never quoted
    ))
  }

  test("tolerance nulls out stale matches but keeps fresh ones") {
    // trade 5 is 44us after quote 6 — stale at tolerance 10us; trade 3
    // sits exactly AT the tolerance (25 - 15 = 10) and stays (inclusive).
    assert(run(tolUs = Some(10L)) == Seq(
      (1L, Some(10L), Some(1.0)),
      (2L, Some(15L), Some(2.0)),
      (3L, Some(15L), Some(2.0)),
      (4L, None, None),
      (5L, None, None),
      (6L, None, None)
    ))
  }

  test("plan shuffles once on the key and contains no cartesian/range join") {
    val plan = TimeSeries.asOfJoin(trades, quotes, "sym", "t", "t", Seq("px"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"as-of join must not plan a product join:\n$plan")
    // one Exchange for the union's window partitioning; the final
    // orderBy in callers adds its own range exchange, not counted here
    val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n$plan")
  }

  test("every left row survives exactly once (left-join cardinality)") {
    val out = TimeSeries.asOfJoin(trades, quotes, "sym", "t", "t", Seq("px"))
    assert(out.count() == trades.count())
    assert(out.select("trade_id").distinct().count() == trades.count())
  }

  test("scd2: half-open intervals chain per key, one current row, tie-broken versions") {
    import spark.implicits._
    val changes = Seq(
      ("k1", 10L, 100L, "a"),
      ("k1", 20L, 101L, "b"),
      ("k1", 20L, 102L, "c"), // same ts: o_orderkey-style tiebreak orders it
      ("k1", 30L, 103L, "d"),
      ("k2", 5L, 200L, "x")
    ).toDF("key", "ts", "change_id", "attr")
    val got = TimeSeries.scd2(changes, "key", "ts", Seq("change_id"))
      .orderBy("key", "version")
      .select("key", "version", "ts", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getInt(5)))
    assert(got.toSeq == Seq(
      ("k1", 1, 10L, 10L, Some(20L), 0),
      ("k1", 2, 20L, 20L, Some(20L), 0), // tie: next version starts at same ts
      ("k1", 3, 20L, 20L, Some(30L), 0),
      ("k1", 4, 30L, 30L, None, 1),
      ("k2", 1, 5L, 5L, None, 1)
    ), got.mkString(", "))
    // exactly one current row per key
    val cur = TimeSeries.scd2(changes, "key", "ts", Seq("change_id"))
      .filter(col("is_current") === 1).groupBy("key").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("k1" -> 1L, "k2" -> 1L))
  }

  test("intervalIslands: overlap merge, touch semantics, per-key isolation") {
    import spark.implicits._
    val iv = Seq(
      // user 1: [0,10) ∪ [5,20) merge; [20,30) touches end=20 -> SAME
      // island (start 20 is NOT > running max 20); [40,50) separate
      (1L, 0L, 10L), (1L, 5L, 20L), (1L, 20L, 30L), (1L, 40L, 50L),
      // user 2: nested interval [2,3) inside [0,10)
      (2L, 0L, 10L), (2L, 2L, 3L)
    ).toDF("user_id", "s_us", "e_us")
    val got = TimeSeries.intervalIslands(iv, "user_id", "s_us", "e_us")
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // user 1: 4 intervals, 2 islands ([0,30) + [40,50)) covering 30+10
    // user 2: 2 intervals, 1 island [0,10) covering 10
    assert(got == Seq((1L, 4L, 2L, 40L), (2L, 2L, 1L, 10L)), got.toString)
    val again = TimeSeries.intervalIslands(iv.repartition(5), "user_id",
      "s_us", "e_us").orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(again == got)
  }

  test("eventSequences: chronological order, tie-break, truncation, partitioning invariance") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(s: Int) = new java.sql.Timestamp(t0.getTime + s * 1000L)
    val events = Seq(
      // user 1: out-of-arrival-order events; 20 is a same-ts tie with 21
      (21L, ts(5), 1L, "b"),
      (10L, ts(1), 1L, "a"),
      (20L, ts(5), 1L, "c"),  // event_id 20 < 21 -> c before b
      (30L, ts(9), 1L, "d"),
      // user 2: 5 events, truncation to 3 must keep the earliest 3
      (41L, ts(1), 2L, "v"), (42L, ts(2), 2L, "w"), (43L, ts(3), 2L, "x"),
      (44L, ts(4), 2L, "y"), (45L, ts(5), 2L, "z")
    ).toDF("event_id", "ts", "user_id", "event_type")
    val got = TimeSeries.eventSequences(events, "user_id", "ts", "event_id",
        "event_type", maxLen = 3)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq((1L, 4L, "a>c>b"), (2L, 5L, "v>w>x")), got.toString)
    // adversarial partitioning cannot change the sequences
    val again = TimeSeries.eventSequences(events.repartition(7), "user_id",
        "ts", "event_id", "event_type", maxLen = 3)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(again == got)
  }
}
