package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import graft.operators.HeavyHitters
import graft.streaming.EventStreams._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Streaming Misra-Gries heavy hitters (r14 VERDICT #5): candidates per
  * sealed window equal the batch pigeonhole guarantee under FULL
  * event-time disorder — no theta-hitter ever missing, at most k
  * candidates per window — and the exact verification pass reproduces
  * batch `HeavyHitters.heavyHitters` row-for-row on each sealed window.
  */
class StreamingHeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(minutes: Long): Timestamp =
    new Timestamp((1440 + minutes) * 60000L)

  // window A (epoch hour 24): 50 events — "hot"×15 (30%), "warm"×11
  // (22%), 24 singletons; theta = 0.2 ⇒ hitters = {hot, warm}.
  // window B (epoch hour 25): 40 events — "big"×20 (50%), 20 singletons.
  // Key universe (46 distinct in A) ≫ k = 10 counters.
  private val winA: Seq[(Long, String)] = {
    val keys = Seq.fill(15)("hot") ++ Seq.fill(11)("warm") ++
      (0 until 24).map(i => s"u$i")
    val shuffled = keys.indices.sortBy(i => (i * 7919) % keys.size).map(keys)
    shuffled.zipWithIndex.map { case (k, i) => (i * 59L / 50L, k) }
  }
  private val winB: Seq[(Long, String)] = {
    val keys = Seq.fill(20)("big") ++ (0 until 20).map(i => s"v$i")
    val shuffled = keys.indices.sortBy(i => (i * 104729) % keys.size).map(keys)
    shuffled.zipWithIndex.map { case (k, i) => (60L + i * 59L / 40L, k) }
  }

  private def event(id: Long, minute: Long, key: String): Event =
    Event(id, ts(minute), 1L, key, 1.0)

  test("candidates: bounded per window, no theta-hitter missing, exact pass ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val theta = 0.2
    val input = MemoryStream[Event]
    val q = heavyHitterCandidates(input.toDS().toDF(), "event_type",
        theta = theta, slack = 2, windowSeconds = 3600L,
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("hitters")
      .outputMode(OutputMode.Append()).start()
    try {
      val all = (winA ++ winB).zipWithIndex
        .map { case ((m, k), i) => event(i.toLong, m, k) }
      // batch 1: window A's first 45 minutes + window B's head, fully
      // shuffled — max ts 70 min puts the watermark at 40
      val (b2aTail, b1a) = all.partition(e =>
        e.ts.getTime < ts(60).getTime && e.ts.getTime >= ts(45).getTime)
      val (b1, b2b) = b1a.partition(_.ts.getTime <= ts(70).getTime)
      input.addData(b1.sortBy(_.event_id * 31 % 17))
      q.processAllAvailable()
      assert(spark.table("hitters").isEmpty,
        "nothing may emit before the watermark seals a window")
      // batch 2: window A's tail (ts >= 45 min — still admissible at
      // wm = 40) + the rest of window B, shuffled: cross-batch disorder
      input.addData((b2aTail ++ b2b).sortBy(_.event_id * 13 % 11))
      q.processAllAvailable()
      // sentinel far in the future: watermark passes both window ends
      input.addData(event(9999, 400, "zz"))
      q.processAllAvailable()

      val cands = spark.table("hitters").as[HitterCandidate].collect()
      val byWin = cands.groupBy(_.window_start)
      assert(byWin.keySet == Set(ts(0), ts(60)), s"windows: ${byWin.keySet}")
      // state/output bound: at most k = ceil(slack/theta) = 10 per window
      byWin.foreach { case (w, cs) =>
        assert(cs.length <= 10, s"window $w emitted ${cs.length} > k candidates")
      }
      // exact row totals and lower-bound counters
      assert(byWin(ts(0)).head.n_total == 50 && byWin(ts(60)).head.n_total == 40)
      assert(byWin(ts(0)).find(_.key == "hot").exists(_.mg_count <= 15))
      // NO FALSE NEGATIVES: every batch theta-hitter is a candidate
      assert(Set("hot", "warm").subsetOf(byWin(ts(0)).map(_.key).toSet))
      assert(byWin(ts(60)).map(_.key).contains("big"))

      // pass 2: exact verification over the sealed rows reproduces the
      // batch operator row-for-row, window by window
      val sealedRows = all.toDF()
      val verified = verifiedHitters(
        spark.table("hitters").toDF()
          .withColumnRenamed("mg_count", "dropped"),
        sealedRows, "event_type", theta, windowSeconds = 3600L)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val expected = Seq(ts(0) -> winA, ts(60) -> winB).flatMap {
        case (w, rows) =>
          val df = rows.map { case (m, k) => (m, k) }.toDF("m", "event_type")
          HeavyHitters.heavyHitters(df, "event_type", theta).collect()
            .map(r => (w, r.getString(0), r.getLong(1), r.getDouble(2)))
      }.toSet
      assert(verified == expected, s"\nverified: $verified\nbatch:    $expected")
    } finally q.stop()
  }

  test("misra-gries summary is order-insensitive in its guarantees (permutation sweep)") {
    implicit val sqlCtx = spark.sqlContext
    // 3 deterministic permutations of one skewed window; the candidate
    // SET may vary but the hitters must always be present and the
    // counter bound must always hold
    for (seed <- Seq(3, 101, 977)) {
      val input = MemoryStream[Event]
      val q = heavyHitterCandidates(input.toDS().toDF(), "event_type",
          theta = 0.25, slack = 2, windowSeconds = 3600L,
          watermark = "10 minutes")
        .writeStream.format("memory").queryName(s"hh_$seed")
        .outputMode(OutputMode.Append()).start()
      try {
        val keys = Seq.fill(9)("dom") ++ (0 until 21).map(i => s"x$i")
        val perm = keys.indices.sortBy(i => (i * seed) % keys.size).map(keys)
        input.addData(perm.zipWithIndex.map { case (k, i) =>
          event(i.toLong, i * 59L / 30L, k)
        })
        q.processAllAvailable()
        input.addData(event(999, 300, "zz"))
        q.processAllAvailable()
        val cands = spark.table(s"hh_$seed").as[HitterCandidate].collect()
          .filter(_.window_start == ts(0))
        assert(cands.length <= 8, s"seed $seed: ${cands.length} > k = 8")
        assert(cands.exists(_.key == "dom"),
          s"seed $seed lost the 30% hitter: ${cands.map(_.key).toSeq}")
        assert(cands.head.n_total == 30)
      } finally q.stop()
    }
  }
}
