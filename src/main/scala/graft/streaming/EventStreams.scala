package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming operators over the events schema (the streaming
  * surface the reference defers to "future improvements" — README.md:101 —
  * built Spark-first here): gap-based sessionization, a stream-stream
  * interval join and windowed heavy hitters.
  *
  * The transforms take the streaming DataFrame from any source
  * (readStream on files/kafka, or MemoryStream in tests) — source and sink
  * are the caller's concern, keeping the operators testable and reusable in
  * batch mode (same code path runs on a batch DataFrame).
  */
/** Per-group session buffer: raw (event-time millis, value) pairs awaiting
  * watermark passage, stored as parallel sequences. Buffering raw events —
  * rather than a folded (start, end) accumulator — is what makes the
  * operator correct under event-time disorder: the watermark admits late
  * events anywhere inside the open window, including BEFORE the current
  * session start, so no fold is final until the watermark has passed it.
  * State is bounded by (watermark delay × per-user event rate), the same
  * bound Spark's built-in session_window aggregation carries.
  * Top-level: Spark's state encoder generates bytecode that needs public
  * accessors, so this cannot be a private nested class.
  */
case class SessionBuffer(ts: Seq[Long], value: Seq[Double])

/** Per-window Misra-Gries summary: parallel (key, counter) sequences plus
  * the window's exact row total. At most k = ceil(slack/theta) counters
  * per window — the state bound the frequent-items shape needs (ranking
  * aggregations bound rows per window, not the KEY UNIVERSE per window).
  * Top-level for the state encoder, like [[SessionBuffer]].
  */
case class MgSummary(keys: Seq[String], counts: Seq[Long], n: Long)

object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int, total_value: Double)

  /** Gap-based sessionization: a session closes when `gapSeconds` pass with
    * no event from the user (event time). A session is emitted only once
    * the WATERMARK has passed `session_end + gap` — the point after which
    * no admissible event can extend it, merge into it, or split it.
    *
    * Emitting eagerly on a later same-user event (the naive fold) is wrong
    * under disorder: the watermark explicitly admits up to `watermark` of
    * lateness, so an event older than the current session start — or
    * falling inside a gap that eagerly closed a session — can still arrive.
    * Raw events are therefore buffered in state and folded on every
    * invocation; only the prefix of sessions that the watermark has sealed
    * is emitted, and the unsealed tail of events stays buffered.
    *
    * State per user is the unsealed event tail — bounded by the watermark
    * delay × per-user event rate; unbounded users scale horizontally
    * because state is partitioned by group key.
    */
  def sessionize(events: Dataset[Event], gapSeconds: Long,
                 watermark: String = "2 hours"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapSeconds * 1000L

    // Fold time-sorted (ts, value) pairs into contiguous gap-delimited runs.
    def fold(uid: Long, evs: Array[(Long, Double)]): Seq[(Session, Array[(Long, Double)])] = {
      val out = Seq.newBuilder[(Session, Array[(Long, Double)])]
      var runStart = 0
      var i = 1
      while (i <= evs.length) {
        if (i == evs.length || evs(i)._1 - evs(i - 1)._1 > gapMs) {
          val run = evs.slice(runStart, i)
          out += ((Session(uid, new Timestamp(run.head._1), new Timestamp(run.last._1),
            run.length, run.iterator.map(_._2).sum), run))
          runStart = i
        }
        i += 1
      }
      out.result()
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionBuffer, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[Event], state: GroupState[SessionBuffer]) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption
            .map(b => b.ts.iterator.zip(b.value.iterator).toArray)
            .getOrElse(Array.empty[(Long, Double)])
          val all = (prior ++ batch.map(e => (e.ts.getTime, e.value)))
            .sortBy(_._1)
          if (all.isEmpty) {
            if (state.hasTimedOut) state.remove()
            Iterator.empty
          } else {
            // A run is sealed once wm >= end + gap: every admissible future
            // event has ts > wm >= end + gap, so it can neither extend the
            // run nor start anything at or before it.
            val (finished, open) = fold(uid, all).partition {
              case (s, _) => s.session_end.getTime + gapMs <= wm
            }
            if (open.isEmpty) state.remove()
            else {
              val tail = open.iterator.flatMap(_._2).toArray
              state.update(SessionBuffer(tail.map(_._1).toSeq, tail.map(_._2).toSeq))
              // Wake when the EARLIEST open run becomes sealable — later
              // runs re-arm on that invocation. (Timeout timestamps must
              // sit strictly beyond the current watermark.)
              val earliestSeal = open.head._1.session_end.getTime + gapMs
              state.setTimeoutTimestamp(math.max(earliestSeal, wm + 1))
            }
            finished.iterator.map(_._1)
          }
      }
  }

  /** Stream-stream interval join: pair every click with each view by the
    * same user in the preceding `attributionWindow`. Both inputs carry
    * watermarks and the join condition bounds click_ts relative to view_ts,
    * which is exactly what lets Spark evict a buffered view once the
    * watermark passes `view_ts + attributionWindow` (and a buffered click
    * once it passes `click_ts`) — the bounded-state contract stream-stream
    * joins require; without the time bound, both sides buffer forever.
    * On batch frames the watermarks are no-ops and the same code path is
    * the q_e3 batch twin, so stream and batch semantics can't drift.
    */
  def attributeClicks(views: DataFrame, clicks: DataFrame,
                      attributionWindow: String = "1 hour",
                      watermark: String = "2 hours"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
        col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("click_user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
        col("user_id") === col("click_user_id") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr(s"INTERVAL $attributionWindow"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** One sealed-window frequent-item candidate: the Misra-Gries residual
    * counter is a LOWER bound on the key's true count (decrement steps
    * only ever subtract); `n_total` is the window's exact row count. */
  case class HitterCandidate(window_start: Timestamp, key: String,
                             mg_count: Long, n_total: Long)

  /** Streaming heavy-hitter CANDIDATES per tumbling event-time window:
    * Misra-Gries with k = ceil(slack/theta) counters per window inside
    * `flatMapGroupsWithState`, emitted when the watermark seals the
    * window. This is pass 1 of the batch [[graft.operators.HeavyHitters]]
    * scheme lifted to streams. A watermarked windowed count would bound
    * ROWS per window but shuffle every distinct key; this bounds STATE by
    * k·(open windows) however large the key universe grows (URLs, n-grams
    * at 100 TB/day).
    *
    * Guarantees (order-insensitive, so full event-time disorder within
    * the watermark changes nothing):
    *   - NO FALSE NEGATIVES: any key with true count > n/(k+1) is in the
    *     final summary; with k >= slack/theta every theta-hitter
    *     qualifies (pigeonhole — the batch pass-1 guarantee).
    *   - at most k candidates per window leave the operator;
    *   - `mg_count` is a lower bound, `mg_count + floor(n/(k+1))` an
    *     upper bound on the true count.
    * Exactness needs a second look at the sealed rows —
    * [[verifiedHitters]], the streaming twin of batch pass 2. A single
    * bounded-state pass provably cannot emit exact counts; the candidate
    * cut is what makes the exact pass cheap (it counts <= k keys per
    * window, never the universe).
    */
  def heavyHitterCandidates(events: DataFrame, keyCol: String,
                            theta: Double, slack: Int = 2,
                            windowSeconds: Long = 3600L,
                            watermark: String = "2 hours"): Dataset[HitterCandidate] = {
    require(theta > 0 && theta <= 1, s"theta must be in (0,1], got $theta")
    require(slack >= 1 && windowSeconds >= 1)
    val k = math.max(1, math.ceil(slack / theta).toInt)
    val spark = events.sparkSession
    import spark.implicits._
    val windowMs = windowSeconds * 1000L
    events
      .withWatermark("ts", watermark)
      // the watermarked ts column rides along: EventTimeTimeout needs the
      // event-time column to survive the projection
      .select(col("ts"),
        window(col("ts"), s"$windowSeconds seconds")
          .getField("start").as("ws"),
        col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull)
      .as[(Timestamp, Timestamp, String)]
      .groupByKey(_._2.getTime)
      .flatMapGroupsWithState[MgSummary, HitterCandidate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (ws: Long, batch: Iterator[(Timestamp, Timestamp, String)],
         state: GroupState[MgSummary]) =>
          if (state.hasTimedOut) {
            // watermark passed window end: no admissible event can join
            // this window anymore — seal, emit, evict
            val st = state.get
            state.remove()
            st.keys.iterator.zip(st.counts.iterator).map { case (key, c) =>
              HitterCandidate(new Timestamp(ws), key, c, st.n)
            }
          } else {
            val prior = state.getOption.getOrElse(MgSummary(Nil, Nil, 0L))
            val counters = new java.util.HashMap[String, Long](k * 2)
            prior.keys.iterator.zip(prior.counts.iterator)
              .foreach { case (key, c) => counters.put(key, c) }
            var n = prior.n
            batch.foreach { case (_, _, x) =>
              // the batch operator's exact insert discipline
              val c = counters.getOrDefault(x, 0L)
              if (c > 0L) counters.put(x, c + 1L)
              else if (counters.size < k) counters.put(x, 1L)
              else {
                val itk = counters.entrySet().iterator()
                while (itk.hasNext) {
                  val e = itk.next()
                  if (e.getValue == 1L) itk.remove()
                  else e.setValue(e.getValue - 1L)
                }
              }
              n += 1L
            }
            val ks = Seq.newBuilder[String]
            val cs = Seq.newBuilder[Long]
            counters.forEach((key, c) => { ks += key; cs += c })
            state.update(MgSummary(ks.result(), cs.result(), n))
            // seal at window end (strictly beyond the current watermark,
            // as EventTimeTimeout requires)
            state.setTimeoutTimestamp(
              math.max(ws + windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** Pass 2 for [[heavyHitterCandidates]]: exact verification of the
    * sealed candidates against the sealed rows themselves (landed to the
    * lake by the same pipeline — the standard stream+batch composition).
    * Identical semantics to the batch operator's verification join:
    * count candidate keys only (a broadcast semi-join — at most
    * k keys/window, never the universe), threshold at theta·n_total with
    * n_total taken from the STREAM state's exact row count. Output rows
    * equal `HeavyHitters.heavyHitters` run on each sealed window. */
  def verifiedHitters(candidates: DataFrame, sealedEvents: DataFrame,
                      keyCol: String, theta: Double,
                      windowSeconds: Long = 3600L): DataFrame = {
    val keyed = sealedEvents
      .select(
        window(col("ts"), s"$windowSeconds seconds")
          .getField("start").as("window_start"),
        col(keyCol).cast("string").as("k"))
      .filter(col("k").isNotNull)
    keyed
      .join(broadcast(candidates.select(col("window_start"),
        col("key").as("k"), col("n_total"))), Seq("window_start", "k"))
      .groupBy("window_start", "k")
      .agg(count(lit(1)).as("cnt"), first("n_total").as("n_total"))
      .filter(col("cnt") >= col("n_total") * theta)
      .select(col("window_start"), col("k").as(keyCol), col("cnt"),
        round(col("cnt") / col("n_total"), 6).as("frac"))
  }
}
