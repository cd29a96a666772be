package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Bench's timing protocol and its two output lines. [[Bench.measure]] is
  * the one protocol of the harness mains (Bench, Profile); [[Bench.esc]] is
  * their one JSON string escape (Bench, Verify): whatever an error message
  * or a query's SQL carries, the escaped form must parse back to the same
  * string.
  */
class BenchSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val mapper = new ObjectMapper

  test("Bench.esc output parses back through Jackson to the same string") {
    val raw = "say \"hi\" C:\\tmp\\x\nnext\tcol\u0001end\r"
    val parsed = mapper.readTree("{\"e\":\"" + Bench.esc(raw) + "\"}").get("e").asText()
    assert(parsed == raw)
  }

  test("measure runs one warm run and 3 timed reps, and reports their median and min") {
    var calls = 0
    // the warm run is by far the slowest, so a rep that included it would show
    val sleeps = Seq(400L, 10L, 30L, 20L)
    val t = Bench.measure("fake")({ Thread.sleep(sleeps(calls)); calls += 1 })
    assert(calls == 1 + Bench.TimedReps)
    assert(t.reps.size == Bench.TimedReps && t.error.isEmpty)
    assert(t.reps.forall(_ < 0.4), s"the warm run leaked into the reps: ${t.reps}")
    assert(t.reps(0) >= 0.010 && t.reps(1) >= 0.030 && t.reps(2) >= 0.020)
    assert(t.median == t.reps.sorted.apply(1) && t.min == t.reps.min)
  }

  test("a throw in the warm run or in any timed rep marks the query failed") {
    for (failing <- 0 to Bench.TimedReps) {
      var calls = 0
      val t = Bench.measure("fake")({
        calls += 1
        if (calls == failing + 1) throw new IllegalStateException(s"run $failing")
      })
      assert(calls == 1 + Bench.TimedReps)
      assert(t.error.contains(s"IllegalStateException: run $failing"))
    }
  }

  test("a failing query's elapsed time still counts in the total") {
    val ok = Bench.measure("ok")(())
    val bad = Bench.measure("bad")({ Thread.sleep(20); throw new RuntimeException("no") })
    assert(bad.error.isDefined && bad.reps.forall(_ >= 0.020))
    assert(Bench.total(Seq(ok, bad)) == ok.median + bad.median)
    val line = mapper.readTree(Bench.stdoutLine(Seq(ok, bad), Nil, "sf"))
    assert(line.get("value").asDouble >= 0.020)
    assert(line.get("n_errors").asInt == 1 && line.get("errors").has("bad"))
  }

  test("241 long-named queries: the stdout line fits and the detail line drops none") {
    val names = (1 to 241).map(i => f"q_synthetic_query_with_a_deliberately_long_name_$i%03d")
    val ts = names.zipWithIndex.map { case (n, i) =>
      val err = if (i < 3) Some(("\"quoted\" \\ line\n" * 40) + n) else None
      Bench.Timing(n, Seq(1.5, 0.25, 3.0), err)
    }
    val builds = Seq("ivf" -> 15.2, "int8" -> 1.2, "d6_index" -> 11.5, "d9_index" -> 7.4,
      "l1_base" -> 2.4, "tar_pub" -> 3.8, "v6_pairs" -> 2.3, "d3_pairs" -> 4.1, "d6_pairs" -> 7.1)
    val out = Bench.stdoutLine(ts, builds, "/data/sf0.1")
    assert(out.length <= Bench.MaxLine, s"stdout line is ${out.length} chars")
    val line = mapper.readTree(out)
    assert(line.get("metric").asText == "total")
    assert(line.get("n_queries").asInt == 241 && line.get("n_errors").asInt == 3)
    assert(line.get("errors").size == 3 && line.get("builds").size == 9)
    assert(line.get("queries").size > 0)

    val detail = mapper.readTree(Bench.detailLine(ts, builds, "/data/sf0.1"))
    for (key <- Seq("queries", "min", "reps"))
      assert(detail.get(key).size == 241, key)
    assert(detail.get("reps").get(names.head).size == 3)
    assert(detail.get("min").get(names.head).asDouble == 0.25)
    assert(detail.get("queries").get(names.head).asDouble == 1.5)
    assert(detail.get("errors").size == 3)
  }
}
