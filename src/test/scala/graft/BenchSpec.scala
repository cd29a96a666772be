package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** [[Bench.esc]] is the one JSON string escape of the harness mains (Bench,
  * Verify, ConfSweep): whatever an error message or a query's SQL carries,
  * the escaped form must parse back to the same string.
  */
class BenchSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("Bench.esc output parses back through Jackson to the same string") {
    val mapper = new ObjectMapper
    val raw = "say \"hi\" C:\\tmp\\x\nnext\tcol\u0001end\r"
    val parsed = mapper.readTree("{\"e\":\"" + Bench.esc(raw) + "\"}").get("e").asText()
    assert(parsed == raw)
  }
}
