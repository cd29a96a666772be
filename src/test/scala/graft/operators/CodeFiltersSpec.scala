package graft.operators

import graft.SparkTestBase

/** Code-filter card against handcrafted files: detection markers, exact
  * threshold boundaries, and the keep-rule composition.
  */
class CodeFiltersSpec extends SparkTestBase {
  import spark.implicits._

  private def card(code: String) = {
    val r = CodeFilters.codeFilterCard(
      Seq((1L, code)).toDF("id", "code"), "id", "code").head()
    (r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5),
      r.getInt(6)) // n_lines, max, sum, license, autogen, keep
  }

  test("plain file: line stats exact, kept") {
    val (n, mx, sm, lic, ag, keep) = card("abc\nde\nfghi")
    assert(n == 3 && mx == 4L && sm == 9L)
    assert(lic == 0 && ag == 0 && keep == 1)
  }

  test("license header is flagged but NOT dropped") {
    val (_, _, _, lic, ag, keep) =
      card("// copyright (c) 2024 acme\n// licensed under mit\ncode here")
    assert(lic == 1 && ag == 0 && keep == 1)
  }

  test("autogenerated marker drops the file wherever it appears") {
    assert(card("// do not edit. generated\nx")._6 == 0)
    assert(card("x\n// this file was automatically generated\ny")._6 == 0)
    // prose mentioning editing without the marker phrases survives
    assert(card("please edit carefully\nx")._6 == 1)
  }

  test("line-length gates at exact boundaries") {
    // isolate the MAX rule with enough padding lines to keep avg <= 100:
    // 1000 + 20*1 chars over 21 lines = avg ~48.6 -> max rule decides
    val pad = Seq.fill(20)("x").mkString("\n")
    val okMax = ("y" * 1000) + "\n" + pad
    val (_, mx1, sm1, _, _, k1) = card(okMax)
    assert(mx1 == 1000L && sm1 == 1020L && k1 == 1)
    val (_, mx2, _, _, _, k2) = card(("y" * 1001) + "\n" + pad)
    assert(mx2 == 1001L && k2 == 0)
  }

  test("average-length rule: integer cross-multiplication, no float drift") {
    // 2 lines, 200 chars total -> avg exactly 100 -> keep
    assert(card(("a" * 100) + "\n" + ("b" * 100))._6 == 1)
    // 201 chars over 2 lines -> avg 100.5 -> drop
    assert(card(("a" * 101) + "\n" + ("b" * 100))._6 == 0)
  }

  test("empty and single-line files are countable") {
    val (n0, mx0, _, _, _, k0) = card("")
    assert(n0 == 1 && mx0 == 0L && k0 == 1)
    assert(card("just one line")._1 == 1)
  }

  test("q_cc1 planted construction replay on a miniature corpus") {
    // 180-char doc: v=3 blob line = 10*120 = 1200 -> dropped; v=2 autogen
    // dropped; v=0/v=1 kept with license flag only on v=1
    val t = "w" * 180
    val df = Seq((0L, t), (1L, t), (2L, t), (3L, t)).toDF("doc_id", "text")
    val out = CodeQueries.codeCardQuery(df).orderBy("doc_id").collect()
    assert(out.map(_.getInt(6)).toSeq == Seq(1, 1, 0, 0))
    assert(out.map(_.getInt(4)).toSeq == Seq(0, 1, 0, 0))
    assert(out.map(_.getInt(5)).toSeq == Seq(0, 0, 1, 0))
    assert(out(3).getLong(2) == 1200L) // the blob's max line
    // a short doc's blob stays under both gates and is kept (the
    // data-dependent branch the oracle must agree on)
    val tiny = CodeQueries.codeCardQuery(
      Seq((3L, "w" * 12)).toDF("doc_id", "text")).head()
    assert(tiny.getLong(2) == 120L && tiny.getInt(6) == 1)
  }
}
