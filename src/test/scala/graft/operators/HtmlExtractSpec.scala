package graft.operators

import graft.SparkTestBase

/** extractMainText against hostile markup: scripts with `<` in the body,
  * nested/unclosed blocks, uppercase tags, inline markup inside prose,
  * and the exact integer boundaries of the link-density keep rule.
  */
class HtmlExtractSpec extends SparkTestBase {
  import spark.implicits._

  private def extract(html: String, minChars: Int = 25, maxLinkPct: Int = 30) =
    TextAnalysis.extractMainText(
        Seq((1L, html)).toDF("doc_id", "html"), "doc_id", "html",
        minChars, maxLinkPct)
      .select("n_blocks", "n_kept", "extracted")
      .head()

  private val prose = "the quick brown fox jumps over the lazy dog again"

  test("script bodies with '<' are stripped before the tag strip") {
    val r = extract(
      s"<html><head><script>if(a<2){b='</div>x'}</script></head>" +
        s"<body><p>$prose</p></body></html>")
    assert(r.getString(2) == prose)
    assert(r.getInt(1) == 1)
  }

  test("style, comments, nav and footer boilerplate all drop; prose survives") {
    val r = extract(
      "<style>p { color: red }</style><!-- hidden <p>ghost</p> -->" +
        "<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/x\">X</a></div>" +
        s"<p>$prose</p>" +
        "<footer><a href=\"/t\">Terms</a></footer>")
    assert(r.getString(2) == prose)
  }

  test("nested blocks and inline tags: prose keeps its inline text") {
    val r = extract(
      s"<div><div><p>first $prose <b>bold</b> and <em>italic</em> words</p>" +
        s"</div><p>second $prose</p></div>")
    assert(r.getString(2) ==
      s"first $prose bold and italic words second $prose")
    assert(r.getInt(1) == 2)
  }

  test("unclosed and uppercase tags still split; stray '<' stays in text") {
    val r = extract(s"<DIV CLASS=X><P>$prose and 1 < 2 holds")
    // '< 2' is not a tag (regex needs <[^>]*>): the '<' survives as text...
    // no closing '>' before end-of-string means no tag match at all
    assert(r.getString(2) == s"$prose and 1 < 2 holds")
  }

  test("link density boundary is exact integer arithmetic") {
    // text 50 chars total, anchor text 15 chars: 15*100 == 50*30 -> kept
    val t35 = "a" * 34 // 34 + 1 space + 15 = 50 collapsed chars
    val a15 = "b" * 15
    val atBound = extract(s"<p>$t35 <a href='/x'>$a15</a></p>", minChars = 10)
    assert(atBound.getInt(1) == 1)
    // one more anchor char on the same text length -> 16*100 > 51*30 -> drop
    val over = extract(s"<p>${"a" * 34} <a href='/x'>${"b" * 16}</a></p>", minChars = 10)
    assert(over.getInt(1) == 0)
  }

  test("minChars boundary: 24 chars drop, 25 keep") {
    assert(extract("<p>" + "x" * 24 + "</p>").getInt(1) == 0)
    assert(extract("<p>" + "x" * 25 + "</p>").getInt(1) == 1)
  }

  test("no kept blocks yields empty extracted text, never null") {
    val r = extract("<p><a href='/'>only links here in this one</a></p>")
    assert(r.getInt(1) == 0 && r.getString(2) == "")
  }

  test("planted variants produce the expected block accounting") {
    val docs = Seq((0L, prose), (1L, prose), (2L, prose)).toDF("doc_id", "text")
    val out = TextAnalysis.extractMainText(
        TextQueries.withPlantedHtml(docs), "doc_id", "html", 25, 30)
      .orderBy("doc_id").collect()
    // v=0: title+nav+prose+footer text blocks; only prose kept
    assert(out(0).getInt(2) == 1 && out(0).getString(3) == prose)
    // v=1: + ad block (short, 100% links) -> still only prose kept
    assert(out(1).getInt(2) == 1 && out(1).getInt(1) == out(0).getInt(1) + 1)
    // v=2: + mixed prose/link block -> kept alongside the main text
    assert(out(2).getInt(2) == 2 && out(2).getString(3).startsWith(prose))
  }
}
