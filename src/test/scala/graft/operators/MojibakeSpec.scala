package graft.operators

import graft.SparkTestBase

/** Mojibake detection/repair against the JVM's own encoders as ground
  * truth: corruption fixtures are built by the real UTF-8→cp1252
  * round-trip (not transcribed strings), so a wrong table entry fails
  * here before it can fail the oracle hash.
  */
class MojibakeSpec extends SparkTestBase {
  import spark.implicits._

  /** The actual corruption being inverted: encode UTF-8, decode cp1252. */
  private def corrupt(s: String): String =
    new String(s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      "windows-1252")

  private def runOn(text: String): (Long, String, Long) = {
    val r = Seq(Tuple1(text)).toDF("t")
      .selectExpr(
        s"CAST(${TextAnalysis.mojibakeCountExpr("t")} AS BIGINT) AS n_bad",
        s"${TextAnalysis.mojibakeRepairExpr("t")} AS fixed")
      .selectExpr("n_bad", "fixed",
        s"CAST(${TextAnalysis.mojibakeCountExpr("fixed")} AS BIGINT) AS n_resid")
      .head()
    (r.getLong(0), r.getString(1), r.getLong(2))
  }

  test("table is longest-corrupted-form-first and fully printable") {
    val lens = TextAnalysis.mojibakeTable.map(_._1.length)
    assert(lens == lens.sorted.reverse)
    assert(TextAnalysis.mojibakeTable.forall { case (bad, good) =>
      bad.length >= 2 && good.length == 1 &&
        bad.forall(c => c >= ' ' && c != '\'' && !c.isControl)
    })
    // every entry really is the cp1252 round-trip of its target
    TextAnalysis.mojibakeTable.foreach { case (bad, good) =>
      assert(corrupt(good) == bad, s"entry for '$good'")
    }
  }

  test("repair inverts real round-trip corruption for every table entry") {
    val intended = TextAnalysis.mojibakeTable.map(_._2).mkString("x", "x", "x")
    val (nBad, fixed, nResid) = runOn(corrupt(intended))
    assert(fixed == intended)
    assert(nBad == TextAnalysis.mojibakeTable.size.toLong)
    assert(nResid == 0L)
  }

  test("counts are per-occurrence and clean text is untouched") {
    val clean = "plain ascii text, nothing to fix"
    val (nBad0, fixed0, _) = runOn(clean)
    assert(nBad0 == 0L && fixed0 == clean)

    val dirty = s"it${corrupt("’")}s caf${corrupt("é")} " +
      s"caf${corrupt("é")} ${corrupt("…")}"
    val (nBad, fixed, nResid) = runOn(dirty)
    assert(nBad == 4L)
    assert(fixed == "it’s café café …")
    assert(nResid == 0L)
  }

  test("3-char punctuation runs survive adjacency with 2-char accents") {
    // é directly followed by ’ — a wrong rule order or a sequence nesting
    // bug would split the E2-80-99 run
    val s = corrupt("é’é")
    val (nBad, fixed, nResid) = runOn(s)
    assert(nBad == 3L && fixed == "é’é" && nResid == 0L)
  }

  test("q_t29 injection variants: repair restores the intended text") {
    // replay the query's construction on a miniature corpus and check
    // the analytic expectations the DuckDB oracle asserts
    val df = Seq((0L, "sea beast"), (1L, "sea beast"), (2L, "sea beast"),
        (3L, "sea beast"))
      .toDF("doc_id", "t")
    val injAcc = "replace(replace(t, 'a', '" +
      TextAnalysis.mojibakeOf("á") + "'), 'e', '" +
      TextAnalysis.mojibakeOf("é") + "')"
    val injP = s"'${TextAnalysis.mojibakeOf("’")}'"
    val out = df.selectExpr("doc_id",
        s"""CASE CAST(doc_id % 4 AS INT)
           |  WHEN 0 THEN t
           |  WHEN 1 THEN $injAcc
           |  WHEN 2 THEN replace(t, 's', $injP)
           |  ELSE replace($injAcc, 's', $injP) END AS c""".stripMargin)
      .selectExpr("doc_id",
        s"CAST(${TextAnalysis.mojibakeCountExpr("c")} AS BIGINT) AS n_bad",
        s"${TextAnalysis.mojibakeRepairExpr("c")} AS fixed")
      .orderBy("doc_id")
      .collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 4L, 2L, 6L))
    assert(out.map(_.getString(2)).toSeq == Seq(
      "sea beast", "séá béást", "’ea bea’t", "’éá béá’t"))
  }
}
