package graft.operators

import graft.SparkTestBase

/** BM25 scoring against a hand-computed fixture plus plan/scale
  * invariants (corpus never exploded on its full token list; stats and
  * df join back by broadcast).
  */
class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  // 4 docs; terms: "cat" in d1(x2) d2(x1); "dog" in d2(x1) only;
  // "bird" nowhere; d3/d4 are noise (still count toward N and avgdl)
  private def corpus = Seq(
    (1L, "cat sat cat mat"),
    (2L, "cat dog"),
    (3L, "fish swims alone here"),
    (4L, "mat mat")
  ).toDF("doc_id", "text")

  test("bm25 matches a reference computation on a tiny corpus") {
    val k1 = 1.2
    val b = 0.75
    val n = 4.0
    val avgdl = (4 + 2 + 4 + 2) / 4.0 // 3.0
    def idf(df: Int): Double =
      BigDecimal(math.log(1d + (n - df + 0.5) / (df + 0.5)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def contrib(df: Int, tf: Int, dl: Int): Long =
      math.round(BigDecimal(
        idf(df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e9)
    val expected = Map(
      1L -> (1L, math.rint(contrib(2, 2, 4) / 1e9 * 1e6) / 1e6),
      2L -> (2L, math.rint((contrib(2, 1, 2) + contrib(1, 1, 2)) / 1e9 * 1e6) / 1e6))

    val got = TextAnalysis.bm25Score(corpus, "doc_id", "text",
        Seq("cat", "dog", "bird"), k1, b)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.keySet == Set(1L, 2L), s"only d1/d2 match: $got")
    assert(got(1L)._1 == 1L && got(2L)._1 == 2L, s"n_terms wrong: $got")
    assert(math.abs(got(1L)._2 - expected(1L)._2) < 1e-6, s"$got vs $expected")
    assert(math.abs(got(2L)._2 - expected(2L)._2) < 1e-6, s"$got vs $expected")
  }

  test("absent query terms contribute nothing and df=0 does not divide by zero") {
    val out = TextAnalysis.bm25Score(corpus, "doc_id", "text", Seq("unicorn"))
    assert(out.count() == 0)
  }

  test("score is stable under repartitioning (scaled-long determinism)") {
    val base = TextAnalysis.bm25Score(corpus, "doc_id", "text",
      Seq("cat", "dog", "mat")).orderBy("doc_id").collect().toSeq
    val shuffled = TextAnalysis.bm25Score(corpus.repartition(7), "doc_id",
      "text", Seq("cat", "dog", "mat")).orderBy("doc_id").collect().toSeq
    assert(base.map(_.toSeq) == shuffled.map(_.toSeq))
  }

  test("plan broadcasts df and stats — the corpus side never shuffles on a term key") {
    val plan = TextAnalysis.bm25Score(corpus, "doc_id", "text",
      Seq("cat", "dog")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not sort-merge on the term key:\n$plan")
  }
}
