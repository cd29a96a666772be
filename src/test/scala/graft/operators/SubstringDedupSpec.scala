package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Substring-level dedup (duplicated n-gram spans + scrub): crafted-corpus
  * exactness, family equivalence (exact string keys vs xx64 fingerprints),
  * and structural invariants on the driver testdata at sf0.001.
  */
class SubstringDedupSpec extends SparkTestBase {

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // Docs 1 and 2 share the 8-word block "alpha beta gamma delta epsilon
  // zeta eta theta" (words 3..10 in doc 1, words 1..8 in doc 2); doc 3 is
  // clean; doc 4 repeats a 5-word window INSIDE itself.
  private val corpus = Seq(
    1L -> "intro words alpha beta gamma delta epsilon zeta eta theta closing remark",
    2L -> "alpha beta gamma delta epsilon zeta eta theta and then novel tail",
    3L -> "entirely fresh content with no repeated window anywhere at all",
    4L -> "one two three four five filler one two three four five done")

  test("duplicatedSpans finds the shared block with maximal-merged bounds") {
    val spans = Dedup.duplicatedSpans(df(corpus), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getString(5)))
    // Doc 1: the shared 8-word block spans words 3..10 (4 overlapping
    // 5-windows merged into ONE island).
    val d1 = spans.filter(_._1 == 1L)
    assert(d1.length == 1)
    assert(d1.head._2 == 3 && d1.head._3 == 10)
    assert(d1.head._4 == "alpha beta gamma delta epsilon zeta eta theta")
    // Doc 2: same block at words 1..8.
    val d2 = spans.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._2 == 1 && d2.head._3 == 8)
    // Doc 3: clean.
    assert(!spans.exists(_._1 == 3L))
    // Doc 4: both copies of the internal 5-window are flagged; the two
    // sites are 6 words apart (gap > k) so they stay separate islands.
    val d4 = spans.filter(_._1 == 4L).sortBy(_._2)
    assert(d4.length == 2)
    assert(d4(0)._2 == 1 && d4(0)._3 == 5 && d4(0)._4 == "one two three four five")
    assert(d4(1)._2 == 7 && d4(1)._3 == 11)
  }

  test("scrubDuplicatedSpans gives a null-text doc (0, 0, '') like an empty-text doc") {
    // size(NULL) is NULL, so without the coalesce in wordsFrame a null-text
    // doc would emit NULL accounting columns and silently vanish from any
    // downstream non-null filter instead of being a countable empty doc.
    import spark.implicits._
    val docs = Seq((1L, Option("a b a b")), (2L, None), (3L, Option("")))
      .toDF("doc_id", "text")
    val out = Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(1L, 2L, 3L))
    assert(out(1) == ((2L, 0, 0, "")) && out(2) == ((3L, 0, 0, "")))
  }

  test("scrubDuplicatedSpans keeps every doc and drops exactly the covered words") {
    val out = Dedup.scrubDuplicatedSpans(df(corpus), "doc_id", "text", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._4 == "intro words closing remark" && byId(1L)._3 == 8)
    assert(byId(2L)._4 == "and then novel tail")
    assert(byId(3L)._3 == 0 &&
      byId(3L)._4 == "entirely fresh content with no repeated window anywhere at all")
    assert(byId(4L)._4 == "filler done" && byId(4L)._3 == 10)
    // Word accounting: dropped + kept = original.
    out.foreach { case (_, nWords, nDropped, clean) =>
      val kept = clean.split(" ").count(_.nonEmpty)
      assert(kept + nDropped == nWords)
    }
  }

  test("xx64 fingerprint family produces the same spans as exact string keys") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    def spanSet(family: String) =
      Dedup.duplicatedSpans(docs, "doc_id", "text", k = 5, family = family)
        .collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getInt(3), r.getString(5)))
        .toSet
    val exact = spanSet("exact")
    assert(exact.nonEmpty, "sf0.001 corpus should contain duplicated 5-grams")
    assert(spanSet("xx64") == exact)
  }

  test("structural invariants on sf0.001: bounds valid, spans disjoint and maximal") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val k = 5
    val rows = Dedup.duplicatedSpans(docs, "doc_id", "text", k = k)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getInt(3)))
    val nWords = docs
      .selectExpr("doc_id", "size(filter(split(text, ' '), x -> x != '')) AS n")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_._1).foreach { case (id, spans) =>
      val sorted = spans.map(s => (s._2, s._3)).sortBy(_._1)
      sorted.foreach { case (s, e) =>
        assert(s >= 1 && e <= nWords(id) && e - s + 1 >= k,
          s"doc $id span [$s,$e] out of bounds or shorter than k")
      }
      // Maximality: consecutive spans are separated by a real gap — two
      // spans whose windows overlap or touch would have merged.
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, e1), (s2, _)) => assert(s2 > e1 + 1, s"doc $id spans not maximal")
        case _ =>
      }
    }
    // Scrub consistency: dropped words = total covered positions.
    val scrub = Dedup.scrubDuplicatedSpans(docs, "doc_id", "text", k = k)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    rows.groupBy(_._1).foreach { case (id, spans) =>
      assert(scrub(id) == spans.map(s => s._3 - s._2 + 1).sum)
    }
    assert(scrub.values.sum > 0)
  }

  test("decontamination flags verbatim benchmark containment; survivors are the complement") {
    import spark.implicits._
    val corpus = df(Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "totally unrelated training text with nothing shared here at all",
      3L -> "prefix words then alpha beta gamma delta epsilon zeta eta theta trailing"))
    val bench = Seq(100L -> "alpha beta gamma delta epsilon zeta eta theta")
      .toDF("bench_id", "btext")
    val pairs = Dedup.crossCorpusWindowOverlap(corpus, "doc_id", "text",
        bench, "bench_id", "btext", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // Docs 1 and 3 contain the 8-word benchmark verbatim (doc 1 shares
    // the 8-gram at pos 1; doc 3 at pos 4); doc 2 is clean.
    assert(pairs == Set((1L, 100L, 1), (3L, 100L, 1)))
    val survivors = Dedup.decontaminate(corpus, "doc_id", "text",
        bench, "bench_id", "btext", k = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(2L))
  }

  test("decontamination: xx64 equals exact family and the corpus side never shuffles") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .selectExpr("doc_id AS bench_id", "text AS btext")
    def pairSet(family: String) =
      Dedup.crossCorpusWindowOverlap(docs, "doc_id", "text",
          bench, "bench_id", "btext", k = 8, family = family)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = pairSet("exact")
    assert(exact.nonEmpty)
    assert(pairSet("xx64") == exact)
    // Plan receipt for the 100 TB asymmetry: the benchmark gram set is
    // broadcast, so the only exchanges are the broadcast itself and the
    // (matched-sites-only) per-pair aggregation — the corpus scan feeds a
    // BroadcastHashJoin, never a shuffled join on window keys.
    val plan = Dedup.crossCorpusWindowOverlap(docs, "doc_id", "text",
        bench, "bench_id", "btext", k = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }
}
