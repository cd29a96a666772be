package graft.operators

import graft.SparkTestBase

/** Behavior checks for text-analysis expressions. */
class TextAnalysisSpec extends SparkTestBase {

  import spark.implicits._

  private def one(text: String) = Seq(Tuple1(text)).toDF("text")

  test("language ID picks the profile with most stopword hits") {
    val cases = Seq(
      "the cat is in the house and it is warm" -> "en",
      "der hund ist in dem haus und das ist gut" -> "de",
      "le chat est dans la maison et il est chaud" -> "fr",
      "el gato es en la casa y es bueno" -> "es",
      "zzz qqq xxx" -> "und")
    cases.foreach { case (text, want) =>
      val got = one(text).select(TextAnalysis.languageId("text")).head().getString(0)
      assert(got == want, s"'$text' -> $got, want $want")
    }
  }

  test("quality score is in [0,1], zero for empty, higher for natural text") {
    val natural = one("the cat is on the mat and the dog is in the house today")
      .select(TextAnalysis.qualityScore("text")).head().getDouble(0)
    val junk = one("zz zz zz zz zz zz zz zz zz zz")
      .select(TextAnalysis.qualityScore("text")).head().getDouble(0)
    val empty = one("").select(TextAnalysis.qualityScore("text")).head().getDouble(0)
    assert(natural > junk)
    assert(empty == 0.0)
    assert(natural <= 1.0 && junk >= 0.0)
  }

  test("fingerprint is whitespace-normalization invariant") {
    val a = one("hello   world").select(TextAnalysis.fingerprint60("text")).head().getLong(0)
    val b = one("  hello world ").select(TextAnalysis.fingerprint60("text")).head().getLong(0)
    val c = one("hello there").select(TextAnalysis.fingerprint60("text")).head().getLong(0)
    assert(a == b)
    assert(a != c)
  }

  test("shingle sketch shape") {
    val df = one("a b c d")
    val sketch = df.select(TextAnalysis.shingleSketch("text", k = 2, n = 2))
      .head().getSeq[Long](0)
    assert(sketch.length == 2)
    assert(sketch == sketch.sorted)
  }

  test("boilerplate n-gram stats count cross-document recurring grams") {
    // docs 1 and 2 share the template "one two three"; doc 3 is unique;
    // doc 4 is too short for a trigram and must survive with zeros
    val docs = Seq(
      (1L, "one two three alpha beta"),   // grams: 3, shared: "one two three"
      (2L, "one two three gamma delta"),
      (3L, "five six seven eight"),        // 2 grams, none shared
      (4L, "tiny doc")                     // 0 grams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplateNgramStats(docs, "doc_id", "text", n = 3, minDf = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == ((1L, 3L, 1L, 0.333333)), got.mkString(", "))
    assert(got(1) == ((2L, 3L, 1L, 0.333333)))
    assert(got(2) == ((3L, 2L, 0L, 0.0)))
    assert(got(3) == ((4L, 0L, 0L, 0.0)))
  }

  test("repetition stats: top n-gram count and duplicate-occurrence fraction") {
    val docs = Seq(
      (1L, "buy now buy now buy now"),   // bigrams: "buy now"x3, "now buy"x2 -> all 5 repeats
      (2L, "one two three four"),         // 3 bigrams, all unique
      (3L, "word")                        // too short: zeros
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text", n = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got(0) == ((1L, 5L, 3L, 1.0)), got.mkString(", "))
    assert(got(1) == ((2L, 3L, 1L, 0.0)))
    assert(got(2) == ((3L, 0L, 0L, 0.0)))
  }

  test("tf-idf top terms: hand-computed scores, deterministic tie order, k cutoff") {
    val docs = Seq(
      (1L, "apple apple banana"),   // apple tf=2, banana tf=1
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry"), // one term only
      (4L, "")                      // no tokens -> no rows
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    def idf(df: Int) = BigDecimal(math.log(4.0 / df))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(tf: Int, df: Int) = BigDecimal(idf(df) * tf)
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc 1: apple (df=1) tf=2 beats banana (df=2) tf=1
    assert(got(0) == ((1L, 1, "apple", 2L, score(2, 1))), got.mkString(", "))
    assert(got(1) == ((1L, 2, "banana", 1L, score(1, 2))))
    // doc 2: equal tf; banana and cherry both df=2 -> alphabetical tie
    assert(got(2) == ((2L, 1, "banana", 1L, score(1, 2))))
    assert(got(3) == ((2L, 2, "cherry", 1L, score(1, 2))))
    // doc 3: single term, rank stops at 1 (k=2 never pads)
    assert(got(4) == ((3L, 1, "cherry", 3L, score(3, 2))))
    assert(got.length == 5) // doc 4 contributes nothing
  }

  test("contamination check flags exactly the docs sharing a benchmark n-gram") {
    val train = Seq(
      (10L, "alpha beta gamma delta"),     // shares "alpha beta gamma" with bench
      (11L, "epsilon zeta eta theta"),     // clean
      (12L, "x alpha beta gamma y")        // shares the same gram mid-doc
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1("alpha beta gamma unrelated tail")).toDF("text")
      .selectExpr("CAST(0 AS BIGINT) AS doc_id", "text")
    val got = TextAnalysis.contaminationCheck(train, bench, "doc_id", "text", n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((10L, 1L), (12L, 1L)), got.mkString(", "))
  }

  test("domainDrift: zero for an identical distribution, hand-checked KL otherwise") {
    val corpus = Seq(
      ("en", "a a b"),  // base: P(a)=2/3, P(b)=1/3
      ("de", "a a b"),  // identical distribution -> KL = 0
      ("fr", "a b b")   // flipped -> hand-computed KL below
    ).toDF("lang", "text")
    val out = TextAnalysis.domainDrift(corpus, "text", "lang", "en")
      .orderBy("slice")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // V = 2, smoothing +1: de = en exactly -> 0.0
    assert(out(0) == (("de", 3L, 2L, 0.0)))
    // fr: p_a=2/5 q_a=3/5, p_b=3/5 q_b=2/5
    // KL = 0.4*ln(2/3) + 0.6*ln(3/2) = 0.2*ln(1.5) = 0.081093 at 6 dp
    assert(out(1)._1 == "fr" && math.abs(out(1)._4 - 0.081093) < 1e-6)
  }

  test("domainDrift is nonnegative and repartition-invariant on real docs") {
    val docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
    val a = TextAnalysis.domainDrift(docs, "text", "lang", "en")
      .orderBy("slice").collect().toSeq
    val b = TextAnalysis.domainDrift(docs.repartition(5), "text", "lang", "en")
      .orderBy("slice").collect().toSeq
    assert(a == b)
    // KL >= 0 up to the 9-dp per-term rounding
    assert(a.forall(_.getDouble(3) >= -1e-6))
  }

  test("lmPerplexity: hand-computed smoothed-bigram nll; short docs get zeros") {
    import org.apache.spark.sql.functions.col
    // train doc "a b a b": c2("a b")=2, c2("b a")=1; c1(a)=2, c1(b)=1; V=2
    val docs = Seq(
      (1L, "a b a b", true),  // the train slice
      (2L, "a b", false),     // in-distribution: -ln((2+1)/(2+2)) = ln(4/3)
      (3L, "c c", false),     // fully OOV: -ln((0+1)/(0+2)) = ln 2
      (4L, "x", false)        // < 2 tokens -> zeros
    ).toDF("doc_id", "text", "is_train")
    val out = TextAnalysis.lmPerplexity(docs, "doc_id", "text", col("is_train"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out(1) == ((2L, 1L, math.rint(math.log(4.0 / 3) * 1e6) / 1e6)))
    assert(out(2) == ((3L, 1L, math.rint(math.log(2.0) * 1e6) / 1e6)))
    assert(out(3) == ((4L, 0L, 0.0)))
    // in-distribution text must score better (lower nll) than OOV text
    assert(out(1)._3 < out(2)._3)
  }

  test("gopherRuleCard: each rule trips on its own boundary case") {
    // 60 words, mean word length 4.1, stopwords {the, that} — passes all
    val sixty = ("the quick brown fox jumps over that lazy dog today " * 6).trim
    val cases = Seq(
      // (doc_id, text, failing rule column or "" for pass)
      (1L, sixty, ""),
      (2L, "the cat is on a mat", "r1_word_count"),             // 6 words < 50
      (3L, ("a " * 60).trim, "r2_word_len"),                    // mean len 1 < 3
      (4L, sixty + " " + ("# " * 10).trim, "r3_symbols"),       // 10 hashes / 70 words
      (5L, sixty.replaceAll("fox|dog|lazy", "123"), "r4_alpha"), // 30% digit words
      (6L, ("zz qq ww rr ss tt " * 10).trim, "r5_stopwords"))
    val df = spark.createDataFrame(cases.map(c => (c._1, c._2))).toDF("doc_id", "text")
    val rows = TextAnalysis.gopherRuleCard(df, "doc_id", "text", minWords = 50)
      .collect().map(r => r.getLong(0) -> r).toMap
    cases.foreach { case (id, _, failing) =>
      val row = rows(id)
      val pass = row.getInt(row.fieldIndex("pass"))
      if (failing.isEmpty) assert(pass == 1, s"doc $id should pass: $row")
      else {
        assert(pass == 0, s"doc $id should fail: $row")
        assert(row.getInt(row.fieldIndex(failing)) == 0,
          s"doc $id should trip $failing: $row")
      }
    }
    // flag columns are exhaustive: pass == conjunction of the five flags
    rows.values.foreach { r =>
      val flags = Seq("r1_word_count", "r2_word_len", "r3_symbols",
        "r4_alpha", "r5_stopwords").map(f => r.getInt(r.fieldIndex(f)))
      assert(r.getInt(r.fieldIndex("pass")) == flags.min)
    }
    // NULL text is a countable failing row (0 words, pass = 0), not a
    // row of NULL measurements that downstream filters silently drop
    import spark.implicits._
    val nullRow = TextAnalysis.gopherRuleCard(
        Seq((9L, None: Option[String])).toDF("doc_id", "text"),
        "doc_id", "text", minWords = 50)
      .head()
    assert(!nullRow.anyNull, s"null-text row has NULL fields: $nullRow")
    assert(nullRow.getInt(nullRow.fieldIndex("n_words")) == 0 &&
      nullRow.getInt(nullRow.fieldIndex("pass")) == 0)
    // zero-word docs trip r2 explicitly (not just r1): the vacuous
    // 3*0 <= 0 <= 10*0 cross-multiply must not stamp r2 = 1 on a row
    // whose mean_word_len column reads 0.0
    assert(nullRow.getInt(nullRow.fieldIndex("r2_word_len")) == 0,
      s"zero-word doc should fail r2_word_len: $nullRow")
  }

  test("perceptron learns a separable concept to 100% training accuracy") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
    // Separable by construction: positive docs carry 'alphamark', negative
    // docs 'betamark', over shared filler. Enough iterations to converge;
    // dim large enough that a hash collision between the two markers is
    // implausible (and deterministic if it ever happened).
    val filler = "one two three four five six"
    val docs = (1 to 30).map { i =>
      if (i % 2 == 0) (i.toLong, s"$filler alphamark alphamark item$i", 1)
      else (i.toLong, s"$filler betamark betamark item$i", -1)
    }.toDF("doc_id", "text", "y")
    val model = TextAnalysis.perceptronTrain(docs, "doc_id", "text", "y",
      dim = 256, iterations = 10)
    assert(model.count() == 256)
    // score with the learned weights: margin = sum over dims of w_d * x_d,
    // pred = its sign
    val scored = TextAnalysis.hashedBowDims(docs.select("doc_id", "text"),
        Seq("doc_id"), "text", dims = 256)
      .join(model, Seq("dim"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("weight"), lit(0L)) * col("wt")).as("margin"))
      .select(col("doc_id"), when(col("margin") > 0, 1).otherwise(-1).as("pred"))
      .join(docs.select("doc_id", "y"), "doc_id")
      .collect()
    assert(scored.length == 30)
    val wrong = scored.filter(r => r.getInt(r.fieldIndex("pred")) !=
      r.getInt(r.fieldIndex("y")))
    assert(wrong.isEmpty, s"misclassified after training: ${wrong.mkString(",")}")
  }

  test("perceptron training is repartition-invariant (bit-exact weights)") {
    val d = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
      .withColumn("y", org.apache.spark.sql.functions.expr(
        "CASE WHEN size(filter(split(coalesce(text, ''), ' '), x -> x != '')) >= 40 " +
          "THEN 1 ELSE -1 END"))
    def weights(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.perceptronTrain(df, "doc_id", "text", "y",
          dim = 64, iterations = 3)
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val a = weights(d)
    val b = weights(d.repartition(13))
    assert(a == b)
    assert(a.values.exists(_ != 0L), "training should move some weight")
  }

  test("lmPerplexity is repartition-invariant on real docs") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
    val a = TextAnalysis.lmPerplexity(docs, "doc_id", "text",
      col("doc_id") % 4 === 0).orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.lmPerplexity(docs.repartition(7), "doc_id", "text",
      col("doc_id") % 4 === 0).orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(a.forall(_.getDouble(2) >= 0.0)) // -ln(p) of p <= 1
  }

  test("hashedLinearScore: bounds, sign agreement, determinism, seed sensitivity") {
    val docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
    val a = TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = TextAnalysis.hashedLinearScore(docs.repartition(5), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b) // row-local scoring cannot depend on partitioning
    a.foreach { r =>
      val (margin, label) = (r.getDouble(2), r.getInt(3))
      assert(math.abs(margin) <= 1.0) // mean of per-token weights in [-1,1]
      // label decided on the exact integer sum must agree with the margin
      if (margin > 0) assert(label == 1)
      if (margin < 0) assert(label == 0)
    }
    val other = TextAnalysis.hashedLinearScore(docs, "doc_id", "text",
      seed = "graft-qc-OTHER").orderBy("doc_id").collect().toSeq
    assert(a.map(_.getDouble(2)) != other.map(_.getDouble(2)))
  }

  test("hashedLinearScore: empty text scores zero with label 0") {
    val out = Seq((1L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.hashedLinearScore(out, "doc_id", "text").head()
    assert((r.getLong(1), r.getDouble(2), r.getInt(3)) == ((0L, 0.0, 0)))
  }

  test("charEntropy: uniform = ln(k), constant = 0, empty = 0") {
    def h(t: String) =
      one(t).select(TextAnalysis.charEntropy("text")).head().getDouble(0)
    // 4 distinct chars, each p = 1/4 -> ln(4)
    assert(math.abs(h("abcd") - math.log(4)) < 1e-5)
    assert(h("aaaa aaaa") == 0.0) // single repeated char (spaces excluded)
    assert(h("") == 0.0)
    assert(h("   ") == 0.0)
    // two chars at p = (3/4, 1/4)
    val want = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert(math.abs(h("aaab") - want) < 1e-5)
    // diverse text carries more entropy than repetitive text
    assert(h("the quick brown fox") > h("ab ab ab ab ab ab"))
  }

  test("chunk retrieval: planted twin chunk scores 1.0, ranking is monotone, k bound holds") {
    import spark.implicits._
    val shared = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " tail words here"),               // query doc
      (2L, shared),                                    // exact twin of chunk 0
      (3L, (1 to 15).map(i => s"tok$i").mkString(" ") +
        " " + (1 to 15).map(i => s"zzz$i").mkString(" ")), // half overlap
      (4L, (1 to 30).map(i => s"other$i").mkString(" ")))  // disjoint
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkRetrieval(docs, "doc_id", "text",
        chunkTokens = 30, strideTokens = 20, dims = 64,
        queryDocId = 1L, queryChunkIdx = 0, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length <= 3)
    // descending, with the exact twin first at cosine ~1.0
    assert(got.head._1 == 2L && math.abs(got.head._3 - 1.0) < 1e-9)
    assert(got.map(_._3).toSeq.sliding(2).forall {
      case Seq(a, b) => a >= b
      case _ => true
    })
    // the half-overlap doc ranks above anything from the disjoint doc
    val r3 = got.indexWhere(_._1 == 3L)
    val r4 = got.indexWhere(_._1 == 4L)
    assert(r3 >= 0 && (r4 == -1 || r3 < r4))
    // both families produce a valid self-consistent ranking (vectors
    // differ across hash families, so only STRUCTURE is compared)
    val xx = TextAnalysis.chunkRetrieval(docs, "doc_id", "text",
        chunkTokens = 30, strideTokens = 20, dims = 64,
        queryDocId = 1L, queryChunkIdx = 0, k = 3,
        family = graft.functions.HashFamily.Xx64)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(xx.head._1 == 2L && math.abs(xx.head._2 - 1.0) < 1e-9)
  }
}
