package graft.operators

import graft.SparkTestBase

/** Hand-folded BPE training/encoding checks on the Sennrich-style toy
  * corpus, plus determinism on real docs.
  */
class TokenizerSpec extends SparkTestBase {

  import spark.implicits._

  // words: low x3, lower x2, newest x1
  private def corpus = Seq(
    (1L, "low low low"), (2L, "lower lower"), (3L, "newest")
  ).toDF("doc_id", "text")

  test("bpeTrain learns the hand-computed merges with deterministic tie-breaks") {
    val got = BpeReference.bpeTrain(corpus, "text", numMerges = 5)
      .map(m => (m.step, m.lhs, m.rhs, m.pairFreq))
    // pair counts by hand: (l,o)=5 ties (o,w)=5 -> lhs order picks (l,o);
    // then (lo,w)=5; then (e,r)=2 ties (low,e)=2 -> "e" < "low";
    // then (low,er)=2; then the five count-1 pairs of 'newest' -> (e,s)
    assert(got == Seq(
      (1, "l", "o", 5L),
      (2, "lo", "w", 5L),
      (3, "e", "r", 2L),
      (4, "low", "er", 2L),
      (5, "e", "s", 1L)), got.toString)
  }

  test("bpeTrain stops early when no pair remains") {
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val got = BpeReference.bpeTrain(tiny, "text", numMerges = 10)
    // one merge exhausts the vocabulary: [a,b] -> [ab], no pairs left
    assert(got.map(m => (m.lhs, m.rhs)) == Seq(("a", "b")))
  }

  test("bpeEncodeCounts applies the merge chain row-locally") {
    val merges = BpeReference.bpeTrain(corpus, "text", numMerges = 5)
    val enc = Seq((1L, "low lower newest"), (2L, ""))
      .toDF("doc_id", "text")
    val got = Tokenizer.bpeEncodeCounts(enc, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // low -> [low] (1), lower -> [lower] (1),
    // newest -> [n, e, w, es, t] (5): merges (e,r)/(low,er) don't apply,
    // (e,s) does — 7 tokens over 3 words
    assert(got == Seq((1L, 3L, 7L), (2L, 0L, 0L)), got.toString)
  }

  test("BPE-aware packing: bins are contiguous and bounded by budget + one doc (real counts)") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val budget = 512L
    val merges = BpeReference.bpeTrain(docs, "text", numMerges = 6)
    val enc = Tokenizer.bpeEncodeCounts(docs, "doc_id", "text", merges)
    val packed = Pipeline.packSequences(
      docs.select(col("doc_id"), col("lang")).join(enc, "doc_id"),
      "lang", "doc_id", "n_tokens", budget)
    val perBin = packed.groupBy("lang", "bin")
      .agg(sum("n_tokens").as("packed"), max("n_tokens").as("biggest"))
      .collect()
    // greedy prefix packing invariant: a bin overflows by at most the doc
    // that crossed the boundary — sum <= budget + that doc's tokens
    perBin.foreach { r =>
      assert(r.getAs[Long]("packed") <= budget + r.getAs[Long]("biggest"),
        s"bin ${r.getAs[Long]("bin")} in ${r.getString(0)} overflows: $r")
    }
    // bins are contiguous from 0 within each language
    val byLang = perBin.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val bins = rows.map(_.getAs[Long]("bin")).sorted.toSeq
      assert(bins == (0L until bins.length).toSeq, s"$lang bins not contiguous: $bins")
    }
    // and the real counts differ from whitespace counts (the composition
    // is not vacuous: BPE fragments words)
    val ws = docs.selectExpr("doc_id",
      "CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_ws")
    val diff = enc.join(ws, "doc_id")
      .filter(col("n_tokens") =!= col("n_ws")).count()
    assert(diff > 0L, "BPE token counts should not equal whitespace counts")
  }

  test("training is partitioning-invariant on real docs") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val a = BpeReference.bpeTrain(docs, "text", numMerges = 4)
    val b = BpeReference.bpeTrain(docs.repartition(7), "text", numMerges = 4)
    assert(a == b)
    assert(a.length == 4)
    // merge frequencies are non-increasing: a later merge can never beat
    // an earlier one at the time it was chosen... but CAN exceed a prior
    // count after symbol fusion creates new mass — so only sanity-check
    // positivity, not monotonicity
    assert(a.forall(_.pairFreq > 0))
  }

  test("bpeTrainLocal ≡ bpeTrain (production trainer pinned to the distributed spec)") {
    // the toy corpus (hand-verified above), a tie-heavy corpus, an
    // exhaustion corpus, and real docs — identical merges INCLUDING
    // pair_freq accounting and tie-breaks at every step
    val tieHeavy = Seq((1L, "abab baba aabb"), (2L, "bbaa abba ab")).toDF("doc_id", "text")
    val exhaust = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    for ((df, n) <- Seq((corpus, 5), (tieHeavy, 8), (exhaust, 10), (docs, 6))) {
      val dist = BpeReference.bpeTrain(df, "text", numMerges = n)
      val local = Tokenizer.bpeTrainLocal(df, "text", numMerges = n)
      assert(local == dist, s"trainer divergence at numMerges=$n:\n  local=$local\n  dist =$dist")
    }
  }

  test("kernel encode ≡ literal-replace spec encode on real docs (and multibyte text)") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val merges = Tokenizer.bpeTrainLocal(docs, "text", numMerges = 6)
    val kernel = Tokenizer.bpeEncodeCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val spec = BpeReference.bpeEncodeCountsSpec(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(kernel == spec)
    // multibyte: symbols are CODE POINTS on both paths (é and 漢 are one
    // symbol each, not two/three UTF-8 bytes)
    val mb = Seq((1L, "héé héé 漢漢字 ascii"), (2L, "ééé")).toDF("doc_id", "text")
    val mbMerges = Tokenizer.bpeTrainLocal(mb, "text", numMerges = 3)
    val mk = Tokenizer.bpeEncodeCounts(mb, "doc_id", "text", mbMerges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ms = BpeReference.bpeEncodeCountsSpec(mb, "doc_id", "text", mbMerges)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mk == ms, s"multibyte divergence:\n  kernel=$mk\n  spec=$ms")
    assert(Tokenizer.bpeTrainLocal(mb, "text", 3) == BpeReference.bpeTrain(mb, "text", 3))
  }

  test("kernel encode at a 1k+-merge vocabulary: plan stays flat, counts are consistent") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    // the synthetic corpus draws from a ~90-word vocabulary, so TRAINING
    // exhausts well before 1k merges (a real 100 TB corpus would not) —
    // extend trained merges with the deterministic chain construction
    // q_t35 uses (all pairwise compositions of the top-32 merged symbols)
    // to reach a 1k+ table; sequential-faithfulness must hold regardless
    // of whether a table is trained or constructed
    val trained = Tokenizer.bpeTrainLocal(docs, "text", numMerges = 5000)
    val syms = trained.take(32).map(m => m.lhs + m.rhs)
    val chains = for { i <- syms.indices; j <- syms.indices } yield (syms(i), syms(j))
    val all = (trained.map(m => (m.lhs, m.rhs)) ++ chains).zipWithIndex
      .map { case ((l, r), k) => Tokenizer.Merge(k + 1, l, r, 1L) }
    assert(all.length >= 1000, s"constructed table too small: ${all.length}")
    val enc = Tokenizer.bpeEncodeCounts(docs, "doc_id", "text", all)
    // the merge table rides as data: the PHYSICAL plan must not grow with
    // the vocabulary (the r11 finding this kernel closes) — compare
    // against the 6-merge plan
    val planBig = enc.queryExecution.executedPlan.toString
    val plan6 = Tokenizer.bpeEncodeCounts(docs, "doc_id", "text", all.take(6))
      .queryExecution.executedPlan.toString
    assert(math.abs(planBig.length - plan6.length) < 200,
      s"plan grows with vocab: ${plan6.length} -> ${planBig.length} chars")
    // a prefix-consistent larger table only fuses further: counts are <=
    // the 6-merge counts, and at least one doc actually got shorter
    val both = enc.withColumnRenamed("n_tokens", "tbig")
      .join(Tokenizer.bpeEncodeCounts(docs, "doc_id", "text", all.take(6))
        .select(col("doc_id"), col("n_tokens").as("t6")), "doc_id")
      .select(sum(when(col("tbig") > col("t6"), 1L).otherwise(0L)).as("worse"),
        sum(when(col("tbig") < col("t6"), 1L).otherwise(0L)).as("better"))
      .head()
    assert(both.getLong(0) == 0L, "a larger prefix-consistent vocab must never fragment more")
    assert(both.getLong(1) > 0L, "the 1k+ table should compress at least one doc vs 6 merges")
    // and the kernel stays spec-faithful at this table size: every
    // distinct word, kernel ≡ plain-Scala literal-replace chain
    val words = docs.select(explode(expr(Dedup.tokensExpr("text"))).as("w"))
      .distinct().collect().map(_.getString(0))
    val codec = Tokenizer.codecOf(all)
    words.foreach { w =>
      assert(codec.tokens(w).toSeq == BpeReference.encodeWordSpec(w, all),
        s"kernel/spec divergence at 1k+ merges on '$w'")
    }
  }
}
