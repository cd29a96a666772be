package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** End-to-end curation composition: stage monotonicity, output
  * dedup-freeness, packing bounds, and bit-level rerun determinism.
  */
class CurationSpec extends SparkTestBase {

  private lazy val docs =
    spark.read.parquet(sfDir("0.001") + "/documents.parquet")

  test("curate: monotone survivors, leak-free dedup, bounded bins, deterministic rerun") {
    val out1 = tempDir("graft-curate-1")
    val r1 = Curation.curate(docs, out1, seed = "cur-7", budgetTokens = 256L)

    // stage survivor counts are monotone and non-degenerate
    assert(r1.nInput > 0)
    assert(r1.nAfterQuality <= r1.nInput)
    assert(r1.nAfterExactDedup <= r1.nAfterQuality)
    assert(r1.nAfterNearDedup <= r1.nAfterExactDedup)
    assert(r1.nAfterNearDedup > 0)
    // sf0.001 plants near-dups: the near-dup stage must actually drop some
    assert(r1.nAfterNearDedup < r1.nAfterQuality,
      "dedup stages dropped nothing — planted duplicates missed")
    assert(r1.splitCounts.values.sum == r1.nAfterNearDedup)
    assert(r1.nTokens > 0 && r1.nBins > 0)

    val written = spark.read.parquet(out1)
    assert(written.count() == r1.nAfterNearDedup)

    // the shipped corpus contains NO near-dup pair at the build threshold
    val residual = DedupReference.ngramJaccardPairs(written, "doc_id", "text",
      shingleSize = 2, threshold = 0.7).count()
    assert(residual == 0, s"shipped corpus still has $residual near-dup pairs")

    // packing: every bin holds <= budget + one overflowing doc
    val bins = written.groupBy("split", "shard", "bin")
      .agg(sum("n_tokens").as("toks"), max("n_tokens").as("biggest"))
      .collect()
    bins.foreach { r =>
      assert(r.getLong(3) <= 256L + r.getLong(4),
        s"bin ${r.getString(0)}/${r.getString(1)}/${r.getLong(2)} overflows: ${r.getLong(3)}")
    }

    // rerun: identical report AND identical shipped rows (bit-level)
    val out2 = tempDir("graft-curate-2")
    val r2 = Curation.curate(docs, out2, seed = "cur-7", budgetTokens = 256L)
    assert(r2 == r1)
    val a = written.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(out2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b, "rerun must reproduce the corpus byte-for-byte")

    // a different seed moves split membership (the seed actually flows)
    val out3 = tempDir("graft-curate-3")
    val r3 = Curation.curate(docs, out3, seed = "cur-OTHER", budgetTokens = 256L)
    assert(r3.nAfterNearDedup == r1.nAfterNearDedup) // dedup is seed-free
    assert(r3.splitCounts != r1.splitCounts ||
      spark.read.parquet(out3).orderBy("doc_id").collect().map(_.toSeq).toSeq != a)
  }

  test("curate with decontamination + scrub: monotone stages, zero residual benchmark overlap") {
    val bench = docs.filter(col("doc_id") % 13 === 0)
      .selectExpr("doc_id AS bench_id", "text AS btext")
    val out = tempDir("graft-curate-d")
    val r = Curation.curate(docs, out, seed = "cur-7", budgetTokens = 256L,
      benchmark = Some(bench), scrubWindow = 5)

    // optional-stage counters populate and sit inside the monotone chain
    assert(r.nAfterDecontam >= 0 && r.nAfterDecontam <= r.nAfterQuality)
    assert(r.nAfterScrub >= 0 && r.nAfterScrub <= r.nAfterDecontam)
    assert(r.nAfterExactDedup <= r.nAfterScrub)
    // the benchmark is drawn FROM the corpus, so its source docs must drop
    assert(r.nAfterDecontam < r.nAfterQuality,
      "decontamination dropped nothing despite in-corpus benchmark sources")

    val written = spark.read.parquet(out)
    assert(written.count() == r.nAfterNearDedup && r.nAfterNearDedup > 0)

    // hard guarantee: no survivor's ORIGINAL text shares an 8-gram with
    // the benchmark (decontamination gates on the pre-scrub text)
    val survivorsOrig = docs.join(written.select("doc_id"), "doc_id")
    assert(Dedup.crossCorpusWindowOverlap(survivorsOrig, "doc_id", "text",
      bench, "bench_id", "btext", k = 8).count() == 0)

    // scrub can only shrink: packed token total <= the same docs' original
    val origToks = survivorsOrig
      .selectExpr("size(filter(split(text, ' '), x -> x != '')) AS n")
      .agg(sum("n")).head().getLong(0)
    assert(r.nTokens <= origToks)

    // the default path leaves both stages off and reports -1
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).nAfterDecontam == -1L)
  }

  test("a build that fails at its write releases every frame it persisted") {
    val sc = spark.sparkContext
    val blocker = new java.io.File(tempDir("graft-curate-fail"), "file")
    java.nio.file.Files.writeString(blocker.toPath, "not a directory")
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception] {
      Curation.curate(docs, s"$blocker/out", seed = "cur-7", budgetTokens = 256L)
    }
    assert(sc.getPersistentRDDs.keySet == before)
  }

  test("quality gate drops degenerate docs and only those kinds") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "tiny"),                                     // too few tokens
      (3L, Seq.fill(30)("spam").mkString(" ")),         // no diversity
      (4L, Seq.fill(15)("aa aa").mkString(" "))         // repetition + entropy
    ).toDF("doc_id", "text")
    val kept = Curation.qualityGate(crafted, "text", Curation.QualityConfig())
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L), s"kept $kept")
  }

  test("gopher-card gate: per-rule drop accounting and deterministic rerun") {
    val out1 = tempDir("graft-curate-g1")
    val cfg = Curation.GopherConfig(minWords = 20, maxWords = 100000)
    val r1 = Curation.curate(docs, out1, seed = "cur-7", budgetTokens = 256L,
      gopher = Some(cfg))

    // the report carries all five rules, each with a non-negative count
    val ruleNames = Set("r1_word_count", "r2_word_len", "r3_symbols",
      "r4_alpha", "r5_stopwords")
    assert(r1.ruleDrops.keySet == ruleNames)
    assert(r1.ruleDrops.values.forall(_ >= 0L))
    // per-rule counts bound the gate's total drop: the conjunctive gate
    // can never drop fewer docs than its strictest single rule
    assert(r1.nInput - r1.nAfterQuality >= r1.ruleDrops.values.max)
    assert(r1.nAfterQuality > 0 && r1.nAfterQuality <= r1.nInput)

    // each drop count matches an independent replay of that rule's flag
    val card = TextAnalysis.gopherRuleCard(docs, "doc_id", "text",
      minWords = cfg.minWords, maxWords = cfg.maxWords)
    ruleNames.foreach { rc =>
      val expect = card.filter(col(rc) === 0).count()
      assert(r1.ruleDrops(rc) == expect, s"$rc: ${r1.ruleDrops(rc)} != $expect")
    }
    // and the gate's survivors are exactly the pass=1 ids
    assert(r1.nAfterQuality == card.filter(col("pass") === 1).count())

    // bit-level rerun determinism is preserved with the audited gate on
    val out2 = tempDir("graft-curate-g2")
    val r2 = Curation.curate(docs, out2, seed = "cur-7", budgetTokens = 256L,
      gopher = Some(cfg))
    assert(r2 == r1)
    val a = spark.read.parquet(out1).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(out2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b, "gopher-gated rerun must reproduce the corpus byte-for-byte")
  }

  test("paragraph dedup + repetition gate: stage accounting and deterministic rerun") {
    // Plant cross-doc boilerplate so the paragraph stage has work to do.
    val planted = docs.withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit("\n\n"), lit("subscribe to the newsletter")))
          .otherwise(lit(""))))
    val out1 = tempDir("graft-curate-p1")
    val r1 = Curation.curate(planted, out1, seed = "cur-7",
      budgetTokens = 256L, paragraphDedupStage = true, repetitionGate = true)

    // paragraph stage: every doc keeps its unique body, so none drop;
    // exactly one boilerplate copy survives corpus-wide
    assert(r1.nAfterParagraphDedup == r1.nInput)
    val cleaned = Dedup.paragraphDedup(planted, "doc_id", "text")
    assert(cleaned.filter(col("clean_text")
      .contains("subscribe to the newsletter")).count() == 1L)

    // repetition gate: survivors match an independent card replay over the
    // paragraph-deduped text, and its nine rules join the audit map
    val repNames = Set("r1_dup_lines", "r2_dup_line_chars", "r3_dup_paras",
      "r4_dup_para_chars", "r5_top2gram", "r6_top3gram", "r7_top4gram",
      "r8_dup5gram", "r9_dup10gram")
    assert(repNames.subsetOf(r1.ruleDrops.keySet))
    assert(r1.nAfterRepetition >= 0 &&
      r1.nAfterRepetition <= r1.nAfterQuality)
    assert(r1.nAfterExactDedup <= r1.nAfterRepetition)

    // rerun determinism with both stages on
    val out2 = tempDir("graft-curate-p2")
    val r2 = Curation.curate(planted, out2, seed = "cur-7",
      budgetTokens = 256L, paragraphDedupStage = true, repetitionGate = true)
    assert(r2 == r1)
    val a = spark.read.parquet(out1).orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(out2).orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b, "paragraph+repetition rerun must reproduce the corpus byte-for-byte")
  }

  test("classifier gate composes after the rule gate and reports its survivors") {
    val out = tempDir("graft-curate-c")
    val r = Curation.curate(docs, out, seed = "cur-7", budgetTokens = 256L,
      gopher = Some(Curation.GopherConfig(minWords = 20)),
      classifier = Some(Curation.ClassifierConfig(minMargin = 0.0)))

    // the gate chain stays monotone and the classifier count slots between
    // the quality gate and exact dedup
    assert(r.nAfterClassifier >= 0L)
    assert(r.nAfterClassifier <= r.nAfterQuality)
    assert(r.nAfterExactDedup <= r.nAfterClassifier)
    // the seeded stand-in weights are ~symmetric: the margin>=0 gate must
    // actually split the corpus, not pass or drop everything
    assert(r.nAfterClassifier > 0 && r.nAfterClassifier < r.nAfterQuality)

    // survivors match an independent inference pass at the same seed/dim
    val gateIds = TextAnalysis.gopherRuleCard(docs, "doc_id", "text",
        minWords = 20, maxWords = 100000)
      .filter(col("pass") === 1).select("doc_id")
    val expect = TextAnalysis.hashedLinearScore(
        docs.join(gateIds, Seq("doc_id"), "left_semi"), "doc_id", "text")
      .filter(col("margin") >= 0.0).count()
    assert(r.nAfterClassifier == expect)

    // classifier off -> sentinel, and ruleDrops empty without gopher
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).nAfterClassifier == -1L)
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).ruleDrops.isEmpty)
  }

  test("URL layer leads the pipeline: canonical dedup + blocklist before any text work") {
    import spark.implicits._
    // messy planted URLs: 3 variants per page (UrlQueries construction),
    // so canonical dedup must keep exactly one doc per page
    val withUrls = UrlQueries.withMessyUrl(docs)
    val block = Seq("example.org").toDF("domain")
    val out = tempDir("graft-curate-u")
    val r = Curation.curate(withUrls, out, seed = "cur-7", budgetTokens = 256L,
      urlCol = Some("url"), domainBlocklist = Some(block))

    val nPages = withUrls
      .withColumn("c", UrlOps.canonicalizeUrl(col("url")))
      .select("c").distinct().count()
    assert(r.nAfterUrlDedup == nPages,
      s"URL dedup kept ${r.nAfterUrlDedup}, expected one per page ($nPages)")
    assert(r.nAfterBlocklist < r.nAfterUrlDedup,
      "blocklist dropped nothing despite a planted blocked domain")
    // monotone into the text stages
    assert(r.nAfterQuality <= r.nAfterBlocklist)
    assert(r.nAfterNearDedup > 0)
    // no surviving doc resolves to the blocked domain
    val shipped = spark.read.parquet(out)
    val blocked = shipped
      .withColumn("d",
        UrlOps.registeredDomain(UrlOps.hostOf(UrlOps.canonicalizeUrl(col("url")))))
      .filter(col("d") === "example.org").count()
    assert(blocked == 0L)
    // ROBOTS stage composed into the same build: ONE host's robots
    // disallows the corpus's /a prefix — its pages drop, every other
    // host's survive, and the report carries the count
    val robotsBodies = Seq(("docs.example.io",
      "User-agent: *\nDisallow: /a\n")).toDF("host", "body")
    val rules = UrlOps.parseRobots(robotsBodies, "host", "body")
    val outR = tempDir("graft-cur-robots")
    val rr = Curation.curate(withUrls, outR, seed = "cur-robots",
      urlCol = Some("url"), robotsRules = Some(rules))
    assert(rr.nAfterRobots >= 0 && rr.nAfterRobots < rr.nAfterUrlDedup,
      s"robots dropped nothing: ${rr.nAfterRobots} of ${rr.nAfterUrlDedup}")
    val shippedR = spark.read.parquet(outR)
    assert(shippedR.filter(
        UrlOps.hostOf(UrlOps.canonicalizeUrl(col("url"))) === "docs.example.io")
      .count() == 0L, "a robots-disallowed page shipped")
    assert(shippedR.count() > 0, "robots must not drop the other hosts")
    // sentinel behavior when the layer is off
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).nAfterUrlDedup == -1L)
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).nAfterRobots == -1L)
    intercept[IllegalArgumentException] {
      Curation.curate(docs, out, seed = "x",
        robotsRules = Some(rules))
    }
    intercept[IllegalArgumentException] {
      Curation.curate(docs, out, seed = "x", domainBlocklist = Some(block))
    }
  }

  test("encoding repair leads the text stages: corrupted-input build equals clean-input build") {
    // corrupt a residue class with REAL round-trip mojibake; the repaired
    // pipeline must be indistinguishable from one fed the intended text
    val dirtyPfx = s"caf${TextAnalysis.mojibakeOf("é")}" +
      s"${TextAnalysis.mojibakeOf("’")} "
    val cleanPfx = "café’ "
    def prefixed(p: String) = docs.withColumn("text",
      when(col("doc_id") % 5 === 0, concat(lit(p), col("text")))
        .otherwise(col("text")))

    val outA = tempDir("graft-curate-e1")
    val rA = Curation.curate(prefixed(dirtyPfx), outA, seed = "cur-enc",
      budgetTokens = 256L, encodingRepair = true)
    val outB = tempDir("graft-curate-e2")
    val rB = Curation.curate(prefixed(cleanPfx), outB, seed = "cur-enc",
      budgetTokens = 256L)

    val expected = docs
      .filter(col("doc_id") % 5 === 0 && col("text").isNotNull).count()
    assert(rA.nEncodingRepaired == expected)
    assert(rA.copy(nEncodingRepaired = -1L) == rB,
      "repaired corrupted build must report identically to the clean build")

    val a = spark.read.parquet(outA).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    val b = spark.read.parquet(outB).orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(a == b, "repaired corpus must ship byte-identical to clean input")

    // the shipped corpus carries zero residual mojibake
    val resid = spark.read.parquet(outA).filter(expr(
      s"${TextAnalysis.mojibakeCountExpr("coalesce(text, '')")} > 0")).count()
    assert(resid == 0L)
    // stage off → sentinel, text untouched
    assert(rB.nEncodingRepaired == -1L)
  }

  test("EVERY optional stage on at once: all counts live, report coherent, rerun bit-identical") {
    // the ultimate composition receipt: URL layer + blocklist + encoding
    // repair + PII + caption alignment + paragraph dedup + gopher card +
    // repetition gate + classifier + decontamination + substring scrub,
    // all enabled in one build — no stage pair may interfere, and the
    // whole thing must still be a pure function of (input, seed)
    val g = expr("doc_id div 2")
    val hostsArr = array(Seq("example.com", "blocked.org", "example.io").map(lit): _*)
    val enriched = docs
      .withColumn("url", concat(lit("https://WWW."),
        element_at(hostsArr, (pmod(g, lit(3)) + 1).cast("int")),
        lit("/p/"), g.cast("string"), lit("?utm_source=x&id="), g.cast("string")))
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("caption",
        when(col("doc_id") % 11 === 0, lit("q" * 40))
          .otherwise(expr("substring(text, 1, 96)")))
      .withColumn("text",
        when(col("doc_id") % 13 === 0,
          concat(lit("ping 10.1.2.3 mail a@b.io "), col("text")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" zzqxbad trailer")))
          .otherwise(col("text")))
    val bench = docs.filter(col("doc_id") % 71 === 0)
      .selectExpr("doc_id AS bench_id", "text AS btext")
    def build(out: String) = Curation.curate(enriched, out, seed = "cur-all",
      budgetTokens = 256L,
      benchmark = Some(bench), decontamWindow = 8, scrubWindow = 12,
      gopher = Some(Curation.GopherConfig(minWords = 10)),
      classifier = Some(Curation.ClassifierConfig(minMargin = -1.0)),
      urlCol = Some("url"),
      domainBlocklist = Some {
        val spark2 = spark; import spark2.implicits._
        Seq("blocked.org").toDF("domain")
      },
      paragraphDedupStage = true, repetitionGate = true,
      encodingRepair = true, piiRedact = true,
      captionAlign = Some(Curation.CaptionAlignConfig("payload", "caption")),
      wordBlocklist = Some {
        val spark2 = spark; import spark2.implicits._
        Seq("ZZQXBAD").toDF("word") // case-mangled: folding is load-bearing
      })
    val out1 = tempDir("graft-curate-all1")
    val r1 = build(out1)
    // every optional stage reported (nothing left at the -1 sentinel)
    assert(r1.nAfterUrlDedup > 0 && r1.nAfterBlocklist > 0)
    assert(r1.nEncodingRepaired >= 0 && r1.nPiiRedacted > 0)
    assert(r1.nAfterCaptionAlign > 0 && r1.nAfterParagraphDedup > 0)
    assert(r1.nAfterRepetition >= 0 && r1.nAfterClassifier >= 0)
    assert(r1.nAfterDecontam >= 0 && r1.nAfterScrub >= 0)
    assert(r1.nAfterWordBlocklist > 0 &&
      r1.nAfterWordBlocklist <= r1.nAfterParagraphDedup)
    assert(r1.ruleDrops.size == 14, s"expected 5 gopher + 9 repetition rules: ${r1.ruleDrops.keys}")
    // the pipeline ordering holds: URL work bounds everything after it
    assert(r1.nAfterBlocklist <= r1.nAfterUrlDedup)
    assert(r1.nAfterCaptionAlign <= r1.nAfterBlocklist)
    assert(r1.nAfterNearDedup <= r1.nAfterCaptionAlign)
    // blocked domain really gone, PII really scrubbed, misaligned gone
    val shipped = spark.read.parquet(out1)
    assert(shipped.count() == r1.nAfterNearDedup)
    assert(shipped.filter(col("doc_id") % 11 === 0).count() == 0,
      "a misaligned caption survived the full pipeline")
    assert(shipped.filter(col("text").contains("10.1.2.3")).count() == 0,
      "a planted IPv4 survived the full pipeline")
    assert(shipped.filter(lower(col("text")).contains("zzqxbad")).count() == 0,
      "a word-blocklisted doc survived the full pipeline")
    // bit-identical rerun with all stages on (binary payload compared by
    // digest — Array[Byte] equality in a Row is referential)
    val out2 = tempDir("graft-curate-all2")
    val r2 = build(out2)
    assert(r2 == r1)
    def snapshot(dir: String) = spark.read.parquet(dir)
      .withColumn("payload", md5(col("payload")))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(snapshot(out1) == snapshot(out2),
      "all-stages rerun must reproduce the corpus byte-for-byte")
  }

  test("caption-alignment gate: misaligned pairs drop before any text stage") {
    // payload = text bytes; every 5th doc gets a constant-byte caption
    // (score exactly 0 — below any positive floor), the rest their own
    // prefix. The gate must drop exactly from the planted class and the
    // report must count the survivors.
    val paired = docs.withColumn("payload", encode(col("text"), "UTF-8"))
      .withColumn("caption",
        when(col("doc_id") % 5 === 0, lit("z" * 40))
          .otherwise(expr("substring(text, 1, 96)")))
    val out = tempDir("graft-curate-m")
    val r = Curation.curate(paired, out, seed = "cur-m6",
      budgetTokens = 256L,
      captionAlign = Some(Curation.CaptionAlignConfig("payload", "caption")))
    val nInput = docs.count()
    assert(r.nAfterCaptionAlign > 0 && r.nAfterCaptionAlign < nInput)
    // every misaligned-class doc is gone (its score is exactly 0)
    val shipped = spark.read.parquet(out)
    assert(shipped.filter(col("doc_id") % 5 === 0).count() == 0L)
    // downstream counts are monotone under the gate
    assert(r.nAfterQuality <= r.nAfterCaptionAlign)
    // stage off → sentinel
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).nAfterCaptionAlign == -1L)
  }

  test("PII redaction stage: planted emails counted, none survive to the shipped corpus") {
    // plant an email + a number into one residue class
    val planted = docs.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("contact bob42@example.com code 123 "), col("text")))
        .otherwise(col("text")))
    val out = tempDir("graft-curate-p")
    val r = Curation.curate(planted, out, seed = "cur-7",
      budgetTokens = 256L, piiRedact = true)

    val expected = docs
      .filter(col("doc_id") % 7 === 0 && col("text").isNotNull).count()
    // every planted doc carries PII; other docs are pure lowercase words
    // (no digits, no '@'), so the count is exactly the planted class
    assert(r.nPiiRedacted == expected)

    val shipped = spark.read.parquet(out)
    val residual = shipped.filter(
      Pipeline.matchCount(coalesce(col("text"), lit("")),
        Pipeline.EmailRe) > 0).count()
    assert(residual == 0L, "an email survived redaction into the corpus")
    // the typed tags DID land (the planted class is findable post-scrub)
    assert(shipped.filter(col("text").contains("<EMAIL>")).count() > 0)
    // stage off → sentinel
    assert(Curation.Report(1, 1, 1, 1, Map.empty, 1, 1).nPiiRedacted == -1L)
  }
}
