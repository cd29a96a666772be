package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Properties of the corpus-preparation operators that the DuckDB oracles
  * can't express: split stability under corpus growth, the cross-partition
  * total order of the deterministic shuffle, and the packing overflow
  * bound.
  */
class PipelineSpec extends SparkTestBase {

  private def docs = spark.read.parquet(s"${sfDir("0.01")}/documents.parquet")

  test("hexThresholds: cumulative 4-hex-digit split boundaries") {
    assert(Pipeline.hexThresholds(Seq(0.8, 0.1, 0.1)) == Seq("cccd", "e666"))
    assert(Pipeline.hexThresholds(Seq(0.5, 0.5)) == Seq("8000"))
  }

  test("hashSplit: fractions are roughly honored and rows are preserved") {
    val split = Pipeline.hashSplit(docs, "doc_id", "s1",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == docs.count())
    val train = counts.getOrElse("train", 0L).toDouble / counts.values.sum
    assert(train > 0.7 && train < 0.9, s"train fraction $train out of range")
    assert(counts.keySet == Set("train", "valid", "test"))
  }

  test("hashSplit: membership is stable — growing the corpus never moves a row") {
    val fr = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val full = Pipeline.hashSplit(docs, "doc_id", "s1", fr)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val subset = Pipeline.hashSplit(docs.filter(col("doc_id") < 250), "doc_id", "s1", fr)
      .select("doc_id", "split").collect()
    assert(subset.nonEmpty)
    subset.foreach { r =>
      assert(full(r.getLong(0)) == r.getString(1),
        s"doc ${r.getLong(0)} moved splits when the corpus grew")
    }
  }

  test("deterministicShuffle: global total order across partitions, stable across runs") {
    def runOnce(): Seq[Long] =
      Pipeline.deterministicShuffle(docs, "doc_id", "sh7", 5)
        // monotonically_increasing_id after the per-partition sort encodes
        // (partition, position): range partitions are in key order, so
        // ordering by it reads back the global shuffled order.
        .withColumn("_mid", monotonically_increasing_id())
        .orderBy("_mid").select("doc_id").collect().map(_.getLong(0)).toSeq
    val got = runOnce()
    val expected = docs
      .select(col("doc_id"), Pipeline.shuffleKey(col("doc_id"), "sh7").as("k"))
      .collect().sortBy(_.getString(1)).map(_.getLong(0)).toSeq
    assert(got == expected, "shuffle order is not the seeded md5 permutation")
    assert(runOnce() == got, "shuffle order changed between runs")
    assert(got.sorted == docs.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("packSequences: bins overflow by at most one document, bins contiguous") {
    val budget = 256L
    val packed = Pipeline.packSequences(
      docs.selectExpr("doc_id", "lang",
        "CAST(size(filter(split(text, ' '), x -> x != '')) AS BIGINT) AS n_tokens"),
      "lang", "doc_id", "n_tokens", budget)
    val perBin = packed.groupBy("lang", "bin")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("biggest"))
      .collect()
    assert(perBin.nonEmpty)
    perBin.foreach { r =>
      assert(r.getLong(2) - r.getLong(3) < budget,
        s"bin ${r.get(1)} of ${r.getString(0)} exceeds budget by more than one doc")
    }
    // bins within each group are 0..max with no gaps
    val byLang = perBin.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      val bins = rows.map(_.getLong(1)).sorted.toSeq
      assert(bins == (0L until bins.length).toSeq,
        s"$lang bins not contiguous: ${bins.mkString(",")}")
    }
  }

  test("redact: emails and numbers become typed tags with exact counts") {
    import spark.implicits._
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org about invoice 1234 for 56.78 eur"),
      (2L, "no pii here"),
      (3L, "two mails a@b.co c@d.io and v2")
    ).toDF("id", "text")
    val out = df.select(
      col("id"),
      Pipeline.matchCount(col("text"), Pipeline.EmailRe).as("ne"),
      Pipeline.matchCount(col("text"), Pipeline.NumberRe).as("nn"),
      Pipeline.redact(col("text")).as("r")).orderBy("id").collect()
    assert(out(0).getInt(1) == 1 && out(0).getInt(2) == 2)
    assert(out(0).getString(3) ==
      "mail <EMAIL> about invoice <NUM> for <NUM> eur")
    assert(out(1).getInt(1) == 0 && out(1).getInt(2) == 0)
    assert(out(2).getInt(1) == 2 && out(2).getInt(2) == 1)
    assert(out(2).getString(3) == "two mails <EMAIL> <EMAIL> and v<NUM>")
  }

  test("mixRecipe: allocation stays within budget, sqrt-flattens, small sources multi-epoch") {
    import spark.implicits._
    val corpus = Seq(
      ("big", 1000000L), ("mid", 10000L), ("small", 100L), ("empty", 0L))
      .flatMap { case (s, t) => Seq((s, t)) }
      .toDF("source", "n_tokens")
    val r = Pipeline.mixRecipe(corpus, "source", "n_tokens", budgetTokens = 500000L)
      .collect().map(row => row.getString(0) ->
        ((row.getAs[Long]("n_tokens"), row.getAs[Long]("target_tokens"),
          row.getAs[Long]("epochs_milli")))).toMap
    // integer div allocation never exceeds the budget
    assert(r.values.map(_._2).sum <= 500000L)
    // sqrt weighting: 100x the tokens gets 10x the target (within div rounding)
    assert(math.abs(r("big")._2 - 10 * r("mid")._2) <= 10)
    // a small source repeats (multi-epoch); a big one is subsampled
    assert(r("small")._3 > 1000L, s"small source should multi-epoch: ${r("small")}")
    assert(r("big")._3 < 1000L, s"big source should subsample: ${r("big")}")
    // zero-token sources get nothing and never divide by zero
    assert(r("empty") == ((0L, 0L, 0L)))
  }

  test("wordBlocklistFlagged: fuzz vs a plain-Scala reference over random docs and lists") {
    import spark.implicits._
    // deterministic pseudo-random corpus: words drawn from a small shared
    // vocabulary so list hits, case collisions, repeats, superstring
    // near-misses, AND punctuation/newline/tab-adjacent spellings (the
    // r11 ADVICE under-blocking class) all occur naturally
    val vocab = Vector("alpha", "beta", "GAMMA", "delta", "Alphabet",
      "betamax", "gamma", "x", "", "ALPHA",
      "alpha,", "(gamma)", "beta.", "ALPHA!?", "delta\nalpha", "\tgamma")
    val rnd = new scala.util.Random(1109)
    val docsSeq = (0L until 300L).map { i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val listSeq = Seq("alpha", "Gamma", "nomatch")
    val expected = docsSeq.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("[^\\p{L}\\p{N}]+", -1)
        .filter(_.nonEmpty).toSet
      val hits = toks.intersect(listSeq.map(_.toLowerCase).toSet)
      if (hits.nonEmpty) Some(id -> hits.size.toLong) else None
    }.toMap
    val got = Pipeline.wordBlocklistFlagged(
        docsSeq.toDF("id", "text"), "id", "text", listSeq.toDF("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    assert(expected.nonEmpty && expected.size < 300, "construction must be non-degenerate")
    // punctuation-adjacent plants must actually flag somewhere (guards
    // against the fuzz degenerating into space-only coverage)
    val punctFlagged = docsSeq.filter { case (id, text) =>
      got.contains(id) &&
        !text.toLowerCase.split(" ", -1).filter(_.nonEmpty).toSet
          .exists(listSeq.map(_.toLowerCase).toSet)
    }
    assert(punctFlagged.nonEmpty,
      "no doc was flagged SOLELY via a punctuation-adjacent listed word")
  }

  test("wordBlocklistFlagged: phrase entries match adjacent tokens across any boundary") {
    import spark.implicits._
    val docs = Seq(
      (1L, "prefix two words suffix"),          // space-adjacent: flags
      (2L, "prefix two-words suffix"),          // hyphen boundary: flags
      (3L, "prefix two.words! suffix"),         // punct boundary: flags
      (4L, "two then other words here"),        // both words, NOT adjacent: kept
      (5L, "words two reversed order"),         // wrong order: kept
      (6L, "TWO Words case mangled"),           // case-folded: flags
      (7L, "two words and badsingle too"),      // phrase + single: 2 entries
      (8L, "twowords fused is a different token"), // no boundary at all: kept
      (9L, "")
    ).toDF("id", "text")
    // hyphenated list spelling normalizes to the same phrase (real lists
    // carry hyphenated entries); "?!" has no token and is dropped, not an
    // error (the r12 ADVICE regression: realistic configs must not fail)
    val list = Seq("Two-Words", "badsingle", "?!").toDF("w")
    val flagged = Pipeline.wordBlocklistFlagged(docs, "id", "text", list)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 6L -> 1L, 7L -> 2L),
      s"got $flagged")
    val kept = Pipeline.wordBlocklistFilter(docs, "id", "text", list)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(4L, 5L, 8L, 9L))
  }

  test("wordBlocklistFlagged: three-word phrase needs the full run adjacent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c end"),        // full run: flags
      (2L, "a b x c end"),      // broken run: kept
      (3L, "x a b, c"),         // punct inside the run still adjacent: flags
      (4L, "b c a")             // rotation: kept
    ).toDF("id", "text")
    val flagged = Pipeline.wordBlocklistFlagged(docs, "id", "text",
        Seq("a b c").toDF("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(1L -> 1L, 3L -> 1L), s"got $flagged")
  }

  test("wordBlocklistFilter: word-level not substring, case-folded both sides, distinct counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "contains BadWord in the middle"),            // case-mangled doc side
      (3L, "grassy badwording superbadword"),            // substrings only: KEPT
      (4L, "badword twice badword and OTHERBAD too"),    // 2 distinct, repeat once
      (5L, "")
    ).toDF("id", "text")
    val list = Seq("badword", "OtherBad").toDF("w")      // case-mangled list side
    val flagged = Pipeline.wordBlocklistFlagged(docs, "id", "text", list)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged == Map(2L -> 1L, 4L -> 2L))
    val kept = Pipeline.wordBlocklistFilter(docs, "id", "text", list)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L))
    // the list side broadcasts — the corpus tokens never shuffle for it
    val plan = Pipeline.wordBlocklistFlagged(docs, "id", "text", list)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast semi:\n$plan")
  }

  test("mixRecipe: 100TB-class budgets don't overflow BIGINT (DECIMAL widening)") {
    import spark.implicits._
    // budget 1e12 × w6≈3.16e10 ≈ 3.2e22 — past 2^63, the pre-fix BIGINT
    // multiply died with ARITHMETIC_OVERFLOW under ANSI mode (ADVICE r10
    // #1); the DECIMAL(38,0) path must return the exact BigInt closed form
    val corpus = Seq(("giant", 1000000000L), ("mid", 1000000L))
      .toDF("source", "n_tokens")
    val budget = 1000000000000L
    val r = Pipeline.mixRecipe(corpus, "source", "n_tokens", budget)
      .collect().map(row => row.getString(0) ->
        ((row.getAs[Long]("target_tokens"), row.getAs[Long]("epochs_milli")))).toMap
    val w6g = BigInt(math.round(math.sqrt(1000000000L.toDouble) * 1e6))
    val w6m = BigInt(math.round(math.sqrt(1000000L.toDouble) * 1e6))
    val tw6 = w6g + w6m
    val expGiant = (BigInt(budget) * w6g / tw6).toLong
    val expMid = (BigInt(budget) * w6m / tw6).toLong
    assert(r("giant")._1 == expGiant, s"giant: ${r("giant")} vs $expGiant")
    assert(r("mid")._1 == expMid, s"mid: ${r("mid")} vs $expMid")
    assert(r("giant")._2 == (BigInt(expGiant) * 1000 / 1000000000L).toLong)
    assert(r("mid")._2 == (BigInt(expMid) * 1000 / 1000000L).toLong)
    // same widening in temperatureMix's cap arithmetic: a huge totalTarget
    // over sqrt-weights must not overflow either (2 groups, tiny rows)
    val df = (0L until 40L).map(i => (if (i < 30) "a" else "b", i))
      .toDF("grp", "id")
    val caps = Pipeline.temperatureMix(df, "grp", "id",
        totalTarget = 4000000000000000000L, alpha = 0.5, seed = "ovf")
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // caps exceed group sizes at that target: everything is kept
    assert(caps == Map("a" -> 30L, "b" -> 10L))
  }

  test("materializeMix: full epochs exact, fractional draw deterministic, partitioning-invariant") {
    import spark.implicits._
    // two sources, one big one small, budget forcing multi-epoch on small
    val corpus = ((0L until 300L).map(i => ("big", i, 10L)) ++
      (300L until 320L).map(i => ("small", i, 10L)))
      .toDF("source", "doc_id", "n_tokens")
    val out = Pipeline.materializeMix(corpus, "source", "doc_id", "n_tokens",
      budgetTokens = 2000L, seed = "mm-1")
    val rows = out.select("source", "doc_id", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val recipe = Pipeline.mixRecipe(corpus, "source", "n_tokens", 2000L)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("epochs_milli")).toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case ((src, _), es) =>
      val epochs = es.map(_._3).sorted.toSeq
      val full = (recipe(src) / 1000L).toInt
      // every doc carries exactly the full epochs, plus at most the one
      // fractional epoch, contiguously from 1
      assert(epochs.startsWith(1 to full) &&
        (epochs.length == full || epochs == (1 to (full + 1)).toSeq),
        s"$src: $epochs with ${recipe(src)} milli-epochs")
    }
    // the fractional draw hits a plausible share of the SOURCE'S CORPUS
    // docs (a doc with zero full epochs and a failed draw emits nothing,
    // so the denominator is the corpus, not the output)
    val corpusBySource = Map("big" -> 300, "small" -> 20)
    for ((src, em) <- recipe; frac = em % 1000L; if frac > 100 && frac < 900) {
      val withFrac = rows.filter(_._1 == src).groupBy(_._2)
        .values.count(_.exists(_._3 == (em / 1000L).toInt + 1))
      val n = corpusBySource(src)
      assert(withFrac > 0 && withFrac < n,
        s"$src fractional draw degenerate: $withFrac of $n at $frac/1000")
      // and it tracks the exact milli rate within a generous band
      assert(math.abs(withFrac.toDouble / n - frac / 1000.0) < 0.2,
        s"$src draw rate ${withFrac.toDouble / n} far from ${frac / 1000.0}")
    }
    // deterministic + partitioning-invariant
    val again = Pipeline.materializeMix(corpus.repartition(7), "source",
        "doc_id", "n_tokens", budgetTokens = 2000L, seed = "mm-1")
      .select("source", "doc_id", "epoch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }

  test("packManifest: in-bin offsets are exact prefix sums; both windows share ONE exchange") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"g${i % 3}", 1L + i % 37))
      .toDF("doc_id", "grp", "n_tokens")
    val manifest = Pipeline.packManifest(docs, "grp", "doc_id", "n_tokens", 64L)
    val rows = manifest.collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("bin"),
        r.getAs[Int]("seq_in_bin"), r.getAs[Long]("start_offset"),
        r.getAs[Long]("n_tokens")))
    rows.groupBy(r => (r._1, r._2)).foreach { case ((g, b), rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to sorted.length).toSeq,
        s"($g,$b): seq_in_bin not contiguous")
      // offset r = sum of previous docs' tokens — the loader contract
      sorted.foldLeft(0L) { case (expect, (_, _, _, off, toks)) =>
        assert(off == expect, s"($g,$b): offset $off != $expect")
        expect + toks
      }
    }
    // the (grp, bin) window reuses the (grp) partitioning — hash
    // partitioning on a subset of the clustering keys satisfies it, so
    // the manifest costs NO exchange beyond packing's
    manifest.collect()
    val full = manifest.queryExecution.executedPlan.toString
    val start = full.indexOf("== Final Plan ==")
    val end = full.indexOf("== Initial Plan ==")
    val p = if (start >= 0 && end > start) full.substring(start, end) else full
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected one shared window exchange ($exchanges):\n$p")
  }

  test("redactTyped: a bare number after a dashed phone stays a number") {
    import spark.implicits._
    // the PiiProps document that once read as one four-group phone
    val got = Seq("call +1-555-925-6475 8349 now", "ring +1 212-555-0123 ok",
        "dial +44 20 7946 0958 ok").toDF("text")
      .select(Pipeline.redactTyped(col("text")).as("p"))
      .select(col("p.n_phones"), col("p.n_nums"), col("p.clean"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2))).toSeq
    assert(got == Seq((1, 1, "call <PHONE> <NUM> now"), (1, 0, "ring <PHONE> ok"),
      (1, 0, "dial <PHONE> ok")))
  }

  test("redactTyped: every PII class tags, counts are stage-exact, zero residual") {
    import spark.implicits._
    val hostile = Seq(
      (1L, "mail a.b+c@x.co.uk now"),                       // email
      (2L, "call +44-20-7946-0958 or (212) 555-0123 ok"),   // phones x2
      (3L, "peer 192.168.0.1 via 10.0.0.255 up"),           // ipv4 x2
      (4L, "addr 2001:db8::1 and fe80:1:2:3:4:5:6:7 on"),   // ipv6 x2 (compressed + full)
      (5L, "pi is 3.14159 and port 8080"),                  // numbers x2
      (6L, "all a@b.io +1-555-867-5309 1.2.3.4 2001:db8::2 42"),
      (7L, "clean words only"),
      (8L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val out = hostile.select(col("id"), Pipeline.redactTyped(col("text")).as("p"))
      .select(col("id"), col("p.n_emails"), col("p.n_phones"), col("p.n_ipv4"),
        col("p.n_ipv6"), col("p.n_nums"), col("p.clean"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
          r.getString(6)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._6 == "mail <EMAIL> now")
    assert(out(2L)._2 == 2 && out(2L)._6 == "call <PHONE> or <PHONE> ok")
    assert(out(3L)._3 == 2 && out(3L)._6 == "peer <IPFOUR> via <IPFOUR> up")
    assert(out(4L)._4 == 2 && out(4L)._6 == "addr <IPSIX> and <IPSIX> on")
    assert(out(5L)._5 == 2 && out(5L)._6 == "pi is <NUM> and port <NUM>")
    assert(out(6L) == ((1, 1, 1, 1, 1,
      "all <EMAIL> <PHONE> <IPFOUR> <IPSIX> <NUM>")))
    assert(out(7L) == ((0, 0, 0, 0, 0, "clean words only")))
    assert(out(8L) == ((0, 0, 0, 0, 0, ""))) // null-safe
    // zero residual: no pattern matches anything in any cleaned text
    val residual = hostile.select(Pipeline.redactTyped(col("text")).as("p"))
      .select(
        (Pipeline.matchCount(col("p.clean"), Pipeline.EmailRe) +
          Pipeline.matchCount(col("p.clean"), Pipeline.PhoneRe) +
          Pipeline.matchCount(col("p.clean"), Pipeline.Ipv4Re) +
          Pipeline.matchCount(col("p.clean"), Pipeline.Ipv6Re) +
          Pipeline.matchCount(col("p.clean"), Pipeline.NumberRe)).as("r"))
      .agg(sum("r")).head().getLong(0)
    assert(residual == 0L, "PII survived the typed redaction chain")
  }

  test("groupSample: per-group cap, contiguous ranks, partitioning-invariant") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (if (i % 3 == 0) "a" else "b", i))
      .toDF("grp", "id")
    val sample = Pipeline.groupSample(df, "grp", "id", n = 10, seed = "s7")
    val byGrp = sample.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp == Map("a" -> 10L, "b" -> 10L))
    val ranks = sample.filter(col("grp") === "a")
      .select("sample_rank").collect().map(_.getInt(0)).sorted.toSeq
    assert(ranks == (1 to 10))
    // same rows whatever the physical layout: the sample is a pure
    // function of (seed, id), never of partition arrival order
    val a = sample.select("grp", "sample_rank", "id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val b = Pipeline.groupSample(df.repartition(7, col("id")), "grp", "id",
        n = 10, seed = "s7")
      .select("grp", "sample_rank", "id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(a == b)
    // a small group is returned whole
    val tiny = Pipeline.groupSample(df.limit(3), "grp", "id", n = 10, seed = "s7")
    assert(tiny.count() == 3)
  }

  test("mixSample: per-group caps hold, zero-weight groups drop, sample nests under groupSample") {
    import spark.implicits._
    val df = (1L to 300L).map(i => (Seq("en", "de", "es")(i.toInt % 3), i))
      .toDF("lang", "id")
    val mixed = Pipeline.mixSample(df, "lang",
      caps = Map("en" -> 40, "de" -> 10), idCol = "id", seed = "s7")
    val byLang = mixed.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == Map("en" -> 40L, "de" -> 10L)) // es: weight zero
    // the mix is a PREFIX of the seed-keyed group order: capping de at 10
    // must select exactly the first 10 of groupSample(de, 40)
    val gs = Pipeline.groupSample(df.filter(col("lang") === "de"), "lang",
        "id", n = 40, seed = "s7")
      .filter(col("sample_rank") <= 10)
      .select("id").as[Long].collect().toSet
    val mx = mixed.filter(col("lang") === "de")
      .select("id").as[Long].collect().toSet
    assert(mx == gs)
  }

  test("weightedSample: boundary weights, clamping, determinism") {
    import spark.implicits._
    val df = (1L to 200L).map(i =>
      (i, if (i <= 50) 1.0 else if (i <= 100) 0.0
          else if (i <= 150) 0.5 else 7.0)) // 7.0 clamps to 1.0
      .toDF("id", "w")
    val kept = Pipeline.weightedSample(df, "id", "w", seed = "s7")
      .select("id").as[Long].collect().toSet
    // weight 1 (and clamped >1): always kept; weight 0: never
    assert((1L to 50L).forall(kept), "weight-1 rows must all survive")
    assert((151L to 200L).forall(kept), "clamped weights behave as 1.0")
    assert((51L to 100L).forall(i => !kept(i)), "weight-0 rows must drop")
    // mid weights: some in, some out, and EXACTLY reproducible
    val mid = kept.count(i => i > 100 && i <= 150)
    assert(mid > 0 && mid < 50)
    val again = Pipeline.weightedSample(df.repartition(9), "id", "w", "s7")
      .select("id").as[Long].collect().toSet
    assert(again == kept)
  }

  test("globalSample: TakeOrdered plan, growth stability, partitioning invariance") {
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"d$i")).toDF("id", "payload")
    val sample = Pipeline.globalSample(df, "id", n = 50, seed = "s7")
    // plans as TakeOrderedAndProject — per-partition top-n, no full sort
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val ids = sample.select("id").as[Long].collect().toSet
    assert(ids.size == 50)
    // partitioning cannot change membership
    val ids2 = Pipeline.globalSample(df.repartition(13), "id", 50, "s7")
      .select("id").as[Long].collect().toSet
    assert(ids2 == ids)
    // corpus growth only EVICTS members for hash-smaller new rows — the
    // grown sample is not a reshuffle: old survivors stay
    val grown = df.union((501L to 1000L).map(i => (i, s"d$i")).toDF("id", "payload"))
    val ids3 = Pipeline.globalSample(grown, "id", 50, "s7")
      .select("id").as[Long].collect().toSet
    assert((ids3 -- ids).forall(_ > 500L)) // newcomers only from new rows
    assert((ids & ids3).nonEmpty)
  }

  test("temperatureMix: derived caps match exact arithmetic; alpha<1 flattens the mix") {
    import spark.implicits._
    // 160 a / 40 b / 10 c: sqrt weights 12.649110, 6.324555, 3.162278
    val df = ((1L to 160L).map(i => ("a", i)) ++
      (201L to 240L).map(i => ("b", i)) ++
      (301L to 310L).map(i => ("c", i))).toDF("grp", "id")
    val got = Pipeline.temperatureMix(df, "grp", "id", totalTarget = 100L,
        alpha = 0.5, seed = "s7")
      .groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact caps: w6 = round(sqrt(c)*1e6) -> 12649111, 6324555, 3162278
    // tw6 = 22135944; caps = (100*w6) div tw6 = 57, 28, 14 — group c holds
    // only 10 rows, so its cap is availability-bounded to all 10
    assert(got == Map("a" -> 57L, "b" -> 28L, "c" -> 10L), got.toString)
    // proportional shares would be 76/19/5 — temperature lifts the rare
    // group's share (5% -> 14%) and cuts the dominant one's (76% -> 57%)
    // alpha = 1 reproduces proportional-floor caps
    val prop = Pipeline.temperatureMix(df, "grp", "id", totalTarget = 100L,
        alpha = 1.0, seed = "s7")
      .groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prop == Map("a" -> 76L, "b" -> 19L, "c" -> 4L), prop.toString)
    // selection nests as a prefix of the groupSample order
    val gs = Pipeline.groupSample(df.filter(col("grp") === "c"), "grp",
        "id", n = 14, seed = "s7").select("id").as[Long].collect().toSet
    val tm = Pipeline.temperatureMix(df, "grp", "id", 100L, 0.5, "s7")
      .filter(col("grp") === "c").select("id").as[Long].collect().toSet
    assert(tm == gs)
  }

  test("leakage-safe split: clusters never straddle splits, every doc lands somewhere") {
    val out = graft.SparkEntry.queries("q_sp9_leakage_safe_split")(spark, sfDir("0.001"))
      .collect()
    val totalDocs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet").count()
    assert(out.map(_.getLong(1)).sum == totalDocs) // partition of the corpus
    assert(out.forall(_.getLong(4) == 0L))         // structural zero leakage
    // independent leakage check: recompute pair straddling from scratch
    val pairs = graft.operators.DedupQueries
      .textPairsShared(spark, sfDir("0.001")).select("id_a", "id_b")
    val clusters = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
    val assigned = Pipeline.hashSplit(
      spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
        .select("doc_id").join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id"))),
      "cluster", "graft-leak-3", Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
    val straddle = pairs
      .join(assigned.toDF("id_a", "sa"), "id_a")
      .join(assigned.toDF("id_b", "sb"), "id_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle == 0L)
  }

  test("negativeSample: matches a driver-side global-ring replay, repartition-invariant") {
    import spark.implicits._
    val ids = (1L to 40L).toSeq
    val df = ids.toDF("doc_id")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // plain global hash ring in scala: first rkey >= tkey, else ring start
    val ring = ids.map(i => md5hex(s"ring:s1:$i") -> i).sortBy(_._1)
    val expected = (for {
      a <- ids; j <- 1 to 3
      t = md5hex(s"probe:s1:$a:$j")
      neg = ring.find(_._1 >= t).getOrElse(ring.head)._2
      if neg != a
    } yield (a, j, neg)).toSet
    val got = Pipeline.negativeSample(df, "doc_id", k = 3, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == expected)
    // bucket-local execution is partitioning-independent
    val got7 = Pipeline.negativeSample(df.repartition(7), "doc_id", k = 3, seed = "s1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got7 == expected)
    // a different seed draws a different pair set
    val other = Pipeline.negativeSample(df, "doc_id", k = 3, seed = "s2")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(other != expected)
  }

  test("snapshotDiff classifies added / removed / changed / unchanged exactly") {
    import spark.implicits._
    val prev = Seq((1L, "h1"), (2L, "h2"), (3L, "h3")).toDF("id", "fp")
    val cur = Seq((2L, "h2"), (3L, "h3x"), (4L, "h4")).toDF("id", "fp")
    val got = Pipeline.snapshotDiff(prev, cur, "id", "fp")
      .select("id", "status")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
    // diff of a snapshot against itself is all-unchanged
    val same = Pipeline.snapshotDiff(prev, prev, "id", "fp")
      .filter(col("status") =!= "unchanged").count()
    assert(same == 0)
  }

  test("chunkDocuments: bounds, overlap, full coverage, edge lengths") {
    import spark.implicits._
    def words(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, words(10)),  // n < chunk: one short chunk
      (2L, words(30)),  // n == chunk: exactly one chunk
      (3L, words(31)),  // one past: two chunks, second starts at 21
      (4L, words(70)),  // general: starts 1, 21, 41 (41+30 >= 70)
      (5L, ""))         // empty: no chunks
      .toDF("doc_id", "text")
    val got = Pipeline.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 30, strideTokens = 20)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5)))
      .sortBy(t => (t._1, t._2))
    val byDoc = got.groupBy(_._1)
    assert(byDoc(1L).map(t => (t._3, t._4)).toSeq == Seq((1, 10)))
    assert(byDoc(2L).map(t => (t._3, t._4)).toSeq == Seq((1, 30)))
    assert(byDoc(3L).map(t => (t._3, t._4)).toSeq == Seq((1, 30), (21, 31)))
    assert(byDoc(4L).map(t => (t._3, t._4)).toSeq ==
      Seq((1, 30), (21, 50), (41, 70)))
    assert(!byDoc.contains(5L))
    // chunk text matches its declared bounds; n_tokens consistent
    got.foreach { case (_, _, sw, ew, n, text) =>
      assert(n == ew - sw + 1)
      val ws = text.split(" ")
      assert(ws.length == n && ws.head == s"w$sw" && ws.last == s"w$ew")
    }
    // stride respected: consecutive chunk starts differ by exactly 20
    byDoc.values.foreach { cs =>
      cs.map(_._3).sliding(2).foreach {
        case Array(a, b) => assert(b - a == 20)
        case _ =>
      }
    }
  }
}
