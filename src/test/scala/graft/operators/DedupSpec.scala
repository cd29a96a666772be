package graft.operators

import graft.SparkTestBase

/** Exactness/recall checks for the dedup family on crafted corpora plus the
  * driver testdata at sf0.001.
  */
class DedupSpec extends SparkTestBase {

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val corpus = Seq(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
    2L -> "the quick brown fox jumps over the lazy dog near the river bank tonight", // near-dup of 1
    3L -> "completely different content about spark query engines and shuffles here",
    4L -> "the quick brown fox jumps over the lazy dog near the river bank today", // exact dup of 1
    5L -> "unrelated short text")

  test("minhash-LSH equals brute-force ngram jaccard at threshold 0.7") {
    val lsh = Dedup.minHashNearDuplicates(df(corpus), "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.ngramJaccardPairs(df(corpus), "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
    assert(lsh.contains((1L, 2L)) && lsh.contains((1L, 4L)) && lsh.contains((2L, 4L)))
    assert(!lsh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash-LSH matches brute force on sf0.001 documents") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val lsh = Dedup.minHashNearDuplicates(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == brute)
    assert(lsh.nonEmpty, "sf0.001 corpus should contain planted near-dups")
  }

  test("incremental dedup: batch vs stored index equals full-batch pairs touching the batch") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val old = docs.filter(org.apache.spark.sql.functions.col("doc_id") < 30)
    val fresh = docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 30)
    assert(old.count() > 0 && fresh.count() > 0)
    // persist the index through parquet, as a real pipeline would
    val idxPath = tempDir("lshidx")
    Dedup.lshIndex(old, "doc_id", "text").write.mode("overwrite").parquet(idxPath)
    val index = spark.read.parquet(idxPath)
    val inc = Dedup.incrementalNearDuplicates(fresh, index, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val freshIds = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = Dedup.minHashNearDuplicates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filter(p => freshIds(p._1) || freshIds(p._2))
    assert(inc == full,
      s"incremental=${inc.size} fullTouchingNew=${full.size}")
    assert(inc.nonEmpty, "split should leave cross-batch near-dups")
  }

  test("prefix-filtered similarity join equals brute force exactly") {
    // crafted corpus at two thresholds + the sf0.001 documents: pairs AND
    // jaccard values must match the cross-join ground truth exactly.
    for (t <- Seq(0.5, 0.8)) {
      val fast = Dedup.jaccardSimilarityJoin(df(corpus), "doc_id", "text",
          shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = Dedup.ngramJaccardPairs(df(corpus), "doc_id", "text",
          shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == brute, s"mismatch at threshold $t")
    }
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val fast = Dedup.jaccardSimilarityJoin(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute)
    assert(fast.nonEmpty, "sf0.001 corpus should contain planted near-dups")
  }

  test("containment join equals brute-force directed containment exactly") {
    // corpus at two thresholds + sf0.001 docs: directed pairs AND
    // containment values must match the cross-join ground truth.
    for (t <- Seq(0.5, 0.8)) {
      val fast = Dedup.containmentSimilarityJoin(df(corpus), "doc_id", "text",
          shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val brute = DedupReference.bruteContainmentPairs(df(corpus), "doc_id", "text",
          shingleSize = 2, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fast == brute, s"mismatch at threshold $t")
    }
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val fast = Dedup.containmentSimilarityJoin(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = DedupReference.bruteContainmentPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute)
    assert(fast.nonEmpty, "sf0.001 corpus should contain planted near-dups")
  }

  test("containment is asymmetric: a quoted fragment hits 1.0, the host doc does not") {
    // doc 11 = a strict prefix fragment of doc 10: every shingle of 11 is
    // in 10 (containment 11->10 = 1.0), but 10 has many shingles 11 lacks
    val host = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val cases = Seq(
      10L -> host,
      11L -> "alpha beta gamma delta epsilon zeta",
      12L -> "totally unrelated words about something else entirely")
    val got = Dedup.containmentSimilarityJoin(df(cases), "doc_id", "text",
        shingleSize = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((11L, 10L, 1.0)), got.toString)
    // the symmetric Jaccard join misses this pair at any comparable bar:
    // J = 4/18 — which is exactly why the containment operator exists
    val jac = Dedup.ngramJaccardPairs(df(cases), "doc_id", "text",
        shingleSize = 3, threshold = 0.9)
      .collect()
    assert(jac.isEmpty)
  }

  test("simhash finds exact and near duplicates with small hamming distance") {
    val pairs = Dedup.simHashNearDuplicates(df(corpus), "doc_id", "text", maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val asSet = pairs.map(p => (p._1, p._2)).toSet
    assert(asSet.contains((1L, 4L)), "exact dup must have hamming 0")
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 0)
    assert(asSet.contains((1L, 2L)), "one-word change stays within hamming 8")
  }

  test("simhash hash families (md5 oracle mode, xx64 production) find the same pairs") {
    import graft.functions.HashFamily
    import org.apache.spark.sql.functions.{col, concat, lit}
    // On the crafted corpus (clear near-dups vs unrelated docs) the md5
    // (oracle-check) and xx64 (production default) families must surface
    // the SAME pair set. On a real corpus strict set equality at one cutoff
    // is NOT a property either family has: a pair whose true token
    // similarity puts its expected hamming near (or above) the cutoff can
    // land under it by the luck of one family's per-bit draws — observed on
    // sf0.001, where md5 alone surfaces two pairs of ~12-expected-hamming
    // docs at hamming <= 3. The family-invariant property is about TRUE
    // near-dups: plant one-token variants of real docs and require both
    // families to find every planted pair.
    def pairSet(docsDf: org.apache.spark.sql.DataFrame, maxDist: Int,
                family: String): Set[(Long, Long)] =
      Dedup.simHashNearDuplicates(docsDf, "doc_id", "text", maxDist, family)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(df(corpus), 8, HashFamily.Md5) ==
      pairSet(df(corpus), 8, HashFamily.Xx64))
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
      .select("doc_id", "text")
    val base = docs.orderBy("doc_id").limit(30)
    val variants = base
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzvariantmarker")).as("text"))
    val planted = docs.unionByName(variants)
    val wanted = base.collect().map(_.getLong(0)).map(i => (i, i + 1000000L)).toSet
    Seq(HashFamily.Md5, HashFamily.Xx64).foreach { fam =>
      val got = pairSet(planted, 8, fam)
      assert(wanted.subsetOf(got), s"$fam missed: ${wanted -- got}")
    }
  }

  test("dedupedCorpus drops exactly the non-canonical cluster members") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text")
    val losers = clusters.filter(col("doc_id") =!= col("cluster"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(losers.nonEmpty, "fixture must contain near-dups")
    val kept = Dedup.dedupedCorpus(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.size == docs.count() - losers.size)
    assert((kept & losers).isEmpty, "a dropped doc survived")
    // every cluster's canonical member survives
    val keepers = clusters.select("cluster").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(keepers.subsetOf(kept), s"canonical members dropped: ${keepers -- kept}")
  }

  test("fingerprint hash families agree on exact-dup groups") {
    import graft.functions.HashFamily
    import org.apache.spark.sql.functions.{col, collect_set, size}
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    def groups(family: String): Set[Set[Long]] =
      docs.select(col("doc_id"),
          graft.operators.TextAnalysis.fingerprint60("text", family).as("fp"))
        .groupBy("fp").agg(collect_set("doc_id").as("ids"))
        .filter(size(col("ids")) > 1)
        .collect().map(_.getSeq[Long](1).toSet).toSet
    val g = groups(HashFamily.Md5)
    assert(g == groups(HashFamily.Xx64))
  }

  test("connected components handles chains, cliques, and isolated pairs") {
    import spark.implicits._
    // chain 1-2-3-4-5 (diameter 4: needs multiple propagation rounds),
    // triangle 10-11-12, pair 20-21
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    // default: the bounded driver-side union-find (8 edges << the bound)
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L), s"chain: $got")
    assert((10L to 12L).forall(got(_) == 10L), s"triangle: $got")
    assert(got(20L) == 20L && got(21L) == 20L, s"pair: $got")
    // maxLocalEdges = 0 forces the distributed label-propagation loop:
    // both legs of the cost-based split must produce identical labels
    val distributed = Dedup.connectedComponents(pairs, maxLocalEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distributed == got, s"local/distributed divergence: $distributed vs $got")
  }

  test("nearDupClusters groups the planted duplicates around the min doc id") {
    val clusters = Dedup.nearDupClusters(df(corpus), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(4L) == 1L)
    assert(!clusters.contains(3L) && !clusters.contains(5L), "non-dups excluded")
  }

  test("connected components works through reliable checkpoints too") {
    import spark.implicits._
    val dir = tempDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("graft.checkpoint.reliable", "true")
    try {
      val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L)).toDF("id_a", "id_b")
      val got = Dedup.connectedComponents(pairs, maxLocalEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 5L).forall(got(_) == 1L), s"chain via checkpoint(): $got")
    } finally {
      // The shared test session outlives this suite: pin back the local
      // variant so the now-set checkpoint dir can't flip "auto" elsewhere.
      spark.conf.set("graft.checkpoint.reliable", "false")
    }
  }

  test("connected components refuses to return unconverged labels") {
    import spark.implicits._
    // diameter-4 chain cannot converge in 1 round
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, maxIterations = 1, maxLocalEdges = 0L)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("shingles produce distinct word k-grams; short docs yield empty") {
    import spark.implicits._
    val one = Seq(Tuple1("a b c")).toDF("text")
      .select(Dedup.shingles("text", 2)).head().getSeq[String](0)
    assert(one.toSet == Set("a b", "b c"))
    val short = Seq(Tuple1("only")).toDF("text")
      .select(Dedup.shingles("text", 2)).head().getSeq[String](0)
    assert(short.isEmpty)
  }

  test("winnowing: shared run guarantees a shared fingerprint; families agree; short docs fall back") {
    import spark.implicits._
    // A run of window + k - 1 = 6 shared words yields 4 consecutive shared
    // grams — one full 4-window whose min is the SAME value in both docs
    // (the winnowing coverage guarantee), wherever the run sits.
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      1L -> s"unique lead one two $run closing words here",
      2L -> s"$run completely different tail text around",
      3L -> "tiny doc", // < k words: fingerprints empty
      4L -> "just four small words" // 2 grams < window: global-min fallback
    ).toDF("doc_id", "text")
    for (family <- Seq("md5", "xx64")) {
      val pairs = Dedup.winnowingPairs(docs, "doc_id", "text",
          k = 3, window = 4, minShared = 1, maxDf = 10, family = family)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exactly the planted pair: no other docs share any gram, and a
      // fingerprint can only match where grams match
      assert(pairs == Set((1L, 2L)), s"family=$family got $pairs")
    }
    val fpCounts = docs
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          Dedup.winnowingFingerprintsCol("text", 3, 4)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fpCounts(3L) == 0, s"sub-k doc should fingerprint empty: $fpCounts")
    assert(fpCounts(4L) == 1, s"short doc should keep its global min: $fpCounts")
  }

  test("winnowing pairs are partition-invariant on real docs") {
    val docs = spark.read.parquet(sfDir("0.001") + "/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      Dedup.winnowingPairs(df, "doc_id", "text",
          k = 3, window = 4, minShared = 1, maxDf = 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val a = pairs(docs)
    val b = pairs(docs.repartition(17))
    assert(a == b)
  }

  test("hammingNearDuplicates64: banded recall is exactly brute force at every maxDist") {
    import spark.implicits._
    // deterministic 64-bit signatures: well-spread bases plus planted
    // j-bit flips for j in 0..maxDist+2 — straddling every threshold
    def flip(v: Long, bits: Seq[Int]): Long = bits.foldLeft(v)((a, b) => a ^ (1L << b))
    val bases = (0 until 12).map(i => i.toLong * 0x9E3779B97F4A7C15L + 0xDEADBEEFL)
    val rows = bases.zipWithIndex.flatMap { case (v, i) =>
      val j = i % 8 // planted distance: 0 (exact dup) .. 7
      Seq((i.toLong * 2, v),
        (i.toLong * 2 + 1, flip(v, (0 until j).map(b => (b * 11 + i * 7) % 64).distinct)))
    }
    val sigs = rows.toDF("id", "h")
    // every (maxDist, chunk-geometry) cell must equal brute force —
    // chunks = 0 is the minimal maxDist+1 banding, the wider counts are
    // the combination-key geometries of the r15 VERDICT #1 scale dial
    for ((maxDist, chunksList) <- Seq(
           0 -> Seq(0, 2, 64), 1 -> Seq(0, 3, 10), 3 -> Seq(0, 5, 10),
           5 -> Seq(0, 7, 10), 63 -> Seq(0, 64));
         chunks <- chunksList) {
      val got = Dedup.hammingNearDuplicates64(sigs, "id", "h", maxDist,
          chunks = chunks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = (for {
        a <- rows; b <- rows if a._1 < b._1
        d = java.lang.Long.bitCount(a._2 ^ b._2) if d <= maxDist
      } yield (a._1, b._1, d)).toSet
      assert(got == brute,
        s"maxDist=$maxDist chunks=$chunks\ngot:   $got\nbrute: $brute")
    }
    // carry columns ride through as <col>_a / <col>_b
    val withCarry = Dedup.hammingNearDuplicates64(
      rows.map { case (id, h) => (id, h, s"tag$id") }.toDF("id", "h", "tag"),
      "id", "h", maxDist = 1, carry = Seq("tag"))
      .collect()
    assert(withCarry.nonEmpty && withCarry.forall { r =>
      r.getAs[String]("tag_a") == s"tag${r.getAs[Long]("id_a")}" &&
        r.getAs[String]("tag_b") == s"tag${r.getAs[Long]("id_b")}"
    })
  }

  test("wide combination-key geometry collapses candidate volume on a " +
       "clustered corpus while output pairs stay identical") {
    import spark.implicits._
    // The perceptual-hash pathology (r15 VERDICT #1): signatures CLUSTER.
    // 8 clusters × 80 members, each member the centroid with 6..13 planted
    // bit flips — intra-cluster pairs sit at distance ~6..26, far above
    // maxDist = 4, so they are (almost) never OUTPUT, but under the
    // minimal 5-chunk banding a large fraction still agrees on one narrow
    // 13-bit chunk and floods the candidate join.
    def mix(x: Long): Long = { // splitmix64 finalizer — deterministic
      var z = x + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val rows = for (cl <- 0 until 8; m <- 0 until 80) yield {
      val id = cl * 1000L + m
      val flips = (0 until (6 + (m % 8))).map(j => (mix(id * 97 + j) & 63L).toInt)
      (id, flips.foldLeft(mix(cl.toLong * 7919))((a, b) => a ^ (1L << b)))
    }
    val sigs = rows.toDF("id", "h")
    def run(chunks: Int): (Long, Set[(Long, Long)]) = {
      val (base, cands) = Dedup.hammingCandidates64(
        sigs, "id", "h", maxDist = 4, chunks = chunks)
      try {
        val nCands = cands.count()
        val pairs = cands.filter(org.apache.spark.sql.functions.col("hamming") <= 4)
          .select("id_a", "id_b")
          .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        (nCands, pairs)
      } finally base.unpersist()
    }
    val (candMinimal, pairsMinimal) = run(5)   // maxDist + 1: the before
    val (candCombo, pairsCombo) = run(10)      // C(10,4)=210 keys of ~38 bits
    assert(pairsMinimal == pairsCombo, "geometries must agree on output")
    // the receipt: same output, an order of magnitude fewer candidates —
    // this gap GROWS with cluster size (quadratically under minimal
    // banding), which is what makes the dial the 10^9-corpus survival knob
    assert(candCombo * 10 <= candMinimal,
      s"expected >=10x candidate collapse, got minimal=$candMinimal combo=$candCombo")
  }

  test("hammingCandidates64 releases its signature base when the warm count fails") {
    // the hash column throws at evaluation, so the count that warms the
    // persisted base fails before the caller ever receives it (a range, not
    // a local Seq: the optimizer would evaluate a projection over local
    // rows while planning, before anything is persisted)
    val sigs = spark.range(1, 4)
      .selectExpr("id", "CAST(raise_error('bad signature') AS BIGINT) AS h")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      Dedup.hammingCandidates64(sigs, "id", "h", maxDist = 4)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("pigeonholeChunksAuto: minimal banding for small corpora, wide " +
       "combination keys at scale, bounded expansion everywhere") {
    // small n: the expansion term dominates -> minimal maxDist+1 geometry
    assert(Dedup.pigeonholeChunksAuto(10000L, 64, 4) == 5)
    // web scale: the candidate term dominates -> wide keys (the model
    // widens monotonically: 8 chunks/32-bit keys at 1e9, 9+ at 1e10)
    assert(Dedup.pigeonholeChunksAuto(1000000000L, 64, 4) >= 7)
    assert(Dedup.pigeonholeChunksAuto(10000000000L, 64, 4) >= 9)
    // the dial never exceeds the expansion cap or the bit budget
    for (n <- Seq(0L, 100L, 100000L, 10000000L, 10000000000L);
         d <- Seq(0, 1, 3, 4, 8)) {
      val c = Dedup.pigeonholeChunksAuto(n, 64, d)
      assert(c > d && c <= 16, s"n=$n d=$d -> c=$c")
    }
    // and the auto entry point returns the same pairs as any fixed dial
    import spark.implicits._
    val sigs = (0 until 64).map(i =>
      (i.toLong, i.toLong * 0x9E3779B97F4A7C15L ^ (i % 3).toLong)).toDF("id", "h")
    val auto = Dedup.hammingNearDuplicates64Auto(sigs, "id", "h", maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = Dedup.hammingNearDuplicates64(sigs, "id", "h", maxDist = 4,
        chunks = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed)
  }

  test("simHashNearDuplicates pair set is geometry-invariant (chunks dial)") {
    val base = Dedup.simHashNearDuplicates(df(corpus), "doc_id", "text",
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = Dedup.simHashNearDuplicates(df(corpus), "doc_id", "text",
        maxDist = 3, chunks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == wide)
    val auto = Dedup.simHashNearDuplicatesAuto(df(corpus), "doc_id", "text",
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(base == auto)
  }
}
