package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Recall/exactness checks for similarity search on sf0.001 embeddings. */
class SimilaritySpec extends SparkTestBase {

  private lazy val emb = spark.read.parquet(sfDir("0.001") + "/embeddings.parquet")
  private lazy val query: Array[Float] =
    emb.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray

  test("brute-force top-k is ordered by cosine desc and self-consistent") {
    val top = SimilaritySearch.bruteForceTopK(
      emb.filter(col("vec_id") =!= 0), "vec_id", "embedding", query, 10).collect()
    assert(top.length == 10)
    val cosines = top.map(_.getDouble(1))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("multiprobe LSH top-k recall >= 0.8 vs brute force") {
    val base = emb.filter(col("vec_id") =!= 0)
    val brute = SimilaritySearch.bruteForceTopK(base, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    // this corpus's 10th neighbor sits near cosine 0.2 — declare that floor
    val ann = SimilaritySearch.lshTopK(base, "vec_id", "embedding", query, 10,
        minCosine = 0.2)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low: ann=$ann brute=$brute")
  }

  test("IVF: nprobe=nlist equals brute force; nprobe=8/16 beats fraction probed") {
    val base = emb.filter(col("vec_id") =!= 0)
    val brute = SimilaritySearch.bruteForceTopK(base, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val idx = SimilaritySearch.ivfIndex(base, "embedding", nlist = 16)
    // probing every list must reproduce brute force exactly
    val full = SimilaritySearch.ivfTopK(idx, "vec_id", "embedding", query,
        k = 10, nprobe = 16)
      .collect().map(_.getLong(0)).toSet
    assert(full == brute, s"nprobe=nlist diverged: $full vs $brute")
    // this corpus is near-isotropic (intra-label mean cosine ~0.02), so the
    // honest bound at half coverage is "better than scanning a random half"
    val probed = SimilaritySearch.ivfTopK(idx, "vec_id", "embedding", query,
        k = 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & probed).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall at 50% probe: ivf=$probed brute=$brute")
  }

  test("IVF recall >= 0.9 at nprobe=2/8 on clustered vectors") {
    // IVF's win needs cluster structure; build a deterministic clustered
    // corpus: 8 well-separated centers in 16-dim, 25 points each.
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for (c <- centers.indices; i <- 0 until 25) yield {
      val v = centers(c).map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)
      (c.toLong * 25 + i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows.head._2.map(_.toFloat)
    val base = df.filter(col("vec_id") =!= 0)
    val brute = SimilaritySearch.bruteForceTopK(base, "vec_id", "embedding", q, 10)
      .collect().map(_.getLong(0)).toSet
    val idx = SimilaritySearch.ivfIndex(base, "embedding", nlist = 8)
    val probed = SimilaritySearch.ivfTopK(idx, "vec_id", "embedding", q,
        k = 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = (brute & probed).size.toDouble / brute.size
    assert(recall >= 0.9, s"clustered IVF recall $recall: ivf=$probed brute=$brute")
  }

  test("knnJoin: IVF-routed batch top-k recovers the brute per-row top-k " +
       "on clustered vectors; candidates stay sub-quadratic") {
    // the q_v22 clustered posture: every row's true neighbors live in its
    // own cluster, so routing the query corpus through nprobe=2 of 8
    // lists must reproduce the exact brute answer — while scoring only
    // the probed fraction of all pairs.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = for (c <- centers.indices; i <- 0 until 25) yield {
      val v = centers(c).map(x => (x + 0.05 * rnd.nextGaussian()).toFloat)
      (c.toLong * 25 + i, v)
    }
    val df = rows.toDF("vec_id", "embedding").localCheckpoint()
    val idx = SimilaritySearch.ivfIndex(df, "embedding", nlist = 8)
    val knn = SimilaritySearch.knnJoin(idx, df, "vec_id", "embedding",
        k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(knn.size == rows.size * 3, "k rows per query")
    // brute referee: exact per-row top-3 via the all-pairs frame
    import org.apache.spark.sql.expressions.Window
    val a = df.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val b = df.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("c6").desc, col("n_id"))
    val brute = a.crossJoin(b).filter(col("q_id") =!= col("n_id"))
      .withColumn("c6", round(round(
        graft.functions.VectorExprs.cosineFast("q_emb", "n_emb"), 6) * 1e6)
        .cast("long"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank")) ->
        r.getAs[Long]("n_id")).toMap
    assert(knn == brute, "IVF-routed kNN join must equal brute per-row top-k")
    // sub-quadratic receipt: the candidate frame is bounded by
    // n * nprobe * max-list-size, well under the n^2 brute pairs
    val listSizes = idx.assigned.groupBy("list_id").count()
      .collect().map(_.getLong(1))
    val candBound = rows.size.toLong * 2 * listSizes.max
    assert(candBound < rows.size.toLong * rows.size / 2,
      s"candidate bound $candBound not sub-quadratic vs ${rows.size.toLong * rows.size}")
  }

  test("ivfAssign matches the MLlib model's list assignment on the corpus") {
    val idx = SimilaritySearch.ivfIndex(emb, "embedding", nlist = 8)
    val fromModel = idx.assigned.select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fromAssign = SimilaritySearch.ivfAssign(emb, "embedding",
        idx.centroids)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fromAssign == fromModel)
  }

  test("snapshot CDC drives IVF maintenance: changes(v1, v2) feeds ivfAppend end-to-end") {
    // the r12 VERDICT #6 composition: incremental index consumers feed
    // from the TABLE'S OWN manifest diff instead of an external changeset
    import graft.sources.SnapshotTable
    val t = java.nio.file.Files.createTempDirectory("graft-cdc-ivf").toString
    val path = t + "/index"
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    SnapshotTable.commitOverwrite(evens, t + "/tbl") // v1
    val built = SimilaritySearch.ivfIndex(
      SnapshotTable.readSnapshot(spark, t + "/tbl", Some(1L)),
      "embedding", nlist = 8)
    SimilaritySearch.ivfWrite(built, path)
    SnapshotTable.commitAppend(odds, t + "/tbl") // v2
    // the CDC read IS the batch: pure-append range → inserts only
    val cdc = SnapshotTable.changes(spark, t + "/tbl", 1L, 2L)
    assert(cdc.filter(col("_change_type") === "delete").count() == 0)
    val batch = cdc.filter(col("_change_type") === "insert").drop("_change_type")
    val report = SimilaritySearch.ivfAppend(spark, path, batch,
      "vec_id", "embedding")
    assert(report.nAppended == odds.count() && report.nDuplicate == 0)
    // index contents ≡ assignment over the CURRENT snapshot
    val gotIds = SimilaritySearch.ivfRead(spark, path).assigned
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val snapIds = SnapshotTable.readSnapshot(spark, t + "/tbl")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(gotIds == snapIds)
    // replaying the SAME version range is idempotent end-to-end (the
    // exactly-once story composes: CDC is deterministic, append dedupes)
    val again = SimilaritySearch.ivfAppend(spark, path,
      SnapshotTable.changes(spark, t + "/tbl", 1L, 2L)
        .filter(col("_change_type") === "insert").drop("_change_type"),
      "vec_id", "embedding")
    assert(again.nAppended == 0 && again.nDuplicate == odds.count())
  }

  test("ivfAppend: O(batch) append ≡ rebuild-with-same-centroids; idempotent; untouched files byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    val path = s"$dir/index"
    def fileMap(): Map[String, Vector[Byte]] = {
      val root = new java.io.File(path)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(root).map(f => f.getPath.stripPrefix(path) ->
        java.nio.file.Files.readAllBytes(f.toPath).toVector).toMap
    }
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    val built = SimilaritySearch.ivfIndex(evens, "embedding", nlist = 8)
    SimilaritySearch.ivfWrite(built, path)
    val before = fileMap()

    val report = SimilaritySearch.ivfAppend(spark, path, odds, "vec_id", "embedding")
    assert(report.nAppended == odds.count() && report.nDuplicate == 0)
    val after = fileMap()
    // every pre-existing file is byte-identical (append never rewrites),
    // and lists the batch didn't touch gained no files
    before.foreach { case (p, bytes) =>
      assert(after.get(p).contains(bytes), s"pre-existing file changed: $p")
    }
    val newFiles = after.keySet -- before.keySet
    val touchedDirs = report.listsTouched.map(l => s"/list_id=$l/").toSet
    assert(newFiles.nonEmpty &&
      newFiles.forall(f => touchedDirs.exists(f.contains)),
      s"appended files outside touched lists: $newFiles")

    // append ∘ read ≡ rebuild with the SAME centroids over the union:
    // identical (id, list) contents and identical probed search results
    val reread = SimilaritySearch.ivfRead(spark, path)
    val gotRows = reread.assigned.select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val expRows = SimilaritySearch.ivfAssign(emb, "embedding",
        built.centroids)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(gotRows == expRows)
    val rebuilt = SimilaritySearch.IvfIndex(
      SimilaritySearch.ivfAssign(emb, "embedding", built.centroids),
      built.centroids)
    val sGot = SimilaritySearch.ivfTopK(reread, "vec_id", "embedding", query,
      k = 10, nprobe = 3).collect().map(_.getLong(0)).toSeq
    val sExp = SimilaritySearch.ivfTopK(rebuilt, "vec_id", "embedding", query,
      k = 10, nprobe = 3).collect().map(_.getLong(0)).toSeq
    assert(sGot == sExp)

    // replay-idempotence: re-appending the same batch converges — zero
    // rows, zero new files, stats sidecar untouched
    val statsBefore = spark.read.parquet(s"${path}__stats").head()
    val again = SimilaritySearch.ivfAppend(spark, path, odds, "vec_id", "embedding")
    assert(again.nAppended == 0 && again.nDuplicate == odds.count())
    assert(fileMap() == after)
    val statsAfter = spark.read.parquet(s"${path}__stats").head()
    assert(statsBefore == statsAfter)
  }

  test("ivfAppend drift gate: a shifted batch recommends re-train, an in-distribution one doesn't") {
    // the gate needs a base whose quantization error is SMALL (clustered
    // data — the case IVF exists for; on a near-random cloud every unit
    // vector already sits at ~max distance and no batch can look worse):
    // same deterministic 8-center construction as the recall test
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivf-drift").toString
    val path = s"$dir/index"
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    def around(id: Long, c: Int): (Long, Seq[Float]) =
      (id, centers(c).map(x => (x + 0.1 * rnd.nextGaussian()).toFloat).toSeq)
    val base = (for (c <- centers.indices; i <- 0 until 25)
      yield around(c.toLong * 25 + i, c)).toDF("vec_id", "embedding")
    val built = SimilaritySearch.ivfIndex(base, "embedding", nlist = 8)
    SimilaritySearch.ivfWrite(built, path)
    // in-distribution: more points around the same centers — no flag
    val inDist = (for (c <- centers.indices; i <- 0 until 5)
      yield around(100000L + c * 5 + i, c)).toDF("vec_id", "embedding")
    val okReport = SimilaritySearch.ivfAppend(spark, path, inDist,
      "vec_id", "embedding")
    assert(!okReport.retrainRecommended,
      s"in-distribution batch flagged: $okReport")
    // distribution shift: alternating-sign unit vectors nowhere near the
    // trained centers
    val shifted = (0 until 50).map { i =>
      (1000000L + i, Array.tabulate(16)(j =>
        if ((i + j) % 2 == 0) 1.0f else -1.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val driftReport = SimilaritySearch.ivfAppend(spark, path, shifted,
      "vec_id", "embedding")
    assert(driftReport.retrainRecommended,
      s"shifted batch not flagged: $driftReport")
    assert(driftReport.batchMse > driftReport.buildMse * 2)
  }

  test("hardNegatives: positive id-excluded, ceiling excludes unlabeled near-positives, queries broadcast") {
    val base = emb.select("vec_id", "embedding")
    def twin(tag: Long, amp: String) = base.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + lit(tag)).as("vec_id"),
        expr("transform(embedding, (x, j) -> " +
          s"CAST(CAST(x AS DOUBLE) + ((vec_id * 31 + j) % 7 - 3) * $amp AS FLOAT))")
          .as("embedding"))
    val queries = twin(500000L, "0.015D")
      .select(col("vec_id").as("query_id"),
        (col("vec_id") - lit(500000L)).as("positive_id"),
        col("embedding").as("q_emb"))
    val corpus = base.unionByName(twin(800000L, "0.030D"))
    val noCeil = SimilaritySearch.hardNegatives(queries, "query_id", "q_emb",
      "positive_id", corpus, "vec_id", "embedding", k = 3)
    val ceiled = SimilaritySearch.hardNegatives(queries, "query_id", "q_emb",
      "positive_id", corpus, "vec_id", "embedding", k = 3, maxCosine = 0.8)
    // WITHOUT the ceiling, the unlabeled near-positive (the +800000 twin
    // of the query's own source) wins rank 1 for every query — exactly
    // the false-negative poisoning the guard exists for; WITH it, no
    // mined negative is a twin of the query's source
    val poisoned = noCeil.filter(col("neg_id") === col("positive_id") + 800000L).count()
    assert(poisoned > 0, "construction should plant winning near-positives")
    assert(ceiled.filter(col("neg_id") === col("positive_id") + 800000L).count() == 0)
    // the labeled positive never appears even without a ceiling
    assert(noCeil.filter(col("neg_id") === col("positive_id")).count() == 0)
    // exactly k per query, ranks contiguous from 1
    val perQ = ceiled.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .collect()
    assert(perQ.forall(r => r.getLong(1) == 3L && r.getInt(2) == 1 && r.getInt(3) == 3))
    // scale shape: the query side broadcasts; the corpus never shuffles
    // before the rank window's query_id exchange
    val plan = ceiled.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"queries must broadcast:\n${plan.take(1500)}")
  }

  test("embeddingNearDupPairs is a subset of brute-force pairs with exact cosines") {
    val brute = SimilaritySearch.allPairsCosine(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = SimilaritySearch.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.keySet.subsetOf(brute.keySet))
    lsh.foreach { case (k, c) => assert(math.abs(brute(k) - c) < 1e-12) }
    if (brute.nonEmpty) {
      val recall = lsh.size.toDouble / brute.size
      assert(recall >= 0.5, s"bucket-join recall $recall vs ${brute.size} brute pairs")
    }
  }

  test("centered hashing finds every planted twin at a true-near-dup threshold") {
    import org.apache.spark.sql.functions._
    // plant twins at cosine ~1 on the real corpus (whose vectors share a
    // large mean component — the regime where uncentered SRP bits lose
    // contrast and background collisions go quadratic)
    val base = emb.select("vec_id", "embedding").orderBy("vec_id").limit(20)
    val twins = base.select((col("vec_id") + 5000000L).as("vec_id"),
      expr("""transform(embedding, (x, i) ->
             |  CAST(x + 0.001 * pmod(hash(vec_id, i), 7) AS FLOAT))""".stripMargin)
        .as("embedding"))
    val planted = emb.select("vec_id", "embedding").unionByName(twins)
    val wanted = base.collect().map(_.getLong(0)).map(i => (i, i + 5000000L)).toSet
    val got = SimilaritySearch.embeddingNearDupPairs(planted, "vec_id", "embedding",
        threshold = 0.9, targetRecall = 0.999, center = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(wanted.subsetOf(got.keySet), s"centered hash missed: ${wanted -- got.keySet}")
    // verification is ORIGINAL-space cosine: every surviving pair clears
    // the declared threshold in the original geometry
    got.values.foreach(c => assert(c >= 0.9))
    // the frame-shrinking variant (exact-key tables, no probing) must hold
    // the same recall contract — tablesForRecall re-tunes the table count
    val noProbe = SimilaritySearch.embeddingNearDupPairs(planted, "vec_id", "embedding",
        threshold = 0.9, targetRecall = 0.999, center = true, multiprobe = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wanted.subsetOf(noProbe), s"no-probe tables missed: ${wanted -- noProbe}")

    // the recall contract is honest about its limits: on a corpus with a
    // LARGE shared mean (every vector shifted by +0.1 per dim — mu2/s2
    // ~0.39, the synthetic-scale regime where centering is needed at all),
    // a declared threshold of 0.4 sits inside the shared-mean background:
    // its centered-space similarity is ~0, unreachable by centered bits,
    // so the call fails fast toward center=false instead of silently
    // missing pairs. The SAME shifted corpus still accepts threshold 0.9
    // (centered estimate ~0.84) — the true-near-dup regime stays open.
    val shifted = planted.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x + 0.1f AS FLOAT))").as("embedding"))
    intercept[IllegalArgumentException](
      SimilaritySearch.embeddingNearDupPairs(shifted, "vec_id", "embedding",
        threshold = 0.4, targetRecall = 0.999, center = true))
    val shiftedTwins = SimilaritySearch.embeddingNearDupPairs(shifted, "vec_id", "embedding",
        threshold = 0.9, targetRecall = 0.999, center = true, multiprobe = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wanted.subsetOf(shiftedTwins), s"shifted-corpus twins missed: ${wanted -- shiftedTwins}")
  }

  test("cost-based planner: brute where banding can't prune, banded where it does") {
    import SimilaritySearch.chooseNearDupStrategy
    // q_v6's regime: weak threshold over near-random vectors — holding
    // recall 0.99999 collides >90% of all pairs, so banding degenerates
    val weak = chooseNearDupStrategy(n = 2000, backgroundCosine = 0.0005,
      threshold = 0.4, bits = 8, targetRecall = 0.99999, multiprobe = true)
    assert(weak.strategy == "brute" && weak.candidateFraction > 0.9, weak)
    // true-near-dup regime at corpus scale: centered background ~0, high
    // threshold — the banded plan prunes to a few percent of pairs
    val strong = chooseNearDupStrategy(n = 100000, backgroundCosine = 0.0,
      threshold = 0.8, bits = 0, targetRecall = 0.999, multiprobe = false)
    assert(strong.strategy == "banded" && strong.candidateFraction < 0.1, strong)
    // tiny corpora never pay banding overhead
    assert(chooseNearDupStrategy(500, 0.0, 0.9, 8, 0.999, false).strategy == "brute")

    // auto dispatch produces the SAME exact pair set as the brute scan in
    // BOTH regimes (the planted corpus: brute by size; forced banded via
    // minBandedCorpus=1 with the exact-key centered config)
    import org.apache.spark.sql.functions.col
    val base = emb.select("vec_id", "embedding").orderBy("vec_id").limit(20)
    val twins = base.select((col("vec_id") + 5000000L).as("vec_id"),
      org.apache.spark.sql.functions.expr(
        """transform(embedding, (x, i) ->
          |  CAST(x + 0.001 * pmod(hash(vec_id, i), 7) AS FLOAT))""".stripMargin)
        .as("embedding"))
    val planted = emb.select("vec_id", "embedding").unionByName(twins)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairSet(SimilaritySearch.allPairsCosine(planted, "vec_id", "embedding", 0.9))
    assert(pairSet(SimilaritySearch.nearDupPairsAuto(planted, "vec_id", "embedding",
      threshold = 0.9, targetRecall = 0.999)) == brute)
    assert(pairSet(SimilaritySearch.nearDupPairsAuto(planted, "vec_id", "embedding",
      threshold = 0.9, targetRecall = 0.999, center = true, multiprobe = false,
      minBandedCorpus = 1)) == brute)
  }

  test("auto-sized bits keep the recall contract and track corpus growth") {
    // bitsForCorpus holds expected bucket occupancy flat: the candidate
    // volume knob that keeps the bucket join linear as a corpus grows
    assert(SimilaritySearch.bitsForCorpus(2000) == 8)     // floor
    assert(SimilaritySearch.bitsForCorpus(205000) == 12)  // 205k/64 ~ 2^11.6
    assert(SimilaritySearch.bitsForCorpus(100000000) == 21)
    // at test-corpus size auto picks the same key space as the fixed
    // default, so the pair set is IDENTICAL — the contract that lets the
    // driver query keep its brute-force oracle while scale callers opt in
    val fixed = SimilaritySearch.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4,
        targetRecall = 0.99999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = SimilaritySearch.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.4,
        bits = 0, targetRecall = 0.99999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == fixed, s"auto-bits diverged: ${auto.size} vs ${fixed.size} pairs")
  }

  test("centered recall holds for BOUNDARY pairs, not just twins; the " +
    "centered-threshold estimate tracks empirically centered cosines") {
    // The recall contract's hard case: pairs at a moderate original cosine
    // whose similarity is PARTLY the shared mean — after centering they sit
    // well below the declared threshold, so a table count tuned in
    // original space would under-provision for exactly these pairs.
    // Corpus: v = m + x with m = 1 per dim (mu2 = d) and x ~ N(0,1)
    // (E|x|^2 = d), so s2 ~ 2d and the background cosine is ~1/2. Planted
    // partners w = m + (a*x + b*z) have centered cosine ~ a/sqrt(a^2+b^2)
    // = 0.75 and original cosine ~ (1 + 0.75)/2 = 0.875 — near-boundary
    // for a declared threshold of 0.8, nowhere near a twin.
    import spark.implicits._
    val d = 32
    val rnd = new scala.util.Random(11)
    def gauss() = Array.fill(d)(rnd.nextGaussian())
    val mean = Array.fill(d)(1.0)
    val xs = Array.fill(220)(gauss())
    val baseRows = xs.zipWithIndex.map { case (x, i) =>
      (i.toLong, x.zip(mean).map { case (a, m) => (a + m).toFloat }.toSeq)
    }
    val (a, b) = (0.75, math.sqrt(1 - 0.75 * 0.75))
    val partnerRows = xs.take(20).zipWithIndex.map { case (x, i) =>
      val z = gauss()
      val w = Array.tabulate(d)(j => (mean(j) + a * x(j) + b * z(j)).toFloat)
      ((i + 10000).toLong, w.toSeq)
    }
    val corpus = spark.createDataset(baseRows ++ partnerRows)
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .repartition(8)

    // 1) the analytic estimate matches empirically centered cosines
    val st = SimilaritySearch.dimStats(corpus, "embedding")
    assert(st.backgroundCosine > 0.35 && st.backgroundCosine < 0.65,
      s"corpus not in the shared-mean regime: ${st.backgroundCosine}")
    val emp = corpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(u: Array[Double], v: Array[Double]): Double = {
      val dot = u.zip(v).map { case (p, q) => p * q }.sum
      dot / math.max(math.sqrt(u.map(p => p * p).sum) *
        math.sqrt(v.map(q => q * q).sum), 1e-12)
    }
    val centeredEmp = emp.map { case (id, v) =>
      id -> v.zip(st.means).map { case (p, m) => p - m } }
    val errs = (0 until 20).map { i =>
      val (u, w) = (emp(i.toLong), emp((i + 10000).toLong))
      val cOrig = cos(u, w)
      val cCentered = cos(centeredEmp(i.toLong), centeredEmp((i + 10000).toLong))
      math.abs(SimilaritySearch.centeredThresholdEstimate(cOrig, st) - cCentered)
    }
    assert(errs.max < 0.15 && errs.sum / errs.size < 0.06,
      s"centered estimate off: max=${errs.max} mean=${errs.sum / errs.size}")

    // 2) recall: every planted pair whose ORIGINAL cosine clears the
    // declared threshold is found by the centered banded plan (both
    // probing modes) — these pairs sit at centered ~0.75, far below
    // where original-space tuning would have placed the table count.
    val wanted = (0 until 20).map { i =>
      (i.toLong, (i + 10000).toLong, cos(emp(i.toLong), emp((i + 10000).toLong)))
    }.filter(_._3 >= 0.8).map(t => (t._1, t._2)).toSet
    assert(wanted.size >= 15, s"construction drifted: only ${wanted.size} planted pairs cleared 0.8")
    for (probe <- Seq(true, false)) {
      val got = SimilaritySearch.embeddingNearDupPairs(corpus, "vec_id", "embedding",
          threshold = 0.8, targetRecall = 0.999, center = true, multiprobe = probe)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wanted.subsetOf(got),
        s"multiprobe=$probe missed boundary pairs: ${wanted -- got}")
    }
  }

  test("marginAlignment: planted twins align mutually with margin > 1") {
    import spark.implicits._
    // left = corpus vectors, right = slightly perturbed twins (+ one decoy
    // per side); every left vector must pick its own twin, mutually.
    val base = emb.limit(20).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val left = base.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val right = base.toSeq.map { case (id, v) =>
      (id + 1000L, v.zipWithIndex.map { case (x, i) =>
        x + (if (i % 7 == 0) 0.001f else -0.001f) }.toSeq)
    }.toDF("vec_id", "embedding")
    val got = SimilaritySearch.marginAlignment(left, right, "vec_id",
        "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getInt(4)))
    assert(got.length == 20)
    got.foreach { case (x, y, margin, mutual) =>
      assert(y == x + 1000L, s"x=$x aligned to $y, not its twin")
      assert(mutual == 1, s"twin pair ($x,$y) not mutual")
      // the twin's cosine ~1 sits far above the top-4 neighborhood mean
      assert(margin > 1.0, s"twin margin $margin not > 1")
    }
  }

  test("marginAlignmentLsh: SRP candidates recover every twin alignment") {
    import spark.implicits._
    val base = emb.limit(30).select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val left = base.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val right = base.toSeq.map { case (id, v) =>
      (id + 1000L, v.zipWithIndex.map { case (x, i) =>
        x + (if (i % 7 == 0) 0.001f else -0.001f) }.toSeq)
    }.toDF("vec_id", "embedding")
    // centered exact-key config (the production SRP regime): candidates
    // above cosine 0.9 are the planted twins; every left vector must
    // still align to its twin through the candidate-bounded scoring
    val got = SimilaritySearch.marginAlignmentLsh(left, right, "vec_id",
        "embedding", k = 4, minCosine = 0.9, targetRecall = 0.999,
        center = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4)))
    assert(got.length == 30, s"expected 30 aligned vectors, got ${got.length}")
    got.foreach { case (x, y, mutual) =>
      assert(y == x + 1000L, s"x=$x aligned to $y, not its twin")
      assert(mutual == 1, s"twin pair ($x,$y) not mutual")
    }
  }

  test("q_v16 registry query: threshold-bounded LSH alignment picks every 1x twin") {
    // The driver-facing scale-path query plants two twins per vector
    // (amplitudes 1x ~0.97 and 2x ~0.88 original cosine, floor 0.85); the
    // bounded scoring must retrieve BOTH (a miss drops or reshapes a row),
    // rank the 1x twin as best, and flag it mutual. Margin > 1 because the
    // winning cosine exceeds the two-candidate neighborhood mean.
    val rows = VectorQueries.queries("q_v16_margin_align_lsh")(spark, sfDir("0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    assert(rows.length == emb.count(), "expected one row per left vector")
    rows.foreach { case (x, y, cosine, margin, mutual) =>
      assert(y == x + 100000L, s"x=$x aligned to $y, not its 1x twin")
      assert(cosine >= 0.85 && mutual == 1 && margin > 1.0,
        s"($x,$y) cosine=$cosine margin=$margin mutual=$mutual")
    }
  }

  test("marginAlignment is repartition-invariant and one row per left vector") {
    val left = emb.filter(col("label") % 2 === 0)
    val right = emb.filter(col("label") % 2 === 1)
    val a = SimilaritySearch.marginAlignment(left, right, "vec_id",
      "embedding", k = 4).orderBy("x_id").collect().toSeq
    val b = SimilaritySearch.marginAlignment(left.repartition(7), right.repartition(3),
      "vec_id", "embedding", k = 4).orderBy("x_id").collect().toSeq
    assert(a == b)
    assert(a.map(_.getLong(0)).distinct.length == a.length)
    assert(a.length == left.count())
  }

  test("q_v10 registry query: exactly one planted-twin pair per vector") {
    // The driver-facing production-SRP query (centered, exact-key, auto
    // bits) must surface precisely the deterministic twins it plants — the
    // corpus itself has no pairs near 0.9 (max pairwise cosine 0.6), so
    // any extra or missing row is a registry-wiring or recall regression.
    val n = emb.count()
    val rows = DedupQueries.queries("q_v10_centered_neardup")(spark, sfDir("0.001"))
      .collect()
    assert(rows.length == n, s"expected $n twin pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 100000L, s"non-twin pair $r")
      assert(r.getDouble(2) >= 0.9, s"below-threshold pair $r")
    }
  }
}
