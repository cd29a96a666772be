package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Product-quantization invariants: deterministic training (same data →
  * bit-identical codebooks), m-byte codes in range, and the two-phase
  * ADC + exact-rerank pipeline reproducing brute-force top-k on
  * clustered data at a single-digit margin. */
class PqSpec extends SparkTestBase {
  import spark.implicits._

  // 12 well-separated cluster centers in 16 dims, 20 members each, with
  // small deterministic perturbations — the realistic (clusterable)
  // embedding shape where PQ earns its 16-32x compression
  private def clustered() = {
    val rows = for {
      c <- 0 until 12
      i <- 0 until 20
    } yield {
      val base = Array.tabulate(16) { d =>
        math.sin(c * 2.17 + d * 0.91).toFloat * 2f
      }
      val vec = base.zipWithIndex.map { case (x, d) =>
        x + 0.05f * math.cos(i * 1.3 + d * 0.7).toFloat
      }
      ((c * 20 + i).toLong, vec.toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("training is deterministic; codes are m bytes in [0, ksub)") {
    val e = clustered()
    val m1 = VectorOps.pqTrain(e, "vec_id", "embedding", m = 4, ksub = 8,
      iterations = 3)
    val m2 = VectorOps.pqTrain(e, "vec_id", "embedding", m = 4, ksub = 8,
      iterations = 3)
    assert(m1 == m2, "same data must train bit-identical codebooks")
    assert(m1.m == 4 && m1.dsub == 4 && m1.codeBytes == 4)
    assert(m1.books.forall(b => b.nonEmpty && b.size <= 8 &&
      b.forall(_.length == 4)))
    val codes = VectorOps.pqEncode(e, "vec_id", "embedding", m1).collect()
    assert(codes.length == 240)
    codes.foreach { r =>
      val c = r.getSeq[Int](1)
      assert(c.length == 4 && c.forall(x => x >= 0 && x < 8), c.toString)
    }
    // members of one tight cluster share their code word
    val byLabel = VectorOps.pqEncode(e, "vec_id", "embedding", m1)
      .join(e.select("vec_id", "label"), "vec_id")
      .groupBy("label").agg(countDistinct("pq_code").as("n_codes"))
      .collect().map(r => r.getAs[Long]("n_codes"))
    // tight clusters mostly collapse onto one code word (a cluster that
    // straddles a codebook boundary in some subspace may fan out — with
    // ksub = 8 books over 12 clusters at least one must)
    assert(byLabel.count(_ <= 2) >= 9, byLabel.mkString(","))
  }

  test("IVFADC: clustered data routes at nprobe 3 of 8 — exact top-k through the list cut") {
    val e = clustered()
    val query = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val model = VectorOps.ivfPqTrain(corpus, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8, iterations = 3)
    assert(model.nlist <= 8 && model.pq.m == 4)
    val codes = VectorOps.ivfPqEncode(corpus, "vec_id", "embedding", model)
    // encode sanity: list ids in range, members of a tight cluster share
    // their list (the router is what makes nprobe selective)
    val listsPerLabel = codes.join(e.select("vec_id", "label"), "vec_id")
      .groupBy("label").agg(countDistinct("list_id").as("n"))
      .collect().map(_.getAs[Long]("n"))
    // 12 clusters share 8 lists, so coarse centroids merge some and may
    // split one that straddles a boundary — most must still route whole
    assert(listsPerLabel.count(_ == 1) >= 9, listsPerLabel.mkString(","))
    val got = VectorOps.ivfPqTopK(corpus, codes, "vec_id", "embedding",
        model, query, k = 10, nprobe = 3, margin = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = bruteTopK(corpus, query, 10)
    assert(got == brute, s"\ngot:   $got\nbrute: $brute")
  }

  test("IVFADC written index: a probe plans ONLY probed-list files (the 100TB layout)") {
    val e = clustered()
    val query = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val model = VectorOps.ivfPqTrain(corpus, "vec_id", "embedding",
      nlist = 8, m = 4, ksub = 8, iterations = 3)
    val codes = VectorOps.ivfPqEncode(corpus, "vec_id", "embedding", model)
    val path = tempDir("graft-ivfpq")
    VectorOps.ivfPqWriteIndex(codes, path)
    val nLists = codes.select("list_id").distinct().count()
    // probe-only read: the planned file set lives entirely under probed
    // directories — the driver never lists the others
    val probedRead = VectorOps.ivfPqReadLists(spark, path,
      Seq(0, 1, 2, 3, 4, 5, 6, 7).take(3)).get
    val probedDirs = Set("list_id=0", "list_id=1", "list_id=2")
    assert(probedRead.inputFiles.nonEmpty &&
      probedRead.inputFiles.forall(f => probedDirs.exists(f.contains)),
      probedRead.inputFiles.take(3).mkString(","))
    val fullRead = spark.read.parquet(path)
    assert(probedRead.inputFiles.length < fullRead.inputFiles.length,
      s"probe must plan fewer files: ${probedRead.inputFiles.length} vs ${fullRead.inputFiles.length}")
    assert(nLists >= 4, s"router degenerate: $nLists lists")
    // and the indexed search still reproduces brute top-k
    val got = VectorOps.ivfPqTopKIndexed(corpus, path, "vec_id", "embedding",
        model, query, k = 10, nprobe = 3, margin = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bruteTopK(corpus, query, 10))
  }

  private def bruteTopK(corpus: org.apache.spark.sql.DataFrame,
                        query: Array[Float], k: Int): Seq[(Long, Double)] = {
    val q = typedLit(query.toSeq)
    val dot = "aggregate(zip_with(embedding, q_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val n1 = "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val n2 = "sqrt(aggregate(q_vec, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
    corpus.withColumn("q_vec", q)
      .selectExpr("vec_id", s"round($dot / ($n1 * $n2), 6) AS cosine")
      .orderBy(col("cosine").desc, col("vec_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  test("ADC + exact rerank reproduces brute top-k at margin 4 on clustered data") {
    val e = clustered()
    val query = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
    val model = VectorOps.pqTrain(corpus, "vec_id", "embedding", m = 4,
      ksub = 8, iterations = 3)
    val codes = VectorOps.pqEncode(corpus, "vec_id", "embedding", model)
    val got = VectorOps.pqTopK(corpus, codes, "vec_id", "embedding",
        model, query, k = 10, margin = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val q = typedLit(query.toSeq)
    val dot = "aggregate(zip_with(embedding, q_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (a, v) -> a + v)"
    val n1 = "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    val n2 = "sqrt(aggregate(q_vec, CAST(0 AS DOUBLE), (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
    val brute = corpus.withColumn("q_vec", q)
      .selectExpr("vec_id", s"round($dot / ($n1 * $n2), 6) AS cosine")
      .orderBy(col("cosine").desc, col("vec_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == brute, s"\ngot:   $got\nbrute: $brute")
  }

  test("q_v21 receipt: planted clusters probe 4 of 16 lists — file cut <= nprobe/nlist + eps, exact top-k") {
    // the q_v21 construction verbatim: 16 tight well-separated clusters
    // from vec_id arithmetic, 320 vectors
    val plantExpr = "transform(sequence(0, 15), d -> CAST(" +
      "((vec_id % 16) * 2897 + d * 541 + 3) % 17 - 8 + " +
      "(((vec_id * 13 + d * 7) % 9) - 4) / 64.0D AS FLOAT))"
    val planted = spark.range(320).select(col("id").as("vec_id"))
      .withColumn("embedding", expr(plantExpr))
    val queryVec = Array.tabulate(16)(d =>
      (((5 % 16) * 2897 + d * 541 + 3) % 17 - 8 +
        (((5 * 13 + d * 7) % 9) - 4) / 64.0).toFloat)
    val corpus = planted.filter(col("vec_id") =!= 5)
    val model = VectorOps.ivfPqTrain(corpus, "vec_id", "embedding",
      nlist = 16, m = 4, ksub = 16, iterations = 3)
    val codes = VectorOps.ivfPqEncode(corpus, "vec_id", "embedding", model)
    val path = tempDir("graft-v21")
    VectorOps.ivfPqWriteIndex(codes, path)
    // the FILE cut: the probed read plans at most nprobe/nlist + eps of
    // the index's files (eps absorbs list-size imbalance)
    val probedLists = VectorOps.probeTables(model, queryVec, 4).keySet.toSeq.sorted
    assert(probedLists.size == 4)
    val probedFiles = VectorOps.ivfPqReadLists(spark, path, probedLists)
      .get.inputFiles.length
    val allFiles = spark.read.parquet(path).inputFiles.length
    assert(probedFiles.toDouble / allFiles <= 4.0 / 16 + 0.1,
      s"probe planned $probedFiles of $allFiles index files")
    // and the 4-of-16 probe is still EXACT against brute force
    val got = VectorOps.ivfPqTopKIndexed(corpus, path, "vec_id", "embedding",
        model, queryVec, k = 10, nprobe = 4, margin = 32)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == bruteTopK(corpus, queryVec, 10), s"got $got")
  }

  test("training refuses a corpus smaller than the seed counts — loudly, not silently") {
    // r14 ADVICE: the requires validated only the trainSample PARAMETER;
    // a small corpus silently trained fewer centroids than requested
    val tiny = clustered().filter(col("vec_id") < 4)
    val e1 = intercept[IllegalArgumentException] {
      VectorOps.pqTrain(tiny, "vec_id", "embedding", m = 4, ksub = 8)
    }
    assert(e1.getMessage.contains("corpus has only 4 rows"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VectorOps.ivfPqTrain(tiny, "vec_id", "embedding", nlist = 8, m = 4,
        ksub = 4)
    }
    assert(e2.getMessage.contains("corpus has only 4 rows"), e2.getMessage)
  }

  test("an all-zero vector in the rerank shortlist scores cosine 0, never NaN") {
    val e = clustered()
    val query = e.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val corpus = e.filter(col("vec_id") =!= 0)
      .union(Seq((999L, Seq.fill(16)(0f), 99)).toDF("vec_id", "embedding", "label"))
    val model = VectorOps.pqTrain(corpus, "vec_id", "embedding", m = 4,
      ksub = 8, iterations = 3)
    val codes = VectorOps.pqEncode(corpus, "vec_id", "embedding", model)
    // margin 240 puts EVERY row (the zero vector included) in the
    // exact-rerank shortlist
    val got = VectorOps.pqTopK(corpus, codes, "vec_id", "embedding",
        model, query, k = 240, margin = 240)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.forall(!_._2.isNaN), s"NaN cosine in ${got.toSeq}")
    assert(got.find(_._1 == 999L).exists(_._2 == 0.0d),
      s"zero vector must score 0: ${got.find(_._1 == 999L)}")
  }
}
