package graft

import graft.candy.{Fulfillment, InventoryEntry, ItemRow}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Scale smoke: replicate the sf0.1 tables ~10x in memory (≈6M line items,
  * ≈50k documents) and run the two state-heaviest operators — the
  * sequential fulfillment kernel and MinHash-LSH dedup — printing one JSON
  * line of row counts and throughput. Exists to demonstrate the operators'
  * scaling shape beyond the graded sf, not as a graded benchmark.
  * Usage: ScaleSmoke [sfDir] [replication]
  */
object ScaleSmoke {

  /** (count, order-independent checksum) of a pair frame: two paths that
    * emit DIFFERENT pair sets of equal size must not pass the
    * direct-vs-indexed receipt, so the require compares
    * bit_xor(xxhash64(id_a, id_b)) alongside the count (one agg, same
    * pass as the count it replaces). XOR is overflow-free under ANSI mode
    * — a wrapping sum of full-range hashes throws there — and
    * order-independent; pairs are distinct, so cancellation needs a
    * genuine hash collision pair-for-pair.
    */
  private def pairSetReceipt(pairs: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val r = pairs
      .agg(count(lit(1)), expr("bit_xor(xxhash64(id_a, id_b))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val spark = GraftSession.build()
    import spark.implicits._

    // ~6M fulfillment requests: replicate lineitem with shifted order keys so
    // the per-product demand sequences get longer, not just duplicated.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val replicated = spark.range(factor).crossJoin(li)
      .select(
        (col("l_orderkey") + col("id") * 10000000L).as("order_id"),
        date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss").as("order_datetime"),
        col("l_partkey").as("product_id"),
        col("l_quantity").cast("int").as("quantity"),
        (col("l_orderkey") * 100 + col("id")).as("seq"))
      .as[ItemRow]
    val inventory = spark.read.parquet(s"$sfDir/part.parquet")
      .select(col("p_partkey"), (col("p_size") * 5000).as("stock"), col("p_retailprice"))
      .collect().map(r => r.getLong(0) -> InventoryEntry(r.getInt(1), r.getDouble(2))).toMap

    val t0 = System.nanoTime()
    val fulfilled = Fulfillment.run(spark, replicated, inventory)
    val nRows = fulfilled.count()
    val kernelSec = (System.nanoTime() - t0) / 1e9

    // Hot-key kernel skew: ~90% of requests hit ONE product, the SURVEY §9
    // shape where run() serializes the hot product's shuffle+sort+fold
    // through a single task. The skew corpus gets 3x the base replication
    // (~16M hot rows at the default factor). seq is re-derived unique
    // (replicated seq collides across a shared orderkey), and the frame is
    // persisted so the timing covers the fold, not the corpus build.
    val hotPid = 99999999L
    val skewed = spark.range(factor * 3L).crossJoin(li)
      .select(
        (col("l_orderkey") + col("id") * 10000000L).as("order_id"),
        date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss").as("order_datetime"),
        col("l_partkey").as("product_id"),
        col("l_quantity").cast("int").as("quantity"),
        lit(0L).as("seq"))
      .withColumn("seq", monotonically_increasing_id())
      .withColumn("product_id",
        when(pmod(col("seq"), lit(10)) < 9, hotPid).otherwise(col("product_id")))
      .as[ItemRow]
      .persist()
    skewed.count()
    val skewInv = inventory + (hotPid -> InventoryEntry(Int.MaxValue / 2, 3.0))
    val tsp = System.nanoTime()
    Fulfillment.run(spark, skewed, skewInv)
      .agg(sum("quantity"), round(sum("line_total"), 2)).head()
    val skewPlainSec = (System.nanoTime() - tsp) / 1e9
    skewed.unpersist()
    spark.catalog.clearCache()

    // ~50k-docs MinHash-LSH dedup (docs replicated with doc_id offsets, so
    // every original near-dup pair appears factor^2 times across replicas).
    // repartition: range x one-file-parquet cross joins come out as a
    // SINGLE partition (BNLJ streams the parquet side), which would leave
    // every downstream stage single-threaded — the smoke must model a
    // sanely-laid-out corpus, not a pathological one.
    val cores = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bigDocs = spark.range(factor).crossJoin(docs)
      .select((col("doc_id") + col("id") * 10000000L).as("doc_id"), col("text"))
      .repartition(cores)
    val t1 = System.nanoTime()
    val pairs = Dedup.minHashNearDuplicates(bigDocs, "doc_id", "text").count()
    val dedupSec = (System.nanoTime() - t1) / 1e9

    // Exact similarity join at ~50k docs: the prefix-filtered AllPairs
    // path. Brute force here would be ~1.25B pairs — infeasible. Replicas
    // get a disjoint per-shard vocabulary (replica tag fused into every
    // token): corpus growth scales PAIRS linearly (10 shards x original),
    // unlike the identical-copy replication above, which is kept for the
    // minhash entry precisely because banding bounds its per-bucket
    // quadratic — an exact join on 10 identical copies of everything
    // would instead verify factor^2 x the pairs (and did, before this
    // sharding: ~100x the work, spilling past local disk).
    val shardedDocs = spark.range(factor).crossJoin(docs)
      .select(
        (col("doc_id") + col("id") * 10000000L).as("doc_id"),
        array_join(
          transform(
            filter(split(col("text"), " "), (x: org.apache.spark.sql.Column) => x =!= ""),
            x => concat(col("id").cast("string"), lit("_"), x)),
          " ").as("text"))
      .repartition(cores)
    val t2 = System.nanoTime()
    val ssjoinPairs = pairSetReceipt(
      Dedup.jaccardSimilarityJoin(shardedDocs, "doc_id", "text",
        shingleSize = 2, threshold = 0.7))
    val ssjoinSec = (System.nanoTime() - t2) / 1e9

    // Same join through the bucketed prefix-token index: the write pays the
    // token shuffle once (ingest-time); the query path joins exchange-free.
    val idxPath = java.nio.file.Files.createTempDirectory("graft-smoke-d6idx").toString
    val t3 = System.nanoTime()
    Dedup.prefixTokenIndexWrite(shardedDocs, "doc_id", "text",
      name = "graft_smoke_d6idx", shingleSize = 2, threshold = 0.7,
      buckets = cores, externalPath = Some(idxPath))
    val ssjoinIndexBuildSec = (System.nanoTime() - t3) / 1e9
    val t4 = System.nanoTime()
    val idxPairs = pairSetReceipt(
      Dedup.jaccardSimilarityJoinIndexed(spark, "graft_smoke_d6idx", 0.7))
    val ssjoinIndexedSec = (System.nanoTime() - t4) / 1e9
    require(idxPairs == ssjoinPairs,
      s"indexed similarity join diverged: $idxPairs vs $ssjoinPairs (count, checksum)")
    spark.sql("DROP TABLE IF EXISTS graft_smoke_d6idx_tokens")
    spark.sql("DROP TABLE IF EXISTS graft_smoke_d6idx_sets")

    // Directed containment at ~50k docs, direct vs indexed: the sharded
    // corpus gets a planted inclusion per 10th doc (the q_d9 shape), so the
    // pair count is non-trivial and both paths must agree exactly. The
    // index write pays the ranked-token shuffle once; the query path joins
    // exchange-free on the bucketed token table.
    // Planted ids must clear the replica id space (doc_id + id * 1e7):
    // a fixed offset collides once factor > offset/1e7, and a duplicated
    // doc_id silently interleaves two documents' ranked tokens in BOTH
    // paths — the direct-vs-indexed require would still pass on the
    // identically-corrupted counts. Derive the offset from the corpus.
    val plantedOffset = {
      val maxId = shardedDocs.agg(max(col("doc_id"))).head.getLong(0)
      // round up to the next 1e8 boundary so planted ids are visually
      // distinct in any debug dump
      ((maxId / 100000000L) + 1L) * 100000000L
    }
    val contDocs = shardedDocs.unionByName(
        graft.operators.PipelineQueries.plantedFragments(shardedDocs,
          offset = plantedOffset))
      .repartition(cores)
    val t5 = System.nanoTime()
    val contPairs = pairSetReceipt(
      Dedup.containmentSimilarityJoin(contDocs, "doc_id", "text",
        shingleSize = 3, threshold = 0.6))
    val contSec = (System.nanoTime() - t5) / 1e9
    val d9Path = java.nio.file.Files.createTempDirectory("graft-smoke-d9idx").toString
    val t6 = System.nanoTime()
    Dedup.containmentIndexWrite(contDocs, "doc_id", "text",
      name = "graft_smoke_d9idx", shingleSize = 3, buckets = cores,
      externalPath = Some(d9Path))
    val contIndexBuildSec = (System.nanoTime() - t6) / 1e9
    val t7 = System.nanoTime()
    val contIdxPairs = pairSetReceipt(
      Dedup.containmentSimilarityJoinIndexed(spark, "graft_smoke_d9idx", 0.6))
    val contIndexedSec = (System.nanoTime() - t7) / 1e9
    require(contIdxPairs == contPairs,
      s"indexed containment join diverged: $contIdxPairs vs $contPairs (count, checksum)")
    spark.sql("DROP TABLE IF EXISTS graft_smoke_d9idx_tokens")
    spark.sql("DROP TABLE IF EXISTS graft_smoke_d9idx_sets")

    // Skew stress: ~95% of fact rows share ONE key, and broadcast is
    // disabled so the join must shuffle — the shape where a hot key pins
    // a whole reducer. (The hot partition stays under AQE's 256 MB
    // skewed-partition threshold, so AQE does not split it — salting is
    // the mitigation being measured.) Both variants must agree exactly.
    val nFact = 2000000L * factor
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (plainSec, saltedSec) = try {
      val fact = spark.range(nFact).select(
        col("id"),
        when(pmod(col("id"), lit(20)) < 19, 0L)
          .otherwise(pmod(col("id"), lit(10000))).as("key"),
        (col("id") % 97).cast("double").as("v"))
      val dim = spark.range(10000).select(
        col("id").as("key"), (col("id") % 13).cast("double").as("w"))
      def timeSum(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
        val t = System.nanoTime()
        val s = df.agg(sum(col("v") * col("w"))).head().getDouble(0)
        (s, (System.nanoTime() - t) / 1e9)
      }
      val (plainSum, pSec) = timeSum(fact.join(dim, "key"))
      val (saltedSum, sSec) = timeSum(graft.operators.Joins.saltedJoin(
        fact, dim, "key", saltFactor = 32,
        saltExpr = pmod(hash(col("id")), lit(32))))
      require(math.abs(plainSum - saltedSum) < 1e-6 * math.abs(plainSum),
        s"salted join diverged: $saltedSum vs $plainSum")
      (pSec, sSec)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

    // ANN at scale: ~500k hash-perturbed replicas of the embedding corpus
    // (perturbation keeps replicas distinct so top-k is non-trivial), one
    // query vector, three search paths. Brute force is the exact truth;
    // LSH and IVF report time + recall against it. The IVF index build
    // (k-means on a 5% sample + one assignment scan) is timed separately —
    // at corpus scale it amortizes over every query served.
    import graft.operators.SimilaritySearch
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queryVec = emb.filter(col("vec_id") === 0)
      .select("embedding").head().getSeq[Float](0).toArray
    val annFactor = factor * 25 // the embeddings table is small; ~500k at default
    val bigEmb = spark.range(annFactor).crossJoin(emb.filter(col("vec_id") =!= 0))
      .select(
        (col("vec_id") + col("id") * 10000000L).as("vec_id"),
        expr("""transform(embedding,
               |  (x, i) -> CAST(x + pmod(hash(vec_id, id, i), 1000) / 50000.0 AS FLOAT))"""
          .stripMargin).as("embedding"))
      .repartition(cores)
      .persist()
    val nVec = bigEmb.count()

    def topIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(0)).toSet
    val tb = System.nanoTime()
    val bruteTop = topIds(SimilaritySearch.bruteForceTopK(
      bigEmb, "vec_id", "embedding", queryVec, 10))
    val bruteSec = (System.nanoTime() - tb) / 1e9

    val tl = System.nanoTime()
    val lshTop = topIds(SimilaritySearch.lshTopK(
      bigEmb, "vec_id", "embedding", queryVec, 10, minCosine = 0.2))
    val lshSec = (System.nanoTime() - tl) / 1e9

    val ti = System.nanoTime()
    val ivf = SimilaritySearch.ivfIndex(bigEmb, "vec_id", "embedding",
      nlist = 64, trainFraction = 0.05)
    val assigned = ivf.assigned.persist()
    assigned.count()
    val ivfBuildSec = (System.nanoTime() - ti) / 1e9
    val tq = System.nanoTime()
    val ivfTop = topIds(SimilaritySearch.ivfTopK(
      ivf.copy(assigned = assigned), "vec_id", "embedding", queryVec,
      k = 10, nprobe = 8))
    val ivfQuerySec = (System.nanoTime() - tq) / 1e9
    def recall(got: Set[Long]): Double = (bruteTop & got).size.toDouble / bruteTop.size

    println(s"""{"kernel_rows":$nRows,"kernel_sec":$kernelSec,""" +
      s""""kernel_rows_per_sec":${(nRows / kernelSec).toLong},""" +
      s""""kernel_skew_plain_sec":$skewPlainSec,""" +
      s""""dedup_docs":${docs.count() * factor},"dedup_pairs":$pairs,"dedup_sec":$dedupSec,""" +
      s""""ssjoin_pairs":${ssjoinPairs._1},"ssjoin_checksum":${ssjoinPairs._2},""" +
      s""""ssjoin_sec":$ssjoinSec,""" +
      s""""ssjoin_index_build_sec":$ssjoinIndexBuildSec,""" +
      s""""ssjoin_indexed_sec":$ssjoinIndexedSec,""" +
      s""""containment_pairs":${contPairs._1},"containment_checksum":${contPairs._2},""" +
      s""""containment_sec":$contSec,""" +
      s""""containment_index_build_sec":$contIndexBuildSec,""" +
      s""""containment_indexed_sec":$contIndexedSec,""" +
      s""""skew_plain_sec":$plainSec,"skew_salted_sec":$saltedSec,""" +
      s""""skew_speedup":${plainSec / saltedSec},""" +
      s""""ann_vectors":$nVec,"ann_brute_sec":$bruteSec,""" +
      s""""ann_lsh_sec":$lshSec,"ann_lsh_recall":${recall(lshTop)},""" +
      s""""ann_ivf_build_sec":$ivfBuildSec,"ann_ivf_query_sec":$ivfQuerySec,""" +
      s""""ann_ivf_recall":${recall(ivfTop)}}""")
    spark.stop()
  }
}
