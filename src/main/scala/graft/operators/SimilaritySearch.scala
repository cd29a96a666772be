package graft.operators

import graft.functions.VectorExprs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column: brute-force cosine top-k as the exact baseline, and a
  * sign-random-projection (SRP) LSH-bucketed variant as the scale path.
  *
  * Scale design. Brute force is a single scan + top-k (no shuffle beyond the
  * final take-ordered) — right for one query over any corpus, wrong for
  * many-vs-many. The SRP path hashes every vector into `tables` bucket keys
  * with deterministic Rademacher (+/-1) hyperplanes derived from xxhash64 —
  * pure codegen'd expressions — so candidate generation is ONE equi-join on
  * (table, bucket), and only bucket collisions pay the exact-cosine rerank.
  */
object SimilaritySearch {

  /** SRP bucket keys: for each of `tables` hash tables, a `bits`-bit key
    * where bit j = sign(dot(v, H_tj)) and H_tj[i] = +1/-1 from
    * xxhash64(t, j, i). Deterministic, seedable via `seed`.
    */
  def srpBucketKeys(embCol: String, tables: Int, bits: Int, seed: Int = 42): Column =
    // Native codegen'd expression (graft.functions.SrpBucketKeysExpr); the
    // HOF formulation paid an interpreted 4-arg xxhash64 per (table, bit,
    // component).
    expr(s"srp_buckets($embCol, $tables, $bits, $seed)")

  /** Exact brute-force cosine top-k against one query vector. */
  def bruteForceTopK(emb: DataFrame, idCol: String, embCol: String,
                     query: Array[Float], k: Int): DataFrame = {
    val q = typedLit(query.toSeq)
    emb
      .withColumn("q_emb", q)
      .withColumn("cosine", VectorExprs.cosineFast(embCol, "q_emb"))
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed approximate top-k with MULTIPROBE: candidates are vectors
    * whose (table, bucket) matches the query's bucket or any 1-bit
    * perturbation of it; the table count is auto-tuned via tablesForRecall
    * for the declared `minCosine` similarity floor. Rerank is exact cosine
    * over candidates only.
    */
  def lshTopK(emb: DataFrame, idCol: String, embCol: String,
              query: Array[Float], k: Int,
              minCosine: Double = 0.4, targetRecall: Double = 0.9,
              bits: Int = 8, seed: Int = 42): DataFrame = {
    // Auto-tune the table count for the declared similarity floor: recall
    // holds for neighbors at cosine >= minCosine; weaker neighbors are
    // best-effort. Declaring a lower floor honestly costs more tables.
    val tables = tablesForRecall(minCosine, bits, targetRecall)
    val spark = emb.sparkSession
    import spark.implicits._
    val withBuckets = emb.withColumn("buckets", srpBucketKeys(embCol, tables, bits, seed))
    val queryProbes = Seq(Tuple1(query.toSeq)).toDF("q_emb_src")
      .withColumn("buckets", srpBucketKeys("q_emb_src", tables, bits, seed))
      .select(posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      // multiprobe radius 1: the bucket itself plus every 1-bit flip
      .select(col("tbl"), explode(expr(
        s"concat(array(bucket), transform(sequence(0, ${bits - 1}), j -> bucket ^ shiftleft(1L, j)))"))
        .as("bucket"))
      .distinct()
    withBuckets
      .select(col(idCol), col(embCol),
        posexplode(col("buckets")).as(Seq("tbl", "bucket")))
      .join(broadcast(queryProbes), Seq("tbl", "bucket"))
      // dedupe candidate IDS (cheap longs), then rejoin the vectors —
      // distinct over 64-float arrays would shuffle the full payload
      .select(col(idCol)).distinct()
      .join(emb.select(col(idCol), col(embCol)), Seq(idCol))
      .withColumn("q_emb", typedLit(query.toSeq))
      .withColumn("cosine", VectorExprs.cosineFast(embCol, "q_emb"))
      .select(col(idCol), col("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** All pairs with cosine >= threshold, brute force (for dimension-scale
    * inputs and LSH validation; the scale path prefilters with SRP buckets).
    */
  def allPairsCosine(emb: DataFrame, idCol: String, embCol: String,
                     threshold: Double): DataFrame = {
    // r17 perf: spread the streamed side of the cartesian — two single-
    // split inputs otherwise score the full cosine matrix in ONE task
    // (q_v4 measured 0.89 s + 0.82 s single-task jobs at sf0.1; §2.5)
    val a = Tables.spread(
      emb.select(col(idCol).as("id_a"), col(embCol).as("emb_a")), col("id_a"))
    val b = emb.select(col(idCol).as("id_b"), col(embCol).as("emb_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorExprs.cosineFast("emb_a", "emb_b"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** MARGIN-criterion alignment mining between two embedding corpora (the
    * bitext-mining shape of Artetxe & Schwenk 2019 — LASER/CCMatrix-style
    * parallel-pair extraction, also the hard-positive miner for
    * contrastive training): for each left vector x, its best right-side
    * partner scored by the RATIO margin
    *
    *   margin(x, y) = cos(x, y) / ((avg_k(x) + avg_k(y)) / 2)
    *
    * where avg_k(v) = mean cosine of v's k nearest cross-side neighbors.
    * The margin normalizes away hubness — a y that is "close to
    * everything" inflates avg_k(y) and stops winning every x — which is
    * why raw-cosine thresholding over- and under-collects where margin
    * does not. Returns one row per left vector: (x_id, y_id, cosine,
    * margin, mutual) with `mutual` = 1 iff x and y are each other's
    * cosine-best partner (the intersection criterion).
    *
    * Determinism: cosines are 6-dp-rounded then held as scaled LONGS; all
    * ranking (per-side top-k, the final per-x argmax) orders by (value
    * DESC, id) — total orders — and the margin is computed from integer
    * sums in one fixed double expression, so the output is bit-stable
    * under any partitioning and externally replayable.
    *
    * Scale shape: this entry computes the candidate pair frame with the
    * exact cross product — the oracle twin, right at dimension-×-dimension
    * test scale. At corpus scale the pair frame is swapped for ANN
    * candidates (each side's top-k from the IVF/SRP index probe paths in
    * this file, which bound candidates per vector); everything downstream
    * — the two keyed windows, the two top-k sums, the margin join — is
    * candidate-frame-sized (≤ n·k rows), shuffles on the id keys, and
    * never touches the full corpus again.
    */
  def marginAlignment(left: DataFrame, right: DataFrame, idCol: String,
                      embCol: String, k: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // r17 perf: spread the streamed side — a cartesian over two single-
    // split frames yields ONE task for the whole cosine matrix (q_v15
    // measured a 1.46 s single-task job at sf0.1); guide §2.5
    val x = Tables.spread(
      left.select(col(idCol).as("x_id"), col(embCol).as("x_emb")), col("x_id"))
    val y = right.select(col(idCol).as("y_id"), col(embCol).as("y_emb"))
    val pairs = x.crossJoin(y)
      .withColumn("c6",
        round(round(VectorExprs.cosineFast("x_emb", "y_emb"), 6) * 1e6)
          .cast("long"))
      .select("x_id", "y_id", "c6")
    scoreMargins(pairs, k)
  }

  /** SEMANTIC benchmark decontamination, the embedding-space twin of
    * [[Dedup.decontaminate]]'s n-gram overlap: every (corpus, benchmark)
    * pair whose exact cosine reaches `minCosine`, compared on the
    * 6-dp scaled LONG so the boundary is bit-stable and externally
    * replayable. Paraphrased or lightly-edited eval items — invisible to
    * verbatim n-gram overlap — land here.
    *
    * Scale shape: the benchmark side is eval-set sized (10^4-10^5 rows) →
    * BROADCAST; the corpus scans ONCE through a broadcast nested-loop
    * with the codegen'd cosine, and never shuffles. Per-row cost is
    * |bench| dot products — the brute/oracle leg; a corpus-scale build
    * prunes candidates with the SRP machinery above
    * ([[marginAlignmentLsh]] with `thresholdBounded`) and keeps this
    * exact scorer as the recall referee.
    */
  def semanticFlaggedPairs(corpus: DataFrame, idCol: String, embCol: String,
                           bench: DataFrame, benchIdCol: String,
                           benchEmbCol: String,
                           minCosine: Double): DataFrame = {
    val floor6 = Math.round(minCosine * 1e6)
    // r17 perf: spread the streamed corpus side of the broadcast nested
    // loop — single-split sources otherwise score |corpus|×|bench|
    // cosines in one task (guide §2.5)
    Tables.spread(
        corpus.select(col(idCol).as("id"), col(embCol).as("x_emb")), col("id"))
      .crossJoin(broadcast(bench.select(col(benchIdCol).as("bench_id"),
        col(benchEmbCol).as("b_emb"))))
      .withColumn("c6",
        round(round(VectorExprs.cosineFast("x_emb", "b_emb"), 6) * 1e6)
          .cast("long"))
      .filter(col("c6") >= floor6)
      .select(col("id"), col("bench_id"),
        round(col("c6") / 1e6, 6).as("cosine"))
  }

  /** The corpus with every semantically-contaminated doc removed: an
    * anti-join against [[semanticFlaggedPairs]]'s flagged ids (flagged set
    * is benchmark-neighborhood sized — AQE broadcasts it).
    */
  def semanticDecontaminate(corpus: DataFrame, idCol: String,
                            embCol: String, bench: DataFrame,
                            benchIdCol: String, benchEmbCol: String,
                            minCosine: Double): DataFrame =
    corpus.join(
      semanticFlaggedPairs(corpus, idCol, embCol, bench, benchIdCol,
          benchEmbCol, minCosine)
        .select(col("id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** HARD-NEGATIVE MINING for retrieval/contrastive training (the
    * DPR/Contriever data-prep step, Karpukhin et al. 2020,
    * arXiv:2004.04906): for each (query, positive) training pair, the k
    * corpus vectors most similar to the QUERY that are not its positive —
    * the negatives that actually move a contrastive loss (random
    * negatives are trivially separable). `maxCosine` is the classic
    * FALSE-NEGATIVE guard: the query's very top neighbors are often
    * unlabeled positives (near-duplicates of the labeled one), and mining
    * them as negatives poisons the loss — anything scoring above the
    * ceiling is excluded.
    *
    * Scale shape: the query set is training-set sized → BROADCAST; the
    * corpus scans ONCE through a broadcast nested loop with the codegen'd
    * cosine ([[semanticFlaggedPairs]]'s shape); the floor keeps the
    * ranked frame candidate-sized and the per-query top-k is one window
    * on query_id. At corpus scale candidate generation swaps for the
    * SRP/IVF probe paths in this file; this exact scorer stays the recall
    * referee. Determinism: 6-dp scaled-long cosine, rank by
    * (c6 DESC, neg_id) — a total order, bit-stable under partitioning
    * and externally replayable.
    */
  def hardNegatives(queries: DataFrame, queryIdCol: String, queryEmbCol: String,
                    positiveIdCol: String,
                    corpus: DataFrame, idCol: String, embCol: String,
                    k: Int, minCosine: Double = 0.0,
                    maxCosine: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val floor6 = Math.round(minCosine * 1e6)
    val ceil6 = Math.round(maxCosine * 1e6)
    // r17 perf: spread the streamed corpus side (see semanticFlaggedPairs)
    Tables.spread(
        corpus.select(col(idCol).as("neg_id"), col(embCol).as("c_emb")),
        col("neg_id"))
      .crossJoin(broadcast(queries.select(
        col(queryIdCol).as("query_id"),
        col(positiveIdCol).as("positive_id"),
        col(queryEmbCol).as("q_emb"))))
      .filter(col("neg_id") =!= col("positive_id"))
      .withColumn("c6",
        round(round(VectorExprs.cosineFast("c_emb", "q_emb"), 6) * 1e6)
          .cast("long"))
      .filter(col("c6") >= floor6 && col("c6") <= ceil6)
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c6").desc, col("neg_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("positive_id"), col("neg_id"),
        col("rank"), round(col("c6") / 1e6, 6).as("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication at corpus scale by CLUSTER-BOUNDING the pairwise cosine
    * — k-means partitions the corpus into k cells, exact pairwise cosine
    * runs only WITHIN a cell, pairs at/above `minCosine` form a dup graph,
    * and each connected component keeps one canonical doc (the min id —
    * deterministic where the paper samples). Per-doc output:
    * `(id, cluster_id, rep_id, kept)` — `kept = 0` rows are the semantic
    * duplicates a curation pass drops.
    *
    * Why this decomposition survives 100 TB: all-pairs cosine is O(n²) and
    * dead on arrival; SemDeDup's insight is that semantic dups land in the
    * same k-means cell, so the quadratic is paid per-cell — O(Σ n_c²),
    * tuned by k (the paper uses k ≈ n/10⁴ on LAION). The clustering here is
    * [[Clustering.kmeansInt]] — integer-exact, so the cell assignment (and
    * therefore the whole output) is bit-replayable by an external engine,
    * which float k-means can never be. The within-cell self-join shuffles
    * both sides once on `cluster_id` (AQE splits skewed cells); the exact
    * cosine is the codegen'd 6-dp-scaled-long compare (the q_v10/q_v16
    * boundary idiom), and components resolve via
    * [[Dedup.connectedComponents]]'s min-label + pointer-halving loop.
    * Docs in no dup pair never enter the component loop — the graph frame
    * is pair-set sized, not corpus sized.
    */
  def semDeDup(emb: DataFrame, idCol: String, embCol: String, k: Int,
               iterations: Int, minCosine: Double): DataFrame = {
    val floor6 = Math.round(minCosine * 1e6)
    // one k-means run, materialized: both sides of the cell self-join and
    // the final per-doc frame read it
    val assigned = Dedup.materialize(
      Clustering.kmeansInt(emb, idCol, embCol, k, iterations)
        .select(col(idCol).as("id"), col("cluster_id"))
        .join(emb.select(col(idCol).as("id"), col(embCol).as("e")), "id"))
    val pairs = assigned.select(col("id").as("id_a"), col("cluster_id"),
        col("e").as("e_a"))
      .join(assigned.select(col("id").as("id_b"), col("cluster_id"),
        col("e").as("e_b")), Seq("cluster_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(round(VectorExprs.cosineFast("e_a", "e_b"), 6)
        * 1e6).cast("long") >= floor6)
      .select("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("cluster", "rep_id")
    assigned.select("id", "cluster_id")
      .join(comps, Seq("id"), "left")
      .withColumn("rep_id", coalesce(col("rep_id"), col("id")))
      .withColumn("kept", (col("rep_id") === col("id")).cast("int"))
  }

  /** [[semDeDup]] at the BALANCED k dial, k = max(kMin, ⌈√n⌉): with fixed
    * k, cell sizes grow linearly with the corpus and the intra-cell
    * pairwise pass (Σ n_c²) goes quadratic — measured 27× wall for 30×
    * vectors (SCALING.md r10b). k ∝ √n equalizes the exhaustive
    * assignment cost (n·k) and the pairwise cost (n²/k) at O(n^1.5) —
    * the blocked-quadratic compromise, 1.5× faster at x30 with the gap
    * widening (r10c). Past n^1.5, IVF directory pruning replaces the
    * exhaustive assignment ([[DedupQueries]]'s q_v7 path). The one extra
    * job is a metadata-cheap count; pass `n` when the caller already
    * knows it. The k choice changes only PERFORMANCE, not the contract:
    * any k yields a valid SemDeDup (cell boundaries are the paper's
    * documented recall boundary either way).
    */
  def semDeDupAuto(emb: DataFrame, idCol: String, embCol: String,
                   iterations: Int, minCosine: Double,
                   kMin: Int = 8, n: Long = -1L): DataFrame = {
    val rows = if (n >= 0) n else emb.count()
    val k = math.max(kMin, math.ceil(math.sqrt(rows.toDouble)).toInt)
    semDeDup(emb, idCol, embCol, k, iterations, minCosine)
  }

  /** The margin-scoring stage shared by [[marginAlignment]] (exact cross
    * product) and [[marginAlignmentLsh]] (SRP candidates): consumes a
    * candidate frame (x_id, y_id, c6 = 6-dp scaled-long cosine), computes
    * both sides' top-k neighborhood means and each x's argmax-margin
    * partner. Everything downstream of the candidate frame is ≤ n·k rows
    * after the two rank windows; shuffles only on the id keys.
    */
  private def scoreMargins(pairs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wx = Window.partitionBy("x_id").orderBy(col("c6").desc, col("y_id"))
    val wy = Window.partitionBy("y_id").orderBy(col("c6").desc, col("x_id"))
    val ranked = Dedup.materialize(pairs
      .withColumn("rn_x", row_number().over(wx))
      .withColumn("rn_y", row_number().over(wy))
      .filter(col("rn_x") <= k || col("rn_y") <= k))
    val sx = ranked.filter(col("rn_x") <= k)
      .groupBy("x_id").agg(sum("c6").as("sx6"), count(lit(1)).as("kx"))
    val sy = ranked.filter(col("rn_y") <= k)
      .groupBy("y_id").agg(sum("c6").as("sy6"), count(lit(1)).as("ky"))
    val scored = ranked.filter(col("rn_x") <= k)
      .join(sx, "x_id").join(sy, "y_id")
      .withColumn("margin", round(lit(2) * col("c6") /
        (col("sx6").cast("double") / col("kx") +
          col("sy6").cast("double") / col("ky")), 6))
    val best = Window.partitionBy("x_id").orderBy(col("margin").desc, col("y_id"))
    scored
      .withColumn("rb", row_number().over(best))
      .filter(col("rb") === 1)
      .select(col("x_id"), col("y_id"),
        round(col("c6") / 1e6, 6).as("cosine"), col("margin"),
        (col("rn_x") === 1 && col("rn_y") === 1).cast("int").as("mutual"))
  }

  /** The SCALE path of margin alignment: candidate pairs come from an
    * exact-key SRP bucket join between the two sides (both hashed with the
    * SAME hyperplanes, so cross-side neighbors collide), and the shared
    * margin scoring runs on candidates only. Semantics are CANDIDATE-
    * BOUNDED, as in production FAISS-style mining: each side's top-k
    * neighborhood mean is over retrieved candidates (pairs with cosine >=
    * `minCosine` are retrieved with probability >= `targetRecall`; pairs
    * below the floor only opportunistically), and a left vector with no
    * candidate produces no row. Key sizing, table tuning, and the optional
    * centering transform reuse the [[embeddingNearDupPairs]] machinery —
    * including its auto bit-width and centered-threshold estimate — so the
    * candidate join stays linear as the corpus grows.
    *
    * `thresholdBounded = true` additionally drops retrieved candidates whose
    * exact cosine lands BELOW `minCosine` (integer compare on the 6-dp
    * scaled-long, so the boundary is bit-stable): the neighborhood means
    * and argmax then depend only on the pairs the recall contract covers,
    * never on opportunistic sub-floor collisions — making the output a
    * deterministic function of the >= `minCosine` pair set and therefore
    * externally replayable (the q_v16 oracle contract). The default (false)
    * keeps every retrieved candidate, the FAISS-style mining behavior where
    * sub-floor neighbors still pad the top-k means.
    */
  def marginAlignmentLsh(left: DataFrame, right: DataFrame, idCol: String,
                         embCol: String, k: Int = 4,
                         minCosine: Double = 0.8,
                         targetRecall: Double = 0.95, bits: Int = 0,
                         seed: Int = 42, center: Boolean = false,
                         minCenteredThreshold: Double = 0.15,
                         thresholdBounded: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val x = left.select(col(idCol).as("x_id"), col(embCol).as("x_emb"))
    val y = right.select(col(idCol).as("y_id"), col(embCol).as("y_emb"))
    val (hx, hy, tune) =
      if (!center) ("x_emb", "y_emb", minCosine)
      else {
        val all = x.select(col("x_emb").as(embCol))
          .unionByName(y.select(col("y_emb").as(embCol)))
        val st = dimStats(all, embCol)
        val centered = centeredThresholdEstimate(minCosine, st)
        require(centered > minCenteredThreshold,
          f"center=true cannot hold recall for original cosine >= $minCosine%.3f " +
            f"here: estimated centered-space similarity $centered%.3f is at or " +
            "below the SRP background — use center=false")
        val arr = st.means.map(v => s"${v}D").mkString("array(", ", ", ")")
        def c(e: String) =
          s"transform($e, (x, i) -> CAST(CAST(x AS DOUBLE) - element_at($arr, i + 1) AS FLOAT))"
        (c("x_emb"), c("y_emb"), math.min(centered, minCosine))
      }
    val n = math.max(x.count(), y.count())
    val useBits = if (bits > 0) bits else bitsForExactKey(n, tune, targetRecall)
    val tables = tablesForRecall(tune, useBits, targetRecall, multiprobe = false)
    // r17 perf: spread both sides before the SRP projection kernel
    // (tables × bits sign dots per row — serial on few-split inputs
    // otherwise; guide §2.5)
    val bx = Tables.spread(x, col("x_id")).select(col("x_id"),
      posexplode(srpBucketKeys(hx, tables, useBits, seed)).as(Seq("tbl", "bucket")))
    val by = Tables.spread(y, col("y_id")).select(col("y_id"),
      posexplode(srpBucketKeys(hy, tables, useBits, seed)).as(Seq("tbl", "bucket")))
    // candidate IDs only through the bucket join; vectors re-attach per
    // unique pair (the embeddingNearDupPairs shuffle discipline)
    val cands = bx.join(by, Seq("tbl", "bucket"))
      .select("x_id", "y_id").distinct()
    val pairs = cands.join(x, "x_id").join(y, "y_id")
      .withColumn("c6",
        round(round(VectorExprs.cosineFast("x_emb", "y_emb"), 6) * 1e6)
          .cast("long"))
      .select("x_id", "y_id", "c6")
    val bounded =
      if (thresholdBounded) pairs.filter(col("c6") >= lit(math.round(minCosine * 1e6)))
      else pairs
    scoreMargins(bounded, k)
  }

  /** Table count needed for `targetRecall` at cosine `threshold` with
    * `bits`-bit keys. p = 1 - angle/pi is the per-bit agreement
    * probability; with `multiprobe` a pair collides in a table iff the
    * signatures differ in at most one bit (radius-1 probing on one side),
    * without it only on exact key equality — which needs MORE tables for
    * the same recall, but shrinks the exploded join frame from
    * n x tables x (bits+1) rows to n x tables (the memory/shuffle knob at
    * large n).
    */
  def tablesForRecall(threshold: Double, bits: Int, targetRecall: Double,
                      multiprobe: Boolean = true): Int = {
    val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    val q = math.pow(p, bits) +
      (if (multiprobe) bits * math.pow(p, bits - 1) * (1 - p) else 0.0)
    math.max(1, math.ceil(math.log(1 - targetRecall) / math.log(1 - q)).toInt)
  }

  /** Embedding near-duplicate pairs at scale: SRP-bucket candidate join with
    * radius-1 multiprobe on one side, then exact cosine verification — the
    * same bucket-join shape as MinHash-LSH. The table count is AUTO-TUNED
    * from the threshold: chasing weak similarity (cos 0.3) honestly costs
    * ~28 tables for 95% recall, while true near-duplicates (cos 0.9) need 3.
    */
  /** IVF (inverted-file) index: every vector assigned to its nearest
    * spherical-k-means centroid (`list_id`). Training runs distributed
    * MLlib k-means over L2-normalized vectors (a `trainFraction` sample at
    * corpus scale — centroid quality needs samples, not the full corpus);
    * assignment is one scan. At 100 TB the assigned frame is written
    * PARTITIONED BY list_id, so a query's nprobe lists prune to nprobe/nlist
    * of the data at the parquet-scan level — that pruning, not the k-means,
    * is the scale win over per-row LSH keys.
    */
  final case class IvfIndex(assigned: DataFrame, centroids: Array[Array[Double]])

  /** L2-normalized copy of an array<float> column, as array<double>. */
  private def l2normalized(embCol: String): Column = expr(Dedup.letBind(
    s"greatest(sqrt(aggregate($embCol, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 1e-12d)",
    "n", s"transform($embCol, x -> CAST(x AS DOUBLE) / n)"))

  def ivfIndex(emb: DataFrame, embCol: String,
               nlist: Int = 16, seed: Long = 42L,
               trainFraction: Double = 1.0,
               maxIter: Int = 10): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val featured = emb.withColumn("_nvec", array_to_vector(l2normalized(embCol)))
    val trainSet = if (trainFraction >= 1.0) featured
                   else featured.sample(trainFraction, seed)
    // maxIter 10: quantizer quality only shifts which lists hold which
    // vectors — recall is governed by nprobe and the rerank is exact, so
    // extra k-means sweeps buy little; each sweep is a full Spark job.
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("_nvec").setPredictionCol("list_id")
      .fit(trainSet)
    IvfIndex(model.transform(featured).drop("_nvec"),
      model.clusterCenters.map(_.toArray))
  }

  /** IVF approximate top-k: rank centroids by cosine against the query on
    * the driver (nlist values — dimension-sized), scan only the `nprobe`
    * nearest lists, exact-cosine rerank within them. nprobe = nlist
    * degrades gracefully to exact brute force.
    */
  def ivfTopK(index: IvfIndex, idCol: String, embCol: String,
              query: Array[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val qNorm = math.max(math.sqrt(query.map(x => x.toDouble * x).sum), 1e-12)
    val probes = index.centroids.zipWithIndex.map { case (c, i) =>
      val cNorm = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
      val dot = c.iterator.zip(query.iterator).map { case (x, y) => x * y }.sum
      (i, dot / (cNorm * qNorm))
    }.sortBy(-_._2).take(nprobe).map(_._1).toSeq
    bruteForceTopK(index.assigned.filter(col("list_id").isin(probes: _*)),
      idCol, embCol, query, k)
  }

  /** Batch kNN-JOIN through IVF probes (r16 VERDICT #5) — [[ivfTopK]]
    * generalized from one query vector to a QUERY CORPUS: the
    * corpus×corpus k-nearest-neighbour primitive SemDeDup / alignment
    * mining approximate around when both sides are large. Per left row:
    * exact top-k (cosine) among the corpus vectors in its `nprobe`
    * nearest inverted lists.
    *
    * Scale shape, stage by stage:
    *  1. ROUTING is row-local — every left vector scores the nlist
    *     centroid literals (plan constants, never shuffled with the
    *     corpus) and explodes to its nprobe probe rows; no job, no
    *     exchange.
    *  2. CANDIDATES come from ONE equi-join on `list_id` — both sides
    *     hash-partition on the list key, so each task joins one list's
    *     queries against that list's vectors. Candidate volume is
    *     n_left × nprobe × (n_corpus / nlist) in expectation —
    *     sub-quadratic by the nprobe/nlist fraction, and each corpus
    *     vector lives in exactly ONE list so no pair arrives twice.
    *  3. RERANK is the exact codegen'd cosine on the candidate frame,
    *     then one window on `q_id` (candidate-frame-sized shuffle) keeps
    *     k per query.
    *
    * Determinism: cosines are 6-dp-rounded scaled LONGS and every rank
    * orders by (c6 DESC, neighbor id) — a total order, so the output is
    * bit-stable and externally replayable (the margin-alignment
    * discipline). Recall is governed by nprobe exactly as in [[ivfTopK]];
    * nprobe = nlist degrades to the exact brute-force join. Returns
    * (q_id, n_id, rank, cosine) with rank 1..k per left row. */
  def knnJoin(index: IvfIndex, left: DataFrame, idCol: String,
              embCol: String, k: Int, nprobe: Int = 4,
              excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= index.centroids.length,
      s"nprobe must be in [1, ${index.centroids.length}], got $nprobe")
    import org.apache.spark.sql.expressions.Window
    val entries = index.centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDistTo(col("_nvec"), c).as("d"), lit(i).as("i"))
    }
    // array_sort on (d, i) structs: distance asc, ties to the lowest
    // list id — the ivfAssign rule, so a query's own list is always
    // probe 1
    val routed = left
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .withColumn("_nvec", l2normalized("q_emb"))
      .withColumn("list_id", explode(transform(
        slice(array_sort(array(entries: _*)), 1, nprobe), s => s("i"))))
      .drop("_nvec")
    val corpus = index.assigned.select(col("list_id"),
      col(idCol).as("n_id"), col(embCol).as("n_emb"))
    val cands = routed.join(corpus, Seq("list_id"))
    val kept = if (excludeSelf) cands.filter(col("q_id") =!= col("n_id"))
               else cands
    val w = Window.partitionBy("q_id").orderBy(col("c6").desc, col("n_id"))
    kept
      .withColumn("c6",
        round(round(VectorExprs.cosineFast("q_emb", "n_emb"), 6) * 1e6)
          .cast("long"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"),
        (col("c6") / 1e6).as("cosine"))
  }

  /** Squared euclidean distance between a (normalized) array<double>
    * column and one centroid literal — Column-API twin of
    * [[graft.functions.VectorExprs.sqDist]]. */
  private def sqDistTo(nvec: Column, centroid: Array[Double]): Column =
    aggregate(
      zip_with(nvec, typedLit(centroid.toSeq), (x, y) => (x - y) * (x - y)),
      lit(0d), (acc, v) => acc + v)

  /** Assign vectors to EXISTING centroid lists without an MLlib model —
    * the primitive incremental maintenance needs: euclidean argmin over
    * the L2-normalized vector, ties to the LOWEST list id (the same
    * first-strict-minimum rule MLlib's transform applies; SimilaritySpec
    * pins assignment-identical lists on the corpus). Row-local: nlist
    * struct(dist, id) entries reduced by array_min, one pass, no shuffle.
    * Adds `list_id` plus `_qdist` (the quantization error the drift gate
    * reads; callers that don't need it drop it).
    */
  def ivfAssign(emb: DataFrame, embCol: String,
                centroids: Array[Array[Double]]): DataFrame = {
    val entries = centroids.zipWithIndex.map { case (c, i) =>
      struct(sqDistTo(col("_nvec"), c).as("d"), lit(i).as("i"))
    }
    emb
      // materialized once as a real column: the argmin references it
      // nlist times, and CollapseProject keeps a multiply-referenced
      // non-cheap alias in its own Project (evaluate-once)
      .withColumn("_nvec", l2normalized(embCol))
      .withColumn("_best", array_min(array(entries: _*)))
      .withColumn("list_id", col("_best.i"))
      .withColumn("_qdist", col("_best.d"))
      .drop("_nvec", "_best")
  }

  /** Persist an IVF index as a `list_id`-partitioned table: each inverted
    * list becomes a partition directory, so [[ivfTopK]] over the re-read
    * index prunes to the nprobe probed lists AT THE SCAN — directories for
    * unprobed lists are never listed or opened. That directory-level prune
    * is the on-disk payoff of IVF at 100 TB (LSH keys, being per-row,
    * cannot prune this way). Centroids live in a SIBLING `<path>__centroids`
    * directory, OUTSIDE the data root: an underscore-prefixed sidecar
    * inside the root is invisible to the table scan but still gets listed
    * (and warned about — "All paths were ignored") on every read; a
    * sibling never enters the data listing at all.
    *
    * A second sidecar `<path>__stats` records the corpus quantization
    * error (n, sum of squared vector→centroid distances) — the baseline
    * [[ivfAppend]]'s centroid-drift gate compares incoming batches
    * against. Computing it is one extra row-local pass over the assigned
    * frame at write time (dist to the OWN list's centroid only, not all
    * nlist) — the honest ingest-time price of a maintainable index.
    */
  def ivfWrite(index: IvfIndex, path: String,
               embCol: String = "embedding"): Unit = {
    graft.sources.LakeLayout.writePartitioned(
      index.assigned, path, partitionCols = Seq("list_id"))
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"${path}__centroids")
    writeStats(spark, path, quantStats(index, embCol))
  }

  /** (n, sum squared quantization error) of an assigned frame. */
  private def quantStats(index: IvfIndex, embCol: String): (Long, Double) = {
    val centroidLit = typedLit(index.centroids.map(_.toSeq).toSeq)
    val r = index.assigned
      .withColumn("_nvec", l2normalized(embCol))
      .withColumn("_qdist",
        aggregate(
          zip_with(col("_nvec"),
            element_at(centroidLit, col("list_id") + 1),
            (x, y) => (x - y) * (x - y)),
          lit(0d), (acc, v) => acc + v))
      .agg(count(lit(1)), sum(col("_qdist"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0d else r.getDouble(1))
  }

  private def writeStats(spark: SparkSession, path: String,
                         stats: (Long, Double)): Unit = {
    import spark.implicits._
    Seq(stats).toDF("n", "sum_sqdist")
      .coalesce(1).write.mode("overwrite").parquet(s"${path}__stats")
  }

  def ivfRead(spark: SparkSession, path: String): IvfIndex = {
    val centroids = spark.read.parquet(s"${path}__centroids")
      .orderBy("list_id").collect()
      .map(_.getSeq[Double](1).toArray)
    IvfIndex(spark.read.parquet(path), centroids)
  }

  /** Accounting card of one [[ivfAppend]] batch. `batchMse` vs `buildMse`
    * is the centroid-drift signal: a batch whose vectors sit much farther
    * from the frozen centroids than the build corpus did (distribution
    * shift) makes probing less selective, and past `driftRatio` the
    * append recommends a re-train instead of silently degrading. */
  final case class IvfAppendReport(
      nBatch: Long, nAppended: Long, nDuplicate: Long,
      listsTouched: Seq[Int], batchMse: Double, buildMse: Double,
      retrainRecommended: Boolean)

  /** O(batch) incremental maintenance of a persisted IVF index
    * (VERDICT r10 #5 — every other persisted index already had an
    * incremental twin): assign the batch to the EXISTING centroids
    * ([[ivfAssign]]) and add the rows to their `list_id` partition
    * directories.
    *
    * Write discipline: APPEND-mode files plus an id anti-join against the
    * touched lists, not dynamic partition overwrite — overwrite would
    * read-modify-write every touched list (O(corpus/nlist · touched) I/O,
    * and a same-path read-under-overwrite conflict), while append writes
    * only the batch's own rows and leaves every pre-existing file
    * byte-identical BY CONSTRUCTION. Replay-idempotence comes from the
    * anti-join: re-appending a batch finds
    * all its ids present, appends zero rows, writes zero files, and
    * leaves the stats sidecar untouched — so a retried ingest job cannot
    * duplicate vectors. The anti-join scans ONLY the touched partitions
    * (≤ nlist directories, partition-pruned).
    *
    * The drift gate: the batch's mean squared quantization error against
    * the frozen centroids, compared to the build-time corpus error from
    * the `__stats` sidecar; ratio > `driftRatio` ⇒ `retrainRecommended`
    * (the stats sidecar still accumulates, so the NEXT batch compares
    * against the true current corpus).
    */
  def ivfAppend(spark: SparkSession, path: String, batch: DataFrame,
                idCol: String, embCol: String,
                driftRatio: Double = 2.0): IvfAppendReport = {
    val centroids = spark.read.parquet(s"${path}__centroids")
      .orderBy("list_id").collect().map(_.getSeq[Double](1).toArray)
    val statsRow = spark.read.parquet(s"${path}__stats").head()
    val (buildN, buildSum) = (statsRow.getLong(0), statsRow.getDouble(1))

    // the frames the append persists, released on success or on a throw
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { held += df; df.persist() }
    val (nBatch, touched, nNew, newSum) = try {
      val assigned = ivfAssign(batch.dropDuplicates(idCol), embCol,
        centroids).transform(keep)
      val nBatch = assigned.count()
      val touched = assigned.select("list_id").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      val existingIds = spark.read.parquet(path)
        .filter(col("list_id").isin(touched: _*))
        .select(col(idCol))
      val newRows = assigned.join(existingIds, Seq(idCol), "left_anti").transform(keep)
      val agg = newRows.agg(count(lit(1)), sum(col("_qdist"))).head()
      val (nNew, newSum) =
        (agg.getLong(0), if (agg.isNullAt(1)) 0d else agg.getDouble(1))

      if (nNew > 0) {
        newRows.drop("_qdist")
          .repartition(math.max(1, touched.size), col("list_id"))
          .sortWithinPartitions(col(idCol))
          .write.mode("append").partitionBy("list_id").parquet(path)
        writeStats(spark, path, (buildN + nNew, buildSum + newSum))
      }
      (nBatch, touched, nNew, newSum)
    } finally held.foreach(_.unpersist())

    val buildMse = if (buildN > 0) buildSum / buildN else 0d
    val batchMse = if (nNew > 0) newSum / nNew else 0d
    IvfAppendReport(nBatch, nNew, nBatch - nNew, touched, batchMse, buildMse,
      retrainRecommended = nNew > 0 && buildMse > 0 &&
        batchMse / buildMse > driftRatio)
  }

  /** Bits for a corpus of `n` vectors such that expected bucket occupancy
    * n / 2^bits stays ~`targetOccupancy`: the random-pair candidate volume
    * per table is Σ occupancy² ~ n·occupancy, so holding occupancy constant
    * keeps candidate generation LINEAR in n — at a fixed bit width it turns
    * quadratic once the corpus outgrows the key space. More bits honestly
    * cost more tables for the same recall (tablesForRecall re-tunes).
    */
  def bitsForCorpus(n: Long, targetOccupancy: Int = 64, minBits: Int = 8): Int =
    math.max(minBits, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetOccupancy)) / math.log(2.0)).toInt)

  /** Key width for the EXACT-KEY (multiprobe-off) banded plan, by total-
    * cost argmin. The two cost terms move in opposite directions with
    * `bits`:
    *
    *  - frame rows: n x tables(bits) — more bits need more tables for the
    *    same recall (q = p^bits per table), growing the exploded frame;
    *  - background candidate pairs: tables x n^2 / 2^(bits+1) — each extra
    *    bit HALVES every table's random-collision volume.
    *
    * Occupancy-held-constant sizing ([[bitsForCorpus]], tuned for the
    * multiprobe regime where the frame also fans out x(bits+1)) leaves the
    * pair term dominant in exact-key mode: at x30 scale (61.5k vectors,
    * bits=10, 29 tables) the measured background was 53M candidate pairs —
    * 2.3 GB of shuffle and 15 GB of spill through the distinct+verify
    * joins. The argmin sits near 2^bits ~ 4n (occupancy ~1/4), where the
    * same corpus generates ~100x fewer candidates for ~4x more tables.
    * `pairWeight` prices a candidate-pair row against a frame row (the
    * pair pays a distinct, two joins, and an exact verification);
    * `hashWeight` prices each KEY BIT of per-row hash work (a bit is one
    * dim-length dot product, and total hash work is n x tables x bits —
    * without this term the argmin over-buys bits on small corpora, where
    * hashing dominates and the pair term it buys down is already tiny).
    */
  def bitsForExactKey(n: Long, tuneThreshold: Double, targetRecall: Double,
                      pairWeight: Double = 8.0, hashWeight: Double = 0.25,
                      minBits: Int = 8, maxBits: Int = 32): Int =
    (minBits to maxBits).minBy { b =>
      val tables = tablesForRecall(tuneThreshold, b, targetRecall, multiprobe = false)
      tables * n.toDouble * (1.0 + hashWeight * b) +
        pairWeight * tables * n.toDouble * n / math.pow(2.0, b + 1)
    }

  /** `center = true` subtracts the per-dimension corpus mean INSIDE the
    * bucket hash (verification still scores ORIGINAL cosines). Embeddings
    * that are not mean-centered give random pairs a large shared component
    * — per-bit sign agreement sits well above 1/2 and background bucket
    * collisions grow quadratically no matter how the key is sized
    * (measured: the x30 scaling run went 22x on 3x data uncentered).
    * Centering pushes random-pair similarity to ~0 while TRUE near-dups
    * (original cosine ~0.9+) stay high in centered space, restoring the
    * contrast SRP needs.
    *
    * RECALL CONTRACT under centering: the SRP bits are drawn in CENTERED
    * space, where a pair at original cosine `threshold` sits lower — part
    * of its similarity was the shared mean. The table count is therefore
    * tuned to the ESTIMATED centered-space threshold, not the declared
    * one: with s2 = E[|x|^2] and mu2 = |E[x]|^2 over the corpus,
    * a pair at original cosine c has centered cosine
    * ~ (c*s2 - mu2) / (s2 - mu2) (dot loses the ~mu2 shared component,
    * norms shrink the same way). Pairs whose centered similarity falls at
    * or below the background (estimate <= `minCenteredThreshold`) cannot
    * be distinguished by centered SRP AT ALL — recall for them collapses
    * by construction — so that regime fails fast with a pointer to
    * `center = false` rather than silently missing pairs.
    */
  def embeddingNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                            threshold: Double, bits: Int = 8,
                            targetRecall: Double = 0.95,
                            seed: Int = 42, center: Boolean = false,
                            multiprobe: Boolean = true,
                            minCenteredThreshold: Double = 0.15): DataFrame = {
    val (hashCol, tuneThreshold) =
      if (!center) (embCol, threshold)
      else {
        val st = dimStats(emb, embCol)
        val centered = centeredThresholdEstimate(threshold, st)
        require(centered > minCenteredThreshold,
          f"center=true cannot hold recall for original cosine >= $threshold%.3f on this " +
            f"corpus: the estimated centered-space similarity is $centered%.3f (shared-mean " +
            f"fraction mu2/s2 = ${st.mu2 / st.s2}%.3f), at or below the SRP background. This " +
            "threshold regime belongs to center=false (uncentered multiprobe).")
        val arr = st.means.map(v => s"${v}D").mkString("array(", ", ", ")")
        (s"transform($embCol, (x, i) -> CAST(CAST(x AS DOUBLE) - element_at($arr, i + 1) AS FLOAT))",
          math.min(centered, threshold))
      }
    // bits <= 0 -> auto-size the key space to the corpus (one count scan —
    // ingest-grade cost; the alternative is quadratic candidate growth).
    // The sizing rule follows the probing mode: exact-key buys sparse keys
    // with extra tables (bitsForExactKey argmin); multiprobe holds bucket
    // occupancy instead, because its frame already fans out x(bits+1).
    val useBits =
      if (bits > 0) bits
      else if (multiprobe) bitsForCorpus(emb.count())
      else bitsForExactKey(emb.count(), tuneThreshold, targetRecall)
    // Tables tuned for where the bits actually live: the centered-space
    // threshold estimate under centering, the declared one otherwise.
    val tables = tablesForRecall(tuneThreshold, useBits, targetRecall, multiprobe)
    bandedNearDupPairs(emb, idCol, embCol, threshold, hashCol, useBits, tables,
      seed, multiprobe)
  }

  private def bandedNearDupPairs(emb: DataFrame, idCol: String, embCol: String,
                                 threshold: Double, hashCol: String,
                                 useBits: Int, tables: Int,
                                 seed: Int, multiprobe: Boolean): DataFrame = {
    // Candidate generation shuffles ONLY (id, tbl, bucket) — at 75 tables x
    // 9 probes the exploded frames dominate the exchange, so carrying the
    // 64-float payload through them (and a distinct over it) multiplies
    // shuffle bytes ~30x. Vectors are re-attached per UNIQUE candidate pair
    // afterwards; the embedding side is dimension-small, so AQE broadcasts it.
    // r17 perf: spread before the SRP projection kernel (tables × bits
    // sign dots per row) — a single-split source otherwise hashes the
    // whole corpus in one task (q_v4 measured 0.89 s + 0.81 s single-task
    // jobs at sf0.1); guide §2.5
    val spreadEmb = Tables.spread(emb, col(idCol))
    val withBuckets = spreadEmb
      .select(col(idCol),
        posexplode(srpBucketKeys(hashCol, tables, useBits, seed)).as(Seq("tbl", "bucket")))
    val probes =
      if (!multiprobe) withBuckets
      else withBuckets
        .select(col(idCol), col("tbl"), explode(expr(
          s"concat(array(bucket), transform(sequence(0, ${useBits - 1}), j -> bucket ^ shiftleft(1L, j)))"))
          .as("bucket"))
    val candidates = probes.as("a")
      .join(withBuckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    candidates
      .join(spreadEmb.select(col(idCol).as("id_a"), col(embCol).as("emb_a")), "id_a")
      .join(spreadEmb.select(col(idCol).as("id_b"), col(embCol).as("emb_b")), "id_b")
      .withColumn("cosine", VectorExprs.cosineFast("emb_a", "emb_b"))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Per-dimension corpus statistics in ONE dimension-sized agg:
    * means feed the centered hash; mu2 = |E[x]|^2 and s2 = E[|x|^2] feed
    * the centered-threshold estimate and the background-cosine estimate
    * (a random pair's expected cosine is ~mu2/s2 — the shared-mean
    * component is all that correlates two independent draws).
    */
  private[operators] final case class DimStats(means: Array[Double],
                                               mu2: Double, s2: Double) {
    def backgroundCosine: Double = mu2 / math.max(s2, 1e-12)
  }

  private[operators] def dimStats(emb: DataFrame, embCol: String): DimStats = {
    val stats = emb
      .select(posexplode(col(embCol)).as(Seq("_i", "_x")))
      .groupBy("_i")
      .agg(avg(col("_x").cast("double")).as("_m"),
        avg(col("_x").cast("double") * col("_x").cast("double")).as("_m2"))
      .orderBy("_i")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val means = stats.map(_._1)
    DimStats(means, means.map(m => m * m).sum, stats.map(_._2).sum)
  }

  /** Estimated centered-space cosine of a pair at original cosine `c`:
    * dot loses the ~mu2 shared component, squared norms shrink by the same
    * mu2 — (c*s2 - mu2) / (s2 - mu2).
    */
  private[operators] def centeredThresholdEstimate(c: Double, st: DimStats): Double =
    (c * st.s2 - st.mu2) / math.max(st.s2 - st.mu2, 1e-12)

  /** The chosen physical strategy for a near-duplicate pair scan, with the
    * numbers that chose it. `candidateFraction` is the expected fraction of
    * ALL pairs that the banded plan would surface as candidates anyway —
    * background pairs colliding by chance across `tables` tables.
    */
  final case class NearDupPlan(strategy: String, bits: Int, tables: Int,
                               candidateFraction: Double, n: Long)

  /** Cost-based strategy selection for near-dup pair scans — a pure
    * function of corpus statistics, unit-testable without a session.
    *
    * The banded plan only wins when bucketing actually PRUNES: its cost is
    * ~candidateFraction * n^2/2 verifications PLUS the hash/explode/join/
    * distinct overhead, vs exactly n^2/2 verifications for the brute scan.
    * When the declared threshold sits near the corpus background (weak
    * thresholds over near-random vectors), enough tables to hold the
    * recall contract collide nearly every pair — candidateFraction -> 1 —
    * and the banded plan degenerates to brute force with overhead on top
    * (measured at sf0.1: 93% of all pairs collide for threshold 0.4 /
    * recall 0.99999, and the banded q_v6 ran 3x slower than the brute
    * q_v4). Below `maxCandidateFraction` (default 0.25: the verify savings
    * must also cover the per-candidate join+distinct overhead, ~2-4x a
    * verification) or below `minBandedCorpus` rows, brute wins.
    *
    * At 100 TB the selector picks banded wherever banding is the whole
    * point — true near-dups (high threshold, clustered corpora) — and
    * refuses to pretend banding prunes where it provably cannot.
    */
  def chooseNearDupStrategy(n: Long, backgroundCosine: Double, threshold: Double,
                            bits: Int, targetRecall: Double, multiprobe: Boolean,
                            maxCandidateFraction: Double = 0.25,
                            minBandedCorpus: Long = 2000): NearDupPlan = {
    // mirror embeddingNearDupPairs' auto-sizing exactly, so the fraction
    // this planner prices is the fraction the executed plan generates
    val useBits =
      if (bits > 0) bits
      else if (multiprobe) bitsForCorpus(n)
      else bitsForExactKey(n, threshold, targetRecall)
    val tables = tablesForRecall(threshold, useBits, targetRecall, multiprobe)
    val p0 = 1.0 - math.acos(math.max(-1.0, math.min(1.0, backgroundCosine))) / math.Pi
    val q0 = math.pow(p0, useBits) +
      (if (multiprobe) useBits * math.pow(p0, useBits - 1) * (1 - p0) else 0.0)
    val frac = 1.0 - math.pow(1.0 - q0, tables)
    val strategy =
      if (n < minBandedCorpus || frac > maxCandidateFraction) "brute" else "banded"
    NearDupPlan(strategy, useBits, tables, frac, n)
  }

  /** Near-duplicate pairs with AUTOMATIC physical-strategy selection: one
    * stats pass (count + dimension-sized moments), then
    * [[chooseNearDupStrategy]] picks the brute scan or the SRP-banded plan
    * — same exact output either way (the banded plan is recall-tuned to
    * the declared contract; verification is exact original-space cosine).
    * This is the entry point a pipeline should call: the crossover between
    * "bucketing prunes" and "bucketing degenerates to all-pairs with
    * overhead" depends on corpus statistics a caller shouldn't have to
    * know. The decision and its inputs are logged.
    */
  def nearDupPairsAuto(emb: DataFrame, idCol: String, embCol: String,
                       threshold: Double, bits: Int = 8,
                       targetRecall: Double = 0.95,
                       seed: Int = 42, center: Boolean = false,
                       multiprobe: Boolean = true,
                       maxCandidateFraction: Double = 0.25,
                       minBandedCorpus: Long = 2000): DataFrame = {
    val n = emb.count()
    val st = dimStats(emb, embCol)
    // Centering pushes the background to ~0 by construction and moves the
    // recall tuning point to the centered-space threshold estimate.
    val (background, tuneThreshold) =
      if (center) (0.0, centeredThresholdEstimate(threshold, st))
      else (st.backgroundCosine, threshold)
    val plan = chooseNearDupStrategy(n, background, tuneThreshold, bits,
      targetRecall, multiprobe, maxCandidateFraction, minBandedCorpus)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      f"nearDupPairsAuto: n=$n background=$background%.4f tune=$tuneThreshold%.3f " +
        f"bits=${plan.bits} tables=${plan.tables} " +
        f"candidateFraction=${plan.candidateFraction}%.3f -> ${plan.strategy}")
    if (plan.strategy == "brute") allPairsCosine(emb, idCol, embCol, threshold)
    else embeddingNearDupPairs(emb, idCol, embCol, threshold, bits,
      targetRecall, seed, center, multiprobe)
  }
}
