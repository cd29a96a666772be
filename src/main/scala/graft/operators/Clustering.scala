package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Topic clustering over the embedding corpus: fixed-iteration Lloyd's
  * k-means in EXACT scaled-integer arithmetic (the [[Graph.pageRankInt]]
  * pattern applied to vectors).
  *
  * Why integer: float k-means recomputes each centroid as a float mean,
  * which sums members in shuffle arrival order — assignments can flip
  * between runs/partitionings/engines on near-tie distances, so no oracle
  * hash could ever hold. Here components are quantized ONCE to longs
  * (`round((x + shift) * scale)` — `shift` makes the domain nonnegative so
  * the truncating integer division used for centroid means IS floor
  * division in every engine), distances are exact long sums of squared
  * differences, and centroid means are `sum div count`. Long arithmetic is
  * order-independent: every engine replaying it gets the same bits.
  *
  * Scale shape per iteration (the MLlib k-means shape):
  *  - assignment: the k centroids are LITERALS in the plan (k is small by
  *    definition of topic clustering) — one codegen'd scan, zero shuffle;
  *    argmin via `array_min` over (dist, cid) structs, so equal distances
  *    break to the smallest cid deterministically;
  *  - recompute: posexplode to (cid, dim) and aggregate — partial map-side
  *    combine reduces the exchange to k x dim rows regardless of corpus
  *    size; only k x dim longs ever reach the driver.
  * Fixed iteration count keeps the plan static and the job graph short.
  *
  * Capability parity note: the reference pipeline has no clustering; this
  * is part of the training-data toolkit (topic balance / diversity
  * sampling) the engine adds on top, next to IVF's float k-means
  * (SimilaritySearch.scala) which stays the ANN-recall path.
  */
object Clustering {

  /** Quantized squared euclidean distance to a centroid literal. */
  private def quantSqDist(q: Column, cent: Seq[Long]): Column =
    aggregate(
      zip_with(q, typedLit(cent), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** `iterations` rounds of Lloyd's k-means seeded from the k rows with
    * the smallest ids (deterministic, data-dependent seeds). Returns the
    * FINAL assignment `(idCol, cluster_id, dist)` against the
    * last-recomputed centroids: dist is the exact quantized squared
    * euclidean distance (long). Clusters that lose all members during a
    * recompute drop out (no respawn heuristic — replayability first);
    * seeds are member rows so every cluster is nonempty after round one.
    */
  def kmeansInt(emb: DataFrame, idCol: String, embCol: String, k: Int,
                iterations: Int, scale: Long = 1000000L,
                shift: Double = 1.0): DataFrame = {
    require(k >= 1 && iterations >= 1, "k and iterations must be >= 1")
    // r17 perf: spread before quantization so the checkpointed frame —
    // and every per-iteration assignment scan over it — is parallel even
    // from a single-split source (guide §2.5)
    val quant = Tables.spread(emb, col(idCol)).select(
      col(idCol),
      transform(col(embCol),
        x => round((x.cast("double") + shift) * scale).cast("long")).as("q"))
      .localCheckpoint() // feeds every assignment pass
    // seeds: the k smallest ids (one tiny sorted take, not a scan per seed)
    var cents: Seq[(Long, Seq[Long])] = quant
      .orderBy(col(idCol)).limit(k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toVector)).toSeq

    def assign(c: Seq[(Long, Seq[Long])]): DataFrame = {
      val scored = c.map { case (cid, vec) =>
        struct(quantSqDist(col("q"), vec).as("d"), lit(cid).as("cid")) }
      // array_min over struct(d, cid): lexicographic -> min distance,
      // smallest cid on ties (mirrors the oracle's ORDER BY d, cid)
      quant.withColumn("best", array_min(array(scored: _*)))
        .select(col(idCol), col("q"),
          col("best.cid").as("cluster_id"), col("best.d").as("dist"))
    }

    for (_ <- 1 to iterations) {
      val means = assign(cents)
        .select(col("cluster_id"), posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy("cluster_id", "dim")
        // domain is nonnegative (shift), so truncating div == floor div
        .agg(expr("sum(v) div count(1)").as("m"))
        .collect()
      cents = means.groupBy(_.getLong(0)).toSeq
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toVector) }
        .sortBy(_._1)
    }
    assign(cents).drop("q")
  }
}
