package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quadratic references the dedup specs compare the production joins
  * against. */
object DedupReference {

  /** Brute-force n-gram Jaccard pairs — the quadratic reference path used to
    * validate LSH recall (and fine on dimension-sized inputs). The self-join
    * is a broadcast when one side is small; never use at corpus scale.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 2, threshold: Double = 0.7): DataFrame = {
    val sets = docs.select(col(idCol), Dedup.shingles(textCol, shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    sets.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", Dedup.jaccard("sh_a", "sh_b"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Brute-force directed containment — the quadratic oracle twin of
    * [[Dedup.containmentSimilarityJoin]]; dimension-sized inputs only.
    */
  def bruteContainmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.6): DataFrame = {
    val sets = docs.select(col(idCol), Dedup.shingles(textCol, shingleSize).as("sh"))
      .filter(size(col("sh")) > 0)
    sets.select(col(idCol).as("id_a"), col("sh").as("sh_a"))
      .crossJoin(sets.select(col(idCol).as("id_b"), col("sh").as("sh_b")))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(col("sh_a")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }
}
