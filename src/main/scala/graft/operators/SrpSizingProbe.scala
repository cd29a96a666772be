package graft.operators

/** Diagnostic main: print the SRP auto-sizing numbers (key width, table
  * count, exploded-frame rows, expected background candidate volume) the
  * exact-key near-dup flagship would use on a given embeddings dir. This is
  * the probe that turned the round-7 x30 frame wall (53M background
  * candidate pairs, 15 GB spill) into a number before the fix, and verifies
  * the cost-argmin sizing after it.
  *
  * Usage: SrpSizingProbe <embeddingsDir> [<embeddingsDir> ...]
  */
object SrpSizingProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SrpSizingProbe <embeddingsDir> [<embeddingsDir> ...]")
    val spark = graft.GraftSession.build()
    for (dir <- args) {
      val emb = Tables.read(spark, dir, "embeddings")
      val n = emb.count()
      val st = SimilaritySearch.dimStats(emb, "embedding")
      val centered = SimilaritySearch.centeredThresholdEstimate(0.9, st)
      val bits = SimilaritySearch.bitsForExactKey(n, centered, 0.999)
      val tables = SimilaritySearch.tablesForRecall(centered, bits, 0.999, multiprobe = false)
      val plan = SimilaritySearch.chooseNearDupStrategy(n, 0.0, centered, 0,
        0.999, multiprobe = false)
      println(f"$dir n=$n mu2/s2=${st.mu2 / st.s2}%.4f centered=$centered%.4f " +
        f"bits=$bits tables=$tables frame=${n * tables / 1e6}%.1f M rows " +
        f"candFrac=${plan.candidateFraction}%.7f strategy=${plan.strategy}")
      val perTable = n.toDouble * n / 2 / math.pow(2, bits)
      println(f"  approx background candidates = ${tables * perTable / 1e6}%.2f M rows pre-distinct")
    }
    spark.stop()
  }
}
